package graft.sinks

import java.nio.file.{Files, Paths}
import com.fasterxml.jackson.core.JsonFactory
import com.fasterxml.jackson.core.util.DefaultPrettyPrinter
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.execution.SQLExecution
import graft.core.Loader
import graft.core.PluginConfig._

/** Single-file JSON array sink mirroring the reference's `json_local` loader
  * (`/root/reference/src/data_extractor/loaders/json_local.py:17-40`): ONE
  * pretty-printed JSON array (records orient, indent default 2), parent dirs
  * created on connect, row order preserved.
  *
  * Deliberately NOT `df.write.json` (that emits JSONL part-files): the
  * contract is a single ordered array file, so rows stream to the driver —
  * one partition at a time, as `toLocalIterator()` fetches them, into an
  * incremental `JsonGenerator`, holding ONE
  * partition's rows and O(1) JSON state rather than the whole result plus a
  * materialized document tree, so the sink's driver footprint is bounded by
  * the largest partition, not the table. Correct for this sink's
  * single-machine output contract; at cluster scale you'd use the
  * parquet/JDBC sinks instead.
  */
class JsonLocalLoader(conf: Conf) extends Loader {
  private val path = conf.str("path").getOrElse(
    throw new IllegalArgumentException("json_local: 'path' is required"))
  private val indent = conf.intOr("indent", 2)

  override def connect(): Unit = {
    val p = Paths.get(path)
    if (p.getParent != null) Files.createDirectories(p.getParent)
  }

  override def load(df: DataFrame): Unit = {
    val cols = df.columns
    // stream into a sibling temp file and move into place on success: a
    // mid-stream failure (executor loss, bad row) must neither clobber the
    // previous valid output nor leave a truncated array at `path`. The temp
    // name is UNIQUE per load (createTempFile in the destination directory,
    // so the final move stays same-filesystem/atomic): a fixed `path +
    // ".tmp"` would let two concurrent loads targeting the same path
    // interleave bytes into one stream before either move.
    val dest = Paths.get(path)
    val dir = Option(dest.toAbsolutePath.getParent).getOrElse(Paths.get("."))
    val tmp = Files.createTempFile(dir, dest.getFileName.toString + ".", ".tmp")
    val out = new java.io.BufferedOutputStream(Files.newOutputStream(tmp))
    val gen = new JsonFactory().createGenerator(
      out, com.fasterxml.jackson.core.JsonEncoding.UTF8)
    var ok = false
    try {
      // the same printer ObjectWriter#writerWithDefaultPrettyPrinter used
      // when this sink serialized a materialized tree — byte-identical
      // output (JsonLocalLoaderSpec pins it), streaming production
      if (indent > 0) gen.setPrettyPrinter(new DefaultPrettyPrinter())
      gen.writeStartArray()
      JsonLocalLoader.foreachRow(df) { row =>
        gen.writeStartObject()
        var i = 0
        while (i < cols.length) {
          val c = cols(i)
          row.get(i) match {
            case null => gen.writeNullField(c)
            case b: Boolean => gen.writeBooleanField(c, b)
            case n: Int => gen.writeNumberField(c, n)
            case n: Long => gen.writeNumberField(c, n)
            case n: Double => gen.writeNumberField(c, n)
            case n: Float => gen.writeNumberField(c, n.toDouble)
            case n: java.math.BigDecimal => gen.writeNumberField(c, n)
            case other => gen.writeStringField(c, other.toString)
          }
          i += 1
        }
        gen.writeEndObject()
      }
      gen.writeEndArray()
      ok = true
    } finally {
      gen.close()
      if (ok)
        try Files.move(tmp, dest,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        catch {
          case _: java.nio.file.AtomicMoveNotSupportedException =>
            Files.move(tmp, dest,
              java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        }
      else Files.deleteIfExists(tmp)
    }
  }
}

object JsonLocalLoader {
  /** `df`'s rows in order to `f`, fetched one partition at a time as
    * `toLocalIterator()` fetches them, but inside one SQL execution that
    * ends after the last row. `toLocalIterator()`'s own execution ends
    * before the first row is fetched, so metrics observed on the frame
    * (the engine's cursor) would be read before any row had passed.
    */
  private def foreachRow(df: DataFrame)(f: Row => Unit): Unit = {
    val qe = df.queryExecution
    val fromRow = ExpressionEncoder(df.schema).resolveAndBind().createDeserializer()
    SQLExecution.withNewExecutionId(qe, Some("toLocalIterator")) {
      qe.executedPlan.resetMetrics()
      qe.executedPlan.executeToIterator().foreach(r => f(fromRow(r)))
    }
  }
}
