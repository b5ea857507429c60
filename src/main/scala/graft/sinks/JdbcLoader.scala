package graft.sinks

import java.sql.{Connection, DriverManager}
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.catalyst.expressions.AttributeReference
import org.apache.spark.sql.catalyst.plans.logical.Sort
import org.apache.spark.sql.graft.DatasetFactory
import org.apache.spark.sql.types._
import graft.core.Loader
import graft.core.PluginConfig._

/** SQL-database sink mirroring the reference's `sql_database` loader
  * (`/root/reference/src/data_extractor/loaders/sqlalchemy_loader.py`):
  *
  *  - `if_exists`: append (default) / replace / fail → `df.write.jdbc` save
  *    modes — distributed batched INSERTs, no driver materialization
  *  - `if_exists: upsert` (L3): requires `primary_keys` (error otherwise).
  *    One load is one Spark action and one MERGE:
  *     1. the driver creates a per-load staging table from the frame's
  *        schema, with a unique index on the primary keys;
  *     2. the one Spark action drops intra-frame key duplicates keep-LAST
  *        (the reference's sequential row-wise upsert let later rows win)
  *        and has each partition batch-INSERT its rows into the staging
  *        table in one transaction;
  *     3. back on the driver, an empty staging table ends the load with
  *        nothing created (empty frame = no-op); otherwise one transaction
  *        creates a missing target from the schema plus a
  *        `uq_<table>_<pks>` unique index, runs a single standard-SQL
  *        `MERGE INTO target USING stage` keyed on the PKs — every non-PK
  *        column updated on match, plain insert otherwise; all-PK tables
  *        degrade to insert-if-absent (`DO NOTHING` semantics) — and
  *        commits;
  *     4. the staging table is dropped in a `finally`, whatever happened.
  *
  * Key-order sorts: when the root of the input's analyzed plan is a global
  * sort whose keys are all primary-key columns (the finance pipeline's
  * `orderBy(symbol, date)` after its indicator windows), the sort's child is
  * upserted instead. Rows that tie on the primary key also tie on such a
  * sort, so the sort cannot decide which duplicate keep-last keeps, and a
  * SQL table has no row order to preserve. Dropping it saves the sort's
  * range-sampling job and its exchange, and with them a second run of
  * everything upstream of it; the keep-last window's clustering on the keys
  * is then usually met by the input's own partitioning, so the load is one
  * shuffle map stage and one result stage. A sort on any non-key column is
  * kept: it decides keep-last.
  *
  * Atomicity: the target sees a whole frame or none of it. A failure in the
  * Spark action (a throwing input plan, a rejected value) happens before the
  * MERGE, so the target is untouched and the load can simply be retried.
  * Retried tasks: a partition's inserts commit together or not at all, so a
  * task that fails before its commit is retried cleanly. A task whose commit
  * landed but which Spark still re-runs (lost executor, speculation) hits
  * the staging table's unique index and fails the load loudly instead of
  * making the MERGE source ambiguous; the target is untouched and a re-run
  * of the load starts from a fresh staging table.
  *
  * The embedded dialect is Derby (the JVM stand-in for the reference's
  * SQLite); the tiny dialect seam is this class's DDL/MERGE strings. Derby's
  * MERGE requires a base table as its source, hence the staging table.
  */
class JdbcLoader(conf: Conf) extends Loader {
  private val url = conf.str("connection_string").orElse(conf.str("url")).getOrElse(
    throw new IllegalArgumentException("sql_database: 'connection_string' is required"))
  private val table = conf.str("table").getOrElse(
    throw new IllegalArgumentException("sql_database: 'table' is required"))
  private val ifExists = conf.strOr("if_exists", "append")
  private val primaryKeys = conf.strSeq("primary_keys")
  private val batchSize = conf.intOr("chunksize", 500)

  override def load(df: DataFrame): Unit = ifExists match {
    case "append" => df.write.mode(SaveMode.Append).jdbc(url, table, new java.util.Properties())
    case "replace" => df.write.mode(SaveMode.Overwrite).jdbc(url, table, new java.util.Properties())
    case "fail" => df.write.mode(SaveMode.ErrorIfExists).jdbc(url, table, new java.util.Properties())
    case "upsert" => upsert(df)
    case other => throw new IllegalArgumentException(s"sql_database: unknown if_exists '$other'")
  }

  private def upsert(df: DataFrame): Unit = {
    if (primaryKeys.isEmpty)
      throw new IllegalArgumentException("sql_database: upsert requires 'primary_keys'")
    val schema = df.schema
    val missingPks = primaryKeys.filterNot(schema.fieldNames.contains)
    require(missingPks.isEmpty, s"sql_database: primary_keys not in frame: ${missingPks.mkString(",")}")

    val cols = schema.fieldNames.toSeq
    val nonPk = cols.filterNot(primaryKeys.contains)
    val onClause = primaryKeys.map(k => s"t.${q(k)} = v.${q(k)}").mkString(" AND ")
    val updateClause =
      if (nonPk.isEmpty) ""
      else "WHEN MATCHED THEN UPDATE SET " + nonPk.map(c => s"t.${q(c)} = v.${q(c)}").mkString(", ")
    val insertCols = cols.map(q).mkString(", ")
    val insertVals = cols.map(c => s"v.${q(c)}").mkString(", ")

    val stage = s"stage_${table}_${java.util.UUID.randomUUID().toString.replace("-", "").take(12)}"
    val conn = DriverManager.getConnection(url)
    try {
      exec(conn, s"CREATE TABLE $stage (${columnsDdl(schema)})")
      try {
        exec(conn, s"CREATE UNIQUE INDEX ${stage}_pk ON $stage (${primaryKeys.map(q).mkString(", ")})")
        JdbcLoader.insertPartitions(keepLast(withoutKeyOrderSort(df)), url, stage, insertCols,
          cols.size, batchSize)
        if (hasRows(conn, stage)) {
          conn.setAutoCommit(false)
          try {
            ensureTable(conn, schema)
            exec(conn,
              s"""MERGE INTO $table t
                 |USING $stage v
                 |ON $onClause
                 |$updateClause
                 |WHEN NOT MATCHED THEN INSERT ($insertCols) VALUES ($insertVals)""".stripMargin)
            conn.commit()
          } catch {
            case e: Throwable =>
              try conn.rollback() catch { case _: Throwable => () }
              throw e
          }
        }
      } finally {
        try { conn.setAutoCommit(true); exec(conn, s"DROP TABLE $stage") }
        catch { case _: Throwable => () } // best-effort cleanup
      }
    } finally conn.close()
  }

  /** `df` without a root global sort whose keys are all primary-key
    * columns (see the class doc); any other frame as it is.
    */
  private def withoutKeyOrderSort(df: DataFrame): DataFrame =
    df.queryExecution.analyzed match {
      case Sort(order, true, child, _) if order.forall(_.child match {
          case a: AttributeReference => primaryKeys.contains(a.name)
          case _ => false
        }) => DatasetFactory.ofRows(df.sparkSession, child)
      case _ => df
    }

  /** Drop intra-frame PK duplicates keep-LAST: the staging table's unique
    * index admits each key once, and one MERGE source row per key keeps
    * the MERGE unambiguous.
    */
  private def keepLast(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val w = Window.partitionBy(primaryKeys.map(col): _*).orderBy(col("__seq").desc)
    df.withColumn("__seq", monotonically_increasing_id())
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__seq", "__rn")
  }

  private def hasRows(conn: Connection, tbl: String): Boolean = {
    val st = conn.createStatement()
    try {
      val rs = st.executeQuery(s"SELECT 1 FROM $tbl FETCH FIRST 1 ROWS ONLY")
      try rs.next() finally rs.close()
    } finally st.close()
  }

  // column identifiers are quoted throughout: frame columns like "close",
  // "open" or "date" are Derby reserved words
  private def q(c: String): String = "\"" + c + "\""

  private def columnsDdl(schema: StructType): String =
    schema.fields.map(f => s"${q(f.name)} ${sqlType(f.dataType)}").mkString(", ")

  private def sqlType(dt: DataType): String = dt match {
    case LongType => "BIGINT"
    case IntegerType => "INTEGER"
    case DoubleType => "DOUBLE"
    case FloatType => "REAL"
    case BooleanType => "BOOLEAN"
    case TimestampType => "TIMESTAMP"
    case DateType => "DATE"
    case _: DecimalType => "DECIMAL(31,6)"
    case _ => "VARCHAR(4096)"
  }

  /** Create table + unique PK index if absent (`sqlalchemy_loader.py:127-160`). */
  private def ensureTable(conn: Connection, schema: StructType): Unit =
    if (!tableExists(conn)) {
      exec(conn, s"CREATE TABLE $table (${columnsDdl(schema)})")
      val idxName = s"uq_${table}_${primaryKeys.mkString("_")}".take(120)
      exec(conn, s"CREATE UNIQUE INDEX $idxName ON $table (${primaryKeys.map(q).mkString(", ")})")
    }

  private def tableExists(conn: Connection): Boolean = {
    val rs = conn.getMetaData.getTables(null, null, table.toUpperCase, null)
    try rs.next() finally rs.close()
  }

  private def exec(conn: Connection, sql: String): Unit = {
    val st = conn.createStatement()
    try st.execute(sql) finally st.close()
  }
}

object JdbcLoader {
  /** The upsert's one Spark action: each non-empty partition batch-INSERTs
    * its rows into the staging table in one transaction. A static method so
    * the task closure captures only these arguments, not the loader.
    */
  private def insertPartitions(df: DataFrame, url: String, stage: String,
      insertCols: String, nCols: Int, batchSize: Int): Unit = {
    val placeholders = Seq.fill(nCols)("?").mkString(", ")
    df.foreachPartition { (rows: Iterator[org.apache.spark.sql.Row]) =>
      if (rows.nonEmpty) {
        val conn = DriverManager.getConnection(url)
        try {
          conn.setAutoCommit(false)
          val ins = conn.prepareStatement(s"INSERT INTO $stage ($insertCols) VALUES ($placeholders)")
          try {
            var inBatch = 0
            rows.foreach { r =>
              var i = 1
              while (i <= r.length) { ins.setObject(i, r.get(i - 1)); i += 1 }
              ins.addBatch()
              inBatch += 1
              if (inBatch >= batchSize) { ins.executeBatch(); inBatch = 0 }
            }
            if (inBatch > 0) ins.executeBatch()
            conn.commit()
          } catch {
            case e: Throwable =>
              try conn.rollback() catch { case _: Throwable => () }
              throw e
          } finally ins.close()
        } finally conn.close()
      }
    }
  }
}
