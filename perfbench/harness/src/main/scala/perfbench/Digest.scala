package perfbench

import org.apache.spark.sql.{DataFrame, Row}

/** Order-insensitive digest of a result, computed by the action that
  * consumes it: row count plus, per column, the wrapping sum of a 64-bit
  * hash of every value. Doubles are rounded to 8 significant digits (and
  * |x| < 1e-9 to zero) so a last-bit difference from a reordered sum does
  * not change the digest; array elements and map entries are summed too, so
  * their order does not matter either.
  */
object Digest {

  private def mix(h: Long): Long = {
    var z = h + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  private def str(s: String): Long = {
    val b = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var h = 0x84222325CBF29CE4L
    var i = 0
    while (i < b.length) { h = (h ^ (b(i) & 0xff)) * 0x100000001B3L; i += 1 }
    mix(h)
  }

  private def dbl(d: Double): Long =
    if (d.isNaN || d.isInfinite) str(d.toString)
    else if (math.abs(d) < 1e-9) str("0")
    else str(java.lang.String.format(java.util.Locale.ROOT, "%.7e", Double.box(d)))

  def value(v: Any): Long = v match {
    case null => 0x5bd1e995L
    case d: Double => dbl(d)
    case f: Float => dbl(f.toDouble)
    case b: java.math.BigDecimal => dbl(b.doubleValue)
    case b: scala.math.BigDecimal => dbl(b.toDouble)
    case n: Long => str(n.toString)
    case n: Int => str(n.toString)
    case n: Short => str(n.toString)
    case n: Byte => str(n.toString)
    case b: Boolean => str(b.toString)
    case s: String => str(s)
    case t: java.sql.Timestamp => str("ts" + (t.getTime * 1000L + (t.getNanos / 1000) % 1000))
    case t: java.time.Instant => str("ts" + (t.getEpochSecond * 1000000L + t.getNano / 1000))
    case d: java.sql.Date => str("d" + d.toString)
    case d: java.time.LocalDate => str("d" + d.toString)
    case a: Array[Byte] => str(java.util.Base64.getEncoder.encodeToString(a))
    case s: scala.collection.Seq[_] => mix(s.foldLeft(0x51L)((acc, x) => acc + value(x)))
    case m: scala.collection.Map[_, _] =>
      mix(m.foldLeft(0x4dL)((acc, kv) => acc + mix(value(kv._1) * 31 + value(kv._2))))
    case r: Row => mix((0 until r.length).foldLeft(0x52L)((acc, i) => acc * 1000003L + value(r.get(i))))
    case v: org.apache.spark.ml.linalg.Vector => value(v.toArray.toSeq)
    case other => str(other.toString)
  }

  /** Consume every column of every row of `df`; returns (rows, digest).
    * The action is a Dataset action (not one on `df.rdd`), so it runs as a
    * SQL execution and its planning reaches the query execution listeners.
    */
  def apply(df: DataFrame): (Long, String) = {
    import df.sparkSession.implicits._
    val n = df.columns.length
    val parts = df.mapPartitions { it =>
      val sums = new Array[Long](n)
      var rows = 0L
      it.foreach { r =>
        var i = 0
        while (i < n) { sums(i) += value(r.get(i)); i += 1 }
        rows += 1
      }
      Iterator.single((rows, sums))
    }.collect()
    val rows = parts.map(_._1).sum
    val sums = (0 until n).map(i => parts.map(_._2(i)).sum)
    (rows, (rows.toString +: sums.map(s => f"$s%016x")).mkString(":"))
  }
}
