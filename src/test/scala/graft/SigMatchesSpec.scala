package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** `sig_matches(a, b)`: the count of positions where two `array<bigint>`
  * columns hold equal, non-null components — the integer of the
  * `aggregate(zip_with(...))` fold it replaces, on both the interpreted and
  * the generated-code path.
  */
class SigMatchesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val Fold = "aggregate(zip_with(a, b, (x, y) -> IF(x = y, 1, 0)), 0, (acc, x) -> acc + x)"

  private def frame(rows: Seq[(Seq[java.lang.Long], Seq[java.lang.Long])], containsNull: Boolean) = {
    val schema = StructType(Seq(
      StructField("a", ArrayType(LongType, containsNull)),
      StructField("b", ArrayType(LongType, containsNull))))
    // an RDD-backed frame: the projection is planned, so it runs generated code
    spark.createDataFrame(spark.sparkContext.parallelize(rows.map { case (a, b) => Row(a, b) }, 2), schema)
  }

  test("null components never match, on the generated and the interpreted path") {
    val n: java.lang.Long = null
    def l(x: Long): java.lang.Long = x
    val rows = Seq(
      (Seq(l(1), n, l(3)), Seq(l(1), n, l(3))),       // null == null is no match
      (Seq(l(1), n, l(0)), Seq(l(1), l(0), l(0))),    // a null slot does not read as 0
      (Seq(n, n), Seq(n, n)),
      (Seq(l(5), l(6), l(7)), Seq(l(5), l(0))),       // shorter length bounds the count
      (Seq(l(0), l(0)), Seq(l(0), n)))
    val expected = Seq(2, 2, 0, 1, 1)
    val df = frame(rows, containsNull = true)
    val out = df.select(expr("sig_matches(a, b)"), expr(Fold)).collect()
    assert(out.map(_.getInt(0)).toSeq == expected)
    assert(out.map(_.getInt(1)).toSeq == expected, "the fold disagrees with the expected counts")
    // interpreted: constant arguments fold through eval
    val lit = spark.range(1).select(expr(
      "sig_matches(array(1L, CAST(NULL AS BIGINT), 0L), array(1L, 0L, 0L))")).head().getInt(0)
    assert(lit == 2)
  }

  test("arrays without null components count every equal position") {
    val rng = new scala.util.Random(7)
    val rows = (0 until 200).map { _ =>
      val k = 8
      (Seq.fill(k)(java.lang.Long.valueOf(rng.nextInt(3).toLong)),
        Seq.fill(k)(java.lang.Long.valueOf(rng.nextInt(3).toLong)))
    }
    val df = frame(rows, containsNull = false)
    val out = df.select(expr("sig_matches(a, b)"), expr(Fold)).collect()
    assert(out.forall(r => r.getInt(0) == r.getInt(1)))
    assert(df.select(col("a")).schema("a").dataType == ArrayType(LongType, containsNull = false))
  }
}
