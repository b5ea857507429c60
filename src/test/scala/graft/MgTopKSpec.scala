package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.Row

/** Native Misra–Gries aggregate (`mg_topk`): the MG guarantees must hold
  * through Spark's real partial-aggregation path (update on many splits,
  * serialize, merge), not just in-process — so every test runs the SQL
  * function over a many-partition frame.
  */
class MgTopKSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def sketch(df: org.apache.spark.sql.DataFrame, k: Int): Map[String, Long] = {
    df.repartition(13) // force genuine partials + merges
      .agg(expr(s"mg_topk(v, $k)").as("sk"))
      .head().getSeq[Row](0).map(r => r.getString(0) -> r.getLong(1)).toMap
  }

  test("every true heavy hitter (> n/(k+1)) survives; counts undercount by <= n/(k+1)") {
    val rows = (1 to 600).map(i => s"t${i % 40}") ++ Seq.fill(400)("hot") ++ Seq.fill(200)("warm")
    val df = rows.toDF("v")
    val k = 9
    val n = rows.size
    val exact = rows.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val sk = sketch(df, k)
    assert(sk.size <= k)
    exact.filter(_._2 > n / (k + 1)).keys.foreach { hh =>
      assert(sk.contains(hh), s"heavy hitter $hh missing")
    }
    sk.foreach { case (t, c) =>
      assert(c <= exact(t), s"$t overcounted")
      assert(c >= exact(t) - n / (k + 1), s"$t undercounted past the MG bound")
    }
  }

  test("grouped mg_topk: per-group sketches, the per-group bound holds") {
    val rows = (for {
      g <- Seq("a", "b"); i <- 1 to 300
    } yield (g, if (i % 3 == 0) s"$g-hot" else s"$g-t${i % 25}")).toSeq
    val out = rows.toDF("g", "v").repartition(7)
      .groupBy(col("g")).agg(expr("mg_topk(v, 5)").as("sk"))
      .collect().map(r => r.getString(0) ->
        r.getSeq[Row](1).map(x => x.getString(0) -> x.getLong(1)).toMap).toMap
    Seq("a", "b").foreach { g =>
      assert(out(g).contains(s"$g-hot"), s"group $g lost its heavy hitter")
      assert(out(g).size <= 5)
      assert(out(g).keys.forall(_.startsWith(g)), "cross-group leakage")
    }
  }

  test("output is sorted by (cnt_lower desc, term) and nulls are ignored") {
    val df = (Seq.fill(50)(Some("x")) ++ Seq.fill(30)(Some("y")) ++
      Seq.fill(30)(Some("z")) ++ Seq(None, None)).toDF("v")
    val arr = df.repartition(5).agg(expr("mg_topk(v, 4)").as("sk"))
      .head().getSeq[Row](0).map(r => (r.getString(0), r.getLong(1)))
    assert(arr.head._1 == "x")
    assert(arr == arr.sortBy { case (t, c) => (-c, t) })
    assert(arr.map(_._2).sum == 110) // no overflow round fired: exact counts, no null counted
  }
}
