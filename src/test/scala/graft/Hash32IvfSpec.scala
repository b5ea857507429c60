package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.Similarity

class Hash32IvfSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("hash32 native expression equals the md5-hex-conv expression chain") {
    val df = Seq("abc", "", "the quick brown fox", "日本語テキスト", "x" * 500).toDF("s")
    val out = df.select(
      expr("hash32(s)").as("native"),
      expr("cast(conv(substring(md5(s),1,8),16,10) as bigint)").as("chained"))
    assert(out.filter($"native" =!= $"chained").count() == 0)
    // null in, null out
    val n = Seq[Option[String]](None).toDF("s").select(expr("hash32(s)")).head()
    assert(n.isNullAt(0))
  }

  test("dotp native expression equals the aggregate/zip_with fold bit-exactly") {
    val df = Seq(
      (Array(1.5, -2.25, 3.125), Array(0.5, 4.0, -1.75)),
      (Array(0.1, 0.2, 0.3), Array(0.3, 0.2, 0.1)),
      (Array.empty[Double], Array.empty[Double])).toDF("a", "b")
    val out = df.select(
      expr("dotp(a, b)").as("native"),
      expr("aggregate(zip_with(a, b, (x, y) -> x * y), cast(0.0 as double), (acc, x) -> acc + x)").as("hof"))
    assert(out.filter($"native" =!= $"hof").count() == 0)
    val n = Seq((Option.empty[Array[Double]], Array(1.0))).toDF("a", "b")
      .select(expr("dotp(a, b)")).head()
    assert(n.isNullAt(0))
  }

  test("hash32 participates in whole-stage codegen") {
    val df = spark.range(100).select(expr("hash32(cast(id as string))").as("h"))
    // "*(n)" marks operators inside WholeStageCodegen stage n
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project [hash32("), plan)
    assert(df.agg(countDistinct(col("h"))).head().getLong(0) == 100)
  }

  test("ivfTopK: neighbors come from the query's cell and rank by exact cosine") {
    // 3 well-separated directions; centroids = ids 0..2
    def vec(axis: Int, eps: Float): Array[Float] = {
      val a = Array.fill(4)(0.0f); a(axis) = 1.0f; a((axis + 1) % 4) = eps; a
    }
    val vecs = Seq(
      (0L, vec(0, 0.0f)), (1L, vec(1, 0.0f)), (2L, vec(2, 0.0f)),   // centroids
      (3L, vec(0, 0.1f)), (4L, vec(0, 0.2f)),                        // cell of 0
      (5L, vec(1, 0.1f)),                                            // cell of 1
      (6L, vec(2, 0.1f))).toDF("vec_id", "embedding")                // cell of 2
    val out = Similarity.ivfTopK(vecs, "vec_id", "embedding",
      queryPred = col("vec_id") === 3, k = 5, nCells = 3)
      .orderBy("rnk").collect()
    val neighbors = out.map(_.getAs[Long]("neighbor")).toSeq
    // cell of query 3 is centroid 0's: members {0, 3, 4} → neighbors {0, 4}
    assert(neighbors.toSet == Set(0L, 4L))
    // exact cosine ordering within the cell: 4 (same tilt direction) first
    assert(out.head.getAs[Double]("cosine") > out.last.getAs[Double]("cosine"))
  }
}
