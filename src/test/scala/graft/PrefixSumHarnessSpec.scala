package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Pins the EXACT harness path that caught the round-3 mx3 failure: Verify
  * writes every query through `.coalesce(1).write.parquet`, and a narrow
  * coalesce FUSES downstream mapPartitions stages into one task — any
  * operator that indexes per-partition state by `TaskContext.getPartitionId()`
  * sees task id 0 for every parent split and silently corrupts its output.
  * PrefixSum therefore keys its seeds by a bucket id carried in the DATA
  * (joined back, never read from the running task), which coalesce cannot
  * renumber.
  */
class PrefixSumHarnessSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def docs(n: Int) = {
    // non-uniform sizes so every partition's base offset is distinct and a
    // wrong base cannot accidentally match
    spark.range(1, n + 1L).toDF("doc_id")
      .withColumn("n_tokens", (col("doc_id") * 131 % 997) + 1)
  }

  test("withStartOffset survives coalesce(1): offsets equal the sequential scan") {
    val n = 500
    val out = graft.operators.PrefixSum
      .withStartOffset(docs(n), "doc_id", "n_tokens", "off")
      .coalesce(1) // the Verify write path — fuses pass 2 into ONE task
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    // driver-side oracle: exclusive running sum in doc_id order
    var running = 0L
    out.foreach { case (id, v, off) =>
      assert(off == running, s"doc $id: offset $off != expected $running")
      running += v
    }
    assert(running > 0)
  }

  test("contextWindows round-trips through coalesce(1).write.parquet bit-exact") {
    val n = 500
    val dir = java.nio.file.Files.createTempDirectory("prefix_sum_harness").toFile
    try {
      val path = new java.io.File(dir, "mx3").getAbsolutePath
      graft.operators.PrefixSum
        .contextWindows(docs(n), "doc_id", "n_tokens", budget = 2048L)
        .coalesce(1).write.mode("overwrite").parquet(path)
      val back = spark.read.parquet(path)
        .select("doc_id", "n_tokens", "start_offset", "window_id", "window_offset")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
        .sortBy(_._1)
      assert(back.length == n)
      var running = 0L
      var wrong = 0
      back.foreach { case (_, v, off, wid, woff) =>
        if (off != running || wid != Math.floorDiv(off, 2048L) || woff != off % 2048L)
          wrong += 1
        running += v
      }
      assert(wrong == 0, s"$wrong/$n rows had wrong offsets after the write path")
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(dir)
    }
  }

  test("mx3 write path twice after cache-heavy queries (driver mid-suite profile)") {
    // Reproduces the driver's mid-suite memory profile (the CORRECTNESS_r04
    // red-row context): several localCheckpoint/persist-heavy dedup queries
    // run first, then the mx3 query writes through coalesce(1).write.parquet
    // TWICE in the same session. Both writes must be bit-identical to the
    // sequential oracle AND to each other.
    val sf = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$sf/documents.parquet").exists())
    Seq("dd2_minhash_lsh", "dd4_ngram_jaccard", "dd11_dup_clusters").foreach { q =>
      SparkEntry.queries(q)(spark, sf).count()
      graft.core.Blocks.sweep(spark)
    }
    val dir = java.nio.file.Files.createTempDirectory("mx3_stress").toFile
    try {
      val hashes = (1 to 2).map { i =>
        val path = new java.io.File(dir, s"mx3_$i").getAbsolutePath
        SparkEntry.queries("mx3_context_windows")(spark, sf)
          .coalesce(1).write.mode("overwrite").parquet(path)
        val back = spark.read.parquet(path)
          .select("doc_id", "n_tokens", "start_offset", "window_id", "window_offset")
          .collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
          .sortBy(_._1)
        var running = 0L
        back.foreach { case (id, v, off, wid, woff) =>
          assert(off == running, s"run $i doc $id: offset $off != expected $running")
          assert(wid == Math.floorDiv(off, 2048L) && woff == off % 2048L)
          running += v
        }
        back.toSeq.hashCode()
      }
      assert(hashes(0) == hashes(1), "two mx3 runs in one session diverged")
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(dir)
    }
  }

  test("two passes see identical range partitions (single shuffle, persisted)") {
    // A 2k-row frame with duplicate-free keys: if pass 1's bases and pass 2's
    // partition contents ever disagreed (RangePartitioner re-sampling), some
    // offset would be off by a partition total — the sequential check catches
    // any such divergence across repeated runs.
    (1 to 3).foreach { _ =>
      val out = graft.operators.PrefixSum
        .withStartOffset(docs(2000), "doc_id", "n_tokens", "off")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
      var running = 0L
      out.foreach { case (id, v, off) =>
        assert(off == running, s"doc $id: offset $off != expected $running")
        running += v
      }
    }
  }
}
