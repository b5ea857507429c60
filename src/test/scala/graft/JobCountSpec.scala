package graft

import org.scalatest.funsuite.AnyFunSuite

/** Scheduler-job-count regression guard for the queries whose round-8 work
  * collapsed multi-job plans (iterative loops under static plans, eager
  * bounded-report assembly, pointer-jumped connected components). Job count
  * is the driver-environment scale lever — each job pays a scheduler
  * round-trip, and on a congested driver that fixed cost dominates small
  * stages — so a regression here is a real perf regression even when local
  * wall-clock looks fine. Bounds carry ~30% headroom over measured counts;
  * exceeding one means a plan change re-introduced per-exchange scheduling
  * or a new action crept into a loop.
  */
class JobCountSpec extends AnyFunSuite {
  import TestSpark.jobsDuring
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private def jobsFor(name: String): Int =
    jobsDuring { SparkEntry.queries(name)(spark, sf).count(); () }

  test("the finance pipeline's one run stays within its job budget") {
    // configs/finance_pipeline.yaml through Engine.run: extract, validation,
    // per-symbol indicators and the JDBC upsert, whose input plan must run
    // in ONE action — a second pass over the sink's input (an emptiness
    // probe, a separate count) re-runs the whole chain and breaks the bound.
    // Schema inference and the load's map and result stages: measured 3
    // jobs; an `isEmpty` probe ahead of the upsert makes it 5.
    val cfg = graft.core.Config.load("configs/finance_pipeline.yaml")
    val n = jobsDuring { new graft.core.Engine(spark).run(cfg); () }
    assert(n <= 3, s"finance pipeline: $n jobs > budget 3")
  }

  test("a delivery of the benchmark's finance shape stays within its job budget") {
    // the etl_finance_ml pipeline: several symbols in one JSON delivery,
    // indicators per symbol, upsert on (symbol, date), incremental on date.
    // Schema inference and the load's map and result stages: measured 3
    // (the load's action observes the cursor); a cursor job of its own makes
    // it 4, and a key-order sort in the load 6.
    import graft.core.Config._
    val dir = java.nio.file.Files.createTempDirectory("graft-jobs-fin")
    val bars = for (s <- 0 until 3; d <- 0 until 70) yield {
      val c = 100.0 + s * 10 + (d * 7 % 11) - (d % 5)
      val day = java.time.LocalDate.of(2020, 1, 1).plusDays(d.toLong)
      s"""{"symbol":"S$s","date":"$day","open":$c,"high":${c + 2},"low":${c - 2},"close":${c + 1},"volume":${1000 + d}}"""
    }
    val path = dir.resolve("d0.json")
    java.nio.file.Files.writeString(path, bars.mkString("[", ",\n", "]"))
    val cfg = PipelineConfig(
      name = "jobcount_finance",
      extract = StepConfig("json_file", inlineConfig = Map("path" -> path.toString)),
      transform = Seq(
        StepConfig("pydantic_validation", inlineConfig = Map("schema" -> "ohlcv")),
        StepConfig("technical_indicators", inlineConfig = Map("partition_columns" -> Seq("symbol")))),
      load = StepConfig("sql_database", inlineConfig = Map(
        "connection_string" -> "jdbc:derby:memory:jobcount_finance;create=true", "table" -> "prices",
        "if_exists" -> "upsert", "primary_keys" -> Seq("symbol", "date"))),
      incremental = Some(IncrementalConfig(cursorField = "date", cursorParam = "since",
        statePath = dir.resolve("cursor.json").toString)))
    val n = jobsDuring { new graft.core.Engine(spark).run(cfg); () }
    val conn = java.sql.DriverManager.getConnection("jdbc:derby:memory:jobcount_finance")
    val loaded = try {
      val rs = conn.createStatement().executeQuery("SELECT COUNT(*) FROM prices")
      rs.next(); rs.getLong(1)
    } finally conn.close()
    assert(loaded == 3 * (70 - 49), s"loaded $loaded rows")
    assert(n <= 3, s"finance delivery: $n jobs > budget 3")
  }

  test("iterative and report queries stay within their job budgets") {
    // (query, bound). Memo-backed queries are measured COLD here —
    // graft.queries.Shared is cleared first, so dd11 pays the whole kernel
    // and dd14 hits the memo dd11 just built (Bench-order semantics).
    graft.queries.Shared.clear()
    val budgets = Seq(
      "q_pagerank" -> 12,
      "q_peak_concurrency" -> 11,
      "tx15_pmi" -> 11,
      "w18_psar" -> 8,
      "dd11_dup_clusters" -> 23, // kernel + CC first build + report
      "dd14_cluster_keep_best" -> 8, // memo hit
      "dd26_semdedup" -> 27, // Lloyd training + CC + report
      // round-8 second-sitting additions (measured at sf0.1 via ProfQueries,
      // +30% headroom): the one-window-pass probe ranking keeps sim10 flat
      // in |probes|, and the peel loop keeps q_kcore at a handful of rounds
      "w20_trix" -> 6,
      "m33_mann_whitney" -> 5,
      "sim10_ivf_recall" -> 16,
      "tx22_lm_fluency" -> 6,
      "m34_cramers_v" -> 11,
      "mm5_tiling_plan" -> 6,
      "q_percentile_cont" -> 6,
      "w21_aroon" -> 6,
      "st16_windowed_percentiles" -> 6,
      "q_kcore" -> 14,
      "tx23_bpe_train" -> 16, // 8 training rounds, 1 job each under static plans
      "tx25_bpe_token_budget" -> 22, // train (as tx23) + one apply/aggregate pass
      "w22_vortex" -> 6,
      "tx26_rake_keywords" -> 7, // one explode chain, 3 doc-keyed shuffles + the r15 scan fan-out exchange
      "w24_holt" -> 6,
      "w27_kama" -> 6, // one keyed WindowExec: warmup lags/sums + VarEwm recursion
      "m42_kruskal_wallis" -> 5, // grid agg + grid window + single-row agg (m33 shape)
      "w28_holt_winters" -> 6, // one keyed WindowExec, unrolled seasonal slots
      "dd29_bottomk_containment" -> 10, // sketch kernel + df-cap index + pair join
      "m43_jonckheere" -> 5, // grid agg + grid window + single-row agg (m33 shape)
      "mm6_quality_gate" -> 5, // projection + (modality,verdict) agg + ppm window
      "tx30_sttr" -> 6, // posexplode + (doc,seg) agg + doc agg, all doc-keyed + the r15 scan fan-out exchange
      "mx21_multimodal_packing" -> 8, // length projection + range-part pack + bin agg
      "m44_friedman" -> 6, // (block,treatment) agg + block windows + scalar row
      "q_boxplot" -> 7, // quartile grid pass + broadcast fence re-join
      "sim12_lsh_recall" -> 14, // truth rank + prefix populations + tiny joins
      "m36_runs_test" -> 12,
      "sim11_label_separation" -> 12,
      // listed after dd11 so the pair/CC memo is warm (bench order): the
      // memo-hit path is weights-join + source aggregate + allocator grid
      "mx19_dedup_aware_mix" -> 18,
      // memo-hit: label join + census + pair-straddle audit + crossJoin
      "mx20_dedup_aware_split" -> 10)
    val over = budgets.flatMap { case (name, bound) =>
      val n = jobsFor(name)
      if (n > bound) Some(s"$name: $n jobs > budget $bound") else None
    }
    graft.core.Blocks.sweep(spark)
    graft.queries.Shared.clear()
    assert(over.isEmpty, over.mkString("; "))
  }
}
