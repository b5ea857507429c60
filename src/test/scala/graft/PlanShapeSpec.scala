package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.queries.{DedupQueries, SimilarityQueries, WindowQueries}

/** Physical-plan regression guards for the round-2 scale fixes: these assert
  * the SHAPE of the plan (what `.explain` shows), not just the values, so a
  * future change that silently reintroduces a driver funnel or a single-task
  * coalesce fails loudly.
  */
class PlanShapeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("w4 macd: EMAs run as stacked Window ops, no Coalesce(1) funnel") {
    val p = plan(WindowQueries.w4Macd.run(spark, sf))
    assert(!p.contains("Coalesce"), p.linesIterator.take(20).mkString("\n"))
    // fast+slow share one Window; the signal EMA stacks a second over the
    // same spec (no further exchange between them)
    val windows = p.linesIterator.count(_.contains("- Window ["))
    assert(windows == 2, s"expected 2 Window nodes, got $windows")
    assert(p.contains("ewm("))
  }

  test("dd5 embedding near-dup: block-pair compare is a grouped kernel after a key shuffle") {
    val p = plan(SimilarityQueries.dd5EmbeddingNearDup.run(spark, sf))
    // no n×n cartesian: the only nested-loop join is the broadcast of the
    // TINY block-pair table (B(B+1)/2 rows) that replicates vectors to groups
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("MapGroups"))
    assert(p.contains("Exchange hashpartitioning"), "compare must run after a key shuffle, not on the driver")
  }

  test("dd4 ngram: gram kernel cached once (RDD-level) and candidate joins on int64 hashes") {
    // FRESH ids, not size growth: the session is shared and the
    // ContextCleaner GC hook removes stale RDD-level caches at its own
    // pace, so a size comparison races removals of OLDER entries (the
    // build's new id can't satisfy `size > before` if two old ids vanish
    // in between — an observed intermittent). The id-set difference is
    // immune: concurrent removals never subtract OUR fresh id.
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val df = DedupQueries.dd4NgramJaccard.run(spark, sf)
    val p = plan(df)
    // the kernel output is an RDD-level cache (ContextCleaner-released, no
    // CacheManager pin) — the plan reads it as an ExistingRDD scan
    assert(p.contains("Scan ExistingRDD"), "gram kernel should be cached for reuse")
    val after = spark.sparkContext.getPersistentRDDs
    val fresh = after.keySet -- before
    assert(fresh.nonEmpty,
      "building the query must register the kernel's persistent RDD")
    val analyzed = df.queryExecution.analyzed.toString
    assert(analyzed.contains("gh"), "candidate pipeline should key on gram hashes")
    // release only what THIS test created — a global sweep would clobber
    // live memo-backed caches other tests rely on
    fresh.foreach(id => after.get(id).foreach(_.unpersist(false)))
  }

  test("dd2 minhash: signature table cached once (RDD-level), reused 3x") {
    // fresh-id check — see the dd4 test above for why size growth races
    // the ContextCleaner
    graft.queries.Shared.clear() // a warm memo would satisfy the plan check without a build
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val p = plan(DedupQueries.dd2MinhashLsh.run(spark, sf))
    assert(p.contains("Scan ExistingRDD"), "signature kernel should be cached for reuse")
    val after = spark.sparkContext.getPersistentRDDs
    val fresh = after.keySet -- before
    assert(fresh.nonEmpty,
      "building the query must register the signature's persistent RDD")
    fresh.foreach(id => after.get(id).foreach(_.unpersist(false)))
  }

  test("sim1 cosine scoring runs on the native dotp expression, not interpreted HOFs") {
    val p = plan(graft.queries.SimilarityQueries.sim1BruteTopK.run(spark, sf))
    assert(p.contains("dotp("), "cosine should route through DotProductExpr")
    assert(!p.contains("aggregate(zip_with"), "interpreted HOF fold crept back into the hot path")
  }

  test("q6: pure scan-agg — shipdate/quantity predicates pushed to parquet, no join") {
    val p = plan(graft.queries.TpchMoreQueries.q6ForecastRevenue.run(spark, sf))
    assert(!p.contains("Join"), "q6 must not join")
    assert(p.contains("PushedFilters:") && p.contains("l_shipdate"),
      "range predicate should reach the parquet scan")
  }

  test("q17: correlated avg is decorrelated — semi-join prune + one equi-join, no cartesian") {
    val p = plan(graft.queries.TpchMoreQueries.q17SmallQtyRevenue.run(spark, sf))
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("LeftSemi"), "per-part average should be pruned by a semi join")
  }

  test("q21: EXISTS/NOT EXISTS run as left-semi + left-anti joins, no cartesian") {
    val p = plan(graft.queries.TpchMoreQueries.q21SoleFaultSupplier.run(spark, sf))
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("LeftSemi") && p.contains("LeftAnti"))
  }

  test("prefix sum: matches the global-window oracle with NO un-partitioned WindowExec") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val spark = TestSpark.spark
    val df = spark.range(1, 1001).toDF("k")
      .withColumn("v", (col("k") % 37) + 1)
    // force the SCALED path (a 1000-row input would legitimately take the
    // size-gated single-bucket small path — pinned separately below); this
    // pin is about the at-scale shape
    val prev = spark.conf.get("spark.graft.prefixsum.smallRows", "")
    spark.conf.set("spark.graft.prefixsum.smallRows", "0")
    try {
      val fast = graft.operators.PrefixSum.withStartOffset(df, "k", "v", "off")
      val p = plan(fast)
      // the running sum must NEVER serialize an UNBOUNDED input into one
      // task: the windowed fast path (round 15) partitions its window by the
      // equal-width bucket id, so the plan may contain Window nodes but no
      // single-partition exchange
      assert(!p.contains("Exchange SinglePartition"),
        "prefix sum must not funnel through a single partition:\n" + p)
      // partition-count probe with AQE off: under AQE the tiny test shuffle is
      // legitimately coalesced to one partition (data-sized, not a plan cliff)
      graft.operators.Dedup.withStaticPlan(spark) {
        assert(fast.rdd.getNumPartitions > 1, "output must stay partitioned, not one task")
      }
      // the bucketed window shuffles in Catalyst (ShuffledRowRDD): the
      // per-bucket order must come from a shuffle upstream
      assert(fast.rdd.toDebugString.contains("ShuffledR"),
        "order must come from a shuffle upstream")
      val naive = df.withColumn("off",
        coalesce(sum(col("v")).over(
          Window.orderBy("k").rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      val a = fast.orderBy("k").collect().map(r => (r.getLong(0), r.getLong(2)))
      val b = naive.orderBy("k").collect().map(r => (r.getLong(0), r.getLong(2)))
      assert(a.toSeq == b.toSeq)
      // windows: contiguous ids, offsets within budget
      val w = graft.operators.PrefixSum.contextWindows(df, "k", "v", budget = 100L)
      assert(w.filter(col("window_offset") >= 100 || col("window_offset") < 0).count() == 0)
      assert(w.filter(col("window_id") =!= expr("start_offset div 100")).count() == 0)
    } finally {
      if (prev.isEmpty) spark.conf.unset("spark.graft.prefixsum.smallRows")
      else spark.conf.set("spark.graft.prefixsum.smallRows", prev)
    }
  }

  test("prefix sum small gate: a sub-threshold input takes the single-bucket path, same bytes") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val df = TestSpark.spark.range(1, 1001).toDF("k")
      .withColumn("v", (col("k") % 37) + 1)
    // default threshold (2^18) >> 1000 rows → small path: one constant
    // window partition, NO stats pass, NO broadcast-bases join
    val small = graft.operators.PrefixSum.withStartOffset(df, "k", "v", "off")
    val p = plan(small)
    assert(!p.contains("BroadcastHashJoin"),
      "small path must not carry the bases join:\n" + p)
    val naive = df.withColumn("off",
      coalesce(sum(col("v")).over(
        Window.orderBy("k").rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    assert(small.orderBy("k").collect().map(r => (r.getLong(0), r.getLong(2))).toSeq ==
      naive.orderBy("k").collect().map(r => (r.getLong(0), r.getLong(2))).toSeq)
  }

  test("prefix sum skew refinement: no bucket holds more than 4x the even share") {
    import org.apache.spark.sql.functions._
    val spark = TestSpark.spark
    // clustered integral key: 20k keys packed into [0, 20k) plus one far
    // outlier — equal-width bounds over [0, 2^40] land every clustered key
    // in bucket 0 (one window task); the refinement must split it
    val df = spark.range(0, 20000).toDF("k")
      .union(spark.range(1, 2).select(lit(1L << 40).as("k")))
      .withColumn("v", lit(1L))
    val prev = spark.conf.get("spark.graft.prefixsum.smallRows", "")
    spark.conf.set("spark.graft.prefixsum.smallRows", "0") // scaled path
    try {
      val out = graft.operators.PrefixSum.withStartOffset(df, "k", "v", "off")
      // correctness first: offsets equal the rank in k order (v ≡ 1)
      val bad = out.filter(col("off") =!=
        when(col("k") === lit(1L << 40), lit(20000L)).otherwise(col("k")))
      assert(bad.count() == 0, "refined offsets must equal the sequential scan")
      // balance: the per-bucket pass-1 totals (v ≡ 1 → row counts) from the
      // execution evidence must respect the refinement bound
      val recs = graft.operators.PrefixSum.drainDebug()
        .filter(r => r.op == "withStartOffsets" && r.mode.endsWith("refined"))
      assert(recs.nonEmpty, "clustered key must take the refined mode")
      val counts = recs.last.passTotals.map(_.head)
      val parallelism = spark.sparkContext.defaultParallelism
      val even = math.max(1L, 20001L / math.max(1, parallelism * 8))
      assert(counts.max <= 4 * even,
        s"refined max bucket ${counts.max} exceeds 4x the even share $even")
    } finally {
      if (prev.isEmpty) spark.conf.unset("spark.graft.prefixsum.smallRows")
      else spark.conf.set("spark.graft.prefixsum.smallRows", prev)
    }
  }

  test("prefix sum skew refinement: cusum and lag record the refined mode") {
    import org.apache.spark.sql.functions._
    val spark = TestSpark.spark
    // the clustered key of the case above: bucket 0 holds every row but one
    val df = spark.range(0, 20000).toDF("k")
      .union(spark.range(1, 2).select(lit(1L << 40).as("k")))
      .withColumn("v", lit(1L))
    val prev = spark.conf.get("spark.graft.prefixsum.smallRows", "")
    spark.conf.set("spark.graft.prefixsum.smallRows", "0") // scaled path
    try {
      graft.operators.PrefixSum.drainDebug()
      // v ≡ 1: the CUSUM is the 1-based rank, the lag is 1 after the first row
      val cs = graft.operators.PrefixSum.withCusum(df, "k", "v", "cs")
      val rank = when(col("k") === lit(1L << 40), lit(20001L)).otherwise(col("k") + 1)
      assert(cs.filter(col("cs") =!= rank).count() == 0, "refined CUSUM must equal the scan")
      val lg = graft.operators.PrefixSum.withLag(df, "k", "v", "lg")
      assert(lg.filter(col("k") > 0 && !(col("lg") <=> lit(1L))).count() == 0)
      assert(lg.filter(col("k") === 0 && col("lg").isNotNull).count() == 0)
      val recs = graft.operators.PrefixSum.drainDebug()
      for (op <- Seq("withCusum", "withLag")) {
        val mine = recs.filter(_.op == op)
        assert(mine.nonEmpty, s"$op left no debug record")
        assert(mine.last.mode == "equal-width-window-refined",
          s"$op recorded mode ${mine.last.mode} on a clustered key")
      }
      // the CUSUM record's per-bucket sums (v ≡ 1 → row counts) are the
      // refined buckets', not the coarse map's single hot bucket
      val counts = recs.filter(_.op == "withCusum").last.passTotals.map(_.head)
      val even = math.max(1L, 20001L / math.max(1, spark.sparkContext.defaultParallelism * 8))
      assert(counts.max <= 4 * even, s"recorded max bucket ${counts.max} > 4x the even share $even")
    } finally {
      if (prev.isEmpty) spark.conf.unset("spark.graft.prefixsum.smallRows")
      else spark.conf.set("spark.graft.prefixsum.smallRows", prev)
    }
  }

  test("q_sessionize: session rollup reuses the window's user_id partitioning — one hash exchange") {
    val p = plan(graft.queries.AnalyticsQueries.qSessionize.run(spark, sf))
    val hashEx = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(hashEx == 1,
      s"sessionize+rollup should shuffle once on user_id, got $hashEx hash exchanges:\n" +
        p.linesIterator.filter(_.contains("Exchange")).mkString("\n"))
    assert(p.contains("Window "), "session ids must come from a window pass")
  }

  test("q_pivot: explicit value list — single scan, single aggregate shuffle, no distinct job") {
    val df = graft.queries.AnalyticsQueries.qPivot.run(spark, sf)
    val p = plan(df)
    val scans = p.linesIterator.count(_.contains("Scan parquet"))
    assert(scans == 1, s"pivot with explicit values must scan once, got $scans")
    val hashEx = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(hashEx == 1, s"expected 1 aggregate shuffle, got $hashEx")
  }

  test("tx9 tfidf: df/doc_len as windows, no shuffle joins beyond the scalar broadcast") {
    val p = plan(graft.queries.TextQueries.tx9Tfidf.run(spark, sf))
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      "corpus statistics must come from window passes, not aggregate+join round-trips")
    val windows = p.linesIterator.count(_.contains("Window "))
    assert(windows == 3, s"expected df + doc_len + rank windows, got $windows")
  }

  test("sim5 pq: codes-only scoring is one narrow kernel — no joins, one rank shuffle") {
    val p = plan(graft.queries.SimilarityQueries.sim5PqTopK.run(spark, sf))
    assert(!p.contains("Join"), "ADC scoring must read codes via broadcast LUTs, not joins")
    val hashEx = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(hashEx == 1, s"expected only the per-query rank shuffle, got $hashEx")
  }

  test("mx6 domain mix: one aggregate shuffle over (source, lang)") {
    val p = plan(graft.queries.MiscQueries.mx6DomainMix.run(spark, sf))
    val hashEx = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(hashEx == 1, s"expected a single groupBy exchange, got $hashEx")
    assert(!p.contains("Join"))
  }

  test("mx7 fixed sample: hash-rank top-n plans as TakeOrderedAndProject") {
    val p = plan(graft.queries.MiscQueries.mx7FixedSample.run(spark, sf))
    assert(p.contains("TakeOrderedAndProject"),
      "fixed-size sample must keep per-partition heads, not globally sort")
  }

  test("q22: scalar mean enters as a broadcast, idle filter as a left-anti join") {
    val p = plan(graft.queries.TpchMoreQueries.q22IdleCustomers.run(spark, sf))
    assert(!p.contains("CartesianProduct") || p.contains("BroadcastNestedLoopJoin"),
      "the only row-multiplying join allowed is the 1-row scalar broadcast")
    assert(p.contains("LeftAnti"))
  }

  test("q_funnel: three stacked stage windows over ONE user_id exchange, no join chain") {
    val p = plan(graft.queries.AnalyticsQueries.qFunnel.run(spark, sf))
    val hashEx = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(hashEx == 1,
      s"funnel must shuffle once on user_id, got $hashEx hash exchanges:\n" +
        p.linesIterator.filter(_.contains("Exchange")).mkString("\n"))
    assert(!p.contains("Join"), "stage derivation must be windows, not a join chain")
  }

  test("m8 scaler: stats enter as a 1-row broadcast; scaling is a narrow projection") {
    val p = plan(graft.queries.WindowQueries.m8StandardScaler.run(spark, sf))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "the stats row must broadcast, not shuffle the table")
    assert(!p.contains("CartesianProduct"))
  }

  test("mx9 sliding windows: chunking is shuffle-free (only the presentation sort)") {
    val p = plan(graft.queries.MiscQueries.mx9SlidingWindows.run(spark, sf))
    val hashEx = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(hashEx == 0, s"per-doc chunking must not hash-shuffle, got $hashEx")
    assert(p.contains("Generate explode"), "chunks must come from a generator, not a join")
  }

  test("runtime bloom filter: selective dim join injects a probe-side might_contain") {
    // The 100 TB join-pruning path: with runtime bloom filters on, a
    // selective creation side (filtered orders) plants a bloom_filter_agg
    // whose might_contain probe prunes lineitem rows BEFORE the join
    // shuffle — rows that cannot match never enter the exchange. Flags are
    // runtime-settable; thresholds forced so the tiny test corpus takes
    // the same plan a warehouse-sized input would.
    import org.apache.spark.sql.functions._
    val keys = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "10GB",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = keys.map { case (k, _) => k -> spark.conf.getOption(k) }
    keys.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val o = graft.Tables.orders(spark, sf)
        .filter(col("o_orderpriority") === "1-URGENT")
      val l = graft.Tables.lineitem(spark, sf)
      val p = plan(l.join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n")))
      assert(p.contains("bloom_filter_agg"), "creation side must build the bloom filter")
      assert(p.contains("might_contain"), "probe side must filter before the join shuffle")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("dd14 keep-best: singletons coalesce to their own cluster key (no NULL-key window)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // corpus of UNIQUE docs: zero near-dup pairs, every doc a singleton —
    // all must survive, which fails if null comps collapse to one window key
    val docs = (1 to 200).map(i =>
      (i.toLong, s"unique text body number $i with marker ${i * 7919}")).toSeq
      .toDF("doc_id", "text")
      .withColumn("quality", graft.operators.TextAnalysis.qualityScore(col("text")))
    val out = graft.operators.Dedup.dropClusteredNearDuplicatesKeepBest(
      docs, "doc_id", "text", "quality")
    assert(out.count() == 200, "every singleton must survive keep-best dedup")
  }

  test("w20 trix: three stacked ewm windows, one sort, no Coalesce funnel") {
    val p = plan(WindowQueries.w20Trix.run(spark, sf))
    assert(!p.contains("Coalesce"))
    assert(p.contains("ewm("))
    // the three smoothings + lag chain over the same (sym, d) spec: Spark
    // plans them as consecutive Window nodes reusing ONE exchange
    val exchanges = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges <= 2, s"trix should reuse the symbol partitioning, got $exchanges exchanges:\n$p")
  }

  test("tx22 fluency: two keyed window passes + one doc aggregate, no joins") {
    val p = plan(graft.queries.TextQueries.tx22LmFluency.run(spark, sf))
    assert(!p.contains("Join"), "fluency must not join the corpus against marginals")
    assert(!p.contains("BroadcastExchange"), "no vocabulary-sized broadcasts")
    val windows = p.linesIterator.count(_.contains("- Window ["))
    assert(windows == 2, s"expected the two count windows, got $windows")
  }

  test("sim10 ivf recall: all probe depths rank inside ONE Window node") {
    val p = plan(SimilarityQueries.sim10IvfRecall.run(spark, sf))
    // the three filtered running counts (rk1/rk2/rk4) must share a single
    // WindowExec — a per-probe plan branch would show one Window per probe
    val rankWindows = p.linesIterator
      .filter(_.contains("- Window [")).count(_.contains("rk1"))
    assert(rankWindows == 1, s"probe ranks must share one Window:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("mm5 tiling: literal grid explode is a narrow projection + one ranking window") {
    val p = plan(graft.queries.MultimodalQueries.mm5TilingPlan.run(spark, sf))
    assert(!p.contains("Join"), "candidate grids are a literal explode, not a join")
    val windows = p.linesIterator.count(_.contains("- Window ["))
    assert(windows == 1, s"one per-image pick window expected, got $windows")
  }

  test("w27 kama: warmup lags/sums and the VarEwm recursion share one symbol exchange") {
    val p = plan(WindowQueries.w27Kama.run(spark, sf))
    assert(!p.contains("Join"), "kama is windows-only")
    assert(p.contains("var_ewm("))
    // lag-1/lag-10, the 10-row volatility sum, and the running recursion
    // differ only in frame — CollapseWindow must keep them on ONE
    // (sym, d) exchange (the bars aggregate is the other)
    val exchanges = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges <= 2, s"kama should reuse the symbol partitioning:\n$p")
  }

  test("w28 holt_winters: the m+2-state recursion is ONE Window node, no joins") {
    val p = plan(WindowQueries.w28HoltWinters.run(spark, sf))
    assert(!p.contains("Join"), "holt_winters is windows-only")
    assert(p.contains("holt_winters("))
    val windows = p.linesIterator.count(_.contains("- Window ["))
    assert(windows == 1, s"the unrolled seasonal state must stay in one Window:\n$p")
  }

  test("tx14 topk-dot: df-cap window rides the shingle partitioning below the self-join") {
    val p = plan(graft.queries.TextQueries.tx14TopkDot.run(spark, sf))
    // the cap is a Window count partitioned on sh — the same key the join
    // shuffles on — so per-key join fan-out is bounded at 256²/2 at any
    // corpus size (the r8 scale-killer fix); top-50 must stay TakeOrdered
    val capWindows = p.linesIterator.count(l =>
      l.contains("Window [count(1) windowspecdefinition(sh#"))
    assert(capWindows >= 1, s"expected the sh-partitioned df-cap window:\n$p")
    assert(p.contains("TakeOrderedAndProject"), "top-50 must not plan a global sort")
  }

  test("m42/m43 rank grids: one bounded-grid window, no data-sized global sort above it") {
    val p42 = plan(WindowQueries.m42KruskalWallis.run(spark, sf))
    val p43 = plan(WindowQueries.m43Jonckheere.run(spark, sf))
    Seq("m42" -> p42, "m43" -> p43).foreach { case (n, p) =>
      assert(!p.contains("Join"), s"$n must not join")
      val windows = p.linesIterator.count(_.contains("- Window ["))
      assert(windows == 1, s"$n: one grid prefix window expected, got $windows:\n$p")
    }
  }

  test("incremental near-dedup: banded candidates only — no cartesian, manifest broadcast") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("source"), col("text"))
    val manifest = Seq("src0", "src1").toDF("source")
    val emptySigs = graft.operators.Dedup.minhashSignaturesWithBands(
      docs.limit(0), "doc_id", "text", shingleK = 3, k = 64, bands = 16)
    val (survivors, _) = graft.operators.Incremental.nearDedupDelta(
      docs, manifest, "source", emptySigs, "doc_id", "text")
    val p = plan(survivors)
    // every pairing must come from the band-bucket equi-join, never an
    // all-pairs product; delta selection must broadcast the tiny manifest
    assert(!p.contains("CartesianProduct"), p.linesIterator.take(30).mkString("\n"))
    assert(p.contains("BroadcastHashJoin"), "manifest anti-join must broadcast")
    assert(p.contains("Exchange hashpartitioning"),
      "candidate generation must shuffle on the band-bucket key")
  }

  test("incremental ccDelta: contracted CC — no cartesian anywhere in the label plan") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("source"), col("text"))
    val emptyState = graft.operators.Dedup.minhashSignaturesWithBands(
        docs.limit(0), "doc_id", "text", shingleK = 3, k = 64, bands = 16)
      .withColumn("label", col("doc_id"))
    val (labels, state) = graft.operators.Incremental.ccDelta(
      docs, Seq.empty[String].toDF("source"), "source", emptyState, "doc_id", "text")
    // ccDelta runs CC eagerly inside; assert on both returned frames' plans
    Seq("labels" -> labels, "state" -> state).foreach { case (n, df) =>
      val p = plan(df)
      assert(!p.contains("CartesianProduct"), s"$n:\n${p.linesIterator.take(30).mkString("\n")}")
    }
    // and the labels are real: every doc labeled, labels are doc ids
    assert(labels.count() == docs.count())
  }

  test("incremental ivfDelta: broadcast centroid assignment, no shuffle of the delta for the manifest") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val emb = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding"),
        concat(lit("s"), col("vec_id") % 2).as("shard"))
    val cents = graft.operators.Similarity
      .preparedCorpus(emb.filter(col("shard") === "s0"), "vec_id", "embedding")
      .orderBy(col("vec_id")).limit(4)
      .select(col("vec_id").as("c_id"), col("v").as("cv"), col("nrm").as("cn"))
    val counts0 = spark.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](),
      new org.apache.spark.sql.types.StructType()
        .add("cell", org.apache.spark.sql.types.LongType)
        .add("n", org.apache.spark.sql.types.LongType))
    val (assigned, _) = graft.operators.Incremental.ivfDelta(
      emb, Seq("s0").toDF("shard"), "shard", cents, counts0, "vec_id", "embedding")
    val p = plan(assigned)
    // the argmax-cosine pass joins every delta row against the (small,
    // broadcast) centroid frame — a broadcast nested loop by design, never
    // a shuffled product; the manifest anti-join broadcasts too, so the
    // DELTA is never shuffled before assignment (the per-query window for
    // the argmin is the only exchange, keyed by vec_id)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      p.linesIterator.take(30).mkString("\n"))
    assert(!p.contains("CartesianProduct"), p.linesIterator.take(30).mkString("\n"))
    assert(!p.contains("SortMergeJoin"),
      "neither the manifest nor the centroids may shuffle the delta:\n" +
        p.linesIterator.take(30).mkString("\n"))
  }
}
