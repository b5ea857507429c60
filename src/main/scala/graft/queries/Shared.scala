package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.core.Blocks
import graft.operators.Dedup

/** Cross-query memo for expensive kernels that several suite queries share
  * VERBATIM — today the canonical MinHash near-dup pair graph and its
  * connected-component labels, which dd2/dd11/dd12/dd14/dd16 all recompute
  * from scratch when run standalone.
  *
  * Why: the BENCH_r06 driver record showed dd12/dd14 amplified 6–12× in the
  * driver environment because each re-runs pair generation + the iterative
  * CC loop — ~15 sequential Spark jobs per query — and that environment
  * charges a fixed wall-clock stall per JOB (telemetry ruled out JIT, GC and
  * code cache). Sharing one materialized labels frame across the family cuts
  * dd12/dd14 to a join + window each (2–3 jobs). The same lever holds at
  * 100 TB: a production curation DAG computes the pair graph ONCE and fans
  * out the consumers, rather than re-mining pairs per report.
  *
  * Lifecycle contract:
  *  - entries hold an eagerly-materialized frame (localCheckpoint blocks,
  *    see [[Dedup.cachedForReuse]]) keyed by (SparkContext identity, sf dir);
  *  - a reuse first checks [[graft.core.Blocks.materialized]] — the frame's
  *    backing blocks are still registered — and if anything freed them the
  *    entry rebuilds transparently, so a stale memo can produce a slow run
  *    but never a wrong one;
  *  - [[graft.Bench]] passes [[protectedRddIds]] (the entries'
  *    [[graft.core.Blocks.backing]]) as the `keep` set of its per-query
  *    [[graft.core.Blocks.sweep]], so the memo survives the suite's
  *    isolation cleanup; [[evict]] frees an entry with
  *    [[graft.core.Blocks.release]];
  *  - [[graft.Verify]] calls [[clear]] before every query: the CORRECTNESS
  *    gate stays hermetic — each verified query computes its full pipeline.
  */
object Shared {

  private final case class Entry(ctxId: Int, df: DataFrame)
  private val memo = scala.collection.concurrent.TrieMap.empty[String, Entry]

  /** RDD ids whose cached blocks back live memo entries — Bench's per-query
    * unpersist sweep must skip these.
    */
  def protectedRddIds: Set[Int] = memo.values.flatMap(e => Blocks.backing(e.df)).toSet

  /** Forget all entries (blocks are released by ContextCleaner once the
    * frames are unreachable, or by the caller's [[graft.core.Blocks.sweep]]).
    */
  def clear(): Unit = memo.clear()

  /** Live memo keys — [[graft.Bench]] diffs this around a query to know
    * which shared kernels that query built (telemetry attribution, and the
    * round-14 stall-guard eviction).
    */
  def memoKeys: Set[String] = memo.keySet.toSet

  /** Wall seconds each key's `build` lambda took — the (query, memo_build_s)
    * split the bench telemetry emits so shared-kernel build cost is
    * attributable instead of reading as plan cost on its first consumer.
    */
  private val buildSecs = scala.collection.concurrent.TrieMap.empty[String, Double]
  def buildSeconds(key: String): Option[Double] = buildSecs.get(key)

  /** Keys served from the memo (cache HITS) since the last drain — the
    * bench's consumption attribution: an entry that rides another query's
    * session memos (mx27 consuming mx26's banding kernel) records a
    * flattering time, and the `memo consumed [...]` telemetry line makes
    * that visible per query instead of requiring standalone-rerun
    * archaeology (VERDICT r14 finding 2).
    */
  private val consumedKeys = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  def drainConsumed(): Set[String] = {
    import scala.jdk.CollectionConverters._
    val s = consumedKeys.asScala.toSet
    consumedKeys.clear()
    s
  }

  /** Forget SPECIFIC entries and unpersist their backing blocks — the
    * bench's memo-aware stall guard: a >floor first run that built memo
    * entries re-runs with exactly those entries evicted, so BOTH runs pay
    * the build and the recorded min never silently deletes shared-frame
    * cost (while an ambient stall in either run is still absorbed).
    */
  def evict(keys: Set[String]): Unit =
    keys.foreach(k => memo.remove(k).foreach(e => Blocks.release(e.df)))

  /** Memoize `build` under `key` for this session's SparkContext. `build`
    * must return a frame whose validity is CHECKABLE: an eagerly-
    * materialized [[Dedup.cachedForReuse]] checkpoint (valid while its
    * backing blocks stay registered), or a driver-local LocalRelation
    * (e.g. a trained codebook — immutable driver data, valid for the
    * session unconditionally). Self-healing: a checkpoint hit whose
    * backing blocks are gone (or any hit from a different context)
    * rebuilds.
    */
  def memoized(spark: SparkSession, key: String)(build: => DataFrame): DataFrame = {
    val ctxId = System.identityHashCode(spark.sparkContext)
    memo.get(key) match {
      case Some(e) if e.ctxId == ctxId && Blocks.materialized(e.df) =>
        consumedKeys.add(key)
        e.df
      case _ =>
        val t0 = System.nanoTime()
        val df = build
        buildSecs.update(key, (System.nanoTime() - t0) / 1e9)
        memo.update(key, Entry(ctxId, df))
        df
    }
  }

  /** Canonical MinHash/LSH near-duplicate pairs over `documents` at the
    * suite's fixed parameters (3-shingles, 16 bands × 4 rows, Jaccard ≥ 0.8)
    * — the frame dd2 emits and dd11/dd12/dd14/dd16 consume. Checkpointed so
    * the memo holds one flat materialized table, not a live plan over the
    * kernel's internal caches.
    */
  def minhashPairs(spark: SparkSession, dir: String): DataFrame =
    memoized(spark, s"minhashPairs|$dir") {
      // The kernel's internal shape is fixed (signature scan → band
      // self-join with capped buckets → exact verify); its one
      // materialization runs non-adaptively so the whole build is a single
      // scheduler job instead of one per exchange ([[Dedup.withStaticPlan]]).
      Dedup.withStaticPlan(spark) {
        Dedup.cachedForReuse(Dedup.minhashNearDuplicates(
          Tables.documents(spark, dir).select(col("doc_id"), col("text")),
          "doc_id", "text", shingleK = 3, bands = 16, rowsPerBand = 4,
          threshold = 0.8))
      }
    }

  /** The purchase co-occurrence edge table over `events` — DISTINCT
    * (u < v) user pairs sharing a purchase hour — built identically (and
    * until round 15, twice) by q_triangles and q_kcore. One
    * materialization, same lifecycle contract as [[partEdges]]; Verify's
    * per-query [[clear]] keeps the CORRECTNESS gate hermetic.
    */
  def purchaseCoEdges(spark: SparkSession, dir: String): DataFrame =
    memoized(spark, s"purchEdges|$dir") {
      val p = Tables.events(spark, dir)
        .filter(col("event_type") === "purchase")
        .select(col("user_id"), date_trunc("hour", col("ts")).as("h"))
        .distinct()
      Dedup.cachedForReuse(
        p.as("a").join(p.as("b"),
            col("a.h") === col("b.h") && col("a.user_id") < col("b.user_id"))
          .select(col("a.user_id").as("u"), col("b.user_id").as("v"))
          .distinct())
    }

  /** The part co-occurrence edge table over `lineitem` — DISTINCT
    * symmetric (u, v) part pairs sharing an order, annotated with the
    * source's out-degree and pre-partitioned on `u` — shared verbatim by
    * q_pagerank (which consumes the degree for its per-edge contribution)
    * and q_reachability (which joins on `u` and ignores `deg`): ONE
    * materialization, one partitioning, both iterative consumers. Built
    * under the static plan — measured faster than the adaptive build for
    * this fixed join→distinct→window→repartition shape at bench scale
    * (AQE's per-exchange stages add jobs without changing the plan).
    * Same lifecycle contract as the MinHash memo; Verify's per-query
    * [[clear]] keeps the gate hermetic.
    */
  def partEdges(spark: SparkSession, dir: String): DataFrame =
    memoized(spark, s"partEdges|$dir") {
      Dedup.withStaticPlan(spark) {
        val li = Tables.lineitem(spark, dir)
          .select(col("l_orderkey"), col("l_partkey")).distinct()
        // ONE exchange keyed on u replaces the old distinct-pairs shuffle +
        // degree-window shuffle + explicit repartition (3 exchanges → 1,
        // round 15): collect_set dedups (u, v) with map-side partial
        // aggregation, the degree is the set size, and the explode is a
        // narrow projection that PRESERVES the groupBy's hashpartitioning
        // on u — exactly the layout both iterative consumers join against.
        // Skew bound unchanged: the old degree window already funneled each
        // u's rows through one task; the set aggregate has the same
        // per-hub bound with two fewer data-sized shuffles.
        Dedup.cachedForReuse(
          li.as("a").join(li.as("b"),
              col("a.l_orderkey") === col("b.l_orderkey") &&
                col("a.l_partkey") =!= col("b.l_partkey"))
            .groupBy(col("a.l_partkey").as("u"))
            .agg(collect_set(col("b.l_partkey")).as("vs"))
            .select(col("u"), explode(col("vs")).as("v"),
              size(col("vs")).cast("long").as("deg")))
      }
    }

  /** [[graft.operators.TextAnalysis.langMarkers]] for one language as a
    * DuckDB list literal — the language-id oracles' marker rendering
    * (tx2/tx24/dd31), defined ONCE so a marker-list or quoting change
    * cannot silently desynchronize the replays.
    */
  def markersSql(lang: String): String =
    graft.operators.TextAnalysis.langMarkers.toMap.apply(lang)
      // SQL-escape embedded apostrophes (French "l'", "d'…") so a future
      // marker-list change cannot silently break every language-id oracle
      .map(m => s"'${m.replace("'", "''")}'").mkString("[", ", ", "]")

  /** The suite's delivery-split key over `documents`: the numeric suffix of
    * the source name (`src<N>` → N). Sources 0–9 are delivery 1 in every
    * two-delivery replay (mx26/mx27/mx31, the shared kernels below, and
    * their oracles' `CAST(substr(source, 4) AS INT)`); ONE definition so
    * the split convention cannot silently desynchronize across consumers.
    */
  def srcIdx: org.apache.spark.sql.Column =
    substring(col("source"), 4, 10).cast("int")

  /** Per-delivery banded-signature store for the incremental two-delivery
    * replay over `documents` (sources s0–s9 = delivery 1, the rest =
    * delivery 2; 3-shingles, 64 hashes, 16 bands) — the
    * `(doc_id, sig, bk)` frame [[graft.operators.Incremental.nearDedupDelta]]
    * and [[graft.operators.Incremental.ccDelta]] would each compute TWICE
    * (once per delivery, per query). mx26 and mx27 differ only in what
    * they do with the verified pairs, so the whole banding kernel is
    * shared verbatim — the dd2 memo pattern applied to the incremental
    * family, which BENCH_TELEMETRY r11 showed paying ~47 s of
    * whole-stage-codegen JIT per driver run for ~8 s of execution.
    */
  def incrDeliverySigs(spark: SparkSession, dir: String, deliv: Int): DataFrame =
    memoized(spark, s"incrSigs|$deliv|$dir") {
      // one materialization per delivery, non-adaptive: the build is a fixed
      // narrow scan→kernel shape where AQE only adds per-exchange jobs (the
      // minhashPairs memo discipline)
      Dedup.withStaticPlan(spark) {
        val corpus = Tables.documents(spark, dir)
          .select(col("doc_id"), col("source"), col("text"))
        val delta =
          if (deliv == 1) corpus.filter(srcIdx < 10) else corpus.filter(srcIdx >= 10)
        Dedup.cachedForReuse(Dedup.minhashSignaturesWithBands(
          delta, "doc_id", "text", shingleK = 3, k = 64, bands = 16))
      }
    }

  /** Verified `(d_id, e_id)` pairings for one delivery of the replay —
    * [[graft.operators.Incremental.estVerifiedPairs]] over
    * [[incrDeliverySigs]], with delivery 1's store provably empty and
    * delivery 2's store = delivery 1's signatures (exactly the state
    * [[graft.operators.Incremental.nearDedupDelta]] grows). Shared by
    * mx26/mx27 via their `sharedKernel` hook; the Verify lane clears this
    * memo per query, so the CORRECTNESS gate still rebuilds every kernel
    * from scratch.
    */
  def incrVerifiedPairs(spark: SparkSession, dir: String, deliv: Int): DataFrame =
    memoized(spark, s"incrPairs|$deliv|$dir") {
      val deltaSigs = incrDeliverySigs(spark, dir, deliv)
      // delivery 1's store is empty but MATERIALIZED (a checkpoint like
      // delivery 2's memoized store, not a prunable LocalRelation): both
      // deliveries then plan the identical candidate-kernel shape, so
      // delivery 2's whole-stage codegen is a compile-cache HIT instead of
      // a second full set of generated classes — the near-empty extra
      // stages cost far less than the duplicate JIT they replace
      val prior =
        if (deliv == 1)
          Dedup.cachedForReuse(spark.createDataFrame(
            java.util.Collections.emptyList[org.apache.spark.sql.Row](),
            deltaSigs.schema))
        else incrDeliverySigs(spark, dir, 1)
      // non-adaptive build, same discipline as the sig memo above: the
      // candidate kernel is a fixed join/aggregate shape over two already-
      // materialized frames
      Dedup.withStaticPlan(spark) {
        Dedup.cachedForReuse(graft.operators.Incremental.estVerifiedPairs(
          deltaSigs, prior, k = 64, bands = 16,
          thresholdNum = 8, thresholdDen = 10, maxBucket = 100000))
      }
    }

  /** Connected-component labels (id → min reachable id) over
    * [[minhashPairs]] — the shared transitive-closure frame behind
    * dd11/dd12/dd14. Already materialized by
    * [[Dedup.connectedComponents]] (label propagation + pointer jumping:
    * O(log diameter) rounds, one scheduler job each).
    */
  def ccLabels(spark: SparkSession, dir: String): DataFrame =
    memoized(spark, s"ccLabels|$dir") {
      Dedup.connectedComponents(minhashPairs(spark, dir), "doc_a", "doc_b")
    }

  /** The prepared `embeddings` corpus `(vec_id, v, nrm)` — the frame every
    * vector-family query starts from ([[graft.operators.Similarity
    * .preparedCorpus]]): doubles + L2 norms computed ONCE per sf dir
    * instead of once per query (and per delivery inside the incremental
    * replays). The incremental family's delivery split is derivable
    * (`vec_id % 2` — shard s0/s1), so per-delivery frames are filters of
    * this one.
    */
  def preparedEmb(spark: SparkSession, dir: String): DataFrame =
    memoized(spark, s"prepEmb|$dir") {
      Dedup.cachedForReuse(graft.operators.Similarity.preparedCorpus(
        Tables.embeddings(spark, dir), "vec_id", "embedding"))
    }

  /** The CARRIED IVF quantizer mx28/mx30 continue (the sim3 rule: delivery
    * 1's — even `vec_id`s' — first 16 nonzero-norm vectors by id), shared
    * so the suite holds ONE `(c_id, cv, cn)` frame for the index instead
    * of one per report query.
    */
  def ivfCarriedCents(spark: SparkSession, dir: String): DataFrame =
    memoized(spark, s"ivfCents|$dir") {
      Dedup.cachedForReuse(preparedEmb(spark, dir)
        .filter(col("vec_id") % 2 === 0 && col("nrm") > 0)
        .orderBy(col("vec_id")).limit(16)
        .select(col("vec_id").as("c_id"), col("v").as("cv"), col("nrm").as("cn")))
    }

  /** Full-corpus [[graft.operators.Similarity.assignCells]] under
    * [[ivfCarriedCents]] — assignment is per-row and STATELESS, so every
    * query continuing the carried index (mx28's two deliveries, mx30's
    * before/after report) consumes filters of this ONE materialized pass
    * instead of re-assigning per consumer (the mx26/mx27 banding-kernel
    * discipline applied to the ANN family). Verify clears the memo per
    * query, so the CORRECTNESS gate still rebuilds each query's kernels
    * from scratch.
    */
  def ivfAssignedAll(spark: SparkSession, dir: String): DataFrame =
    memoized(spark, s"ivfAsgAll|$dir") {
      Dedup.cachedForReuse(graft.operators.Similarity.assignCells(
        preparedEmb(spark, dir), ivfCarriedCents(spark, dir)))
    }

  /** mx29's carried SemDeDup quantizer: k = 8 / 5-iteration spherical
    * k-means trained on delivery 1 (even `vec_id`s), fed from
    * [[preparedEmb]] so training never re-prepares the corpus.
    */
  def semKmeansCents(spark: SparkSession, dir: String): DataFrame =
    memoized(spark, s"semCents|$dir") {
      // the trainer's result is a driver-local frame already (the codebook
      // IS driver data) — no checkpoint job; the memo treats LocalRelation
      // entries as session-valid
      graft.operators.Similarity.kmeansFromPrepared(
        preparedEmb(spark, dir).filter(col("vec_id") % 2 === 0),
        k = 8, iters = 5)
    }

  /** Full-corpus assignment under [[semKmeansCents]] — mx29's two
    * deliveries consume `vec_id % 2` filters of this one pass (same
    * stateless-assignment argument as [[ivfAssignedAll]]). The codebook is
    * a LocalRelation, so its rows lift into the assignment as a plan
    * LITERAL — no packing aggregate, no broadcast future
    * ([[graft.operators.Similarity.assignCellsLit]]).
    */
  def semAssignedAll(spark: SparkSession, dir: String): DataFrame =
    memoized(spark, s"semAsgAll|$dir") {
      val cents = semKmeansCents(spark, dir).collect().toSeq.map { r =>
        (r.getLong(0), r.getSeq[Double](1).toArray, r.getDouble(2))
      }
      Dedup.cachedForReuse(graft.operators.Similarity.assignCellsLit(
        preparedEmb(spark, dir), cents))
    }
}
