package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Similarity search over embedding columns (`Array[Float]`).
  *
  * - [[bruteForceTopK]]: exact cosine top-k — the correctness baseline. A
  *   broadcast join of the (small) query set against the corpus: one scan,
  *   no shuffle of the corpus side, scales linearly.
  * - [[lshBuckets]] / [[lshTopK]]: random-hyperplane LSH — the scale path.
  *   Hyperplane coefficients are derived from a deterministic LCG so
  *   signatures are reproducible across engines and runs (no RNG state).
  *   Bucketing turns ANN into an equi-join on the signature, which
  *   partitions evenly at any corpus size.
  *
  * Dot products fold left-to-right over the vector (Spark `aggregate` /
  * DuckDB `list_sum`), giving engine-identical doubles for identical inputs.
  */
object Similarity {

  /** Vector as double array (floats widen exactly). */
  def asDouble(vec: Column): Column = transform(vec, x => x.cast(DoubleType))

  /** Sequential-fold dot product of two double-array columns — the graft
    * SQL function `dotp`, [[graft.functions.DotProductExpr]] (the same IEEE
    * accumulation as the `aggregate`/`zip_with` fold and the DuckDB
    * `list_sum` oracles on null-free vectors, in one primitive loop instead
    * of two interpreted HOFs). Every session holds `dotp` from its build
    * ([[graft.functions.GraftFunctions]]).
    */
  def dot(a: Column, b: Column): Column = call_function("dotp", a, b)

  /** L2 norm. */
  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity of two double-array columns. */
  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  private def prepared(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    df.select(col(idCol).as("vec_id"), asDouble(col(vecCol)).as("v"))
      .withColumn("nrm", norm(col("v")))

  /** Exact top-k neighbors by cosine for each query vector (query set is
    * broadcast; ranking ties broken by neighbor id).
    */
  def bruteForceTopK(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val c = prepared(corpus, idCol, vecCol)
    val q = prepared(queries, idCol, vecCol)
      .select(col("vec_id").as("q_id"), col("v").as("q_v"), col("nrm").as("q_nrm"))
    val scored = c.join(broadcast(q), col("q_id") =!= col("vec_id"))
      .withColumn("cosine", dot(col("q_v"), col("v")) / (col("q_nrm") * col("nrm")))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cosine").desc, col("vec_id"))
    scored.withColumn("rnk", row_number().over(w).cast(LongType))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("vec_id").as("neighbor"), col("cosine"), col("rnk"))
  }

  /** k-NN label prediction: majority vote among each query's `k` nearest
    * corpus neighbors by exact cosine — the standard embedding-space
    * label-quality / classifier-free eval. Deterministic (vote ties break to
    * the smaller label; neighbor ties to the smaller id inside
    * [[bruteForceTopK]]), so the whole prediction is oracle-exact. Swap the
    * brute scorer for [[pqTopKReranked]]/[[ivfTopK]] candidates at corpus
    * scale — the vote is the same one aggregation either way.
    */
  def knnPredictLabels(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, labelCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val knn = bruteForceTopK(corpus, queries, idCol, vecCol, k)
    val labels = corpus.select(col(idCol).as("neighbor"), col(labelCol).as("n_label"))
    val votes = knn.join(labels, "neighbor")
      .groupBy(col("q_id"), col("n_label"))
      .agg(count(lit(1)).as("votes"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("votes").desc, col("n_label"))
    votes.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
      .select(col("q_id"), col("n_label").as("pred_label"), col("votes"))
  }

  /** Retrieval-quality eval in exact integers: for each query, rank the
    * corpus by exact cosine (ties → smaller id), find the FIRST neighbor
    * sharing the query's label, and report its rank, the reciprocal rank in
    * basis points (10⁴ div rank — the MRR contribution as a defined integer
    * quantization, no float division), and hit@k. Queries with no same-label
    * neighbor anywhere keep their row with NULL rank (rr_bp 0, hit 0) so the
    * output is one row per query regardless of corpus content. Plan: one
    * broadcast of the query set, one per-query ranking window, one bounded
    * aggregate — at corpus scale the ranking source swaps for an ANN
    * shortlist ([[pqTopKReranked]]) without touching the eval aggregate.
    */
  def retrievalMrr(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, labelCol: String, kHit: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val c = corpus.select(col(idCol).as("vec_id"), asDouble(col(vecCol)).as("v"),
        col(labelCol).cast(LongType).as("n_label"))
      .withColumn("nrm", norm(col("v")))
    val q = queries.select(col(idCol).as("q_id"), asDouble(col(vecCol)).as("q_v"),
        col(labelCol).cast(LongType).as("true_label"))
      .withColumn("q_nrm", norm(col("q_v")))
    val scored = c.join(broadcast(q), col("q_id") =!= col("vec_id"))
      .withColumn("cosine", dot(col("q_v"), col("v")) / (col("q_nrm") * col("nrm")))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cosine").desc, col("vec_id"))
    val firstHit = scored.withColumn("rnk", row_number().over(w).cast(LongType))
      .filter(col("n_label") === col("true_label"))
      .groupBy(col("q_id")).agg(min(col("rnk")).as("first_rank"))
    q.select(col("q_id"), col("true_label"))
      .join(firstHit, Seq("q_id"), "left")
      .select(col("q_id"), col("true_label"), col("first_rank"),
        coalesce(expr("10000 div first_rank"), lit(0L)).as("rr_bp"),
        when(col("first_rank") <= kHit, 1L).otherwise(0L).as("hit_at_k"))
      .orderBy(col("q_id"))
  }

  /** NDCG@k per query under exact cosine ranking with binary relevance
    * (corpus neighbor shares the query's label) — the ranking-quality
    * counterpart to [[retrievalMrr]]'s first-hit metric.
    *
    * All-integer formulation: the per-rank discount 1/log₂(i+1) is
    * pre-scaled to millionths ONCE on the driver (`⌊10⁶/log₂(i+1)⌋`,
    * i = 1..k — k literals, identical in the SQL oracle by construction), so
    * DCG and ideal-DCG are exact BIGINT sums and `ndcg_bp` is an integer
    * division — order-independent and bit-exact cross-engine, where a
    * floating Σ rel/log₂(i+1) would inherit the engine's aggregation order.
    * IDCG looks up the prefix-sum literal at min(n_rel, k); n_rel comes from
    * a per-label corpus count (queries and corpus must be DISJOINT, as in
    * the m19 split, for that count to equal the query's relevant-neighbor
    * count). No relevant neighbor → null idcg/ndcg.
    *
    * Scale: queries broadcast; the corpus side is one narrow scored pass +
    * a top-k window per query partition and a label-count aggregate.
    */
  def retrievalNdcg(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, labelCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 1, "k must be >= 1")
    val wts = (1 to k).map(i => math.floor(1e6 / (math.log(i + 1.0) / math.log(2.0))).toLong)
    val pfx = wts.scanLeft(0L)(_ + _).tail
    val c = corpus.select(col(idCol).as("vec_id"), asDouble(col(vecCol)).as("v"),
        col(labelCol).cast(LongType).as("n_label"))
      .withColumn("nrm", norm(col("v")))
    val q = queries.select(col(idCol).as("q_id"), asDouble(col(vecCol)).as("q_v"),
        col(labelCol).cast(LongType).as("true_label"))
      .withColumn("q_nrm", norm(col("q_v")))
    val scored = c.join(broadcast(q), col("q_id") =!= col("vec_id"))
      .withColumn("cosine", dot(col("q_v"), col("v")) / (col("q_nrm") * col("nrm")))
    val wspec = Window.partitionBy(col("q_id")).orderBy(col("cosine").desc, col("vec_id"))
    val wArr = array(wts.map(lit): _*)
    val dcg = scored.withColumn("rnk", row_number().over(wspec))
      .filter(col("rnk") <= k)
      .withColumn("gain",
        when(col("n_label") === col("true_label"), element_at(wArr, col("rnk")))
          .otherwise(0L))
      .groupBy(col("q_id")).agg(sum(col("gain")).as("dcg_s"))
    val labelCounts = c.groupBy(col("n_label")).agg(count(lit(1)).as("n_rel"))
    val pfxArr = array(pfx.map(lit): _*)
    q.select(col("q_id"), col("true_label"))
      .join(broadcast(labelCounts), col("true_label") === col("n_label"), "left")
      .join(dcg, Seq("q_id"), "left")
      .select(col("q_id"), col("true_label"),
        coalesce(col("n_rel"), lit(0L)).as("n_rel"),
        coalesce(col("dcg_s"), lit(0L)).as("dcg_s"))
      .withColumn("idcg_s",
        when(col("n_rel") > 0, element_at(pfxArr, least(col("n_rel"), lit(k.toLong)).cast("int"))))
      .withColumn("ndcg_bp", expr("dcg_s * 10000 div idcg_s"))
      .orderBy(col("q_id"))
  }

  /** Per-label centroid accumulators in fixed-point: each embedding
    * dimension quantized to `floor(x * 1e6)` (exact-deterministic — the
    * float→double widening is exact and the single rounding in `x * 1e6`
    * is IEEE round-to-nearest in any engine), then summed per (label, dim)
    * as BIGINTs, which are order-independent. Returns (label, dim, qsum, n);
    * the caller divides `qsum / (n * 1e6)` for the mean when a float
    * centroid is wanted — shipping SUMS keeps the operator bit-exact and
    * mergeable (two partial frames add), the same trick as the decimal
    * money sums. One posexplode (n×d rows) into one aggregate with
    * map-side combine: after combine each partition holds ≤ labels×dims
    * partial rows, so the shuffle is tiny no matter the corpus size.
    */
  def labelCentroidSums(
      df: DataFrame, labelCol: String, vecCol: String): DataFrame =
    df.select(col(labelCol).cast(LongType).as("label"),
        posexplode(col(vecCol)).as(Seq("dim", "x")))
      .select(col("label"), col("dim").cast(LongType).as("dim"),
        floor(col("x").cast(DoubleType) * 1e6).cast(LongType).as("qv"))
      .groupBy(col("label"), col("dim"))
      .agg(sum(col("qv")).as("qsum"), count(lit(1)).as("n"))

  /** All pairs (a < b) with cosine ≥ threshold — exact near-duplicate scan,
    * fully distributed (no driver-side materialization).
    *
    * Block-partitioned all-pairs: each vector lands in block `id mod B`, and
    * every unordered block pair (i ≤ j) becomes one shuffle group holding the
    * vectors of both blocks. A compiled kernel then compares the group's two
    * block lists — every id pair is covered by exactly one group, so the
    * result is the exact quadratic scan spread over B(B+1)/2 tasks with
    * replication factor B (shuffle = B·n vectors, work = n²/2 dot products
    * total). The dot product is the same left-to-right accumulation as
    * [[dot]]/the DuckDB oracle, so values are bit-identical. Driver memory is
    * O(1); executor memory per task is two blocks (2n/B vectors).
    *
    * Still quadratic by nature — this is the exact baseline, and B is the
    * knob that spreads it over a cluster; [[lshBuckets]] + bucket-local
    * pairing is the subquadratic scale path.
    */
  def nearDuplicatePairs(
      df: DataFrame, idCol: String, vecCol: String, threshold: Double,
      blocks: Int = 0): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val b =
      if (blocks > 0) blocks
      // B(B+1)/2 groups ≈ 2× parallelism so tasks stay balanced
      else math.max(4, math.ceil(math.sqrt(4.0 * spark.sparkContext.defaultParallelism)).toInt)
    // Widen float→double in SQL (accepts array<float> OR array<double>, like
    // prepared()), then a compiled sequential-fold norm — identical
    // arithmetic to the norm() column expression.
    val prepped = df.select(col(idCol).cast(LongType).as("vec_id"),
        asDouble(col(vecCol)).as("emb"))
      .as[(Long, Array[Double])]
      .mapPartitions { it =>
        it.map { case (id, v) =>
          var i = 0
          var acc = 0.0
          while (i < v.length) { acc += v(i) * v(i); i += 1 }
          (((id % b) + b) % b, id, v, math.sqrt(acc))
        }
      }
      .toDF("blk", "vec_id", "v", "nrm")
    val combos = (for { i <- 0 until b; j <- i until b } yield (i, j))
      .toDF("ci", "cj")
    val thr = threshold
    prepped.join(broadcast(combos),
        col("blk") === col("ci").cast(LongType) || col("blk") === col("cj").cast(LongType))
      .select(col("ci"), col("cj"), col("blk"), col("vec_id"), col("v"), col("nrm"))
      .as[(Int, Int, Long, Long, Array[Double], Double)]
      .groupByKey(r => (r._1, r._2))
      .flatMapGroups { (key: (Int, Int), it: Iterator[(Int, Int, Long, Long, Array[Double], Double)]) =>
        val (ci, cj) = key
        val left = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Double], Double)]
        val right = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Double], Double)]
        it.foreach { case (_, _, blk, id, v, nrm) =>
          if (blk == ci.toLong) left += ((id, v, nrm)) else right += ((id, v, nrm))
        }
        def dotP(va: Array[Double], vb: Array[Double]): Double = {
          var acc = 0.0
          var i = 0
          while (i < va.length) { acc += va(i) * vb(i); i += 1 }
          acc
        }
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
        if (ci == cj) {
          var i = 0
          while (i < left.length) {
            var j = i + 1
            while (j < left.length) {
              val (ia, va, na) = left(i)
              val (ib, vb, nb) = left(j)
              val c = dotP(va, vb) / (na * nb)
              if (c >= thr) out += (if (ia < ib) (ia, ib, c) else (ib, ia, c))
              j += 1
            }
            i += 1
          }
        } else {
          var i = 0
          while (i < left.length) {
            var j = 0
            while (j < right.length) {
              val (ia, va, na) = left(i)
              val (ib, vb, nb) = right(j)
              val c = dotP(va, vb) / (na * nb)
              if (c >= thr) out += (if (ia < ib) (ia, ib, c) else (ib, ia, c))
              j += 1
            }
            i += 1
          }
        }
        out
      }
      .toDF("vec_a", "vec_b", "cosine")
  }

  /** Near-duplicate pairs via LSH buckets — the subquadratic scale path for
    * [[nearDuplicatePairs]]: candidates are bucket-local (equi-join on the
    * hyperplane signature), verified by exact cosine ≥ threshold. Recall is
    * governed by `bits` (fewer bits → bigger buckets → higher recall, more
    * work); the candidate space is Σ n_b² instead of n², and bucket keys
    * partition evenly at any corpus size.
    */
  /** `tables > 1` turns on OR-amplification for the PAIR path, the same
    * recall lever [[lshTopK]] has: candidates collide in ANY of `tables`
    * independent plane sets (miss probability (1−p^bits)^tables), deduped
    * per pair before the exact verify. Cost is linear in `tables`; buckets
    * cap per (table, bucket).
    */
  def lshNearDuplicatePairs(
      df: DataFrame, idCol: String, vecCol: String, threshold: Double,
      bits: Int, dims: Int, maxBucket: Int = 100000, tables: Int = 1): DataFrame = {
    if (tables > 1)
      return lshNearDuplicatePairsMulti(df, idCol, vecCol, threshold, bits, dims,
        maxBucket, tables)
    // No internal persist: the result is lazy, so an unpersist here could
    // never fire at the right time and the cached blocks would leak across
    // calls in a long-lived session. The two join sides canonicalize to the
    // same exchange (ReuseExchange dedupes the bucket computation); callers
    // who probe the same corpus repeatedly should persist lshBuckets(...)
    // themselves — the pattern kmeansCentroids uses internally.
    val b0 = lshBuckets(df, idCol, vecCol, bits, dims)
    // hot-bucket cap: a bucket with m members emits m²/2 pairs in one task;
    // drop oversized buckets (monitor via Dedup.oversizedBuckets) so one
    // degenerate signature can't go quadratic at corpus scale
    val b =
      if (maxBucket == Int.MaxValue) b0
      else b0.join(Dedup.oversizedBuckets(b0.select("bucket"), Seq("bucket"), maxBucket),
        Seq("bucket"), "left_anti")
    val l = b.select(col("bucket"), col("vec_id").as("vec_a"), col("v").as("va"), col("nrm").as("na"))
    val r = b.select(col("bucket"), col("vec_id").as("vec_b"), col("v").as("vb"), col("nrm").as("nb"))
    l.join(r, Seq("bucket")).filter(col("vec_a") < col("vec_b"))
      .withColumn("cosine", dot(col("va"), col("vb")) / (col("na") * col("nb")))
      .filter(col("cosine") >= threshold)
      .select("vec_a", "vec_b", "cosine")
  }

  private def lshNearDuplicatePairsMulti(
      df: DataFrame, idCol: String, vecCol: String, threshold: Double,
      bits: Int, dims: Int, maxBucket: Int, tables: Int): DataFrame = {
    val b0 = lshBucketsMulti(df, idCol, vecCol, bits, dims, tables)
    val b =
      if (maxBucket == Int.MaxValue) b0
      else b0.join(
        Dedup.oversizedBuckets(b0.select("tbl", "bucket"), Seq("tbl", "bucket"), maxBucket),
        Seq("tbl", "bucket"), "left_anti")
    val l = b.select(col("tbl"), col("bucket"), col("vec_id").as("vec_a"),
      col("v").as("va"), col("nrm").as("na"))
    val r = b.select(col("tbl"), col("bucket"), col("vec_id").as("vec_b"),
      col("v").as("vb"), col("nrm").as("nb"))
    // any-table collision; dedupe the pair before the exact verify so a
    // multi-table hit is scored once
    l.join(r, Seq("tbl", "bucket")).filter(col("vec_a") < col("vec_b"))
      .groupBy(col("vec_a"), col("vec_b"))
      .agg(first(col("va")).as("va"), first(col("na")).as("na"),
        first(col("vb")).as("vb"), first(col("nb")).as("nb"))
      .withColumn("cosine", dot(col("va"), col("vb")) / (col("na") * col("nb")))
      .filter(col("cosine") >= threshold)
      .select("vec_a", "vec_b", "cosine")
  }

  /** Symmetric per-vector int8 quantization: `scale = max|x_i|`,
    * `code_i = floor(x_i · 127 / scale)` — floor, not round, so the codes are
    * identical in every engine (round's half-up vs half-even diverges at
    * midpoints). Zero vectors quantize to all-zero codes. At 100 TB this is
    * the standard 4× memory/IO lever for the ANN corpus: scores computed on
    * codes, scales kept per vector for dequantization.
    */
  def quantizeInt8(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    df.select(col(idCol).as("vec_id"), asDouble(col(vecCol)).as("v"))
      .withColumn("scale", array_max(transform(col("v"), x => abs(x))))
      .withColumn("qv",
        when(col("scale") === 0.0, transform(col("v"), _ => lit(0)))
          .otherwise(transform(col("v"),
            x => floor(x * lit(127.0) / col("scale")).cast(IntegerType))))
      .select("vec_id", "qv", "scale")

  /** Brute-force top-k on the QUANTIZED codes: the per-vector scales cancel
    * in the cosine, so ranking runs entirely on exact integer-valued doubles
    * (sums of int products are order-independent below 2^53) — deterministic
    * and 4× less data scanned than the float corpus.
    */
  def quantizedTopK(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def prep(df: DataFrame) =
      quantizeInt8(df, idCol, vecCol)
        .withColumn("qd", transform(col("qv"), x => x.cast(DoubleType)))
        .withColumn("nrm", sqrt(dot(col("qd"), col("qd"))))
        .select("vec_id", "qd", "nrm")
    val c = prep(corpus)
    val q = prep(queries)
      .select(col("vec_id").as("q_id"), col("qd").as("q_qd"), col("nrm").as("q_nrm"))
    val scored = c.join(broadcast(q), col("q_id") =!= col("vec_id"))
      .withColumn("cosine", dot(col("q_qd"), col("qd")) / (col("q_nrm") * col("nrm")))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cosine").desc, col("vec_id"))
    scored.withColumn("rnk", row_number().over(w).cast(LongType))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("vec_id").as("neighbor"), col("cosine"), col("rnk"))
  }

  /** Maximal Marginal Relevance selection (Carbonell & Goldstein 1998) —
    * the diversity-aware pick a curation pipeline uses instead of plain
    * top-k: greedily select k vectors maximizing
    * `rel(c) − max_{s∈S} sim(c, s)` (λ = ½ up to a constant factor), so
    * each pick is relevant to the query but far from everything already
    * chosen. Determinism: every cosine is one integer-free but
    * single-division double of identical operands on any engine
    * (`MAX` over selected = `greatest` of the same doubles), argmaxes
    * tie-break on vec_id, so the selection order is bit-stable. Plan
    * shape: ONE distributed pass builds the checkpointed `rels`
    * (vec_id, v, nrm, rel), then each greedy round is a single
    * TakeOrderedAndProject job over it — the already-selected vectors ride
    * along as array LITERALS inside a `greatest(...)` of narrow dot
    * products (≤ k of them, k is small by contract), so there is no
    * per-round join, no broadcast exchange, no chained caches, and the
    * plan stays constant-size: k jobs total vs the old 2(k−1) with a
    * growing cached lineage. The corpus is scanned, never shuffled;
    * driver state is the k selected rows (+ their d-double vectors).
    */
  def mmrSelect(
      df: DataFrame, idCol: String, vecCol: String,
      queryId: Long, k: Int): DataFrame = {
    val spark = df.sparkSession
    val n = Dedup.cachedForReuse(prepared(df, idCol, vecCol))
    val q = n.filter(col("vec_id") === queryId)
      .select(col("v").as("qv"), col("nrm").as("qn"))
    val rels = Dedup.cachedForReuse(
      n.filter(col("vec_id") =!= queryId).crossJoin(broadcast(q))
        .select(col("vec_id"), col("v"), col("nrm"),
          (dot(col("v"), col("qv")) / (col("nrm") * col("qn"))).as("rel")))
    // (rnk, vec_id, rel, ms, score) + the selected vector/norm for the next
    // round's literal sims
    final case class Sel(rnk: Long, vecId: Long, rel: Double,
        ms: Option[Double], score: Double, v: Array[Double], nrm: Double)
    val selected = scala.collection.mutable.ArrayBuffer.empty[Sel]
    var r = 1
    var exhausted = false // k > #candidates: return the rows that exist
    while (r <= k && !exhausted) {
      val base =
        if (selected.isEmpty) rels
        else rels.filter(!col("vec_id").isInCollection(selected.map(_.vecId)))
      val scored =
        if (selected.isEmpty)
          base.withColumn("ms", lit(null).cast(DoubleType))
            .withColumn("score", col("rel"))
        else {
          // identical operand shapes to the oracle's MAX(cos(r, s)):
          // dot in index order, then / (r.nrm * s.nrm)
          val sims = selected.toSeq.map(s =>
            dot(col("v"), typedLit(s.v)) / (col("nrm") * lit(s.nrm)))
          val ms = if (sims.size == 1) sims.head else greatest(sims: _*)
          base.withColumn("ms", ms).withColumn("score", col("rel") - col("ms"))
        }
      scored.orderBy(col("score").desc, col("vec_id")).limit(1)
        .select("vec_id", "rel", "ms", "score", "v", "nrm")
        .collect().headOption match {
        case Some(row) =>
          selected += Sel(r.toLong, row.getLong(0), row.getDouble(1),
            if (row.isNullAt(2)) None else Some(row.getDouble(2)),
            row.getDouble(3), row.getSeq[Double](4).toArray, row.getDouble(5))
          r += 1
        case None => exhausted = true
      }
    }
    import spark.implicits._
    selected.toSeq.map(s => (s.rnk, s.vecId, s.rel, s.ms, s.score))
      .toDF("rnk", "vec_id", "rel", "ms", "score").orderBy("rnk")
  }

  /** Product-quantization top-k with asymmetric-distance scoring (ADC) —
    * the memory-scale path past int8 ([[quantizedTopK]]): each normalized
    * corpus vector is stored as `m` codes into per-subspace codebooks, and
    * query scoring reads ONLY the codes via a per-query lookup table
    * (`cos(q,v) ≈ Σ_j dot(q_j, cb_j[code_j])`), so the rank pass touches
    * m bytes per vector instead of d doubles — at corpus scale the
    * difference between an in-memory scan and a disk-bound one (d=64, m=8:
    * 64× smaller than raw doubles, 8× smaller than int8).
    *
    * Codebooks are DETERMINISTIC: the subspace slices of the first
    * `codebookSize` corpus vectors — the same fixed-seed convention as
    * [[ivfTopK]], which keeps the SQL oracle replicable bit-for-bit
    * (k-means-refined codebooks per subspace drop in without changing the
    * plan: same broadcast shape, see [[kmeansCentroids]]). Encoding is
    * argmin subspace L2, ties to the lowest code. Scores are approximate by
    * construction; the oracle computes the IDENTICAL ADC values (all sums
    * in fixed index order), so the driver check is still exact.
    *
    * Plan shape: one narrow encode+score kernel over the corpus (codebooks,
    * queries, and the ADC lookup tables ride a broadcast; LUT is
    * queries × m × codebookSize doubles) + one top-k window on q_id.
    */
  def pqTopK(
      df: DataFrame, idCol: String, vecCol: String,
      queryPred: Column, k: Int, m: Int = 8, codebookSize: Int = 16): DataFrame = {
    // one materialization serves the codebook collect, the query collect,
    // and the corpus scan (leak-free reuse cache, see Dedup.cachedForReuse)
    val pn = prepared(df, idCol, vecCol).localCheckpoint(true)
    pqScore(pn, fixedCodebooks(pn, m, codebookSize), queryPred, k)
  }

  /** Fixed deterministic codebooks: subspace slices of the first
    * `codebookSize` corpus vectors (the [[ivfTopK]] convention — SQL-oracle
    * replicable).
    */
  private def fixedCodebooks(
      pn: DataFrame, m: Int, codebookSize: Int): Array[Array[Array[Double]]] = {
    def unit(v: Array[Double], nrm: Double): Array[Double] = v.map(_ / nrm)
    val cbRows = pn.filter(col("vec_id") < codebookSize)
      .select(col("vec_id"), col("v"), col("nrm"))
      .collect().sortBy(_.getLong(0))
      .map(r => unit(r.getSeq[Double](1).toArray, r.getDouble(2)))
    require(cbRows.length == codebookSize, s"corpus smaller than $codebookSize")
    val dims = cbRows.head.length
    require(dims % m == 0, s"dims $dims not divisible by m=$m")
    val sub = dims / m
    // cb(j)(c)(i) = codebook vector c's slice in subspace j
    Array.tabulate(m, codebookSize, sub)((j, c, i) => cbRows(c)(j * sub + i))
  }

  /** PQ with per-subspace L2 Lloyd-TRAINED codebooks — the quality path on
    * top of [[pqTopK]]'s fixed oracle-replicable convention. Codebooks are
    * classically trained on a bounded sample: the first `sampleN` vectors by
    * id are collected (sampleN × dims doubles — the same bounded-collect
    * shape as the IVF centroid set), each subspace runs `iters` Lloyd
    * rounds on the driver (init = first `codebookSize` distinct subvectors,
    * argmin-L2 assignment with ties to the lowest code, empty cells keep
    * their centroid). Deterministic end-to-end; encode/score identical to
    * [[pqTopK]].
    */
  def pqTopKTrained(
      df: DataFrame, idCol: String, vecCol: String,
      queryPred: Column, k: Int, m: Int = 8, codebookSize: Int = 16,
      iters: Int = 10, sampleN: Int = 2048): DataFrame = {
    val pn = prepared(df, idCol, vecCol).localCheckpoint(true)
    pqScore(pn, trainedCodebooks(pn, m, codebookSize, iters, sampleN), queryPred, k)
  }

  private def trainedCodebooks(
      pn: DataFrame, m: Int, codebookSize: Int,
      iters: Int, sampleN: Int): Array[Array[Array[Double]]] = {
    def unit(v: Array[Double], nrm: Double): Array[Double] = v.map(_ / nrm)
    val sample = pn.orderBy(col("vec_id")).limit(sampleN)
      .select(col("vec_id"), col("v"), col("nrm"))
      .collect()
      .map(r => unit(r.getSeq[Double](1).toArray, r.getDouble(2)))
    require(sample.nonEmpty, "empty corpus")
    val dims = sample.head.length
    require(dims % m == 0, s"dims $dims not divisible by m=$m")
    val sub = dims / m
    Array.tabulate(m) { j =>
      lloydL2(sample.map(u => java.util.Arrays.copyOfRange(u, j * sub, (j + 1) * sub)),
        codebookSize, iters)
    }
  }

  /** Driver-side Lloyd iterations under plain L2 — PQ's subspace trainer.
    * Deterministic: init = first k DISTINCT points in input order (padded
    * with repeats of the last if fewer), argmin-L2 with ties to the lowest
    * centroid, empty cells keep their previous centroid.
    */
  private def lloydL2(
      points: Array[Array[Double]], k: Int, iters: Int): Array[Array[Double]] = {
    val distinct = scala.collection.mutable.LinkedHashSet[Seq[Double]]()
    points.foreach(p => if (distinct.size < k) distinct += p.toSeq)
    var cents = Array.tabulate(k)(i =>
      (if (i < distinct.size) distinct.toSeq(i) else distinct.toSeq.last).toArray)
    var it = 0
    while (it < iters) {
      val sums = Array.fill(k)(new Array[Double](points.head.length))
      val counts = new Array[Long](k)
      points.foreach { p =>
        var best = 0; var bestD = Double.MaxValue
        var c = 0
        while (c < k) {
          var d = 0.0; var i = 0
          while (i < p.length) { val t = p(i) - cents(c)(i); d += t * t; i += 1 }
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        counts(best) += 1
        var i = 0
        while (i < p.length) { sums(best)(i) += p(i); i += 1 }
      }
      cents = Array.tabulate(k)(c =>
        if (counts(c) == 0) cents(c) else sums(c).map(_ / counts(c)))
      it += 1
    }
    cents
  }

  /** Shared PQ encode+ADC-score+rank stage over a prepared, checkpointed
    * corpus frame and in-memory codebooks (see [[pqTopK]] for the contract).
    */
  private def pqScore(
      pn: DataFrame, cb: Array[Array[Array[Double]]],
      queryPred: Column, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = pn.sparkSession
    val m = cb.length
    val codebookSize = cb(0).length
    val sub = cb(0)(0).length
    def unit(v: Array[Double], nrm: Double): Array[Double] = v.map(_ / nrm)
    val qRows = pn.filter(queryPred)
      .select(col("vec_id"), col("v"), col("nrm"))
      .collect().sortBy(_.getLong(0))
      .map(r => (r.getLong(0), unit(r.getSeq[Double](1).toArray, r.getDouble(2))))
    // per-query ADC lookup table: lut(q)(j)(c) = dot(q_j, cb_j[c]), i ascending
    val lut = qRows.map { case (_, qu) =>
      Array.tabulate(m, codebookSize) { (j, c) =>
        var s = 0.0; var i = 0
        while (i < sub) { s += qu(j * sub + i) * cb(j)(c)(i); i += 1 }
        s
      }
    }
    val qIds = qRows.map(_._1)
    val bc = spark.sparkContext.broadcast((cb, qIds, lut))
    val outSchema = StructType(Seq(
      StructField("q_id", LongType, nullable = false),
      StructField("neighbor", LongType, nullable = false),
      StructField("adc", DoubleType, nullable = false)))
    val scored = pn.select(col("vec_id"), col("v"), col("nrm")).rdd
      .mapPartitions { it =>
        val (cbl, ids, luts) = bc.value
        val mm = cbl.length; val subl = cbl(0)(0).length; val size = cbl(0).length
        it.flatMap { r =>
          val vid = r.getLong(0)
          val u = unit(r.getSeq[Double](1).toArray, r.getDouble(2))
          // encode: argmin subspace L2, ties to the lowest code
          val codes = new Array[Int](mm)
          var j = 0
          while (j < mm) {
            var best = 0; var bestD = Double.MaxValue
            var c = 0
            while (c < size) {
              var d = 0.0; var i = 0
              while (i < subl) {
                val t = u(j * subl + i) - cbl(j)(c)(i); d += t * t; i += 1
              }
              if (d < bestD) { bestD = d; best = c }
              c += 1
            }
            codes(j) = best
            j += 1
          }
          // ADC per query: outer sum j ascending (mirrors the oracle)
          ids.indices.iterator.filter(qi => ids(qi) != vid).map { qi =>
            var s = 0.0; var jj = 0
            while (jj < mm) { s += luts(qi)(jj)(codes(jj)); jj += 1 }
            Row(ids(qi), vid, s)
          }
        }
      }
    val w = Window.partitionBy(col("q_id")).orderBy(col("adc").desc, col("neighbor"))
    spark.createDataFrame(scored, outSchema)
      .withColumn("rnk", row_number().over(w).cast(LongType))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("neighbor"), col("adc"), col("rnk"))
  }

  /** The production PQ shape: ADC shortlist (`shortlist` candidates per
    * query, codes-only scan via [[pqTopK]]) → EXACT cosine rerank of only
    * the shortlist → top-k. Recall is set by the shortlist size (the
    * candidate set), exactness of the final ordering by the rerank — the
    * same candidates-then-verify structure as every dedup pipeline here.
    */
  def pqTopKReranked(
      df: DataFrame, idCol: String, vecCol: String,
      queryPred: Column, k: Int, m: Int = 8, codebookSize: Int = 16,
      shortlist: Int = 64, trained: Boolean = false): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(shortlist >= k)
    // ONE checkpointed corpus serves codebook build, ADC scoring, AND the
    // exact rerank's vector lookups — a fresh prepared(df) here would re-scan
    // and re-normalize the full corpus a second time
    val pn = prepared(df, idCol, vecCol).localCheckpoint(true)
    val cb =
      if (trained) trainedCodebooks(pn, m, codebookSize, iters = 10, sampleN = 2048)
      else fixedCodebooks(pn, m, codebookSize)
    val cand = pqScore(pn, cb, queryPred, shortlist)
    val qv = pn.filter(queryPred)
      .select(col("vec_id").as("q_id"), col("v").as("q_v"), col("nrm").as("q_nrm"))
    val scored = cand.select("q_id", "neighbor")
      .join(pn.select(col("vec_id").as("neighbor"), col("v"), col("nrm")), "neighbor")
      .join(broadcast(qv), "q_id")
      .withColumn("cosine", dot(col("q_v"), col("v")) / (col("q_nrm") * col("nrm")))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cosine").desc, col("neighbor"))
    scored.withColumn("rnk", row_number().over(w).cast(LongType))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("neighbor"), col("cosine"), col("rnk"))
  }

  /** Deterministic pseudo-random hyperplane coefficient for (plane j, dim d):
    * LCG over the flattened index, mapped to [−0.5, 0.5). Exact integer
    * arithmetic + one exact power-of-two division → identical whether
    * evaluated here, in Spark SQL, or in a DuckDB oracle.
    */
  def planeCoef(j: Int, d: Int, dims: Int): Double =
    ((1103515245L * (j.toLong * dims + d) + 12345L) % 2147483648L) / 2147483648.0 - 0.5

  /** Signature bucket: `bits`-bit sign pattern of dots with the hyperplanes.
    * Plane coefficients are baked in as literal arrays (computing the LCG
    * per row×plane×dim in the expression tree costs more than the dots).
    */
  def lshBuckets(df: DataFrame, idCol: String, vecCol: String, bits: Int, dims: Int): DataFrame = {
    val bucket = (0 until bits).map { j =>
      val plane = array((0 until dims).map(d => lit(planeCoef(j, d, dims))): _*)
      when(dot(col("v"), plane) > 0.0, lit(1L << j))
        .otherwise(lit(0L))
    }.reduce(_ + _)
    prepared(df, idCol, vecCol).withColumn("bucket", bucket)
  }

  /** Multi-table LSH buckets — OR-amplification, the standard recall lever:
    * `tables` independent plane sets (table t uses planes t·bits … t·bits+
    * bits−1 of the same deterministic LCG stream; table 0 is exactly
    * [[lshBuckets]]), one `(tbl, bucket)` row per vector per table. A true
    * neighbor is a candidate if it collides in ANY table, so recall ≈
    * 1−(1−p^bits)^tables — tunable upward without coarsening buckets. Cost
    * scales linearly in `tables` (rows replicated per table, candidates
    * unioned); still an equi-join, still partitions evenly.
    */
  def lshBucketsMulti(
      df: DataFrame, idCol: String, vecCol: String,
      bits: Int, dims: Int, tables: Int): DataFrame = {
    val p = prepared(df, idCol, vecCol)
    val tb = (0 until tables).map { t =>
      val bucket = (0 until bits).map { j =>
        val plane = array((0 until dims).map(d => lit(planeCoef(t * bits + j, d, dims))): _*)
        when(dot(col("v"), plane) > 0.0, lit(1L << j)).otherwise(lit(0L))
      }.reduce(_ + _)
      struct(lit(t).as("tbl"), bucket.as("bucket"))
    }
    p.withColumn("__tb", explode(array(tb: _*)))
      .select(col("vec_id"), col("v"), col("nrm"),
        col("__tb.tbl").as("tbl"), col("__tb.bucket").as("bucket"))
  }

  /** IVF-structured ANN: assign every vector to its nearest "centroid" cell,
    * then answer queries by exact cosine ranking within the query's cell.
    *
    * The coarse quantizer here is deliberately trivial — the first
    * `nCells` vectors by id act as centroids (deterministic, reproducible in
    * a SQL oracle). Production IVF plugs k-means centroids into the same
    * structure; the Spark plumbing (broadcast centroids → per-row
    * argmax-cosine fold → equi-join on cell) is identical and is what
    * scales: assignment is one narrow pass, search is an equi-join.
    */
  /** Argmax-cosine cell assignment against a (small, broadcast) centroid
    * frame `(c_id, cv, cn)`. One GENUINELY narrow pass over the corpus: the
    * k centroids pack into a single array-of-struct row that broadcasts
    * under every corpus row (BroadcastNestedLoopJoin with a 1-row side),
    * and the argmax is the native codegen'd
    * [[graft.functions.AssignCellExpr]] — one primitive loop per row,
    * cosine strictly greater wins, exact ties go to the LOWEST centroid
    * id, and the comparison is total, so the result is independent of
    * centroid array order. No corpus×k expansion, no per-vec_id window
    * exchange — the corpus is never shuffled (the previous shape paid a
    * corpus×k row_number shuffle PER assignment pass, which a Lloyd loop
    * multiplies by its iteration count; at 100 TB that was the whole
    * cost). Assumes no zero-norm/null vectors (cosine NaN → engine-
    * dependent argmax — the mx28 precondition). Empty centroid frames
    * yield an empty result (the inner-join semantics of the old shape).
    * Output: `(vec_id, v, nrm, cell, cell_cos)`.
    *
    * Precondition VIOLATIONS SURFACE instead of silently shrinking the
    * output: rows whose vector or norm is null (nullSafeEval → null best)
    * are dropped by the isNotNull filter, and an `observe` metric counts
    * them just before that filter — a per-session QueryExecutionListener
    * logs a WARNING with the count whenever an execution drops any. The
    * metric is a CollectMetrics node AFTER the heavy argmax projection, so
    * the kernel's whole-stage-codegen span is unchanged; callers that
    * enforce the precondition upstream (EmbeddingGuardTransformer) never
    * trigger it.
    */
  def assignCells(p: DataFrame, cents: DataFrame): DataFrame = {
    val packed = cents.agg(collect_list(struct(
      col("c_id").cast(LongType).as("c_id"), col("cv"), col("cn"))).as("__cents"))
    assignTail(p.crossJoin(broadcast(packed)), col("__cents"))
  }

  /** [[assignCells]] against a DRIVER-RESIDENT codebook `(c_id, cv, cn)` —
    * a Lloyd round's current centroids, or any collected/local quantizer:
    * the packed array becomes a plan LITERAL, so the pass is ONE narrow
    * projection with NO aggregation job and NO broadcast-future job per
    * execution (an iterative trainer pays those per round; mx29's Lloyd
    * loop was 2 scheduler jobs per iteration of pure packing overhead).
    * Identical kernel, bit-identical assignments.
    */
  def assignCellsLit(
      p: DataFrame, cents: Seq[(Long, Array[Double], Double)]): DataFrame =
    assignTail(p, typedlit(cents.map { case (id, cv, cn) => (id, cv.toSeq, cn) }))

  /** Exact driver-side mirror of [[norm]]'s sequential-fold L2 norm — the
    * same left-to-right IEEE accumulation as [[graft.functions
    * .DotProductExpr]], so a collected codebook's `cn` is bit-identical to
    * the SQL-computed column.
    */
  def normLocal(v: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < v.length) { s += v(i) * v(i); i += 1 }
    math.sqrt(s)
  }

  private def assignTail(withCents: DataFrame, centsCol: Column): DataFrame = {
    installDropWarningListener(withCents.sparkSession)
    // observation names must be unique within one plan — a Lloyd loop or a
    // before/after report can compose several assignment passes
    val metricName = s"assign_cells_${assignObsId.incrementAndGet()}"
    withCents
      .withColumn("__best",
        call_function("assign_cell", col("v"), col("nrm"), centsCol))
      .observe(metricName,
        sum(when(col("__best").isNull, 1L).otherwise(0L)).as("dropped_nulls"))
      .filter(col("__best").isNotNull)
      .select(col("vec_id"), col("v"), col("nrm"),
        col("__best.cell").as("cell"), col("__best.cell_cos").as("cell_cos"))
  }

  private val assignObsId = new java.util.concurrent.atomic.AtomicLong
  private val dropListenerSessions =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[org.apache.spark.sql.SparkSession, java.lang.Boolean])

  /** Once per session: watch executed plans for `assign_cells_*` observed
    * metrics and warn when any assignment pass dropped null-vector rows —
    * the [[assignCells]] precondition audit.
    */
  private def installDropWarningListener(
      spark: org.apache.spark.sql.SparkSession): Unit =
    if (dropListenerSessions.putIfAbsent(spark, java.lang.Boolean.TRUE) == null)
      spark.listenerManager.register(new org.apache.spark.sql.util.QueryExecutionListener {
        private def check(qe: org.apache.spark.sql.execution.QueryExecution): Unit =
          qe.observedMetrics.foreach { case (name, row) =>
            if (name.startsWith("assign_cells_") && !row.isNullAt(0) && row.getLong(0) > 0)
              System.err.println(
                s"[graft] WARNING: assignCells dropped ${row.getLong(0)} row(s) with " +
                  "null vector/norm (metric " + name + ") — the no-null/no-zero-norm " +
                  "precondition is violated upstream (see EmbeddingGuardTransformer)")
          }
        override def onSuccess(
            funcName: String, qe: org.apache.spark.sql.execution.QueryExecution,
            durationNs: Long): Unit = check(qe)
        override def onFailure(
            funcName: String, qe: org.apache.spark.sql.execution.QueryExecution,
            exception: Exception): Unit = ()
      })

  def ivfTopK(
      df: DataFrame, idCol: String, vecCol: String,
      queryPred: Column, k: Int, nCells: Int): DataFrame = {
    val p = prepared(df, idCol, vecCol)
    val cents = p.filter(col("vec_id") < nCells)
      .select(col("vec_id").as("c_id"), col("v").as("cv"), col("nrm").as("cn"))
    ivfTopKWithCentroids(p, cents, queryPred, k)
  }

  /** IVF search against an arbitrary centroid frame (e.g. from
    * [[kmeansCentroids]]): assignment pass, then an equi-join on the cell.
    * `nProbe` is the recall lever: each query searches its `nProbe` nearest
    * cells (corpus vectors stay in their one home cell, so the candidate
    * space grows only on the query side — the standard IVF probe knob;
    * `nProbe = 1` is the plan the `sim3` oracle pins, `nProbe = nCells` is
    * exact search).
    */
  def ivfTopKWithCentroids(
      p: DataFrame, cents: DataFrame, queryPred: Column, k: Int,
      nProbe: Int = 1): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val assigned = assignCells(p, cents).drop("cell_cos")
    val wProbe = Window.partitionBy(col("vec_id")).orderBy(col("c_cos").desc, col("c_id"))
    val q = p.filter(queryPred).join(broadcast(cents))
      .withColumn("c_cos", dot(col("v"), col("cv")) / (col("nrm") * col("cn")))
      .withColumn("__rn", row_number().over(wProbe))
      .filter(col("__rn") <= nProbe)
      .select(col("vec_id").as("q_id"), col("v").as("q_v"), col("nrm").as("q_nrm"),
        col("c_id").as("cell"))
    val joined = assigned.join(broadcast(q), Seq("cell"))
      .filter(col("q_id") =!= col("vec_id"))
      .withColumn("cosine", dot(col("q_v"), col("v")) / (col("q_nrm") * col("nrm")))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cosine").desc, col("vec_id"))
    joined.withColumn("rnk", row_number().over(w).cast(LongType))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("vec_id").as("neighbor"), col("cosine"), col("rnk"))
  }

  /** Corpus prepared for [[ivfTopKWithCentroids]]/[[assignCells]]:
    * `(vec_id, v, nrm)`. */
  def preparedCorpus(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    prepared(df, idCol, vecCol)

  /** Deterministic per-member sampling key for [[kmeansCentroids]]'s cell
    * cap: the 64-bit murmur3 finalizer (fmix64) of the vec id — a fixed
    * public mixing function, so "the `cap` members with the smallest
    * (hash, id)" is a stable pseudo-random sample independent of shuffle
    * arrival order, partitioning, and engine.
    */
  private[graft] def sampleHash(id: Long): Long = {
    var h = id
    h ^= (h >>> 33); h *= 0xff51afd7ed558ccdL
    h ^= (h >>> 33); h *= 0xc4ceb9fe1a85ec53L
    h ^= (h >>> 33)
    h
  }

  /** Spherical k-means (Lloyd) coarse quantizer — the production centroid
    * source for IVF. Deterministic: init = the first `k` vectors by id, a
    * fixed `iters` iteration count, argmax-cosine assignment (ties → lowest
    * cell id), update = componentwise mean of members; an emptied cell keeps
    * its previous centroid.
    *
    * Scale shape: each round is ONE broadcast-assignment pass over the corpus
    * plus one key-grouped mean kernel; only the centroid set itself
    * (k × dims doubles — small by construction, same as any broadcast dim)
    * ever reaches the driver. Returns a centroid frame `(c_id, cv, cn)`.
    *
    * `sampleCap` bounds the per-cell training set: a cell with more members
    * than the cap trains its mean on the `sampleCap` members with the
    * smallest ([[sampleHash]], id) — selected STREAMING through a bounded
    * heap, so task memory is O(cap × dims) however hot the cell, and the
    * selection (hence the centroid) is deterministic for any arrival order.
    * Cells at or under the cap train on every member, bit-identically to
    * the uncapped kernel (spec-pinned).
    */
  def kmeansCentroids(
      df: DataFrame, idCol: String, vecCol: String, k: Int, iters: Int,
      sampleCap: Int = 1 << 18): DataFrame = {
    val p = prepared(df, idCol, vecCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try kmeansFromPrepared(p, k, iters, sampleCap)
    finally { p.unpersist(); () }
  }

  /** [[kmeansCentroids]] over an ALREADY-prepared (and already-materialized)
    * `(vec_id, v, nrm)` frame — the entry point for callers that hold the
    * corpus in a shared memo ([[graft.queries.Shared]]) and must not pay a
    * second persist/unpersist cycle of the same rows.
    */
  def kmeansFromPrepared(
      p: DataFrame, k: Int, iters: Int, sampleCap: Int = 1 << 18): DataFrame = {
    require(sampleCap > 0, s"sampleCap must be positive, got $sampleCap")
    // the one Catalyst action left (the init scan) runs non-adaptively: a
    // fixed orderBy-limit shape where AQE only adds scheduler jobs
    graft.operators.Dedup.withStaticPlan(p.sparkSession) {
    val spark = p.sparkSession
    import spark.implicits._
    // norms via the bit-identical driver fold, so the returned codebook is
    // a PURE LocalRelation (memoizable session-wide, collect-able and
    // broadcast-able without a single scheduler job)
    def centFrame(cs: Array[(Long, Array[Double])]): DataFrame =
      cs.toSeq.map { case (id, v) => (id, v, normLocal(v)) }
        .toDF("c_id", "cv", "cn")
    var cents: Array[(Long, Array[Double])] = p.orderBy("vec_id").limit(k)
      .select(col("vec_id"), col("v")).as[(Long, Array[Double])].collect()
      .zipWithIndex.map { case ((_, v), i) => (i.toLong, v) }
    // The Lloyd rounds run as PLAIN RDD jobs over ONE planned conversion of
    // the prepared corpus (round 16): the previous shape re-planned a fresh
    // Catalyst DAG per round — the literal codebook makes every round's plan
    // NEW, so each of the `iters` rounds paid analyzer + optimizer + codegen
    // on the driver (~0.2 s × iters × every kmeansFromPrepared consumer,
    // the dd26/mx29 ProfStages planning gap). An RDD round has NO planning:
    // the codebook travels as a per-round broadcast and the kernel below
    // mirrors the Catalyst path bit-exactly —
    //  - assignment mirrors [[graft.functions.AssignCellExpr.assign]]
    //    (same sequential-fold dot, strict->, ties to lowest id, NaN skip);
    //  - the cap-smallest-(sampleHash, id) member sample is a SET function,
    //    so per-partition bounded heaps merged by reduceByKey (map-side
    //    combining — strictly less shuffle than the old groupByKey) select
    //    exactly the global cap-smallest set;
    //  - means accumulate in vec_id order, the shuffle-order-independent
    //    fold the kmeansCentroids discipline pins.
    if (iters > 0) {
      val vecs = p.select(col("vec_id"), col("v"), col("nrm"))
        .as[(Long, Array[Double], Double)].rdd
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val cap = sampleCap
        var it = 0
        while (it < iters) {
          val bc = spark.sparkContext.broadcast(
            cents.map { case (id, v) => (id, v, normLocal(v)) })
          type Member = (Long, Long, Array[Double]) // (sampleHash, id, v)
          implicit val ord: Ordering[Member] =
            Ordering.by { case (h, id, _) => (h, id) } // max-heap on (hash, id)
          def push(heap: scala.collection.mutable.PriorityQueue[Member], m: Member): Unit = {
            if (heap.size < cap) heap.enqueue(m)
            else if (ord.lt(m, heap.head)) { heap.dequeue(); heap.enqueue(m) }
          }
          val means = vecs.mapPartitions { rows =>
            val cs = bc.value
            val heaps = scala.collection.mutable.LongMap
              .empty[scala.collection.mutable.PriorityQueue[Member]]
            rows.foreach { case (id, v, nrm) =>
              // AssignCellExpr.assign, verbatim on driver-side arrays
              var bestId = 0L; var bestCos = 0.0
              var found = false; var minId = Long.MaxValue
              var i = 0
              while (i < cs.length) {
                val (cid, cv, cn) = cs(i)
                if (cid < minId) minId = cid
                val n = math.min(v.length, cv.length)
                var acc = 0.0; var j = 0
                while (j < n) { acc += v(j) * cv(j); j += 1 }
                val cos = acc / (nrm * cn)
                if (!cos.isNaN &&
                    (!found || cos > bestCos || (cos == bestCos && cid < bestId))) {
                  found = true; bestCos = cos; bestId = cid
                }
                i += 1
              }
              val cell = if (found) bestId else minId
              push(heaps.getOrElseUpdate(cell,
                scala.collection.mutable.PriorityQueue.empty[Member]), (sampleHash(id), id, v))
            }
            heaps.iterator.map { case (cell, h) => (cell, h.dequeueAll.toArray) }
          }.reduceByKey { (a, b) =>
            // merge two partial cap-smallest sets: the union's cap smallest
            val heap = scala.collection.mutable.PriorityQueue.empty[Member]
            a.foreach(push(heap, _)); b.foreach(push(heap, _))
            heap.dequeueAll.toArray
          }.mapValues { members0 =>
            val members = members0.map(t => (t._2, t._3)).sortBy(_._1)
            val acc = new Array[Double](members(0)._2.length)
            members.foreach { case (_, v) =>
              var i = 0
              while (i < v.length) { acc(i) += v(i); i += 1 }
            }
            acc.map(_ / members.length)
          }.collect().toMap
          bc.unpersist(false)
          cents = cents.map { case (id, v) => (id, means.getOrElse(id, v)) }
          it += 1
        }
      } finally { vecs.unpersist(false); () }
    }
    centFrame(cents)
    }
  }

  /** IVF recall audit across probe depths — the [[recallAtK]] idea turned
    * into ONE corpus-shaped report: for every `nProbe` in `probes`, recall@k
    * of IVF search against the exact brute-force top-k, on the same query
    * set. The dd27 discipline applied to the vector path: dd25/sim3 pin
    * that the IVF plan is correct; this pins what the probe knob BUYS
    * (recall climbing toward 1.0 as nProbe → nCells).
    *
    * Cost shape (why this is not "run IVF |probes| times"): the corpus is
    * assigned ONCE, each query's centroid ranking is computed ONCE, one
    * candidate frame (cells with probe rank ≤ max(probes)) is scored ONCE —
    * and ALL probe depths rank in ONE WindowExec: for each probe p, a row's
    * rank within the crn ≤ p candidate subset is the running count
    * `sum(crn ≤ p ? 1 : 0)` over the same (cosine desc, neighbor) order, so
    * |probes| filtered ranks are |probes| window COLUMNS sharing a single
    * partition/sort, not |probes| plan branches. Rows in no probe's top-k
    * drop immediately (query-scale survivor set), truth joins once, and one
    * aggregate emits every per-probe hit count, exploded to the report rows
    * at the end. No unions, no caches, no repeated passes — the job count
    * stays flat as `probes` grows. At 100 TB the scored frame is
    * queries×(probe-cells × cell size) — query-scale, not corpus-scale.
    */
  def ivfRecallReport(
      df: DataFrame, idCol: String, vecCol: String,
      queryPred: Column, k: Int, nCells: Int, probes: Seq[Int]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(probes.nonEmpty && probes.forall(_ >= 1), "probes must be >= 1")
    val ps = probes.distinct.sorted
    val maxProbe = ps.max
    val p = prepared(df, idCol, vecCol)
    val cents = p.filter(col("vec_id") < nCells)
      .select(col("vec_id").as("c_id"), col("v").as("cv"), col("nrm").as("cn"))
    val assigned = assignCells(p, cents).drop("cell_cos")
    // per-query centroid ranking, kept to the deepest probe once
    val wProbe = Window.partitionBy(col("vec_id")).orderBy(col("c_cos").desc, col("c_id"))
    val qCells = p.filter(queryPred).join(broadcast(cents))
      .withColumn("c_cos", dot(col("v"), col("cv")) / (col("nrm") * col("cn")))
      .withColumn("crn", row_number().over(wProbe))
      .filter(col("crn") <= maxProbe)
      .select(col("vec_id").as("q_id"), col("v").as("q_v"), col("nrm").as("q_nrm"),
        col("c_id").as("cell"), col("crn"))
    // single scored candidate frame across all probe depths
    val cand = assigned.join(broadcast(qCells), Seq("cell"))
      .filter(col("q_id") =!= col("vec_id"))
      .withColumn("cosine", dot(col("q_v"), col("v")) / (col("q_nrm") * col("nrm")))
      .select(col("q_id"), col("vec_id").as("neighbor"), col("cosine"), col("crn"))
    // one window, |probes| running-count columns = filtered ranks
    val wRank = Window.partitionBy(col("q_id"))
      .orderBy(col("cosine").desc, col("neighbor"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val ranked = ps.foldLeft(cand) { (acc, np) =>
      acc.withColumn(s"rk$np",
        sum(when(col("crn") <= np, 1L).otherwise(0L)).over(wRank))
    }
    val inTop = ps.map(np => col("crn") <= np && col(s"rk$np") <= k)
    val survivors = ranked.filter(inTop.reduce(_ || _))
      .select(col("q_id") +: col("neighbor") +:
        ps.map(np => inTop(ps.indexOf(np)).as(s"in$np")): _*)
    val truth = bruteForceTopK(df, df.filter(queryPred), idCol, vecCol, k)
      .select(col("q_id"), col("neighbor"))
    // truth is queries×k rows; survivors are queries×k×|probes| — both tiny
    val joined = truth.join(survivors, Seq("q_id", "neighbor"), "left")
    val aggCols = Seq(count(lit(1)).as("n_truth")) ++
      ps.map(np => sum(when(col(s"in$np"), 1L).otherwise(0L)).as(s"h$np"))
    val aggRow = joined.agg(
      countDistinct(col("q_id")).as("n_queries"), aggCols: _*)
    val stacked = ps.map(np =>
        s"${np}L, h$np").mkString("stack(" + ps.length + ", ", ", ", ")")
    aggRow.select(col("n_queries"), col("n_truth"),
        expr(s"$stacked as (n_probe, n_hit)"))
      .select(col("n_probe"), col("n_queries"), col("n_truth"), col("n_hit"),
        expr("n_hit * 10000 div n_truth").as("recall_bp"))
      .orderBy(col("n_probe"))
  }

  /** Hyperplane-LSH recall/cost audit across bucket widths — the sim10
    * report for the LSH path: what does each additional hyperplane bit
    * buy (smaller candidate buckets) and cost (lost true neighbors)?
    * For each width w in `widths` (a PREFIX of the full `bits`-plane
    * signature — plane j contributes bit j, so width w uses planes
    * 0..w−1):
    *
    *   n_hits(w)       = |exact top-k pairs whose buckets agree on the
    *                      low w bits|               (recall numerator)
    *   n_candidates(w) = Σ_q |corpus vectors sharing q's w-bit prefix|
    *                      − n_queries (self)         (the cost axis)
    *
    * recall_bp = 10⁴·hits div truth — exact integers throughout; the
    * only doubles are the cosine rankings both engines already replay
    * bit-for-bit (sim1/sim2 precedent).
    *
    * Scale: the ground truth is the brute-force pass you run on a
    * SAMPLED query set (the sim10 contract); the candidate-volume axis
    * needs NO pairwise work at all — one explode of |widths| prefix rows
    * per corpus vector, one (width, prefix) count, one tiny join against
    * the queries' prefixes.
    */
  def lshRecallReport(
      df: DataFrame, idCol: String, vecCol: String,
      queryPred: Column, k: Int, widths: Seq[Int],
      bits: Int, dims: Int): DataFrame = {
    require(widths.nonEmpty && widths.distinct == widths &&
      widths == widths.sorted && widths.forall(w => w >= 1 && w <= bits),
      "lshRecallReport: widths must be sorted, distinct, within 1..bits")
    val sig = lshBuckets(df, idCol, vecCol, bits, dims)
      .select(col("vec_id"), col("bucket"))
    val qSig = sig.filter(queryPred).select(
      col("vec_id").as("q_id"), col("bucket").as("q_bucket"))
    // recall numerator: exact top-k pairs whose prefixes agree
    val truth = bruteForceTopK(df, df.filter(queryPred), idCol, vecCol, k)
      .select(col("q_id"), col("neighbor"))
    val flagged = truth
      .join(broadcast(qSig), Seq("q_id"))
      .join(sig.select(col("vec_id").as("neighbor"), col("bucket").as("n_bucket")),
        Seq("neighbor"))
    val hitCols = widths.map { w =>
      val m = (1L << w) - 1
      sum(when((col("q_bucket").bitwiseAND(m)) === (col("n_bucket").bitwiseAND(m)),
        1L).otherwise(0L)).as(s"h$w")
    }
    val hitsRow = flagged.agg(
      countDistinct(col("q_id")).as("n_queries"),
      count(lit(1)).as("n_truth") +: hitCols: _*)
    // cost axis: per-width prefix populations, no pairwise work
    val prefixes = sig.select(col("vec_id"),
        explode(array(widths.map(w =>
          struct(lit(w).as("w"),
            col("bucket").bitwiseAND((1L << w) - 1).as("pfx"))): _*)).as("e"))
      .select(col("e.w").as("w"), col("e.pfx").as("pfx"))
      .groupBy(col("w"), col("pfx")).agg(count(lit(1)).as("c"))
    val qPrefixes = qSig.select(col("q_id"),
        explode(array(widths.map(w =>
          struct(lit(w).as("w"),
            col("q_bucket").bitwiseAND((1L << w) - 1).as("pfx"))): _*)).as("e"))
      .select(col("q_id"), col("e.w").as("w"), col("e.pfx").as("pfx"))
    val cand = qPrefixes.join(prefixes, Seq("w", "pfx"))
      .groupBy(col("w"))
      .agg((sum(col("c")) - countDistinct(col("q_id"))).as("n_candidates"))
    val stacked = widths.map(w => s"${w}L, h$w")
      .mkString("stack(" + widths.length + ", ", ", ", ")")
    hitsRow
      .select(col("n_queries"), col("n_truth"),
        expr(s"$stacked as (width_bits, n_hits)"))
      .join(cand.withColumnRenamed("w", "width_bits"), Seq("width_bits"))
      .select(col("width_bits"), col("n_queries"), col("n_truth"),
        col("n_hits"), expr("n_hits * 10000 div n_truth").as("recall_bp"),
        col("n_candidates"))
      .orderBy(col("width_bits"))
  }

  /** Recall@k of an approximate ANN result against the exact baseline: per
    * query, |approx ∩ exact| / |exact| over the neighbor sets (both frames in
    * the `(q_id, neighbor, ...)` shape the top-k operators emit). THE tuning
    * number for LSH `bits` / IVF `nCells` at corpus scale — a user trades
    * recall for the subquadratic candidate space, and this makes the trade
    * measurable (spec-pinned in KmeansIvfSpec; run it on a sampled query set
    * in production). Queries the approximate path missed entirely surface
    * with `hits = 0`, not silently absent.
    */
  def recallAtK(approx: DataFrame, exact: DataFrame): DataFrame = {
    val a = approx.select(col("q_id"), col("neighbor"))
    val e = exact.select(col("q_id"), col("neighbor"))
    val hits = a.join(e, Seq("q_id", "neighbor")).groupBy("q_id")
      .agg(count(lit(1)).as("hits"))
    e.groupBy("q_id").agg(count(lit(1)).as("total"))
      .join(hits, Seq("q_id"), "left")
      .na.fill(0L, Seq("hits"))
      .withColumn("recall", col("hits") / col("total"))
      .select("q_id", "hits", "total", "recall")
  }

  /** Approximate top-k: exact cosine ranking within the query's LSH
    * bucket(s). Deterministic; recall is tuned by `bits` (bucket coarseness)
    * and `tables` (OR-amplification across independent plane sets — a
    * candidate needs to collide in ANY table). `tables = 1` is the
    * single-table plan the `sim2` oracle pins; [[recallAtK]] measures the
    * operating point.
    */
  def lshTopK(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, bits: Int, dims: Int,
      tables: Int = 1): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val c = lshBucketsMulti(corpus, idCol, vecCol, bits, dims, tables)
    val q = lshBucketsMulti(queries, idCol, vecCol, bits, dims, tables)
      .select(col("vec_id").as("q_id"), col("v").as("q_v"), col("nrm").as("q_nrm"),
        col("tbl"), col("bucket"))
    // candidates = any-table collision; dedupe (q, neighbor) before scoring
    // so multi-table hits are ranked once
    val cand = c.join(broadcast(q), Seq("tbl", "bucket"))
      .filter(col("q_id") =!= col("vec_id"))
      .groupBy(col("q_id"), col("vec_id"))
      .agg(first(col("q_v")).as("q_v"), first(col("q_nrm")).as("q_nrm"),
        first(col("v")).as("v"), first(col("nrm")).as("nrm"))
    val joined = cand
      .withColumn("cosine", dot(col("q_v"), col("v")) / (col("q_nrm") * col("nrm")))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cosine").desc, col("vec_id"))
    joined.withColumn("rnk", row_number().over(w).cast(LongType))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("vec_id").as("neighbor"), col("cosine"), col("rnk"))
  }
}
