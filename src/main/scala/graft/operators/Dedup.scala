package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.core.Blocks

/** Deduplication operators for web-scale corpora: exact (hash group-by),
  * MinHash+LSH (shingle → minhash → band → bucket-join → verify), SimHash,
  * and n-gram Jaccard with an inverted-index candidate generator.
  *
  * Scale design: every stage is a narrow map or a key-partitioned
  * shuffle/join — no driver-side state, no O(n²) step. Candidate generation
  * (LSH bands / rare-gram inverted index) bounds the pair space so the exact
  * verification join touches only plausible near-duplicates; this is the
  * standard architecture for 100 TB dedup (band keys and gram keys partition
  * evenly, and skewed hot buckets can be salted).
  *
  * Numerics/hashing: token and shingle hashes derive from `md5` hex prefixes
  * (61-bit field values for the MinHash/bottom-k kernels, 32-bit for SimHash
  * token bits), so signatures are engine-independent and reproducible
  * anywhere md5 exists (the DuckDB oracles compute the identical signatures
  * in SQL).
  */
object Dedup {

  /** 32-bit deterministic content hash as BIGINT (md5 hex prefix). */
  def hash32(c: Column): Column =
    conv(substring(md5(c), 1, 8), 16, 10).cast(LongType)

  /** A small corpus read from one parquet file arrives as ONE partition, and
    * the signature/shingle expressions would run on a single core. Spread the
    * input across the cluster's parallelism BEFORE the expensive per-row
    * stages (on a many-file corpus at real scale this is a no-op).
    */
  private[graft] def spread(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < target) df.repartition(target) else df
  }

  /** Run `body` (whose contained ACTIONS execute now, not lazily) with
    * adaptive query execution disabled, restoring the previous setting
    * after. For ITERATIVE loops only: each round's plan is a fixed one- or
    * two-shuffle shape over a bounded, already-materialized frame, so AQE's
    * runtime re-planning can change nothing — but it schedules every
    * exchange as its own Spark job, multiplying per-round job count 3-5×.
    * Driver-side job-submission latency is a real per-job cost (on a busy
    * 1000-executor cluster scheduler round-trips dominate small stages), so
    * an N-round loop pays it 3-5N times for zero plan improvement. One-shot
    * kernels and data-sized scans keep AQE (skew splitting / partition
    * coalescing genuinely help there).
    *
    * Frames RETURNED out of the scope are unaffected: AQE on/off is read at
    * each action's own execution time, so only actions triggered inside
    * `body` (the loop's eager checkpoints) run non-adaptively.
    */
  def withStaticPlan[T](spark: org.apache.spark.sql.SparkSession)(body: => T): T = {
    val key = "spark.sql.adaptive.enabled"
    val prev = spark.conf.get(key, "true")
    spark.conf.set(key, "false")
    try body finally spark.conf.set(key, prev)
  }

  /** Cache an expensive kernel output that feeds SEVERAL downstream plan
    * branches (band explode + both sides of a verify join) WITHOUT a
    * session-lifetime leak. `Dataset.persist` blocks are pinned by the
    * session's CacheManager until an explicit `unpersist()`/`clearCache()` —
    * impossible to time correctly when the returned result is lazy (the
    * pattern r3 removed from `Similarity.lshNearDuplicatePairs`). An
    * RDD-level persist has no such pin: once the caller drops the returned
    * frame (the only reference to the RDD), Spark's ContextCleaner GC hook
    * auto-unpersists the blocks. Same cached-compute-once semantics, bounded
    * lifetime.
    */
  def cachedForReuse(df: DataFrame): DataFrame =
    // eager localCheckpoint: materializes ONCE into an RDD-level cache of
    // InternalRows (no row-format conversion on read, unlike a df.rdd
    // round-trip — measured 2-4x faster on the dedup suite) and truncates
    // lineage. Crucially the blocks are NOT pinned by the session
    // CacheManager the way Dataset.persist's are: when the caller drops the
    // returned frame, the ContextCleaner GC hook frees them. Tradeoff, by
    // design: checkpoint blocks are executor-local (MEMORY_AND_DISK), so an
    // executor loss mid-query fails the query instead of recomputing — on a
    // long cluster run prefer reliable `checkpoint()` for multi-hour jobs.
    df.localCheckpoint(true)

  /** [[cachedForReuse]] for a multi-consumer frame, unless it already IS a
    * materialized table ([[Blocks.materialized]]): a driver-local frame, or
    * a scan of a live checkpoint or persisted RDD (a prior checkpoint,
    * possibly with empty-union branches pruned by the optimizer — a
    * bootstrap `empty.unionByName(cp)` optimizes to `cp`'s own scan, and
    * re-checkpointing it would copy it once more for zero reuse).
    */
  def materializedOnce(df: DataFrame): DataFrame =
    if (Blocks.materialized(df)) df else cachedForReuse(df)

  /** Exact big-integer sum accumulator (long fast path, BigInteger on
    * overflow) — lets an iterative loop read a convergence statistic out of
    * the SAME job that materializes the round's result, instead of paying a
    * separate aggregate action per round (the driver-environment stall is
    * charged per JOB, so round-loop job count is the scale lever).
    */
  private final class BigSumAccumulator
      extends org.apache.spark.util.AccumulatorV2[java.lang.Long, java.math.BigInteger] {
    private var small: Long = 0L
    private var big: java.math.BigInteger = java.math.BigInteger.ZERO
    override def isZero: Boolean = small == 0L && big.signum == 0
    override def copyAndReset(): BigSumAccumulator = new BigSumAccumulator
    override def copy(): BigSumAccumulator = {
      val c = new BigSumAccumulator; c.small = small; c.big = big; c
    }
    override def reset(): Unit = { small = 0L; big = java.math.BigInteger.ZERO }
    override def add(v: java.lang.Long): Unit =
      try small = Math.addExact(small, v.longValue())
      catch { case _: ArithmeticException =>
        big = big.add(java.math.BigInteger.valueOf(small))
        small = v.longValue()
      }
    override def merge(
        other: org.apache.spark.util.AccumulatorV2[java.lang.Long, java.math.BigInteger]): Unit =
      other match {
        case o: BigSumAccumulator =>
          big = big.add(o.big)
          add(o.small)
        case _ => throw new UnsupportedOperationException
      }
    override def value: java.math.BigInteger =
      big.add(java.math.BigInteger.valueOf(small))
  }

  /** Iterative-loop lineage cut over a two-long-column frame (a CC label
    * frame (id, comp), or an edge frame (u, v)): eagerly checkpoint `df`
    * and return the re-rooted frame with the fingerprint (count, Σ first
    * column, Σ second column), accumulated DURING the materialization job
    * — one action per round instead of a checkpoint plus an aggregate.
    *
    * A loop of the form `x = f(x)` where `f` references `x` more than once
    * (union + join) multiplies the LOGICAL plan size every round even when
    * the data is cached — exponential analyzer memory, the classic
    * iterative-Spark failure. Re-rooting each round's result on a
    * materialized RDD keeps plan size O(1) per round; the loop frees the
    * previous round's blocks with [[Blocks.release]] once the next one is
    * materialized (at scale each round's table is too large to wait for
    * the GC-driven ContextCleaner).
    *
    * The fingerprint is read once, right after the eager checkpoint, and
    * never after a cached-block recompute, so re-reads cannot double-count
    * it; task RETRIES can still inflate it on a real cluster, and distinct
    * frames can collide. Equal consecutive fingerprints are therefore only
    * a CLAIMED fixpoint, which every caller confirms with a retry-safe
    * exact comparison before trusting it: correctness never rests on the
    * fingerprint, only the fast path (zero extra jobs per non-final round)
    * does.
    */
  private def cutLineageSummed(df: DataFrame): (DataFrame, Seq[java.math.BigInteger]) = {
    val spark = df.sparkSession
    val Array(a, b) = df.columns
    val accs = Seq("cut_count", s"cut_sum_$a", s"cut_sum_$b").map { n =>
      val acc = new BigSumAccumulator
      spark.sparkContext.register(acc, n)
      acc
    }
    import spark.implicits._
    val cp = df.select(col(a).cast(LongType), col(b).cast(LongType))
      .as[(Long, Long)]
      .map { t => accs(0).add(1L); accs(1).add(t._1); accs(2).add(t._2); t }
      .toDF(a, b)
      .localCheckpoint(true)
    (cp, accs.map(_.value))
  }

  // ---------------------------------------------------------------- exact

  /** Exact duplicate groups: one row per distinct content hash with the
    * surviving (minimum) id and the group size.
    */
  def exactDuplicateGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(md5(col(textCol)).as("content_hash"), col(idCol))
      .groupBy(col("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("dup_count"))

  /** Exact dedup: keep the row with the smallest id per content hash. */
  def dropExactDuplicates(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(md5(col(textCol))).orderBy(col(idCol))
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  // ------------------------------------------------------------- shingles

  /** Distinct word k-shingles over a token-array column (by name). Callers
    * must pre-filter rows with fewer than k tokens.
    */
  def wordShinglesExpr(tokensCol: String, k: Int): Column = {
    val parts = (0 until k).map(o => s"element_at($tokensCol, i + $o)").mkString(", ")
    array_distinct(expr(
      s"transform(sequence(1, size($tokensCol) - ${k - 1}), i -> concat_ws(' ', $parts))"))
  }

  // -------------------------------------------------------------- minhash

  /** The MinHash field: the Mersenne prime p = 2^61 − 1. Shingle hashes are
    * the first 8 md5 bytes (an unsigned 64-bit value) reduced mod p, and
    * each of the k permutations is an affine map h ↦ (a_j·h + b_j) mod p
    * with INDEPENDENT splitmix64-derived 61-bit multipliers — a universal
    * hash family over GF(p), pairwise-decorrelated across permutations.
    *
    * Round 14: replaces the 32-bit hash space (smallest prime > 2^32) and
    * the small-odd-multiplier family ((2j+1)·h + c_j), whose birthday-regime
    * min-hash collisions — amplified by the order correlation of small
    * multipliers (a min collision matches many signature components at
    * once) — were MEASURED to false-drop ~4·10⁻⁵ of docs at the 20M-doc
    * smoke tier (SCALE.md Round-13). At 2^61 the expected min-collision
    * count at that tier is ≪ 1 and the decorrelated family keeps a single
    * collision from inflating whole signature slices.
    */
  val MinhashPrime = (1L << 61) - 1

  /** splitmix64 finalizer — the deterministic per-permutation constant
    * generator (public-domain mixing constants, Steele et al.).
    */
  private def splitmix64(x0: Long): Long = {
    var z = x0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Permutation-j multiplier a_j ∈ [1, p−1]: 61 masked splitmix bits with
    * the two ≡0 (mod p) endpoints mapped off. Baked as LITERALS into both
    * the JVM kernel and the DuckDB oracle SQL — determinism is the contract.
    */
  def minhashA(j: Int): Long = {
    val v = splitmix64(0x5851F42D4C957F2DL ^ (2L * j + 1)) & MinhashPrime
    if (v == 0L || v == MinhashPrime) 1L else v
  }

  /** Permutation-j offset b_j ∈ [0, p−1]. */
  def minhashB(j: Int): Long = {
    val v = splitmix64(0xD1B54A32D192ED03L ^ (2L * j)) & MinhashPrime
    if (v == MinhashPrime) 0L else v
  }

  /** (a·h) mod p for a, h < 2^61 via the 128-bit product and a Mersenne
    * fold: x = hi·2^64 + lo ⇒ x ≡ (x >> 61) + (x & p) (mod p), at most two
    * subtractions (x < 2^122 so each addend < 2^61).
    */
  @inline private[graft] def mulmodP(a: Long, h: Long): Long = {
    val hi = Math.multiplyHigh(a, h) // operands < 2^61: signed ≡ unsigned
    val lo = a * h
    var r = ((hi << 3) | (lo >>> 61)) + (lo & MinhashPrime)
    while (r >= MinhashPrime) r -= MinhashPrime
    r
  }

  /** 61-bit field hashes of a (distinct) shingle array column — computed
    * ONCE per shingle; the k permutations then run over these integers (md5
    * is far more expensive than the affine permutation, so hashing inside
    * the permutation loop would dominate the whole dedup pipeline). The
    * 16-hex-char md5 prefix exceeds 2^63, so the unsigned decimal string
    * from `conv` passes through DECIMAL(20,0) before the mod — exact, and
    * arithmetic-identical to [[hash61Jvm]].
    */
  def shingleHashesExpr(shCol: String): Column = expr(
    s"""transform($shCol, s -> cast(
       |  cast(conv(substring(md5(s),1,16),16,10) as decimal(20,0)) % ${MinhashPrime}L
       |  as bigint))""".stripMargin)

  /** k-permutation MinHash signature over a BIGINT hash-array column named
    * `hvCol`: h_j = min over hashes of (a_j·h + b_j) mod p, the [[minhashA]]/
    * [[minhashB]] constants baked as array literals. The 122-bit products
    * ride DECIMAL(38,0) (exact at scale 0 — 2^122 < 10^37); the compiled
    * kernel ([[mulmodP]]) computes the identical values in two longs.
    */
  def minhashSignatureExpr(hvCol: String, k: Int): Column = {
    val aLit = (0 until k).map(j => s"${minhashA(j)}L").mkString(", ")
    val bLit = (0 until k).map(j => s"${minhashB(j)}L").mkString(", ")
    expr(
      s"""transform(sequence(0, ${k - 1}), j -> array_min(transform($hvCol, h ->
         |  cast((element_at(array($aLit), j + 1) * cast(h as decimal(20,0))
         |        + element_at(array($bLit), j + 1)) % ${MinhashPrime}L
         |       as bigint))))""".stripMargin)
  }

  /** Full MinHash+LSH near-duplicate pipeline: returns verified pairs
    * (id_a < id_b) with exact Jaccard ≥ `threshold` over word k-shingles.
    * `bands`×`rowsPerBand` = signature length.
    */
  /** Same 32-bit hash as [[hash32]] (`conv(substring(md5(s),1,8),16,10)`):
    * first 4 MD5 bytes, big-endian, as an unsigned long. (SimHash's token
    * hash — 32 signature bits is that operator's contract; the minhash
    * kernel uses the 61-bit [[hash61Jvm]].)
    */
  private def hash32Jvm(md: java.security.MessageDigest, s: String): Long = {
    md.reset()
    val d = md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) | ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
  }

  /** [[shingleHashesExpr]]'s kernel twin: first 8 MD5 bytes, big-endian,
    * as an unsigned 64-bit value reduced mod p.
    */
  private def hash61Jvm(md: java.security.MessageDigest, s: String): Long = {
    md.reset()
    val d = md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
    java.lang.Long.remainderUnsigned(v, MinhashPrime)
  }

  /** Tokenize → distinct word k-shingles → 61-bit field hashes → k-permutation
    * MinHash signature, all in ONE compiled partition pass. The expression
    * forms ([[wordShinglesExpr]] + [[minhashSignatureExpr]]) compute the
    * identical values but pay boxed per-element lambda overhead per token ×
    * permutation; this kernel is arithmetic-identical (same `split(lower, ' ')`
    * tokenization with trailing empties, same first-occurrence-distinct
    * shingles, same 61-bit md5-prefix field hash, same splitmix64-derived
    * affine permutations mod p) and keeps the whole signature stage a
    * narrow map.
    */
  private def shingleSignatures(
      base: DataFrame, shingleK: Int, k: Int, bands: Int = 0): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    val rowsPerBand = if (bands > 0) k / bands else 0
    val outSchema = StructType(Seq(
      StructField("doc_id", base.schema("doc_id").dataType),
      StructField("sh", ArrayType(StringType, containsNull = false)),
      StructField("sig", ArrayType(LongType, containsNull = false)),
      StructField("bk", ArrayType(LongType, containsNull = false))))
    base.mapPartitions { rows =>
      val md = java.security.MessageDigest.getInstance("MD5")
      val pa = Array.tabulate(k)(minhashA)
      val pb = Array.tabulate(k)(minhashB)
      rows.flatMap { r =>
        // null text is transparent (dropped), matching the expression
        // pipeline this kernel replaced (split(lower(null)) → null → filtered);
        // split(lower(txt), ' ') with trailing empties preserved (Spark/DuckDB
        // string_split semantics), then k-shingles, distinct first-occurrence
        val toks = if (r.isNullAt(1)) null else r.getString(1).toLowerCase.split(" ", -1)
        if (toks == null || toks.length < shingleK) None
        else {
          val seen = new java.util.LinkedHashSet[String]()
          var i = 0
          while (i <= toks.length - shingleK) {
            val sb = new java.lang.StringBuilder(toks(i))
            var o = 1
            while (o < shingleK) { sb.append(' ').append(toks(i + o)); o += 1 }
            seen.add(sb.toString)
            i += 1
          }
          val sh = seen.toArray(new Array[String](seen.size))
          val hv = new Array[Long](sh.length)
          i = 0
          while (i < sh.length) { hv(i) = hash61Jvm(md, sh(i)); i += 1 }
          val sig = new Array[Long](k)
          var j = 0
          while (j < k) {
            val a = pa(j)
            val b = pb(j)
            var best = Long.MaxValue
            i = 0
            while (i < hv.length) {
              var h = mulmodP(a, hv(i)) + b // < 2p: one conditional fold
              if (h >= MinhashPrime) h -= MinhashPrime
              if (h < best) best = h
              i += 1
            }
            sig(j) = best
            j += 1
          }
          // Band BUCKET keys as 64-bit FNV-style folds of each band's slice —
          // a fixed-width join key instead of the dash-joined string (≈10×
          // fewer shuffle bytes per band). A hash collision can only MERGE
          // buckets, i.e. add candidate pairs; the exact-Jaccard verify
          // filters them, so results are identical to string-keyed banding.
          val bk = new Array[Long](if (bands > 0) bands else 0)
          var bb = 0
          while (bb < bk.length) {
            var h = -3750763034362895579L // FNV-1a 64 offset basis
            var q = bb * rowsPerBand
            val end = q + rowsPerBand
            while (q < end) {
              h ^= sig(q)
              h *= 1099511628211L
              q += 1
            }
            bk(bb) = h
            bb += 1
          }
          Some(Row(r.get(0), sh.toSeq, sig.toSeq, bk.toSeq))
        }
      }
    }(Encoders.row(outSchema))
  }

  /** Public face of the compiled signature kernel: (doc_id, sig) with the
    * k-permutation MinHash signature over word `shingleK`-shingles —
    * identical values to [[minhashSignatureExpr]] over
    * [[shingleHashesExpr]], at JVM-kernel speed (one MD5 pass per shingle,
    * no interpreted HOF tree). For capacity diagnostics and any consumer
    * that wants the raw signatures without the band/verify pipeline.
    */
  def minhashSignatures(
      df: DataFrame, idCol: String, textCol: String,
      shingleK: Int, k: Int): DataFrame =
    shingleSignatures(
      spread(df.select(col(idCol).as("doc_id"), col(textCol).as("txt"))),
      shingleK, k)
      .select(col("doc_id"), col("sig"))

  /** [[minhashSignatures]] plus the per-band 64-bit bucket keys (`bk`,
    * length `bands`) — the portable LSH index row `(doc_id, sig, bk)` that
    * [[Incremental.nearDedupDelta]] persists as its signature store: the
    * store side of a later delivery's banding joins on the carried `bk`
    * without ever re-reading (or re-shingling) historical text.
    */
  def minhashSignaturesWithBands(
      df: DataFrame, idCol: String, textCol: String,
      shingleK: Int, k: Int, bands: Int): DataFrame =
    shingleSignatures(
      spread(df.select(col(idCol).as("doc_id"), col(textCol).as("txt"))),
      shingleK, k, bands)
      .select(col("doc_id"), col("sig"), col("bk"))

  /** The exploded band index of a `(doc_id, sig, bk)` signature frame:
    * one `(doc_id, band, key)` row per band — the at-rest layout the
    * incremental near-dedup store persists BUCKETED by `(band, key)`
    * (BucketedJoinSpec) so a delivery's banding join reads the historical
    * index co-located and only the delta's band rows shuffle.
    */
  def bandIndex(sigs: DataFrame): DataFrame =
    sigs.select(col("doc_id"), posexplode(col("bk")).as(Seq("band", "key")))

  /** Drop rows whose (bucket-key) group exceeds `cap` members — the
    * hot-bucket bound every banded dedup self-join needs at corpus scale: a
    * boilerplate band key shared by m documents would otherwise emit m²/2
    * candidate pairs in ONE task. Capping trades those pairs away (log/monitor
    * the dropped keys via [[oversizedBuckets]]); run exact dedup first (as
    * [[cleanCorpus]] does) so a capped bucket can only hold near- (not
    * exact-) duplicate boilerplate. One extra aggregation on the same key the
    * join itself shuffles on — no new partitioning.
    */
  private def capBuckets(rows: DataFrame, keyCols: Seq[String], cap: Int): DataFrame =
    if (cap == Int.MaxValue) rows
    else rows.join(oversizedBuckets(rows, keyCols, cap), keyCols, "left_anti")

  /** Bucket keys with more than `cap` members — the monitoring/log side of
    * [[capBuckets]]: a pipeline that wants visibility runs
    * `oversizedBuckets(...).count()` (or collects the keys) and alerts.
    */
  def oversizedBuckets(rows: DataFrame, keyCols: Seq[String], cap: Int): DataFrame =
    rows.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("bucket_size"))
      .filter(col("bucket_size") > cap)
      .select(keyCols.map(col): _*)

  def minhashNearDuplicates(
      df: DataFrame, idCol: String, textCol: String,
      shingleK: Int = 3, bands: Int = 16, rowsPerBand: Int = 4,
      threshold: Double = 0.8, maxBucket: Int = 100000): DataFrame = {
    val k = bands * rowsPerBand
    val base = spread(df.select(col(idCol).as("doc_id"), col(textCol).as("txt")))
    // reused by band explode AND both sides of the verify join — cache the
    // signature table (leak-free, see cachedForReuse) rather than recomputing
    // shingles+hashes three times
    val withSh = cachedForReuse(shingleSignatures(base, shingleK, k, bands))
    // Band keys: one row per (doc, band); join on the 64-bit band-bucket
    // hash computed inside the signature kernel (fixed-width key, no string
    // materialization; collisions only add candidates — verify is exact).
    val bandsDf = capBuckets(withSh.select(col("doc_id"),
      posexplode(col("bk")))
      .select(col("doc_id"), col("pos").as("band"), col("col").as("band_key")),
      Seq("band", "band_key"), maxBucket)
    val a = bandsDf.as("a"); val b = bandsDf.as("b")
    val cand = a.join(b,
        col("a.band") === col("b.band") && col("a.band_key") === col("b.band_key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    verifyJaccard(cand, withSh.select(col("doc_id"), col("sh")), threshold)
  }

  /** Exact-Jaccard verification of candidate pairs against distinct-element
    * array sets; jaccard = |∩| / (|A|+|B|−|∩|), exact integer ratio.
    */
  def verifyJaccard(pairs: DataFrame, sets: DataFrame, threshold: Double): DataFrame = {
    val sa = sets.select(col("doc_id").as("doc_a"), col("sh").as("sh_a"))
    val sb = sets.select(col("doc_id").as("doc_b"), col("sh").as("sh_b"))
    pairs.join(sa, "doc_a").join(sb, "doc_b")
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("jaccard",
        col("inter") / (size(col("sh_a")) + size(col("sh_b")) - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
  }

  /** MinHash estimator CALIBRATION over the LSH candidate set — the report
    * that answers "what threshold does my banding actually implement?":
    * for every candidate pair the banding surfaces (NO Jaccard threshold),
    * compare the signature estimate (matching positions / k) against the
    * exact shingle Jaccard, grouped into rowsPerBand-wide match-count
    * buckets. Per bucket: pair count, mean estimated and mean exact
    * similarity (exact integer rationals in basis points), and the exact
    * min/max — the spread a threshold-tuning pass reads directly.
    *
    * Same banded candidate generation as [[minhashNearDuplicates]] (never
    * all-pairs; hot buckets capped), one extra per-pair zip over the
    * k-long signatures; the report itself is ≤k/rowsPerBand+1 rows.
    */
  def minhashCalibration(
      df: DataFrame, idCol: String, textCol: String,
      shingleK: Int = 3, bands: Int = 16, rowsPerBand: Int = 4,
      maxBucket: Int = 100000): DataFrame = {
    val k = bands * rowsPerBand
    val base = spread(df.select(col(idCol).as("doc_id"), col(textCol).as("txt")))
    val withSh = cachedForReuse(shingleSignatures(base, shingleK, k, bands))
    val bandsDf = capBuckets(withSh.select(col("doc_id"),
      posexplode(col("bk")))
      .select(col("doc_id"), col("pos").as("band"), col("col").as("band_key")),
      Seq("band", "band_key"), maxBucket)
    val a = bandsDf.as("a"); val b = bandsDf.as("b")
    val cand = a.join(b,
        col("a.band") === col("b.band") && col("a.band_key") === col("b.band_key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    val sa = withSh.select(col("doc_id").as("doc_a"),
      col("sh").as("sh_a"), col("sig").as("sig_a"))
    val sb = withSh.select(col("doc_id").as("doc_b"),
      col("sh").as("sh_b"), col("sig").as("sig_b"))
    cand.join(sa, "doc_a").join(sb, "doc_b")
      // This path is deliberately UNthresholded, so the usual "band-key
      // fold collisions only add candidates that exact-Jaccard verification
      // filters" argument does not apply — a 64-bit fold collision would
      // perturb the report's pair population. Admit a pair only if at least
      // one band's rowsPerBand-long signature SLICE matches exactly (an
      // exists() over the already-joined signatures, no extra shuffle):
      // the candidate set is then identical to banding on the exact keys.
      .filter(expr(
        s"""exists(sequence(0, ${bands - 1}),
           |  b -> slice(sig_a, b * $rowsPerBand + 1, $rowsPerBand)
           |       = slice(sig_b, b * $rowsPerBand + 1, $rowsPerBand))""".stripMargin))
      // native equal-component count — same integer as the zip_with/filter
      // fold it replaces, codegen'd (see SigMatchesExpr)
      .withColumn("match_n",
        call_function("sig_matches", col("sig_a"), col("sig_b")).cast(LongType))
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))).cast(LongType))
      .withColumn("uni",
        (size(col("sh_a")) + size(col("sh_b"))).cast(LongType) - col("inter"))
      .withColumn("exact_bp", expr("inter * 10000 div uni"))
      .groupBy(expr(s"cast(match_n div $rowsPerBand as bigint)").as("bucket"))
      .agg(count(lit(1)).as("n_pairs"),
        expr(s"sum(match_n) * 10000 div (count(1) * $k)").as("avg_est_bp"),
        expr("sum(exact_bp) div count(1)").as("avg_exact_bp"),
        min(col("exact_bp")).as("min_exact_bp"),
        max(col("exact_bp")).as("max_exact_bp"))
      .orderBy(col("bucket"))
  }

  // -------------------------------------------------------------- simhash

  /** 32-bit SimHash over a BIGINT token-hash array column (by name): bit j is
    * set when the strict majority of token-hash bits at position j are 1
    * (tie → 0). Returned as BIGINT.
    */
  def simhashExpr(hashArrayCol: String): Column = expr(
    s"""aggregate(transform(sequence(0, 31), j ->
       |  IF(aggregate(transform($hashArrayCol, h -> IF((shiftright(h, j) & 1) = 1, 1, -1)),
       |              0, (acc, x) -> acc + x) > 0,
       |     shiftleft(cast(1 as bigint), j), cast(0 as bigint))),
       |  cast(0 as bigint), (acc, x) -> acc + x)""".stripMargin)

  /** doc_id → 32-bit simhash for a corpus, via a compiled partition kernel
    * (same values as [[simhashExpr]] over md5-prefix token hashes; the
    * interpreted nested-lambda form costs ~bits×tokens boxed calls per doc).
    */
  def simhashes(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    val base = spread(df.select(col(idCol).as("doc_id"), col(textCol).as("txt")))
    val outSchema = StructType(Seq(
      base.schema("doc_id").copy(name = "doc_id"),
      StructField("simhash", LongType, nullable = false)))
    base.mapPartitions { rows =>
      val md = java.security.MessageDigest.getInstance("MD5")
      rows.map { r =>
        // split(lower(txt), ' ') with trailing empties, distinct first-occurrence
        val toks = new java.util.LinkedHashSet[String]()
        r.getString(1).toLowerCase.split(" ", -1).foreach(toks.add)
        val counts = new Array[Int](32)
        val it = toks.iterator()
        while (it.hasNext) {
          val h = hash32Jvm(md, it.next())
          var j = 0
          while (j < 32) {
            if (((h >> j) & 1L) == 1L) counts(j) += 1 else counts(j) -= 1
            j += 1
          }
        }
        var sim = 0L
        var j = 0
        while (j < 32) { if (counts(j) > 0) sim |= (1L << j); j += 1 }
        Row(r.get(0), sim)
      }
    }(Encoders.row(outSchema))
  }

  /** 64-bit SimHash, carried as two 32-bit halves `(sim_hi, sim_lo)` — both
    * non-negative BIGINTs, so every downstream shift/mask/band expression is
    * sign-free and evaluates identically in Spark and DuckDB (a single signed
    * 64-bit value would put bit 63 in the sign position, where `>>`/`div`
    * semantics diverge between engines). Token hash = first 8 MD5 bytes: hex
    * chars 1-8 → hi half (bits 32..63), chars 9-16 → lo half (bits 0..31);
    * per-bit strict majority as in [[simhashes]].
    *
    * This is the scale-safe parameterization VERDICT r2 called for: 16-bit
    * bands over 64 bits give 65 536 buckets per band, so bucket occupancy at
    * corpus size n is ~n/65 536 per band (vs n/256 for the 32-bit/8-bit dd6
    * variant, whose buckets grow 256× faster and go quadratic at web scale).
    */
  def simhashes64(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    val base = spread(df.select(col(idCol).as("doc_id"), col(textCol).as("txt")))
    val outSchema = StructType(Seq(
      base.schema("doc_id").copy(name = "doc_id"),
      StructField("sim_hi", LongType, nullable = false),
      StructField("sim_lo", LongType, nullable = false)))
    base.mapPartitions { rows =>
      val md = java.security.MessageDigest.getInstance("MD5")
      rows.map { r =>
        val toks = new java.util.LinkedHashSet[String]()
        r.getString(1).toLowerCase.split(" ", -1).foreach(toks.add)
        val counts = new Array[Int](64)
        val it = toks.iterator()
        while (it.hasNext) {
          md.reset()
          val d = md.digest(it.next().getBytes(java.nio.charset.StandardCharsets.UTF_8))
          // hex chars 1-8 = bytes 0-3 (hi), chars 9-16 = bytes 4-7 (lo)
          val hi = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) | ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
          val lo = ((d(4) & 0xffL) << 24) | ((d(5) & 0xffL) << 16) | ((d(6) & 0xffL) << 8) | (d(7) & 0xffL)
          var j = 0
          while (j < 32) {
            if (((lo >> j) & 1L) == 1L) counts(j) += 1 else counts(j) -= 1
            if (((hi >> j) & 1L) == 1L) counts(32 + j) += 1 else counts(32 + j) -= 1
            j += 1
          }
        }
        var simLo = 0L; var simHi = 0L
        var j = 0
        while (j < 32) {
          if (counts(j) > 0) simLo |= (1L << j)
          if (counts(32 + j) > 0) simHi |= (1L << j)
          j += 1
        }
        Row(r.get(0), simHi, simLo)
      }
    }(Encoders.row(outSchema))
  }

  /** 64-bit SimHash near-duplicates with 16-bit banding: candidates from any
    * equal 16-bit band (4 bands over the 64 bits — 65 536 buckets each, the
    * web-scale parameterization), hot buckets capped via [[capBuckets]],
    * verified by exact Hamming distance ≤ `maxHamming` over all 64 bits.
    */
  def simhash64NearDuplicates(
      df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, maxBucket: Int = 100000): DataFrame = {
    // reused by both sides of the banded bucket self-join (the signature
    // rides the band rows since round 15 — no attach joins remain);
    // leak-free cache (ContextCleaner-released), see cachedForReuse
    val h = cachedForReuse(simhashes64(df, idCol, textCol))
    // Band rows CARRY the two signature halves through the bucket self-join
    // (round 15, guide §2.4 "remove shuffles outright"): the Hamming verify
    // evaluates inline on the join output, so the two corpus-sized
    // sig-attach joins the old plan paid after the distinct are gone. The
    // carried payload is 16 bytes/band-row — far cheaper at any scale than
    // re-shuffling the full signature table twice by doc id. Filter before
    // distinct: the Hamming value is a pure function of the pair, identical
    // in every band that surfaces it, so filter∘distinct ≡ distinct∘filter
    // and the distinct dedups only surviving pairs.
    val b = capBuckets(
      h.select(col("doc_id"), explode(expr("sequence(0, 3)")).as("band"),
          col("sim_hi"), col("sim_lo"))
        .withColumn("bv", expr(
          """CASE WHEN band = 0 THEN sim_lo & 65535
            |     WHEN band = 1 THEN (sim_lo >> 16) & 65535
            |     WHEN band = 2 THEN sim_hi & 65535
            |     ELSE (sim_hi >> 16) & 65535 END""".stripMargin))
        .select("doc_id", "band", "bv", "sim_hi", "sim_lo"),
      Seq("band", "bv"), maxBucket)
    b.as("a").join(b.as("b2"),
        col("a.band") === col("b2.band") && col("a.bv") === col("b2.bv") &&
          col("a.doc_id") < col("b2.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b2.doc_id").as("doc_b"),
        (bit_count(col("a.sim_hi").bitwiseXOR(col("b2.sim_hi"))) +
          bit_count(col("a.sim_lo").bitwiseXOR(col("b2.sim_lo")))).cast(LongType)
          .as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  // ------------------------------------------------- n-gram inverted index

  /** Character-n-gram near-duplicates with rare-gram candidate generation:
    * only grams with document frequency ≤ `maxDf` generate candidate pairs
    * (bounds the join fan-out; near-dups share rare grams), then exact
    * Jaccard over the full (string) gram sets ≥ `threshold`.
    *
    * Scale shape: the gram kernel runs ONCE and is persisted (it feeds the
    * inverted index and both sides of the verify join), and the whole
    * candidate pipeline — explode, document-frequency count, rare filter,
    * self-join — runs on 32-bit gram *hashes* (int64 columns) rather than
    * gram strings, shrinking shuffle bytes ~4× and making the joins narrow
    * fixed-width exchanges. Hash collisions only perturb the candidate set
    * (df counts / bucket keys), never the result values: verification is
    * exact string-set Jaccard.
    */
  def ngramNearDuplicates(
      df: DataFrame, idCol: String, textCol: String,
      n: Int = 4, maxDf: Int = 10, threshold: Double = 0.8): DataFrame = {
    val base = spread(df.select(col(idCol).as("doc_id"), col(textCol).as("txt")))
      .filter(length(col("txt")) >= n)
    // compiled distinct-n-gram kernel (same values as the transform/
    // array_distinct expression, first-occurrence order, ~10× faster);
    // emits the 61-bit md5-prefix field hash of each gram alongside the strings
    val gramSchema = StructType(Seq(
      StructField("doc_id", base.schema("doc_id").dataType),
      StructField("sh", ArrayType(StringType, containsNull = false)),
      StructField("hv", ArrayType(LongType, containsNull = false))))
    val grams = {
      import org.apache.spark.sql.{Encoders, Row}
      base.mapPartitions { rows =>
        val md = java.security.MessageDigest.getInstance("MD5")
        rows.map { r =>
          val txt = r.getString(1)
          val seen = new java.util.LinkedHashSet[String]()
          var i = 0
          while (i <= txt.length - n) { seen.add(txt.substring(i, i + n)); i += 1 }
          val sh = seen.toArray(new Array[String](seen.size))
          val hv = new Array[Long](sh.length)
          i = 0
          while (i < sh.length) { hv(i) = hash61Jvm(md, sh(i)); i += 1 }
          Row(r.get(0), sh.toSeq, hv.toSeq)
        }
      }(Encoders.row(gramSchema))
    }
    // feeds the inverted index AND both sides of the verify join; leak-free
    // cache (ContextCleaner-released), see cachedForReuse
    val gramsCached = cachedForReuse(grams)
    val x = gramsCached.select(col("doc_id"), explode(col("hv")).as("gh"))
    val rare = x.groupBy("gh").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf).select("gh")
    val xr = x.join(rare, "gh")
    val cand = xr.as("a").join(xr.as("b"),
        col("a.gh") === col("b.gh") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    verifyJaccard(cand, gramsCached.select(col("doc_id"), col("sh")), threshold)
  }

  // ------------------------------------------------------ decontamination

  /** Benchmark decontamination: flag corpus documents that share any word
    * `shingleK`-gram with a benchmark/test set — the overlap check every
    * training-data pipeline runs before training (the standard operating
    * point is 13-grams; shorter grams widen the net for noisy matches).
    *
    * `benchPred` selects the benchmark rows inside `df` (callers with a
    * separate benchmark table union it in with a marker column). Scale
    * shape: the benchmark gram set is SMALL by definition (benchmarks are
    * thousands of docs, not billions), so it broadcasts, and the corpus side
    * is one narrow explode + broadcast semi-join — the corpus is never
    * shuffled at all. Exact string-gram equality (no hashing), so there are
    * no false positives by construction.
    *
    * Returns the distinct non-benchmark `doc_id`s that overlap.
    */
  /** Compiled word-shingle kernel over `(doc_id, txt)` — same tokenization
    * and first-occurrence-distinct semantics as [[wordShinglesExpr]]
    * (split(lower, ' ') with trailing empties) but one primitive pass
    * instead of interpreted per-element lambdas (measured ~10× faster).
    * Rows with null text or fewer than k tokens are dropped.
    */
  private[graft] def wordShingleRows(base: DataFrame, shingleK: Int): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    val outSchema = StructType(Seq(
      base.schema("doc_id").copy(name = "doc_id"),
      StructField("sh", ArrayType(StringType, containsNull = false))))
    base.mapPartitions { rows =>
      rows.flatMap { r =>
        val toks = if (r.isNullAt(1)) null else r.getString(1).toLowerCase.split(" ", -1)
        if (toks == null || toks.length < shingleK) None
        else {
          val seen = new java.util.LinkedHashSet[String]()
          var i = 0
          while (i <= toks.length - shingleK) {
            val sb = new java.lang.StringBuilder(toks(i))
            var o = 1
            while (o < shingleK) { sb.append(' ').append(toks(i + o)); o += 1 }
            seen.add(sb.toString)
            i += 1
          }
          Some(Row(r.get(0), seen.toArray(new Array[String](seen.size)).toSeq))
        }
      }
    }(Encoders.row(outSchema))
  }

  def contaminatedDocs(
      df: DataFrame, idCol: String, textCol: String,
      benchPred: Column, shingleK: Int = 13): DataFrame = {
    // filter each side BEFORE the shingle kernel — the benchmark side is a
    // tiny fraction of the corpus, so shingling runs once per row, not once
    // per row per side
    def side(pred: Column) = wordShingleRows(
      spread(df.filter(pred).select(col(idCol).as("doc_id"), col(textCol).as("txt"))),
      shingleK)
    val benchGrams = side(benchPred).select(explode(col("sh")).as("g")).distinct()
    side(!benchPred)
      .select(col("doc_id"), explode(col("sh")).as("g"))
      .join(broadcast(benchGrams), Seq("g"), "left_semi")
      .select("doc_id").distinct()
  }

  /** Gram-level contamination DEPTH — the quantitative companion to
    * [[contaminatedDocs]]' boolean flags (the GPT-3-appendix metric):
    * for each BENCHMARK document, what fraction of its distinct word
    * k-shingles appears anywhere in the training split, in exact integer
    * ppm. A doc at 10⁶ ppm is verbatim-covered; the distribution tells a
    * team whether to drop, dedup, or discount eval items.
    *
    * Scale shape — every shuffle is bounded by the EVAL side (small by
    * the dd10 contract): eval grams broadcast as the probe set; the
    * training corpus is scanned ONCE with a map-side broadcast semi-join
    * (no train-side shuffle, no corpus-sized distinct — the distinct runs
    * over HIT grams, a subset of the eval gram set); the hit set then
    * broadcasts back onto the eval grams for the per-doc ratio.
    */
  def contaminationDepth(
      df: DataFrame, idCol: String, textCol: String,
      benchPred: Column, shingleK: Int = 5): DataFrame = {
    def side(pred: Column) = wordShingleRows(
      spread(df.filter(pred).select(col(idCol).as("doc_id"), col(textCol).as("txt"))),
      shingleK)
    val evalSh = cachedForReuse(side(benchPred))
    val evalGrams = evalSh.select(explode(col("sh")).as("g")).distinct()
    val hitGrams = side(!benchPred)
      .select(explode(col("sh")).as("g"))
      .join(broadcast(evalGrams), Seq("g"), "left_semi")
      .distinct() // ≤ |eval grams| rows — never corpus-sized
    evalSh
      .select(col("doc_id"), size(col("sh")).cast("long").as("n_grams"),
        explode(col("sh")).as("g"))
      .join(broadcast(hitGrams.withColumn("__hit", lit(1L))), Seq("g"), "left")
      .groupBy(col("doc_id"))
      .agg(max(col("n_grams")).as("n_grams"),
        sum(coalesce(col("__hit"), lit(0L))).as("n_hit"))
      .withColumn("contaminated_ppm", expr("(1000000 * n_hit) div n_grams"))
  }

  /** Bloom-prefiltered decontamination — the 100 TB shape of
    * [[contaminatedDocs]]: the benchmark gram set is folded into a k-hash
    * Bloom BITSET (m bits, built driver-side from the bench grams — small
    * by the same contract dd10 broadcasts them under) and broadcast as
    * `m/8` bytes instead of gram strings; a compiled partition kernel then
    * probes every corpus gram against the bitset IN PLACE, so corpus grams
    * never enter join machinery at all unless they hit. Bloom hits are a
    * SUPERSET of true overlaps (no false negatives by construction —
    * deterministic double hashing, Kirsch–Mitzenmacher `h1 + i·h2`, over
    * the md5-64 gram hash), and the surviving sliver takes the same exact
    * string-equality semi-join as dd10, which kills the false positives —
    * so the RESULT is exactly [[contaminatedDocs]]' at the same shingleK,
    * while the joined volume drops from |corpus grams| to |hits|. Size m
    * for the bench gram count (~10 bits/gram → <1% FP); the rescue join
    * makes the FP rate a pure performance knob, never a correctness one.
    */
  def contaminatedDocsBloom(
      df: DataFrame, idCol: String, textCol: String,
      benchPred: Column, shingleK: Int = 5,
      log2Bits: Int = 22, numHashes: Int = 3): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    val spark = df.sparkSession
    def side(pred: Column) = wordShingleRows(
      spread(df.filter(pred).select(col(idCol).as("doc_id"), col(textCol).as("txt"))),
      shingleK)
    val benchGrams = cachedForReuse(
      side(benchPred).select(explode(col("sh")).as("g")).distinct())
    // bench side is small by contract (dd10 broadcasts these very strings);
    // collecting their 64-bit hashes is strictly less data than that
    val benchHashes = benchGrams
      .select(col("g")).collect().map(r => md5Hash64(r.getString(0)))
    val m = 1L << log2Bits
    val bits = new Array[Long]((m >> 6).toInt)
    benchHashes.foreach { h1 =>
      val h2 = h1 * 0xff51afd7ed558ccdL | 1L
      var i = 0
      while (i < numHashes) {
        val pos = java.lang.Math.floorMod(h1 + i * h2, m)
        bits((pos >> 6).toInt) |= 1L << (pos & 63)
        i += 1
      }
    }
    val bc = spark.sparkContext.broadcast(bits)
    val corpus = side(!benchPred)
    val candSchema = StructType(Seq(
      corpus.schema("doc_id").copy(name = "doc_id"),
      StructField("g", StringType, nullable = false)))
    val kHashes = numHashes
    val cand = corpus.mapPartitions { rows =>
      val b = bc.value
      val mask = (b.length.toLong << 6) - 1 // m is a power of two
      rows.flatMap { r =>
        val id = r.get(0)
        r.getSeq[String](1).iterator.filter { g =>
          val h1 = md5Hash64(g)
          val h2 = h1 * 0xff51afd7ed558ccdL | 1L
          var i = 0; var hit = true
          while (hit && i < kHashes) {
            val pos = (h1 + i * h2) & mask
            hit = (b((pos >> 6).toInt) & (1L << (pos & 63))) != 0
            i += 1
          }
          hit
        }.map(g => Row(id, g))
      }
    }(Encoders.row(candSchema))
    // exact rescue: string-equality semi-join on the (tiny) surviving grams
    cand.join(broadcast(benchGrams), Seq("g"), "left_semi")
      .select("doc_id").distinct()
  }

  /** First 8 md5 bytes of the UTF-8 string, big-endian — the 64-bit sibling
    * of [[hash32]], shared by the Bloom build and probe sides.
    */
  private[operators] def md5Hash64(s: String): Long = {
    val md = mdPool.get()
    md.reset()
    val d = md.digest(s.getBytes("UTF-8"))
    ((d(0) & 0xffL) << 56) | ((d(1) & 0xffL) << 48) | ((d(2) & 0xffL) << 40) |
      ((d(3) & 0xffL) << 32) | ((d(4) & 0xffL) << 24) | ((d(5) & 0xffL) << 16) |
      ((d(6) & 0xffL) << 8) | (d(7) & 0xffL)
  }

  private val mdPool = ThreadLocal.withInitial[java.security.MessageDigest](
    () => java.security.MessageDigest.getInstance("MD5"))

  // ------------------------------------------- duplicate-cluster components

  /** Connected components over a near-duplicate pair table: every document
    * gets the MINIMUM doc id reachable through pair edges as its
    * `cluster_id` — the canonical "group transitive near-dups, keep one
    * representative per cluster" step that turns pairwise dedup output into
    * a dedup decision. Only documents that appear in at least one pair are
    * emitted (singletons are trivially their own cluster).
    *
    * Algorithm: iterative min-label propagation ("hash-to-min"): each round
    * every node takes `min(own label, neighbours' labels)`, until a round
    * changes nothing. One round = one equi-join of the (symmetrized, deduped,
    * persisted-once) edge table with the label table + one min-aggregate —
    * two key-partitioned shuffles, no driver state, per-round cost O(|E|).
    * Rounds needed = graph diameter, which for near-duplicate graphs is small
    * (clusters are dense cliques-of-boilerplate, diameter 1–3); for
    * adversarially long path graphs the alternating large-star/small-star
    * scheme (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC'14 — public) converges in O(log²) rounds at the price of edge
    * rewrites; `maxIter` bounds the worst case either way.
    *
    * Convergence is detected from `sum(label)` (exact DECIMAL(38,0) sum):
    * labels only ever decrease, so the sum is strictly monotone until the
    * fixpoint — an O(1)-driver check with no extra join. The fixpoint (min
    * reachable id) is deterministic regardless of partitioning or iteration
    * interleaving. Exiting via `maxIter` without reaching the fixpoint
    * THROWS — silently returning labels that diverge from the
    * transitive-closure semantics (and from the recursive-CTE oracle) is
    * impossible; raise `maxIter` for adversarially high-diameter graphs.
    * The returned frame is cached leak-free (RDD-level, ContextCleaner
    * releases it when the caller drops the frame — see [[cachedForReuse]]).
    *
    * `smallGraphMax`: symmetric-edge-row threshold under which the labeling
    * finishes as one collect + driver union-find instead of the per-round
    * checkpoint loop — same rationale, bound, and label semantics as on
    * [[connectedComponentsStar]] (the count that decides is the exact
    * materialized row count, so a big graph never takes the small path).
    */
  def connectedComponents(
      pairs: DataFrame, srcCol: String, dstCol: String,
      maxIter: Int = 25, smallGraphMax: Long = 1L << 20): DataFrame =
    withStaticPlan(pairs.sparkSession) {
    val e0 = pairs.select(col(srcCol).cast(LongType).as("src"),
      col(dstCol).cast(LongType).as("dst"))
    val sym = e0.union(e0.select(col("dst").as("src"), col("src").as("dst")))
      .distinct() // parallel edges add no information, only join output rows
      // persist ALREADY partitioned on the per-round join key: the cached
      // frame reports hashpartitioning(dst), so every round's sort-merge
      // join re-exchanges only the (changing) label side, not the edges
      .repartition(col("dst"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Small-graph shortcut (the connectedComponentsStar discipline): the
    // count below is the first action, so it also materializes the persisted
    // edge table; under the threshold (≤ 2²⁰ symmetric rows = ≤ 16 MB on the
    // driver — bounded by the THRESHOLD, never the data) one collect plus a
    // min-root union-find replaces the whole per-round checkpoint loop.
    // Near-dup pair graphs at corpus scale are duplicate-cluster-sized, so
    // this is the common case; past the bound the distributed loop runs
    // unchanged (spec pins both paths).
    val symCnt = sym.count()
    if (symCnt <= smallGraphMax) {
      val sp = pairs.sparkSession
      import sp.implicits._
      val arr = sym.select(col("src"), col("dst")).as[(Long, Long)].collect()
      sym.unpersist()
      val parent = scala.collection.mutable.LongMap.empty[Long]
      def find(x0: Long): Long = {
        var x = x0
        var p = parent.getOrElse(x, x)
        while (p != x) {
          val gp = parent.getOrElse(p, p)
          parent(x) = gp; x = p; p = gp
        }
        x
      }
      val nodeSet = scala.collection.mutable.LongMap.empty[Unit]
      arr.foreach { case (a, b) =>
        nodeSet(a) = (); nodeSet(b) = ()
        val ra = find(a); val rb = find(b)
        if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
      }
      nodeSet.keys.toSeq.map(n => (n, find(n))).toDF("id", "comp")
    } else
    connectedComponentsLoop(sym, maxIter)
    }

  /** The distributed label-propagation loop of [[connectedComponents]] —
    * runs when the symmetric edge table exceeds the small-graph threshold.
    * `sym` is already persisted, partitioned on the round join key, and
    * materialized (by the caller's count).
    */
  private def connectedComponentsLoop(sym: DataFrame, maxIter: Int): DataFrame = {
    // every round re-roots `labels` on a materialized RDD (cutLineageSummed):
    // the round body references labels twice (union + join), so carrying the
    // logical plan forward would double plan size per round — exponential
    // analyzer memory on high-round runs, independent of data size. The
    // convergence statistic Σcomp rides the SAME materialization job as an
    // accumulator (labels only decrease, so the sum is strictly monotone
    // until the fixpoint) — ONE action per round, where the r6 shape paid a
    // checkpoint job PLUS an aggregate job. Because accumulator updates can
    // over-count under task retries/speculation on a real cluster, a
    // claimed fixpoint is CONFIRMED once with the retry-safe exact decimal
    // aggregate over both frames before the loop exits — soundness of the
    // result never rests on accumulator semantics, only the fast path does.
    // both sides are materialized checkpoints — one tagged union-aggregate
    // job confirms the claimed fixpoint (vs one aggregate job per side)
    def exactSumsEqual(a: DataFrame, b: DataFrame): Boolean = {
      val rows = a.select(lit(0).as("side"), col("comp"))
        .unionAll(b.select(lit(1).as("side"), col("comp")))
        .groupBy(col("side"))
        .agg(sum(col("comp").cast(DecimalType(38, 0))).as("s"))
        .collect()
      def side(i: Int): java.math.BigDecimal = rows.find(_.getInt(0) == i)
        .map(r => Option(r.get(1)).map(_.asInstanceOf[java.math.BigDecimal])
          .getOrElse(java.math.BigDecimal.ZERO))
        .getOrElse(java.math.BigDecimal.ZERO)
      side(0).compareTo(side(1)) == 0
    }
    // the claim compares Σcomp, the fingerprint's third component
    var (labels, fp0) = cutLineageSummed(
      sym.select(col("src").as("id")).distinct().withColumn("comp", col("id")))
    var prevSum = fp0(2)
    var iter = 0
    var done = prevSum.signum == 0 && labels.isEmpty // empty edge set
    while (!done && iter < maxIter) {
      val nbr = sym.join(labels, sym("dst") === labels("id"))
        .select(sym("src").as("id"), col("comp"))
      // pointer jumping: also propagate each node's label THROUGH its
      // current representative (comp(comp(id))) — path halving turns the
      // O(diameter) pure-propagation round count into O(log diameter); a
      // 9-link chain of templated near-dups converges in 4 rounds, not 10.
      // Every source is a reachable node's label, so min() preserves the
      // min-reachable-id fixpoint exactly.
      val hop = labels.as("l1").join(labels.as("l2"),
          col("l1.comp") === col("l2.id"))
        .select(col("l1.id").as("id"), col("l2.comp").as("comp"))
      val (next, fp) = cutLineageSummed(
        labels.select("id", "comp").union(nbr).union(hop)
          .groupBy("id").agg(min("comp").as("comp")))
      val s = fp(2)
      if (s == prevSum)            // claimed fixpoint → retry-safe confirm
        done = exactSumsEqual(labels, next)
      Blocks.release(labels)       // `next` is already materialized (eager
      labels = next                // checkpoint) — releasing the old labels
      prevSum = s                  // cannot recompute-cascade
      iter += 1
    }
    sym.unpersist()
    if (!done) {
      Blocks.release(labels)
      throw new IllegalStateException(
        s"connectedComponents did not reach its fixpoint within $maxIter rounds; " +
          "labels would silently diverge from transitive-closure semantics — " +
          "raise maxIter (the graph's diameter exceeds it)")
    }
    // The final round's checkpoint IS the result — hand it back directly
    // (leak-free: ContextCleaner releases the blocks once the caller drops
    // the frame) instead of paying one more copy-to-cache job.
    labels
  }

  /** Connected components via alternating large-star/small-star edge
    * rewriting (Kiveris et al., "Connected Components in MapReduce and
    * Beyond", SoCC'14 — public literature) — the adversarial-diameter
    * alternative to [[connectedComponents]]: label propagation needs
    * diameter-many rounds (a 10⁶-node path graph = 10⁶ rounds), the
    * star algorithm converges in O(log² n) rounds REGARDLESS of diameter by
    * rewriting edges toward each neighborhood's minimum:
    *
    *  - large-star: for every node u, re-attach each LARGER neighbor v > u
    *    to m = min(Γ(u) ∪ {u}) — strictly decreases large-endpoint labels;
    *  - small-star: orient each edge toward its larger endpoint, then
    *    re-attach each smaller neighbor (and u itself) to the minimum.
    *
    * Each round is two grouped-min aggregations + joins on the edge key —
    * O(|E|) work per round, no driver state beyond the O(1) convergence
    * check. At the fixpoint the edge set IS the star graph (every node →
    * its component minimum). Emits the same (id, comp) frame as
    * [[connectedComponents]]; throws rather than returning silently
    * non-converged labels if `maxIter` is hit (the paper's bound makes that
    * unreachable for any real graph: 50 rounds covers n < 2^7 diameters of
    * doubling).
    *
    * `smallGraphMax`: edge-count threshold (measured EXACTLY by the loop's
    * own initial materialization, before any choice is made) under which the
    * component labeling finishes as ONE collect + driver union-find instead
    * of the iterative star loop. Rationale: each star round is an eager
    * driver sync (checkpoint job + plan/codegen gap), so a delta-sized
    * contracted graph — [[Incremental.ccDelta]]'s case, and the dominant
    * cost of mx27's two-delivery replay — pays ~6 synchronization points to
    * label a few thousand edges. ≤ 2²⁰ edges is ≤ 16 MB on the driver:
    * bounded by the THRESHOLD, never by the data (the accumulator count can
    * only over-count, so a graph past the bound always takes the
    * distributed loop). Labels are identical: union-find with min-id roots
    * IS the star fixpoint semantics.
    */
  def connectedComponentsStar(
      pairs: DataFrame, srcCol: String, dstCol: String,
      maxIter: Int = 50, smallGraphMax: Long = 1L << 20): DataFrame =
    withStaticPlan(pairs.sparkSession) {
    // materialize the RAW pair projection once: the loop's edge set AND the
    // final node set (for self-loop singletons) both derive from it, and
    // `pairs` can be an arbitrarily expensive upstream pipeline we must not
    // execute twice
    val raw = cachedForReuse(pairs
      .select(col(srcCol).cast(LongType).as("u"), col(dstCol).cast(LongType).as("v")))
    // re-rooted on a materialized RDD every round (cutLineageSummed) —
    // the round body references `edges` several times (sym union + two
    // grouped joins), so a carried logical plan would multiply in size per
    // round; the (count, Σu, Σv) fingerprint rides each materialization
    var (edges, stat) = cutLineageSummed(raw
      .filter(col("u") =!= col("v"))
      .select(greatest(col("u"), col("v")).as("u"), least(col("u"), col("v")).as("v"))
      .distinct())
    // Loop-shuffle sizing: every round's groupBys shuffle the EDGE frame,
    // whose exact size the initial materialization just measured (stat.head
    // = edge count). Under the session default (sized for corpus-scale
    // scans) a delta-sized contracted graph — the Incremental.ccDelta
    // case — pays a full width of near-empty tasks per stage per round:
    // pure scheduling overhead that dominated mx27's steady-state profile.
    // Size the loop's shuffles to the GRAPH instead (~2×10⁵ edges per
    // partition), clamped to [1, session default] so a corpus-scale edge
    // set keeps the session setting — only small graphs shrink. The sizing
    // is scoped to the OPERATOR'S OWN FRAMES via explicit repartition on
    // each round's shuffle inputs — never by mutating the session-global
    // spark.sql.shuffle.partitions, which would re-plan any concurrently
    // running query on the same session at the shrunken width (and two
    // concurrent star calls could clobber each other's save/restore).
    val spark = pairs.sparkSession
    val sessionParts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val edgeCnt = stat.head.min(java.math.BigInteger.valueOf(Long.MaxValue)).longValue
    val loopParts = math.max(1L,
      math.min(sessionParts.toLong, edgeCnt / 200000L + 1L)).toInt
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.union(e.select(col("v").as("u"), col("u").as("v")))
        .repartition(loopParts, col("u"))
      // the aggregate and the join both consume sym's HashPartitioning(u)
      // — one loop-sized exchange feeds both (ReuseExchange)
      val mins = sym.groupBy("u").agg(least(min(col("v")), col("u")).as("m"))
      sym.join(mins, "u")
        .filter(col("v") > col("u") && col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v"))
        .repartition(loopParts, col("u"), col("v"))
        .distinct()
    }
    def smallStar(e: DataFrame): DataFrame = {
      // e is already oriented u > v
      val e2 = e.repartition(loopParts, col("u"))
      val mins = e2.groupBy("u").agg(min(col("v")).as("m")) // m < u by construction
      val moved = e2.join(mins, "u")
        .filter(col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v"))
      moved.union(mins.select(col("u"), col("m").as("v")))
        .repartition(loopParts, col("u"), col("v"))
        .distinct()
    }
    var iter = 0
    val out = try {
    val labeled: DataFrame =
      if (edgeCnt <= smallGraphMax) {
        // Small-graph path: the initial materialization just measured the
        // exact (canonicalized, deduped) edge count; under the threshold,
        // finish with ONE collect and a driver union-find. Union-by-min
        // with path halving makes every root its component's MINIMUM id —
        // exactly the star fixpoint's labels — and the result ships back
        // as a LocalRelation (broadcastable to every consumer join).
        import spark.implicits._
        val arr = edges.select(col("u"), col("v")).as[(Long, Long)].collect()
        val parent = scala.collection.mutable.LongMap.empty[Long]
        def find(x0: Long): Long = {
          var x = x0
          var p = parent.getOrElse(x, x)
          while (p != x) {
            val gp = parent.getOrElse(p, p)
            parent(x) = gp; x = p; p = gp
          }
          x
        }
        val nodeSet = scala.collection.mutable.LongMap.empty[Unit]
        arr.foreach { case (a, b) =>
          nodeSet(a) = (); nodeSet(b) = ()
          val ra = find(a); val rb = find(b)
          if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
        }
        nodeSet.keys.toSeq.map(n => (n, find(n))).toDF("id", "comp")
      } else {
        // cnt can only OVER-count under retries, so fingerprint cnt = 0 is a
        // reliable emptiness witness (and a spurious nonzero merely runs one
        // harmless round over an empty frame)
        var done = stat.head.signum == 0
        while (!done && iter < maxIter) {
          val (next, nstat) = cutLineageSummed(smallStar(largeStar(edges)))
          // CLAIMED fixpoint when the materialization-job fingerprints match;
          // confirmed with the retry-safe exact comparison (both sides are
          // materialized checkpoints, so releasing the old edges cannot
          // trigger a recompute cascade). Non-final rounds pay zero extra
          // jobs.
          if (nstat == stat)
            done = next.count() == edges.count() &&
              next.repartition(loopParts, col("u"), col("v"))
                .exceptAll(edges.repartition(loopParts, col("u"), col("v")))
                .isEmpty
          Blocks.release(edges)
          edges = next; stat = nstat
          iter += 1
        }
        if (!done && iter >= maxIter) {
          throw new IllegalStateException(
            s"connectedComponentsStar did not converge within $maxIter rounds — " +
              "raise maxIter (paper bound is O(log^2 n) rounds)")
        }
        // fixpoint edge set = star graph: u → component min (graph-sized
        // widths here too — the loop's sizing rationale covers the final
        // projection's distincts)
        edges.select(col("u").as("id"), col("v").as("comp"))
          .union(edges.select(col("v").as("id"), col("v").as("comp"))
            .repartition(loopParts, col("id"), col("comp")).distinct())
          .repartition(loopParts, col("id"), col("comp"))
          .distinct()
      }
    // Representatives (the minima) map to themselves; nodes whose only
    // edges were self-loops (filtered before the loop) re-enter as their
    // own singleton component — matching connectedComponents, which emits
    // (a, a) for a node whose only pair is (a, a). Node-frame widths size
    // to the graph like the loop's (nodes ≤ 2·edges): a delta-sized input
    // should not pay a session-width of near-empty distinct/anti tasks.
    val nodes = raw.select(col("u").as("id"))
      .union(raw.select(col("v").as("id")))
      .repartition(loopParts, col("id"))
      .distinct()
    val singletons = nodes.join(labeled.select("id"), Seq("id"), "left_anti")
      .withColumn("comp", col("id"))
    cachedForReuse(labeled.union(singletons))
    } finally {
      Blocks.release(raw)
      Blocks.release(edges)
    }
    out
    }

  /** Cluster-aware near-duplicate removal: MinHash pairs → connected
    * components → keep exactly the minimum-id representative of every
    * duplicate cluster. This is the transitive-closure semantics the big
    * web-corpus pipelines use (a ~ b and b ~ c collapses all three even when
    * a ≁ c directly), and it differs from [[cleanCorpus]]'s greedy
    * pair-loser drop on "local-min" nodes: with verified pairs (1,3) and
    * (2,3) only, greedy keeps 1 AND 2 (2 is never a pair's higher id) while
    * the cluster semantics keeps only 1 (the component representative).
    * Cost on top of pair generation: the O(diameter)-round label loop of
    * [[connectedComponents]] plus one left-anti join.
    */
  def dropClusteredNearDuplicates(
      df: DataFrame, idCol: String, textCol: String,
      shingleK: Int = 3, bands: Int = 16, rowsPerBand: Int = 4,
      threshold: Double = 0.8): DataFrame = {
    val pairs = minhashNearDuplicates(df, idCol, textCol,
      shingleK, bands, rowsPerBand, threshold)
    dropWithComponentLabels(df, idCol,
      connectedComponents(pairs, "doc_a", "doc_b"))
  }

  /** [[dropClusteredNearDuplicates]] given PRECOMPUTED component labels
    * (`id`, `comp` — the [[connectedComponents]] frame): one left-anti join,
    * no pair generation. The label-sharing entry point — a curation DAG
    * mines the pair graph once and fans out its consumers (clean, keep-best,
    * cluster report) instead of re-mining per output.
    */
  def dropWithComponentLabels(
      df: DataFrame, idCol: String, labels: DataFrame): DataFrame = {
    val losers = labels.filter(col("id") =!= col("comp"))
      .select(col("id").as(idCol))
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** [[dropClusteredNearDuplicates]] with a QUALITY policy: keep each
    * cluster's best-scoring member (ties → lowest id) instead of its
    * min-id representative — what production curation actually wants (the
    * canonical page, not the first-crawled one). `scoreCol` is any
    * deterministic per-row score already on `df` (e.g.
    * [[TextAnalysis.qualityScore]]).
    *
    * Shape: pair generation + component labels as before, then the labels
    * LEFT-join back onto the corpus and a per-cluster rank window picks
    * the survivor. Singletons coalesce to their own id — one-row window
    * partitions — so the window shuffle is keyed by cluster id and never
    * concentrates unclustered mass on one key (a NULL-keyed window over
    * the singleton majority would be the scale bug here).
    */
  def dropClusteredNearDuplicatesKeepBest(
      df: DataFrame, idCol: String, textCol: String, scoreCol: String,
      shingleK: Int = 3, bands: Int = 16, rowsPerBand: Int = 4,
      threshold: Double = 0.8): DataFrame = {
    val pairs = minhashNearDuplicates(df, idCol, textCol,
      shingleK, bands, rowsPerBand, threshold)
    keepBestWithComponentLabels(df, idCol, scoreCol,
      connectedComponents(pairs, "doc_a", "doc_b"))
  }

  /** [[dropClusteredNearDuplicatesKeepBest]] given PRECOMPUTED component
    * labels (`id`, `comp`): label join + per-cluster rank window only —
    * the label-sharing complement to [[dropWithComponentLabels]].
    */
  def keepBestWithComponentLabels(
      df: DataFrame, idCol: String, scoreCol: String,
      labels: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val comp = labels.select(col("id").as(idCol), col("comp"))
    val w = Window.partitionBy(col("__comp"))
      .orderBy(col(scoreCol).desc, col(idCol))
    df.join(comp, Seq(idCol), "left")
      .withColumn("__comp", coalesce(col("comp"), col(idCol)))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn", "__comp", "comp")
  }

  /** Soft dedup: instead of DROPPING near-duplicates, weight every document
    * by the inverse of its near-dup cluster size — the downsampling policy
    * several LLM-data pipelines prefer over hard removal (a cluster's
    * content is kept, its sampling mass normalized to one document's worth).
    * Returns (idCol, cluster_id, cluster_size, weight_bp) for EVERY row of
    * `df`: singletons coalesce to their own id (size 1 → 10000 bp), so the
    * output is a full-corpus weighting, not just the clustered subset.
    * `weight_bp = 10000 div size` keeps the column integral/bit-exact; a
    * consumer samples with probability weight_bp/10⁴ or trains with it as an
    * example weight.
    *
    * Shape: labels LEFT-join + one size aggregate keyed by cluster id —
    * both shuffles are on the coalesced cluster id, never on a NULL-heavy
    * key (same rationale as [[keepBestWithComponentLabels]]).
    */
  def softDedupWeights(
      df: DataFrame, idCol: String, labels: DataFrame): DataFrame = {
    val comp = labels.select(col("id").as(idCol), col("comp"))
    val withComp = df.select(col(idCol))
      .join(comp, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("comp"), col(idCol)).as("cluster_id"))
    val sizes = withComp.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("cluster_size"))
    withComp.join(sizes, "cluster_id")
      .select(col(idCol), col("cluster_id"), col("cluster_size"),
        expr("10000 div cluster_size").as("weight_bp"))
  }

  /** SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication" — public literature):
    * semantic near-duplicate detection over an EMBEDDING column, the
    * method's three stages re-expressed Spark-first:
    *
    *  1. cluster the embeddings with the deterministic spherical k-means
    *     quantizer ([[Similarity.kmeansCentroids]]: init = first k ids,
    *     fixed iteration count, argmax-cosine assignment);
    *  2. WITHIN each cluster only, pair vectors whose cosine ≥
    *     `threshold` — the clustering is what makes the pair space
    *     subquadratic at corpus scale (the paper's core trick: k ≈ √n
    *     clusters turn n² into n²/k per cluster);
    *  3. connect the pairs transitively ([[connectedComponents]]) and per
    *     duplicate group KEEP the member with the LOWEST cosine to its
    *     cluster centroid (the paper's choice — the least-prototypical
    *     example carries the most marginal information; ties → lowest id).
    *
    * Returns one row per input vector: (idCol, cell, grp, keep) where
    * `cell` is the k-means cell, `grp` the duplicate-group label
    * (component min id; singletons label themselves), `keep` the survivor
    * flag. Every float the decision depends on (assignment cosines, pair
    * cosines) is a sequential-fold dot product over deterministic doubles,
    * so a SQL oracle replaying the same IEEE sequence reproduces the
    * output bit-for-bit — including the keep-best ordering.
    */
  def semDedup(
      df: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int, threshold: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.operators.{Similarity => Sim}
    val p = Sim.preparedCorpus(df, idCol, vecCol)
    val cents = Sim.kmeansCentroids(df, idCol, vecCol, k, iters)
    // (vec_id, v, nrm, cell, cell_cos) — reused by the pair join (both
    // sides) and the final labeling
    val assigned = cachedForReuse(Sim.assignCells(p, cents))
    val a = assigned.select(col("cell"), col("vec_id").as("ia"),
      col("v").as("va"), col("nrm").as("na"))
    val b = assigned.select(col("cell"), col("vec_id").as("ib"),
      col("v").as("vb"), col("nrm").as("nb"))
    val pairs = a.join(b, "cell")
      .filter(col("ia") < col("ib"))
      .filter(Sim.dot(col("va"), col("vb")) / (col("na") * col("nb"))
        >= lit(threshold))
      .select(col("ia").as("doc_a"), col("ib").as("doc_b"))
    val labels = connectedComponents(pairs, "doc_a", "doc_b")
      .select(col("id"), col("comp"))
    val w = Window.partitionBy(col("grp"))
      .orderBy(col("cell_cos").asc, col("vec_id"))
    assigned.join(labels, assigned("vec_id") === labels("id"), "left")
      .withColumn("grp", coalesce(col("comp"), col("vec_id")))
      .withColumn("__rn", row_number().over(w))
      .select(col("vec_id").as(idCol), col("cell"), col("grp"),
        (col("__rn") === 1).as("keep"))
  }

  /** PPJoin-style prefix-filtering set-similarity self-join over word
    * `shingleK`-shingle sets — the EXACT-threshold complement to MinHash
    * LSH (no false negatives, no tuning of bands/rows; the method of
    * Chaudhuri et al.'s SSJoin and Xiao et al.'s PPJoin, both public
    * literature). The filter: order every document's distinct shingles by
    * a single GLOBAL canonical order (ascending document frequency, ties
    * by value — rarest first) and keep only the first
    * p = n − ⌈t·n⌉ + 1 as its "prefix". Any pair with Jaccard ≥ t MUST
    * share at least one prefix element under a common total order, so the
    * prefix inverted index generates a candidate superset, verified by
    * exact set intersection. Two further EXACT PPJoin prunes run inside
    * the candidate join: the length filter (J ≥ t ⟹
    * min(n_a,n_b)·den ≥ max(n_a,n_b)·num) and the positional filter (for
    * the pair's first shared prefix element at ranks (i,j), the
    * intersection is ≤ 1 + min(n_a−i, n_b−j), which must reach the
    * overlap bound ⌈num·(n_a+n_b)/(num+den)⌉ — tokens before a first
    * match are disjoint by construction, so the bound is sound and the
    * candidate set stays a superset).
    *
    * `shingleK` controls the set universe: 1 = plain word sets, k>1 =
    * word k-shingles. Shingles are the production setting — a natural
    * corpus' WORD vocabulary has heavy-tailed document frequencies, and a
    * small-vocabulary corpus (this synthetic table: 31 distinct words
    * across 5k docs!) makes every word-posting O(corpus) and the prefix
    * index quadratic; the shingle universe is combinatorially larger, so
    * postings collapse (measured at sf0.1: 66M candidate pairs over word
    * sets → 210k over 3-shingles, max posting 3825 → 9) and the metric
    * becomes order-sensitive — the same universe dd2's MinHash signatures
    * sketch, computed exactly here.
    *
    * Scale: prefixes are dominated by RARE shingles (the df-ascending
    * order exists precisely to make the inverted-index postings short),
    * so the candidate join is keyed on low-frequency values and
    * partitions evenly; per-doc windows shuffle on doc_id. The threshold
    * is a RATIONAL num/den and every filter comparison is integer
    * arithmetic (⌈t·n⌉ = (num·n + den − 1) div den; inter/union ≥ t ⟺
    * inter·den ≥ union·num), so the decision boundary is bit-identical on
    * any engine — no float threshold ambiguity.
    *
    * Returns (doc_a, doc_b, inter, n_a, n_b, jaccard), doc_a < doc_b,
    * jaccard ≥ num/den exactly.
    */
  def prefixFilterNearDuplicates(
      df: DataFrame, idCol: String, textCol: String,
      thresholdNum: Int = 7, thresholdDen: Int = 10,
      shingleK: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(shingleK >= 1, "shingleK must be >= 1")
    // shingle sets feed three consumers (explode + both verify sides)
    val words = split(lower(col(textCol)), " ")
    val shingles =
      if (shingleK == 1) array_distinct(words)
      else array_distinct(expr(
        s"""transform(sequence(1, size(split(lower($textCol), ' ')) - ${shingleK - 1}),
           |  i -> concat_ws(' ', slice(split(lower($textCol), ' '), i, $shingleK)))"""
          .stripMargin))
    val toks = cachedForReuse(spread(df)
      .filter(size(words) >= shingleK)
      .select(col(idCol).as("doc_id"), shingles.as("toks")))
    val e = toks.select(col("doc_id"), explode(col("toks")).as("tok"))
    val dfreq = e.groupBy("tok").agg(count(lit(1)).as("df"))
    val byDoc = Window.partitionBy("doc_id")
    val ranked = e.join(dfreq, "tok")
      .withColumn("rn", row_number().over(byDoc.orderBy(col("df"), col("tok"))))
      .withColumn("n", count(lit(1)).over(byDoc))
    val prefix = ranked.filter(col("rn") <=
      expr(s"n - ((n * $thresholdNum + ${thresholdDen - 1}) div $thresholdDen) + 1"))
      .select(col("doc_id"), col("tok"), col("rn"), col("n"))
    val minOverlap = // ⌈num·(n_a+n_b)/(num+den)⌉, integer
      expr(s"($thresholdNum * (a.n + b.n) + ${thresholdNum + thresholdDen - 1})" +
        s" div ${thresholdNum + thresholdDen}")
    val cand = prefix.as("a")
      .join(prefix.as("b"),
        col("a.tok") === col("b.tok") && col("a.doc_id") < col("b.doc_id") &&
          least(col("a.n"), col("b.n")) * thresholdDen >=
            greatest(col("a.n"), col("b.n")) * thresholdNum &&
          lit(1) + least(col("a.n") - col("a.rn"), col("b.n") - col("b.rn")) >=
            minOverlap)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    cand
      .join(toks.select(col("doc_id").as("doc_a"), col("toks").as("ta")), "doc_a")
      .join(toks.select(col("doc_id").as("doc_b"), col("toks").as("tb")), "doc_b")
      .withColumn("inter", size(array_intersect(col("ta"), col("tb"))).cast(LongType))
      .withColumn("n_a", size(col("ta")).cast(LongType))
      .withColumn("n_b", size(col("tb")).cast(LongType))
      .filter(col("inter") * thresholdDen >=
        (col("n_a") + col("n_b") - col("inter")) * thresholdNum)
      .withColumn("jaccard",
        col("inter") / (col("n_a") + col("n_b") - col("inter")))
      .select("doc_a", "doc_b", "inter", "n_a", "n_b", "jaccard")
  }

  /** k-core of an undirected pair graph: iteratively peel every vertex of
    * degree < k until the remainder is stable; emit the surviving vertices
    * with their within-core degree. The standard "dense enough to matter"
    * graph filter (community kernels, co-occurrence backbones) and the
    * degeneracy-ordering building block.
    *
    * Loop discipline = [[connectedComponents]]'s: the edge set re-roots on
    * a materialized RDD each round (the round body references it twice),
    * with the round's edge COUNT accumulated DURING the materialization
    * job ([[cutLineageSummed]]) — ONE action per round, no separate
    * count. Counts strictly decrease until the fixpoint, so an unchanged
    * fingerprint is a CLAIMED fixpoint; because accumulators can
    * over-count under task retries on a real cluster, the claim is
    * CONFIRMED once with the retry-safe exact count before the loop exits.
    * Rounds are bounded by the peeling depth (≤ vertex count, in practice
    * a handful); exceeding `maxIter` THROWS rather than returning a
    * non-fixpoint. Empty result (the whole graph peels away) is valid.
    *
    * `smallGraphMax`: the [[connectedComponents]] shortcut applied to
    * peeling — under the threshold (exact count from the initial
    * materialization; ≤ 16 MB collected) the core resolves via the classic
    * O(V+E) bucket-queue peel on the driver instead of one eager sync per
    * peel ROUND (peeling depth can be O(V) on adversarial graphs, where
    * the driver peel stays linear). Identical fixpoint; the distributed
    * loop runs unchanged past the bound (spec pins both paths).
    */
  def kCore(
      pairs: DataFrame, srcCol: String, dstCol: String, k: Int,
      maxIter: Int = 60, smallGraphMax: Long = 1L << 20): DataFrame =
    withStaticPlan(pairs.sparkSession) {
    require(k >= 1, "k must be >= 1")
    val e0 = pairs.select(col(srcCol).cast(LongType).as("u"),
      col(dstCol).cast(LongType).as("v"))
    var (edges, fp0) = cutLineageSummed(
      e0.union(e0.select(col("v").as("u"), col("u").as("v"))).distinct())
    var n = fp0.head.longValueExact()
    if (n > 0 && n <= smallGraphMax) {
      val spark = pairs.sparkSession
      import spark.implicits._
      val arr = edges.select(col("u"), col("v")).as[(Long, Long)].collect()
      Blocks.release(edges)
      // adjacency over the SAME symmetric deduped edge list the loop uses
      // (self-loops appear once and count once toward degree, both paths)
      val adj = scala.collection.mutable.LongMap
        .empty[scala.collection.mutable.ArrayBuffer[Long]]
      arr.foreach { case (u, v) =>
        adj.getOrElseUpdate(u, scala.collection.mutable.ArrayBuffer.empty[Long]) += v
      }
      val deg = scala.collection.mutable.LongMap.empty[Int]
      adj.foreach { case (u, ns) => deg(u) = ns.length }
      val queue = scala.collection.mutable.Queue.empty[Long]
      deg.foreach { case (u, d) => if (d < k) queue += u }
      val removed = scala.collection.mutable.LongMap.empty[Unit]
      while (queue.nonEmpty) {
        val u = queue.dequeue()
        if (!removed.contains(u)) {
          removed(u) = ()
          adj(u).foreach { v =>
            if (!removed.contains(v)) {
              deg(v) -= 1
              if (deg(v) == k - 1) queue += v // just crossed below k
            }
          }
        }
      }
      adj.keys.toSeq.filterNot(removed.contains)
        .map(u => (u, deg(u).toLong)).toDF("node", "deg")
    } else {
    var it = 0
    var done = n == 0
    while (!done) {
      it += 1
      require(it <= maxIter, s"k-core did not converge in $maxIter rounds")
      val good = edges.groupBy(col("u")).agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k).select(col("u"))
      val kept = edges.join(good, Seq("u"))
        .join(good.select(col("u").as("v")), Seq("v"))
        .select(col("u"), col("v"))
      val (cp, fp) = cutLineageSummed(kept)
      val m = fp.head.longValueExact()
      if (m == 0) { Blocks.release(edges); edges = cp; done = true }
      else if (m == n) {
        // claimed fixpoint: confirm with the retry-safe exact counts
        val exactM = cp.count(); val exactN = edges.count()
        Blocks.release(edges); edges = cp
        if (exactM == exactN) done = true else n = exactM
      } else { Blocks.release(edges); edges = cp; n = m }
    }
    edges.groupBy(col("u").as("node")).agg(count(lit(1)).as("deg"))
    }
  }

  // --------------------------------------------------- composite pipeline

  /** The end-to-end corpus-cleaning pipeline a training-data run executes,
    * composed from the operators above — each stage feeds the next without
    * materializing between them:
    *
    *  1. quality gate: repetition / symbol-ratio / minimum-length filters
    *     (cheap narrow map, prunes before anything shuffles)
    *  2. exact dedup: keep the lowest doc_id per content hash
    *  3. near-dup removal: MinHash+LSH pairs among the survivors; the higher
    *     id of every verified pair loses (greedy keep-lowest), dropped with
    *     one anti-join
    *
    * Returns the surviving (doc_id, text) rows. Every stage is the scale
    * architecture already argued in docs/SCALE.md; the composition adds no
    * new shuffle beyond the stages' own.
    */
  def cleanCorpus(
      df: DataFrame, idCol: String, textCol: String,
      maxDupWordFraction: Double = 0.5, maxSymbolRatio: Double = 0.3,
      minTokens: Int = 5,
      shingleK: Int = 3, bands: Int = 16, rowsPerBand: Int = 4,
      threshold: Double = 0.8): DataFrame = {
    val base = df.select(col(idCol).as("doc_id"), col(textCol).as("text"))
    val quality = base.filter(
      TextAnalysis.dupWordFraction(col("text")) <= maxDupWordFraction &&
        TextAnalysis.symbolRatio(col("text")) <= maxSymbolRatio &&
        TextAnalysis.tokenCount(col("text")) >= minTokens)
    // the post-quality-gate survivor frame feeds BOTH the near-dup kernel
    // and the final anti-join — materialize it once or the scan + quality
    // HOFs + dedup window run twice (half of dd8's driver-lane cost)
    val exact = cachedForReuse(dropExactDuplicates(quality, "doc_id", "text"))
    val losers = minhashNearDuplicates(exact, "doc_id", "text",
        shingleK, bands, rowsPerBand, threshold)
      .select(col("doc_b").as("doc_id")).distinct()
    exact.join(losers, Seq("doc_id"), "left_anti")
  }

  /** Maximal duplicated-substring spans (Lee et al. 2022 "Deduplicating
    * Training Data Makes Language Models Better", the ExactSubstr criterion
    * re-expressed declaratively): a word-`n`-gram position is DUPLICATED
    * when its gram occurs ≥ 2 times corpus-wide (another document or a
    * repeat within the same one); runs of consecutive duplicated positions
    * merge into maximal spans via gaps-and-islands on the position. Returns
    * one row per span: (doc_id, span_start, span_end, n_grams) with
    * 1-based token bounds, span_end = last_pos + n − 1 — the removal plan
    * an exact-substring dedup pass would execute per document.
    *
    * Scale: grams travel as 61-bit md5-prefix field hashes (SQL `hash61`,
    * round 14 — the 32-bit space saturates at 100 TB gram counts, turning
    * span grouping into collision noise; any
    * collision is deterministic and merely widens a span identically in
    * every engine); the plan is one gram-keyed count, one semi-join back,
    * and one islands window PARTITIONED BY doc_id — no pairwise expansion,
    * and the window never exceeds a single document's length. The gram
    * stream feeds two consumers, so it roots on a localCheckpoint (the
    * tx13/dd15 treatment).
    */
  /** Bottom-k sketch containment audit — the CONSTANT-STATE scale path to
    * exact containment (dd15 ships full gram sets to every pair; at corpus
    * scale a doc's sketch must be O(k), mergeable, and computed once —
    * Cohen & Kaplan, "Summarizing data using bottom-k sketches", PODC'07;
    * Broder's minwise estimators).
    *
    * Per document: the distinct word-trigram 61-bit field-hash set `hv`
    * ([[shingleHashesExpr]]; exact size n kept as a scalar), and the
    * bottom-k sketch `bk` = the k smallest hashes. For candidate pairs (docs sharing a sketch hash,
    * df-capped like dd15's rare-fingerprint index):
    *
    *   y = |bottom-k of bk_a ∪ bk_b|   (≤ k)
    *   x = |{h in those y} ∩ bk_a ∩ bk_b|
    *   Ĵ = x/y; |A∩B|^ = Ĵ·(n_a+n_b)/(1+Ĵ) = x·(n_a+n_b)/(y+x)
    *   ĉ = |A∩B|^ / min(n_a, n_b)    (dd15's containment denominator)
    *
    * — every statistic an exact integer rational (ppm via one truncating
    * div; x ≤ k, so nothing approaches 2⁶³), alongside the EXACT
    * containment on the same pairs, so the output is a calibration report:
    * est vs exact vs signed error per pair (the dd25/dd27 audit shape).
    *
    * Scale: the per-doc state is k+1 integers, the pair stage touches only
    * sketches (2k values) — the full hv arrays appear ONLY in the exact
    * audit columns, which a production run drops. One explode of k rows
    * per doc, one df-capped hash join, one pair join; nothing all-pairs.
    */
  def bottomKContainment(
      df: DataFrame, idCol: String, textCol: String,
      k: Int = 32, dfCap: Int = 50): DataFrame = {
    import org.apache.spark.sql.types.LongType
    val kdf = cachedForReuse(spread(df)
      .select(col(idCol).as("doc_id"), split(lower(col(textCol)), " ").as("ts"))
      .filter(size(col("ts")) >= 3)
      .withColumn("sh", expr(
        "array_distinct(transform(sequence(1, size(ts) - 2), i -> concat_ws(' ', slice(ts, i, 3))))"))
      .withColumn("hv", array_sort(array_distinct(shingleHashesExpr("sh"))))
      .select(col("doc_id"), col("hv"),
        slice(col("hv"), 1, k).as("bk"),
        size(col("hv")).cast(LongType).as("n")))
    val e = kdf.select(col("doc_id"), explode(col("bk")).as("h"))
    val dfc = e.groupBy(col("h")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= dfCap).select("h")
    val shared = e.join(dfc, "h")
    val cand = shared.select(col("doc_id").as("doc_a"), col("h"))
      .join(shared.select(col("doc_id").as("doc_b"), col("h")), "h")
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
    cand
      .join(kdf.select(col("doc_id").as("doc_a"), col("hv").as("hv_a"),
        col("bk").as("bk_a"), col("n").as("n_a")), "doc_a")
      .join(kdf.select(col("doc_id").as("doc_b"), col("hv").as("hv_b"),
        col("bk").as("bk_b"), col("n").as("n_b")), "doc_b")
      .withColumn("__top", slice(array_sort(array_union(col("bk_a"), col("bk_b"))), 1, k))
      .withColumn("y", size(col("__top")).cast(LongType))
      .withColumn("x",
        size(array_intersect(array_intersect(col("__top"), col("bk_a")), col("bk_b")))
          .cast(LongType))
      .withColumn("shared_exact",
        size(array_intersect(col("hv_a"), col("hv_b"))).cast(LongType))
      .withColumn("c_est_ppm",
        expr("(1000000 * x * (n_a + n_b)) div ((y + x) * least(n_a, n_b))"))
      .withColumn("c_exact_ppm", expr("(1000000 * shared_exact) div least(n_a, n_b)"))
      .withColumn("err_ppm", col("c_est_ppm") - col("c_exact_ppm"))
      .select("doc_a", "doc_b", "n_a", "n_b", "x", "y",
        "shared_exact", "c_est_ppm", "c_exact_ppm", "err_ppm")
  }

  def duplicatedNgramSpans(
      df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = spread(df)
      .select(col(idCol).as("doc_id"), split(lower(col(textCol)), " ").as("toks"))
      .filter(size(col("toks")) >= n)
    val grams = toks.select(col("doc_id"), explode(expr(
        s"""transform(sequence(1, size(toks) - ${n - 1}),
           |  i -> struct(cast(i as bigint) as pos,
           |              hash61(concat_ws(' ', slice(toks, i, $n))) as gh))""".stripMargin))
        .as("g"))
      .select(col("doc_id"), col("g.pos").as("pos"), col("g.gh").as("gh"))
      .localCheckpoint(true)
    val dup = grams.groupBy(col("gh")).agg(count(lit(1)).as("c"))
      .filter(col("c") >= 2)
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    grams.join(dup, "gh")
      .withColumn("grp", col("pos") - row_number().over(w))
      .groupBy(col("doc_id"), col("grp"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + (n - 1).toLong).as("span_end"),
        count(lit(1)).as("n_grams"))
      .select(col("doc_id"), col("span_start"), col("span_end"), col("n_grams"))
  }
}
