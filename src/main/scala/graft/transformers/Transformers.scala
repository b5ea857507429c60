package graft.transformers

import scala.collection.immutable.ListMap
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, BooleanType, DoubleType, LongType, StringType, StructType}
import graft.core.{Registries, Transformer}
import graft.core.PluginConfig._
import graft.operators.{Cleaning, Dedup, Incremental, Indicators, Similarity, Validation}

/** Config-driven transformer plugins wrapping the operator library — the four
  * transformer types of the reference
  * (`/root/reference/src/data_extractor/transformers/__init__.py`).
  */
object Transformers {
  @volatile private var done = false

  def register(): Unit = synchronized {
    if (done) return
    done = true
    Registries.transformers.register("pass_through")((_, _) => PassThrough)
    Registries.transformers.register("data_cleaning")((_, c) => new DataCleaningTransformer(c))
    Registries.transformers.register("pydantic_validation")((_, c) => new ValidationTransformer(c))
    Registries.transformers.register("technical_indicators")((_, c) => new IndicatorsTransformer(c))
    Registries.transformers.register("corpus_clean")((_, c) => new CorpusCleanTransformer(c))
    Registries.transformers.register("quality_filter")((_, c) => new QualityFilterTransformer(c))
    Registries.transformers.register("exact_dedup")((_, c) => new ExactDedupTransformer(c))
    Registries.transformers.register("group_quota")((_, c) => new GroupQuotaTransformer(c))
    Registries.transformers.register("sequence_packing")((_, c) => new SequencePackingTransformer(c))
    Registries.transformers.register("near_dedup")((_, c) => new NearDedupTransformer(c))
    Registries.transformers.register("sem_dedup")((_, c) => new SemDedupTransformer(c))
    Registries.transformers.register("pii_scrub")((_, c) => new PiiScrubTransformer(c))
    Registries.transformers.register("language_filter")((_, c) => new LanguageFilterTransformer(c))
    Registries.transformers.register("embedding_guard")((_, c) => new EmbeddingGuardTransformer(c))
    Registries.transformers.register("incremental_dedup")((_, c) => new IncrementalDedupTransformer(c))
    Registries.transformers.register("incremental_near_dedup")((_, c) => new IncrementalNearDedupTransformer(c))
    Registries.transformers.register("incremental_vocab")((_, c) => new IncrementalVocabTransformer(c))
    Registries.transformers.register("incremental_sem_dedup")((_, c) => new IncrementalSemDedupTransformer(c))
    Registries.transformers.register("incremental_ivf")((_, c) => new IncrementalIvfTransformer(c))
    Registries.transformers.register("ann_topk")((_, c) => new AnnTopKTransformer(c))
    Registries.transformers.register("incremental_quota")((_, c) => new IncrementalQuotaTransformer(c))
    Registries.transformers.register("incremental_contamination")((_, c) => new IncrementalContaminationTransformer(c))
  }

  /** Beyond-reference: the mx17 curation DAG's stages as INDIVIDUAL
    * config-driven plugins, so quality-filter → exact-dedup → quota →
    * packing composes from a pipeline YAML exactly like the reference's
    * `data_cleaning` chain (`configs/curation_pipeline.yaml`;
    * EnginePipelineSpec reproduces mx17's gated row set end-to-end).
    * Defaults are mx17's parameters.
    */
  class QualityFilterTransformer(conf: Conf) extends Transformer {
    private val textCol = conf.strOr("text_column", "text")
    private val minWords = conf.intOr("min_words", 30)
    private val maxWords = conf.intOr("max_words", 5000)
    private val stopwords = {
      val s = conf.strSeq("stopwords")
      if (s.nonEmpty) s else Seq("the", "a", "of", "and", "is")
    }
    private val minStopwordTypes = conf.intOr("min_stopword_types", 2)
    private val minMeanWordLen = conf.dblOr("min_mean_word_len", 4.5)
    private val maxMeanWordLen = conf.dblOr("max_mean_word_len", 8.0)

    override def validate(df: DataFrame): Unit =
      require(df.columns.contains(textCol),
        s"quality_filter: requires column '$textCol', got ${df.columns.mkString(", ")}")

    def transform(df: DataFrame): DataFrame = {
      val ws = split(col(textCol), " ")
      val nw = size(ws)
      // 2× mean word length as an exact integer (chars excluding the
      // nw−1 separators, doubled) — the comparisons against n·bound are
      // exact in double far past any real document length
      val halfMean = (length(col(textCol)) - (nw - 1)) * 2
      df.filter(nw.between(minWords, maxWords) &&
        size(array_distinct(filter(ws, t => t.isin(stopwords: _*)))) >= minStopwordTypes &&
        halfMean >= nw * lit(2 * minMeanWordLen) &&
        halfMean <= nw * lit(2 * maxMeanWordLen))
    }
  }

  /** dd1's keep-first exact dedup ([[graft.operators.Dedup.dropExactDuplicates]])
    * as a pipeline stage.
    */
  class ExactDedupTransformer(conf: Conf) extends Transformer {
    private val idCol = conf.strOr("id_column", "doc_id")
    private val textCol = conf.strOr("text_column", "text")

    override def validate(df: DataFrame): Unit = {
      val have = df.columns.toSet
      require(have.contains(idCol) && have.contains(textCol),
        s"exact_dedup: requires columns '$idCol' and '$textCol', got ${have.mkString(", ")}")
    }

    def transform(df: DataFrame): DataFrame =
      graft.operators.Dedup.dropExactDuplicates(df, idCol, textCol)
  }

  /** Per-group head quota (mx2's shape): keep the first `quota` rows of
    * each group in `order_column` order — one keyed window, no collect.
    */
  class GroupQuotaTransformer(conf: Conf) extends Transformer {
    private val groupCol = conf.strOr("group_column", "source")
    private val orderCol = conf.strOr("order_column", "doc_id")
    private val quota = conf.intOr("quota", 10)

    override def validate(df: DataFrame): Unit = {
      val have = df.columns.toSet
      require(have.contains(groupCol) && have.contains(orderCol),
        s"group_quota: requires columns '$groupCol' and '$orderCol', got ${have.mkString(", ")}")
    }

    def transform(df: DataFrame): DataFrame = {
      import org.apache.spark.sql.expressions.Window
      df.withColumn("__rn", row_number().over(
          Window.partitionBy(col(groupCol)).orderBy(col(orderCol))))
        .filter(col("__rn") <= quota)
        .drop("__rn")
    }
  }

  /** Best-fit-decreasing sequence packing
    * ([[graft.operators.Packing.packSequences]], mx8's kernel) as the
    * chain's terminal stage: counts tokens from `text_column`, drops the
    * text, appends (n_tokens, bin_id). `num_partitions: 1` pins the exact
    * single-node BFD (the oracle-comparable setting); the default 0 packs
    * per split at cluster parallelism — the 100 TB path.
    */
  class SequencePackingTransformer(conf: Conf) extends Transformer {
    private val idCol = conf.strOr("id_column", "doc_id")
    private val textCol = conf.strOr("text_column", "text")
    private val budget = conf.intOr("budget", 256).toLong
    private val numPartitions = conf.intOr("num_partitions", 0)

    override def validate(df: DataFrame): Unit = {
      val have = df.columns.toSet
      require(have.contains(idCol) && have.contains(textCol),
        s"sequence_packing: requires columns '$idCol' and '$textCol', got ${have.mkString(", ")}")
    }

    def transform(df: DataFrame): DataFrame =
      graft.operators.Packing.packSequences(
        df.withColumn("n_tokens",
            graft.operators.TextAnalysis.tokenCount(col(textCol)).cast("long"))
          .drop(textCol),
        idCol, "n_tokens", budget, numPartitions)
  }

  /** dd2's MinHash-LSH near-duplicate REMOVAL as its own pipeline stage —
    * the flagship scale-path dedup (banded signatures → bucket join →
    * exact-Jaccard verify), with [[graft.operators.Dedup.cleanCorpus]]'s
    * survivor policy: for every verified pair the LOWER id survives, so
    * the dropped set is the distinct `doc_b` side. Unlike `corpus_clean`
    * this composes freely (quality_filter → exact_dedup → near_dedup →
    * quota → packing all from YAML) and keeps EVERY input column — the
    * anti-join is id-keyed, the text is never rewritten.
    */
  class NearDedupTransformer(conf: Conf) extends Transformer {
    private val idCol = conf.strOr("id_column", "doc_id")
    private val textCol = conf.strOr("text_column", "text")
    private val shingleK = conf.intOr("shingle_k", 3)
    private val bands = conf.intOr("bands", 16)
    private val rowsPerBand = conf.intOr("rows_per_band", 4)
    private val threshold = conf.dblOr("jaccard_threshold", 0.8)
    private val maxBucket = conf.intOr("max_bucket", 100000)

    override def validate(df: DataFrame): Unit = {
      val have = df.columns.toSet
      require(have.contains(idCol) && have.contains(textCol),
        s"near_dedup: requires columns '$idCol' and '$textCol', got ${have.mkString(", ")}")
    }

    def transform(df: DataFrame): DataFrame = {
      val losers = graft.operators.Dedup.minhashNearDuplicates(
          df, idCol, textCol, shingleK, bands, rowsPerBand, threshold, maxBucket)
        .select(col("doc_b").as(idCol)).distinct()
      df.join(losers, Seq(idCol), "left_anti")
    }
  }

  /** dd26's embedding-space semantic dedup (SemDeDup, Abbas et al. 2023)
    * as a pipeline stage: spherical-k-means cells over `embedding_column`,
    * within-cell pairs at cosine ≥ threshold grouped by connected
    * components, one survivor per group (lowest cosine to its cell
    * centroid — the member FARTHEST from the semantic cluster center
    * carries the most marginal information; ties → lowest id). Keeps every
    * input column via an id-keyed semi-join on the survivor set.
    *
    * Rows the assignment pass cannot assess (null/empty/zero-norm
    * embeddings — cosine undefined) are PRESERVED, not dropped: a dedup
    * stage must never delete what it cannot compare. Put
    * `embedding_guard` in front to drop them explicitly instead.
    */
  class SemDedupTransformer(conf: Conf) extends Transformer {
    private val idCol = conf.strOr("id_column", "vec_id")
    private val vecCol = conf.strOr("embedding_column", "embedding")
    private val k = conf.intOr("cells", 8)
    private val iters = conf.intOr("iters", 5)
    private val threshold = conf.dblOr("cosine_threshold", 0.7)

    override def validate(df: DataFrame): Unit = {
      val have = df.columns.toSet
      require(have.contains(idCol) && have.contains(vecCol),
        s"sem_dedup: requires columns '$idCol' and '$vecCol', got ${have.mkString(", ")}")
    }

    def transform(df: DataFrame): DataFrame = {
      val labeled = graft.operators.Dedup.cachedForReuse(
        graft.operators.Dedup.semDedup(df, idCol, vecCol, k, iters, threshold)
          .select(col(idCol), col("keep")))
      val keepIds = labeled.filter(col("keep")).select(col(idCol))
      df.join(keepIds, Seq(idCol), "left_semi")
        // unassessed rows (not in the labeled frame at all) pass through
        .unionByName(df.join(labeled.select(col(idCol)), Seq(idCol), "left_anti"))
    }
  }

  /** tx19's PII redaction ([[graft.operators.TextAnalysis.piiScrub]]) as a
    * pipeline stage: emails/IPv4s/phone-shaped runs → typed placeholders in
    * pinned stage order, with per-type counts appended. One codegen'd
    * projection — the zero-shuffle stage of the chain.
    */
  class PiiScrubTransformer(conf: Conf) extends Transformer {
    private val textCol = conf.strOr("text_column", "text")

    override def validate(df: DataFrame): Unit =
      require(df.columns.contains(textCol),
        s"pii_scrub: requires column '$textCol', got ${df.columns.mkString(", ")}")

    def transform(df: DataFrame): DataFrame =
      graft.operators.TextAnalysis.piiScrub(df, textCol)
  }

  /** tx4's n-gram-marker language ID as a FILTER stage: keep documents
    * whose predicted language is in `languages`. The predictor is the
    * deterministic marker-score argmax of
    * [[graft.operators.TextAnalysis.languageId]] — a narrow projection, no
    * shuffle, no model artifact to ship.
    */
  class LanguageFilterTransformer(conf: Conf) extends Transformer {
    private val textCol = conf.strOr("text_column", "text")
    private val languages = {
      val s = conf.strSeq("languages")
      if (s.nonEmpty) s else Seq("en")
    }

    override def validate(df: DataFrame): Unit =
      require(df.columns.contains(textCol),
        s"language_filter: requires column '$textCol', got ${df.columns.mkString(", ")}")

    def transform(df: DataFrame): DataFrame =
      df.filter(graft.operators.TextAnalysis.languageId(col(textCol))
        .isin(languages: _*))
  }

  /** Embedding-hygiene gate for the vector stages: drops rows whose
    * embedding is null, empty, or zero-norm — the documented PRECONDITION
    * of every cosine consumer downstream (`sem_dedup`, IVF assignment,
    * SemDeDup state travel: a zero vector's cosine is 0/0 → NaN, whose
    * argmax is engine-dependent — the mx28 note made enforceable in the
    * pipeline itself). With `normalize: true` the surviving vectors are
    * L2-normalized in place (double precision), which turns downstream
    * cosine into plain dot product. One narrow codegen'd projection+filter
    * via the native `dotp` norm — no shuffle, linear at any corpus size.
    */
  class EmbeddingGuardTransformer(conf: Conf) extends Transformer {
    private val vecCol = conf.strOr("embedding_column", "embedding")
    private val normalize = conf.bool("normalize")

    override def validate(df: DataFrame): Unit =
      require(df.columns.contains(vecCol),
        s"embedding_guard: requires column '$vecCol', got ${df.columns.mkString(", ")}")

    def transform(df: DataFrame): DataFrame = {
      import graft.operators.Similarity
      val v = Similarity.asDouble(col(vecCol))
      val nrm = Similarity.norm(v)
      val kept = df.filter(col(vecCol).isNotNull && size(col(vecCol)) > 0 && nrm > 0.0)
      if (normalize) {
        // nrm must be a projected ATTRIBUTE before the per-element lambda:
        // an expression referenced inside the HOF re-evaluates PER ELEMENT
        // (O(dims²) per row for an O(dims) norm). The HOF itself is
        // fully-qualified — the class's own transform(df) shadows it.
        // The temp column dodges existing names so an input frame that
        // already carries "__nrm" is never clobbered-then-dropped.
        val tmp = Iterator.from(0).map(i => s"__nrm$i")
          .find(n => !df.columns.contains(n)).get
        kept.withColumn(tmp, nrm)
          .withColumn(vecCol,
            org.apache.spark.sql.functions.transform(v, x => x / col(tmp)))
          .drop(tmp)
      } else kept
    }
  }

  /** Beyond-reference: the dd8 corpus-curation chain (quality gate → exact
    * dedup → MinHash near-dup removal, [[graft.operators.Dedup.cleanCorpus]])
    * as a config-driven transformer — so the SAME YAML engine that runs the
    * reference's pipelines runs an LLM-curation pipeline
    * (`configs/corpus_pipeline.yaml`): jsonl in → curated jsonl out.
    */
  class CorpusCleanTransformer(conf: Conf) extends Transformer {
    private val idCol = conf.strOr("id_column", "doc_id")
    private val textCol = conf.strOr("text_column", "text")
    private val maxDupWordFraction = conf.dblOr("max_dup_word_fraction", 0.5)
    private val maxSymbolRatio = conf.dblOr("max_symbol_ratio", 0.3)
    private val minTokens = conf.intOr("min_tokens", 5)
    private val threshold = conf.dblOr("jaccard_threshold", 0.8)

    override def validate(df: DataFrame): Unit = {
      val have = df.columns.toSet
      require(have.contains(idCol) && have.contains(textCol),
        s"corpus_clean: requires columns '$idCol' and '$textCol', got ${have.mkString(", ")}")
    }

    def transform(df: DataFrame): DataFrame =
      graft.operators.Dedup.cleanCorpus(df, idCol, textCol,
        maxDupWordFraction = maxDupWordFraction,
        maxSymbolRatio = maxSymbolRatio,
        minTokens = minTokens, threshold = threshold)
  }

  /** Carried operator state under a stage's `state_dir`: the processed-
    * shard manifest plus the stage's stores, as parquet, all path
    * operations through Hadoop `FileSystem` (a `state_dir` on hdfs:// or
    * s3a:// behaves like a local one). [[Stage]] is the one owner of the
    * protocol; it enforces:
    *  - save-after-load: `transform` only STAGES the grown manifest and
    *    stores; the engine calls `commit()` after a successful load, so a
    *    failed load leaves every store as the last loaded delivery left it
    *    and the next run re-processes the same delta (the reference's cursor
    *    discipline extended to operator state);
    *  - all-or-nothing presence: the manifest and the stores exist together
    *    or not at all; partial state fails loudly instead of bootstrapping
    *    empty state beside history;
    *  - version gate: each store carries a `_GRAFT_STATE_VERSION` stamp; a
    *    store whose values a kernel change invalidated (the 61-bit MinHash
    *    migration) is rejected, never mixed, and a version-gated store that
    *    makes the state look partial gets the rebuild message instead;
    *  - bucketed layout carried in the stamp (`<version>;buckets=N`): the
    *    reader re-registers the store with that layout, so a delivery's
    *    store-side joins read co-located and only the delta moves; a store
    *    without the rider reads as plain parquet;
    *  - rename-aside swap: every grown store writes to a temp sibling first
    *    (its plan still READS the old store), then each swaps in as live →
    *    `.bak`, tmp → live, delete `.bak`; a `.bak` left by a crash inside
    *    that window fails reads loudly with the recovery rename.
    */
  private[graft] object IncrState {
    import org.apache.hadoop.fs.{FileSystem, Path => HPath}
    import org.apache.spark.sql.SparkSession

    /** Store layout/value versions. Bump the minhash token whenever the
      * signature kernel's VALUES change (hash space, permutation family,
      * banding fold). fp/vocab stores predate stamping and their values
      * are kernel-independent (`md5(text)` / term counts) — readers accept
      * an unversioned legacy store for those and stamp it on next commit.
      */
    val SigStoreVersion = "minhash-sig-v2-61bit-splitmix"
    val BandIndexVersion = "minhash-band-index-v2-61bit-splitmix"
    val FpStoreVersion = "fp-md5-v2"
    val VocabStoreVersion = "vocab-df-v2"
    val SemStoreVersion = "semdedup-state-v1"
    val IvfCountsVersion = "ivf-counts-v1"
    val IvfCentroidsVersion = "ivf-centroids-v1"
    val QuotaCountsVersion = "quota-counts-v1"
    val GramStoreVersion = "grams-string-v1"

    /** Default at-rest bucket count. A DEPLOYMENT knob (`state_buckets` on
      * the plugins): size it to the cluster's shuffle parallelism — a
      * bucketed side whose count is below `spark.sql.shuffle.partitions`
      * makes EnsureRequirements re-shuffle even index-sized aggregates up
      * to the session parallelism (measured in the incr-bk smoke: 32
      * buckets under 128 shuffle partitions re-shuffled the cap counts).
      * The ACTUAL count a store was written with travels in its version
      * stamp (`<version>;buckets=N`), so readers never guess.
      */
    val StateBuckets = 32

    private def fsFor(spark: SparkSession, path: String): (FileSystem, HPath) = {
      val p = new HPath(path)
      (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
    }

    /** Fully-qualified URI for `path` — table-API writers resolve RELATIVE
      * paths against the warehouse dir while Hadoop renames resolve them
      * against the working dir; qualifying once removes the divergence.
      */
    private def qualified(spark: SparkSession, path: String): String = {
      val (fs, p) = fsFor(spark, path)
      fs.makeQualified(p).toString
    }

    private def dirExists(spark: SparkSession, path: String): Boolean = {
      val (fs, p) = fsFor(spark, path)
      fs.exists(p) && fs.getFileStatus(p).isDirectory
    }

    private def versionFile(path: String) = s"$path/_GRAFT_STATE_VERSION"

    private[graft] def md5Hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        .map("%02x".format(_)).mkString

    private def stampVersion(spark: SparkSession, dir: String, version: String): Unit = {
      val (fs, p) = fsFor(spark, versionFile(dir))
      val out = fs.create(p, true)
      try out.write(version.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
    }

    private def readVersion(spark: SparkSession, dir: String): Option[String] = {
      val (fs, p) = fsFor(spark, versionFile(dir))
      if (!fs.exists(p)) None
      else {
        val in = fs.open(p)
        try {
          val bytes = new java.io.ByteArrayOutputStream()
          val buf = new Array[Byte](256)
          var n = in.read(buf)
          while (n > 0) { bytes.write(buf, 0, n); n = in.read(buf) }
          Some(new String(bytes.toByteArray, java.nio.charset.StandardCharsets.UTF_8).trim)
        } finally in.close()
      }
    }

    /** All-or-nothing existence across a stage's manifest + store dirs; a
      * `.bak` left by an interrupted swap fails with the recovery rename.
      *
      * `versions` (name → expected version stamp): when the state is
      * PARTIAL, a present dir whose stamp mismatches (or is absent) gets
      * the version-MIGRATION message instead of the generic restore-the-
      * missing-dirs one — a pre-round-14 near_dedup store (signatures +
      * manifest, no band_index) must be told "clear the state_dir and
      * re-deliver", because restoring the missing dir is impossible for it.
      */
    private def requireTogether(spark: SparkSession, what: String,
        paths: Map[String, String], versions: Map[String, String]): Unit = {
      paths.foreach { case (nm, p) =>
        if (!dirExists(spark, p) && dirExists(spark, s"$p.bak"))
          throw new IllegalStateException(
            s"$what: $nm at $p is missing but $p.bak exists — an interrupted " +
              s"state swap. Recover by renaming $p.bak back to $p, then re-run.")
      }
      val present = paths.map { case (nm, p) => nm -> dirExists(spark, p) }
      if (present.values.exists(identity) && !present.values.forall(identity)) {
        // version check FIRST: a legacy store that predates a sibling dir
        // reads as partial, but the right remedy is rebuild, not restore
        present.collect { case (nm, true) => nm }.foreach { nm =>
          versions.get(nm).foreach(expect =>
            checkVersion(spark, paths(nm), expect, acceptUnversioned = false))
        }
        throw new IllegalStateException(
          s"$what: PARTIAL state — present: " +
            s"${present.filter(_._2).keys.mkString(", ")}; missing: " +
            s"${present.filterNot(_._2).keys.mkString(", ")}. Refusing to " +
            "bootstrap empty state beside existing history (that would " +
            "silently forget it); restore the missing dirs or clear the " +
            "whole state_dir.")
      }
    }

    /** Stamp = `<version>` or `<version>;buckets=N`; equality is on the
      * version part, the layout rider is the reader's bucket count.
      */
    private def versionPart(stamp: String): String = stamp.split(';')(0)
    private def bucketsPart(stamp: String): Option[Int] =
      stamp.split(';').collectFirst {
        case s if s.startsWith("buckets=") => s.drop(8).toInt
      }

    private def checkVersion(spark: SparkSession, path: String,
        expect: String, acceptUnversioned: Boolean): Unit =
      readVersion(spark, path).map(versionPart) match {
        case Some(v) if v == expect => ()
        case Some(v) => throw new IllegalStateException(
          s"state store at $path has version '$v' but this build expects " +
            s"'$expect' — the store's values are not interchangeable across " +
            "these versions (e.g. the round-14 61-bit MinHash kernel). " +
            "Rebuild the state from the full corpus (clear the state_dir " +
            "and re-deliver), or run the matching build.")
        case None if acceptUnversioned => () // pre-stamping legacy store
        case None => throw new IllegalStateException(
          s"state store at $path carries no _GRAFT_STATE_VERSION stamp; " +
            s"this build expects '$expect'. An unstamped store of this kind " +
            "predates the round-14 MinHash kernel and its signatures are NOT " +
            "comparable to current ones — clear the state_dir and re-deliver " +
            "the full corpus to rebuild it.")
      }

    /** A committed store can be legitimately EMPTY (e.g. a bootstrap
      * delivery where no row carried state): the write leaves no parquet
      * part files, so a bare read would die on schema inference. An empty
      * store reads as the schema-correct empty fallback.
      */
    private def hasParquet(spark: SparkSession, path: String): Boolean = {
      val (fs, p) = fsFor(spark, path)
      fs.listStatus(p).exists(_.getPath.getName.endsWith(".parquet"))
    }

    /** Read a store, or `fallback` when it is missing or committed empty.
      * A store committed by [[writeTmpBucketed]] reads with its bucketing
      * VISIBLE to the planner: datasource-table bucket metadata lives in
      * the (session-scoped) catalog, so re-register an external table over
      * the store path with the layout the version stamp guarantees. A
      * legacy (unstamped → plain-parquet) store reads unbucketed.
      */
    def readOrBucketed(spark: SparkSession, path: String, expect: String,
        acceptUnversioned: Boolean, bucketCols: Seq[String],
        fallback: => DataFrame): DataFrame =
      if (dirExists(spark, path)) {
        checkVersion(spark, path, expect, acceptUnversioned)
        val stamp = readVersion(spark, path)
        // a stamp WITHOUT a buckets rider means the store was committed
        // UNBUCKETED (commitAll always stamps bucketed writes with
        // `;buckets=N`): read it plain — registering plain part files as a
        // bucketed table would lie about the layout and mis-route the
        // bucket-pruned joins (e.g. an r14-era hits store read by the
        // round-15 doc_id-bucketed path)
        if (!hasParquet(spark, path)) fallback // empty committed store
        else if (bucketCols.isEmpty || stamp.flatMap(bucketsPart).isEmpty)
          spark.read.parquet(path)
        else {
          val buckets = stamp.flatMap(bucketsPart).get
          // full-width digest of the QUALIFIED path: String.hashCode is
          // 32-bit and collision-prone, and the name mutates the session
          // catalog — two colliding store paths would silently bind one
          // store's reads to the other's location and bucket layout
          val tbl = "graft_state_" + md5Hex(qualified(spark, path))
          val schema = spark.read.parquet(path).schema
          val colsDdl = schema.fields
            .map(f => s"`${f.name}` ${f.dataType.sql}").mkString(", ")
          spark.sql(s"DROP TABLE IF EXISTS `$tbl`")
          val cols = bucketCols.map(c => s"`$c`").mkString(", ")
          spark.sql(
            s"""CREATE TABLE `$tbl` ($colsDdl) USING parquet
               |CLUSTERED BY ($cols) SORTED BY ($cols) INTO $buckets BUCKETS
               |LOCATION '${qualified(spark, path)}'""".stripMargin)
          spark.table(tbl)
        }
      } else fallback

    /** One staged store: frame + target path + version stamp; bucketCols
      * non-empty ⇒ committed via bucketBy in the StateBuckets layout.
      */
    case class Staged(df: DataFrame, path: String, version: String,
        bucketCols: Seq[String] = Nil, buckets: Int = StateBuckets)

    /** Two-phase store(s)+manifest commit: EVERY frame writes to a temp
      * sibling first (their plans still read the old stores), then the
      * MANIFEST swaps before the stores — a crash between the swaps leaves
      * "manifest covers the delta, store lacks it", which degrades to
      * missed future dedup / an undercounted store; the opposite order
      * would re-process a delta against a store that already contains it
      * and silently drop its legitimate survivors (data loss). A crash
      * during the writes leaves everything untouched. With MULTIPLE stores
      * a crash between store swaps leaves them mutually stale-by-one-delta
      * (e.g. signatures updated, band index not): every such mix degrades
      * to MISSED candidates for the crashed delta only — the same
      * conservative bias as the manifest-first window, never a wrong keep
      * of a historical doc.
      */
    def commitAll(manifest: DataFrame, manifestPath: String,
        stores: Staged*): Unit = {
      val spark = manifest.sparkSession
      val tStores = stores.map { s =>
        val tmp =
          if (s.bucketCols.isEmpty) writeTmp(s.df, s.path)
          else writeTmpBucketed(s.df, s.path, s.bucketCols, s.buckets)
        stampVersion(spark, tmp,
          if (s.bucketCols.isEmpty) s.version else s"${s.version};buckets=${s.buckets}")
        (tmp, s.path)
      }
      val tMani = writeTmp(manifest, manifestPath)
      swap(spark, tMani, manifestPath)
      tStores.foreach { case (tmp, path) => swap(spark, tmp, path) }
    }

    private def writeTmp(df: DataFrame, path: String): String = {
      val tmp = s"$path.tmp-${java.util.UUID.randomUUID().toString.take(8)}"
      df.write.mode("overwrite").parquet(tmp)
      tmp
    }

    /** bucketBy needs the table API: write an EXTERNAL datasource table at
      * the tmp path, then drop it (external drop keeps the files, whose
      * names carry the bucket ids the reader's re-registered table maps
      * back). The bucketed write itself is shuffle-free — tasks route rows
      * to per-bucket files — so growing a bucketed store never re-shuffles
      * the carried side.
      */
    private def writeTmpBucketed(df: DataFrame, path: String,
        bucketCols: Seq[String], buckets: Int): String = {
      val id = java.util.UUID.randomUUID().toString.take(8)
      val tmp = s"$path.tmp-$id"
      val tbl = s"graft_state_tmp_$id"
      df.write.bucketBy(buckets, bucketCols.head, bucketCols.tail: _*)
        .sortBy(bucketCols.head, bucketCols.tail: _*)
        .option("path", qualified(df.sparkSession, tmp)).mode("overwrite")
        .saveAsTable(tbl)
      df.sparkSession.sql(s"DROP TABLE `$tbl`")
      tmp
    }

    private def swap(spark: SparkSession, tmp: String, path: String): Unit = {
      val (fs, target) = fsFor(spark, path)
      val bak = new HPath(s"$path.bak")
      if (fs.exists(bak)) fs.delete(bak, true)
      val hadOld = fs.exists(target)
      if (hadOld) require(fs.rename(target, bak),
        s"state swap: could not move $path aside to $path.bak")
      require(fs.rename(new HPath(tmp), target),
        s"state swap: could not move $tmp into place at $path" +
          (if (hadOld) s" — the previous store is intact at $path.bak" else ""))
      if (hadOld) fs.delete(bak, true)
    }

    /** One consistent snapshot of the stage input: a LAZY localCheckpoint,
      * materialized by the load action itself, so the staged state plans
      * executed at commit time read the loaded snapshot's BLOCKS — a live
      * source (JDBC, API) is never re-queried after the load, and the
      * committed state can never describe rows that were not loaded.
      */
    private def snapshot(df: DataFrame): DataFrame = df.localCheckpoint(false)

    def requireCols(what: String, df: DataFrame, cols: Seq[String]): Unit = {
      val have = df.columns.toSet
      require(cols.forall(have.contains),
        s"$what: requires columns ${cols.mkString("'", "', '", "'")}, " +
          s"got ${have.mkString(", ")}")
    }

    /** A read-only consumer's view of a committed, version-gated store: a
      * missing or empty store fails with `missing` instead of reading as
      * empty (serving from an uncommitted index must never silently return
      * nothing).
      */
    def readCommitted(spark: SparkSession, path: String, version: String,
        missing: => String): DataFrame =
      readOrBucketed(spark, path, version, acceptUnversioned = false, Nil,
        throw new IllegalStateException(missing))

    /** The codebook `(c_id, cv, cn)` stored as parquet `(c_id, cv[, cn])`
      * at `path` — e.g. a [[Similarity.kmeansCentroids]] dump; `cn` is
      * derived from `cv` when absent.
      */
    def codebook(spark: SparkSession, what: String, path: String): DataFrame = {
      val raw = spark.read.parquet(path)
      require(raw.columns.contains("c_id") && raw.columns.contains("cv"),
        s"$what: centroids at $path need (c_id, cv), got ${raw.columns.mkString(", ")}")
      if (raw.columns.contains("cn")) raw.select(col("c_id"), col("cv"), col("cn"))
      else raw.select(col("c_id"), col("cv"), Similarity.norm(col("cv")).as("cn"))
    }

    /** One store of a [[Stage]]: its directory under `state_dir`, version
      * stamp, at-rest bucket columns (empty = plain parquet), whether an
      * unstamped legacy store is accepted (kinds whose values no kernel
      * change invalidates), and the frame a first delivery starts from,
      * given the stage input.
      */
    case class Store(name: String, version: String, init: DataFrame => DataFrame,
        bucketCols: Seq[String] = Nil, acceptUnversioned: Boolean = false)

    /** The empty frame of `schema`, as a [[Store]]'s `init`. */
    def empty(schema: StructType): DataFrame => DataFrame =
      in => in.sparkSession.createDataFrame(java.util.Collections.emptyList[Row](), schema)

    /** The base of every stateful stage. A stage declares its [[stores]],
      * its required columns and one [[step]]; the base reads `state_dir`,
      * `shard_column` and `state_buckets`, snapshots the input, checks
      * presence and versions, reads the manifest and every store, grows
      * the manifest by the delivery's shards and stages the result for
      * [[commit]].
      */
    abstract class Stage(conf: Conf, kind: String) extends graft.core.StatefulTransformer {
      protected val shardCol: String = conf.strOr("shard_column", "source")
      private val buckets = conf.intOr("state_buckets", StateBuckets)
      protected val stateDir: String = conf.str("state_dir").getOrElse(
        throw new IllegalArgumentException(s"$kind: state_dir is required"))
      private var staged: Option[(DataFrame, Map[String, DataFrame])] = None

      /** The carried stores, in commit order. */
      protected def stores: Seq[Store]
      /** The input columns the stage reads, in the order errors name them. */
      protected def requiredCols: Seq[String]
      /** One delivery: the snapshot input, the carried manifest and stores
        * by name ⇒ the stage output and every grown store by name.
        */
      protected def step(df: DataFrame, manifest: DataFrame,
          carried: Map[String, DataFrame]): (DataFrame, Map[String, DataFrame])

      override def validate(df: DataFrame): Unit = requireCols(kind, df, requiredCols)

      def transform(df0: DataFrame): DataFrame = {
        val df = IncrState.snapshot(df0)
        val spark = df.sparkSession
        def dir(name: String) = s"$stateDir/$name"
        requireTogether(spark, kind,
          ListMap(stores.map(s => s.name -> dir(s.name)) :+ ("manifest" -> dir("manifest")): _*),
          stores.filterNot(_.acceptUnversioned).map(s => s.name -> s.version).toMap)
        val carried = stores.map(s => s.name -> readOrBucketed(spark, dir(s.name),
          s.version, s.acceptUnversioned, s.bucketCols, s.init(df))).toMap
        // the manifest carries no stamp
        val manifest = readOrBucketed(spark, dir("manifest"), stores.head.version,
          acceptUnversioned = true, Nil, df.select(col(shardCol)).limit(0))
        val (out, grown) = step(df, manifest, carried)
        staged = Some((manifest.select(col(shardCol))
          .union(df.select(col(shardCol))).distinct(), grown))
        out
      }

      def commit(): Unit = staged.foreach { case (manifest, grown) =>
        commitAll(manifest, s"$stateDir/manifest", stores.map(s => Staged(
          grown(s.name), s"$stateDir/${s.name}", s.version, s.bucketCols, buckets)): _*)
        staged = None
      }
    }
  }

  /** Incremental EXACT dedup ([[graft.operators.Incremental.dedupDelta]])
    * as a pipeline stage: the carried md5 fingerprint store, bucketed by
    * `fp` so the delta's anti-join lands in the store's buckets and only
    * the delta side shuffles. A run deduplicates ONLY the shards the
    * manifest doesn't cover — against the store and within the delta — and
    * emits the survivors. Fingerprints are kernel-independent, so an
    * unstamped legacy store reads plain and upgrades on commit.
    */
  class IncrementalDedupTransformer(conf: Conf)
      extends IncrState.Stage(conf, "incremental_dedup") {
    private val idCol = conf.strOr("id_column", "doc_id")
    private val textCol = conf.strOr("text_column", "text")
    protected def requiredCols = Seq(idCol, textCol, shardCol)
    protected val stores = Seq(IncrState.Store("fingerprints", IncrState.FpStoreVersion,
      IncrState.empty(new StructType().add("fp", StringType)), Seq("fp"),
      acceptUnversioned = true))

    protected def step(df: DataFrame, manifest: DataFrame, carried: Map[String, DataFrame]) = {
      val (survivors, fps) = Incremental.dedupDelta(
        df, manifest, shardCol, carried("fingerprints"), idCol, textCol)
      (survivors, Map("fingerprints" -> fps))
    }
  }

  /** [[IncrementalDedupTransformer]]'s banded-LSH sibling — mx26's
    * [[graft.operators.Incremental.nearDedupDelta]] as a config-driven
    * stage: the carried `(doc_id, sig, bk)` MinHash-signature store
    * (bucketed by doc_id, so the verify join's store side reads
    * co-located) and its `(doc_id, band, key)` band index (bucketed by
    * (band, key), so the banding join does); a run near-deduplicates only
    * uncovered shards against (store ∪ delta). Both stores are
    * value-version-gated: a pre-round-14 signature store was computed in
    * the 32-bit hash space and is NOT comparable to current signatures.
    * `broadcast_delta: true` opts into the scan-only store path for
    * shard-sized deliveries (measured 25× less delivery shuffle at a
    * 20M-doc store — SCALE.md round 13).
    */
  class IncrementalNearDedupTransformer(conf: Conf)
      extends IncrState.Stage(conf, "incremental_near_dedup") {
    private val idCol = conf.strOr("id_column", "doc_id")
    private val textCol = conf.strOr("text_column", "text")
    private val shingleK = conf.intOr("shingle_k", 3)
    private val bands = conf.intOr("bands", 16)
    private val rowsPerBand = conf.intOr("rows_per_band", 4)
    private val maxBucket = conf.intOr("max_bucket", 100000)
    private val broadcastDelta = conf.bool("broadcast_delta")
    protected def requiredCols = Seq(idCol, textCol, shardCol)
    private def noSigs(in: DataFrame) = Dedup.minhashSignaturesWithBands(
      in.limit(0), idCol, textCol, shingleK, bands * rowsPerBand, bands)
    protected val stores = Seq(
      IncrState.Store("signatures", IncrState.SigStoreVersion, noSigs, Seq("doc_id")),
      IncrState.Store("band_index", IncrState.BandIndexVersion,
        in => Dedup.bandIndex(noSigs(in)), Seq("band", "key")))

    protected def step(df: DataFrame, manifest: DataFrame, carried: Map[String, DataFrame]) = {
      val sigs = carried("signatures")
      // a store trained under DIFFERENT banding parameters must fail fast:
      // zip_with over mismatched signature lengths null-pads, the verify
      // predicate goes null, and every store-side pair silently drops
      sigs.select(size(col("sig")), size(col("bk"))).take(1).foreach { r =>
        require(r.getInt(0) == bands * rowsPerBand && r.getInt(1) == bands,
          s"incremental_near_dedup: carried store at $stateDir has k=${r.getInt(0)}/" +
            s"bands=${r.getInt(1)} but the stage is configured k=${bands * rowsPerBand}/" +
            s"bands=$bands — signature stores are parameter-bound; retrain or " +
            "point state_dir elsewhere")
      }
      // the carried store arrives from parquet: scanning it per consumer
      // beats writing a transient state-sized checkpoint copy first
      val (survivors, grown) = Incremental.nearDedupDelta(
        df, manifest, shardCol, sigs, idCol, textCol,
        shingleK = shingleK, bands = bands, rowsPerBand = rowsPerBand,
        maxBucket = maxBucket, materializeState = false,
        broadcastDelta = broadcastDelta, priorBandIndex = Some(carried("band_index")))
      (survivors, Map("signatures" -> grown, "band_index" -> Dedup.bandIndex(grown)))
    }
  }

  /** The vocabulary/document-frequency store ([[graft.operators
    * .Incremental.vocabDelta]]) as a config-driven stage: carried
    * `(term, df)` state, bucketed by term so the delta-count merge join
    * lands in the store's buckets, and delta-only tokenization. The
    * stage's OUTPUT is the touched-term drift report
    * `(term, df_prior, df_delta, df_total)` — the feed a tokenizer health
    * monitor loads (new terms are `df_prior = 0`).
    */
  class IncrementalVocabTransformer(conf: Conf)
      extends IncrState.Stage(conf, "incremental_vocab") {
    private val textCol = conf.strOr("text_column", "text")
    protected def requiredCols = Seq(textCol, shardCol)
    protected val stores = Seq(IncrState.Store("vocab", IncrState.VocabStoreVersion,
      IncrState.empty(new StructType().add("term", StringType).add("df", LongType)),
      Seq("term"), acceptUnversioned = true))

    protected def step(df: DataFrame, manifest: DataFrame, carried: Map[String, DataFrame]) = {
      val (report, vocab) = Incremental.vocabDelta(
        df, manifest, shardCol, carried("vocab"), textCol)
      (report, Map("vocab" -> vocab))
    }
  }

  /** [[graft.operators.Incremental.semDedupDelta]] as a config-driven
    * stage — the embedding-space member of the state-travel family
    * (SemDeDup, Abbas et al. 2023, arXiv:2303.09540): the carried state is
    * the full labeled vector frame `(vec_id, v, nrm, cell, cell_cos, grp,
    * keep)`, bucketed by cell so the delta×store pairing reads the carried
    * vectors co-located; a run semantically deduplicates ONLY uncovered
    * shards against the carried groups (delta×touched-cell pairing,
    * historical-label contraction, retroactive bridge merges — the mx29
    * semantics, oracle-pinned there). The stage OUTPUT is the delta's
    * `(id, cell, grp, keep)` verdict frame. The quantizer arrives from
    * `centroids_path` ([[IncrState.codebook]]) and is FROZEN for the
    * lifetime of the state dir BY CONTRACT: group identity depends on cell
    * pairing, so a changed codebook would silently change dedup semantics
    * mid-history (carried rows keep their original `cell`; a delta
    * assigned under different centroids would pair against the wrong
    * cells). Retrain ⇒ new state_dir, full re-delivery.
    */
  class IncrementalSemDedupTransformer(conf: Conf)
      extends IncrState.Stage(conf, "incremental_sem_dedup") {
    private val idCol = conf.strOr("id_column", "vec_id")
    private val vecCol = conf.strOr("vector_column", "embedding")
    private val threshold = conf.dblOr("threshold", 0.85)
    private val centroidsPath = conf.str("centroids_path").getOrElse(
      throw new IllegalArgumentException("incremental_sem_dedup: centroids_path is required"))
    protected def requiredCols = Seq(idCol, vecCol, shardCol)
    protected val stores = Seq(IncrState.Store("state", IncrState.SemStoreVersion,
      IncrState.empty(new StructType()
        .add("vec_id", LongType).add("v", ArrayType(DoubleType))
        .add("nrm", DoubleType).add("cell", LongType)
        .add("cell_cos", DoubleType).add("grp", LongType)
        .add("keep", BooleanType)), Seq("cell")))

    protected def step(df: DataFrame, manifest: DataFrame, carried: Map[String, DataFrame]) = {
      val spark = df.sparkSession
      val (verdicts, state) = Incremental.semDedupDelta(df, manifest, shardCol,
        IncrState.codebook(spark, "incremental_sem_dedup", centroidsPath),
        carried("state"), idCol, vecCol, threshold)
      (verdicts, Map("state" -> state))
    }
  }

  /** [[graft.operators.Incremental.ivfDelta]] (+ optional
    * [[graft.operators.Incremental.retrainCentroids]]) as a config-driven
    * stage — the ANN-index member of the state-travel family: carried
    * state is the codebook `(c_id, cv, cn)` (seeded from `centroids_path`
    * on first run) and the per-cell population counts `(cell, n)`; a run
    * assigns ONLY its delta against the carried codebook (one broadcast
    * argmax-cosine pass — history is never re-read) and the stage OUTPUT
    * is the delta's `(id, cell)` assignments. With `retrain: true`, one
    * deterministic Lloyd refinement over the DELTA's members stages an
    * updated codebook for the NEXT delivery (online-k-means style;
    * assignments in THIS delivery are always under the codebook carried
    * in) — the bounded, delivery-local answer to the drift signal the
    * counts expose (mx28's subject).
    */
  class IncrementalIvfTransformer(conf: Conf)
      extends IncrState.Stage(conf, "incremental_ivf") {
    private val idCol = conf.strOr("id_column", "vec_id")
    private val vecCol = conf.strOr("vector_column", "embedding")
    private val retrain = conf.bool("retrain")
    private val centroidsPath = conf.str("centroids_path").getOrElse(
      throw new IllegalArgumentException("incremental_ivf: centroids_path is required"))
    protected def requiredCols = Seq(idCol, vecCol, shardCol)
    protected val stores = Seq(
      IncrState.Store("centroids", IncrState.IvfCentroidsVersion,
        in => IncrState.codebook(in.sparkSession, "incremental_ivf", centroidsPath)),
      IncrState.Store("counts", IncrState.IvfCountsVersion,
        IncrState.empty(new StructType().add("cell", LongType).add("n", LongType))))

    protected def step(df: DataFrame, manifest: DataFrame, carried: Map[String, DataFrame]) = {
      val (cents, counts) = (carried("centroids"), carried("counts"))
      val (assigned, _) = Incremental.ivfDelta(
        df, manifest, shardCol, cents, counts, idCol, vecCol)
      // assignment feeds the stage output, the grown counts, and (under
      // retrain) the Lloyd members — one delta-sized materialization
      val asg = Dedup.cachedForReuse(assigned.select(col(idCol), col("cell")))
      val newCents =
        if (!retrain) cents
        else {
          val (delta, _) = Incremental.deltaShards(df, manifest, shardCol)
          val members = Similarity.preparedCorpus(delta, idCol, vecCol)
            .join(asg.select(col(idCol).as("vec_id"), col("cell")), Seq("vec_id"))
            .select(col("cell"), col("vec_id"), col("v"))
          Incremental.retrainCentroids(members, cents)
        }
      val grownCounts = asg.groupBy(col("cell")).agg(count(lit(1)).as("n"))
        .unionByName(counts)
        .groupBy(col("cell")).agg(sum(col("n")).cast("long").as("n"))
      (asg, Map("centroids" -> newCents, "counts" -> grownCounts))
    }
  }

  /** ANN top-k SERVING from config — the query side of the
    * `incremental_ivf` index family (VERDICT r14 #5: maintenance was a
    * complete plugin family, but nothing served neighbors from the carried
    * index via YAML). The stage runs
    * [[graft.operators.Similarity.ivfTopKWithCentroids]]: the input frame
    * is the corpus, rows matching `query_filter` (a SQL predicate) are the
    * queries, the codebook comes from the CARRIED `state_dir/centroids`
    * store an `incremental_ivf` stage committed (version-gated, read-only
    * — serving never mutates the index; `centroids_path` serves a static
    * codebook instead), and the output is `(q_id, neighbor, cosine, rnk)`
    * — each query's `k` nearest corpus vectors by cosine.
    *
    * `n_probe` is the recall/cost knob: each query searches its `n_probe`
    * nearest cells (1 = the sim3 plan; = nCells is exact search). Scale
    * shape: one broadcast argmax-cosine assignment pass over the corpus,
    * a broadcast of the (small, filtered) query side, and a per-query
    * top-k window — no corpus self-join, no cartesian.
    */
  class AnnTopKTransformer(conf: Conf) extends Transformer {
    private val idCol = conf.strOr("id_column", "vec_id")
    private val vecCol = conf.strOr("vector_column", "embedding")
    private val k = conf.intOr("k", 10)
    private val nProbe = conf.intOr("n_probe", 1)
    private val queryFilter = conf.str("query_filter").getOrElse(
      throw new IllegalArgumentException("ann_topk: query_filter is required " +
        "(a SQL predicate selecting the query rows, e.g. \"vec_id % 100 = 0\")"))
    private val stateDir = conf.str("state_dir")
    private val centroidsPath = conf.str("centroids_path")
    require(stateDir.nonEmpty || centroidsPath.nonEmpty,
      "ann_topk: one of state_dir (a committed incremental_ivf index) or " +
        "centroids_path (a static codebook) is required")

    override def validate(df: DataFrame): Unit =
      IncrState.requireCols("ann_topk", df, Seq(idCol, vecCol))

    def transform(df: DataFrame): DataFrame = {
      val spark = df.sparkSession
      val cents = stateDir match {
        case Some(dir) =>
          IncrState.readCommitted(spark, s"$dir/centroids", IncrState.IvfCentroidsVersion,
            s"ann_topk: no committed index at $dir/centroids — run the " +
              "incremental_ivf maintenance pipeline first, or point " +
              "centroids_path at a static codebook")
        case None => IncrState.codebook(spark, "ann_topk", centroidsPath.get)
      }
      val p = Similarity.preparedCorpus(df, idCol, vecCol)
      Similarity.ivfTopKWithCentroids(p, cents, expr(queryFilter), k, nProbe)
    }
  }

  /** [[graft.operators.Incremental.quotaDelta]] as a config-driven stage —
    * the per-group curation quota with carried counts (mx31's subject):
    * each run keeps, per group, its first `quota − carried` rows in
    * `order_column` order and stages the grown `(group, n_kept)` counts.
    * Two deliveries ≡ one global run over the (delivery, order) total
    * order; `order_column` must be unique within a group (the operator's
    * pinned precondition). The stage OUTPUT is the delta's kept rows.
    */
  class IncrementalQuotaTransformer(conf: Conf)
      extends IncrState.Stage(conf, "incremental_quota") {
    private val groupCol = conf.strOr("group_column", "source")
    private val orderCol = conf.strOr("order_column", "doc_id")
    private val quota = conf.intOr("quota", 10).toLong
    protected def requiredCols = Seq(groupCol, orderCol, shardCol)
    protected val stores = Seq(IncrState.Store("counts", IncrState.QuotaCountsVersion,
      in => in.select(col(groupCol)).limit(0).withColumn("n_kept", lit(0L))))

    protected def step(df: DataFrame, manifest: DataFrame, carried: Map[String, DataFrame]) = {
      val counts = carried("counts")
      val (kept, _) = Incremental.quotaDelta(
        df, manifest, shardCol, counts, groupCol, orderCol, quota)
      // kept feeds the stage output AND the grown counts — pin one
      // evaluation (the operator's own documented consumer discipline)
      val keptM = Dedup.cachedForReuse(kept)
      val grown = counts.select(col(groupCol), col("n_kept"))
        .unionByName(keptM.groupBy(col(groupCol))
          .agg(count(lit(1)).as("n_kept")))
        .groupBy(col(groupCol))
        .agg(sum(col("n_kept")).cast("long").as("n_kept"))
      (keptM, Map("counts" -> grown))
    }
  }

  /** [[graft.operators.Incremental.contaminationDelta]] as a config-driven
    * stage — gram-level decontamination with a TRAVELING gram store
    * (mx33's subject): the carried state is the distinct train-gram store,
    * each historical eval doc's gram set, and the running per-eval-doc
    * contamination counters. A delivery shingles only its delta; a
    * late-arriving train gram retroactively contaminates historical eval
    * docs; each (eval doc, gram) hit counts exactly once. `bench_column`
    * (boolean) marks the eval side inside the input frame. The stage
    * OUTPUT is the complete updated `(doc_id, n_grams, n_hit)` counter
    * report — the contamination monitor's feed. Gram stores commit
    * BUCKETED by `g` so only the delta side of the gram joins moves; the
    * counters by doc_id, so the retroactive-increment merge reads the
    * historical counters co-located.
    */
  class IncrementalContaminationTransformer(conf: Conf)
      extends IncrState.Stage(conf, "incremental_contamination") {
    private val idCol = conf.strOr("id_column", "doc_id")
    private val textCol = conf.strOr("text_column", "text")
    private val benchCol = conf.strOr("bench_column", "is_bench")
    private val shingleK = conf.intOr("shingle_k", 5)
    protected def requiredCols = Seq(idCol, textCol, shardCol, benchCol)
    protected val stores = Seq(
      IncrState.Store("train_grams", IncrState.GramStoreVersion,
        IncrState.empty(new StructType().add("g", StringType)), Seq("g")),
      IncrState.Store("eval_grams", IncrState.GramStoreVersion,
        IncrState.empty(new StructType().add("doc_id", LongType).add("g", StringType)), Seq("g")),
      IncrState.Store("hits", IncrState.GramStoreVersion,
        IncrState.empty(new StructType().add("doc_id", LongType)
          .add("n_grams", LongType).add("n_hit", LongType)), Seq("doc_id")))

    protected def step(df: DataFrame, manifest: DataFrame, carried: Map[String, DataFrame]) = {
      val (train, eval_, hits) = Incremental.contaminationDelta(
        df, manifest, shardCol, carried("train_grams"), carried("eval_grams"),
        carried("hits"), idCol, textCol, col(benchCol) === true,
        shingleK = shingleK, materializeState = false)
      // the counter report feeds the stage output AND the committed store
      val hitsM = Dedup.cachedForReuse(hits)
      (hitsM, Map("train_grams" -> train, "eval_grams" -> eval_, "hits" -> hitsM))
    }
  }

  /** P1 — identity (`transformers/pass_through.py:15-20`; the copy contract
    * is free on immutable DataFrames).
    */
  object PassThrough extends Transformer {
    def transform(df: DataFrame): DataFrame = df.select("*")
  }

  /** C1–C11 in the fixed reference order, configured with the reference's
    * YAML keys.
    */
  class DataCleaningTransformer(conf: Conf) extends Transformer {
    private val cfg = Cleaning.Config(
      dropColumns = conf.strSeq("drop_columns"),
      renameColumns = conf.strMap("rename_columns"),
      lowercaseColumns = conf.bool("lowercase_columns"),
      stripWhitespace = conf.bool("strip_whitespace"),
      fillNulls = conf.anyMap("fill_nulls"),
      dropNulls = conf.bool("drop_nulls"),
      dropNullColumns = conf.strSeq("drop_null_columns"),
      deduplicate = conf.bool("deduplicate"),
      deduplicateColumns = conf.strSeq("deduplicate_columns"),
      standardizeDates = conf.strSeq("standardize_dates"),
      castTypes = conf.strMap("cast_types"),
      orderColumn = conf.str("order_column"))

    def transform(df: DataFrame): DataFrame = Cleaning(df, cfg)
  }

  /** V1 — schema-predicate filter; `chunk_size`/`strict` are accepted for
    * config parity but superseded by partitioning / the predicate itself.
    */
  class ValidationTransformer(conf: Conf) extends Transformer {
    private val schemaName = conf.str("schema").orElse(conf.str("model")).getOrElse(
      throw new IllegalArgumentException("pydantic_validation: 'schema' (or 'model') is required"))

    def transform(df: DataFrame): DataFrame = Validation.validate(df, schemaName)
  }

  /** W1–W4 — the finance indicator chain with the reference's config keys and
    * defaults (`finance_transformer.py:35-41`).
    */
  class IndicatorsTransformer(conf: Conf) extends Transformer {
    private val cfg = Indicators.Config(
      rsiPeriod = conf.intOr("rsi_period", 14),
      smaPeriod = conf.intOr("sma_period", 50),
      bbPeriod = conf.intOr("bb_period", 20),
      bbStd = conf.int("bb_std").map(_.toDouble).getOrElse(2.0),
      macdFast = conf.intOr("macd_fast", 12),
      macdSlow = conf.intOr("macd_slow", 26),
      macdSignal = conf.intOr("macd_signal", 9))
    private val partitionCols = conf.strSeq("partition_columns")

    override def validate(df: DataFrame): Unit = {
      val required = Seq("date", "open", "high", "low", "close", "volume")
      val have = df.columns.map(_.toLowerCase).toSet
      val missing = required.filterNot(have.contains)
      require(missing.isEmpty,
        s"technical_indicators: missing required columns: ${missing.mkString(",")}")
    }

    def transform(df: DataFrame): DataFrame =
      Indicators.technicalIndicators(df, cfg, partitionCols)
  }
}
