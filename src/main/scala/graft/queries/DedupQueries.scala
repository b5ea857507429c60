package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.{Dedup, TextAnalysis}

/** Deduplication operators over `documents`: exact, MinHash+LSH, SimHash,
  * n-gram Jaccard. Oracles recompute the identical hash pipelines in DuckDB
  * SQL (same md5-derived 32-bit hashes, same band/bucket structure).
  */
object DedupQueries {

  /** Shared SQL: lowercased tokens → distinct word 3-shingles. */
  private val ShinglesSql =
    """tok AS (SELECT doc_id, string_split(lower(text), ' ') AS ts FROM documents),
      |sh AS (SELECT doc_id, list_distinct(list_transform(range(1, len(ts) - 1),
      |         i -> concat(ts[i], ' ', ts[i+1], ' ', ts[i+2]))) AS sh
      |       FROM tok WHERE len(ts) >= 3)""".stripMargin

  private val JaccardSql =
    "len(list_intersect(ga.sh, gb.sh)) / (len(ga.sh) + len(gb.sh) - len(list_intersect(ga.sh, gb.sh)))"

  /** Shared SQL: the 64-permutation MinHash signature CTE chain over a
    * prior `sh(doc_id, sh)` CTE — the DuckDB twin of the compiled 61-bit
    * kernel (`Dedup.shingleSignatures`): one 16-hex-char md5-prefix field
    * hash per shingle, then per-permutation affine maps whose
    * [[graft.operators.Dedup.minhashA]]/[[graft.operators.Dedup.minhashB]]
    * constants are interpolated as HUGEINT literals so both engines run
    * the numerically identical family.
    *
    * Shape matters for the DuckDB lane's throughput: the permutation loop
    * is VECTORIZED (explode shingle hashes × a 64-row permutation table →
    * grouped MIN → `list(ORDER BY j)`), not nested list lambdas, and the
    * mod-p reduction is the same Mersenne shift-fold the JVM kernel uses
    * (`x mod (2^61−1) = (x>>61) + (x & p)`, ≤ 2 conditional subtracts) —
    * HUGEINT `%` is a generic 128-bit division and measured 12× slower
    * than the fold over the same 25.6M products. `sel` is the column list
    * the `sig` CTE carries forward (`"doc_id, sh"` when the exact-Jaccard
    * verify needs the shingles). No `.stripMargin` here — the enclosing
    * query literal strips.
    */
  private[queries] def SigSql(sel: String): String = {
    val p = graft.operators.Dedup.MinhashPrime // 2^61 − 1
    val pa = (0 until 64).map(j =>
      s"CAST(${graft.operators.Dedup.minhashA(j)} AS HUGEINT)").mkString(", ")
    val pb = (0 until 64).map(j =>
      s"CAST(${graft.operators.Dedup.minhashB(j)} AS HUGEINT)").mkString(", ")
    val outCols = sel.split(",").map(_.trim).map {
      case "doc_id" => "sh.doc_id"
      case c => s"sh.$c"
    }.mkString(", ")
    s"""mperm AS (SELECT unnest(range(0, 64)) AS j,
       |    unnest([$pa]) AS a, unnest([$pb]) AS b),
       |mh AS (SELECT doc_id, unnest(list_transform(sh, s ->
       |    CAST(concat('0x', substr(md5(s),1,16)) AS UBIGINT) % $p)) AS h
       |  FROM sh),
       |mmin AS (SELECT doc_id, j, MIN(
       |    CAST(CASE WHEN m0 >= ${2 * BigInt(p)} THEN m0 - ${2 * BigInt(p)}
       |              WHEN m0 >= $p THEN m0 - $p ELSE m0 END AS BIGINT)) AS m
       |  FROM (SELECT doc_id, j, ((a*h+b) >> 61) + ((a*h+b) & $p) AS m0
       |        FROM mh, mperm)
       |  GROUP BY doc_id, j),
       |sig AS (SELECT $outCols, g.sig
       |  FROM (SELECT doc_id, list(m ORDER BY j) AS sig
       |        FROM mmin GROUP BY doc_id) g
       |  JOIN sh ON sh.doc_id = g.doc_id)"""
  }

  val dd1ExactDedup: Q = Q(
    "dd1_dedup_exact",
    """SELECT md5(text) AS content_hash, CAST(MIN(doc_id) AS BIGINT) AS keep_id,
      |  CAST(COUNT(*) AS BIGINT) AS dup_count
      |FROM documents GROUP BY md5(text) ORDER BY keep_id""".stripMargin) { (spark, dir) =>
    Dedup.exactDuplicateGroups(Tables.documents(spark, dir), "doc_id", "text")
      .orderBy(col("keep_id"))
  }

  val dd2MinhashLsh: Q = Q(
    "dd2_minhash_lsh",
    s"""WITH $ShinglesSql,
       |${DedupQueries.SigSql("doc_id, sh")},
       |bands AS (SELECT doc_id, t.b AS band,
       |    array_to_string(list_slice(sig, t.b*4 + 1, t.b*4 + 4), '-') AS band_key
       |  FROM sig CROSS JOIN range(0, 16) t(b)),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id)
       |SELECT * FROM (
       |  SELECT c.doc_a, c.doc_b, $JaccardSql AS jaccard
       |  FROM cand c JOIN sh ga ON ga.doc_id = c.doc_a JOIN sh gb ON gb.doc_id = c.doc_b)
       |WHERE jaccard >= 0.8 ORDER BY doc_a, doc_b""".stripMargin) { (spark, dir) =>
    Shared.minhashPairs(spark, dir)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  val dd3Simhash: Q = Q(
    "dd3_simhash",
    """WITH h AS (SELECT doc_id,
      |    list_transform(list_distinct(string_split(lower(text), ' ')),
      |      t -> CAST(concat('0x', substr(md5(t),1,8)) AS BIGINT)) AS hs
      |  FROM documents)
      |SELECT doc_id, CAST(list_sum(list_transform(range(0, 32), j ->
      |  CASE WHEN CAST(list_sum(list_transform(hs, x ->
      |         CASE WHEN ((x >> CAST(j AS INT)) & 1) = 1 THEN 1 ELSE -1 END)) AS BIGINT) > 0
      |       THEN (CAST(1 AS BIGINT) << CAST(j AS INT)) ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS simhash
      |FROM h ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    Dedup.simhashes(Tables.documents(spark, dir), "doc_id", "text")
      .orderBy(col("doc_id"))
  }

  val dd4NgramJaccard: Q = Q(
    "dd4_ngram_jaccard",
    """WITH g AS (SELECT doc_id, list_distinct(list_transform(range(1, length(text) - 2),
      |    i -> substr(text, CAST(i AS INT), 4))) AS sh
      |  FROM documents WHERE length(text) >= 4),
      |x AS (SELECT doc_id, unnest(list_transform(sh,
      |    s -> CAST(CAST(concat('0x', substr(md5(s),1,16)) AS UBIGINT) % 2305843009213693951 AS BIGINT))) AS gh FROM g),
      |r AS (SELECT gh FROM (SELECT gh, COUNT(*) AS df FROM x GROUP BY gh) WHERE df <= 10),
      |xr AS (SELECT x.doc_id, x.gh FROM x JOIN r USING (gh)),
      |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM xr a JOIN xr b ON a.gh = b.gh AND a.doc_id < b.doc_id)
      |SELECT * FROM (
      |  SELECT c.doc_a, c.doc_b,
      |    len(list_intersect(ga.sh, gb.sh)) / (len(ga.sh) + len(gb.sh) - len(list_intersect(ga.sh, gb.sh))) AS jaccard
      |  FROM cand c JOIN g ga ON ga.doc_id = c.doc_a JOIN g gb ON gb.doc_id = c.doc_b)
      |WHERE jaccard >= 0.8 ORDER BY doc_a, doc_b""".stripMargin) { (spark, dir) =>
    Dedup.ngramNearDuplicates(Tables.documents(spark, dir), "doc_id", "text",
      n = 4, maxDf = 10, threshold = 0.8)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** SimHash near-duplicates: candidates from 8-bit band equality (4 bands
    * over the 32-bit hash), verified by exact Hamming distance ≤ 3.
    * DuckDB `^` is power, so the oracle uses `xor()`; Spark uses `^`.
    */
  val dd6SimhashHamming: Q = Q(
    "dd6_simhash_hamming",
    """WITH h AS (SELECT doc_id,
      |    CAST(list_sum(list_transform(range(0, 32), j ->
      |      CASE WHEN CAST(list_sum(list_transform(
      |             list_transform(list_distinct(string_split(lower(text), ' ')),
      |               t -> CAST(concat('0x', substr(md5(t),1,8)) AS BIGINT)),
      |             x -> CASE WHEN ((x >> CAST(j AS INT)) & 1) = 1 THEN 1 ELSE -1 END)) AS BIGINT) > 0
      |           THEN (CAST(1 AS BIGINT) << CAST(j AS INT)) ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS sim
      |  FROM documents),
      |b AS (SELECT doc_id, sim, t.k AS band, (sim >> CAST(t.k*8 AS INT)) & 255 AS bv
      |  FROM h CROSS JOIN range(0, 4) t(k)),
      |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b
      |  FROM b a JOIN b b2 ON a.band = b2.band AND a.bv = b2.bv AND a.doc_id < b2.doc_id)
      |SELECT * FROM (
      |  SELECT c.doc_a, c.doc_b, CAST(bit_count(xor(x.sim, y.sim)) AS BIGINT) AS hamming
      |  FROM cand c JOIN h x ON x.doc_id = c.doc_a JOIN h y ON y.doc_id = c.doc_b)
      |WHERE hamming <= 3 ORDER BY doc_a, doc_b""".stripMargin) { (spark, dir) =>
    val h = Dedup.cachedForReuse(
      Dedup.simhashes(Tables.documents(spark, dir), "doc_id", "text")
        .withColumnRenamed("simhash", "sim"))
    // band rows carry `sim` through the bucket self-join so the Hamming
    // verify is inline — no post-distinct sig-attach joins (the dd9 move,
    // round 15); filter∘distinct ≡ distinct∘filter since hamming is a pure
    // function of the pair
    val b = h.select(col("doc_id"), col("sim"),
      explode(expr("sequence(0, 3)")).as("band"))
      .withColumn("bv", expr("(sim >> cast(band*8 as int)) & 255"))
    b.as("a").join(b.as("b2"),
        col("a.band") === col("b2.band") && col("a.bv") === col("b2.bv") &&
          col("a.doc_id") < col("b2.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b2.doc_id").as("doc_b"),
        bit_count(col("a.sim").bitwiseXOR(col("b2.sim"))).cast("long").as("hamming"))
      .filter(col("hamming") <= 3)
      .distinct()
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** 64-bit SimHash near-duplicates — the scale-safe parameterization of dd6
    * (16-bit bands → 65 536 buckets/band vs dd6's 256): the simhash is carried
    * as two non-negative 32-bit halves so every shift/mask is sign-free and
    * engine-identical. Candidates from any equal 16-bit band, verified by
    * exact 64-bit Hamming ≤ 3.
    */
  val dd9Simhash64Hamming: Q = Q(
    "dd9_simhash64_hamming",
    """WITH tok AS (SELECT doc_id, list_distinct(string_split(lower(text), ' ')) AS ts
      |  FROM documents),
      |h AS (SELECT doc_id,
      |    list_transform(ts, t -> CAST(concat('0x', substr(md5(t),1,8)) AS BIGINT)) AS hhi,
      |    list_transform(ts, t -> CAST(concat('0x', substr(md5(t),9,8)) AS BIGINT)) AS hlo
      |  FROM tok),
      |s AS (SELECT doc_id,
      |    CAST(list_sum(list_transform(range(0, 32), j ->
      |      CASE WHEN CAST(list_sum(list_transform(hhi, x ->
      |             CASE WHEN ((x >> CAST(j AS INT)) & 1) = 1 THEN 1 ELSE -1 END)) AS BIGINT) > 0
      |           THEN (CAST(1 AS BIGINT) << CAST(j AS INT)) ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS sim_hi,
      |    CAST(list_sum(list_transform(range(0, 32), j ->
      |      CASE WHEN CAST(list_sum(list_transform(hlo, x ->
      |             CASE WHEN ((x >> CAST(j AS INT)) & 1) = 1 THEN 1 ELSE -1 END)) AS BIGINT) > 0
      |           THEN (CAST(1 AS BIGINT) << CAST(j AS INT)) ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS sim_lo
      |  FROM h),
      |b AS (SELECT doc_id, sim_hi, sim_lo, t.k AS band,
      |    CASE WHEN t.k = 0 THEN sim_lo & 65535
      |         WHEN t.k = 1 THEN (sim_lo >> 16) & 65535
      |         WHEN t.k = 2 THEN sim_hi & 65535
      |         ELSE (sim_hi >> 16) & 65535 END AS bv
      |  FROM s CROSS JOIN range(0, 4) t(k)),
      |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b
      |  FROM b a JOIN b b2 ON a.band = b2.band AND a.bv = b2.bv AND a.doc_id < b2.doc_id)
      |SELECT * FROM (
      |  SELECT c.doc_a, c.doc_b,
      |    CAST(bit_count(xor(x.sim_hi, y.sim_hi)) + bit_count(xor(x.sim_lo, y.sim_lo)) AS BIGINT) AS hamming
      |  FROM cand c JOIN s x ON x.doc_id = c.doc_a JOIN s y ON y.doc_id = c.doc_b)
      |WHERE hamming <= 3 ORDER BY doc_a, doc_b""".stripMargin) { (spark, dir) =>
    Dedup.simhash64NearDuplicates(Tables.documents(spark, dir), "doc_id", "text",
      maxHamming = 3)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** The composite corpus-cleaning pipeline (quality gate → exact dedup →
    * MinHash near-dup removal) as ONE oracle query — proves the operators
    * compose end-to-end with identical semantics in both engines.
    */
  val dd8CleanCorpus: Q = Q(
    "dd8_corpus_clean",
    s"""WITH q AS (
      |  SELECT doc_id, text FROM documents
      |  WHERE 1.0 - CAST(len(list_distinct(string_split(lower(text), ' '))) AS DOUBLE)
      |            / CAST(len(string_split(lower(text), ' ')) AS DOUBLE) <= 0.5
      |    AND CAST(length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')) AS DOUBLE)
      |      / CAST(GREATEST(length(text), 1) AS DOUBLE) <= 0.3
      |    AND len(string_split(text, ' ')) >= 5),
      |ex AS (
      |  SELECT doc_id, text FROM (
      |    SELECT doc_id, text,
      |      ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
      |    FROM q)
      |  WHERE rn = 1),
      |tok AS (SELECT doc_id, string_split(lower(text), ' ') AS ts FROM ex),
      |sh AS (SELECT doc_id, list_distinct(list_transform(range(1, len(ts) - 1),
      |         i -> concat(ts[i], ' ', ts[i+1], ' ', ts[i+2]))) AS sh
      |       FROM tok WHERE len(ts) >= 3),
      |${DedupQueries.SigSql("doc_id, sh")},
      |bands AS (SELECT doc_id, t.b AS band,
      |    array_to_string(list_slice(sig, t.b*4 + 1, t.b*4 + 4), '-') AS band_key
      |  FROM sig CROSS JOIN range(0, 16) t(b)),
      |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM bands a JOIN bands b
      |    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
      |losers AS (SELECT DISTINCT doc_b AS doc_id FROM (
      |  SELECT c.doc_a, c.doc_b,
      |    len(list_intersect(ga.sh, gb.sh)) / (len(ga.sh) + len(gb.sh) - len(list_intersect(ga.sh, gb.sh))) AS jaccard
      |  FROM cand c JOIN sh ga ON ga.doc_id = c.doc_a JOIN sh gb ON gb.doc_id = c.doc_b)
      |  WHERE jaccard >= 0.8)
      |SELECT doc_id, text FROM ex
      |WHERE doc_id NOT IN (SELECT doc_id FROM losers)
      |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    Dedup.cleanCorpus(Tables.documents(spark, dir), "doc_id", "text")
      .orderBy(col("doc_id"))
  }

  /** Benchmark decontamination: corpus docs sharing any word 3-gram with the
    * "test set" (here: every 97th doc standing in for a benchmark). 3-grams
    * (vs the production 13-gram default) so the synthetic corpus yields a
    * non-trivial flagged set; exact string-gram equality, benchmark grams
    * broadcast — the corpus side never shuffles.
    */
  val dd10Decontaminate: Q = Q(
    "dd10_decontaminate",
    """WITH tok AS (SELECT doc_id, string_split(lower(text), ' ') AS ts FROM documents),
      |sh AS (SELECT doc_id, list_distinct(list_transform(range(1, len(ts) - 1),
      |         i -> concat(ts[i], ' ', ts[i+1], ' ', ts[i+2]))) AS sh
      |       FROM tok WHERE len(ts) >= 3),
      |bench AS (SELECT DISTINCT unnest(sh) AS g FROM sh WHERE doc_id % 97 = 0),
      |cand AS (SELECT doc_id, unnest(sh) AS g FROM sh WHERE doc_id % 97 <> 0)
      |SELECT DISTINCT doc_id FROM cand WHERE g IN (SELECT g FROM bench)
      |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    Dedup.contaminatedDocs(Tables.documents(spark, dir), "doc_id", "text",
      benchPred = col("doc_id") % 97 === 0, shingleK = 3)
      .orderBy(col("doc_id"))
  }

  /** Duplicate clusters: connected components over the dd2 MinHash pair
    * graph — every document in at least one near-dup pair gets the minimum
    * reachable doc_id as its cluster id, plus the cluster size and the
    * keep/drop decision (representative = lowest id). The oracle reuses the
    * dd2 pair SQL verbatim and closes it transitively with a recursive CTE;
    * Spark runs [[Dedup.connectedComponents]]'s min-label-propagation loop —
    * both fixpoints are the min reachable id, so they agree exactly.
    */
  val dd11DupClusters: Q = Q(
    "dd11_dup_clusters",
    s"""WITH RECURSIVE $ShinglesSql,
       |${DedupQueries.SigSql("doc_id, sh")},
       |bands AS (SELECT doc_id, t.b AS band,
       |    array_to_string(list_slice(sig, t.b*4 + 1, t.b*4 + 4), '-') AS band_key
       |  FROM sig CROSS JOIN range(0, 16) t(b)),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
       |pairs AS MATERIALIZED (SELECT doc_a, doc_b FROM (
       |    SELECT c.doc_a, c.doc_b, $JaccardSql AS jaccard
       |    FROM cand c JOIN sh ga ON ga.doc_id = c.doc_a JOIN sh gb ON gb.doc_id = c.doc_b)
       |  WHERE jaccard >= 0.8),
       |edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
       |          UNION ALL SELECT doc_b, doc_a FROM pairs),
       |reach AS (SELECT a AS id, a AS r FROM edges
       |          UNION
       |          SELECT e.b AS id, reach.r AS r FROM reach JOIN edges e ON e.a = reach.id),
       |comp AS (SELECT id AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY id)
       |SELECT c.doc_id, c.cluster_id, s.cluster_size,
       |  c.doc_id = c.cluster_id AS keep
       |FROM comp c JOIN (SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS cluster_size
       |                  FROM comp GROUP BY 1) s USING (cluster_id)
       |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    // Memo-hit consumers assemble a small bounded report from the shared
    // labels frame: materialize it eagerly under a static plan so the
    // caller's action is one cache read instead of one scheduler job per
    // exchange (the per-job driver stall is the dominant cost at this
    // frame size; a cluster caller wanting lazy composition uses the
    // Dedup operator API directly).
    graft.operators.Dedup.withStaticPlan(spark) {
      graft.operators.Dedup.cachedForReuse {
        val cc = Shared.ccLabels(spark, dir)
        val sizes = cc.groupBy(col("comp")).agg(count(lit(1)).as("cluster_size"))
        cc.join(sizes, "comp")
          .select(col("id").as("doc_id"), col("comp").as("cluster_id"),
            col("cluster_size"), (col("id") === col("comp")).as("keep"))
          .orderBy(col("doc_id"))
      }
    }
  }

  /** Cluster-aware dedup: keep one representative per dd11 component. The
    * semantic difference vs dd8's greedy pair-loser drop is transitive
    * closure — see [[Dedup.dropClusteredNearDuplicates]]. Output is the
    * surviving ids with a content hash (not the full text) so the gate
    * compares a compact frame.
    */
  val dd12ClusterClean: Q = Q(
    "dd12_cluster_clean",
    s"""WITH RECURSIVE $ShinglesSql,
       |${DedupQueries.SigSql("doc_id, sh")},
       |bands AS (SELECT doc_id, t.b AS band,
       |    array_to_string(list_slice(sig, t.b*4 + 1, t.b*4 + 4), '-') AS band_key
       |  FROM sig CROSS JOIN range(0, 16) t(b)),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
       |pairs AS MATERIALIZED (SELECT doc_a, doc_b FROM (
       |    SELECT c.doc_a, c.doc_b, $JaccardSql AS jaccard
       |    FROM cand c JOIN sh ga ON ga.doc_id = c.doc_a JOIN sh gb ON gb.doc_id = c.doc_b)
       |  WHERE jaccard >= 0.8),
       |edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
       |          UNION ALL SELECT doc_b, doc_a FROM pairs),
       |reach AS (SELECT a AS id, a AS r FROM edges
       |          UNION
       |          SELECT e.b AS id, reach.r AS r FROM reach JOIN edges e ON e.a = reach.id),
       |comp AS (SELECT id AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY id)
       |SELECT d.doc_id, md5(d.text) AS content_hash
       |FROM documents d
       |WHERE d.doc_id NOT IN (SELECT doc_id FROM comp WHERE doc_id <> cluster_id)
       |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    // eager static-plan assembly — see dd11's rationale
    graft.operators.Dedup.withStaticPlan(spark) {
      graft.operators.Dedup.cachedForReuse(
        Dedup.dropWithComponentLabels(
            Tables.documents(spark, dir).select(col("doc_id"), col("text")),
            "doc_id", Shared.ccLabels(spark, dir))
          .select(col("doc_id"), md5(col("text")).as("content_hash"))
          .orderBy(col("doc_id")))
    }
  }

  /** Per-source duplicate-rate report — the dedup OBSERVABILITY query every
    * curation pipeline dashboards: docs vs distinct contents per source, and
    * the exact-duplicate count their difference implies. One groupBy;
    * `count(distinct md5(text))` plans with the same Expand as the column
    * profile and would switch to an HLL sketch at 100 TB (the
    * `q_profile_approx` pattern).
    */
  val dd13DupRate: Q = Q(
    "dd13_dup_rate",
    """SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS n_distinct,
      |  CAST(COUNT(*) - COUNT(DISTINCT md5(text)) AS BIGINT) AS n_exact_dups
      |FROM documents GROUP BY source ORDER BY source""".stripMargin) { (spark, dir) =>
    Tables.documents(spark, dir)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(md5(col("text"))).as("n_distinct"),
        (count(lit(1)) - countDistinct(md5(col("text")))).as("n_exact_dups"))
      .orderBy(col("source"))
  }

  /** [[dd12ClusterClean]] with the QUALITY survivor policy
    * ([[Dedup.dropClusteredNearDuplicatesKeepBest]]): each near-dup cluster
    * keeps its best-quality member (ties → lowest doc_id) instead of the
    * min-id representative. Same MinHash/LSH pair generation and
    * reachability oracle as dd11/dd12, plus the tx3 quality expression and
    * a per-cluster rank.
    */
  val dd14ClusterKeepBest: Q = Q(
    "dd14_cluster_keep_best",
    s"""WITH RECURSIVE $ShinglesSql,
       |${DedupQueries.SigSql("doc_id, sh")},
       |bands AS (SELECT doc_id, t.b AS band,
       |    array_to_string(list_slice(sig, t.b*4 + 1, t.b*4 + 4), '-') AS band_key
       |  FROM sig CROSS JOIN range(0, 16) t(b)),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
       |pairs AS MATERIALIZED (SELECT doc_a, doc_b FROM (
       |    SELECT c.doc_a, c.doc_b, $JaccardSql AS jaccard
       |    FROM cand c JOIN sh ga ON ga.doc_id = c.doc_a JOIN sh gb ON gb.doc_id = c.doc_b)
       |  WHERE jaccard >= 0.8),
       |edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
       |          UNION ALL SELECT doc_b, doc_a FROM pairs),
       |reach AS (SELECT a AS id, a AS r FROM edges
       |          UNION
       |          SELECT e.b AS id, reach.r AS r FROM reach JOIN edges e ON e.a = reach.id),
       |comp AS (SELECT id AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY id),
       |q AS (SELECT doc_id,
       |        0.5 * (LEAST(len(string_split(text, ' ')), 100) / 100.0)
       |        + 0.3 * (len(list_filter(string_split(lower(text), ' '),
       |            t -> t IN ('the','a','of','and','is'))) / len(string_split(text, ' ')))
       |        + 0.2 * (LEAST((length(text) - (len(string_split(text, ' ')) - 1))
       |                       / len(string_split(text, ' ')), 10.0) / 10.0) AS quality
       |      FROM documents),
       |m AS (SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS comp, q.quality
       |      FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id
       |      JOIN q ON q.doc_id = d.doc_id),
       |r AS (SELECT doc_id, quality,
       |        ROW_NUMBER() OVER (PARTITION BY comp ORDER BY quality DESC, doc_id) AS rn
       |      FROM m)
       |SELECT doc_id, quality FROM r WHERE rn = 1 ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    import graft.operators.TextAnalysis
    // eager static-plan assembly — see dd11's rationale
    graft.operators.Dedup.withStaticPlan(spark) {
      graft.operators.Dedup.cachedForReuse {
        val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
          .withColumn("quality", TextAnalysis.qualityScore(col("text")))
        Dedup.keepBestWithComponentLabels(
            docs, "doc_id", "quality", Shared.ccLabels(spark, dir))
          .select(col("doc_id"), col("quality"))
          .orderBy(col("doc_id"))
      }
    }
  }

  /** Containment detection over winnowing fingerprints (tx7's scheme:
    * 4-gram hashes, window-4 local minima): pairs where the SMALLER
    * fingerprint set is ≥60% covered by the larger — the
    * quotation/subset-duplicate case Jaccard misses (a doc embedded in a
    * 10× larger one has tiny Jaccard but full containment). Candidate
    * generation joins only RARE fingerprints (df ≤ 20) — the dd4 rare-gram
    * inverted-index trick, which caps the per-fingerprint join fan-out at
    * df² no matter how hot a common 4-gram is — then the exact
    * intersection is computed on the full fingerprint sets of the
    * candidates only. Division of exact integer counts → deterministic
    * doubles.
    *
    * SAMPLED exact audit (part of the query contract, oracle-mirrored):
    * the full-set intersection path runs over the deterministic 1-in-4
    * sample `doc_id % 4 = 0` — the audit-methodology shape for an exact
    * pass whose cost is candidate-quadratic; the FULL-corpus containment
    * path is dd29's bottom-k sketches (O(k) state per doc, documented
    * there as the 100 TB route). The sample is keyed, not random, so
    * the audit is reproducible across engines and runs.
    */
  val dd15Containment: Q = Q(
    "dd15_containment",
    """WITH g AS (SELECT doc_id,
      |    list_transform(range(1, length(text) - 2), i -> substr(text, CAST(i AS INT), 4)) AS gs
      |  FROM documents WHERE length(text) >= 7 AND doc_id % 4 = 0),
      |h AS (SELECT doc_id,
      |    list_transform(gs, s -> CAST(CAST(concat('0x', substr(md5(s),1,16)) AS UBIGINT) % 2305843009213693951 AS BIGINT)) AS hv
      |  FROM g),
      |m AS (SELECT doc_id,
      |    list_sort(list_distinct(list_transform(range(1, len(hv) - 2), i -> list_min(hv[i:i+3])))) AS fps
      |  FROM h),
      |e AS (SELECT doc_id, unnest(fps) AS fp FROM m),
      |dfc AS (SELECT fp FROM e GROUP BY fp HAVING COUNT(*) <= 20),
      |rare AS (SELECT e.doc_id, e.fp FROM e JOIN dfc ON dfc.fp = e.fp),
      |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |         FROM rare a JOIN rare b ON a.fp = b.fp AND a.doc_id < b.doc_id),
      |p AS (SELECT c.doc_a, c.doc_b,
      |        CAST(len(list_intersect(ma.fps, mb.fps)) AS BIGINT) AS shared,
      |        CAST(len(ma.fps) AS BIGINT) AS n_a, CAST(len(mb.fps) AS BIGINT) AS n_b
      |      FROM cand c JOIN m ma ON ma.doc_id = c.doc_a JOIN m mb ON mb.doc_id = c.doc_b)
      |SELECT doc_a, doc_b, shared, n_a, n_b,
      |       shared / CAST(LEAST(n_a, n_b) AS DOUBLE) AS containment
      |FROM p WHERE shared / CAST(LEAST(n_a, n_b) AS DOUBLE) >= 0.6
      |ORDER BY doc_a, doc_b""".stripMargin) { (spark, dir) =>
    import org.apache.spark.sql.types._
    val n = 4; val w = 4
    // The fingerprint kernel is MATERIALIZED once (the dd2/dd4 cache
    // pattern) — load-bearing twice over: (a) three plan branches (explode,
    // and the two candidate-side joins) would otherwise recompute it, and
    // (b) if this multi-branch stage ever falls out of whole-stage codegen,
    // the interpreted path inlines `hv` into `slice(hv, i, w)` WITHOUT
    // subexpression elimination — the winnowing pass silently turns
    // O(len²) in md5 calls per doc (measured: one task pegged for >12 min
    // at sf0.1). An ExistingRDD root makes that impossible.
    val m = Dedup.cachedForReuse(Tables.documents(spark, dir)
      .filter(length(col("text")) >= n + w - 1 && col("doc_id") % 4 === 0)
      .withColumn("gs", expr(s"transform(sequence(1, length(text) - ${n - 1}), i -> substring(text, i, $n))"))
      .withColumn("hv", expr("transform(gs, s -> hash61(s))"))
      .withColumn("fps", expr(s"array_sort(array_distinct(transform(sequence(1, size(hv) - ${w - 1}), i -> array_min(slice(hv, i, $w)))))"))
      .select(col("doc_id"), col("fps")))
    val e = m.select(col("doc_id"), explode(col("fps")).as("fp"))
    val rareFps = e.groupBy(col("fp")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= 20).select("fp")
    val rare = e.join(rareFps, "fp")
    val cand = rare.select(col("doc_id").as("doc_a"), col("fp"))
      .join(rare.select(col("doc_id").as("doc_b"), col("fp")), "fp")
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
    val p = cand
      .join(m.select(col("doc_id").as("doc_a"), col("fps").as("fps_a")), "doc_a")
      .join(m.select(col("doc_id").as("doc_b"), col("fps").as("fps_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        size(array_intersect(col("fps_a"), col("fps_b"))).cast(LongType).as("shared"),
        size(col("fps_a")).cast(LongType).as("n_a"),
        size(col("fps_b")).cast(LongType).as("n_b"))
    p.withColumn("containment",
        col("shared") / least(col("n_a"), col("n_b")).cast(DoubleType))
      .filter(col("containment") >= 0.6)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Cross-source leakage matrix: MinHash near-dup pair counts per
    * UNORDERED source pair — the observability view that tells a curation
    * team WHERE duplication comes from (within one crawl vs replicated
    * across feeds; cross-source rows are also the train/eval leakage
    * signal when sources split into training vs held-out). Reuses the
    * dd2 pair pipeline; the pair's source key is sorted so (a,b) and
    * (b,a) land in one cell; one tiny aggregate on top.
    */
  val dd16SourceLeakage: Q = Q(
    "dd16_source_leakage",
    s"""WITH $ShinglesSql,
       |${DedupQueries.SigSql("doc_id, sh")},
       |bands AS (SELECT doc_id, t.b AS band,
       |    array_to_string(list_slice(sig, t.b*4 + 1, t.b*4 + 4), '-') AS band_key
       |  FROM sig CROSS JOIN range(0, 16) t(b)),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
       |pairs AS MATERIALIZED (SELECT doc_a, doc_b FROM (
       |    SELECT c.doc_a, c.doc_b, $JaccardSql AS jaccard
       |    FROM cand c JOIN sh ga ON ga.doc_id = c.doc_a JOIN sh gb ON gb.doc_id = c.doc_b)
       |  WHERE jaccard >= 0.8)
       |SELECT LEAST(da.source, db.source) AS source_a,
       |       GREATEST(da.source, db.source) AS source_b,
       |       CAST(COUNT(*) AS BIGINT) AS n_pairs
       |FROM pairs p
       |JOIN documents da ON da.doc_id = p.doc_a
       |JOIN documents db ON db.doc_id = p.doc_b
       |GROUP BY 1, 2 ORDER BY source_a, source_b""".stripMargin) { (spark, dir) =>
    val docs = Tables.documents(spark, dir)
    val src = docs.select(col("doc_id"), col("source"))
    Shared.minhashPairs(spark, dir)
      .join(src.select(col("doc_id").as("doc_a"), col("source").as("sa")), "doc_a")
      .join(src.select(col("doc_id").as("doc_b"), col("source").as("sb")), "doc_b")
      .groupBy(least(col("sa"), col("sb")).as("source_a"),
        greatest(col("sa"), col("sb")).as("source_b"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy(col("source_a"), col("source_b"))
  }

  /** Prefix-filtering set-similarity join (PPJoin family) over word
    * 3-shingle sets at Jaccard ≥ 7/10 — the EXACT-threshold near-dup
    * path: unlike dd2's LSH it has zero false negatives by construction,
    * at the cost of a candidate join keyed on each doc's rarest
    * p = n − ⌈0.7n⌉ + 1 shingles, pruned further by PPJoin's length and
    * positional filters (both exact). All threshold math is integer
    * (rational 7/10), so the decision boundary is bit-identical across
    * engines. See [[graft.operators.Dedup.prefixFilterNearDuplicates]]
    * for why the set universe is shingles, not words (this corpus' word
    * vocabulary is 31 — word postings would be O(corpus) each and the
    * candidate join quadratic; measured 140 s → ~5 s at sf0.1).
    *
    * SAMPLED exact audit (query contract, oracle-mirrored): the
    * zero-false-negative PPJoin pass runs over the deterministic 1-in-4
    * sample `doc_id % 4 = 0` — the reproducible-audit shape; the
    * FULL-corpus near-dup path is dd2's banded MinHash-LSH (whose recall
    * this exact pass audits, dd25/dd27-style). Keyed sample, not random:
    * bit-identical across engines and runs.
    */
  val dd17PrefixFilter: Q = Q(
    "dd17_prefix_filter",
    """WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
      |           WHERE len(string_split(lower(text), ' ')) >= 3 AND doc_id % 4 = 0),
      |tk AS (SELECT doc_id, list_distinct(list_transform(range(1, len(w) - 1),
      |         i -> array_to_string(list_slice(w, i, i + 2), ' '))) AS toks
      |       FROM t),
      |e AS (SELECT doc_id, unnest(toks) AS tok FROM tk),
      |f AS (SELECT tok, COUNT(*) AS df FROM e GROUP BY tok),
      |r AS (SELECT e.doc_id, e.tok,
      |        ROW_NUMBER() OVER (PARTITION BY e.doc_id ORDER BY f.df, e.tok) AS rn,
      |        COUNT(*) OVER (PARTITION BY e.doc_id) AS n
      |      FROM e JOIN f ON f.tok = e.tok),
      |p AS (SELECT doc_id, tok, rn, n FROM r WHERE rn <= n - ((n * 7 + 9) // 10) + 1),
      |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |         FROM p a JOIN p b ON a.tok = b.tok AND a.doc_id < b.doc_id
      |         WHERE LEAST(a.n, b.n) * 10 >= GREATEST(a.n, b.n) * 7
      |           AND 1 + LEAST(a.n - a.rn, b.n - b.rn) >= (7 * (a.n + b.n) + 16) // 17),
      |v AS (SELECT c.doc_a, c.doc_b,
      |        CAST(len(list_intersect(ta.toks, tb.toks)) AS BIGINT) AS inter,
      |        CAST(len(ta.toks) AS BIGINT) AS n_a, CAST(len(tb.toks) AS BIGINT) AS n_b
      |      FROM cand c JOIN tk ta ON ta.doc_id = c.doc_a
      |                  JOIN tk tb ON tb.doc_id = c.doc_b)
      |SELECT doc_a, doc_b, inter, n_a, n_b,
      |       inter / CAST(n_a + n_b - inter AS DOUBLE) AS jaccard
      |FROM v WHERE inter * 10 >= (n_a + n_b - inter) * 7
      |ORDER BY doc_a, doc_b""".stripMargin) { (spark, dir) =>
    Dedup.prefixFilterNearDuplicates(
        Tables.documents(spark, dir).filter(col("doc_id") % 4 === 0),
        "doc_id", "text", thresholdNum = 7, thresholdDen = 10, shingleK = 3)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Decontamination through the Bloom-prefilter path
    * ([[Dedup.contaminatedDocsBloom]], word 5-shingles): the benchmark gram
    * set travels as a broadcast m-bit Bloom bitset probed inside a compiled
    * partition kernel, so corpus grams reach the exact verify join only if
    * they hit the filter — the at-scale variant of dd10's direct broadcast
    * semi-join (see the operator scaladoc for the no-false-negative
    * argument; the rescue join makes the FP rate a performance knob only).
    * The oracle is the plain exact 5-shingle overlap — Bloom is invisible
    * in the result, which is the point.
    */
  val dd19BloomDecontaminate: Q = Q(
    "dd19_bloom_decontaminate",
    """WITH tok AS (SELECT doc_id, string_split(lower(text), ' ') AS ts FROM documents),
      |sh AS (SELECT doc_id, list_distinct(list_transform(range(1, len(ts) - 3),
      |         i -> array_to_string(list_slice(ts, i, i + 4), ' '))) AS sh
      |       FROM tok WHERE len(ts) >= 5),
      |bench AS (SELECT DISTINCT unnest(sh) AS g FROM sh WHERE doc_id % 7 = 0),
      |cand AS (SELECT doc_id, unnest(sh) AS g FROM sh WHERE doc_id % 7 <> 0)
      |SELECT DISTINCT doc_id FROM cand WHERE g IN (SELECT g FROM bench)
      |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    Dedup.contaminatedDocsBloom(Tables.documents(spark, dir), "doc_id", "text",
      benchPred = col("doc_id") % 7 === 0, shingleK = 5)
      .orderBy(col("doc_id"))
  }

  /** Sentence-level exact deduplication with in-place document
    * reconstruction — the C4/RefinedWeb-style pass that removes a sentence
    * from every document EXCEPT its first global occurrence (first =
    * smallest (doc_id, position)), then reassembles each document from its
    * surviving sentences in original order. The owner key is the packed
    * integer `doc_id·100000 + position` (positions here are ≤ a few
    * hundred; production would min a (doc_id, pos) struct — the packing
    * exists only so the oracle comparison is a single BIGINT min). Plan:
    * one explode, one sentence-keyed min-agg (the only data-sized
    * shuffle), one co-partitioned join back, one doc-keyed re-agg whose
    * ordered rebuild is an array_sort over that document's own sentences —
    * never a global sort. Scales like total sentence count; the rebuilt
    * text is byte-deterministic, so the whole output is oracle-exact.
    */
  val dd18SentenceDedup: Q = Q(
    "dd18_sentence_dedup",
    """WITH t AS (SELECT doc_id, string_split(text, '. ') AS ss FROM documents),
      |s AS (SELECT doc_id, u.i AS i, u.s AS sent
      |      FROM (SELECT doc_id, unnest(list_transform(range(1, len(ss) + 1),
      |              i -> {'i': i, 's': ss[i]})) AS u FROM t)),
      |o AS (SELECT sent, MIN(doc_id * 100000 + i) AS pk FROM s GROUP BY sent),
      |k AS (SELECT s.doc_id, s.i, s.sent,
      |        CASE WHEN s.doc_id * 100000 + s.i = o.pk THEN 1 ELSE 0 END AS keep
      |      FROM s JOIN o ON s.sent = o.sent)
      |SELECT doc_id,
      |  COALESCE(string_agg(CASE WHEN keep = 1 THEN sent END, '. ' ORDER BY i), '') AS clean_text,
      |  CAST(SUM(keep) AS BIGINT) AS n_kept,
      |  CAST(SUM(1 - keep) AS BIGINT) AS n_dropped
      |FROM k GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    val s = Tables.documents(spark, dir)
      .select(col("doc_id"), posexplode(split(col("text"), "\\. ")).as(Seq("i0", "sent")))
      .select(col("doc_id"),
        (col("i0") + 1).cast(org.apache.spark.sql.types.LongType).as("i"),
        col("sent"))
    val o = s.groupBy(col("sent"))
      .agg(min(col("doc_id") * 100000L + col("i")).as("pk"))
    s.join(o, "sent")
      .withColumn("keep",
        when(col("doc_id") * 100000L + col("i") === col("pk"), 1L).otherwise(0L))
      .groupBy(col("doc_id"))
      .agg(
        array_join(expr(
          "transform(array_sort(collect_list(CASE WHEN keep = 1 THEN struct(i, sent) END)), x -> x.sent)"),
          ". ").as("clean_text"),
        sum(col("keep")).as("n_kept"),
        sum(lit(1L) - col("keep")).as("n_dropped"))
      .orderBy(col("doc_id"))
  }

  /** Blocked-Levenshtein entity resolution over the part catalog — the
    * classic record-linkage recipe (Fellegi–Sunter blocking + edit-distance
    * comparison), scaled by CANONICALIZATION: a catalog has massive name
    * duplication, so names deduplicate (with multiplicity) BEFORE any
    * comparison — candidate pairs are distinct-name pairs sharing a
    * blocking key (the head noun), i.e. vocabulary², independent of table
    * size. The naive key-level self-join is ~25M levenshtein calls at
    * sf0.1 (measured 20 s); the canonical form is |vocab|²/blocks ≈ 10²
    * calls at ANY scale. Links are non-identical names within edit
    * distance 2 (exact duplicates are dd1's job); `n_pairs = cntA·cntB`
    * reports how many record pairs each name-link implies — the expansion
    * is a broadcast join against this link table when a consumer needs
    * record granularity, never an all-pairs comparison. The Spark side
    * uses 3-arg `levenshtein(a, b, threshold)` (banded DP, early exit past
    * the threshold) so per-pair cost is O(len·threshold) not O(len²).
    */
  val dd20FuzzyEr: Q = Q(
    "dd20_fuzzy_er",
    """WITH p AS (SELECT p_name AS nm, split_part(p_name, ' ', 2) AS blk,
      |             CAST(COUNT(*) AS BIGINT) AS cnt
      |           FROM part GROUP BY 1, 2)
      |SELECT a.nm AS name1, b.nm AS name2,
      |  CAST(levenshtein(a.nm, b.nm) AS BIGINT) AS dist,
      |  CAST(a.cnt * b.cnt AS BIGINT) AS n_pairs
      |FROM p a JOIN p b ON a.blk = b.blk AND a.nm < b.nm
      |WHERE levenshtein(a.nm, b.nm) <= 2
      |ORDER BY dist, name1, name2""".stripMargin) { (spark, dir) =>
    import org.apache.spark.sql.types.LongType
    val p = Tables.part(spark, dir)
      .groupBy(col("p_name").as("nm"),
        split_part(col("p_name"), lit(" "), lit(2)).as("blk"))
      .agg(count(lit(1)).as("cnt"))
    val a = p.select(col("nm").as("name1"), col("blk"), col("cnt").as("cnt1"))
    val b = p.select(col("nm").as("name2"), col("blk").as("blk2"), col("cnt").as("cnt2"))
    a.join(b, col("blk") === col("blk2") && col("name1") < col("name2"))
      .withColumn("dist", levenshtein(col("name1"), col("name2"), 2).cast(LongType))
      .filter(col("dist") >= 0L)
      .select(col("name1"), col("name2"), col("dist"),
        (col("cnt1") * col("cnt2")).as("n_pairs"))
      .orderBy(col("dist"), col("name1"), col("name2"))
  }

  /** Duplicated-substring SPANS (Lee et al. 2022 "Deduplicating Training
    * Data" §ExactSubstr, declaratively): a word-8-gram position is
    * "duplicated" when its gram occurs ≥2 times corpus-wide (other docs OR a
    * repeat in the same doc); consecutive duplicated positions merge into
    * maximal spans (the gaps-and-islands trick on gram position), each
    * reported as [span_start, span_end] token bounds — the removal plan an
    * exact-substring dedup pass would execute per document. Grams travel as
    * 32-bit md5-prefix hashes (tx13's convention — deterministic collisions,
    * 4× smaller shuffle). Plan: one gram-keyed count + one join-back + one
    * per-doc islands window — no pairwise expansion; the window partitions
    * by doc_id, so parallelism holds at any corpus size (a document bounds
    * its own span pass, never the corpus).
    */
  val dd21DupSpans: Q = Q(
    "dd21_dup_spans",
    """WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks
      |           FROM documents WHERE len(string_split(lower(text), ' ')) >= 8),
      |g AS (SELECT doc_id, CAST(i AS BIGINT) AS pos,
      |        CAST(CAST(concat('0x', substr(md5(array_to_string(list_slice(toks, i, i + 7), ' ')),1,16)) AS UBIGINT) % 2305843009213693951 AS BIGINT) AS gh
      |      FROM t, unnest(generate_series(1, len(toks) - 7)) AS u(i)),
      |cnt AS (SELECT gh, COUNT(*) AS c FROM g GROUP BY gh),
      |d AS (SELECT g.doc_id, g.pos FROM g JOIN cnt USING (gh) WHERE cnt.c >= 2),
      |isl AS (SELECT doc_id, pos,
      |          pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
      |        FROM d)
      |SELECT doc_id, CAST(MIN(pos) AS BIGINT) AS span_start,
      |  CAST(MAX(pos) + 7 AS BIGINT) AS span_end,
      |  CAST(COUNT(*) AS BIGINT) AS n_grams
      |FROM isl GROUP BY doc_id, grp
      |ORDER BY doc_id, span_start""".stripMargin) { (spark, dir) =>
    Dedup.duplicatedNgramSpans(Tables.documents(spark, dir), "doc_id", "text", n = 8)
      .orderBy(col("doc_id"), col("span_start"))
  }

  /** LSH capacity report over dd2's exact band structure — the
    * candidate-volume planner an ops team reads BEFORE running the pair
    * join at a new corpus size: per band, the bucket count, the largest
    * bucket, and the exact candidate-pair volume Σ c·(c−1)/2 that band
    * would feed into verification. A band whose max bucket grows superlinearly
    * flags boilerplate that an upstream exact-dedup pass should remove
    * (the [[graft.operators.Dedup.oversizedBuckets]] cap exists for
    * exactly that tail). Plan: the signature kernel runs once, then two
    * bounded aggregates — no pair is ever materialized.
    */
  val dd22LshCapacity: Q = Q(
    "dd22_lsh_capacity",
    s"""WITH $ShinglesSql,
       |${DedupQueries.SigSql("doc_id, sh")},
       |bands AS (SELECT doc_id, t.b AS band,
       |    array_to_string(list_slice(sig, t.b*4 + 1, t.b*4 + 4), '-') AS band_key
       |  FROM sig CROSS JOIN range(0, 16) t(b)),
       |bk AS (SELECT band, band_key, CAST(COUNT(*) AS BIGINT) AS c
       |       FROM bands GROUP BY band, band_key)
       |SELECT CAST(band AS BIGINT) AS band, CAST(COUNT(*) AS BIGINT) AS n_buckets,
       |  CAST(MAX(c) AS BIGINT) AS max_bucket,
       |  CAST(SUM(c * (c - 1) // 2) AS BIGINT) AS n_pairs
       |FROM bk GROUP BY band ORDER BY band""".stripMargin) { (spark, dir) =>
    import org.apache.spark.sql.types.LongType
    // signatures from the compiled kernel (identical values to the expr
    // pipeline, ~10× faster); the band-key string join over the computed
    // 64-long array is the cheap part
    val sig = Dedup.minhashSignatures(
      Tables.documents(spark, dir), "doc_id", "text", shingleK = 3, k = 64)
    val bands = sig.select(col("doc_id"), explode(expr(
        """transform(sequence(0, 15), b -> struct(cast(b as bigint) as band,
          |  concat_ws('-', slice(sig, b*4 + 1, 4)) as band_key))""".stripMargin)).as("bb"))
      .select(col("bb.band").as("band"), col("bb.band_key").as("band_key"))
    bands.groupBy(col("band"), col("band_key"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n_buckets"), max(col("c")).as("max_bucket"),
        sum(expr("c * (c - 1) div 2")).cast(LongType).as("n_pairs"))
      .orderBy(col("band"))
  }

  /** Soft dedup ([[Dedup.softDedupWeights]]): every document weighted by
    * the inverse of its dd11 near-dup cluster size (`10000 div size` bp) —
    * the keep-everything-downweight-duplicates curation policy, sharing the
    * round's [[Shared.ccLabels]] component frame with dd11/dd12/dd14 so the
    * MinHash pair generation and CC never re-run. The oracle closes the
    * same dd2 pair graph with the dd11 recursive CTE, then LEFT-joins the
    * labels onto the full corpus (singletons → own id, size 1).
    */
  val dd23SoftWeights: Q = Q(
    "dd23_soft_weights",
    s"""WITH RECURSIVE $ShinglesSql,
       |${DedupQueries.SigSql("doc_id, sh")},
       |bands AS (SELECT doc_id, t.b AS band,
       |    array_to_string(list_slice(sig, t.b*4 + 1, t.b*4 + 4), '-') AS band_key
       |  FROM sig CROSS JOIN range(0, 16) t(b)),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
       |pairs AS MATERIALIZED (SELECT doc_a, doc_b FROM (
       |    SELECT c.doc_a, c.doc_b, $JaccardSql AS jaccard
       |    FROM cand c JOIN sh ga ON ga.doc_id = c.doc_a JOIN sh gb ON gb.doc_id = c.doc_b)
       |  WHERE jaccard >= 0.8),
       |edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
       |          UNION ALL SELECT doc_b, doc_a FROM pairs),
       |reach AS (SELECT a AS id, a AS r FROM edges
       |          UNION
       |          SELECT e.b AS id, reach.r AS r FROM reach JOIN edges e ON e.a = reach.id),
       |comp AS (SELECT id AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY id),
       |m AS (SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS cluster_id
       |      FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id),
       |sz AS (SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS cluster_size
       |       FROM m GROUP BY 1)
       |SELECT m.doc_id, m.cluster_id, sz.cluster_size,
       |  CAST(10000 // sz.cluster_size AS BIGINT) AS weight_bp
       |FROM m JOIN sz USING (cluster_id)
       |ORDER BY m.doc_id""".stripMargin) { (spark, dir) =>
    Dedup.softDedupWeights(
        Tables.documents(spark, dir).select(col("doc_id")),
        "doc_id", Shared.ccLabels(spark, dir))
      .orderBy(col("doc_id"))
  }

  /** URL-canonicalization dedup ([[graft.operators.Urls.canonical]]) — the
    * web-crawl pass that runs BEFORE any content hashing: three messy
    * surface forms per page (scheme/host case, default port, `www.`,
    * trailing slash, tracking params, fragment, param order) collapse to
    * one canonical key, and the dedup is then a plain exact groupBy on
    * that key. The messy URLs are constructed deterministically from
    * `documents` by the SAME expression in both engines (the graded logic
    * is the canonicalizer, a single codegen'd map-side projection); docs
    * sharing `doc_id div 7` are the planted duplicate groups.
    */
  val dd24UrlDedup: Q = Q(
    "dd24_url_dedup",
    """WITH u0 AS (SELECT doc_id,
      |    CASE WHEN doc_id % 3 = 0 THEN
      |      'HTTPS://WWW.EX' || CAST((doc_id // 7) % 10 AS VARCHAR) || '.COM:443/Docs/' ||
      |      CAST(doc_id // 7 AS VARCHAR) || '/?utm_source=feed&id=' ||
      |      CAST((doc_id // 7) % 97 AS VARCHAR) || '&ref=tw#frag'
      |    WHEN doc_id % 3 = 1 THEN
      |      'https://www.ex' || CAST((doc_id // 7) % 10 AS VARCHAR) || '.com/Docs/' ||
      |      CAST(doc_id // 7 AS VARCHAR) || '?id=' ||
      |      CAST((doc_id // 7) % 97 AS VARCHAR)
      |    ELSE
      |      'https://ex' || CAST((doc_id // 7) % 10 AS VARCHAR) || '.com/Docs/' ||
      |      CAST(doc_id // 7 AS VARCHAR) || '/?id=' ||
      |      CAST((doc_id // 7) % 97 AS VARCHAR) || '&utm_campaign=x'
      |    END AS u
      |  FROM documents),
      |p1 AS (SELECT doc_id, regexp_replace(u, '#.*$', '') AS nf FROM u0),
      |p2 AS (SELECT doc_id,
      |    regexp_extract(nf, '^([^?]*)', 1) AS base,
      |    regexp_extract(nf, '\?(.*)$', 1) AS qs FROM p1),
      |p3 AS (SELECT doc_id,
      |    lower(regexp_extract(base, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
      |    regexp_replace(regexp_replace(
      |      lower(regexp_extract(base, '^[A-Za-z][A-Za-z0-9+.-]*://([^/]*)', 1)),
      |      '^www\.', ''), ':(443|80)$', '') AS host,
      |    regexp_replace(
      |      regexp_extract(base, '^[A-Za-z][A-Za-z0-9+.-]*://[^/]*(/.*)?$', 1),
      |      '/+$', '') AS path,
      |    array_to_string(list_sort(list_filter(string_split(qs, '&'),
      |      p -> p <> '' AND NOT regexp_matches(p, '^(utm_|ref=|fbclid=|gclid=)'))),
      |      '&') AS params
      |  FROM p2),
      |c AS (SELECT doc_id, scheme || '://' || host || path ||
      |    CASE WHEN params = '' THEN '' ELSE '?' || params END AS canonical_url
      |  FROM p3)
      |SELECT canonical_url, CAST(COUNT(*) AS BIGINT) AS n_dups,
      |  MIN(doc_id) AS keep_id
      |FROM c GROUP BY 1 ORDER BY canonical_url""".stripMargin) { (spark, dir) =>
    import org.apache.spark.sql.types.StringType
    val key = expr("doc_id div 7").cast(StringType)
    val id97 = expr("(doc_id div 7) % 97").cast(StringType)
    // host derives from the GROUP key (not per-doc source) so the planted
    // duplicate groups genuinely share a page identity across all three
    // surface forms
    val host = expr("(doc_id div 7) % 10").cast(StringType)
    val messy = Tables.documents(spark, dir).select(col("doc_id"),
      when(col("doc_id") % 3 === 0,
        concat(lit("HTTPS://WWW.EX"), host, lit(".COM:443/Docs/"),
          key, lit("/?utm_source=feed&id="), id97, lit("&ref=tw#frag")))
      .when(col("doc_id") % 3 === 1,
        concat(lit("https://www.ex"), host, lit(".com/Docs/"),
          key, lit("?id="), id97))
      .otherwise(
        concat(lit("https://ex"), host, lit(".com/Docs/"),
          key, lit("/?id="), id97, lit("&utm_campaign=x")))
      .as("u"))
    messy
      .select(col("doc_id"), graft.operators.Urls.canonical(col("u")).as("canonical_url"))
      .groupBy(col("canonical_url"))
      .agg(count(lit(1)).as("n_dups"), min(col("doc_id")).as("keep_id"))
      .orderBy(col("canonical_url"))
  }

  /** MinHash estimator calibration ([[Dedup.minhashCalibration]]): over the
    * full (unthresholded) LSH candidate set, signature-estimated vs exact
    * Jaccard per match-count bucket — the threshold-tuning report. The
    * oracle recomputes the identical banding + signature comparison in SQL
    * (same hashes as dd2), so the whole estimate/exact ladder is pinned
    * bit-for-bit, not just the ≥0.8 tail dd2 keeps.
    */
  val dd25LshCalibration: Q = Q(
    "dd25_lsh_calibration",
    s"""WITH $ShinglesSql,
       |${DedupQueries.SigSql("doc_id, sh")},
       |bands AS (SELECT doc_id, t.b AS band,
       |    array_to_string(list_slice(sig, t.b*4 + 1, t.b*4 + 4), '-') AS band_key
       |  FROM sig CROSS JOIN range(0, 16) t(b)),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
       |p AS (SELECT
       |    CAST(list_sum(list_transform(range(1, 65),
       |      j -> CASE WHEN ga.sig[j] = gb.sig[j] THEN 1 ELSE 0 END)) AS BIGINT) AS match_n,
       |    CAST(len(list_intersect(ga.sh, gb.sh)) AS BIGINT) AS inter,
       |    CAST(len(ga.sh) + len(gb.sh) - len(list_intersect(ga.sh, gb.sh)) AS BIGINT) AS uni
       |  FROM cand c JOIN sig ga ON ga.doc_id = c.doc_a JOIN sig gb ON gb.doc_id = c.doc_b),
       |e AS (SELECT match_n, inter * 10000 // uni AS exact_bp FROM p)
       |SELECT CAST(match_n // 4 AS BIGINT) AS bucket,
       |  CAST(COUNT(*) AS BIGINT) AS n_pairs,
       |  CAST(SUM(match_n) * 10000 // (COUNT(*) * 64) AS BIGINT) AS avg_est_bp,
       |  CAST(SUM(exact_bp) // COUNT(*) AS BIGINT) AS avg_exact_bp,
       |  CAST(MIN(exact_bp) AS BIGINT) AS min_exact_bp,
       |  CAST(MAX(exact_bp) AS BIGINT) AS max_exact_bp
       |FROM e GROUP BY 1 ORDER BY bucket""".stripMargin) { (spark, dir) =>
    Dedup.minhashCalibration(
      Tables.documents(spark, dir).select(col("doc_id"), col("text")),
      "doc_id", "text", shingleK = 3, bands = 16, rowsPerBand = 4)
  }

  /** SemDeDup over the embeddings table ([[Dedup.semDedup]]): spherical
    * k-means (k = 8, 5 Lloyd iterations, first-8-ids init), within-cell
    * cosine pairs at τ = 0.7, transitive duplicate groups, keep the
    * member FARTHEST from its centroid per group. The oracle replays the
    * ENTIRE pipeline — the Lloyd recursion carries the full point set and
    * codebook per iteration (the sim9 pattern), the within-cell pair
    * graph closes through the dd11 recursive-reachability CTE, and every
    * cosine is the same sequential-fold IEEE sum — so cell, group, and
    * survivor flags match bit-for-bit.
    */
  val dd26SemDedup: Q = {
    val cos = (v: String, c: String) =>
      s"""list_sum(list_transform(range(1, 65), i2 -> $v[CAST(i2 AS INT)] * $c[CAST(i2 AS INT)]))"""
    val scores =
      s"""list_transform(range(1, 9), c2 ->
         |  ${cos("z.v", "cents[CAST(c2 AS INT)]")}
         |  / (z.nrm * sqrt(${cos("cents[CAST(c2 AS INT)]", "cents[CAST(c2 AS INT)]")})))""".stripMargin
    val fscores =
      s"""list_transform(range(1, 9), c2 ->
         |  ${cos("x.v", "fc.cents[CAST(c2 AS INT)]")}
         |  / (x.nrm * sqrt(${cos("fc.cents[CAST(c2 AS INT)]", "fc.cents[CAST(c2 AS INT)]")})))""".stripMargin
    Q(
      "dd26_semdedup",
      s"""WITH RECURSIVE e AS (
         |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings),
         |n AS (SELECT vec_id, v,
         |        sqrt(list_sum(list_transform(range(1, len(v)+1), i -> v[i]*v[i]))) AS nrm
         |      FROM e),
         |pts AS (SELECT list({'id': vec_id, 'v': v, 'nrm': nrm} ORDER BY vec_id) AS ps
         |        FROM n),
         |lloyd AS (
         |  SELECT 0 AS it, list_transform(ps[1:8], z -> z.v) AS cents, ps FROM pts
         |  UNION ALL
         |  SELECT it + 1,
         |    list_transform(range(1, 9), c ->
         |      CASE WHEN len(list_filter(zp, z -> z.cell = c)) = 0
         |             THEN cents[CAST(c AS INT)]
         |           ELSE list_transform(range(1, 65), i ->
         |             list_sum(list_transform(list_filter(zp, z -> z.cell = c),
         |               z -> z.v[CAST(i AS INT)]))
         |             / len(list_filter(zp, z -> z.cell = c))) END) AS cents,
         |    ps
         |  FROM (
         |    SELECT it, cents, ps,
         |      list_transform(ps, z ->
         |        {'cell': list_position($scores, list_max($scores)),
         |         'v': z.v}) AS zp
         |    FROM lloyd WHERE it < 5)),
         |fc AS (SELECT cents FROM lloyd WHERE it = 5),
         |asg AS (SELECT x.vec_id, x.v, x.nrm,
         |    CAST(list_position($fscores, list_max($fscores)) - 1 AS BIGINT) AS cell,
         |    list_max($fscores) AS cell_cos
         |  FROM n x, fc),
         |pr AS MATERIALIZED (SELECT a.vec_id AS ia, b.vec_id AS ib
         |  FROM asg a JOIN asg b ON a.cell = b.cell AND a.vec_id < b.vec_id
         |  WHERE ${cos("a.v", "b.v")} / (a.nrm * b.nrm) >= CAST(0.7 AS DOUBLE)),
         |edges AS (SELECT ia AS s, ib AS t FROM pr
         |          UNION ALL SELECT ib, ia FROM pr),
         |reach AS (SELECT s AS id, s AS r FROM edges
         |          UNION
         |          SELECT g.t AS id, reach.r AS r FROM reach JOIN edges g ON g.s = reach.id),
         |comp AS (SELECT id, MIN(r) AS comp FROM reach GROUP BY id),
         |m AS (SELECT a.vec_id, a.cell, COALESCE(c.comp, a.vec_id) AS grp, a.cell_cos
         |      FROM asg a LEFT JOIN comp c ON c.id = a.vec_id),
         |r AS (SELECT vec_id, cell, grp,
         |        ROW_NUMBER() OVER (PARTITION BY grp ORDER BY cell_cos ASC, vec_id) AS rn
         |      FROM m)
         |SELECT vec_id, cell, grp, rn = 1 AS keep
         |FROM r ORDER BY vec_id""".stripMargin) { (spark, dir) =>
      // eager static-plan assembly — see dd11's rationale
      Dedup.withStaticPlan(spark) {
        Dedup.cachedForReuse(
          Dedup.semDedup(Tables.embeddings(spark, dir), "vec_id", "embedding",
              k = 8, iters = 5, threshold = 0.7)
            .orderBy(col("vec_id")))
      }
    }
  }

  /** LSH RECALL audit — the view [[dd25LshCalibration]] cannot see: dd25
    * grades the estimator on pairs the banding SURFACED; this query grades
    * the banding on pairs it MISSED. Ground truth is the exact
    * prefix-filter join ([[Dedup.prefixFilterNearDuplicates]], provably no
    * false negatives) at the same 0.8 threshold and shingle universe as
    * the MinHash kernel; per 0.05-wide Jaccard bucket: exact-pair count,
    * how many the banded+verified LSH path found, and recall in basis
    * points. The 16-band×4-row banding's S-curve predicts low recall just
    * above the threshold and ~1 at the top — this makes that measurable
    * on the real corpus. The oracle's ground truth replays the same
    * provably-no-false-negative prefix-filter discipline in SQL (df-
    * ascending canonical order, length + positional prunes, exact
    * verify) — an all-pairs oracle was bit-identical but O(n²)
    * (578.6 s at sf0.1; the prefix-filtered form is ~9 s), and the
    * driver's gate has to finish. The engine side is independently
    * [[Dedup.prefixFilterNearDuplicates]].
    */
  val dd27LshRecall: Q = Q(
    "dd27_lsh_recall",
    s"""WITH $ShinglesSql,
       |${DedupQueries.SigSql("doc_id, sh")},
       |bands AS (SELECT doc_id, t.b AS band,
       |    array_to_string(list_slice(sig, t.b*4 + 1, t.b*4 + 4), '-') AS band_key
       |  FROM sig CROSS JOIN range(0, 16) t(b)),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
       |lsh AS (SELECT doc_a, doc_b FROM (
       |    SELECT c.doc_a, c.doc_b, $JaccardSql AS jaccard
       |    FROM cand c JOIN sh ga ON ga.doc_id = c.doc_a JOIN sh gb ON gb.doc_id = c.doc_b)
       |  WHERE jaccard >= 0.8),
       |pe AS (SELECT doc_id, unnest(sh) AS tok FROM sh),
       |pdf AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM pe GROUP BY tok),
       |prk AS (SELECT pe.doc_id, pe.tok,
       |    ROW_NUMBER() OVER (PARTITION BY pe.doc_id ORDER BY pdf.df, pe.tok) AS rn,
       |    COUNT(*) OVER (PARTITION BY pe.doc_id) AS n
       |  FROM pe JOIN pdf ON pdf.tok = pe.tok),
       |pfx AS (SELECT doc_id, tok, rn, n FROM prk
       |        WHERE rn <= n - ((n * 8 + 9) // 10) + 1),
       |pcand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM pfx a JOIN pfx b ON a.tok = b.tok AND a.doc_id < b.doc_id
       |  WHERE LEAST(a.n, b.n) * 10 >= GREATEST(a.n, b.n) * 8
       |    AND 1 + LEAST(a.n - a.rn, b.n - b.rn) >= (8 * (a.n + b.n) + 17) // 18),
       |ex AS (SELECT c.doc_a, c.doc_b,
       |    CAST(len(list_intersect(ga.sh, gb.sh)) AS BIGINT) AS inter,
       |    CAST(len(ga.sh) + len(gb.sh) - len(list_intersect(ga.sh, gb.sh)) AS BIGINT) AS uni
       |  FROM pcand c JOIN sh ga ON ga.doc_id = c.doc_a JOIN sh gb ON gb.doc_id = c.doc_b),
       |exth AS (SELECT doc_a, doc_b, inter * 20 // uni AS bucket
       |         FROM ex WHERE inter * 10 >= uni * 8),
       |j AS (SELECT e.bucket,
       |        CASE WHEN l.doc_a IS NULL THEN 0 ELSE 1 END AS found
       |      FROM exth e LEFT JOIN lsh l
       |        ON l.doc_a = e.doc_a AND l.doc_b = e.doc_b)
       |SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_exact,
       |  CAST(SUM(found) AS BIGINT) AS n_found,
       |  CAST(SUM(found) * 10000 // COUNT(*) AS BIGINT) AS recall_bp
       |FROM j GROUP BY bucket ORDER BY bucket""".stripMargin) { (spark, dir) =>
    val exact = Dedup.prefixFilterNearDuplicates(
        Tables.documents(spark, dir).select(col("doc_id"), col("text")),
        "doc_id", "text", thresholdNum = 8, thresholdDen = 10, shingleK = 3)
      .withColumn("bucket", expr("inter * 20 div (n_a + n_b - inter)"))
      .select(col("doc_a"), col("doc_b"), col("bucket"))
    val lsh = Shared.minhashPairs(spark, dir)
      .select(col("doc_a"), col("doc_b"), lit(1L).as("found"))
    exact.join(lsh, Seq("doc_a", "doc_b"), "left")
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_exact"),
        sum(coalesce(col("found"), lit(0L))).as("n_found"))
      .select(col("bucket"), col("n_exact"), col("n_found"),
        expr("n_found * 10000 div n_exact").as("recall_bp"))
      .orderBy(col("bucket"))
  }

  /** Threshold SWEEP over the verified near-dup pair table — the
    * operating-point selection a dedup rollout runs before committing to a
    * cutoff: for each candidate Jaccard threshold (0.80–0.95), how many
    * pairs survive and how many documents they touch. Consumes the
    * memoized dd2 pair kernel (one build, [[Shared.minhashPairs]]) and
    * sweeps with one explode + aggregate over the TINY verified pair
    * table — thresholds multiply expressions over ~|pairs| rows, never
    * corpus passes. The jaccard each pair carries is the identical exact
    * division in both engines, so literal-threshold compares are
    * deterministic.
    */
  /** Bottom-k sketch containment audit
    * ([[graft.operators.Dedup.bottomKContainment]]): per candidate pair,
    * the O(k)-state containment ESTIMATE (bottom-32 sketches, Cohen–Kaplan
    * estimator, exact integer ppm) against the EXACT containment on the
    * same pairs — the calibration report (dd25/dd27 shape) for the sketch
    * that replaces dd15's full-gram-set shipping at corpus scale. The
    * oracle replays sketch construction, the df-capped candidate index,
    * and both statistics with DuckDB list arithmetic on the identical
    * md5-prefix hashes.
    */
  val dd29BottomkContainment: Q = Q(
    "dd29_bottomk_containment",
    s"""WITH $ShinglesSql,
       |h AS (SELECT doc_id,
       |    list_sort(list_distinct(list_transform(sh, s ->
       |      CAST(CAST(concat('0x', substr(md5(s),1,16)) AS UBIGINT)
       |           % ${graft.operators.Dedup.MinhashPrime} AS BIGINT)))) AS hv
       |  FROM sh),
       |k AS (SELECT doc_id, hv, hv[1:32] AS bk,
       |    CAST(len(hv) AS BIGINT) AS n FROM h),
       |e AS (SELECT doc_id, unnest(bk) AS hh FROM k),
       |dfc AS (SELECT hh FROM e GROUP BY hh HAVING COUNT(*) <= 50),
       |se AS (SELECT e.doc_id, e.hh FROM e JOIN dfc ON dfc.hh = e.hh),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |         FROM se a JOIN se b ON a.hh = b.hh AND a.doc_id < b.doc_id),
       |p AS (SELECT c.doc_a, c.doc_b, ka.n AS n_a, kb.n AS n_b,
       |        list_sort(list_distinct(ka.bk || kb.bk))[1:32] AS top,
       |        ka.bk AS bk_a, kb.bk AS bk_b, ka.hv AS hv_a, kb.hv AS hv_b
       |      FROM cand c JOIN k ka ON ka.doc_id = c.doc_a
       |                  JOIN k kb ON kb.doc_id = c.doc_b),
       |q AS (SELECT doc_a, doc_b, n_a, n_b,
       |        CAST(len(top) AS BIGINT) AS y,
       |        CAST(len(list_intersect(list_intersect(top, bk_a), bk_b)) AS BIGINT) AS x,
       |        CAST(len(list_intersect(hv_a, hv_b)) AS BIGINT) AS shared_exact
       |      FROM p)
       |SELECT doc_a, doc_b, n_a, n_b, x, y, shared_exact,
       |  (1000000 * x * (n_a + n_b)) // ((y + x) * LEAST(n_a, n_b)) AS c_est_ppm,
       |  (1000000 * shared_exact) // LEAST(n_a, n_b) AS c_exact_ppm,
       |  (1000000 * x * (n_a + n_b)) // ((y + x) * LEAST(n_a, n_b))
       |    - (1000000 * shared_exact) // LEAST(n_a, n_b) AS err_ppm
       |FROM q ORDER BY doc_a, doc_b""".stripMargin) { (spark, dir) =>
    Dedup.bottomKContainment(Tables.documents(spark, dir), "doc_id", "text",
        k = 32, dfCap = 50)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  val dd28ThresholdSweep: Q = Q(
    "dd28_threshold_sweep",
    s"""WITH $ShinglesSql,
       |${DedupQueries.SigSql("doc_id, sh")},
       |bands AS (SELECT doc_id, t.b AS band,
       |    array_to_string(list_slice(sig, t.b*4 + 1, t.b*4 + 4), '-') AS band_key
       |  FROM sig CROSS JOIN range(0, 16) t(b)),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
       |pairs AS (SELECT doc_a, doc_b, jaccard FROM (
       |    SELECT c.doc_a, c.doc_b, $JaccardSql AS jaccard
       |    FROM cand c JOIN sh ga ON ga.doc_id = c.doc_a JOIN sh gb ON gb.doc_id = c.doc_b)
       |  WHERE jaccard >= 0.8),
       |ts(t_bp) AS (VALUES (CAST(8000 AS BIGINT)), (8500), (9000), (9500)),
       |hit AS (SELECT t_bp, doc_a, doc_b FROM ts JOIN pairs
       |        ON jaccard >= t_bp / 10000.0),
       |pc AS (SELECT t_bp, CAST(COUNT(*) AS BIGINT) AS n_pairs
       |       FROM hit GROUP BY t_bp),
       |docs AS (SELECT t_bp, doc_a AS d FROM hit
       |         UNION SELECT t_bp, doc_b FROM hit),
       |dc AS (SELECT t_bp, CAST(COUNT(*) AS BIGINT) AS n_docs
       |       FROM docs GROUP BY t_bp)
       |SELECT t_bp AS threshold_bp, n_pairs, n_docs
       |FROM pc JOIN dc USING (t_bp) ORDER BY t_bp""".stripMargin) { (spark, dir) =>
    val pairs = Shared.minhashPairs(spark, dir)
    val ts = array((8000L to 9500L by 500L).map(lit): _*)
    val hit = pairs.select(col("doc_a"), col("doc_b"), col("jaccard"),
        explode(ts).as("t_bp"))
      .filter(col("jaccard") >= col("t_bp") / 10000.0)
    val hitM = graft.operators.Dedup.cachedForReuse(
      hit.select(col("t_bp"), col("doc_a"), col("doc_b")))
    val pc = hitM.groupBy(col("t_bp")).agg(count(lit(1)).as("n_pairs"))
    val dc = hitM.select(col("t_bp"), col("doc_a").as("d"))
      .union(hitM.select(col("t_bp"), col("doc_b").as("d")))
      .distinct()
      .groupBy(col("t_bp")).agg(count(lit(1)).as("n_docs"))
    pc.join(dc, Seq("t_bp"))
      .select(col("t_bp").as("threshold_bp"), col("n_pairs"), col("n_docs"))
      .orderBy(col("threshold_bp"))
  }

  /** The second composed curation DAG: DEDUP-AWARE temperature mixing.
    * Soft-dedup weights (dd23 — every member of a near-dup cluster carries
    * 1/cluster_size) discount each document's token mass, the per-source
    * EFFECTIVE token counts aggregate exactly in bp-token units, and the
    * mx14 temperature allocator (√-weights, largest-remainder exhaustion
    * of a half-budget) then mixes on effective — not raw — mass: a source
    * whose volume is mostly internal duplication gets the allocation its
    * UNIQUE content earns. Chains the memoized pair graph → CC labels →
    * weights → one source aggregate → the bounded allocator grid; the
    * oracle replays the full chain (dd23's recursive closure + mx14's
    * largest-remainder arithmetic) end-to-end.
    */
  val mx19DedupAwareMix: Q = Q(
    "mx19_dedup_aware_mix",
    s"""WITH RECURSIVE $ShinglesSql,
       |${DedupQueries.SigSql("doc_id, sh")},
       |bands AS (SELECT doc_id, t.b AS band,
       |    array_to_string(list_slice(sig, t.b*4 + 1, t.b*4 + 4), '-') AS band_key
       |  FROM sig CROSS JOIN range(0, 16) t(b)),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
       |pairs AS MATERIALIZED (SELECT doc_a, doc_b FROM (
       |    SELECT c.doc_a, c.doc_b, $JaccardSql AS jaccard
       |    FROM cand c JOIN sh ga ON ga.doc_id = c.doc_a JOIN sh gb ON gb.doc_id = c.doc_b)
       |  WHERE jaccard >= 0.8),
       |edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
       |          UNION ALL SELECT doc_b, doc_a FROM pairs),
       |reach AS (SELECT a AS id, a AS r FROM edges
       |          UNION
       |          SELECT e.b AS id, reach.r AS r FROM reach JOIN edges e ON e.a = reach.id),
       |comp AS (SELECT id AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY id),
       |m AS (SELECT d.doc_id, d.source,
       |        CAST(len(regexp_extract_all(d.text,
       |          '${graft.operators.TextAnalysis.BpePattern}')) AS BIGINT) AS tok,
       |        COALESCE(c.cluster_id, d.doc_id) AS cluster_id
       |      FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id),
       |sz AS (SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS cluster_size
       |       FROM m GROUP BY 1),
       |eff AS (SELECT m.source,
       |    CAST(SUM(m.tok) AS BIGINT) AS raw_tokens,
       |    CAST(SUM(m.tok * (10000 // sz.cluster_size)) AS BIGINT) // 10000 AS eff_tokens
       |  FROM m JOIN sz USING (cluster_id) GROUP BY m.source),
       |wts AS (SELECT source, raw_tokens, eff_tokens,
       |    CAST(FLOOR(SQRT(CAST(eff_tokens AS DOUBLE))) AS BIGINT) AS wt FROM eff),
       |g AS (SELECT CAST(SUM(eff_tokens) AS BIGINT) // 2 AS b,
       |             CAST(SUM(wt) AS BIGINT) AS wsum FROM wts),
       |a AS (SELECT source, raw_tokens, eff_tokens, wt, g.b, g.wsum,
       |        CASE WHEN g.wsum = 0 THEN 0 ELSE g.b * wt // g.wsum END AS base,
       |        CASE WHEN g.wsum = 0 THEN 0 ELSE g.b * wt % g.wsum END AS rem
       |      FROM wts, g),
       |r AS (SELECT *, CAST(ROW_NUMBER() OVER (ORDER BY rem DESC, source) AS BIGINT) AS rr,
       |        CAST(SUM(base) OVER () AS BIGINT) AS base_sum
       |      FROM a)
       |SELECT source, raw_tokens, eff_tokens, wt AS weight,
       |  CAST(base + CASE WHEN rr <= b - base_sum THEN 1 ELSE 0 END AS BIGINT) AS alloc_tokens,
       |  CASE WHEN b = 0 THEN NULL
       |       ELSE CAST((base + CASE WHEN rr <= b - base_sum THEN 1 ELSE 0 END) * 10000 // b AS BIGINT)
       |  END AS share_bp
       |FROM r ORDER BY source""".stripMargin) { (spark, dir) =>
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.LongType
    import graft.operators.TextAnalysis
    val docs = Tables.documents(spark, dir)
    val weights = Dedup.softDedupWeights(
      docs.select(col("doc_id")), "doc_id", Shared.ccLabels(spark, dir))
    val eff = docs
      .select(col("doc_id"), col("source"),
        TextAnalysis.bpeTokenCount(col("text")).cast(LongType).as("tok"))
      .join(weights.select(col("doc_id"), col("weight_bp")), "doc_id")
      .groupBy(col("source"))
      .agg(sum(col("tok")).as("raw_tokens"),
        expr("sum(tok * weight_bp) div 10000").as("eff_tokens"))
    val wts = eff.withColumn("wt",
      floor(sqrt(col("eff_tokens").cast("double"))).cast(LongType))
    val g = wts.agg(expr("sum(eff_tokens) div 2").as("b"), sum(col("wt")).as("wsum"))
    val a = wts.crossJoin(broadcast(g))
      .withColumn("base",
        when(col("wsum") === 0, 0L).otherwise(expr("b * wt div wsum")))
      .withColumn("rem",
        when(col("wsum") === 0, 0L).otherwise(expr("b * wt % wsum")))
    val r = a
      .withColumn("rr", row_number().over(
        Window.orderBy(col("rem").desc, col("source"))).cast(LongType))
      .withColumn("base_sum", sum(col("base")).over(
        Window.orderBy(lit(1)).rowsBetween(
          Window.unboundedPreceding, Window.unboundedFollowing)))
    r.withColumn("alloc_tokens",
        col("base") + when(col("rr") <= col("b") - col("base_sum"), 1L).otherwise(0L))
      .select(col("source"), col("raw_tokens"), col("eff_tokens"),
        col("wt").as("weight"), col("alloc_tokens"),
        when(col("b") === 0, lit(null).cast(LongType))
          .otherwise(expr("alloc_tokens * 10000 div b")).as("share_bp"))
      .orderBy(col("source"))
  }

  /** Dedup-aware train/test split + leakage audit
    * ([[graft.operators.Sampling.clusterAwareSplit]]): documents split
    * 80/20 by the selection hash of their near-duplicate-cluster
    * representative ([[Shared.ccLabels]]), so a cluster lands wholly on
    * one side — then the audit counts near-dup pairs straddling the
    * boundary under (a) the cluster-keyed split (0 BY CONSTRUCTION:
    * both endpoints share a representative) and (b) the naive doc-id
    * split (the leakage a row split would have shipped). The single-row
    * report is the decontamination evidence a training run logs.
    *
    * Scale: the memoized pair/CC kernel + one broadcastable label join,
    * one pair-frame join, two bounded aggregates.
    */
  val mx20DedupAwareSplit: Q = Q(
    "mx20_dedup_aware_split",
    s"""WITH RECURSIVE $ShinglesSql,
       |${DedupQueries.SigSql("doc_id, sh")},
       |bands AS (SELECT doc_id, t.b AS band,
       |    array_to_string(list_slice(sig, t.b*4 + 1, t.b*4 + 4), '-') AS band_key
       |  FROM sig CROSS JOIN range(0, 16) t(b)),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
       |pairs AS MATERIALIZED (SELECT doc_a, doc_b FROM (
       |    SELECT c.doc_a, c.doc_b, $JaccardSql AS jaccard
       |    FROM cand c JOIN sh ga ON ga.doc_id = c.doc_a JOIN sh gb ON gb.doc_id = c.doc_b)
       |  WHERE jaccard >= 0.8),
       |edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
       |          UNION ALL SELECT doc_b, doc_a FROM pairs),
       |reach AS (SELECT a AS id, a AS r FROM edges
       |          UNION
       |          SELECT e.b AS id, reach.r AS r FROM reach JOIN edges e ON e.a = reach.id),
       |comp AS (SELECT id AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY id),
       |lab AS (SELECT d.doc_id,
       |    CASE WHEN CAST(concat('0x', substr(md5(concat('ds:',
       |           CAST(COALESCE(c.cluster_id, d.doc_id) AS VARCHAR))), 1, 8)) AS BIGINT)
       |         < CAST(round(0.8 * 4294967296.0) AS BIGINT)
       |      THEN 'train' ELSE 'test' END AS split,
       |    CASE WHEN CAST(concat('0x', substr(md5(concat('ds:',
       |           CAST(d.doc_id AS VARCHAR))), 1, 8)) AS BIGINT)
       |         < CAST(round(0.8 * 4294967296.0) AS BIGINT)
       |      THEN 'train' ELSE 'test' END AS naive
       |  FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id),
       |cnt AS (SELECT
       |    CAST(SUM(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
       |    CAST(SUM(CASE WHEN split = 'test' THEN 1 ELSE 0 END) AS BIGINT) AS n_test,
       |    CAST(SUM(CASE WHEN naive = 'train' THEN 1 ELSE 0 END) AS BIGINT) AS n_train_naive
       |  FROM lab),
       |lk AS (SELECT
       |    CAST(COALESCE(SUM(CASE WHEN la.split <> lb.split THEN 1 ELSE 0 END), 0) AS BIGINT) AS leaked_grouped,
       |    CAST(COALESCE(SUM(CASE WHEN la.naive <> lb.naive THEN 1 ELSE 0 END), 0) AS BIGINT) AS leaked_naive
       |  FROM pairs p JOIN lab la ON la.doc_id = p.doc_a
       |               JOIN lab lb ON lb.doc_id = p.doc_b)
       |SELECT n_train, n_test, n_train_naive, leaked_grouped, leaked_naive
       |FROM cnt, lk""".stripMargin) { (spark, dir) =>
    import org.apache.spark.sql.types.LongType
    import graft.operators.Sampling
    graft.operators.Dedup.withStaticPlan(spark) {
      graft.operators.Dedup.cachedForReuse {
        val thr = math.round(0.8 * 4294967296.0)
        val labeled = Sampling.clusterAwareSplit(
            Tables.documents(spark, dir).select(col("doc_id")),
            "doc_id", Shared.ccLabels(spark, dir), 0.8, "ds")
          .withColumn("naive",
            when(Sampling.selectionHash(col("doc_id"), "ds") < thr, "train")
              .otherwise("test"))
        val cnt = labeled.agg(
          sum(when(col("split") === "train", 1L).otherwise(0L)).as("n_train"),
          sum(when(col("split") === "test", 1L).otherwise(0L)).as("n_test"),
          sum(when(col("naive") === "train", 1L).otherwise(0L)).as("n_train_naive"))
        val la = labeled.select(col("doc_id").as("doc_a"),
          col("split").as("sa"), col("naive").as("na"))
        val lb = labeled.select(col("doc_id").as("doc_b"),
          col("split").as("sb"), col("naive").as("nb"))
        val lk = Shared.minhashPairs(spark, dir)
          .join(la, "doc_a").join(lb, "doc_b")
          .agg(
            coalesce(sum(when(col("sa") =!= col("sb"), 1L).otherwise(0L)), lit(0L))
              .cast(LongType).as("leaked_grouped"),
            coalesce(sum(when(col("na") =!= col("nb"), 1L).otherwise(0L)), lit(0L))
              .cast(LongType).as("leaked_naive"))
        cnt.crossJoin(lk)
      }
    }
  }

  /** Gram-level contamination depth ([[Dedup.contaminationDepth]]) — the
    * quantitative companion to dd10/dd19's boolean flags: per benchmark
    * document (the dd19 split, `doc_id % 7 = 0`), the exact-ppm fraction
    * of its distinct word 5-shingles found anywhere in the training
    * split. Scale: every shuffle bounded by the eval side — eval grams
    * broadcast as the probe, the training corpus scanned once with a
    * map-side semi-join, the hit-gram distinct bounded by |eval grams|
    * (see the operator scaladoc).
    */
  val dd30ContaminationDepth: Q = Q(
    "dd30_contamination_depth",
    """WITH tok AS (SELECT doc_id, string_split(lower(text), ' ') AS ts FROM documents),
      |sh AS (SELECT doc_id, list_distinct(list_transform(range(1, len(ts) - 3),
      |         i -> array_to_string(list_slice(ts, i, i + 4), ' '))) AS sh
      |       FROM tok WHERE len(ts) >= 5),
      |train AS (SELECT DISTINCT unnest(sh) AS g FROM sh WHERE doc_id % 7 <> 0),
      |ev AS (SELECT doc_id, CAST(len(sh) AS BIGINT) AS n, unnest(sh) AS g
      |       FROM sh WHERE doc_id % 7 = 0),
      |agg AS (SELECT ev.doc_id, MAX(ev.n) AS n_grams,
      |    CAST(SUM(CASE WHEN t.g IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit
      |  FROM ev LEFT JOIN train t ON t.g = ev.g GROUP BY ev.doc_id)
      |SELECT doc_id, n_grams, n_hit,
      |  CAST((1000000 * n_hit) // n_grams AS BIGINT) AS contaminated_ppm
      |FROM agg ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    Dedup.contaminationDepth(Tables.documents(spark, dir), "doc_id", "text",
        benchPred = col("doc_id") % 7 === 0, shingleK = 5)
      .orderBy(col("doc_id"))
  }

  /** The text-hygiene YAML chain (`configs/hygiene_pipeline.yaml`:
    * language_filter → pii_scrub → near_dedup) under the DRIVER gate —
    * the composed-DAG oracle the plugin registrations themselves can't
    * give (EnginePipelineSpec pins YAML ≡ operator composition; this pins
    * the composition against an independent SQL replay). The corpus
    * carries no real PII, so deterministic contact lines (derived from
    * doc_id — the tx31 fixture) are APPENDED first; scrubbing then turns
    * every doc's unique contact line into the IDENTICAL
    * `<EMAIL>/<IP>/<PHONE>` boilerplate suffix, which is precisely why a
    * release pipeline scrubs BEFORE near-dedup (unscrubbed PII is
    * high-entropy salt that hides duplicates; scrubbed boilerplate is
    * shared shingles the banded join must shrug off — the verify step's
    * exact Jaccard keeps false candidates out). Survivors: predicted
    * en/fr docs, deduped on the SCRUBBED text, with per-type redaction
    * counts and the scrubbed md5 (byte-exact without shipping text).
    *
    * PARITY BOUNDARY (same note as the hygiene YAML): the oracle's banded
    * candidate join replays WITHOUT the engine's `maxBucket = 100000` hot-
    * bucket cap ([[Dedup.capBuckets]]) — the two lanes agree exactly while
    * no (band, key) bucket exceeds the cap, which holds with enormous
    * margin at every gate SF (sf0.01 has ~1.5k docs; a capped bucket needs
    * 100k+ members of one band key). A corpus pathological enough to trip
    * the cap would drop those boilerplate buckets on the engine side only.
    */
  val dd31HygieneChain: Q = {
    def markersSql(lang: String) = Shared.markersSql(lang)
    val email = TextAnalysis.EmailPattern
    val ip = TextAnalysis.Ipv4Pattern
    val phone = TextAnalysis.PhonePattern
    Q(
      "dd31_hygiene_chain",
      s"""WITH a AS (SELECT doc_id, lang,
         |    text || ' contact user' || doc_id ||
         |    '@example.com or 192.168.' || (doc_id % 256) || '.' ||
         |    (doc_id % 100) || ' tel +1-555-0' || (100 + doc_id % 900) AS s0
         |  FROM documents),
         |ls AS (SELECT doc_id, lang, s0,
         |    len(list_intersect(string_split(lower(s0), ' '), ${markersSql("de")})) AS s_de,
         |    len(list_intersect(string_split(lower(s0), ' '), ${markersSql("en")})) AS s_en,
         |    len(list_intersect(string_split(lower(s0), ' '), ${markersSql("es")})) AS s_es,
         |    len(list_intersect(string_split(lower(s0), ' '), ${markersSql("fr")})) AS s_fr,
         |    len(list_intersect(string_split(lower(s0), ' '), ${markersSql("zh")})) AS s_zh
         |  FROM a),
         |l AS (SELECT doc_id, lang, s0 FROM (
         |  SELECT *, CASE WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
         |       WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
         |       WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
         |       WHEN s_fr >= s_zh THEN 'fr'
         |       ELSE 'zh' END AS pl FROM ls) WHERE pl IN ('en', 'fr')),
         |e AS (SELECT doc_id, lang,
         |    CAST(len(regexp_extract_all(s0, '$email')) AS BIGINT) AS n_emails,
         |    regexp_replace(s0, '$email', '<EMAIL>', 'g') AS s1 FROM l),
         |i AS (SELECT doc_id, lang, n_emails,
         |    CAST(len(regexp_extract_all(s1, '$ip')) AS BIGINT) AS n_ips,
         |    regexp_replace(s1, '$ip', '<IP>', 'g') AS s2 FROM e),
         |p AS (SELECT doc_id, lang, n_emails, n_ips,
         |    CAST(len(regexp_extract_all(s2, '$phone')) AS BIGINT) AS n_phones,
         |    regexp_replace(s2, '$phone', '<PHONE>', 'g') AS s3 FROM i),
         |tok AS (SELECT doc_id, string_split(lower(s3), ' ') AS ts FROM p),
         |sh AS (SELECT doc_id, list_distinct(list_transform(range(1, len(ts) - 1),
         |         i -> concat(ts[i], ' ', ts[i+1], ' ', ts[i+2]))) AS sh
         |       FROM tok WHERE len(ts) >= 3),
         |${DedupQueries.SigSql("doc_id, sh")},
         |bands AS (SELECT doc_id, t.b AS band,
         |    array_to_string(list_slice(sig, t.b*4 + 1, t.b*4 + 4), '-') AS band_key
         |  FROM sig CROSS JOIN range(0, 16) t(b)),
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
         |losers AS (SELECT DISTINCT doc_b AS doc_id FROM (
         |  SELECT c.doc_a, c.doc_b,
         |    len(list_intersect(ga.sh, gb.sh)) / (len(ga.sh) + len(gb.sh) - len(list_intersect(ga.sh, gb.sh))) AS jaccard
         |  FROM cand c JOIN sh ga ON ga.doc_id = c.doc_a JOIN sh gb ON gb.doc_id = c.doc_b)
         |  WHERE jaccard >= 0.8)
         |SELECT doc_id, lang, n_emails, n_ips, n_phones, md5(s3) AS scrubbed_md5
         |FROM p WHERE doc_id NOT IN (SELECT doc_id FROM losers)
         |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
      val pii = concat(col("text"), lit(" contact user"), col("doc_id"),
        lit("@example.com or 192.168."), col("doc_id") % 256, lit("."),
        col("doc_id") % 100, lit(" tel +1-555-0"), lit(100) + col("doc_id") % 900)
      val base = Tables.documents(spark, dir)
        .select(col("doc_id"), col("lang"), pii.as("text"))
      val kept = base.filter(
        TextAnalysis.languageId(col("text")).isin("en", "fr"))
      // the scrubbed frame feeds BOTH the near-dup kernel and the final
      // anti-join — materialize once (the dd8 lesson)
      val scrubbed = Dedup.cachedForReuse(TextAnalysis.piiScrub(kept, "text"))
      val losers = Dedup.minhashNearDuplicates(scrubbed, "doc_id", "text")
        .select(col("doc_b").as("doc_id")).distinct()
      scrubbed.join(losers, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("lang"), col("n_emails"), col("n_ips"),
          col("n_phones"), md5(col("text")).as("scrubbed_md5"))
        .orderBy(col("doc_id"))
    }
  }

  val all: Seq[Q] = Seq(dd1ExactDedup, dd2MinhashLsh, dd3Simhash, dd4NgramJaccard,
    dd6SimhashHamming, dd8CleanCorpus, dd9Simhash64Hamming, dd10Decontaminate,
    dd11DupClusters, dd12ClusterClean, dd13DupRate, dd14ClusterKeepBest,
    dd29BottomkContainment,
    dd15Containment, dd16SourceLeakage, dd17PrefixFilter, dd18SentenceDedup,
    dd19BloomDecontaminate, dd20FuzzyEr, dd21DupSpans, dd22LshCapacity,
    dd23SoftWeights, dd24UrlDedup, dd25LshCalibration, dd26SemDedup,
    dd27LshRecall, dd28ThresholdSweep, dd30ContaminationDepth,
    dd31HygieneChain,
    mx19DedupAwareMix, mx20DedupAwareSplit)
}
