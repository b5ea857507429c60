package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables
import graft.operators.TextAnalysis

/** Text-analysis operators over the `documents` table (beyond-reference
  * surface for training-data pipelines): token counting, heuristic language
  * ID, quality scoring, fingerprinting.
  */
object TextQueries {

  val tx1TokenCount: Q = Q(
    "tx1_token_count",
    """SELECT doc_id, n_chars, CAST(length(text) AS BIGINT) AS n_chars_computed,
      |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      |FROM documents ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    Tables.documents(spark, dir).select(
      col("doc_id"), col("n_chars"),
      length(col("text")).cast(LongType).as("n_chars_computed"),
      TextAnalysis.tokenCount(col("text")).cast(LongType).as("n_tokens"))
      .orderBy(col("doc_id"))
  }

  val tx2LangId: Q = {
    def markersSql(lang: String) = Shared.markersSql(lang)
    Q(
      "tx2_langid",
      s"""WITH t AS (SELECT doc_id, lang, string_split(lower(text), ' ') AS toks FROM documents),
         |s AS (SELECT doc_id, lang,
         |  len(list_intersect(toks, ${markersSql("de")})) AS s_de,
         |  len(list_intersect(toks, ${markersSql("en")})) AS s_en,
         |  len(list_intersect(toks, ${markersSql("es")})) AS s_es,
         |  len(list_intersect(toks, ${markersSql("fr")})) AS s_fr,
         |  len(list_intersect(toks, ${markersSql("zh")})) AS s_zh
         |  FROM t)
         |SELECT doc_id, lang,
         |  CASE WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
         |       WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
         |       WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
         |       WHEN s_fr >= s_zh THEN 'fr'
         |       ELSE 'zh' END AS predicted_lang
         |FROM s ORDER BY doc_id""".stripMargin) { (spark, dir) =>
      Tables.documents(spark, dir).select(
        col("doc_id"), col("lang"),
        TextAnalysis.languageId(col("text")).as("predicted_lang"))
        .orderBy(col("doc_id"))
    }
  }

  val tx3Quality: Q = Q(
    "tx3_quality_score",
    """WITH t AS (SELECT doc_id, text,
      |    len(string_split(text, ' ')) AS n_tokens_i, length(text) AS n_chars_i,
      |    len(list_filter(string_split(lower(text), ' '),
      |        t -> t IN ('the','a','of','and','is'))) AS stop_occ_i
      |  FROM documents)
      |SELECT doc_id, CAST(n_tokens_i AS BIGINT) AS n_tokens,
      |  0.5 * (LEAST(n_tokens_i, 100) / 100.0)
      |  + 0.3 * (stop_occ_i / n_tokens_i)
      |  + 0.2 * (LEAST((n_chars_i - (n_tokens_i - 1)) / n_tokens_i, 10.0) / 10.0) AS quality
      |FROM t ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    Tables.documents(spark, dir).select(
      col("doc_id"),
      TextAnalysis.tokenCount(col("text")).cast(LongType).as("n_tokens"),
      TextAnalysis.qualityScore(col("text")).as("quality"))
      .orderBy(col("doc_id"))
  }

  val tx4Fingerprint: Q = Q(
    "tx4_fingerprint",
    """SELECT doc_id,
      |  md5(array_to_string(list_sort(list_distinct(string_split(lower(text), ' '))), ' ')) AS fingerprint
      |FROM documents ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    Tables.documents(spark, dir).select(
      col("doc_id"),
      TextAnalysis.fingerprint(col("text")).as("fingerprint"))
      .orderBy(col("doc_id"))
  }

  /** Gopher-style repetition/shape signals — the cheap per-document filters a
    * training-data pipeline runs before the expensive near-dup passes.
    */
  val tx5Repetition: Q = Q(
    "tx5_repetition",
    """WITH t AS (SELECT doc_id, text,
      |    string_split(lower(text), ' ') AS ws,
      |    string_split(text, ' ') AS ws0
      |  FROM documents)
      |SELECT doc_id,
      |  1.0 - CAST(len(list_distinct(ws)) AS DOUBLE) / CAST(len(ws) AS DOUBLE) AS dup_word_fraction,
      |  CAST(list_sum(list_transform(ws0, w -> length(w))) AS DOUBLE) / CAST(len(ws0) AS DOUBLE) AS mean_word_len,
      |  CAST(length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')) AS DOUBLE)
      |    / CAST(GREATEST(length(text), 1) AS DOUBLE) AS symbol_ratio
      |FROM t ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    Tables.documents(spark, dir).select(
      col("doc_id"),
      TextAnalysis.dupWordFraction(col("text")).as("dup_word_fraction"),
      TextAnalysis.meanWordLength(col("text")).as("mean_word_len"),
      TextAnalysis.symbolRatio(col("text")).as("symbol_ratio"))
      .orderBy(col("doc_id"))
  }

  /** BPE-ish pre-token counting (letter runs / digit runs / symbol runs) —
    * the linear token-budget estimator next to tx1's whitespace count.
    */
  val tx6BpeTokens: Q = Q(
    "tx6_bpe_tokens",
    s"""SELECT doc_id,
       |  CAST(len(regexp_extract_all(text, '${TextAnalysis.BpePattern}')) AS BIGINT) AS n_bpe_tokens,
       |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens
       |FROM documents ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    Tables.documents(spark, dir).select(
      col("doc_id"),
      TextAnalysis.bpeTokenCount(col("text")).cast(LongType).as("n_bpe_tokens"),
      TextAnalysis.tokenCount(col("text")).cast(LongType).as("n_ws_tokens"))
      .orderBy(col("doc_id"))
  }

  /** Winnowing (MOSS) fingerprints — the rolling-hash fingerprinting scheme:
    * positional char-4-gram hashes, then the min hash of every width-4
    * rolling window; the distinct selected mins are the document's
    * fingerprint set. Guarantees any shared substring of length ≥ n+w−1
    * contributes a shared fingerprint. All integer arithmetic on md5-prefix
    * hashes → oracle-exact.
    */
  val tx7Winnowing: Q = Q(
    "tx7_winnowing",
    """WITH g AS (SELECT doc_id,
      |    list_transform(range(1, length(text) - 2), i -> substr(text, CAST(i AS INT), 4)) AS gs
      |  FROM documents WHERE length(text) >= 7),
      |h AS (SELECT doc_id,
      |    list_transform(gs, s -> CAST(CAST(concat('0x', substr(md5(s),1,16)) AS UBIGINT) % 2305843009213693951 AS BIGINT)) AS hv
      |  FROM g),
      |m AS (SELECT doc_id,
      |    list_sort(list_distinct(list_transform(range(1, len(hv) - 2), i -> list_min(hv[i:i+3])))) AS fps
      |  FROM h)
      |SELECT doc_id, CAST(len(fps) AS BIGINT) AS n_fingerprints,
      |  md5(array_to_string(list_transform(fps, x -> CAST(x AS VARCHAR)), '-')) AS winnow_hash
      |FROM m ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    val n = 4; val w = 4
    // fan the one-file scan out to the core count before the per-char gram
    // kernel (Dedup.spread — identity on any multi-split table); the filter
    // stays below the exchange so it still pushes to the scan
    graft.operators.Dedup.spread(Tables.documents(spark, dir)
        .filter(length(col("text")) >= n + w - 1))
      .withColumn("gs", expr(s"transform(sequence(1, length(text) - ${n - 1}), i -> substring(text, i, $n))"))
      .withColumn("hv", expr("transform(gs, s -> hash61(s))"))
      .withColumn("fps", expr(s"array_sort(array_distinct(transform(sequence(1, size(hv) - ${w - 1}), i -> array_min(slice(hv, i, $w)))))"))
      .select(
        col("doc_id"),
        size(col("fps")).cast(LongType).as("n_fingerprints"),
        md5(array_join(expr("transform(fps, x -> cast(x as string))"), "-")).as("winnow_hash"))
      .orderBy(col("doc_id"))
  }

  /** TF-IDF top-5 terms per document. The score is the LOG-FREE variant
    * `(tf / doc_len) · (N / df)` — every factor is a correctly-rounded IEEE
    * division/product of exact integers, so Spark and DuckDB produce the
    * identical double (ln() is NOT correctly rounded and differs between
    * libm implementations; a log-idf would break the bit-exact gate while
    * ranking identically, since ln is monotone). Ties break on token asc, so
    * the per-doc top-5 is a total order.
    *
    * Plan: one explode → one (doc_id, token) count aggregate, then df and
    * doc_len as WINDOW counts (partition by token / by doc_id) instead of
    * two extra aggregate+join round-trips, then the ranking window — the
    * doc_len and rank windows share the doc_id partitioning, so the whole
    * query is one aggregate shuffle plus two window exchanges, no joins.
    * N enters as a broadcast 1-row cross join.
    */
  val tx9Tfidf: Q = Q(
    "tx9_tfidf",
    """WITH tk AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token FROM documents),
      |t AS (SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
      |      FROM tk WHERE token <> '' GROUP BY doc_id, token),
      |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
      |s AS (SELECT doc_id, token, tf,
      |        CAST(COUNT(*) OVER (PARTITION BY token) AS BIGINT) AS df,
      |        CAST(SUM(tf)  OVER (PARTITION BY doc_id) AS BIGINT) AS doc_len
      |      FROM t),
      |sc AS (SELECT doc_id, token, tf, df,
      |         (CAST(tf AS DOUBLE) / CAST(doc_len AS DOUBLE))
      |           * (CAST(n.n AS DOUBLE) / CAST(df AS DOUBLE)) AS score
      |       FROM s CROSS JOIN n),
      |r AS (SELECT *, CAST(ROW_NUMBER() OVER
      |        (PARTITION BY doc_id ORDER BY score DESC, token) AS BIGINT) AS rn
      |      FROM sc)
      |SELECT doc_id, token, tf, df, score, rn FROM r
      |WHERE rn <= 5 ORDER BY doc_id, rn""".stripMargin) { (spark, dir) =>
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, dir)
    val n = docs.agg(count(lit(1)).as("n"))
    val t = graft.operators.Dedup.spread(docs)
      .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("token"))
      .filter(col("token") =!= "")
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tf"))
    val byToken = Window.partitionBy(col("token"))
    val byDoc = Window.partitionBy(col("doc_id"))
    t.withColumn("df", count(lit(1)).over(byToken))
      .withColumn("doc_len", sum(col("tf")).over(byDoc))
      .crossJoin(broadcast(n))
      .withColumn("score",
        (col("tf").cast(DoubleType) / col("doc_len").cast(DoubleType))
          * (col("n").cast(DoubleType) / col("df").cast(DoubleType)))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("score").desc, col("token")))
        .cast(LongType))
      .filter(col("rn") <= 5)
      .select("doc_id", "token", "tf", "df", "score", "rn")
      .orderBy(col("doc_id"), col("rn"))
  }

  /** Exact heavy-hitter tokens via the Misra–Gries sketch
    * ([[graft.operators.Sketches.heavyHitters]]): every token with frequency
    * > n/(k+1), found WITHOUT a full-domain shuffle (per-partition k-counter
    * summaries → treeReduce → exact count of ≤k candidates). The MG
    * superset guarantee makes the final answer exact, so the oracle is the
    * plain GROUP-BY/HAVING form the sketch avoids at scale.
    */
  val tx10HeavyHitters: Q = Q(
    "tx10_heavy_hitters",
    """WITH toks AS (SELECT unnest(string_split(text, ' ')) AS value FROM documents),
      |tot AS (SELECT COUNT(*) AS n FROM toks)
      |SELECT value, CAST(COUNT(*) AS BIGINT) AS cnt
      |FROM toks, tot
      |GROUP BY value, tot.n
      |HAVING COUNT(*) > tot.n // 51
      |ORDER BY cnt DESC, value""".stripMargin) { (spark, dir) =>
    // NO scan fan-out here (round 16, reverting a round-15 change): the MG
    // sketch is a treeAggregate whose per-partition summaries the added
    // exchange multiplies — measured 1.03-1.42 s warm WITH spread vs
    // 0.41-0.48 s without (and 0.48 s recorded pre-round-15). Same class as
    // the measured-and-reverted tx18/19/21/29 fan-outs.
    val toks = Tables.documents(spark, dir)
      .select(explode(split(col("text"), " ")).as("value"))
    graft.operators.Sketches.heavyHitters(toks, col("value"), k = 50)
      .orderBy(col("cnt").desc, col("value"))
  }

  /** Corpus vocabulary with Zipf ranks: token → total occurrences, document
    * frequency, frequency rank. One explode → one (token) aggregate with
    * map-side combine — the vocabulary-build shuffle moves distinct tokens
    * per partition, not the corpus. The rank itself is NOT a global window:
    * a web-scale vocabulary still reaches ~10⁸ distinct tokens (Heaps' law
    * shrinks it relative to the corpus, not to a task), so the Zipf rank
    * rides the [[graft.operators.PrefixSum]] scan over the unique
    * (−total_count, token) order — one range shuffle + two narrow passes,
    * no single-partition sort (the m14/q_rfm rank discipline). The oracle
    * keeps the ROW_NUMBER window form: different plan, same ranks.
    */
  val tx11VocabZipf: Q = Q(
    "tx11_vocab_zipf",
    """WITH tk AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token FROM documents),
      |t AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS total_count,
      |             CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
      |      FROM tk WHERE token <> '' GROUP BY token)
      |SELECT token, total_count, n_docs,
      |  CAST(ROW_NUMBER() OVER (ORDER BY total_count DESC, token) AS BIGINT) AS rank
      |FROM t ORDER BY rank""".stripMargin) { (spark, dir) =>
    val t = graft.operators.Dedup.spread(Tables.documents(spark, dir))
      .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("token"))
      .filter(col("token") =!= "")
      .groupBy(col("token"))
      .agg(count(lit(1)).as("total_count"),
        countDistinct(col("doc_id")).as("n_docs"))
      .withColumn("one", lit(1L))
      .withColumn("ord", struct((-col("total_count")).cast(LongType), col("token")))
    graft.operators.PrefixSum.withStartOffset(t, "ord", "one", "rank0")
      .withColumn("rank", (col("rank0") + 1L).cast(LongType))
      .select(col("token"), col("total_count"), col("n_docs"), col("rank"))
      .orderBy(col("rank"))
  }

  /** Bigram language-model counts: adjacent lowercased token pairs →
    * occurrence counts — the n-gram LM / collocation table builder. The
    * pairing is a narrow `zip_with` of the token array against its own
    * tail (no self-join, no positional explode), then one aggregate
    * shuffle on the bigram; the (cnt DESC, w1, w2) order is total so the
    * top-100 cut is deterministic.
    */
  val tx12Bigrams: Q = Q(
    "tx12_bigrams",
    """WITH d AS (SELECT string_split(lower(text), ' ') AS l FROM documents),
      |x0 AS (SELECT l, unnest(generate_series(1, len(l) - 1)) AS i FROM d),
      |x AS (SELECT l[i] AS w1, l[i + 1] AS w2
      |      FROM x0 WHERE l[i] <> '' AND l[i + 1] <> '')
      |SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS cnt
      |FROM x GROUP BY w1, w2
      |ORDER BY cnt DESC, w1, w2 LIMIT 100""".stripMargin) { (spark, dir) =>
    // Two-step select on purpose: `l` is non-cheap (regex split of the full
    // text) and referenced four times below, so CollapseProject keeps the
    // projection boundary and the split runs ONCE per row — inlining it
    // (the old single-select form) recomputed the split per reference
    // inside the interpreted HOF chain.
    val l = col("l")
    graft.operators.Dedup.spread(Tables.documents(spark, dir))
      .select(split(lower(col("text")), " ").as("l"))
      .select(explode(zip_with(
        slice(l, lit(1), size(l) - 1), slice(l, lit(2), size(l) - 1),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("bg"))
      .select(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      .filter(col("w1") =!= "" && col("w2") =!= "")
      .groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("w1"), col("w2"))
      .limit(100)
  }

  /** Cross-document n-gram novelty — the marginal-contribution metric a
    * corpus curator ranks sources by: for each document (in doc_id order),
    * the fraction of its distinct word 5-grams seen in NO earlier document.
    * Near-duplicates of earlier docs score ≈0; fresh content scores ≈1 —
    * the "novel token yield" that survives dedup, computed without running
    * dedup. Grams travel as 61-bit md5-prefix field hashes
    * ([[graft.functions.Hash61Expr]] — far smaller shuffle than gram
    * strings, and a hash space that stays collision-free at trillion-gram
    * corpus scale, round 14; 32-bit saturated there). Plan shape: one
    * gram-hash keyed min-agg (first owner) + one co-partitioned equi-join
    * back to the gram stream + one doc-keyed agg — no pairwise expansion
    * anywhere, so the pass scales like word count, not like documents².
    */
  val tx13Novelty: Q = Q(
    "tx13_novelty",
    """WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks
      |           FROM documents WHERE len(string_split(lower(text), ' ')) >= 5),
      |g AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(toks) - 3),
      |        i -> CAST(CAST(concat('0x', substr(md5(array_to_string(list_slice(toks, i, i + 4), ' ')),1,16)) AS UBIGINT) % 2305843009213693951 AS BIGINT)))) AS gh
      |      FROM t),
      |o AS (SELECT gh, MIN(doc_id) AS owner FROM g GROUP BY gh)
      |SELECT g.doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
      |  CAST(SUM(CASE WHEN o.owner = g.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
      |  SUM(CASE WHEN o.owner = g.doc_id THEN 1 ELSE 0 END) / CAST(COUNT(*) AS DOUBLE) AS novelty
      |FROM g JOIN o USING (gh)
      |GROUP BY g.doc_id ORDER BY g.doc_id""".stripMargin) { (spark, dir) =>
    val toks = graft.operators.Dedup.spread(Tables.documents(spark, dir))
      .select(col("doc_id"), split(lower(col("text")), " ").as("toks"))
      .filter(size(col("toks")) >= 5)
    // hash61 is the compiled twin of the 16-hex-md5-prefix mod 2^61-1
    // oracle scalar (one JVM call inside whole-stage codegen). The gram stream feeds BOTH the owner aggregate and
    // the join back, so root it on a localCheckpoint — without it the
    // md5-per-token kernel runs twice (the dd15 treatment, SCALE.md #3).
    val grams = toks.select(col("doc_id"), explode(array_distinct(expr(
      "transform(sequence(1, size(toks) - 4), i -> hash61(concat_ws(' ', slice(toks, i, 5))))"
      ))).as("gh"))
      .localCheckpoint(true)
    val owners = grams.groupBy(col("gh")).agg(min(col("doc_id")).as("owner"))
    grams.join(owners, "gh")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("owner") === col("doc_id"), 1L).otherwise(0L)).as("n_novel"))
      .select(col("doc_id"), col("n_grams"), col("n_novel"),
        (col("n_novel") / col("n_grams")).as("novelty"))
      .orderBy(col("doc_id"))
  }

  /** Top-50 most similar document pairs by word-3-shingle term-frequency
    * dot product — the inverted-index similarity join (Baeza-Yates'
    * impact-ordered postings family): explode each doc into (shingle, tf)
    * postings, equi-join postings on the shingle, and sum tf_a·tf_b per
    * pair. Pairs sharing no shingle have dot 0 and are correctly absent,
    * so the index join IS the exact top-k for k over positive scores. The
    * score stays an INTEGER (raw tf products, no normalization) with a
    * (doc_a, doc_b) tiebreak, so the ranking is bit-exact. Scale: the
    * shingle universe is combinatorially large (see dd17's scaladoc — word
    * postings on this corpus would be O(corpus) each), so postings are
    * short, the pair aggregate is candidate-bounded, and the final top-50
    * plans as TakeOrderedAndProject, never a global sort.
    *
    * Document-frequency cap (part of the query CONTRACT, mirrored in the
    * oracle): shingles shared by more than 256 documents are dropped
    * before the self-join — the [[graft.operators.Dedup.capBuckets]]
    * discipline. Without it one boilerplate trigram shared by m documents
    * emits m²/2 join rows in a single task; with it the per-key fan-out is
    * bounded at 256²/2 regardless of corpus size. The df count rides a
    * window over the same `sh` partitioning the join shuffles on.
    */
  val tx14TopkDot: Q = Q(
    "tx14_topk_dot",
    """WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
      |           WHERE len(string_split(lower(text), ' ')) >= 3),
      |s AS (SELECT doc_id, unnest(list_transform(range(1, len(w) - 1),
      |        i -> array_to_string(list_slice(w, i, i + 2), ' '))) AS sh
      |      FROM t),
      |p0 AS (SELECT doc_id, sh, CAST(COUNT(*) AS BIGINT) AS tf
      |      FROM s GROUP BY doc_id, sh),
      |p AS (SELECT doc_id, sh, tf FROM (
      |        SELECT doc_id, sh, tf, COUNT(*) OVER (PARTITION BY sh) AS df
      |        FROM p0) WHERE df <= 256),
      |j AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |        CAST(SUM(a.tf * b.tf) AS BIGINT) AS dot
      |      FROM p a JOIN p b ON a.sh = b.sh AND a.doc_id < b.doc_id
      |      GROUP BY a.doc_id, b.doc_id)
      |SELECT doc_a, doc_b, dot FROM j
      |ORDER BY dot DESC, doc_a, doc_b LIMIT 50""".stripMargin) { (spark, dir) =>
    import org.apache.spark.sql.expressions.Window
    val t = graft.operators.Dedup.spread(Tables.documents(spark, dir))
      .select(col("doc_id"), split(lower(col("text")), " ").as("w"))
      .filter(size(col("w")) >= 3)
    val p = t.select(col("doc_id"), explode(expr(
        """transform(sequence(1, size(w) - 2),
          |  i -> concat_ws(' ', slice(w, i, 3)))""".stripMargin)).as("sh"))
      .groupBy(col("doc_id"), col("sh")).agg(count(lit(1)).as("tf"))
      .withColumn("__df", count(lit(1)).over(Window.partitionBy("sh")))
      .filter(col("__df") <= 256).drop("__df")
    p.as("a").join(p.as("b"),
        col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(sum(col("a.tf") * col("b.tf")).as("dot"))
      .orderBy(col("dot").desc, col("doc_a"), col("doc_b")).limit(50)
  }

  /** Collocation mining by pointwise mutual information: for every bigram
    * with count ≥ 5, the association LIFT p(w1,w2)/(p(w1)·p(w2)) — the
    * standard "these words belong together" signal (PMI is its log; the
    * ranking is identical and the ratio needs no transcendental function).
    * Computed in integer basis points, `cnt·N·10⁴ div (n1·n2)`, so the
    * result is bit-exact across engines — no float division, no log ulp
    * drift. The bigram-count frame is materialized ONCE
    * ([[graft.operators.Dedup.cachedForReuse]]) — the corpus is tokenized
    * and shuffled exactly once — and the w1/w2 marginals are window sums
    * partitioned by each word OVER that frame: two keyed window passes on
    * the bounded bigram table, zero joins, zero vocabulary-sized
    * broadcasts (a vocab-scale broadcast is a driver-memory killer at
    * corpus scale; only the single-row grand total broadcasts). At true
    * corpus scale the 10⁴-scaled product needs DECIMAL(38) or log-space
    * floats — the basis-point form documents the long-range
    * (cnt·N·10⁴ < 2⁶³ ⇒ N ≲ 9·10⁸ bigrams per shard).
    */
  val tx15Pmi: Q = Q(
    "tx15_pmi",
    """WITH d AS (SELECT string_split(lower(text), ' ') AS l FROM documents),
      |x0 AS (SELECT l, unnest(generate_series(1, len(l) - 1)) AS i FROM d),
      |x AS (SELECT l[i] AS w1, l[i + 1] AS w2
      |      FROM x0 WHERE l[i] <> '' AND l[i + 1] <> ''),
      |bg AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS cnt FROM x GROUP BY w1, w2),
      |m1 AS (SELECT w1 AS a, CAST(SUM(cnt) AS BIGINT) AS n1 FROM bg GROUP BY w1),
      |m2 AS (SELECT w2 AS b, CAST(SUM(cnt) AS BIGINT) AS n2 FROM bg GROUP BY w2),
      |t AS (SELECT CAST(SUM(cnt) AS BIGINT) AS nn FROM bg)
      |SELECT w1, w2, cnt, CAST(cnt * nn * 10000 // (n1 * n2) AS BIGINT) AS lift_bp
      |FROM bg JOIN m1 ON w1 = a JOIN m2 ON w2 = b, t
      |WHERE cnt >= 5
      |ORDER BY lift_bp DESC, w1, w2 LIMIT 50""".stripMargin) { (spark, dir) =>
    import org.apache.spark.sql.expressions.Window
    val l = split(lower(col("text")), " ")
    val bg = graft.operators.Dedup.cachedForReuse(
      graft.operators.Dedup.spread(Tables.documents(spark, dir))
      .select(explode(zip_with(
        slice(l, lit(1), size(l) - 1), slice(l, lit(2), size(l) - 1),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("bgm"))
      .select(col("bgm.w1").as("w1"), col("bgm.w2").as("w2"))
      .filter(col("w1") =!= "" && col("w2") =!= "")
      .groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("cnt")))
    val t = bg.agg(sum(col("cnt")).as("nn"))
    bg
      .withColumn("n1", sum(col("cnt")).over(Window.partitionBy("w1")))
      .withColumn("n2", sum(col("cnt")).over(Window.partitionBy("w2")))
      .filter(col("cnt") >= 5)
      .crossJoin(broadcast(t))
      .select(col("w1"), col("w2"), col("cnt"),
        expr("cnt * nn * 10000 div (n1 * n2)").as("lift_bp"))
      .orderBy(col("lift_bp").desc, col("w1"), col("w2"))
      .limit(50)
  }

  /** C4-style heuristic document filter (Raffel et al. 2020 §2.2 adapted to
    * this corpus): per-document boolean flags for each cleaning rule plus
    * the final keep decision — word-count band [30, 5000], distinct-word
    * ratio ≥ ½ (repetition gate), ≥ 2 distinct stopwords (English-evidence
    * gate), mean word length in [4.5, 8] chars. Unlike tx3's scalar quality
    * score, this is the FILTER-PIPELINE shape: every rule is auditable
    * per-document (why was this row dropped?), which is what a curation
    * pipeline needs for ablations. All-integer arithmetic — the mean-length
    * band compares `2·(chars−spaces)` against `9·n` and `16·n` instead of
    * dividing — so the booleans are bit-exact, and every rule is a codegen'd
    * Column expression over one projection: a narrow map, no shuffle at all;
    * at 100 TB this is an embarrassingly parallel scan.
    */
  val tx16C4Filter: Q = Q(
    "tx16_c4_filter",
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws, n_chars FROM documents)
      |SELECT doc_id,
      |  len(ws) BETWEEN 30 AND 5000 AS r_len,
      |  len(list_distinct(ws)) * 2 >= len(ws) AS r_distinct,
      |  len(list_distinct(list_filter(ws,
      |    t -> t IN ('the','a','of','and','is')))) >= 2 AS r_stop,
      |  (n_chars - (len(ws) - 1)) * 2 BETWEEN 9 * len(ws) AND 16 * len(ws) AS r_wordlen,
      |  (len(ws) BETWEEN 30 AND 5000)
      |    AND len(list_distinct(ws)) * 2 >= len(ws)
      |    AND len(list_distinct(list_filter(ws,
      |      t -> t IN ('the','a','of','and','is')))) >= 2
      |    AND ((n_chars - (len(ws) - 1)) * 2 BETWEEN 9 * len(ws) AND 16 * len(ws)) AS keep
      |FROM w ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    val ws = split(col("text"), " ")
    val nw = size(ws)
    val rLen = nw.between(30, 5000)
    val rDistinct = size(array_distinct(ws)) * 2 >= nw
    val rStop = size(array_distinct(filter(ws,
      t => t.isin("the", "a", "of", "and", "is")))) >= 2
    val halfMean = (col("n_chars") - (nw - 1)) * 2
    val rWordlen = halfMean >= nw * 9 && halfMean <= nw * 16
    Tables.documents(spark, dir).select(col("doc_id"),
        rLen.as("r_len"), rDistinct.as("r_distinct"), rStop.as("r_stop"),
        rWordlen.as("r_wordlen"),
        // same composed predicate the mx17 pipeline filters on
        graft.operators.TextAnalysis.c4Keep(col("text"), col("n_chars")).as("keep"))
      .orderBy(col("doc_id"))
  }

  /** Gopher-style heuristic quality rules (Rae et al. 2021, Table A1,
    * adapted): word-count band [50, 10⁵], mean word length in [3, 10] chars,
    * ≥80% of words contain an alphabetic character, ≤10% of words carry a
    * symbol marker (# or …), and ≥2 distinct Gopher stopwords — the OTHER
    * canonical curation rulebook next to tx16's C4 set (different bands,
    * plus the alpha-fraction and symbol-ratio families C4 lacks). Same
    * filter-pipeline shape: per-rule auditable booleans + the final keep,
    * all-integer comparisons (cross-multiplied fractions, no division), one
    * codegen'd projection, no shuffle — embarrassingly parallel at 100 TB.
    */
  val tx17GopherFilter: Q = Q(
    "tx17_gopher_filter",
    """WITH w AS (SELECT doc_id, string_split(lower(text), ' ') AS ws, n_chars FROM documents)
      |SELECT doc_id,
      |  len(ws) BETWEEN 50 AND 100000 AS r_wc,
      |  (n_chars - (len(ws) - 1)) BETWEEN 3 * len(ws) AND 10 * len(ws) AS r_mwl,
      |  len(list_filter(ws, t -> regexp_matches(t, '[a-z]'))) * 5 >= len(ws) * 4 AS r_alpha,
      |  len(list_filter(ws, t -> contains(t, '#') OR contains(t, '...'))) * 10 <= len(ws) AS r_symbol,
      |  len(list_distinct(list_filter(ws,
      |    t -> t IN ('the','be','to','of','and','that','have','with')))) >= 2 AS r_stop,
      |  (len(ws) BETWEEN 50 AND 100000)
      |    AND ((n_chars - (len(ws) - 1)) BETWEEN 3 * len(ws) AND 10 * len(ws))
      |    AND len(list_filter(ws, t -> regexp_matches(t, '[a-z]'))) * 5 >= len(ws) * 4
      |    AND len(list_filter(ws, t -> contains(t, '#') OR contains(t, '...'))) * 10 <= len(ws)
      |    AND len(list_distinct(list_filter(ws,
      |      t -> t IN ('the','be','to','of','and','that','have','with')))) >= 2 AS keep
      |FROM w ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    val ws = split(lower(col("text")), " ")
    val nw = size(ws)
    val rWc = nw.between(50, 100000)
    val sumWordChars = col("n_chars") - (nw - 1)
    val rMwl = sumWordChars >= nw * 3 && sumWordChars <= nw * 10
    val rAlpha = size(filter(ws, t => t.rlike("[a-z]"))) * 5 >= nw * 4
    val rSymbol = size(filter(ws, t => t.contains("#") || t.contains("..."))) * 10 <= nw
    val rStop = size(array_distinct(filter(ws,
      t => t.isin("the", "be", "to", "of", "and", "that", "have", "with")))) >= 2
    Tables.documents(spark, dir).select(col("doc_id"),
        rWc.as("r_wc"), rMwl.as("r_mwl"), rAlpha.as("r_alpha"),
        rSymbol.as("r_symbol"), rStop.as("r_stop"),
        (rWc && rMwl && rAlpha && rSymbol && rStop).as("keep"))
      .orderBy(col("doc_id"))
  }

  /** Per-source vocabulary drift: the chi-square statistic of the
    * source × word contingency grid ([[graft.operators.Eval.chi2Contingency]]
    * over exploded unigrams), summed per source in integer centi-basis-points
    * — the "is this source distributionally unlike the corpus" curation
    * signal a mixer consults before weighting (a drifted source gets
    * review, not blind upsampling). The grid is sources × vocabulary —
    * bounded — so the cell build is a broadcast nested-loop over two tiny
    * margin aggregates regardless of corpus size; the only corpus-scale
    * work is the one unigram groupBy.
    */
  val tx18SourceVocabDrift: Q = Q(
    "tx18_source_vocab_drift",
    """WITH wds AS (
      |  SELECT source AS a, unnest(string_split(lower(text), ' ')) AS b
      |  FROM documents),
      |o AS (SELECT a, b, CAST(COUNT(*) AS BIGINT) AS obs
      |      FROM wds WHERE b <> '' GROUP BY a, b),
      |r AS (SELECT a, SUM(obs) AS rt FROM o GROUP BY a),
      |c AS (SELECT b, SUM(obs) AS ct FROM o GROUP BY b),
      |t AS (SELECT SUM(obs) AS n FROM o),
      |cells AS (
      |  SELECT r.a, CAST(COALESCE(o.obs, 0) AS BIGINT) AS obs,
      |    CAST(CAST(COALESCE(obs, 0) * n - rt * ct AS HUGEINT)
      |           * (COALESCE(obs, 0) * n - rt * ct) * 100
      |         // (CAST(n AS HUGEINT) * rt * ct) AS BIGINT) AS chi2_cbp
      |  FROM r CROSS JOIN c LEFT JOIN o USING (a, b), t)
      |SELECT a AS source, CAST(SUM(obs) AS BIGINT) AS n_tokens,
      |  CAST(SUM(chi2_cbp) AS BIGINT) AS drift_cbp
      |FROM cells GROUP BY a ORDER BY a""".stripMargin) { (spark, dir) =>
    val words = Tables.documents(spark, dir)
      .select(col("source"), explode(split(lower(col("text")), " ")).as("word"))
      .filter(col("word") =!= "")
    graft.operators.Eval.chi2Contingency(words, "source", "word")
      .groupBy(col("a").as("source"))
      .agg(sum(col("obs")).as("n_tokens"), sum(col("chi2_cbp")).as("drift_cbp"))
      .orderBy(col("source"))
  }

  /** Out-of-vocabulary rate against the corpus' own top-25 vocabulary — the
    * tokenizer-coverage / gibberish screen (a doc whose tokens mostly miss
    * the head vocabulary is noise, OCR damage, or the wrong language): per
    * doc, token count, OOV token count, and the rate in basis points. The
    * vocabulary is a TakeOrderedAndProject over the word counts (25 rows —
    * count desc, word asc tie-break) broadcast into a left join; the
    * corpus-side work is one unigram groupBy plus one per-doc aggregate.
    */
  val tx19OovRate: Q = Q(
    "tx19_oov_rate",
    """WITH w AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS t FROM documents),
      |wx AS (SELECT doc_id, t FROM w WHERE t <> ''),
      |v AS (SELECT t FROM (
      |  SELECT t, COUNT(*) AS c FROM wx GROUP BY t
      |  ORDER BY c DESC, t LIMIT 25)),
      |m AS (SELECT wx.doc_id, CASE WHEN v.t IS NULL THEN 1 ELSE 0 END AS oov
      |      FROM wx LEFT JOIN v ON wx.t = v.t)
      |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_toks,
      |  CAST(SUM(oov) AS BIGINT) AS n_oov,
      |  CAST(SUM(oov) * 10000 // COUNT(*) AS BIGINT) AS oov_bp
      |FROM m GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    val wx = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("t"))
      .filter(col("t") =!= "")
    val v = wx.groupBy(col("t")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("t")).limit(25)
      .select(col("t").as("vt"))
    wx.join(broadcast(v), col("t") === col("vt"), "left")
      .select(col("doc_id"), when(col("vt").isNull, 1L).otherwise(0L).as("oov"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_toks"), sum(col("oov")).as("n_oov"))
      .select(col("doc_id"), col("n_toks"), col("n_oov"),
        expr("n_oov * 10000 div n_toks").as("oov_bp"))
      .orderBy(col("doc_id"))
  }

  /** Feature-hashing vectorizer profile (the "hashing trick", Weinberger et
    * al. 2009 — THE fixed-dimension text featurizer at corpus scale: no
    * vocabulary build, no dictionary broadcast, memory O(dims) per row):
    * every token maps to dim = hash32(token) mod 256 with a ±1 sign bit
    * drawn from the next hash bit (the unbiasing trick), and the report is
    * the per-dimension load — total tokens, DISTINCT terms (collision
    * factor), and the signed sum a linear model would actually see. One
    * explode + one 256-key map-combinable groupBy; the native codegen'd
    * `hash32` keeps the hot path inside whole-stage codegen.
    */
  val tx20FeatureHashing: Q = Q(
    "tx20_feature_hashing",
    """WITH tok AS (SELECT unnest(string_split(lower(text), ' ')) AS t FROM documents),
      |h AS (SELECT t, CAST(concat('0x', substr(md5(t), 1, 8)) AS BIGINT) AS hv
      |      FROM tok WHERE t <> ''),
      |d AS (SELECT hv % 256 AS dim,
      |        CASE WHEN (hv >> 8) & 1 = 1 THEN 1 ELSE -1 END AS sgn, t
      |      FROM h)
      |SELECT CAST(dim AS BIGINT) AS dim, CAST(COUNT(*) AS BIGINT) AS n_tokens,
      |  CAST(COUNT(DISTINCT t) AS BIGINT) AS n_terms,
      |  CAST(SUM(sgn) AS BIGINT) AS signed_sum
      |FROM d GROUP BY dim ORDER BY dim""".stripMargin) { (spark, dir) =>
    import org.apache.spark.sql.types.LongType
    graft.operators.Dedup.spread(Tables.documents(spark, dir))
      .select(explode(split(lower(col("text")), " ")).as("t"))
      .filter(col("t") =!= "")
      .withColumn("hv", expr("hash32(t)"))
      .select((col("hv") % 256).as("dim"),
        when(expr("(hv >> 8) & 1") === 1, 1L).otherwise(-1L).as("sgn"), col("t"))
      .groupBy(col("dim").cast(LongType).as("dim"))
      .agg(count(lit(1)).as("n_tokens"),
        count_distinct(col("t")).as("n_terms"),
        sum(col("sgn")).as("signed_sum"))
      .orderBy(col("dim"))
  }

  /** Per-SOURCE heavy hitters through the native [[graft.functions.MgTopK]]
    * aggregate — the grouped form tx10's RDD treeAggregate cannot express:
    * `mg_topk(value, 30) GROUP BY source` keeps one ≤30-counter sketch per
    * group through Spark's real partial-aggregation path (map-side
    * partials, serialized merges), candidates are exact-verified per group
    * (the tx10 discipline — MG guarantees every value with count >
    * n_g/(k+1) survives, so verified output IS the exact answer the plain
    * GROUP-BY/HAVING oracle states). Exact pass touches only candidate
    * (source, term) pairs via a broadcast semi-join.
    */
  val tx21GroupedHeavyHitters: Q = Q(
    "tx21_grouped_heavy_hitters",
    """WITH toks AS (SELECT source, unnest(string_split(text, ' ')) AS value
      |              FROM documents),
      |tot AS (SELECT source, COUNT(*) AS n FROM toks GROUP BY source)
      |SELECT t.source, value, CAST(COUNT(*) AS BIGINT) AS cnt
      |FROM toks t JOIN tot USING (source)
      |GROUP BY t.source, value, tot.n
      |HAVING COUNT(*) > tot.n // 31
      |ORDER BY source, cnt DESC, value""".stripMargin) { (spark, dir) =>
    val k = 30
    val toks = Tables.documents(spark, dir)
      .select(col("source"), explode(split(col("text"), " ")).as("value"))
    val cand = toks.groupBy(col("source"))
      .agg(expr(s"mg_topk(value, $k)").as("sk"), count(lit(1)).as("n"))
      .select(col("source"), col("n"), explode(col("sk")).as("c"))
      .select(col("source"), col("n"), col("c.term").as("value"))
    toks.join(broadcast(cand.select(col("source"), col("value"))),
        Seq("source", "value"), "left_semi")
      .groupBy(col("source"), col("value"))
      .agg(count(lit(1)).as("cnt"))
      .join(broadcast(cand.select(col("source"), col("n")).distinct()), "source")
      .filter(col("cnt") > expr(s"n div ${k + 1}"))
      .select(col("source"), col("value"), col("cnt"))
      .orderBy(col("source"), col("cnt").desc, col("value"))
  }

  /** Bigram-LM fluency per document
    * ([[graft.operators.TextAnalysis.bigramFluencyPpm]]): mean conditional
    * probability of each bigram under the corpus-trained model, in exact
    * integer ppm — the log-free CCNet-style predictability signal. The
    * oracle replays the two window counts and both integer divisions.
    */
  val tx22LmFluency: Q = Q(
    "tx22_lm_fluency",
    """WITH d AS (SELECT doc_id, string_split(lower(text), ' ') AS l FROM documents),
      |x0 AS (SELECT doc_id, l, unnest(generate_series(1, len(l) - 1)) AS i FROM d),
      |x AS (SELECT doc_id, l[i] AS w1, l[i + 1] AS w2
      |      FROM x0 WHERE l[i] <> '' AND l[i + 1] <> ''),
      |w AS (SELECT doc_id,
      |        COUNT(*) OVER (PARTITION BY w1, w2) AS c2,
      |        COUNT(*) OVER (PARTITION BY w1) AS c1
      |      FROM x)
      |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
      |  CAST(SUM(c2 * 1000000 // c1) // COUNT(*) AS BIGINT) AS fluency_ppm
      |FROM w GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    graft.operators.TextAnalysis
      .bigramFluencyPpm(
        graft.operators.Dedup.spread(Tables.documents(spark, dir)), "doc_id", "text")
      .orderBy(col("doc_id"))
  }

  /** Language-ID CONFUSION MATRIX — the eval loop closed over tx2's
    * heuristic: predicted language vs the corpus's `lang` ground truth,
    * one row per (truth, predicted) cell with count and the cell's share
    * of its truth row in basis points, plus per-row `correct` for quick
    * recall reads. The "how good is the cheap classifier" audit every
    * curation pipeline needs before trusting a language quota
    * ([[graft.queries.MiscQueries]]'s mx2). All-integer; one groupBy over
    * ≤|langs|² keys after the same narrow projection tx2 runs.
    */
  val tx24LangidConfusion: Q = {
    def markersSql(lang: String) = Shared.markersSql(lang)
    Q(
      "tx24_langid_confusion",
      s"""WITH t AS (SELECT doc_id, lang, string_split(lower(text), ' ') AS toks FROM documents),
         |s AS (SELECT doc_id, lang,
         |  len(list_intersect(toks, ${markersSql("de")})) AS s_de,
         |  len(list_intersect(toks, ${markersSql("en")})) AS s_en,
         |  len(list_intersect(toks, ${markersSql("es")})) AS s_es,
         |  len(list_intersect(toks, ${markersSql("fr")})) AS s_fr,
         |  len(list_intersect(toks, ${markersSql("zh")})) AS s_zh
         |  FROM t),
         |p AS (SELECT lang,
         |  CASE WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
         |       WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
         |       WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
         |       WHEN s_fr >= s_zh THEN 'fr'
         |       ELSE 'zh' END AS predicted
         |  FROM s),
         |c AS (SELECT lang, predicted, CAST(COUNT(*) AS BIGINT) AS n
         |      FROM p GROUP BY 1, 2)
         |SELECT lang, predicted, n,
         |  CAST(n * 10000 // SUM(n) OVER (PARTITION BY lang) AS BIGINT) AS row_share_bp,
         |  lang = predicted AS correct
         |FROM c ORDER BY lang, predicted""".stripMargin) { (spark, dir) =>
      import org.apache.spark.sql.expressions.Window
      graft.operators.Dedup.spread(Tables.documents(spark, dir))
        .select(col("lang"),
          TextAnalysis.languageId(col("text")).as("predicted"))
        .groupBy(col("lang"), col("predicted"))
        .agg(count(lit(1)).as("n"))
        .withColumn("__rt", sum(col("n")).over(Window.partitionBy("lang")))
        .withColumn("row_share_bp", expr("n * 10000 div __rt"))
        .drop("__rt")
        .withColumn("correct", col("lang") === col("predicted"))
        .orderBy(col("lang"), col("predicted"))
    }
  }

  /** The BPE training loop as ONE DuckDB recursive CTE — the oracle for
    * tx23/tx25, closing the gate's last data-dependent-iteration gap (the
    * sketch trio stays `no_oracle` by nature; this pair was only
    * `no_oracle` for want of a replay). The mx29 Lloyd-recursion
    * discipline applied to rule learning: the ENTIRE word-frequency grid
    * travels as a list-of-structs in a single recursion row together with
    * the accumulated merge list, so each round is pure list algebra — no
    * GROUP BY against the recursive table, one self-reference.
    *
    *  - pair counting: every adjacent-symbol occurrence `(l, r, cnt)` is
    *    scored with its pair's total count by an occurrences×occurrences
    *    list comprehension — vocabulary-quadratic, which is exactly the
    *    regime where the replay is cheap (the grid is vocabulary-bounded
    *    by Heaps' law; the engine side stays the linear aggregate);
    *  - argmax with the trainer's tie order ((count desc, l, r) asc) =
    *    `list_sort` on `(-count, l, r)` structs, element [1];
    *  - greedy leftmost-non-overlapping merge application: a pair
    *    position merges iff it matches AND its offset inside its
    *    maximal run of consecutive matches is even — for l ≠ r adjacent
    *    matches are impossible (the offset is always 0); for l = r this
    *    is precisely the "aaa" → ["aa","a"] rule;
    *  - early stop (`top count < 2`) = the recursion's WHERE guard.
    */
  private def bpeTrainCte(nMerges: Int): String =
    s"""WITH RECURSIVE
       |tok AS (SELECT unnest(regexp_split_to_array(lower(text), '\\s+')) AS w FROM documents),
       |grid0 AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt FROM tok WHERE len(w) > 0 GROUP BY w),
       |st AS (
       |  SELECT 0 AS it,
       |    CAST([] AS STRUCT(rnk BIGINT, l VARCHAR, r VARCHAR, c BIGINT)[]) AS merges,
       |    (SELECT list({'w': w,
       |                  'syms': list_transform(range(1, len(w)+1), i -> substr(w, CAST(i AS INT), 1)),
       |                  'cnt': cnt} ORDER BY w)
       |     FROM grid0) AS grid
       |  UNION ALL
       |  SELECT it + 1,
       |    merges || [{'rnk': CAST(it + 1 AS BIGINT), 'l': sbest.l, 'r': sbest.r, 'c': -sbest.nc}],
       |    list_transform(grid, g -> {'w': g.w, 'syms':
       |      CASE WHEN len(g.syms) <= 1 THEN g.syms ELSE
       |        flatten(list_transform(range(1, len(g.syms)+1), i ->
       |          CASE
       |            WHEN i < len(g.syms)
       |             AND g.syms[CAST(i AS INT)] = sbest.l AND g.syms[CAST(i+1 AS INT)] = sbest.r
       |             AND ((i - coalesce(list_max(list_filter(range(1, i), j ->
       |                   NOT (g.syms[CAST(j AS INT)] = sbest.l AND g.syms[CAST(j+1 AS INT)] = sbest.r))), 0) - 1) % 2 = 0)
       |            THEN [sbest.l || sbest.r]
       |            WHEN i > 1
       |             AND g.syms[CAST(i-1 AS INT)] = sbest.l AND g.syms[CAST(i AS INT)] = sbest.r
       |             AND ((i - 1 - coalesce(list_max(list_filter(range(1, i-1), j ->
       |                   NOT (g.syms[CAST(j AS INT)] = sbest.l AND g.syms[CAST(j+1 AS INT)] = sbest.r))), 0) - 1) % 2 = 0)
       |            THEN []
       |            ELSE [g.syms[CAST(i AS INT)]]
       |          END))
       |      END, 'cnt': g.cnt})
       |  FROM (
       |    SELECT it, merges, grid,
       |      (list_sort(list_transform(po, p ->
       |         {'nc': -(list_sum(list_transform(po, p2 ->
       |                 CASE WHEN p2.l = p.l AND p2.r = p.r THEN p2.c ELSE CAST(0 AS BIGINT) END))),
       |          'l': p.l, 'r': p.r})))[1] AS sbest
       |    FROM (
       |      SELECT it, merges, grid,
       |        flatten(list_transform(grid, g ->
       |          list_transform(range(1, len(g.syms)), i ->
       |            {'l': g.syms[CAST(i AS INT)], 'r': g.syms[CAST(i+1 AS INT)], 'c': g.cnt}))) AS po
       |      FROM st WHERE it < $nMerges
       |    )
       |  )
       |  WHERE -sbest.nc >= 2
       |)""".stripMargin

  /** BPE merge training ([[graft.operators.TextAnalysis.learnBpeMerges]]):
    * the first 8 learned merge rules over the corpus word-frequency grid.
    * Oracle: the [[bpeTrainCte]] recursive replay (the merge list of the
    * deepest recursion row); the hand-replayed scalar BPE in BpeTrainSpec
    * stays as the semantics gate for the trainer itself.
    */
  val tx23BpeTrain: Q = Q(
    "tx23_bpe_train",
    bpeTrainCte(8) +
      """
        |SELECT u.m.rnk AS rank, u.m.l AS "left", u.m.r AS "right", u.m.c AS pair_count
        |FROM (SELECT merges FROM st ORDER BY it DESC LIMIT 1) f, unnest(f.merges) AS u(m)
        |ORDER BY rank""".stripMargin) { (spark, dir) =>
    graft.operators.TextAnalysis
      .learnBpeMerges(Tables.documents(spark, dir), "text", nMerges = 8)
      .orderBy(col("rank"))
  }

  /** The trained tokenizer APPLIED ([[graft.operators.TextAnalysis
    * .bpeTokenCountLearned]]): train 8 merges on the corpus (tx23's
    * learner), replay them over every document, and report the per-source
    * subword-token budget — the exact number a context-packing planner
    * consumes, next to the whitespace estimate it replaces
    * (`tokens_per_word_centi` = how far 8 merges compress a word).
    * Oracle: the [[bpeTrainCte]] recursion's FINAL GRID — each word's
    * symbol sequence after all learned merges — IS the trained tokenizer
    * applied to the (closed, corpus-derived) vocabulary, and the applier
    * replays the identical merge sequence with identical greedy
    * semantics, so per-doc subword counts are a plain word→`len(syms)`
    * lookup join. BpeTrainSpec still pins the train→apply→count chain.
    */
  val tx25BpeBudget: Q = Q(
    "tx25_bpe_token_budget",
    bpeTrainCte(8) +
      """,
        |fin AS (SELECT grid FROM st ORDER BY it DESC LIMIT 1),
        |voc AS (SELECT u.g.w AS w, CAST(len(u.g.syms) AS BIGINT) AS nsub
        |        FROM fin f, unnest(f.grid) u(g)),
        |dtok AS (SELECT doc_id, unnest(regexp_split_to_array(lower(text), '\s+')) AS w
        |         FROM documents),
        |dsub AS (SELECT t.doc_id, CAST(SUM(v.nsub) AS BIGINT) AS subw
        |         FROM (SELECT * FROM dtok WHERE len(w) > 0) t JOIN voc v USING (w)
        |         GROUP BY t.doc_id),
        |base AS (SELECT doc_id, source, CAST(len(string_split(text, ' ')) AS BIGINT) AS ws
        |         FROM documents)
        |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(coalesce(d.subw, 0)) AS BIGINT) AS subword_tokens,
        |  CAST(SUM(b.ws) AS BIGINT) AS ws_tokens,
        |  CAST(SUM(coalesce(d.subw, 0)) * 100 // SUM(b.ws) AS BIGINT) AS tokens_per_word_centi
        |FROM base b LEFT JOIN dsub d USING (doc_id)
        |GROUP BY source ORDER BY source""".stripMargin) { (spark, dir) =>
    val docs = Tables.documents(spark, dir)
    val merges = TextAnalysis.learnBpeMerges(docs, "text", 8)
      .orderBy("rank").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    TextAnalysis.bpeTokenCountLearned(docs, "doc_id", "text", merges)
      .join(docs.select(col("doc_id"), col("source"),
        TextAnalysis.tokenCount(col("text")).cast(LongType).as("ws")), "doc_id")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_subword_tokens")).as("subword_tokens"),
        sum(col("ws")).as("ws_tokens"),
        expr("sum(n_subword_tokens) * 100 div sum(ws)").as("tokens_per_word_centi"))
      .orderBy(col("source"))
  }

  /** RAKE keywords: per-doc top-3 candidate phrases by summed word
    * degree/freq scores ([[graft.operators.TextAnalysis.rakeKeywords]]).
    * Phrase extraction is a regex split on the pinned stopword
    * delimiters — the same `\b(?:…)\b` pattern evaluates in Spark's Java
    * regex and DuckDB's RE2 identically on this alternation (plain ASCII
    * words, word boundaries) — so the oracle needs no positional window;
    * all scores are truncating integer divisions (no doubles anywhere).
    */
  val tx26Rake: Q = Q(
    "tx26_rake_keywords",
    """WITH segs AS (
      |  SELECT doc_id, trim(s) AS phrase
      |  FROM (SELECT doc_id,
      |          unnest(string_split_regex(lower(text), '\b(?:the|a|of|and|is)\b')) AS s
      |        FROM documents)),
      |phk AS (SELECT * FROM (
      |          SELECT doc_id, phrase,
      |            CAST(len(string_split(phrase, ' ')) AS BIGINT) AS plen
      |          FROM segs WHERE phrase <> '')
      |        WHERE plen <= 8),
      |pd AS (SELECT doc_id, phrase, CAST(COUNT(*) AS BIGINT) AS n_occ
      |       FROM phk GROUP BY 1, 2),
      |wsc AS (SELECT doc_id, w,
      |          CAST(SUM(plen) * 1000 // COUNT(*) AS BIGINT) AS wscore_milli
      |        FROM (SELECT doc_id, plen, unnest(string_split(phrase, ' ')) AS w
      |              FROM phk)
      |        GROUP BY 1, 2),
      |sc AS (SELECT p.doc_id, p.phrase, p.n_occ,
      |         CAST(SUM(wsc.wscore_milli) AS BIGINT) AS score_milli
      |       FROM (SELECT doc_id, phrase, n_occ,
      |               unnest(string_split(phrase, ' ')) AS w FROM pd) p
      |       JOIN wsc ON p.doc_id = wsc.doc_id AND p.w = wsc.w
      |       GROUP BY 1, 2, 3)
      |SELECT doc_id, CAST(rnk AS BIGINT) AS rank, phrase, n_occ, score_milli
      |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
      |        ORDER BY score_milli DESC, phrase) AS rnk FROM sc)
      |WHERE rnk <= 3 ORDER BY doc_id, rank""".stripMargin) { (spark, dir) =>
    graft.operators.TextAnalysis.rakeKeywords(
        graft.Tables.documents(spark, dir), "doc_id", "text")
      .orderBy(col("doc_id"), col("rank"))
  }

  /** Flesch reading-ease in exact milli-units
    * ([[graft.operators.TextAnalysis.fleschReadability]]): truncating
    * Long arithmetic end-to-end, conventions pinned in the operator doc
    * (single-space words, `[.!?]+` sentence runs floored at 1,
    * vowel-group syllables). Pure projection — no shuffle either side.
    */
  val tx27Readability: Q = Q(
    "tx27_readability",
    """SELECT doc_id, n_words, n_sentences, n_syllables,
      |  206835 - (1015 * n_words) // n_sentences
      |         - (84600 * n_syllables) // n_words AS flesch_milli
      |FROM (SELECT doc_id,
      |        CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
      |        GREATEST(CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT),
      |          CAST(1 AS BIGINT)) AS n_sentences,
      |        CAST(len(regexp_extract_all(lower(text), '[aeiou]+')) AS BIGINT) AS n_syllables
      |      FROM documents)
      |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    graft.operators.TextAnalysis.fleschReadability(
        graft.Tables.documents(spark, dir), "doc_id", "text")
      .orderBy("doc_id")
  }

  /** Heaps'-law vocabulary growth over corpus deciles
    * ([[graft.operators.TextAnalysis.vocabGrowth]]): per id-range slice,
    * token volume, NEW word types and the cumulative vocabulary — all
    * integer, first-occurrence = min slice per word.
    */
  val tx28VocabGrowth: Q = Q(
    "tx28_vocab_growth",
    """WITH n AS (SELECT MAX(doc_id) + 1 AS nd FROM documents),
      |toks AS (SELECT doc_id, w FROM (
      |    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
      |    FROM documents) WHERE w <> ''),
      |tb AS (SELECT doc_id * 10 // nd AS bucket, w FROM toks, n),
      |vol AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_tokens
      |        FROM tb GROUP BY 1),
      |fw AS (SELECT MIN(bucket) AS bucket FROM tb GROUP BY w),
      |nt AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS new_types
      |       FROM fw GROUP BY 1)
      |SELECT vol.bucket, n_tokens,
      |  COALESCE(new_types, CAST(0 AS BIGINT)) AS new_types,
      |  CAST(SUM(COALESCE(new_types, 0)) OVER (ORDER BY vol.bucket) AS BIGINT) AS cum_types
      |FROM vol LEFT JOIN nt ON vol.bucket = nt.bucket
      |ORDER BY vol.bucket""".stripMargin) { (spark, dir) =>
    graft.operators.TextAnalysis.vocabGrowth(
        graft.Tables.documents(spark, dir), "doc_id", "text", buckets = 10)
      .orderBy("bucket")
  }

  /** Pairwise total-variation distance between source unigram
    * distributions ([[graft.operators.TextAnalysis.sourceTvDistance]]):
    * the log-free drift metric in exact ppm, zero-mass words densified
    * via the vocab×source grid.
    */
  val tx29SourceTv: Q = Q(
    "tx29_source_tv",
    """WITH c AS (SELECT src, w, CAST(COUNT(*) AS BIGINT) AS c FROM (
      |    SELECT source AS src, unnest(string_split(lower(text), ' ')) AS w
      |    FROM documents) WHERE w <> '' GROUP BY 1, 2),
      |t AS (SELECT src, CAST(SUM(c) AS BIGINT) AS n FROM c GROUP BY 1),
      |grid AS (SELECT t.src, t.n, words.w, COALESCE(c.c, 0) AS c
      |         FROM (SELECT DISTINCT w FROM c) words
      |         CROSS JOIN t
      |         LEFT JOIN c ON c.src = t.src AND c.w = words.w),
      |p AS (SELECT a.src AS source_a, b.src AS source_b, a.n AS na, b.n AS nb,
      |        SUM(ABS(CAST(a.c AS HUGEINT) * b.n - CAST(b.c AS HUGEINT) * a.n)) AS s
      |      FROM grid a JOIN grid b ON a.w = b.w AND a.src < b.src
      |      GROUP BY 1, 2, 3, 4)
      |SELECT source_a, source_b,
      |  CAST(s * 1000000 // (CAST(2 AS HUGEINT) * na * nb) AS BIGINT) AS tv_ppm
      |FROM p ORDER BY source_a, source_b""".stripMargin) { (spark, dir) =>
    graft.operators.TextAnalysis.sourceTvDistance(
      graft.Tables.documents(spark, dir), "source", "text")
  }

  /** Standardized type-token ratio ([[graft.operators.TextAnalysis.sttr]]):
    * lexical diversity averaged over full 25-token segments — the
    * length-comparable form of TTR used as a data-quality screen (raw TTR
    * shrinks with length, so per-doc comparisons need fixed segments).
    * 0-based positions, trailing partials dropped, per-segment and
    * per-doc means both truncating integer milli — all exact.
    */
  val tx30Sttr: Q = Q(
    "tx30_sttr",
    """WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS ts
      |           FROM documents),
      |e AS (SELECT doc_id, CAST((i - 1) // 25 AS BIGINT) AS seg, ts[i] AS w
      |      FROM t, unnest(generate_series(1, len(ts))) AS u(i)),
      |s AS (SELECT doc_id, seg, CAST(COUNT(*) AS BIGINT) AS n_tok,
      |        CAST(COUNT(DISTINCT w) AS BIGINT) AS n_types
      |      FROM e GROUP BY doc_id, seg),
      |f AS (SELECT doc_id, (1000 * n_types) // 25 AS ttr_milli
      |      FROM s WHERE n_tok = 25)
      |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_segments,
      |  CAST(SUM(ttr_milli) // COUNT(*) AS BIGINT) AS sttr_milli
      |FROM f GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    graft.operators.TextAnalysis.sttr(
        graft.Tables.documents(spark, dir), "doc_id", "text", segTokens = 25)
      .orderBy(col("doc_id"))
  }

  /** PII scrubbing — the redaction pass every public-corpus release runs:
    * emails → `<EMAIL>`, IPv4s → `<IP>`, phone-shaped digit runs →
    * `<PHONE>`, with per-type redaction counts. Patterns use only regex
    * constructs Java regex and RE2 interpret identically (character
    * classes, counted quantifiers — the tx6 BPE-pattern rule), and the
    * three passes apply in PINNED order (email, then IP, then phone),
    * each count taken on that stage's input, so both engines see the
    * same stage-wise text. The corpus carries no real PII, so
    * deterministic synthetic contact lines (derived from doc_id) are
    * APPENDED before scrubbing — the redaction counts are nonzero and
    * oracle-checked, and the scrubbed text is compared by md5 + length
    * (byte-exact without shipping the text). One codegen'd projection,
    * no shuffle: linear at any corpus size.
    */
  val tx31PiiScrub: Q = {
    val email = TextAnalysis.EmailPattern
    val ip = TextAnalysis.Ipv4Pattern
    val phone = TextAnalysis.PhonePattern
    Q(
      "tx31_pii_scrub",
      s"""WITH a AS (SELECT doc_id,
         |    text || ' contact user' || doc_id ||
         |    '@example.com or 192.168.' || (doc_id % 256) || '.' ||
         |    (doc_id % 100) || ' tel +1-555-0' || (100 + doc_id % 900) AS s0
         |  FROM documents),
         |e AS (SELECT doc_id,
         |    CAST(len(regexp_extract_all(s0, '$email')) AS BIGINT) AS n_emails,
         |    regexp_replace(s0, '$email', '<EMAIL>', 'g') AS s1 FROM a),
         |i AS (SELECT doc_id, n_emails,
         |    CAST(len(regexp_extract_all(s1, '$ip')) AS BIGINT) AS n_ips,
         |    regexp_replace(s1, '$ip', '<IP>', 'g') AS s2 FROM e),
         |p AS (SELECT doc_id, n_emails, n_ips,
         |    CAST(len(regexp_extract_all(s2, '$phone')) AS BIGINT) AS n_phones,
         |    regexp_replace(s2, '$phone', '<PHONE>', 'g') AS s3 FROM i)
         |SELECT doc_id, n_emails, n_ips, n_phones,
         |  md5(s3) AS scrubbed_md5, CAST(length(s3) AS BIGINT) AS scrubbed_len
         |FROM p ORDER BY doc_id""".stripMargin) { (spark, dir) =>
      import org.apache.spark.sql.types.LongType
      val s0 = concat(col("text"), lit(" contact user"), col("doc_id"),
        lit("@example.com or 192.168."), col("doc_id") % 256, lit("."),
        col("doc_id") % 100, lit(" tel +1-555-0"), lit(100) + col("doc_id") % 900)
      TextAnalysis.piiScrub(
          Tables.documents(spark, dir).withColumn("scrubbed", s0), "scrubbed")
        .select(col("doc_id"), col("n_emails"), col("n_ips"), col("n_phones"),
          md5(col("scrubbed")).as("scrubbed_md5"),
          length(col("scrubbed")).cast(LongType).as("scrubbed_len"))
        .orderBy(col("doc_id"))
    }
  }

  /** Drop-reason codes — the curation DEBUGGING view: per document, the
    * FIRST failing rule of the mx17 quality filter under pinned
    * precedence (`too_short` → `too_long` → `low_stopword` → `word_len`
    * → `keep`), so "why did my document disappear?" is one lookup and
    * per-(source, reason) counts are one aggregate away. The rules are
    * mx17's predicates verbatim — a doc is `keep` here iff it enters
    * mx17's pipeline — and every comparison is the same integer
    * arithmetic, so reasons are oracle-exact per row. One codegen'd
    * projection, no shuffle.
    */
  val tx32DropReasons: Q = Q(
    "tx32_drop_reasons",
    """WITH w AS (SELECT doc_id, source, n_chars,
      |    string_split(text, ' ') AS ws FROM documents),
      |r AS (SELECT doc_id, source,
      |    CASE
      |      WHEN len(ws) < 30 THEN 'too_short'
      |      WHEN len(ws) > 5000 THEN 'too_long'
      |      WHEN len(list_distinct(list_filter(ws,
      |        t -> t IN ('the','a','of','and','is')))) < 2 THEN 'low_stopword'
      |      WHEN NOT ((n_chars - (len(ws) - 1)) * 2 BETWEEN 9 * len(ws)
      |        AND 16 * len(ws)) THEN 'word_len'
      |      ELSE 'keep' END AS reason
      |  FROM w)
      |SELECT doc_id, source, reason FROM r ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    val ws = split(col("text"), " ")
    val nw = size(ws)
    val halfMean = (col("n_chars") - (nw - 1)) * 2
    val reason =
      when(nw < 30, "too_short")
        .when(nw > 5000, "too_long")
        .when(size(array_distinct(filter(ws,
          t => t.isin("the", "a", "of", "and", "is")))) < 2, "low_stopword")
        .when(!(halfMean >= nw * 9 && halfMean <= nw * 16), "word_len")
        .otherwise("keep")
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), reason.as("reason"))
      .orderBy(col("doc_id"))
  }

  val all: Seq[Q] = Seq(tx1TokenCount, tx2LangId, tx3Quality, tx4Fingerprint,
    tx5Repetition, tx6BpeTokens, tx7Winnowing, tx9Tfidf, tx10HeavyHitters,
    tx11VocabZipf, tx12Bigrams, tx13Novelty, tx14TopkDot, tx15Pmi,
    tx16C4Filter, tx17GopherFilter, tx18SourceVocabDrift, tx19OovRate,
    tx20FeatureHashing, tx21GroupedHeavyHitters, tx22LmFluency, tx23BpeTrain,
    tx24LangidConfusion, tx25BpeBudget, tx26Rake, tx27Readability,
    tx28VocabGrowth, tx29SourceTv, tx30Sttr, tx31PiiScrub, tx32DropReasons)
}
