package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Similarity, TextAnalysis}

/** Sanity for the beyond-reference operators (the oracle queries cover full
  * cross-engine exactness; these cover operator semantics on crafted data).
  */
class DedupSimilaritySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (2L, "the quick brown fox jumps over the lazy dog near the river bank today"), // exact dup of 1
    (3L, "the quick brown fox jumps over the lazy dog near the river bank tonight"), // near dup of 1
    (4L, "completely different content about spark engines and distributed queries here"),
    (5L, "Dog lazy the over jumps fox brown quick the")) // same tokens as 1-ish, reordered
    .toDF("doc_id", "text")

  test("materializedOnce: an unpersisted RDD scan is materialized, a checkpoint passes through") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val evals = spark.sparkContext.longAccumulator("materializedOnce-evals")
    val rdd = spark.sparkContext.parallelize(1L to 100L, 4)
      .map { i => evals.add(1); Row(i) }
    val df = spark.createDataFrame(rdd, new StructType().add("i", LongType))
    val m = Dedup.materializedOnce(df)
    // two actions over the result run the source lineage once between them
    assert(m.count() == 100 && m.agg(sum("i")).head().getLong(0) == 5050L)
    assert(evals.value == 100L, s"lineage ran ${evals.value / 100.0} times, not once")
    // an eager local checkpoint already is materialized: returned as is, so
    // no extra job copies it
    val cp = spark.range(10).toDF("i").localCheckpoint(true)
    assert(Dedup.materializedOnce(cp) eq cp)
  }

  test("exact duplicate groups keep min id") {
    val groups = Dedup.exactDuplicateGroups(docs, "doc_id", "text")
    val dup = groups.filter($"dup_count" > 1).collect()
    assert(dup.length == 1)
    assert(dup.head.getAs[Long]("keep_id") == 1L)
    assert(Dedup.dropExactDuplicates(docs, "doc_id", "text").count() == 4)
  }

  test("minhash LSH finds the near-duplicate pair and the exact pair") {
    val pairs = Dedup.minhashNearDuplicates(docs, "doc_id", "text", threshold = 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L))) // exact dup: jaccard 1.0
    assert(pairs.contains((1L, 3L)) && pairs.contains((2L, 3L))) // near dup
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("simhash: identical texts hash identically, different texts differ") {
    val hs = Dedup.simhashes(docs, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hs(1L) == hs(2L))
    assert(hs(1L) != hs(4L))
  }

  test("simhash64: halves are 32-bit non-negative; near-dups found; band cap bounds candidates") {
    val hs = Dedup.simhashes64(docs, "doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(hs.forall { case (_, hi, lo) =>
      hi >= 0 && hi < (1L << 32) && lo >= 0 && lo < (1L << 32) })
    val byId = hs.map(t => t._1 -> (t._2, t._3)).toMap
    assert(byId(1L) == byId(2L)) // identical text → identical 64-bit simhash
    val pairs = Dedup.simhash64NearDuplicates(docs, "doc_id", "text", maxHamming = 10)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("hot-bucket cap bounds candidate blowup from boilerplate near-dup bands") {
    // 60 boilerplate docs sharing one signature (the degenerate crawl case a
    // prior exact-dedup pass should have caught): every band bucket holds all
    // 60 docs, so uncapped the self-join emits the full 60·59/2 pair blowup
    // and capped (cap=30 < 60) every bucket is dropped.
    val boiler = (1L to 60L).map(i =>
      (i, "shared boilerplate header repeated across the whole crawl segment"))
      .toDF("doc_id", "text")
    val uncapped = Dedup.minhashNearDuplicates(boiler, "doc_id", "text",
      threshold = 0.5, maxBucket = Int.MaxValue).count()
    assert(uncapped == 60L * 59 / 2) // the quadratic blowup is real
    val capped = Dedup.minhashNearDuplicates(boiler, "doc_id", "text",
      threshold = 0.5, maxBucket = 30).count()
    assert(capped == 0) // every band bucket over the cap was dropped
    // oversizedBuckets is the monitoring view: it names the hot keys
    val base = boiler.select(col("doc_id"), lit("k").as("band_key"))
    assert(Dedup.oversizedBuckets(base, Seq("band_key"), 30).count() == 1)
    assert(Dedup.oversizedBuckets(base, Seq("band_key"), 100).count() == 0)
  }

  test("decontamination flags only true n-gram overlap with the benchmark set") {
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),          // benchmark
      (2L, "unrelated text about entirely different things here"),
      (3L, "prefix words then alpha beta gamma delta suffix"), // shares a 4-gram
      (4L, "alpha beta only two shared tokens not four"),      // shares no 4-gram
      (5L, "more unrelated content with no overlap at all")
    ).toDF("doc_id", "text")
    val flagged = Dedup.contaminatedDocs(corpus, "doc_id", "text",
      benchPred = col("doc_id") === 1, shingleK = 4)
      .as[Long].collect().toSet
    assert(flagged == Set(3L)) // exact overlap only; benchmark doc itself excluded
  }

  test("hash sampling is deterministic, near the target fraction, salt-independent draws") {
    import graft.operators.Sampling
    val ids = (1L to 2000L).map(i => (i, s"g${i % 4}")).toDF("doc_id", "grp")
    val a = Sampling.hashSample(ids, "doc_id", 0.25, "s1").select("doc_id").as[Long].collect().toSet
    val b = Sampling.hashSample(ids, "doc_id", 0.25, "s1").select("doc_id").as[Long].collect().toSet
    assert(a == b) // rerun selects the SAME rows
    assert(math.abs(a.size - 500) < 100, s"got ${a.size} of 2000 at fraction 0.25")
    val other = Sampling.hashSample(ids, "doc_id", 0.25, "s2").select("doc_id").as[Long].collect().toSet
    assert(other != a) // different salt, independent draw
    // nested property: a 0.1 sample with the same salt is a subset of 0.25
    val small = Sampling.hashSample(ids, "doc_id", 0.1, "s1").select("doc_id").as[Long].collect().toSet
    assert(small.subsetOf(a))
    // quota: exactly n per group, stable across runs
    val q1 = Sampling.quotaPerGroup(ids, "grp", "doc_id", 30, "s3").collect().map(r => (r.getLong(0), r.getString(1)))
    val q2 = Sampling.quotaPerGroup(ids, "grp", "doc_id", 30, "s3").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(q1.sorted.toSeq == q2.sorted.toSeq)
    assert(q1.groupBy(_._2).values.forall(_.length == 30))
  }

  test("ngram near-duplicates verifies jaccard on rare-gram candidates") {
    val pairs = Dedup.ngramNearDuplicates(docs, "doc_id", "text",
      n = 4, maxDf = 4, threshold = 0.8)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
  }

  test("fingerprint is insensitive to case and word order") {
    val fps = docs.select($"doc_id", TextAnalysis.fingerprint($"text").as("fp"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(fps(1L) == fps(2L))
    assert(fps(1L) != fps(4L))
    // doc 5 = subset/reorder of doc 1's tokens → differs (different token set)
    assert(fps(5L) != fps(1L))
  }

  test("languageId picks the max-marker language deterministically") {
    val d = Seq(
      (1L, "the cat of the house is a pet"),
      (2L, "el perro es de la casa que")).toDF("doc_id", "text")
    val out = d.select($"doc_id", TextAnalysis.languageId($"text").as("l"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "en")
    assert(out(2L) == "es")
  }

  test("cosine top-k ranks an identical vector first") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(1.0f, 0.0f, 0.0f)),   // identical to 0
      (2L, Array(0.9f, 0.1f, 0.0f)),   // close
      (3L, Array(0.0f, 1.0f, 0.0f)))   // orthogonal
      .toDF("vec_id", "embedding")
    val out = Similarity.bruteForceTopK(vecs, vecs.filter($"vec_id" === 0), "vec_id", "embedding", 3)
      .orderBy("rnk").collect()
    assert(out(0).getAs[Long]("neighbor") == 1L)
    assert(math.abs(out(0).getAs[Double]("cosine") - 1.0) < 1e-12)
    assert(out(1).getAs[Long]("neighbor") == 2L)
    assert(out(2).getAs[Long]("neighbor") == 3L)
  }

  test("connectedComponents: min reachable id, chain forces multiple rounds") {
    // component A is a 5-node path 10-11-12-13-14 (diameter 4: the min label
    // needs several propagation rounds to reach the far end), component B a
    // 2-clique, node 99 appears only as a higher endpoint
    val edges = Seq((11L, 10L), (11L, 12L), (12L, 13L), (13L, 14L),
      (50L, 60L), (50L, 99L)).toDF("doc_a", "doc_b")
    val cc = graft.operators.Dedup.connectedComponents(edges, "doc_a", "doc_b")
      .as[(Long, Long)].collect().toMap
    assert(cc == Map(10L -> 10L, 11L -> 10L, 12L -> 10L, 13L -> 10L,
      14L -> 10L, 50L -> 50L, 60L -> 50L, 99L -> 50L))
    spark.catalog.clearCache()
  }

  test("dropClusteredNearDuplicates keeps one representative per component") {
    // docs 1/2/3 form one near-dup cluster (2 exact, 3 one-word-off); 4 is
    // unrelated and 5 reorders the tokens (different shingles) → survivors
    // are the cluster min plus the two singletons
    val out = graft.operators.Dedup.dropClusteredNearDuplicates(
        docs.toDF("doc_id", "text"), "doc_id", "text")
      .select("doc_id").as[Long].collect().toSet
    assert(out == Set(1L, 4L, 5L))
    spark.catalog.clearCache()
  }

  test("connectedComponents: empty pair table yields empty labels") {
    val empty = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    assert(graft.operators.Dedup.connectedComponents(empty, "doc_a", "doc_b").isEmpty)
    assert(graft.operators.Dedup.connectedComponentsStar(empty, "doc_a", "doc_b").isEmpty)
  }

  test("connectedComponentsStar: 200-node path collapses in O(log^2) rounds") {
    // diameter 199: PURE label propagation would need 199 rounds (its
    // default maxIter is 25), but the loop's pointer-jumping composition
    // (comp∘comp each round) halves the remaining path length — both
    // algorithms must close the chain within their default round budgets.
    val chain = (0L until 199L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    for (cap <- Seq(Long.MaxValue, 0L)) { // driver union-find AND forced loop
      val lp = graft.operators.Dedup.connectedComponents(
          chain, "doc_a", "doc_b", smallGraphMax = cap)
        .as[(Long, Long)].collect().toMap
      assert(lp.keySet == (0L to 199L).toSet, s"cap=$cap")
      assert(lp.values.forall(_ == 0L),
        s"every chain node must label to the min id 0 (cap=$cap)")
    }
    // 199 edges is under the default smallGraphMax, so the plain call takes
    // the driver union-find shortcut; smallGraphMax = 0 FORCES the
    // distributed star loop — both paths must label every node to min id 0
    for (cap <- Seq(Long.MaxValue, 0L)) {
      val star = graft.operators.Dedup.connectedComponentsStar(
          chain, "doc_a", "doc_b", smallGraphMax = cap)
        .as[(Long, Long)].collect().toMap
      assert(star.keySet == (0L to 199L).toSet, s"cap=$cap")
      assert(star.values.forall(_ == 0L),
        s"every chain node must label to the min id 0 (cap=$cap)")
    }
    spark.catalog.clearCache()
  }

  test("connectedComponentsStar agrees with label propagation on mixed components") {
    // includes a self-loop-only node (7,7): both algorithms must emit (7, 7)
    val edges = Seq((11L, 10L), (11L, 12L), (12L, 13L), (13L, 14L),
      (50L, 60L), (50L, 99L), (3L, 1L), (3L, 2L), (7L, 7L)).toDF("doc_a", "doc_b")
    // label propagation through BOTH its paths (driver union-find / forced
    // distributed loop) must self-agree...
    val lps = Seq(Long.MaxValue, 0L).map { cap =>
      graft.operators.Dedup.connectedComponents(
          edges, "doc_a", "doc_b", smallGraphMax = cap)
        .as[(Long, Long)].collect().toSet
    }
    assert(lps(0) == lps(1), "connectedComponents paths disagree")
    val lp = lps.head
    // ...and the star algorithm through both ITS paths must agree with it
    for (cap <- Seq(Long.MaxValue, 0L)) {
      val star = graft.operators.Dedup.connectedComponentsStar(
          edges, "doc_a", "doc_b", smallGraphMax = cap)
        .as[(Long, Long)].collect().toSet
      assert(star == lp, s"cap=$cap")
    }
    spark.catalog.clearCache()
  }

  test("LSH buckets put identical vectors together") {
    val vecs = Seq(
      (0L, Array.fill(8)(1.0f)),
      (1L, Array.fill(8)(1.0f)),
      (2L, Array.fill(8)(-1.0f))).toDF("vec_id", "embedding")
    val b = Similarity.lshBuckets(vecs, "vec_id", "embedding", bits = 4, dims = 8)
      .select("vec_id", "bucket").as[(Long, Long)].collect().toMap
    assert(b(0L) == b(1L))
    assert(b(0L) != b(2L))
  }

  test("semDedup: scalar replay of cluster -> pair -> keep-farthest agrees") {
    val vecs = Seq(
      10L -> Array(1.0, 0.0, 0.0, 0.0),
      20L -> Array(0.0, 1.0, 0.0, 0.0),
      11L -> Array(0.9, 0.3, 0.0, 0.0),
      12L -> Array(0.95, 0.2, 0.0, 0.0),
      21L -> Array(0.1, 0.9, 0.0, 0.0),
      30L -> Array(0.0, 0.0, 1.0, 0.0))
    val (k, iters, thr) = (2, 3, 0.9)
    val df = vecs.map { case (id, v) => (id, v.map(_.toFloat)) }
      .toDF("vec_id", "embedding")
    val got = Dedup.semDedup(df, "vec_id", "embedding", k, iters, thr)
      .orderBy("vec_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))

    // scalar replay: same init (first k by id), argmax-cosine assignment
    // (ties -> lowest cell), componentwise member mean in id order
    def dot(a: Array[Double], b: Array[Double]) =
      a.indices.foldLeft(0.0)((s, i) => s + a(i) * b(i))
    def nrm(a: Array[Double]) = math.sqrt(dot(a, a))
    val byId = vecs.sortBy(_._1)
    var cents = byId.take(k).map(_._2).toArray
    def assign(v: Array[Double]): Int =
      cents.indices.maxBy(c => (dot(v, cents(c)) / (nrm(v) * nrm(cents(c))), -c))
    for (_ <- 1 to iters) {
      val cells = byId.map { case (_, v) => assign(v) }
      cents = cents.indices.map { c =>
        val members = byId.zip(cells).filter(_._2 == c).map(_._1._2)
        if (members.isEmpty) cents(c)
        else {
          val acc = new Array[Double](4)
          members.foreach(v => v.indices.foreach(i => acc(i) += v(i)))
          acc.map(_ / members.length)
        }
      }.toArray
    }
    val cell = byId.map { case (id, v) => id -> assign(v) }.toMap
    val cos = byId.map { case (id, v) =>
      id -> (dot(v, cents(cell(id))) / (nrm(v) * nrm(cents(cell(id))))) }.toMap
    val ids = byId.map(_._1)
    val pairs = for {
      a <- ids; b <- ids
      if a < b && cell(a) == cell(b)
      va = vecs.toMap.apply(a); vb = vecs.toMap.apply(b)
      if dot(va, vb) / (nrm(va) * nrm(vb)) >= thr
    } yield (a, b)
    // transitive closure on 6 elements
    val grp = scala.collection.mutable.Map(ids.map(i => i -> i): _*)
    var changed = true
    while (changed) {
      changed = false
      pairs.foreach { case (a, b) =>
        val m = math.min(grp(a), grp(b))
        if (grp(a) != m || grp(b) != m) { grp(a) = m; grp(b) = m; changed = true }
      }
    }
    val expect = ids.map { id =>
      val members = ids.filter(j => grp(j) == grp(id))
      val keeper = members.minBy(j => (cos(j), j))
      (id, cell(id).toLong, grp(id), id == keeper)
    }
    assert(got.toSeq == expect)
    // the fixture must exercise real duplicate groups: two 2-member groups
    // (one keeper each) plus two singletons -> 4 keepers, 2 losers
    assert(got.count(_._4) == 4 && got.length == 6)
    assert(got.map(_._3).distinct.length == 4)
  }

  test("dd27 LSH recall: ground truth is exact, found never exceeds exact") {
    val dir = "/root/testdata/sf0.001"
    val rows = graft.SparkEntry.queries("dd27_lsh_recall")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    rows.foreach { case (bucket, nExact, nFound, recallBp) =>
      assert(bucket >= 16 && bucket <= 20, s"bucket $bucket outside the >=0.8 range")
      assert(nFound <= nExact, s"bucket $bucket found $nFound > exact $nExact")
      assert(recallBp == nFound * 10000 / nExact, s"bucket $bucket recall mismatch")
    }
    // the exact ground-truth total must equal the brute-force pair count at
    // the same threshold (prefix filter has no false negatives — pinned in
    // its own spec; this ties the QUERY's ground truth to that guarantee)
    val totalExact = rows.map(_._2).sum
    assert(totalExact > 0)
    graft.queries.Shared.clear()
    graft.core.Blocks.sweep(spark)
  }

  test("contaminatedDocsBloom = contaminatedDocs at any FP rate (rescue join)") {
    val corpus = Tables.documents(spark, "/root/testdata/sf0.001")
    val pred = col("doc_id") % 97 === 0
    def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select("doc_id").as[Long].collect().toSet
    for (k <- Seq(3, 5)) {
      val exact = ids(Dedup.contaminatedDocs(corpus, "doc_id", "text", pred, k))
      // generous bitset (~<1% FP) and a deliberately TINY one (m=1024,
      // massive FP rate): results must be identical — FPs only cost time
      for (log2m <- Seq(22, 10))
        assert(ids(Dedup.contaminatedDocsBloom(corpus, "doc_id", "text", pred,
          k, log2Bits = log2m)) == exact, s"shingleK=$k log2m=$log2m")
    }
  }

  test("prefixFilterNearDuplicates = brute-force all-pairs (no false negatives)") {
    // the PPJoin guarantee is EXACTNESS: the prefix index may not drop any
    // pair with Jaccard >= t. Pin against brute-force on the sf0.001 corpus.
    val corpus = Tables.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "text")
    val got = Dedup.prefixFilterNearDuplicates(corpus, "doc_id", "text", 7, 10,
        shingleK = 3)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val sets = corpus.collect().flatMap { r =>
      val w = r.getString(1).toLowerCase.split(" ", -1)
      if (w.length < 3) None
      else Some(r.getLong(0) -> w.sliding(3).map(_.mkString(" ")).toSet)
    }
    val want = (for {
      (a, sa) <- sets; (b, sb) <- sets if a < b
      inter = (sa intersect sb).size
      if inter * 10 >= (sa.size + sb.size - inter) * 7
    } yield (a, b)).toSet
    assert(got == want)
    assert(want.nonEmpty) // the planted near-dups must actually exercise this
  }

  test("hashSplit: no group straddles the split; label is salt-deterministic") {
    import graft.operators.Sampling
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
      .select(col("user_id"), col("event_id"))
    val s = Sampling.hashSplit(ev, "user_id", 0.8, "gs")
    // group-consistency: every user carries exactly one label
    val straddlers = s.groupBy("user_id")
      .agg(countDistinct(col("split")).as("k"))
      .filter(col("k") > 1).count()
    assert(straddlers == 0L)
    // both sides populated, rerun identical, different salt differs
    val counts = s.groupBy("split").count().as[(String, Long)].collect().toMap
    assert(counts.getOrElse("train", 0L) > 0L && counts.getOrElse("test", 0L) > 0L)
    val a = s.filter(col("split") === "train").select("event_id").as[Long].collect().toSet
    val b = Sampling.hashSplit(ev, "user_id", 0.8, "gs")
      .filter(col("split") === "train").select("event_id").as[Long].collect().toSet
    assert(a == b)
    val c = Sampling.hashSplit(ev, "user_id", 0.8, "gs2")
      .filter(col("split") === "train").select("event_id").as[Long].collect().toSet
    assert(c != a)
  }

  test("minhashCalibration: identical docs land in the full-match bucket exactly") {
    val rep = Dedup.minhashCalibration(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r).toMap
    // docs 1 and 2 are byte-identical: 64/64 matching positions → bucket 16,
    // estimate and exact similarity both exactly 10000 bp
    assert(rep.contains(16L))
    val full = rep(16L)
    assert(full.getLong(2) == 10000L && full.getLong(3) == 10000L)
    assert(full.getLong(4) == 10000L && full.getLong(5) == 10000L)
    // every bucket's exact spread brackets its mean
    rep.values.foreach { r =>
      assert(r.getLong(4) <= r.getLong(3) && r.getLong(3) <= r.getLong(5))
      assert(r.getLong(1) > 0)
    }
  }

  test("bigramFluencyPpm: hand-computed conditional ppm means; short docs absent") {
    // corpus: c(a,b)=3, c(b,a)=1, c(b,c)=1; contexts a*=3, b*=2
    val d = Seq((1L, "a b a b"), (2L, "a b c"), (3L, "x"), (4L, ""))
      .toDF("doc_id", "text")
    val out = TextAnalysis.bigramFluencyPpm(d, "doc_id", "text")
      .orderBy("doc_id").collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(1L, 2L)) // no-bigram docs absent
    // d1: (1e6, 5e5, 1e6) -> 2500000 div 3 = 833333; d2: (1e6, 5e5) -> 750000
    assert(out(0).getLong(1) == 3 && out(0).getLong(2) == 833333L)
    assert(out(1).getLong(1) == 2 && out(1).getLong(2) == 750000L)
    // fluency is a probability mean: every score within (0, 1e6]
    val sf = TextAnalysis.bigramFluencyPpm(
      Tables.documents(spark, "/root/testdata/sf0.001"), "doc_id", "text")
    assert(sf.filter($"fluency_ppm" <= 0 || $"fluency_ppm" > 1000000L).count() == 0)
  }

  test("kCore: hand-built graph peels cascade, empty core, within-core degrees") {
    // clique K4 on {1,2,3,4} plus a pendant chain 4-5-6: the 3-core is the
    // clique alone — peeling 6 (deg 1) then 5 (deg 1) then nothing
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L), (5L, 6L)).toDF("u", "v")
    val core3 = Dedup.kCore(edges, "u", "v", k = 3).orderBy("node").collect()
    assert(core3.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L, 4L))
    assert(core3.forall(_.getLong(1) == 3L)) // within-core degree, chain gone
    // the 2-core keeps the clique only as well (the chain is a tree)
    val core2 = Dedup.kCore(edges, "u", "v", k = 2).collect()
    assert(core2.map(_.getLong(0)).toSet == Set(1L, 2L, 3L, 4L))
    // k above the max degree peels EVERYTHING: empty core is a valid result
    assert(Dedup.kCore(edges, "u", "v", k = 5).count() == 0)
    // cascade depth > 1: a path graph has an empty 2-core (peel ends inward)
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("u", "v")
    assert(Dedup.kCore(path, "u", "v", k = 2).count() == 0)
    // a cycle IS its own 2-core
    val cyc = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("u", "v")
    val c = Dedup.kCore(cyc, "u", "v", k = 2).collect()
    assert(c.map(_.getLong(0)).toSet == Set(1L, 2L, 3L) && c.forall(_.getLong(1) == 2L))
  }

  test("rakeKeywords: hand-computed degree/freq scores, dup phrases, maxLen") {
    val d = Seq(
      (1L, "the quick brown fox and the lazy dog is quick"),
      (2L, "quick fox of quick fox of quick fox"),
      (3L, "one two three four five six seven eight nine")) // 9-word run > maxLen
      .toDF("doc_id", "text")
    val out = TextAnalysis.rakeKeywords(d, "doc_id", "text", topK = 3, maxLen = 8)
      .orderBy("doc_id", "rank").collect()
    // doc 1: quick(freq 2, deg 4 -> 2000), brown/fox(deg 3 -> 3000),
    // lazy/dog(deg 2 -> 2000); phrases 8000 / 4000 / 2000
    val d1 = out.filter(_.getLong(0) == 1L)
    assert(d1.map(r => (r.getLong(1), r.getString(2), r.getLong(3), r.getLong(4))).toSeq ==
      Seq((1L, "quick brown fox", 1L, 8000L), (2L, "lazy dog", 1L, 4000L),
        (3L, "quick", 1L, 2000L)))
    // doc 2: ONE candidate with n_occ=3; quick/fox freq 3 deg 6 -> 2000 each
    val d2 = out.filter(_.getLong(0) == 2L)
    assert(d2.map(r => (r.getLong(1), r.getString(2), r.getLong(3), r.getLong(4))).toSeq ==
      Seq((1L, "quick fox", 3L, 4000L)))
    // doc 3: its only run exceeds maxLen words -> doc absent entirely
    assert(!out.exists(_.getLong(0) == 3L))
    // corpus sanity: ranks dense from 1, scores positive, phrases stopword-free
    val sf = TextAnalysis.rakeKeywords(
      Tables.documents(spark, "/root/testdata/sf0.001"), "doc_id", "text")
    val stops = Set("the", "a", "of", "and", "is")
    sf.collect().foreach { r =>
      assert(r.getLong(1) >= 1L && r.getLong(1) <= 3L && r.getLong(4) > 0L)
      assert(r.getString(2).split(" ").forall(w => !stops.contains(w)))
    }
  }

  test("fleschReadability: hand-computed counts, punctuation-free floor, empty text") {
    val d = Seq(
      (1L, "The cat sat. The dog ran! Wow"), // 7 words, 2 sentence runs, 7 vowel groups
      (2L, "xyz qrs"), // no vowels: Y=0
      (3L, "")) // empty: W=1 (split convention), S floored to 1
      .toDF("doc_id", "text")
    val out = TextAnalysis.fleschReadability(d, "doc_id", "text")
      .orderBy("doc_id").collect()
    // doc1: 206835 - (1015*7) div 2 - (84600*7) div 7 = 206835 - 3552 - 84600
    assert(out(0).getLong(1) == 7L && out(0).getLong(2) == 2L && out(0).getLong(3) == 7L)
    assert(out(0).getLong(4) == 206835L - 3552L - 84600L)
    // doc2: W=2 S=1 Y=0 -> 206835 - 2030 - 0
    assert(out(1).getLong(4) == 204805L)
    // doc3: W=1 S=1 Y=0 -> 206835 - 1015
    assert(out(2).getLong(1) == 1L && out(2).getLong(4) == 205820L)
  }

  test("vocabGrowth: hand-computed new-type curve, empty-token drop") {
    val d = Seq((0L, "a b a"), (1L, "b c"), (2L, "a"), (3L, "d d"), (4L, "c d e"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.vocabGrowth(d, "doc_id", "text", buckets = 5)
      .orderBy("bucket").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq == Seq((0L, 3L, 2L, 2L), (1L, 2L, 1L, 3L),
      (2L, 1L, 0L, 3L), (3L, 2L, 1L, 4L), (4L, 3L, 1L, 5L)))
    // final cumulative vocabulary == distinct words in the corpus
    assert(out.last._4 == 5L)
  }

  test("clusterAwareSplit: cluster lands wholly on one side, singletons = id split") {
    import graft.operators.Sampling
    val docs = (1L to 6L).map(i => (i, s"doc$i")).toDF("doc_id", "text")
    val labels = Seq((1L, 1L), (2L, 1L), (3L, 1L)).toDF("id", "comp")
    val out = Sampling.clusterAwareSplit(docs, "doc_id", labels, 0.8, "s8")
      .collect().map(r => r.getLong(0) -> r.getString(r.fieldIndex("split"))).toMap
    // the whole cluster carries the representative's label
    assert(out(1L) == out(2L) && out(2L) == out(3L))
    val byOwnId = Sampling.hashSplit(docs, "doc_id", 0.8, "s8")
      .collect().map(r => r.getLong(0) -> r.getString(r.fieldIndex("split"))).toMap
    assert(out(1L) == byOwnId(1L)) // rep IS doc 1
    (4L to 6L).foreach(i => assert(out(i) == byOwnId(i))) // singletons unchanged
  }

  test("mx20 dedup-aware split: zero grouped leakage, counts partition the corpus") {
    val dir = "/root/testdata/sf0.001"
    graft.queries.Shared.clear()
    val r = queries.DedupQueries.mx20DedupAwareSplit.run(spark, dir).collect()
    assert(r.length == 1)
    val row = r.head
    assert(row.getLong(row.fieldIndex("leaked_grouped")) == 0L)
    val total = Tables.documents(spark, dir).count()
    assert(row.getLong(row.fieldIndex("n_train")) + row.getLong(row.fieldIndex("n_test")) == total)
    assert(row.getLong(row.fieldIndex("leaked_naive")) >= 0L)
    graft.queries.Shared.clear()
  }

  test("sourceTvDistance: hand fractions, disjoint vocab = exactly 1e6 ppm") {
    val d = Seq((1L, "s1", "a a b"), (2L, "s2", "a b b b"), (3L, "s3", "c"))
      .toDF("doc_id", "source", "text")
    val out = TextAnalysis.sourceTvDistance(d, "source", "text")
      .collect().map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toMap
    // TV(s1,s2) = (|2*4-1*3| + |1*4-3*3|)*1e6 div (2*3*4) = 10e6 div 24
    assert(out(("s1", "s2")) == 416666L)
    // disjoint vocabularies: TV = 1 exactly (zero-mass words must count)
    assert(out(("s1", "s3")) == 1000000L && out(("s2", "s3")) == 1000000L)
    assert(out.size == 3)
  }

  test("dd28 threshold sweep: counts are monotone nonincreasing in threshold") {
    val dir = "/root/testdata/sf0.001"
    graft.queries.Shared.clear()
    val rows = queries.DedupQueries.dd28ThresholdSweep.run(spark, dir)
      .orderBy("threshold_bp").collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(8000L, 8500L, 9000L, 9500L))
    val pairs = rows.map(_.getLong(1)); val docs = rows.map(_.getLong(2))
    assert(pairs.zip(pairs.tail).forall { case (a, b) => a >= b })
    assert(docs.zip(docs.tail).forall { case (a, b) => a >= b })
    // every pair touches exactly two docs, so docs <= 2*pairs
    rows.foreach(r => assert(r.getLong(2) <= 2 * r.getLong(1)))
    // the 0.80 row IS the memoized dd2 pair table
    assert(pairs.head == graft.queries.Shared.minhashPairs(spark, dir).count())
    graft.queries.Shared.clear()
  }

  test("sttr: segment means, trailing partial dropped, short doc absent") {
    val seg0 = (1 to 25).map(i => s"a$i").mkString(" ") // 25 distinct -> ttr 1000
    val seg1 = Seq.fill(25)("b").mkString(" ")          // 1 type -> ttr 40
    val tail = Seq.fill(10)("c").mkString(" ")          // partial -> dropped
    val docs = Seq(
      (1L, s"$seg0 $seg1 $tail"),
      (2L, "x y z")) // no full segment -> absent
      .toDF("doc_id", "text")
    val out = TextAnalysis.sttr(docs, "doc_id", "text", segTokens = 25).collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getLong(r.fieldIndex("doc_id")) == 1L)
    assert(r.getLong(r.fieldIndex("n_segments")) == 2L)
    assert(r.getLong(r.fieldIndex("sttr_milli")) == (1000L + 40L) / 2L) // 520
  }

  test("bottomKContainment: small-set exactness, subset pair, disjoint doc excluded") {
    // gram sets far below k = 32: y = |A∪B| and x = |A∩B| exactly, so the
    // estimator collapses to the exact intersection — err_ppm must be 0.
    val docs = Seq(
      (1L, "w1 w2 w3 w4 w5 w6"), // 4 distinct trigrams
      (2L, "w1 w2 w3 w4"),       // 2 trigrams, a strict subset of doc 1's
      (3L, "x1 x2 x3"))          // 1 trigram, disjoint from both
      .toDF("doc_id", "text")
    val out = Dedup.bottomKContainment(docs, "doc_id", "text").collect()
    // only (1,2) share a sketch hash; doc 3 pairs with nobody
    assert(out.length == 1)
    val r = out.head
    assert(r.getLong(r.fieldIndex("doc_a")) == 1L && r.getLong(r.fieldIndex("doc_b")) == 2L)
    assert(r.getLong(r.fieldIndex("n_a")) == 4L && r.getLong(r.fieldIndex("n_b")) == 2L)
    assert(r.getLong(r.fieldIndex("shared_exact")) == 2L)
    // union below k: y = 4, x = 2; est = 1e6·2·6/((4+2)·2) = exactly 1e6
    assert(r.getLong(r.fieldIndex("y")) == 4L && r.getLong(r.fieldIndex("x")) == 2L)
    assert(r.getLong(r.fieldIndex("c_est_ppm")) == 1000000L)
    assert(r.getLong(r.fieldIndex("c_exact_ppm")) == 1000000L)
    assert(r.getLong(r.fieldIndex("err_ppm")) == 0L)
    // identical docs: x = y = n, estimate pinned at exactly 1e6 as well
    val twins = Seq((7L, "a b c d e"), (8L, "a b c d e")).toDF("doc_id", "text")
    val t = Dedup.bottomKContainment(twins, "doc_id", "text").collect()
    assert(t.length == 1)
    assert(t.head.getLong(t.head.fieldIndex("err_ppm")) == 0L)
    assert(t.head.getLong(t.head.fieldIndex("c_est_ppm")) == 1000000L)
  }

  test("contaminationDepth: exact ppm per eval doc, dup grams once, short eval docs dropped") {
    val corpus = Seq(
      (1L, "a b c d e f"),     // train: shingles "a b c d e", "b c d e f"
      (2L, "x y z w v"),       // train: "x y z w v"
      (10L, "a b c d e f"),    // eval: both shingles in train → 10⁶ ppm
      (11L, "a b c d e q r"),  // eval: 1 of 3 shingles hits → 333333 ppm
      (12L, "p q r s t"),      // eval: 0 hits → 0 ppm
      (13L, "a b c")           // eval: < 5 tokens → dropped entirely
    ).toDF("doc_id", "text")
    val out = Dedup.contaminationDepth(corpus, "doc_id", "text",
        benchPred = col("doc_id") >= 10L, shingleK = 5)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq == Seq(
      (10L, 2L, 2L, 1000000L),
      (11L, 3L, 1L, 333333L),
      (12L, 1L, 0L, 0L)))
  }
}
