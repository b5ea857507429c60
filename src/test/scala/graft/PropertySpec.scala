package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.apache.spark.sql.functions._
import graft.operators.{Cleaning, Dedup, Ema, MlPrep}

/** Property-based invariants (ScalaCheck) — the upgrade over the reference's
  * hand-rolled numeric spot checks (SURVEY.md §5).
  */
class PropertySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Draw n samples from a generator (scalatest/scalacheck bridge is not on
    * the offline classpath, so properties sample explicitly). */
  private def forAll[A](g: Gen[A], n: Int = 8)(body: A => Unit): Unit = {
    val seed0 = org.scalacheck.rng.Seed(42L)
    Iterator.iterate(seed0)(_.next).map(s => g.apply(Gen.Parameters.default, s))
      .flatten.take(n).foreach(body)
  }

  private def forAll[A, B](ga: Gen[A], gb: Gen[B])(body: (A, B) => Unit): Unit =
    forAll(Gen.zip(ga, gb))(t => body(t._1, t._2))

  test("TimeSeriesSplit bounds: expanding, contiguous, equal test sizes, within n") {
    forAll(Gen.choose(12L, 5000L), Gen.choose(2, 8)) { (n: Long, splits: Int) =>
      val folds = MlPrep.timeSeriesSplitBounds(n, splits)
      assert(folds.size == splits)
      val tsz = n / (splits + 1)
      folds.foreach { f =>
        assert(f.testRows == tsz)
        assert(f.trainRows > 0 && f.trainRows + f.testRows <= n)
      }
      // expanding train, contiguous test blocks
      folds.sliding(2).foreach {
        case Seq(a, b) => assert(b.trainRows == a.trainRows + tsz)
        case _ => ()
      }
      assert(folds.last.trainRows + tsz == n)
    }
  }

  test("strip_whitespace equals String.trim on string columns") {
    val g = Gen.listOfN(6, for {
      pad1 <- Gen.choose(0, 3); pad2 <- Gen.choose(0, 3)
      s <- Gen.alphaNumStr.map(_.take(8))
    } yield " " * pad1 + s + " " * pad2)
    forAll(g) { rows =>
      if (rows.nonEmpty) {
        val df = rows.zipWithIndex.map { case (s, i) => (i, s) }.toDF("i", "s")
        val out = Cleaning.stripWhitespace(df).orderBy("i").select("s").as[String].collect()
        assert(out.toSeq == rows.map(_.trim))
      }
    }
  }

  test("dedup is idempotent and bounded by input size") {
    val g = Gen.listOfN(12, Gen.choose(0, 3).map(i => (i.toLong, s"v$i")))
    forAll(g) { rows =>
      if (rows.nonEmpty) {
        val df = rows.toDF("k", "v")
        val once = Cleaning.deduplicate(df)
        assert(once.count() <= rows.size)
        assert(Cleaning.deduplicate(once).count() == once.count())
        assert(once.count() == rows.distinct.size)
      }
    }
  }

  test("EMA output stays within the running [min,max] envelope of inputs") {
    val g = Gen.listOfN(30, Gen.choose(1.0, 1000.0))
    forAll(g, Gen.choose(0.05, 0.95)) { (xs: List[Double], alpha: Double) =>
      if (xs.nonEmpty) {
        val df = xs.zipWithIndex.map { case (x, i) => (i, x) }.toDF("i", "x")
        val out = Ema.withEma(df, Seq(Ema.Spec("x", "ema", alpha, 0)), Seq("i"))
          .orderBy("i").select("ema").as[Double].collect()
        out.zipWithIndex.foreach { case (y, i) =>
          val seen = xs.take(i + 1)
          assert(y >= seen.min - 1e-9 && y <= seen.max + 1e-9)
        }
      }
    }
  }

  test("drop_nulls is at least as aggressive as any subset drop") {
    val g = Gen.listOfN(10, for {
      a <- Gen.option(Gen.choose(0L, 5L)); b <- Gen.option(Gen.alphaStr.map(_.take(3)))
    } yield (a, b))
    forAll(g) { rows =>
      if (rows.nonEmpty) {
        val df = rows.map { case (a, b) => (a.map(Long.box).orNull, b.orNull) }.toDF("a", "b")
        val full = Cleaning.dropNulls(df).count()
        val subA = Cleaning.dropNullColumns(df, Seq("a")).count()
        val subB = Cleaning.dropNullColumns(df, Seq("b")).count()
        assert(full <= subA && full <= subB)
        assert(full == rows.count { case (a, b) => a.isDefined && b.isDefined })
      }
    }
  }

  test("Misra-Gries: candidates always cover every value above n/(k+1); output exact") {
    // randomized streams with random skew, partitioning, and k — the
    // superset guarantee must hold for ALL of them, and the
    // sketch-then-verify output must equal the full GROUP BY
    val gen = Gen.zip(
      Gen.choose(200, 2000),   // stream length
      Gen.choose(2, 12),       // k
      Gen.choose(2, 50),       // value domain size
      Gen.choose(1, 8))        // partitions
    forAll(gen, n = 6) { case (len, k, domain, parts) =>
      // zipf-ish skew: value i drawn with weight ~ 1/(i+1)
      val weights = (0 until domain).map(i => 1.0 / (i + 1))
      val cum = weights.scanLeft(0.0)(_ + _).tail
      val totalW = cum.last
      val rnd = new scala.util.Random(len * 31 + k)
      val data = (0 until len).map { _ =>
        val x = rnd.nextDouble() * totalW
        s"v${cum.indexWhere(x <= _)}"
      }
      val df = data.toDF("value").repartition(parts)
      val exact = data.groupBy(identity).view.mapValues(_.size.toLong).toMap
        .filter(_._2 > len / (k + 1))
      val cand = graft.operators.Sketches.mgCandidates(df, col("value"), k)
      assert(cand.size <= k)
      assert(exact.keySet.subsetOf(cand.keySet),
        s"len=$len k=$k domain=$domain parts=$parts: lost ${exact.keySet -- cand.keySet}")
      val got = graft.operators.Sketches.heavyHitters(df, col("value"), k)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got == exact, s"len=$len k=$k domain=$domain parts=$parts")
    }
  }

  test("morton16 = bitwise-reference interleave on random 16-bit pairs") {
    def ref(a: Int, b: Int): Long =
      (0 until 16).foldLeft(0L) { (z, i) =>
        z | ((a.toLong >> i) & 1L) << (2 * i) | ((b.toLong >> i) & 1L) << (2 * i + 1)
      }
    forAll(Gen.zip(Gen.choose(0, 65535), Gen.choose(0, 65535)), n = 12) {
      case (a, b) =>
        val got = Seq((a.toLong, b.toLong)).toDF("a", "b")
          .select(graft.operators.Layout.morton16(col("a"), col("b")))
          .head().getLong(0)
        assert(got == ref(a, b), s"a=$a b=$b")
    }
  }

  test("z-order files bound both dimensions tighter than linear layout") {
    val res = graft.queries.MiscQueries.qZorderLayout
      .run(spark, "/root/testdata/sf0.001")
      .collect()
      .groupBy(_.getString(0))
      .view.mapValues(_.map(r =>
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))))
      .toMap
    def avgSpan(rows: Array[(Long, Long, Long, Long, Long)], dim: String): Double = {
      val spans = rows.map { case (_, cLo, cHi, dLo, dHi) =>
        if (dim == "c") cHi - cLo else dHi - dLo }
      spans.sum.toDouble / spans.length
    }
    // the whole point of the layout: Z-curve files are tighter on BOTH dims
    assert(avgSpan(res("zorder"), "c") < avgSpan(res("linear"), "c") / 2)
    assert(avgSpan(res("zorder"), "d") < avgSpan(res("linear"), "d"))
    // equal-count cut: file sizes differ by at most 1
    val sizes = res.values.flatten.map(_._1)
    assert(sizes.max - sizes.min <= 1)
  }

  test("m10 winsorize: bounds are stored p05/p95 values; interior rows untouched") {
    val res = graft.queries.WindowQueries.m10Winsorize
      .run(spark, "/root/testdata/sf0.001")
      .select("c_mktsegment", "o_totalprice", "price_w")
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
    assert(res.nonEmpty)
    res.groupBy(_._1).foreach { case (seg, rows) =>
      val sorted = rows.map(_._2).sorted
      val lo = sorted(math.floor(0.05 * (sorted.length - 1)).toInt)
      val hi = sorted(math.floor(0.95 * (sorted.length - 1)).toInt)
      rows.foreach { case (_, v, w) =>
        val expect = if (v < lo) lo else if (v > hi) hi else v
        assert(w == expect, s"$seg: v=$v w=$w lo=$lo hi=$hi")
      }
      // clipping must actually fire on both tails of every segment
      assert(rows.exists(r => r._2 < lo) && rows.exists(r => r._2 > hi), seg)
    }
  }

  test("m11 robust outliers: independent median/MAD/top-20 re-derivation agrees") {
    val dir = "/root/testdata/sf0.001"
    val base = Tables.orders(spark, dir)
      .join(Tables.customer(spark, dir), col("o_custkey") === col("c_custkey"))
      .select("c_mktsegment", "o_orderkey", "o_totalprice")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    // lower-median by rank floor(0.5*(n-1))+1 with (value, orderkey) tiebreak
    def lowerMedian(xs: Seq[(Double, Long)]): Double = {
      val s = xs.sortBy(identity)
      s(math.floor(0.5 * (s.length - 1)).toInt)._1
    }
    val expect = base.groupBy(_._1).flatMap { case (seg, rows) =>
      val med = lowerMedian(rows.toSeq.map(r => (r._3, r._2)))
      val mad = lowerMedian(rows.toSeq.map(r => (math.abs(r._3 - med), r._2)))
      rows.toSeq.map { case (_, key, v) =>
        (key, seg, v, med, mad, 0.6745 * (v - med) / mad) }
        .sortBy { case (key, _, _, _, _, rz) => (-math.abs(rz), key) }
        .take(20)
    }.toSeq.sortBy(_._1)
    val got = graft.queries.WindowQueries.m11RobustOutliers.run(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5))).toSeq
    assert(got == expect)
  }

  test("tx13 novelty: independent gram-ownership re-derivation agrees") {
    val dir = "/root/testdata/sf0.001"
    val docs = Tables.documents(spark, dir)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    def grams(text: String): Set[Long] = {
      val toks = text.toLowerCase.split(" ", -1)
      if (toks.length < 5) Set.empty
      else toks.sliding(5).map { w =>
        val d = java.security.MessageDigest.getInstance("MD5")
          .digest(w.mkString(" ").getBytes("UTF-8"))
        java.lang.Long.parseLong(d.take(4).map(b => f"$b%02x").mkString, 16)
      }.toSet
    }
    val byDoc = docs.map { case (id, t) => id -> grams(t) }
      .filter(_._2.nonEmpty).sortBy(_._1)
    val owner = scala.collection.mutable.Map.empty[Long, Long]
    byDoc.foreach { case (id, gs) =>
      gs.foreach(g => if (!owner.contains(g)) owner(g) = id) }
    val expect = byDoc.map { case (id, gs) =>
      (id, gs.size.toLong, gs.count(owner(_) == id).toLong) }.toSeq
    val got = graft.queries.TextQueries.tx13Novelty.run(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got.map(_._1) == expect.map(_._1))
    assert(got == expect)
    // novelty is a fraction; the earliest doc is fully novel by construction
    assert(got.head._2 == got.head._3)
  }

  test("q_pagerank: independent integer fixed-point re-derivation agrees") {
    val dir = "/root/testdata/sf0.001"
    val li = Tables.lineitem(spark, dir)
      .select("l_orderkey", "l_partkey").distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val edges = li.groupBy(_._1).values.toList.flatMap { g =>
      val ps = g.map(_._2).distinct.toList
      for (u <- ps; v <- ps if u != v) yield (u, v)
    }.toSet
    val deg = edges.groupBy(_._1).map { case (u, es) => u -> es.size.toLong }
    var rank = deg.keys.map(_ -> 1000000L).toMap
    for (_ <- 1 to 5) {
      val contrib = rank.map { case (u, r) => u -> r / deg(u) }
      val in = edges.toSeq.groupBy(_._2).map { case (v, es) =>
        v -> es.map(e => contrib(e._1)).sum }
      rank = in.map { case (v, s) =>
        v -> (150000L + math.floor(0.85 * s.toDouble).toLong) }
    }
    val expect = rank.toSeq.sortBy { case (n, r) => (-r, n) }.take(100)
    val got = graft.queries.AnalyticsQueries.qPagerank.run(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == expect)
  }

  test("m12 KS drift: independent ECDF re-derivation agrees") {
    val dir = "/root/testdata/sf0.001"
    val rows = Tables.orders(spark, dir)
      .filter(col("o_orderstatus").isin("F", "O"))
      .select("o_totalprice", "o_orderstatus")
      .collect().map(r => (r.getDouble(0), r.getString(1)))
    val byV = rows.groupBy(_._1).toSeq.sortBy(_._1).map { case (v, g) =>
      (v, g.count(_._2 == "F").toLong, g.count(_._2 == "O").toLong) }
    val na = byV.map(_._2).sum; val nb = byV.map(_._3).sum
    var (ca, cb) = (0L, 0L)
    val curve = byV.map { case (v, a, b) =>
      ca += a; cb += b; (v, math.abs(ca * nb - cb * na)) }
    val mx = curve.map(_._2).max
    val atV = curve.filter(_._2 == mx).map(_._1).min
    val got = graft.queries.WindowQueries.m12KsDrift.run(spark, dir).collect()(0)
    assert((got.getLong(0), got.getLong(1), got.getLong(2), got.getDouble(4)) ==
      ((na, nb, mx, atV)))
    assert(got.getDouble(3) == mx.toDouble / (na * nb))
  }

  test("q_peak_concurrency: independent sweep-line re-derivation agrees") {
    val dir = "/root/testdata/sf0.001"
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), unix_micros(col("ts")).as("t"), col("event_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val bounds = ev.groupBy(_._1).values.flatMap { g =>
      val ts = g.map(x => (x._2, x._3)).sorted.map(_._1)
      val sessions = scala.collection.mutable.ArrayBuffer((ts.head, ts.head))
      ts.tail.foreach { t =>
        if (t - sessions.last._2 > 1800000000L)
          sessions += ((t, t))
        else sessions(sessions.length - 1) = (sessions.last._1, t)
      }
      sessions
    }.toSeq
    val deltas = (bounds.map(b => (b._1 * 2, 1L)) ++
      bounds.map(b => (b._2 * 2 + 1, -1L)))
      .groupBy(_._1).toSeq.sortBy(_._1).map { case (k, g) => (k, g.map(_._2).sum) }
    var run = 0L
    val curve = deltas.map { case (k, d) => run += d; (k, run) }
    val peak = curve.map(_._2).max
    val atUs = curve.filter(_._2 == peak).map(_._1).min / 2
    val got = graft.queries.AnalyticsQueries.qPeakConcurrency.run(spark, dir)
      .collect()(0)
    assert((got.getLong(0), got.getLong(1)) == ((peak, atUs)))
  }

  test("q_path_analysis: independent first-8-events path re-derivation agrees") {
    val dir = "/root/testdata/sf0.001"
    val ev = Tables.events(spark, dir)
      .select(unix_micros(col("ts")).as("t"), col("event_id"), col("user_id"),
        col("event_type"))
      .collect()
      .map(r => (r.getLong(2), r.getLong(0), r.getLong(1), r.getString(3)))
    val paths = ev.groupBy(_._1).values.map { g =>
      g.sortBy(e => (e._2, e._3)).take(8).map(_._4).mkString(">")
    }.toSeq
    val expect = paths.groupBy(identity).map { case (p, g) => (p, g.size.toLong) }
      .toSeq.sortBy { case (p, n) => (-n, p) }
    val got = graft.queries.AnalyticsQueries.qPathAnalysis.run(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == expect)
    assert(got.map(_._2).sum == ev.map(_._1).distinct.length.toLong) // every user counted once
  }

  test("mx17 curation pipeline: scalar filter->dedup->quota->BFD replay agrees") {
    val dir = "/root/testdata/sf0.001"
    val rows = Tables.documents(spark, dir)
      .select("doc_id", "source", "text", "n_chars").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
      .sortBy(_._1)
    def toks(t: String) = t.split(" ", -1)
    val kept = rows.filter { case (_, _, text, nChars) =>
      val ws = toks(text); val nw = ws.length.toLong
      val stop = ws.filter(Set("the", "a", "of", "and", "is")).distinct.length
      val halfMean = (nChars - (nw - 1)) * 2
      nw >= 30 && nw <= 5000 && stop >= 2 &&
        halfMean >= nw * 9 && halfMean <= nw * 16
    }
    val seen = scala.collection.mutable.Set.empty[String]
    val dd = kept.filter { case (_, _, text, _) => seen.add(text) } // ids ascend
    val quota = dd.groupBy(_._2).values.flatMap(_.sortBy(_._1).take(10)).toSeq
    val docs = quota.map { case (id, src, text, _) =>
      (id, src, toks(text).length.toLong) }
      .sortBy { case (id, _, n) => (-n, id) }
    // best-fit-decreasing: smallest remaining capacity that fits, tie -> low id
    val caps = scala.collection.mutable.ArrayBuffer.empty[Long]
    val binOf = docs.map { case (id, _, n) =>
      val fits = caps.zipWithIndex.filter(_._1 >= n)
      val bin = if (fits.isEmpty) { caps += (256L - n); caps.length - 1 }
        else { val (_, i) = fits.minBy { case (c, i) => (c, i) }; caps(i) -= n; i }
      id -> bin.toLong
    }.toMap
    val expect = docs.map { case (id, src, n) => (id, src, n, binOf(id)) }
      .sortBy(_._1)
    val got = SparkEntry.queries("mx17_curation_pipeline")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == expect)
    assert(got.nonEmpty && got.map(_._4).max >= 1) // packing actually opened >1 bin
  }

  test("dd18 sentence dedup: first-global-occurrence ownership agrees") {
    val dir = "/root/testdata/sf0.001"
    val docs = Tables.documents(spark, dir)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    val owner = scala.collection.mutable.Map.empty[String, (Long, Int)]
    val sents = docs.map { case (id, text) =>
      id -> text.split("\\. ", -1).zipWithIndex }
    sents.foreach { case (id, ss) =>
      ss.foreach { case (s, i) =>
        val k = (id, i)
        if (!owner.contains(s) || Ordering[(Long, Int)].lt(k, owner(s)))
          owner(s) = k } }
    val expect = sents.map { case (id, ss) =>
      val kept = ss.filter { case (s, i) => owner(s) == ((id, i)) }
      (id, kept.map(_._1).mkString(". "),
        kept.length.toLong, (ss.length - kept.length).toLong) }.toSeq
    val got = graft.queries.DedupQueries.dd18SentenceDedup.run(spark, dir)
      .collect().map(r =>
        (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == expect)
  }

  test("tx14 top-k dot: brute-force shingle-TF dot product agrees") {
    val dir = "/root/testdata/sf0.001"
    val docs = Tables.documents(spark, dir)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val tf = docs.flatMap { case (id, text) =>
      val w = text.toLowerCase.split(" ", -1)
      if (w.length < 3) None
      else Some(id -> w.sliding(3).map(_.mkString(" ")).toSeq
        .groupBy(identity).map { case (s, g) => s -> g.size.toLong })
    }
    val pairs = for {
      (a, ta) <- tf; (b, tb) <- tf if a < b
      dot = ta.keysIterator.map(s => ta(s) * tb.getOrElse(s, 0L)).sum
      if dot > 0
    } yield (a, b, dot)
    val expect = pairs.sortBy { case (a, b, d) => (-d, a, b) }.take(50).toSeq
    val got = graft.queries.TextQueries.tx14TopkDot.run(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == expect)
  }

  test("q_skew_report: top-20 key shares re-derived with integer ratios") {
    val dir = "/root/testdata/sf0.001"
    val keys = Tables.lineitem(spark, dir).select("l_suppkey")
      .collect().map(_.getLong(0))
    val cnt = keys.groupBy(identity).map { case (k, g) => (k, g.size.toLong) }
    val total = keys.length.toLong; val nk = cnt.size.toLong
    val top = cnt.toSeq.sortBy { case (k, c) => (-c, k) }.take(20)
    var cum = 0L
    val expect = top.zipWithIndex.map { case ((k, c), i) =>
      cum += c
      (i + 1L, k, c, c * 10000 / total, cum * 10000 / total, c * nk * 1000 / total)
    }
    val got = graft.queries.MiscQueries.qSkewReport.run(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSeq
    assert(got == expect)
  }

  test("withCusum equals the sequential max(0, S+d) recurrence") {
    val g = Gen.listOfN(120, Gen.choose(-50L, 50L))
    forAll(g) { ds =>
      if (ds.nonEmpty) {
        val df = ds.zipWithIndex.map { case (d, i) => (i.toLong, d) }.toDF("k", "d")
        val got = graft.operators.PrefixSum.withCusum(df, "k", "d", "s")
          .orderBy("k").select("s").as[Long].collect().toSeq
        val expect = ds.scanLeft(0L)((s, d) => math.max(0L, s + d)).tail
        assert(got == expect)
      }
    }
    // the same kernel under its two siblings (start offsets, lag), on the
    // small and the bucketed path, over adversarial unique keys
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import graft.operators.PrefixSum
    val n = 60
    def asc[K](g: Gen[K], lt: (K, K) => Boolean): Gen[List[K]] =
      Gen.listOfN(3 * n, g).map(_.distinct.sortWith(lt).take(n)).suchThat(_.size == n)
    val longs = asc[Long](Gen.choose(-1000000L, 1000000L), _ < _)
    // unique keys, generated in ascending Spark order (nulls first, NaN last);
    // the scaled run's debug mode shows which bucket route each shape takes
    val shapes: Seq[(String, DataType, Gen[List[Any]], String)] = Seq(
      ("clustered", LongType,
        asc[Long](Gen.choose(0L, 999L), _ < _).map(ks => (ks.init :+ (1L << 40)): List[Any]),
        "equal-width-window-refined"),
      ("long extremes", LongType,
        longs.map(ks => (Long.MinValue +: ks.slice(1, n - 1) :+ Long.MaxValue): List[Any]),
        "range-window"),
      ("null key", LongType, longs.map(ks => (null +: ks.tail): List[Any]), "range-window"),
      ("double", DoubleType,
        asc[Double](Gen.choose(-1e6, 1e6), _ < _).map(ks => (ks.tail :+ Double.NaN): List[Any]),
        "range-window"),
      ("string", StringType,
        asc[String](Gen.alphaNumStr.map(_.take(6)), _ < _).map(ks => ks: List[Any]),
        "range-window"))
    val vals = Gen.listOfN(n, Gen.choose(-50L, 50L))
    for ((shape, keyType, keys, scaledMode) <- shapes; smallRows <- Seq("", "0")) {
      val prev = spark.conf.get("spark.graft.prefixsum.smallRows", "")
      if (smallRows.nonEmpty) spark.conf.set("spark.graft.prefixsum.smallRows", smallRows)
      try forAll(Gen.zip(keys, vals), n = 2) { case (ks, vs) =>
        val schema = new StructType().add("i", IntegerType).add("k", keyType)
          .add("v", LongType, nullable = false)
        val rows = ks.zip(vs).zipWithIndex.map { case ((k, v), i) => Row(i, k, v) }
        // shuffled input: the kernel, not the layout, must produce the order
        val df = spark.createDataFrame(
          java.util.Arrays.asList(new scala.util.Random(7).shuffle(rows): _*), schema).repartition(3)
        def run(f: org.apache.spark.sql.DataFrame, c: String) =
          f.orderBy("i").select(c).collect().map(r => if (r.isNullAt(0)) None else Some(r.getLong(0))).toSeq
        val what = s"$shape keys, smallRows=${if (smallRows.isEmpty) "default" else smallRows}"
        PrefixSum.drainDebug()
        assert(run(PrefixSum.withStartOffset(df, "k", "v", "o"), "o") ==
          vs.scanLeft(0L)(_ + _).init.map(Some(_)), s"start offsets, $what")
        assert(run(PrefixSum.withCusum(df, "k", "v", "s"), "s") ==
          vs.scanLeft(0L)((s, d) => math.max(0L, s + d)).tail.map(Some(_)), s"CUSUM, $what")
        assert(run(PrefixSum.withLag(df, "k", "v", "l"), "l") == None +: vs.init.map(Some(_)),
          s"lag, $what")
        val modes = PrefixSum.drainDebug().map(_.mode).distinct
        assert(modes == Seq(if (smallRows.isEmpty) "small-window" else scaledMode), what)
      } finally {
        if (prev.isEmpty) spark.conf.unset("spark.graft.prefixsum.smallRows")
        else spark.conf.set("spark.graft.prefixsum.smallRows", prev)
      }
    }
  }

  test("sim8 MMR: independent sequential greedy re-derivation agrees") {
    val dir = "/root/testdata/sf0.001"
    val rows = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
      .collect()
      .map(r => (r.getLong(0),
        r.getSeq[Float](1).map(_.toDouble).toArray))
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
    }
    val nrm = rows.map { case (id, v) => id -> math.sqrt(dot(v, v)) }.toMap
    val vecs = rows.toMap
    val qv = vecs(0L); val qn = nrm(0L)
    val rel = rows.filter(_._1 != 0L)
      .map { case (id, v) => id -> dot(v, qv) / (nrm(id) * qn) }.toMap
    var sel = Vector(rel.toSeq.minBy { case (id, r) => (-r, id) }._1)
    while (sel.size < 5) {
      val cand = rel.keys.filterNot(sel.contains)
      val next = cand.map { c =>
        val ms = sel.map(s => dot(vecs(c), vecs(s)) / (nrm(c) * nrm(s))).max
        (c, rel(c) - ms)
      }.minBy { case (id, sc) => (-sc, id) }._1
      sel = sel :+ next
    }
    val got = graft.operators.Similarity
      .mmrSelect(Tables.embeddings(spark, dir), "vec_id", "embedding", 0L, 5)
      .orderBy("rnk").select("vec_id").as[Long].collect().toSeq
    assert(got == sel)
  }

  test("dd20 blocked ER equals brute-force all-pairs restricted to the block") {
    val dir = "/root/testdata/sf0.001"
    val parts = Tables.part(spark, dir)
      .select(col("p_partkey"), col("p_name")).collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) => if (j == 0) i else if (i == 0) j else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    // brute force at RECORD granularity, then roll up to name-links —
    // proves the canonicalized plan loses no record pair
    val brute = (for {
      (k1, n1) <- parts; (k2, n2) <- parts
      if k1 < k2 && n1 != n2 && n1.split(" ")(1) == n2.split(" ")(1)
      d = lev(n1, n2) if d <= 2
    } yield {
      val (a, b) = if (n1 < n2) (n1, n2) else (n2, n1)
      (a, b, d.toLong)
    }).groupBy(identity).view.mapValues(_.length.toLong)
      .toSeq.map { case ((a, b, d), c) => (a, b, d, c) }
      .sortBy(t => (t._3, t._1, t._2))
    val got = graft.queries.DedupQueries.dd20FuzzyEr.run(spark, dir)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == brute)
  }

  test("q_market_basket support/conf/lift agree with a driver-side recount") {
    val dir = "/root/testdata/sf0.001"
    val items = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_partkey")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val nOrders = items.map(_._1).distinct.length.toLong
    val cnt = items.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val support = items.groupBy(_._1).values.flatMap { basket =>
      val ps = basket.map(_._2).sorted
      for (i <- ps.indices; j <- (i + 1) until ps.length) yield (ps(i), ps(j))
    }.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val expect = support.toSeq.collect { case ((p1, p2), s) if s >= 3 =>
      (p1, p2, s, s * 10000 / cnt(p1), s * nOrders * 10000 / (cnt(p1) * cnt(p2)))
    }.sortBy { case (p1, p2, s, _, l) => (-s, -l, p1, p2) }.take(50)
    val got = graft.queries.AnalyticsQueries.qMarketBasket.run(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    assert(got == expect)
  }

  test("q_ohlc_bars open/close equal a driver-side sort-and-pick per bucket") {
    val dir = "/root/testdata/sf0.001"
    val evs = Tables.events(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(unix_micros(date_trunc("hour", col("ts"))).as("h"),
        unix_micros(col("ts")).as("t"), col("event_id"), col("value"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val expect = evs.groupBy(_._1).toSeq.sortBy(_._1).map { case (h, rows) =>
      val sorted = rows.sortBy(r => (r._2, r._3))
      (h, sorted.head._4, sorted.last._4, rows.length.toLong)
    }
    val got = graft.queries.AnalyticsQueries.qOhlcBars.run(spark, dir)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(4), r.getLong(5))).toSeq
    assert(got == expect)
  }

  test("tx16 C4 filter flags equal a scala re-derivation") {
    val dir = "/root/testdata/sf0.001"
    val stop = Set("the", "a", "of", "and", "is")
    val expect = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"), col("n_chars"))
      .collect().map { r =>
        val ws = r.getString(1).split(" ", -1).toSeq
        val n = ws.length.toLong
        val rLen = n >= 30 && n <= 5000
        val rDistinct = ws.distinct.length * 2 >= n
        val rStop = ws.filter(stop).distinct.length >= 2
        val hm = (r.getLong(2) - (n - 1)) * 2
        val rWl = hm >= 9 * n && hm <= 16 * n
        (r.getLong(0), rLen, rDistinct, rStop, rWl, rLen && rDistinct && rStop && rWl)
      }.sortBy(_._1).toSeq
    val got = graft.queries.TextQueries.tx16C4Filter.run(spark, dir)
      .collect().map(r => (r.getLong(0), r.getBoolean(1), r.getBoolean(2),
        r.getBoolean(3), r.getBoolean(4), r.getBoolean(5))).toSeq
    assert(got == expect)
  }

  test("m14 decile binning matches Spark's native NTILE contract") {
    val dir = "/root/testdata/sf0.001"
    import org.apache.spark.sql.expressions.Window
    val expect = Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_acctbal"))
      .withColumn("bin", ntile(10).over(
        Window.orderBy(col("c_acctbal"), col("c_custkey"))).cast("long"))
      .groupBy("bin").agg(count(lit(1)).as("n_rows"),
        min("c_acctbal").as("lo"), max("c_acctbal").as("hi"))
      .orderBy("bin")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3))).toSeq
    val got = graft.queries.WindowQueries.m14QuantileBinning.run(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3))).toSeq
    assert(got == expect)
  }

  test("groupedRankAuc: bp in [0,10000] and label-flip complement identity") {
    import graft.operators.Eval
    val g = Gen.listOfN(40, Gen.zip(Gen.oneOf("a", "b"), Gen.choose(0L, 12L), Gen.oneOf(true, false)))
    forAll(g, n = 4) { rows =>
      val df = rows.toDF("g", "s", "y")
      val auc = Eval.groupedRankAuc(df, "g", "s", "y")
        .collect().map(r => r.getString(0) -> r).toMap
      val flip = Eval.groupedRankAuc(df.withColumn("y", !col("y")), "g", "s", "y")
        .collect().map(r => r.getString(0) -> r).toMap
      auc.foreach { case (k, r) =>
        if (!r.isNullAt(5)) {
          val bp = r.getLong(5)
          assert(bp >= 0 && bp <= 10000)
          // exact rational identity: num(y) + num(¬y) = den (ties counted
          // once on each side), so the bp values sum to 10000 ± 1 (two
          // independent floor divisions of complementary rationals)
          val sum = bp + flip(k).getLong(5)
          assert(sum == 10000 || sum == 9999, s"group $k: $sum")
        }
      }
    }
  }

  test("cohensKappa: bounded above by 10000, exact 10000 iff all-agree") {
    import graft.operators.Eval
    val g = Gen.listOfN(30, Gen.zip(Gen.choose(0L, 2L), Gen.choose(0L, 2L)))
    forAll(g, n = 6) { rows =>
      val r = Eval.cohensKappa(rows.toDF("a", "b"), "a", "b").head()
      if (!r.isNullAt(3)) {
        val bp = r.getLong(3)
        assert(bp <= 10000)
        val allAgree = rows.forall { case (a, b) => a == b }
        assert((bp == 10000) == allAgree)
      }
    }
  }

  test("softDedupWeights: weights partition corpus mass — sum of 1/size over members = clusters") {
    import graft.operators.Dedup
    val g = Gen.listOfN(12, Gen.choose(1L, 6L)) // random label roots for 12 docs
    forAll(g, n = 4) { roots =>
      val docs = (1L to 12L).toDF("doc_id")
      val labels = roots.zipWithIndex
        .map { case (r, i) => (i + 1L, r) }.toDF("id", "comp")
      val out = Dedup.softDedupWeights(docs, "doc_id", labels).collect()
      assert(out.length == 12)
      // every doc weighted; per cluster, size × (10000 div size) ≤ 10000 < size × (w+1)
      out.foreach { r =>
        val (size, w) = (r.getLong(2), r.getLong(3))
        assert(w == 10000L / size)
      }
    }
  }

  test("ordinalAssociation: antisymmetric under y-negation, gamma=10000 iff strictly monotone") {
    import graft.operators.Eval
    val g = Gen.listOfN(25, Gen.zip(Gen.choose(0L, 6L), Gen.choose(0L, 6L)))
    forAll(g, n = 6) { rows =>
      val df = rows.toDF("x", "y")
      val r = Eval.ordinalAssociation(df, "x", "y").head()
      val rNeg = Eval.ordinalAssociation(
        df.withColumn("y", -col("y")), "x", "y").head()
      // C and D swap under y-negation, so both statistics negate exactly
      // (the abs/sign division form is what makes this hold bit-for-bit)
      assert(r.getLong(0) == rows.length)
      if (!r.isNullAt(3)) assert(r.getLong(3) == -rNeg.getLong(3))
      if (!r.isNullAt(4)) {
        assert(r.getLong(4) == -rNeg.getLong(4))
        assert(math.abs(r.getLong(4)) <= 10000)
      }
      // brute-force O(n²) cross-check of the grid-reduced pair counts
      // (index pairs, NOT .combinations — that dedupes equal row values)
      val (cBrute, dBrute) = (for {
        i <- rows.indices; j <- (i + 1) until rows.length
      } yield (rows(i), rows(j))).foldLeft((0L, 0L)) {
        case ((c, d), ((x1, y1), (x2, y2))) =>
          if (x1 == x2 || y1 == y2) (c, d)
          else if ((x1 < x2) == (y1 < y2)) (c + 1, d) else (c, d + 1)
      }
      assert(r.getLong(1) == cBrute)
      assert(r.getLong(2) == dBrute)
    }
    // strictly increasing → pure concordance
    val mono = (1L to 10L).map(i => (i, i * 3)).toDF("x", "y")
    val m = Eval.ordinalAssociation(mono, "x", "y").head()
    assert(m.getLong(4) == 10000L)
    assert(m.getLong(3) == 10000L) // no ties anywhere → tau-a = gamma
  }

  test("giniCoefficient: 0 for uniform mass, brute-force parity on random data") {
    import graft.operators.Eval
    // all-equal values → G = 0 exactly
    val eq = (1L to 50L).map(i => (i, 7L)).toDF("id", "v")
    assert(Eval.giniCoefficient(eq, "id", "v").head().getLong(3) == 0L)
    // one doc owns everything → G = (n−1)/n
    val one = ((1L to 49L).map(i => (i, 0L)) :+ (50L, 100L)).toDF("id", "v")
    assert(Eval.giniCoefficient(one, "id", "v").head().getLong(3) == 10000L * 49 / 50)
    val g = Gen.listOfN(40, Gen.choose(0L, 30L))
    forAll(g, n = 5) { vs =>
      val df = vs.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("id", "v")
      val got = Eval.giniCoefficient(df, "id", "v").head()
      val n = vs.length
      val sum = vs.sum
      if (sum > 0) {
        val ix = vs.zipWithIndex.map { case (v, i) => (v, i.toLong) }
          .sortBy(identity).zipWithIndex
          .map { case ((v, _), r) => BigInt(r + 1) * v }.sum
        val want = ((ix * 2 - BigInt(n + 1) * sum) * 10000 / (BigInt(n) * sum)).toLong
        assert(got.getLong(3) == want)
      }
    }
  }

  test("join-size synopsis: the 16 disjoint key strata partition the exact pair count") {
    import org.apache.spark.sql.types.{LongType, StringType}
    val g = Gen.listOfN(60, Gen.choose(1L, 25L))
    forAll(g, n = 4) { keys =>
      val c = keys.toDF("k").groupBy(col("k")).agg(count(lit(1)).as("cnt"))
        .withColumn("hv",
          conv(substring(md5(col("k").cast(StringType)), 1, 8), 16, 10).cast(LongType))
        .withColumn("stratum", expr("hv div 268435456"))
      val strata = c.groupBy(col("stratum"))
        .agg(sum(col("cnt") * col("cnt")).as("pairs"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val exact = keys.groupBy(identity).values.map(v => v.size.toLong * v.size).sum
      // every stratum id is one of the 16 hash slices, and they tile exactly
      assert(strata.keySet.forall(s => s >= 0 && s < 16))
      assert(strata.values.sum == exact)
    }
  }

  test("olsNormalEq2: recovers an exact-fit plane exactly; singular matrix yields NULLs") {
    import graft.operators.Eval
    val pts = for { a <- 0L to 6L; b <- 0L to 4L } yield (a, b, 3L + 2 * a - 5 * b)
    val fit = Eval.olsNormalEq2(pts.toDF("x1", "x2", "y"), "x1", "x2", "y").head()
    assert(fit.getLong(2) == 3000000L && fit.getLong(3) == 2000000L
      && fit.getLong(4) == -5000000L, s"got $fit")
    // x2 = 2·x1 (collinear) → det 0 → NULL coefficients, no throw
    val coll = (1L to 20L).map(i => (i, 2 * i, i * 7)).toDF("x1", "x2", "y")
    val s = Eval.olsNormalEq2(coll, "x1", "x2", "y").head()
    assert(s.getDouble(1) == 0.0 && s.isNullAt(2) && s.isNullAt(3) && s.isNullAt(4))
  }

  test("poissonBootstrap: replica mass n±5sqrt(n), replica means concentrate at truth") {
    import graft.operators.Eval
    val n = 2000
    val data = (1 to n).map(i => (i.toLong, 100L + (i % 7)))
    val df = data.toDF("id", "v")
    val rows = Eval.poissonBootstrap(df, "id", "v", 8).collect()
    assert(rows.length == 8)
    val trueMeanMilli = data.map(_._2).sum * 1000L / n
    rows.foreach { r =>
      val nEff = r.getLong(1)
      // Σ of n Poisson(1) draws = Poisson(n): mean n, sd √n → ±5σ band
      assert(math.abs(nEff - n) < 5 * math.sqrt(n.toDouble), s"n_eff $nEff")
      // replica mean sd ≈ sd(v)/√n ≈ 2/45 ≈ 0.045 → generous 500-milli band
      assert(math.abs(r.getLong(3) - trueMeanMilli) < 500L, s"mean ${r.getLong(3)}")
    }
  }

  test("Urls.canonical: RFC-3986 subset rules, idempotent on its own output") {
    import graft.operators.Urls
    val cases = Seq(
      "HTTPS://WWW.Ex.COM:443/A/b/?b=2&a=1&utm_source=x#f" -> "https://ex.com/A/b?a=1&b=2",
      "http://ex.com:80/p/"                                -> "http://ex.com/p",
      "https://ex.com/p?ref=tw&fbclid=1&gclid=2"           -> "https://ex.com/p",
      "https://ex.com/"                                    -> "https://ex.com",
      "https://ex.com:8080/p?z=1"                          -> "https://ex.com:8080/p?z=1", // non-default port kept
      "https://ex.com/p//"                                 -> "https://ex.com/p",
      "https://ex.com/p?refresh=1"                         -> "https://ex.com/p?refresh=1") // 'ref=' only, not prefixes
    val df = cases.map(_._1).toDF("u")
      .select(col("u"), Urls.canonical(col("u")).as("c"))
      .select(col("u"), col("c"), Urls.canonical(col("c")).as("cc"))
      .collect()
    df.zip(cases).foreach { case (r, (in, want)) =>
      assert(r.getString(1) == want, s"canonical($in)")
      assert(r.getString(2) == r.getString(1), s"not idempotent on $in")
    }
  }

  test("hilbert8: bijection on the full 256x256 grid, consecutive indices grid-adjacent") {
    import graft.operators.Layout
    val grid = spark.range(65536L).select(
      expr("id div 256").as("x"), (col("id") % 256).as("y"))
    val pts = Layout.hilbert8(grid, "x", "y", "h")
      .select(col("h"), col("x"), col("y"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    // bijection: h covers 0..65535 exactly once
    assert(pts.length == 65536 && pts.head._1 == 0L && pts.last._1 == 65535L)
    assert(pts.map(_._1).distinct.length == 65536)
    // THE Hilbert invariant (what Morton lacks): every consecutive pair of
    // curve indices is Manhattan-adjacent — no midline jumps
    pts.sliding(2).foreach { case Array((_, x1, y1), (_, x2, y2)) =>
      assert(math.abs(x1 - x2) + math.abs(y1 - y2) == 1)
    }
  }

  test("rollingDistinct: equals brute-force trailing-window distinct per observed day") {
    import graft.operators.Temporal
    val g = Gen.listOfN(30, Gen.zip(Gen.choose(0, 12), Gen.choose(0L, 5L)))
    forAll(g, n = 5) { rows =>
      val df = rows.map { case (d, k) => (java.sql.Date.valueOf(
        java.time.LocalDate.of(2024, 1, 1).plusDays(d.toLong)), k) }.toDF("d", "k")
      val got = Temporal.rollingDistinct(df, "d", "k", 4)
        .collect().map(r => r.getDate(0).toLocalDate -> r.getLong(1)).toMap
      val byDay = rows.groupBy(_._1)
      val expect = byDay.keySet.map { end =>
        val keys = byDay.filter { case (d, _) => d <= end && d > end - 4 }
          .values.flatten.map(_._2).toSet
        java.time.LocalDate.of(2024, 1, 1).plusDays(end.toLong) -> keys.size.toLong
      }.toMap
      assert(got == expect)
    }
  }

  test("percentileCont matches a scalar numpy-linear quantile on random data") {
    val g = Gen.nonEmptyListOf(Gen.choose(-500L, 500L))
    forAll(g, n = 6) { vs =>
      val df = vs.map(("g", _)).toDF("g", "v")
      val ps = Seq(10, 50, 90)
      val row = graft.operators.Eval.percentileCont(df, "g", "v", ps).collect()(0)
      val sorted = vs.sorted.toIndexedSeq
      ps.zipWithIndex.foreach { case (p, i) =>
        val idx100 = p.toLong * (sorted.length - 1)
        val lo = (idx100 / 100).toInt
        val fn = idx100 - lo * 100L
        val vlo = sorted(lo)
        val vhi = if (lo + 1 < sorted.length) sorted(lo + 1) else vlo
        assert(row.getLong(2 + i) == vlo * 100 + (vhi - vlo) * fn,
          s"p$p of $sorted")
      }
    }
  }

  test("mannWhitneyU: swapping groups negates z and mirrors U") {
    val g = Gen.zip(
      Gen.nonEmptyListOf(Gen.choose(0L, 30L)), Gen.nonEmptyListOf(Gen.choose(0L, 30L)))
    forAll(g, n = 6) { case (as, bs) =>
      val df = (as.map((true, _)) ++ bs.map((false, _))).toDF("g", "v")
      val fl = (as.map((false, _)) ++ bs.map((true, _))).toDF("g", "v")
      val r1 = graft.operators.Eval.mannWhitneyU(df, "g", "v").collect()(0)
      val r2 = graft.operators.Eval.mannWhitneyU(fl, "g", "v").collect()(0)
      assert(r1.getLong(0) == r2.getLong(1) && r1.getLong(1) == r2.getLong(0))
      // U₁ + U₂ = n₁n₂ (in doubled units: u1_x2 + u2_x2 = 2n₁n₂)
      val n1n2x2 = 2L * r1.getLong(0) * r1.getLong(1)
      assert(r1.getLong(2) + r2.getLong(2) == n1n2x2)
      // z mirrors (within the ±1 half-up rounding asymmetry at .5 exactly)
      if (!r1.isNullAt(4))
        assert(math.abs(r1.getLong(4) + r2.getLong(4)) <= 1)
    }
  }

  test("withAroon outputs stay in [0, 10000] bp and osc = up - dn") {
    val g = Gen.nonEmptyListOf(Gen.choose(1L, 50L)).suchThat(_.length >= 6)
    forAll(g, n = 6) { hs =>
      val rows = hs.zipWithIndex.map { case (h, i) => (f"d$i%03d", h + 2, h) }
      val df = rows.toDF("d", "h", "l")
      val out = graft.operators.Indicators.withAroon(df, "h", "l", "ar", 4, "d")
        .filter(col("ar_up").isNotNull).collect()
      out.foreach { r =>
        val up = r.getLong(r.fieldIndex("ar_up")); val dn = r.getLong(r.fieldIndex("ar_dn"))
        assert(up >= 0 && up <= 10000 && dn >= 0 && dn <= 10000)
        assert(r.getLong(r.fieldIndex("ar_osc")) == up - dn)
      }
    }
  }

  test("kCore: every kept node has >= k kept neighbors (the defining invariant)") {
    val edgeGen = Gen.nonEmptyListOf(Gen.zip(Gen.choose(0L, 12L), Gen.choose(0L, 12L)))
      .map(_.filter(e => e._1 != e._2))
      .suchThat(_.nonEmpty)
    forAll(Gen.zip(edgeGen, Gen.choose(2, 4)), n = 6) { case (es, k) =>
      val df = es.toDF("u", "v")
      // both the driver bucket-queue peel (default cap) and the forced
      // distributed round loop (cap 0) must produce the same core
      val cores = Seq(Long.MaxValue, 0L).map { cap =>
        graft.operators.Dedup.kCore(df, "u", "v", k, smallGraphMax = cap)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      }
      assert(cores(0) == cores(1), s"kCore paths disagree for $es k=$k")
      val core = cores.head
      // within-core degree >= k for every survivor
      assert(core.values.forall(_ >= k), s"core $core for edges $es k=$k")
      // and the reported degree equals the count of kept neighbors
      val sym = es.flatMap(e => Seq(e, e.swap)).distinct
      core.foreach { case (node, deg) =>
        val kept = sym.count(e => e._1 == node && core.contains(e._2))
        assert(kept == deg, s"node $node deg $deg != $kept")
      }
    }
  }

  test("connected components: all four paths agree with brute-force closure on random graphs") {
    // random sparse multigraphs with self-loops and parallel/reversed edges:
    // label propagation and star, each through its driver union-find
    // shortcut AND its forced distributed loop, must all equal the
    // brute-force transitive closure's min-reachable-id labels
    val gEdges = Gen.listOfN(60,
      Gen.zip(Gen.choose(0L, 24L), Gen.choose(0L, 24L)))
    forAll(gEdges, n = 4) { es =>
      // brute force: repeated relaxation over the symmetric closure
      val sym = es.flatMap(e => Seq(e, e.swap)).distinct
      val label = scala.collection.mutable.Map[Long, Long]()
      sym.foreach { case (a, b) => label(a) = a; label(b) = b }
      var changed = true
      while (changed) {
        changed = false
        sym.foreach { case (a, b) =>
          if (label(b) < label(a)) { label(a) = label(b); changed = true }
          if (label(a) < label(b)) { label(b) = label(a); changed = true }
        }
      }
      val want = label.toSet
      val df = es.toDF("doc_a", "doc_b")
      for (cap <- Seq(Long.MaxValue, 0L)) {
        val lp = graft.operators.Dedup.connectedComponents(
            df, "doc_a", "doc_b", smallGraphMax = cap)
          .as[(Long, Long)].collect().toSet
        assert(lp == want, s"connectedComponents cap=$cap")
        val star = graft.operators.Dedup.connectedComponentsStar(
            df, "doc_a", "doc_b", smallGraphMax = cap)
          .as[(Long, Long)].collect().toSet
        assert(star == want, s"connectedComponentsStar cap=$cap")
      }
      spark.catalog.clearCache()
    }
  }

  test("tilingPlan: scaled dims fit the canvas and effective never exceeds original") {
    val g = Gen.zip(Gen.choose(10L, 2000L), Gen.choose(10L, 2000L))
    forAll(g, n = 8) { case (w, h) =>
      val df = Seq((1L, w, h)).toDF("media_id", "w", "h")
      val r = graft.multimodal.Multimodal
        .tilingPlan(df, "media_id", "w", "h", tileSize = 336, maxTiles = 6)
        .collect()(0)
      val (gx, gy) = (r.getLong(3), r.getLong(4))
      val (sw, sh) = (r.getLong(6), r.getLong(7))
      assert(sw <= gx * 336 && sh <= gy * 336)
      assert(math.min(sw * sh, w * h) <= w * h)
      assert(r.getLong(8) == gx * 336 * gy * 336 - sw * sh) // waste identity
      assert(r.getLong(9) == gx * gy * 576)
    }
  }

  test("mulmodP: equals BigInt (a*h) mod p on random 61-bit operands") {
    val p = Dedup.MinhashPrime
    assert(p == (1L << 61) - 1)
    val g = Gen.zip(Gen.choose(0L, p - 1), Gen.choose(0L, p - 1))
    forAll(g, n = 200) { case (a, h) =>
      assert(Dedup.mulmodP(a, h) ==
        ((BigInt(a) * BigInt(h)) mod BigInt(p)).toLong)
    }
  }

  test("minhash permutation constants: a_j in [1, p-1], b_j in [0, p-1], all a_j distinct") {
    val p = Dedup.MinhashPrime
    val as = (0 until 256).map(Dedup.minhashA)
    val bs = (0 until 256).map(Dedup.minhashB)
    as.foreach(a => assert(a >= 1L && a < p))
    bs.foreach(b => assert(b >= 0L && b < p))
    assert(as.distinct.size == as.size, "multipliers must be distinct for a decorrelated family")
  }

  test("hash61: native expression equals the md5-prefix mod-p arithmetic (BigInt reference)") {
    val p = BigInt(Dedup.MinhashPrime)
    val strs = Seq("", "a", "hello world", "the quick brown fox", "ünïcode ✓",
      "w123_456 w789_012 w345_678")
    val got = strs.toDF("s").selectExpr("hash61(s) AS h")
      .collect().map(_.getLong(0)).toSeq
    val want = strs.map { s =>
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val v = d.take(8).foldLeft(BigInt(0))((a, b) => (a << 8) | BigInt(b & 0xff))
      (v mod p).toLong
    }
    assert(got == want)
  }

  test("minhash compiled kernel equals the expression pipeline (61-bit field, decimal route)") {
    // the expression forms are the documented arithmetic spec of the kernel;
    // the gate's DuckDB SigSql is the third computation of the same values
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog again and again"),
      (3L, "completely different text with unique words nowhere else seen"),
      (4L, "a b c d e f g h i j k l m n o p"),
      (5L, "x x x x x x"),
      (6L, "Short one two")).toDF("doc_id", "text")
    val viaKernel = Dedup.minhashSignatures(docs, "doc_id", "text", shingleK = 3, k = 16)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val viaExpr = docs
      .withColumn("ts", split(lower(col("text")), " "))
      .filter(size(col("ts")) >= 3)
      .withColumn("sh", Dedup.wordShinglesExpr("ts", 3))
      .withColumn("hv", Dedup.shingleHashesExpr("sh"))
      .withColumn("sig", Dedup.minhashSignatureExpr("hv", 16))
      .select(col("doc_id"), col("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(viaKernel.keySet == viaExpr.keySet)
    viaKernel.foreach { case (id, sig) =>
      assert(sig == viaExpr(id), s"doc $id kernel/expr signature mismatch")
      assert(sig.forall(v => v >= 0L && v < Dedup.MinhashPrime))
    }
  }
}
