package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators._

/** Round-11 pins: the degenerate-input guards the round-10 advice
  * asked for (one-source two-sample tests, constant-series ACF, tiny
  * blocking corpora) and the q297 token-hash collision fixture. Each
  * test fails on the pre-guard behavior (double-counted samples,
  * engine-divergent /0, first-letter/length hash collisions). */
class Round11Spec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("q294/q302: a one-source corpus yields an EMPTY result, not a double-counted one") {
    import spark.implicits._
    val docs = Seq(("only", 1L), ("only", 2L), ("only", 3L))
      .toDF("source", "n_chars")
    assert(QualityQueries.mannWhitneyOf(docs).collect().isEmpty,
      "min==max source must not double-count every row into both samples")
    assert(QualityQueries.wassersteinOf(docs).collect().isEmpty,
      "W1 of a source against itself is a meaningless 0 — emit nothing")
  }

  test("q293: a constant series has NULL acf at every lag (zero variance)") {
    import spark.implicits._
    val days = (0 until 14).map(i =>
      (java.sql.Date.valueOf(java.time.LocalDate.of(2026, 3, 1).plusDays(i)),
        5.0)).toDF("day", "y")
    val acf = TimeQueries.acfOf(days).collect()
    assert(acf.length == 7)
    assert(acf.forall(_.isNullAt(1)),
      "den=0 must surface as NULL, identically in both engines")
  }

  test("q301: n=1 corpus publishes reduction_ratio 1.0, completeness 1.0, quality NULL") {
    import spark.implicits._
    val docs = Seq((1L, "solitary token stream here", 100L))
      .toDF("doc_id", "text", "n_chars")
    val r = DedupQueries.blockingEvalOf(docs).collect().head
    assert(r.getAs[Long]("n") == 1L)
    assert(r.getAs[Double]("reduction_ratio") == 1.0,
      "zero of zero comparisons avoided = vacuously perfect reduction")
    assert(r.getAs[Double]("pairs_completeness") == 1.0,
      "zero truth pairs, zero missed = vacuously complete")
    assert(r.isNullAt(r.fieldIndex("pairs_quality")),
      "precision of an empty candidate set is undefined -> NULL")
  }

  private def indexedSeries(ys: Seq[Long]) = {
    import spark.implicits._
    ys.zipWithIndex.map { case (y, ix) =>
      (java.sql.Date.valueOf(java.time.LocalDate.of(2026, 4, 1)
        .plusDays(ix)), (ix + 1).toLong, y)
    }.toDF("day", "i", "y")
  }

  test("q312: Theil-Sen recovers a planted slope through 20% outliers") {
    // y = 3i + 10, with 4 of 20 days blown up 100x: OLS would be
    // dragged far off; the pairwise-slope median must stay exactly 3
    val ys = (1 to 20).map(i => if (i % 5 == 0) 5000L else 3L * i + 10L)
    val r = TimeQueries.theilSenOf(indexedSeries(ys)).collect().head
    assert(r.getAs[Long]("n_days") == 20L)
    assert(r.getAs[Double]("slope") == 3.0, r.toString)
    assert(r.getAs[Double]("intercept") == 10.0, r.toString)
  }

  test("q318: Page-Hinkley stays silent on a flat series and alarms after a level shift") {
    val ys = Seq.fill(15)(10L) ++ Seq.fill(15)(100L)
    val out = TimeQueries.pageHinkleyOf(indexedSeries(ys)).collect()
    val alarms = out.map(r => r.getAs[Boolean]("alarm"))
    assert(!alarms.take(15).exists(identity),
      "no drift, no alarm: the pre-shift mean matches every sample")
    assert(alarms.last, "the accumulated post-shift deviation must alarm")
    assert(out.take(15).forall(_.getAs[Double]("ph") == 0.0),
      "x == running mean pre-shift => zero PH statistic")
  }

  test("q311: Holt-Winters matches a plain-Scala reference fold exactly") {
    // weekly spike + mild trend; reference fold replays init + the
    // identical IEEE recurrence, floor-rounded like the engine
    val ys = (0 until 28).map(i =>
      100L + i + (if (i % 7 == 0) 50L else 0L))
    val out = TimeQueries.holtWintersOf(indexedSeries(ys)).collect()
    assert(out.length == 14)
    val y = ys.map(_.toDouble)
    var l = y.slice(0, 7).sum / 7.0
    var b = (y.slice(7, 14).sum / 7.0 - y.slice(0, 7).sum / 7.0) / 7.0
    val w2m = y.slice(7, 14).sum / 7.0
    var s = y.slice(7, 14).map(_ - w2m).toVector
    def r4(x: Double) = math.floor(x * 1e4 + 0.5) / 1e4
    (14 until 28).zip(out).foreach { case (t, row) =>
      val fc = l + b + s.head
      val nl = 0.3 * (y(t) - s.head) + 0.7 * (l + b)
      val nb = 0.1 * (nl - l) + 0.9 * b
      val ns = 0.2 * (y(t) - nl) + 0.8 * s.head
      assert(row.getAs[Double]("forecast") == r4(fc), s"t=$t fc")
      assert(row.getAs[Double]("level") == r4(nl), s"t=$t level")
      assert(row.getAs[Double]("trend") == r4(nb), s"t=$t trend")
      assert(row.getAs[Double]("seasonal") == r4(ns), s"t=$t seasonal")
      l = nl; b = nb; s = s.tail :+ ns
    }
    // the weekly spike must surface as the dominant seasonal slot
    val lastWeek = out.takeRight(7)
    val spikeDay = lastWeek.filter(r => {
      val d = java.time.LocalDate.parse(r.getString(0))
      d.toEpochDay % 7 == java.time.LocalDate.of(2026, 4, 1).toEpochDay % 7
    })
    assert(spikeDay.nonEmpty &&
      spikeDay.head.getAs[Double]("seasonal") >
        lastWeek.map(_.getAs[Double]("seasonal")).sorted.apply(5),
      "the planted spike slot must carry the largest seasonal")
  }

  test("q313: Kruskal-Wallis on three hand-ranked shifted groups") {
    import spark.implicits._
    // lengths 1..6, no ties: R = 3, 7, 11 -> H = 12/42 * 89.5 - 21
    val docs = Seq(("a", 1L), ("a", 2L), ("b", 3L), ("b", 4L),
      ("c", 5L), ("c", 6L)).toDF("source", "n_chars")
    val r = QualityQueries.kruskalWallisOf(docs).collect().head
    assert(r.getAs[Long]("n_groups") == 3L && r.getAs[Long]("n") == 6L)
    assert(r.getAs[Double]("h") == 4.5714, r.toString)
    assert(r.getAs[Double]("h_tie_corrected") == 4.5714,
      "no ties => correction is the identity")
  }

  test("q314: Kendall tau-b on monotone, reversed, and tied fixtures") {
    import spark.implicits._
    val base = Seq(
      ("mono", 1L, 1L), ("mono", 2L, 2L), ("mono", 3L, 3L),
      ("rev", 1L, 3L), ("rev", 2L, 2L), ("rev", 3L, 1L),
      ("tie", 1L, 1L), ("tie", 1L, 2L), ("tie", 2L, 3L))
      .toDF("lang", "x", "y")
    val out = QualityQueries.kendallTauOf(base).collect()
      .map(r => r.getString(0) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    assert(out("mono") == ((3L, 0L, 1.0)))
    assert(out("rev") == ((0L, 3L, -1.0)))
    // x-tie pair contributes to neither count; denom sqrt((3-1)*3)
    assert(out("tie") == ((2L, 0L,
      math.floor(2.0 / math.sqrt(6.0) * 1e4 + 0.5) / 1e4)))
  }

  test("q315: RAKE segments at stopwords and scores deg/freq by hand") {
    import spark.implicits._
    // phrases: "deep learning" x2, "neural nets" x1 ->
    // deg(deep)=4 freq=2 score 2; neural/nets deg 2 freq 1 score 2
    // phrase scores: deep learning = 4.0, neural nets = 4.0
    val docs = Seq(
      (1L, "deep learning of the deep learning"),
      (2L, "the neural nets in a story")).toDF("doc_id", "text")
    val out = TextQueries.rakeOf(docs).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
    assert(out.toSeq == Seq(
      ("deep learning", 2L, 2, 4.0),
      ("neural nets", 1L, 2, 4.0),
      ("story", 1L, 1, 1.0)),
      out.mkString(";"))
  }

  test("q317: AdaBoost round 2 attacks round 1's mistakes on a two-cut fixture") {
    import spark.implicits._
    val base = (Seq.fill(3)((1L, 1L)) ++ Seq((2L, -1L)) ++
      Seq.fill(3)((3L, -1L)) ++ Seq((4L, 1L))).toDF("x", "y")
    val out = ScoringQueries.adaboostOf(base).collect()
    val r1 = out(0); val r2 = out(1)
    assert(r1.getAs[Long]("threshold") == 1L &&
      r1.getAs[Int]("polarity") == 1, r1.toString)
    assert(r1.getAs[Double]("w_err") == 0.125)
    assert(r1.getAs[Double]("acc") == 0.875)
    // after reweighting, the x=4 mistake dominates: the round-2 stump
    // must flip polarity to carve it out
    assert(r2.getAs[Long]("threshold") == 3L &&
      r2.getAs[Int]("polarity") == -1, r2.toString)
    assert(out.forall(_.getAs[Double]("acc") >= 0.875))
  }

  test("lcs_length expression: classic pairs, empties, and codegen path") {
    import spark.implicits._
    import org.apache.spark.sql.functions.split
    val df = Seq(
      ("a b c d e", "a x b y c"),   // LCS a b c = 3
      ("a b c", "c b a"),           // any single char  = 1
      ("a a b b", "a b a b"),       // a a b / a b b    = 3
      ("a b", ""),                  // empty side       = 0
      ("x", "x")).toDF("l", "r")
    val out = df.select(graft.plans.LcsLength.col(
        split($"l", " "), split($"r", " ")).as("lcs"))
      .collect().map(_.getLong(0)).toSeq
    assert(out == Seq(3L, 1L, 3L, 0L, 1L), out.toString)
  }

  test("q316: hand-traced LCS gives ROUGE r/p/f1 on a gapped reorder pair") {
    import spark.implicits._
    // shared min-shingle '0a 0b 0c' blocks the pair; LCS keeps the
    // common subsequence through q/r insertions: |LCS| = 7
    val docs = Seq(
      (1L, "0a 0b 0c a b c d e"),
      (2L, "0a 0b 0c a q b c r d")).toDF("doc_id", "text")
    val out = ScoringQueries.rougePairsOf(docs).collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getAs[Long]("lcs") == 7L, r.toString)
    assert(r.getAs[Long]("len_ref") == 8L && r.getAs[Long]("len_cand") == 9L)
    assert(r.getAs[Double]("rouge_r") == 0.875)
    assert(r.getAs[Double]("rouge_p") == 0.7778)
    assert(r.getAs[Double]("rouge_f1") == 0.8235)
  }

  test("q319: McNemar statistic by hand; perfect agreement publishes NULL") {
    import spark.implicits._
    val gates = (Seq.fill(3)((true, false)) ++ Seq((false, true)) ++
      Seq.fill(4)((true, true)) ++ Seq.fill(2)((false, false)))
      .toDF("passes", "keep")
    val r = ScoringQueries.mcnemarOf(gates).collect().head
    assert((r.getLong(1), r.getLong(2)) == ((3L, 1L)))
    assert(r.getAs[Double]("chi2") == 1.0)     // (3-1)^2 / 4
    assert(r.getAs[Double]("chi2_cc") == 0.25) // (|2|-1)^2 / 4
    val agree = Seq((true, true), (false, false)).toDF("passes", "keep")
    val a = ScoringQueries.mcnemarOf(agree).collect().head
    assert(a.isNullAt(a.fieldIndex("chi2")),
      "zero discordant pairs => the test is undefined, not 0")
  }

  test("q320: Murphy identity holds exactly on constant-score bins") {
    import spark.implicits._
    // two bins with constant forecasts matching their rates =>
    // reliability 0, and rel - res + unc == brier bit-for-bit
    val base = (Seq((0.25, 1), (0.25, 0), (0.25, 0), (0.25, 0)) ++
      Seq((0.75, 1), (0.75, 1), (0.75, 1), (0.75, 0)))
      .toDF("score", "is_dup")
    val r = ScoringQueries.brierDecompOf(base).collect().head
    assert(r.getAs[Double]("y_bar") == 0.5)
    assert(r.getAs[Double]("reliability") == 0.0)
    assert(r.getAs[Double]("resolution") == 0.0625)
    assert(r.getAs[Double]("uncertainty") == 0.25)
    assert(r.getAs[Double]("brier") == 0.1875)
  }

  test("q321: mixture KLs are nonnegative and shrink as lambda mixes toward the numerator") {
    val out = SimilarityQueries.qMauveProxy(spark, "/root/testdata/sf0.001")
      .collect()
    assert(out.length == 3)
    val klp = out.map(r => r.getAs[Double]("lambda") ->
      r.getAs[Double]("kl_p_m")).toMap
    val klq = out.map(r => r.getAs[Double]("lambda") ->
      r.getAs[Double]("kl_q_m")).toMap
    assert(klp.values.forall(_ >= 0.0) && klq.values.forall(_ >= 0.0))
    assert(klp(0.75) <= klp(0.5) && klp(0.5) <= klp(0.25),
      s"KL(P||lamP+(1-lam)Q) must fall as lam grows: $klp")
    assert(klq(0.25) <= klq(0.5) && klq(0.5) <= klq(0.75),
      s"KL(Q||lamP+(1-lam)Q) must RISE as lam grows: $klq")
  }

  test("q322: multi-reference clipping by hand on a crafted trio") {
    import spark.implicits._
    val docs = Seq((1L, "a a b c"), (2L, "a b c d"), (3L, "x y z w"))
      .toDF("doc_id", "text")
    val out = ScoringQueries.selfBleuOf(docs).collect()
      .map(r => r.getLong(0) ->
        (r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    // doc1: unigram clip 3/4 ('a' is its UNIQUE max -> runner-up 1);
    // bigram clip 2/3 ('a a' has no other reference -> 0)
    assert(out(1L) == ((0.75, 0.6667, 0.7071)), out.toString)
    assert(out(2L) == ((0.75, 0.6667, 0.7071)), out.toString)
    assert(out(3L) == ((0.0, 0.0, 0.0)), "disjoint doc shares nothing")
  }

  test("q323: identical examples have zero gradient noise; mixed labels don't") {
    import spark.implicits._
    val const = (1 to 50).map(_ => (1.0, 0.4, 0.8)).toDF("y", "x1", "x2")
    val c = ScoringQueries.gradientNoiseOf(const).collect().head
    assert(c.getAs[Double]("trace_cov") == 0.0)
    assert(c.getAs[Double]("b_simple") == 0.0,
      "zero per-example variance => batch size buys nothing")
    val mixed = ((1 to 25).map(_ => (1.0, 0.4, 0.8)) ++
      (1 to 25).map(_ => (0.0, 0.4, 0.8))).toDF("y", "x1", "x2")
    val m = ScoringQueries.gradientNoiseOf(mixed).collect().head
    assert(m.getAs[Double]("trace_cov") > 0.0)
    assert(m.getAs[Double]("b_simple") > 0.0)
  }

  test("q324: disjoint vocabularies train to perfect accuracy with sparse weights") {
    import spark.implicits._
    val base = ((1 to 20).map(i =>
        (i.toLong, 1.0, "good great nice wonderful")) ++
      (1 to 20).map(i =>
        (100L + i, 0.0, "bad awful poor dreadful")))
      .toDF("doc_id", "y", "text")
    val out = ScoringQueries.sparseLogregOf(base).collect()
    assert(out.length == 3)
    assert(out.last.getAs[Double]("acc") == 1.0,
      s"separable vocab must classify perfectly: ${out.mkString(";")}")
    assert(out.last.getAs[Long]("n_active") == 8L,
      "every token carries signal -> every hashed feature active")
    assert(out.last.getAs[Double]("w_l1") > 0.0)
    // accuracy never degrades across rounds on separable data
    val accs = out.map(_.getAs[Double]("acc"))
    assert(accs.sliding(2).forall(p => p(0) <= p(1)), accs.toSeq.toString)
  }

  test("q325: rank mass stays near the seed cluster, not the far one") {
    import spark.implicits._
    // two 3-cycles bridged weakly; heavy edges into node 2 make
    // {2, 3, 1} the in-degree seeds, so the far cycle {10,11,12}
    // should collect almost nothing
    val we = Seq(
      (1L, 2L, 5.0), (2L, 3L, 5.0), (3L, 1L, 5.0),
      (3L, 10L, 0.1),
      (10L, 11L, 1.0), (11L, 12L, 1.0), (12L, 10L, 1.0))
      .toDF("src", "dst", "w")
    val out = GraphQueries.pprCore(we).collect()
    val ppr = out.map(r => r.getLong(1) -> r.getAs[Double]("ppr")).toMap
    val seeds = out.filter(_.getAs[Boolean]("is_seed")).map(_.getLong(1))
    assert(seeds.toSet.subsetOf(Set(1L, 2L, 3L, 10L)), seeds.toSeq.toString)
    val near = Seq(1L, 2L, 3L).map(ppr).sum
    val far = Seq(11L, 12L).flatMap(ppr.get).sum
    assert(near > 5 * far,
      s"teleport locality must hold rank near the seeds: near=$near far=$far")
    // total published mass ≈ 1 (top-20 covers all 6 nodes here)
    assert(math.abs(out.map(_.getAs[Double]("ppr")).sum - 1.0) < 0.01)
  }

  test("q326: star is perfectly disassortative; regular graph publishes NULL") {
    import spark.implicits._
    val star = Seq((0L, 1L), (0L, 2L), (0L, 3L), (0L, 4L)).toDF("a", "b")
    val r = GraphQueries.assortativityCore(star).collect().head
    assert(r.getAs[Double]("assortativity") == -1.0, r.toString)
    val cycle = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("a", "b")
    val c = GraphQueries.assortativityCore(cycle).collect().head
    assert(c.isNullAt(c.fieldIndex("assortativity")),
      "zero degree variance => undefined, identically in both engines")
  }

  test("q327: a uniform word has VMR 0, a one-doc clump has VMR 3 on 4 docs") {
    import spark.implicits._
    val docs = Seq(
      (1L, "u z z z z"), (2L, "u"), (3L, "u"), (4L, "u"))
      .toDF("doc_id", "text")
    val out = TextQueries.wordBurstinessOf(docs).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))
      .toMap
    assert(out("u") == ((4L, 4L, 1.0, 0.0)), out.toString)
    assert(out("z") == ((4L, 1L, 1.0, 3.0)), out.toString)
  }

  test("q328: allocator matches a plain-Scala replica; minority language over-epochs") {
    import spark.implicits._
    val langs = Seq(("min", 100L), ("maj", 900L)).toDF("lang", "u")
    val out = QualityQueries.repetitionValueOf(langs).collect()
      .map(r => r.getString(0) -> r).toMap
    // replica of the published arithmetic
    def replica(u: Double, other: Double) = {
      val tu = u + other
      val p = math.pow(u / tu, 0.3) /
        (math.pow(u / tu, 0.3) + math.pow(other / tu, 0.3))
      val budget = p * 4.0 * tu
      val reps = math.max(budget / u - 1.0, 0.0)
      val eff = math.min(u * (1.0 + 15.0 * (1.0 - math.exp(-reps / 15.0))),
        budget)
      (math.floor(budget + 0.5).toLong,
        math.floor(budget / u * 1e4 + 0.5) / 1e4,
        math.floor(eff + 0.5).toLong,
        math.floor(eff / budget * 1e4 + 0.5) / 1e4)
    }
    val (b1, e1, f1, ut1) = replica(100.0, 900.0)
    val r = out("min")
    assert(r.getAs[Long]("budget_tokens") == b1)
    assert(r.getAs[Double]("epochs") == e1)
    assert(r.getAs[Long]("effective_tokens") == f1)
    assert(r.getAs[Double]("utilization") == ut1)
    // temperature flattening: the minority language runs MORE epochs
    // and wastes more of its budget to repetition decay
    assert(out("min").getAs[Double]("epochs") >
      out("maj").getAs[Double]("epochs"))
    assert(out("min").getAs[Double]("utilization") <
      out("maj").getAs[Double]("utilization"))
  }

  test("q329: token-mass tertiles cut clean-first on a crafted histogram") {
    import spark.implicits._
    // scores desc: .9(30 tokens), .8(30), .5(30) -> one stage each;
    // doc counts differ so mean_score pins the exact-i4 arithmetic
    val hist = Seq((0.9, 2L, 30L), (0.8, 3L, 30L), (0.5, 1L, 30L))
      .toDF("score", "n_docs", "n_tokens")
    val out = ScoringQueries.curriculumOf(hist).collect()
    assert(out.length == 3)
    val s1 = out(0)
    assert(s1.getInt(0) == 1 && s1.getAs[Long]("n_tokens") == 30L)
    assert(s1.getAs[Double]("mean_score") == 0.9)
    assert(out(1).getAs[Double]("mean_score") == 0.8)
    assert(out(2).getAs[Double]("mean_score") == 0.5)
    assert(out.map(_.getAs[Double]("token_frac")).sum == 0.9999,
      "three floor-rounded thirds")
  }

  test("q330: band join catches cross-bucket neighbors and rejects out-of-band") {
    import spark.implicits._
    // width 6 buckets: (5, 7) straddles buckets 0|1 and MUST pair —
    // the case a naive same-bucket join silently drops
    val docs = Seq(
      (1L, "a", 5L), (2L, "a", 100L),
      (3L, "b", 7L), (4L, "b", 104L), (5L, "b", 110L))
      .toDF("doc_id", "source", "n_chars")
    val dir = java.nio.file.Files.createTempDirectory("graft_band").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val r = Relational.qBandJoin(spark, dir).collect()
    assert(r.length == 1)
    assert(r.head.getAs[Long]("n_pairs") == 2L, r.head.toString)
    assert(r.head.getAs[Double]("mean_gap") == 3.0) // gaps 2 and 4
  }

  test("q331: a single repeated token estimates F2 exactly; moments exact") {
    import spark.implicits._
    val solo = Seq((1L, "w w w w w")).toDF("doc_id", "text")
    val r = TextQueries.f2SketchOf(solo).collect().head
    assert(r.getAs[Long]("n_tokens") == 5L)
    assert(r.getAs[Long]("n_distinct") == 1L)
    assert(r.getAs[Long]("f2_exact") == 25L)
    assert(r.getAs[Long]("f2_est") == 25L,
      "one token: every sign counter is ±5, every square 25 — exact")
    assert(r.getAs[Double]("rel_err") == 0.0)
    val two = Seq((1L, "x x x y")).toDF("doc_id", "text")
    val t = TextQueries.f2SketchOf(two).collect().head
    assert(t.getAs[Long]("f2_exact") == 10L)
    assert(t.getAs[Long]("f2_est") > 0L)
  }

  test("q332: BH rejects the planted shifted source and spares the rest") {
    import spark.implicits._
    // 5 sources x 60 docs from the same length ladder; source 'dr'
    // shifted far away — its KS p crashes, BH must reject exactly it
    val rows = for {
      (s, si) <- Seq("a1", "b2", "c3", "d4", "dr").zipWithIndex
      i <- 1 to 60
    } yield {
      val len = if (s == "dr") 5000L + i else 100L + (i % 20)
      (si * 100L + i, s, len, "t", "en")
    }
    val docs = rows.toDF("doc_id", "source", "n_chars", "text", "lang")
    val dir = java.nio.file.Files.createTempDirectory("graft_bh").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = ScoringQueries.qBhDriftScreen(spark, dir).collect()
    val rej = out.filter(_.getAs[Boolean]("reject")).map(_.getString(0))
    assert(rej.contains("dr"), out.mkString(";"))
    assert(out.head.getString(0) == "dr", "smallest p ranks first")
    assert(out.map(_.getAs[Int]("rank")).toSeq == (1 to 5),
      "ranks are a permutation of 1..m")
  }

  test("q333: Yule's K on closed-form frequency profiles") {
    import spark.implicits._
    // all-distinct tokens: srr = N, K = 0 (maximal richness);
    // one token 10x: srr = 100, N = 10 -> K = 1e4*90/100 = 9000
    val docs = Seq(
      ("rich", "a b c d e f g h i j"),
      ("poor", "w w w w w w w w w w")).toDF("lang", "text")
    val out = TextQueries.yuleKOf(docs).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))
      .toMap
    assert(out("rich") == ((10L, 10L, 1.0, 0.0)), out.toString)
    assert(out("poor") == ((10L, 1L, 0.0, 9000.0)), out.toString)
  }

  test("asof exec: merge semantics on a crafted partition, self-join ids deduped") {
    import spark.implicits._
    val l = Seq((1L, 10L, "p1"), (1L, 20L, "p2"), (2L, 5L, "p3"),
      (3L, 7L, "p4")).toDF("user_id", "ts", "pid")
    val r = Seq((1L, 8L, 0.5), (1L, 15L, 0.7), (1L, 15L, 0.7),
      (3L, 9L, 0.9)).toDF("user_id", "ts", "c_value")
    val out = graft.plans.AsOfJoin.of(l, r, "user_id", "ts")
      .select($"pid", $"c_value").collect()
      .map(x => x.getString(0) ->
        (if (x.isNullAt(1)) None else Some(x.getDouble(1)))).toMap
    assert(out("p1") == Some(0.5), "latest click at-or-before t=10")
    assert(out("p2") == Some(0.7), "ties at t=15 both carry 0.7")
    assert(out("p3") == None, "user 2 has no clicks")
    assert(out("p4") == None, "user 3's only click is AFTER the purchase")
    // the custom physical operator actually planned
    // TreeNode.nodeName strips the Exec suffix — "AsOfJoin" in the
    // physical plan IS AsOfJoinExec, over one exchange+sort per side
    val plan = graft.plans.AsOfJoin.of(l, r, "user_id", "ts")
      .queryExecution.executedPlan.toString
    assert(plan.contains("AsOfJoin"), plan)
    assert(plan.linesIterator.count(_.contains("Exchange")) == 2, plan)
  }

  test("q334: the native operator agrees with q27's compositional form row-for-row") {
    val sf = "/root/testdata/sf0.001"
    val native = TimeQueries.qAsofNative(spark, sf).collect().toSeq
    val composed = SparkEntry.queries("q27_asof_join")(spark, sf)
      .collect().toSeq
    assert(native == composed,
      s"native=${native.take(3)} composed=${composed.take(3)}")
    assert(native.nonEmpty)
  }

  test("q297: first-letter/length-colliding token streams no longer share fingerprints") {
    import spark.implicits._
    // Every token pair below shares (first char, length) — the old
    // ascii(t)+length(t) base hash made these two docs IDENTICAL to
    // the fingerprinter; the md5-prefix hash must keep them apart.
    val a = "cat1 dog2 fox3 owl4 bee5 ant6 elk7 ram8 sow9 hen0 pig1 cow2"
    val b = "car1 dot2 fog3 oak4 bed5 arc6 egg7 rat8 sun9 hat0 pin1 cod2"
    val docs = Seq((1L, a), (2L, b), (3L, a)).toDF("doc_id", "text")
    val pairs = DedupQueries.winnowingPairsOf(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 3L)), "true copies still pair")
    assert(!pairs.contains((1L, 2L)) && !pairs.contains((2L, 3L)),
      s"colliding-but-different tokens must not fingerprint-match: $pairs")
  }
}
