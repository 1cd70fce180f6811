package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{TextQueries, TimeQueries}

/** Pins for the round-14 work: the preserved-side interval-join
  * rewrite (LEFT OUTER / SEMI / ANTI / RIGHT OUTER — IntervalJoinRule's
  * round-14 path), its exactness under oversize spans (the
  * span-overflow split branch), inverted intervals and null endpoints,
  * and the q367/q368/q369 fixtures. */
class Round14Spec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sf = "/root/testdata/sf0.001"

  private def countNodes(p: org.apache.spark.sql.execution.SparkPlan,
      pred: org.apache.spark.sql.execution.SparkPlan => Boolean): Int = {
    val self = if (pred(p)) 1 else 0
    val kids = p match {
      case aq: org.apache.spark.sql.execution.adaptive
          .AdaptiveSparkPlanExec => Seq(aq.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive
          .QueryStageExec => Seq(q.plan)
      case other => other.children
    }
    self + kids.map(countNodes(_, pred)).sum
  }
  private def bnlj(p: org.apache.spark.sql.execution.SparkPlan): Int =
    countNodes(p, _.isInstanceOf[
      org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec])
  private def gens(p: org.apache.spark.sql.execution.SparkPlan): Int =
    countNodes(p,
      _.isInstanceOf[org.apache.spark.sql.execution.GenerateExec])
  private def unions(p: org.apache.spark.sql.execution.SparkPlan): Int =
    countNodes(p,
      _.isInstanceOf[org.apache.spark.sql.execution.UnionExec])

  /** Crafted intervals: normal, point, INVERTED (lo/hi swapped), an
    * OVERSIZE span (beyond the 150-unit maxSpan — must route through
    * the split's plain branch), and null endpoints on both sides. */
  private def fixture(s: SparkSession): (DataFrame, DataFrame) = {
    import s.implicits._
    val a = Seq[(Long, Option[Long], Option[Long])](
      (1L, Some(100L), Some(200L)), (2L, Some(250L), Some(260L)),
      (3L, Some(320L), Some(300L)), (4L, Some(100L), Some(100L)),
      (5L, Some(0L), Some(5000L)), (6L, None, Some(150L)))
      .toDF("aid", "a0", "a1")
    val b = Seq[(Long, Option[Long], Option[Long])](
      (10L, Some(150L), Some(160L)), (11L, Some(255L), Some(400L)),
      (12L, Some(290L), Some(310L)), (13L, Some(95L), Some(100L)),
      (14L, Some(4000L), Some(4100L)), (15L, None, Some(50L)))
      .toDF("bid", "b0", "b1")
    (a, b)
  }

  test("preserved-side interval rewrite ≡ naive for all four types") {
    val s2 = spark.newSession()
    s2.conf.set(graft.plans.IntervalJoinRule.WidthConf, "50")
    // maxSpan honored by every fixture row (largest span = a5's 5000)
    s2.conf.set(graft.plans.IntervalJoinRule.MaxSpanConf, "5000")
    for (jt <- Seq("left_outer", "left_semi", "left_anti",
        "right_outer")) {
      def run(s: SparkSession): DataFrame = {
        val (a, b) = fixture(s)
        import s.implicits._
        a.join(b, $"a0" <= $"b1" && $"b0" <= $"a1", jt)
      }
      val naive = run(spark).collect().map(_.toString).sorted.toSeq
      val rewritten = run(s2)
      assert(rewritten.collect().map(_.toString).sorted.toSeq == naive,
        s"$jt rewrite diverged from the naive join")
      val plan = rewritten.queryExecution.executedPlan
      assert(gens(plan) >= 1,
        s"$jt must explode the non-preserved side")
      assert(bnlj(plan) == 0, s"$jt: the rewrite must never BNLJ")
    }
    // sanity: the fixture makes every path load-bearing — a5's span
    // needs the margin cover, a6/b15 are null, a3 inverted
    import spark.implicits._
    val (a, b) = fixture(spark)
    val inner = a.join(b, $"a0" <= $"b1" && $"b0" <= $"a1")
      .select($"aid", $"bid").collect().map(r => (r.getLong(0),
        r.getLong(1))).toSet
    assert(inner.contains((5L, 14L)), "wide-span pair must exist")
    assert(inner.exists(_._1 == 3L), "inverted-interval pair must exist")
    assert(!inner.exists(p => p._1 == 6L || p._2 == 15L),
      "null endpoints must never match")
  }

  test("preserved-side rewrite ≡ naive on seeded random NEGATIVE grids") {
    // the crafted fixture is all-positive; this sweep drives the
    // sign-safe floor-div buckets and negative-bucket sequences
    // through every join type with endpoints straddling zero
    val s2 = spark.newSession()
    s2.conf.set(graft.plans.IntervalJoinRule.WidthConf, "37")
    s2.conf.set(graft.plans.IntervalJoinRule.MaxSpanConf, "2000")
    val rnd = new scala.util.Random(42)
    def mk(): Seq[(Long, Option[Long], Option[Long])] =
      (1 to 10).map { i =>
        def v() = if (rnd.nextInt(10) == 0) None
          else Some(rnd.nextLong() % 500L) // negative-heavy domain
        (i.toLong, v(), v())
      }
    for (round <- 1 to 3; jt <- Seq("left_outer", "left_semi",
        "left_anti", "right_outer")) {
      val (as, bs) = (mk(), mk())
      def run(s: SparkSession): Seq[String] = {
        import s.implicits._
        val a = as.toDF("aid", "a0", "a1")
        val b = bs.toDF("bid", "b0", "b1")
        a.join(b, $"a0" <= $"b1" && $"b0" <= $"a1", jt)
          .collect().map(_.toString).sorted.toSeq
      }
      assert(run(s2) == run(spark),
        s"round $round $jt diverged on a negative grid")
    }
  }

  test("interval maxSpan contract violation raises a descriptive error") {
    val s2 = spark.newSession()
    s2.conf.set(graft.plans.IntervalJoinRule.WidthConf, "50")
    s2.conf.set(graft.plans.IntervalJoinRule.MaxSpanConf, "150")
    val (a, b) = fixture(s2)
    import s2.implicits._
    val df = a.join(b, $"a0" <= $"b1" && $"b0" <= $"a1", "left_outer")
    val e = intercept[Exception] { df.collect() }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil
      else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("intervalJoin.maxSpan")),
      s"error must name the conf, got: ${e.getMessage}")
    // null endpoints never trip the contract: only a5 (span 5000) does
    val ok = a.filter($"aid" =!= 5L)
      .join(b, $"a0" <= $"b1" && $"b0" <= $"a1", "left_outer")
    assert(ok.count() >= a.count() - 1)
  }

  test("q367/q368: preserved rewrite fires with zero surviving BNLJ") {
    // real data: spans are intra-day, under the 24 h maxSpan, so the
    // error branch streams zero rows and no nested-loop join exists
    // anywhere in the plan
    for (q <- Seq("q367_interval_left", "q368_interval_semi")) {
      val df = TimeQueries.queries(q)(spark, sf)
      df.collect()
      val plan = df.queryExecution.executedPlan
      assert(gens(plan) >= 1, s"$q: the non-preserved side must explode")
      assert(bnlj(plan) == 0, s"$q: the rewrite must never BNLJ")
      assert(unions(plan) >= 1,
        s"$q: the contract split must be present over real data")
    }
  }

  test("q367 outer-ness: lonely view spans survive with null partner") {
    val out = TimeQueries.queries("q367_interval_left")(spark, sf)
      .agg(sum("n_pairs"), sum("n_lonely")).collect().head
    assert(out.getLong(0) > 0L, "fixture corpus must produce overlaps")
    assert(out.getLong(1) > 0L,
      "fixture corpus must leave some view spans unmatched")
  }

  test("streaming interval aggregate ≡ batch q349 across a 3-batch split") {
    import spark.implicits._
    import graft.streaming.{StreamingAsOf, StreamingInterval}
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val evs = graft.sources.Tables.events(spark, sf)
      .filter($"event_type".isin("view", "purchase"))
      .select($"user_id", $"ts", $"event_type", $"event_id", $"value")
      .as[StreamingAsOf.Ev].collect()
      .sortBy(e => (e.ts.getTime, e.event_id))
    val n = evs.length
    val batches = Seq(evs.slice(0, n / 3), evs.slice(n / 3, 2 * n / 3),
      evs.slice(2 * n / 3, n))
    val far = new java.sql.Timestamp(
      evs.map(_.ts.getTime).max + 30L * 86400000L)
    val src = MemoryStream[StreamingAsOf.Ev]
    val q = StreamingInterval(
        src.toDS().withWatermark("ts", "0 seconds"))
      .writeStream.format("memory").queryName("iv_stream_out")
      .outputMode("append").start()
    val got = try {
      batches.foreach { b =>
        src.addData(b.toIndexedSeq: _*); q.processAllAvailable()
      }
      // two far-future pushes: advance the watermark past every day
      // end, then fire the armed timeouts under it
      for (i <- 0 to 1) {
        src.addData(StreamingAsOf.Ev(-1L, far, "view", -1L - i, 0.0))
        q.processAllAvailable()
      }
      spark.table("iv_stream_out")
        .as[StreamingInterval.DayOut].collect()
        .filter(_.day != far.toString.substring(0, 10))
        .map(o => o.day -> ((o.n_pairs, o.mean_overlap_sec))).toMap
    } finally q.stop()
    val exp = TimeQueries.queries("q349_interval_join")(spark, sf)
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2))))
      .toMap
    assert(got == exp, "streaming day aggregates must equal batch q349")
    assert(exp.nonEmpty, "fixture corpus produced no overlap days")
  }

  test("q370 unigram EM ≡ independent reference on a crafted corpus") {
    import spark.implicits._
    // Reference implementation: same seeding, same smoothing grid,
    // same Viterbi (max over piece length d ≤ 4) and the same
    // LONGEST-piece backtrack tie rule — written against plain Scala
    // collections so an engine-side DP/backtrack bug cannot hide.
    def refFit(words: Seq[(String, Long)]): Map[String, Long] = {
      val subs = scala.collection.mutable.Map[String, Long]()
        .withDefaultValue(0L)
      for ((w, f) <- words; d <- 1 to 4; i <- 0 to w.length - d)
        subs(w.substring(i, i + d)) += f
      val singles = subs.filter(_._1.length == 1).toSeq
      val multi = subs.filter(_._1.length >= 2).toSeq
        .sortBy { case (p, c) => (-c, p) }.take(32)
      var counts: Seq[(String, Long)] = (singles ++ multi).sortBy(_._1)
      for (_ <- 1 to 2) {
        val total = counts.map(_._2).sum
        val v = counts.size
        val score = counts.map { case (p, c) => p ->
          math.floor(math.log((c + 1).toDouble / (total + v)) * 1e6)
            .toLong }.toMap
        val used = scala.collection.mutable.Map[String, Long]()
          .withDefaultValue(0L)
        for ((w, f) <- words) {
          val n = w.length
          val best = Array.fill(n + 1)(Long.MinValue); best(0) = 0L
          for (j <- 1 to n; d <- 1 to math.min(4, j))
            score.get(w.substring(j - d, j)).foreach { sc =>
              if (best(j - d) != Long.MinValue &&
                  best(j - d) + sc > best(j)) best(j) = best(j - d) + sc
            }
          var j = n
          while (j > 0) {
            val d = (math.min(4, j) to 1 by -1).find { d =>
              score.get(w.substring(j - d, j)).exists(sc =>
                best(j - d) != Long.MinValue &&
                  best(j - d) + sc == best(j))
            }.get
            used(w.substring(j - d, j)) += f
            j -= d
          }
        }
        counts = counts.map { case (p, _) => (p, used(p)) }
      }
      counts.toMap
    }
    val fixture = Seq(("abab", 10L), ("ab", 8L), ("cd", 5L),
      ("abcd", 3L), ("dab", 2L), ("abcabc", 1L))
    val engine = TextQueries
      .ulmFitWords(fixture.toDF("w", "freq"))
      .map { case (p, c, _) => p -> c }.toMap
    val ref = refFit(fixture)
    assert(engine == ref, "engine EM counts must equal the reference")
    assert(engine.exists { case (p, c) => p.length >= 2 && c > 0L },
      "the fit must actually use multi-char pieces")
    // every segmentation consumes each char exactly once, so total
    // piece usage is bounded by the char mass (and ≥ mass/4)
    val charMass = fixture.map { case (w, f) => f * w.length }.sum
    assert(engine.values.sum <= charMass &&
      engine.values.sum * 4 >= charMass)
  }

  test("q369 profiler: margin/volume arithmetic pins on a hand grid") {
    val rows = TimeQueries.queries("q369_interval_profile")(spark, sf)
      .collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(1L, 3L, 6L, 12L, 24L))
    for (r <- rows) {
      val wUs = r.getLong(0) * 3600000000L
      val spanMaxUs = r.getLong(4) * 1000000L
      assert(r.getLong(8) == (spanMaxUs + wUs - 1) / wUs,
        "margin_buckets must be ceil(span_max/W)")
      assert(r.getLong(2) <= r.getLong(3) && r.getLong(3) <= r.getLong(4),
        "p50 <= p99 <= max")
    }
    // wider buckets ⇒ fewer exploded rows, never more
    val expl = rows.map(_.getLong(5)).toSeq
    assert(expl == expl.sorted.reverse, "exploded_rows antitone in W")
  }
}
