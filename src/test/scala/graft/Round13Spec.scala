package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators._

/** Pins for the round-13 work: AS-OF direction semantics
  * (forward/nearest on the same single-pass merge), the bucketed
  * interval-overlap join's exactly-once construction, the modularity
  * and Huber-IRLS cores on crafted fixtures, and the extended
  * asof_join TVF surface. Each test fails on the pre-round-13 form. */
class Round13Spec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sf = "/root/testdata/sf0.001"

  private def asofRows(dirn: String, tol: Option[Long] = None)
      : Map[(Long, Long), Option[String]] = {
    import spark.implicits._
    // key 1 rights: t ∈ {90, 195, 300}; key 2 rights: t = 10
    val left = Seq((1L, 100L), (1L, 200L), (1L, 250L), (1L, 300L),
      (2L, 50L), (3L, 7L)).toDF("k", "t")
    val right = Seq((1L, 90L, "r90"), (1L, 195L, "r195"),
      (1L, 300L, "r300"), (2L, 10L, "r10")).toDF("k", "t", "rtag")
    graft.plans.AsOfJoin.of(left, right, "k", "t", tol, dirn)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (if (r.isNullAt(4)) None else Some(r.getString(4))))
      .toMap
  }

  test("asof direction=forward: earliest at-or-after, nulls when none") {
    val f = asofRows("forward")
    assert(f((1L, 100L)) == Some("r195"))  // next after 100
    assert(f((1L, 200L)) == Some("r300"))
    assert(f((1L, 250L)) == Some("r300"))
    assert(f((1L, 300L)) == Some("r300"))  // co-timed gap-0 matches
    assert(f((2L, 50L)) == None)           // only earlier rights
    assert(f((3L, 7L)) == None)            // keyless
  }

  test("asof direction=nearest: smaller gap wins, ties → backward") {
    val n = asofRows("nearest")
    assert(n((1L, 100L)) == Some("r90"))   // 10 back vs 95 fwd
    assert(n((1L, 200L)) == Some("r195"))  // 5 back vs 100 fwd
    assert(n((1L, 250L)) == Some("r300"))  // 55 back vs 50 fwd
    assert(n((1L, 300L)) == Some("r300"))  // gap 0
    assert(n((2L, 50L)) == Some("r10"))    // only backward exists
    // tolerance applies to the CHOSEN side: at 250 the forward gap 50
    // is nearest; tol=30 nulls it (the farther backward r195 at 55
    // must NOT sneak back in)
    val nt = asofRows("nearest", Some(30L))
    assert(nt((1L, 250L)) == None)
    assert(nt((1L, 200L)) == Some("r195")) // gap 5 within 30
  }

  test("asof forward/nearest still plan as the single AsOfJoinExec") {
    val df = TimeQueries.queries("q350_asof_forward")(spark, sf)
    df.collect()
    def find(p: org.apache.spark.sql.execution.SparkPlan): Boolean =
      p match {
        case _: graft.plans.AsOfJoinExec => true
        case a: org.apache.spark.sql.execution.adaptive
            .AdaptiveSparkPlanExec => find(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive
            .QueryStageExec => find(q.plan)
        case other => other.children.exists(find)
      }
    assert(find(df.queryExecution.executedPlan),
      "q350 must execute through AsOfJoinExec")
  }

  test("asof_join TVF: direction argument reaches the operator") {
    import spark.implicits._
    val ev = graft.sources.Tables.events(spark, sf)
    ev.filter($"event_type" === "purchase")
      .select($"event_id", $"user_id", $"ts", $"value")
      .createOrReplaceTempView("r13_purchases")
    ev.filter($"event_type" === "click")
      .select($"user_id", $"ts", $"value".as("c_value"))
      .createOrReplaceTempView("r13_clicks")
    val viaSql = spark.sql(
      """SELECT event_id, round(c_value, 4) AS cv
        |FROM asof_join('r13_purchases', 'r13_clicks', 'user_id', 'ts',
        |               'forward')
        |ORDER BY event_id""".stripMargin).collect().toSeq
    val viaDf = TimeQueries.queries("q350_asof_forward")(spark, sf)
      .select($"event_id", $"click_value".as("cv")).collect().toSeq
    assert(viaSql.map(_.toString) == viaDf.map(_.toString))
    // 6-arg form: tolerance + direction both parse and bound the gap
    val bounded = spark.sql(
      """SELECT count(c_value) AS matched
        |FROM asof_join('r13_purchases', 'r13_clicks', 'user_id', 'ts',
        |               1000000, 'forward')""".stripMargin)
      .collect().head.getLong(0)
    val unbounded = viaDf.count(!_.isNullAt(1))
    assert(bounded <= unbounded)
  }

  test("q349 bucketed interval join ≡ naive quadratic join") {
    import spark.implicits._
    // replay the span build, then the NAIVE theta join — the bucketed
    // exactly-once construction must reproduce it row for row
    val sp = graft.sources.Tables.events(spark, sf)
      .filter($"event_type".isin("view", "purchase"))
      .groupBy($"user_id", to_date($"ts").as("day"), $"event_type")
      .agg(min(unix_micros($"ts")).as("t0"),
        max(unix_micros($"ts")).as("t1"))
    val v = sp.filter($"event_type" === "view")
      .select($"user_id".as("vu"), $"day", $"t0".as("v0"),
        $"t1".as("v1"))
    val p = sp.filter($"event_type" === "purchase")
      .select($"user_id".as("pu"), $"t0".as("p0"), $"t1".as("p1"))
    val naive = v.join(p,
        $"vu" =!= $"pu" && $"v0" <= $"p1" && $"p0" <= $"v1")
      .select($"day",
        (least($"v1", $"p1") - greatest($"v0", $"p0")).as("ov"))
      .groupBy($"day")
      .agg(count(lit(1)).as("n_pairs"), sum($"ov").as("sum_us"))
      .select(date_format($"day", "yyyy-MM-dd").as("day"), $"n_pairs",
        (floor($"sum_us".cast("double") / $"n_pairs" / 100.0 + 0.5)
          / 1e4).as("mean_overlap_sec"))
      .collect().map(_.toString).sorted.toSeq
    val bucketed = TimeQueries.queries("q349_interval_join")(spark, sf)
      .collect().map(_.toString).sorted.toSeq
    assert(bucketed == naive)
    assert(bucketed.nonEmpty, "fixture corpus produced no overlaps")
  }

  test("modularity: two disjoint triangles score exactly 1/2") {
    import spark.implicits._
    val und = Seq((1L, 2L), (1L, 3L), (2L, 3L),
      (4L, 5L), (4L, 6L), (5L, 6L)).toDF("a", "b")
    val r = GraphQueries.modularityOf(und).collect().head
    assert(r.getAs[Long]("n_comms") == 2L)
    assert(r.getAs[Long]("m_edges") == 6L)
    assert(r.getAs[Long]("intra_edges") == 6L)
    // Q = Σ_c (L_c/m − (d_c/2m)²) = 1 − 2·(6/12)² = 0.5
    assert(math.abs(r.getAs[Double]("modularity") - 0.5) < 1e-9)
  }

  test("huber IRLS resists a planted outlier where ridge-OLS cannot") {
    import spark.implicits._
    // y = 10 + 5·x1 exactly on 200 points (Σx1² ≫ λ, so the ridge
    // shrinkage is negligible), plus ONE wild high-leverage outlier;
    // x2 is a constant regressor the λ keeps identifiable
    val rows = (1 to 200).map(i => (i.toLong, 1L, 10L + 5L * i)) :+
      ((201L, 1L, 1000000L))
    val base = rows.toDF("x1", "x2", "y")
    val w1Huber = ScoringQueries.huberCore(base)
      .collect().head.getAs[Double]("w1")
    val w1Ols = QualityQueries.ridgeCore(base)
      .collect().head.getAs[Double]("w1")
    // the squared-loss fit is dragged far off the law by the single
    // outlier; two IRLS reweightings must land near the planted slope
    assert(math.abs(w1Ols - 5.0) > 5.0,
      s"fixture too tame: ridge-OLS slope $w1Ols not perturbed")
    assert(math.abs(w1Huber - 5.0) < 1.0,
      s"huber slope $w1Huber should be near the planted 5.0")
  }

  test("streaming forward as-of ≡ batch q350 across a 3-batch split") {
    import spark.implicits._
    import graft.streaming.{StreamingAsOf, StreamingAsOfForward}
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    def r4(x: Double): Double =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    // event-time-ordered feed, purchases before co-timed clicks (the
    // forward join's gap-0 side ordering) so a tercile cut can never
    // place a matching co-timed click BEFORE its purchase
    val evs = graft.sources.Tables.events(spark, sf)
      .filter($"event_type".isin("click", "purchase"))
      .select($"user_id", $"ts", $"event_type", $"event_id", $"value")
      .as[StreamingAsOf.Ev].collect()
      .sortBy(e => (e.ts.getTime,
        if (e.event_type == "purchase") 0 else 1, e.event_id))
    val n = evs.length
    val batches = Seq(evs.slice(0, n / 3), evs.slice(n / 3, 2 * n / 3),
      evs.slice(2 * n / 3, n))
    // horizon wider than the corpus span: only never-clicked-again
    // purchases time out — exactly the batch join's null rows
    val horizonMs = 400L * 24 * 3600 * 1000
    val far = new java.sql.Timestamp(
      evs.map(_.ts.getTime).max + horizonMs + 86400000L)
    val src = MemoryStream[StreamingAsOf.Ev]
    val q = StreamingAsOfForward(
        src.toDS().withWatermark("ts", "0 seconds"), horizonMs)
      .writeStream.format("memory").queryName("fwd_asof_out")
      .outputMode("append").start()
    val got = try {
      batches.foreach { b =>
        src.addData(b.toIndexedSeq: _*); q.processAllAvailable()
      }
      // two far-future view batches: the first advances the watermark,
      // the second fires the pending-purchase timeouts under it
      for (i <- 0 to 1) {
        src.addData(StreamingAsOf.Ev(-1L, far, "view", -1L - i, 0.0))
        q.processAllAvailable()
      }
      spark.table("fwd_asof_out").as[StreamingAsOf.AsOfOut].collect()
        .map(o => o.event_id -> ((o.user_id, r4(o.value),
          o.click_ts.map(_.toString).orNull,
          o.click_value.map(v => r4(v).toString).orNull))).toMap
    } finally q.stop()
    val exp = SparkEntry.queries("q350_asof_forward")(spark, sf)
      .collect().map { r =>
        r.getAs[Long]("event_id") -> ((r.getAs[Long]("user_id"),
          r.getAs[Double]("value"),
          Option(r.getAs[java.sql.Timestamp]("click_ts"))
            .map(_.toString).orNull,
          Option(r.get(r.fieldIndex("click_value")))
            .map(_.toString).orNull))
      }.toMap
    assert(got.size == exp.size, s"${got.size} vs ${exp.size} purchases")
    val diffs = exp.keys.filter(k => got(k) != exp(k)).take(3)
    assert(diffs.isEmpty, diffs.map(k =>
      s"$k: stream=${got(k)} batch=${exp(k)}").mkString("; "))
  }

  test("IntervalJoinRule: naive overlap join plans bucketed, result-identical") {
    import org.apache.spark.sql.execution.SparkPlan
    val s2 = spark.newSession() // isolate the width conf
    def frames(s: org.apache.spark.sql.SparkSession) = {
      import s.implicits._
      // crafted intervals incl. an INVERTED row (t0 > t1 — the min/max
      // normalization must keep its bucket cover) and a null endpoint
      val a = Seq((1L, 100L, 200L), (2L, 250L, 260L),
        (3L, 320L, 300L), (4L, 100L, 100L))
        .toDF("aid", "a0", "a1")
      val b = Seq((10L, 150L, 160L), (11L, 255L, 400L),
        (12L, 290L, 310L), (13L, 95L, 100L))
        .toDF("bid", "b0", "b1")
      a.join(b, $"a0" <= $"b1" && $"b0" <= $"a1")
        .select($"aid", $"bid")
    }
    val naive = frames(spark).collect().map(_.toString).sorted.toSeq
    s2.conf.set(graft.plans.IntervalJoinRule.WidthConf, "50")
    val rewritten = frames(s2)
    assert(rewritten.collect().map(_.toString).sorted.toSeq == naive)
    // plan shape: zero BNLJ, two Generates (both sides fan out)
    def count(p: SparkPlan, pred: SparkPlan => Boolean): Int = {
      val self = if (pred(p)) 1 else 0
      val kids = p match {
        case aq: org.apache.spark.sql.execution.adaptive
            .AdaptiveSparkPlanExec => Seq(aq.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive
            .QueryStageExec => Seq(q.plan)
        case other => other.children
      }
      self + kids.map(count(_, pred)).sum
    }
    val plan = rewritten.queryExecution.executedPlan
    assert(count(plan, _.isInstanceOf[org.apache.spark.sql.execution
      .joins.BroadcastNestedLoopJoinExec]) == 0,
      "naive interval join must not plan as BNLJ under the rule")
    assert(count(plan,
      _.isInstanceOf[org.apache.spark.sql.execution.GenerateExec]) == 2,
      "both sides must explode their bucket cover")
    // conf unset ⇒ the rule is a provable no-op
    s2.conf.unset(graft.plans.IntervalJoinRule.WidthConf)
    val off = frames(s2)
    assert(count(off.queryExecution.executedPlan,
      _.isInstanceOf[org.apache.spark.sql.execution.GenerateExec]) == 0)
    assert(off.collect().map(_.toString).sorted.toSeq == naive)
  }

  test("sorted sparse dot: merge ≡ naive intersection, exact micros") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{array_sort, collect_list, struct}
    // two sparse vectors as key-sorted (h, w) postings
    val x = Seq((1L, 0.5), (3L, 2.0), (7L, -1.5), (9L, 4.0))
    val y = Seq((2L, 9.9), (3L, 3.0), (9L, 0.25), (11L, 1.0))
    val xm = x.toMap
    val ym = y.toMap
    val expected = xm.keySet.intersect(ym.keySet).toSeq
      .map(k => math.floor(xm(k) * ym(k) * 1e9 + 0.5).toLong)
      .sum // 3: 6e9, 9: 1e9 → 7e9
    def vec(s: Seq[(Long, Double)]) = s.toDF("h", "w")
      .agg(array_sort(collect_list(struct($"h", $"w"))).as("v"))
    val got = vec(x).crossJoin(vec(y).withColumnRenamed("v", "v2"))
      .select(graft.plans.VectorExpressions
        .sortedSparseDotMicro($"v", $"v2").as("dm"))
      .collect().head.getLong(0)
    assert(got == expected && got == 7000000000L)
    // disjoint keys ⇒ 0
    val z = Seq((100L, 5.0))
    val zero = vec(x).crossJoin(vec(z).withColumnRenamed("v", "v2"))
      .select(graft.plans.VectorExpressions
        .sortedSparseDotMicro($"v", $"v2").as("dm"))
      .collect().head.getLong(0)
    assert(zero == 0L)
  }

  test("q172 rewrite: sorted-merge dots reproduce the planted near-dups") {
    // the real corpus through the rewritten query: same pair set as
    // the oracle (checked by the driver); here pin that the known
    // near-dup structure still surfaces and every cos is in [0.5, 1]
    val rows = DedupQueries.queries("q172_sparse_cosine")(spark, sf)
      .collect()
    assert(rows.nonEmpty, "sf0.001 planted near-dups must surface")
    for (r <- rows) {
      val c = r.getAs[Double]("cos")
      assert(c >= 0.5 && c <= 1.0001, s"cos $c out of range")
    }
  }

  test("streaming nearest as-of ≡ batch q351 across a 3-batch split") {
    import spark.implicits._
    import graft.streaming.{StreamingAsOf, StreamingAsOfNearest}
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    def r4(x: Double): Double =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    // clicks before co-timed purchases (a gap-0 click is the winning
    // backward candidate — it must be in state when its purchase lands)
    val evs = graft.sources.Tables.events(spark, sf)
      .filter($"event_type".isin("click", "purchase"))
      .select($"user_id", $"ts", $"event_type", $"event_id", $"value")
      .as[StreamingAsOf.Ev].collect()
      .sortBy(e => (e.ts.getTime,
        if (e.event_type == "click") 0 else 1, e.event_id))
    val n = evs.length
    val batches = Seq(evs.slice(0, n / 3), evs.slice(n / 3, 2 * n / 3),
      evs.slice(2 * n / 3, n))
    val tolUs = 3600L * 1000000L // q351's 1 h WITHIN bound
    val far = new java.sql.Timestamp(
      evs.map(_.ts.getTime).max + 30L * 86400000L)
    val src = MemoryStream[StreamingAsOf.Ev]
    val q = StreamingAsOfNearest(
        src.toDS().withWatermark("ts", "0 seconds"), tolUs)
      .writeStream.format("memory").queryName("near_asof_out")
      .outputMode("append").start()
    val got = try {
      batches.foreach { b =>
        src.addData(b.toIndexedSeq: _*); q.processAllAvailable()
      }
      for (i <- 0 to 1) {
        src.addData(StreamingAsOf.Ev(-1L, far, "view", -1L - i, 0.0))
        q.processAllAvailable()
      }
      spark.table("near_asof_out").as[StreamingAsOf.AsOfOut].collect()
        .map(o => o.event_id -> ((o.user_id, r4(o.value),
          o.click_ts.map(_.toString).orNull,
          o.click_value.map(v => r4(v).toString).orNull))).toMap
    } finally q.stop()
    val exp = SparkEntry.queries("q351_asof_nearest")(spark, sf)
      .collect().map { r =>
        r.getAs[Long]("event_id") -> ((r.getAs[Long]("user_id"),
          r.getAs[Double]("value"),
          Option(r.getAs[java.sql.Timestamp]("click_ts"))
            .map(_.toString).orNull,
          Option(r.get(r.fieldIndex("click_value")))
            .map(_.toString).orNull))
      }.toMap
    assert(got.size == exp.size, s"${got.size} vs ${exp.size} purchases")
    val diffs = exp.keys.filter(k => got(k) != exp(k)).take(3)
    assert(diffs.isEmpty, diffs.map(k =>
      s"$k: stream=${got(k)} batch=${exp(k)}").mkString("; "))
  }

  test("welch t: textbook fixture pins t and the Satterthwaite df") {
    import spark.implicits._
    // a = {1..5} clicks vs b = {2,4,..,12} purchases:
    // t = −2.3764, df = 6.9723 (hand/scipy-checked)
    val base = (Seq(1.0, 2.0, 3.0, 4.0, 5.0).map(("click", _)) ++
      Seq(2.0, 4.0, 6.0, 8.0, 10.0, 12.0).map(("purchase", _)))
      .toDF("event_type", "value")
    val r = QualityQueries.welchOf(base).collect().head
    assert(r.getAs[Long]("n1") == 5L && r.getAs[Long]("n2") == 6L)
    assert(r.getAs[Double]("mean_click") == 3.0)
    assert(r.getAs[Double]("mean_purchase") == 7.0)
    assert(math.abs(r.getAs[Double]("t_stat") - (-2.3764)) < 1e-4)
    assert(math.abs(r.getAs[Double]("df_welch") - 6.9723) < 1e-4)
  }

  test("wordpiece: greedy longest-match splits a crafted vocabulary") {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft_wp_").toString
    Seq((1L, "thering rat")).toDF("doc_id", "text")
      .write.parquet(s"$dir/documents.parquet")
    // thering → the|##ri|##n|##g (longest-first: "the" beats "t";
    // "ri" beats "r"); rat → ra|##t
    val got = operators.TextQueries.queries("q359_wordpiece")(spark, dir)
      .collect().map(r => r.getString(1) -> r.getLong(2)).toMap
    assert(got == Map("the" -> 1L, "##ri" -> 1L, "##n" -> 1L,
      "##g" -> 1L, "ra" -> 1L, "##t" -> 1L), got.toString)
  }

  test("rbo: aligned rankings score the closed-form partial sum") {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft_rbo_").toString
    // three docs where length rank == richness rank (a b c / a b / a)
    Seq((1L, "aa bb cc", 300L), (2L, "aa bb", 200L), (3L, "aa", 100L))
      .toDF("doc_id", "text", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val r = operators.ScoringQueries.queries("q362_rbo")(spark, dir)
      .collect().head
    assert(r.getAs[Long]("overlap_5") == 3L)
    assert(r.getAs[Long]("overlap_20") == 3L)
    // identical rankings of 3 items: X_d = min(d, 3) →
    // RBO = (1−p)·Σ_{d=1}^{20} p^{d−1}·min(d,3)/d
    val p = 0.9
    val expected = (1 to 20).map(d =>
      math.pow(p, d - 1) * math.min(d, 3).toDouble / d).sum * (1 - p)
    assert(math.abs(r.getAs[Double]("rbo") - expected) < 1e-3,
      s"rbo ${r.getAs[Double]("rbo")} vs $expected")
  }

  test("el2n + forgetting: mislabeled doc scores hard on both signals") {
    import spark.implicits._
    // q338's fixture: separable mass + one mislabeled doc
    val base = Seq(
      (1L, 1.0, 5.0, 0.0), (2L, 1.0, 5.0, 0.0), (3L, 1.0, 5.0, 0.0),
      (4L, 0.0, -5.0, 0.0), (5L, 0.0, -5.0, 0.0), (6L, 0.0, -5.0, 0.0),
      (7L, 0.0, 5.0, 0.0)) // mislabeled
      .toDF("doc_id", "y", "x1", "x2")
    val el2n = ScoringQueries.el2nOf(base).collect()
      .map(r => r.getAs[Boolean]("pruned") ->
        (r.getAs[Long]("n_docs"), r.getAs[Double]("mean_el2n"))).toMap
    assert(el2n.values.map(_._1).sum == 7L)
    // the kept (high-EL2N) class must carry a higher mean error than
    // the pruned-easy class — the score separates by construction
    assert(el2n(false)._2 > el2n(true)._2, el2n.toString)
    val fg = ScoringQueries.forgettingOf(base).collect()
      .map(r => r.getAs[String]("class") ->
        (r.getAs[Long]("n_docs"),
          r.getAs[Double]("mean_final_prob"))).toMap
    assert(fg.values.map(_._1).sum == 7L)
    // the aligned mass is learned and never forgotten; the mislabeled
    // doc must NOT land in the unforgettable class
    assert(fg.contains("unforgettable"), fg.toString)
    assert(fg("unforgettable")._1 == 6L, fg.toString)
    val rest = (fg - "unforgettable").values.headOption
    assert(rest.exists(_._1 == 1L), fg.toString)
    assert(rest.exists(_._2 < fg("unforgettable")._2),
      "mislabeled doc's final probability must trail the aligned mass")
  }

  test("silhouette: cells valid, scores bounded to [-1, 1]") {
    val rows = SimilarityQueries.queries("q355_silhouette")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      val cell = r.getAs[Long]("cell")
      assert(cell >= 0L && cell < 8L)
      assert(r.getAs[Long]("n_scored") <= r.getAs[Long]("n"))
      val ms = r.getAs[Double]("mean_silhouette")
      assert(ms >= -1.0 && ms <= 1.0, s"cell $cell: $ms out of bounds")
    }
  }
}
