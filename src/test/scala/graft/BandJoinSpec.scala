package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Pins restored from the first round-13 spec (ab82299), which a later
  * wholesale rewrite of Round13Spec deleted (ADVICE r13): exact-long band bucketing (the
  * round-12 ADVICE correctness hole — double-cast buckets round at
  * |x| ≥ 2^52 and DROP true pairs), the outer/semi/anti band-join
  * rewrites, the spark-submit spelling of the durable-barrier knob,
  * and the q346/q347/q348 fixtures. Each test fails on the
  * pre-round-13 form. */
class BandJoinSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sf = "/root/testdata/sf0.001"

  // ---- exact-long band bucketing --------------------------------------

  /** Ground truth computed in plain-Scala EXACT long arithmetic. */
  private def truePairs(ls: Seq[Long], rs: Seq[Long], eps: Long)
      : Set[(Long, Long)] =
    (for (a <- ls; b <- rs if math.abs(a - b) <= eps) yield (a, b)).toSet

  test("band rewrite is exact on 2^60-magnitude longs (ADVICE r12)") {
    import spark.implicits._
    // Nanosecond-epoch territory: ulp(double(2^60)) = 256, so the old
    // Floor(x / 11.0d) bucket could land a true pair many buckets
    // apart and the ±1 explode missed it. Values straddle bucket
    // boundaries densely on both signs; eps = 10 → width-11 buckets.
    val base = 1L << 60
    val ls = (0L until 40L).map(i => base + i * 3 - 60) ++
      (0L until 40L).map(i => -base + i * 3 - 60)
    val rs = (0L until 40L).map(i => base + i * 7 - 140) ++
      (0L until 40L).map(i => -base + i * 7 - 140)
    val l = ls.toDF("a")
    val r = rs.toDF("b")
    val got = l.join(r, abs($"a" - $"b") <= 10L)
      .as[(Long, Long)].collect().toSet
    val want = truePairs(ls, rs, 10L)
    assert(want.nonEmpty, "fixture must generate true pairs")
    assert(got == want,
      s"missing=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
    // and the plan is the rewrite, not a BNLJ
    val plan = l.join(r, abs($"a" - $"b") <= 10L)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("integral band with fractional eps routes via the exact path") {
    import spark.implicits._
    // |a−b| ≤ 2.5 on longs ⟺ |a−b| ≤ 2; the rewrite must agree with
    // the predicate exactly (it buckets at width ⌊ε⌋+1 = 3)
    val ls = (-20L to 20L by 3).toSeq
    val rs = (-20L to 20L by 2).toSeq
    val got = ls.toDF("a").join(rs.toDF("b"),
        abs($"a" - $"b") <= 2.5).as[(Long, Long)].collect().toSet
    assert(got == truePairs(ls, rs, 2L))
  }

  // ---- outer/semi/anti band joins -------------------------------------

  /** The same query under a rule-free session — the naive twin. A child
    * session inherits the extensions, so the rule is excluded by conf. */
  private def naiveSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.optimizer.excludedRules",
      graft.plans.BandJoinRule.ruleName)
    s
  }

  private def bandFrames(s: org.apache.spark.sql.SparkSession)
      : (DataFrame, DataFrame) = {
    val sess = s
    import sess.implicits._
    // negative and positive values riding bucket boundaries; nulls too
    val l = Seq[java.lang.Long](-7L, -3L, 0L, 4L, 9L, 15L, 100L, null)
      .zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("lid", "a")
    val r = Seq[java.lang.Long](-6L, 1L, 8L, 50L, null)
      .zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("rid", "b")
    (l, r)
  }

  private def collectSorted(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("left/right outer + semi/anti band joins: rewrite ≡ naive twin") {
    val (l, r) = bandFrames(spark)
    val (ln, rn) = bandFrames(naiveSession)
    val cond = abs(col("a") - col("b")) <= lit(2L)
    for (jt <- Seq("left_outer", "right_outer", "left_semi", "left_anti")) {
      val got = l.join(r, cond, jt)
      val want = ln.join(rn, cond, jt)
      assert(collectSorted(got) == collectSorted(want), s"join type $jt")
      // unmatched preserved rows must appear EXACTLY once (the explode
      // sits on the non-preserved side) — proven by the naive-equality
      // above; also pin that the rewrite actually fired (no BNLJ) and
      // the naive twin didn't (BNLJ present, so the twin is a real twin)
      val gotPlan = got.queryExecution.executedPlan.toString
      val wantPlan = want.queryExecution.executedPlan.toString
      assert(!gotPlan.contains("BroadcastNestedLoopJoin"),
        s"$jt rewrote to BNLJ:\n$gotPlan")
      assert(wantPlan.contains("BroadcastNestedLoopJoin"),
        s"$jt naive twin unexpectedly rewritten — rule leaked into " +
          s"the fresh session:\n$wantPlan")
    }
  }

  // ---- durable-barrier conf spelling ----------------------------------

  test("spark.graft.checkpoint.dir (spark-submit spelling) activates " +
      "reliable checkpoints") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_ckpt13_").toString
    val s2 = spark.newSession()
    s2.conf.set(Barrier.DirConfSpark, dir) // the --conf forwardable key
    val sess = s2
    import sess.implicits._
    val und = Seq((1L, 2L), (2L, 3L)).toDF("a", "b")
    val df = graft.operators.GraphQueries.starComponents(und)
    val rdds = df.queryExecution.analyzed.collectLeaves().collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
    }
    assert(rdds.nonEmpty)
    assert(rdds.forall(_.getCheckpointFile.exists(_.contains(dir))),
      s"documented --conf spelling must reach the barrier, got " +
        s"${rdds.map(_.getCheckpointFile)}")
  }

  // ---- round-13 query fixtures ----------------------------------------

  test("q346: every sampled purchase keeps a row; matched stats exact") {
    import spark.implicits._
    val rows = graft.operators.TimeQueries.qBandLeft(spark, sf)
    val n = rows.count()
    val sampled = graft.sources.Tables.events(spark, sf)
      .filter($"event_type" === "purchase" && $"user_id" % 50 === 0L)
      .count()
    assert(n == sampled, "LEFT OUTER must keep every sampled purchase")
    val unmatched = rows.filter($"n_near" === 0L)
    assert(unmatched.collect().forall(_.isNullAt(2)),
      "zero-match rows publish NULL mean_gap, never 0/0")
  }

  test("q348 ⊆ q346's matched set (semi ≡ n_near > 0)") {
    import spark.implicits._
    val semi = graft.operators.TimeQueries.qBandSemi(spark, sf)
      .select($"eid").as[Long].collect().toSet
    val pos = graft.operators.TimeQueries.qBandLeft(spark, sf)
      .filter($"n_near" > 0L).select($"eid").as[Long].collect().toSet
    assert(semi == pos)
  }

  test("q347: the SQL TVF answer equals the native DataFrame as-of") {
    import spark.implicits._
    val viaSql = graft.operators.TimeQueries.qAsofSql(spark, sf)
      .collect().map(_.toString).toSeq
    val ev = graft.sources.Tables.events(spark, sf)
    val p = ev.filter($"event_type" === "purchase")
      .select($"event_id", $"user_id", $"ts", $"value")
    val c = ev.filter($"event_type" === "click")
      .select($"user_id", $"ts", $"value".as("c_value"))
    val viaDf = graft.plans.AsOfJoin.of(p, c, "user_id", "ts")
      .select($"event_id", round($"value", 4).as("value"),
        round($"c_value", 4).as("click_value"))
      .orderBy($"event_id").collect().map(_.toString).toSeq
    assert(viaSql == viaDf)
    assert(viaSql.nonEmpty)
  }
}
