package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.functions._
import graft.plans.{BandJoinRule, IntervalJoinRule, TopKWindowRule}

/** GraftExtensions injects the three rewrite rules into Spark's
  * fixed-point operator-optimization batch, so each must settle: a rule
  * that kept matching what it emitted would rewrite on every iteration
  * until the batch's iteration cap. Each rule is applied, again and
  * again, to the plan its fixture (the shapes the rule's own specs pin)
  * optimizes to with that rule excluded;
  * it must fire and then stop changing the plan. Most rewrites settle
  * after one application; IntervalJoinRule's FULL OUTER form splits into
  * an inner and two anti joins that the next application rewrites. */
class RuleFixedPointSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** A child session with `rule` excluded and the given confs set. */
  private def without(rule: Rule[LogicalPlan],
      confs: (String, String)*): SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.optimizer.excludedRules", rule.ruleName)
    confs.foreach { case (k, v) => s.conf.set(k, v) }
    s
  }

  /** Applies `rule` with `s` active, so it reads that session's confs;
    * after `within` applications it must be a no-op. */
  private def assertSettles(rule: Rule[LogicalPlan], s: SparkSession,
      df: DataFrame, what: String, within: Int = 1): Unit = {
    val input = df.queryExecution.optimizedPlan
    val prev = SparkSession.getActiveSession
    SparkSession.setActiveSession(s)
    try {
      val plans = Iterator.iterate(input)(rule(_))
        .take(within + 2).toSeq
      val settled = plans.zip(plans.tail)
        .indexWhere { case (a, b) => a.fastEquals(b) }
      assert(settled != 0, s"$what: ${rule.ruleName} did not fire")
      assert(settled > 0, s"$what: ${rule.ruleName} still rewriting after " +
        s"$within application(s):\n${plans.last}")
    } finally prev.foreach(SparkSession.setActiveSession)
  }

  test("TopKWindowRule settles on its own output") {
    val s = without(TopKWindowRule)
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val t = Seq((1L, 3.0, "a"), (1L, 5.0, "b"), (1L, 4.0, "c"),
      (2L, 1.0, "d"), (2L, 2.0, "e")).toDF("g", "v", "tag")
    val perKey = Window.partitionBy($"g").orderBy($"v".desc)
    val global = Window.orderBy($"v".desc, $"tag")
    assertSettles(TopKWindowRule, s, t.withColumn("rn",
      row_number().over(perKey)).filter($"rn" <= 2), "per-key top-2")
    assertSettles(TopKWindowRule, s, t.withColumn("rn",
      row_number().over(global)).filter($"rn" <= 3), "global top-3")
    assertSettles(TopKWindowRule, s, t.withColumn("rn",
      row_number().over(perKey)).filter($"rn" === 1 && $"tag" =!= "b"),
      "latest-wins with a residual conjunct")
  }

  test("BandJoinRule settles on its own output") {
    val s = without(BandJoinRule)
    import s.implicits._
    val l = Seq[java.lang.Long](-7L, -3L, 0L, 4L, 9L, 15L, 100L, null)
      .map(v => Tuple1(v)).toDF("a")
    val r = Seq[java.lang.Long](-6L, 1L, 8L, 50L, null)
      .map(v => Tuple1(v)).toDF("b")
    for (jt <- Seq("inner", "left_outer", "right_outer", "left_semi",
        "left_anti"))
      assertSettles(BandJoinRule, s,
        l.join(r, abs($"a" - $"b") <= 2L, jt), s"integral $jt")
    val ld = Seq(-1.5, 0.0, 2.25, 7.0).toDF("a")
    val rd = Seq(-0.5, 3.0, 9.75).toDF("b")
    assertSettles(BandJoinRule, s,
      ld.join(rd, abs($"a" - $"b") <= 2.5), "fractional inner")
  }

  test("IntervalJoinRule settles on its own output") {
    val s = without(IntervalJoinRule, IntervalJoinRule.WidthConf -> "50",
      IntervalJoinRule.MaxSpanConf -> "5000")
    import s.implicits._
    val a = Seq[(Long, Option[Long], Option[Long])](
      (1L, Some(100L), Some(200L)), (2L, Some(320L), Some(300L)),
      (3L, Some(0L), Some(5000L)), (4L, None, Some(150L)))
      .toDF("aid", "a0", "a1")
    val b = Seq[(Long, Option[Long], Option[Long])](
      (10L, Some(150L), Some(160L)), (11L, Some(255L), Some(400L)),
      (12L, Some(4000L), Some(4100L)), (13L, None, Some(50L)))
      .toDF("bid", "b0", "b1")
    for (jt <- Seq("inner", "left_outer", "right_outer", "left_semi",
        "left_anti", "full_outer"))
      assertSettles(IntervalJoinRule, s,
        a.join(b, $"a0" <= $"b1" && $"b0" <= $"a1", jt), jt,
        within = if (jt == "full_outer") 2 else 1)
  }
}
