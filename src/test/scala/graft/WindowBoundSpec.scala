package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.catalyst.plans.logical.Window

/** The unpartitioned-window invariant (round-16 verdict #5): an empty
  * `Window.partitionBy` funnels the whole input through ONE task, so
  * it is only ever acceptable on a frame whose size is bounded by
  * something other than the corpus — a rounded score grid, a top-K
  * result, a value-domain histogram, a constants table. Every such
  * site used to be an unchecked convention plus a WindowExec warning
  * in the logs (49 grep hits by round 15), which is exactly the noise
  * floor under which a REAL single-partition regression would hide.
  *
  * This spec converts the convention into a checked contract: it
  * optimizes every registered query at sf0.001 (on a child session of
  * the shared one, so under the GraftExtensions rules every main
  * plans with), collects the
  * queries whose optimized plan retains a Window with an empty
  * partition spec, and requires the set to EQUAL the enumerated
  * allowlist below — each entry carrying the reason its frame is
  * bounded. Adding an unpartitioned window to a new query now fails
  * the build until it is justified here; removing one flags the stale
  * entry so the list cannot rot. (TopKWindowRule-rewritten global
  * top-k sites don't appear: the heap aggregate replaces the Window
  * node in the optimized plan — that is the point of the rule.) */
class WindowBoundSpec extends AnyFunSuite {
  private val sf = "/root/testdata/sf0.001"

  /** Single source of truth: DumpPlans.GlobalWindowAllow — the same
    * justification map the PLANS.md generation audit uses, so the
    * in-build walk and the plan-text audit can never drift apart. */
  val BoundedGlobalWindows: Map[String, String] =
    graft.tools.DumpPlans.GlobalWindowAllow

  /** Allowlist entries whose unpartitioned window is visible to the
    * PLANS.md physical-plan-text audit but NOT to this spec's
    * optimized-logical-plan walk (the Window node is consumed by a
    * later physical rewrite). Kept explicit so a genuinely stale
    * entry still fails. */
  val PhysicalOnly: Set[String] = Set("q317_adaboost_stumps")

  test("unpartitioned Window sites equal the enumerated bounded set") {
    val spark = TestSpark.spark.newSession()
    val offenders = scala.collection.mutable.SortedMap[String, Int]()
    for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
      try {
        val df = fn(spark, sf)
        val n = df.queryExecution.optimizedPlan.collect {
          case w: Window if w.partitionSpec.isEmpty => w
        }.size
        if (n > 0) offenders(name) = n
      } catch { case e: Throwable =>
        fail(s"$name failed to plan: ${e.getClass.getSimpleName}: " +
          Option(e.getMessage).getOrElse("").linesIterator.take(1)
            .mkString)
      }
    }
    graft.operators.SessionCache.releaseAll(spark)
    val unexplained = offenders.keySet -- BoundedGlobalWindows.keySet
    assert(unexplained.isEmpty,
      s"unpartitioned Window without a bounded-frame justification: " +
        unexplained.map(n => s"$n(${offenders(n)})").mkString(", "))
    val stale = BoundedGlobalWindows.keySet -- offenders.keySet --
      PhysicalOnly
    assert(stale.isEmpty,
      s"allowlist entries with no unpartitioned Window left: $stale")
  }
}
