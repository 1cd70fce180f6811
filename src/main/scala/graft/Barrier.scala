package graft

import org.apache.spark.SparkContext
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Lineage-truncation barrier for driver-side iterative loops (CC
  * label-prop, PageRank/PPR/HITS, suffix-array doubling, GD trainers,
  * k-core peeling, …). Every round of such a loop MUST end in a
  * checkpoint barrier or round d re-evaluates the base scan O(b^d)×
  * (the q285 round-9 blowup; Round10Spec pins the structure).
  *
  * Two barrier flavors, switched by one runtime conf:
  *
  *  - `graft.checkpoint.dir` UNSET (default): `localCheckpoint` —
  *    executor-local blocks, zero distributed-FS traffic. Right for
  *    local[32] and for clusters that accept re-running a lost job.
  *  - `graft.checkpoint.dir` SET to a durable directory (HDFS/S3 on a
  *    real cluster): Spark's reliable `checkpoint()` against it —
  *    blocks survive executor loss, so a 1000-executor iterative job
  *    over 100 TB doesn't die mid-iteration when one executor is
  *    preempted. This is the production form; localCheckpoint's
  *    executor-local blocks are gone with the executor (Spark docs,
  *    RDD.localCheckpoint).
  *
  * Both forms are EAGER (the loop's round must materialize before the
  * next round builds on it) and both bottom out in a
  * LogicalRDD leaf, so the Round10Spec structural guard holds under
  * either setting.
  */
object Barrier {
  /** Runtime conf keys: durable checkpoint directory. Both the bare
    * key (`spark.conf.set("graft.checkpoint.dir", …)`) and the
    * spark-submit-friendly `--conf spark.graft.checkpoint.dir=…` form
    * are honored — spark-submit only forwards keys with the `spark.`
    * prefix, so reading one spelling alone silently strands exactly
    * the production cluster runs the feature exists for (ADVICE r12).
    * The prefixed form wins if both are set. */
  val DirConf = "graft.checkpoint.dir"
  val DirConfSpark = "spark.graft.checkpoint.dir"

  /** The durable checkpoint directory `s` is configured with, if any. */
  def checkpointDir(s: SparkSession): Option[String] =
    s.conf.getOption(DirConfSpark).orElse(s.conf.getOption(DirConf))
      .map(_.trim).filter(_.nonEmpty)

  // remember which conf value we last applied per SparkContext, so the
  // UUID-subdir-creating setCheckpointDir only runs when the knob
  // changes, not once per round. NOTE: the checkpoint dir is GLOBAL to
  // the SparkContext while the knob reads per-session conf — two
  // sessions on one context with different dirs are a config error;
  // the second value wins and a warning is logged so the conflict is
  // visible rather than silent. Keyed weakly so stopped contexts
  // don't accumulate.
  private val applied = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkContext, String]())

  private def ensureDir(sc: SparkContext, dir: String): Unit =
    if (applied.get(sc) != dir) applied.synchronized {
      val prev = applied.get(sc)
      if (prev != dir) {
        if (prev != null)
          org.slf4j.LoggerFactory.getLogger(getClass)
            .warn(s"graft.Barrier: checkpoint dir changing " +
              s"'$prev' -> '$dir'; the dir is SparkContext-global, " +
              "per-session values cannot differ safely")
        sc.setCheckpointDir(dir)
        applied.put(sc, dir)
      }
    }

  implicit final class BarrierOps(private val df: DataFrame)
      extends AnyVal {
    /** Eager barrier — the form every round of an iterative core ends
      * in. Reliable when `[spark.]graft.checkpoint.dir` is set, local
      * else. */
    def roundBarrier(): DataFrame = {
      val s = df.sparkSession
      checkpointDir(s) match {
        case Some(d) =>
          ensureDir(s.sparkContext, d)
          df.checkpoint()
        case None =>
          df.localCheckpoint()
      }
    }
  }
}
