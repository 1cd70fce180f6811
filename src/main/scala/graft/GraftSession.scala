package graft

import org.apache.spark.sql.SparkSession

/** The one way graft builds a session: every main and the test suite
  * come through here, so the plans Verify checks, Bench times and
  * Profile/DumpPlans show are planned by the same optimizer. The rules,
  * the AS-OF strategy and the SQL functions arrive through
  * `GraftExtensions`, which Spark injects into the operator-optimization
  * batch and hands on to every `newSession()` child. */
object GraftSession {
  def local(cpus: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.plans.GraftExtensions)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
