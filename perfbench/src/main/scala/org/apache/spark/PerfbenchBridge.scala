package org.apache.spark

/** The two `private[spark]` reads the untraced run needs, so that it
  * counts without a listener of its own: draining the listener bus, and
  * the jobs and stage metrics Spark's status store already keeps. */
object PerfbenchBridge {

  final case class Cost(jobs: Int, shuffleWriteBytes: Long)

  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Jobs of one job group and the shuffle bytes their stages wrote. */
  def costOfGroup(sc: SparkContext, group: String): Cost = {
    val jobs = sc.statusStore.jobsList(null).filter(_.jobGroup.contains(group))
    val stages = jobs.flatMap(_.stageIds).distinct
      .flatMap(id => scala.util.Try(sc.statusStore.stageData(id)).getOrElse(Nil))
    Cost(jobs.size, stages.map(_.shuffleWriteBytes).sum)
  }
}
