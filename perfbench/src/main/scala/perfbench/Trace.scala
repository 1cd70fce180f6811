package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval of the run, recorded only in traced mode. */
final case class Span(id: Int, parent: Int, name: String, startNs: Long,
    endNs: Long)

/** Spans, kept in memory and written once when the run ends. Parent -1
  * is the run itself. */
final class Spans {
  private val done = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack[Int]()
  private var next = 0

  def apply[T](name: String)(body: => T): T = {
    val id = next
    next += 1
    val parent = if (open.isEmpty) -1 else open.top
    open.push(id)
    val start = System.nanoTime
    try body
    finally {
      open.pop()
      done += Span(id, parent, name, start, System.nanoTime)
    }
  }

  def all: Seq[Span] = done.toSeq.sortBy(_.id)
}

/** Counters Spark and the JVM already keep, read as running totals so a
  * pass's share is the difference of two snapshots. */
object Counters {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def processCpuNs: Long = os.getProcessCpuTime

  /** JVM and codegen totals; times in seconds. */
  def jvm(): Map[String, Double] = {
    val gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum
    Map(
      "jvm.jit_s" -> ManagementFactory.getCompilationMXBean
        .getTotalCompilationTime / 1e3,
      "jvm.gc_s" -> gcMs / 1e3,
      "jvm.classes_loaded" -> ManagementFactory.getClassLoadingMXBean
        .getTotalLoadedClassCount.toDouble,
      "codegen.compiles" -> CodegenMetrics.METRIC_COMPILATION_TIME.getCount
        .toDouble)
  }

  /** Mean compile time in ms of the compiles the histogram has sampled.
    * The histogram keeps a decaying sample, not a sum, so a pass's
    * compile time can only be estimated: its compiles times this mean,
    * read after the pass. */
  def codegenMeanMs: Double =
    CodegenMetrics.METRIC_COMPILATION_TIME.getSnapshot.getMean
}

/** Traced mode's listeners: Spark jobs, stages, tasks and task metrics,
  * jobs started by a round barrier's checkpoint, and Catalyst's phase
  * times from the QueryExecutionListener. Running totals; the harness
  * takes differences around each pass after draining the bus. */
final class TraceListener extends SparkListener with QueryExecutionListener {
  private val c = mutable.LinkedHashMap[String, AtomicLong](
    Seq("spark.jobs", "spark.stages", "spark.tasks", "run_ms", "cpu_ns",
      "shuffle_bytes", "spill_bytes", "barrier.checkpoint_jobs",
      "analysis_ms", "optimization_ms", "planning_ms")
      .map(_ -> new AtomicLong): _*)

  private def add(k: String, v: Long): Unit = c(k).addAndGet(v)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    add("spark.jobs", 1)
    // A job's last stage is named after its call site, e.g.
    // "localCheckpoint at Barrier.scala:83".
    if (e.stageInfos.nonEmpty &&
        e.stageInfos.maxBy(_.stageId).name.contains(" at Barrier.scala:"))
      add("barrier.checkpoint_jobs", 1)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    add("spark.stages", 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    add("spark.tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      add("run_ms", m.executorRunTime)
      add("cpu_ns", m.executorCpuTime)
      add("shuffle_bytes", m.shuffleWriteMetrics.bytesWritten)
      add("spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  private def phases(qe: QueryExecution): Unit = {
    val p = qe.tracker.phases
    Seq("analysis", "optimization", "planning").foreach { k =>
      p.get(k).foreach(s => add(k + "_ms", s.durationMs))
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = phases(qe)

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = phases(qe)

  def totals(): Map[String, Double] = {
    val t = c.map { case (k, v) => k -> v.get.toDouble }
    Map(
      "spark.jobs" -> t("spark.jobs"),
      "spark.stages" -> t("spark.stages"),
      "spark.tasks" -> t("spark.tasks"),
      "spark.executor_run_s" -> t("run_ms") / 1e3,
      "spark.executor_cpu_s" -> t("cpu_ns") / 1e9,
      "spark.shuffle_write_mb" -> t("shuffle_bytes") / 1e6,
      "spark.spill_mb" -> t("spill_bytes") / 1e6,
      "barrier.checkpoint_jobs" -> t("barrier.checkpoint_jobs"),
      "catalyst.analysis_ms" -> t("analysis_ms"),
      "catalyst.optimization_ms" -> t("optimization_ms"),
      "catalyst.planning_ms" -> t("planning_ms"))
  }
}
