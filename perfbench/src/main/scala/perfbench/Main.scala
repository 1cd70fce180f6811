package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.PerfbenchBridge
import org.apache.spark.sql.SparkSession

/** Command line of one harness run; run.py builds it. */
final case class Args(workload: String, data: String, work: String,
    out: String, seconds: Double, warmup: Int, trace: Boolean,
    threads: Int, queries: Seq[String], rounds: Int)

object Args {
  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }
      .toMap
    Args(m("workload"), m("data"), m("work"), m("out"), m("seconds").toDouble,
      m("warmup").toInt, m("trace") == "1", m("threads").toInt,
      m.get("queries").map(_.split(",").toSeq.filter(_.nonEmpty))
        .getOrElse(Nil),
      m.get("rounds").fold(0)(_.toInt))
  }
}

/** Per-pass layer times and counts, filled by the operations. */
final class Layers(spans: Option[Spans]) {
  val values = mutable.LinkedHashMap.empty[String, Double]

  def add(name: String, v: Double): Unit =
    values(name) = values.getOrElse(name, 0.0) + v

  /** Time `body` into every metric in `names` and, traced, as a span. */
  def time[T](names: String*)(body: => T): T = {
    val t0 = System.nanoTime
    try spans.fold(body)(s => s(names.head)(body))
    finally {
      val dt = (System.nanoTime - t0) / 1e9
      names.foreach(add(_, dt))
    }
  }
}

/** One closed-loop operation: a flow's write, a corpus query or one
  * micro-batch append. */
final case class Op(name: String, run: Layers => Unit)

/** A workload is a sequence of passes of operations over its inputs. */
trait Workload {
  /** Whether the inputs hold a pass numbered `pass`. */
  def hasPass(pass: Int): Boolean
  def ops(pass: Int): Seq[Op]
  def beforePass(pass: Int): Unit = ()
  def afterPass(pass: Int, layers: Layers): Unit = ()
  /** Read after the passes, untimed: counts about the run's outputs;
    * names with a dot are per-layer metrics. */
  def facts(): Map[String, Double]
  /** (title, text) rows for traced mode's per-function passes. */
  def texts(): org.apache.spark.sql.DataFrame
}

final case class OpRecord(name: String, wallNs: Long, cpuNs: Long,
    cost: PerfbenchBridge.Cost, error: Option[String])

final case class PassRecord(index: Int, ops: Seq[OpRecord],
    layers: Map[String, Double])

object Main {

  def session(a: Args): SparkSession = {
    val s = SparkSession.builder()
      .appName("perfbench")
      .master(s"local[${a.threads}]")
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.shuffle.partitions", a.threads.toString)
      .config("spark.sql.warehouse.dir", new File(a.work, "warehouse").toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    val spark = session(a)
    // the stage root lives under this run's own java.io.tmpdir; clear it
    // anyway, so no stage from another run is ever read
    graft.operators.DurableStage.clearAll(spark)
    val readyMs = System.currentTimeMillis
    val spans = if (a.trace) Some(new Spans) else None
    val listener = if (a.trace) Some(new TraceListener) else None
    listener.foreach { l =>
      spark.sparkContext.addSparkListener(l)
      spark.listenerManager.register(l)
    }
    val w: Workload = a.workload match {
      case "enrich" => new Enrich(spark, a.data, a.work)
      case "corpus" => new Corpus(spark, a.data, a.work, a.queries)
      case "ingest" => new Ingest(spark, a.data, a.work, a.warmup, a.rounds)
      case other => sys.error(s"unknown workload $other")
    }
    val sc = spark.sparkContext
    def inSpan[T](name: String)(body: => T): T = spans.fold(body)(_(name)(body))
    val t0 = System.nanoTime
    val passes = mutable.ArrayBuffer.empty[PassRecord]

    def runPass(p: Int): Unit = {
      val layers = new Layers(spans)
      def counters(): Map[String, Double] =
        if (a.trace) Counters.jvm() ++ listener.get.totals() else Map.empty
      w.beforePass(p)
      val before = counters()
      val recs = inSpan(s"pass $p")(w.ops(p).zipWithIndex.map { case (op, i) =>
        val group = s"pb-$p-$i"
        sc.setJobGroup(group, op.name)
        val cpu0 = Counters.processCpuNs
        val s0 = System.nanoTime
        val err =
          try { inSpan(op.name)(op.run(layers)); None }
          catch { case NonFatal(e) => Some(e.toString) }
        val wall = System.nanoTime - s0
        val cpu = Counters.processCpuNs - cpu0
        sc.clearJobGroup()
        PerfbenchBridge.drain(sc)
        OpRecord(op.name, wall, cpu, PerfbenchBridge.costOfGroup(sc, group), err)
      })
      w.afterPass(p, layers)
      if (a.trace) {
        PerfbenchBridge.drain(sc)
        val after = counters()
        after.foreach { case (k, v) => layers.add(k, v - before(k)) }
        layers.add("codegen.compile_ms",
          layers.values("codegen.compiles") * Counters.codegenMeanMs)
      }
      passes += PassRecord(p, recs, layers.values.toMap)
      System.err.println(f"perfbench: pass $p ${recs.map(_.wallNs).sum / 1e9}%.3f s")
    }

    // cold pass, fixed warm-up passes, then whole passes until the
    // measured window is spent
    (0 to a.warmup).foreach(runPass)
    val timedStart = System.nanoTime
    var p = a.warmup + 1
    while ((System.nanoTime - timedStart) / 1e9 < a.seconds && w.hasPass(p)) {
      runPass(p)
      p += 1
    }
    // Heap retained: what the old generation holds after a full
    // collection, which leaves every live object there. The pause lets
    // Spark's ContextCleaner drop the broadcasts the first collection
    // freed, so the second one sees their blocks gone.
    System.gc()
    Thread.sleep(1000)
    System.gc()
    val heap = java.lang.management.ManagementFactory.getMemoryPoolMXBeans
      .asScala.filter(p => p.getType == java.lang.management.MemoryType.HEAP &&
        (p.getName.contains("Old") || p.getName.contains("Tenured")))
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1e6
    val runLayers = mutable.LinkedHashMap.empty[String, Double]
    if (a.trace) {
      val texts = w.texts()
      Seq[(String, org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)](
        "vader" -> (_.select(graft.functions.SentimentOps.vader(texts("text")))),
        "demojize" -> (_.select(graft.functions.Emoji.demojizeCol(texts("text")))),
        "clean" -> (_.select(graft.functions.TextOps.cleanText(texts("text")))),
        "hashtags" -> (_.select(graft.functions.TextOps.hashtags(texts("text")))),
        "summary" -> (_.select(graft.functions.Summarize.summaryCol(
          texts("title"), texts("text"))))
      ).foreach { case (name, f) =>
        // the second pass is the one reported: the first compiles
        def once(): Double = {
          val s0 = System.nanoTime
          inSpan(s"functions.$name")(
            f(texts).write.format("noop").mode("overwrite").save())
          (System.nanoTime - s0) / 1e9
        }
        once()
        runLayers(s"functions.${name}_s") = once()
      }
    }
    val facts = w.facts()
    runLayers ++= facts.filter(_._1.contains('.'))

    val json = Json.obj(
      "session_ready_epoch_ms" -> Json.num(readyMs.toDouble),
      "heap_mb" -> Json.num(heap),
      "facts" -> Json.obj(facts.toSeq.map { case (k, v) => k -> Json.num(v) }: _*),
      "run_layers" -> Json.obj(runLayers.toSeq.map { case (k, v) =>
        k -> Json.num(v) }: _*),
      "passes" -> Json.arr(passes.toSeq.map { pr =>
        Json.obj(
          "index" -> Json.num(pr.index),
          "layers" -> Json.obj(pr.layers.toSeq.sortBy(_._1).map { case (k, v) =>
            k -> Json.num(v) }: _*),
          "ops" -> Json.arr(pr.ops.map { o =>
            Json.obj(
              "name" -> Json.str(o.name),
              "wall_s" -> Json.num(o.wallNs / 1e9),
              "cpu_s" -> Json.num(o.cpuNs / 1e9),
              "jobs" -> Json.num(o.cost.jobs),
              "shuffle_bytes" -> Json.num(o.cost.shuffleWriteBytes.toDouble),
              "error" -> o.error.fold("null")(Json.str))
          }: _*))
      }: _*))
    Files.write(new File(a.out).toPath, json.getBytes(StandardCharsets.UTF_8))
    // the program's DuckDB oracles for the checker: the corpus queries
    // and the VADER rule replay
    val oracles = graft.SparkEntry.oracleSql
    Files.write(new File(a.out + ".oracles.json").toPath, Json.obj(
      (a.queries :+ "q50_sentiment").flatMap(q => oracles.get(q).map(sql =>
        q -> Json.str(sql))): _*).getBytes(StandardCharsets.UTF_8))
    spans.foreach { s =>
      val f = new File(a.out + ".trace.json")
      Files.write(f.toPath, Json.arr(s.all.map { sp =>
        Json.obj("id" -> Json.num(sp.id), "parent" -> Json.num(sp.parent),
          "name" -> Json.str(sp.name),
          "start_s" -> Json.num((sp.startNs - t0) / 1e9),
          "end_s" -> Json.num((sp.endNs - t0) / 1e9))
      }: _*).getBytes(StandardCharsets.UTF_8))
    }
    spark.stop()
  }
}

/** Just enough JSON writing for the harness's one output file. */
object Json {
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }
  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
  def arr(vs: String*): String = vs.mkString("[", ",", "]")
}
