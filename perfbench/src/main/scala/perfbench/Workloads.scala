package perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{DurableStage, SessionCache}
import graft.pipelines.{RedditPipeline, RssPipeline, TwitterPipeline}
import graft.sources.IdempotentSink

/** Reads of the generated inputs, shared by the workloads. */
abstract class Inputs(spark: SparkSession, data: String) extends Workload {
  protected def read(name: String): DataFrame =
    spark.read.parquet(s"$data/$name.parquet")

  protected def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** The cold pass writes its outputs as parquet for the checker; every
    * later pass writes to the noop sink. */
  protected def sink(pass: Int, df: DataFrame, name: String, work: String): Unit =
    if (pass == 0) df.write.mode("overwrite").parquet(s"$work/out/$name")
    else noop(df)

  /** Tweet texts, post comments and feed contents with a title each. */
  protected def recordTexts(): DataFrame =
    read("tweets").select(col("trend").as("title"), col("text"))
      .unionByName(read("posts")
        .select(col("title"), explode(col("comments.text")).as("text")))
      .unionByName(read("feeds").select(col("title"), col("content").as("text")))
}

/** The three reference flows over the whole generated record set, every
  * enriched column written to the noop sink. */
final class Enrich(spark: SparkSession, data: String, work: String)
    extends Inputs(spark, data) {

  private def flows: Seq[(String, () => DataFrame)] = Seq(
    "twitter" -> (() => TwitterPipeline(read("tweets"))),
    "reddit" -> (() => RedditPipeline(read("posts"))),
    "rss" -> (() => RssPipeline(read("feeds"), read("seen"))))

  def hasPass(pass: Int): Boolean = true

  def ops(pass: Int): Seq[Op] = flows.map { case (name, flow) =>
    Op(name, l => l.time(s"pipelines.${name}_s")(sink(pass, flow(), name, work)))
  }

  def facts(): Map[String, Double] = Map.empty

  def texts(): DataFrame = recordTexts()
}

/** Staged and iterative corpus queries through `SparkEntry.queries`,
  * every pass from cleared stages, so each pass is a whole corpus job. */
final class Corpus(spark: SparkSession, data: String, work: String,
    queries: Seq[String]) extends Inputs(spark, data) {

  private val stageRoot =
    new File(sys.props("java.io.tmpdir"), "graft-stage")

  private def clear(): Unit = {
    SessionCache.releaseAll(spark)
    DurableStage.clearAll(spark)
  }

  def hasPass(pass: Int): Boolean = true

  override def beforePass(pass: Int): Unit = clear()

  def ops(pass: Int): Seq[Op] = queries.map { q =>
    val build = graft.SparkEntry.queries(q)
    Op(q, { l =>
      val df = l.time("operators.build_s", s"operators.$q.build_s")(
        build(spark, data))
      l.time("operators.exec_s", s"operators.$q.exec_s")(
        sink(pass, df, s"corpus/$q", work))
    })
  }

  /** Stages written this pass: the completed stage directories under the
    * stage root and their bytes. */
  override def afterPass(pass: Int, layers: Layers): Unit = {
    val stages = Option(stageRoot.listFiles).getOrElse(Array.empty[File])
      .filter(f => f.isDirectory && !f.getName.contains(".tmp-"))
    def bytes(f: File): Long =
      if (f.isDirectory) Option(f.listFiles).getOrElse(Array.empty[File])
        .map(bytes).sum
      else f.length
    layers.add("staging.builds", stages.length)
    layers.add("staging.mb", stages.map(bytes).sum / 1e6)
  }

  def facts(): Map[String, Double] = Map.empty

  def texts(): DataFrame =
    read("documents").select(col("source").as("title"), col("text"))
}

/** The flows in micro-batches, each appended with `IdempotentSink` to its
  * own parquet sink. One pass is one round: a batch of each flow. The
  * cold pass and the first warm-up passes write to throwaway sinks; the
  * last warm-up pass starts again from round 0 into fresh sinks, so every
  * measured round appends to a sink that already holds rows. */
final class Ingest(spark: SparkSession, data: String, work: String,
    firstFresh: Int, rounds: Int) extends Inputs(spark, data) {
  require(firstFresh >= 1, "ingest needs a warm-up pass")

  private var sinks = s"$work/sinks-warmup"

  private def round(pass: Int): Int =
    if (pass >= firstFresh) pass - firstFresh else pass

  def hasPass(pass: Int): Boolean = round(pass) < rounds

  override def beforePass(pass: Int): Unit =
    if (pass == firstFresh) sinks = s"$work/sinks"

  private def batch(name: String, r: Int): DataFrame =
    read(s"ingest_$name").filter(col("batch") === r).drop("batch")

  private def append(l: Layers, flow: String, enriched: DataFrame,
      key: String): Unit =
    l.time("sources.append_s")(
      IdempotentSink.append(enriched, s"$sinks/$flow", Seq(key)))

  def ops(pass: Int): Seq[Op] = {
    val r = round(pass)
    Seq(
      Op("twitter", l => l.time("pipelines.twitter_s")(
        append(l, "twitter", TwitterPipeline(batch("tweets", r)), "tweet_id"))),
      Op("reddit", l => l.time("pipelines.reddit_s")(
        append(l, "reddit", RedditPipeline(batch("posts", r)), "id"))),
      Op("rss", { l =>
        // links already seen: the initial set plus what the sink holds
        val sunk = new File(s"$sinks/rss")
        val seen =
          if (sunk.exists) read("seen").unionByName(
            spark.read.parquet(sunk.toString).select("link"))
          else read("seen")
        l.time("pipelines.rss_s")(
          append(l, "rss", RssPipeline(batch("feeds", r), seen), "link"))
      }))
  }

  def facts(): Map[String, Double] = {
    val parts = Seq("twitter", "reddit", "rss").flatMap { f =>
      Option(new File(s"$sinks/$f").listFiles).getOrElse(Array.empty[File])
        .filter(_.getName.endsWith(".parquet"))
    }
    val written = Seq("twitter", "reddit", "rss").map { f =>
      if (new File(s"$sinks/$f").exists)
        spark.read.parquet(s"$sinks/$f").count() else 0L
    }.sum
    Map("written_rows" -> written.toDouble,
      "sources.sink_files" -> parts.length.toDouble,
      "sources.sink_mb" -> parts.map(_.length).sum / 1e6)
  }

  def texts(): DataFrame = recordTexts()
}
