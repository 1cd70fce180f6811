package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.pipelines.{RedditPipeline, RssPipeline, TwitterPipeline}
import graft.sources.IdempotentSink

/** Per-batch codegen footprint of the three reference flows in
  * micro-batches, appended with IdempotentSink the way an ingest loop
  * runs them. Spark's codegen cache holds 100 classes; when one round of
  * the flows needs more than that, every round compiles its plans again.
  * Once a round's classes fit, a later round compiles only what its own
  * literals make new (the round filter, the batch's insert_date). */
class IngestFootprintSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("a third ingest round compiles at most 12 generated classes") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-footprint").toString
    try {
      val rounds = 3
      (for (r <- 0 until rounds; i <- 0 until 20) yield (r, s"t$r-$i",
        s"round $r tweet $i is great 😄 #spark #r$r", "2022-04-01 12:30:00+0000"))
        .toDF("batch", "tweet_id", "text", "created_at")
        .write.parquet(s"$dir/tweets")
      (for (r <- 0 until rounds; i <- 0 until 3) yield (r, s"p$r-$i",
        s"post $i of round $r", "2022-04-01 12:30:00",
        s"the query engine got faster $i 🎉", s"query engine round $r"))
        .toDF("batch", "id", "title", "created", "c1", "c2")
        .select($"batch", $"id", $"title", $"created",
          array(struct($"c1".as("text")), struct($"c2".as("text")))
            .as("comments"))
        .write.parquet(s"$dir/posts")
      (for (r <- 0 until rounds; i <- 0 until 3) yield (r, "f", s"article $i",
        s"https://x/$r/$i", "Mon, 04 Mar 2024 10:30:00 GMT",
        if (i == 0) Seq(2024, 3, 4, 9, 0, 0, 0, 64, -1) else null,
        if (i == 1) "<b>given</b>" else null,
        s"<p>Spark shuffles data. Engines run fast in round $r.</p>"))
        .toDF("batch", "feed_source", "title", "link", "published",
          "published_parsed", "summary", "content")
        .write.parquet(s"$dir/feeds")
      Seq("https://x/0/2").toDF("link").write.parquet(s"$dir/seen")

      val seen = spark.read.parquet(s"$dir/seen")
      def batch(name: String, r: Int): DataFrame =
        spark.read.parquet(s"$dir/$name").filter($"batch" === r).drop("batch")
      def round(r: Int): Unit = {
        IdempotentSink.append(TwitterPipeline(batch("tweets", r)),
          s"$dir/sinks/twitter", Seq("tweet_id"))
        IdempotentSink.append(RedditPipeline(batch("posts", r)),
          s"$dir/sinks/reddit", Seq("id"))
        val allSeen =
          if (r == 0) seen
          else seen.unionByName(
            spark.read.parquet(s"$dir/sinks/rss").select($"link"))
        IdempotentSink.append(RssPipeline(batch("feeds", r), allSeen),
          s"$dir/sinks/rss", Seq("link"))
      }
      def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

      // each flow ends unique on its sink key, so the sink plans no
      // second dedup of its own
      assert(IdempotentSink.uniqueOn(TwitterPipeline(batch("tweets", 0)),
        Seq("tweet_id")))
      assert(IdempotentSink.uniqueOn(RedditPipeline(batch("posts", 0)),
        Seq("id")))
      assert(IdempotentSink.uniqueOn(RssPipeline(batch("feeds", 0), seen),
        Seq("link")))

      round(0)
      round(1)
      val before = compiles
      round(2)
      val third = compiles - before
      info(s"round 3 compiled $third generated classes")
      assert(third <= 12, s"round 3 compiled $third generated classes")
      // every offered key landed exactly once, minus the seen link
      assert(spark.read.parquet(s"$dir/sinks/twitter").count() == 60)
      assert(spark.read.parquet(s"$dir/sinks/reddit").count() == 9)
      assert(spark.read.parquet(s"$dir/sinks/rss").count() == 8)
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }
}
