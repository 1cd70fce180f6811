package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.pipelines.{RedditPipeline, RssPipeline, TwitterPipeline}
import graft.sources.HttpFetch

/** End-to-end pipeline tests on reference-shaped fixtures (FIXTURES.md §A). */
class PipelineSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def seqOf[T](r: Row, name: String): Seq[T] =
    r.getSeq[T](r.fieldIndex(name)).toIndexedSeq

  test("twitter pipeline: sentiment, demojize, hashtags, parse, dedup") {
    import spark.implicits._
    val tweets = Seq(
      ("t1", "Spark 4 is great 🎉 #spark #data", "2022-04-01 12:30:00+0000", "ml"),
      ("t1", "duplicate id must drop", "2022-04-01 12:31:00+0000", "ml"),
      ("t2", "this release is terrible", "2022-04-01 13:00:00+0200", "ml"),
    ).toDF("tweet_id", "text", "created_at", "trend")
      .withColumn("metrics", map(lit("views"), lit("1")))
      .withColumn("author", map(lit("name"), lit("alice")))

    val out = TwitterPipeline(tweets).orderBy($"tweet_id")
    assert(out.count() == 2) // dedup on tweet_id
    val t1 = out.filter($"tweet_id" === "t1").head()
    assert(seqOf[String](t1, "hashtags") == Seq("spark", "data"))
    assert(t1.getAs[String]("text").contains(":party_popper:"))
    assert(t1.getAs[Row]("sentiment").getAs[Double]("compound") > 0)
    val t2 = out.filter($"tweet_id" === "t2").head()
    assert(t2.getAs[Row]("sentiment").getAs[Double]("compound") < 0)
    // +0200 converted to UTC instant
    assert(t2.getAs[java.sql.Timestamp]("created_at").toString
      .startsWith("2022-04-01 11:00:00"))
  }

  test("reddit pipeline: nested comment sentiment, cleaned text, cross-comment bigrams") {
    val commentsType = ArrayType(StructType(Seq(
      StructField("text", StringType), StructField("score", LongType))))
    val posts = spark.createDataFrame(
      java.util.List.of(
        Row("p1", "Spark 4 is great 🎉", "2022-04-01 12:30:00", 128L,
          Seq(Row("great release, love the new query engine 😄", 10L),
              Row("the query engine got faster again!", 3L)))),
      StructType(Seq(
        StructField("id", StringType),
        StructField("title", StringType),
        StructField("created", StringType),
        StructField("score", LongType),
        StructField("comments", commentsType))))

    val out = RedditPipeline(posts).head()
    assert(out.getAs[Row]("sentiment").getAs[Double]("compound") != 0.0)
    val cs = seqOf[Row](out, "comments")
    assert(cs.length == 2)
    // cleaned: lowercase, no punctuation, demojized emoji then cleaned away
    assert(cs.head.getAs[String]("text").startsWith("great release love"))
    assert(cs.head.getAs[Row]("sentiment").getAs[Double]("compound") > 0)
    // bigram keywords exist and are cleaned tokens
    val kws = seqOf[String](out, "keywords")
    assert(kws.nonEmpty && kws.forall(w => w == w.toLowerCase))
    // "query engine" appears in both comments → its pair must rank top
    assert(kws.containsSlice(Seq("engine", "query")) ||
      kws.containsSlice(Seq("query", "engine")))
  }

  test("reddit pipeline: empty and null comment lists, posts with no bigram") {
    val commentsType = ArrayType(StructType(Seq(
      StructField("text", StringType), StructField("score", LongType))))
    val posts = spark.createDataFrame(
      java.util.List.of(
        Row("empty", "Nothing said", "2022-04-01 12:30:00", 1L, Seq()),
        Row("null", "No comment field", "2022-04-01 12:30:00", 1L, null),
        // one surviving token per comment: the only bigram spans the
        // comment boundary ("spark", "fast"), so keywords are that pair
        Row("span", "Across", "2022-04-01 12:30:00", 1L,
          Seq(Row("the spark", 1L), Row("fast!", 2L))),
        // a single non-stopword token in total: no bigram at all
        Row("lone", "Alone", "2022-04-01 12:30:00", 1L,
          Seq(Row("the engine", 1L)))),
      StructType(Seq(
        StructField("id", StringType),
        StructField("title", StringType),
        StructField("created", StringType),
        StructField("score", LongType),
        StructField("comments", commentsType))))

    val out = RedditPipeline(posts).collect()
      .map(r => r.getAs[String]("id") -> r).toMap
    assert(out.size == 4)
    // the reference keeps an empty comment list empty; a null list stays
    // null — no phantom comment either way
    assert(seqOf[Row](out("empty"), "comments").isEmpty)
    assert(out("null").isNullAt(out("null").fieldIndex("comments")))
    for (id <- Seq("empty", "null", "lone")) {
      val r = out(id)
      assert(r.isNullAt(r.fieldIndex("keywords")), s"$id keywords")
      assert(r.getAs[Row]("sentiment") != null, s"$id post sentiment")
    }
    assert(seqOf[String](out("span"), "keywords") == Seq("fast", "spark"))
    val lone = seqOf[Row](out("lone"), "comments")
    assert(lone.map(_.getAs[String]("text")) == Seq("the engine"))
    assert(lone.head.getAs[Row]("sentiment") != null)
  }

  test("rss pipeline: anti-join dedup, html strip, nlp fill, date branches") {
    import spark.implicits._
    val feeds = Seq(
      // seen link → dropped
      ("f", "Old news", "https://x/seen", null.asInstanceOf[String],
        Seq(2024, 3, 4, 10, 30, 0, 0, 64, -1), null.asInstanceOf[String],
        "<p>body</p>"),
      // published_parsed wins
      ("f", "Spark shuffles data fast", "https://x/a",
        "Mon, 04 Mar 2024 10:30:00 GMT",
        Seq(2024, 3, 4, 9, 0, 0, 0, 64, -1), null.asInstanceOf[String],
        "<html><p>Spark shuffles data. Engines run fast. Filler.</p></html>"),
      // dynamic parse, offset branch
      ("f", "Offsets", "https://x/b", "Mon, 04 Mar 2024 10:30:00 +0100",
        null.asInstanceOf[Seq[Int]], "<b>given summary</b>", "plain content"),
    ).toDF("feed_source", "title", "link", "published", "published_parsed",
      "summary", "content")
    val seen = Seq("https://x/seen").toDF("link")

    val out = RssPipeline(feeds, seen).orderBy($"link")
    assert(out.count() == 2)
    val a = out.filter($"link" === "https://x/a").head()
    // published_parsed[:6] wins over the string
    assert(a.getAs[java.sql.Timestamp]("published").toString
      .startsWith("2024-03-04 09:00:00"))
    assert(!a.getAs[String]("content").contains("<"))
    assert(a.getAs[String]("summary").nonEmpty)
    assert(seqOf[String](a, "tags").nonEmpty)
    val b = out.filter($"link" === "https://x/b").head()
    // +0100 → UTC instant
    assert(b.getAs[java.sql.Timestamp]("published").toString
      .startsWith("2024-03-04 09:30:00"))
    // existing summary html-stripped, not regenerated
    assert(b.getAs[String]("summary") == "given summary")
  }

  test("http fetch stub: mapPartitions adds content, drops failures") {
    import spark.implicits._
    val feeds = Seq(("https://x/1", "t1"), ("https://x/fail", "t2"))
      .toDF("link", "title")
    val fetched = HttpFetch.fetchContent(feeds,
      link => if (link.endsWith("fail")) None else Some(s"<p>$link</p>"))
    val rows = fetched.collect()
    assert(rows.length == 1)
    assert(rows.head.getAs[String]("content") == "<p>https://x/1</p>")
  }
}
