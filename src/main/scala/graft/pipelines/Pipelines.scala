package graft.pipelines

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.{Emoji, SentimentOps, Summarize, TextOps}
import graft.plans.TopKByFrequency

/** The reference's three Faust worker topologies (SURVEY.md §3 E1-E3)
  * re-hosted as single fused DataFrame pipelines. Where the reference
  * round-trips every stage through a Kafka broker (serialize → network →
  * deserialize), these stages fuse into one codegen'd plan — the single
  * biggest architectural win of the re-host.
  *
  * Streaming variants: the same functions apply unchanged to a streaming
  * DataFrame (see graft.streaming.StreamPipelines) because they are pure
  * column transforms + one dropDuplicates.
  */
object TwitterPipeline {

  /** E1 (twitter_consumer.py): sentiment → demojize → hashtags → sink
    * prep. Order preserved: VADER sees the raw emoji text
    * (twitter_consumer.py:70 runs before :89). */
  def apply(tweets: DataFrame): DataFrame =
    tweets
      // S7 equivalent: the reference's rotating-file ingestion log
      // (ingestion_logger.py) becomes an observable metric on the flow —
      // queryable via QueryExecutionListener / StreamingQueryListener
      // instead of grepping log files.
      .observe("twitter_ingest", count(lit(1)).as("n_ingested"))
      .withColumn("sentiment", SentimentOps.vader(col("text")))
      .withColumn("text", Emoji.demojizeCol(col("text")))
      .withColumn("hashtags", TextOps.hashtags(col("text")))
      .withColumn("created_at",
        to_timestamp(col("created_at"), "yyyy-MM-dd HH:mm:ssZ"))
      .withColumn("insert_date", current_timestamp())
      .dropDuplicates("tweet_id") // unique index, twitter_consumer.py:44
}

object RedditPipeline {

  /** E2 (reddit_consumer.py): post+comment sentiment → demojize+clean
    * comments → cross-comment bigram keywords → sink prep.
    *
    * Every step is row-local: comments are enriched in place inside the
    * array (the two rule-engine UDFs run in the `transform` lambda) and
    * the per-post top-5 bigrams come from one in-row `TopKByFrequency`,
    * so a micro-batch plans as scan → project → dedup with few enough
    * generated classes to stay in Spark's codegen cache from batch to
    * batch. An empty comment list stays empty and a null one stays
    * null, as in the reference. */
  def apply(posts: DataFrame): DataFrame = {
    val spark = posts.sparkSession
    import spark.implicits._

    // keywords: stopword-filter each comment, flatten ACROSS comments
    // (itertools.chain, reddit_consumer.py:149 — bigrams span comment
    // boundaries), adjacent unordered bigrams, per-post top-5 by
    // (count desc, a asc, b asc), flatten + order-preserving distinct
    // (reddit_consumer.py:150-151)
    val tokens = flatten(transform($"comments",
      c => TextOps.dropStopwords(TextOps.tokenize(c.getField("text")))))
    val top = TopKByFrequency.col(TextOps.adjacentBigrams(tokens), 5)
    val keywords = array_distinct(flatten(transform(top,
      p => array(p.getField("a"), p.getField("b")))))

    posts
      // S7: ingestion-log parity (ingestion_logger.py) — same observable
      // metric the twitter flow has; queryable via QueryExecutionListener
      .observe("reddit_ingest", count(lit(1)).as("n_ingested"))
      .withColumn("sentiment", SentimentOps.vader($"title"))
      // VADER first (raw text), then demojize + clean_text
      // (reddit_consumer.py:112-116 before :129-132)
      .withColumn("comments", transform($"comments", c => struct(
        TextOps.cleanText(Emoji.demojizeCol(c.getField("text"))).as("text"),
        SentimentOps.vader(c.getField("text")).as("sentiment"))))
      .withColumn("keywords", keywords)
      // a post with no bigram gets null keywords; a separate projection,
      // so the keyword chain is computed once per row
      .withColumn("keywords", when(size($"keywords") > 0, $"keywords"))
      .withColumn("created",
        to_timestamp($"created", "yyyy-MM-dd HH:mm:ss"))
      .withColumn("insert_date", current_timestamp())
      // the reference's compound unique key is (id, insert_date):
      // append-versioned snapshots (reddit_consumer.py:54-55). One batch
      // has one insert_date, so within a batch that key is `id`.
      .dropDuplicates("id")
  }
}

object RssPipeline {

  /** Honest equivalent of BeautifulSoup get_text: strip tags. (The
    * reference's script/style removal is a no-op bug —
    * rss_consumer.py:108 builds a lazy map that is never consumed — so
    * tag-stripping IS its effective behavior.) */
  def stripHtml(c: Column): Column =
    regexp_replace(c, "<[^>]*>", "")

  /** E3 (rss_consumer.py): dedup vs seen links → content branch →
    * keywords/summary NLP → summary fill → sink prep.
    *
    * `seenLinks` replaces the reference's frozen in-memory list
    * (rss_consumer.py:60-65, including its refresh bug) with the intended
    * semantics: an anti-join against the sink's current link set — at
    * scale a parquet-side anti-join, never a driver-side collection.
    * The HTTP fetch (rss_consumer.py:82-84) is out of scope for a batch
    * engine: content arrives in the `content` column (see
    * graft.sources.HttpFetch for the pluggable stub). */
  def apply(feeds: DataFrame, seenLinks: DataFrame): DataFrame = {
    val spark = feeds.sparkSession
    import spark.implicits._

    // an anti-join's result does not depend on duplicates on its right
    // side, so the seen set needs no distinct
    val fresh = feeds.join(seenLinks.select($"link"), Seq("link"), "left_anti")
      // S7: ingestion-log parity — counts FRESH rows, i.e. what survives
      // the seen-link dedup (the number the reference's log line reports)
      .observe("rss_ingest", count(lit(1)).as("n_fresh"))
      // unique index (rss_consumer.py:53), applied once and BEFORE the
      // NLP stages: everything after it is row-local, so one row per
      // link survives, and no keyword/summary cost is paid for rows the
      // sink would drop
      .dropDuplicates("link")

    // branch F2: no content → treat content as HTML, strip tags
    val withContent = fresh.withColumn("content",
      when(length(coalesce($"content", lit(""))) === 0, $"content")
        .otherwise(when($"content".contains("<"), stripHtml($"content"))
          .otherwise($"content")))

    // NLP: in-row TF top-10 tags (empty array for token-free content,
    // matching keywordsCol), sentence-scored summary reusing the same
    // keyword set
    val withNlp = withContent
      .withColumn("tags", coalesce(
        TopKByFrequency.col(Summarize.tfTokens($"content"), 10),
        array().cast("array<string>")))
      .withColumn("summary",
        when(length(coalesce($"summary", lit(""))) > 0, stripHtml($"summary"))
          .otherwise(Summarize.summaryColWith($"title", $"content", $"tags", 5)))

    // sink-time date logic (rss_consumer.py:158-164): published_parsed
    // 9-tuple wins; else dynamic %z-vs-%Z parse
    // Spark's post-3.0 parser refuses day-of-week fields in parse
    // patterns, so the "%a, " prefix is stripped before to_timestamp
    // (the reference's strptime consumes it with %a,
    // rss_consumer.py:163).
    val noDow = regexp_replace($"published", "^\\w+,\\s*", "")
    val tzTok = element_at(split($"published", " "), -1)
    val parsedPublished =
      when($"published_parsed".isNotNull && size($"published_parsed") >= 6,
        make_timestamp(
          element_at($"published_parsed", 1), element_at($"published_parsed", 2),
          element_at($"published_parsed", 3), element_at($"published_parsed", 4),
          element_at($"published_parsed", 5),
          element_at($"published_parsed", 6).cast("decimal(8,6)")))
      .otherwise(
        when(tzTok.rlike("\\d"),
          to_timestamp(noDow, "dd MMM yyyy HH:mm:ss Z"))
        .otherwise(to_timestamp(
          regexp_replace(noDow, "\\s+\\S+$", ""),
          "dd MMM yyyy HH:mm:ss")))

    withNlp
      .withColumn("published", parsedPublished)
      .withColumn("insert_date", current_timestamp())
  }
}
