package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.{Emoji, SentimentOps, TextOps}

/** Structured Streaming re-hosts (SURVEY.md §2 T1-T3 / stretch goals).
  *
  * The reference's workers are unbounded Kafka consumers; the batch
  * pipelines in graft.pipelines are pure column transforms, so the same
  * logic runs on a streaming DataFrame unchanged. What differs — and what
  * lives here — is state: watermarks, streaming dedup, and windowed
  * aggregation.
  *
  * Sources: tests drive these with MemoryStream; production wires
  * `spark.readStream.format("kafka") … from_json(value, schema)` —
  * exactly the topic+JSON serde shape of records.py:4-47.
  */
object StreamPipelines {

  /** E1 streaming: sentiment → demojize → hashtags with event-time
    * watermark + keyed dedup. Streaming dropDuplicates holds per-key
    * state; the watermark bounds it (keys older than the watermark are
    * evicted) — the scalable form of the reference's unique index
    * (twitter_consumer.py:44), which MongoDB holds forever. */
  def twitter(tweets: DataFrame): DataFrame =
    tweets
      .withColumn("sentiment", SentimentOps.vader(col("text")))
      .withColumn("text", Emoji.demojizeCol(col("text")))
      .withColumn("hashtags", TextOps.hashtags(col("text")))
      .withColumn("created_at",
        to_timestamp(col("created_at"), "yyyy-MM-dd HH:mm:ssZ"))
      .withWatermark("created_at", "1 hour")
      .dropDuplicatesWithinWatermark("tweet_id")

  /** Streaming twin of q24: watermarked tumbling event-time aggregation.
    * Late events beyond 10 minutes are dropped; window state is evicted
    * once the watermark passes the window end. */
  def eventsTumbling(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "6 hours").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("w.start").as("bucket"), col("event_type"),
        col("n"), col("sum_value"))

  /** Sliding event-time window — the overlapping-frame sibling of the
    * tumbling agg (and the streaming cousin of q79's RANGE moving
    * average): each event lands in 2h/30min = 4 overlapping windows.
    * State cost is 4× the tumbling window's, bounded the same way: a
    * window's state is evicted once the watermark passes its end. */
  def eventsSliding(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "2 hours", "30 minutes").as("w"),
        col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("w.start").as("bucket"), col("event_type"),
        col("n"), col("sum_value"))

  /** Stream-stream interval join — the streaming twin of the batch
    * range/as-of joins (q27/q29): each purchase joins the same user's
    * clicks from the preceding 5 minutes. Both sides are watermarked, so
    * Spark bounds the join state: a buffered click can be evicted once
    * the purchase-side watermark passes its 5-minute join horizon.
    * Inner interval joins emit in append mode with no extra state knobs
    * — exactly the shape that scales on a real cluster. */
  def clickPurchaseJoin(clicks: DataFrame, purchases: DataFrame): DataFrame = {
    val c = clicks
      .withWatermark("ts", "10 minutes")
      .select(col("user_id").as("c_user"), col("ts").as("click_ts"),
        col("value").as("click_value"))
    val p = purchases
      .withWatermark("ts", "10 minutes")
      .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"),
        col("value").as("purchase_value"))
    p.join(c,
      expr("""c_user = p_user AND
              click_ts >= purchase_ts - INTERVAL 5 MINUTES AND
              click_ts <= purchase_ts"""))
      .select(col("p_user").as("user_id"), col("purchase_ts"),
        col("purchase_value"), col("click_ts"), col("click_value"))
  }

  /** Stream-stream LEFT OUTER interval join: every click emits — joined
    * to a purchase that followed within 5 minutes, or null-padded once
    * the watermark proves no such purchase can still arrive. The outer
    * side is the attribution/abandonment report an inner join cannot
    * express (which clicks did NOT convert), and its null rows are
    * emitted by the state-store eviction pass, not by any batch: the
    * timing of a null result is a watermark property. State stays
    * bounded exactly as in the inner form — rows hold only until the
    * watermark passes their interval bound. */
  def clickConversion(clicks: DataFrame, purchases: DataFrame): DataFrame = {
    val c = clicks
      .withWatermark("ts", "10 minutes")
      .select(col("user_id").as("c_user"), col("ts").as("click_ts"))
    val p = purchases
      .withWatermark("ts", "10 minutes")
      .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"),
        col("value").as("purchase_value"))
    c.join(p,
      expr("""c_user = p_user AND
              purchase_ts >= click_ts AND
              purchase_ts <= click_ts + INTERVAL 5 MINUTES"""),
      "left_outer")
      .select(col("c_user").as("user_id"),
        col("click_ts"), col("purchase_ts"), col("purchase_value"))
  }

  /** Stream-static enrichment join: each micro-batch of the stream joins
    * a STATIC dimension — no watermark, no join state, because the
    * static side is complete by definition. With `broadcast()` the
    * enrich is a map-only operator inside the micro-batch (the dim ships
    * once per executor, the stream never shuffles) — the standard shape
    * for currency tables, user profiles, or blocklists at any scale
    * where the dim stays broadcastable. An inner join doubles as the
    * blocklist/allowlist filter (unmatched stream rows drop). */
  def enrichWithDim(stream: DataFrame, dim: DataFrame,
      key: String): DataFrame =
    stream.join(org.apache.spark.sql.functions.broadcast(dim), key)
}
