package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.streaming.StreamPipelines

case class InTweet(tweet_id: String, text: String, created_at: String)
case class InEvent(ts: java.sql.Timestamp, event_type: String, value: Double)
case class UserEvent(user_id: Long, ts: java.sql.Timestamp, value: Double)

class StreamingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("streaming twitter pipeline: enrich + watermarked dedup") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[InTweet]
    src.addData(
      InTweet("t1", "great stuff 🎉 #ok", "2024-01-01 10:00:00+0000"),
      InTweet("t1", "dup within watermark", "2024-01-01 10:00:30+0000"),
      InTweet("t2", "bad news", "2024-01-01 10:01:00+0000"))
    val q = StreamPipelines.twitter(src.toDF())
      .writeStream.format("memory").queryName("tw_out")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val rows = spark.table("tw_out").orderBy($"tweet_id").collect()
      assert(rows.map(_.getAs[String]("tweet_id")).toSeq == Seq("t1", "t2"))
      val t1 = rows(0)
      assert(t1.getAs[String]("text").contains(":party_popper:"))
      assert(t1.getSeq[String](t1.fieldIndex("hashtags")) == Seq("ok"))
    } finally q.stop()
  }

  test("streaming tumbling window agg with watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[InEvent]
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    src.addData(
      InEvent(ts("2024-01-01 01:00:00"), "click", 1.0),
      InEvent(ts("2024-01-01 02:00:00"), "click", 2.0),
      InEvent(ts("2024-01-01 07:00:00"), "view", 5.0))
    val q = StreamPipelines.eventsTumbling(src.toDF())
      .writeStream.format("memory").queryName("ev_out")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val rows = spark.table("ev_out").orderBy($"bucket", $"event_type").collect()
      assert(rows.length == 2)
      assert(rows(0).getAs[Long]("n") == 2) // 00:00-06:00 clicks
      assert(rows(0).getAs[Double]("sum_value") == 3.0)
      assert(rows(1).getAs[String]("event_type") == "view")
    } finally q.stop()
  }

  test("streaming sliding window: one event lands in exactly 4 overlapping windows") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[InEvent]
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    src.addData(InEvent(ts("2024-01-01 03:00:00"), "click", 1.0))
    val q = StreamPipelines.eventsSliding(src.toDF())
      .writeStream.format("memory").queryName("ev_slide")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val rows = spark.table("ev_slide").orderBy($"bucket").collect()
      // 2h window / 30min slide → starts 01:30, 02:00, 02:30, 03:00
      assert(rows.length == 4, s"expected 4 overlapping windows, got ${rows.length}")
      assert(rows.map(_.getAs[java.sql.Timestamp]("bucket").toString.substring(11, 16)).toSeq
        == Seq("01:30", "02:00", "02:30", "03:00"))
      assert(rows.forall(_.getAs[Long]("n") == 1L))
    } finally q.stop()
  }
}

class StreamJoinSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("stream-stream interval join: purchases pick up preceding clicks only") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val clicks = MemoryStream[UserEvent]
    val purchases = MemoryStream[UserEvent]
    val q = StreamPipelines
      .clickPurchaseJoin(clicks.toDF(), purchases.toDF())
      .writeStream.format("memory").queryName("cp_join")
      .outputMode("append").start()
    try {
      clicks.addData(
        UserEvent(1L, ts("2024-01-01 10:00:00"), 0.5), // 2 min before → joins
        UserEvent(1L, ts("2024-01-01 09:50:00"), 0.1), // 12 min before → out of window
        UserEvent(2L, ts("2024-01-01 10:01:00"), 0.9)) // other user
      purchases.addData(UserEvent(1L, ts("2024-01-01 10:02:00"), 42.0))
      q.processAllAvailable()
      val rows = spark.table("cp_join").collect()
      assert(rows.length == 1, rows.mkString(";"))
      val r = rows.head
      assert(r.getAs[Long]("user_id") == 1L)
      assert(r.getAs[Double]("click_value") == 0.5)
      assert(r.getAs[Double]("purchase_value") == 42.0)
      // a click AFTER the purchase must not join (interval is one-sided)
      clicks.addData(UserEvent(1L, ts("2024-01-01 10:03:00"), 0.7))
      q.processAllAvailable()
      assert(spark.table("cp_join").count() == 1)
    } finally q.stop()
  }

  test("left-outer interval join: unmatched clicks null-pad only after the watermark closes them") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val clicks = MemoryStream[UserEvent]
    val purchases = MemoryStream[UserEvent]
    val q = StreamPipelines
      .clickConversion(clicks.toDF(), purchases.toDF())
      .writeStream.format("memory").queryName("conv_join")
      .outputMode("append").start()
    try {
      clicks.addData(
        UserEvent(1L, ts("2024-01-01 10:00:00"), 0.5), // converts at 10:03
        UserEvent(2L, ts("2024-01-01 10:00:00"), 0.9)) // never converts
      purchases.addData(UserEvent(1L, ts("2024-01-01 10:03:00"), 42.0))
      q.processAllAvailable()
      val matched = spark.table("conv_join")
        .filter($"purchase_ts".isNotNull).collect()
      assert(matched.length == 1 && matched.head.getAs[Long]("user_id") == 1L)
      // user 2's null row must NOT have emitted yet: its 5-minute
      // interval is still open under the watermark
      assert(spark.table("conv_join").filter($"purchase_ts".isNull).isEmpty,
        "outer row emitted before the watermark closed the interval")
      // advance both watermarks far past 10:05 + 10min delay
      clicks.addData(UserEvent(9L, ts("2024-01-01 11:00:00"), 0.0))
      purchases.addData(UserEvent(9L, ts("2024-01-01 11:00:00"), 0.0))
      q.processAllAvailable()
      // one more trigger so the eviction pass lands in the sink
      clicks.addData(UserEvent(9L, ts("2024-01-01 11:10:00"), 0.0))
      purchases.addData(UserEvent(9L, ts("2024-01-01 11:10:00"), 0.0))
      q.processAllAvailable()
      val u2 = spark.table("conv_join")
        .filter($"user_id" === 2L).collect()
      assert(u2.length == 1 && u2.head.isNullAt(u2.head.fieldIndex("purchase_ts")),
        s"user 2 must emit exactly one null-padded abandonment row: ${u2.toSeq}")
    } finally q.stop()
  }

  test("stream-static broadcast join enriches per micro-batch and filters unmatched") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dim = Seq((1L, "gold"), (2L, "silver")).toDF("user_id", "tier")
    val src = MemoryStream[UserEvent]
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    src.addData(
      UserEvent(1L, ts("2024-01-01 10:00:00"), 5.0),
      UserEvent(3L, ts("2024-01-01 10:00:10"), 7.0)) // 3 not in dim → drops
    val q = StreamPipelines.enrichWithDim(src.toDF(), dim, "user_id")
      .writeStream.format("memory").queryName("enrich_out")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      src.addData(UserEvent(2L, ts("2024-01-01 10:01:00"), 9.0))
      q.processAllAvailable()
      val rows = spark.table("enrich_out")
        .select($"user_id", $"tier", $"value")
        .as[(Long, String, Double)].collect().sortBy(_._1)
      assert(rows.toSeq == Seq((1L, "gold", 5.0), (2L, "silver", 9.0)),
        s"got ${rows.toSeq}")
      // the enrich is stateless: no streaming state store in the plan
      val progress = q.lastProgress
      assert(progress.stateOperators.isEmpty,
        "stream-static join must hold no state")
    } finally q.stop()
  }

  test("incremental dedup: streaming foreachBatch twin equals the batch probe across a 3-batch split") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.DedupQueries
    import graft.streaming.StreamingDedup
    val sf = "/root/testdata/sf0.001"
    val tmp = java.nio.file.Files.createTempDirectory("graft-sdedup")
      .toString
    val docs = graft.sources.Tables.documents(spark, sf)
      .select($"doc_id", $"text")
    // q85/q112's append convention: doc_id % 3 == 0 is the new crawl
    val appended = docs.filter($"doc_id" % 3 === 0)
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    assert(appended.nonEmpty)
    StreamingDedup.seedIndex(docs.filter($"doc_id" % 3 =!= 0), s"$tmp/idx")
    // three micro-batches, processAllAvailable between adds so each
    // chunk is its own batch — within-append pairs must be found
    // ACROSS batches via the index refresh, not just within one
    val src = MemoryStream[(Long, String)]
    val q = StreamingDedup.start(
      src.toDF().toDF("doc_id", "text"),
      s"$tmp/idx", s"$tmp/pairs", s"$tmp/ckpt")
    try {
      appended.grouped((appended.length + 2) / 3).foreach { chunk =>
        src.addData(chunk.toIndexedSeq)
        q.processAllAvailable()
      }
    } finally q.stop()
    val streamed = spark.read.parquet(s"$tmp/pairs")
      .select($"x_id", $"y_id", $"jaccard").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val batch = DedupQueries.qIncrementalLsh(spark, sf)
      .select($"x_id", $"y_id", $"jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(batch.nonEmpty, "split must plant near-dups for the proof to bite")
    assert(streamed == batch,
      s"streaming twin diverged: extra=${streamed -- batch} " +
        s"missing=${batch -- streamed}")
  }

  test("streaming as-of enrichment ≡ batch q27 across a 3-batch split") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamingAsOf
    val sf = "/root/testdata/sf0.001"
    def r4(x: Double): Double =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    // event-time-ordered feed, clicks before co-timed purchases (the
    // batch join's side ordering) so a tercile cut can never place a
    // matching co-timed click AFTER its purchase
    val evs = graft.sources.Tables.events(spark, sf)
      .filter($"event_type".isin("click", "purchase"))
      .select($"user_id", $"ts", $"event_type", $"event_id", $"value")
      .as[StreamingAsOf.Ev].collect()
      .sortBy(e => (e.ts.getTime,
        if (e.event_type == "click") 0 else 1, e.event_id))
    val n = evs.length
    assert(n > 100, "fixture corpus unexpectedly small")
    val batches = Seq(evs.slice(0, n / 3), evs.slice(n / 3, 2 * n / 3),
      evs.slice(2 * n / 3, n))
    val src = MemoryStream[StreamingAsOf.Ev]
    val q = StreamingAsOf(src.toDS())
      .writeStream.format("memory").queryName("asof_stream_out")
      .outputMode("append").start()
    val got = try {
      batches.foreach { b =>
        src.addData(b.toIndexedSeq: _*); q.processAllAvailable()
      }
      spark.table("asof_stream_out").as[StreamingAsOf.AsOfOut].collect()
        .map(o => o.event_id -> ((o.user_id, r4(o.value),
          o.click_ts.map(_.toString).orNull,
          o.click_value.map(v => r4(v).toString).orNull))).toMap
    } finally q.stop()
    val exp = SparkEntry.queries("q27_asof_join")(spark, sf).collect()
      .map { r =>
        r.getAs[Long]("event_id") -> ((r.getAs[Long]("user_id"),
          r.getAs[Double]("value"),
          Option(r.getAs[java.sql.Timestamp]("click_ts"))
            .map(_.toString).orNull,
          Option(r.get(r.fieldIndex("click_value")))
            .map(_.toString).orNull))
      }.toMap
    assert(got.size == exp.size, s"${got.size} vs ${exp.size} purchases")
    val diffs = exp.keys.filter(k => got(k) != exp(k)).take(3)
    assert(diffs.isEmpty, diffs.map(k =>
      s"$k: stream=${got(k)} batch=${exp(k)}").mkString("; "))
  }
}

class SessionizeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import graft.streaming.Sessionize


  test("flatMapGroupsWithState sessionization closes sessions across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[Sessionize.Event]
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val q = Sessionize(src.toDS())
      .writeStream.format("memory").queryName("sess_out")
      .outputMode("append").start()
    try {
      // batch 1: one session for user 1 (gap < 30 min), opener for user 2
      src.addData(
        Sessionize.Event(1L, ts("2024-01-01 10:00:00"), 1.0),
        Sessionize.Event(1L, ts("2024-01-01 10:10:00"), 2.0),
        Sessionize.Event(2L, ts("2024-01-01 10:00:00"), 9.0))
      q.processAllAvailable()
      assert(spark.table("sess_out").count() == 0) // nothing closed yet
      // batch 2: user 1 returns 2h later → session 1 closes by gap; the
      // advanced watermark (11:00) also timeout-flushes user 2's idle
      // session (deadline 10:30) on the follow-up trigger
      src.addData(Sessionize.Event(1L, ts("2024-01-01 12:00:00"), 3.0))
      q.processAllAvailable()
      val u1 = spark.table("sess_out").filter($"user_id" === 1L).collect()
      assert(u1.length == 1)
      assert(u1.head.getAs[Long]("session_id") == 1L)
      assert(u1.head.getAs[Long]("n_events") == 2L)
      assert(u1.head.getAs[java.sql.Timestamp]("session_end").toString
        .startsWith("2024-01-01 10:10:00"))
      val u2 = spark.table("sess_out").filter($"user_id" === 2L).collect()
      assert(u2.length == 1 && u2.head.getAs[Long]("n_events") == 1L,
        "user 2's idle session should be timeout-flushed")
      // batch 3: another 2h gap closes session 2 (the 12:00 singleton)
      src.addData(Sessionize.Event(1L, ts("2024-01-01 14:00:00"), 4.0))
      q.processAllAvailable()
      val s2 = spark.table("sess_out").filter($"user_id" === 1L)
        .orderBy($"session_id").collect()
      assert(s2.length == 2 && s2(1).getAs[Long]("n_events") == 1L)
    } finally q.stop()
  }

  test("idle session is flushed and evicted by the event-time timeout") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[Sessionize.Event]
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val q = Sessionize(src.toDS())
      .writeStream.format("memory").queryName("sess_timeout")
      .outputMode("append").start()
    try {
      // user 1 goes idle; user 2 keeps the stream (and watermark) moving
      src.addData(
        Sessionize.Event(1L, ts("2024-01-01 10:00:00"), 1.0),
        Sessionize.Event(2L, ts("2024-01-01 10:00:00"), 9.0))
      q.processAllAvailable()
      // watermark after this batch = 20:00 - 1h = 19:00, far past user 1's
      // idle deadline (10:30)...
      src.addData(Sessionize.Event(2L, ts("2024-01-01 20:00:00"), 9.0))
      q.processAllAvailable()
      // ...so the NEXT trigger fires user 1's timeout: flushed, no event
      src.addData(Sessionize.Event(2L, ts("2024-01-01 20:10:00"), 9.0))
      q.processAllAvailable()
      val u1 = spark.table("sess_timeout").filter($"user_id" === 1L).collect()
      assert(u1.length == 1, "idle session must be timeout-flushed")
      assert(u1.head.getAs[Long]("n_events") == 1L)
      assert(u1.head.getAs[java.sql.Timestamp]("session_end").toString
        .startsWith("2024-01-01 10:00:00"))
    } finally q.stop()
  }

  test("batch q26 and the streaming sessionizer agree on session structure") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // replay sf0.001 events through the streaming sessionizer in one
    // batch + a far-future closer per user, then compare CLOSED sessions
    // to the batch query's sessions
    val ev = graft.sources.Tables.events(spark, "/root/testdata/sf0.001")
      .select($"user_id", $"ts", $"value").as[Sessionize.Event].collect()
    val closer = ev.map(_.user_id).distinct.map(u =>
      Sessionize.Event(u, java.sql.Timestamp.valueOf("2030-01-01 00:00:00"), 0.0))
    val src = MemoryStream[Sessionize.Event]
    val q = Sessionize(src.toDS())
      .writeStream.format("memory").queryName("sess_all")
      .outputMode("append").start()
    try {
      src.addData(ev.toIndexedSeq)
      src.addData(closer.toIndexedSeq)
      q.processAllAvailable()
      val streamed = spark.table("sess_all")
        .select($"user_id", $"session_id", $"n_events")
        .as[(Long, Long, Long)].collect().toSet
      val batch = graft.operators.TimeQueries
        .qSessionize(spark, "/root/testdata/sf0.001")
        .select($"user_id", $"session_id", $"n_events")
        .as[(Long, Long, Long)].collect().toSet
      assert(streamed == batch)
    } finally q.stop()
  }

  test("streaming throttle agrees with batch q103 across a batch split") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.Throttle
    // replay sf0.001 events (time-ordered, as a watermarked feed would
    // deliver on-time data) through the streaming throttle in two
    // batches split at the median timestamp
    val ev = graft.sources.Tables.events(spark, "/root/testdata/sf0.001")
      .select($"event_id", $"user_id", $"event_type", $"ts")
      .as[Throttle.Event].collect().sortBy(e => (e.ts.getTime, e.event_id))
    val (first, second) = ev.splitAt(ev.length / 2)
    val src = MemoryStream[Throttle.Event]
    val q = Throttle(src.toDS())
      .writeStream.format("memory").queryName("throttle_all")
      .outputMode("append").start()
    try {
      src.addData(first.toIndexedSeq)
      q.processAllAvailable()
      src.addData(second.toIndexedSeq)
      q.processAllAvailable()
      val streamed = spark.table("throttle_all")
        .select($"event_id").as[Long].collect().toSet
      val batch = graft.operators.TimeQueries
        .qThrottleLastKept(spark, "/root/testdata/sf0.001")
        .select($"event_id").as[Long].collect().toSet
      assert(streamed == batch,
        s"stream/batch diverge: only-stream=${(streamed -- batch).take(5)} " +
          s"only-batch=${(batch -- streamed).take(5)}")
    } finally q.stop()
  }

  test("transformWithState throttle agrees with batch q103 across a batch split") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.Throttle
    // the new API runs only on the RocksDB state-store provider —
    // scope the provider switch to this query's lifetime
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prior = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val ev = graft.sources.Tables.events(spark, "/root/testdata/sf0.001")
      .select($"event_id", $"user_id", $"event_type", $"ts")
      .as[Throttle.Event].collect().sortBy(e => (e.ts.getTime, e.event_id))
    val (first, second) = ev.splitAt(ev.length / 2)
    val src = MemoryStream[Throttle.Event]
    val q = Throttle.viaTransformWithState(src.toDS())
      .writeStream.format("memory").queryName("throttle_tws")
      .outputMode("append").start()
    try {
      src.addData(first.toIndexedSeq)
      q.processAllAvailable()
      src.addData(second.toIndexedSeq)
      q.processAllAvailable()
      val streamed = spark.table("throttle_tws")
        .select($"event_id").as[Long].collect().toSet
      val batch = graft.operators.TimeQueries
        .qThrottleLastKept(spark, "/root/testdata/sf0.001")
        .select($"event_id").as[Long].collect().toSet
      assert(streamed == batch,
        s"tws/batch diverge: only-stream=${(streamed -- batch).take(5)} " +
          s"only-batch=${(batch -- streamed).take(5)}")
    } finally {
      q.stop()
      prior match {
        case Some(v) => spark.conf.set(providerKey, v)
        case None    => spark.conf.unset(providerKey)
      }
    }
  }
}

class MultimodalSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import graft.functions.Multimodal

  test("magic-number sniffing on crafted headers") {
    import spark.implicits._
    val png = Array[Byte](0x89.toByte, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A, 1, 2)
    val jpg = Array[Byte](0xFF.toByte, 0xD8.toByte, 0xFF.toByte, 0xE0.toByte, 0, 1)
    val mp4 = "....ftypisom".getBytes("UTF-8")
    val txt = "hello".getBytes("UTF-8")
    val got = Seq(("a", png), ("b", jpg), ("c", mp4), ("d", txt))
      .toDF("id", "media")
      .select($"id", Multimodal.mediaKind($"media").as("kind"))
      .orderBy($"id").as[(String, String)].collect().toSeq
    assert(got == Seq("a" -> "png", "b" -> "jpeg", "c" -> "mp4", "d" -> "unknown"))
  }

  test("aHash: retouched copy collides, inverted image does not") {
    import graft.operators.MultimodalQueries._
    import graft.functions.MediaGen
    val hA = Multimodal.aHash(MediaGen.grayPng(PatA))
    val hB = Multimodal.aHash(MediaGen.grayPng(PatB))
    val hC = Multimodal.aHash(MediaGen.grayPng(PatC))
    val hFlat = Multimodal.aHash(MediaGen.flatGrayPng(4, 3, 128))
    // decode-path hashes agree with the oracle's independent arithmetic
    assert(hA.contains(patHash(PatA)))
    assert(hC.contains(patHash(PatC)))
    assert(hFlat.contains(0L))
    // the dedup contract: byte-different retouch collides, invert splits
    assert(MediaGen.grayPng(PatA).toSeq != MediaGen.grayPng(PatB).toSeq,
      "fixture A/B must differ at the byte level")
    assert(hA == hB, "one sub-threshold pixel retouch must not move aHash")
    assert(hA != hC && hA != hFlat)
    // corrupt payload: error isolation, not a throw
    assert(Multimodal.aHash("not an image".getBytes("UTF-8")).isEmpty)
  }

  /** Encode a BufferedImage to bytes with the JDK's own writers, so the
    * decode fixtures are real container files with known dimensions. */
  private def imageBytes(img: java.awt.image.BufferedImage,
      fmt: String): Array[Byte] = {
    val baos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, fmt, baos), s"no $fmt writer")
    baos.toByteArray
  }

  test("real ImageIO decode: PNG/GIF/BMP fixtures with known dimensions") {
    import java.awt.image.BufferedImage
    val gray = new BufferedImage(5, 4, BufferedImage.TYPE_BYTE_GRAY)
    val rgb = new BufferedImage(7, 2, BufferedImage.TYPE_3BYTE_BGR)
    (0 until 7).foreach(x => rgb.setRGB(x, 0, 0xFF0000)) // some non-black px
    val png = Multimodal.decodeImage(imageBytes(gray, "png")).get
    assert((png.getWidth, png.getHeight,
      png.getColorModel.getNumComponents) == (5, 4, 1))
    val bmp = Multimodal.decodeImage(imageBytes(rgb, "bmp")).get
    assert((bmp.getWidth, bmp.getHeight,
      bmp.getColorModel.getNumComponents) == (7, 2, 3))
    val gif = Multimodal.decodeImage(imageBytes(rgb, "gif")).get
    assert((gif.getWidth, gif.getHeight) == (7, 2))
    // corrupt and non-image payloads are rejected, not thrown
    assert(Multimodal.decodeImage("not an image".getBytes).isEmpty)
    assert(Multimodal.decodeImage(
      imageBytes(gray, "png").take(20)).isEmpty)
  }

  test("planted tiny PNG decodes to its authored constants") {
    val bytes = java.util.HexFormat.of().parseHex(
      graft.operators.MultimodalQueries.TinyPngHex.toLowerCase)
    val img = Multimodal.decodeImage(bytes).get
    assert((img.getWidth, img.getHeight,
      img.getColorModel.getNumComponents) == (4, 3, 1))
    // scanlines are (0, 64, 128, 255) ×3 rows → buckets 0/2/4/7, 3 each
    assert(Multimodal.lumaHistogram(img, 8).toSeq ==
      Seq(3f, 0f, 3f, 0f, 3f, 0f, 0f, 3f))
  }

  test("decodeFeatures: real decode metadata, null for undecodable rows") {
    import spark.implicits._
    val gray = new java.awt.image.BufferedImage(5, 4,
      java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    val df = Seq(("x", imageBytes(gray, "png")), ("y", "plain-text".getBytes))
      .toDF("id", "media")
    val out = Multimodal.decodeFeatures(df, "media", dim = 8, nFrames = 2)
    assert(out.columns.toSeq == Seq("id", "media", "width", "height",
      "channels", "features", "frames"))
    val rows = out.orderBy($"id").collect()
    val x = rows(0)
    assert(x.getInt(x.fieldIndex("width")) == 5)
    assert(x.getInt(x.fieldIndex("height")) == 4)
    assert(x.getInt(x.fieldIndex("channels")) == 1)
    // histogram counts sum to width×height
    assert(x.getSeq[Float](x.fieldIndex("features")).sum == 20f)
    assert(x.getSeq[Array[Byte]](x.fieldIndex("frames")).length == 2)
    val y = rows(1)
    assert(y.isNullAt(y.fieldIndex("width")))
    assert(y.isNullAt(y.fieldIndex("features")))
    assert(y.getSeq[Array[Byte]](y.fieldIndex("frames")).length == 2)
  }

  test("empty/degenerate payloads") {
    assert(Multimodal.decodeImage(Array.emptyByteArray).isEmpty)
    assert(Multimodal.decodeImage(null).isEmpty)
    assert(Multimodal.sampleFrames(Array.emptyByteArray, 3, 8).isEmpty)
    assert(Multimodal.sampleFrames("abc".getBytes, 0, 8).isEmpty)
  }

  test("AVI demux: build → parse round-trip recovers headers and frames") {
    import graft.functions.MediaGen
    val frames = (0 until 6).map(i => MediaGen.flatGrayPng(4, 3, 40 * i))
    val avi = MediaGen.avi(frames, 4, 3)
    val info = Multimodal.parseAvi(avi).get
    assert((info.width, info.height, info.headerFrames) == (4, 3, 6))
    assert(info.frames.length == 6)
    // demuxed payloads are byte-identical to what was muxed
    assert(info.frames.zip(frames).forall { case (a, b) => a.sameElements(b) })
    // and each decodes through the normal image path to its flat luma
    assert(info.frames.zipWithIndex.forall { case (f, i) =>
      Multimodal.decodeImage(f).exists(im => Multimodal.lumaMean(im) == 40.0 * i)
    })
  }

  test("AVI sampling picks evenly spaced real frames; non-AVI falls back") {
    import graft.functions.MediaGen
    val frames = (0 until 6).map(i => MediaGen.flatGrayPng(4, 3, 40 * i))
    val avi = MediaGen.avi(frames, 4, 3)
    val sampled = Multimodal.sampleFrames(avi, 3, 0)
    assert(sampled.length == 3) // indices ⌊i·6/3⌋ = 0, 2, 4
    assert(sampled(0).sameElements(frames(0)))
    assert(sampled(1).sameElements(frames(2)))
    assert(sampled(2).sameElements(frames(4)))
    // asking for more samples than frames yields each frame once
    assert(Multimodal.sampleFrames(avi, 10, 0).length == 6)
    // non-AVI bytes keep the byte-window surrogate shape
    val win = Multimodal.sampleFrames("0123456789".getBytes, 2, 3)
    assert(win.length == 2 && win.forall(_.length <= 3))
  }

  test("AVI demux is truncation/corruption-safe") {
    import graft.functions.MediaGen
    val avi = MediaGen.avi((0 until 4).map(i =>
      MediaGen.flatGrayPng(2, 2, 60 * i)), 2, 2)
    // every prefix parses without throwing; short ones just carry fewer frames
    (0 to avi.length by 7).foreach { n =>
      val p = Multimodal.parseAvi(avi.take(n))
      assert(p.forall(_.frames.length <= 4))
    }
    // lying RIFF size (larger than the buffer) is clamped, not trusted
    val lying = avi.clone()
    lying(4) = 0xff.toByte; lying(5) = 0xff.toByte
    assert(Multimodal.parseAvi(lying).get.frames.length == 4)
    assert(Multimodal.parseAvi("RIFFxxxxWAVE".getBytes).isEmpty)
  }

  test("videoFeatures: demuxed metadata for AVI rows, nulls for text rows") {
    import spark.implicits._
    import graft.functions.MediaGen
    val avi = MediaGen.avi((0 until 6).map(i =>
      MediaGen.flatGrayPng(4, 3, 40 * i)), 4, 3)
    val df = Seq(("a", avi), ("b", "plain-text".getBytes))
      .toDF("id", "media")
    val rows = Multimodal.videoFeatures(df, "media", nSample = 3)
      .orderBy($"id").collect()
    val a = rows(0)
    assert(a.getInt(a.fieldIndex("v_width")) == 4)
    assert(a.getInt(a.fieldIndex("v_height")) == 3)
    assert(a.getLong(a.fieldIndex("n_total_frames")) == 6L)
    assert(a.getLong(a.fieldIndex("n_sampled")) == 3L)
    assert(a.getDouble(a.fieldIndex("luma_first")) == 0.0)
    assert(a.getDouble(a.fieldIndex("luma_mid")) == 80.0)
    assert(a.getDouble(a.fieldIndex("luma_last")) == 160.0)
    val b = rows(1)
    assert(b.isNullAt(b.fieldIndex("v_width")))
    assert(b.getLong(b.fieldIndex("n_sampled")) == 0L)
    assert(b.isNullAt(b.fieldIndex("luma_first")))
  }

  test("audio: real AudioSystem decode of a planted PCM wav; rejects garbage") {
    import spark.implicits._
    val wav = graft.functions.MediaGen.wav(
      graft.operators.MultimodalQueries.squareWave, 8000)
    // independent expectation from plain-Scala arithmetic on the samples
    val (rms, zc) =
      graft.operators.MultimodalQueries.waveStats(
        graft.operators.MultimodalQueries.squareWave)
    val txt = "not audio at all".getBytes("UTF-8")
    val rows = Multimodal.audioFeatures(
      Seq((1L, wav), (2L, txt)).toDF("id", "media"), "media")
      .orderBy($"id").collect()
    val a = rows(0)
    assert(a.getInt(a.fieldIndex("sample_rate")) == 8000)
    assert(a.getLong(a.fieldIndex("n_samples")) == 480L)
    assert(a.getDouble(a.fieldIndex("rms")) == rms)
    assert(a.getLong(a.fieldIndex("zero_crossings")) == zc)
    val b = rows(1)
    assert(b.isNullAt(b.fieldIndex("sample_rate")))
    assert(b.isNullAt(b.fieldIndex("rms")))
  }

}
