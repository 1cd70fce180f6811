package graft

import org.scalatest.funsuite.AnyFunSuite

/** Round-16 pins: the streaming sweep twins (verdict #6) equal their
  * batch counterparts across a multi-batch event-time split, and the
  * durable-staged graph/truth frames change the read path, never the
  * answer. */
class Round16Spec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private def runSweepStream[O: org.apache.spark.sql.Encoder](
      name: String,
      mk: org.apache.spark.sql.Dataset[graft.streaming.StreamingAsOf.Ev]
        => org.apache.spark.sql.Dataset[O]): Seq[O] = {
    import spark.implicits._
    import graft.streaming.StreamingAsOf
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val evs = graft.sources.Tables.events(spark, sf)
      .filter($"event_type".isin("view", "purchase"))
      .select($"user_id", $"ts", $"event_type", $"event_id", $"value")
      .as[StreamingAsOf.Ev].collect()
      .sortBy(e => (e.ts.getTime, e.event_id))
    val n = evs.length
    val batches = Seq(evs.slice(0, n / 3), evs.slice(n / 3, 2 * n / 3),
      evs.slice(2 * n / 3, n))
    val far = new java.sql.Timestamp(
      evs.map(_.ts.getTime).max + 30L * 86400000L)
    val src = MemoryStream[StreamingAsOf.Ev]
    val q = mk(src.toDS().withWatermark("ts", "0 seconds"))
      .writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try {
      batches.foreach { b =>
        src.addData(b.toIndexedSeq: _*); q.processAllAvailable()
      }
      // two far ticks: advance the watermark past every real day so
      // the closes fire, then fire the tombstone GC path once too
      for (i <- 0 to 1) {
        src.addData(StreamingAsOf.Ev(-1L, far, "view", -1L - i, 0.0))
        q.processAllAvailable()
      }
      val farDay = far.toString.substring(0, 10)
      spark.table(name).as[O].collect().toSeq
        .filterNot(_.toString.contains(farDay))
    } finally q.stop()
  }

  test("streaming sweep twin ≡ batch q376 across a 3-batch split") {
    import graft.streaming.StreamingSweep
    implicit val enc = org.apache.spark.sql.Encoders
      .product[StreamingSweep.DayAgg]
    val got = runSweepStream("sweep_agg_out",
        StreamingSweep.apply _)
      .map(o => o.day -> ((o.n_pairs, o.mean_overlap_sec))).toMap
    val exp = graft.operators.TimeQueries
      .queries("q376_interval_sweep")(spark, sf).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2))))
      .toMap
    assert(got == exp, "streaming sweep must equal batch q376")
    assert(exp.nonEmpty)
  }

  test("streaming coverage twin ≡ batch q382 across a 3-batch split") {
    import graft.streaming.StreamingSweep
    implicit val enc = org.apache.spark.sql.Encoders
      .product[StreamingSweep.DayCov]
    val got = runSweepStream("sweep_cov_out",
        StreamingSweep.coverage _)
      .map(o => o.day -> ((o.view_cov_us, o.purch_cov_us,
        o.joint_cov_us, o.peak_pairs))).toMap
    val exp = graft.operators.TimeQueries
      .queries("q382_interval_coverage")(spark, sf).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))).toMap
    assert(got == exp, "streaming coverage must equal batch q382")
    assert(exp.nonEmpty)
  }

  /** The canonical-PCM fast path must be sample-for-sample identical to
    * the JDK AudioSystem reader on the layouts MediaGen emits, decline
    * (None → fallback) on anything non-canonical, and never throw — it
    * runs OUTSIDE wavSamples' try, so an exception here would break the
    * F4 per-record error-isolation posture. */
  test("canonical PCM fast path ≡ AudioSystem; declines non-canonical") {
    import graft.functions.{MediaGen, Multimodal}
    def slow(bytes: Array[Byte]): Option[(Int, Array[Int])] =
      try {
        val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
          new java.io.ByteArrayInputStream(bytes))
        try {
          val f = in.getFormat
          if (f.getSampleSizeInBits != 16 || f.getChannels != 1 ||
              f.isBigEndian || f.getEncoding !=
                javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED) None
          else {
            val raw = in.readAllBytes()
            val xs = Array.tabulate(raw.length / 2)(i =>
              (raw(2 * i + 1).toInt << 8) | (raw(2 * i) & 0xff))
            Some((f.getSampleRate.toInt, xs))
          }
        } finally in.close()
      } catch { case _: Exception => None }
    val rnd = new scala.util.Random(16)
    val fixtures: Seq[Array[Byte]] =
      Seq[Array[Short]](
        graft.operators.MultimodalQueries.squareWave,
        graft.operators.MultimodalQueries.silenceWave,
        Array.empty[Short],
        Array[Short](Short.MinValue, Short.MaxValue, -1, 0, 1),
        Array.fill(1001)(rnd.nextInt(65536).toShort))
        .flatMap(xs => Seq(MediaGen.wav(xs, 8000), MediaGen.wav(xs, 44100)))
    fixtures.foreach { b =>
      val fast = Multimodal.canonicalPcm(b)
      val ref = slow(b)
      assert(fast.isDefined, "fast path must accept MediaGen.wav output")
      assert(fast.get._1 == ref.get._1)
      assert(fast.get._2.toSeq == ref.get._2.toSeq,
        "fast path samples must equal AudioSystem samples")
    }
    // Non-canonical → None (fall back to the real reader), never throw.
    val wav = MediaGen.wav(graft.operators.MultimodalQueries.squareWave, 8000)
    val truncated = wav.take(wav.length - 3)
    val avi = MediaGen.avi(Seq(Array.fill(12)(1.toByte)), 2, 2)
    val bomb = wav.clone() // chunk size near 2^31: offset-walk overflow
    bomb(16) = 0xf0.toByte; bomb(17) = 0xff.toByte
    bomb(18) = 0xff.toByte; bomb(19) = 0x7f.toByte
    Seq(truncated, avi, bomb, Array.empty[Byte],
        Array.fill(50)(0.toByte),
        "plain text, not audio at all".getBytes("US-ASCII")).foreach {
      b =>
        assert(Multimodal.canonicalPcm(b).isEmpty)
        // and the composed reader (fast path + magic-gated AudioSystem
        // fallback) agrees with the raw AudioSystem decode on every
        // one — the RIFF-magic rows (AVI, truncated WAV) exercise the
        // real-reader fallback, not just the gate; note AudioSystem
        // ACCEPTS a truncated data chunk (reads what's present), so
        // the invariant is equality, not rejection
        val got = Multimodal.wavSamples(b)
        val ref = slow(b)
        assert(got.map(_._1) == ref.map(_._1))
        assert(got.map(_._2.toSeq) == ref.map(_._2.toSeq))
    }
    // end-to-end: decodeWav (rms/zc) unchanged by the fast path
    val info = Multimodal.decodeWav(wav).get
    val (rms, zc) = graft.operators.MultimodalQueries
      .waveStats(graft.operators.MultimodalQueries.squareWave)
    assert(math.abs(info.rms - rms) < 1e-9 && info.zeroCrossings == zc)
  }

  /** The adaptive LSH band geometry (round-16 scale fix) must be
    * byte-identical to the original fixed 16-plane/4-bit shape at
    * every oracle-checked scale, and grow exactly one bit per corpus
    * doubling beyond the 10× profile corpus — the contract that lets
    * the static oracle replays stay valid while the 100× build stops
    * being n²/16. */
  test("bandBits: 4 at all oracle scales, log-growth beyond, planes stable") {
    import graft.operators.SimilarityQueries.{bandBits, planes}
    // driver gates: sf0.001 ≈ 200, sf0.01 ≈ 2k, sf0.1 = 5k vectors;
    // 10× ScaleGen corpus = 20k — ALL must read exactly 4
    for (n <- Seq(0L, 1L, 200L, 2000L, 5000L, 20000L))
      assert(bandBits(n) == 4, s"n=$n")
    assert(bandBits(20001L) == 5)
    assert(bandBits(200000L) == 8)   // the 100× corpus
    assert(bandBits(Long.MaxValue) == 15) // cap
    // monotone non-decreasing
    val xs = Seq(1L, 1000L, 20000L, 40000L, 80000L, 200000L, 2000000L)
      .map(bandBits)
    assert(xs == xs.sorted)
    // planes 0-15 are the original seeded pool, verbatim
    val rnd = new scala.util.Random(42)
    val orig = Array.fill(16, 64)(rnd.nextGaussian())
    for (p <- 0 until 16)
      assert(planes(p).toSeq == orig(p).toSeq, s"plane $p drifted")
    assert(planes.length == 60)
  }

  /** Round-16 optimization pin: the compiled WinnowSelect expression
    * (one in-row pass) must select EXACTLY the fingerprint set of the
    * SQL spelling it replaced (k-gram HOF fold + explode + doc-
    * partitioned sliding-window min with the rightmost-tie struct
    * rule) — including hash-tie windows and minimum-length docs. */
  test("WinnowSelect ≡ explode+window SQL spelling") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val k = 4; val w = 5
    val rnd = new scala.util.Random(1234)
    // small value domain forces k-gram hash ties; lengths straddle the
    // k+w-1 guarantee boundary
    val rows = (1L to 60L).map { id =>
      val n = 6 + rnd.nextInt(40)
      (id, Array.fill(n)(rnd.nextInt(5).toLong + 100L))
    } :+ (61L, Array.fill(k + w - 1)(7L)) // all-equal hashes, min length
    val d = rows.toDF("doc_id", "vals").filter(size($"vals") >= k + w - 1)
    val fast = d.select($"doc_id",
        explode(graft.plans.WinnowSelect.col($"vals", k, w)).as("h"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val slow = d.select($"doc_id", $"vals", size($"vals").as("n"))
      .select($"doc_id", $"n", explode(expr(
        s"""transform(sequence(1, n - ${k - 1}), i -> named_struct(
           |  'h', aggregate(slice(vals, i, $k), cast(7 as bigint),
           |         (acc, x) -> (acc * 31 + x) % 2147483647),
           |  'pos', i))""".stripMargin)).as("x"))
      .select($"doc_id", $"n", $"x.h".as("h"), $"x.pos".as("pos"))
      .withColumn("sel", min(struct($"h", (-$"pos").as("negp"))).over(
        org.apache.spark.sql.expressions.Window.partitionBy($"doc_id")
          .orderBy($"pos").rowsBetween(0, w - 1)))
      .filter($"pos" <= $"n" - (k + w - 2))
      .select($"doc_id", $"sel.h".as("h")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(fast == slow)
    // per-doc arrays are already distinct (no explode-side dup rows)
    val dup = d.select($"doc_id",
        graft.plans.WinnowSelect.col($"vals", k, w).as("hs"))
      .select($"doc_id", size($"hs").as("n"),
        size(array_distinct($"hs")).as("nd"))
      .collect()
    assert(dup.forall(r => r.getInt(1) == r.getInt(2)))
  }
}
