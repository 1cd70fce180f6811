package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.QueryModule
import graft.functions.Multimodal
import graft.sources.Tables

/** Multimodal-column queries. The corpus has no media table, so opaque
  * binary payloads are synthesized from `documents`: every 3rd doc gets a
  * REAL (decodable) 4×3 grayscale PNG, every 3rd+1 a JPEG magic prefix
  * over text bytes (sniffs as jpeg, rejected by the decoder — the
  * corrupt-payload path), the rest raw text bytes — proving container
  * sniffing, byte-length metadata, and the real ImageIO decode
  * end-to-end, including its error isolation. */
object MultimodalQueries extends QueryModule {

  /** A complete 72-byte PNG: 4×3, 8-bit grayscale, scanlines
    * (0, 64, 128, 255) — so width/height/channels and the luma
    * histogram are known constants the DuckDB oracle can state. */
  private[graft] val TinyPngHex =
    "89504E470D0A1A0A0000000D4948445200000004000000030800000000919FF11A" +
    "0000000F49444154789C63607068F8CF002700227D053EE173D90000000000" +
    "49454E44AE426082"

  /** doc → opaque binary payload (deterministic). */
  private def payload(s: SparkSession) = {
    import s.implicits._
    when($"doc_id" % 3 === 0, unhex(lit(TinyPngHex)))
      .when($"doc_id" % 3 === 1, concat(unhex(lit("FFD8FFE0")), $"text".cast("binary")))
      .otherwise($"text".cast("binary"))
  }

  /** Pure-expression media metadata (oracle-able). */
  def qMediaMeta(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .withColumn("media", payload(s))
      .select($"doc_id",
        length($"media").cast("long").as("n_bytes"),
        Multimodal.mediaKind($"media").as("kind"))
      .orderBy($"doc_id")
  }

  /** REAL decode over the same payloads: PNG rows decode to known
    * constants (4×3, 1 channel, luma histogram summing to 12), corrupt
    * jpeg-magic and raw-text rows yield null metadata — every column is
    * a deterministic function of doc_id class, so the whole query is
    * DuckDB-oracled. */
  def qMediaFeatures(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val media = Tables.documents(s, dir)
      .select($"doc_id", payload(s).as("media"))
    Multimodal.decodeFeatures(media, "media", dim = 8, nFrames = 2)
      .select($"doc_id", $"width", $"height", $"channels",
        size($"frames").cast("long").as("n_frames"),
        round(aggregate($"features", lit(0.0),
          (acc, x) => acc + x.cast("double")), 4).as("feat_sum"))
      .orderBy($"doc_id")
  }

  /** The q381 chunk-walk iteration cap: a metadata pass publishes a
    * BOUNDED inventory (first 8 chunks) — the contract a real corpus
    * raises, never removes; unbounded in-row loops are how a crafted
    * payload turns a metadata scan into a DoS. */
  private val PngWalkCap = 8

  /** PNG structural-metadata extraction (q381) — the EXIF-class
    * container-metadata op (round-15 widening): parse the image
    * CONTAINER without decoding pixels — IHDR fields
    * (width/height/bit-depth/color-type at their fixed offsets,
    * big-endian) plus a bounded CHUNK WALK (each chunk's length read
    * from its own header, offset advanced length+12) publishing the
    * chunk inventory and IDAT byte mass. This is the pass a 100 TB
    * media pipeline runs FIRST — pure byte arithmetic at scan speed,
    * no decoder, no allocation — to route/filter payloads before any
    * expensive decode (q61) touches them. Everything is Spark SQL
    * byte-slicing (substring/hex/conv) inside one codegen'd
    * projection: the walk is an `aggregate` fold over a constant
    * 8-step spine carrying (offset, count, idat, types) — in-row
    * state, no explode, no shuffle. Non-PNG rows (jpeg-magic, raw
    * text) publish sniff + byte length with null structure — the
    * per-record isolation contract (F4). The DuckDB oracle replays
    * the walk as a recursive CTE over the same offsets — an
    * independent reimplementation, not a constant table. */
  def qPngMeta(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val isPngSql = "hex(substring(media, 1, 8)) = '89504E470D0A1A0A'"
    def be(off: Int, len: Int) =
      s"CAST(conv(hex(substring(media, $off, $len)), 16, 10) AS BIGINT)"
    val walkSql =
      s"""CASE WHEN $isPngSql THEN aggregate(
         |  sequence(1, $PngWalkCap),
         |  named_struct('o', CAST(9 AS BIGINT), 'n', CAST(0 AS BIGINT),
         |    'idat', CAST(0 AS BIGINT),
         |    'types', CAST(array() AS ARRAY<STRING>)),
         |  (acc, i) -> IF(acc.o + 8 <= length(media) + 1,
         |    named_struct(
         |      'o', acc.o + 12 + CAST(conv(hex(substring(media,
         |        CAST(acc.o AS INT), 4)), 16, 10) AS BIGINT),
         |      'n', acc.n + CAST(1 AS BIGINT),
         |      'idat', acc.idat + IF(CAST(substring(media,
         |          CAST(acc.o + 4 AS INT), 4) AS STRING) = 'IDAT',
         |        CAST(conv(hex(substring(media, CAST(acc.o AS INT), 4)),
         |          16, 10) AS BIGINT), CAST(0 AS BIGINT)),
         |      'types', concat(acc.types, array(CAST(substring(media,
         |        CAST(acc.o + 4 AS INT), 4) AS STRING)))),
         |    acc)) END AS w""".stripMargin
    Tables.documents(s, dir)
      .select($"doc_id", payload(s).as("media"))
      .selectExpr("doc_id", "media",
        "CAST(length(media) AS BIGINT) AS n_bytes",
        s"$isPngSql AS is_png", walkSql)
      .selectExpr("doc_id", "n_bytes", "is_png",
        s"CASE WHEN is_png THEN ${be(17, 4)} END AS width",
        s"CASE WHEN is_png THEN ${be(21, 4)} END AS height",
        s"CASE WHEN is_png THEN ${be(25, 1)} END AS bit_depth",
        s"CASE WHEN is_png THEN ${be(26, 1)} END AS color_type",
        "w.n AS n_chunks", "w.idat AS idat_bytes",
        "CASE WHEN is_png THEN array_join(w.types, ',') END AS chunk_list")
      .orderBy($"doc_id")
  }

  /** A complete RIFF/AVI container: 6 flat 4×3 grayscale PNG frames
    * (lumas 0,40,80,120,160,200) standing in for MJPEG payloads. Built
    * deterministically at class-load by MediaGen (pinned deflate level),
    * so the hex literal below is stable across runs and JVMs. */
  private[graft] lazy val TinyAviHex: String = graft.functions.MediaGen.hex(
    graft.functions.MediaGen.avi(
      (0 until 6).map(i => graft.functions.MediaGen.flatGrayPng(4, 3, 40 * i)),
      width = 4, height = 3))

  /** REAL video frame sampling: every 4th doc carries the AVI, the rest
    * raw text bytes (the reject path). The engine demuxes the `movi`
    * chunk list, samples first/mid/last of the 6 frames, and decodes
    * each through ImageIO — every output column is a deterministic
    * function of doc_id class, so the whole query is DuckDB-oracled
    * (same convention as q61). */
  def qVideoFrames(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val media = Tables.documents(s, dir)
      .select($"doc_id",
        when($"doc_id" % 4 === 0, unhex(lit(TinyAviHex)))
          .otherwise($"text".cast("binary")).as("media"))
    Multimodal.videoFeatures(media, "media", nSample = 3)
      .select($"doc_id", $"v_width", $"v_height", $"n_total_frames",
        $"n_sampled", round($"luma_first", 4).as("luma_first"),
        round($"luma_mid", 4).as("luma_mid"),
        round($"luma_last", 4).as("luma_last"))
      .orderBy($"doc_id")
  }

  /** q163's pattern fixtures: a 4×3 gradient (A), a byte-level variant
    * of it whose single changed pixel stays on the same side of the
    * mean (B — different md5, SAME aHash: the pair exact dedup misses),
    * the inverted gradient (C — complementary hash), and flat gray
    * (all-zero hash). Matrices are [y][x], matching both grayPng's
    * scanline order and aHash's row-major bit layout. */
  private[graft] val PatA: Array[Array[Int]] =
    Array.tabulate(3, 4)((y, x) => 20 * (4 * y + x))
  private[graft] val PatB: Array[Array[Int]] = {
    val p = PatA.map(_.clone); p(0)(0) = 8; p
  }
  private[graft] val PatC: Array[Array[Int]] = PatA.map(_.map(v => 220 - v))

  private lazy val PngAHex = graft.functions.MediaGen.hex(
    graft.functions.MediaGen.grayPng(PatA))
  private lazy val PngBHex = graft.functions.MediaGen.hex(
    graft.functions.MediaGen.grayPng(PatB))
  private lazy val PngCHex = graft.functions.MediaGen.hex(
    graft.functions.MediaGen.grayPng(PatC))
  private lazy val PngFlatHex = graft.functions.MediaGen.hex(
    graft.functions.MediaGen.flatGrayPng(4, 3, 128))

  /** The oracle's expected hash, computed by independent plain-Scala
    * arithmetic on the literal pattern matrix (NOT the decode path —
    * if PNG round-trip or raster order ever disagreed with this, the
    * hash compare would catch it, which is the point). */
  private[graft] def patHash(px: Array[Array[Int]]): Long = {
    val flat = px.flatten
    val mean = flat.sum.toDouble / flat.length
    flat.zipWithIndex.foldLeft(0L) { case (h, (v, i)) =>
      if (v > mean) h | (1L << i) else h
    }
  }

  /** Perceptual image dedup (q163): REAL ImageIO decode → average-hash
    * (aHash) → keeper per hash bucket. The image-modality twin of q30:
    * exact byte/md5 dedup splits re-encoded or slightly-retouched
    * copies of the same picture (fixture pair A/B differs in bytes AND
    * one pixel, hashes identically); grouping on the perceptual hash
    * unifies them, exactly how LAION-scale image corpora dedup. Scale
    * shape: decode is per-partition map work (the corpus' dominant
    * cost, embarrassingly parallel), then ONE hash-keyed window for the
    * keeper — identical to the q30 exact-dedup plan with phash standing
    * in for md5. Undecodable payloads drop via the null filter (F4). */
  def qImagePhash(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pay = when($"doc_id" % 5 === 0, unhex(lit(PngAHex)))
      .when($"doc_id" % 5 === 1, unhex(lit(PngBHex)))
      .when($"doc_id" % 5 === 2, unhex(lit(PngCHex)))
      .when($"doc_id" % 5 === 3, unhex(lit(PngFlatHex)))
      .otherwise(concat(unhex(lit("FFD8FFE0")), $"text".cast("binary")))
    val hashed = Multimodal.imageHash(
      Tables.documents(s, dir).select($"doc_id", pay.as("media")), "media")
      .filter($"phash".isNotNull)
    val byHash = org.apache.spark.sql.expressions.Window.partitionBy($"phash")
    hashed
      .withColumn("keeper", min($"doc_id").over(byHash))
      .select($"doc_id", $"phash", $"keeper",
        ($"doc_id" =!= $"keeper").as("is_dup"))
      .orderBy($"doc_id")
  }

  /** q208's planted signal: a 480-sample square wave at ±8192, period 8
    * (4 high, 4 low), 8000 Hz — every feature is exactly computable:
    * RMS = 8192 (constant magnitude), zero crossings = 480/4 − 1 = 119
    * sign flips, duration = 480/8000 = 0.06 s. */
  private[graft] def squareWave: Array[Short] =
    Array.tabulate(480)(i => if ((i / 4) % 2 == 0) 8192 else -8192)
      .map(_.toShort)

  /** Expected features from independent plain-Scala arithmetic on the
    * literal sample vector (NOT the decode path — q163's patHash
    * discipline applied to audio). */
  private[graft] def waveStats(xs: Array[Short]): (Double, Long) = {
    val rms = math.sqrt(xs.map(v => v.toDouble * v).sum / xs.length)
    val zc = xs.sliding(2).count(p => (p(0) < 0) != (p(1) < 0))
    (rms, zc.toLong)
  }

  private lazy val TinyWavHex = graft.functions.MediaGen.hex(
    graft.functions.MediaGen.wav(squareWave, 8000))

  /** REAL audio decode (q208): every 3rd doc carries a planted PCM WAV,
    * decoded through the JDK's own `AudioSystem` reader (no codec
    * beyond the JRE — the audio sibling of q61's ImageIO and q138's
    * RIFF demux, completing the image/video/audio modality row); the
    * rest carry text bytes the reader rejects into null metadata (F4).
    * Features are the audio-pipeline basics — sample rate, duration,
    * normalized RMS loudness, zero-crossing count (the crudest pitch/
    * voicedness proxy) — each a deterministic constant of the planted
    * wave, so the query is fully DuckDB-oracled with constants derived
    * by independent Scala arithmetic on the literal sample vector.
    * Decode is per-partition map work; nothing shuffles but the
    * presentation sort. */
  def qAudioFeatures(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val media = Tables.documents(s, dir)
      .select($"doc_id",
        when($"doc_id" % 3 === 0, unhex(lit(TinyWavHex)))
          .otherwise($"text".cast("binary")).as("media"))
    Multimodal.audioFeatures(media, "media")
      .select($"doc_id", $"sample_rate", $"n_samples",
        round($"n_samples" / $"sample_rate".cast("double"), 4)
          .as("duration_s"),
        round($"rms" / 32768.0, 4).as("rms_norm"),
        $"zero_crossings")
      .orderBy($"doc_id")
  }

  /** Spectral probe frequencies for q246: the planted square wave
    * (period 8 @ 8000 Hz) has its fundamental at 1000 Hz, so the
    * 1000 Hz bin must dominate 500 (absent) and 3000 (the first odd
    * harmonic sits there with 1/3 the amplitude — square-wave
    * physics, visible in the emitted magnitudes). */
  private val ProbeHz = Seq(500, 1000, 3000)

  /** Audio spectral probe (q246) — REAL frequency-domain features
    * through the same AudioSystem decode as q208: normalized
    * single-bin DFT magnitude at three probe bands plus the dominant
    * band — the band-energy fingerprint an audio-quality gate keys on
    * (silence/tone/voiced separation) and the seam a full MFCC stack
    * plugs into. Per-row map work (O(n) per probe via Goertzel in
    * production; direct sum here so the oracle replays the identical
    * float summation order on the literal fixture — q208's constant
    * discipline); rejected bytes → null row, F4. */
  def qAudioSpectrum(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val media = Tables.documents(s, dir)
      .select($"doc_id",
        when($"doc_id" % 3 === 0, unhex(lit(TinyWavHex)))
          .otherwise($"text".cast("binary")).as("media"))
    val sp = Multimodal.spectralFeatures(media, "media", ProbeHz)
    val dominant = ProbeHz.map(f => struct(col(s"m$f").as("m"),
      lit(f).as("hz")))
    sp.select($"doc_id",
        round($"m500", 4).as("m500"),
        round($"m1000", 4).as("m1000"),
        round($"m3000", 4).as("m3000"),
        when($"m500".isNotNull,
          greatest(dominant: _*).getField("hz")).as("dominant_hz"))
      .orderBy($"doc_id")
  }

  /** Scene-AVI fixture for q284: two flat-luma scenes with in-scene
    * jitter (10,12,14 | 200,198,196) — exactly one cut, at frame 4.
    * Flat frames make lumaMean EXACT (the q138 oracle convention), so
    * the cut index is a planted constant, not a float comparison. */
  private[graft] lazy val SceneAviHex: String = graft.functions.MediaGen.hex(
    graft.functions.MediaGen.avi(
      Seq(10, 12, 14, 200, 198, 196)
        .map(v => graft.functions.MediaGen.flatGrayPng(4, 3, v)),
      width = 4, height = 3))

  /** Luma-jump threshold for a scene cut — the classic pixel-domain
    * shot-boundary heuristic's knob, literal for the oracle. */
  private val SceneCutJump = 64.0

  /** 1-based frame indices opening a new scene. Guarded on length ≥ 2:
    * Spark's sequence(2, 1) runs DESCENDING ([2, 1]), so an unguarded
    * filter over a 1-frame video would evaluate element_at(_, 0) and
    * throw — a single frame is simply one scene with no cuts. */
  private[graft] def sceneCutIdx(lumas: Column): Column =
    when(size(lumas) >= 2,
      filter(sequence(lit(2), size(lumas)),
        i => abs(element_at(lumas, i) -
          element_at(lumas, i - 1)) > SceneCutJump))
      .otherwise(array().cast("array<int>"))

  /** Scene-cut detection (q284) — shot-boundary segmentation, the
    * frame-sampling upgrade every video curation pipeline runs before
    * captioning (sample per SCENE, not per stride, or long static
    * shots dominate the frame budget): decode every demuxed frame's
    * mean luma (videoFrameLumas, partition-local) and cut where the
    * adjacent-frame jump exceeds the threshold. The differentiation is
    * IN-ROW higher-order-function arithmetic over the per-video luma
    * array — no explode, no shuffle; a real pipeline swaps the luma
    * probe for a histogram/embedding delta, same plan. Cut list is
    * emitted comma-joined (q119's convention — the driver compare does
    * not hash array cells). */
  def qSceneCuts(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val media = Tables.documents(s, dir)
      .select($"doc_id",
        when($"doc_id" % 4 === 0, unhex(lit(SceneAviHex)))
          .otherwise($"text".cast("binary")).as("media"))
    val lum = Multimodal.videoFrameLumas(media, "media")
    lum
      .withColumn("cut_at", when($"f_lumas".isNotNull,
        sceneCutIdx($"f_lumas")))
      .select($"doc_id", $"n_frames",
        when($"cut_at".isNotNull,
          array_join(transform($"cut_at", _.cast("string")), ","))
          .as("cut_idx"),
        when($"cut_at".isNotNull, size($"cut_at") + 1).as("n_scenes"))
      .orderBy($"doc_id")
  }

  /** Image thumbnail resize (q344) — the RESIZE member of the
    * multimodal op set (decode / feature-extract / resize /
    * frame-sample): every decodable payload area-average-resizes to a
    * 2×2 integer luma thumb through the REAL ImageIO decode path
    * (Multimodal.thumbnail — q61's decoder, q163's pixel model), the
    * downscale step a captioning/embedding stage runs before its
    * model. Pure integer block means, so the oracle states each
    * planted pattern's expected thumb as literals computed by the SAME
    * plain-Scala arithmetic on the pattern matrix (patHash's
    * discipline — independent of the decode path being verified).
    * Decode+resize is partition-local map work; undecodable rows drop
    * via the null filter (F4). The thumb is PUBLISHED comma-joined
    * (q284's cut_idx discipline) — the driver's pandas compare cannot
    * sort/hash raw array cells, so the output contract is scalar
    * columns only (pinned in RegistrySpec). */
  def qThumbnail(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pay = when($"doc_id" % 5 === 0, unhex(lit(PngAHex)))
      .when($"doc_id" % 5 === 1, unhex(lit(PngBHex)))
      .when($"doc_id" % 5 === 2, unhex(lit(PngCHex)))
      .when($"doc_id" % 5 === 3, unhex(lit(PngFlatHex)))
      .otherwise(concat(unhex(lit("FFD8FFE0")), $"text".cast("binary")))
    graft.functions.Multimodal.thumbnail(
      Tables.documents(s, dir).select($"doc_id", pay.as("media")),
      "media")
      .filter($"thumb".isNotNull)
      .select($"doc_id", $"img_w", $"img_h",
        array_join(transform($"thumb", _.cast("string")), ",")
          .as("thumb_csv"))
      .orderBy($"doc_id")
  }

  // ---- round-16 widening: container-metadata walks ------------------

  /** Planted EXIF JPEG: 640×480, orientation 6 (rotate-90 — the value
    * real pipelines must honor before any crop), make "GR", TIFF
    * little-endian ("II") so q388 exercises byte-swapped reads. */
  private[graft] lazy val TinyJpegExifHex: String =
    graft.functions.MediaGen.hex(
      graft.functions.MediaGen.jpegExif(640, 480, 6, "GR"))

  /** Planted BMPs: one bottom-up 7×5×24bpp, one TOP-DOWN 4×6×8bpp
    * (negative height — the signed-LE decode q392 verifies). */
  private[graft] lazy val TinyBmpHex: String = graft.functions.MediaGen
    .hex(graft.functions.MediaGen.bmp(7, 5, topDown = false, 24))
  private[graft] lazy val TinyBmpTopHex: String = graft.functions.MediaGen
    .hex(graft.functions.MediaGen.bmp(4, 6, topDown = true, 8))

  /** Planted MP3 head: ID3v2.3, one TIT2 frame — the syncsafe-size
    * decode fixture for q393. */
  private[graft] lazy val TinyId3Hex: String = graft.functions.MediaGen
    .hex(graft.functions.MediaGen.id3("graft title"))

  /** Planted GIF89a: 11×7, 2-entry global color table, TWO frames
    * each behind a graphic-control extension — q394's block walk must
    * count frames through the sub-block chains. */
  private[graft] lazy val TinyGifHex: String = graft.functions.MediaGen
    .hex(graft.functions.MediaGen.gif(11, 7, 2))

  /** Planted bare MPEG frame (no ID3 prefix): 192 kbps / 48 kHz /
    * padded / mono — every header field differs from TinyId3Hex's
    * trailing 128 kbps / 44.1 kHz / unpadded / stereo frame, so q396
    * decodes both paths with distinct expected values. */
  private[graft] lazy val TinyMpegHex: String = graft.functions.MediaGen
    .hex(graft.functions.MediaGen.mpeg(11, 1, padding = true,
      mono = true))

  /** Planted ZIP: two STORED entries with pinned DOS timestamps —
    * q397's EOCD + central-directory walk fixture. */
  private[graft] lazy val TinyZipHex: String = graft.functions.MediaGen
    .hex(graft.functions.MediaGen.zip(Seq(
      "a.txt" -> "hello graft".getBytes("US-ASCII"),
      "dir/b.bin" -> Array[Byte](0, 1, 2, 3, 4))))

  /** q390's planted signal: 100 silent samples, 200 of q208's square
    * wave, 100 silent — lead/trail trims and the longest run are
    * planted constants (100/100/100), the ratio exactly 0.5. */
  private[graft] def silenceWave: Array[Short] =
    Array.tabulate(400) { i =>
      if (i < 100 || i >= 300) 0
      else if (((i - 100) / 4) % 2 == 0) 8192 else -8192
    }.map(_.toShort)

  private lazy val SilenceWavHex = graft.functions.MediaGen.hex(
    graft.functions.MediaGen.wav(silenceWave, 8000))

  /** PCM silence threshold (|sample| below it counts as silence). */
  private val SilenceThr = 512

  // engine-side byte-arithmetic SQL helpers over the binary `media`
  private def hx(pos: String) =
    s"hex(substring(media, CAST(($pos) AS INT), 1))"
  private def beN(pos: String, n: Int) =
    s"CAST(conv(hex(substring(media, CAST(($pos) AS INT), $n)), 16, 10) AS BIGINT)"
  private def leN(pos: String, n: Int): String =
    (0 until n).map { i =>
      s"CAST(conv(${hx(s"($pos) + $i")}, 16, 10) AS BIGINT) * ${1L << (8 * i)}L"
    }.mkString("(", " + ", ")")

  /** JPEG marker-walk cap (q388) and RIFF chunk-walk cap (q389) — the
    * q381 bounded-inventory contract. */
  private val SegWalkCap = 8

  /** JPEG/EXIF structural metadata (q388) — the EXIF TIFF-walk the
    * round-15 verdict named as q381's natural transfer: marker-segment
    * walk (each segment's length from its own big-endian header),
    * then inside the first APP1 the TIFF header (byte order "II",
    * IFD0 at offset 8) and an entry scan for ImageWidth(0x0100) /
    * ImageLength(0x0101) / Make(0x010F, inline ASCII) /
    * Orientation(0x0112) — LITTLE-endian reads, the byte-swap q381's
    * big-endian PNG walk never exercised — plus the SOF0 frame dims
    * (big-endian) for the header-vs-EXIF cross-check a real intake
    * pipeline alerts on. Pure codegen'd byte arithmetic in one
    * projection (the q381 fold), no decode, no shuffle; jpeg-magic
    * rows carry text garbage the walk must traverse deterministically
    * and abandon (F4). Oracle: the walk replayed as a recursive CTE
    * over hex(media), entries via generate_series — independent
    * reimplementation. */
  def qJpegExif(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val media = when($"doc_id" % 3 === 0, unhex(lit(TinyJpegExifHex)))
      .when($"doc_id" % 3 === 1,
        concat(unhex(lit("FFD8FFE0")), $"text".cast("binary")))
      .otherwise($"text".cast("binary"))
    val stand = "('D9','D8','01','D0','D1','D2','D3','D4','D5','D6','D7')"
    val walk =
      s"""CASE WHEN is_jpeg THEN aggregate(
         |  sequence(1, $SegWalkCap),
         |  named_struct('o', CAST(3 AS BIGINT), 'n', CAST(0 AS BIGINT),
         |    'types', CAST(array() AS ARRAY<STRING>),
         |    'app1', CAST(0 AS BIGINT), 'sof', CAST(0 AS BIGINT),
         |    'done', false),
         |  (acc, i) -> IF(acc.done
         |      OR acc.o + 1 > CAST(length(media) AS BIGINT)
         |      OR ${hx("acc.o")} != 'FF',
         |    named_struct('o', acc.o, 'n', acc.n, 'types', acc.types,
         |      'app1', acc.app1, 'sof', acc.sof, 'done', true),
         |    named_struct(
         |      'o', CASE WHEN ${hx("acc.o + 1")} IN $stand
         |          THEN acc.o + 2
         |        WHEN acc.o + 4 <= length(media) + 1
         |          THEN acc.o + 2 + ${beN("acc.o + 2", 2)}
         |        ELSE CAST(length(media) + 2 AS BIGINT) END,
         |      'n', acc.n + CAST(1 AS BIGINT),
         |      'types', concat(acc.types, array(${hx("acc.o + 1")})),
         |      'app1', IF(acc.app1 = 0 AND ${hx("acc.o + 1")} = 'E1',
         |        acc.o, acc.app1),
         |      'sof', IF(acc.sof = 0 AND ${hx("acc.o + 1")} = 'C0',
         |        acc.o, acc.sof),
         |      'done', ${hx("acc.o + 1")} = 'D9'))) END AS w""".stripMargin
    val t = "(w.app1 + 10)"
    def tagAt(k: String) = leN(s"$t + 10 + 12 * ($k)", 2)
    def svalAt(k: String) = leN(s"$t + 18 + 12 * ($k)", 2)
    // get() not element_at(): an absent tag leaves the filtered array
    // empty, and ANSI element_at throws on the out-of-bounds index
    def kFor(tagv: Int) =
      s"get(filter(IF(n_ifd >= 1, sequence(0, " +
        s"CAST(least(n_ifd, 8) AS INT) - 1), array()), " +
        s"k -> ${tagAt("k")} = $tagv), 0)"
    def shortTag(tagv: Int) =
      s"IF(${kFor(tagv)} IS NOT NULL, ${svalAt(kFor(tagv))}, NULL)"
    val makeExpr = {
      val km = kFor(0x010f)
      val c = leN(s"$t + 14 + 12 * ($km)", 4)
      s"IF($km IS NOT NULL AND $c BETWEEN 2 AND 4, " +
        s"CAST(substring(media, CAST($t + 18 + 12 * ($km) AS INT), " +
        s"CAST($c - 1 AS INT)) AS STRING), NULL)"
    }
    Tables.documents(s, dir)
      .select($"doc_id", media.as("media"))
      .selectExpr("doc_id", "media",
        "hex(substring(media, 1, 2)) = 'FFD8' AS is_jpeg")
      .selectExpr("doc_id", "media", "is_jpeg", walk)
      .selectExpr("doc_id", "media", "is_jpeg", "w",
        s"""(w.app1 > 0 AND w.app1 + 29 <= length(media)
           | AND hex(substring(media, CAST(w.app1 + 4 AS INT), 6))
           |   = '457869660000') AS exif_magic""".stripMargin)
      .selectExpr("doc_id", "media", "is_jpeg", "w", "exif_magic",
        s"""IF(exif_magic,
           |  CAST(substring(media, CAST($t AS INT), 2) AS STRING),
           |  NULL) AS byte_order""".stripMargin)
      .selectExpr("doc_id", "media", "is_jpeg", "w", "byte_order",
        s"""IF(byte_order = 'II' AND ${leN(s"$t + 4", 4)} = 8,
           |  ${leN(s"$t + 8", 2)}, NULL) AS n_ifd""".stripMargin)
      .selectExpr("doc_id", "is_jpeg",
        "IF(is_jpeg, w.n, NULL) AS n_segments",
        "IF(is_jpeg, array_join(w.types, ','), NULL) AS seg_list",
        "byte_order", "n_ifd",
        s"${shortTag(0x0100)} AS exif_width",
        s"${shortTag(0x0101)} AS exif_height",
        s"${shortTag(0x0112)} AS orientation",
        s"$makeExpr AS make",
        s"IF(w.sof > 0 AND w.sof + 8 <= length(media), " +
          s"${beN("w.sof + 7", 2)}, NULL) AS sof_width",
        s"IF(w.sof > 0 AND w.sof + 8 <= length(media), " +
          s"${beN("w.sof + 5", 2)}, NULL) AS sof_height")
      .orderBy($"doc_id")
  }

  /** RIFF chunk walk (q389) — the WAV fmt-chunk parse the round-15
    * verdict asked for, over the generic RIFF grammar q138's AVI also
    * lives in: container id + size + format fourcc, then a bounded
    * top-level chunk walk (id, little-endian size, EVEN-BYTE padding —
    * the RIFF rule a naive walker gets wrong) publishing the chunk
    * inventory; for WAVE containers the fmt chunk's PCM fields
    * (format/channels/rate/byte-rate/block-align/bits) and the data
    * chunk's byte mass + derived duration. The AVI rows prove the
    * walk is format-generic (LIST chunks inventory as LIST,LIST with
    * null WAV fields); text rows are not RIFF at all. Same fold
    * shape, costs, and F4 contract as q388. */
  def qRiffWalk(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val media = when($"doc_id" % 3 === 0, unhex(lit(TinyWavHex)))
      .when($"doc_id" % 3 === 1, unhex(lit(TinyAviHex)))
      .otherwise($"text".cast("binary"))
    val walk =
      s"""CASE WHEN is_riff THEN aggregate(
         |  sequence(1, $SegWalkCap),
         |  named_struct('o', CAST(13 AS BIGINT), 'n', CAST(0 AS BIGINT),
         |    'types', CAST(array() AS ARRAY<STRING>),
         |    'fmt', CAST(0 AS BIGINT), 'data', CAST(0 AS BIGINT)),
         |  (acc, i) -> IF(acc.o + 8 > length(media) + 1, acc,
         |    named_struct(
         |      'o', acc.o + 8 + ${leN("acc.o + 4", 4)}
         |        + ${leN("acc.o + 4", 4)} % 2,
         |      'n', acc.n + CAST(1 AS BIGINT),
         |      'types', concat(acc.types, array(CAST(substring(media,
         |        CAST(acc.o AS INT), 4) AS STRING))),
         |      'fmt', IF(acc.fmt = 0 AND CAST(substring(media,
         |        CAST(acc.o AS INT), 4) AS STRING) = 'fmt ',
         |        acc.o, acc.fmt),
         |      'data', IF(acc.data = 0 AND CAST(substring(media,
         |        CAST(acc.o AS INT), 4) AS STRING) = 'data',
         |        acc.o, acc.data)))) END AS w""".stripMargin
    Tables.documents(s, dir)
      .select($"doc_id", media.as("media"))
      .selectExpr("doc_id", "media",
        "hex(substring(media, 1, 4)) = '52494646' AS is_riff")
      .selectExpr("doc_id", "media", "is_riff",
        "IF(is_riff, CAST(substring(media, 9, 4) AS STRING), NULL)" +
          " AS format", walk)
      .selectExpr("doc_id", "is_riff", "format",
        s"IF(is_riff, ${leN("5", 4)}, NULL) AS riff_size",
        "IF(is_riff, w.n, NULL) AS n_chunks",
        "IF(is_riff, array_join(w.types, ','), NULL) AS chunk_list",
        s"IF(format = 'WAVE' AND w.fmt > 0, ${leN("w.fmt + 8", 2)}, " +
          "NULL) AS audio_format",
        s"IF(format = 'WAVE' AND w.fmt > 0, ${leN("w.fmt + 10", 2)}, " +
          "NULL) AS channels",
        s"IF(format = 'WAVE' AND w.fmt > 0, ${leN("w.fmt + 12", 4)}, " +
          "NULL) AS sample_rate",
        s"IF(format = 'WAVE' AND w.fmt > 0, ${leN("w.fmt + 16", 4)}, " +
          "NULL) AS byte_rate",
        s"IF(format = 'WAVE' AND w.fmt > 0, ${leN("w.fmt + 22", 2)}, " +
          "NULL) AS bits",
        s"IF(format = 'WAVE' AND w.data > 0, ${leN("w.data + 4", 4)}, " +
          "NULL) AS data_bytes",
        s"""IF(format = 'WAVE' AND w.data > 0 AND w.fmt > 0
           |    AND ${leN("w.fmt + 16", 4)} > 0,
           |  round(CAST(${leN("w.data + 4", 4)} AS DOUBLE)
           |    / ${leN("w.fmt + 16", 4)}, 4) + 0.0,
           |  NULL) AS duration_s""".stripMargin)
      .orderBy($"doc_id")
  }

  /** PCM silence profile (q390) — the trim/VAD gate an audio curation
    * pass runs before any model hears a clip: through the REAL
    * AudioSystem decode (q208's path), per clip the silent-sample
    * count at a fixed amplitude threshold, the leading/trailing
    * silent runs (the trim points) and the longest internal silent
    * run (the split point for long recordings). Decode + one linear
    * sample pass per row, partition-local; rejected bytes → null row
    * (F4). The oracle replays the SAMPLES THEMSELVES — little-endian
    * int16 parse of the data chunk at its fixed planted offset, then
    * gaps-and-islands over the silent flags — not planted constants:
    * the strongest replay this family has. */
  def qSilenceProfile(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val media = Tables.documents(s, dir)
      .select($"doc_id",
        when($"doc_id" % 3 === 0, unhex(lit(SilenceWavHex)))
          .otherwise($"text".cast("binary")).as("media"))
    Multimodal.silenceProfile(media, "media", SilenceThr)
      .select($"doc_id", $"n_samples", $"n_silent",
        (round($"n_silent" / when($"n_samples" > 0L,
          $"n_samples".cast("double")), 4) + lit(0.0))
          .as("silence_ratio"),
        $"lead_silence", $"trail_silence", $"longest_run")
      .orderBy($"doc_id")
  }

  /** BMP header parse (q392) — the SIGNED little-endian decode the
    * other walks never need: BITMAPINFOHEADER's height is negative
    * for top-down rasters, so a correct reader must two's-complement
    * the 32-bit read (v ≥ 2³¹ → v − 2³²) — the classic intake bug
    * this query pins. Fixed-offset reads only, one codegen'd
    * projection; the planted corpus carries one bottom-up and one
    * top-down BMP plus non-BMP rows (F4). */
  def qBmpMeta(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val media = when($"doc_id" % 4 === 0, unhex(lit(TinyBmpHex)))
      .when($"doc_id" % 4 === 1, unhex(lit(TinyBmpTopHex)))
      .otherwise($"text".cast("binary"))
    def signed32(pos: String) =
      s"(CASE WHEN ${leN(pos, 4)} >= 2147483648 " +
        s"THEN ${leN(pos, 4)} - 4294967296 ELSE ${leN(pos, 4)} END)"
    Tables.documents(s, dir)
      .select($"doc_id", media.as("media"))
      .selectExpr("doc_id", "media",
        "CAST(length(media) AS BIGINT) AS n_bytes",
        "hex(substring(media, 1, 2)) = '424D'" +
          " AND length(media) >= 54 AS is_bmp")
      .selectExpr("doc_id", "n_bytes", "is_bmp",
        s"IF(is_bmp, ${leN("3", 4)}, NULL) AS file_size",
        s"IF(is_bmp, ${leN("11", 4)}, NULL) AS data_offset",
        s"IF(is_bmp, ${signed32("19")}, NULL) AS width",
        s"IF(is_bmp, ${signed32("23")}, NULL) AS height",
        // string, not nullable boolean: the driver's pandas compare
        // renders a null bool as None on one engine and NaN on the
        // other — strings null-compare cleanly
        s"IF(is_bmp, CAST(${signed32("23")} < 0 AS STRING), NULL)" +
          " AS top_down",
        s"IF(is_bmp, ${leN("29", 2)}, NULL) AS bpp")
      .orderBy($"doc_id")
  }

  /** ID3v2 tag parse (q393) — the SYNCSAFE integer decode (7 bits per
    * byte, high bit reserved — sizes that survive inside an MPEG
    * stream) every audio-metadata intake needs: tag version, syncsafe
    * tag size, first frame id + size, and the TIT2 title text. Fixed
    * offsets + one guarded read chain, codegen'd; non-ID3 rows → null
    * structure (F4). */
  def qId3Meta(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val media = when($"doc_id" % 3 === 0, unhex(lit(TinyId3Hex)))
      .otherwise($"text".cast("binary"))
    def b(pos: Int) = s"CAST(conv(${hx(pos.toString)}, 16, 10) AS BIGINT)"
    val syncsafe = s"(((${b(7)} % 128) * 2097152) + " +
      s"((${b(8)} % 128) * 16384) + ((${b(9)} % 128) * 128) + " +
      s"(${b(10)} % 128))"
    Tables.documents(s, dir)
      .select($"doc_id", media.as("media"))
      .selectExpr("doc_id", "media",
        "hex(substring(media, 1, 3)) = '494433'" +
          " AND length(media) >= 10 AS is_id3")
      .selectExpr("doc_id", "is_id3",
        s"IF(is_id3, ${b(4)}, NULL) AS ver_major",
        s"IF(is_id3, $syncsafe, NULL) AS tag_size",
        s"""IF(is_id3 AND length(media) >= 20,
           |  CAST(substring(media, 11, 4) AS STRING), NULL)
           |  AS frame_id""".stripMargin,
        s"IF(is_id3 AND length(media) >= 20, ${beN("15", 4)}, NULL)" +
          " AS frame_size",
        s"""IF(is_id3 AND length(media) >= 20
           |    AND CAST(substring(media, 11, 4) AS STRING) = 'TIT2'
           |    AND ${beN("15", 4)} BETWEEN 2 AND 64,
           |  CAST(substring(media, 22,
           |    CAST(${beN("15", 4)} - 1 AS INT)) AS STRING), NULL)
           |  AS title""".stripMargin)
      .orderBy($"doc_id")
  }

  /** Media inventory card (q395) — the routing table an intake
    * pipeline keeps per container kind: count, byte mass, min/max
    * payload size and corpus share over q60's sniffed kinds. One
    * partial-agg groupBy to |kinds| rows. */
  def qMediaInventory(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = Tables.documents(s, dir)
      .withColumn("media", payload(s))
      .select($"doc_id",
        length($"media").cast("long").as("n_bytes"),
        Multimodal.mediaKind($"media").as("kind"))
    val tot = base.agg(count(lit(1)).as("total"))
    base.groupBy($"kind")
      .agg(count(lit(1)).as("n"),
        sum($"n_bytes").as("total_bytes"),
        min($"n_bytes").as("min_bytes"),
        max($"n_bytes").as("max_bytes"))
      .crossJoin(broadcast(tot))
      .select($"kind", $"n", $"total_bytes", $"min_bytes", $"max_bytes",
        (round($"n" / $"total".cast("double"), 4) + lit(0.0))
          .as("share"))
      .orderBy($"kind")
  }

  /** GIF block-walk cap (q394) and ZIP central-directory cap (q397) —
    * same bounded-inventory contract as SegWalkCap. */
  private val GifWalkCap = 24
  private val ZipWalkCap = 8

  /** GIF89a block walk (q394) — the third block grammar after JPEG
    * markers (q388) and RIFF chunks (q389): a STATE-MACHINE walk,
    * because GIF data is length-prefixed sub-block CHAINS (extension
    * and image payloads are sequences of ≤255-byte blocks ending in a
    * 0 terminator), so the walker carries an in-data flag across
    * steps instead of a single per-segment size read. Publishes the
    * logical-screen descriptor (dims, global-color-table size) and
    * the walked inventory: frame count (image descriptors, honoring a
    * local color table's bytes), extension count, block steps, and
    * whether the trailer 0x3B terminated the walk. One codegen'd
    * fold, no decode, no shuffle; non-GIF rows → null walk (F4). */
  def qGifWalk(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val media = when($"doc_id" % 3 === 0, unhex(lit(TinyGifHex)))
      .otherwise($"text".cast("binary"))
    def b(pos: String) = s"CAST(conv(${hx(pos)}, 16, 10) AS BIGINT)"
    // struct builder: (o, data-mode, frames, exts, n, term, bad)
    def st(o: String, d: String, f: String, e: String, n: String,
        t: String, bad: String) =
      s"named_struct('o', $o, 'd', $d, 'f', $f, 'e', $e, 'n', $n, " +
        s"'t', $t, 'b', $bad)"
    val lctb = s"IF(${b("acc.o + 9")} >= 128, 3 * CAST(pow(2, " +
      s"${b("acc.o + 9")} % 8 + 1) AS BIGINT), CAST(0 AS BIGINT))"
    val walk =
      s"""CASE WHEN is_gif THEN aggregate(
         |  sequence(1, $GifWalkCap),
         |  ${st("bstart", "false", "CAST(0 AS BIGINT)",
                "CAST(0 AS BIGINT)", "CAST(0 AS BIGINT)", "false",
                "false")},
         |  (acc, i) -> IF(acc.t OR acc.b, acc,
         |    IF(acc.o > CAST(length(media) AS BIGINT),
         |      ${st("acc.o", "acc.d", "acc.f", "acc.e", "acc.n",
                    "acc.t", "true")},
         |      IF(acc.d,
         |        ${st(s"IF(${b("acc.o")} = 0, acc.o + 1, " +
                      s"acc.o + 1 + ${b("acc.o")})",
                    s"${b("acc.o")} != 0", "acc.f", "acc.e",
                    "acc.n + 1", "acc.t", "acc.b")},
         |        CASE ${hx("acc.o")}
         |          WHEN '21' THEN ${st("acc.o + 2", "true", "acc.f",
                        "acc.e + 1", "acc.n + 1", "false", "false")}
         |          WHEN '2C' THEN IF(
         |              acc.o + 10 > CAST(length(media) AS BIGINT),
         |            ${st("acc.o", "acc.d", "acc.f", "acc.e", "acc.n",
                        "acc.t", "true")},
         |            ${st(s"acc.o + 11 + $lctb", "true", "acc.f + 1",
                        "acc.e", "acc.n + 1", "false", "false")})
         |          WHEN '3B' THEN ${st("acc.o + 1", "acc.d", "acc.f",
                        "acc.e", "acc.n + 1", "true", "false")}
         |          ELSE ${st("acc.o", "acc.d", "acc.f", "acc.e",
                        "acc.n", "acc.t", "true")}
         |        END))) ) END AS w""".stripMargin
    Tables.documents(s, dir)
      .select($"doc_id", media.as("media"))
      .selectExpr("doc_id", "media",
        "hex(substring(media, 1, 4)) = '47494638'" +
          " AND length(media) >= 14 AS is_gif")
      .selectExpr("doc_id", "media", "is_gif",
        s"""IF(is_gif, 14 + IF(${b("11")} >= 128,
           |  3 * CAST(pow(2, ${b("11")} % 8 + 1) AS BIGINT),
           |  CAST(0 AS BIGINT)), NULL) AS bstart""".stripMargin)
      .selectExpr("doc_id", "media", "is_gif", "bstart", walk)
      .selectExpr("doc_id", "is_gif",
        "IF(is_gif, CAST(substring(media, 4, 3) AS STRING), NULL)" +
          " AS version",
        s"IF(is_gif, ${leN("7", 2)}, NULL) AS width",
        s"IF(is_gif, ${leN("9", 2)}, NULL) AS height",
        s"""IF(is_gif, IF(${b("11")} >= 128,
           |  CAST(pow(2, ${b("11")} % 8 + 1) AS BIGINT),
           |  CAST(0 AS BIGINT)), NULL) AS gct_entries""".stripMargin,
        "IF(is_gif, w.f, NULL) AS n_frames",
        "IF(is_gif, w.e, NULL) AS n_exts",
        "IF(is_gif, w.n, NULL) AS n_blocks",
        "IF(is_gif, CAST(w.t AS STRING), NULL) AS terminated",
        "IF(is_gif, CAST(w.b AS STRING), NULL) AS walk_bad")
      .orderBy($"doc_id")
  }

  /** MPEG audio frame-header decode (q396) — pure fixed-offset BIT
    * arithmetic (the walks so far read whole bytes): sync word, then
    * version/layer/bitrate-index/samplerate-index/padding/channel-mode
    * sliced out of 4 bytes by div/mod, the indexes resolved through
    * the published MPEG-1 Layer III tables, and the derived frame
    * length floor(144000·kbps/rate)+padding a stream slicer needs.
    * Handles both container spellings: an ID3v2 prefix (header at
    * 11 + syncsafe tag size — q393's decode reused) and a bare sync
    * at byte 1. Invalid headers (reserved version/layer/index values)
    * publish the sync position but null decode fields (F4). */
  def qMpegHeader(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val media = when($"doc_id" % 4 === 0, unhex(lit(TinyId3Hex)))
      .when($"doc_id" % 4 === 1, unhex(lit(TinyMpegHex)))
      .when($"doc_id" % 4 === 2,
        concat(unhex(lit("FFE0")), $"text".cast("binary")))
      .otherwise($"text".cast("binary"))
    def b(pos: String) = s"CAST(conv(${hx(pos)}, 16, 10) AS BIGINT)"
    val syncsafe = s"(((${b("7")} % 128) * 2097152) + " +
      s"((${b("8")} % 128) * 16384) + ((${b("9")} % 128) * 128) + " +
      s"(${b("10")} % 128))"
    Tables.documents(s, dir)
      .select($"doc_id", media.as("media"))
      .selectExpr("doc_id", "media",
        "hex(substring(media, 1, 3)) = '494433'" +
          " AND length(media) >= 10 AS is_id3")
      .selectExpr("doc_id", "media", "is_id3",
        s"IF(is_id3, 11 + $syncsafe, CAST(1 AS BIGINT)) AS hoff")
      .selectExpr("doc_id", "media", "is_id3", "hoff",
        s"""(hoff + 3 <= CAST(length(media) AS BIGINT)
           | AND ${b("hoff")} = 255
           | AND ${b("hoff + 1")} >= 224) AS has_sync""".stripMargin)
      .selectExpr("doc_id", "media", "is_id3", "hoff", "has_sync",
        s"IF(has_sync, (${b("hoff + 1")} DIV 8) % 4, NULL) AS ver_id",
        s"IF(has_sync, (${b("hoff + 1")} DIV 2) % 4, NULL) AS layer_id",
        s"IF(has_sync, ${b("hoff + 2")} DIV 16, NULL) AS bitrate_idx",
        s"IF(has_sync, (${b("hoff + 2")} DIV 4) % 4, NULL) AS sr_idx",
        s"IF(has_sync, (${b("hoff + 2")} DIV 2) % 2, NULL) AS padding",
        s"IF(has_sync, ${b("hoff + 3")} DIV 64, NULL) AS ch_mode")
      .selectExpr("doc_id", "is_id3", "hoff", "has_sync",
        "ver_id", "layer_id", "bitrate_idx", "sr_idx", "padding",
        "ch_mode",
        """(has_sync AND ver_id = 3 AND layer_id = 1
          | AND bitrate_idx BETWEEN 1 AND 14 AND sr_idx <= 2)
          | AS valid""".stripMargin)
      .selectExpr("doc_id", "is_id3", "has_sync", "hoff",
        "CAST(valid AS STRING) AS valid",
        """IF(valid, CASE bitrate_idx
          |  WHEN 1 THEN 32 WHEN 2 THEN 40 WHEN 3 THEN 48
          |  WHEN 4 THEN 56 WHEN 5 THEN 64 WHEN 6 THEN 80
          |  WHEN 7 THEN 96 WHEN 8 THEN 112 WHEN 9 THEN 128
          |  WHEN 10 THEN 160 WHEN 11 THEN 192 WHEN 12 THEN 224
          |  WHEN 13 THEN 256 WHEN 14 THEN 320 END, NULL)
          |  AS bitrate_kbps""".stripMargin,
        """IF(valid, CASE sr_idx WHEN 0 THEN 44100 WHEN 1 THEN 48000
          |  WHEN 2 THEN 32000 END, NULL) AS sample_rate""".stripMargin,
        """IF(valid, CASE ch_mode WHEN 0 THEN 'stereo'
          |  WHEN 1 THEN 'joint_stereo' WHEN 2 THEN 'dual_channel'
          |  WHEN 3 THEN 'mono' END, NULL) AS mode""".stripMargin,
        "IF(valid, padding, NULL) AS padded")
      .selectExpr("doc_id", "is_id3", "has_sync", "hoff", "valid",
        "bitrate_kbps", "sample_rate", "mode", "padded",
        """IF(valid IS NOT NULL AND valid = 'true',
          |  CAST(floor(144000.0 * bitrate_kbps / sample_rate)
          |    AS BIGINT) + padded, NULL) AS frame_bytes""".stripMargin)
      .orderBy($"doc_id")
  }

  /** ZIP central-directory walk (q397) — the archive grammar document
    * intake (docx/xlsx/epub are all ZIP) reads BACKWARDS: locate the
    * end-of-central-directory record at the file tail, read the entry
    * count and central-directory offset from it, then walk the
    * central entries forward (each advancing by its own three
    * variable-length fields) publishing names, stored/compressed byte
    * masses, and whether every entry is STORED. Planted archive +
    * non-ZIP rows (F4); bounded fold, one projection. */
  def qZipWalk(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val media = when($"doc_id" % 3 === 0, unhex(lit(TinyZipHex)))
      .otherwise($"text".cast("binary"))
    def st(o: String, n: String, nm: String, u: String, c: String,
        sOnly: String, bad: String) =
      s"named_struct('o', $o, 'n', $n, 'nm', $nm, 'u', $u, 'c', $c, " +
        s"'s', $sOnly, 'b', $bad)"
    val nlen = leN("acc.o + 28", 2)
    val walk =
      s"""CASE WHEN is_zip THEN aggregate(
         |  sequence(1, $ZipWalkCap),
         |  ${st("cd_off + 1", "CAST(0 AS BIGINT)", "''",
                "CAST(0 AS BIGINT)", "CAST(0 AS BIGINT)", "true",
                "false")},
         |  (acc, i) -> IF(acc.b OR acc.n >= n_entries, acc,
         |    IF(acc.o + 45 > CAST(length(media) AS BIGINT)
         |        OR hex(substring(media, CAST(acc.o AS INT), 4))
         |          != '504B0102'
         |        OR acc.o + 45 + $nlen
         |          > CAST(length(media) AS BIGINT),
         |      ${st("acc.o", "acc.n", "acc.nm", "acc.u", "acc.c",
                    "acc.s", "true")},
         |      ${st(
                  s"acc.o + 46 + $nlen + ${leN("acc.o + 30", 2)} + " +
                    s"${leN("acc.o + 32", 2)}",
                  "acc.n + 1",
                  s"IF(acc.n = 0, CAST(substring(media, " +
                    s"CAST(acc.o + 46 AS INT), CAST($nlen AS INT)) " +
                    s"AS STRING), concat(acc.nm, ',', " +
                    s"CAST(substring(media, CAST(acc.o + 46 AS INT), " +
                    s"CAST($nlen AS INT)) AS STRING)))",
                  s"acc.u + ${leN("acc.o + 24", 4)}",
                  s"acc.c + ${leN("acc.o + 20", 4)}",
                  s"acc.s AND ${leN("acc.o + 10", 2)} = 0",
                  "false")}))) END AS w""".stripMargin
    Tables.documents(s, dir)
      .select($"doc_id", media.as("media"))
      .selectExpr("doc_id", "media",
        s"""(length(media) >= 22 AND hex(substring(media,
           |  CAST(length(media) - 21 AS INT), 4)) = '504B0506')
           |  AS is_zip""".stripMargin)
      .selectExpr("doc_id", "media", "is_zip",
        s"IF(is_zip, ${leN("length(media) - 11", 2)}, NULL)" +
          " AS n_entries",
        s"IF(is_zip, ${leN("length(media) - 9", 4)}, NULL) AS cd_size",
        s"IF(is_zip, ${leN("length(media) - 5", 4)}, NULL) AS cd_off")
      .selectExpr("doc_id", "media", "is_zip", "n_entries", "cd_size",
        "cd_off", walk)
      .selectExpr("doc_id", "is_zip", "n_entries", "cd_size", "cd_off",
        "IF(is_zip, w.n, NULL) AS n_walked",
        "IF(is_zip, w.nm, NULL) AS name_list",
        "IF(is_zip, w.u, NULL) AS total_usize",
        "IF(is_zip, w.c, NULL) AS total_csize",
        "IF(is_zip, CAST(w.s AS STRING), NULL) AS stored_only",
        "IF(is_zip, CAST(w.n = n_entries AND NOT w.b AS STRING), NULL)" +
          " AS walk_ok")
      .orderBy($"doc_id")
  }

  /** Binary text-content audit (q398) — the mislabel gate: is this
    * blob actually text? Byte-class tallies (printable ASCII incl.
    * tab/LF/CR, NULs, high bytes) over every payload, a printable
    * ratio, and a ≥0.95 texty verdict. Engine-side the bytes are
    * decoded ISO-8859-1 (a 1:1 byte↔char map) so the tallies are
    * three codegen'd regexp counts — no per-byte HOF, no UDF; the
    * oracle replays per-byte over hex. Scan-speed at any corpus. */
  def qBinaryText(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val media = when($"doc_id" % 4 === 0, unhex(lit(TinyPngHex)))
      .when($"doc_id" % 4 === 1, unhex(lit(SilenceWavHex)))
      .otherwise($"text".cast("binary"))
    Tables.documents(s, dir)
      .select($"doc_id", media.as("media"))
      .withColumn("s", decode($"media", "ISO-8859-1"))
      .select($"doc_id",
        length($"media").cast("long").as("n_bytes"),
        length(regexp_replace($"s", "[^\\x20-\\x7E\\t\\n\\r]", ""))
          .cast("long").as("n_printable"),
        length(regexp_replace($"s", "[^\\x00]", ""))
          .cast("long").as("n_nul"),
        length(regexp_replace($"s", "[\\x00-\\x7F]", ""))
          .cast("long").as("n_hi"))
      .select($"doc_id", $"n_bytes", $"n_printable", $"n_nul", $"n_hi",
        (round(when($"n_bytes" > 0,
            $"n_printable".cast("double") / $"n_bytes"), 4) + lit(0.0))
          .as("printable_ratio"),
        when($"n_bytes" > 0,
          ($"n_printable".cast("double") / $"n_bytes" >= 0.95)
            .cast("string")).as("is_texty"))
      .orderBy($"doc_id")
  }

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q394_gif_walk" -> (qGifWalk _),
    "q396_mpeg_header" -> (qMpegHeader _),
    "q397_zip_walk" -> (qZipWalk _),
    "q398_binary_text" -> (qBinaryText _),
    "q388_jpeg_exif" -> (qJpegExif _),
    "q389_riff_walk" -> (qRiffWalk _),
    "q390_silence_profile" -> (qSilenceProfile _),
    "q392_bmp_meta" -> (qBmpMeta _),
    "q393_id3_meta" -> (qId3Meta _),
    "q395_media_inventory" -> (qMediaInventory _),
    "q344_thumbnail" -> (qThumbnail _),
    "q284_scene_cuts" -> (qSceneCuts _),
    "q246_audio_spectrum" -> (qAudioSpectrum _),
    "q60_media_meta"     -> (qMediaMeta _),
    "q381_png_meta"      -> (qPngMeta _),
    "q61_media_features" -> (qMediaFeatures _),
    "q138_video_frames"  -> (qVideoFrames _),
    "q163_image_phash"   -> (qImagePhash _),
    "q208_audio_features" -> (qAudioFeatures _),
  )

  // oracle-side byte helpers over `h` = upper(hex(media)), 1-based
  // byte offsets (byte o ↔ hex chars 2o−1..2o; DuckDB 1.0 has no BLOB
  // substring — the round-15 idiom)
  private def oHx(pos: String) = s"substr(h, 2 * ($pos) - 1, 2)"
  private def oBeN(pos: String, n: Int) =
    s"('0x' || substr(h, 2 * ($pos) - 1, ${2 * n}))::BIGINT"
  private def oLeN(pos: String, n: Int): String =
    (0 until n).map(i =>
      s"('0x' || ${oHx(s"($pos) + $i")})::BIGINT * ${1L << (8 * i)}")
      .mkString("(", " + ", ")")
  private def oChr(pos: String, n: Int): String =
    (0 until n).map(i => s"chr(('0x' || ${oHx(s"($pos) + $i")})::INT)")
      .mkString(" || ")

  override def oracleSql: Map[String, String] = Map(
    // q394: the GIF state machine replayed as a recursive CTE — the
    // in-data flag travels in the recursion row; all byte reads are
    // guarded in a derived table so an out-of-bounds step yields NULL
    // fields and the bad flag, never a '0x'::BIGINT cast error.
    "q394_gif_walk" -> {
      def bAt(pos: String) = s"('0x' || substr(h, 2 * ($pos) - 1, 2))::BIGINT"
      s"""WITH RECURSIVE m AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 3 = 0 THEN unhex('$TinyGifHex')
        |         ELSE encode(text) END AS media
        |  FROM documents),
        |p AS (
        |  SELECT doc_id, upper(hex(media)) AS h,
        |    CAST(octet_length(media) AS BIGINT) AS len,
        |    (substr(upper(hex(media)), 1, 8) = '47494638'
        |      AND octet_length(media) >= 14) AS is_gif
        |  FROM m),
        |g AS (
        |  SELECT doc_id,
        |    CASE WHEN ${bAt("11")} >= 128
        |      THEN CAST(power(2, ${bAt("11")} % 8 + 1) AS BIGINT)
        |      ELSE 0 END AS gct_entries
        |  FROM p WHERE is_gif),
        |walk AS (
        |  SELECT doc_id, CAST(14 + 3 * gct_entries AS BIGINT) AS o,
        |    FALSE AS dat, CAST(0 AS BIGINT) AS f,
        |    CAST(0 AS BIGINT) AS e, CAST(0 AS BIGINT) AS n,
        |    FALSE AS term, FALSE AS bad, 0 AS step
        |  FROM g
        |  UNION ALL
        |  SELECT doc_id,
        |    CASE WHEN oob THEN o
        |      WHEN dat THEN CASE WHEN bv = 0 THEN o + 1
        |        ELSE o + 1 + bv END
        |      WHEN cb = '21' THEN o + 2
        |      WHEN cb = '2C' AND o + 10 <= len THEN o + 11 + lctb
        |      WHEN cb = '3B' THEN o + 1
        |      ELSE o END,
        |    CASE WHEN oob THEN dat
        |      WHEN dat THEN bv != 0
        |      WHEN cb = '21' THEN TRUE
        |      WHEN cb = '2C' AND o + 10 <= len THEN TRUE
        |      ELSE dat END,
        |    f + CASE WHEN NOT oob AND NOT dat
        |      AND cb = '2C' AND o + 10 <= len THEN 1 ELSE 0 END,
        |    e + CASE WHEN NOT oob AND NOT dat AND cb = '21'
        |      THEN 1 ELSE 0 END,
        |    n + CASE WHEN oob THEN 0
        |      WHEN dat THEN 1
        |      WHEN cb IN ('21', '3B') THEN 1
        |      WHEN cb = '2C' AND o + 10 <= len THEN 1
        |      ELSE 0 END,
        |    NOT oob AND NOT dat AND cb = '3B',
        |    oob OR (NOT dat AND cb NOT IN ('21', '2C', '3B'))
        |      OR (NOT dat AND cb = '2C' AND o + 10 > len),
        |    step + 1
        |  FROM (
        |    SELECT w.*, q.len, w.o > q.len AS oob,
        |      CASE WHEN w.o <= q.len
        |        THEN substr(q.h, 2 * w.o - 1, 2) END AS cb,
        |      CASE WHEN w.o <= q.len THEN ${bAt("w.o")} END AS bv,
        |      CASE WHEN w.o + 10 <= q.len THEN
        |        CASE WHEN ${bAt("w.o + 9")} >= 128
        |          THEN CAST(3 * power(2, ${bAt("w.o + 9")} % 8 + 1)
        |            AS BIGINT)
        |          ELSE 0 END END AS lctb
        |    FROM walk w JOIN p q USING (doc_id)
        |    WHERE w.step < $GifWalkCap AND NOT w.term AND NOT w.bad)),
        |fin AS (
        |  SELECT * FROM (
        |    SELECT w.*, row_number() OVER (PARTITION BY doc_id
        |      ORDER BY step DESC) AS rk FROM walk w)
        |  WHERE rk = 1)
        |SELECT p.doc_id, p.is_gif,
        |  CASE WHEN p.is_gif THEN chr(${bAt("4")}::INT)
        |    || chr(${bAt("5")}::INT) || chr(${bAt("6")}::INT) END
        |    AS version,
        |  CASE WHEN p.is_gif THEN ${oLeN("7", 2)} END AS width,
        |  CASE WHEN p.is_gif THEN ${oLeN("9", 2)} END AS height,
        |  g.gct_entries, f.f AS n_frames, f.e AS n_exts,
        |  f.n AS n_blocks,
        |  CASE WHEN p.is_gif THEN CAST(f.term AS VARCHAR) END
        |    AS terminated,
        |  CASE WHEN p.is_gif THEN CAST(f.bad AS VARCHAR) END
        |    AS walk_bad
        |FROM p
        |LEFT JOIN g USING (doc_id)
        |LEFT JOIN fin f USING (doc_id)
        |ORDER BY p.doc_id""".stripMargin
    },
    // q396: fixed-offset bit slicing via div/mod, index tables as
    // CASE decodes — no recursion needed.
    "q396_mpeg_header" -> {
      def bAt(pos: String) = s"('0x' || substr(h, 2 * ($pos) - 1, 2))::BIGINT"
      val syncsafe = s"(((${bAt("7")} % 128) * 2097152) + " +
        s"((${bAt("8")} % 128) * 16384) + ((${bAt("9")} % 128) * 128)" +
        s" + (${bAt("10")} % 128))"
      s"""WITH m AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 4 = 0 THEN unhex('$TinyId3Hex')
        |         WHEN doc_id % 4 = 1 THEN unhex('$TinyMpegHex')
        |         WHEN doc_id % 4 = 2 THEN unhex('FFE0') || encode(text)
        |         ELSE encode(text) END AS media
        |  FROM documents),
        |p AS (
        |  SELECT doc_id, upper(hex(media)) AS h,
        |    CAST(octet_length(media) AS BIGINT) AS len,
        |    (substr(upper(hex(media)), 1, 6) = '494433'
        |      AND octet_length(media) >= 10) AS is_id3
        |  FROM m),
        |o1 AS (
        |  SELECT doc_id, h, len, is_id3,
        |    CASE WHEN is_id3 THEN 11 + $syncsafe
        |      ELSE CAST(1 AS BIGINT) END AS hoff
        |  FROM p),
        |o2 AS (
        |  SELECT doc_id, h, len, is_id3, hoff,
        |    CASE WHEN hoff + 3 <= len
        |      THEN ${bAt("hoff")} = 255 AND ${bAt("hoff + 1")} >= 224
        |      ELSE FALSE END AS has_sync
        |  FROM o1),
        |o3 AS (
        |  SELECT doc_id, is_id3, hoff, has_sync,
        |    CASE WHEN has_sync THEN (${bAt("hoff + 1")} // 8) % 4 END
        |      AS ver_id,
        |    CASE WHEN has_sync THEN (${bAt("hoff + 1")} // 2) % 4 END
        |      AS layer_id,
        |    CASE WHEN has_sync THEN ${bAt("hoff + 2")} // 16 END
        |      AS bitrate_idx,
        |    CASE WHEN has_sync THEN (${bAt("hoff + 2")} // 4) % 4 END
        |      AS sr_idx,
        |    CASE WHEN has_sync THEN (${bAt("hoff + 2")} // 2) % 2 END
        |      AS padding,
        |    CASE WHEN has_sync THEN ${bAt("hoff + 3")} // 64 END
        |      AS ch_mode
        |  FROM o2),
        |o4 AS (
        |  SELECT *, coalesce(has_sync AND ver_id = 3 AND layer_id = 1
        |    AND bitrate_idx BETWEEN 1 AND 14 AND sr_idx <= 2, FALSE)
        |    AS validb
        |  FROM o3)
        |SELECT doc_id, is_id3, has_sync, hoff,
        |  CAST(validb AS VARCHAR) AS valid,
        |  CASE WHEN validb THEN CASE bitrate_idx
        |    WHEN 1 THEN 32 WHEN 2 THEN 40 WHEN 3 THEN 48
        |    WHEN 4 THEN 56 WHEN 5 THEN 64 WHEN 6 THEN 80
        |    WHEN 7 THEN 96 WHEN 8 THEN 112 WHEN 9 THEN 128
        |    WHEN 10 THEN 160 WHEN 11 THEN 192 WHEN 12 THEN 224
        |    WHEN 13 THEN 256 WHEN 14 THEN 320 END END AS bitrate_kbps,
        |  CASE WHEN validb THEN CASE sr_idx WHEN 0 THEN 44100
        |    WHEN 1 THEN 48000 WHEN 2 THEN 32000 END END AS sample_rate,
        |  CASE WHEN validb THEN CASE ch_mode WHEN 0 THEN 'stereo'
        |    WHEN 1 THEN 'joint_stereo' WHEN 2 THEN 'dual_channel'
        |    WHEN 3 THEN 'mono' END END AS mode,
        |  CASE WHEN validb THEN padding END AS padded,
        |  CASE WHEN validb THEN CAST(floor(144000.0 * (CASE bitrate_idx
        |    WHEN 1 THEN 32 WHEN 2 THEN 40 WHEN 3 THEN 48
        |    WHEN 4 THEN 56 WHEN 5 THEN 64 WHEN 6 THEN 80
        |    WHEN 7 THEN 96 WHEN 8 THEN 112 WHEN 9 THEN 128
        |    WHEN 10 THEN 160 WHEN 11 THEN 192 WHEN 12 THEN 224
        |    WHEN 13 THEN 256 WHEN 14 THEN 320 END)
        |    / (CASE sr_idx WHEN 0 THEN 44100 WHEN 1 THEN 48000
        |    WHEN 2 THEN 32000 END)) AS BIGINT) + padding END
        |    AS frame_bytes
        |FROM o4 ORDER BY doc_id""".stripMargin
    },
    // q397: EOCD fixed reads + the central-directory walk as a
    // recursive CTE carrying the accumulated name list.
    "q397_zip_walk" -> {
      def bAt(pos: String) = s"('0x' || substr(h, 2 * ($pos) - 1, 2))::BIGINT"
      def le(pos: String, n: Int): String =
        (0 until n).map(i =>
          s"${bAt(s"($pos) + $i")} * ${1L << (8 * i)}")
          .mkString("(", " + ", ")")
      def nm(pos: String, ln: String) =
        s"""list_aggregate(list_transform(
           |      generate_series(0, CAST(($ln) - 1 AS INT)),
           |      j -> chr(('0x' || substr(h, 2 * (($pos) + j) - 1, 2))
           |        ::INT)), 'string_agg', '')""".stripMargin
      s"""WITH RECURSIVE m AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 3 = 0 THEN unhex('$TinyZipHex')
        |         ELSE encode(text) END AS media
        |  FROM documents),
        |p AS (
        |  SELECT doc_id, upper(hex(media)) AS h,
        |    CAST(octet_length(media) AS BIGINT) AS len,
        |    (octet_length(media) >= 22 AND substr(upper(hex(media)),
        |      2 * (octet_length(media) - 21) - 1, 8) = '504B0506')
        |      AS is_zip
        |  FROM m),
        |z AS (
        |  SELECT doc_id, h, len, ${le("len - 11", 2)} AS n_entries,
        |    ${le("len - 9", 4)} AS cd_size,
        |    ${le("len - 5", 4)} AS cd_off
        |  FROM p WHERE is_zip),
        |walk AS (
        |  SELECT doc_id, cd_off + 1 AS o, CAST(0 AS BIGINT) AS n,
        |    '' AS nm, CAST(0 AS BIGINT) AS u, CAST(0 AS BIGINT) AS c,
        |    TRUE AS st, FALSE AS bad, 0 AS step
        |  FROM z
        |  UNION ALL
        |  SELECT doc_id,
        |    CASE WHEN hdr_bad THEN o
        |      ELSE o + 46 + nlen + xlen + clen END,
        |    CASE WHEN hdr_bad THEN n ELSE n + 1 END,
        |    CASE WHEN hdr_bad THEN nm
        |      WHEN n = 0 THEN ename
        |      ELSE nm || ',' || ename END,
        |    CASE WHEN hdr_bad THEN u ELSE u + usz END,
        |    CASE WHEN hdr_bad THEN c ELSE c + csz END,
        |    CASE WHEN hdr_bad THEN st ELSE st AND mth = 0 END,
        |    hdr_bad,
        |    step + 1
        |  FROM (
        |    SELECT w.*, q.len, q.n_entries,
      |      CASE WHEN w.o + 45 > q.len THEN TRUE
        |        ELSE substr(q.h, 2 * w.o - 1, 8) != '504B0102'
        |          OR w.o + 45 + ${le("w.o + 28", 2)} > q.len
        |        END AS hdr_bad,
        |      CASE WHEN w.o + 45 <= q.len THEN ${le("w.o + 28", 2)}
        |        END AS nlen,
        |      CASE WHEN w.o + 45 <= q.len THEN ${le("w.o + 30", 2)}
        |        END AS xlen,
        |      CASE WHEN w.o + 45 <= q.len THEN ${le("w.o + 32", 2)}
        |        END AS clen,
        |      CASE WHEN w.o + 45 <= q.len THEN ${le("w.o + 24", 4)}
        |        END AS usz,
        |      CASE WHEN w.o + 45 <= q.len THEN ${le("w.o + 20", 4)}
        |        END AS csz,
        |      CASE WHEN w.o + 45 <= q.len THEN ${le("w.o + 10", 2)}
        |        END AS mth,
        |      CASE WHEN w.o + 45 <= q.len
        |          AND w.o + 45 + ${le("w.o + 28", 2)} <= q.len
        |          AND ${le("w.o + 28", 2)} >= 1
        |        THEN ${nm("w.o + 46", le("w.o + 28", 2))} END AS ename
        |    FROM walk w JOIN z q USING (doc_id)
        |    WHERE w.step < $ZipWalkCap AND NOT w.bad
        |      AND w.n < q.n_entries)),
        |fin AS (
        |  SELECT * FROM (
        |    SELECT w.*, row_number() OVER (PARTITION BY doc_id
        |      ORDER BY step DESC) AS rk FROM walk w)
        |  WHERE rk = 1)
        |SELECT p.doc_id, p.is_zip, z.n_entries, z.cd_size, z.cd_off,
        |  f.n AS n_walked, f.nm AS name_list, f.u AS total_usize,
        |  f.c AS total_csize,
        |  CASE WHEN p.is_zip THEN CAST(f.st AS VARCHAR) END
        |    AS stored_only,
        |  CASE WHEN p.is_zip
        |    THEN CAST(f.n = z.n_entries AND NOT f.bad AS VARCHAR) END
        |    AS walk_ok
        |FROM p
        |LEFT JOIN z USING (doc_id)
        |LEFT JOIN fin f USING (doc_id)
        |ORDER BY p.doc_id""".stripMargin
    },
    // q398: per-byte class tallies replayed over hex via
    // generate_series; the engine's regexp counts must agree exactly.
    "q398_binary_text" ->
      s"""WITH m AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 4 = 0 THEN unhex('$TinyPngHex')
        |         WHEN doc_id % 4 = 1 THEN unhex('$SilenceWavHex')
        |         ELSE encode(text) END AS media
        |  FROM documents),
        |p AS (
        |  SELECT doc_id, upper(hex(media)) AS h,
        |    CAST(octet_length(media) AS BIGINT) AS len
        |  FROM m),
        |b AS (
        |  SELECT doc_id,
        |    ('0x' || substr(h, 2 * i - 1, 2))::INT AS v
        |  FROM (SELECT doc_id, h,
        |          unnest(generate_series(1, CAST(len AS INT))) AS i
        |        FROM p WHERE len >= 1)),
        |c AS (
        |  SELECT doc_id,
        |    CAST(count(*) FILTER (WHERE (v BETWEEN 32 AND 126)
        |      OR v IN (9, 10, 13)) AS BIGINT) AS n_printable,
        |    CAST(count(*) FILTER (WHERE v = 0) AS BIGINT) AS n_nul,
        |    CAST(count(*) FILTER (WHERE v >= 128) AS BIGINT) AS n_hi
        |  FROM b GROUP BY doc_id)
        |SELECT p.doc_id, p.len AS n_bytes,
        |  coalesce(c.n_printable, 0) AS n_printable,
        |  coalesce(c.n_nul, 0) AS n_nul,
        |  coalesce(c.n_hi, 0) AS n_hi,
        |  CASE WHEN p.len > 0 THEN round(
        |    CAST(coalesce(c.n_printable, 0) AS DOUBLE) / p.len, 4)
        |    + 0.0 END AS printable_ratio,
        |  CASE WHEN p.len > 0 THEN CAST(
        |    CAST(coalesce(c.n_printable, 0) AS DOUBLE) / p.len >= 0.95
        |    AS VARCHAR) END AS is_texty
        |FROM p LEFT JOIN c USING (doc_id)
        |ORDER BY p.doc_id""".stripMargin,
    // q388: the marker walk replayed as a recursive CTE (q381's
    // pattern), EXIF entry scan via generate_series, little-endian
    // reads as byte-swapped hex casts, ASCII rebuilt with chr().
    "q388_jpeg_exif" -> {
      val t = "(app1 + 10)"
      def tag(k: String) = oLeN(s"$t + 10 + 12 * ($k)", 2)
      def sval(k: String) = oLeN(s"$t + 18 + 12 * ($k)", 2)
      def cnt(k: String) = oLeN(s"$t + 14 + 12 * ($k)", 4)
      s"""WITH RECURSIVE m AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 3 = 0 THEN unhex('$TinyJpegExifHex')
        |         WHEN doc_id % 3 = 1 THEN unhex('FFD8FFE0') || encode(text)
        |         ELSE encode(text) END AS media
        |  FROM documents),
        |p AS (
        |  SELECT doc_id, upper(hex(media)) AS h,
        |    CAST(octet_length(media) AS BIGINT) AS len,
        |    substr(upper(hex(media)), 1, 4) = 'FFD8' AS is_jpeg
        |  FROM m),
        |walk AS (
        |  SELECT doc_id, CAST(3 AS BIGINT) AS o, CAST(0 AS BIGINT) AS n,
        |    '' AS types, CAST(0 AS BIGINT) AS app1,
        |    CAST(0 AS BIGINT) AS sof, false AS done, 0 AS step
        |  FROM p WHERE is_jpeg
        |  UNION ALL
        |  SELECT doc_id,
        |    CASE WHEN mk IN ('D9','D8','01','D0','D1','D2','D3','D4',
        |        'D5','D6','D7') THEN o + 2
        |      WHEN o + 4 <= len + 1
        |        THEN o + 2 + ('0x' || substr(h, 2 * (o + 2) - 1, 4))::BIGINT
        |      ELSE len + 2 END,
        |    n + 1,
        |    CASE WHEN types = '' THEN mk ELSE types || ',' || mk END,
        |    CASE WHEN app1 = 0 AND mk = 'E1' THEN o ELSE app1 END,
        |    CASE WHEN sof = 0 AND mk = 'C0' THEN o ELSE sof END,
        |    mk = 'D9', step + 1
        |  FROM (
        |    SELECT w.*, q.len, q.h, substr(q.h, 2 * (w.o + 1) - 1, 2) AS mk
        |    FROM walk w JOIN p q USING (doc_id)
        |    WHERE NOT w.done AND w.step < $SegWalkCap
        |      AND w.o + 1 <= q.len
        |      AND substr(q.h, 2 * w.o - 1, 2) = 'FF')),
        |fin AS (
        |  SELECT * FROM (
        |    SELECT w.*, row_number() OVER (PARTITION BY doc_id
        |      ORDER BY step DESC) AS rk FROM walk w)
        |  WHERE rk = 1),
        |ex AS (
        |  SELECT f.doc_id, f.n, f.types, f.app1, f.sof, q.h, q.len,
        |    (f.app1 > 0 AND f.app1 + 29 <= q.len
        |      AND substr(q.h, 2 * (f.app1 + 4) - 1, 12) = '457869660000')
        |      AS exif_magic
        |  FROM fin f JOIN p q USING (doc_id)),
        |ex2 AS (
        |  SELECT *,
        |    CASE WHEN exif_magic THEN ${oChr(t, 2)} END AS byte_order
        |  FROM ex),
        |ex3 AS (
        |  SELECT *,
        |    CASE WHEN byte_order = 'II' AND ${oLeN(s"$t + 4", 4)} = 8
        |      THEN ${oLeN(s"$t + 8", 2)} END AS n_ifd
        |  FROM ex2),
        |ent AS (
        |  SELECT doc_id, h, app1,
        |    unnest(generate_series(0, CAST(least(n_ifd, 8) AS INT) - 1))
        |      AS k
        |  FROM ex3 WHERE n_ifd >= 1),
        |entv AS (
        |  SELECT doc_id, k, ${tag("k")} AS tag, ${sval("k")} AS sval,
        |    ${cnt("k")} AS cnt,
        |    CASE WHEN ${cnt("k")} BETWEEN 2 AND 4
        |      THEN list_aggregate(list_transform(
        |        generate_series(0, CAST(${cnt("k")} - 2 AS INT)),
        |        j -> chr(('0x' || substr(h,
        |          2 * ($t + 18 + 12 * k + j) - 1, 2))::INT)),
        |        'string_agg', '') END AS mk_str
        |  FROM ent),
        |exv AS (
        |  SELECT doc_id,
        |    first(sval ORDER BY k) FILTER (WHERE tag = 256)
        |      AS exif_width,
        |    first(sval ORDER BY k) FILTER (WHERE tag = 257)
        |      AS exif_height,
        |    first(sval ORDER BY k) FILTER (WHERE tag = 274)
        |      AS orientation,
        |    first(mk_str ORDER BY k) FILTER (WHERE tag = 271) AS make
        |  FROM entv GROUP BY doc_id)
        |SELECT p.doc_id, p.is_jpeg,
        |  CASE WHEN p.is_jpeg THEN e.n END AS n_segments,
        |  CASE WHEN p.is_jpeg THEN e.types END AS seg_list,
        |  e.byte_order, e.n_ifd,
        |  v.exif_width, v.exif_height, v.orientation, v.make,
        |  CASE WHEN e.sof > 0 AND e.sof + 8 <= p.len
        |    THEN ('0x' || substr(e.h, 2 * (e.sof + 7) - 1, 4))::BIGINT
        |    END AS sof_width,
        |  CASE WHEN e.sof > 0 AND e.sof + 8 <= p.len
        |    THEN ('0x' || substr(e.h, 2 * (e.sof + 5) - 1, 4))::BIGINT
        |    END AS sof_height
        |FROM p
        |LEFT JOIN ex3 e USING (doc_id)
        |LEFT JOIN exv v USING (doc_id)
        |ORDER BY p.doc_id""".stripMargin
    },
    // q389: the RIFF chunk walk replayed — even-byte padding included;
    // fourccs rebuilt with chr().
    "q389_riff_walk" -> {
      s"""WITH RECURSIVE m AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 3 = 0 THEN unhex('$TinyWavHex')
        |         WHEN doc_id % 3 = 1 THEN unhex('$TinyAviHex')
        |         ELSE encode(text) END AS media
        |  FROM documents),
        |p AS (
        |  SELECT doc_id, upper(hex(media)) AS h,
        |    CAST(octet_length(media) AS BIGINT) AS len,
        |    substr(upper(hex(media)), 1, 8) = '52494646' AS is_riff
        |  FROM m),
        |walk AS (
        |  SELECT doc_id, CAST(13 AS BIGINT) AS o, CAST(0 AS BIGINT) AS n,
        |    '' AS types, CAST(0 AS BIGINT) AS fmt,
        |    CAST(0 AS BIGINT) AS dat, 0 AS step
        |  FROM p WHERE is_riff
        |  UNION ALL
        |  SELECT doc_id, o + 8 + csz + csz % 2, n + 1,
        |    CASE WHEN types = '' THEN cid ELSE types || ',' || cid END,
        |    CASE WHEN fmt = 0 AND cid = 'fmt ' THEN o ELSE fmt END,
        |    CASE WHEN dat = 0 AND cid = 'data' THEN o ELSE dat END,
        |    step + 1
        |  FROM (
        |    SELECT w.*, q.len, ${oChr("w.o", 4)} AS cid,
        |      ${oLeN("w.o + 4", 4)} AS csz
        |    FROM walk w JOIN p q ON q.doc_id = w.doc_id
        |      AND w.o + 8 <= q.len + 1
        |    WHERE w.step < $SegWalkCap)),
        |fin AS (
        |  SELECT * FROM (
        |    SELECT w.*, row_number() OVER (PARTITION BY doc_id
        |      ORDER BY step DESC) AS rk FROM walk w)
        |  WHERE rk = 1),
        |j AS (
        |  SELECT p.doc_id, p.is_riff, p.h, p.len, f.n, f.types, f.fmt,
        |    f.dat,
        |    CASE WHEN p.is_riff THEN ${oChr("9", 4)} END AS format
        |  FROM p LEFT JOIN fin f USING (doc_id))
        |SELECT doc_id, is_riff, format,
        |  CASE WHEN is_riff THEN ${oLeN("5", 4)} END AS riff_size,
        |  CASE WHEN is_riff THEN n END AS n_chunks,
        |  CASE WHEN is_riff THEN types END AS chunk_list,
        |  CASE WHEN format = 'WAVE' AND fmt > 0
        |    THEN ${oLeN("fmt + 8", 2)} END AS audio_format,
        |  CASE WHEN format = 'WAVE' AND fmt > 0
        |    THEN ${oLeN("fmt + 10", 2)} END AS channels,
        |  CASE WHEN format = 'WAVE' AND fmt > 0
        |    THEN ${oLeN("fmt + 12", 4)} END AS sample_rate,
        |  CASE WHEN format = 'WAVE' AND fmt > 0
        |    THEN ${oLeN("fmt + 16", 4)} END AS byte_rate,
        |  CASE WHEN format = 'WAVE' AND fmt > 0
        |    THEN ${oLeN("fmt + 22", 2)} END AS bits,
        |  CASE WHEN format = 'WAVE' AND dat > 0
        |    THEN ${oLeN("dat + 4", 4)} END AS data_bytes,
        |  CASE WHEN format = 'WAVE' AND dat > 0 AND fmt > 0
        |      AND ${oLeN("fmt + 16", 4)} > 0
        |    THEN round(CAST(${oLeN("dat + 4", 4)} AS DOUBLE)
        |      / ${oLeN("fmt + 16", 4)}, 4) + 0.0
        |    END AS duration_s
        |FROM j ORDER BY doc_id""".stripMargin
    },
    // q390: the PCM samples REPLAYED from the payload bytes — signed
    // little-endian int16 parse at the planted 44-byte header offset,
    // silent flags, gaps-and-islands for the longest run.
    "q390_silence_profile" ->
      s"""WITH m AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 3 = 0 THEN unhex('$SilenceWavHex')
        |         ELSE encode(text) END AS media
        |  FROM documents),
        |p AS (
        |  SELECT doc_id, upper(hex(media)) AS h,
        |    CAST(octet_length(media) AS BIGINT) AS len,
        |    (substr(upper(hex(media)), 1, 8) = '52494646'
        |      AND substr(upper(hex(media)), 17, 8) = '57415645'
        |      AND substr(upper(hex(media)), 25, 8) = '666D7420'
        |      AND substr(upper(hex(media)), 73, 8) = '64617461')
        |      AS is_wav
        |  FROM m),
        |n AS (
        |  SELECT doc_id, h, (len - 44) / 2 AS ns
        |  FROM p WHERE is_wav),
        |samp AS (
        |  SELECT doc_id, ns, unnest(generate_series(0,
        |    CAST(ns - 1 AS INT))) AS i, h
        |  FROM n WHERE ns >= 1),
        |sv AS (
        |  SELECT doc_id, ns, i,
        |    abs(CASE WHEN x >= 32768 THEN x - 65536 ELSE x END) < 512
        |      AS silent
        |  FROM (
        |    SELECT doc_id, ns, i,
        |      ('0x' || substr(h, 2 * (46 + 2 * i) - 1, 2)
        |        || substr(h, 2 * (45 + 2 * i) - 1, 2))::BIGINT AS x
        |    FROM samp)),
        |runs AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS c
        |  FROM (SELECT doc_id, i,
        |          i - row_number() OVER (PARTITION BY doc_id
        |            ORDER BY i) AS g
        |        FROM sv WHERE silent)
        |  GROUP BY doc_id, g),
        |agg AS (
        |  SELECT doc_id, max(ns) AS n_samples,
        |    CAST(coalesce(sum(CASE WHEN silent THEN 1 END), 0)
        |      AS BIGINT) AS n_silent,
        |    coalesce(min(CASE WHEN NOT silent THEN i END), max(ns))
        |      AS lead_silence,
        |    CASE WHEN max(CASE WHEN NOT silent THEN i END) IS NULL
        |      THEN max(ns)
        |      ELSE max(ns) - 1 - max(CASE WHEN NOT silent THEN i END)
        |      END AS trail_silence
        |  FROM sv GROUP BY doc_id),
        |lr AS (
        |  SELECT doc_id, CAST(max(c) AS BIGINT) AS longest_run
        |  FROM runs GROUP BY doc_id)
        |SELECT d.doc_id, a.n_samples, a.n_silent,
        |  CASE WHEN a.n_samples > 0
        |    THEN round(CAST(a.n_silent AS DOUBLE) / a.n_samples, 4)
        |      + 0.0 END AS silence_ratio,
        |  a.lead_silence, a.trail_silence,
        |  CASE WHEN a.n_samples IS NOT NULL
        |    THEN CAST(coalesce(l.longest_run, 0) AS BIGINT) END
        |    AS longest_run
        |FROM documents d
        |LEFT JOIN agg a USING (doc_id)
        |LEFT JOIN lr l ON l.doc_id = d.doc_id
        |ORDER BY d.doc_id""".stripMargin,
    // q392: fixed-offset reads, SIGNED little-endian height.
    "q392_bmp_meta" -> {
      def sgn32(pos: String) =
        s"(CASE WHEN ${oLeN(pos, 4)} >= 2147483648 " +
          s"THEN ${oLeN(pos, 4)} - 4294967296 ELSE ${oLeN(pos, 4)} END)"
      s"""WITH m AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 4 = 0 THEN unhex('$TinyBmpHex')
        |         WHEN doc_id % 4 = 1 THEN unhex('$TinyBmpTopHex')
        |         ELSE encode(text) END AS media
        |  FROM documents),
        |p AS (
        |  SELECT doc_id, upper(hex(media)) AS h,
        |    CAST(octet_length(media) AS BIGINT) AS n_bytes,
        |    (substr(upper(hex(media)), 1, 4) = '424D'
        |      AND octet_length(media) >= 54) AS is_bmp
        |  FROM m)
        |SELECT doc_id, n_bytes, is_bmp,
        |  CASE WHEN is_bmp THEN ${oLeN("3", 4)} END AS file_size,
        |  CASE WHEN is_bmp THEN ${oLeN("11", 4)} END AS data_offset,
        |  CASE WHEN is_bmp THEN ${sgn32("19")} END AS width,
        |  CASE WHEN is_bmp THEN ${sgn32("23")} END AS height,
        |  CASE WHEN is_bmp
        |    THEN CAST(${sgn32("23")} < 0 AS VARCHAR) END AS top_down,
        |  CASE WHEN is_bmp THEN ${oLeN("29", 2)} END AS bpp
        |FROM p ORDER BY doc_id""".stripMargin
    },
    // q393: syncsafe 7-bit-per-byte size decode + ASCII rebuild.
    "q393_id3_meta" -> {
      def b(pos: Int) = s"('0x' || ${oHx(pos.toString)})::BIGINT"
      val syncsafe = s"(((${b(7)} % 128) * 2097152) + " +
        s"((${b(8)} % 128) * 16384) + ((${b(9)} % 128) * 128) + " +
        s"(${b(10)} % 128))"
      s"""WITH m AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 3 = 0 THEN unhex('$TinyId3Hex')
        |         ELSE encode(text) END AS media
        |  FROM documents),
        |p AS (
        |  SELECT doc_id, upper(hex(media)) AS h,
        |    CAST(octet_length(media) AS BIGINT) AS len,
        |    (substr(upper(hex(media)), 1, 6) = '494433'
        |      AND octet_length(media) >= 10) AS is_id3
        |  FROM m)
        |SELECT doc_id, is_id3,
        |  CASE WHEN is_id3 THEN ${b(4)} END AS ver_major,
        |  CASE WHEN is_id3 THEN $syncsafe END AS tag_size,
        |  CASE WHEN is_id3 AND len >= 20 THEN ${oChr("11", 4)} END
        |    AS frame_id,
        |  CASE WHEN is_id3 AND len >= 20 THEN ${oBeN("15", 4)} END
        |    AS frame_size,
        |  CASE WHEN is_id3 AND len >= 20 AND ${oChr("11", 4)} = 'TIT2'
        |      AND ${oBeN("15", 4)} BETWEEN 2 AND 64
        |    THEN list_aggregate(list_transform(
        |      generate_series(0, CAST(${oBeN("15", 4)} - 2 AS INT)),
        |      j -> chr(('0x' || substr(h, 2 * (22 + j) - 1, 2))::INT)),
        |      'string_agg', '') END AS title
        |FROM p ORDER BY doc_id""".stripMargin
    },
    // q395: q60's sniff CASE re-aggregated to the per-kind card.
    "q395_media_inventory" ->
      s"""WITH m AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 3 = 0 THEN unhex('$TinyPngHex')
        |         WHEN doc_id % 3 = 1 THEN unhex('FFD8FFE0') || encode(text)
        |         ELSE encode(text) END AS media
        |  FROM documents),
        |k AS (
        |  SELECT doc_id,
        |    CAST(octet_length(media) AS BIGINT) AS n_bytes,
        |    CASE WHEN substr(upper(hex(media)), 1, 16) LIKE '89504E47%'
        |        THEN 'png'
        |      WHEN substr(upper(hex(media)), 1, 16) LIKE 'FFD8FF%'
        |        THEN 'jpeg'
        |      WHEN substr(upper(hex(media)), 1, 16) LIKE '47494638%'
        |        THEN 'gif'
        |      WHEN substr(upper(hex(media)), 9, 8) = '66747970'
        |        THEN 'mp4'
        |      WHEN substr(upper(hex(media)), 1, 16) LIKE '494433%'
        |        THEN 'mp3'
        |      WHEN substr(upper(hex(media)), 1, 16) LIKE '52494646%'
        |        THEN 'riff'
        |      ELSE 'unknown' END AS kind
        |  FROM m),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS total FROM k)
        |SELECT kind, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(n_bytes) AS BIGINT) AS total_bytes,
        |  min(n_bytes) AS min_bytes, max(n_bytes) AS max_bytes,
        |  round(count(*) / CAST(total AS DOUBLE), 4) + 0.0 AS share
        |FROM k CROSS JOIN tot
        |GROUP BY kind, total ORDER BY kind""".stripMargin,
    // q284: planted constants — the scene AVI carries lumas
    // (10,12,14,200,198,196), flat frames decode to those exact means,
    // so the single >64 jump sits at frame 4 and every output cell is
    // a deterministic function of the doc_id class.
    "q284_scene_cuts" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 4 = 0 THEN CAST(6 AS BIGINT) END
        |    AS n_frames,
        |  CASE WHEN doc_id % 4 = 0 THEN '4' END AS cut_idx,
        |  CASE WHEN doc_id % 4 = 0 THEN CAST(2 AS INTEGER) END
        |    AS n_scenes
        |FROM documents ORDER BY doc_id""".stripMargin,
    // q246: INDEPENDENT closed-form constants — NOT the engine's own
    // dftMagnitude (an oracle that calls the code under test verifies
    // plumbing, not math). The planted signal is a 480-sample, period-8
    // (4 up / 4 down) ±8192 square at 8000 Hz; for probe bin
    // k = f·480/8000 (exact integers on this grid) the DFT factors
    // over the 60 periods: k not a multiple of 60 sums a full complex
    // rotation → 0; k = 60h with h even cancels; h odd gives
    // |X|/n = A / (4·sin(πh/8)). Round9Spec pins the engine's DFT sum
    // against these same constants.
    "q246_audio_spectrum" -> {
      val n = 480; val period = 8; val amp = 8192.0
      def closed(f: Int): Double = {
        val k = f * n / 8000
        val perBin = n / period
        if (k % perBin != 0 || (k / perBin) % 2 == 0) 0.0
        else amp / (4.0 * math.sin(math.Pi * (k / perBin) / period))
      }
      def m(f: Int): Double = BigDecimal(closed(f))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      val dom = ProbeHz.maxBy(f => (closed(f), f))
      s"""SELECT doc_id,
        |  CASE WHEN doc_id % 3 = 0 THEN CAST(${m(500)} AS DOUBLE) END
        |    AS m500,
        |  CASE WHEN doc_id % 3 = 0 THEN CAST(${m(1000)} AS DOUBLE) END
        |    AS m1000,
        |  CASE WHEN doc_id % 3 = 0 THEN CAST(${m(3000)} AS DOUBLE) END
        |    AS m3000,
        |  CASE WHEN doc_id % 3 = 0 THEN CAST($dom AS INTEGER) END
        |    AS dominant_hz
        |FROM documents ORDER BY doc_id""".stripMargin
    },
    // q208: the engine really decodes PCM via AudioSystem; the oracle
    // states the planted wave's constants from independent Scala
    // arithmetic on the sample vector (waveStats) — null for the
    // text-byte rows no audio reader accepts.
    "q208_audio_features" -> {
      val (rms, zc) = waveStats(squareWave)
      val rmsNorm = BigDecimal(rms / 32768.0)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      s"""SELECT doc_id,
        |  CASE WHEN doc_id % 3 = 0 THEN CAST(8000 AS INTEGER) END
        |    AS sample_rate,
        |  CASE WHEN doc_id % 3 = 0 THEN CAST(480 AS BIGINT) END
        |    AS n_samples,
        |  CASE WHEN doc_id % 3 = 0 THEN CAST(0.06 AS DOUBLE) END
        |    AS duration_s,
        |  CASE WHEN doc_id % 3 = 0 THEN CAST($rmsNorm AS DOUBLE) END
        |    AS rms_norm,
        |  CASE WHEN doc_id % 3 = 0 THEN CAST($zc AS BIGINT) END
        |    AS zero_crossings
        |FROM documents ORDER BY doc_id""".stripMargin
    },
    // q163: the engine really decodes and hashes pixels; the oracle
    // states the per-class hash constants from independent arithmetic
    // on the pattern matrices (patHash) — A and B MUST collide, C and
    // flat must not, corrupt rows drop.
    // q344: expected thumbs from the SAME pure-Scala block-mean
    // arithmetic on the pattern matrices — independent of the ImageIO
    // decode path under test (patHash's discipline). Published as the
    // comma-joined string so the driver's pandas compare can hash it.
    "q344_thumbnail" -> {
      def lits(px: Array[Array[Int]]): String =
        graft.functions.Multimodal.thumbOf(px, 2, 2).mkString(",")
      s"""WITH t AS (
        |  SELECT doc_id,
        |    CASE CAST(doc_id % 5 AS INTEGER)
        |      WHEN 0 THEN '${lits(PatA)}'
        |      WHEN 1 THEN '${lits(PatB)}'
        |      WHEN 2 THEN '${lits(PatC)}'
        |      WHEN 3 THEN '128,128,128,128'
        |      ELSE NULL END AS thumb_csv
        |  FROM documents)
        |SELECT doc_id, CAST(4 AS INTEGER) AS img_w,
        |  CAST(3 AS INTEGER) AS img_h, thumb_csv
        |FROM t WHERE thumb_csv IS NOT NULL ORDER BY doc_id""".stripMargin
    },
    "q163_image_phash" ->
      s"""WITH h AS (
        |  SELECT doc_id,
        |    CASE CAST(doc_id % 5 AS INTEGER)
        |      WHEN 0 THEN CAST(${patHash(PatA)} AS BIGINT)
        |      WHEN 1 THEN CAST(${patHash(PatB)} AS BIGINT)
        |      WHEN 2 THEN CAST(${patHash(PatC)} AS BIGINT)
        |      WHEN 3 THEN CAST(0 AS BIGINT)
        |      ELSE NULL END AS phash
        |  FROM documents),
        |d AS (SELECT doc_id, phash FROM h WHERE phash IS NOT NULL)
        |SELECT doc_id, phash,
        |  min(doc_id) OVER (PARTITION BY phash) AS keeper,
        |  doc_id <> min(doc_id) OVER (PARTITION BY phash) AS is_dup
        |FROM d ORDER BY doc_id""".stripMargin,
    "q60_media_meta" ->
      s"""WITH m AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 3 = 0 THEN unhex('$TinyPngHex')
        |         WHEN doc_id % 3 = 1 THEN unhex('FFD8FFE0') || encode(text)
        |         ELSE encode(text) END AS media
        |  FROM documents)
        |SELECT doc_id,
        | CAST(octet_length(media) AS BIGINT) AS n_bytes,
        | CASE WHEN substr(upper(hex(media)), 1, 16) LIKE '89504E47%' THEN 'png'
        |      WHEN substr(upper(hex(media)), 1, 16) LIKE 'FFD8FF%' THEN 'jpeg'
        |      WHEN substr(upper(hex(media)), 1, 16) LIKE '47494638%' THEN 'gif'
        |      WHEN substr(upper(hex(media)), 9, 8) = '66747970' THEN 'mp4'
        |      WHEN substr(upper(hex(media)), 1, 16) LIKE '494433%' THEN 'mp3'
        |      WHEN substr(upper(hex(media)), 1, 16) LIKE '52494646%' THEN 'riff'
        |      ELSE 'unknown' END AS kind
        |FROM m ORDER BY doc_id""".stripMargin,
    // q381: the chunk walk replayed as a recursive CTE over the same
    // byte offsets — an independent reimplementation, NOT a constant
    // table. DuckDB 1.0 has no BLOB substring, so the walk slices the
    // HEX image (byte o ↔ hex 2o−1), big-endian reads via '0x'||substr
    // cast, type names rebuilt with chr(); the step cap mirrors the
    // engine's 8-iteration fold.
    "q381_png_meta" ->
      s"""WITH RECURSIVE m AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 3 = 0 THEN unhex('$TinyPngHex')
        |         WHEN doc_id % 3 = 1 THEN unhex('FFD8FFE0') || encode(text)
        |         ELSE encode(text) END AS media
        |  FROM documents),
        |p2 AS (
        |  SELECT doc_id, upper(hex(media)) AS h,
        |    CAST(octet_length(media) AS BIGINT) AS n_bytes,
        |    (octet_length(media) >= 8 AND
        |     substr(upper(hex(media)), 1, 16) = '89504E470D0A1A0A')
        |      AS is_png
        |  FROM m),
        |walk AS (
        |  SELECT doc_id, CAST(9 AS BIGINT) AS o, 0 AS step
        |  FROM p2 WHERE is_png
        |  UNION ALL
        |  SELECT w.doc_id,
        |    w.o + 12 + ('0x' || substr(p.h, 2 * w.o - 1, 8))::BIGINT,
        |    w.step + 1
        |  FROM walk w JOIN p2 p USING (doc_id)
        |  WHERE w.o + 8 <= p.n_bytes + 1 AND w.step < 8),
        |chunks AS (
        |  SELECT w.doc_id, w.o,
        |    ('0x' || substr(p.h, 2 * w.o - 1, 8))::BIGINT AS clen,
        |    chr(('0x' || substr(p.h, 2 * (w.o + 4) - 1, 2))::INT) ||
        |    chr(('0x' || substr(p.h, 2 * (w.o + 4) + 1, 2))::INT) ||
        |    chr(('0x' || substr(p.h, 2 * (w.o + 4) + 3, 2))::INT) ||
        |    chr(('0x' || substr(p.h, 2 * (w.o + 4) + 5, 2))::INT)
        |      AS ctype
        |  FROM walk w JOIN p2 p USING (doc_id)
        |  WHERE w.o + 8 <= p.n_bytes + 1 AND w.step < 8),
        |cagg AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
        |    CAST(sum(CASE WHEN ctype = 'IDAT' THEN clen ELSE 0 END)
        |      AS BIGINT) AS idat_bytes,
        |    string_agg(ctype, ',' ORDER BY o) AS chunk_list
        |  FROM chunks GROUP BY doc_id)
        |SELECT p.doc_id, p.n_bytes, p.is_png,
        |  CASE WHEN is_png THEN
        |    ('0x' || substr(h, 33, 8))::BIGINT END AS width,
        |  CASE WHEN is_png THEN
        |    ('0x' || substr(h, 41, 8))::BIGINT END AS height,
        |  CASE WHEN is_png THEN
        |    ('0x' || substr(h, 49, 2))::BIGINT END AS bit_depth,
        |  CASE WHEN is_png THEN
        |    ('0x' || substr(h, 51, 2))::BIGINT END AS color_type,
        |  CASE WHEN is_png THEN coalesce(c.n_chunks, CAST(0 AS BIGINT))
        |    END AS n_chunks,
        |  CASE WHEN is_png THEN coalesce(c.idat_bytes, CAST(0 AS BIGINT))
        |    END AS idat_bytes,
        |  CASE WHEN is_png THEN coalesce(c.chunk_list, '')
        |    END AS chunk_list
        |FROM p2 p LEFT JOIN cagg c USING (doc_id)
        |ORDER BY p.doc_id""".stripMargin,
    // q61: the engine really decodes; the oracle states the known
    // constants of the planted 4×3 grayscale PNG (decode succeeds only
    // there — jpeg-magic-over-text and raw text are rejected by every
    // reader) and replays sampleFrames' window-count arithmetic.
    "q61_media_features" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 3 = 0 THEN CAST(4 AS INTEGER) END AS width,
        |  CASE WHEN doc_id % 3 = 0 THEN CAST(3 AS INTEGER) END AS height,
        |  CASE WHEN doc_id % 3 = 0 THEN CAST(1 AS INTEGER) END AS channels,
        |  CAST(CASE WHEN doc_id % 3 <> 2 THEN 2
        |       WHEN octet_length(encode(text)) = 0 THEN 0
        |       WHEN octet_length(encode(text)) = 1 THEN 1
        |       ELSE 2 END AS BIGINT) AS n_frames,
        |  CASE WHEN doc_id % 3 = 0 THEN CAST(12.0 AS DOUBLE) END AS feat_sum
        |FROM documents ORDER BY doc_id""".stripMargin,
    // q138: the engine really demuxes + decodes; the oracle states the
    // known constants of the planted 6-frame AVI (4×3 frames, flat lumas
    // 0/40/80/120/160/200; sampling picks indices 0,2,4 → 0/80/160) and
    // nulls for the text-byte rows no demuxer accepts.
    "q138_video_frames" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 4 = 0 THEN CAST(4 AS INTEGER) END AS v_width,
        |  CASE WHEN doc_id % 4 = 0 THEN CAST(3 AS INTEGER) END AS v_height,
        |  CASE WHEN doc_id % 4 = 0 THEN CAST(6 AS BIGINT) END AS n_total_frames,
        |  CAST(CASE WHEN doc_id % 4 = 0 THEN 3 ELSE 0 END AS BIGINT) AS n_sampled,
        |  CASE WHEN doc_id % 4 = 0 THEN CAST(0.0 AS DOUBLE) END AS luma_first,
        |  CASE WHEN doc_id % 4 = 0 THEN CAST(80.0 AS DOUBLE) END AS luma_mid,
        |  CASE WHEN doc_id % 4 = 0 THEN CAST(160.0 AS DOUBLE) END AS luma_last
        |FROM documents ORDER BY doc_id""".stripMargin,
  )
}
