package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.QueryModule
import graft.Barrier._
import graft.sources.Tables

/** Similarity search over the `embeddings` table (north-star).
  *
  *  - q40: brute-force cosine top-k — the correctness baseline. Query set
  *    is `vec_id % 100 == 0` (scales with the table, ~1% of rows); each
  *    query scans all vectors. The query side is broadcast, so the big
  *    side never shuffles: plan = scan × broadcast-NL-join → per-query
  *    top-k window. At 1000 executors this is the standard "broadcast the
  *    queries, partition the corpus" exhaustive search.
  *  - q41: LSH-bucketed ANN — the scale path. 16 deterministic random
  *    hyperplanes → 16-bit signature; candidates share a 4-bit band
  *    (4 bands); exact cosine re-rank inside buckets only. Recall vs q40
  *    is asserted in ScalaTest; the driver records a rows-only check
  *    (bucketing is engine-specific).
  *
  * Dot products run as codegen'd higher-order-function folds over
  * array<double>; norms are computed once per side before the join.
  */
object SimilarityQueries extends QueryModule {

  /** Native codegen'd expressions (graft.plans.VectorExpressions): a
    * tight primitive loop instead of the HOF zip_with/aggregate fold —
    * equal results on equal-length vectors (VectorExprSpec pins this; on
    * ragged inputs native folds the shorter prefix while the HOF form
    * null-pads to NULL), ~no per-row allocation. All embeddings here are
    * fixed 64-dim, so the formulations are interchangeable. */
  private def dot(a: Column, b: Column): Column =
    graft.plans.VectorExpressions.dot(a, b)

  private def norm(a: Column): Column =
    graft.plans.VectorExpressions.l2norm(a)

  /** Vectors with embedding cast float→double + precomputed norm. */
  private def vecs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.embeddings(s, dir)
      .select($"vec_id", transform($"embedding", _.cast("double")).as("v"))
      .withColumn("nrm", norm($"v"))
      .filter($"nrm" > 0)
  }

  /** Query-side broadcast budget: ~100k 64-dim double vectors ≈ 50 MB.
    * The query set is 1% of the corpus, so it GROWS with the table — one
    * unbounded broadcast would eventually OOM every executor. Above the
    * budget the queries are modulo-partitioned into fixed-size chunks,
    * each broadcast against one full corpus scan and unioned: exhaustive
    * search costs ⌈|Q|/chunk⌉ corpus scans, the honest price of
    * brute-force at scale (the sub-linear path is q41/q42). */
  private val QueryChunkRows = 100000

  /** Neighbors per query in the exhaustive truth set, and the id
    * modulus that picks the query vectors (every 100th). */
  private val TruthK = 5
  private val QueryMod = 100

  /** All (query, corpus) cosine pairs, chunk-bounded broadcasts. */
  private def scoredPairs(s: SparkSession, dir: String,
      chunkRows: Int): DataFrame = {
    import s.implicits._
    val all = vecs(s, dir)
    val q = all.filter($"vec_id" % QueryMod === 0)
      .select($"vec_id".as("q_id"), $"v".as("qv"), $"nrm".as("qn"))
    val nChunks = math.max(1L,
      (q.count() + chunkRows - 1) / chunkRows).toInt
    // Chunk on a HASH of the id, not the id itself: q_ids are multiples
    // of 100 here, so pmod(q_id, n) degenerates to one giant chunk for
    // any n sharing a factor with 100 (2, 4, 5, 10, ...), silently
    // un-bounding the broadcast this chunking exists to bound.
    (0 until nChunks).map { i =>
      all.join(broadcast(q.filter(pmod(hash($"q_id"), lit(nChunks)) === i)),
          $"vec_id" =!= $"q_id")
        .select($"q_id", $"vec_id",
          (dot($"qv", $"v") / ($"qn" * $"nrm")).as("cos"))
    }.reduce(_.union(_))
  }

  /** Brute-force cosine top-5 neighbors for every 100th vector. */
  def qCosineTopk(s: SparkSession, dir: String): DataFrame =
    cosineTopkWith(s, dir, QueryChunkRows)

  /** The exhaustive top-5 truth set (q_id, vec_id), a run-durable stage
    * (round 15, round-16 verdict #2): five recall harnesses (q128/q256/
    * q265/q373/q383) each paid the n²/100 brute pass independently —
    * the same truth every time (q40's exact tie rule) — and a fresh
    * session/JVM now re-pays a columnar read, not the full exhaustive
    * scan. Staging it is the "materialize the eval truth next to the
    * index" amortization a real offline-recall pipeline applies;
    * q40/q43 keep their own plans because the scan IS the operator
    * under test there. Bump the version on any change to scoredPairs
    * or the tie rule. */
  private def truthTop5(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    DurableStage.get(s, "ann_truth5", 1,
      Seq(s"$dir/embeddings.parquet"), salt = s"k=$TruthK;qmod=$QueryMod") {
      val wT = Window.partitionBy($"q_id")
        .orderBy($"cos".desc, $"vec_id".asc)
      scoredPairs(s, dir, QueryChunkRows)
        .withColumn("rk", row_number().over(wT)).filter($"rk" <= TruthK)
        .select($"q_id", $"vec_id")
    }
  }

  /** Chunk size exposed for the equivalence test (chunking must never
    * change results, only the broadcast plan). */
  private[graft] def cosineTopkWith(s: SparkSession, dir: String,
      chunkRows: Int): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"q_id").orderBy($"cos".desc, $"vec_id".asc)
    scoredPairs(s, dir, chunkRows)
      .withColumn("rk", row_number().over(w)).filter($"rk" <= 5)
      .select($"q_id", $"rk", $"vec_id", (round($"cos", 4) + lit(0.0)).as("cos"))
      .orderBy($"q_id", $"rk")
  }

  /** Deterministic pseudo-random hyperplanes (seeded, 64-dim). 60 =
    * 4 bands × 15-bit cap; Array.fill draws row-major from the one
    * seeded stream, so planes 0-15 are byte-identical to the original
    * fixed-16 pool — the oracle replays embed exactly those 16 and
    * stay valid wherever bandBits(n) = 4 (every oracle-checked
    * scale; Round16Spec pins both facts). */
  private[graft] val planes: Array[Array[Double]] = {
    val rnd = new scala.util.Random(42)
    Array.fill(60, 64)(rnd.nextGaussian())
  }

  /** Target mean band-bucket occupancy for the LSH signature. */
  private val BandTargetOcc = 1250L

  /** Bits per band for a corpus of n vectors: the smallest b ≥ 4 with
    * n ≤ 1250·2^b (integer arithmetic — no float log edge cases),
    * capped at 15 (32 768 buckets/band, enough through ~40M vectors).
    * This is the round-16 scale fix: with FIXED 4-bit bands the
    * per-band candidate volume is Σ|bucket|² ≈ n²/16 — measured to
    * destruction at the 100× decade (graph build: >76 GB spill,
    * ENOSPC, BASELINE note) — while constant occupancy makes it
    * ~n·1250, linear in the corpus. n ≤ 20 000 (every driver gate
    * scale AND the 10× profile corpus) yields exactly 4, so
    * signatures, stages and oracle replays there are byte-identical
    * to the fixed geometry. */
  private[graft] def bandBits(n: Long): Int = {
    var b = 4
    while (b < 15 && n > (BandTargetOcc << b)) b += 1
    b
  }

  private val bandBitsCache =
    new java.util.concurrent.ConcurrentHashMap[String, Integer]
  private def bandBitsFor(s: SparkSession, dir: String): Int =
    bandBitsCache.computeIfAbsent(dir,
      _ => Integer.valueOf(bandBits(vecs(s, dir).count()))).intValue

  /** LSH bands per signature. */
  private val LshBands = 4

  /** The banded LSH index frame shared by q41/q134/q135: one row per
    * (vector, band) with the bandBits(n)-bit band value from the
    * sign-random-projection signature (4 bands; 4 bits — the original
    * fixed geometry — at every oracle-checked scale). */
  private def bandedVecs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val bits = bandBitsFor(s, dir)
    val sigBits = (0 until LshBands * bits).map { p =>
      val plane = array(planes(p).map(lit): _*)
      when(dot($"v", plane) >= 0, lit(1L << p)).otherwise(0L)
    }.reduce(_.bitwiseOR(_))
    val mask = (1L << bits) - 1
    vecs(s, dir).withColumn("sig", sigBits)
      .select($"vec_id", $"v", $"nrm",
        posexplode(array((0 until LshBands).map(b =>
          shiftrightunsigned($"sig", b * bits).bitwiseAND(lit(mask))): _*))
          .as(Seq("band_id", "band_val")))
  }

  /** Band-bucket probe as a union of hash-chunked bounded broadcasts —
    * q40's chunk discipline applied to the LSH family (round-5 verdict
    * #3: the query side is 1% of the corpus × band/probe fan-out, so an
    * unchunked broadcast(q) GROWS WITH THE CORPUS — GBs at 100× scale).
    * Each chunk broadcasts ≤ chunkRows query-band rows; chunking is on
    * hash(q_id) (q_ids are multiples of 100 — pmod on the raw id
    * degenerates, see scoredPairs) and the union of disjoint chunks
    * reproduces the full join row-for-row, so results are invariant
    * (SimilaritySpec pins equivalence across chunk sizes). */
  private def chunkedBandJoin(banded: DataFrame, q: DataFrame,
      chunkRows: Int): DataFrame =
    chunkedBroadcastJoin(banded, q, Seq("band_id", "band_val"), chunkRows)

  /** The general form: equi-join `big` against a union of hash-chunked
    * bounded broadcasts of the query frame (chunked on hash(q_id) —
    * see chunkedBandJoin). Also used by the IVF cell probe, whose query
    * side has the same corpus-proportional growth. */
  private def chunkedBroadcastJoin(big: DataFrame, q: DataFrame,
      keys: Seq[String], chunkRows: Int): DataFrame = {
    // localCheckpoint (eager) materializes the small query frame ONCE
    // and truncates its lineage: without it, the sizing count() and
    // every per-chunk broadcast branch each re-derive q from the full
    // corpus scan — nChunks+1 extra corpus passes per ANN run.
    val qc = q.roundBarrier()
    val nChunks = math.max(1L,
      (qc.count() + chunkRows - 1) / chunkRows).toInt
    (0 until nChunks).map { i =>
      big.join(
        broadcast(qc.filter(
          pmod(hash(col("q_id")), lit(nChunks)) === i)),
        keys)
    }.reduce(_.union(_))
  }

  /** LSH-bucketed approximate top-k: sign-random-projection signature,
    * 4-bit band blocking, exact re-rank within candidate buckets.
    * Query-side broadcast is chunk-bounded (chunkedBandJoin). */
  def qLshAnn(s: SparkSession, dir: String): DataFrame =
    lshAnnWith(s, dir, QueryChunkRows)

  private[graft] def lshAnnWith(s: SparkSession, dir: String,
      chunkRows: Int): DataFrame = {
    import s.implicits._
    val banded = bandedVecs(s, dir)
    val q = banded.filter($"vec_id" % 100 === 0)
      .select($"vec_id".as("q_id"), $"v".as("qv"), $"nrm".as("qn"),
        $"band_id", $"band_val")
    val cand = chunkedBandJoin(banded, q, chunkRows)
      .filter($"vec_id" =!= $"q_id")
      .dropDuplicates("q_id", "vec_id")
    val scored = cand.select($"q_id", $"vec_id",
      (dot($"qv", $"v") / ($"qn" * $"nrm")).as("cos"))
    val w = Window.partitionBy($"q_id").orderBy($"cos".desc, $"vec_id".asc)
    scored.withColumn("rk", row_number().over(w)).filter($"rk" <= 5)
      .select($"q_id", $"rk", $"vec_id", (round($"cos", 4) + lit(0.0)).as("cos"))
      .orderBy($"q_id", $"rk")
  }

  /** Band index AT REST (q143): q41 recomputes the 16 hyperplane dot
    * products per vector on every run — fine for one query batch, wrong
    * for the ANN service shape, where the index is built once at ingest
    * and served to every query batch after. This lands bandedVecs as a
    * BUCKETED table — 8 buckets on (band_id, band_val), sorted within
    * buckets — and probes it with a bucket-co-located self-join: bucket
    * i of the probe side (a filter of the same table, so bucketing is
    * preserved) only ever meets bucket i of the index, and the executed
    * plan shows SortMergeJoin over two bucketed scans with ZERO exchange
    * under the join (PlanSpec pins it). At 100 TB this is the difference
    * between re-signing the corpus per query batch and a pure read; it
    * also makes q112's incremental-append story concrete — new vectors
    * append to the same bucket layout, the index is never rebuilt.
    * Results are identical to q41 (same oracle replay): persistence and
    * co-location change the PLAN, never the answer. */
  def qBandIndexProbe(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val bt = StorageQueries.bucketTableName(dir, "bands")
    StorageQueries.ensureTable(s, bt) {
      bandedVecs(s, dir).write.mode("overwrite")
        .bucketBy(8, "band_id", "band_val")
        .sortBy("band_id", "band_val")
        .saveAsTable(bt)
    }
    val banded = s.table(bt)
    val q = banded.filter($"vec_id" % 100 === 0)
      .select($"vec_id".as("q_id"), $"v".as("qv"), $"nrm".as("qn"),
        $"band_id", $"band_val")
    val cand = banded.hint("merge").join(q, Seq("band_id", "band_val"))
      .filter($"vec_id" =!= $"q_id")
      .dropDuplicates("q_id", "vec_id")
    val scored = cand.select($"q_id", $"vec_id",
      (dot($"qv", $"v") / ($"qn" * $"nrm")).as("cos"))
    val w = Window.partitionBy($"q_id").orderBy($"cos".desc, $"vec_id".asc)
    scored.withColumn("rk", row_number().over(w)).filter($"rk" <= 5)
      .select($"q_id", $"rk", $"vec_id",
        (round($"cos", 4) + lit(0.0)).as("cos"))
      .orderBy($"q_id", $"rk")
  }

  /** Multi-probe LSH (q134): q41's banded index, but each query probes
    * its exact band bucket AND the four one-bit-flip neighbors — the
    * standard recall lever (Lv et al. 2007, "Multi-probe LSH") that
    * trades a bounded candidate-set growth (≤5× per band) for recall
    * the base index can't reach: q128 measures q41's 4×4-bit config at
    * ~0.57 mean recall@5; SimilaritySpec pins that multi-probe strictly
    * improves it on the same corpus. The INDEX is unchanged — only the
    * query side fans out, so this is a read-time knob, not a rebuild:
    * exactly how a production ANN service tunes recall per query class.
    * Candidates still dedupe before the exact re-rank, and the per-band
    * probe count is a constant — never a function of corpus size. */
  def qMultiprobeLsh(s: SparkSession, dir: String): DataFrame =
    multiprobeLshWith(s, dir, QueryChunkRows)

  private[graft] def multiprobeLshWith(s: SparkSession, dir: String,
      chunkRows: Int): DataFrame = {
    import s.implicits._
    val banded = bandedVecs(s, dir)
    val q = banded.filter($"vec_id" % 100 === 0)
      .select($"vec_id".as("q_id"), $"v".as("qv"), $"nrm".as("qn"),
        $"band_id",
        explode(array(Seq(0L, 1L, 2L, 4L, 8L).map(m =>
          $"band_val".bitwiseXOR(lit(m))): _*)).as("band_val"))
    val cand = chunkedBandJoin(banded, q, chunkRows)
      .filter($"vec_id" =!= $"q_id")
      .dropDuplicates("q_id", "vec_id")
    val scored = cand.select($"q_id", $"vec_id",
      (dot($"qv", $"v") / ($"qn" * $"nrm")).as("cos"))
    val w = Window.partitionBy($"q_id").orderBy($"cos".desc, $"vec_id".asc)
    scored.withColumn("rk", row_number().over(w)).filter($"rk" <= 5)
      .select($"q_id", $"rk", $"vec_id",
        (round($"cos", 4) + lit(0.0)).as("cos"))
      .orderBy($"q_id", $"rk")
  }

  /** Probe-cost accounting (q135): per-query CANDIDATE counts for the
    * base index (q41) vs multi-probe (q134) — the cost column next to
    * q128's recall column, which together price the tradeoff q134
    * claims (recall 0.57 → 0.94 for a bounded candidate growth). A
    * production ANN service watches exactly this pair: recall without
    * cost invites silently quintupling the re-rank bill. Counts come
    * from the same band joins the ANN queries run, aggregated before
    * any vector math — no cosine is computed here. Queries whose base
    * bucket is empty still report (coalesce 0; ratio −1 sentinel). */
  def qProbeCost(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val banded = bandedVecs(s, dir).select($"vec_id", $"band_id", $"band_val")
    val qBase = banded.filter($"vec_id" % 100 === 0)
      .select($"vec_id".as("q_id"), $"band_id", $"band_val")
    val qMulti = qBase.select($"q_id", $"band_id",
      explode(array(Seq(0L, 1L, 2L, 4L, 8L).map(m =>
        $"band_val".bitwiseXOR(lit(m))): _*)).as("band_val"))
    def candCount(q: DataFrame, as: String): DataFrame =
      chunkedBandJoin(banded, q, QueryChunkRows)
        .filter($"vec_id" =!= $"q_id")
        .select($"q_id", $"vec_id").distinct()
        .groupBy($"q_id").agg(count(lit(1)).as(as))
    qBase.select($"q_id").distinct()
      .join(candCount(qBase, "n_base"), Seq("q_id"), "left")
      .join(candCount(qMulti, "n_multi"), Seq("q_id"), "left")
      .select($"q_id",
        coalesce($"n_base", lit(0L)).as("n_base"),
        coalesce($"n_multi", lit(0L)).as("n_multi"),
        when(coalesce($"n_base", lit(0L)) === 0, lit(-1.0))
          .otherwise(round($"n_multi" / $"n_base", 4)).as("cost_ratio"))
      .orderBy($"q_id")
  }

  /** IVF coarse-quantizer anchors: deterministic gaussian directions. */
  private val anchors: Array[Array[Double]] = {
    val rnd = new scala.util.Random(7)
    Array.fill(8, 64)(rnd.nextGaussian())
  }

  /** IVF-style ANN: assign every vector to its nearest anchor cell
    * (argmax dot), queries probe their 2 best cells, exact cosine re-rank
    * runs only inside probed cells. The cluster-scale shape: the corpus
    * is partitioned by cell (one shuffle), each query touches 2/8 of the
    * data instead of all of it. q42 uses the fixed gaussian anchors (SQL-
    * replayable oracle); q42b fits real centroids with sampled k-means
    * (kmeansCentroids) — data-derived, so rows-only + recall pinned vs
    * brute force in ScalaTest. */
  def qIvfAnn(s: SparkSession, dir: String): DataFrame =
    ivfWith(s, dir, anchors)

  /** q42b: the honest quantizer — cells follow the data distribution. */
  def qIvfKmeans(s: SparkSession, dir: String): DataFrame =
    ivfWith(s, dir, lloydCentroids(s, dir))

  private val LloydIters = 5
  private val Dim = 64
  private val LloydK = 8

  /** Round to 9 decimals — the cross-engine float contract of the Lloyd
    * fit. The per-dim mean is the ONLY operation whose result depends on
    * distributed accumulation order (Spark partial-merge vs DuckDB's
    * sequential sum differ in the last ulp); snapping means and
    * normalized components to a 1e-9 grid on BOTH engines makes every
    * downstream dot product bit-identical, which is what lets q42b carry
    * a hash-checked oracle. (9 decimals ≫ clustering precision; ulp
    * drift is ~1e-16, so a grid flip needs a true value within 1e-16 of
    * a rounding boundary.) */
  private def rnd9(x: Double): Double =
    BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Normalize to unit length (sequential j-order norm fold, matching
    * the oracle's list_dot_product) and snap to the 1e-9 grid; a
    * zero-norm mean keeps the previous centroid. */
  private def unitRound(v: Array[Double],
      prev: Array[Double]): Array[Double] = {
    var ss = 0.0
    var j = 0
    while (j < v.length) { ss += v(j) * v(j); j += 1 }
    val n = math.sqrt(ss)
    if (n > 0) v.map(x => rnd9(x / n)) else prev
  }

  /** DISTRIBUTED Lloyd iterations for the q42b quantizer (the round-5
    * fix: the previous fit collected a 2 000-vector sample to the
    * driver — the one data-scale-coupled collect in the repo).
    *
    * Seeding: the corpus vec_id range splits into 8 equal integer
    * buckets and each bucket's MINIMUM-vec_id vector seeds one cell —
    * data points spread across the id space (gaussian-anchor seeds
    * measured 0.44 recall@5 at sf0.001; these seeds + 5 iterations
    * measure ≥ 0.7). Pure integer arithmetic, so the oracle replays it
    * exactly; the engine side is a 1-row min/max agg, an 8-row bucket
    * agg, and an 8-row seed fetch — all metadata-scale.
    *
    * Each of the 5 iterations is one full-corpus pass: assignment =
    * argmax dot against 8 broadcast centroid literals (map-only),
    * update = one partial-agg groupBy producing 64 per-cell means — the
    * only driver traffic is the k×(dim+1) aggregate result, 8 rows per
    * iteration, metadata-scale at any corpus size. Deterministic by
    * construction (data-derived but integer-exact seed, fixed
    * iterations, grid-rounded means — see rnd9), so the whole fit
    * replays in the DuckDB oracle as unrolled CTEs and q42b is
    * hash-checked like everything else. Same FAISS-style split as
    * before: fit produces a small artifact, the corpus-side index
    * (ivfWith) stays fully distributed. */
  private[graft] def lloydCentroids(s: SparkSession,
      dir: String): Array[Array[Double]] =
    SessionCache.value(s, "lloyd_centroids", dir)(fitLloyd(s, dir))

  private def fitLloyd(s: SparkSession,
      dir: String): Array[Array[Double]] = {
    import s.implicits._
    val base = vecs(s, dir)
      .select($"vec_id", transform($"v", x => x / $"nrm").as("nv"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val b = base.agg(min($"vec_id").as("lo"), max($"vec_id").as("hi"))
        .head()
      // empty corpus: nothing to fit — fall back to the fixed gaussian
      // anchors (q42's quantizer); ivfWith over zero vectors emits zero
      // rows whatever the cells are (0-row sweep)
      if (b.isNullAt(0)) return anchors.map(_.clone())
      val (lo, hi) = (b.getLong(0), b.getLong(1))
      val span = hi - lo + 1
      // Bucket boundary at floor(b·span/8): an id belongs to bucket b
      // when it is ≥ that boundary, i.e. bkt = ((id-lo)·8 + 7) div span
      // — this reproduces the evenly-spaced floor(i·N/8) seed POSITIONS
      // of the round-4 sampled fit on dense ids (recall@5 is seed-
      // chaotic on this corpus: the ceil-boundary variant, one id off
      // on half the seeds, converges to a 0.44-recall optimum vs 0.80
      // here — measured, same algorithm, 5..20 iters).
      val seedIds = base.select($"vec_id",
          expr(s"((vec_id - ${lo}L) * $LloydK + ${LloydK - 1}) div ${span}L")
            .as("bkt"))
        .groupBy($"bkt").agg(min($"vec_id").as("vid"))
        .orderBy($"vid").collect().map(_.getLong(1))
      var cents: Array[Array[Double]] = base
        .filter($"vec_id".isin(seedIds: _*))
        .orderBy($"vec_id")
        .select($"nv").as[Seq[Double]].collect().map(_.toArray)
      var it = 0
      while (it < LloydIters) {
        val d = array(cents.map(c => dot($"nv", array(c.map(lit): _*))): _*)
        val ranked = array_sort(zip_with(d, transform(d, (_, i) => i),
          (x, i) => struct((-x).as("nd"), i.as("idx"))))
        val cell = element_at(ranked, 1).getField("idx")
        val aggCols = (0 until Dim).map(j =>
          avg(element_at($"nv", j + 1)).as(s"m$j"))
        val rows = base.select(cell.as("cell"), $"nv")
          .groupBy($"cell")
          .agg(aggCols.head, aggCols.tail: _*)
          .collect()
        val byCell = rows.map(r => r.getInt(0) ->
          Array.tabulate(Dim)(j => rnd9(r.getDouble(j + 1)))).toMap
        cents = Array.tabulate(cents.length)(c =>
          byCell.get(c).map(m => unitRound(m, cents(c)))
            .getOrElse(cents(c)))
        it += 1
      }
      cents
    } finally base.unpersist()
  }

  /** Corpus organization stats: every vector assigned to its argmax
    * anchor cell, per-cell population + mean cosine-to-anchor. The
    * aggregate form of the IVF assignment — one shuffle of (cell,
    * partial sums), the plan a 100 TB corpus-profiling job wants. Uses
    * the FIXED anchors so the whole thing (argmax included) replays in
    * the DuckDB oracle. */
  def qClusterStats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d = array(anchors.map(a => dot($"v", array(a.map(lit): _*))): _*)
    val sorted = array_sort(zip_with(d,
      transform(d, (_, i) => i),
      (x, i) => struct((-x).as("nd"), i.as("idx"))))
    // per-cell anchor norms (anchors are NOT unit vectors)
    val aNorms = array(anchors.map(a =>
      lit(math.sqrt(a.map(x => x * x).sum))): _*)
    vecs(s, dir)
      .select($"vec_id", $"nrm",
        element_at(sorted, 1).getField("idx").as("cell"),
        (-element_at(sorted, 1).getField("nd")).as("best_dot"))
      .groupBy($"cell")
      .agg(count(lit(1)).as("n"),
        (round(avg($"best_dot" / ($"nrm" * element_at(aNorms, $"cell" + 1))),
          4) + lit(0.0)).as("avg_cos"))
      .orderBy($"cell")
  }

  /** Simplified silhouette (q355) — Rousseeuw 1987's cluster-quality
    * coefficient in its centroid form (Hruschka et al.'s "simplified
    * silhouette": a(i) = distance to OWN centroid, b(i) = distance to
    * the nearest OTHER centroid — the O(n·k) variant; the classic
    * all-pairs a/b is O(n²) and exactly what a 100 TB pipeline can't
    * run). Distances are cosine distances to the q42/q44 anchor
    * literals, so assignment AND scoring replay verbatim in SQL.
    * s = (b − a)/max(a, b) per vector, quantized to the 1e-6 grid
    * before the per-cell mean (no float accumulates across rows).
    * The q44 profile says how POPULATED each cell is; this says how
    * SEPARATED — the go/no-go audit before trusting IVF cells (q42)
    * or SemDeDup cells (q86) as semantic units. Zero joins: one map
    * pass against 8 broadcast literals + one 8-group aggregate. */
  def qSilhouette(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d = array(anchors.map(a => dot($"v", array(a.map(lit): _*))): _*)
    val sorted = array_sort(zip_with(d,
      transform(d, (_, i) => i),
      (x, i) => struct((-x).as("nd"), i.as("idx"))))
    // anchor norms as Scala-computed double literals (q44's discipline:
    // both engines hold the identical constant)
    val aNorms = array(anchors.map(a =>
      lit(math.sqrt(a.map(x => x * x).sum))): _*)
    val dist = zip_with(d, aNorms,
      (dd, an) => lit(1.0) - dd / ($"nrm" * an))
    val withCell = vecs(s, dir)
      .select($"vec_id",
        element_at(sorted, 1).getField("idx").as("cell"),
        dist.as("dl"))
    val a = element_at($"dl", $"cell" + 1)
    val b = array_min(filter($"dl", (_, i) => i =!= $"cell"))
    val mx = greatest(a, b)
    val sq = floor((b - a) / when(mx =!= 0.0, mx) * 1e6 + 0.5)
      .cast("long")
    withCell.select($"cell", sq.as("sq"))
      .groupBy($"cell")
      .agg(count(lit(1)).as("n"), count($"sq").as("n_scored"),
        sum($"sq").as("ssum"))
      .select($"cell".cast("long").as("cell"), $"n", $"n_scored",
        (round($"ssum".cast("double") /
          when($"n_scored" > 0L, $"n_scored") / 1e6, 4) + lit(0.0))
          .as("mean_silhouette"))
      .orderBy($"cell")
  }

  /** q361's target sample size. */
  private val CoresetM = 64

  /** Sensitivity-sampled coreset (q361) — the Bachem/Feldman/Krause
    * lightweight-coreset recipe: sample each point with probability
    * ∝ its SENSITIVITY (here the cosine distance to its nearest
    * anchor — points a quantizer already represents well are cheap to
    * drop, outliers must survive) and carry the inverse-probability
    * weight 1/(m·p_i), so any weighted sum over the coreset is an
    * unbiased estimate of the full-corpus sum — the construction that
    * lets k-means/quantizer refits run on 64 rows instead of the
    * corpus. Published per cell: population, kept count, and the
    * weighted population estimate (the unbiasedness self-check —
    * E[est] = n per cell). Determinism: sensitivities quantize to
    * 1e-6-grid longs (exact Σ), the keep draw is an md5-uniform on a
    * 2⁻²⁴ grid, and the weight quantizes to 1e-6 — both engines
    * compare/sum exact integers everywhere. One map pass + one
    * 8-group aggregate; zero joins. */
  def qCoresetSample(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d = array(anchors.map(a => dot($"v", array(a.map(lit): _*))): _*)
    val sorted = array_sort(zip_with(d,
      transform(d, (_, i) => i),
      (x, i) => struct((-x).as("nd"), i.as("idx"))))
    val aNorms = array(anchors.map(a =>
      lit(math.sqrt(a.map(x => x * x).sum))): _*)
    val base = vecs(s, dir).select($"vec_id", $"nrm",
      element_at(sorted, 1).getField("idx").as("cell"),
      (-element_at(sorted, 1).getField("nd")).as("best_dot"))
    val sens = base.select($"vec_id", $"cell",
      floor((lit(1.0) - $"best_dot" /
        ($"nrm" * element_at(aNorms, $"cell" + 1))) * 1e6 + 0.5)
        .cast("long").as("sm"))
    val tot = sens.agg(sum($"sm").as("stot"))
    val dec = sens.crossJoin(broadcast(tot))
      .withColumn("u",
        conv(substring(md5(concat(lit("cs:"),
          $"vec_id".cast("string"))), 1, 6), 16, 10).cast("double")
          / lit(16777216.0))
      .withColumn("thr",
        lit(CoresetM) * $"sm".cast("double") /
          when($"stot" > 0L, $"stot"))
      // coalesce: an all-zero-sensitivity corpus gives NULL thresholds
      // (stot = 0) — keep NOTHING on both engines, never a NULL kept
      .withColumn("kept", coalesce($"u" < $"thr", lit(false)))
    dec.groupBy($"cell")
      .agg(count(lit(1)).as("n"),
        sum($"kept".cast("long")).as("n_kept"),
        // inverse-probability mass, 1e-6-quantized; thr > 0 whenever
        // kept (u ≥ 0 can never beat a zero threshold), so the guard
        // only shields the never-taken branch from ANSI /0
        sum(when($"kept",
          floor(lit(1.0) / when($"thr" > 0.0, $"thr") * 1e6 + 0.5)
            .cast("long")).otherwise(0L)).as("wm"))
      .select($"cell".cast("long").as("cell"), $"n", $"n_kept",
        (round($"wm" / 1e6, 4) + lit(0.0)).as("est_n"))
      .orderBy($"cell")
  }

  /** q360's selection size. */
  private val FlK = 3

  /** Greedy facility-location selection (q360) — Lin & Bilmes 2011's
    * submodular data-subset objective F(S) = Σ_j max_{c∈S} sim(j, c),
    * maximized by the classic (1−1/e)-greedy: the representative-
    * subset selector behind coreset/exemplar curation (pick the k
    * documents that best "cover" the corpus in embedding space).
    * Candidate pool = the 8 per-cell representatives (min vec_id per
    * q42 anchor cell — one exemplar per region), ground set = every
    * vector; sim = cosine clamped at 0, quantized to 1e-6-grid longs
    * so every gain sum and every coverage sum is an exact integer
    * (greedy argmax can never ride float dust). Scale shape: per round
    * ONE corpus pass against a ≤ 8-row broadcast (gains) + one 1-row
    * argmax + one corpus update of the running best-sim column —
    * 3 rounds, no driver collect, state = one long per row. The
    * oracle unrolls the 3 rounds as CTEs. */
  def qFacilityLocation(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d = array(anchors.map(a => dot($"v", array(a.map(lit): _*))): _*)
    val sorted = array_sort(zip_with(d,
      transform(d, (_, i) => i),
      (x, i) => struct((-x).as("nd"), i.as("idx"))))
    val withCell = vecs(s, dir)
      .select($"vec_id",
        transform($"v", x => x / $"nrm").as("nv"),
        element_at(sorted, 1).getField("idx").as("cell"))
      .roundBarrier()
    // one exemplar per cell: the min-vec_id row (integer-exact pick)
    val repIds = withCell.groupBy($"cell")
      .agg(min($"vec_id").as("cand_id"))
    val reps = repIds.join(
        withCell.select($"vec_id".as("cand_id"), $"nv".as("cnv")),
        "cand_id")
      .select($"cand_id", $"cnv").roundBarrier()
    def smq(nv: Column, cnv: Column): Column =
      floor(greatest(dot(nv, cnv), lit(0.0)) * 1e6 + 0.5).cast("long")
    var corpus = withCell.select($"vec_id", $"nv")
      .withColumn("best", lit(0L))
    var pool = reps
    var out: DataFrame = null
    for (r <- 1 to FlK) {
      val gains = corpus.crossJoin(broadcast(pool))
        .select($"cand_id",
          greatest(smq($"nv", $"cnv") - $"best", lit(0L)).as("g"))
        .groupBy($"cand_id").agg(sum($"g").as("gain"))
      val pick = gains
        .withColumn("rk", row_number().over(
          Window.orderBy($"gain".desc, $"cand_id".asc)))
        .filter($"rk" <= 1).select($"cand_id", $"gain")
        .join(pool, "cand_id").roundBarrier()
      corpus = corpus.crossJoin(broadcast(pick))
        .select($"vec_id", $"nv",
          greatest($"best", smq($"nv", $"cnv")).as("best"))
        .roundBarrier()
      val cov = corpus.agg(sum($"best").as("covsum"),
        count(lit(1)).as("nvec"))
      val row = pick.crossJoin(broadcast(cov))
        .select(lit(r).cast("long").as("round"),
          $"cand_id", ($"gain" / 1e6).as("gain"),
          (round($"covsum".cast("double") /
            when($"nvec" > 0L, $"nvec") / 1e6, 4) + lit(0.0))
            .as("mean_coverage"))
      out = if (out == null) row else out.unionAll(row)
      pool = pool.join(pick.select($"cand_id"), Seq("cand_id"),
        "left_anti").roundBarrier()
    }
    out.orderBy($"round")
  }

  /** q321's mixture weights — the three λ points MAUVE's divergence
    * frontier is usually summarized at; exact two-decimal doubles so
    * both engines hold identical literals. */
  private val MauveLambdas = Seq(0.25, 0.5, 0.75)

  /** MAUVE-style cluster-histogram divergence (q321) — the Pillutla et
    * al. 2021 recipe at corpus scale: quantize BOTH distributions
    * (side P = even embedding labels, side Q = odd — the two-corpora
    * comparison slot) onto the shared IVF anchor cells, then score the
    * histogram pair by the mixture KLs KL(P‖λP+(1−λ)Q) and
    * KL(Q‖λP+(1−λ)Q) at three λ — the divergence-frontier summary
    * that detects BOTH mode dropping (Q missing P's cells) and mode
    * invention (Q mass where P has none), which single-number
    * overlap metrics (q267) conflate. Scale shape: one assignment map
    * pass (argmax dot against 8 broadcast anchor literals — q44's
    * expression), ONE 8-cell histogram aggregate, and all divergence
    * arithmetic on the cell-sorted in-row array (q313's
    * order-deterministic fold; zero-mass cells contribute exactly 0
    * by the guard, and mixtures are strictly positive wherever the
    * numerator is). ln enters only the final scalar terms (the
    * q292/q308 accepted class). */
  def qMauveProxy(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d = array(anchors.map(a => dot($"v", array(a.map(lit): _*))): _*)
    val sorted = array_sort(zip_with(d,
      transform(d, (_, i) => i),
      (x, i) => struct((-x).as("nd"), i.as("idx"))))
    val asg = Tables.embeddings(s, dir)
      .select($"label",
        transform($"embedding", _.cast("double")).as("v"))
      .withColumn("nrm", norm($"v")).filter($"nrm" > 0)
      .select(($"label" % 2 === 0).as("is_p"),
        element_at(sorted, 1).getField("idx").as("cell"))
    val hist = asg.groupBy($"cell").agg(
      sum(when($"is_p", 1L).otherwise(0L)).as("np"),
      sum(when(!$"is_p", 1L).otherwise(0L)).as("nq"))
    val tot = hist.agg(sum($"np").as("tp"), sum($"nq").as("tq"))
    // λ rides as a COLUMN over the ONE collected cell array (a 3-row
    // explode of exact binary fractions — 1−λ is exact too), so the
    // assignment pass over the embeddings runs once, not once per λ
    // an empty side (all labels in one parity — the 1-vector corpus)
    // has no distribution to compare: its shares go NULL via the
    // nullif'd total (DuckDB's /0), and both KLs publish NULL
    val cs = hist.crossJoin(broadcast(tot))
      .select(struct($"cell",
        ($"np" / when($"tp" =!= 0L, $"tp".cast("double"))).as("p"),
        ($"nq" / when($"tq" =!= 0L, $"tq".cast("double"))).as("q"))
        .as("c"))
      .agg(array_sort(collect_list($"c")).as("cs"))
    cs.select($"cs",
        explode(array(MauveLambdas.map(lit(_)): _*)).as("lambda"))
      .select($"lambda",
        (floor(expr(
          """aggregate(cs, 0.0d, (a, c) -> a + if(c.p > 0.0d,
            |  c.p * ln(c.p / (lambda * c.p + (1.0d - lambda) * c.q)),
            |  0.0d))""".stripMargin) * 1e4 + 0.5) / 1e4).as("kl_p_m"),
        (floor(expr(
          """aggregate(cs, 0.0d, (a, c) -> a + if(c.q > 0.0d,
            |  c.q * ln(c.q / (lambda * c.p + (1.0d - lambda) * c.q)),
            |  0.0d))""".stripMargin) * 1e4 + 0.5) / 1e4).as("kl_q_m"))
      .orderBy($"lambda")
  }

  /** IVF shard capacity plan (q235) — the serving-infrastructure read
    * on q44's cell statistics: per IVF cell the shard count needed at
    * a 50-vector target shard size (⌈n/50⌉), the mean fill of those
    * shards, and the cell's share of the corpus — the imbalance table
    * that decides whether the ANN index (q42/q161) can map cells to
    * servers directly or needs cell splitting first (a cell holding
    * 40% of vectors = one hot replica at query time; the q9/q74 skew
    * story at the serving layer). All arithmetic on the 8-row cell
    * frame after the one assignment pass; exact integers except the
    * two presentation ratios. */
  def qShardPlan(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d = array(anchors.map(a => dot($"v", array(a.map(lit): _*))): _*)
    val sorted = array_sort(zip_with(d,
      transform(d, (_, i) => i),
      (x, i) => struct((-x).as("nd"), i.as("idx"))))
    val cells = vecs(s, dir)
      .select($"vec_id", element_at(sorted, 1).getField("idx").as("cell"))
      .groupBy($"cell").agg(count(lit(1)).as("n"))
    val tot = cells.agg(sum($"n").cast("double").as("n_total"))
    cells.crossJoin(broadcast(tot))
      .select($"cell", $"n",
        (($"n" + 49L) / 50L).cast("long").as("n_shards"),
        round($"n".cast("double") /
          (($"n" + 49L) / 50L).cast("long"), 4).as("mean_fill"),
        round($"n" / $"n_total", 4).as("corpus_share"))
      .orderBy($"cell")
  }

  /** SemDeDup (q86): embedding-space semantic dedup — cluster the
    * corpus, then prune pairwise ONLY within each cluster: a vector is
    * dropped when an earlier (lower vec_id) vector in its cell sits
    * above cosine τ (Abbas et al. 2023, "SemDeDup: Data-efficient
    * learning at web-scale through semantic deduplication" — k-means
    * cells + intra-cell cosine pruning). Here cells come from the FIXED
    * gaussian anchors so the whole pipeline, assignment included,
    * replays in the DuckDB oracle; the honest data-fitted quantizer is
    * q42b's sampled k-means, one argument away. The cluster bound is
    * the scale contract: pairwise cost is Σ|cell|² and k grows with the
    * corpus to keep cells bounded — never all-pairs. τ = 0.3 ≈ this
    * corpus' 99.9th-percentile pair cosine (q34's calibration). Output:
    * every nonzero vector with its cell, keep verdict, and keeper id
    * (-1 when kept — a sentinel, not null, so the hash compare never
    * rides on engine null/NaN conventions). */
  def qSemDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val Tau = 0.3
    val d = array(anchors.map(a => dot($"v", array(a.map(lit): _*))): _*)
    val sorted = array_sort(zip_with(d, transform(d, (_, i) => i),
      (x, i) => struct((-x).as("nd"), i.as("idx"))))
    val base = vecs(s, dir)
      .select($"vec_id", $"v", $"nrm",
        element_at(sorted, 1).getField("idx").as("cell"))
    val x = base.select($"vec_id", $"cell", $"v".as("xv"), $"nrm".as("xn"))
    val y = base.select($"vec_id".as("y_id"), $"cell", $"v".as("yv"),
      $"nrm".as("yn"))
    val dups = x.join(y, Seq("cell"))
      .filter($"y_id" < $"vec_id")
      .filter(dot($"xv", $"yv") / ($"xn" * $"yn") >= Tau)
      .groupBy($"vec_id")
      .agg(min($"y_id").as("dup_of"))
    base.select($"vec_id", $"cell")
      .join(dups, Seq("vec_id"), "left")
      .select($"vec_id", $"cell", $"dup_of".isNull.as("keep"),
        coalesce($"dup_of", lit(-1L)).as("dup_of"))
      .orderBy($"vec_id")
  }

  /** SemDeDup keeper-policy audit (q372) — q86 × q113: q86 keeps the
    * LOWEST vec_id of each near-duplicate group (the arbitrary-but-
    * deterministic policy every hash-dedup inherits); this measures
    * what that policy COSTS against the quality-aware alternative
    * (keep the longest document — q113's keeper-policy family, applied
    * to the semantic clusters instead of the CC clusters). Groups are
    * q86's pairwise-parent sets: keeper g plus every vector whose
    * dup_of = g (NOT transitive closure — exactly the set q86's policy
    * actually adjudicates). Per group the longest-doc keeper
    * (n_chars desc, vec_id asc — exact-integer tie rule) is compared
    * with g: published are group count, how many groups would change
    * keeper, both policies' kept-char mass and the mean per-group gain
    * — the number that says whether re-keeping is worth a backfill.
    * Scale: groups come from the intra-cell dup frame (never
    * all-pairs), the argmax window partitions BY GROUP, and the doc
    * join is id-equi. */
  def qSemdedupKeepers(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val Tau = 0.3
    val d = array(anchors.map(a => dot($"v", array(a.map(lit): _*))): _*)
    val sorted = array_sort(zip_with(d, transform(d, (_, i) => i),
      (x, i) => struct((-x).as("nd"), i.as("idx"))))
    val base = vecs(s, dir)
      .select($"vec_id", $"v", $"nrm",
        element_at(sorted, 1).getField("idx").as("cell"))
    val x = base.select($"vec_id", $"cell", $"v".as("xv"), $"nrm".as("xn"))
    val y = base.select($"vec_id".as("y_id"), $"cell", $"v".as("yv"),
      $"nrm".as("yn"))
    val dups = x.join(y, Seq("cell"))
      .filter($"y_id" < $"vec_id")
      .filter(dot($"xv", $"yv") / ($"xn" * $"yn") >= Tau)
      .groupBy($"vec_id")
      .agg(min($"y_id").as("g"))
    val members = dups.select($"g", $"vec_id")
      .unionByName(dups.select($"g").distinct()
        .select($"g", $"g".as("vec_id")))
    val chars = Tables.documents(s, dir)
      .select($"doc_id".as("vec_id"), $"n_chars")
    val w = Window.partitionBy($"g")
      .orderBy($"n_chars".desc, $"vec_id".asc)
    val pick = members.join(chars, Seq("vec_id"))
      .withColumn("rk", row_number().over(w)).filter($"rk" === 1)
      .select($"g", $"vec_id".as("keep_long"),
        $"n_chars".as("long_chars"))
    pick.join(chars.select($"vec_id".as("g"),
        $"n_chars".as("min_chars")), Seq("g"))
      .agg(count(lit(1)).as("n_groups"),
        coalesce(sum(when($"keep_long" =!= $"g", 1L).otherwise(0L)),
          lit(0L)).as("n_moved"),
        coalesce(sum($"min_chars"), lit(0L)).as("minid_chars"),
        coalesce(sum($"long_chars"), lit(0L)).as("longest_chars"))
      .select($"n_groups", $"n_moved", $"minid_chars",
        $"longest_chars",
        (round(($"longest_chars" - $"minid_chars").cast("double")
          / when($"n_groups" > 0L, $"n_groups"), 4) + lit(0.0))
          .as("mean_gain_chars"))
  }

  /** ANN build-cost / recall frontier (q373) — the table that
    * completes the q128/q134/q135/q256 story: ONE comparison card
    * across index families, each row a config with its BUILD cost
    * (index entries materialized at rest), probe cost (mean candidates
    * per query over the full query spine — zero-candidate queries
    * count, unlike q256's matched-only mean) and recall@5 against the
    * exhaustive truth. brute = the ceiling row (recall 1 at n−1
    * candidates); lsh / lsh_multiprobe share one 4-band index (4n
    * entries) and differ only in probe fan-out; ivf_p2 pays n
    * assignment entries and probes 2 of 8 cells. This is the artifact
    * an index choice is made FROM at 100 TB: recall per candidate
    * scanned, next to what the index costs to build. All counts are
    * exact integers; the two published ratios quantize on the 1e-4
    * grid with the identical floor(x·1e4+0.5) spelling both engines.
    * Driver traffic is five scalar counts (metadata-scale). */
  def qAnnFrontier(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val all = vecs(s, dir)
    // one aggregate pass for both spine counts (was two count() jobs)
    val cnts = all.agg(count(lit(1)),
      count(when($"vec_id" % 100 === 0, lit(1)))).head
    val n = cnts.getLong(0)
    val nQ = cnts.getLong(1)
    val truth = truthTop5(s, dir)
    def r4(x: Double): Double = math.floor(x * 1e4 + 0.5) / 1e4
    def recall(approx: DataFrame): Double =
      if (nQ == 0L) 0.0
      else {
        val hits = truth.join(approx.select($"q_id", $"vec_id"),
          Seq("q_id", "vec_id"), "left_semi").count()
        r4(hits.toDouble / (5L * nQ))
      }
    def meanCand(total: Long): Double =
      if (nQ == 0L) 0.0 else r4(total.toDouble / nQ)
    // Round-16 optimization (guide §1.2/§2.4): each index family's
    // candidate set used to be generated TWICE — once vector-free for
    // the candidate count, once with vectors for the recall rerank —
    // i.e. two band-join passes over the corpus per family (four at
    // 100 TB = four corpus scans). Now ONE deduped scored candidate
    // frame per family is materialized behind a barrier and both the
    // count and the top-5 recall derive from it. dropDuplicates on
    // (q_id, vec_id) keeps cos well-defined: duplicates only differ in
    // the band that produced them, never in the vectors. Results are
    // value-identical (same candidate set, same tie rule); the oracle
    // replay is unchanged.
    val banded = bandedVecs(s, dir)
    val qBase = banded.filter($"vec_id" % 100 === 0)
      .select($"vec_id".as("q_id"), $"v".as("qv"), $"nrm".as("qn"),
        $"band_id", $"band_val")
    val qMulti = qBase.select($"q_id", $"qv", $"qn", $"band_id",
      explode(array(Seq(0L, 1L, 2L, 4L, 8L).map(m =>
        $"band_val".bitwiseXOR(lit(m))): _*)).as("band_val"))
    def scoredCand(q: DataFrame): DataFrame =
      chunkedBandJoin(banded, q, QueryChunkRows)
        .filter($"vec_id" =!= $"q_id")
        .dropDuplicates("q_id", "vec_id")
        .select($"q_id", $"vec_id",
          (dot($"qv", $"v") / ($"qn" * $"nrm")).as("cos"))
        .roundBarrier()
    def top5(scored: DataFrame): DataFrame = {
      val w = Window.partitionBy($"q_id")
        .orderBy($"cos".desc, $"vec_id".asc)
      scored.withColumn("rk", row_number().over(w)).filter($"rk" <= 5)
        .select($"q_id", $"vec_id")
    }
    val lshScored = scoredCand(qBase)
    val lshCand = lshScored.count()
    val multiScored = scoredCand(qMulti)
    val multiCand = multiScored.count()
    // ivf nprobe-2 candidates: Σ over the query's 2 probed (distinct)
    // cells of that cell's population, minus the query itself (its own
    // cell is always probe #1). The cell assignment is materialized
    // once and shared with the recall rerank below (was: recomputed
    // from scratch inside qIvfAnn).
    val d = array(anchors.map(a => dot($"v", array(a.map(lit): _*))): _*)
    val ranked = array_sort(zip_with(d, transform(d, (_, i) => i),
      (x, i) => struct((-x).as("nd"), i.as("idx"))))
    val withCells = all.withColumn("cells",
      transform(ranked, r => r.getField("idx"))).roundBarrier()
    val cellCnt = withCells
      .select($"vec_id", element_at($"cells", 1).as("cell"))
      .groupBy($"cell").agg(count(lit(1)).as("cn"))
    val ivfCand = withCells.filter($"vec_id" % 100 === 0)
      .select($"vec_id".as("q_id"), explode(slice($"cells", 1, 2))
        .as("cell"))
      .join(cellCnt, Seq("cell"))
      .agg(coalesce(sum($"cn"), lit(0L))).head.getLong(0) - nQ
    // IVF recall path — ivfWith's exact pipeline over the shared cell
    // assignment (only q_id/vec_id of the top-5 are consumed).
    val ivfCorpus = withCells
      .select($"vec_id", $"v", $"nrm", element_at($"cells", 1).as("cell"))
    val ivfQueries = withCells.filter($"vec_id" % 100 === 0)
      .select($"vec_id".as("q_id"), $"v".as("qv"), $"nrm".as("qn"),
        explode(slice($"cells", 1, 2)).as("cell"))
    val ivfScored = chunkedBroadcastJoin(ivfCorpus, ivfQueries,
        Seq("cell"), QueryChunkRows)
      .filter($"vec_id" =!= $"q_id")
      .select($"q_id", $"vec_id",
        (dot($"qv", $"v") / ($"qn" * $"nrm")).as("cos"))
      .dropDuplicates("q_id", "vec_id")
    // brute retrieves the truth itself; on a tiny corpus truth can
    // hold < 5 rows per query, so its recall is |truth|/(5·nQ), not a
    // hardcoded 1
    val bruteRecall =
      if (nQ == 0L) 0.0 else r4(truth.count().toDouble / (5L * nQ))
    // graph row (round 15): index cost = edge count at rest; probe
    // cost = every (q, v) the beam search actually scored
    val (gVisited, gTop) = graphBeamParts(s, dir)
    val gEdges = stagedGraphEdges(s, dir).count()
    val gCand = gVisited.count()
    Seq(
      ("brute", n, meanCand(math.max(n - 1, 0L) * nQ), bruteRecall),
      ("graph_beam", gEdges, meanCand(gCand), recall(gTop)),
      ("ivf_p2", n, meanCand(math.max(ivfCand, 0L)),
        recall(top5(ivfScored))),
      ("lsh", 4L * n, meanCand(lshCand), recall(top5(lshScored))),
      ("lsh_multiprobe", 4L * n, meanCand(multiCand),
        recall(top5(multiScored))))
      .toDF("method", "index_rows", "mean_candidates", "recall_at5")
      .orderBy($"method")
  }

  /** Graph-ANN config (q379): out-degree of the neighbor graph, beam
    * width, and greedy hops. Fixed small constants — index degree and
    * probe work NEVER scale with the corpus, which is the entire
    * point of the graph family. */
  private val GraphDeg = 8
  private val GraphBeam = 12
  private val GraphHops = 4

  /** The graph edge frame, a durable stage (round-16 verdict #2):
    * q379/q383/q384/q386/q387 all ride this build, and before this a
    * fresh session/JVM re-paid the ~6 s LSH-candidate + top-degree +
    * symmetrize chain per consumer family. Bump the version on any
    * change to buildGraphEdges, bandedVecs, or the plane seeds. */
  private def stagedGraphEdges(s: SparkSession, dir: String): DataFrame =
    DurableStage.get(s, "graph_edges", 1,
      Seq(s"$dir/embeddings.parquet"),
      salt = s"deg=$GraphDeg;bands=$LshBands;bits=${bandBitsFor(s, dir)}")(
      buildGraphEdges(s, dir))

  /** The bounded-degree neighbor graph (q379's index at rest): per
    * vector its top-GraphDeg cosine neighbors among its LSH band
    * candidates (bucketed candidate generation — NEVER all-pairs,
    * the same q32/q41 scale contract), symmetrized so greedy search
    * can traverse against the edge direction (the NSW/HNSW trick —
    * Malkov & Yashunin 2018 keep bidirectional links for exactly
    * this). Build cost is the LSH verify class; the edge list is
    * ≤ 2·GraphDeg·n rows at rest.
    *
    * SCALE LAW (measured at the 100× decade, BASELINE round-16 note):
    * the 16-plane / 4-band geometry is FIXED, so per-band candidate
    * volume is Σ|bucket|² ≈ n²/16 — fine at 10× (~10⁸ pairs, 52.8 s),
    * hash-agg-spill class at 100× (~10¹⁰). The probe path stays
    * corpus-independent; the build's honest scale path is bits-per-
    * band ∝ log₂(n) (constant bucket occupancy, the q143 knob) —
    * deferred because the five graph-family oracles replay the
    * 16-plane constants literally. */
  private def buildGraphEdges(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val banded = bandedVecs(s, dir)
    val x = banded.select($"vec_id".as("src"), $"v".as("sv"),
      $"nrm".as("sn"), $"band_id", $"band_val")
    val y = banded.select($"vec_id".as("dst"), $"v".as("dv"),
      $"nrm".as("dn"), $"band_id", $"band_val")
    val cand = x.join(y, Seq("band_id", "band_val"))
      .filter($"src" =!= $"dst")
      .select($"src", $"dst",
        (dot($"sv", $"dv") / ($"sn" * $"dn")).as("cos"))
      .dropDuplicates("src", "dst")
    val w = Window.partitionBy($"src").orderBy($"cos".desc, $"dst".asc)
    val out = cand.withColumn("rk", row_number().over(w))
      .filter($"rk" <= GraphDeg).select($"src", $"dst")
    out.union(out.select($"dst".as("src"), $"src".as("dst"))).distinct()
  }

  /** Greedy beam search over the neighbor graph: entry points are the
    * MIN-ID co-bucket vector per (query, band) — four cheap
    * navigation entries, NOT a bucket scan (DiskANN enters at a
    * medoid; the LSH bucket min-id is the deterministic,
    * SQL-replayable analogue) — then GraphHops rounds of expand-
    * score-prune at beam width GraphBeam. Every scored (q, v) lands
    * in `visited`, so candidate accounting is exact. Returns
    * (visited, per-query top-5). */
  /** The beam search's per-hop visited frames (index k = state after
    * k expansion rounds; last = the full search) — q379 consumes the
    * last, q383's hop sweep consumes all of them. */
  private def graphBeamStages(s: SparkSession, dir: String)
      : Seq[DataFrame] =
    graphBeamStagesOn(s, dir,
      stagedGraphEdges(s, dir), "staged")

  /** Beam search over a caller-supplied edge frame — the session-
    * staged build (q379/q383) and the persisted at-rest table (q386)
    * share every probe-side step, so persistence can change the READ
    * path, never the answer. */
  /** Round-16 optimization: the beam search is (a) built ONCE per
    * (session, dir, edge source) — q373/q379/q383 used to each re-run
    * the full seeds + 4-hop expand-score loop (~10 jobs each) for the
    * SAME visited set — and (b) hop-incremental: new candidates are
    * anti-joined against the visited set and only the FRESH ones are
    * scored and appended, where the old loop re-unioned and re-deduped
    * the whole visited frame every hop (a shuffle of all prior rows
    * per hop — at scale that's O(hops²) re-movement of the same
    * pairs). The hop-k stage is recovered as filter(first_hop ≤ k):
    * visited grows monotonically, and duplicates between hops carry
    * bit-identical cos (same vectors, same expression), so the sets —
    * and every downstream beam/top-5 under the (cos desc, vec_id asc)
    * tie rule — are unchanged row-for-row (Round15Spec pins q379/q386
    * equality; the DuckDB replays are untouched). */
  private def beamVisited(s: SparkSession, dir: String, tag: String,
      edges: => DataFrame): DataFrame =
    SessionCache.get(s, "beam_visited", s"$dir#$tag")(
      buildBeamVisited(s, dir, edges))

  private def buildBeamVisited(s: SparkSession, dir: String,
      edges: DataFrame): DataFrame = {
    import s.implicits._
    val all = vecs(s, dir)
    val qs = all.filter($"vec_id" % 100 === 0)
      .select($"vec_id".as("q_id"), $"v".as("qv"), $"nrm".as("qn"))
    val bandedIdx = bandedVecs(s, dir)
      .select($"vec_id", $"band_id", $"band_val")
    val qb = bandedIdx.filter($"vec_id" % 100 === 0)
      .select($"vec_id".as("q_id"), $"band_id", $"band_val")
    val seeds = chunkedBroadcastJoin(bandedIdx, qb,
        Seq("band_id", "band_val"), QueryChunkRows)
      .filter($"vec_id" =!= $"q_id")
      .groupBy($"q_id", $"band_id").agg(min($"vec_id").as("vec_id"))
      .select($"q_id", $"vec_id").distinct()
    def score(cand: DataFrame): DataFrame =
      cand.join(all.select($"vec_id", $"v", $"nrm"), Seq("vec_id"))
        .join(qs, Seq("q_id"))
        .select($"q_id", $"vec_id",
          (dot($"qv", $"v") / ($"qn" * $"nrm")).as("cos"))
    val wB = Window.partitionBy($"q_id").orderBy($"cos".desc, $"vec_id".asc)
    var visited = score(seeds).withColumn("first_hop", lit(0))
      .roundBarrier()
    var beam = visited.withColumn("rk", row_number().over(wB))
      .filter($"rk" <= GraphBeam).drop("rk")
    for (h <- 1 to GraphHops) {
      val nb = beam.select($"q_id", $"vec_id".as("src"))
        .join(edges, Seq("src"))
        .select($"q_id", $"dst".as("vec_id"))
        .filter($"vec_id" =!= $"q_id")
        .distinct()
      val fresh = nb.join(visited.select($"q_id", $"vec_id"),
        Seq("q_id", "vec_id"), "left_anti")
      visited = visited
        .unionByName(score(fresh).withColumn("first_hop", lit(h)))
        .roundBarrier()
      beam = visited.withColumn("rk", row_number().over(wB))
        .filter($"rk" <= GraphBeam).drop("rk")
    }
    visited
  }

  private def graphBeamStagesOn(s: SparkSession, dir: String,
      edges: DataFrame, tag: String): Seq[DataFrame] = {
    import s.implicits._
    val vis = beamVisited(s, dir, tag, edges)
    (0 to GraphHops).map(k =>
      vis.filter($"first_hop" <= k).drop("first_hop"))
  }

  private def graphBeamParts(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    import s.implicits._
    val visited = graphBeamStages(s, dir).last
    val wB = Window.partitionBy($"q_id").orderBy($"cos".desc, $"vec_id".asc)
    val top5 = visited.withColumn("rk", row_number().over(wB))
      .filter($"rk" <= 5)
      .select($"q_id", $"rk", $"vec_id",
        (round($"cos", 4) + lit(0.0)).as("cos"))
    (visited, top5)
  }

  /** Graph-based ANN (q379) — the HNSW-class index family the q373
    * frontier card was missing: a bounded-degree proximity graph at
    * rest + greedy beam search at probe time. Per-query work is
    * seeds + hops·beam·degree score evaluations — INDEPENDENT of
    * corpus size, the property that wins most real recall-per-
    * candidate frontiers at scale (flat NSW here: one layer, LSH
    * min-id entries standing in for the hierarchy's zoom-in; the
    * hierarchy changes the entry cost, not the per-layer mechanics).
    * Deterministic end-to-end (fixed planes, min-id entries, exact
    * cos/vec_id tie ranks), so the DuckDB oracle replays build AND
    * search literally — the q41/q42 pattern. */
  def qGraphAnn(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graphBeamParts(s, dir)._2.orderBy($"q_id", $"rk")
  }

  /** Lexical × semantic dedup agreement (q387) — the cross-family
    * audit that prices running ONE dedup instead of both: the
    * MinHash-verified exact-Jaccard ≥ 0.9 pair set (q32's staged
    * frame — lexical) against the SemDeDup intra-cell cosine ≥ 0.3
    * pair set (q86's predicate, ALL qualifying pairs, not just the
    * min-id parent — semantic), joined on the (lo, hi) doc pair.
    * Published: both set sizes, the intersection, each side's
    * exclusive counts, and the pair-set Jaccard. Low agreement is
    * the EXPECTED production reading (lexical catches templates and
    * near-copies; embeddings catch paraphrase) — which is exactly
    * why a pipeline that drops either pass needs this number first.
    * Scale: both sides arrive bucketed/staged (LSH bands; anchor
    * cells) — the audit itself is an equi join on pair keys. */
  def qDedupAgreement(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val Tau = 0.3
    val lex = DedupQueries.verifiedPairsFrame(s, dir)
      .select($"x_id".as("a"), $"y_id".as("b"))
    val d = array(anchors.map(a => dot($"v", array(a.map(lit): _*))): _*)
    val sorted = array_sort(zip_with(d, transform(d, (_, i) => i),
      (x, i) => struct((-x).as("nd"), i.as("idx"))))
    val base = vecs(s, dir)
      .select($"vec_id", $"v", $"nrm",
        element_at(sorted, 1).getField("idx").as("cell"))
    val x = base.select($"vec_id", $"cell", $"v".as("xv"),
      $"nrm".as("xn"))
    val y = base.select($"vec_id".as("y_id"), $"cell", $"v".as("yv"),
      $"nrm".as("yn"))
    val sem = x.join(y, Seq("cell"))
      .filter($"y_id" < $"vec_id")
      .filter(dot($"xv", $"yv") / ($"xn" * $"yn") >= Tau)
      .select($"y_id".as("a"), $"vec_id".as("b"))
    val j = lex.withColumn("in_lex", lit(1L))
      .join(sem.withColumn("in_sem", lit(1L)), Seq("a", "b"),
        "full_outer")
    j.agg(
        coalesce(sum($"in_lex"), lit(0L)).as("n_lexical"),
        coalesce(sum($"in_sem"), lit(0L)).as("n_semantic"),
        coalesce(sum($"in_lex" * $"in_sem"), lit(0L)).as("n_both"))
      .select($"n_lexical", $"n_semantic", $"n_both",
        ($"n_lexical" - $"n_both").as("n_lex_only"),
        ($"n_semantic" - $"n_both").as("n_sem_only"),
        (round($"n_both".cast("double") /
          when($"n_lexical" + $"n_semantic" - $"n_both" > 0L,
            $"n_lexical" + $"n_semantic" - $"n_both"), 4) + lit(0.0))
          .as("agreement_jaccard"))
  }

  /** q387's oracle: both pair sets replayed literally — the lexical
    * chain from DedupQueries (cleaned trigram shingles, exact
    * Jaccard ≥ 0.9) and the semantic chain from q86's predicate. */
  private def dedupAgreementSql: String = {
    val dotCols = anchors.indices.map(i =>
      s"list_dot_product(v, ${sqlVec(anchors(i))}) AS d$i")
      .mkString(",\n|    ")
    val structs = anchors.indices.map(i =>
      s"{'nd': -d$i, 'idx': $i}").mkString("[", ", ", "]")
    s"""WITH ${DedupQueries.lexPairCtes},
      |$baseCte,
      |dots AS (
      |  SELECT vec_id, v,
      |    $dotCols
      |  FROM base),
      |assigned AS (
      |  SELECT vec_id, v,
      |    list_sort($structs)[1].idx AS cell
      |  FROM dots),
      |sem AS (
      |  SELECT y.vec_id AS a, x.vec_id AS b
      |  FROM assigned x JOIN assigned y USING (cell)
      |  WHERE y.vec_id < x.vec_id
      |    AND list_cosine_similarity(x.v, y.v) >= 0.3),
      |l AS (SELECT x_id AS a, y_id AS b FROM lp),
      |c AS (
      |  SELECT
      |    (SELECT CAST(count(*) AS BIGINT) FROM l) AS n_lexical,
      |    (SELECT CAST(count(*) AS BIGINT) FROM sem) AS n_semantic,
      |    (SELECT CAST(count(*) AS BIGINT)
      |       FROM l JOIN sem USING (a, b)) AS n_both)
      |SELECT n_lexical, n_semantic, n_both,
      |  n_lexical - n_both AS n_lex_only,
      |  n_semantic - n_both AS n_sem_only,
      |  round(CAST(n_both AS DOUBLE)
      |    / nullif(n_lexical + n_semantic - n_both, 0), 4) + 0.0
      |    AS agreement_jaccard
      |FROM c""".stripMargin
  }

  /** Graph index AT REST (q386) — q143's at-rest discipline applied
    * to q379's neighbor graph: the ANN-service shape builds the edge
    * list ONCE at ingest and persists it (here a bucketed-by-src,
    * src-sorted table — append-friendly exactly like q143's band
    * index), and every query batch after is a pure READ: the probe
    * path re-runs none of the candidate scoring, top-M pruning or
    * symmetrization the build paid. Results are identical to q379 by
    * construction (same beam over the same edges — Round15Spec pins
    * row-equality, and the oracle IS q379's replay): persistence
    * changes the read path, never the answer. */
  def qGraphAtRest(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val bt = StorageQueries.bucketTableName(dir, "gedges")
    StorageQueries.ensureTable(s, bt) {
      // source the bucketed at-rest table from the durable stage: a
      // rebuild is a columnar read + bucketed write, never a re-build
      stagedGraphEdges(s, dir).write.mode("overwrite")
        .bucketBy(8, "src").sortBy("src")
        .saveAsTable(bt)
    }
    val visited = graphBeamStagesOn(s, dir, s.table(bt), "atrest").last
    val wB = Window.partitionBy($"q_id").orderBy($"cos".desc, $"vec_id".asc)
    visited.withColumn("rk", row_number().over(wB))
      .filter($"rk" <= 5)
      .select($"q_id", $"rk", $"vec_id",
        (round($"cos", 4) + lit(0.0)).as("cos"))
      .orderBy($"q_id", $"rk")
  }

  /** Beam-hop sweep (q383) — q256's nprobe-sweep discipline applied
    * to the graph index: recall@5 and candidate volume at every hop
    * depth 0..GraphHops from ONE build and ONE search (hop k's state
    * is a prefix of hop k+1's — the sweep is free). The production
    * read: where the recall-per-hop curve knees is the search depth a
    * serving config pins; hops past the knee buy candidates, not
    * recall. Eval-harness class (recall needs q40's exhaustive
    * truth), exactly like q373/q256. */
  def qBeamSweep(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val all = vecs(s, dir)
    val nQ = all.filter($"vec_id" % 100 === 0).count()
    def r4(x: Double): Double = math.floor(x * 1e4 + 0.5) / 1e4
    val wT = Window.partitionBy($"q_id").orderBy($"cos".desc, $"vec_id".asc)
    val truth = truthTop5(s, dir)
    val rows = graphBeamStages(s, dir).zipWithIndex.map {
      case (vis, k) =>
        val cand = vis.count()
        val top5 = vis.withColumn("rk", row_number().over(wT))
          .filter($"rk" <= 5).select($"q_id", $"vec_id")
        val hits = truth.join(top5, Seq("q_id", "vec_id"), "left_semi")
          .count()
        (k.toLong, nQ,
          if (nQ == 0L) 0.0 else r4(cand.toDouble / nQ),
          if (nQ == 0L) 0.0 else r4(hits.toDouble / (5L * nQ)))
    }
    rows.toDF("hops", "n_queries", "mean_cand", "recall_at5")
      .orderBy($"hops")
  }

  /** Graph-index health audit (q384) — the at-rest ops card for
    * q379's neighbor graph, the numbers an index OWNER watches
    * between rebuilds: node/edge counts, ISOLATED nodes (no LSH
    * co-bucket partner ⇒ unreachable by graph search — the recall
    * ceiling's complement), mean/max degree and the median via the
    * bounded degree-histogram cumsum (q369's value-domain discipline
    * — the grid is ≤ max-degree rows, never the corpus). Degree
    * mass concentrating on a few hubs = bucket skew in the underlying
    * bands; isolated share growing = the signature family drifting
    * off the data. */
  def qGraphHealth(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.{Window => W}
    val edges = stagedGraphEdges(s, dir)
    val deg = vecs(s, dir).select($"vec_id".as("src"))
      .join(edges.groupBy($"src").agg(count(lit(1)).as("deg")),
        Seq("src"), "left")
      .select(coalesce($"deg", lit(0L)).as("deg"))
    val hist = deg.groupBy($"deg").agg(count(lit(1)).as("c"))
    val tot = hist.agg(sum($"c").as("n_nodes"),
      sum($"deg" * $"c").as("n_edges"),
      coalesce(sum(when($"deg" === 0L, $"c")), lit(0L))
        .as("n_isolated"),
      max(when($"c" > 0L, $"deg")).as("max_degree"))
    val cum = hist
      .withColumn("cum", sum($"c").over(W.orderBy($"deg")))
      .crossJoin(broadcast(tot))
    cum.agg(
        min(when(lit(2L) * $"cum" >= $"n_nodes", $"deg"))
          .as("p50_degree"))
      .crossJoin(broadcast(tot))
      .select($"n_nodes", $"n_edges", $"n_isolated",
        (round($"n_edges".cast("double")
          / when($"n_nodes" > 0L, $"n_nodes"), 4) + lit(0.0))
          .as("mean_degree"),
        $"p50_degree", $"max_degree")
  }

  private def ivfWith(s: SparkSession, dir: String,
      anchorsArr: Array[Array[Double]]): DataFrame = {
    import s.implicits._
    def dots(v: Column) = array(anchorsArr.map(a =>
      dot(v, array(a.map(lit): _*))): _*)
    val withCell = vecs(s, dir).withColumn("cells", {
      val d = dots($"v")
      // rank cells by dot desc: sort (negated dot, index) pairs
      val ranked = array_sort(zip_with(d,
        transform(d, (_, i) => i),
        (x, i) => struct((-x).as("nd"), i.as("idx"))))
      transform(ranked, r => r.getField("idx"))
    })
    val corpus = withCell
      .select($"vec_id", $"v", $"nrm",
        element_at($"cells", 1).as("cell"))
    val queries = withCell.filter($"vec_id" % 100 === 0)
      .select($"vec_id".as("q_id"), $"v".as("qv"), $"nrm".as("qn"),
        explode(slice($"cells", 1, 2)).as("cell"))
    val scored = chunkedBroadcastJoin(corpus, queries, Seq("cell"),
        QueryChunkRows)
      .filter($"vec_id" =!= $"q_id")
      .select($"q_id", $"vec_id",
        (dot($"qv", $"v") / ($"qn" * $"nrm")).as("cos"))
      .dropDuplicates("q_id", "vec_id")
    val w = Window.partitionBy($"q_id").orderBy($"cos".desc, $"vec_id".asc)
    scored.withColumn("rk", row_number().over(w)).filter($"rk" <= 5)
      .select($"q_id", $"rk", $"vec_id", (round($"cos", 4) + lit(0.0)).as("cos"))
      .orderBy($"q_id", $"rk")
  }

  /** IVF nprobe sweep (q256) — the index-tuning table q128/q135 built
    * for LSH, applied to the IVF index: recall@5 and candidate volume
    * at nprobe ∈ 1..4 probed cells, all four sweeps from ONE corpus
    * assignment pass (the sweep frame unions per-p query expansions;
    * candidates dedup by construction since cell lists are disjoint
    * prefixes). Aggregates use exact integer sums (Σhits / (5·|Q|)),
    * so no float accumulation order exists anywhere — the whole table
    * hash-matches. The production read: where the recall curve knees
    * is the nprobe a serving config pins (here 0.36 → ~0.9 across the
    * sweep on this corpus). Truth = q40's exhaustive top-5, staged
    * once. */
  def qNprobeSweep(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    def dots(v: Column) = array(anchors.map(a =>
      dot(v, array(a.map(lit): _*))): _*)
    val withCell = vecs(s, dir).withColumn("cells", {
      val d = dots($"v")
      val ranked = array_sort(zip_with(d,
        transform(d, (_, i) => i),
        (x, i) => struct((-x).as("nd"), i.as("idx"))))
      transform(ranked, r => r.getField("idx"))
    })
    val corpus = withCell
      .select($"vec_id", $"v", $"nrm", element_at($"cells", 1).as("cell"))
      .roundBarrier()
    val sweeps = (1 to 4).map { p =>
      withCell.filter($"vec_id" % 100 === 0)
        .select(lit(p).as("nprobe"), $"vec_id".as("q_id"),
          $"v".as("qv"), $"nrm".as("qn"),
          explode(slice($"cells", 1, p)).as("cell"))
    }.reduce(_.unionAll(_))
    val scored = chunkedBroadcastJoin(corpus, sweeps, Seq("cell"),
        QueryChunkRows)
      .filter($"vec_id" =!= $"q_id")
      .select($"nprobe", $"q_id", $"vec_id",
        (dot($"qv", $"v") / ($"qn" * $"nrm")).as("cos"))
    val nCand = scored.groupBy($"nprobe", $"q_id")
      .agg(count(lit(1)).as("n_cand"))
    val wA = Window.partitionBy($"nprobe", $"q_id")
      .orderBy($"cos".desc, $"vec_id".asc)
    val approxTop = scored.withColumn("rk", row_number().over(wA))
      .filter($"rk" <= 5).select($"nprobe", $"q_id", $"vec_id")
    val truth = truthTop5(s, dir)
    val hits = approxTop.join(truth, Seq("q_id", "vec_id"))
      .groupBy($"nprobe", $"q_id").agg(count(lit(1)).as("n_hits"))
    nCand.join(hits, Seq("nprobe", "q_id"), "left")
      .select($"nprobe", $"q_id", $"n_cand",
        coalesce($"n_hits", lit(0L)).as("n_hits"))
      .groupBy($"nprobe")
      .agg(count(lit(1)).as("n_queries"),
        sum($"n_cand").as("tot_cand"), sum($"n_hits").as("tot_hits"))
      .select($"nprobe", $"n_queries",
        round($"tot_cand".cast("double") / $"n_queries", 4)
          .as("mean_cand"),
        round($"tot_hits".cast("double") / ($"n_queries" * 5), 4)
          .as("recall_at_5"))
      .orderBy($"nprobe")
  }

  /** q40 re-expressed through the custom bounded-heap aggregate
    * (graft.plans.TopKAggregate): identical results, but the per-query
    * top-5 comes from O(k) heaps with map-side combine instead of a
    * window sort over every scored pair — at scale that is a shuffle of
    * ≤k rows per query instead of a full sort of |queries|×|corpus|.
    * Shares q40's oracle SQL because the output contract is identical. */
  def qTopkAggregate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    scoredPairs(s, dir, QueryChunkRows).groupBy($"q_id")
      .agg(graft.plans.TopKAggregate.topKBy($"cos", $"vec_id", 5).as("top"))
      .select($"q_id", posexplode($"top").as(Seq("pos", "t")))
      .select($"q_id", ($"pos" + 1).cast("int").as("rk"),
        $"t.id".as("vec_id"), (round($"t.score", 4) + lit(0.0)).as("cos"))
      .orderBy($"q_id", $"rk")
  }

  /** ANN recall evaluation (q128): per-query recall@5 of the LSH index
    * (q41) against exhaustive truth (q40) — the harness every ANN
    * deployment ships, because bucketing parameters (bands, bits) are
    * useless numbers until they're priced in recall. Truth costs one
    * brute-force pass over the corpus for the query SAMPLE only — the
    * standard amortization: recall is estimated on a sampled query set
    * offline, never computed per production query. The hit count is a
    * semi join on (q_id, vec_id) — id sets, never vectors, cross the
    * wire — and a left join puts zero-recall queries back in the
    * report (the rows that matter most). */
  def qRecallEval(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val truth = truthTop5(s, dir)
    val approx = qLshAnn(s, dir).select($"q_id", $"vec_id")
    val hits = truth.join(approx, Seq("q_id", "vec_id"), "left_semi")
      .groupBy($"q_id").agg(count(lit(1)).as("n_hit"))
    truth.groupBy($"q_id").agg(count(lit(1)).as("n_true"))
      .join(hits, Seq("q_id"), "left_outer")
      .select($"q_id", $"n_true",
        coalesce($"n_hit", lit(0L)).as("n_hit"),
        round(coalesce($"n_hit", lit(0L)) / $"n_true", 4).as("recall"))
      .orderBy($"q_id")
  }

  /** Hard-negative mining (q126): for each anchor (every 100th vector,
    * q40's query set) the top-3 most-similar vectors with a DIFFERENT
    * label — the negatives a contrastive trainer pairs with each
    * anchor, because the closest non-matching examples are the
    * informative ones (Robinson et al. 2021). Same exhaustive-search
    * discipline as q40: the anchor set broadcasts in hash-chunked
    * fixed-size pieces (⌈|Q|/chunk⌉ corpus scans, each broadcast
    * bounded), the cross-label predicate is the join condition so
    * same-label rows drop before any dot product, and the per-anchor
    * top-3 is the Filter(row_number <= 3) shape TopKWindowRule rewrites
    * to the bounded heap. */
  def qHardNegatives(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val all = Tables.embeddings(s, dir)
      .select($"vec_id", $"label",
        transform($"embedding", _.cast("double")).as("v"))
      .withColumn("nrm", norm($"v")).filter($"nrm" > 0)
    val q = all.filter($"vec_id" % 100 === 0)
      .select($"vec_id".as("q_id"), $"label".as("q_label"),
        $"v".as("qv"), $"nrm".as("qn"))
    val nChunks = math.max(1L,
      (q.count() + QueryChunkRows - 1) / QueryChunkRows).toInt
    val scored = (0 until nChunks).map { i =>
      all.join(
          broadcast(q.filter(pmod(hash($"q_id"), lit(nChunks)) === i)),
          $"label" =!= $"q_label")
        .select($"q_id", $"vec_id", $"label",
          (dot($"qv", $"v") / ($"qn" * $"nrm")).as("cos"))
    }.reduce(_.union(_))
    val w = Window.partitionBy($"q_id").orderBy($"cos".desc, $"vec_id".asc)
    scored.withColumn("rk", row_number().over(w)).filter($"rk" <= 3)
      .select($"q_id", $"rk", $"vec_id", $"label",
        (round($"cos", 4) + lit(0.0)).as("cos"))
      .orderBy($"q_id", $"rk")
  }

  /** Per-label centroid geometry (q261) — the domain-shift read on the
    * labeled embedding space: each label's mean vector (the q192
    * per-dim discipline — one posexploded map-side-combined pass, dims
    * rounded to 6 decimals BEFORE any downstream arithmetic so both
    * engines fold identical doubles), then the pairwise centroid
    * cosine matrix — near-1 off-diagonals mean two classes are not
    * separable in this space (the check run before anyone trains a
    * classifier head or trusts q86's semantic dedup across labels).
    * Everything after the first aggregate is |labels|²-sized. */
  def qLabelCentroids(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cent = Tables.embeddings(s, dir)
      .select($"label", posexplode(transform($"embedding",
        _.cast("double"))).as(Seq("dim", "x")))
      .groupBy($"label", $"dim").agg(avg($"x").as("mu"))
      .select($"label", $"dim", round($"mu", 6).as("mu"))
      .groupBy($"label")
      .agg(array_sort(collect_list(struct($"dim", $"mu"))).as("cs"))
      .select($"label", transform($"cs", _.getField("mu")).as("c"))
    val x = cent.select($"label".as("label_a"), $"c".as("ca"))
    val y = cent.select($"label".as("label_b"), $"c".as("cb"))
    x.join(y, $"label_a" < $"label_b")
      .select($"label_a", $"label_b",
        (round(dot($"ca", $"cb") / (norm($"ca") * norm($"cb")), 4)
          + lit(0.0)).as("centroid_cos"))
      .orderBy($"label_a", $"label_b")
  }

  /** Leave-one-out 1-NN label accuracy (q262) — the standard "is this
    * embedding space label-informative?" probe (a kNN eval needs no
    * training): for each query vector (the 1% harness sample), its
    * exact nearest neighbor's label vs its own, rolled to per-label
    * accuracy. Reuses q40's chunk-bounded scored pairs — the ONLY new
    * work after scoring is a top-1 window and a |labels|-row rollup;
    * self-matches are excluded by construction (q40 already drops
    * vec_id = q_id), which is what makes it leave-one-out. */
  def qKnnLabelAccuracy(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val labels = Tables.embeddings(s, dir).select($"vec_id", $"label")
    val w = Window.partitionBy($"q_id").orderBy($"cos".desc, $"vec_id".asc)
    val nn = scoredPairs(s, dir, QueryChunkRows)
      .withColumn("rk", row_number().over(w)).filter($"rk" === 1)
      .select($"q_id", $"vec_id".as("nn_id"))
    nn.join(labels.select($"vec_id".as("q_id"), $"label".as("q_label")),
        "q_id")
      .join(labels.select($"vec_id".as("nn_id"),
        $"label".as("nn_label")), "nn_id")
      .groupBy($"q_label")
      .agg(count(lit(1)).as("n_queries"),
        sum(($"nn_label" === $"q_label").cast("long")).as("n_correct"))
      .select($"q_label", $"n_queries", $"n_correct",
        round($"n_correct".cast("double") / $"n_queries", 4)
          .as("accuracy"))
      .orderBy($"q_label")
  }

  /** Graded retrieval metrics (q265) — MRR and NDCG@5 of the LSH
    * index (q41) against exhaustive truth, completing q128's
    * recall-only eval with the POSITION-aware metrics an IR system is
    * actually graded on (recall treats rank 1 and rank 5 alike; MRR
    * prices the first hit, NDCG the whole ordering). Relevance = the
    * exact top-5 set; IDCG is the |rel| = 5 constant embedded as a
    * literal, and ln 2 rides as the same literal double in BOTH
    * engines so the discount arithmetic matches. Queries the index
    * returns nothing for count as zero (left join from the full query
    * spine — dropping them would flatter the index). Everything after
    * the two staged retrievals is a per-query rollup + one mean. */
  def qRankMetrics(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ln2 = 0.6931471805599453
    val idcg = (1 to 5).map(i => ln2 / math.log(i + 1.0)).sum
    val truth = truthTop5(s, dir)
      .select($"q_id", $"vec_id", lit(1L).as("rel"))
    val approx = qLshAnn(s, dir).select($"q_id", $"rk", $"vec_id")
    val per = approx
      .join(truth, Seq("q_id", "vec_id"), "left")
      .groupBy($"q_id")
      .agg(min(when($"rel" === 1, $"rk")).as("first_rel"),
        sum(when($"rel" === 1,
          lit(ln2) / log($"rk" + lit(1.0))).otherwise(lit(0.0)))
          .as("dcg"))
    val spine = vecs(s, dir).filter($"vec_id" % 100 === 0)
      .select($"vec_id".as("q_id"))
    spine.join(per, Seq("q_id"), "left")
      .select($"q_id",
        coalesce(lit(1.0) / $"first_rel", lit(0.0)).as("rr"),
        coalesce($"dcg" / lit(idcg), lit(0.0)).as("ndcg"))
      .agg(count(lit(1)).as("n_queries"),
        round(avg($"rr"), 4).as("mrr"),
        round(avg($"ndcg"), 4).as("ndcg_at_5"))
  }

  /** MMR diversity rerank (q263) — Carbonell & Goldstein 1998, the
    * standard redundancy-aware final stage of a retrieval pipeline
    * (and of RAG context assembly): greedily pick 5 of the exact
    * top-10 candidates maximizing λ·rel − (1−λ)·max-sim-to-already-
    * selected (λ = 0.7) — near-duplicate candidates are demoted the
    * moment one of them is taken. The greedy fold is inherently
    * sequential but over TEN rows per query: it runs as a typed
    * mapGroups on the (q_id)-grouped candidate frame (the q103
    * posture — the sequential part is bounded by the shortlist size,
    * never corpus-scale; all heavy lifting stays in q40's chunked
    * scoring). All selection comparisons happen on the 1e-6 grid with
    * vec_id tie-breaks, so the greedy path — and therefore the whole
    * output — replays exactly in the oracle's 4 unrolled argmax CTEs. */
  def qMmrRerank(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val wT = Window.partitionBy($"q_id").orderBy($"cos".desc, $"vec_id".asc)
    val top10 = scoredPairs(s, dir, QueryChunkRows)
      .withColumn("rk0", row_number().over(wT)).filter($"rk0" <= 10)
      .select($"q_id", $"vec_id", $"cos")
    val withV = top10
      .join(vecs(s, dir).select($"vec_id", $"v"), "vec_id")
      .select($"q_id", $"vec_id", $"cos", $"v")
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def r4(x: Double): Double =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    def cosine(a: Seq[Double], b: Seq[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
      }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    withV
      .groupByKey(r => r.getAs[Long]("q_id"))
      .flatMapGroups { (q, it) =>
        val cand = it.map(r => (r.getAs[Long]("vec_id"),
          r.getAs[Double]("cos"),
          r.getAs[scala.collection.Seq[Double]]("v").toArray)).toArray
        val remaining = cand.sortBy(c => (-c._2, c._1)).toBuffer
        val selected = scala.collection.mutable.Buffer
          .empty[(Long, Double, Array[Double], Double)]
        val k = math.min(5, remaining.length)
        while (selected.length < k) {
          val scored = remaining.map { c =>
            val maxSim = if (selected.isEmpty) 0.0
              else selected.map(s => cosine(c._3, s._3)).max
            (c, r6(0.7 * c._2 - 0.3 * maxSim))
          }
          val best = scored.minBy { case (c, sc) => (-sc, c._1) }
          selected += ((best._1._1, best._1._2, best._1._3, best._2))
          remaining -= best._1
        }
        selected.iterator.zipWithIndex.map { case ((id, cos, _, sc), i) =>
          // + 0.0 = the suite's −0.0 normalization, engine-side
          (q, i + 1, id, r4(cos) + 0.0, r4(sc) + 0.0)
        }
      }
      .toDF("q_id", "rk", "vec_id", "cos", "mmr")
      .orderBy($"q_id", $"rk")
  }

  // ---------------------------------------------------------------- PQ

  private val PqM = 4     // subspaces
  private val PqSub = 16  // dims per subspace (4 × 16 = 64)
  private val PqK = 8     // centroids per subspace → 3-bit codes

  /** Product-quantization codebooks (Jégou, Douze & Schmid 2011,
    * "Product quantization for nearest neighbor search"): per subspace,
    * 8 deterministic gaussian centroids at per-component scale 0.045 —
    * the empirical distortion optimum for this corpus' unit-norm,
    * near-isotropic embeddings (measured mean sq_err: 0.92 @ 0.02,
    * 0.88 @ 0.045, 1.21 @ 0.125 = the naive 1/√64 component-variance
    * match; Lloyd refinement only reaches 0.82 on isotropic data, not
    * worth a data-coupled codebook). Literal constants like
    * `planes`/`anchors` so the oracle replays the assignment exactly.
    * Seed 123 — distinct from 42 (LSH planes), 7 (IVF anchors) and 91
    * (JL matrix), so codes stay uncorrelated with the other indexes. */
  private val pqCents: Array[Array[Array[Double]]] = {
    val rnd = new scala.util.Random(123)
    Array.fill(PqM, PqK, PqSub)(rnd.nextGaussian() * 0.045)
  }

  /** ||c||² per (subspace, centroid), folded in j-order — the same
    * sequential sum both engines replay. */
  private def cn(m: Int, k: Int): Double = {
    var ss = 0.0
    var j = 0
    while (j < PqSub) { ss += pqCents(m)(k)(j) * pqCents(m)(k)(j); j += 1 }
    ss
  }

  /** Squared L2 distance from subvector column `sv` to literal centroid
    * (m, k), in the FIXED arithmetic order (dot(sv,sv) − 2·dot(sv,c)) +
    * ||c||² that the oracle restates verbatim — float addition is not
    * associative, so the order is part of the cross-engine contract. */
  private def pqDist(sv: Column, m: Int, k: Int): Column =
    dot(sv, sv) - lit(2.0) * dot(sv, array(pqCents(m)(k).map(lit): _*)) +
      lit(cn(m, k))

  /** Per-subspace argmin (code, distance) column pairs for any 64-dim
    * vector column. Ties (measure-zero with gaussian codebooks) break to
    * the lower centroid index via the same (d, idx) struct sort the IVF
    * family uses. 32 codegen'd folds per row — pure map work. */
  private def pqBestCols(vcol: Column): Seq[(Column, Column)] =
    (0 until PqM).map { m =>
      val sv = slice(vcol, m * PqSub + 1, PqSub)
      val d = array((0 until PqK).map(k => pqDist(sv, m, k)): _*)
      val best = element_at(array_sort(zip_with(d,
        transform(d, (_, i) => i),
        (x, i) => struct(x.as("d"), i.as("idx")))), 1)
      (best.getField("idx"), best.getField("d"))
    }

  /** (vec_id, c0..c3, e0..e3): PQ assignment of the raw vectors. */
  private def pqCodes(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cols = pqBestCols($"v").zipWithIndex.flatMap { case ((c, e), m) =>
      Seq(c.as(s"c$m"), e.as(s"e$m"))
    }
    vecs(s, dir).select($"vec_id" +: cols: _*)
  }

  /** PQ encode (q156): compress every 64-dim embedding to four 3-bit
    * codes — 512 bytes → 4 codes — plus the reconstruction error the
    * compression costs. THE memory-bound ANN scale play: at 100 TB the
    * full float corpus cannot live in RAM, the code table can (≈ 1/128
    * the bytes), and every IVF list in a production index stores codes,
    * not vectors (FAISS's IVFPQ). Map-only at any corpus size; the
    * error column is the monitoring number a quantizer re-fit watches. */
  def qPqEncode(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    pqCodes(s, dir).select($"vec_id",
      $"c0", $"c1", $"c2", $"c3",
      (round($"e0" + $"e1" + $"e2" + $"e3", 4) + lit(0.0)).as("sq_err"))
      .orderBy($"vec_id")
  }

  /** PQ asymmetric-distance search (q157): per query, precompute the
    * 4×8 lookup table of subspace distances to every codebook centroid,
    * then score each corpus vector as four table lookups + three adds —
    * never touching its floats (Jégou et al. 2011's ADC). The economics
    * at 100 TB: the scan side reads 4-byte codes instead of 512-byte
    * vectors (÷128 I/O) and per-pair cost is O(M), not O(dim); the LUT
    * rides inside the chunk-bounded query broadcast (q40's discipline —
    * the query side grows with the corpus, so it is broadcast in
    * fixed-size hash chunks). Top-5 by approximate distance, ascending,
    * ties to the lower vec_id. */
  /** The (q_id, vec_id, adist) ADC scores shared by q157 and q226. */
  private def pqAdcScored(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val codes = pqCodes(s, dir).select($"vec_id", $"c0", $"c1", $"c2", $"c3")
    val luts = (0 until PqM).map { m =>
      val sv = slice($"v", m * PqSub + 1, PqSub)
      array((0 until PqK).map(k => pqDist(sv, m, k)): _*).as(s"lut$m")
    }
    val q = vecs(s, dir).filter($"vec_id" % 100 === 0)
      .select($"vec_id".as("q_id") +: luts: _*)
    val nChunks = math.max(1L,
      (q.count() + QueryChunkRows - 1) / QueryChunkRows).toInt
    (0 until nChunks).map { i =>
      codes.join(
          broadcast(q.filter(pmod(hash($"q_id"), lit(nChunks)) === i)),
          $"vec_id" =!= $"q_id")
        .select($"q_id", $"vec_id",
          (element_at($"lut0", $"c0" + 1) + element_at($"lut1", $"c1" + 1) +
            element_at($"lut2", $"c2" + 1) + element_at($"lut3", $"c3" + 1))
            .as("adist"))
    }.reduce(_.union(_))
  }

  def qPqAdc(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"q_id").orderBy($"adist".asc, $"vec_id".asc)
    pqAdcScored(s, dir)
      .withColumn("rk", row_number().over(w)).filter($"rk" <= 5)
      .select($"q_id", $"rk", $"vec_id",
        (round($"adist", 4) + lit(0.0)).as("adist"))
      .orderBy($"q_id", $"rk")
  }

  /** Two-stage retrieval (q226) — the PRODUCTION serving shape every
    * PQ paper assumes but rarely spells out (Jégou et al. 2011 §V.C:
    * "re-ranking with source vectors"): stage 1 shortlists 10
    * candidates per query by the cheap ADC approximation (4 LUT
    * lookups/vector, codes 1/128 the bytes); stage 2 re-scores ONLY
    * the shortlist with exact float cosine and keeps the top 3 — full
    * precision paid on 10 vectors per query, not the corpus. Scale
    * shape: the shortlist is |Q|×10 rows carrying only ids, and both
    * re-rank joins are equi-joins on (vec_id / q_id) against the
    * vector table — co-located shuffles, no vector ever broadcasts
    * (the LUT stage reuses q157's hash-chunk-bounded query broadcast).
    * The output carries both distances, so the frame is also the
    * stage-1-vs-stage-2 disagreement audit (q128's recall discipline
    * applied inside one query). */
  def qPqRerank(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w1 = Window.partitionBy($"q_id").orderBy($"adist".asc, $"vec_id".asc)
    val short = pqAdcScored(s, dir)
      .withColumn("rk0", row_number().over(w1)).filter($"rk0" <= 10)
      .select($"q_id", $"vec_id", $"adist")
    val cv = vecs(s, dir).select($"vec_id", $"v", $"nrm")
    val qv = vecs(s, dir)
      .select($"vec_id".as("q_id"), $"v".as("qv"), $"nrm".as("qn"))
    val rescored = short
      .join(cv, "vec_id")
      .join(qv, "q_id")
      .select($"q_id", $"vec_id", $"adist",
        (dot($"qv", $"v") / ($"qn" * $"nrm")).as("cos"))
    val w2 = Window.partitionBy($"q_id").orderBy($"cos".desc, $"vec_id".asc)
    rescored.withColumn("rk", row_number().over(w2)).filter($"rk" <= 3)
      .select($"q_id", $"rk", $"vec_id",
        (round($"cos", 4) + lit(0.0)).as("cos"),
        (round($"adist", 4) + lit(0.0)).as("adist"))
      .orderBy($"q_id", $"rk")
  }

  /** IVFPQ (q161): the composed production ANN index — IVF coarse
    * quantizer prunes the search to 2 of 8 cells (q42), and inside a
    * cell every vector is stored as the PQ code of its RESIDUAL
    * (v − cell anchor), scored by ADC lookup tables built from the
    * query's residual against the same anchor (Jégou et al. 2011 §IV;
    * FAISS's IndexIVFPQ). This is the architecture that actually serves
    * 100 TB: the inverted lists hold 4-byte codes (RAM-resident at any
    * corpus size), a query reads 2/8 of the lists, and per-candidate
    * cost is 4 lookups + 3 adds. Residual encoding matters: residuals
    * concentrate near the anchor so a shared codebook quantizes them
    * tighter than raw vectors — and it falls out as pure column algebra
    * (zip_with against one literal anchor table, then q156's codebook
    * machinery unchanged). Query-side LUT frame rides the chunk-bounded
    * broadcast; everything replays in the oracle because anchors AND
    * codebooks are literals. */
  def qIvfPq(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val anchorLits = array(anchors.map(a => array(a.map(lit): _*)): _*)
    def dots(v: Column) = array(anchors.map(a =>
      dot(v, array(a.map(lit): _*))): _*)
    val withCell = vecs(s, dir).withColumn("cells", {
      val d = dots($"v")
      val ranked = array_sort(zip_with(d, transform(d, (_, i) => i),
        (x, i) => struct((-x).as("nd"), i.as("idx"))))
      transform(ranked, r => r.getField("idx"))
    })
    val corpus = withCell
      .select($"vec_id", $"v", element_at($"cells", 1).as("cell"))
      .withColumn("res", zip_with($"v",
        element_at(anchorLits, $"cell" + 1), (x, a) => x - a))
    val codeCols = pqBestCols($"res").zipWithIndex
      .map { case ((c, _), m) => c.as(s"c$m") }
    val index = corpus.select($"vec_id" +: $"cell" +: codeCols: _*)
    val queries = withCell.filter($"vec_id" % 100 === 0)
      .select($"vec_id".as("q_id"), $"v".as("qv"),
        explode(slice($"cells", 1, 2)).as("cell"))
      .withColumn("qres", zip_with($"qv",
        element_at(anchorLits, $"cell" + 1), (x, a) => x - a))
    val luts = (0 until PqM).map { m =>
      val sv = slice($"qres", m * PqSub + 1, PqSub)
      array((0 until PqK).map(k => pqDist(sv, m, k)): _*).as(s"lut$m")
    }
    val q = queries.select($"q_id" +: $"cell" +: luts: _*)
    val scored = chunkedBroadcastJoin(index, q, Seq("cell"), QueryChunkRows)
      .filter($"vec_id" =!= $"q_id")
      .select($"q_id", $"vec_id",
        (element_at($"lut0", $"c0" + 1) + element_at($"lut1", $"c1" + 1) +
          element_at($"lut2", $"c2" + 1) + element_at($"lut3", $"c3" + 1))
          .as("adist"))
    val w = Window.partitionBy($"q_id").orderBy($"adist".asc, $"vec_id".asc)
    scored.withColumn("rk", row_number().over(w)).filter($"rk" <= 5)
      .select($"q_id", $"rk", $"vec_id",
        (round($"adist", 4) + lit(0.0)).as("adist"))
      .orderBy($"q_id", $"rk")
  }

  /** Johnson-Lindenstrauss random-projection matrix: 16 seeded gaussian
    * directions over the 64-dim input, scaled 1/sqrt(16) so expected
    * squared norms are preserved (the JL estimator). Literal constants,
    * like `planes`/`anchors`, so the oracle replays them. */
  private val rproj: Array[Array[Double]] = {
    // Seed 91 (NOT 7, the IVF/SemDeDup anchor seed at `anchors` above):
    // sharing the seed would make the first 8 projection directions the
    // anchor vectors scaled by 1/4, correlating the JL matrix with the
    // clustering anchors and biasing any composition of q91 with q42/q86.
    val rnd = new scala.util.Random(91)
    Array.fill(16, 64)(rnd.nextGaussian() / math.sqrt(16.0))
  }

  /** Random-projection dimensionality reduction (q91): 64 → 16 dims via
    * a fixed gaussian matrix (Johnson & Lindenstrauss 1984; the dense
    * variant of Achlioptas 2003) — the cheap pre-ANN compression step an
    * embedding pipeline runs before indexing: distances survive in
    * expectation at a quarter of the storage/bandwidth. Map-only: 16
    * codegen'd dot products per row against literal vectors, zero
    * shuffles at any corpus size; the matrix rides in the plan itself,
    * not even a broadcast. RProjSpec pins the JL distance-preservation
    * law on real pairs. */
  def qRandomProjection(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // `+ 0.0` normalizes IEEE negative zero: round can yield -0.0 in one
    // engine and 0.0 in the other for a tiny negative product, and the
    // driver's hash compares their string forms. -0.0 + 0.0 == +0.0.
    vecs(s, dir).select(
      $"vec_id" +: (0 until 16).map(j =>
        (round(dot($"v", array(rproj(j).map(lit): _*)), 4) + lit(0.0))
          .as(s"r$j")): _*)
      .orderBy($"vec_id")
  }

  /** Embedding-health card (q192): the one-row audit an embedding
    * pipeline gates its index builds on — norm statistics (a collapsed
    * or exploding encoder shows up here first), the centroid norm and
    * mean cosine-to-centroid (anisotropy: contextual embedding spaces
    * concentrate in a narrow cone, Ethayarajh 2019 — cosine thresholds
    * tuned on an isotropic space silently break on a drifted one), and
    * the min/max per-dimension variance (a dead dimension = wasted
    * index bytes; a dominant one = distance collapse). Scale shape:
    * the centroid is ONE partial-agg pass over posexploded (dim,
    * component) pairs — map-side combine collapses to 64×partitions
    * rows before the exchange; the 64-row centroid folds to an array
    * in a 1-row frame, broadcasts back, and the cosine pass is
    * map-only. Centroid components round to 6 decimals BEFORE the
    * cosine so downstream arithmetic is bit-identical across engines;
    * corpus-level means ride the usual 4-decimal grid. */
  def qEmbedHealth(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val v = vecs(s, dir)
    val byDim = v.select(posexplode($"v").as(Seq("dim", "x")))
      .groupBy($"dim")
      .agg(round(avg($"x"), 6).as("mu"), round(var_samp($"x"), 4).as("vr"))
    val centroid = byDim
      .agg(array_sort(collect_list(struct($"dim", $"mu"))).as("cs"),
        min($"vr").as("dim_var_min"), max($"vr").as("dim_var_max"))
      .select(transform($"cs", c => c.getField("mu")).as("c"),
        $"dim_var_min", $"dim_var_max")
    v.crossJoin(broadcast(centroid))
      .select($"nrm", $"dim_var_min", $"dim_var_max",
        (dot($"v", $"c") / ($"nrm" * norm($"c"))).as("cos_c"),
        norm($"c").as("cnorm"))
      .groupBy($"dim_var_min", $"dim_var_max")
      .agg(count(lit(1)).as("n_vecs"),
        round(avg($"nrm"), 4).as("mean_norm"),
        round(stddev_samp($"nrm"), 4).as("sd_norm"),
        round(first($"cnorm"), 4).as("centroid_norm"),
        round(avg($"cos_c"), 4).as("anisotropy"))
      .select($"n_vecs", $"mean_norm", $"sd_norm", $"centroid_norm",
        $"anisotropy", $"dim_var_min", $"dim_var_max")
  }

  /** k-means‖ constants (Bahmani et al. 2012, "Scalable k-means++"):
    * oversample ℓ = k per round (the paper's Θ(k) guidance), 2 rounds,
    * reduce to k = 8 — all literal so the oracle unrolls the identical
    * chain. */
  private val KmpL = 8
  private val KmpRounds = 2
  private val KmpK = 8

  /** k-means‖ initialization (q281) — the DISTRIBUTED seeding that
    * replaces k-means++'s k inherently-sequential corpus passes with
    * O(rounds) passes (Bahmani et al. 2012): each round samples every
    * point INDEPENDENTLY with probability min(1, ℓ·d²(x,C)/φ) — an
    * md5-uniform against a closed-form threshold, so the "random"
    * choices replay exactly in the oracle — then the oversampled
    * candidate set (≈ 1+ℓ·R ≪ n, metadata-scale) is weighted by
    * closest-point counts and reduced to k seeds by deterministic
    * weighted farthest-first (tie-break by id everywhere). Output: the
    * k chosen seeds with their weights and the separation (min d² to
    * the prior picks) at selection time.
    *
    * Scale shape: per round ONE map-only corpus pass against the
    * broadcast candidate literals plus a 1-row φ aggregate; the weight
    * pass is one argmin + groupBy to |candidates| rows; the reduction
    * runs on the ≤ ~20-row candidate table (driver-side here, the
    * q42b metadata-collect posture). φ snaps to the 1e-9 grid on both
    * engines (rnd9's contract) so the sampling thresholds — the only
    * sum whose value depends on accumulation order — are bit-identical
    * cross-engine. */
  def qKmeansParInit(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = vecs(s, dir)
      .select($"vec_id", transform($"v", x => x / $"nrm").as("nv"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val firstOpt = base.orderBy($"vec_id").limit(1)
        .select($"vec_id", $"nv").as[(Long, Seq[Double])]
        .collect().headOption
      if (firstOpt.isEmpty) // zero nonzero-norm vectors: nothing to seed
        return Vector.empty[(Int, Long, Long, Option[Double])]
          .toDF("rk", "vec_id", "weight", "sep")
      val first = firstOpt.get
      var cand = Vector((first._1, first._2.toArray))
      for (r <- 1 to KmpRounds) {
        val dCols = cand.map { case (_, c) =>
          greatest(lit(0.0),
            lit(2.0) - lit(2.0) * dot($"nv", array(c.map(lit): _*)))
        }
        val d2 = dCols.reduce(least(_, _))
        val withD = base.withColumn("d2", d2)
        val phi = withD.agg(round(sum($"d2"), 9)).head().getDouble(0)
        val u = conv(substring(md5(concat(lit(s"kmp:$r:"),
          $"vec_id".cast("string"))), 1, 8), 16, 10)
          .cast("double") / 4294967296.0
        // φ = 0 ⟺ every point coincides with a candidate: no residual
        // mass to sample (DuckDB's d2/0 → NULL excludes the same rows)
        val sampled = if (phi == 0.0) Array.empty[(Long, Seq[Double])]
        else withD
          .filter(u < least(lit(1.0), lit(KmpL.toDouble) * $"d2" / phi))
          .orderBy($"vec_id")
          .select($"vec_id", $"nv").as[(Long, Seq[Double])].collect()
        cand = cand ++ sampled.map { case (id, v) => (id, v.toArray) }
      }
      // closest-point weights over the final candidate set (ties →
      // lowest candidate id; candidates are in ascending-id order)
      val assignStructs = cand.map { case (id, c) =>
        struct(
          greatest(lit(0.0),
            lit(2.0) - lit(2.0) * dot($"nv", array(c.map(lit): _*)))
            .as("d2"),
          lit(id).as("cid"))
      }
      val best = element_at(array_sort(array(assignStructs: _*)), 1)
        .getField("cid")
      val w = base.select(best.as("cid")).groupBy($"cid").count()
        .as[(Long, Long)].collect().toMap
      // deterministic weighted farthest-first reduction on the
      // candidate table (metadata-scale)
      def dd(a: Array[Double], b: Array[Double]): Double = {
        var s0 = 0.0; var j = 0
        while (j < a.length) { s0 += a(j) * b(j); j += 1 }
        math.max(0.0, 2.0 - 2.0 * s0)
      }
      val cw = cand.map { case (id, v) => (id, v, w.getOrElse(id, 0L)) }
      val firstPick = cw.minBy { case (id, _, wt) => (-wt, id) }
      var chosen = Vector((firstPick._1, firstPick._2, firstPick._3,
        Option.empty[Double]))
      while (chosen.length < KmpK &&
          chosen.length < cw.length) {
        val chosenIds = chosen.map(_._1).toSet
        val scoredRem = cw.filterNot(c => chosenIds(c._1)).map {
          case (id, v, wt) =>
            val mind = chosen.map(ch => dd(v, ch._2)).min
            (id, v, wt, mind)
        }
        val pick = scoredRem.minBy { case (id, _, wt, mind) =>
          (-wt * mind, id)
        }
        chosen = chosen :+ ((pick._1, pick._2, pick._3, Some(
          BigDecimal(pick._4).setScale(6,
            BigDecimal.RoundingMode.HALF_UP).toDouble)))
      }
      chosen.zipWithIndex.map { case ((id, _, wt, sep), i) =>
        (i + 1, id, wt, sep)
      }.toDF("rk", "vec_id", "weight", "sep")
        .orderBy($"rk")
    } finally { base.unpersist(); () }
  }

  /** Power-iteration rounds for q289. Convergence is NOT required for
    * correctness — both engines replay the identical snapped iterates —
    * but 8 rounds close a planted dominant direction (spec) and cost
    * nothing: they run on the driver over a 64×64 literal matrix. */
  private val PowerIters = 8

  /** PCA top principal component (q289) — the embedding-geometry
    * audit behind curation decisions (a corpus whose top component
    * eats most of the variance is anisotropic: embeddings collapse
    * toward a line and cosine similarity loses resolution — the
    * degeneracy q192's health check screens for, located here as an
    * actual direction). The FAISS-style split q42b established: ONE
    * corpus pass produces a metadata-scale artifact — the dimension
    * is appended with a constant-1 slot so a single upper-triangle
    * pair aggregate (65·66/2 = 2145 partial-agg rows) carries second
    * moments, sums, AND the count; covariance assembles from it on
    * the driver, and 8 power-iteration rounds run over the 64×64
    * matrix there (never another corpus scan — the naive alternative,
    * v ← Σ x·(x·v), is one full pass PER round).
    *
    * Cross-engine determinism: the corpus-scale sums are EXACT
    * integer aggregates, not float sums. Each component quantizes to
    * the 1e-6 grid as a long (floor(x·10⁶ + 0.5) — identical IEEE
    * ops on the identical input double in both engines), pair
    * products are exact longs (≤10¹² per row), and the sums
    * accumulate as decimal(38,0) / HUGEINT — so the moment matrix is
    * bit-identical no matter what order either engine sums partial
    * aggregates in. A snapped FLOAT sum cannot give that guarantee:
    * the snapped value can sit within summation noise of a snap
    * boundary, and at sf0.01 two did — a per-dim mean and a round-8
    * iterate each straddled their grid-cell edge and the two engines
    * rounded apart. So the driver-side math is integer too: means
    * snap to the 1e-9 grid via the explicit floor(x·10⁹ + 0.5)/10⁹
    * IEEE form on BOTH engines (not rnd9 — see the in-body note),
    * and the covariance cells, power iterates, and every 64-term
    * contraction live on a 1e-6 long grid where matvec/norm/Rayleigh
    * sums are exact — the DuckDB oracle replays the same integer
    * moments and the same unrolled 8 rounds as CTEs and hash-matches
    * bit-for-bit. Output: the unit loading vector with
    * per-dim corpus means, the Rayleigh eigenvalue, and its share of
    * total variance. */
  def qPcaTopComponent(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // 1e-6 quantization + exact integer sums: see the doc comment.
    // The count slot's constant 1.0 quantizes to 10⁶, so the (65,65)
    // moment is n·10¹² and every mean/second-moment ratio S_ij/S_nn
    // cancels the scale without a separate division.
    val ext = vecs(s, dir)
      .select(concat($"v", array(lit(1.0))).as("v"))
    val kq = ext.select(transform($"v",
      x => floor(x * lit(1e6) + lit(0.5)).cast("long")).as("k"))
    val e1 = kq.select($"k", posexplode($"k").as(Seq("i0", "ki")))
    val mom = e1
      .select($"i0", $"ki", posexplode($"k").as(Seq("j0", "kj")))
      .filter($"j0" >= $"i0")
      .groupBy(($"i0" + 1).as("i"), ($"j0" + 1).as("j"))
      .agg(sum(($"ki" * $"kj")
        .cast(org.apache.spark.sql.types.DecimalType(38, 0))).as("sxx"))
      .collect()
      .map(r => (r.getAs[Int]("i"), r.getAs[Int]("j")) ->
        r.getAs[java.math.BigDecimal]("sxx").doubleValue).toMap
    // Degenerate corpus: no vectors survive the nonzero-norm filter →
    // no moments → no components to report (empty frame, same schema).
    if (mom.isEmpty)
      return Seq.empty[(Long, Double, Double)]
        .toDF("dim", "loading", "mean_val")
        .withColumn("eigval", lit(0.0))
        .withColumn("var_share", lit(0.0))
    val nS = mom((Dim + 1, Dim + 1)) // n·10¹² — ratios cancel the scale
    // Every snap in this query is the explicit floor(x·10⁹ + 0.5)/10⁹
    // IEEE computation on BOTH engines, not rnd9/round() builtins —
    // round() builtins disagree at half-boundary doubles (the q221
    // lesson), and identical IEEE ops cannot diverge. The operands
    // are themselves identical because every corpus-scale sum above
    // is exact-integer (doc comment): a snap can only rescue floats
    // that already agree to within half a grid cell, which
    // order-dependent float sums do not guarantee.
    def s9(x: Double): Double = math.floor(x * 1e9 + 0.5) / 1e9
    val mu = Array.tabulate(Dim)(i => s9(mom((i + 1, Dim + 1)) / nS))
    // The iteration runs on the 1e-6 integer grid: covariance cells,
    // iterates, and every 64-term contraction (matvec, norm square,
    // Rayleigh numerator, trace) are exact long arithmetic — the
    // first sf0.01 run proved a snapped FLOAT matvec is not enough
    // (dim 50's round-8 iterate landed within summation noise of the
    // snap boundary and the engines' different GROUP BY orders
    // rounded it apart). The cell double cd is identical cross-engine
    // (exact moment ratios, snapped mu), so its floor is the same
    // long everywhere; magnitudes stay ≤ ~1e15 ≪ 2⁵³, so even the
    // final integer→double casts are exact.
    def snap6(x: Double): Long = math.floor(x * 1e6 + 0.5).toLong
    val cov6 = Array.tabulate(Dim, Dim) { (i, j) =>
      val (a, b) = (math.min(i, j) + 1, math.max(i, j) + 1)
      snap6(mom((a, b)) / nS - mu(i) * mu(j))
    }
    def matvec6(x6: Array[Long]): Array[Long] = Array.tabulate(Dim) { i =>
      var acc = 0L
      var j = 0
      while (j < Dim) { acc += cov6(i)(j) * x6(j); j += 1 }
      snap6(acc.toDouble / 1e12)
    }
    var v6 = Array.fill(Dim)(125000L) // 0.125 on the grid
    var it = 0
    while (it < PowerIters) {
      val w6 = matvec6(v6)
      var ss = 0L
      var j = 0
      while (j < Dim) { ss += w6(j) * w6(j); j += 1 }
      val nn = math.sqrt(ss.toDouble / 1e12)
      if (nn > 0) v6 = w6.map(w => snap6(w.toDouble / 1e6 / nn))
      it += 1
    }
    // Rayleigh value as v·(Cv) with the snapped matvec — one more
    // exact contraction instead of the 4096-term float sum vᵀCv.
    val u6 = matvec6(v6)
    var sl = 0L
    var si = 0
    while (si < Dim) { sl += v6(si) * u6(si); si += 1 }
    val lamd = sl.toDouble / 1e12
    var st = 0L
    si = 0
    while (si < Dim) { st += cov6(si)(si); si += 1 }
    val traced = st.toDouble / 1e6
    // All-constant dims ⇒ zero covariance ⇒ trace 0: the share of "no
    // variance" is 0, never 0/0 (and the zero-norm fallback above
    // already kept the uniform start vector, so every output stays
    // finite).
    val share = if (traced > 0) lamd / traced else 0.0
    // Presentation rounding is the explicit floor(x·10⁶ + 0.5)/10⁶
    // double computation on BOTH engines (the q221 lesson): round()
    // builtins disagree exactly at half-boundary doubles. Identical
    // IEEE ops cannot diverge. Loadings are already exact grid
    // multiples — emitted as v6/10⁶ directly.
    def r6(x: Double): Double = math.floor(x * 1e6 + 0.5) / 1e6
    (0 until Dim).map(k =>
      ((k + 1).toLong, v6(k).toDouble / 1e6, r6(mu(k))))
      .toDF("dim", "loading", "mean_val")
      .withColumn("eigval", lit(r6(lamd)))
      .withColumn("var_share", lit(r6(share)))
      .orderBy($"dim")
  }

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q289_pca_top" -> (qPcaTopComponent _),
    "q281_kmeanspar_init" -> (qKmeansParInit _),
    "q192_embed_health" -> (qEmbedHealth _),
    "q91_random_projection" -> (qRandomProjection _),
    "q126_hard_negatives" -> (qHardNegatives _),
    "q128_recall_eval" -> (qRecallEval _),
    "q134_multiprobe_lsh" -> (qMultiprobeLsh _),
    "q135_probe_cost" -> (qProbeCost _),
    "q40_cosine_topk" -> (qCosineTopk _),
    "q41_lsh_ann"     -> (qLshAnn _),
    "q143_band_index" -> (qBandIndexProbe _),
    "q321_mauve_proxy" -> (qMauveProxy _),
    "q42_ivf_ann"     -> (qIvfAnn _),
    "q42b_ivf_kmeans" -> (qIvfKmeans _),
    "q43_topk_agg"    -> (qTopkAggregate _),
    "q44_cluster_stats" -> (qClusterStats _),
    "q355_silhouette" -> (qSilhouette _),
    "q360_facility_location" -> (qFacilityLocation _),
    "q361_coreset_sample" -> (qCoresetSample _),
    "q235_shard_plan" -> (qShardPlan _),
    "q256_nprobe_sweep" -> (qNprobeSweep _),
    "q261_label_centroids" -> (qLabelCentroids _),
    "q262_knn_label_acc" -> (qKnnLabelAccuracy _),
    "q263_mmr_rerank" -> (qMmrRerank _),
    "q265_rank_metrics" -> (qRankMetrics _),
    "q86_semdedup"    -> (qSemDedup _),
    "q372_semdedup_keepers" -> (qSemdedupKeepers _),
    "q373_ann_frontier" -> (qAnnFrontier _),
    "q379_graph_ann" -> (qGraphAnn _),
    "q383_beam_sweep" -> (qBeamSweep _),
    "q384_graph_health" -> (qGraphHealth _),
    "q386_graph_at_rest" -> (qGraphAtRest _),
    "q387_dedup_agreement" -> (qDedupAgreement _),
    "q156_pq_encode"  -> (qPqEncode _),
    "q157_pq_adc"     -> (qPqAdc _),
    "q226_pq_rerank"  -> (qPqRerank _),
    "q161_ivfpq_ann"  -> (qIvfPq _),
  )

  /** DuckDB literal for a plane/anchor vector (Scala Double.toString
    * round-trips exactly, so both engines see bit-identical constants). */
  private def sqlVec(p: Array[Double]): String =
    p.mkString("[", ", ", "]")

  /** Shared base CTE: double-cast vectors with the same zero-magnitude
    * guard the Spark side applies in vecs(). */
  private val baseCte =
    """base AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings
      |  WHERE list_dot_product(embedding, embedding) > 0)""".stripMargin

  /** Parameterized band geometry for every banded-LSH replay (round-16
    * verdict #4): the replays used to embed the 16-plane/4-bit layout
    * literally, so above n ≈ 20 000 the declared oracle no longer
    * described what the engine computes. `bb` now derives b from a
    * count over `base` with the SAME integer rule as bandBits(n)
    * (Round17Spec pins the SQL CASE against the Scala rule across the
    * whole threshold lattice); the signature embeds all 60 planes with
    * every bit ≥ 4·b wrapped in a lazily-skipped CASE (DuckDB only
    * evaluates a taken branch, so at b = 4 exactly the original 16
    * dot products run); band extraction shifts by the DERIVED width.
    * At every oracle-checked scale b = 4 and the replay is
    * byte-identical to the old fixed spelling. */
  private[graft] def bandBitsCaseSql: String =
    (4 until 15).map(b => s"WHEN n <= ${BandTargetOcc << b} THEN $b")
      .mkString("CASE ", " ", " ELSE 15 END")

  private def bandCtes(bandCols: String): String = {
    val sigBits = (0 until 60).map { p =>
      val bit = s"(CASE WHEN list_dot_product(v, ${sqlVec(planes(p))})" +
        s" >= 0 THEN ${1L << p} ELSE 0 END)"
      if (p < 16) bit else s"(CASE WHEN 4 * b > $p THEN $bit ELSE 0 END)"
    }.mkString(" + ")
    s"""bb AS (
      |  SELECT $bandBitsCaseSql AS b
      |  FROM (SELECT CAST(count(*) AS BIGINT) AS n FROM base)),
      |sig AS (
      |  SELECT vec_id, v, ($sigBits) AS sig FROM base, bb),
      |banded AS (
      |  SELECT $bandCols, band_id,
      |    (sig >> (band_id * b)) & ((CAST(1 AS BIGINT) << b) - 1)
      |      AS band_val
      |  FROM sig, bb,
      |    (SELECT unnest([0, 1, 2, 3]) AS band_id) bands)""".stripMargin
  }

  private val exactTopkSql =
    s"""WITH $baseCte,
      |q AS (
      |  SELECT vec_id AS q_id, v AS qv FROM base WHERE vec_id % 100 = 0),
      |scored AS (
      |  SELECT q.q_id, e.vec_id,
      |    list_cosine_similarity(q.qv, e.v) AS cos
      |  FROM base e, q WHERE e.vec_id <> q.q_id),
      |ranked AS (
      |  SELECT *, row_number() OVER (PARTITION BY q_id
      |            ORDER BY cos DESC, vec_id ASC) AS rk FROM scored)
      |SELECT q_id, rk, vec_id, round(cos, 4) + 0.0 AS cos
      |FROM ranked WHERE rk <= 5 ORDER BY q_id, rk""".stripMargin

  /** q41's oracle replays the full LSH pipeline in SQL: the 16
    * hyperplanes are embedded as literals, so signatures, 4-bit band
    * buckets, candidate generation and the exact re-rank are all
    * DuckDB-reproducible — an apples-to-apples check of the ANN
    * semantics, not a rows-only count. */
  private def lshAnnSql: String = {
    s"""WITH $baseCte,
      |${bandCtes("vec_id, v")},
      |cand AS (
      |  SELECT DISTINCT q.vec_id AS q_id, c.vec_id
      |  FROM banded c JOIN banded q
      |    ON c.band_id = q.band_id AND c.band_val = q.band_val
      |  WHERE q.vec_id % 100 = 0 AND c.vec_id <> q.vec_id),
      |scored AS (
      |  SELECT cand.q_id, cand.vec_id,
      |    list_cosine_similarity(qv.v, cv.v) AS cos
      |  FROM cand JOIN base qv ON qv.vec_id = cand.q_id
      |            JOIN base cv ON cv.vec_id = cand.vec_id),
      |ranked AS (
      |  SELECT *, row_number() OVER (PARTITION BY q_id
      |            ORDER BY cos DESC, vec_id ASC) AS rk FROM scored)
      |SELECT q_id, rk, vec_id, round(cos, 4) + 0.0 AS cos
      |FROM ranked WHERE rk <= 5 ORDER BY q_id, rk""".stripMargin
  }

  /** q265's oracle: q41's LSH replay + exhaustive truth + the literal
    * ln2/IDCG discount fold. */
  private def rankMetricsSql: String = {
    val ln2 = 0.6931471805599453
    val idcg = (1 to 5).map(i => ln2 / math.log(i + 1.0)).sum
    s"""WITH $baseCte,
      |${bandCtes("vec_id, v")},
      |cand AS (
      |  SELECT DISTINCT q.vec_id AS q_id, c.vec_id
      |  FROM banded c JOIN banded q
      |    ON c.band_id = q.band_id AND c.band_val = q.band_val
      |  WHERE q.vec_id % 100 = 0 AND c.vec_id <> q.vec_id),
      |scored AS (
      |  SELECT cand.q_id, cand.vec_id,
      |    list_cosine_similarity(qv.v, cv.v) AS cos
      |  FROM cand JOIN base qv ON qv.vec_id = cand.q_id
      |            JOIN base cv ON cv.vec_id = cand.vec_id),
      |approx AS (
      |  SELECT q_id, rk, vec_id FROM (
      |    SELECT *, row_number() OVER (PARTITION BY q_id
      |      ORDER BY cos DESC, vec_id ASC) AS rk FROM scored)
      |  WHERE rk <= 5),
      |tscored AS (
      |  SELECT q.vec_id AS q_id, e.vec_id,
      |    list_cosine_similarity(q.v, e.v) AS cos
      |  FROM base q, base e
      |  WHERE q.vec_id % 100 = 0 AND e.vec_id <> q.vec_id),
      |truth AS (
      |  SELECT q_id, vec_id FROM (
      |    SELECT *, row_number() OVER (PARTITION BY q_id
      |      ORDER BY cos DESC, vec_id) AS rk FROM tscored)
      |  WHERE rk <= 5),
      |per AS (
      |  SELECT a.q_id,
      |    min(CASE WHEN t.vec_id IS NOT NULL THEN a.rk END)
      |      AS first_rel,
      |    sum(CASE WHEN t.vec_id IS NOT NULL
      |      THEN $ln2 / ln(a.rk + 1.0) ELSE 0.0 END) AS dcg
      |  FROM approx a
      |  LEFT JOIN truth t
      |    ON t.q_id = a.q_id AND t.vec_id = a.vec_id
      |  GROUP BY a.q_id),
      |spine AS (SELECT vec_id AS q_id FROM base WHERE vec_id % 100 = 0)
      |SELECT CAST(count(*) AS BIGINT) AS n_queries,
      |  round(avg(coalesce(1.0 / per.first_rel, 0.0)), 4) AS mrr,
      |  round(avg(coalesce(per.dcg / $idcg, 0.0)), 4) AS ndcg_at_5
      |FROM spine LEFT JOIN per ON per.q_id = spine.q_id""".stripMargin
  }

  /** q134's oracle: q41's replay with the query side fanned out to the
    * exact bucket plus four one-bit flips per band. */
  private def multiprobeLshSql: String = {
    s"""WITH $baseCte,
      |${bandCtes("vec_id, v")},
      |probes AS (
      |  SELECT vec_id, band_id,
      |    unnest([band_val, xor(band_val, 1), xor(band_val, 2),
      |            xor(band_val, 4), xor(band_val, 8)]) AS band_val
      |  FROM banded WHERE vec_id % 100 = 0),
      |cand AS (
      |  SELECT DISTINCT q.vec_id AS q_id, c.vec_id
      |  FROM banded c JOIN probes q
      |    ON c.band_id = q.band_id AND c.band_val = q.band_val
      |  WHERE c.vec_id <> q.vec_id),
      |scored AS (
      |  SELECT cand.q_id, cand.vec_id,
      |    list_cosine_similarity(qv.v, cv.v) AS cos
      |  FROM cand JOIN base qv ON qv.vec_id = cand.q_id
      |            JOIN base cv ON cv.vec_id = cand.vec_id),
      |ranked AS (
      |  SELECT *, row_number() OVER (PARTITION BY q_id
      |            ORDER BY cos DESC, vec_id ASC) AS rk FROM scored)
      |SELECT q_id, rk, vec_id, round(cos, 4) + 0.0 AS cos
      |FROM ranked WHERE rk <= 5 ORDER BY q_id, rk""".stripMargin
  }

  /** q135's oracle: both candidate CTEs counted, no vector math. */
  private def probeCostSql: String = {
    s"""WITH $baseCte,
      |${bandCtes("vec_id")},
      |qb AS (
      |  SELECT vec_id AS q_id, band_id, band_val
      |  FROM banded WHERE vec_id % 100 = 0),
      |qm AS (
      |  SELECT q_id, band_id,
      |    unnest([band_val, xor(band_val, 1), xor(band_val, 2),
      |            xor(band_val, 4), xor(band_val, 8)]) AS band_val
      |  FROM qb),
      |cb AS (
      |  SELECT q_id, count(*) AS n_base FROM (
      |    SELECT DISTINCT q.q_id, c.vec_id
      |    FROM banded c JOIN qb q
      |      ON c.band_id = q.band_id AND c.band_val = q.band_val
      |    WHERE c.vec_id <> q.q_id) GROUP BY q_id),
      |cm AS (
      |  SELECT q_id, count(*) AS n_multi FROM (
      |    SELECT DISTINCT q.q_id, c.vec_id
      |    FROM banded c JOIN qm q
      |      ON c.band_id = q.band_id AND c.band_val = q.band_val
      |    WHERE c.vec_id <> q.q_id) GROUP BY q_id),
      |ql AS (SELECT DISTINCT q_id FROM qb)
      |SELECT ql.q_id,
      |  coalesce(n_base, 0) AS n_base,
      |  coalesce(n_multi, 0) AS n_multi,
      |  CASE WHEN coalesce(n_base, 0) = 0 THEN -1.0
      |       ELSE round(n_multi / n_base, 4) END AS cost_ratio
      |FROM ql LEFT JOIN cb USING (q_id) LEFT JOIN cm USING (q_id)
      |ORDER BY ql.q_id""".stripMargin
  }

  /** q128's oracle composes the exact chain and the full LSH replay
    * (planes as literals) and joins them — recall is checked end to
    * end, not against a pinned expected table. */
  private def recallEvalSql: String = {
    s"""WITH $baseCte,
      |q AS (
      |  SELECT vec_id AS q_id, v AS qv FROM base WHERE vec_id % 100 = 0),
      |t_scored AS (
      |  SELECT q.q_id, e.vec_id, list_cosine_similarity(q.qv, e.v) AS cos
      |  FROM base e, q WHERE e.vec_id <> q.q_id),
      |t_ranked AS (
      |  SELECT *, row_number() OVER (PARTITION BY q_id
      |            ORDER BY cos DESC, vec_id ASC) AS rk FROM t_scored),
      |truth AS (SELECT q_id, vec_id FROM t_ranked WHERE rk <= 5),
      |${bandCtes("vec_id, v")},
      |cand AS (
      |  SELECT DISTINCT q.vec_id AS q_id, c.vec_id
      |  FROM banded c JOIN banded q
      |    ON c.band_id = q.band_id AND c.band_val = q.band_val
      |  WHERE q.vec_id % 100 = 0 AND c.vec_id <> q.vec_id),
      |a_scored AS (
      |  SELECT cand.q_id, cand.vec_id,
      |    list_cosine_similarity(qv.v, cv.v) AS cos
      |  FROM cand JOIN base qv ON qv.vec_id = cand.q_id
      |            JOIN base cv ON cv.vec_id = cand.vec_id),
      |a_ranked AS (
      |  SELECT *, row_number() OVER (PARTITION BY q_id
      |            ORDER BY cos DESC, vec_id ASC) AS rk FROM a_scored),
      |approx AS (SELECT q_id, vec_id FROM a_ranked WHERE rk <= 5),
      |hits AS (
      |  SELECT t.q_id, count(*) AS n_hit FROM truth t
      |  JOIN approx a ON t.q_id = a.q_id AND t.vec_id = a.vec_id
      |  GROUP BY t.q_id)
      |SELECT t.q_id, CAST(count(*) AS BIGINT) AS n_true,
      |  CAST(coalesce(any_value(n_hit), 0) AS BIGINT) AS n_hit,
      |  round(coalesce(any_value(n_hit), 0) / count(*), 4) AS recall
      |FROM truth t LEFT JOIN hits h ON t.q_id = h.q_id
      |GROUP BY t.q_id ORDER BY t.q_id""".stripMargin
  }

  /** q42's oracle replays IVF the same way: anchor dots as literal
    * vectors, cell ranking via a sorted struct list (ties to the lower
    * anchor index, matching the Spark array_sort on (-dot, idx)),
    * corpus in its argmax cell, queries probing their top-2 cells. */
  private def ivfAnnSql: String = {
    val dotCols = anchors.indices.map(i =>
      s"list_dot_product(v, ${sqlVec(anchors(i))}) AS d$i").mkString(",\n|    ")
    val structs = anchors.indices.map(i =>
      s"{'nd': -d$i, 'idx': $i}").mkString("[", ", ", "]")
    s"""WITH $baseCte,
      |dots AS (
      |  SELECT vec_id, v,
      |    $dotCols
      |  FROM base),
      |cells AS (
      |  SELECT vec_id, v,
      |    list_transform(list_sort($structs), r -> r.idx) AS cells
      |  FROM dots),
      |corpus AS (
      |  SELECT vec_id, v, cells[1] AS cell FROM cells),
      |queries AS (
      |  SELECT vec_id AS q_id, v AS qv, unnest(cells[1:2]) AS cell
      |  FROM cells WHERE vec_id % 100 = 0),
      |scored AS (
      |  SELECT DISTINCT q.q_id, c.vec_id,
      |    list_cosine_similarity(q.qv, c.v) AS cos
      |  FROM corpus c JOIN queries q USING (cell)
      |  WHERE c.vec_id <> q.q_id),
      |ranked AS (
      |  SELECT *, row_number() OVER (PARTITION BY q_id
      |            ORDER BY cos DESC, vec_id ASC) AS rk FROM scored)
      |SELECT q_id, rk, vec_id, round(cos, 4) + 0.0 AS cos
      |FROM ranked WHERE rk <= 5 ORDER BY q_id, rk""".stripMargin
  }

  /** q42b's oracle: the distributed Lloyd fit REPLAYED as unrolled CTEs
    * (like q92's pagerank iterations), then the same IVF probe as q42
    * but dotting against the fitted centroid TABLE c3 instead of
    * literal anchor columns. Per iteration i: a_i assigns each
    * normalized vector to its argmax-dot cell (ties to the lower cell,
    * matching the Spark sort on (-dot, idx)); m_i takes per-(cell, dim)
    * means snapped to the 1e-9 grid (see rnd9 — the one
    * accumulation-order-sensitive op); g_i rebuilds the mean list in
    * dim order with its j-order norm; c_i normalizes onto the same
    * grid, keeping the previous centroid for empty/zero-norm cells. */
  private def ivfKmeansSql: String = {
    val iters = (1 to LloydIters).map { i =>
      s"""a$i AS (
         |  SELECT vec_id, nv, cell,
         |    row_number() OVER (PARTITION BY vec_id
         |                       ORDER BY d DESC, cell ASC) AS rk
         |  FROM (SELECT b.vec_id, b.nv, s.cell,
         |          list_dot_product(b.nv, s.c) AS d
         |        FROM nbase b, c${i - 1} s)),
         |m$i AS (
         |  SELECT cell, i, round(avg(nv[i]), 9) AS m
         |  FROM (SELECT cell, nv, unnest(range(1, ${Dim + 1})) AS i
         |        FROM a$i WHERE rk = 1)
         |  GROUP BY cell, i),
         |g$i AS (
         |  SELECT cell, list(m ORDER BY i) AS ml,
         |    sqrt(list_dot_product(list(m ORDER BY i),
         |                          list(m ORDER BY i))) AS nrm
         |  FROM m$i GROUP BY cell),
         |c$i AS (
         |  SELECT p.cell,
         |    CASE WHEN g.cell IS NOT NULL AND g.nrm > 0
         |         THEN list_transform(g.ml, x -> round(x / g.nrm, 9))
         |         ELSE p.c END AS c
         |  FROM c${i - 1} p LEFT JOIN g$i g USING (cell))""".stripMargin
    }.mkString(",\n")
    s"""WITH $baseCte,
      |nbase AS (
      |  SELECT vec_id,
      |    list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS nv
      |  FROM base),
      |ser AS (
      |  SELECT min(vec_id) AS lo, max(vec_id) AS hi FROM base),
      |sb AS (
      |  SELECT vec_id,
      |    ((vec_id - ser.lo) * $LloydK + ${LloydK - 1})
      |      // (ser.hi - ser.lo + 1) AS bkt
      |  FROM nbase, ser),
      |sm AS (SELECT bkt, min(vec_id) AS vid FROM sb GROUP BY bkt),
      |c0 AS (
      |  SELECT row_number() OVER (ORDER BY n.vec_id) - 1 AS cell, n.nv AS c
      |  FROM nbase n JOIN sm ON n.vec_id = sm.vid),
      |$iters,
      |fdots AS (
      |  SELECT b.vec_id, b.v, s.cell, list_dot_product(b.v, s.c) AS d
      |  FROM base b, c$LloydIters s),
      |fcells AS (
      |  SELECT vec_id, v, cell,
      |    row_number() OVER (PARTITION BY vec_id
      |                       ORDER BY d DESC, cell ASC) AS rk
      |  FROM fdots),
      |corpus AS (
      |  SELECT vec_id, v, cell FROM fcells WHERE rk = 1),
      |queries AS (
      |  SELECT vec_id AS q_id, v AS qv, cell
      |  FROM fcells WHERE vec_id % 100 = 0 AND rk <= 2),
      |scored AS (
      |  SELECT DISTINCT q.q_id, c.vec_id,
      |    list_cosine_similarity(q.qv, c.v) AS cos
      |  FROM corpus c JOIN queries q USING (cell)
      |  WHERE c.vec_id <> q.q_id),
      |ranked AS (
      |  SELECT *, row_number() OVER (PARTITION BY q_id
      |            ORDER BY cos DESC, vec_id ASC) AS rk FROM scored)
      |SELECT q_id, rk, vec_id, round(cos, 4) + 0.0 AS cos
      |FROM ranked WHERE rk <= 5 ORDER BY q_id, rk""".stripMargin
  }

  /** q86's oracle: literal-anchor argmax assignment, then intra-cell
    * pairwise cosine pruning — the direct SQL restatement. */
  private def semDedupSql: String = {
    val dotCols = anchors.indices.map(i =>
      s"list_dot_product(v, ${sqlVec(anchors(i))}) AS d$i").mkString(",\n|    ")
    val structs = anchors.indices.map(i =>
      s"{'nd': -d$i, 'idx': $i}").mkString("[", ", ", "]")
    s"""WITH $baseCte,
      |dots AS (
      |  SELECT vec_id, v,
      |    $dotCols
      |  FROM base),
      |assigned AS (
      |  SELECT vec_id, v,
      |    list_sort($structs)[1].idx AS cell
      |  FROM dots),
      |dups AS (
      |  SELECT x.vec_id, min(y.vec_id) AS dup_of
      |  FROM assigned x JOIN assigned y USING (cell)
      |  WHERE y.vec_id < x.vec_id
      |    AND list_cosine_similarity(x.v, y.v) >= 0.3
      |  GROUP BY x.vec_id)
      |SELECT a.vec_id, a.cell, (d.dup_of IS NULL) AS keep,
      |  coalesce(d.dup_of, -1) AS dup_of
      |FROM assigned a LEFT JOIN dups d ON a.vec_id = d.vec_id
      |ORDER BY a.vec_id""".stripMargin
  }

  /** q372's oracle: q86's dup frame, then the keeper-policy compare —
    * longest-doc argmax via the same (n_chars desc, vec_id asc)
    * row_number tie rule. */
  private def keepersSql: String = {
    val dotCols = anchors.indices.map(i =>
      s"list_dot_product(v, ${sqlVec(anchors(i))}) AS d$i").mkString(",\n|    ")
    val structs = anchors.indices.map(i =>
      s"{'nd': -d$i, 'idx': $i}").mkString("[", ", ", "]")
    s"""WITH $baseCte,
      |dots AS (
      |  SELECT vec_id, v,
      |    $dotCols
      |  FROM base),
      |assigned AS (
      |  SELECT vec_id, v,
      |    list_sort($structs)[1].idx AS cell
      |  FROM dots),
      |dups AS (
      |  SELECT x.vec_id, min(y.vec_id) AS g
      |  FROM assigned x JOIN assigned y USING (cell)
      |  WHERE y.vec_id < x.vec_id
      |    AND list_cosine_similarity(x.v, y.v) >= 0.3
      |  GROUP BY x.vec_id),
      |members AS (
      |  SELECT g, vec_id FROM dups
      |  UNION ALL
      |  SELECT g, g AS vec_id FROM (SELECT DISTINCT g FROM dups)),
      |ranked AS (
      |  SELECT m.g, m.vec_id, d.n_chars,
      |    row_number() OVER (PARTITION BY m.g
      |      ORDER BY d.n_chars DESC, m.vec_id) AS rk
      |  FROM members m JOIN documents d ON d.doc_id = m.vec_id),
      |pick AS (
      |  SELECT g, vec_id AS keep_long, n_chars AS long_chars
      |  FROM ranked WHERE rk = 1)
      |SELECT CAST(count(*) AS BIGINT) AS n_groups,
      |  CAST(coalesce(sum(CASE WHEN p.keep_long <> p.g THEN 1 ELSE 0
      |    END), 0) AS BIGINT) AS n_moved,
      |  CAST(coalesce(sum(d.n_chars), 0) AS BIGINT) AS minid_chars,
      |  CAST(coalesce(sum(p.long_chars), 0) AS BIGINT)
      |    AS longest_chars,
      |  round(CAST(coalesce(sum(p.long_chars), 0)
      |      - coalesce(sum(d.n_chars), 0) AS DOUBLE)
      |    / nullif(count(*), 0), 4) + 0.0 AS mean_gain_chars
      |FROM pick p JOIN documents d ON d.doc_id = p.g""".stripMargin
  }

  /** q373's oracle: the full frontier replayed — LSH sig/band/cand
    * (q41's literals), multiprobe fan-out (q134's), IVF 2-probe
    * (q256's), exhaustive truth, and the identical floor-grid ratio
    * folds over the full query spine. */
  /** Graph-ANN CTE chain (assumes `base` and `banded` are in scope):
    * neighbor-graph build (gedges), min-id entries (gseeds), the
    * unrolled GraphHops beam rounds (gvis0..gvisH / gbeam0..gbeamH),
    * and the final per-query top-5 (gtop) — the LITERAL replay of
    * buildGraphEdges + graphBeamParts, same constants, same
    * (cos DESC, vec_id) tie rule at every prune. */
  private def graphCtes: String = {
    val sb = new StringBuilder
    sb.append(
      s"""gcand AS (
        |  SELECT DISTINCT c.vec_id AS src, d.vec_id AS dst
        |  FROM banded c JOIN banded d
        |    ON c.band_id = d.band_id AND c.band_val = d.band_val
        |  WHERE d.vec_id <> c.vec_id),
        |gsc AS (
        |  SELECT g.src, g.dst, list_cosine_similarity(a.v, b.v) AS cos
        |  FROM gcand g JOIN base a ON a.vec_id = g.src
        |               JOIN base b ON b.vec_id = g.dst),
        |gout AS (
        |  SELECT src, dst FROM (
        |    SELECT *, row_number() OVER (PARTITION BY src
        |      ORDER BY cos DESC, dst ASC) AS rk FROM gsc)
        |  WHERE rk <= $GraphDeg),
        |gedges AS (
        |  SELECT DISTINCT src, dst FROM (
        |    SELECT src, dst FROM gout
        |    UNION ALL SELECT dst, src FROM gout)),
        |gseeds AS (
        |  SELECT DISTINCT q_id, vec_id FROM (
        |    SELECT q.vec_id AS q_id, q.band_id, min(c.vec_id) AS vec_id
        |    FROM banded q JOIN banded c
        |      ON c.band_id = q.band_id AND c.band_val = q.band_val
        |    WHERE q.vec_id % 100 = 0 AND c.vec_id <> q.vec_id
        |    GROUP BY q.vec_id, q.band_id)),
        |gvis0 AS (
        |  SELECT s.q_id, s.vec_id,
        |    list_cosine_similarity(a.v, b.v) AS cos
        |  FROM gseeds s JOIN base a ON a.vec_id = s.q_id
        |                JOIN base b ON b.vec_id = s.vec_id),
        |gbeam0 AS (
        |  SELECT q_id, vec_id, cos FROM (
        |    SELECT *, row_number() OVER (PARTITION BY q_id
        |      ORDER BY cos DESC, vec_id ASC) AS rk FROM gvis0)
        |  WHERE rk <= $GraphBeam)""".stripMargin)
    for (k <- 1 to GraphHops) {
      sb.append(s""",
        |gnb$k AS (
        |  SELECT DISTINCT b.q_id, e.dst AS vec_id
        |  FROM gbeam${k - 1} b JOIN gedges e ON e.src = b.vec_id
        |  WHERE e.dst <> b.q_id),
        |gsc$k AS (
        |  SELECT n.q_id, n.vec_id,
        |    list_cosine_similarity(a.v, b.v) AS cos
        |  FROM gnb$k n JOIN base a ON a.vec_id = n.q_id
        |               JOIN base b ON b.vec_id = n.vec_id),
        |gvis$k AS (
        |  SELECT DISTINCT q_id, vec_id, cos FROM (
        |    SELECT q_id, vec_id, cos FROM gvis${k - 1}
        |    UNION ALL SELECT q_id, vec_id, cos FROM gsc$k)),
        |gbeam$k AS (
        |  SELECT q_id, vec_id, cos FROM (
        |    SELECT *, row_number() OVER (PARTITION BY q_id
        |      ORDER BY cos DESC, vec_id ASC) AS rk FROM gvis$k)
        |  WHERE rk <= $GraphBeam)""".stripMargin)
    }
    sb.append(s""",
      |gtop AS (
      |  SELECT q_id, rk, vec_id, cos FROM (
      |    SELECT *, row_number() OVER (PARTITION BY q_id
      |      ORDER BY cos DESC, vec_id ASC) AS rk
      |    FROM gvis$GraphHops)
      |  WHERE rk <= 5)""".stripMargin)
    sb.toString
  }

  /** q383's oracle: the graph replay plus exhaustive truth, recall
    * and candidate volume read at EVERY hop state gvis0..gvisH. */
  private def beamSweepSql: String = {
    val perHopTops = (0 to GraphHops).map { k =>
      s"""gt$k AS (
        |  SELECT q_id, vec_id FROM (
        |    SELECT *, row_number() OVER (PARTITION BY q_id
        |      ORDER BY cos DESC, vec_id ASC) AS rk FROM gvis$k)
        |  WHERE rk <= 5)""".stripMargin
    }.mkString(",\n")
    val hopRows = (0 to GraphHops).map { k =>
      s"""SELECT CAST($k AS BIGINT) AS hops, nq AS n_queries,
        |  coalesce(floor((SELECT count(*) FROM gvis$k)
        |    / CAST(nullif(nq, 0) AS DOUBLE) * 1e4 + 0.5) / 1e4, 0.0)
        |    AS mean_cand,
        |  coalesce(floor((SELECT count(*) FROM truth t
        |      JOIN gt$k a ON a.q_id = t.q_id AND a.vec_id = t.vec_id)
        |    / (5.0 * nullif(nq, 0)) * 1e4 + 0.5) / 1e4, 0.0)
        |    AS recall_at5
        |FROM stats""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH $baseCte,
      |stats AS (
      |  SELECT CAST(sum(CASE WHEN vec_id % 100 = 0 THEN 1 ELSE 0 END)
      |    AS BIGINT) AS nq FROM base),
      |${bandCtes("vec_id, v")},
      |$graphCtes,
      |tscored AS (
      |  SELECT q.vec_id AS q_id, e.vec_id,
      |    list_cosine_similarity(q.v, e.v) AS cos
      |  FROM base q, base e
      |  WHERE q.vec_id % 100 = 0 AND e.vec_id <> q.vec_id),
      |truth AS (
      |  SELECT q_id, vec_id FROM (
      |    SELECT *, row_number() OVER (PARTITION BY q_id
      |      ORDER BY cos DESC, vec_id) AS rk FROM tscored)
      |  WHERE rk <= 5),
      |$perHopTops
      |SELECT * FROM ($hopRows) ORDER BY hops""".stripMargin
  }

  /** q384's oracle: the graph build replayed, then the degree
    * histogram / cumsum arithmetic verbatim. */
  private def graphHealthSql: String = {
    s"""WITH $baseCte,
      |${bandCtes("vec_id, v")},
      |$graphCtes,
      |deg AS (
      |  SELECT b.vec_id, coalesce(d.deg, 0) AS deg
      |  FROM base b LEFT JOIN (
      |    SELECT src, CAST(count(*) AS BIGINT) AS deg
      |    FROM gedges GROUP BY src) d ON d.src = b.vec_id),
      |hist AS (
      |  SELECT deg, CAST(count(*) AS BIGINT) AS c
      |  FROM deg GROUP BY deg),
      |tot AS (
      |  SELECT CAST(sum(c) AS BIGINT) AS n_nodes,
      |    CAST(sum(deg * c) AS BIGINT) AS n_edges,
      |    CAST(coalesce(sum(CASE WHEN deg = 0 THEN c END), 0)
      |      AS BIGINT) AS n_isolated,
      |    max(deg) AS max_degree
      |  FROM hist),
      |cum AS (SELECT deg, sum(c) OVER (ORDER BY deg) AS cum FROM hist)
      |SELECT n_nodes, n_edges, n_isolated,
      |  round(CAST(n_edges AS DOUBLE) / nullif(n_nodes, 0), 4) + 0.0
      |    AS mean_degree,
      |  (SELECT min(deg) FROM cum CROSS JOIN tot
      |     WHERE 2 * cum >= n_nodes) AS p50_degree,
      |  max_degree
      |FROM tot""".stripMargin
  }

  /** q379's oracle: the graph build + beam search replayed literally. */
  private def graphAnnSql: String = {
    s"""WITH $baseCte,
      |${bandCtes("vec_id, v")},
      |$graphCtes
      |SELECT q_id, rk, vec_id, round(cos, 4) + 0.0 AS cos
      |FROM gtop ORDER BY q_id, rk""".stripMargin
  }

  private def annFrontierSql: String = {
    val dotCols = anchors.indices.map(i =>
      s"list_dot_product(v, ${sqlVec(anchors(i))}) AS d$i").mkString(",\n|    ")
    val structs = anchors.indices.map(i =>
      s"{'nd': -d$i, 'idx': $i}").mkString("[", ", ", "]")
    def mc(total: String) =
      s"coalesce(floor($total / CAST(nullif(nq, 0) AS DOUBLE) " +
        "* 1e4 + 0.5) / 1e4, 0.0)"
    def rec(hits: String) =
      s"coalesce(floor($hits / (5.0 * nullif(nq, 0)) " +
        "* 1e4 + 0.5) / 1e4, 0.0)"
    s"""WITH $baseCte,
      |stats AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(CASE WHEN vec_id % 100 = 0 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS nq
      |  FROM base),
      |tscored AS (
      |  SELECT q.vec_id AS q_id, e.vec_id,
      |    list_cosine_similarity(q.v, e.v) AS cos
      |  FROM base q, base e
      |  WHERE q.vec_id % 100 = 0 AND e.vec_id <> q.vec_id),
      |truth AS (
      |  SELECT q_id, vec_id FROM (
      |    SELECT *, row_number() OVER (PARTITION BY q_id
      |      ORDER BY cos DESC, vec_id) AS rk FROM tscored)
      |  WHERE rk <= 5),
      |${bandCtes("vec_id, v")},
      |$graphCtes,
      |cand AS (
      |  SELECT DISTINCT q.vec_id AS q_id, c.vec_id
      |  FROM banded c JOIN banded q
      |    ON c.band_id = q.band_id AND c.band_val = q.band_val
      |  WHERE q.vec_id % 100 = 0 AND c.vec_id <> q.vec_id),
      |lscored AS (
      |  SELECT cand.q_id, cand.vec_id,
      |    list_cosine_similarity(qv.v, cv.v) AS cos
      |  FROM cand JOIN base qv ON qv.vec_id = cand.q_id
      |            JOIN base cv ON cv.vec_id = cand.vec_id),
      |ltop AS (
      |  SELECT q_id, vec_id FROM (
      |    SELECT *, row_number() OVER (PARTITION BY q_id
      |      ORDER BY cos DESC, vec_id ASC) AS rk FROM lscored)
      |  WHERE rk <= 5),
      |probes AS (
      |  SELECT vec_id, band_id,
      |    unnest([band_val, xor(band_val, 1), xor(band_val, 2),
      |            xor(band_val, 4), xor(band_val, 8)]) AS band_val
      |  FROM banded WHERE vec_id % 100 = 0),
      |candm AS (
      |  SELECT DISTINCT q.vec_id AS q_id, c.vec_id
      |  FROM banded c JOIN probes q
      |    ON c.band_id = q.band_id AND c.band_val = q.band_val
      |  WHERE c.vec_id <> q.vec_id),
      |mscored AS (
      |  SELECT candm.q_id, candm.vec_id,
      |    list_cosine_similarity(qv.v, cv.v) AS cos
      |  FROM candm JOIN base qv ON qv.vec_id = candm.q_id
      |             JOIN base cv ON cv.vec_id = candm.vec_id),
      |mtop AS (
      |  SELECT q_id, vec_id FROM (
      |    SELECT *, row_number() OVER (PARTITION BY q_id
      |      ORDER BY cos DESC, vec_id ASC) AS rk FROM mscored)
      |  WHERE rk <= 5),
      |dots AS (
      |  SELECT vec_id, v,
      |    $dotCols
      |  FROM base),
      |cells AS (
      |  SELECT vec_id, v,
      |    list_transform(list_sort($structs), r -> r.idx) AS cells
      |  FROM dots),
      |corpus AS (SELECT vec_id, v, cells[1] AS cell FROM cells),
      |qc AS (
      |  SELECT vec_id AS q_id, v AS qv, unnest(cells[1:2]) AS cell
      |  FROM cells WHERE vec_id % 100 = 0),
      |iscored AS (
      |  SELECT s.q_id, c.vec_id,
      |    list_cosine_similarity(s.qv, c.v) AS cos
      |  FROM corpus c JOIN qc s USING (cell)
      |  WHERE c.vec_id <> s.q_id),
      |itop AS (
      |  SELECT q_id, vec_id FROM (
      |    SELECT *, row_number() OVER (PARTITION BY q_id
      |      ORDER BY cos DESC, vec_id) AS rk FROM iscored)
      |  WHERE rk <= 5),
      |counts AS (
      |  SELECT
      |    (SELECT CAST(count(*) AS BIGINT) FROM cand) AS lsh_cand,
      |    (SELECT CAST(count(*) AS BIGINT) FROM candm) AS multi_cand,
      |    (SELECT CAST(count(*) AS BIGINT) FROM (
      |       SELECT c.vec_id FROM corpus c JOIN qc USING (cell)))
      |      - (SELECT nq FROM stats) AS ivf_cand,
      |    (SELECT CAST(count(*) AS BIGINT) FROM truth) AS truth_rows,
      |    (SELECT CAST(count(*) AS BIGINT) FROM truth t
      |       JOIN ltop a ON a.q_id = t.q_id AND a.vec_id = t.vec_id)
      |      AS lsh_hits,
      |    (SELECT CAST(count(*) AS BIGINT) FROM truth t
      |       JOIN mtop a ON a.q_id = t.q_id AND a.vec_id = t.vec_id)
      |      AS multi_hits,
      |    (SELECT CAST(count(*) AS BIGINT) FROM truth t
      |       JOIN itop a ON a.q_id = t.q_id AND a.vec_id = t.vec_id)
      |      AS ivf_hits,
      |    (SELECT CAST(count(*) AS BIGINT) FROM gedges) AS graph_edges,
      |    (SELECT CAST(count(*) AS BIGINT) FROM gvis$GraphHops)
      |      AS graph_cand,
      |    (SELECT CAST(count(*) AS BIGINT) FROM truth t
      |       JOIN gtop a ON a.q_id = t.q_id AND a.vec_id = t.vec_id)
      |      AS graph_hits)
      |SELECT method, index_rows, mean_candidates, recall_at5
      |FROM (
      |  SELECT 'brute' AS method, n AS index_rows,
      |    ${mc("(greatest(n - 1, 0) * nq)")} AS mean_candidates,
      |    ${rec("truth_rows")} AS recall_at5
      |  FROM stats CROSS JOIN counts
      |  UNION ALL
      |  SELECT 'graph_beam', graph_edges, ${mc("graph_cand")},
      |    ${rec("graph_hits")}
      |  FROM stats CROSS JOIN counts
      |  UNION ALL
      |  SELECT 'ivf_p2', n, ${mc("greatest(ivf_cand, 0)")},
      |    ${rec("ivf_hits")}
      |  FROM stats CROSS JOIN counts
      |  UNION ALL
      |  SELECT 'lsh', 4 * n, ${mc("lsh_cand")}, ${rec("lsh_hits")}
      |  FROM stats CROSS JOIN counts
      |  UNION ALL
      |  SELECT 'lsh_multiprobe', 4 * n, ${mc("multi_cand")},
      |    ${rec("multi_hits")}
      |  FROM stats CROSS JOIN counts)
      |ORDER BY method""".stripMargin
  }

  /** q235's oracle: q44's literal-anchor argmax assignment, rolled to
    * the shard-capacity arithmetic. */
  private def shardPlanSql: String = {
    val dotCols = anchors.indices.map(i =>
      s"list_dot_product(v, ${sqlVec(anchors(i))}) AS d$i").mkString(",\n|    ")
    val structs = anchors.indices.map(i =>
      s"{'nd': -d$i, 'idx': $i}").mkString("[", ", ", "]")
    s"""WITH $baseCte,
      |dots AS (
      |  SELECT vec_id, v,
      |    $dotCols
      |  FROM base),
      |assigned AS (
      |  SELECT vec_id, list_sort($structs)[1].idx AS cell FROM dots),
      |cells AS (
      |  SELECT cell, CAST(count(*) AS BIGINT) AS n
      |  FROM assigned GROUP BY cell),
      |tot AS (SELECT CAST(sum(n) AS DOUBLE) AS n_total FROM cells)
      |SELECT cell, n, (n + 49) // 50 AS n_shards,
      |  round(CAST(n AS DOUBLE) / ((n + 49) // 50), 4) AS mean_fill,
      |  round(n / n_total, 4) AS corpus_share
      |FROM cells CROSS JOIN tot ORDER BY cell""".stripMargin
  }

  /** q256's oracle: the full nprobe sweep replayed with literal
    * anchors — assignment, per-p candidate sets, exhaustive truth,
    * and the exact-integer recall fold. */
  private def nprobeSweepSql: String = {
    val dotCols = anchors.indices.map(i =>
      s"list_dot_product(v, ${sqlVec(anchors(i))}) AS d$i").mkString(",\n|    ")
    val structs = anchors.indices.map(i =>
      s"{'nd': -d$i, 'idx': $i}").mkString("[", ", ", "]")
    val sweepSel = (1 to 4).map(p =>
      s"""SELECT $p AS nprobe, vec_id AS q_id, v AS qv,
         |    unnest(cells[1:$p]) AS cell
         |  FROM cells WHERE vec_id % 100 = 0""".stripMargin)
      .mkString("\n|  UNION ALL ")
    s"""WITH $baseCte,
      |dots AS (
      |  SELECT vec_id, v,
      |    $dotCols
      |  FROM base),
      |cells AS (
      |  SELECT vec_id, v,
      |    list_transform(list_sort($structs), r -> r.idx) AS cells
      |  FROM dots),
      |corpus AS (SELECT vec_id, v, cells[1] AS cell FROM cells),
      |sweeps AS (
      |  $sweepSel),
      |scored AS (
      |  SELECT s.nprobe, s.q_id, c.vec_id,
      |    list_cosine_similarity(s.qv, c.v) AS cos
      |  FROM corpus c JOIN sweeps s USING (cell)
      |  WHERE c.vec_id <> s.q_id),
      |ncand AS (
      |  SELECT nprobe, q_id, CAST(count(*) AS BIGINT) AS n_cand
      |  FROM scored GROUP BY 1, 2),
      |atop AS (
      |  SELECT nprobe, q_id, vec_id FROM (
      |    SELECT *, row_number() OVER (PARTITION BY nprobe, q_id
      |      ORDER BY cos DESC, vec_id) AS rk FROM scored)
      |  WHERE rk <= 5),
      |tscored AS (
      |  SELECT q.vec_id AS q_id, e.vec_id,
      |    list_cosine_similarity(q.v, e.v) AS cos
      |  FROM cells q, cells e
      |  WHERE q.vec_id % 100 = 0 AND e.vec_id <> q.vec_id),
      |truth AS (
      |  SELECT q_id, vec_id FROM (
      |    SELECT *, row_number() OVER (PARTITION BY q_id
      |      ORDER BY cos DESC, vec_id) AS rk FROM tscored)
      |  WHERE rk <= 5),
      |hits AS (
      |  SELECT a.nprobe, a.q_id, CAST(count(*) AS BIGINT) AS n_hits
      |  FROM atop a JOIN truth t
      |    ON a.q_id = t.q_id AND a.vec_id = t.vec_id
      |  GROUP BY 1, 2),
      |per AS (
      |  SELECT n.nprobe, n.q_id, n.n_cand,
      |    coalesce(h.n_hits, 0) AS n_hits
      |  FROM ncand n LEFT JOIN hits h
      |    ON h.nprobe = n.nprobe AND h.q_id = n.q_id)
      |SELECT nprobe, CAST(count(*) AS BIGINT) AS n_queries,
      |  round(sum(n_cand) / CAST(count(*) AS DOUBLE), 4) AS mean_cand,
      |  round(sum(n_hits) / (CAST(count(*) AS DOUBLE) * 5), 4)
      |    AS recall_at_5
      |FROM per GROUP BY nprobe ORDER BY nprobe""".stripMargin
  }

  /** q263's oracle: q40's exact top-10 + the greedy MMR selection
    * unrolled as 4 argmax CTE steps on the same 1e-6 score grid. */
  private def mmrRerankSql: String = {
    val steps = (2 to 5).map { k =>
      s"""cand$k AS (
        |  SELECT t.q_id, t.vec_id, t.cos,
        |    round(0.7 * t.cos - 0.3 * max(cc.sim), 6) AS sc
        |  FROM top10 t
        |  JOIN cc ON cc.q_id = t.q_id AND cc.va = t.vec_id
        |  JOIN selall${k - 1} s
        |    ON s.q_id = cc.q_id AND s.vec_id = cc.vb
        |  WHERE NOT EXISTS (SELECT 1 FROM selall${k - 1} z
        |    WHERE z.q_id = t.q_id AND z.vec_id = t.vec_id)
        |  GROUP BY t.q_id, t.vec_id, t.cos),
        |sel$k AS (
        |  SELECT q_id, vec_id, cos, sc, $k AS rk FROM (
        |    SELECT *, row_number() OVER (PARTITION BY q_id
        |      ORDER BY sc DESC, vec_id) AS rn FROM cand$k)
        |  WHERE rn = 1),
        |selall$k AS (
        |  SELECT q_id, vec_id FROM selall${k - 1}
        |  UNION ALL SELECT q_id, vec_id FROM sel$k)""".stripMargin
    }.mkString(",\n")
    val unions = (1 to 5).map(k =>
      s"SELECT q_id, vec_id, cos, sc, rk FROM sel$k")
      .mkString("\n|  UNION ALL ")
    s"""WITH $baseCte,
      |tscored AS (
      |  SELECT q.vec_id AS q_id, e.vec_id,
      |    list_cosine_similarity(q.v, e.v) AS cos
      |  FROM base q, base e
      |  WHERE q.vec_id % 100 = 0 AND e.vec_id <> q.vec_id),
      |top10 AS (
      |  SELECT q_id, vec_id, cos FROM (
      |    SELECT *, row_number() OVER (PARTITION BY q_id
      |      ORDER BY cos DESC, vec_id) AS rk0 FROM tscored)
      |  WHERE rk0 <= 10),
      |cc AS (
      |  SELECT x.q_id, x.vec_id AS va, y.vec_id AS vb,
      |    list_cosine_similarity(bx.v, by.v) AS sim
      |  FROM top10 x
      |  JOIN top10 y ON x.q_id = y.q_id AND x.vec_id <> y.vec_id
      |  JOIN base bx ON bx.vec_id = x.vec_id
      |  JOIN base by ON by.vec_id = y.vec_id),
      |sel1 AS (
      |  SELECT q_id, vec_id, cos, round(0.7 * cos, 6) AS sc, 1 AS rk
      |  FROM (
      |    SELECT *, row_number() OVER (PARTITION BY q_id
      |      ORDER BY round(0.7 * cos, 6) DESC, vec_id) AS rn
      |    FROM top10)
      |  WHERE rn = 1),
      |selall1 AS (SELECT q_id, vec_id FROM sel1),
      |$steps,
      |allsel AS (
      |  $unions)
      |SELECT q_id, CAST(rk AS INTEGER) AS rk, vec_id,
      |  round(cos, 4) + 0.0 AS cos, round(sc, 4) + 0.0 AS mmr
      |FROM allsel ORDER BY q_id, rk""".stripMargin
  }

  /** q44's oracle: same literal-anchor argmax as q42's, aggregated. */
  /** q360's oracle: the greedy rounds unrolled — per round a gains
    * aggregate (exact micro-long sums), a 1-row argmax, the best-sim
    * column update, and the coverage read-out; pool shrinks via
    * NOT IN. Round r's row vanishes with its pick (empty-corpus and
    * exhausted-pool rounds publish nothing, like the engine). */
  private def facilityLocationSql: String = {
    val dotCols = anchors.indices.map(i =>
      s"list_dot_product(v, ${sqlVec(anchors(i))}) AS d$i").mkString(",\n|    ")
    val structs = anchors.indices.map(i =>
      s"{'nd': -d$i, 'idx': $i}").mkString("[", ", ", "]")
    def smq(nv: String, cnv: String): String =
      s"CAST(floor(greatest(list_dot_product($nv, $cnv), 0.0) * 1e6" +
        s" + 0.5) AS BIGINT)"
    val rounds = (1 to FlK).map { r =>
      val pool = if (r == 1) "reps"
        else s"(SELECT * FROM reps WHERE cand_id NOT IN (" +
          (1 until r).map(i => s"SELECT cand_id FROM p$i")
            .mkString(" UNION ALL ") + "))"
      s"""g$r AS (
        |  SELECT p.cand_id,
        |    sum(greatest(${smq("c.nv", "p.cnv")} - c.best, 0)) AS gain
        |  FROM c${r - 1} c CROSS JOIN $pool p
        |  GROUP BY p.cand_id),
        |p$r AS (
        |  SELECT cand_id, gain, cnv FROM (
        |    SELECT g.cand_id, g.gain, r2.cnv,
        |      row_number() OVER (ORDER BY g.gain DESC, g.cand_id)
        |        AS rk
        |    FROM g$r g JOIN reps r2 USING (cand_id)) WHERE rk = 1),
        |c$r AS (
        |  SELECT c.vec_id, c.nv,
        |    greatest(c.best, ${smq("c.nv", "p.cnv")}) AS best
        |  FROM c${r - 1} c CROSS JOIN p$r p),
        |cov$r AS (
        |  SELECT sum(best) AS covsum, count(*) AS nvec FROM c$r),
        |row$r AS (
        |  SELECT CAST($r AS BIGINT) AS round, cand_id,
        |    gain / 1e6 AS gain,
        |    round(CAST(covsum AS DOUBLE) / nullif(nvec, 0) / 1e6, 4)
        |      + 0.0 AS mean_coverage
        |  FROM p$r CROSS JOIN cov$r)""".stripMargin
    }.mkString(",\n")
    s"""WITH $baseCte,
      |dots AS (
      |  SELECT vec_id, v,
      |    $dotCols
      |  FROM base),
      |wc AS (
      |  SELECT vec_id,
      |    list_transform(v, x ->
      |      x / sqrt(list_dot_product(v, v))) AS nv,
      |    list_sort($structs)[1].idx AS cell
      |  FROM dots),
      |reps AS (
      |  SELECT r.cand_id, w.nv AS cnv
      |  FROM (SELECT cell, min(vec_id) AS cand_id FROM wc
      |        GROUP BY cell) r
      |  JOIN wc w ON w.vec_id = r.cand_id),
      |c0 AS (SELECT vec_id, nv, CAST(0 AS BIGINT) AS best FROM wc),
      |$rounds
      |SELECT round, cand_id, gain, mean_coverage FROM (
      |${(1 to FlK).map(r => s"  SELECT * FROM row$r")
          .mkString("\n  UNION ALL\n")})
      |ORDER BY round""".stripMargin
  }

  /** q361's oracle: the q44 assignment + the same micro-quantized
    * sensitivity, md5-uniform draw and inverse-probability weight;
    * the CASE arms mirror the engine's coalesced kept flag. */
  private def coresetSql: String = {
    val dotCols = anchors.indices.map(i =>
      s"list_dot_product(v, ${sqlVec(anchors(i))}) AS d$i").mkString(",\n|    ")
    val structs = anchors.indices.map(i =>
      s"{'nd': -d$i, 'idx': $i}").mkString("[", ", ", "]")
    val aNorms = anchors.map(a =>
      math.sqrt(a.map(x => x * x).sum)).mkString("[", ", ", "]")
    s"""WITH $baseCte,
      |dots AS (
      |  SELECT vec_id, v,
      |    $dotCols
      |  FROM base),
      |asg AS (
      |  SELECT vec_id, sqrt(list_dot_product(v, v)) AS nrm,
      |    list_sort($structs)[1] AS best
      |  FROM dots),
      |sens AS (
      |  SELECT vec_id, best.idx AS cell,
      |    CAST(floor((1.0 - (-best.nd)
      |      / (nrm * ($aNorms)[best.idx + 1])) * 1e6 + 0.5) AS BIGINT)
      |      AS sm
      |  FROM asg),
      |tot AS (SELECT sum(sm) AS stot FROM sens),
      |dec AS (
      |  SELECT cell,
      |    ('0x' || substr(md5('cs:' || CAST(vec_id AS VARCHAR)), 1, 6))
      |      ::BIGINT / 16777216.0 AS u,
      |    $CoresetM * CAST(sm AS DOUBLE) / nullif(stot, 0) AS thr
      |  FROM sens CROSS JOIN tot)
      |SELECT CAST(cell AS BIGINT) AS cell,
      |  CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(CASE WHEN u < thr THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_kept,
      |  round(CAST(sum(CASE WHEN u < thr THEN
      |    CAST(floor(1.0 / thr * 1e6 + 0.5) AS BIGINT) ELSE 0 END)
      |    AS DOUBLE) / 1e6, 4) + 0.0 AS est_n
      |FROM dec GROUP BY cell ORDER BY cell""".stripMargin
  }

  /** q355's oracle: the q44 assignment + per-element cosine-distance
    * list (anchor norms as the same Scala-computed double literals),
    * a/b via 1-based list ops, 1e-6 quantization before the per-cell
    * mean. */
  private def silhouetteSql: String = {
    val dotCols = anchors.indices.map(i =>
      s"list_dot_product(v, ${sqlVec(anchors(i))}) AS d$i").mkString(",\n|    ")
    val structs = anchors.indices.map(i =>
      s"{'nd': -d$i, 'idx': $i}").mkString("[", ", ", "]")
    val aNorms = anchors.map(a => math.sqrt(a.map(x => x * x).sum))
    val distList = anchors.indices.map(i =>
      s"1.0 - d$i / (nrm * ${aNorms(i)})").mkString("[", ", ", "]")
    s"""WITH $baseCte,
      |dots AS (
      |  SELECT vec_id, v,
      |    $dotCols
      |  FROM base),
      |n1 AS (
      |  SELECT vec_id, sqrt(list_dot_product(v, v)) AS nrm,
      |    list_sort($structs)[1] AS best,
      |    ${anchors.indices.map(i => s"d$i").mkString(", ")}
      |  FROM dots),
      |n2 AS (
      |  SELECT vec_id, best.idx AS cell,
      |    $distList AS dl
      |  FROM n1),
      |n3 AS (
      |  SELECT cell, dl[cell + 1] AS a,
      |    list_min(list_filter(dl, (x, i) -> i <> cell + 1)) AS b
      |  FROM n2),
      |sc AS (
      |  SELECT cell,
      |    CAST(floor((b - a) / nullif(greatest(a, b), 0.0) * 1e6
      |      + 0.5) AS BIGINT) AS sq
      |  FROM n3)
      |SELECT CAST(cell AS BIGINT) AS cell,
      |  CAST(count(*) AS BIGINT) AS n,
      |  CAST(count(sq) AS BIGINT) AS n_scored,
      |  round(CAST(sum(sq) AS DOUBLE) / nullif(count(sq), 0) / 1e6, 4)
      |    + 0.0 AS mean_silhouette
      |FROM sc GROUP BY cell ORDER BY cell""".stripMargin
  }

  private def clusterStatsSql: String = {
    val dotCols = anchors.indices.map(i =>
      s"list_dot_product(v, ${sqlVec(anchors(i))}) AS d$i").mkString(",\n|    ")
    val structs = anchors.indices.map(i =>
      s"{'nd': -d$i, 'idx': $i}").mkString("[", ", ", "]")
    val aNorms = anchors.map(a =>
      math.sqrt(a.map(x => x * x).sum)).mkString("[", ", ", "]")
    s"""WITH $baseCte,
      |dots AS (
      |  SELECT vec_id, v,
      |    $dotCols
      |  FROM base),
      |assigned AS (
      |  SELECT vec_id,
      |    sqrt(list_dot_product(v, v)) AS nrm,
      |    list_sort($structs)[1] AS best
      |  FROM dots)
      |SELECT best.idx AS cell, count(*) AS n,
      |  round(avg((-best.nd) / (nrm * ($aNorms)[best.idx + 1])), 4) + 0.0 AS avg_cos
      |FROM assigned GROUP BY best.idx ORDER BY cell""".stripMargin
  }

  /** q321: the q44 anchor assignment with labels, histograms per
    * parity side, then the same cell-ordered transform+fold KL sums
    * the engine runs — one row per λ. */
  private def mauveProxySql: String = {
    val dotCols = anchors.indices.map(i =>
      s"list_dot_product(v, ${sqlVec(anchors(i))}) AS d$i")
      .mkString(",\n|    ")
    val structs = anchors.indices.map(i =>
      s"{'nd': -d$i, 'idx': $i}").mkString("[", ", ", "]")
    val rows = MauveLambdas.map { lam =>
      val l = lam.toString
      val om = (1 - lam).toString
      s"""SELECT $l AS lambda,
         |  floor(list_reduce(list_prepend(0.0, list_transform(cs,
         |    c -> CASE WHEN c.p > 0.0 THEN
         |      c.p * ln(c.p / ($l * c.p + $om * c.q)) ELSE 0.0 END)),
         |    (a, x) -> a + x) * 1e4 + 0.5) / 1e4 AS kl_p_m,
         |  floor(list_reduce(list_prepend(0.0, list_transform(cs,
         |    c -> CASE WHEN c.q > 0.0 THEN
         |      c.q * ln(c.q / ($l * c.p + $om * c.q)) ELSE 0.0 END)),
         |    (a, x) -> a + x) * 1e4 + 0.5) / 1e4 AS kl_q_m
         |FROM cs""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH lbase AS (
      |  SELECT label,
      |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings
      |  WHERE list_dot_product(embedding, embedding) > 0),
      |dots AS (
      |  SELECT label % 2 = 0 AS is_p, v,
      |    $dotCols
      |  FROM lbase),
      |asg AS (
      |  SELECT is_p, list_sort($structs)[1].idx AS cell FROM dots),
      |hist AS (
      |  SELECT cell,
      |    CAST(sum(CASE WHEN is_p THEN 1 ELSE 0 END) AS BIGINT) AS np,
      |    CAST(sum(CASE WHEN NOT is_p THEN 1 ELSE 0 END) AS BIGINT)
      |      AS nq
      |  FROM asg GROUP BY cell),
      |tot AS (
      |  SELECT CAST(sum(np) AS BIGINT) AS tp,
      |    CAST(sum(nq) AS BIGINT) AS tq FROM hist),
      |cs AS (
      |  SELECT list({'cell': cell,
      |    'p': np / CAST(tp AS DOUBLE),
      |    'q': nq / CAST(tq AS DOUBLE)} ORDER BY cell) AS cs
      |  FROM hist CROSS JOIN tot)
      |$rows
      |ORDER BY lambda""".stripMargin
  }

  /** Subvector slice columns shared by the PQ oracles (DuckDB list
    * slices are 1-based inclusive, mirroring Spark's slice()). */
  private def pqSubCte: String = {
    val cols = (0 until PqM).map(m =>
      s"v[${m * PqSub + 1}:${(m + 1) * PqSub}] AS s$m").mkString(", ")
    s"sub AS (SELECT vec_id, $cols FROM base)"
  }

  /** The literal-codebook distance expression — same arithmetic order
    * as pqDist: (dot(sv,sv) − 2·dot(sv,c)) + ||c||². */
  private def pqDistSql(sv: String, m: Int, k: Int): String =
    s"list_dot_product($sv, $sv) - 2 * " +
      s"list_dot_product($sv, ${sqlVec(pqCents(m)(k))}) + ${cn(m, k)}"

  /** argmin over the 8 centroids via the same (d, idx) struct sort. */
  private def pqBestCte: String = {
    val picks = (0 until PqM).map { m =>
      val structs = (0 until PqK).map(k =>
        s"{'d': ${pqDistSql(s"s$m", m, k)}, 'idx': $k}")
        .mkString("[", ", ", "]")
      s"list_sort($structs)[1] AS p$m"
    }.mkString(",\n|    ")
    s"""best AS (
      |  SELECT vec_id,
      |    $picks
      |  FROM sub)""".stripMargin
  }

  private def pqEncodeSql: String =
    s"""WITH $baseCte,
      |$pqSubCte,
      |$pqBestCte
      |SELECT vec_id, p0.idx AS c0, p1.idx AS c1, p2.idx AS c2,
      |  p3.idx AS c3,
      |  round(p0.d + p1.d + p2.d + p3.d, 4) + 0.0 AS sq_err
      |FROM best ORDER BY vec_id""".stripMargin

  private def pqAdcSql: String = {
    // per-subspace CASE over the corpus code: the query-side LUT entry
    // the engine reads with element_at, restated as literal arithmetic
    val cases = (0 until PqM).map { m =>
      val arms = (0 until PqK).map(k =>
        s"WHEN $k THEN ${pqDistSql(s"q.s$m", m, k)}").mkString(" ")
      s"(CASE c.c$m $arms END)"
    }.mkString("\n|      + ")
    s"""WITH $baseCte,
      |$pqSubCte,
      |$pqBestCte,
      |codes AS (
      |  SELECT vec_id, p0.idx AS c0, p1.idx AS c1, p2.idx AS c2,
      |    p3.idx AS c3
      |  FROM best),
      |q AS (
      |  SELECT vec_id AS q_id, s0, s1, s2, s3 FROM sub
      |  WHERE vec_id % 100 = 0),
      |scored AS (
      |  SELECT q.q_id, c.vec_id,
      |    $cases AS adist
      |  FROM codes c, q WHERE c.vec_id <> q.q_id),
      |ranked AS (
      |  SELECT *, row_number() OVER (PARTITION BY q_id
      |            ORDER BY adist ASC, vec_id ASC) AS rk FROM scored)
      |SELECT q_id, rk, vec_id, round(adist, 4) + 0.0 AS adist
      |FROM ranked WHERE rk <= 5 ORDER BY q_id, rk""".stripMargin
  }

  /** q226's oracle: q157's ADC chain with a 10-deep shortlist, then
    * the exact-cosine re-rank replayed on the source vectors. */
  private def pqRerankSql: String = {
    val cases = (0 until PqM).map { m =>
      val arms = (0 until PqK).map(k =>
        s"WHEN $k THEN ${pqDistSql(s"q.s$m", m, k)}").mkString(" ")
      s"(CASE c.c$m $arms END)"
    }.mkString("\n|      + ")
    s"""WITH $baseCte,
      |$pqSubCte,
      |$pqBestCte,
      |codes AS (
      |  SELECT vec_id, p0.idx AS c0, p1.idx AS c1, p2.idx AS c2,
      |    p3.idx AS c3
      |  FROM best),
      |q AS (
      |  SELECT vec_id AS q_id, s0, s1, s2, s3 FROM sub
      |  WHERE vec_id % 100 = 0),
      |scored AS (
      |  SELECT q.q_id, c.vec_id,
      |    $cases AS adist
      |  FROM codes c, q WHERE c.vec_id <> q.q_id),
      |ranked AS (
      |  SELECT *, row_number() OVER (PARTITION BY q_id
      |            ORDER BY adist ASC, vec_id ASC) AS rk0 FROM scored),
      |short AS (
      |  SELECT q_id, vec_id, adist FROM ranked WHERE rk0 <= 10),
      |rescored AS (
      |  SELECT s.q_id, s.vec_id, s.adist,
      |    list_cosine_similarity(qb.v, cb.v) AS cos
      |  FROM short s
      |  JOIN base cb ON cb.vec_id = s.vec_id
      |  JOIN base qb ON qb.vec_id = s.q_id),
      |rr AS (
      |  SELECT *, row_number() OVER (PARTITION BY q_id
      |            ORDER BY cos DESC, vec_id ASC) AS rk FROM rescored)
      |SELECT q_id, rk, vec_id, round(cos, 4) + 0.0 AS cos,
      |  round(adist, 4) + 0.0 AS adist
      |FROM rr WHERE rk <= 3 ORDER BY q_id, rk""".stripMargin
  }

  /** q161's oracle: q42's literal-anchor cell CTEs + residuals via a
    * per-cell anchor VALUES table + q156/q157's codebook arithmetic on
    * the residual slices. */
  private def ivfPqSql: String = {
    val dotCols = anchors.indices.map(i =>
      s"list_dot_product(v, ${sqlVec(anchors(i))}) AS d$i").mkString(",\n|    ")
    val structs = anchors.indices.map(i =>
      s"{'nd': -d$i, 'idx': $i}").mkString("[", ", ", "]")
    val avRows = anchors.indices.map(i =>
      s"($i, ${sqlVec(anchors(i))})").mkString(", ")
    val subCols = (0 until PqM).map(m =>
      s"res[${m * PqSub + 1}:${(m + 1) * PqSub}] AS s$m").mkString(", ")
    val codePicks = (0 until PqM).map { m =>
      val ss = (0 until PqK).map(k =>
        s"{'d': ${pqDistSql(s"s$m", m, k)}, 'idx': $k}")
        .mkString("[", ", ", "]")
      s"list_sort($ss)[1].idx AS c$m"
    }.mkString(",\n|    ")
    val cases = (0 until PqM).map { m =>
      val arms = (0 until PqK).map(k =>
        s"WHEN $k THEN ${pqDistSql(s"q.s$m", m, k)}").mkString(" ")
      s"(CASE c.c$m $arms END)"
    }.mkString("\n|      + ")
    s"""WITH $baseCte,
      |dots AS (
      |  SELECT vec_id, v,
      |    $dotCols
      |  FROM base),
      |cells AS (
      |  SELECT vec_id, v,
      |    list_transform(list_sort($structs), r -> r.idx) AS cells
      |  FROM dots),
      |av AS (SELECT * FROM (VALUES $avRows) AS t(cell, a)),
      |corpus AS (
      |  SELECT vec_id, v, cells[1] AS cell FROM cells),
      |cres AS (
      |  SELECT c.vec_id, c.cell,
      |    list_transform(range(1, 65), i -> c.v[i] - av.a[i]) AS res
      |  FROM corpus c JOIN av USING (cell)),
      |csub AS (SELECT vec_id, cell, $subCols FROM cres),
      |cbest AS (
      |  SELECT vec_id, cell,
      |    $codePicks
      |  FROM csub),
      |queries AS (
      |  SELECT vec_id AS q_id, v AS qv, unnest(cells[1:2]) AS cell
      |  FROM cells WHERE vec_id % 100 = 0),
      |qres AS (
      |  SELECT q.q_id, q.cell,
      |    list_transform(range(1, 65), i -> q.qv[i] - av.a[i]) AS res
      |  FROM queries q JOIN av USING (cell)),
      |qsub AS (SELECT q_id, cell, $subCols FROM qres),
      |scored AS (
      |  SELECT q.q_id, c.vec_id,
      |    $cases AS adist
      |  FROM cbest c JOIN qsub q USING (cell)
      |  WHERE c.vec_id <> q.q_id),
      |ranked AS (
      |  SELECT *, row_number() OVER (PARTITION BY q_id
      |            ORDER BY adist ASC, vec_id ASC) AS rk FROM scored)
      |SELECT q_id, rk, vec_id, round(adist, 4) + 0.0 AS adist
      |FROM ranked WHERE rk <= 5 ORDER BY q_id, rk""".stripMargin
  }

  /** q281 oracle: the identical k-means‖ chain as unrolled CTEs — the
    * md5 sampling thresholds, the 1e-9-snapped φ, and the weighted
    * farthest-first stages replay the engine's arithmetic exactly. */
  private def kmpOracleSql: String = {
    def d2(a: String, b: String): String =
      s"greatest(0.0, 2.0 - 2.0 * list_dot_product($a, $b))"
    // every multiply-referenced CTE is MATERIALIZED: the chain is deep
    // (cand_r → d_r → cand_{r-1}, ch_t → ch_{t-1} twice) and DuckDB's
    // default inlining re-expands it exponentially — each expansion
    // re-opens the parquet until the fd limit blows
    def samplingRound(r: Int): String =
      s"""d$r AS MATERIALIZED (
        |  SELECT b.vec_id, min(${d2("b.nv", "c.nv")}) AS d2
        |  FROM base b CROSS JOIN cand${r - 1} c GROUP BY b.vec_id),
        |p$r AS (SELECT round(sum(d2), 9) AS phi FROM d$r),
        |s$r AS (
        |  SELECT b.vec_id, b.nv
        |  FROM base b JOIN d$r USING (vec_id) CROSS JOIN p$r
        |  -- phi = 0 (every point already a candidate): no residual
        |  -- mass to sample — the explicit guard, because DuckDB's
        |  -- least() IGNORES the NULL a bare d2/0 would give, which
        |  -- would sample everything instead of nothing
        |  WHERE p$r.phi > 0
        |    AND ('0x' || substr(md5('kmp:$r:' ||
        |      CAST(b.vec_id AS VARCHAR)), 1, 8))::BIGINT
        |    / 4294967296.0 < least(1.0, $KmpL.0 * d$r.d2 / p$r.phi)),
        |cand$r AS MATERIALIZED (
        |  SELECT * FROM cand${r - 1} UNION ALL SELECT * FROM s$r)"""
        .stripMargin
    def reduceStage(t: Int): String =
      s"""m$t AS MATERIALIZED (
        |  SELECT c.id, c.w, min(cd.d2) AS mind
        |  FROM candw c JOIN cd ON cd.a = c.id
        |    AND cd.b IN (SELECT id FROM ch${t - 1})
        |  WHERE c.id NOT IN (SELECT id FROM ch${t - 1})
        |  GROUP BY c.id, c.w),
        |pk$t AS MATERIALIZED (
        |  SELECT id, round(mind, 6) AS sep FROM m$t
        |  ORDER BY w * mind DESC, id LIMIT 1),
        |ch$t AS MATERIALIZED (SELECT id FROM ch${t - 1}
        |  UNION ALL SELECT id FROM pk$t)""".stripMargin
    val selTail = (2 to KmpK)
      .map(t => s"UNION ALL SELECT $t, id, sep FROM pk$t")
      .mkString("\n|  ")
    s"""WITH base0 AS (
      |  SELECT vec_id,
      |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings
      |  WHERE list_dot_product(embedding, embedding) > 0),
      |base AS MATERIALIZED (
      |  SELECT vec_id,
      |    list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS nv
      |  FROM base0),
      |cand0 AS MATERIALIZED (
      |  SELECT vec_id, nv FROM base ORDER BY vec_id LIMIT 1),
      |${(1 to KmpRounds).map(samplingRound).mkString(",\n|")},
      |ad AS (
      |  SELECT b.vec_id AS x, c.vec_id AS cid,
      |    ${d2("b.nv", "c.nv")} AS d2
      |  FROM base b CROSS JOIN cand$KmpRounds c),
      |assign AS (
      |  SELECT x, cid FROM (
      |    SELECT x, cid, row_number() OVER (
      |      PARTITION BY x ORDER BY d2, cid) AS rn FROM ad)
      |  WHERE rn = 1),
      |w AS (SELECT cid, CAST(count(*) AS BIGINT) AS w
      |      FROM assign GROUP BY cid),
      |candw AS MATERIALIZED (
      |  SELECT c.vec_id AS id, c.nv, coalesce(w.w, 0) AS w
      |  FROM cand$KmpRounds c LEFT JOIN w ON w.cid = c.vec_id),
      |cd AS MATERIALIZED (
      |  SELECT a.id AS a, b.id AS b, ${d2("a.nv", "b.nv")} AS d2
      |  FROM candw a CROSS JOIN candw b),
      |ch1 AS (SELECT id FROM candw ORDER BY w DESC, id LIMIT 1),
      |${(2 to KmpK).map(reduceStage).mkString(",\n|")},
      |sel AS (
      |  SELECT 1 AS rk, id, CAST(NULL AS DOUBLE) AS sep FROM ch1
      |  $selTail)
      |SELECT CAST(sel.rk AS INTEGER) AS rk, sel.id AS vec_id,
      |  candw.w AS weight, sel.sep
      |FROM sel JOIN candw ON candw.id = sel.id
      |ORDER BY rk""".stripMargin
  }

  /** q289 oracle: replays the exact moment/covariance/power-iteration
    * arithmetic — one upper-triangle pair-moment rollup over the
    * 1e-6-quantized, 10⁶-extended BIGINT vectors (products are exact
    * longs, sums are exact HUGEINTs — bit-identical to Spark's
    * decimal(38,0) sums in any summation order), snapped means and
    * covariance cells, then `PowerIters` unrolled iterations as
    * chained MATERIALIZED CTEs (multiply-referenced, so DuckDB must
    * not re-inline them — the q281 lesson). The iterate norm folds
    * through an i-ordered list + list_dot_product so both engines
    * square-sum in the same sequential order before the snap;
    * zero-norm keeps the previous iterate, zero trace reports share
    * 0 — both matching the engine's degenerate guards. */
  private def pcaOracleSql: String = {
    def round(r: Int): String =
      s"""w$r AS MATERIALIZED (
        |  SELECT cov.i,
        |    CAST(floor(CAST(sum(cov.c6 * v.x6) AS DOUBLE) / 1e12 * 1e6
        |         + 0.5) AS BIGINT) AS w6
        |  FROM cov JOIN v${r - 1} v ON v.i = cov.j GROUP BY cov.i),
        |n$r AS (
        |  SELECT sqrt(CAST(sum(w6 * w6) AS DOUBLE) / 1e12) AS nrm
        |  FROM w$r),
        |v$r AS MATERIALIZED (
        |  SELECT w.i,
        |    CASE WHEN n.nrm > 0
        |         THEN CAST(floor(CAST(w.w6 AS DOUBLE) / 1e6 / n.nrm
        |              * 1e6 + 0.5) AS BIGINT)
        |         ELSE p.x6 END AS x6
        |  FROM w$r w CROSS JOIN n$r n JOIN v${r - 1} p ON p.i = w.i)"""
        .stripMargin
    val last = s"v$PowerIters"
    s"""WITH base AS MATERIALIZED (
      |  SELECT list_append(
      |      list_transform(embedding,
      |        x -> CAST(floor(CAST(x AS DOUBLE) * 1e6 + 0.5)
      |             AS BIGINT)), 1000000) AS v
      |  FROM embeddings
      |  WHERE list_dot_product(embedding, embedding) > 0),
      |ex AS (SELECT v, unnest(range(1, ${Dim + 2})) AS i FROM base),
      |pj AS (
      |  SELECT v, i, unnest(range(i, ${Dim + 2})) AS j FROM ex),
      |mom AS MATERIALIZED (
      |  SELECT CAST(i AS INTEGER) AS i, CAST(j AS INTEGER) AS j,
      |    CAST(sum(v[i] * v[j]) AS DOUBLE) AS sxx
      |  FROM pj GROUP BY 1, 2),
      |nn AS (SELECT sxx AS n FROM mom
      |       WHERE i = ${Dim + 1} AND j = ${Dim + 1}),
      |mu AS MATERIALIZED (
      |  SELECT i, floor(sxx / nn.n * 1e9 + 0.5) / 1e9 AS mu
      |  FROM mom CROSS JOIN nn WHERE j = ${Dim + 1} AND i <= $Dim),
      |cov AS MATERIALIZED (
      |  SELECT a.i, b.i AS j,
      |    CAST(floor((m.sxx / nn.n - a.mu * b.mu) * 1e6 + 0.5)
      |         AS BIGINT) AS c6
      |  FROM mu a CROSS JOIN mu b
      |  JOIN mom m ON m.i = least(a.i, b.i) AND m.j = greatest(a.i, b.i)
      |  CROSS JOIN nn),
      |v0 AS (SELECT i, CAST(125000 AS BIGINT) AS x6 FROM mu),
      |${(1 to PowerIters).map(round).mkString(",\n|")},
      |u AS MATERIALIZED (
      |  SELECT cov.i,
      |    CAST(floor(CAST(sum(cov.c6 * v.x6) AS DOUBLE) / 1e12 * 1e6
      |         + 0.5) AS BIGINT) AS u6
      |  FROM cov JOIN $last v ON v.i = cov.j GROUP BY cov.i),
      |lam AS (
      |  SELECT CAST(sum(v.x6 * u.u6) AS DOUBLE) / 1e12 AS l
      |  FROM $last v JOIN u ON u.i = v.i),
      |tr AS (
      |  SELECT CAST(sum(c6) AS DOUBLE) / 1e6 AS t FROM cov WHERE i = j)
      |SELECT CAST(mu.i AS BIGINT) AS dim,
      |  CAST(v.x6 AS DOUBLE) / 1e6 AS loading,
      |  floor(mu.mu * 1e6 + 0.5) / 1e6 AS mean_val,
      |  floor(lam.l * 1e6 + 0.5) / 1e6 AS eigval,
      |  CASE WHEN tr.t > 0
      |       THEN floor(lam.l / tr.t * 1e6 + 0.5) / 1e6
      |       ELSE 0.0 END AS var_share
      |FROM mu JOIN $last v ON v.i = mu.i CROSS JOIN lam CROSS JOIN tr
      |ORDER BY dim""".stripMargin
  }

  override def oracleSql: Map[String, String] = Map(
    "q289_pca_top" -> pcaOracleSql,
    "q281_kmeanspar_init" -> kmpOracleSql,
    "q192_embed_health" ->
      s"""WITH $baseCte,
        |dims AS (
        |  SELECT i, round(avg(v[i]), 6) AS mu,
        |    round(var_samp(v[i]), 4) AS vr
        |  FROM base, generate_series(1, 64) t(i)
        |  GROUP BY i),
        |cent AS (
        |  SELECT list(mu ORDER BY i) AS c,
        |    min(vr) AS dim_var_min, max(vr) AS dim_var_max
        |  FROM dims),
        |scored AS (
        |  SELECT sqrt(list_dot_product(b.v, b.v)) AS nrm,
        |    list_dot_product(b.v, cent.c)
        |      / (sqrt(list_dot_product(b.v, b.v))
        |         * sqrt(list_dot_product(cent.c, cent.c))) AS cos_c,
        |    sqrt(list_dot_product(cent.c, cent.c)) AS cnorm,
        |    dim_var_min, dim_var_max
        |  FROM base b CROSS JOIN cent)
        |SELECT CAST(count(*) AS BIGINT) AS n_vecs,
        |  round(avg(nrm), 4) AS mean_norm,
        |  round(stddev_samp(nrm), 4) AS sd_norm,
        |  round(any_value(cnorm), 4) AS centroid_norm,
        |  round(avg(cos_c), 4) AS anisotropy,
        |  dim_var_min, dim_var_max
        |FROM scored GROUP BY dim_var_min, dim_var_max""".stripMargin,
    "q156_pq_encode" -> pqEncodeSql,
    "q157_pq_adc"    -> pqAdcSql,
    "q226_pq_rerank" -> pqRerankSql,
    "q161_ivfpq_ann" -> ivfPqSql,
    "q126_hard_negatives" ->
      """WITH base AS (
        |  SELECT vec_id, label,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings
        |  WHERE list_dot_product(embedding, embedding) > 0),
        |q AS (
        |  SELECT vec_id AS q_id, label AS q_label, v AS qv
        |  FROM base WHERE vec_id % 100 = 0),
        |scored AS (
        |  SELECT q.q_id, e.vec_id, e.label,
        |    list_cosine_similarity(q.qv, e.v) AS cos
        |  FROM base e, q WHERE e.label <> q.q_label),
        |ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY q_id
        |            ORDER BY cos DESC, vec_id ASC) AS rk FROM scored)
        |SELECT q_id, rk, vec_id, label, round(cos, 4) + 0.0 AS cos
        |FROM ranked WHERE rk <= 3 ORDER BY q_id, rk""".stripMargin,
    "q40_cosine_topk" -> exactTopkSql,
    "q43_topk_agg"    -> exactTopkSql,
    "q41_lsh_ann"     -> lshAnnSql,
    // q143 = q41 served from the at-rest bucketed index: same answer,
    // different plan — the oracle replay is identical by construction.
    "q143_band_index" -> lshAnnSql,
    "q128_recall_eval" -> recallEvalSql,
    "q134_multiprobe_lsh" -> multiprobeLshSql,
    "q135_probe_cost" -> probeCostSql,
    "q42_ivf_ann"     -> ivfAnnSql,
    "q42b_ivf_kmeans" -> ivfKmeansSql,
    "q44_cluster_stats" -> clusterStatsSql,
    "q355_silhouette" -> silhouetteSql,
    "q360_facility_location" -> facilityLocationSql,
    "q361_coreset_sample" -> coresetSql,
    "q321_mauve_proxy" -> mauveProxySql,
    "q235_shard_plan" -> shardPlanSql,
    "q256_nprobe_sweep" -> nprobeSweepSql,
    "q261_label_centroids" ->
      """WITH e AS (
        |  SELECT label,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |dims AS (
        |  SELECT label, i AS dim, round(avg(v[i]), 6) AS mu
        |  FROM e, generate_series(1, 64) t(i)
        |  GROUP BY label, i),
        |cent AS (
        |  SELECT label, list(mu ORDER BY dim) AS c
        |  FROM dims GROUP BY label)
        |SELECT a.label AS label_a, b.label AS label_b,
        |  round(list_dot_product(a.c, b.c)
        |    / (sqrt(list_dot_product(a.c, a.c))
        |       * sqrt(list_dot_product(b.c, b.c))), 4) + 0.0
        |    AS centroid_cos
        |FROM cent a JOIN cent b ON a.label < b.label
        |ORDER BY label_a, label_b""".stripMargin,
    "q263_mmr_rerank" -> mmrRerankSql,
    "q265_rank_metrics" -> rankMetricsSql,
    "q262_knn_label_acc" ->
      s"""WITH $baseCte,
        |tscored AS (
        |  SELECT q.vec_id AS q_id, e.vec_id,
        |    list_cosine_similarity(q.v, e.v) AS cos
        |  FROM base q, base e
        |  WHERE q.vec_id % 100 = 0 AND e.vec_id <> q.vec_id),
        |nn AS (
        |  SELECT q_id, vec_id AS nn_id FROM (
        |    SELECT *, row_number() OVER (PARTITION BY q_id
        |      ORDER BY cos DESC, vec_id) AS rk FROM tscored)
        |  WHERE rk = 1),
        |lab AS (SELECT vec_id, label FROM embeddings)
        |SELECT ql.label AS q_label,
        |  CAST(count(*) AS BIGINT) AS n_queries,
        |  CAST(sum(CASE WHEN nl.label = ql.label THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_correct,
        |  round(sum(CASE WHEN nl.label = ql.label THEN 1 ELSE 0 END)
        |    / CAST(count(*) AS DOUBLE), 4) AS accuracy
        |FROM nn
        |JOIN lab ql ON ql.vec_id = nn.q_id
        |JOIN lab nl ON nl.vec_id = nn.nn_id
        |GROUP BY ql.label ORDER BY q_label""".stripMargin,
    "q86_semdedup"    -> semDedupSql,
    "q372_semdedup_keepers" -> keepersSql,
    "q373_ann_frontier" -> annFrontierSql,
    "q379_graph_ann" -> graphAnnSql,
    "q383_beam_sweep" -> beamSweepSql,
    "q384_graph_health" -> graphHealthSql,
    // q386 shares q379's replay: persistence changes the plan only
    "q386_graph_at_rest" -> graphAnnSql,
    "q387_dedup_agreement" -> dedupAgreementSql,
    "q91_random_projection" -> {
      val cols = (0 until 16).map(j =>  // + 0.0 = -0.0 normalization
        s"round(list_dot_product(v, ${sqlVec(rproj(j))}), 4) + 0.0 AS r$j")
        .mkString(",\n|  ")
      s"""WITH $baseCte
        |SELECT vec_id,
        |  $cols
        |FROM base ORDER BY vec_id""".stripMargin
    },
  )
}
