package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.QueryModule
import graft.functions.TextOps
import graft.Barrier._
import graft.sources.Tables

/** Deduplication suite (north-star; BASELINE.json): exact hash dedup,
  * blocked n-gram Jaccard, MinHash-LSH near-dup, SimHash near-dup.
  *
  * Scale posture — the whole point of this module:
  *  - exact dedup keys on a 128-bit digest of the normalized text, never
  *    the text itself: the shuffle moves 16-byte keys, not documents;
  *  - exact pairwise Jaccard is inherently quadratic, so it only runs
  *    inside small blocks (lang × source × length-band) — the classic
  *    blocking heuristic. The block count grows with corpus size, the
  *    per-block cost stays bounded;
  *  - MinHash-LSH is the scale path: per-doc signatures (one shuffle),
  *    band-bucket join (shuffle on 8-byte band keys), candidate pairs
  *    verified by signature agreement. No all-pairs stage anywhere;
  *  - SimHash packs a document into one 64-bit value; near-dup candidates
  *    come from 16-bit band equality (pigeonhole: hamming ≤ 3 over 64 bits
  *    ⇒ at least one of 4 bands identical).
  */
object DedupQueries extends QueryModule {

  /** Normalized token stream both engines agree on. */
  private def normTokens(c: Column): Column =
    TextOps.dropStopwords(TextOps.tokenize(TextOps.cleanText(c)))

  /** Word-trigram shingles (distinct) of a token array. */
  private[operators] def shingles(toks: Column): Column =
    array_distinct(zip_with(
      slice(toks, lit(1), greatest(size(toks) - 2, lit(0))),
      zip_with(
        slice(toks, lit(2), greatest(size(toks) - 2, lit(0))),
        slice(toks, lit(3), greatest(size(toks) - 2, lit(0))),
        (y, z) => concat_ws(" ", y, z)),
      (x, yz) => concat_ws(" ", x, yz)))

  /** Exact dedup: group on md5(text), keep the lowest doc_id (the
    * "first write wins" unique-index semantics of the reference's sinks,
    * S5). */
  def qDedupExact(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .groupBy(md5($"text").as("fp"))
      .agg(min($"doc_id").as("keeper"), count(lit(1)).as("n_dups"))
      .orderBy($"keeper")
  }

  /** Blocked exact n-gram Jaccard. Block key = the document's MINIMUM
    * shingle (lexicographic) — a 1-permutation MinHash where the "hash"
    * is string order, so it is exactly reproducible in the DuckDB oracle.
    * Two docs with Jaccard J share their min shingle with probability J
    * (the MinHash property), so true near-dups (J ≥ 0.95 in this corpus)
    * land in the same block ~always, while unrelated docs almost never
    * collide: measured blocks are ≤ 15 docs at sf0.1. The previous
    * (lang, source, length-band) metadata key caught 1 of 25 planted
    * near-dup pairs — dup text is planted across languages/sources, and
    * length bands split pairs at ÷50 boundaries; a content-derived key is
    * the correct blocking.
    *
    * Scale guard: blocks larger than `MaxBlock` docs are dropped whole
    * (a degenerate min-shingle — e.g. a boilerplate header shared by
    * millions of docs — would otherwise recreate all-pairs). Skipped
    * blocks are the documented recall trade; the unbounded-scale path for
    * such data is q32's banded MinHash-LSH. */
  private val MaxBlock = 1000

  /** q172's posting-list df cap: shingles in more than this many docs
    * are boilerplate (near-zero idf) and are pruned from the weight
    * frame before norms/dots — same literal on both engines. Matches
    * q28's (span dedup) MaxDf published practice. */
  private val CosMaxDf = 50L

  def qNgramJaccard(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d = Tables.documents(s, dir)
      .select($"doc_id", shingles(TextOps.tokenize($"text")).as("sh"))
      .filter(size($"sh") > 0)
      .withColumn("blk", array_min($"sh"))
      .withColumn("blk_n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy($"blk")))
      .filter($"blk_n" <= MaxBlock)
    val x = d.select($"doc_id".as("x_id"), $"blk", $"sh".as("x_sh"))
    val y = d.select($"doc_id".as("y_id"), $"blk", $"sh".as("y_sh"))
    val inter = size(array_intersect($"x_sh", $"y_sh")).cast("long")
    val union = size($"x_sh").cast("long") + size($"y_sh") - inter
    x.join(y, Seq("blk"))
      .filter($"x_id" < $"y_id")
      .select($"x_id", $"y_id",
        round(inter.cast("double") / union, 4).as("jaccard"))
      .orderBy($"x_id", $"y_id")
  }

  /** Shingle containment (q159): the DIRECTIONAL dedup measure,
    * C(A,B) = |S(A)∩S(B)| / |S(A)| (Broder 1997, "On the resemblance
    * and containment of documents"). Jaccard (q31) misses subset
    * duplicates — a doc quoted whole inside a longer one scores J =
    * |A|/|B| (low) but C(A→B) = 1.0; a training corpus wants those
    * dropped as aggressively as symmetric near-dups. Same content-
    * derived min-shingle blocking + MaxBlock guard as q31 (one shuffle
    * on the block key, never all-pairs); pairs are emitted in BOTH
    * directions because containment is asymmetric — each direction is
    * its own verdict. Threshold compares the ROUNDED value on both
    * engines so the boundary is engine-agnostic. */
  def qContainment(s: SparkSession, dir: String): DataFrame =
    containmentPairs(Tables.documents(s, dir))

  /** Split from qContainment so DedupSpec can pin asymmetric fixtures. */
  private[graft] def containmentPairs(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val d = docs
      .select($"doc_id", shingles(TextOps.tokenize($"text")).as("sh"))
      .filter(size($"sh") > 0)
      .withColumn("blk", array_min($"sh"))
      .withColumn("blk_n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy($"blk")))
      .filter($"blk_n" <= MaxBlock)
    val x = d.select($"doc_id".as("x_id"), $"blk", $"sh".as("x_sh"))
    val y = d.select($"doc_id".as("y_id"), $"blk", $"sh".as("y_sh"))
    val inter = size(array_intersect($"x_sh", $"y_sh")).cast("long")
    x.join(y, Seq("blk"))
      .filter($"x_id" =!= $"y_id")
      .select($"x_id", $"y_id",
        size($"x_sh").cast("long").as("n_x"), inter.as("n_common"),
        round(inter.cast("double") / size($"x_sh"), 4).as("containment"))
      .filter($"containment" >= 0.9)
      .orderBy($"x_id", $"y_id")
  }

  /** Duplication-by-quality interaction report (q171): exact-dup rate
    * within each global quality decile (q15's score) — the cross-
    * cutting audit behind the "duplicates are disproportionately
    * low-quality boilerplate" assumption every dedup-then-filter
    * pipeline makes; if dup_rate is flat across deciles, dedup and
    * quality filtering remove INDEPENDENT mass and the drop-ledger
    * math (q111) changes. Scale shape: no global sort — deciles come
    * from 9 exact percentile cutpoints in one aggregate (→ q73's
    * mergeable sketch at 100 TB), broadcast back and assigned map-side
    * by counting cutpoints below the score (q142's discipline, global
    * instead of per-source); dup flag is the q30 md5 window; final agg
    * is 10 rows. */
  def qDupByQuality(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val toks = TextOps.tokenize($"text")
    val nToks = size(toks)
    val nStops = size(filter(toks, t => TextOps.isStopword(t)))
    val quality = round((lit(1.0) - nStops.cast("double") / nToks) *
      least(lit(1.0), nToks.cast("double") / 100.0), 4)
    val base = Tables.documents(s, dir)
      .select($"doc_id", quality.as("q"), md5($"text").as("fp"))
      .withColumn("dup", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy($"fp")) > 1)
    val cutCols = (1 to 9).map(i => percentile($"q", lit(i / 10.0)).as(s"c$i"))
    val cuts = base.agg(cutCols.head, cutCols.tail: _*)
    val decile = (1 to 9).map(i => ($"q" > col(s"c$i")).cast("int"))
      .reduce(_ + _) + lit(1)
    base.crossJoin(broadcast(cuts))
      .select($"doc_id", $"dup", decile.as("decile"))
      .groupBy($"decile")
      .agg(count(lit(1)).as("n_docs"), sum($"dup".cast("long")).as("n_dup"))
      .withColumn("dup_rate", round($"n_dup" / $"n_docs".cast("double"), 4))
      .orderBy($"decile")
  }

  /** Weighted sparse cosine over the shingle space (q172): tf-idf
    * cosine computed the SPARSE way — an inverted-index join on shared
    * shingles — never materializing a dense vector (the lexical
    * counterpart of q40's dense embedding cosine, and the similarity
    * the idf weighting makes sharper than q31's unweighted Jaccard:
    * agreeing on a RARE shingle is evidence, agreeing on boilerplate is
    * not). Shingles are distinct per doc, so tf is binary and w = ln
    * (N/df); norms and pair dots are grouped folds over the weight
    * frame. Candidates come from q31's min-shingle block (MaxBlock-
    * capped — never all-pairs), and the dot join touches only candidate
    * pairs' shared shingles: cost ∝ Σ_pairs |x∩y|, the inverted-index
    * economics a sparse search engine runs on. Threshold on the
    * rounded value.
    *
    * Df-PRUNING (round-13, the q285 boilerplate guard applied to the
    * posting lists): shingles with df > CosMaxDf drop from the weight
    * frame BEFORE norms and dots — the sparse-retrieval stop-shingle
    * cut (Lucene's maxDocFreq form). A df-50+ shingle carries the
    * suite's lowest idf weights yet lands in the most candidate
    * intersections (Σ_pairs |x∩y| is df-quadratic in the worst case),
    * so it is nearly all of the dot-join volume and nearly none of the
    * signal. Norms prune identically, so the metric is the exact
    * tf-idf cosine over the capped vocabulary — replayed verbatim by
    * the oracle's matching WHERE df <= cap. */
  def qSparseCosine(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docSh = Tables.documents(s, dir)
      .select($"doc_id", shingles(TextOps.tokenize($"text")).as("shs"))
      .filter(size($"shs") > 0)
    val w = docSh.select($"doc_id", explode($"shs").as("sh"))
    val df = w.groupBy($"sh").agg(count(lit(1)).as("df"))
    val n = w.agg(countDistinct($"doc_id").as("n"))
    // NO broadcast hint on the shingle-df join: shingle vocabulary
    // grows with the corpus, so a forced broadcast would OOM at scale.
    // Unhinted, the shuffle join co-partitions on the same `sh` key the
    // df aggregate just used, and the planner may still elect a
    // broadcast from runtime stats when the frame is genuinely small.
    val weights = w.join(df.filter($"df" <= CosMaxDf), "sh")
      .crossJoin(broadcast(n))
      .select($"doc_id", $"sh",
        log($"n".cast("double") / $"df").as("wt"))
    // norms from exact 1e-9-quantized squares: no float accumulates
    // across rows on either engine (round-13 upgrade from sqrt(Σwt²))
    val norms = weights.groupBy($"doc_id")
      .agg(sum(floor($"wt" * $"wt" * 1e9 + 0.5).cast("long")).as("n2m"))
      .select($"doc_id", sqrt($"n2m" / 1e9).as("nrm"))
    // per-doc sorted posting vector (shingles are distinct per doc, so
    // keys are strictly increasing — SortedSparseDotMicro's
    // precondition): the pair dot becomes ONE in-row O(k_x + k_y)
    // codegen'd merge instead of a (pair, shingle)-grain join +
    // re-group — the round-12 verdict's q172 floor-cutter. The keys
    // stay the raw shingle strings: the merge needs only a per-engine
    // total order (array_sort's binary order), not a cross-engine one,
    // and the oracle joins on the raw key
    val docVec = weights.groupBy($"doc_id")
      .agg(array_sort(collect_list(struct($"sh", $"wt"))).as("vec"))
    val blocked = docSh
      .withColumn("blk", array_min($"shs"))
      .withColumn("blk_n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy($"blk")))
      .filter($"blk_n" <= MaxBlock)
      .select($"doc_id", $"blk")
    // vectors ride INTO the block self-join (one shuffle on blk) so
    // pair formation and dot evaluation happen in the same stage — no
    // separate candidate frame re-joined per side on doc_id
    val bv = blocked.join(docVec, "doc_id")
    val dots = bv
      .select($"doc_id".as("x_id"), $"blk", $"vec".as("vx"))
      .join(bv.select($"doc_id".as("y_id"), $"blk", $"vec".as("vy")),
        Seq("blk"))
      .filter($"x_id" < $"y_id")
      .select($"x_id", $"y_id",
        graft.plans.VectorExpressions
          .sortedSparseDotMicro($"vx", $"vy").as("dm"))
    dots
      .join(norms.select($"doc_id".as("x_id"), $"nrm".as("nx")), "x_id")
      .join(norms.select($"doc_id".as("y_id"), $"nrm".as("ny")), "y_id")
      .select($"x_id", $"y_id",
        // all-boilerplate pair on a ≤cap-doc corpus: norms can be 0
        // (every wt = ln(N/N)); NULL cos fails the threshold both sides
        round(($"dm" / 1e9) / when($"nx" * $"ny" =!= 0.0, $"nx" * $"ny"),
          4).as("cos"))
      .filter($"cos" >= 0.5)
      .orderBy($"x_id", $"y_id")
  }

  /** Shingle-novelty curve (q179): per document (in doc_id order — the
    * ingest order), what fraction of its shingles appear here for the
    * FIRST time in the corpus. The dataset-diversity read a curation
    * loop watches while appending sources: a collapsing novelty curve
    * means new data is re-treading old n-grams and marginal training
    * value is falling (the measurement behind data-pruning/dedup
    * interventions). First-seen is one min-aggregate over the shingle
    * stream — the same (sh → min doc_id) shape as exact dedup's
    * keeper — joined back and folded per doc; two shuffles total,
    * both on keys the dedup family already uses. */
  def qNovelty(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Tables.documents(s, dir)
      .select($"doc_id", explode(shingles(TextOps.tokenize($"text"))).as("sh"))
    val first = w.groupBy($"sh").agg(min($"doc_id").as("fdoc"))
    w.join(first, "sh")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(($"fdoc" === $"doc_id").cast("long")).as("n_first"))
      .withColumn("novelty",
        round($"n_first" / $"n_shingles".cast("double"), 4))
      .orderBy($"doc_id")
  }

  /** The q173/q174 hash family: ONE md5 per shingle split into two
    * 48-bit halves, position i derived as (h1 + i·h2) mod 2⁴⁸ —
    * Kirsch & Mitzenstein 2006 ("Less hashing, same performance"),
    * which proves the double-hashing family preserves the minwise
    * estimator's guarantees. Engine-agnostic (md5 on both sides, so
    * the whole signature replays in the oracle, unlike xxhash64 —
    * why q32's oracle falls back to exact all-pairs) AND 32× cheaper
    * than 32 independent md5 calls: one string hash per shingle, the
    * rest integer arithmetic (bench: the 32-md5 form was the suite's
    * slowest pair at 7.3 s each; i·h2 ≤ 31·2⁴⁸ < 2⁵³ so the long
    * arithmetic never overflows). */
  private val Sig48 = 281474976710656L // 2^48

  private def sigPos(i: Int): Column =
    (col("h1") + lit(i.toLong) * col("h2")) % lit(Sig48)

  private val TuneSigK = 32
  /** (bands, rows) layouts of the 32-position signature under study. */
  private val TuneConfigs = Seq((32, 1), (16, 2), (8, 4), (4, 8))

  private def rnd4(x: Double): Double =
    BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** md5-minhash signature frame (doc_id, s0..s31) over plain-token
    * trigram shingles. One shuffle of (doc_id, 32×8 bytes); one md5
    * per shingle (sigPos). */
  private def mdSignatures(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val hashed = Tables.documents(s, dir)
      .select($"doc_id", explode(shingles(TextOps.tokenize($"text"))).as("sh"))
      .select($"doc_id",
        conv(substring(md5(concat(lit("mh:"), $"sh")), 1, 12), 16, 10)
          .cast("long").as("h1"),
        conv(substring(md5(concat(lit("mh:"), $"sh")), 13, 12), 16, 10)
          .cast("long").as("h2"))
    hashed.groupBy($"doc_id")
      .agg(min(sigPos(0)).as("s0"),
        (1 until TuneSigK).map(i => min(sigPos(i)).as(s"s$i")): _*)
  }

  /** LSH band-tuning table (q173): for each (b, r) layout of the same
    * 32-hash signature — the S-curve threshold (1/b)^(1/r), the
    * closed-form detection probability 1−(1−J^r)^b at J = 0.8, and the
    * MEASURED candidate-pair volume that layout generates on THIS
    * corpus (Σ C(bucket,2) over band buckets). The artifact an LSH
    * deployment pins before committing a layout: theory says what J it
    * catches, the measured pair count says what the verify stage pays —
    * at 100 TB the wrong row here is the difference between a linear
    * verify and an accidental all-pairs. Signature build is one
    * shuffle; each layout's bucket count is a partial agg over
    * (band, key) with C(n,2) algebra on bucket sizes — candidate pairs
    * are COUNTED, never materialized. */
  def qLshTuning(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sigs = mdSignatures(s, dir)
    TuneConfigs.map { case (b, r) =>
      val bandCols = (0 until b).map { j =>
        concat_ws(",",
          (0 until r).map(k => col(s"s${j * r + k}").cast("string")): _*)
      }
      val thresh = rnd4(math.pow(1.0 / b, 1.0 / r))
      val p08 = rnd4(1.0 - math.pow(1.0 - math.pow(0.8, r), b))
      sigs.select($"doc_id",
          posexplode(array(bandCols: _*)).as(Seq("band_id", "key")))
        .groupBy($"band_id", $"key").agg(count(lit(1)).as("nb"))
        .filter($"nb" >= 2)
        .agg(count(lit(1)).as("n_buckets"),
          coalesce(sum(expr("nb * (nb - 1) div 2")), lit(0L))
            .as("n_cand_pairs"))
        .select(lit(b).as("b"), lit(r).as("r"),
          lit(thresh).as("s_threshold"), lit(p08).as("p_at_08"),
          $"n_buckets", $"n_cand_pairs")
    }.reduce(_.unionAll(_)).orderBy($"b".desc)
  }

  /** MinHash Jaccard-estimator calibration (q174): for q31's blocked
    * candidate pairs, the signature estimate Ĵ = |{i: sigᵢ agree}|/32
    * next to the exact shingle Jaccard and the signed error — the
    * sketch-calibration table (q146's discipline applied to MinHash):
    * the estimator's ±1/√k error is a theorem, but the table is what
    * lets an operator set the verify threshold so the sketch's false
    * negatives stay below the dedup SLA. Signature agreement is exact
    * integer equality folded across 32 columns; everything replays in
    * the oracle because the hash family is md5 (mdMin). */
  def qMinhashEstimate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sigs = mdSignatures(s, dir)
    val d = Tables.documents(s, dir)
      .select($"doc_id", shingles(TextOps.tokenize($"text")).as("sh"))
      .filter(size($"sh") > 0)
      .withColumn("blk", array_min($"sh"))
      .withColumn("blk_n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy($"blk")))
      .filter($"blk_n" <= MaxBlock)
    val x = d.select($"doc_id".as("x_id"), $"blk", $"sh".as("x_sh"))
    val y = d.select($"doc_id".as("y_id"), $"blk", $"sh".as("y_sh"))
    val inter = size(array_intersect($"x_sh", $"y_sh")).cast("long")
    val union = size($"x_sh").cast("long") + size($"y_sh") - inter
    val pairs = x.join(y, Seq("blk")).filter($"x_id" < $"y_id")
      .select($"x_id", $"y_id",
        round(inter.cast("double") / union, 4).as("j_exact"))
    val sx = sigs.select($"doc_id".as("x_id") +:
      (0 until TuneSigK).map(i => col(s"s$i").as(s"x$i")): _*)
    val sy = sigs.select($"doc_id".as("y_id") +:
      (0 until TuneSigK).map(i => col(s"s$i").as(s"y$i")): _*)
    val agree = (0 until TuneSigK)
      .map(i => (col(s"x$i") === col(s"y$i")).cast("long"))
      .reduce(_ + _)
    pairs.join(sx, "x_id").join(sy, "y_id")
      .select($"x_id", $"y_id",
        agree.as("n_agree"),
        round(agree / lit(TuneSigK.toDouble), 4).as("j_est"),
        $"j_exact")
      .withColumn("err", round($"j_est" - $"j_exact", 4) + lit(0.0))
      .orderBy($"x_id", $"y_id")
  }

  /** Source-overlap MinHash matrix (q267) — q94 counts DOCUMENT pairs
    * that duplicate across sources; this measures how much of two
    * sources' whole CONTENT overlaps, as the Jaccard of their distinct
    * shingle sets — the mirror/syndication radar at corpus grain. The
    * sketch does the work: per source a 16-position MinHash over the
    * union of its shingles (a min-aggregate — each source's signature
    * is 16 longs however many shingles it holds), pairwise estimates
    * from signature agreement; the EXACT set Jaccard rides along as
    * the audit column, computed by per-shingle source-set algebra —
    * each shingle groups to its ≤ |sources| source set and expands its
    * ordered pairs map-side, so intersection counting is bounded per
    * key and never a shingle-keyed join explosion (at 100 TB only the
    * sketch half ships — that's its entire point, the signature is the
    * source's content fingerprint at rest). Same
    * Kirsch-Mitzenmacher md5 family as q174, so the estimates
    * hash-match the oracle. */
  def qSourceOverlap(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sh = Tables.documents(s, dir)
      .select($"source", explode(shingles(TextOps.tokenize($"text")))
        .as("sh"))
      .distinct()
    val hashed = sh.select($"source",
      conv(substring(md5(concat(lit("mh:"), $"sh")), 1, 12), 16, 10)
        .cast("long").as("h1"),
      conv(substring(md5(concat(lit("mh:"), $"sh")), 13, 12), 16, 10)
        .cast("long").as("h2"))
    val sigs = hashed.groupBy($"source")
      .agg(min(sigPos(0)).as("s0"),
        (1 until 16).map(i => min(sigPos(i)).as(s"s$i")): _*)
    val sx = sigs.select($"source".as("source_a") +:
      (0 until 16).map(i => col(s"s$i").as(s"x$i")): _*)
    val sy = sigs.select($"source".as("source_b") +:
      (0 until 16).map(i => col(s"s$i").as(s"y$i")): _*)
    val agree = (0 until 16)
      .map(i => (col(s"x$i") === col(s"y$i")).cast("long"))
      .reduce(_ + _)
    val est = sx.join(sy, $"source_a" < $"source_b")
      .select($"source_a", $"source_b",
        round(agree / lit(16.0), 4).as("j_est"))
    val counts = sh.groupBy($"source").agg(count(lit(1)).as("n_sh"))
    // exact intersections WITHOUT a shingle-keyed self-join: group each
    // shingle to its (sorted, distinct) source set — bounded at
    // |sources| per row BY CONSTRUCTION, the hot-key discipline the
    // rest of the suite applies — then expand the ≤ |sources|² ordered
    // pairs map-side and count per pair. One shuffle on `sh`, one on
    // the |sources|²-bounded pair frame; no hot shingle ever drives a
    // join explosion.
    val bySrcSet = sh.groupBy($"sh")
      .agg(sort_array(collect_set($"source")).as("ss"))
      .filter(size($"ss") >= 2)
    val inter = bySrcSet
      .select(explode($"ss").as("source_a"), $"ss")
      .select($"source_a", explode($"ss").as("source_b"))
      .filter($"source_a" < $"source_b")
      .groupBy($"source_a", $"source_b")
      .agg(count(lit(1)).as("n_inter"))
    est
      .join(counts.select($"source".as("source_a"), $"n_sh".as("na")),
        "source_a")
      .join(counts.select($"source".as("source_b"), $"n_sh".as("nb")),
        "source_b")
      .join(inter, Seq("source_a", "source_b"), "left")
      .withColumn("ni", coalesce($"n_inter", lit(0L)))
      .select($"source_a", $"source_b", $"j_est",
        round($"ni".cast("double") / ($"na" + $"nb" - $"ni"), 4)
          .as("j_exact"),
        (round($"j_est" -
          $"ni".cast("double") / ($"na" + $"nb" - $"ni"), 4) + lit(0.0))
          .as("err"))
      .orderBy($"source_a", $"source_b")
  }

  /** Split-straddle leakage measurement (q264) — the EMPIRICAL case
    * for grouped splits (the number behind q106's design): of the true
    * ≥0.8 near-dup pairs (q199's complete set), how many land with one
    * member in train and the other in eval under (a) q59's doc-level
    * hash split vs (b) q106's source-grouped split — each straddling
    * pair is an eval answer sitting in the training set (Lee et al.
    * 2022's dedup-before-split argument, measured on THIS corpus).
    * Grouped splits kill within-source straddle by construction; what
    * remains is exactly the cross-source duplication q94's off-
    * diagonal counts. Cost: the staged pair frame joins the (doc_id,
    * source) projection twice — pairs broadcast, corpus never
    * self-joins. */
  def qSplitStraddle(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pairs = prefixPairs(s, dir).select($"doc_a", $"doc_b")
    val u = conv(substring(md5(concat(lit("ds:"), $"source")), 1, 6),
      16, 10).cast("double") / lit(16777216.0)
    val docs = Tables.documents(s, dir)
      .select($"doc_id",
        when(pmod($"doc_id", lit(10)) < 8, "train").otherwise("eval")
          .as("doc_split"),
        when(u < 0.8, "train").otherwise("eval").as("grp_split"))
    val ann = pairs
      .join(docs.select($"doc_id".as("doc_a"),
        $"doc_split".as("da"), $"grp_split".as("ga")), "doc_a")
      .join(docs.select($"doc_id".as("doc_b"),
        $"doc_split".as("db"), $"grp_split".as("gb")), "doc_b")
    val agg = ann.agg(count(lit(1)).as("n_pairs"),
      sum(($"da" =!= $"db").cast("long")).as("doc_straddle"),
      sum(($"ga" =!= $"gb").cast("long")).as("grp_straddle"))
    agg.select(
        lit("doc_hash").as("strategy"), $"n_pairs",
        $"doc_straddle".as("n_straddle"),
        round($"doc_straddle".cast("double") / $"n_pairs", 4)
          .as("straddle_rate"))
      .unionAll(agg.select(
        lit("source_grouped").as("strategy"), $"n_pairs",
        $"grp_straddle".as("n_straddle"),
        round($"grp_straddle".cast("double") / $"n_pairs", 4)
          .as("straddle_rate")))
      .orderBy($"strategy")
  }

  /** Boilerplate-template detection (q260) — the cluster-by-prefix
    * pass a web-corpus pipeline runs BEFORE similarity dedup: pages
    * stamped from one template share their opening tokens verbatim
    * (cookie banners, forum headers, SEO boilerplate), so grouping on
    * the normalized first-6-token prefix surfaces template families at
    * one groupBy's cost — no pairwise anything (the cheap complement
    * of q28's span-level machinery). Emits templates with ≥ 3 members:
    * size, distinct sources touched (cross-source templates =
    * syndication boilerplate), and the 3 lowest member ids as the
    * audit sample — bounded via the heap-rewritten rank window, never
    * an unbounded collect per template. */
  def qTemplateDetect(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d = Tables.documents(s, dir)
      .select($"doc_id", $"source",
        lower(concat_ws(" ",
          slice(split($"text", " "), 1, 6))).as("tpl"))
    val grp = d.groupBy($"tpl")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct($"source").as("n_sources"))
      .filter($"n_docs" >= 3)
    val wt = org.apache.spark.sql.expressions.Window
      .partitionBy($"tpl").orderBy($"doc_id".asc)
    val sample = d
      .withColumn("rn", row_number().over(wt)).filter($"rn" <= 3)
      .groupBy($"tpl")
      .agg(concat_ws(",", transform(
        sort_array(collect_list($"doc_id")), _.cast("string")))
        .as("sample_ids"))
    grp.join(sample, "tpl")
      .select($"tpl", $"n_docs", $"n_sources", $"sample_ids")
      .orderBy($"n_docs".desc, $"tpl")
  }

  /** Measured LSH layout recall sweep (q257) — the EMPIRICAL half of
    * q173's closed-form S-curve table: for each (b, r) layout of the
    * same 32-position signature, the fraction of TRUE ≥0.8-Jaccard
    * pairs (q199's exact prefix-join set — complete by theorem, so
    * "recall" is against ground truth, not another heuristic) whose
    * banding actually collides, next to the candidate volume that
    * layout generates. Theory says 1−(1−J^r)^b; this measures it on
    * this corpus — the pair of columns (measured recall, measured
    * cost) a banding config is signed off on. Detection is evaluated
    * PER TRUE PAIR by intersecting the two docs' band-value arrays
    * (index-tagged, so only same-band collisions count) — no banding
    * self-join needed for the recall half; candidate volume counts
    * Σ C(bucket, 2) by bucket-size algebra, pairs never materialize
    * (q173's discipline). */
  def qLshRecallSweep(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sigs = mdSignatures(s, dir).roundBarrier()
    val truth = prefixPairs(s, dir).select($"doc_a", $"doc_b")
    val layouts = Seq((16, 2), (8, 4), (4, 8))
    layouts.map { case (b, r) =>
      val bandArr = array((0 until b).map { bi =>
        concat_ws("_", (lit(bi) +:
          (0 until r).map(j => col(s"s${bi * r + j}"))): _*)
      }: _*)
      val wb = sigs.select($"doc_id", bandArr.as("bands"))
      val det = truth
        .join(wb.select($"doc_id".as("doc_a"), $"bands".as("ba")),
          "doc_a")
        .join(wb.select($"doc_id".as("doc_b"), $"bands".as("bb")),
          "doc_b")
        .agg(count(lit(1)).as("n_true"),
          sum((size(array_intersect($"ba", $"bb")) > 0).cast("long"))
            .as("n_detected"))
      val cand = wb.select(explode($"bands").as("bv"))
        .groupBy($"bv").agg(count(lit(1)).as("n"))
        .agg(sum(($"n" * ($"n" - 1) / 2).cast("long")).as("cand_pairs"))
      det.crossJoin(cand)
        .select(lit(b).as("b"), lit(r).as("r"), $"n_true", $"n_detected",
          round($"n_detected".cast("double") / $"n_true", 4)
            .as("recall"),
          $"cand_pairs")
    }.reduce(_.unionAll(_)).orderBy($"b".desc)
  }

  /** b-bit minhash calibration (q254) — Li & König 2010: store only
    * the LOWEST bit of each of the 32 minhash positions (32 bits of
    * sketch per doc, 48× smaller than the 48-bit-position signature)
    * and estimate Jaccard from the bit-match rate via E[match] =
    * J + (1−J)/2 ⇒ Ĵ₁ = 2·m̂ − 1 (the b = 1 estimator under the
    * paper's small-collision regime). Emitted against q174's full-
    * signature estimate AND the exact Jaccard per blocked pair, so the
    * table shows precisely what the 48× compression costs in estimator
    * variance (Var grows ~3× at J≈0.5) — the number that decides
    * whether the at-rest index (q143) stores bits or positions. Same
    * staged signatures and block-capped pair frame as q174 — only the
    * final per-pair arithmetic differs. */
  def qBbitMinhash(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sigs = mdSignatures(s, dir)
    val d = Tables.documents(s, dir)
      .select($"doc_id", shingles(TextOps.tokenize($"text")).as("sh"))
      .filter(size($"sh") > 0)
      .withColumn("blk", array_min($"sh"))
      .withColumn("blk_n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy($"blk")))
      .filter($"blk_n" <= MaxBlock)
    val x = d.select($"doc_id".as("x_id"), $"blk", $"sh".as("x_sh"))
    val y = d.select($"doc_id".as("y_id"), $"blk", $"sh".as("y_sh"))
    val inter = size(array_intersect($"x_sh", $"y_sh")).cast("long")
    val union = size($"x_sh").cast("long") + size($"y_sh") - inter
    val pairs = x.join(y, Seq("blk")).filter($"x_id" < $"y_id")
      .select($"x_id", $"y_id",
        round(inter.cast("double") / union, 4).as("j_exact"))
    val sx = sigs.select($"doc_id".as("x_id") +:
      (0 until TuneSigK).map(i => col(s"s$i").as(s"x$i")): _*)
    val sy = sigs.select($"doc_id".as("y_id") +:
      (0 until TuneSigK).map(i => col(s"s$i").as(s"y$i")): _*)
    val agreeFull = (0 until TuneSigK)
      .map(i => (col(s"x$i") === col(s"y$i")).cast("long"))
      .reduce(_ + _)
    val agreeB1 = (0 until TuneSigK)
      .map(i => (col(s"x$i") % 2 === col(s"y$i") % 2).cast("long"))
      .reduce(_ + _)
    val jB1 = round(lit(2.0) * (agreeB1 / lit(TuneSigK.toDouble)) -
      lit(1.0), 4) + lit(0.0)
    pairs.join(sx, "x_id").join(sy, "y_id")
      .select($"x_id", $"y_id", $"j_exact",
        round(agreeFull / lit(TuneSigK.toDouble), 4).as("j_full"),
        agreeB1.as("n_bit_match"),
        jB1.as("j_b1"),
        (round(jB1 - $"j_exact", 4) + lit(0.0)).as("err_b1"))
      .orderBy($"x_id", $"y_id")
  }

  private val MinhashK = 32   // signature length
  private val BandRows = 4    // rows per LSH band → 8 bands
  // Verify-stage Jaccard threshold. Shared by buildVerifiedPairs'
  // filter AND the DurableStage salt so the two can never drift — a
  // threshold change without a salt change would silently serve stale
  // staged pairs to q32/q64/q68/q94/q187/q387 (ADVICE r15).
  private val VerifyTau = 0.9

  /** Per-doc MinHash signature columns h0..h{k-1}: min over shingles of a
    * seeded 64-bit hash. Partial aggregation applies — signatures cost one
    * shuffle of (doc_id, k×8 bytes). Frame-generic so the streaming twin
    * (StreamingDedup) signs its micro-batches with EXACTLY the batch
    * hash family — batch ≡ streaming equality depends on it. */
  private[graft] def signaturesFor(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"),
        explode(shingles(normTokens(col("text")))).as("sh"))
      .groupBy(col("doc_id"))
      .agg(
        min(xxhash64(lit(0), col("sh"))).as("h0"),
        (1 until MinhashK).map(i =>
          min(xxhash64(lit(i), col("sh"))).as(s"h$i")): _*)

  private def signatures(s: SparkSession, dir: String): DataFrame =
    signaturesFor(Tables.documents(s, dir))

  /** (doc_id, band_id, band_hash) for any (doc_id, text) frame — the
    * banding of [[signaturesFor]], shared by the batch index and the
    * streaming micro-batch probe. */
  private[graft] def bandsFor(docs: DataFrame): DataFrame =
    bandsOfSig(signaturesFor(docs)
      .withColumn("sig", array((0 until MinhashK).map(i => col(s"h$i")): _*))
      .select(col("doc_id"), col("sig")))

  /** (doc_id, sh) word-trigram shingle frame for any (doc_id, text)
    * frame — the exact-verify side of the streaming twin. */
  private[graft] def shinglesFor(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), normTokens(col("text")).as("toks"))
      .select(col("doc_id"), shingles(col("toks")).as("sh"))
      .filter(size(col("sh")) > 0)

  /** Staged (doc_id, fp, sh) frame — the normalized-token fingerprint +
    * word-trigram shingle set every dedup/contamination query consumes.
    * The cleanText regex chain + tokenize + stopword filter + shingle
    * assembly is the dominant map cost of q32's verify step, q35, and
    * q107; staging it once is the same "tokenize once, reuse
    * everywhere" discipline a 100 TB pipeline applies by materializing
    * the token table next to the corpus. */
  private def docShingles(s: SparkSession, dir: String): DataFrame =
    // Durable (round-16 optimization): the cleanText + tokenize +
    // shingle chain is the dominant map cost of every consumer; a fresh
    // session's first consumer reads it as columns. Bump the version on
    // any change to normTokens/shingles/fp.
    DurableStage.get(s, "doc_shingles", 1,
      Seq(s"$dir/documents.parquet"),
      salt = "trigram;md5fp") {
      Tables.documents(s, dir)
        .select(col("doc_id"), normTokens(col("text")).as("toks"))
        .select(col("doc_id"),
          md5(array_join(col("toks"), " ")).as("fp"),
          shingles(col("toks")).as("sh"))
        .filter(size(col("sh")) > 0)
    }

  private def cachedSignatures(s: SparkSession, dir: String): DataFrame =
    // Durable (round-16 optimization, same rationale as docShingles):
    // the shingle explode + 32-way min aggregation is the signature
    // build's whole cost.
    DurableStage.get(s, "minhash_sigs", 1,
      Seq(s"$dir/documents.parquet"),
      salt = s"k=$MinhashK;xxh-seeded") {
      signatures(s, dir)
        .withColumn("sig",
          array((0 until MinhashK).map(i => col(s"h$i")): _*))
        .select(col("doc_id"), col("sig"))
    }

  /** MinHash-LSH near-dup: band-bucket candidate generation, then the
    * classic LSH verify step — candidates re-checked with the EXACT
    * shingle Jaccard, output = pairs ≥ 0.9. The exact check makes the
    * result oracle-comparable (DuckDB recomputes all-pairs exact Jaccard
    * ≥ 0.9; the engine only ever scores LSH candidates): banding with 8
    * bands × 4 rows finds a J-similar pair with prob 1-(1-J⁴)⁸ — 0.9998
    * at the J = 0.9 output threshold and ≥ 0.999998 at J ≥ 0.95 where
    * every true pair of this corpus sits. The threshold is 0.9, not the
    * round-1 0.5, because oracle parity must hold on ANY corpus, not
    * just one with an empty [0.3, 0.95) similarity band: at J = 0.5 a
    * true pair is banded with probability only ~0.40, so a mid-range
    * pair would be an oracle "miss" that is really a data property
    * (round-2 ADVICE). Fixed xxhash64 seeds keep the candidate set
    * deterministic, so the compare is stable, not flaky. */
  def qMinhashLsh(s: SparkSession, dir: String): DataFrame =
    verifiedPairs(s, dir).orderBy(col("x_id"), col("y_id"))

  /** The staged verified-pairs table (x_id, y_id, jaccard): q32 emits
    * it, and q64/q68/q94/q109/q136/q171/q185/q186 are derived reads —
    * recomputing LSH per consumer measured ~3s each at sf0.1. A
    * run-DURABLE parquet stage (round-15 verdict #1): after the first
    * build anywhere, any recompute — cache eviction, host stall,
    * family reorder, a fresh session or JVM — degrades to a columnar
    * read instead of re-paying the 10-20 s MinHash+banding+verify
    * chain (the q186 exposure that shipped three rounds running). The
    * stage signature carries the LSH config; bump the version on any
    * logic change to buildVerifiedPairs or its upstream
    * shingle/signature steps. */
  private def verifiedPairs(s: SparkSession, dir: String): DataFrame =
    DurableStage.get(s, "verified_pairs", 1,
      Seq(s"$dir/documents.parquet"),
      salt = s"k=$MinhashK;b=$BandRows;tau=$VerifyTau")(
      buildVerifiedPairs(s, dir))

  /** The staged verified near-dup pair frame, exposed for the
    * cross-family agreement audit (q387 in SimilarityQueries). */
  private[operators] def verifiedPairsFrame(s: SparkSession,
      dir: String): DataFrame = verifiedPairs(s, dir)

  /** Lexical exact-Jaccard ≥ 0.9 pair CTE chain (cleaned + stopword-
    * filtered trigram shingles — q32's verify semantics), ending in
    * `lp(x_id, y_id)`. Distinct CTE names from ccOracleCtes so the
    * two can coexist in one statement. */
  private[operators] def lexPairCtes: String = {
    val stops = TextOps.stopwordsSqlList
    val cleanSql = TextOps.cleanTextSql
    s"""cleaned2 AS (
      |  SELECT doc_id,
      |    list_filter(str_split($cleanSql, ' '), t -> t NOT IN $stops)
      |      AS tk
      |  FROM documents),
      |cidx AS (
      |  SELECT doc_id, tk, unnest(range(1, len(tk) - 1)) AS i
      |  FROM cleaned2),
      |csh AS (
      |  SELECT doc_id,
      |    list_distinct(list(tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))
      |      AS sh
      |  FROM cidx GROUP BY doc_id),
      |lp AS (
      |  SELECT x.doc_id AS x_id, y.doc_id AS y_id
      |  FROM csh x JOIN csh y ON x.doc_id < y.doc_id
      |  WHERE len(list_intersect(x.sh, y.sh))
      |      / CAST(len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh))
      |          AS DOUBLE)
      |      >= 0.9)""".stripMargin
  }

  /** (doc_id, band_id, band_hash) LSH band frame off the staged
    * signature table. */
  private def lshBands(s: SparkSession, dir: String): DataFrame =
    bandsOfSig(cachedSignatures(s, dir))

  /** Banding core over a (doc_id, sig) frame. */
  private def bandsOfSig(sig: DataFrame): DataFrame = {
    val nBands = MinhashK / BandRows
    sig.select(col("doc_id"),
      posexplode(array((0 until nBands).map { b =>
        xxhash64(lit(b) +: (0 until BandRows).map(r =>
          element_at(col("sig"), b * BandRows + r + 1)): _*)
      }: _*)).as(Seq("band_id", "band_hash")))
  }

  private def buildVerifiedPairs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // The signature frame is consumed by all bands of both join sides.
    // Without the persist the whole shingle-explode + 32-way min
    // aggregation would re-run per consumer — measured 3× cost at sf0.1.
    // At cluster scale this is the classic "materialize the sketch table
    // once" step.
    val bands = lshBands(s, dir)
    val cand = bands.as("x").join(bands.as("y"),
        $"x.band_id" === $"y.band_id" && $"x.band_hash" === $"y.band_hash" &&
        $"x.doc_id" < $"y.doc_id")
      .select($"x.doc_id".as("x_id"), $"y.doc_id".as("y_id")).distinct()
    val sh = docShingles(s, dir).select($"doc_id", $"sh")
    val inter = size(array_intersect($"x_sh", $"y_sh")).cast("long")
    val union = size($"x_sh").cast("long") + size($"y_sh") - inter
    val jac = inter.cast("double") / union
    cand
      .join(sh.select($"doc_id".as("x_id"), $"sh".as("x_sh")), "x_id")
      .join(sh.select($"doc_id".as("y_id"), $"sh".as("y_sh")), "y_id")
      .filter(jac >= VerifyTau)
      .select($"x_id", $"y_id", round(jac, 4).as("jaccard"))
  }

  /** Dedup yield curve (q136): pair count and would-drop document
    * count at each candidate threshold τ ∈ {0.90, 0.95, 1.00} — the
    * tuning table that prices a τ choice in corpus yield before anyone
    * commits to it (τ=0.95 halving the drop rate vs τ=0.9 is a
    * decision a human signs off on, from exactly this table). A doc
    * "drops" when it is the higher-id side of ANY ≥τ pair — the greedy
    * first-write-wins form, deliberately non-transitive; q64/q109 ship
    * the connected-components-exact resolution at the chosen τ. Cost:
    * three aggregates over the STAGED verified-pair frame (|pairs|,
    * corpus-independent once staged) — the curve is a derived read,
    * not three LSH runs. */
  def qDedupYield(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pairs = verifiedPairs(s, dir)
    Seq(0.9, 0.95, 1.0).map { t =>
      pairs.filter($"jaccard" >= t)
        .agg(count(lit(1)).as("n_pairs"),
          countDistinct($"y_id").as("n_dropped"))
        .select(lit(t).as("tau"), $"n_pairs", $"n_dropped")
    }.reduce(_.unionByName(_)).orderBy($"tau")
  }

  /** Duplicate-CLUSTER resolution: q32's near-dup PAIRS resolved into
    * keeper/loser clusters — the step an actual dedup pipeline ships.
    * Connected components over the verified-pair graph; keeper = the
    * component's minimum doc_id (the reference sinks' "first write wins"
    * unique-index semantics — reference src/rss_consumer.py:53 — is the
    * degenerate exact-dup form of this). Algorithm: iterative min-label
    * propagation — each round every node takes the min label among itself
    * and its neighbors — converging in graph-diameter rounds with an
    * early-stop on the changed-row count; near-dup components are tiny
    * cliques (diameter ≤ 2), so MaxCcIters is generous headroom, and a
    * non-converged exit still emits per-node labels (documented partial,
    * never wrong pairs). Each round shuffles only (doc_id, label); the
    * edge list — |near-dup pairs|, orders of magnitude smaller than the
    * corpus — is persisted once. localCheckpoint truncates the iterative
    * lineage so round N doesn't replay rounds 1..N-1 (a real cluster
    * would checkpoint to reliable storage). At billions of edges one
    * would switch to Large-Star/Small-Star (Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC 2014) for O(log n)
    * rounds; plain min-propagation is the right cost for the shallow
    * near-dup graphs a dedup pass emits. */
  def qDupClusters(s: SparkSession, dir: String): DataFrame =
    clusterLabels(s, dir)
      .select(col("doc_id"), col("keeper_id")).orderBy(col("doc_id"))

  /** Staged cluster-label table (doc_id, keeper_id): q64 emits it;
    * q68's report and q109's apply are derived reads. The CC loop is
    * already eager (localCheckpoint per round), so the persist here
    * costs one cache write of a labels-sized frame. */
  private def clusterLabels(s: SparkSession, dir: String): DataFrame =
    // Durable (round-16 optimization): the CC convergence loop
    // (barrier + changed-count job per round) re-ran per fresh
    // session; after the first build anywhere it is a columnar read.
    // Bump the version on any change to buildClusterLabels; the salt
    // carries the upstream LSH config (the labels derive from
    // verified_pairs).
    DurableStage.get(s, "cluster_labels", 1,
      Seq(s"$dir/documents.parquet"),
      salt = s"k=$MinhashK;b=$BandRows;tau=$VerifyTau;minlabel-cc")(
      buildClusterLabels(s, dir))

  private def buildClusterLabels(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val MaxCcIters = 20
    val pairs = verifiedPairs(s, dir).select($"x_id", $"y_id")
    val edges = pairs.union(pairs.select($"y_id", $"x_id"))
      .toDF("src", "dst")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Both directions are present, so select(src) covers every node.
    var labels = edges.select($"src".as("doc_id"))
      .distinct()
      .select($"doc_id", $"doc_id".as("lbl"))
      .roundBarrier()
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < MaxCcIters) {
      val neigh = edges
        .join(labels.select($"doc_id".as("dst"), $"lbl".as("dst_lbl")),
          "dst")
        .groupBy($"src").agg(min($"dst_lbl").as("n_lbl"))
        .select($"src".as("doc_id"), $"n_lbl")
      val stepped = labels
        .join(neigh, Seq("doc_id"), "left")
        .select($"doc_id", $"lbl".as("old_lbl"),
          least($"lbl", coalesce($"n_lbl", $"lbl")).as("lbl"))
        .roundBarrier()
      changed = stepped.filter($"lbl" < $"old_lbl").count()
      labels = stepped.select($"doc_id", $"lbl")
      iter += 1
    }
    edges.unpersist()
    labels.select($"doc_id", $"lbl".as("keeper_id"))
  }

  /** Dedup APPLY (q109): the keeper-wins pass actually executed — q64
    * finds clusters, q68 reports them, THIS materializes the deduped
    * corpus: every cluster loser anti-joined away, survivors emitted
    * with a content fingerprint (the audit column a downstream consumer
    * re-verifies). The loser frame is |clustered docs| — orders of
    * magnitude smaller than the corpus — so at 100 TB the anti-join
    * broadcasts the losers and the apply is one map-side pass over the
    * corpus; the corpus itself is never shuffled. */
  def qDedupApply(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // explicit hint: the labels frame comes off a checkpointed RDD with
    // no stats, so the static planner would sort-merge; the loser set
    // is |clustered docs| and must broadcast at any corpus scale
    val losers = broadcast(clusterLabels(s, dir)
      .filter($"doc_id" =!= $"keeper_id").select($"doc_id"))
    Tables.documents(s, dir)
      .join(losers, Seq("doc_id"), "left_anti")
      .select($"doc_id", $"lang", md5($"text").as("fp"))
      .orderBy($"doc_id")
  }

  /** Corpus dedup report — the summary line every dedup pipeline ships
    * before anyone trusts its output: total docs, docs in any near-dup
    * cluster, cluster count, rows a keeper-wins pass would drop, and
    * the resulting dedup rate. Consumes q64's labels; the aggregate
    * runs over the label frame, which is orders of magnitude smaller
    * than the corpus (only clustered docs appear in it), crossed with a
    * 1-row corpus count — a broadcast of one row, not a join. */
  def qDedupReport(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val labels = qDupClusters(s, dir)
    val total = Tables.documents(s, dir).agg(count(lit(1)).as("n_docs"))
    val rep = labels.agg(
      count(lit(1)).as("n_clustered"),
      countDistinct($"keeper_id").as("n_clusters"),
      sum(when($"doc_id" =!= $"keeper_id", 1L).otherwise(0L))
        .as("n_losers"))
    total.crossJoin(rep)
      .select($"n_docs", $"n_clustered", $"n_clusters", $"n_losers",
        round($"n_losers".cast("double") / $"n_docs", 6).as("dedup_rate"))
  }

  /** Quality-aware keeper selection (q113): production dedup keeps the
    * BEST member of each near-dup cluster, not the lowest id — "longest
    * version wins" is the standard policy (a truncated mirror or
    * boilerplate-stripped copy loses to the full document; cf. the
    * keep-longest convention of C4-style dedup). The min-id label from
    * q64 stays as the stable CLUSTER identity; the keeper is the argmax
    * by (n_chars, then min doc_id) inside each cluster — computed as a
    * rank window over the members frame, which is |clustered docs|
    * (tiny), after a broadcast join of the staged label table against
    * the corpus projection. Emits one row per cluster with its size, so
    * q109's apply policy is swappable: anti-join (members minus these
    * keepers) instead of (doc_id != min label). */
  def qKeeperPolicy(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val members = broadcast(clusterLabels(s, dir)
      .select($"doc_id", $"keeper_id".as("cluster_id")))
      .join(Tables.documents(s, dir).select($"doc_id", $"n_chars"),
        "doc_id")
    val byQ = org.apache.spark.sql.expressions.Window
      .partitionBy($"cluster_id").orderBy($"n_chars".desc, $"doc_id")
    val size = org.apache.spark.sql.expressions.Window
      .partitionBy($"cluster_id")
    members
      .withColumn("rk", row_number().over(byQ))
      .withColumn("n_members", count(lit(1)).over(size))
      .filter($"rk" === 1)
      .select($"cluster_id", $"doc_id".as("keeper_id"),
        $"n_chars".as("keeper_chars"), $"n_members")
      .orderBy($"cluster_id")
  }

  /** Incremental MinHash-LSH (q112): near-dup detection for an APPENDED
    * batch against an existing corpus — the daily-crawl shape where
    * recomputing the index×index pairs every day is the anti-pattern.
    * Only the new side (doc_id % 3 == 0, q85's append convention)
    * drives the band join: new×index finds cross-batch dups, new×new
    * finds within-batch dups, index×index is NEVER touched — per
    * append the work is |new bands| × bucket collisions, independent of
    * how big the accumulated index has grown. Candidates verify with
    * exact shingle Jaccard off the staged token table, same as q32,
    * and each pair is labeled new_index / new_new so the ingest
    * decides: new_index losers drop immediately ("first write wins"),
    * new_new resolves within the batch. At 100 TB the new-side band
    * frame is a day's crawl — it broadcasts; the index-side band table
    * is pre-bucketed on band_hash so the join co-locates. */
  def qIncrementalLsh(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val bands = lshBands(s, dir)
    val newBands = bands.filter($"doc_id" % 3 === 0)
    val cand = bands.as("x").join(newBands.as("y"),
        $"x.band_id" === $"y.band_id" && $"x.band_hash" === $"y.band_hash" &&
        $"x.doc_id" =!= $"y.doc_id")
      .select(least($"x.doc_id", $"y.doc_id").as("x_id"),
        greatest($"x.doc_id", $"y.doc_id").as("y_id")).distinct()
    val sh = docShingles(s, dir).select($"doc_id", $"sh")
    val inter = size(array_intersect($"x_sh", $"y_sh")).cast("long")
    val union = size($"x_sh").cast("long") + size($"y_sh") - inter
    val jac = inter.cast("double") / union
    cand
      .join(sh.select($"doc_id".as("x_id"), $"sh".as("x_sh")), "x_id")
      .join(sh.select($"doc_id".as("y_id"), $"sh".as("y_sh")), "y_id")
      .filter(jac >= 0.9)
      .select($"x_id", $"y_id", round(jac, 4).as("jaccard"),
        when($"x_id" % 3 === 0 && $"y_id" % 3 === 0, "new_new")
          .otherwise("new_index").as("kind"))
      .orderBy($"x_id", $"y_id")
  }

  /** Training-corpus manifest (q111): the fused END-TO-END pass a
    * corpus release runs — every document routed through the full gate
    * chain with FIRST-MATCH precedence (exact-dup loser → near-dup
    * loser → benchmark-contaminated → quality-fail → kept) and rolled
    * up per language: docs kept, tokens kept, and the drop ledger that
    * must sum back to the corpus count (the release-audit identity).
    * Composition, not recomputation: near-dup losers read the staged
    * cluster-label table (q64's cache), contaminated ids are q35's
    * corpus side, and each gate frame is orders of magnitude smaller
    * than the corpus — at 100 TB all three anti-sets broadcast into the
    * gate joins, so the routing pass itself is one corpus scan plus a
    * languages-sized aggregate (building the exact-dup gate still costs
    * one fp-keyed corpus shuffle, the irreducible price of exact dedup;
    * the near-dup and contamination gates amortize through the staged
    * pair/label/shingle tables).
    * The quality gate here is the two cheapest Gopher bounds (≥30
    * words, mean word length 3–10 — Rae et al. 2021 §A1.1); q46 ships
    * the full rule set. */
  def qTrainingManifest(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
    // one fp-keyed shuffle (min-over-window), not groupBy + self-join —
    // the loser RESULT is small, but its computation is the one real
    // corpus shuffle this query pays beyond the staged dedup frames
    val byFp = org.apache.spark.sql.expressions.Window
      .partitionBy(md5($"text"))
    val exactLosers = docs
      .select($"doc_id", min($"doc_id").over(byFp).as("keeper"))
      .filter($"doc_id" =!= $"keeper")
      .select($"doc_id", lit(1).as("f_exact"))
    val nearLosers = clusterLabels(s, dir)
      .filter($"doc_id" =!= $"keeper_id")
      .select($"doc_id", lit(1).as("f_near"))
    val contaminated = qContamination(s, dir)
      .select($"doc_id").distinct()
      .withColumn("f_contam", lit(1))
    val tk = split($"text", " ")
    val meanWlen = aggregate(transform(tk, x => length(x).cast("double")),
      lit(0.0), (acc, x) => acc + x) / size(tk)
    val reason = when($"f_exact".isNotNull, "drop_exact")
      .when($"f_near".isNotNull, "drop_near")
      .when($"f_contam".isNotNull, "drop_contam")
      .when(!$"q_ok", "drop_quality")
      .otherwise("kept")
    docs
      .select($"doc_id", $"lang", size(tk).cast("long").as("n_tok"),
        (size(tk) >= 30 && meanWlen >= 3.0 && meanWlen <= 10.0).as("q_ok"))
      .join(broadcast(exactLosers), Seq("doc_id"), "left")
      .join(broadcast(nearLosers), Seq("doc_id"), "left")
      .join(broadcast(contaminated), Seq("doc_id"), "left")
      .withColumn("reason", reason)
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(when($"reason" === "kept", 1L).otherwise(0L)).as("n_kept"),
        sum(when($"reason" === "kept", $"n_tok").otherwise(0L))
          .as("n_tokens_kept"),
        sum(when($"reason" === "drop_exact", 1L).otherwise(0L))
          .as("drop_exact"),
        sum(when($"reason" === "drop_near", 1L).otherwise(0L))
          .as("drop_near"),
        sum(when($"reason" === "drop_contam", 1L).otherwise(0L))
          .as("drop_contam"),
        sum(when($"reason" === "drop_quality", 1L).otherwise(0L))
          .as("drop_quality"))
      .orderBy($"lang")
  }

  /** SimHash bit width: 60 bits from the first 15 hex chars of md5 —
    * md5 is the one hash both engines compute identically (q30 proves
    * it), which makes the whole sketch DuckDB-oracle-able, unlike the
    * earlier xxhash64 form. 4 bands × 15 bits keeps the pigeonhole
    * property (hamming ≤ 3 ⇒ some band equal). */
  private val SimhashBits = 60

  /** The (doc_id, simhash) sketch frame — shared by q33 (banded pair
    * finding) and q85 (incremental batch-vs-index dedup). One
    * partial-agg shuffle of 60 small sums per doc. */
  private def simhashSketch(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val tok = Tables.documents(s, dir)
      .select($"doc_id", explode(normTokens($"text")).as("t"))
      .withColumn("h", conv(substring(md5($"t"), 1, 15), 16, 10).cast("long"))
    val bitSums = tok.groupBy($"doc_id").agg(
      sum(when($"h".bitwiseAND(lit(1L)) =!= 0, 1).otherwise(-1)).as("b0"),
      (1 until SimhashBits).map(i =>
        sum(when(shiftright($"h", i).bitwiseAND(lit(1L)) =!= 0, 1)
          .otherwise(-1)).as(s"b$i")): _*)
    val simhash = (0 until SimhashBits).map { i =>
      when(col(s"b$i") > 0, lit(1L << i)).otherwise(0L)
    }.reduce(_.bitwiseOR(_))
    bitSums.select($"doc_id", simhash.as("simhash"))
  }

  /** SimHash: 60-bit per-doc sketch — explode tokens, per-bit signed
    * counts (60 partially-aggregated sums), reassemble sign bits. */
  def qSimhash(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    simhashSketch(s, dir)
      .withColumn("band15", array((0 until 4).map(b =>
        shiftrightunsigned($"simhash", b * 15).bitwiseAND(lit(0x7FFFL))): _*))
      .select($"doc_id", $"simhash",
        element_at($"band15", 1).as("band0"),
        element_at($"band15", 2).as("band1"),
        element_at($"band15", 3).as("band2"),
        element_at($"band15", 4).as("band3"))
      .orderBy($"doc_id")
  }

  /** SimHash bit-balance audit (q251) — the hash-family health check
    * every sketch consumer should run once: a fair sign-random-
    * projection family puts each of the 60 sketch bits at ~50% ones
    * across documents; a biased bit carries less than one bit of
    * information, inflating collision rates and silently loosening
    * q33/q85's hamming thresholds (Manku's detection guarantee assumes
    * independent fair bits). Per bit position: the ones-share, signed
    * bias vs 0.5, and a |bias| > 0.1 flag. The sketch table collapses
    * to 60 cells via one posexploded partial aggregate — map-side
    * combined, metadata-scale output at any corpus size. */
  def qSimhashBitBalance(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    simhashSketch(s, dir)
      .select($"doc_id", posexplode(array((0 until 60).map(b =>
        shiftrightunsigned($"simhash", b).bitwiseAND(lit(1L))): _*))
        .as(Seq("bit", "v")))
      .groupBy($"bit")
      .agg(count(lit(1)).as("n_docs"), sum($"v").as("n_ones"))
      .select($"bit", $"n_ones",
        round($"n_ones".cast("double") / $"n_docs", 4).as("ones_share"),
        (round($"n_ones".cast("double") / $"n_docs" - 0.5, 4) + lit(0.0))
          .as("bias"),
        (abs($"n_ones".cast("double") / $"n_docs" - 0.5) > 0.1)
          .as("skewed"))
      .orderBy($"bit")
  }

  /** Block-combination candidate keys for hamming ≤ 3 over the 60-bit
    * sketch: split into 6 blocks of 10 bits; key on every 3-subset of
    * blocks (C(6,3) = 20 keys/doc). With ≤ 3 flipped bits at most 3
    * blocks are dirty, so ≥ 3 are clean and SOME 3-subset is entirely
    * clean — every true near-dup shares a key (Manku, Jain & Das Sarma,
    * "Detecting Near-Duplicates for Web Crawling", WWW 2007). The point
    * vs q33's 4×15-bit bands is bucket size: a 15-bit band key has 32k
    * buckets — degenerate at web scale — while a combo key carries
    * 30 sketch bits, so buckets shrink like n/2^30 and the candidate
    * join stays sparse at billions of docs. Key layout: 5-bit combo id
    * above three 10-bit blocks (35 bits, collision-free by construction). */
  private val MankuBlocks = 6
  private val MankuPick = 3

  private def mankuKeys(simhash: Column): Column = {
    val combos = (0 until MankuBlocks).combinations(MankuPick).toSeq
    array(combos.zipWithIndex.map { case (blocks, ci) =>
      blocks.foldLeft(lit(ci.toLong): Column) { (acc, b) =>
        shiftleft(acc, 10).bitwiseOR(
          shiftrightunsigned(simhash, b * 10).bitwiseAND(lit(0x3FFL)))
      }
    }: _*)
  }

  /** Incremental dedup (q85): a NEW batch (doc_id % 3 = 0) checked
    * against the already-ingested INDEX (doc_id % 3 ≠ 0) — the shape a
    * continuously-fed pipeline runs every arrival cycle, and the
    * near-dup generalization of the reference sinks' unique-index check
    * (reference src/rss_consumer.py:47-53: new links vs the seen set).
    * Candidates via the 20 Manku combo keys, verified by exact hamming
    * ≤ 3 on the full sketch, each new doc resolved to its best match
    * (min hamming, ties to min index id). In production the index side
    * is a persisted sketch table keyed by combo key — only the batch
    * side is computed per cycle; here both derive from one corpus split,
    * so the sketch frame is built twice (documented test-scale slack —
    * the oracle needs no combo replay because candidate generation is
    * provably lossless at hamming ≤ 3). */
  def qIncrementalDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sk = simhashSketch(s, dir)
    val idx = sk.filter($"doc_id" % 3 =!= 0)
      .select($"doc_id".as("idx_id"), $"simhash".as("idx_sh"),
        explode(mankuKeys($"simhash")).as("k"))
    val nw = sk.filter($"doc_id" % 3 === 0)
      .select($"doc_id".as("new_id"), $"simhash".as("new_sh"),
        explode(mankuKeys($"simhash")).as("k"))
    nw.join(idx, "k")
      .select($"new_id", $"new_sh", $"idx_id", $"idx_sh").distinct()
      .withColumn("hamming",
        bit_count($"new_sh".bitwiseXOR($"idx_sh")).cast("int"))
      .filter($"hamming" <= 3)
      .groupBy($"new_id")
      .agg(min(struct($"hamming", $"idx_id")).as("m"))
      .select($"new_id", $"m.hamming".as("hamming"),
        $"m.idx_id".as("dup_of"))
      .orderBy($"new_id")
  }

  /** Embedding-cosine near-dup: deterministic 1-in-5 subsample, blocked by
    * label, pairs above 0.35 cosine (≈ the corpus' 99.9th percentile).
    * Same blocked-quadratic posture as qNgramJaccard: exact similarity
    * only ever runs inside bounded blocks; the unblocked path is LSH. */
  def qEmbedCosineDup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val dot = graft.plans.VectorExpressions.dot _
    val base = Tables.embeddings(s, dir)
      .filter($"vec_id" % 5 === 0)
      .select($"vec_id", $"label",
        transform($"embedding", _.cast("double")).as("v"))
      .withColumn("nrm", graft.plans.VectorExpressions.l2norm($"v"))
      // zero-magnitude guard: without it cos = 0/0 = NaN, and Spark's
      // NaN-sorts-greatest semantics would leak NaN pairs through >= 0.35
      .filter($"nrm" > 0)
    val x = base.select($"vec_id".as("x_id"), $"label", $"v".as("xv"), $"nrm".as("xn"))
    val y = base.select($"vec_id".as("y_id"), $"label", $"v".as("yv"), $"nrm".as("yn"))
    x.join(y, Seq("label"))
      .filter($"x_id" < $"y_id")
      .select($"x_id", $"y_id", $"label",
        (dot($"xv", $"yv") / ($"xn" * $"yn")).as("raw"))
      .filter($"raw" >= 0.35)
      .select($"x_id", $"y_id", $"label", round($"raw", 4).as("cos"))
      .orderBy($"x_id", $"y_id")
  }

  /** Benchmark decontamination — the train/test-overlap check every
    * LLM data pipeline runs before training: corpus docs that match a
    * held-out benchmark set exactly (normalized fingerprint) or nearly
    * (shared min-shingle block + exact Jaccard ≥ 0.5). The benchmark
    * here is the synthetic `doc_id % 11` slice; in production it is the
    * eval suites. Plan shape: two joins keyed on 16-byte digests /
    * min-shingle strings — never text, never all-pairs; the near path
    * inherits q31's content blocking AND its MaxBlock guard (round-3
    * verdict #2): a degenerate min-shingle — shared boilerplate across
    * the corpus or a huge benchmark suite — would otherwise recreate
    * all-pairs inside that block. One windowed count over blk caps both
    * join sides at once, so at 100 TB the work is |blocks|-bounded with
    * block size ≤ MaxBlock exactly like the dedup suite. */
  def qContamination(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // fp + shingles read from the staged docShingles frame — the
    // tokenize chain runs once per session+dir, shared with q32's
    // verify step and q107
    val base = docShingles(s, dir)
      .withColumn("blk", array_min($"sh"))
      .withColumn("blk_n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy($"blk")))
      .filter($"blk_n" <= MaxBlock)
    // ONE blk-keyed join finds both kinds: an exact dup has identical
    // normalized tokens ⇒ identical shingles ⇒ the same min-shingle
    // block, so fp equality inside the block distinguishes exact from
    // near — no second join. The bench/corpus filters below partition
    // the corpus DISJOINTLY. They sit ABOVE the blk_n window (the cap
    // must count the whole block, bench + corpus together), so the
    // token/shingle chain + window run once and both sides reuse the
    // blk-partitioned Exchange the window already paid for.
    val bench = base.filter($"doc_id" % 11 === 0)
      .select($"doc_id".as("bench_id"), $"fp".as("b_fp"),
        $"sh".as("b_sh"), $"blk")
    val corpus = base.filter($"doc_id" % 11 =!= 0)
    val inter = size(array_intersect($"sh", $"b_sh")).cast("long")
    val union = size($"sh").cast("long") + size($"b_sh") - inter
    corpus.join(bench, Seq("blk"))
      .filter(inter.cast("double") / union >= 0.5)
      .select($"doc_id", $"bench_id",
        when($"fp" === $"b_fp", lit("exact")).otherwise(lit("near"))
          .as("kind"))
      .orderBy($"doc_id", $"bench_id", $"kind")
  }

  /** Fractional n-gram contamination (q107): per-document SHARE of its
    * n-grams that appear anywhere in the benchmark set — the GPT-3
    * appendix-C "dirtiness" score, where q35 only flags whole-document
    * hits. A doc quoting one benchmark sentence scores 0.1, a paraphrase
    * 0.9; the trainer picks the removal threshold. Shape: grams join,
    * NOT doc-pairs — the benchmark side is `distinct` gram hashes, so
    * each corpus gram matches at most ONE bench row and the join can
    * never blow up quadratically (q35's block cap is unnecessary here).
    * Grams travel as 60-bit md5 prefixes, not strings: at 100 TB the
    * shuffle carries 8-byte keys (collision odds ~n²/2⁶¹ — immaterial),
    * and the per-doc fraction is a map-side partial average. */
  def qContamFraction(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d = docShingles(s, dir).select($"doc_id", $"sh")
    def gh(c: Column) =
      conv(substring(md5(c), 1, 15), 16, 10).cast("long")
    val corpus = d.filter($"doc_id" % 11 =!= 0)
      .select($"doc_id", explode($"sh").as("g0"))
      .select($"doc_id", gh($"g0").as("g"))
    val bench = d.filter($"doc_id" % 11 === 0)
      .select(explode($"sh").as("g0"))
      .select(gh($"g0").as("g")).distinct()
      .withColumn("hit", lit(1.0))
    corpus.join(bench, Seq("g"), "left")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_grams"),
        round(avg(coalesce($"hit", lit(0.0))), 4).as("contam_frac"))
      .orderBy($"doc_id")
  }

  /** Cross-document duplicated-SPAN detection — the document-boundary
    * half of exact-substring dedup (Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better"): two docs sharing ≥ 3
    * distinct 8-token windows share real prose, not vocabulary. Plan:
    * per-doc window digests (map-only), a window-frequency pass that
    * DROPS boilerplate spans appearing in > 50 docs (published practice —
    * and the skew guard: without it one viral span makes a quadratic
    * hash bucket), then a digest-keyed self-join. The shuffle carries
    * 16-byte digests; the join is |bucket|-bounded ≤ 50 by construction. */
  def qSpanDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val SpanTok = 8
    val MaxDf = 50
    val MinShared = 3
    val toksCol = TextOps.tokenize($"text")
    val spans = Tables.documents(s, dir)
      .select($"doc_id", toksCol.as("toks"))
      .filter(size($"toks") >= SpanTok)
      .select($"doc_id", explode(array_distinct(
        transform(sequence(lit(1), size($"toks") - (SpanTok - 1)),
          i => md5(concat_ws(" ", slice($"toks", i, lit(SpanTok)))))))
        .as("h"))
    val rare = spans.groupBy($"h")
      .agg(collect_list($"doc_id").as("ids"), count(lit(1)).as("df"))
      .filter($"df".between(2, MaxDf))
    // pairs from inside each ≤50-doc bucket
    val pairs = rare
      .select(explode($"ids").as("x_id"), $"ids")
      .select($"x_id", explode($"ids").as("y_id"))
      .filter($"x_id" < $"y_id")
    pairs.groupBy($"x_id", $"y_id")
      .agg(count(lit(1)).as("n_shared"))
      .filter($"n_shared" >= MinShared)
      .orderBy($"x_id", $"y_id")
  }

  /** Edit-distance near-dup verify (q148): the CHARACTER-level
    * similarity modality the suite's other dedup paths don't cover —
    * token Jaccard (q31), MinHash (q32), SimHash (q33) and embedding
    * cosine (q34) all tokenize first, so a pair differing by in-word
    * typos/OCR noise can slip every token-level net. Classic record-
    * linkage shape (Fellegi & Sunter 1969): cheap BLOCKING first (first
    * two tokens, block size capped like q31's MaxBlock so no hot block
    * goes quadratic), then the expensive exact verify — normalized
    * Levenshtein over a fixed 60-char prefix — only inside blocks.
    * Levenshtein is O(len²) per pair, which is exactly why the prefix
    * is FIXED-length: per-pair cost is a constant, total cost is
    * pairs-in-blocks, and both are corpus-rate-independent knobs. Both
    * engines ship the same DP levenshtein, so the oracle replays the
    * verify exactly. */
  def qEditDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d = Tables.documents(s, dir)
      .select($"doc_id", substring($"text", 1, 60).as("p"),
        concat_ws(" ", slice(split($"text", " "), 1, 2)).as("blk"))
      .withColumn("blk_n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy($"blk")))
      .filter($"blk_n" <= MaxBlock)
    val x = d.select($"doc_id".as("x_id"), $"p".as("xp"), $"blk")
    val y = d.select($"doc_id".as("y_id"), $"p".as("yp"), $"blk")
    val sim = lit(1.0) - levenshtein($"xp", $"yp").cast("double") /
      greatest(length($"xp"), length($"yp"))
    x.join(y, Seq("blk"))
      .filter($"x_id" < $"y_id")
      .filter(sim >= 0.7)
      .select($"x_id", $"y_id", round(sim, 4).as("sim"))
      .orderBy($"x_id", $"y_id")
  }

  /** Sorted-neighborhood dedup (q222) — Hernández & Stolfo 1995, the
    * third blocking FAMILY next to key-equality blocks (q148/q31) and
    * LSH banding (q32): sort by a cheap key (lowercased 20-char text
    * prefix) and compare each record only to its w−1 = 2 successors in
    * key order, so candidate volume is exactly (w−1)·n — LINEAR by
    * construction, with no hot-block quadratic to cap. Catches
    * near-sorted-adjacent variants whose first tokens differ (q148's
    * block key splits them) at the price of missing pairs farther than
    * w apart — the documented SNM recall trade (production runs
    * multiple passes with different keys). Scale shape: the window
    * partitions by (lang, FIRST KEY CHARACTER) — lang alone is ~5 hot
    * partitions, each sorting its whole slice on one reducer at
    * 100 TB; the prefix shard bounds every sort at a character class's
    * volume and costs at most w−1 cross-boundary candidate pairs per
    * shard edge (the q233 day-boundary trade, replayed identically by
    * the oracle; production would range-partition with w-row overlap
    * to recover even those). Verify = q148's fixed-prefix normalized
    * Levenshtein, so per-pair cost is a constant. */
  def qSnmDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"lang", substring($"sk", 1, 1))
      .orderBy($"sk", $"doc_id")
    val d = Tables.documents(s, dir)
      .select($"doc_id", $"lang",
        lower(substring($"text", 1, 20)).as("sk"),
        substring($"text", 1, 60).as("p"))
      .withColumn("cand", array(
        struct(lead($"doc_id", 1).over(w).as("id"),
          lead($"p", 1).over(w).as("cp"), lit(1).as("w_dist")),
        struct(lead($"doc_id", 2).over(w).as("id"),
          lead($"p", 2).over(w).as("cp"), lit(2).as("w_dist"))))
    val sim = lit(1.0) - levenshtein($"p", $"c.cp").cast("double") /
      greatest(length($"p"), length($"c.cp"))
    d.select($"doc_id", $"p", explode($"cand").as("c"))
      .filter($"c.id".isNotNull)
      .filter(sim >= 0.7)
      .select(least($"doc_id", $"c.id").as("x_id"),
        greatest($"doc_id", $"c.id").as("y_id"),
        $"c.w_dist".as("w_dist"), round(sim, 4).as("sim"))
      .orderBy($"x_id", $"y_id")
  }

  /** Fellegi–Sunter probabilistic linkage scores (q223) — the 1969
    * decision model behind every production record linker (Splink,
    * the census MDM stacks): per blocked candidate pair an agreement
    * vector over cheap fields, each field contributing ln(m/u) on
    * agreement and ln((1−m)/(1−u)) on disagreement (m = P(agree|match),
    * u = P(agree|non-match) — literal here, EM-fitted in production),
    * summed to a log-likelihood-ratio match weight thresholded into
    * link / possible / non-link. Upgrades q148's single-signal verify
    * to multi-evidence fusion: a pair agreeing on lang+source+length
    * band scores links even where the text prefix disagrees. Blocking
    * and cost posture identical to q148 (first-two-token key, MaxBlock
    * cap, constant per-pair work); the weight table is 4 literal
    * doubles — rides in the plan, broadcast-free. */
  def qFsLinkage(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d = Tables.documents(s, dir)
      .select($"doc_id", $"lang", $"source",
        ($"n_chars" divide 100).cast("long").as("band"),
        substring($"text", 1, 40).as("pfx"),
        concat_ws(" ", slice(split($"text", " "), 1, 2)).as("blk"))
      .withColumn("blk_n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy($"blk")))
      .filter($"blk_n" <= MaxBlock)
    val x = d.select($"doc_id".as("x_id"), $"lang".as("xl"),
      $"source".as("xs"), $"band".as("xb"), $"pfx".as("xp"), $"blk")
    val y = d.select($"doc_id".as("y_id"), $"lang".as("yl"),
      $"source".as("ys"), $"band".as("yb"), $"pfx".as("yp"), $"blk")
    def fsw(agree: Column, m: Double, u: Double): Column =
      when(agree, log(lit(m) / lit(u)))
        .otherwise(log(lit(1.0 - m) / lit(1.0 - u)))
    val score =
      fsw($"xl" === $"yl", 0.95, 0.30) +
      fsw($"xs" === $"ys", 0.90, 0.25) +
      fsw($"xb" === $"yb", 0.85, 0.10) +
      fsw($"xp" === $"yp", 0.70, 0.01)
    x.join(y, Seq("blk"))
      .filter($"x_id" < $"y_id")
      .select($"x_id", $"y_id",
        ($"xl" === $"yl").as("agr_lang"),
        ($"xs" === $"ys").as("agr_source"),
        ($"xb" === $"yb").as("agr_band"),
        ($"xp" === $"yp").as("agr_prefix"),
        round(score, 4).as("fs_weight"),
        when(score >= 4.0, lit("link"))
          .when(score < 0.0, lit("non_link"))
          .otherwise(lit("possible")).as("verdict"))
      .orderBy($"x_id", $"y_id")
  }

  /** Intra-document repetition score — the standard generated-/boiler-
    * plate-text quality gate: 1 − distinct/total word-trigrams. High
    * values mean the document repeats itself. Map-only expressions, no
    * shuffle but the presentation sort. */
  def qRepetition(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val toks = TextOps.tokenize($"text")
    Tables.documents(s, dir)
      .select($"doc_id",
        greatest(size(toks) - 2, lit(0)).cast("long").as("n_shingles"),
        size(shingles(toks)).cast("long").as("n_distinct"))
      .filter($"n_shingles" > 0)
      .select($"doc_id", $"n_shingles", $"n_distinct",
        round(lit(1.0) - $"n_distinct".cast("double") / $"n_shingles", 4)
          .as("repetition"))
      .orderBy($"doc_id")
  }

  /** EXACT set-similarity self-join via prefix filtering (q199): every
    * doc pair with shingle-Jaccard ≥ 0.8 — COMPLETE, unlike the
    * probabilistic paths (q31 blocks on one min-shingle and caps
    * blocks; q32's banding detects with p<1): the prefix-filter theorem
    * (Chaudhuri et al. SSJoin 2006; Bayardo et al. WWW'07; Xiao et al.
    * PPJoin WWW'08) guarantees any qualifying pair shares a token in
    * the two prefixes of length |x| − ⌈τ·|x|⌉ + 1 taken under ONE
    * global token order (rarest-first, ties by value). The brute-force
    * oracle IS the completeness test. All thresholds in exact integer
    * arithmetic (τ = 4/5: ceil(4n/5) = (4n+4) div 5; J ≥ τ ⇔
    * 5·i ≥ 4·(na+nb−i)), so no float ever decides a pair. Scale
    * shape: candidates are bounded by prefix-token collisions — rare
    * tokens first makes prefixes maximally selective; the df order
    * table is |distinct shingles|, so its join is an unhinted shuffle
    * join on the shingle key — one extra pass of the token stream,
    * never a forced vocab-sized broadcast (and at 100 TB the df
    * ordering itself caps to a hashed approximation as the PPJoin
    * lineage does in production). Candidate pairs carry their
    * sorted shingle arrays into the verify, as q31 does. */
  def qPrefixJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    prefixPairs(s, dir)
      .select($"doc_a", $"doc_b",
        round($"i".cast("double") / ($"na" + $"nb" - $"i"), 4)
          .as("jaccard"))
      .orderBy($"doc_a", $"doc_b")
  }

  /** The verified ≥ 0.8 pair frame behind q199 (and q201/q203's
    * near-dup label): (doc_a, doc_b, i, na, nb) with 5·i ≥ 4·(na+nb−i).
    * Durable (round-16 optimization): q199 emits it and the eval
    * family reads it, but the prefix-filter build measured ~3.9 s of
    * q199's 4.22 s cold at sf0.1, re-paid per fresh session; the
    * durable stage turns that into a columnar read. Bump the version
    * on any change to buildPrefixPairs; the threshold is in the salt. */
  private[operators] def prefixPairs(s: SparkSession, dir: String)
      : DataFrame =
    DurableStage.get(s, "prefix_pairs", 2,
      Seq(s"$dir/documents.parquet"),
      salt = s"tau=$PrefixTauNum/$PrefixTauDen;prefix-filter")(
      buildPrefixPairs(s, dir))

  /** q199's Jaccard threshold τ = PrefixTauNum / PrefixTauDen, kept as
    * two integers so every threshold test stays exact integer math. */
  private val PrefixTauNum = 4
  private val PrefixTauDen = 5

  private def buildPrefixPairs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // Materialized once (eager barrier): `sets` feeds both the df agg
    // and the ordered rebuild, and `ordered` feeds the prefix explode
    // plus BOTH verify-side set lookups — without the barrier each
    // consumer re-pays the tokenize+shingle map chain.
    val sets = Tables.documents(s, dir)
      .select($"doc_id", shingles(TextOps.tokenize($"text")).as("sh"))
      .filter(size($"sh") > 0)
      .roundBarrier()
    val df = sets.select($"doc_id", explode($"sh").as("term"))
      .groupBy($"term").agg(count(lit(1)).as("df"))
    // shingle-df join left UNHINTED (q172's discipline): the df frame
    // is |distinct shingles| and grows with the corpus, so the shuffle
    // join on the already-aggregated `term` key is the scale path — one
    // extra pass of the token stream, never a forced vocab broadcast.
    val ordered = sets.select($"doc_id", explode($"sh").as("term"))
      .join(df, "term")
      .groupBy($"doc_id")
      .agg(array_sort(collect_list(struct($"df", $"term"))).as("st"))
      .select($"doc_id",
        transform($"st", x => x.getField("term")).as("toks"),
        size($"st").as("n"))
      .roundBarrier()
    // Candidate generation moves IDs AND SIZES ONLY (guide §8 / §2.3:
    // decide with small rows, move big rows once): round-16's spelling
    // carried each doc's full sorted shingle array through the prefix
    // explode, the self-join and the pair dedup — every candidate row
    // shipped two document-sized payloads across the exchange. The
    // arrays are re-attached AFTER the (doc_a, doc_b) pair set is
    // final, by two joins against the barriered `ordered` frame.
    val prefLen = $"n" -
      expr(s"($PrefixTauNum * n + ${PrefixTauDen - 1}) div $PrefixTauDen") + 1
    val pre = ordered.select($"doc_id", $"n",
      explode(slice($"toks", lit(1), prefLen)).as("term"))
    val cand = pre.select($"term", $"doc_id".as("doc_a"), $"n".as("na"))
      .join(pre.select($"term", $"doc_id".as("doc_b"), $"n".as("nb")),
        Seq("term"))
      .filter($"doc_a" < $"doc_b")
      .filter(least($"na", $"nb") * PrefixTauDen >=
        greatest($"na", $"nb") * PrefixTauNum)
      .select($"doc_a", $"doc_b", $"na", $"nb")
      .dropDuplicates("doc_a", "doc_b")
    val withSets = cand
      .join(ordered.select($"doc_id".as("doc_a"), $"toks".as("ta")),
        "doc_a")
      .join(ordered.select($"doc_id".as("doc_b"), $"toks".as("tb")),
        "doc_b")
    val inter = size(array_intersect($"ta", $"tb")).cast("long")
    withSets
      .select($"doc_a", $"doc_b", inter.as("i"), $"na", $"nb")
      .filter($"i" * PrefixTauDen >= ($"na" + $"nb" - $"i") * PrefixTauNum)
  }

  /** Pagination stitching (q272) — web extraction splits one logical
    * article into page-1/page-2 fragments; the repair signal is a
    * doc whose LAST tokens equal another doc's FIRST tokens within the
    * same source. Candidates come from one co-keyed equi-join on
    * (source, boundary 2-gram) — suffix projection ⋈ prefix projection,
    * never an all-pairs comparison — with the suite's hot-block guard:
    * boundary grams opening more than MaxStitch docs in a source are
    * boilerplate openings ("in this article …"), not page breaks, and
    * are dropped whole from BOTH sides (the q31 MaxBlock discipline;
    * false stitches are worse than missed ones because stitching
    * mutates documents). Everything is map-side until the single
    * equi-join shuffle. */
  def qPageStitch(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val MaxStitch = 50
    val t = Tables.documents(s, dir)
      .select($"doc_id", $"source", split($"text", " ").as("w"))
      .filter(size($"w") >= 2)
    val suf = t.select($"doc_id".as("a_id"), $"source",
      concat_ws(" ", element_at($"w", -2), element_at($"w", -1)).as("g"))
    val pre = t.select($"doc_id".as("b_id"), $"source",
      concat_ws(" ", element_at($"w", 1), element_at($"w", 2)).as("g"))
    val hot = pre.groupBy($"source", $"g").agg(count(lit(1)).as("n"))
      .filter($"n" > MaxStitch).select($"source", $"g")
    val safeSuf = suf.join(hot, Seq("source", "g"), "left_anti")
    val safePre = pre.join(hot, Seq("source", "g"), "left_anti")
    safeSuf.join(safePre, Seq("source", "g"))
      .filter($"a_id" =!= $"b_id")
      .select($"source", $"a_id", $"b_id", $"g".as("stitch_gram"))
      .orderBy($"source", $"a_id", $"b_id")
  }

  /** q285 constants: suffix order is defined by the first `SaContext`
    * tokens (bounded context ⇒ exactly log₂(SaContext) doubling
    * rounds), and every global dense rank runs through `SaBuckets`
    * order-aligned buckets (q84's distributed prefix-rank shape — grow
    * with the corpus to keep per-bucket windows bounded).
    *
    * Why 16 and not Lee et al. 2022's published 50-token threshold:
    * the chain's dedup window (q287 keeps one occurrence of every
    * duplicated `SaContext`-token span; q290 cuts the rest) trades
    * FIDELITY (how long a span must be before it is called a
    * duplicate) against BUILD COST (one full-corpus self-join + one
    * distributed rank per doubling round — ⌈log₂ SaContext⌉ rounds,
    * each checkpoint-barriered). 16 = 4 rounds and already subsumes
    * q28's 8-token span digests exactly; 64 ≈ the paper's 50 BPE
    * tokens = 6 rounds (+50% build) and, on this corpus's ~150-token
    * synthetic docs, leaves the removal plan nearly empty — nothing
    * for q287/q290's oracles to prove. The width is a single constant:
    * production lifts it to 64 (the three SQL oracles carry the same
    * constant via interpolation) and pays two more checkpointed
    * rounds; every other shape — bucketed ranks, island merge, token
    * surgery — is width-independent. */
  private val SaContext = 16
  private val SaBuckets = 16

  /** Round-0 seed width (round-17): the doubling build used to seed at
    * 1 token (5 global-rank rounds to reach 16); it now seeds at the
    * rank of the SaSeed-token prefix STRING — join-with-space is
    * order-equivalent to token-sequence order because ' ' sorts below
    * every token byte, the exact argument the q285 oracle already
    * relies on — so the build is 3 global-rank rounds (4 → 8 → 16),
    * each a full barrier + self-join + distributed rank saved. The
    * scale trade is explicit: a seed row carries ~SaSeed tokens of
    * string instead of one, so seed-round shuffle bytes grow ~4× on
    * ~150-token docs while two entire position-scale rounds disappear;
    * past the seed, rounds shuffle fixed-width rank pairs as before.
    * Must divide SaContext by a power of two. */
  private val SaSeed = 4

  /** Suffix-array construction by prefix doubling (q285) — the data
    * structure under exact-substring dedup (Lee et al. 2022 build a
    * corpus suffix array to find every repeated span; q28's fixed
    * 8-token window digests are the hash approximation of what this
    * computes exactly). The naive build materializes and sorts whole
    * suffixes — O(corpus²) bytes of comparisons, impossible at scale.
    * Prefix doubling (Manber & Myers 1990) never materializes a
    * suffix: round d ranks each position by the PAIR of round-(d−1)
    * ranks at (pos, pos+2^(d−1)), so context doubles per round and
    * every round is relational — one self-join on (doc_id, pos+step)
    * plus one global dense rank. Order is bounded at `SaContext`=16
    * tokens (ties beyond 16 tokens legitimately share a rank — the
    * dedup use-case only needs spans up to the verify window), which
    * caps the build at 4 rounds on any corpus.
    *
    * Scale posture: the global dense rank is NEVER a one-reducer
    * window — each round buckets by an order-aligned key (round 0:
    * the token's first char; later rounds: a fixed-width slice of the
    * previous — already dense — rank), computes dense_rank per bucket,
    * and adds per-bucket offsets from a metadata-scale cumsum, exactly
    * q84's distributed prefix rank. End-of-suffix ranks as 0 (< every
    * real rank ≥ 1), which matches "shorter suffix sorts first" — so
    * the DuckDB oracle can rank by the materialized 16-token prefix
    * STRING (join-with-space is order-equivalent to token-sequence
    * order because ' ' < every token byte) and the hash match proves
    * distributed doubling ≡ naive suffix sort. */
  def qSuffixArray(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    suffixRanks(s, dir).orderBy($"sfx_rank", $"doc_id", $"pos")
  }

  /** The rank frame behind q285, unsorted — shared with q287, which
    * consumes rank EQUALITY (not order) and must not inherit a global
    * sort it would immediately throw away. Durable (round-16
    * optimization, the verified_pairs discipline): the 4-round doubling
    * build measured ~6.9 s of q285's 7.15 s cold at sf0.1, re-paid by
    * every fresh session/JVM; after the first build anywhere it
    * degrades to a columnar read. Bump the version on any change to
    * buildSuffixRanks, SaContext, or SaBuckets. */
  private def suffixRanks(s: SparkSession, dir: String): DataFrame =
    DurableStage.get(s, "suffix_ranks", 3,
      Seq(s"$dir/documents.parquet"),
      salt = s"ctx=$SaContext;bkts=$SaBuckets;seed=$SaSeed")(
      buildSuffixRanks(s, dir))

  /** The actual doubling build. Lineage discipline (round-9 fix): each
    * doubling round ends in an EAGER localCheckpoint, and the
    * within-round `ranked` frame is persisted while the round's two
    * remaining consumers (bucket-offset cumsum, final rank select)
    * read it. Without the per-round barrier, round d's self-join
    * consumes round d−1's whole DAG ~5×, so the base scan re-evaluates
    * O(5^4)× — measured 313 s at sf0.1 vs ~218 s for the other 294
    * queries combined; at 100 TB it would never finish. This is the
    * same truncation posture every iterative operator in the repo
    * carries (q158/q216/q219/q220, GraphQueries starComponents). */
  private[graft] def buildSuffixRanks(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window

    val wOff = Window.orderBy($"bkt")
      .rowsBetween(Window.unboundedPreceding, -1)

    // Round 0: global dense rank of each position's SaSeed-token
    // prefix string (see SaSeed — string order ≡ token-sequence order
    // because ' ' < every token byte; a shorter-than-SaSeed tail ranks
    // by its actual string, which is a strict prefix and sorts first —
    // exactly the "shorter suffix sorts first" rule the doubling
    // rounds' rb=0 convention continues). The prefix array is built
    // in-row (one slice per position) and exploded once; the exploded
    // table feeds both the offset agg and the rank select — persist it
    // for the round instead of scanning the corpus twice.
    // Round-17 restructure (guide §1.2/§2): each round used to run
    // THREE position-scale passes — an rmax aggregate, a
    // countDistinct offsets shuffle, and the dense-rank window. But
    // (a) per bucket, countDistinct(order key) == max(dense_rank) —
    // read the bucket size off the ranked frame instead of
    // re-shuffling for it; and (b) the global rank is DENSE, so next
    // round's rmax == this round's total rank count == max(off + nd),
    // a driver scalar carried between rounds — the rmax pass and its
    // crossJoin disappear. One wide pass per round (join + window),
    // persisted while its two tiny consumers (offset cumsum + final
    // select) read it.
    def offsetsOf(ranked: DataFrame): DataFrame = ranked
      .groupBy($"bkt").agg(max($"lr").as("nd"))
      .withColumn("off", coalesce(sum($"nd").over(wOff), lit(0L)))
    // next round's bucket divisor: the dense total, collected tiny
    def totalOf(offs: DataFrame): Long = math.max(1L, offs
      .agg(coalesce(max($"off" + $"nd"), lit(1L))).collect()(0).getLong(0))

    val ranked0 = Tables.documents(s, dir)
      .select($"doc_id", split($"text", " ").as("tk"))
      .select($"doc_id", expr(
        s"transform(tk, (t, i) -> array_join(slice(tk, i + 1, $SaSeed), ' '))")
        .as("pfx"))
      .select($"doc_id", posexplode($"pfx").as(Seq("p", "g")))
      .select($"doc_id", ($"p" + 1).as("pos"), $"g",
        substring($"g", 1, 1).as("bkt"))
      .withColumn("lr", dense_rank().over(
        Window.partitionBy($"bkt").orderBy($"g")).cast("long"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val off0 = offsetsOf(ranked0)
    var rmax = if (SaSeed < SaContext) totalOf(off0) else 1L
    var sfx = ranked0
      .join(broadcast(off0.select($"bkt", $"off")), "bkt")
      .select($"doc_id", $"pos", ($"off" + $"lr").as("r"))
      .roundBarrier() // eager: round barrier
    ranked0.unpersist()

    var step = SaSeed
    while (step < SaContext) {
      // Rank `step` positions ahead (0 = suffix ends inside the gap).
      val ahead = sfx.select($"doc_id", ($"pos" - step).as("pos"),
        $"r".as("rb0"))
      // Order-aligned bucket: ranks are dense in [1, rmax], so a
      // fixed-width slice of ra is monotone in (ra, rb) order.
      val ranked = sfx.join(ahead, Seq("doc_id", "pos"), "left")
        .select($"doc_id", $"pos", $"r".as("ra"),
          coalesce($"rb0", lit(0L)).as("rb"))
        .withColumn("bkt",
          (($"ra" - 1) * SaBuckets / lit(rmax)).cast("int"))
        .withColumn("lr", dense_rank().over(
          Window.partitionBy($"bkt").orderBy($"ra", $"rb")).cast("long"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val offs = offsetsOf(ranked)
      if (step * 2 < SaContext) rmax = totalOf(offs)
      sfx = ranked
        .join(broadcast(offs.select($"bkt", $"off")), "bkt")
        .select($"doc_id", $"pos", ($"off" + $"lr").as("r"))
        .roundBarrier() // eager: ranked fully consumed past here
      ranked.unpersist()
      step *= 2
    }
    sfx.select($"doc_id", $"pos".cast("long").as("pos"),
        $"r".as("sfx_rank"))
  }

  /** Exact repeated-span removal plan (q287) — the APPLY step of Lee
    * et al. 2022's exact-substring dedup, composed on q285's suffix
    * ranks: a full 16-token window is duplicated iff its start
    * position shares a suffix rank with another full-window start
    * (rank equality ⟺ first-16-token equality, which is exactly the
    * window). One global keeper survives per duplicated window —
    * chosen by min composite key doc_id·10⁶+pos, an AGGREGATE (never
    * a per-rank row_number window: a boilerplate span repeated across
    * millions of docs would make that rank a one-reducer hot key,
    * while min() partial-aggregates map-side) — every other
    * occurrence is marked, and each doc's marked 16-token intervals
    * merge into maximal removal spans by lag-based gaps-and-islands
    * (per-doc window, bounded by doc length). Output: one row per
    * merged span with its token extent — the plan a rewriter executes
    * with substring surgery.
    *
    * The keeper key is min(struct(doc_id, pos)) — lexicographic min,
    * a plain AGGREGATE that partial-aggregates map-side exactly like
    * a numeric min, with no bound on pos to silently violate (the
    * round-9 doc_id·10⁶+pos composite corrupted keeper choice for
    * any document past 10⁶ tokens).
    *
    * The suffix-rank frame arrives staged (suffix_ranks) and `full`
    * is localCheckpointed before its two consumers (the dup groupBy
    * and the marked join) read it — one rank scan, not two.
    *
    * The DuckDB oracle never sees ranks: it groups full windows by
    * their materialized 16-token STRING, keeps the (doc_id, pos)-min
    * occurrence, and merges islands the same way — so the hash match
    * proves the doubling ranks capture exact window equality. */
  def qExactSpanPlan(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window

    val lens = Tables.documents(s, dir)
      .select($"doc_id", size(split($"text", " ")).cast("long").as("n_tok"))
    val full = suffixRanks(s, dir).join(lens, "doc_id")
      .filter($"pos" + (SaContext - 1) <= $"n_tok")
      .select($"doc_id", $"pos", $"sfx_rank".as("r"))
      .roundBarrier()
    val dup = full.groupBy($"r")
      .agg(count(lit(1)).as("occ"),
        min(struct($"doc_id", $"pos")).as("keeper"))
      .filter($"occ" > 1)
    val marked = full.join(dup, "r")
      .filter(struct($"doc_id", $"pos") =!= $"keeper")
      .select($"doc_id", $"pos")
    val wDoc = Window.partitionBy($"doc_id").orderBy($"pos")
    marked
      .withColumn("prev", lag($"pos", 1).over(wDoc))
      .withColumn("brk",
        when($"prev".isNull || $"pos" > $"prev" + SaContext, 1L)
          .otherwise(0L))
      .withColumn("island", sum($"brk").over(
        wDoc.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy($"doc_id", $"island")
      .agg(min($"pos").as("rm_start"),
        (max($"pos") + (SaContext - 1)).as("rm_end"))
      .select($"doc_id", $"rm_start", $"rm_end",
        ($"rm_end" - $"rm_start" + 1).as("rm_tokens"))
      .orderBy($"doc_id", $"rm_start")
  }

  /** Exact-span dedup EXECUTED (q290) — the substring surgery q287
    * plans: every token inside a removal island is cut and the
    * survivors rejoin into the post-dedup text. This completes the
    * Lee et al. 2022 §3 pipeline as an end-to-end chain (suffix
    * ranks q285 → removal plan q287 → rewrite here), and it is the
    * step that actually shrinks a training corpus.
    *
    * Scale shape: the span frame (only docs WITH removals, a handful
    * of [start,end] structs each — the q95 bounded-nested rollup)
    * joins the corpus once on doc_id; the cut itself is one nested
    * higher-order filter/exists over the token array — per-row
    * expression work, no explode, no shuffle beyond the join, so the
    * rewrite costs one corpus pass over q287 at any scale. Untouched
    * docs pass through with n_removed = 0: the output IS the full
    * rewritten corpus, emitted as (n_tok, n_removed, md5 of the
    * rewritten text) so rows stay metadata-sized. The DuckDB oracle
    * replays the island chain rank-free and re-joins survivors
    * positionally — matching md5s prove token-exact surgery. */
  def qExactSpanRewrite(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val spans = qExactSpanPlan(s, dir)
      .groupBy($"doc_id")
      .agg(collect_list(struct($"rm_start", $"rm_end")).as("spans"),
        sum($"rm_tokens").as("n_rm"))
    val kept = when($"spans".isNull, $"tk")
      .otherwise(filter($"tk", (_, i) =>
        !exists($"spans", sp =>
          (i + 1) >= sp("rm_start") && (i + 1) <= sp("rm_end"))))
    Tables.documents(s, dir)
      .select($"doc_id", split($"text", " ").as("tk"))
      .join(spans, Seq("doc_id"), "left")
      .select($"doc_id",
        size($"tk").cast("long").as("n_tok"),
        coalesce($"n_rm", lit(0L)).as("n_removed"),
        md5(array_join(kept, " ")).as("new_md5"))
      .orderBy($"doc_id")
  }

  /** Winnowing parameters (q297): k-gram length, window width, and the
    * guards. Guarantee threshold t = WinW + WinK − 1 = 8 tokens: any
    * shared run of ≥ 8 tokens shares ≥ 1 fingerprint (Schleimer,
    * Wilkerson & Aiken 2003, "Winnowing: Local Algorithms for Document
    * Fingerprinting" — the MOSS detector). Fingerprints seen in more
    * than WinMaxPost docs are boilerplate and dropped whole (q31's
    * MaxBlock posture — the posting-list skew guard). */
  private val WinK = 4
  private val WinW = 5
  private val WinMaxPost = 50
  private val WinMinShared = 2

  /** Winnowing fingerprint dedup (q297) — the position-robust cousin
    * of q17's whole-doc hash and q31's shingle Jaccard: each doc keeps
    * only the per-window minimum of its k-gram rolling hashes
    * (rightmost on ties), giving a fingerprint density of ~2/(W+1)
    * with a hard t-token guarantee — the detector that catches copied
    * PASSAGES, not just copied documents. Scale shape: fingerprint
    * selection is entirely IN-ROW (nested higher-order functions over
    * the token array — zero shuffles until the posting explode), then
    * one posting groupBy and one bounded self-join keyed on the
    * fingerprint (posting lists capped at [[WinMaxPost]]). The k-gram
    * hash is q25's polynomial fold, so the oracle replays it exactly
    * in integer arithmetic. */
  def qWinnowing(s: SparkSession, dir: String): DataFrame =
    winnowingPairsOf(Tables.documents(s, dir))

  /** Winnowing core over any (doc_id, text) frame; split out so the
    * spec can pin the t-token guarantee and the tie rule. */
  private[graft] def winnowingPairsOf(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val d = docs
      .select($"doc_id",
        filter(split($"text", " "), t => t =!= lit("")).as("toks"))
      .filter(size($"toks") >= WinK + WinW - 1)
      // per-token base hash is the 48-bit md5 prefix (q174's house
      // pattern) — the earlier ascii(t)+length(t) collided for any two
      // tokens sharing first char and length ('cat'/'car'), letting
      // unrelated docs inflate n_shared past WinMinShared
      .select($"doc_id",
        transform($"toks", t =>
          conv(substring(md5(t), 1, 12), 16, 10).cast("long")).as("vals"))
    // Fingerprint selection is ONE compiled in-row pass (round-16
    // optimization — plans/WinnowExpression.scala): k-gram polynomial
    // hashes + monotonic-deque sliding-window min + per-doc distinct.
    // The previous spelling exploded every k-gram position to a row
    // and ran a doc-partitioned sliding-window min over it — a
    // corpus-token-scale exchange + sort whose only purpose was a
    // per-document O(n) scan (and the HOF hash fold evaluated
    // interpreted, not codegen). Value-identical: same fold
    // arithmetic, same rightmost-tie rule, same distinct (doc_id, h)
    // set — pinned by Round16Spec against the old SQL spelling; the
    // DuckDB oracle still replays the explode+window form verbatim.
    val fps = d.select($"doc_id",
      explode(graft.plans.WinnowSelect.col($"vals", WinK, WinW)).as("h"))
    val keep = fps.groupBy($"h").agg(count(lit(1)).as("nd"))
      .filter($"nd" <= WinMaxPost).select($"h")
    val s2 = fps.join(keep, "h")
    s2.select($"h", $"doc_id".as("a"))
      .join(s2.select($"h", $"doc_id".as("b")), Seq("h"))
      .filter($"a" < $"b")
      .groupBy($"a", $"b").agg(count(lit(1)).as("n_shared"))
      .filter($"n_shared" >= WinMinShared)
      .orderBy($"a", $"b")
  }

  /** Blocking-scheme evaluation (q301) — the Christen 2012 triad every
    * record-linkage pipeline reports before trusting its blocks:
    * reduction ratio (how many of the N·(N−1)/2 comparisons the
    * blocking avoids), pairs completeness (recall of true dup pairs),
    * and pairs quality (precision). Truth = q31's VERIFIED near-dup
    * pairs (trigram-shingle Jaccard ≥ [[TruthJaccard]] inside the
    * min-shingle block — the corpus has no exact-fingerprint dups, so
    * content truth is the honest label set); blocking under test =
    * (first clean token, length centile band) — deliberately the cheap
    * metadata-ish scheme, so the metrics have something honest to say.
    * Scale shape: the candidate count comes from per-block SIZES
    * (Σ C(sz,2) — no pair ever materializes), and only TRUTH pairs
    * (bounded near-dup sets) expand, then probe block-key equality
    * with one join per side.
    * All counts are exact integers; the ratios are the same fixed
    * expression tree on both engines, presentation-rounded with the
    * floor form. */
  /** Truth threshold for q301: q31's verified pairs at trigram-shingle
    * Jaccard ≥ 0.8 are the labeled duplicates the blocking is graded
    * against. */
  private val TruthJaccard = 0.8

  def qBlockingEval(s: SparkSession, dir: String): DataFrame =
    blockingEvalOf(Tables.documents(s, dir))

  /** Blocking-eval core over any (doc_id, text, n_chars) frame; split
    * out so the spec can pin the triad on planted truth pairs. */
  private[graft] def blockingEvalOf(base: DataFrame): DataFrame = {
    val s = base.sparkSession
    import s.implicits._
    val docs = base.select($"doc_id",
      concat_ws("|", get(normTokens($"text"), lit(0)),
        floor($"n_chars" / 100).cast("long").cast("string")).as("blk"))
    // truth = q31's chain: min-shingle block, MaxBlock guard, exact
    // trigram Jaccard, thresholded
    val d = base
      .select($"doc_id", shingles(TextOps.tokenize($"text")).as("sh"))
      .filter(size($"sh") > 0)
      .withColumn("blk0", array_min($"sh"))
      .withColumn("blk_n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy($"blk0")))
      .filter($"blk_n" <= MaxBlock)
    val x = d.select($"doc_id".as("a"), $"blk0", $"sh".as("x_sh"))
    val y = d.select($"doc_id".as("b"), $"blk0", $"sh".as("y_sh"))
    val inter = size(array_intersect($"x_sh", $"y_sh")).cast("long")
    val union = size($"x_sh").cast("long") + size($"y_sh") - inter
    val truthPairs = x.join(y, Seq("blk0"))
      .filter($"a" < $"b")
      .filter(inter.cast("double") / union >= TruthJaccard)
      .select($"a", $"b")
    val nTot = docs.agg(count(lit(1)).as("n"))
    val cand = docs.groupBy($"blk").agg(count(lit(1)).as("sz"))
      .agg(coalesce(sum((($"sz" * ($"sz" - 1)) / 2).cast("long")), lit(0L))
        .as("n_cand"))
    val truth = truthPairs
      .join(docs.select($"doc_id".as("a"), $"blk".as("blk_a")), Seq("a"))
      .join(docs.select($"doc_id".as("b"), $"blk".as("blk_b")), Seq("b"))
      .agg(count(lit(1)).as("n_truth"),
        coalesce(sum(when($"blk_a" === $"blk_b", 1L).otherwise(0L)),
          lit(0L)).as("n_matched"))
    // degenerate inputs get an EXPLICIT published value rather than
    // leaning on both engines' NULL-propagating division happening to
    // coincide: n<2 docs → reduction_ratio 1.0 (all zero comparisons
    // avoided), n_truth=0 → completeness 1.0 (vacuously complete),
    // n_cand=0 → quality NULL (precision of an empty candidate set is
    // undefined — documented, stable schema)
    nTot.crossJoin(broadcast(cand)).crossJoin(broadcast(truth))
      .select($"n", $"n_cand", $"n_truth", $"n_matched",
        when($"n" < 2L, lit(1.0)).otherwise(
          floor(lit(1e4) * (lit(1.0) - $"n_cand" * lit(2.0)
            / ($"n" * ($"n" - 1L))) + 0.5) / 1e4).as("reduction_ratio"),
        when($"n_truth" === 0L, lit(1.0)).otherwise(
          floor(lit(1e4) * $"n_matched" / $"n_truth" + 0.5) / 1e4)
          .as("pairs_completeness"),
        when($"n_cand" === 0L, lit(null).cast("double")).otherwise(
          floor(lit(1e4) * $"n_matched" / $"n_cand" + 0.5) / 1e4)
          .as("pairs_quality"))
  }

  /** Chunk width for q304's paragraph-level dedup. The synthetic corpus
    * has no newline paragraph marks, so "paragraph" = fixed 10-token
    * chunk — the same fixed-stride chunking q75 ships; production swaps
    * in the newline splitter without touching the dedup shape. */
  private val ParaTokens = 10

  /** Paragraph-level exact dedup (q304) — the RefinedWeb/CCNet-style
    * sub-document pass (Penedo et al. 2023 run exactly this before
    * MinHash): WHOLE-doc dedup (q17/q30) misses boilerplate paragraphs
    * stitched into otherwise-unique pages, so each doc is chunked,
    * each chunk hashed, and a chunk counts as duplicated when it
    * appears in MORE THAN ONE distinct document. Per doc: chunk count,
    * duplicated-chunk count, duplicated fraction — the "how much of
    * this page is boilerplate" score that feeds removal or
    * down-weighting. Scale shape: chunking and hashing are IN-ROW
    * (one transform + explode), then ONE groupBy on the chunk hash
    * (count distinct docs) and one map-side-combined regroup per doc
    * — two shuffles total, both keyed on high-cardinality hashes. */
  def qParagraphDedup(s: SparkSession, dir: String): DataFrame =
    paragraphDedupOf(Tables.documents(s, dir))

  private[graft] def paragraphDedupOf(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val chunks = docs
      .select($"doc_id",
        filter(split($"text", " "), t => t =!= lit("")).as("toks"))
      .filter(size($"toks") > 0)
      .select($"doc_id", explode(expr(
        s"""transform(sequence(0, (size(toks) + ${ParaTokens - 1})
           |    div $ParaTokens - 1),
           |  i -> array_join(slice(toks, i * $ParaTokens + 1,
           |    $ParaTokens), ' '))""".stripMargin)).as("chunk"))
      .select($"doc_id", md5($"chunk").as("h"))
    val docsPerH = chunks.groupBy($"h")
      .agg(countDistinct($"doc_id").as("nd"))
    chunks.join(docsPerH, "h")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        sum(when($"nd" >= 2, 1L).otherwise(0L)).as("n_dup_chunks"))
      .select($"doc_id", $"n_chunks", $"n_dup_chunks",
        (floor(lit(1e4) * $"n_dup_chunks" / $"n_chunks" + 0.5) / 1e4)
          .as("dup_frac"))
      .orderBy($"doc_id")
  }

  /** q337's boundary modulus: a token cuts a chunk when its 24-bit md5
    * prefix ≡ 0 (mod 16) — expected chunk length 16 tokens. */
  private val CdcMod = 16L

  /** Content-defined chunking (q337) — the storage-dedup primitive
    * under restic/casync/LBFS (Muthitacharoen et al. 2001) and the
    * sub-document dedup shape RefinedWeb-style pipelines want where
    * q304's FIXED stride fails: a one-token insertion shifts every
    * fixed chunk after it (nothing dedups), while content-defined
    * boundaries (cut after any token whose md5 ≡ 0 mod 16 — the
    * engine-agnostic hash family, q174) re-synchronize immediately, so
    * shared suffixes keep deduping. Chunking is ONE in-row expression
    * (boundary scan + slice-join, no shuffle); the corpus stats are a
    * per-source aggregate over the exploded chunk stream keyed on the
    * chunk string — the same two-shuffle shape as q304. Emits per
    * source: chunks, distinct chunks, dup ratio, mean chunk tokens —
    * the dedupable-mass read a chunk store sizes against. */
  def qCdcChunks(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = Tables.documents(s, dir)
      .select($"source",
        filter(split($"text", " "), t => t =!= lit("")).as("w"))
      .filter(size($"w") > 0)
    // boundary positions once per row, chunks sliced between them
    // (j is 0-based in Spark's indexed lambda; element_at is 1-based,
    // so element_at(ends, j) is the PREVIOUS boundary)
    val chunks = base
      .withColumn("ends", expr(
        s"""filter(sequence(1, size(w)), i -> i = size(w)
           |  OR cast(conv(substring(md5(element_at(w, i)), 1, 6),
           |      16, 10) as bigint) % $CdcMod = 0)""".stripMargin))
      .select($"source", explode(expr(
        """transform(ends, (e, j) -> array_join(slice(w,
          |  CASE WHEN j = 0 THEN 1 ELSE element_at(ends, j) + 1 END,
          |  e - CASE WHEN j = 0 THEN 0 ELSE element_at(ends, j) END),
          |  ' '))""".stripMargin)).as("chunk"))
    chunks.groupBy($"source")
      .agg(count(lit(1)).as("n_chunks"),
        countDistinct($"chunk").as("n_distinct"),
        (floor(lit(1e4) * (count(lit(1)) - countDistinct($"chunk"))
          / count(lit(1)) + 0.5) / 1e4).as("dup_ratio"),
        (floor(lit(1e4) * sum(size(split($"chunk", " ")))
          / count(lit(1)) + 0.5) / 1e4).as("mean_tokens"))
      .orderBy($"source")
  }

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q337_cdc_chunks"   -> (qCdcChunks _),
    "q297_winnowing"    -> (qWinnowing _),
    "q301_blocking_eval" -> (qBlockingEval _),
    "q304_paragraph_dedup" -> (qParagraphDedup _),
    "q290_exact_span_rewrite" -> (qExactSpanRewrite _),
    "q287_exact_span_plan" -> (qExactSpanPlan _),
    "q285_suffix_array" -> (qSuffixArray _),
    "q272_page_stitch"  -> (qPageStitch _),
    "q199_prefix_join"  -> (qPrefixJoin _),
    "q30_dedup_exact"   -> (qDedupExact _),
    "q28_span_dedup"    -> (qSpanDedup _),
    "q148_edit_dedup"   -> (qEditDedup _),
    "q222_snm_dedup"    -> (qSnmDedup _),
    "q223_fs_linkage"   -> (qFsLinkage _),
    "q39_repetition"    -> (qRepetition _),
    "q31_ngram_jaccard" -> (qNgramJaccard _),
    "q159_containment"  -> (qContainment _),
    "q171_dup_by_quality" -> (qDupByQuality _),
    "q172_sparse_cosine"  -> (qSparseCosine _),
    "q173_lsh_tuning"     -> (qLshTuning _),
    "q174_minhash_estimate" -> (qMinhashEstimate _),
    "q254_bbit_minhash" -> (qBbitMinhash _),
    "q257_lsh_recall_sweep" -> (qLshRecallSweep _),
    "q260_template_detect" -> (qTemplateDetect _),
    "q264_split_straddle" -> (qSplitStraddle _),
    "q267_source_overlap" -> (qSourceOverlap _),
    "q179_novelty"        -> (qNovelty _),
    "q185_crosslingual_dup" -> (qCrossLingualDup _),
    "q186_dup_transitivity" -> (qDupTransitivity _),
    "q32_minhash_lsh"   -> (qMinhashLsh _),
    "q136_dedup_yield"  -> (qDedupYield _),
    "q33_simhash"       -> (qSimhash _),
    "q251_simhash_bits" -> (qSimhashBitBalance _),
    "q34_embed_cos_dup" -> (qEmbedCosineDup _),
    "q35_contamination" -> (qContamination _),
    "q107_contam_frac"  -> (qContamFraction _),
    "q64_dup_clusters"  -> (qDupClusters _),
    "q68_dedup_report"  -> (qDedupReport _),
    "q109_dedup_apply"  -> (qDedupApply _),
    "q111_training_manifest" -> (qTrainingManifest _),
    "q112_incremental_lsh" -> (qIncrementalLsh _),
    "q113_keeper_policy" -> (qKeeperPolicy _),
    "q85_incremental_dedup" -> (qIncrementalDedup _),
    "q94_source_matrix"     -> (qSourceMatrix _),
    "q236_source_dedup_impact" -> (qSourceDedupImpact _),
  )

  /** Cross-source contamination matrix (q94): which sources duplicate
    * which — q32's verified near-dup pairs annotated with each side's
    * source and rolled up to unordered (source_a, source_b) pair counts.
    * The provenance/leakage report a corpus audit ships: diagonal =
    * within-source duplication, off-diagonal = cross-source copying
    * (syndication, mirrors, benchmark leakage). Pair↔source annotation
    * is two joins of the (small) pair frame against the (doc_id, source)
    * projection — at 100 TB the pair side broadcasts, never the corpus;
    * least/greatest canonicalizes so a pair lands in one matrix cell
    * regardless of doc-id order. */
  /** Per-source dedup impact (q236) — the third face of the provenance
    * audit: q94 counts PAIRS per source combination, q136 prices the
    * corpus-wide τ choice, this says WHICH SOURCES shrink when the
    * ≥0.9 near-dup policy applies (greedy higher-id-drops, q136's
    * documented semantics): per source its doc count, distinct losers,
    * and loss rate — the table that catches one mirror-heavy source
    * about to lose half its volume before the release note writes
    * itself. Reads the STAGED verified-pair frame (a derived read, no
    * LSH re-run); the loser set broadcasts onto the documents scan. */
  def qSourceDedupImpact(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val losers = verifiedPairs(s, dir)
      .select($"y_id".as("doc_id")).distinct()
      .withColumn("lost", lit(true))
    Tables.documents(s, dir).select($"doc_id", $"source")
      .join(broadcast(losers), Seq("doc_id"), "left")
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when($"lost", 1L).otherwise(0L)).as("n_losers"))
      .select($"source", $"n_docs", $"n_losers",
        round($"n_losers".cast("double") / $"n_docs", 4).as("loss_rate"))
      .orderBy($"source")
  }

  def qSourceMatrix(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pairs = verifiedPairs(s, dir).select($"x_id", $"y_id")
    val srcs = Tables.documents(s, dir).select($"doc_id", $"source")
    pairs
      .join(srcs.select($"doc_id".as("x_id"), $"source".as("sx")), "x_id")
      .join(srcs.select($"doc_id".as("y_id"), $"source".as("sy")), "y_id")
      .select(least($"sx", $"sy").as("source_a"),
        greatest($"sx", $"sy").as("source_b"))
      .groupBy($"source_a", $"source_b")
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy($"source_a", $"source_b")
  }

  /** Cross-lingual duplication matrix (q185): q32's verified near-dup
    * pairs annotated with each side's LANGUAGE and rolled to canonical
    * (lang_a, lang_b) cells with a cross-lingual flag — q94's
    * provenance matrix on the language axis. Off-diagonal mass is
    * machine-translated or template boilerplate surviving per-language
    * dedup; a multilingual corpus that dedups language-by-language
    * never sees it, which is why the matrix is a release gate. Same
    * scale shape as q94: the pair frame is the small side, annotation
    * is two joins against the (doc_id, lang) projection. */
  def qCrossLingualDup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pairs = verifiedPairs(s, dir).select($"x_id", $"y_id")
    val langs = Tables.documents(s, dir).select($"doc_id", $"lang")
    pairs
      .join(langs.select($"doc_id".as("x_id"), $"lang".as("lx")), "x_id")
      .join(langs.select($"doc_id".as("y_id"), $"lang".as("ly")), "y_id")
      .select(least($"lx", $"ly").as("lang_a"),
        greatest($"lx", $"ly").as("lang_b"))
      .groupBy($"lang_a", $"lang_b")
      .agg(count(lit(1)).as("n_pairs"))
      .withColumn("cross_lingual", $"lang_a" =!= $"lang_b")
      .orderBy($"lang_a", $"lang_b")
  }

  /** Dup-graph transitivity audit (q186): triangle statistics of the
    * verified near-dup PAIR graph (GraphQueries.triangleStats — the
    * q144 machinery pointed at a different graph): closure rate
    * 3T/W near 1 means "near-duplicate" is behaving like an
    * equivalence relation and q64's transitive clusters are honest;
    * low closure means chains (A≈B≈C but A≉C) — at a fixed threshold
    * that is the signature of drifting template families, and cluster
    * keepers start discarding non-duplicates. Pair graph is small by
    * construction (verified pairs), so this is metadata-scale work on
    * the staged frame. */
  def qDupTransitivity(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    GraphQueries.triangleStats(
      verifiedPairs(s, dir)
        .select($"x_id".as("a"), $"y_id".as("b")).distinct())
  }

  /** Shared oracle scaffolding for q64/q68: recompute q32's exact-
    * Jaccard ≥ 0.9 pairs (all-pairs is affordable at oracle scale) and
    * close them transitively with a recursive reachability CTE — min
    * doc_id reachable from a node IS what min-label propagation
    * converges to. */
  private def ccOracleCtes: String = {
    val stops = TextOps.stopwordsSqlList
    val cleanSql = TextOps.cleanTextSql
    s"""WITH RECURSIVE cleaned AS (
      |  SELECT doc_id,
      |    list_filter(str_split($cleanSql, ' '), t -> t NOT IN $stops) AS tk
      |  FROM documents),
      |idx AS (
      |  SELECT doc_id, tk, unnest(range(1, len(tk) - 1)) AS i FROM cleaned),
      |sh AS (
      |  SELECT doc_id,
      |         list_distinct(list(tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS sh
      |  FROM idx GROUP BY doc_id),
      |p AS (
      |  SELECT x.doc_id AS x_id, y.doc_id AS y_id
      |  FROM sh x JOIN sh y ON x.doc_id < y.doc_id
      |  WHERE len(list_intersect(x.sh, y.sh))
      |      / CAST(len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh)) AS DOUBLE)
      |      >= 0.9),
      |e AS (
      |  SELECT x_id AS src, y_id AS dst FROM p
      |  UNION ALL
      |  SELECT y_id AS src, x_id AS dst FROM p),
      |reach AS (
      |  SELECT src AS doc_id, src AS r FROM e
      |  UNION
      |  SELECT reach.doc_id, e.dst FROM reach JOIN e ON reach.r = e.src)""".stripMargin
  }

  /** Brute-force shingle pair CTE chain ending in p(doc_a, doc_b, i,
    * na, nb) — the q199 oracle and q201's near-dup label share it. */
  private[operators] val bruteforcePairsCte: String =
    """t AS (
      |  SELECT doc_id, str_split(text, ' ') AS tk FROM documents),
      |idx AS (
      |  SELECT doc_id, tk, unnest(range(1, len(tk) - 1)) AS i FROM t),
      |sh AS (
      |  SELECT doc_id,
      |    list_distinct(list(tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))
      |      AS sh
      |  FROM idx GROUP BY doc_id),
      |b AS (SELECT doc_id, sh FROM sh WHERE len(sh) > 0),
      |p AS (
      |  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
      |    CAST(len(list_intersect(x.sh, y.sh)) AS BIGINT) AS i,
      |    CAST(len(x.sh) AS BIGINT) AS na,
      |    CAST(len(y.sh) AS BIGINT) AS nb
      |  FROM b x JOIN b y ON x.doc_id < y.doc_id)""".stripMargin

  override def oracleSql: Map[String, String] = {
    Map(
      // q337: identical boundary rule (24-bit md5 prefix mod 16) and
      // slice-join; DuckDB list indexes and its indexed lambda are
      // 1-based where Spark's lambda index is 0-based — the CASE
      // arms shift accordingly
      "q337_cdc_chunks" ->
        s"""WITH d AS (
          |  SELECT source,
          |    list_filter(str_split(text, ' '), t -> t <> '') AS w
          |  FROM documents),
          |d2 AS (SELECT * FROM d WHERE len(w) > 0),
          |e AS (
          |  SELECT source, w,
          |    list_filter(range(1, len(w) + 1), i -> i = len(w)
          |      OR ('0x' || substr(md5(w[i]), 1, 6))::BIGINT
          |        % $CdcMod = 0) AS ends
          |  FROM d2),
          |c AS (
          |  SELECT source,
          |    unnest(list_transform(ends, (x, j) ->
          |      array_to_string(list_slice(w,
          |        CASE WHEN j = 1 THEN 1 ELSE ends[j - 1] + 1 END,
          |        x), ' '))) AS chunk
          |  FROM e)
          |SELECT source, CAST(count(*) AS BIGINT) AS n_chunks,
          |  CAST(count(DISTINCT chunk) AS BIGINT) AS n_distinct,
          |  floor(1e4 * (count(*) - count(DISTINCT chunk))
          |    / count(*) + 0.5) / 1e4 AS dup_ratio,
          |  floor(1e4 * sum(len(str_split(chunk, ' ')))
          |    / count(*) + 0.5) / 1e4 AS mean_tokens
          |FROM c GROUP BY source ORDER BY source""".stripMargin,
      "q304_paragraph_dedup" ->
        s"""WITH d AS (
          |  SELECT doc_id,
          |    list_filter(str_split(text, ' '), t -> t <> '') AS toks
          |  FROM documents),
          |ch AS (
          |  SELECT doc_id,
          |    md5(array_to_string(list_slice(toks,
          |      i * $ParaTokens + 1, (i + 1) * $ParaTokens), ' ')) AS h
          |  FROM d, unnest(range(0,
          |    (len(toks) + ${ParaTokens - 1}) // $ParaTokens)) t(i)
          |  WHERE len(toks) > 0),
          |dph AS (
          |  SELECT h, count(DISTINCT doc_id) AS nd FROM ch GROUP BY h)
          |SELECT ch.doc_id,
          |  CAST(count(*) AS BIGINT) AS n_chunks,
          |  CAST(sum(CASE WHEN dph.nd >= 2 THEN 1 ELSE 0 END) AS BIGINT)
          |    AS n_dup_chunks,
          |  floor(1e4 * sum(CASE WHEN dph.nd >= 2 THEN 1 ELSE 0 END)
          |    / count(*) + 0.5) / 1e4 AS dup_frac
          |FROM ch JOIN dph ON ch.h = dph.h
          |GROUP BY ch.doc_id ORDER BY ch.doc_id""".stripMargin,
      // q297: replay the winnowing selection relationally — per-window
      // argmin over (hash asc, pos desc) via row_number, same q25
      // polynomial fold in integer arithmetic.
      "q297_winnowing" ->
        s"""WITH d AS (
          |  SELECT doc_id,
          |    list_filter(str_split(text, ' '), t -> t <> '') AS toks
          |  FROM documents),
          |v AS (
          |  SELECT doc_id,
          |    list_transform(toks, t ->
          |      ('0x' || substr(md5(t), 1, 12))::BIGINT) AS vals,
          |    len(toks) AS n
          |  FROM d WHERE len(toks) >= ${WinK + WinW - 1}),
          |hsrc AS (
          |  SELECT doc_id, i AS pos,
          |    list_reduce(
          |      list_prepend(CAST(7 AS BIGINT),
          |        list_slice(vals, i, i + ${WinK - 1})),
          |      (h, x) -> (h * 31 + x) % 2147483647) AS h
          |  FROM v, unnest(range(1, n - ${WinK - 2})) t(i)),
          |wins AS (
          |  SELECT doc_id, j
          |  FROM v, unnest(range(1, n - ${WinK + WinW - 3})) t(j)),
          |cand AS (
          |  SELECT w.doc_id, w.j, hs.h,
          |    row_number() OVER (PARTITION BY w.doc_id, w.j
          |      ORDER BY hs.h ASC, hs.pos DESC) AS rn
          |  FROM wins w JOIN hsrc hs ON hs.doc_id = w.doc_id
          |    AND hs.pos BETWEEN w.j AND w.j + ${WinW - 1}),
          |sel AS (SELECT DISTINCT doc_id, h FROM cand WHERE rn = 1),
          |keep AS (
          |  SELECT h FROM sel GROUP BY h
          |  HAVING count(*) <= $WinMaxPost),
          |s2 AS (SELECT sel.doc_id, sel.h FROM sel
          |  JOIN keep ON sel.h = keep.h),
          |pairs AS (
          |  SELECT s1.doc_id AS a, sb.doc_id AS b,
          |    CAST(count(*) AS BIGINT) AS n_shared
          |  FROM s2 s1 JOIN s2 sb
          |    ON s1.h = sb.h AND s1.doc_id < sb.doc_id
          |  GROUP BY 1, 2)
          |SELECT a, b, n_shared FROM pairs
          |WHERE n_shared >= $WinMinShared
          |ORDER BY a, b""".stripMargin,
      "q301_blocking_eval" -> {
        val stops = TextOps.stopwordsSqlList
        val cleanSql = TextOps.cleanTextSql
        s"""WITH docs AS (
          |  SELECT doc_id,
          |    concat_ws('|',
          |      list_extract(list_filter(str_split($cleanSql, ' '),
          |        t -> t NOT IN $stops), 1),
          |      CAST(n_chars // 100 AS VARCHAR)) AS blk
          |  FROM documents),
          |t AS (
          |  SELECT doc_id, str_split(text, ' ') AS tk FROM documents),
          |idx AS (
          |  SELECT doc_id, tk, unnest(range(1, len(tk) - 1)) AS i FROM t),
          |sh AS (
          |  SELECT doc_id,
          |    list_distinct(list(tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS sh
          |  FROM idx GROUP BY doc_id),
          |bb AS (
          |  SELECT doc_id, sh, list_aggregate(sh, 'min') AS blk0,
          |    count(*) OVER (PARTITION BY list_aggregate(sh, 'min')) AS blk_n
          |  FROM sh WHERE len(sh) > 0),
          |tp AS (
          |  SELECT x.doc_id AS a, y.doc_id AS b
          |  FROM bb x JOIN bb y
          |    ON x.blk0 = y.blk0 AND x.doc_id < y.doc_id
          |  WHERE x.blk_n <= $MaxBlock
          |    AND len(list_intersect(x.sh, y.sh))
          |      / CAST(len(x.sh) + len(y.sh)
          |          - len(list_intersect(x.sh, y.sh)) AS DOUBLE)
          |      >= $TruthJaccard),
          |ntot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM docs),
          |cand AS (
          |  SELECT CAST(coalesce(sum(sz * (sz - 1) // 2), 0) AS BIGINT)
          |    AS n_cand
          |  FROM (SELECT blk, count(*) AS sz FROM docs GROUP BY blk)),
          |truth AS (
          |  SELECT CAST(count(*) AS BIGINT) AS n_truth,
          |    CAST(coalesce(sum(CASE WHEN da.blk = db.blk
          |      THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_matched
          |  FROM tp
          |  JOIN docs da ON tp.a = da.doc_id
          |  JOIN docs db ON tp.b = db.doc_id)
          |SELECT n, n_cand, n_truth, n_matched,
          |  CASE WHEN n < 2 THEN 1.0 ELSE
          |    floor(1e4 * (1.0 - n_cand * 2.0 / (n * (n - 1))) + 0.5) / 1e4
          |  END AS reduction_ratio,
          |  CASE WHEN n_truth = 0 THEN 1.0 ELSE
          |    floor(1e4 * n_matched / n_truth + 0.5) / 1e4
          |  END AS pairs_completeness,
          |  CASE WHEN n_cand = 0 THEN CAST(NULL AS DOUBLE) ELSE
          |    floor(1e4 * n_matched / n_cand + 0.5) / 1e4
          |  END AS pairs_quality
          |FROM ntot CROSS JOIN cand CROSS JOIN truth""".stripMargin
      },
      // q290: replay q287's rank-free island chain, then re-join the
      // surviving tokens positionally — matching md5s prove the
      // engine's higher-order-function surgery is token-exact
      "q290_exact_span_rewrite" ->
        """WITH t AS (
          |  SELECT doc_id, str_split(text, ' ') AS tk FROM documents),
          |f AS (
          |  SELECT doc_id, unnest(range(1, len(tk) - 14)) AS pos, tk
          |  FROM t WHERE len(tk) >= 16),
          |w AS (
          |  SELECT doc_id, pos,
          |    array_to_string(tk[pos:pos + 15], ' ') AS w
          |  FROM f),
          |r AS (
          |  SELECT doc_id, pos, count(*) OVER (PARTITION BY w) AS occ,
          |    row_number() OVER (PARTITION BY w ORDER BY doc_id, pos)
          |      AS rn
          |  FROM w),
          |m AS (
          |  SELECT doc_id, pos FROM r WHERE occ > 1 AND rn > 1),
          |i AS (
          |  SELECT doc_id, pos,
          |    CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
          |           IS NULL
          |         OR pos > lag(pos) OVER (PARTITION BY doc_id
          |           ORDER BY pos) + 16
          |         THEN 1 ELSE 0 END AS brk
          |  FROM m),
          |g AS (
          |  SELECT doc_id, pos,
          |    sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          |      AS island
          |  FROM i),
          |isl AS (
          |  SELECT doc_id, min(pos) AS rm_start, max(pos) + 15 AS rm_end
          |  FROM g GROUP BY doc_id, island),
          |rm AS (
          |  SELECT doc_id, sum(rm_end - rm_start + 1) AS n_rm
          |  FROM isl GROUP BY doc_id),
          |px AS (
          |  SELECT doc_id, unnest(range(1, len(tk) + 1)) AS p, tk
          |  FROM t),
          |keep AS (
          |  SELECT px.doc_id, px.p, px.tk[px.p] AS tok
          |  FROM px
          |  WHERE NOT EXISTS (SELECT 1 FROM isl
          |    WHERE isl.doc_id = px.doc_id
          |      AND px.p >= isl.rm_start AND px.p <= isl.rm_end)),
          |nt AS (
          |  SELECT doc_id, string_agg(tok, ' ' ORDER BY p) AS new_text
          |  FROM keep GROUP BY doc_id)
          |SELECT t.doc_id,
          |  CAST(len(t.tk) AS BIGINT) AS n_tok,
          |  CAST(coalesce(rm.n_rm, 0) AS BIGINT) AS n_removed,
          |  md5(coalesce(nt.new_text, '')) AS new_md5
          |FROM t
          |LEFT JOIN rm ON rm.doc_id = t.doc_id
          |LEFT JOIN nt ON nt.doc_id = t.doc_id
          |ORDER BY t.doc_id""".stripMargin,
      // q287: rank-free replay — group full windows by the 16-token
      // STRING, keep the (doc_id, pos)-lexicographic min occurrence,
      // merge islands identically; the match proves rank-equality ⟺
      // window-equality
      "q287_exact_span_plan" ->
        """WITH t AS (
          |  SELECT doc_id, str_split(text, ' ') AS tk FROM documents),
          |f AS (
          |  SELECT doc_id, unnest(range(1, len(tk) - 14)) AS pos, tk
          |  FROM t WHERE len(tk) >= 16),
          |w AS (
          |  SELECT doc_id, pos,
          |    array_to_string(tk[pos:pos + 15], ' ') AS w
          |  FROM f),
          |r AS (
          |  SELECT doc_id, pos, w, count(*) OVER (PARTITION BY w) AS occ,
          |    row_number() OVER (PARTITION BY w ORDER BY doc_id, pos)
          |      AS rn
          |  FROM w),
          |m AS (
          |  SELECT doc_id, pos FROM r WHERE occ > 1 AND rn > 1),
          |i AS (
          |  SELECT doc_id, pos,
          |    CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
          |           IS NULL
          |         OR pos > lag(pos) OVER (PARTITION BY doc_id
          |           ORDER BY pos) + 16
          |         THEN 1 ELSE 0 END AS brk
          |  FROM m),
          |g AS (
          |  SELECT doc_id, pos,
          |    sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          |      AS island
          |  FROM i)
          |SELECT doc_id, min(pos) AS rm_start,
          |  max(pos) + 15 AS rm_end,
          |  max(pos) + 15 - min(pos) + 1 AS rm_tokens
          |FROM g GROUP BY doc_id, island
          |ORDER BY doc_id, rm_start""".stripMargin,
      // q285: the NAIVE build — materialize every suffix's 16-token
      // prefix and sort it as a string. Join-with-space preserves
      // token-sequence order (' ' < every token byte), so dense_rank
      // over the string equals the doubling ranks; the hash match is
      // the distributed ≡ naive proof.
      "q285_suffix_array" ->
        s"""WITH t AS (
          |  SELECT doc_id, str_split(text, ' ') AS tk FROM documents),
          |sfx AS (
          |  SELECT doc_id, unnest(range(1, len(tk) + 1)) AS pos, tk
          |  FROM t),
          |p AS (
          |  SELECT doc_id, pos,
          |    array_to_string(tk[pos:pos + ${SaContext - 1}], ' ') AS pfx
          |  FROM sfx)
          |SELECT doc_id, CAST(pos AS BIGINT) AS pos,
          |  CAST(dense_rank() OVER (ORDER BY pfx) AS BIGINT) AS sfx_rank
          |FROM p
          |ORDER BY sfx_rank, doc_id, pos""".stripMargin,
      // q272: same suffix⋈prefix equi-join with the hot-opening guard
      "q272_page_stitch" ->
        """WITH t AS (
          |  SELECT doc_id, source, str_split(text, ' ') AS w
          |  FROM documents),
          |suf AS (
          |  SELECT doc_id AS a_id, source,
          |    array_to_string(w[-2:], ' ') AS g
          |  FROM t WHERE len(w) >= 2),
          |pre AS (
          |  SELECT doc_id AS b_id, source,
          |    array_to_string(w[1:2], ' ') AS g
          |  FROM t WHERE len(w) >= 2),
          |hot AS (
          |  SELECT source, g FROM pre GROUP BY source, g
          |  HAVING count(*) > 50)
          |SELECT s.source, s.a_id, p.b_id, s.g AS stitch_gram
          |FROM suf s
          |JOIN pre p ON s.source = p.source AND s.g = p.g
          |  AND s.a_id <> p.b_id
          |WHERE NOT EXISTS (SELECT 1 FROM hot h
          |  WHERE h.source = s.source AND h.g = s.g)
          |ORDER BY s.source, s.a_id, p.b_id""".stripMargin,
      // q199: brute-force ALL pairs — the completeness yardstick the
      // prefix filter must reproduce exactly (integer threshold test,
      // so no float decides membership on either engine)
      "q199_prefix_join" ->
        s"""WITH $bruteforcePairsCte
          |SELECT doc_a, doc_b,
          |  round(CAST(i AS DOUBLE) / (na + nb - i), 4) AS jaccard
          |FROM p WHERE i * 5 >= (na + nb - i) * 4
          |ORDER BY doc_a, doc_b""".stripMargin,
      "q30_dedup_exact" ->
        """SELECT md5(text) AS fp, min(doc_id) AS keeper, count(*) AS n_dups
          |FROM documents GROUP BY md5(text) ORDER BY keeper""".stripMargin,
      "q171_dup_by_quality" -> {
        val stops = TextOps.stopwordsSqlList
        val cutCols = (1 to 9).map(i =>
          s"quantile_cont(q, ${i / 10.0}) AS c$i").mkString(", ")
        val decile = (1 to 9).map(i =>
          s"(CASE WHEN q > c$i THEN 1 ELSE 0 END)").mkString(" + ")
        s"""WITH b AS (
          |  SELECT doc_id,
          |    round((1.0 - len(list_filter(str_split(text, ' '), t -> t IN $stops))
          |      / CAST(len(str_split(text, ' ')) AS DOUBLE))
          |     * least(1.0, len(str_split(text, ' ')) / 100.0), 4) AS q,
          |    md5(text) AS fp
          |  FROM documents),
          |d AS (
          |  SELECT doc_id, q, count(*) OVER (PARTITION BY fp) > 1 AS dup
          |  FROM b),
          |cuts AS (SELECT $cutCols FROM d),
          |dec AS (
          |  SELECT doc_id, dup,
          |    CAST($decile + 1 AS INTEGER) AS decile
          |  FROM d CROSS JOIN cuts)
          |SELECT decile, CAST(count(*) AS BIGINT) AS n_docs,
          |  CAST(sum(CASE WHEN dup THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
          |  round(sum(CASE WHEN dup THEN 1 ELSE 0 END)
          |    / CAST(count(*) AS DOUBLE), 4) AS dup_rate
          |FROM dec GROUP BY decile ORDER BY decile""".stripMargin
      },
      // q148: both engines ship the same DP levenshtein; the similarity
      // expression is written in identical association order so the
      // filter threshold and the rounded output agree bit-for-bit
      "q148_edit_dedup" ->
        s"""WITH d AS (
          |  SELECT doc_id, substr(text, 1, 60) AS p,
          |    array_to_string((str_split(text, ' '))[1:2], ' ') AS blk
          |  FROM documents),
          |c AS (
          |  SELECT *, count(*) OVER (PARTITION BY blk) AS blk_n FROM d)
          |SELECT x.doc_id AS x_id, y.doc_id AS y_id,
          |  round(1.0 - levenshtein(x.p, y.p)
          |    / CAST(greatest(len(x.p), len(y.p)) AS DOUBLE), 4) AS sim
          |FROM c x JOIN c y ON x.blk = y.blk AND x.doc_id < y.doc_id
          |WHERE x.blk_n <= $MaxBlock AND y.blk_n <= $MaxBlock
          |  AND 1.0 - levenshtein(x.p, y.p)
          |    / CAST(greatest(len(x.p), len(y.p)) AS DOUBLE) >= 0.7
          |ORDER BY x_id, y_id""".stripMargin,
      "q222_snm_dedup" ->
        """WITH d AS (
          |  SELECT doc_id, lang, lower(substr(text, 1, 20)) AS sk,
          |    substr(text, 1, 60) AS p
          |  FROM documents),
          |led AS (
          |  SELECT doc_id, p,
          |    lead(doc_id, 1) OVER w AS n1_id, lead(p, 1) OVER w AS n1_p,
          |    lead(doc_id, 2) OVER w AS n2_id, lead(p, 2) OVER w AS n2_p
          |  FROM d WINDOW w AS (
          |    PARTITION BY lang, substr(sk, 1, 1) ORDER BY sk, doc_id)),
          |cand AS (
          |  SELECT doc_id, p, n1_id AS id, n1_p AS cp, 1 AS w_dist
          |  FROM led WHERE n1_id IS NOT NULL
          |  UNION ALL
          |  SELECT doc_id, p, n2_id, n2_p, 2 FROM led
          |  WHERE n2_id IS NOT NULL),
          |scored AS (
          |  SELECT least(doc_id, id) AS x_id, greatest(doc_id, id) AS y_id,
          |    w_dist,
          |    1.0 - levenshtein(p, cp)
          |      / CAST(greatest(len(p), len(cp)) AS DOUBLE) AS sim
          |  FROM cand)
          |SELECT x_id, y_id, w_dist, round(sim, 4) AS sim
          |FROM scored WHERE sim >= 0.7
          |ORDER BY x_id, y_id""".stripMargin,
      "q223_fs_linkage" ->
        s"""WITH d AS (
          |  SELECT doc_id, lang, source, n_chars // 100 AS band,
          |    substr(text, 1, 40) AS pfx,
          |    array_to_string((str_split(text, ' '))[1:2], ' ') AS blk
          |  FROM documents),
          |c AS (
          |  SELECT *, count(*) OVER (PARTITION BY blk) AS blk_n FROM d),
          |pairs AS (
          |  SELECT x.doc_id AS x_id, y.doc_id AS y_id,
          |    x.lang = y.lang AS agr_lang,
          |    x.source = y.source AS agr_source,
          |    x.band = y.band AS agr_band,
          |    x.pfx = y.pfx AS agr_prefix
          |  FROM c x JOIN c y ON x.blk = y.blk AND x.doc_id < y.doc_id
          |  WHERE x.blk_n <= $MaxBlock AND y.blk_n <= $MaxBlock),
          |scored AS (
          |  SELECT *,
          |    (CASE WHEN agr_lang THEN ln(0.95 / 0.30)
          |          ELSE ln((1.0 - 0.95) / (1.0 - 0.30)) END)
          |    + (CASE WHEN agr_source THEN ln(0.90 / 0.25)
          |            ELSE ln((1.0 - 0.90) / (1.0 - 0.25)) END)
          |    + (CASE WHEN agr_band THEN ln(0.85 / 0.10)
          |            ELSE ln((1.0 - 0.85) / (1.0 - 0.10)) END)
          |    + (CASE WHEN agr_prefix THEN ln(0.70 / 0.01)
          |            ELSE ln((1.0 - 0.70) / (1.0 - 0.01)) END) AS score
          |  FROM pairs)
          |SELECT x_id, y_id, agr_lang, agr_source, agr_band, agr_prefix,
          |  round(score, 4) AS fs_weight,
          |  CASE WHEN score >= 4.0 THEN 'link'
          |       WHEN score < 0.0 THEN 'non_link'
          |       ELSE 'possible' END AS verdict
          |FROM scored ORDER BY x_id, y_id""".stripMargin,
      "q179_novelty" ->
        """WITH t AS (
          |  SELECT doc_id, str_split(text, ' ') AS tk FROM documents),
          |idx AS (
          |  SELECT doc_id, tk, unnest(range(1, len(tk) - 1)) AS i FROM t),
          |shs AS (
          |  SELECT doc_id,
          |         list_distinct(list(tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS shs
          |  FROM idx GROUP BY doc_id),
          |w AS (SELECT doc_id, unnest(shs) AS sh FROM shs),
          |fst AS (SELECT sh, min(doc_id) AS fdoc FROM w GROUP BY sh)
          |SELECT w.doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
          |  CAST(sum(CASE WHEN fst.fdoc = w.doc_id THEN 1 ELSE 0 END)
          |    AS BIGINT) AS n_first,
          |  round(sum(CASE WHEN fst.fdoc = w.doc_id THEN 1 ELSE 0 END)
          |    / CAST(count(*) AS DOUBLE), 4) AS novelty
          |FROM w JOIN fst USING (sh)
          |GROUP BY w.doc_id ORDER BY w.doc_id""".stripMargin,
      "q173_lsh_tuning" -> {
        val sigCols = (0 until TuneSigK).map(i =>
          s"min((h1 + $i * h2) % $Sig48) AS s$i").mkString(",\n|    ")
        def keyExpr(j: Int, r: Int): String =
          (0 until r).map(k => s"CAST(s${j * r + k} AS VARCHAR)")
            .mkString(" || ',' || ")
        val cfgCtes = TuneConfigs.map { case (b, r) =>
          val arms = (0 until b).map(j =>
            s"SELECT $j AS band_id, ${keyExpr(j, r)} AS key FROM sigs")
            .mkString("\n|      UNION ALL ")
          val thresh = rnd4(math.pow(1.0 / b, 1.0 / r))
          val p08 = rnd4(1.0 - math.pow(1.0 - math.pow(0.8, r), b))
          s"""c_${b}_$r AS (
            |  SELECT CAST($b AS INTEGER) AS b, CAST($r AS INTEGER) AS r,
            |    CAST($thresh AS DOUBLE) AS s_threshold,
            |    CAST($p08 AS DOUBLE) AS p_at_08,
            |    CAST(count(*) AS BIGINT) AS n_buckets,
            |    CAST(coalesce(sum(nb * (nb - 1) // 2), 0) AS BIGINT)
            |      AS n_cand_pairs
            |  FROM (
            |    SELECT band_id, key, count(*) AS nb FROM (
            |      $arms
            |    ) GROUP BY band_id, key)
            |  WHERE nb >= 2)""".stripMargin
        }.mkString(",\n")
        val sel = TuneConfigs.map { case (b, r) => s"SELECT * FROM c_${b}_$r" }
          .mkString("\n|UNION ALL ")
        s"""WITH t AS (
          |  SELECT doc_id, str_split(text, ' ') AS tk FROM documents),
          |idx AS (
          |  SELECT doc_id, tk, unnest(range(1, len(tk) - 1)) AS i FROM t),
          |shs AS (
          |  SELECT doc_id,
          |         list_distinct(list(tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS shs
          |  FROM idx GROUP BY doc_id),
          |w AS (SELECT doc_id, unnest(shs) AS sh FROM shs),
          |w2 AS (
          |  SELECT doc_id,
          |    ('0x' || substr(md5('mh:' || sh), 1, 12))::BIGINT AS h1,
          |    ('0x' || substr(md5('mh:' || sh), 13, 12))::BIGINT AS h2
          |  FROM w),
          |sigs AS (
          |  SELECT doc_id,
          |    $sigCols
          |  FROM w2 GROUP BY doc_id),
          |$cfgCtes
          |$sel
          |ORDER BY b DESC""".stripMargin
      },
      "q267_source_overlap" -> {
        val sigCols = (0 until 16).map(i =>
          s"min((h1 + $i * h2) % $Sig48) AS s$i").mkString(",\n|    ")
        val agree = (0 until 16).map(i =>
          s"(CASE WHEN a.s$i = c.s$i THEN 1 ELSE 0 END)").mkString(" + ")
        s"""WITH t AS (
          |  SELECT doc_id, source, str_split(text, ' ') AS tk
          |  FROM documents),
          |idx AS (
          |  SELECT source, tk, unnest(range(1, len(tk) - 1)) AS i
          |  FROM t),
          |sh AS (
          |  SELECT DISTINCT source,
          |    tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] AS sh
          |  FROM idx),
          |w2 AS (
          |  SELECT source,
          |    ('0x' || substr(md5('mh:' || sh), 1, 12))::BIGINT AS h1,
          |    ('0x' || substr(md5('mh:' || sh), 13, 12))::BIGINT AS h2
          |  FROM sh),
          |sigs AS (
          |  SELECT source,
          |    $sigCols
          |  FROM w2 GROUP BY source),
          |est AS (
          |  SELECT a.source AS source_a, c.source AS source_b,
          |    round(($agree) / 16.0, 4) AS j_est
          |  FROM sigs a JOIN sigs c ON a.source < c.source),
          |counts AS (
          |  SELECT source, CAST(count(*) AS BIGINT) AS n_sh
          |  FROM sh GROUP BY source),
          |inter AS (
          |  SELECT x.source AS source_a, y.source AS source_b,
          |    CAST(count(*) AS BIGINT) AS ni
          |  FROM sh x JOIN sh y
          |    ON x.sh = y.sh AND x.source < y.source
          |  GROUP BY 1, 2)
          |SELECT e.source_a, e.source_b, e.j_est,
          |  round(coalesce(i.ni, 0) / CAST(ca.n_sh + cb.n_sh
          |    - coalesce(i.ni, 0) AS DOUBLE), 4) AS j_exact,
          |  round(e.j_est - coalesce(i.ni, 0)
          |    / CAST(ca.n_sh + cb.n_sh - coalesce(i.ni, 0) AS DOUBLE),
          |    4) + 0.0 AS err
          |FROM est e
          |JOIN counts ca ON ca.source = e.source_a
          |JOIN counts cb ON cb.source = e.source_b
          |LEFT JOIN inter i
          |  ON i.source_a = e.source_a AND i.source_b = e.source_b
          |ORDER BY e.source_a, e.source_b""".stripMargin
      },
      "q264_split_straddle" ->
        s"""WITH ${bruteforcePairsCte},
          |truth AS (
          |  SELECT doc_a, doc_b FROM p
          |  WHERE i * 5 >= (na + nb - i) * 4),
          |docs AS (
          |  SELECT doc_id,
          |    CASE WHEN doc_id % 10 < 8 THEN 'train' ELSE 'eval' END
          |      AS doc_split,
          |    CASE WHEN ('0x' || substr(md5('ds:' || source), 1, 6))
          |      ::BIGINT / 16777216.0 < 0.8
          |      THEN 'train' ELSE 'eval' END AS grp_split
          |  FROM documents),
          |ann AS (
          |  SELECT a.doc_split AS da, a.grp_split AS ga,
          |    b.doc_split AS db, b.grp_split AS gb
          |  FROM truth t
          |  JOIN docs a ON a.doc_id = t.doc_a
          |  JOIN docs b ON b.doc_id = t.doc_b),
          |agg AS (
          |  SELECT CAST(count(*) AS BIGINT) AS n_pairs,
          |    CAST(sum(CASE WHEN da <> db THEN 1 ELSE 0 END)
          |      AS BIGINT) AS doc_straddle,
          |    CAST(sum(CASE WHEN ga <> gb THEN 1 ELSE 0 END)
          |      AS BIGINT) AS grp_straddle
          |  FROM ann)
          |SELECT 'doc_hash' AS strategy, n_pairs,
          |  doc_straddle AS n_straddle,
          |  round(doc_straddle / CAST(n_pairs AS DOUBLE), 4)
          |    AS straddle_rate
          |FROM agg
          |UNION ALL
          |SELECT 'source_grouped', n_pairs, grp_straddle,
          |  round(grp_straddle / CAST(n_pairs AS DOUBLE), 4)
          |FROM agg
          |ORDER BY strategy""".stripMargin,
      "q260_template_detect" ->
        """WITH d AS (
          |  SELECT doc_id, source,
          |    lower(array_to_string((str_split(text, ' '))[1:6], ' '))
          |      AS tpl
          |  FROM documents),
          |grp AS (
          |  SELECT tpl, CAST(count(*) AS BIGINT) AS n_docs,
          |    CAST(count(DISTINCT source) AS BIGINT) AS n_sources
          |  FROM d GROUP BY tpl HAVING count(*) >= 3),
          |sm AS (
          |  SELECT tpl,
          |    array_to_string(list(CAST(doc_id AS VARCHAR)
          |      ORDER BY doc_id), ',') AS sample_ids
          |  FROM (
          |    SELECT tpl, doc_id, row_number() OVER (
          |      PARTITION BY tpl ORDER BY doc_id) AS rn
          |    FROM d) WHERE rn <= 3
          |  GROUP BY tpl)
          |SELECT grp.tpl, n_docs, n_sources, sm.sample_ids
          |FROM grp JOIN sm USING (tpl)
          |ORDER BY n_docs DESC, tpl""".stripMargin,
      "q257_lsh_recall_sweep" -> {
        val sigCols = (0 until TuneSigK).map(i =>
          s"min((h1 + $i * h2) % $Sig48) AS s$i").mkString(",\n|    ")
        val layouts = Seq((16, 2), (8, 4), (4, 8))
        val blCtes = layouts.map { case (b, r) =>
          val bands = (0 until b).map { bi =>
            val parts = (0 until r).map(j =>
              s"CAST(s${bi * r + j} AS VARCHAR)").mkString(" || '_' || ")
            s"'${bi}_' || $parts"
          }.mkString("[", ", ", "]")
          s"""bl_${b}_$r AS (
            |  SELECT doc_id, $bands AS bands FROM sigs),
            |det_${b}_$r AS (
            |  SELECT CAST(count(*) AS BIGINT) AS n_true,
            |    CAST(sum(CASE WHEN len(list_intersect(a.bands, c.bands))
            |      > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_detected
            |  FROM truth t
            |  JOIN bl_${b}_$r a ON a.doc_id = t.doc_a
            |  JOIN bl_${b}_$r c ON c.doc_id = t.doc_b),
            |cand_${b}_$r AS (
            |  SELECT CAST(sum(n * (n - 1) // 2) AS BIGINT) AS cand_pairs
            |  FROM (SELECT bv, CAST(count(*) AS BIGINT) AS n
            |        FROM (SELECT unnest(bands) AS bv FROM bl_${b}_$r)
            |        GROUP BY bv))""".stripMargin
        }.mkString(",\n")
        val unions = layouts.map { case (b, r) =>
          s"""SELECT $b AS b, $r AS r, n_true, n_detected,
            |  round(CAST(n_detected AS DOUBLE) / n_true, 4) AS recall,
            |  cand_pairs
            |FROM det_${b}_$r CROSS JOIN cand_${b}_$r""".stripMargin
        }.mkString("\n|UNION ALL ")
        s"""WITH t AS (
          |  SELECT doc_id, str_split(text, ' ') AS tk FROM documents),
          |idx AS (
          |  SELECT doc_id, tk, unnest(range(1, len(tk) - 1)) AS i FROM t),
          |shs AS (
          |  SELECT doc_id,
          |         list_distinct(list(tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS shs
          |  FROM idx GROUP BY doc_id),
          |truth AS (
          |  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b
          |  FROM shs x JOIN shs y ON x.doc_id < y.doc_id
          |  WHERE len(list_intersect(x.shs, y.shs)) >= 1
          |    AND 5 * len(list_intersect(x.shs, y.shs))
          |      >= 4 * (len(x.shs) + len(y.shs)
          |              - len(list_intersect(x.shs, y.shs)))),
          |w AS (SELECT doc_id, unnest(shs) AS sh FROM shs),
          |w2 AS (
          |  SELECT doc_id,
          |    ('0x' || substr(md5('mh:' || sh), 1, 12))::BIGINT AS h1,
          |    ('0x' || substr(md5('mh:' || sh), 13, 12))::BIGINT AS h2
          |  FROM w),
          |sigs AS (
          |  SELECT doc_id,
          |    $sigCols
          |  FROM w2 GROUP BY doc_id),
          |$blCtes
          |$unions
          |ORDER BY b DESC""".stripMargin
      },
      "q254_bbit_minhash" -> {
        val sigCols = (0 until TuneSigK).map(i =>
          s"min((h1 + $i * h2) % $Sig48) AS s$i").mkString(",\n|    ")
        val agree = (0 until TuneSigK).map(i =>
          s"(CASE WHEN a.s$i = c.s$i THEN 1 ELSE 0 END)").mkString(" + ")
        val agreeB1 = (0 until TuneSigK).map(i =>
          s"(CASE WHEN a.s$i % 2 = c.s$i % 2 THEN 1 ELSE 0 END)")
          .mkString(" + ")
        s"""WITH t AS (
          |  SELECT doc_id, str_split(text, ' ') AS tk FROM documents),
          |idx AS (
          |  SELECT doc_id, tk, unnest(range(1, len(tk) - 1)) AS i FROM t),
          |shs AS (
          |  SELECT doc_id,
          |         list_distinct(list(tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS shs
          |  FROM idx GROUP BY doc_id),
          |b AS (
          |  SELECT doc_id, shs, list_aggregate(shs, 'min') AS blk,
          |         count(*) OVER (PARTITION BY list_aggregate(shs, 'min')) AS blk_n
          |  FROM shs WHERE len(shs) > 0),
          |pairs AS (
          |  SELECT x.doc_id AS x_id, y.doc_id AS y_id,
          |    round(len(list_intersect(x.shs, y.shs))
          |      / CAST(len(x.shs) + len(y.shs)
          |             - len(list_intersect(x.shs, y.shs)) AS DOUBLE),
          |      4) AS j_exact
          |  FROM b x JOIN b y
          |    ON x.blk = y.blk AND x.doc_id < y.doc_id
          |  WHERE x.blk_n <= 1000),
          |w AS (SELECT doc_id, unnest(shs) AS sh FROM shs),
          |w2 AS (
          |  SELECT doc_id,
          |    ('0x' || substr(md5('mh:' || sh), 1, 12))::BIGINT AS h1,
          |    ('0x' || substr(md5('mh:' || sh), 13, 12))::BIGINT AS h2
          |  FROM w),
          |sigs AS (
          |  SELECT doc_id,
          |    $sigCols
          |  FROM w2 GROUP BY doc_id)
          |SELECT p.x_id, p.y_id, p.j_exact,
          |  round(($agree) / ${TuneSigK.toDouble}, 4) AS j_full,
          |  CAST($agreeB1 AS BIGINT) AS n_bit_match,
          |  round(2.0 * (($agreeB1) / ${TuneSigK.toDouble}) - 1.0, 4)
          |    + 0.0 AS j_b1,
          |  round((round(2.0 * (($agreeB1) / ${TuneSigK.toDouble}) - 1.0,
          |    4) + 0.0) - p.j_exact, 4) + 0.0 AS err_b1
          |FROM pairs p
          |JOIN sigs a ON a.doc_id = p.x_id
          |JOIN sigs c ON c.doc_id = p.y_id
          |ORDER BY p.x_id, p.y_id""".stripMargin
      },
      "q174_minhash_estimate" -> {
        val sigCols = (0 until TuneSigK).map(i =>
          s"min((h1 + $i * h2) % $Sig48) AS s$i").mkString(",\n|    ")
        val agree = (0 until TuneSigK).map(i =>
          s"(CASE WHEN a.s$i = c.s$i THEN 1 ELSE 0 END)").mkString(" + ")
        s"""WITH t AS (
          |  SELECT doc_id, str_split(text, ' ') AS tk FROM documents),
          |idx AS (
          |  SELECT doc_id, tk, unnest(range(1, len(tk) - 1)) AS i FROM t),
          |shs AS (
          |  SELECT doc_id,
          |         list_distinct(list(tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS shs
          |  FROM idx GROUP BY doc_id),
          |b AS (
          |  SELECT doc_id, shs, list_aggregate(shs, 'min') AS blk,
          |         count(*) OVER (PARTITION BY list_aggregate(shs, 'min')) AS blk_n
          |  FROM shs WHERE len(shs) > 0),
          |pairs AS (
          |  SELECT x.doc_id AS x_id, y.doc_id AS y_id,
          |    round(len(list_intersect(x.shs, y.shs))
          |      / CAST(len(x.shs) + len(y.shs)
          |             - len(list_intersect(x.shs, y.shs)) AS DOUBLE),
          |      4) AS j_exact
          |  FROM b x JOIN b y
          |    ON x.blk = y.blk AND x.doc_id < y.doc_id
          |  WHERE x.blk_n <= 1000),
          |w AS (SELECT doc_id, unnest(shs) AS sh FROM shs),
          |w2 AS (
          |  SELECT doc_id,
          |    ('0x' || substr(md5('mh:' || sh), 1, 12))::BIGINT AS h1,
          |    ('0x' || substr(md5('mh:' || sh), 13, 12))::BIGINT AS h2
          |  FROM w),
          |sigs AS (
          |  SELECT doc_id,
          |    $sigCols
          |  FROM w2 GROUP BY doc_id)
          |SELECT p.x_id, p.y_id,
          |  CAST($agree AS BIGINT) AS n_agree,
          |  round(($agree) / ${TuneSigK.toDouble}, 4) AS j_est,
          |  p.j_exact,
          |  round(round(($agree) / ${TuneSigK.toDouble}, 4) - p.j_exact, 4)
          |    + 0.0 AS err
          |FROM pairs p
          |JOIN sigs a ON a.doc_id = p.x_id
          |JOIN sigs c ON c.doc_id = p.y_id
          |ORDER BY p.x_id, p.y_id""".stripMargin
      },
      "q172_sparse_cosine" ->
        s"""WITH t AS (
          |  SELECT doc_id, str_split(text, ' ') AS tk FROM documents),
          |idx AS (
          |  SELECT doc_id, tk, unnest(range(1, len(tk) - 1)) AS i FROM t),
          |shs AS (
          |  SELECT doc_id,
          |         list_distinct(list(tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS shs
          |  FROM idx GROUP BY doc_id),
          |shd AS (SELECT doc_id, shs FROM shs WHERE len(shs) > 0),
          |w AS (SELECT doc_id, unnest(shs) AS sh FROM shd),
          |df AS (SELECT sh, CAST(count(*) AS BIGINT) AS df FROM w GROUP BY sh),
          |nn AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n FROM w),
          |wt AS (
          |  SELECT w.doc_id, w.sh, ln(CAST(n AS DOUBLE) / df) AS wt
          |  FROM w JOIN df USING (sh) CROSS JOIN nn
          |  WHERE df <= $CosMaxDf),
          |nrm AS (
          |  SELECT doc_id,
          |    sqrt(CAST(sum(CAST(floor(wt * wt * 1e9 + 0.5) AS BIGINT))
          |      AS DOUBLE) / 1e9) AS nrm
          |  FROM wt GROUP BY doc_id),
          |b AS (
          |  SELECT doc_id, list_aggregate(shs, 'min') AS blk,
          |         count(*) OVER (PARTITION BY list_aggregate(shs, 'min')) AS blk_n
          |  FROM shd),
          |cand AS (
          |  SELECT x.doc_id AS x_id, y.doc_id AS y_id
          |  FROM b x JOIN b y ON x.blk = y.blk AND x.doc_id < y.doc_id
          |  WHERE x.blk_n <= 1000),
          |dots AS (
          |  SELECT c.x_id, c.y_id,
          |    sum(CAST(floor(wx.wt * wy.wt * 1e9 + 0.5) AS BIGINT))
          |      AS dm
          |  FROM cand c
          |  JOIN wt wx ON wx.doc_id = c.x_id
          |  JOIN wt wy ON wy.doc_id = c.y_id AND wy.sh = wx.sh
          |  GROUP BY c.x_id, c.y_id),
          |scored AS (
          |  SELECT d.x_id, d.y_id,
          |    round((CAST(dm AS DOUBLE) / 1e9)
          |      / nullif(nx.nrm * ny.nrm, 0), 4) AS cos
          |  FROM dots d
          |  JOIN nrm nx ON nx.doc_id = d.x_id
          |  JOIN nrm ny ON ny.doc_id = d.y_id)
          |SELECT * FROM scored WHERE cos >= 0.5
          |ORDER BY x_id, y_id""".stripMargin,
      "q159_containment" ->
        s"""WITH t AS (
          |  SELECT doc_id, str_split(text, ' ') AS tk FROM documents),
          |idx AS (
          |  SELECT doc_id, tk, unnest(range(1, len(tk) - 1)) AS i FROM t),
          |sh AS (
          |  SELECT doc_id,
          |         list_distinct(list(tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS sh
          |  FROM idx GROUP BY doc_id),
          |b AS (
          |  SELECT doc_id, sh, list_aggregate(sh, 'min') AS blk,
          |         count(*) OVER (PARTITION BY list_aggregate(sh, 'min')) AS blk_n
          |  FROM sh WHERE len(sh) > 0),
          |p AS (
          |  SELECT x.doc_id AS x_id, y.doc_id AS y_id,
          |    CAST(len(x.sh) AS BIGINT) AS n_x,
          |    CAST(len(list_intersect(x.sh, y.sh)) AS BIGINT) AS n_common,
          |    round(len(list_intersect(x.sh, y.sh))
          |      / CAST(len(x.sh) AS DOUBLE), 4) AS containment
          |  FROM b x JOIN b y
          |    ON x.blk = y.blk AND x.doc_id <> y.doc_id
          |  WHERE x.blk_n <= 1000)
          |SELECT * FROM p WHERE containment >= 0.9
          |ORDER BY x_id, y_id""".stripMargin,
      "q31_ngram_jaccard" ->
        s"""WITH t AS (
          |  SELECT doc_id, str_split(text, ' ') AS tk FROM documents),
          |idx AS (
          |  SELECT doc_id, tk, unnest(range(1, len(tk) - 1)) AS i FROM t),
          |sh AS (
          |  SELECT doc_id,
          |         list_distinct(list(tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS sh
          |  FROM idx GROUP BY doc_id),
          |b AS (
          |  SELECT doc_id, sh, list_aggregate(sh, 'min') AS blk,
          |         count(*) OVER (PARTITION BY list_aggregate(sh, 'min')) AS blk_n
          |  FROM sh WHERE len(sh) > 0)
          |SELECT x.doc_id AS x_id, y.doc_id AS y_id,
          |  round(len(list_intersect(x.sh, y.sh))
          |    / CAST(len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh)) AS DOUBLE),
          |    4) AS jaccard
          |FROM b x JOIN b y
          |  ON x.blk = y.blk AND x.doc_id < y.doc_id
          |WHERE x.blk_n <= 1000
          |ORDER BY x_id, y_id""".stripMargin,
      // q32's oracle is the EXACT all-pairs answer (DuckDB can afford it
      // at oracle scale); the engine reaches the same set through banded
      // LSH candidates + exact verify — see qMinhashLsh's detection-prob
      // argument for why the two agree at the 0.9 output threshold on
      // ANY corpus (not just one with a measured similarity gap).
      "q32_minhash_lsh" -> {
        val stops = TextOps.stopwordsSqlList
        val cleanSql = TextOps.cleanTextSql
        s"""WITH cleaned AS (
          |  SELECT doc_id,
          |    list_filter(str_split($cleanSql, ' '), t -> t NOT IN $stops) AS tk
          |  FROM documents),
          |idx AS (
          |  SELECT doc_id, tk, unnest(range(1, len(tk) - 1)) AS i FROM cleaned),
          |sh AS (
          |  SELECT doc_id,
          |         list_distinct(list(tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS sh
          |  FROM idx GROUP BY doc_id)
          |SELECT x.doc_id AS x_id, y.doc_id AS y_id,
          |  round(len(list_intersect(x.sh, y.sh))
          |    / CAST(len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh)) AS DOUBLE),
          |    4) AS jaccard
          |FROM sh x JOIN sh y ON x.doc_id < y.doc_id
          |WHERE len(list_intersect(x.sh, y.sh))
          |    / CAST(len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh)) AS DOUBLE)
          |    >= 0.9
          |ORDER BY x_id, y_id""".stripMargin
      },
      "q136_dedup_yield" -> {
        val stops = TextOps.stopwordsSqlList
        val cleanSql = TextOps.cleanTextSql
        s"""WITH cleaned AS (
          |  SELECT doc_id,
          |    list_filter(str_split($cleanSql, ' '), t -> t NOT IN $stops) AS tk
          |  FROM documents),
          |idx AS (
          |  SELECT doc_id, tk, unnest(range(1, len(tk) - 1)) AS i FROM cleaned),
          |sh AS (
          |  SELECT doc_id,
          |         list_distinct(list(tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS sh
          |  FROM idx GROUP BY doc_id),
          |pairs AS (
          |  SELECT x.doc_id AS x_id, y.doc_id AS y_id,
          |    round(len(list_intersect(x.sh, y.sh))
          |      / CAST(len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh)) AS DOUBLE),
          |      4) AS jaccard
          |  FROM sh x JOIN sh y ON x.doc_id < y.doc_id
          |  WHERE len(list_intersect(x.sh, y.sh))
          |      / CAST(len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh)) AS DOUBLE)
          |      >= 0.9)
          |SELECT t.tau,
          |  CAST(count(p.x_id) AS BIGINT) AS n_pairs,
          |  CAST(count(DISTINCT p.y_id) AS BIGINT) AS n_dropped
          |FROM (SELECT unnest([0.9::DOUBLE, 0.95::DOUBLE, 1.0::DOUBLE])
          |        AS tau) t
          |LEFT JOIN pairs p ON p.jaccard >= t.tau
          |GROUP BY t.tau ORDER BY t.tau""".stripMargin
      },
      "q34_embed_cos_dup" ->
        """WITH base AS (
          |  SELECT vec_id, label, embedding FROM embeddings
          |  WHERE vec_id % 5 = 0
          |    AND list_dot_product(embedding, embedding) > 0)
          |SELECT x.vec_id AS x_id, y.vec_id AS y_id, x.label,
          |  round(list_cosine_similarity(x.embedding, y.embedding), 4) AS cos
          |FROM base x JOIN base y
          |  ON x.label = y.label AND x.vec_id < y.vec_id
          |WHERE list_cosine_similarity(x.embedding, y.embedding) >= 0.35
          |ORDER BY x_id, y_id""".stripMargin,
      "q28_span_dedup" ->
        """WITH t AS (
          |  SELECT doc_id, str_split(text, ' ') AS tk FROM documents),
          |idx AS (
          |  SELECT doc_id, tk, unnest(range(1, len(tk) - 6)) AS i
          |  FROM t WHERE len(tk) >= 8),
          |w AS (
          |  SELECT DISTINCT doc_id,
          |    md5(array_to_string(tk[i:i+7], ' ')) AS h
          |  FROM idx),
          |rare AS (
          |  SELECT h FROM w GROUP BY h HAVING count(*) BETWEEN 2 AND 50),
          |p AS (
          |  SELECT x.doc_id AS x_id, y.doc_id AS y_id
          |  FROM w x JOIN w y ON x.h = y.h AND x.doc_id < y.doc_id
          |  WHERE x.h IN (SELECT h FROM rare))
          |SELECT x_id, y_id, CAST(count(*) AS BIGINT) AS n_shared
          |FROM p GROUP BY x_id, y_id
          |HAVING count(*) >= 3
          |ORDER BY x_id, y_id""".stripMargin,
      "q39_repetition" ->
        """WITH t AS (
          |  SELECT doc_id, str_split(text, ' ') AS tk FROM documents),
          |idx AS (
          |  SELECT doc_id, tk, unnest(range(1, len(tk) - 1)) AS i FROM t),
          |sh AS (
          |  SELECT doc_id, count(*) AS n_shingles,
          |    CAST(len(list_distinct(
          |      list(tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))) AS BIGINT)
          |      AS n_distinct
          |  FROM idx GROUP BY doc_id)
          |SELECT doc_id, n_shingles, n_distinct,
          |  round(1.0 - CAST(n_distinct AS DOUBLE) / n_shingles, 4)
          |    AS repetition
          |FROM sh WHERE n_shingles > 0 ORDER BY doc_id""".stripMargin,
      "q35_contamination" -> {
        val stops = TextOps.stopwordsSqlList
        val cleanSql = TextOps.cleanTextSql
        s"""WITH cleaned AS (
          |  SELECT doc_id,
          |    list_filter(str_split($cleanSql, ' '), t -> t NOT IN $stops) AS tk
          |  FROM documents),
          |idx AS (
          |  SELECT doc_id, tk, unnest(range(1, len(tk) - 1)) AS i FROM cleaned),
          |sh AS (
          |  SELECT doc_id,
          |    list_distinct(list(tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS sh
          |  FROM idx GROUP BY doc_id),
          |base0 AS (
          |  SELECT c.doc_id, md5(array_to_string(c.tk, ' ')) AS fp,
          |         s.sh, list_aggregate(s.sh, 'min') AS blk
          |  FROM cleaned c JOIN sh s ON s.doc_id = c.doc_id
          |  WHERE len(s.sh) > 0),
          |base AS (
          |  SELECT *, count(*) OVER (PARTITION BY blk) AS blk_n FROM base0),
          |bench AS (SELECT * FROM base WHERE doc_id % 11 = 0 AND blk_n <= 1000),
          |corpus AS (SELECT * FROM base WHERE doc_id % 11 <> 0 AND blk_n <= 1000)
          |SELECT c.doc_id, b.doc_id AS bench_id,
          |  CASE WHEN c.fp = b.fp THEN 'exact' ELSE 'near' END AS kind
          |FROM corpus c JOIN bench b ON c.blk = b.blk
          |WHERE len(list_intersect(c.sh, b.sh))
          |    / CAST(len(c.sh) + len(b.sh) - len(list_intersect(c.sh, b.sh))
          |           AS DOUBLE) >= 0.5
          |ORDER BY 1, 2, 3""".stripMargin
      },
      "q107_contam_frac" -> {
        val stops = TextOps.stopwordsSqlList
        val cleanSql = TextOps.cleanTextSql
        s"""WITH cleaned AS (
          |  SELECT doc_id,
          |    list_filter(str_split($cleanSql, ' '),
          |      t -> t NOT IN $stops) AS tk
          |  FROM documents),
          |idx AS (
          |  SELECT doc_id, tk, unnest(range(1, len(tk) - 1)) AS i
          |  FROM cleaned),
          |sh AS (
          |  SELECT doc_id,
          |    list_distinct(list(tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))
          |      AS sh
          |  FROM idx GROUP BY doc_id),
          |g AS (
          |  SELECT doc_id,
          |    ('0x' || substr(md5(unnest(sh)), 1, 15))::BIGINT AS gh
          |  FROM sh WHERE len(sh) > 0),
          |bench AS (SELECT DISTINCT gh FROM g WHERE doc_id % 11 = 0),
          |corpus AS (SELECT doc_id, gh FROM g WHERE doc_id % 11 <> 0)
          |SELECT c.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
          |  round(avg(CASE WHEN b.gh IS NULL THEN 0.0 ELSE 1.0 END), 4)
          |    AS contam_frac
          |FROM corpus c LEFT JOIN bench b ON c.gh = b.gh
          |GROUP BY c.doc_id ORDER BY c.doc_id""".stripMargin
      },
      "q113_keeper_policy" ->
        s"""$ccOracleCtes,
          |lab AS (
          |  SELECT doc_id, min(r) AS cluster_id FROM reach GROUP BY doc_id),
          |m AS (
          |  SELECT lab.doc_id, cluster_id, n_chars
          |  FROM lab JOIN documents USING (doc_id)),
          |r AS (
          |  SELECT *,
          |    row_number() OVER (PARTITION BY cluster_id
          |      ORDER BY n_chars DESC, doc_id) AS rk,
          |    count(*) OVER (PARTITION BY cluster_id) AS n_members
          |  FROM m)
          |SELECT cluster_id, doc_id AS keeper_id,
          |  n_chars AS keeper_chars, CAST(n_members AS BIGINT) AS n_members
          |FROM r WHERE rk = 1 ORDER BY cluster_id""".stripMargin,
      // q112's oracle is q32's exact all-pairs answer restricted to
      // pairs touching the appended batch (%3 == 0) — the engine finds
      // the same set driving the band join from the new side only.
      "q112_incremental_lsh" -> {
        val stops = TextOps.stopwordsSqlList
        val cleanSql = TextOps.cleanTextSql
        s"""WITH cleaned AS (
          |  SELECT doc_id,
          |    list_filter(str_split($cleanSql, ' '), t -> t NOT IN $stops) AS tk
          |  FROM documents),
          |idx AS (
          |  SELECT doc_id, tk, unnest(range(1, len(tk) - 1)) AS i FROM cleaned),
          |sh AS (
          |  SELECT doc_id,
          |         list_distinct(list(tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS sh
          |  FROM idx GROUP BY doc_id)
          |SELECT x.doc_id AS x_id, y.doc_id AS y_id,
          |  round(len(list_intersect(x.sh, y.sh))
          |    / CAST(len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh)) AS DOUBLE),
          |    4) AS jaccard,
          |  CASE WHEN x.doc_id % 3 = 0 AND y.doc_id % 3 = 0 THEN 'new_new'
          |       ELSE 'new_index' END AS kind
          |FROM sh x JOIN sh y ON x.doc_id < y.doc_id
          |WHERE (x.doc_id % 3 = 0 OR y.doc_id % 3 = 0)
          |  AND len(list_intersect(x.sh, y.sh))
          |    / CAST(len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh)) AS DOUBLE)
          |    >= 0.9
          |ORDER BY x_id, y_id""".stripMargin
      },
      // q111 composes the q64 CC chain, the q35 contamination chain
      // (rebuilt on the shared cleaned/sh CTEs), exact-dup keepers, and
      // the two-bound quality gate, with the engine's first-match
      // precedence replayed as a CASE ladder.
      "q111_training_manifest" ->
        s"""$ccOracleCtes,
          |lab AS (
          |  SELECT doc_id, min(r) AS keeper_id FROM reach GROUP BY doc_id),
          |nearl AS (SELECT doc_id FROM lab WHERE doc_id <> keeper_id),
          |exl AS (
          |  SELECT d.doc_id FROM documents d
          |  JOIN (SELECT md5(text) AS fp, min(doc_id) AS keeper
          |        FROM documents GROUP BY md5(text)) k
          |    ON md5(d.text) = k.fp
          |  WHERE d.doc_id <> k.keeper),
          |base0 AS (
          |  SELECT c.doc_id, s.sh, list_aggregate(s.sh, 'min') AS blk
          |  FROM cleaned c JOIN sh s ON s.doc_id = c.doc_id
          |  WHERE len(s.sh) > 0),
          |base AS (
          |  SELECT *, count(*) OVER (PARTITION BY blk) AS blk_n FROM base0),
          |benchx AS (
          |  SELECT * FROM base WHERE doc_id % 11 = 0 AND blk_n <= 1000),
          |corpusx AS (
          |  SELECT * FROM base WHERE doc_id % 11 <> 0 AND blk_n <= 1000),
          |contam AS (
          |  SELECT DISTINCT c.doc_id
          |  FROM corpusx c JOIN benchx b ON c.blk = b.blk
          |  WHERE len(list_intersect(c.sh, b.sh))
          |      / CAST(len(c.sh) + len(b.sh) - len(list_intersect(c.sh, b.sh))
          |             AS DOUBLE) >= 0.5),
          |q AS (
          |  SELECT doc_id, lang,
          |    CAST(len(str_split(text, ' ')) AS BIGINT) AS n_tok,
          |    (len(str_split(text, ' ')) >= 30
          |     AND list_sum(list_transform(str_split(text, ' '),
          |           x -> CAST(length(x) AS DOUBLE)))
          |         / len(str_split(text, ' ')) BETWEEN 3.0 AND 10.0) AS q_ok
          |  FROM documents),
          |r AS (
          |  SELECT q.lang, q.n_tok,
          |    CASE
          |      WHEN q.doc_id IN (SELECT doc_id FROM exl) THEN 'drop_exact'
          |      WHEN q.doc_id IN (SELECT doc_id FROM nearl) THEN 'drop_near'
          |      WHEN q.doc_id IN (SELECT doc_id FROM contam)
          |        THEN 'drop_contam'
          |      WHEN NOT q.q_ok THEN 'drop_quality'
          |      ELSE 'kept' END AS reason
          |  FROM q)
          |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
          |  CAST(sum(CASE WHEN reason = 'kept' THEN 1 ELSE 0 END)
          |    AS BIGINT) AS n_kept,
          |  CAST(sum(CASE WHEN reason = 'kept' THEN n_tok ELSE 0 END)
          |    AS BIGINT) AS n_tokens_kept,
          |  CAST(sum(CASE WHEN reason = 'drop_exact' THEN 1 ELSE 0 END)
          |    AS BIGINT) AS drop_exact,
          |  CAST(sum(CASE WHEN reason = 'drop_near' THEN 1 ELSE 0 END)
          |    AS BIGINT) AS drop_near,
          |  CAST(sum(CASE WHEN reason = 'drop_contam' THEN 1 ELSE 0 END)
          |    AS BIGINT) AS drop_contam,
          |  CAST(sum(CASE WHEN reason = 'drop_quality' THEN 1 ELSE 0 END)
          |    AS BIGINT) AS drop_quality
          |FROM r GROUP BY lang ORDER BY lang""".stripMargin,
      "q109_dedup_apply" ->
        s"""$ccOracleCtes,
          |lab AS (
          |  SELECT doc_id, min(r) AS keeper_id FROM reach GROUP BY doc_id)
          |SELECT d.doc_id, d.lang, md5(d.text) AS fp
          |FROM documents d
          |WHERE d.doc_id NOT IN
          |  (SELECT doc_id FROM lab WHERE doc_id <> keeper_id)
          |ORDER BY d.doc_id""".stripMargin,
      "q64_dup_clusters" ->
        s"""$ccOracleCtes
          |SELECT doc_id, min(r) AS keeper_id
          |FROM reach GROUP BY doc_id ORDER BY doc_id""".stripMargin,
      // q94 reuses the exact all-pairs `p` CTE (the unreferenced
      // recursive CTEs cost nothing); equality with the engine rests on
      // q32's pairs == exact >= 0.9 pairs, which q32's own row proves.
      // q186: the q144 naive-join triangle oracle pointed at the
      // verified-pair graph (p from the shared dedup scaffolding)
      "q186_dup_transitivity" ->
        s"""$ccOracleCtes,
          |und AS (SELECT DISTINCT x_id AS a, y_id AS b FROM p),
          |deg AS (
          |  SELECT node, count(*) AS d
          |  FROM (SELECT a AS node FROM und UNION ALL SELECT b FROM und)
          |  GROUP BY node),
          |tri AS (
          |  SELECT count(*) AS n_triangles
          |  FROM und e1
          |  JOIN und e2 ON e2.a = e1.a AND e2.b > e1.b
          |  JOIN und e3 ON e3.a = e1.b AND e3.b = e2.b),
          |agg AS (
          |  SELECT CAST(sum(d * (d - 1) // 2) AS BIGINT) AS n_wedges,
          |         count(*) AS n_nodes
          |  FROM deg),
          |ecnt AS (SELECT count(*) AS n_edges FROM und)
          |SELECT n_nodes, n_edges, n_wedges, n_triangles,
          |  round(3.0 * n_triangles / n_wedges, 4) AS clustering
          |FROM agg CROSS JOIN ecnt CROSS JOIN tri""".stripMargin,
      "q185_crosslingual_dup" ->
        s"""$ccOracleCtes,
          |m AS (
          |  SELECT least(dx.lang, dy.lang) AS lang_a,
          |         greatest(dx.lang, dy.lang) AS lang_b
          |  FROM p
          |  JOIN documents dx ON p.x_id = dx.doc_id
          |  JOIN documents dy ON p.y_id = dy.doc_id)
          |SELECT lang_a, lang_b, CAST(count(*) AS BIGINT) AS n_pairs,
          |  lang_a <> lang_b AS cross_lingual
          |FROM m GROUP BY lang_a, lang_b
          |ORDER BY lang_a, lang_b""".stripMargin,
      "q236_source_dedup_impact" ->
        s"""$ccOracleCtes,
          |losers AS (SELECT DISTINCT y_id AS doc_id FROM p)
          |SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
          |  CAST(sum(CASE WHEN l.doc_id IS NOT NULL THEN 1 ELSE 0 END)
          |    AS BIGINT) AS n_losers,
          |  round(sum(CASE WHEN l.doc_id IS NOT NULL THEN 1 ELSE 0 END)
          |    / CAST(count(*) AS DOUBLE), 4) AS loss_rate
          |FROM documents d LEFT JOIN losers l ON d.doc_id = l.doc_id
          |GROUP BY d.source ORDER BY d.source""".stripMargin,
      "q94_source_matrix" ->
        s"""$ccOracleCtes,
          |m AS (
          |  SELECT least(dx.source, dy.source) AS source_a,
          |         greatest(dx.source, dy.source) AS source_b
          |  FROM p
          |  JOIN documents dx ON p.x_id = dx.doc_id
          |  JOIN documents dy ON p.y_id = dy.doc_id)
          |SELECT source_a, source_b, CAST(count(*) AS BIGINT) AS n_pairs
          |FROM m GROUP BY source_a, source_b
          |ORDER BY source_a, source_b""".stripMargin,
      "q68_dedup_report" ->
        s"""$ccOracleCtes,
          |lab AS (
          |  SELECT doc_id, min(r) AS keeper_id FROM reach GROUP BY doc_id)
          |SELECT (SELECT count(*) FROM documents) AS n_docs,
          |  count(*) AS n_clustered,
          |  count(DISTINCT keeper_id) AS n_clusters,
          |  CAST(sum(CASE WHEN doc_id <> keeper_id THEN 1 ELSE 0 END)
          |       AS BIGINT) AS n_losers,
          |  round(CAST(sum(CASE WHEN doc_id <> keeper_id THEN 1 ELSE 0 END)
          |             AS DOUBLE)
          |        / (SELECT count(*) FROM documents), 6) AS dedup_rate
          |FROM lab""".stripMargin,
      // q33: the md5-based sketch is bit-reproducible in SQL — 60 signed
      // bit-sums per doc, sign bits reassembled, 15-bit bands.
      "q251_simhash_bits" -> {
        val bitRows = (0 until 60).map(b =>
          s"SELECT doc_id, $b AS bit, (simhash >> $b) & 1 AS v FROM sk")
          .mkString("\n|  UNION ALL ")
        s"""$simhashOracleCtes,
          |bitrows AS (
          |  $bitRows)
          |SELECT bit, CAST(sum(v) AS BIGINT) AS n_ones,
          |  round(sum(v) / CAST(count(*) AS DOUBLE), 4) AS ones_share,
          |  round(sum(v) / CAST(count(*) AS DOUBLE) - 0.5, 4) + 0.0
          |    AS bias,
          |  abs(sum(v) / CAST(count(*) AS DOUBLE) - 0.5) > 0.1
          |    AS skewed
          |FROM bitrows GROUP BY bit ORDER BY bit""".stripMargin
      },
      "q33_simhash" ->
        s"""$simhashOracleCtes
          |SELECT doc_id, simhash,
          |  (simhash >> 0) & 32767 AS band0,
          |  (simhash >> 15) & 32767 AS band1,
          |  (simhash >> 30) & 32767 AS band2,
          |  (simhash >> 45) & 32767 AS band3
          |FROM sk ORDER BY doc_id""".stripMargin,
      // q85: candidate generation is provably lossless at hamming ≤ 3
      // (Manku pigeonhole), so the oracle skips the combo replay and
      // scores new-vs-index all-pairs directly — affordable at oracle
      // scale, identical by construction.
      "q85_incremental_dedup" ->
        s"""$simhashOracleCtes,
          |cand AS (
          |  SELECT n.doc_id AS new_id, i.doc_id AS idx_id,
          |    CAST(bit_count(xor(n.simhash, i.simhash)) AS INTEGER)
          |      AS hamming
          |  FROM sk n JOIN sk i
          |    ON n.doc_id % 3 = 0 AND i.doc_id % 3 <> 0)
          |SELECT new_id, hamming, idx_id AS dup_of FROM (
          |  SELECT new_id, hamming, idx_id,
          |    row_number() OVER (PARTITION BY new_id
          |      ORDER BY hamming, idx_id) AS rn
          |  FROM cand WHERE hamming <= 3)
          |WHERE rn = 1 ORDER BY new_id""".stripMargin,
    )
  }

  /** The q33/q85 shared sketch CTE chain: tok → h → bits → sk, ending
    * with sk(doc_id, simhash). Starts its own WITH clause. */
  private def simhashOracleCtes: String = {
    val stops = TextOps.stopwordsSqlList
    val cleanSql = TextOps.cleanTextSql
    val bitSums = (0 until SimhashBits).map(i =>
      s"sum(CASE WHEN (h >> $i) & 1 = 1 THEN 1 ELSE -1 END) AS b$i")
      .mkString(",\n|    ")
    val sketch = (0 until SimhashBits).map(i =>
      s"CASE WHEN b$i > 0 THEN (CAST(1 AS BIGINT) << $i) ELSE 0 END")
      .mkString(" + ")
    s"""WITH tok AS (
      |  SELECT doc_id,
      |    unnest(list_filter(str_split($cleanSql, ' '),
      |      t -> t NOT IN $stops)) AS t
      |  FROM documents),
      |h AS (
      |  SELECT doc_id,
      |    ('0x' || substr(md5(t), 1, 15))::BIGINT AS h FROM tok),
      |bits AS (
      |  SELECT doc_id,
      |    $bitSums
      |  FROM h GROUP BY doc_id),
      |sk AS (
      |  SELECT doc_id, ($sketch) AS simhash FROM bits)""".stripMargin
  }
}
