package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.QueryModule
import graft.functions.TextOps
import graft.sources.Tables

/** Corpus-quality and sketch operators a training-data pipeline runs at
  * scale: Gopher-style document quality rules (Rae et al. 2021, "Scaling
  * Language Models" §A1.1 — the published filter set), symmetric int8
  * embedding quantization (4× smaller vectors = 4× less ANN shuffle),
  * approximate distinct counting (HLL sketch vs exact), and exact
  * per-group length quantiles. All map-only expressions or single
  * partial-agg shuffles — nothing here gets worse at 100×.
  */
object QualityQueries extends QueryModule {

  private[operators] val Stop8 = Seq("the", "be", "to", "of", "and", "that", "have",
    "with")

  /** Gopher quality flags over any (doc_id, lang, text) frame — split
    * out so the spec can exercise both verdicts on crafted rows (the
    * synthetic corpus is stopword-poor and fails wholesale, which is the
    * honest answer for word salad). */
  /** The q46 gate as ONE boolean expression over `text` — the same
    * rounded features gopherFlags materializes, fused for consumers
    * (q238) that need the verdict without the feature columns. */
  private[operators] def gopherPassesExpr: Column = {
    val toks = split(col("text"), " ")
    val meanW = round(aggregate(transform(toks, t => length(t).cast("double")),
      lit(0.0), (a, x) => a + x) / size(toks), 4)
    val stopHits = size(array_intersect(toks, array(Stop8.map(lit): _*)))
    val symRatio = round((regexp_count(col("text"), lit("#")) +
      regexp_count(col("text"), lit("\\.\\.\\."))).cast("double") /
      size(toks), 4)
    size(toks).cast("long").between(50, 100000) &&
      meanW.between(3.0, 10.0) && symRatio <= 0.1 && stopHits >= 2
  }

  private[graft] def gopherFlags(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val toks = split($"text", " ")
    docs
      .select($"doc_id", $"lang",
        size(toks).cast("long").as("n_words"),
        // mean token length: total chars minus separators, over tokens
        round(aggregate(transform(toks, t => length(t).cast("double")),
          lit(0.0), (a, x) => a + x) / size(toks), 4).as("mean_wlen"),
        size(array_intersect(toks,
          array(Stop8.map(lit): _*))).cast("long").as("stop_hits"),
        round((regexp_count($"text", lit("#")) +
          regexp_count($"text", lit("\\.\\.\\."))).cast("double") /
          size(toks), 4).as("symbol_ratio"))
      .withColumn("passes",
        $"n_words".between(50, 100000) &&
        $"mean_wlen".between(3.0, 10.0) &&
        $"symbol_ratio" <= 0.1 &&
        $"stop_hits" >= 2)
      .orderBy($"doc_id")
  }

  /** Gopher repetition-free quality gate, the subset whose signals exist
    * in any whitespace-tokenized corpus: word count bounds, mean word
    * length bounds, symbol-to-word ratio, and the ≥2-of-8 stopword
    * rule. Pure per-row expressions — map-only at any scale. */
  def qGopherRules(s: SparkSession, dir: String): DataFrame =
    gopherFlags(Tables.documents(s, dir))

  /** Symmetric int8 quantization of the embedding column: scale =
    * 127 / max|v|, q_i = floor(v_i·scale + 0.5). Emits the scale, an
    * integer checksum of the quantized vector, and the max
    * reconstruction error (≤ 0.5/scale by construction — asserted in
    * the spec, checked row-by-row by the oracle). floor(x+0.5), not
    * round(): half-up float rounding is the one both engines agree on
    * bit-for-bit. */
  def qEmbedQuantize(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val v = transform($"embedding", _.cast("double"))
    def scaleOf(v: Column): Column = lit(127.0) / array_max(transform(v, abs(_)))
    val q = (x: Column, sc: Column) => floor(x * sc + lit(0.5))
    Tables.embeddings(s, dir)
      .select($"vec_id", v.as("v"))
      .filter(array_max(transform($"v", abs(_))) > 0)
      .select($"vec_id", scaleOf($"v").as("scale"), $"v")
      .select($"vec_id",
        round($"scale", 4).as("scale_r"),
        aggregate(transform($"v", x => q(x, $"scale")), lit(0.0),
          (a, x) => a + x).cast("long").as("q_checksum"),
        round(array_max(transform($"v",
          x => abs(x - q(x, $"scale") / $"scale"))), 4).as("max_err"))
      .orderBy($"vec_id")
  }

  /** HLL sketch vs exact distinct per group: the engine computes BOTH
    * its approx_count_distinct and the exact count and emits the exact
    * count plus a "sketch within 5%" verdict; the oracle does the same
    * with DuckDB's own HLL. Each engine judges its own sketch — the
    * oracle-checkable claims are the exact counts and that both sketches
    * meet the advertised error bound. */
  def qApproxDistinct(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, dir)
      .groupBy($"l_returnflag")
      .agg(
        countDistinct($"l_partkey").as("exact_parts"),
        // rsd 2%: the verdict column asserts a 5% bound, so the sketch
        // needs headroom below it (the default 5% rsd would sit exactly
        // at the bound and flake)
        approx_count_distinct($"l_partkey", 0.02).as("approx"))
      .select($"l_returnflag", $"exact_parts",
        (abs($"approx" - $"exact_parts").cast("double") /
          $"exact_parts" <= 0.05).as("sketch_ok"))
      .orderBy($"l_returnflag")
  }

  private val KmvK = 256

  /** KMV distinct-INTERSECTION sketch (q147): how many distinct users
    * does each pair of event types share — answered from k-minimum-
    * values sketches (Beyer et al., SIGMOD 2007; the θ-sketch family's
    * ancestor) instead of the user-keyed self-join the exact answer
    * needs. This is the set operation HLL (q49/q141) structurally can't
    * do: HLL unions but never intersects; KMV supports full set algebra
    * — the union sketch is just the k smallest of the two sketches'
    * concatenation, and the fraction of it present in both sides
    * estimates Jaccard, hence overlap = jaccard-fraction × union
    * estimate. Per type the sketch is the k smallest 48-bit md5 hashes
    * of user_id — built with one distinct + bounded-heap top-k
    * (WindowGroupLimit, no full sort), |types|×k rows total however
    * large the corpus; every pairwise estimate after that is algebra on
    * sketch rows. The md5 coin makes the whole estimator ENGINE-
    * REPLAYABLE — unlike q49/q141's each-engine-judges-its-own-sketch
    * convention, the estimates themselves hash-match the oracle — and
    * the exact overlap (the join the sketch exists to avoid) rides
    * along as the audit column with the relative error priced per pair.
    * A sketch shorter than k is the set itself: θ stays 1 and the
    * "estimates" degrade gracefully to exact counts. */
  def qKmvOverlap(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val Full = 281474976710656L // 2^48
    val h = conv(substring(md5(concat(lit("kmv:"),
      $"user_id".cast("string"))), 1, 12), 16, 10).cast("long")
    val du = Tables.events(s, dir)
      .select($"event_type", $"user_id").distinct()
    val hashed = du.select($"event_type", h.as("h")).distinct()
    val w = Window.partitionBy($"event_type").orderBy($"h")
    val sk = hashed.withColumn("rk", row_number().over(w))
      .filter($"rk" <= KmvK).select($"event_type", $"h")
    val types = sk.select($"event_type").distinct()
    val pairs = types.select($"event_type".as("ta"))
      .crossJoin(types.select($"event_type".as("tb")))
      .filter($"ta" < $"tb")
    // tag each sketch row with every pair it serves (pairs frame is
    // |types|² rows — broadcast; sketch side is |types|×k, corpus-free)
    val tagged = broadcast(pairs).join(sk,
      sk("event_type") === $"ta" || sk("event_type") === $"tb")
    val contrib = tagged.groupBy($"ta", $"tb", $"h")
      .agg(count(lit(1)).as("sides")) // 2 ⇔ hash present in both sketches
    val wu = Window.partitionBy($"ta", $"tb").orderBy($"h")
    val unionSk = contrib.withColumn("rk", row_number().over(wu))
      .filter($"rk" <= KmvK)
    val stats = unionSk.groupBy($"ta", $"tb").agg(
      count(lit(1)).as("ku"),
      max($"h").as("theta"),
      sum(when($"sides" === 2, 1L).otherwise(0L)).as("common"))
    val estUnion = when($"ku" < KmvK, $"ku".cast("double"))
      .otherwise(($"ku" - 1).cast("double") * Full / $"theta")
    val estOverlap = $"common".cast("double") / $"ku" * estUnion
    val exact = du.as("x")
      .join(du.select($"event_type".as("tb2"), $"user_id").as("y"), "user_id")
      .filter($"event_type" < $"tb2")
      .groupBy($"event_type".as("ta"), $"tb2".as("tb"))
      .agg(count(lit(1)).as("exact_overlap"))
    stats.join(exact, Seq("ta", "tb"))
      .select($"ta", $"tb", $"exact_overlap", $"common",
        round(estOverlap, 1).as("est_overlap"),
        round(abs(estOverlap - $"exact_overlap") / $"exact_overlap", 4)
          .as("rel_err"))
      .orderBy($"ta", $"tb")
  }

  /** Mergeable-sketch rollup (q141): the two-level pattern a 100 TB
    * warehouse actually runs — build one DataSketches HLL per
    * (returnflag, ship-month) partition slice, then UNION the sketch
    * OBJECTS per returnflag and estimate, instead of re-scanning raw
    * rows. At scale the monthly sketches are precomputed once (bytes per
    * slice), and any rollup window is a cheap union over them; this
    * query proves the merged estimate still meets the error bound by
    * joining it back to the exact distinct (same each-engine-judges-its-
    * own-sketch oracle convention as q49; lgConfigK=14 gives ~0.8% rsd,
    * comfortable headroom under the asserted 5%). The exact side is the
    * calibration cost you pay once, not the steady-state path. */
  def qSketchRollup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val li = Tables.lineitem(s, dir)
    val monthly = li
      .groupBy($"l_returnflag", date_trunc("month", $"l_shipdate").as("m"))
      .agg(hll_sketch_agg($"l_partkey", lit(14)).as("sk"))
    val merged = monthly.groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n_buckets"),
        hll_sketch_estimate(hll_union_agg($"sk", lit(false))).as("est"))
    val exact = li.groupBy($"l_returnflag")
      .agg(countDistinct($"l_partkey").as("exact_parts"))
    merged.join(exact, Seq("l_returnflag"))
      .select($"l_returnflag", $"n_buckets", $"exact_parts",
        (abs($"est" - $"exact_parts").cast("double") /
          $"exact_parts" <= 0.05).as("merge_ok"))
      .orderBy($"l_returnflag")
  }

  /** Exact linear-interpolation quantiles of document length per
    * language — Spark `percentile` and DuckDB `quantile_cont` implement
    * the same estimator, so the values hash-match at round(4). */
  def qLengthQuantiles(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .groupBy($"lang")
      .agg(
        count(lit(1)).as("n_docs"),
        round(percentile($"n_chars", lit(0.5)), 4).as("p50"),
        round(percentile($"n_chars", lit(0.9)), 4).as("p90"),
        round(percentile($"n_chars", lit(0.99)), 4).as("p99"))
      .orderBy($"lang")
  }

  /** Approximate-quantile sketch vs exact, the q49 pattern applied to
    * quantiles: at 100 TB nobody sorts a partition to get p99 — you run
    * a mergeable sketch (Spark: Greenwald-Khanna via percentile_approx;
    * DuckDB: t-digest via approx_quantile) and need to know it is
    * within tolerance. Each engine judges its OWN sketch against its
    * exact interpolated quantile; the oracle-checkable claims are the
    * exact values and that both sketches meet the 5% bound. The exact
    * percentile here is the correctness yardstick only — the sketch
    * column is the one that ships at scale. */
  def qQuantileSketch(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .groupBy($"lang")
      .agg(
        count(lit(1)).as("n_docs"),
        round(percentile($"n_chars", lit(0.5)), 4).as("exact_p50"),
        round(percentile($"n_chars", lit(0.99)), 4).as("exact_p99"),
        percentile_approx($"n_chars", lit(0.5), lit(10000)).as("a50"),
        percentile_approx($"n_chars", lit(0.99), lit(10000)).as("a99"))
      .select($"lang", $"n_docs", $"exact_p50", $"exact_p99",
        (abs($"a50" - $"exact_p50") / $"exact_p50" <= 0.05)
          .as("sketch_ok_p50"),
        (abs($"a99" - $"exact_p99") / $"exact_p99" <= 0.05)
          .as("sketch_ok_p99"))
      .orderBy($"lang")
  }

  /** Training-sequence packing: greedy document-boundary binning of each
    * language's docs into fixed token-budget sequences. A doc opens a new
    * sequence when the running token total crosses the budget — the
    * deterministic, order-defined variant of the packing every LLM
    * trainer runs. One window cumsum per lang partition; at 100 TB the
    * partition key would gain a shard component (e.g. source) so no
    * single lang serializes, which changes seq numbering, not sizes. */
  def qSequencePack(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val Budget = 2048
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"lang").orderBy($"doc_id")
    Tables.documents(s, dir)
      .select($"doc_id", $"lang",
        size(split($"text", " ")).cast("long").as("n_tokens"))
      .withColumn("cum", sum($"n_tokens").over(w))
      // the sequence this doc STARTS in: budget boundaries fall at the
      // token the doc begins on (cum - n_tokens)
      .withColumn("seq_id", floor(($"cum" - $"n_tokens") / Budget).cast("long"))
      .groupBy($"lang", $"seq_id")
      .agg(count(lit(1)).as("n_docs"), sum($"n_tokens").as("n_tokens"))
      .orderBy($"lang", $"seq_id")
  }

  /** Row shape for q269's shard-local packing fold (concrete product
    * Encoder — the q103 discipline). */
  final case class PadDoc(shard: Long, doc_id: Long, eff: Long)

  /** Padding-based sequence packing (q269) — the OTHER packing every
    * trainer runs, beside q47's boundary-split concat-and-chunk: for
    * SFT/eval batches documents may not straddle a sequence boundary,
    * so docs are binned whole and the bin's tail is PADDING. This is
    * next-fit-decreasing: within a shard, docs sorted by (tokens desc,
    * doc_id) fill the current 512-token bin until the next doc doesn't
    * fit, which closes it (one open bin of state — the classic
    * streaming bin-packing bound: NFD ≤ 2·OPT, and on sorted input in
    * practice within a few % of first-fit while needing O(1) state
    * instead of O(bins)). Docs longer than the budget are truncated to
    * it and occupy a bin alone.
    *
    * Scale shape: packing is inherently a sequential fold, so it runs
    * per SHARD (md5 of doc_id, 8 shards — in production one shard per
    * output file, ~GB each): repartition on the shard, secondary-sort
    * within partitions, one keyed-run fold over the partition iterator
    * carrying (bin, fill) only — no group ever materializes, the exact
    * q103 posture. Emits per-bin (n_docs, used/pad tokens); the oracle
    * replays the same fold as a one-row-per-step recursive CTE. */
  def qPadPacking(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val C = 512L
    val docs = Tables.documents(s, dir)
      .select(
        (conv(substring(md5(concat(lit("pp:"), $"doc_id".cast("string"))),
          1, 2), 16, 10).cast("long") % 8).as("shard"),
        $"doc_id",
        least(size(split($"text", " ")).cast("long"), lit(C)).as("eff"))
      .repartition($"shard")
      .sortWithinPartitions($"shard", $"eff".desc, $"doc_id")
      .as[PadDoc]
    val packed = docs.mapPartitions { it =>
      var curShard = -1L
      var first    = true
      var bin      = 0L
      var fill     = 0L
      it.map { d =>
        if (first || d.shard != curShard) {
          first = false; curShard = d.shard; bin = 0L; fill = d.eff
        } else if (fill + d.eff <= 512L) {
          fill += d.eff
        } else { bin += 1L; fill = d.eff }
        (d.shard, bin, d.doc_id, d.eff)
      }
    }.toDF("shard", "bin_id", "doc_id", "eff")
    packed.groupBy($"shard", $"bin_id")
      .agg(count(lit(1)).as("n_docs"),
        sum($"eff").as("used_tokens"),
        (lit(C) - sum($"eff")).as("pad_tokens"))
      .orderBy($"shard", $"bin_id")
  }

  /** Poisson(λ=1) inverse-CDF thresholds: weight w = #{thresholds
    * below u} for a uniform u — capped at 8 (P(X>8) ≈ 1.1e-6). Literal
    * constants so both engines compare against bit-identical doubles. */
  private val PoisCdf = Seq(
    0.36787944117144233, 0.7357588823428847, 0.9196986029286058,
    0.9810118431238463, 0.9963401531726563, 0.9994058151824183,
    0.999916758850712, 0.9999897508033253)

  /** Poisson bootstrap (q271) — confidence intervals on per-source mean
    * document length WITHOUT resampling passes: multinomial bootstrap
    * resampling needs R passes over the data (or a global n to sample
    * against); the Poisson approximation gives each row an independent
    * Poisson(1) weight per replicate, so all R=32 replicates stream in
    * ONE pass (Chamandy et al. 2012, "Estimating uncertainty for
    * massive data streams" — the standard bootstrap at terabyte scale,
    * where per-replicate row counts can't be coordinated). The weight
    * is an md5-uniform pushed through the literal Poisson inverse CDF —
    * engine-replayable, so the oracle hash-matches the CI itself, not
    * just its shape. Replicate sums are integer (weight × n_chars), so
    * every replicate mean is an exact BIGINT/BIGINT division — no
    * float accumulation order anywhere before the final ≤32-value
    * variance (a replicate with zero total weight nulls out and the
    * variance denominator counts only survivors). Fan-out is the
    * explode to R×rows, immediately collapsed
    * by a partial agg (map-side combine); at 100 TB the R=32 multiplier
    * is the price of the method and amortizes to one shuffle of
    * |sources|×32 rows. */
  def qPoissonBootstrap(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val R = 32
    val u = conv(substring(md5(concat(lit("bs:"), $"r".cast("string"),
      lit(":"), $"doc_id".cast("string"))), 1, 8), 16, 10)
      .cast("double") / 4294967296.0
    val w = PoisCdf.zipWithIndex.tail
      .foldLeft(when(u < PoisCdf.head, 0)) { case (e, (t, k)) =>
        e.when(u < t, k)
      }.otherwise(8).cast("long")
    val reps = Tables.documents(s, dir)
      .select($"doc_id", $"source", $"n_chars")
      .withColumn("r", explode(sequence(lit(0), lit(R - 1))))
      .withColumn("w", w)
      .groupBy($"source", $"r")
      .agg(sum($"w" * $"n_chars").as("sx"), sum($"w").as("sw"))
      // a replicate whose Poisson weights all drew 0 (probability
      // e^(−n) per source — real for tiny sources) has sw = 0: under
      // ANSI mode a bare division THROWS, so the guard nulls the
      // replicate out explicitly
      .select($"source",
        when($"sw" > 0, $"sx".cast("double") / $"sw").as("m"))
    // sum() skips the nulled replicates; the variance denominator must
    // therefore be the per-source count of SURVIVORS, not the literal
    // R (count($"m") skips nulls; its SQL twin count(m) does the same)
    // the count(m)−1 denominator needs the same guard as sw: a source
    // where only ONE replicate survives has no sample variance —
    // explicit NULL on both engines (Spark /0 → NULL, DuckDB → NaN)
    val boot = reps.groupBy($"source").agg(
      when(count($"m") > 1,
        sqrt((sum($"m" * $"m") - sum($"m") * sum($"m") / count($"m")) /
          (count($"m") - lit(1)))).as("se"))
    val point = Tables.documents(s, dir).groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        (sum($"n_chars").cast("double") / count(lit(1))).as("mu"))
    point.join(boot, "source")
      .select($"source", $"n_docs", round($"mu", 4).as("mean_chars"),
        round($"se", 4).as("boot_se"),
        round($"mu" - lit(1.96) * $"se", 4).as("ci_lo"),
        round($"mu" + lit(1.96) * $"se", 4).as("ci_hi"))
      .orderBy($"source")
  }

  /** Length-matched corpus pairs (q276) — the controlled-comparison
    * design an ablation study needs: comparing English vs German
    * quality/perplexity raw confounds on length, so build MATCHED
    * corpora by quantile matching — the i-th shortest en doc pairs with
    * the i-th shortest de doc (rank join), truncated to the smaller
    * side. The within-language rank is the q84 DISTRIBUTED PREFIX RANK,
    * with the bucket VALUE-aligned to the sort key (n_chars div 64, so
    * bucket order extends length order): per-(lang, bucket) counts →
    * tiny offset frame → local row_number within (lang, bucket) — no
    * per-language single-reducer window at any corpus size. Emits the
    * matching-quality card per pair decile: matched-mean lengths and
    * the mean absolute residual length gap (near zero = confound
    * removed); the oracle replays the rank as one naive per-lang
    * window, so the hash match IS the distributed≡naive rank proof. */
  def qMatchedCorpora(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, dir)
      .filter($"lang".isin("en", "de"))
      .select($"doc_id", $"lang", $"n_chars")
      .withColumn("bucket", expr("n_chars div 64"))
    val offsets = docs.groupBy($"lang", $"bucket")
      .agg(count(lit(1)).as("c"))
      .withColumn("off", coalesce(sum($"c").over(
        Window.partitionBy($"lang").orderBy($"bucket")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select($"lang", $"bucket", $"off")
    val ranked = docs
      .join(broadcast(offsets), Seq("lang", "bucket"))
      .withColumn("r", $"off" + row_number().over(
        Window.partitionBy($"lang", $"bucket")
          .orderBy($"n_chars", $"doc_id")))
    // quantile SLOTS, not raw ranks: with unequal sides (en ≈ 3× de)
    // rank-i-to-rank-i pairing would compare en's shortest docs to de's
    // whole range. slot = ⌊(r−1)·S / n_side⌋ with S = min(n_en, n_de)
    // aligns the two EMPIRICAL CDFs; each slot's representative is its
    // first (shortest) row, so pairs compare equal quantile positions.
    val counts = ranked.groupBy($"lang").agg(count(lit(1)).as("n"))
    val sizes = counts.agg(
      max(when($"lang" === "en", $"n")).as("n_en"),
      max(when($"lang" === "de", $"n")).as("n_de"))
      .withColumn("slots", least($"n_en", $"n_de"))
    val slotted = ranked.crossJoin(broadcast(sizes))
      .withColumn("n_side", when($"lang" === "en", $"n_en")
        .otherwise($"n_de"))
      .withColumn("slot", expr("((r - 1) * slots) div n_side"))
      .groupBy($"lang", $"slot", $"slots")
      .agg(min($"n_chars").as("rep_len"))
    val pairs = slotted.filter($"lang" === "en")
      .select($"slot", $"slots", $"rep_len".as("len_en"))
      .join(slotted.filter($"lang" === "de")
        .select($"slot", $"rep_len".as("len_de")), "slot")
    pairs
      .withColumn("decile", expr("(slot * 10) div slots"))
      .groupBy($"decile")
      .agg(count(lit(1)).as("n_pairs"),
        round(avg($"len_en"), 4).as("mean_len_en"),
        round(avg($"len_de"), 4).as("mean_len_de"),
        round(avg(abs($"len_en" - $"len_de")), 4).as("mean_abs_gap"))
      .orderBy($"decile")
  }

  /** Deterministic stratified train/val/test split — assignment is a
    * pure function of the key (pmod(doc_id, 10): 0-7 train, 8 val,
    * 9 test), so re-runs, backfills, and late-arriving shards land in
    * the same split without any stored assignment table. Emits per
    * (lang, split) counts and within-language shares. */
  def qTrainSplit(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = org.apache.spark.sql.expressions.Window.partitionBy($"lang")
    Tables.documents(s, dir)
      .select($"doc_id", $"lang",
        when(pmod($"doc_id", lit(10)) < 8, "train")
          .when(pmod($"doc_id", lit(10)) === 8, "val")
          .otherwise("test").as("split"))
      .groupBy($"lang", $"split")
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("share",
        round($"n_docs" / sum($"n_docs").over(w), 4))
      .orderBy($"lang", $"split")
  }

  /** Deterministic per-stratum sampling — "take k docs per language",
    * the mixer step that caps any one stratum's contribution. Rank
    * inside each stratum by an md5 of the key: content-independent,
    * stable across runs AND engines (Spark's hash() is Murmur3, which
    * DuckDB cannot replay; md5 is bit-identical in both — the q30
    * trick), with doc_id as the total tie-break. The Filter(row_number
    * <= k) idiom rewrites to the bounded-heap TopKRows aggregate under
    * TopKWindowRule — O(k) state per language and no full per-stratum
    * sort, which is what makes "3 of each language" affordable when one
    * language holds half of 100 TB. */
  def qStratifiedSample(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = org.apache.spark.sql.expressions.Window.partitionBy($"lang")
      .orderBy(md5(concat(lit("smpl"), $"doc_id".cast("string"))), $"doc_id")
    Tables.documents(s, dir)
      .withColumn("rk", row_number().over(w))
      .filter($"rk" <= 3)
      .select($"lang", $"rk", $"doc_id")
      .orderBy($"lang", $"rk")
  }

  /** Length-decile bucketing: ntile(10) over (n_chars, doc_id) per
    * language — the curriculum/mixing primitive that splits each
    * stratum into equal-count difficulty bands. The doc_id tie-break
    * makes the assignment total-ordered, hence deterministic and
    * engine-portable (both engines define ntile on the ORDER BY order).
    * Per-stratum sort is the honest cost; at 100 TB the same decision
    * runs on q73's quantile sketch as approximate band edges instead —
    * this query is the exact form and the sketch's yardstick. */
  def qLengthDeciles(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"lang").orderBy($"n_chars", $"doc_id")
    Tables.documents(s, dir)
      .select($"doc_id", $"lang", $"n_chars")
      .withColumn("decile", ntile(10).over(w))
      .groupBy($"lang", $"decile")
      .agg(count(lit(1)).as("n_docs"),
        min($"n_chars").as("min_chars"),
        max($"n_chars").as("max_chars"))
      .orderBy($"lang", $"decile")
  }

  /** Corpus mixture rates — the data-mixing step before training: given
    * a target of uniform source shares, emit each source's actual token
    * share and the keep-probability that downsamples it to target
    * (capped at 1; upsampling is repetition, decided elsewhere). One
    * partial-agg shuffle over (source); the global total reaches every
    * row via a single-row broadcast, not a driver round-trip. */
  def qSourceMixing(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val perSource = Tables.documents(s, dir)
      .select($"source", size(split($"text", " ")).cast("long").as("n_tok"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"), sum($"n_tok").as("n_tokens"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(lit(1))
    perSource
      .withColumn("share",
        round($"n_tokens" / sum($"n_tokens").over(w), 4))
      .withColumn("n_sources", count(lit(1)).over(w))
      .withColumn("sample_rate",
        round(least(lit(1.0),
          (lit(1.0) / $"n_sources") /
            ($"n_tokens" / sum($"n_tokens").over(w))), 4))
      .select($"source", $"n_docs", $"n_tokens", $"share", $"sample_rate")
      .orderBy($"source")
  }

  /** Epoch materialization (q102): turn q88's per-language boost factors
    * into an ACTUAL sampled epoch — each document repeated
    * floor(boost) + Bernoulli(frac(boost)) times, the standard
    * unbiased-in-expectation repetition plan (a doc with boost 2.3 shows
    * up 2 or 3 times; one with boost 0.4 survives with p=0.4). The coin
    * is a deterministic per-doc md5 uniform, so the epoch is
    * reproducible run-to-run and engine-to-engine — a sampling decision
    * you can re-derive months later is an audit requirement, not a
    * nicety. The engine really materializes copies
    * (explode(sequence(1, n))) and folds them back, proving the
    * row-inflation path a trainer consumes; map-only except the final
    * per-doc count, and the boost table rides in as a languages-sized
    * broadcast. */
  def qEpochSample(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val mix = qTemperatureMix(s, dir).select($"lang", $"boost")
    val u = conv(substring(md5(concat(lit("es:"),
      $"doc_id".cast("string"))), 1, 6), 16, 10).cast("double") /
      lit(16777216.0)
    val frac = $"boost" - floor($"boost")
    val n = (floor($"boost") +
      when(u < frac, 1L).otherwise(0L)).cast("long")
    Tables.documents(s, dir)
      .select($"doc_id", $"lang")
      .join(broadcast(mix), "lang")
      .withColumn("n", n)
      .filter($"n" > 0)
      .select($"doc_id", $"lang",
        explode(sequence(lit(1L), $"n")).as("copy"))
      .groupBy($"doc_id", $"lang")
      .agg(count(lit(1)).as("n_copies"))
      .orderBy($"doc_id")
  }

  /** Dataset card (q98): the one-row corpus summary every dataset
    * release ships — sizes, diversity, quality headline — computed in a
    * SINGLE scan: the two count-DISTINCTs expand to one grouped pass
    * (Catalyst's Expand), everything else is plain partial aggregation,
    * so the whole card costs one read of the corpus however large it is.
    * ASCII share doubles as the quick sanity check that the language mix
    * matches expectations. */
  def qDatasetCard(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .select($"doc_id", $"lang", $"source",
        size(split($"text", " ")).cast("long").as("n_tok"),
        $"text".rlike("^[\\x00-\\x7F]*$").as("is_ascii"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum($"n_tok").as("n_tokens"),
        countDistinct($"lang").as("n_langs"),
        countDistinct($"source").as("n_sources"),
        round(avg($"n_tok"), 4).as("mean_tokens"),
        round(avg($"is_ascii".cast("double")), 4).as("ascii_share"))
      .orderBy($"n_docs")
  }

  /** Count-min heavy hitters (q90): verify the fixed-memory frequency
    * sketch against exact counts on the top-20 vocabulary — the q49
    * each-engine-judges-its-own-sketch pattern applied to the
    * CountMinSketchAgg custom aggregate (plans/CountMinSketch.scala).
    * The sketch is ONE depth×width array for the whole corpus (map-side
    * partial sketches merge by addition; the shuffle carries a constant
    * 4×4096 longs per partition, never a vocabulary-sized map), reaches
    * the top-20 frame as a one-row broadcast, and the point estimate is
    * all native expressions — `pmod(hash(lit(d), term), width)` replays
    * the aggregate's internal Murmur3 chain exactly. `cms_ok` asserts
    * the one-sided CMS guarantee: exact <= est <= exact + 1% of corpus
    * tokens (eps = e/4096 ≈ 0.07%, so 1% is ~15 sigma of slack); the
    * oracle states the guarantee as fact, and CmsSpec pins the sharper
    * per-term bounds plus merge associativity. */
  def qCmsHeavyHitters(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val Depth = 4; val Width = 4096
    val toks = Tables.documents(s, dir)
      .select(explode(split($"text", " ")).as("term"))
    val sketch = toks.select(org.apache.spark.sql.GraftBridge.column(
      graft.plans.CountMinSketchAgg(
        org.apache.spark.sql.GraftBridge.expression($"term"),
        Depth, Width).toAggregateExpression()).as("sk"))
    val stats = toks.groupBy($"term")
      .agg(count(lit(1)).as("exact_cnt"))
    // corpus token total as a one-row broadcast, NOT a single-partition
    // window over the vocabulary frame (the q37 lesson: anything sized
    // by the vocabulary must never funnel through one partition)
    val nTot = stats.agg(sum($"exact_cnt").as("n_total"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy($"exact_cnt".desc, $"term")
    val est = (0 until Depth).map { d =>
      element_at($"sk",
        lit(d * Width) + pmod(hash(lit(d), $"term"), lit(Width)) + 1)
    }.reduce(least(_, _))
    stats
      .withColumn("rk", row_number().over(w))
      .filter($"rk" <= 20)
      .crossJoin(broadcast(sketch))
      .crossJoin(broadcast(nTot))
      .select($"term", $"exact_cnt",
        ($"exact_cnt" <= est &&
          est <= $"exact_cnt" + ceil($"n_total" * 0.01)).as("cms_ok"))
      .orderBy($"exact_cnt".desc, $"term")
  }

  /** q279 mixture-plan constants — literal so the oracle unrolls the
    * identical arithmetic: √-share flattening (temperature 0.5), a
    * 1.05-epoch repetition ceiling per source (repeating web data much
    * past one epoch measurably hurts — Muennighoff et al. 2023 place
    * the knee near 4 epochs, and dedup-averse curation budgets sit far
    * below it), and 3 redistribution rounds. */
  private val MixEpochCap = 1.05
  private val MixRounds = 3

  /** Capped mixture water-filling (q279) — the step that turns a
    * TARGET mixture into an ACHIEVABLE sampling plan: a flattened
    * (temperature) target asks small sources for more tokens than
    * their epoch ceiling allows, so their demand clamps at the cap and
    * the surplus re-spreads over the uncapped sources in proportion to
    * their target weights — classic water-filling, run for a FIXED 3
    * rounds so both engines replay the identical finite plan (residual
    * surplus after round 3 is reported slack, not silently dropped:
    * alloc ≤ cap always holds). Capped rows end with need EXACTLY at
    * cap (the clamp is the last writer), so the `capped` flag is an
    * exact comparison, not a float tolerance.
    *
    * Scale shape: one (source) partial-agg token count; every
    * subsequent frame — weights, round statistics, reallocations — is
    * |sources|-row arithmetic with 1-row broadcast stats, replayed 3×.
    * Nothing past the scan grows with the corpus. */
  def qMixturePlan(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val n = Tables.documents(s, dir)
      .select($"source", size(split($"text", " ")).cast("long").as("t"))
      .groupBy($"source").agg(sum($"t").as("n_tokens"))
    val w0 = n.withColumn("wr", sqrt($"n_tokens".cast("double")))
    val tw = w0.agg(sum($"wr").as("zw"),
      sum($"n_tokens").cast("double").as("tt"))
    var cur = w0.crossJoin(broadcast(tw))
      .select($"source", $"n_tokens", ($"wr" / $"zw").as("w"),
        ($"n_tokens" * lit(MixEpochCap)).as("cap"),
        ($"wr" / $"zw" * $"tt").as("need"))
    for (_ <- 1 to MixRounds) {
      val stats = cur.agg(
        sum(greatest($"need" - $"cap", lit(0.0))).as("surplus"),
        sum(when($"need" < $"cap", $"w").otherwise(lit(0.0))).as("u"))
      cur = cur.crossJoin(broadcast(stats))
        .select($"source", $"n_tokens", $"w", $"cap",
          (least($"need", $"cap") +
            when($"need" < $"cap" && $"u" > 0,
              $"surplus" * $"w" / $"u").otherwise(lit(0.0))).as("need"))
    }
    cur.select($"source", $"n_tokens",
        round($"w", 4).as("w_target"),
        round($"cap", 2).as("cap_tokens"),
        round(least($"need", $"cap"), 2).as("alloc_tokens"),
        round(least($"need", $"cap") / $"n_tokens", 4).as("epochs"),
        ($"need" >= $"cap").as("capped"))
      .orderBy($"source")
  }

  /** Temperature-based language mixing (q88): the mC4/XLM-R sampling law
    * p_i ∝ share_i^alpha with alpha = 0.3 (Conneau et al. 2020 §3.1;
    * Raffel et al. 2020 §3.4.3 use the same exponentiated-share form) —
    * flatten the language distribution so low-resource languages are
    * upsampled relative to their raw token share. Same scale shape as
    * q63's uniform-target mixing: one partial-agg shuffle over (lang),
    * then the corpus totals reach every group row via a single-row
    * window, never a driver round-trip. `boost` = p_temp / share is the
    * per-language repetition factor a sampler applies downstream. */
  def qTemperatureMix(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val Alpha = 0.3
    val w = org.apache.spark.sql.expressions.Window.partitionBy(lit(1))
    Tables.documents(s, dir)
      .select($"lang", size(split($"text", " ")).cast("long").as("n_tok"))
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"), sum($"n_tok").as("n_tokens"))
      // two window steps: a window function can't nest inside another
      // window aggregate's argument, so share materializes first
      .withColumn("share_raw",
        $"n_tokens".cast("double") / sum($"n_tokens").over(w))
      .withColumn("p_temp",
        pow($"share_raw", Alpha) / sum(pow($"share_raw", Alpha)).over(w))
      .select($"lang", $"n_docs", $"n_tokens",
        round($"share_raw", 4).as("share"),
        round($"p_temp", 4).as("p_temp"),
        round($"p_temp" / $"share_raw", 4).as("boost"))
      .orderBy($"lang")
  }

  /** q328 constants: the compute budget as a multiple of the corpus
    * (4× forces repetition on every language), the q88 temperature,
    * and Muennighoff et al. 2023's fitted repetition half-life
    * R* ≈ 15 (epochs beyond ~4·R* contribute ~nothing). */
  private val RvBudgetX = 4.0
  private val RvAlpha = 0.3
  private val RvRStar = 15.0

  /** Data-constrained scaling allocator (q328) — Muennighoff et al.
    * 2022 "Scaling Data-Constrained Language Models": when the
    * temperature-mixed budget share (q88's p ∝ share^0.3) asks a
    * language for MORE tokens than it has, the overflow is served by
    * repetition, and repeated epochs decay in value — effective tokens
    * D' = U + U·R*·(1 − e^{−R/R*}) for R = epochs−1 repetitions. The
    * allocator reports, per language, the budgeted tokens, implied
    * epochs, EFFECTIVE tokens under the decay fit, and the utilization
    * ratio — the table that says which languages the mixture is
    * actually wasting compute on. Pure per-language scalar arithmetic
    * on the |langs| grid after one corpus aggregate; exp() enters only
    * the published values (the q308 accepted class). */
  def qRepetitionValue(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    repetitionValueOf(Tables.documents(s, dir)
      .select($"lang", size(split($"text", " ")).cast("long").as("n_tok"))
      .groupBy($"lang")
      .agg(sum($"n_tok").as("u")))
  }

  /** Allocator core over any (lang, u) frame; split out so the spec
    * can pin the decay arithmetic against a plain-Scala replica. */
  private[graft] def repetitionValueOf(langs: DataFrame): DataFrame = {
    val s = langs.sparkSession
    import s.implicits._
    val w = org.apache.spark.sql.expressions.Window.partitionBy(lit(1))
    val base = langs
      .withColumn("share_raw", $"u".cast("double") / sum($"u").over(w))
      .withColumn("p_temp",
        pow($"share_raw", RvAlpha) / sum(pow($"share_raw", RvAlpha)).over(w))
      .withColumn("budget",
        $"p_temp" * lit(RvBudgetX) * sum($"u").over(w))
    val epochs = $"budget" / $"u"
    val reps = greatest(epochs - lit(1.0), lit(0.0))
    val eff = $"u" * (lit(1.0) +
      lit(RvRStar) * (lit(1.0) - exp(-reps / lit(RvRStar))))
    base.select($"lang", $"u".as("unique_tokens"),
        (floor($"budget" + 0.5)).cast("long").as("budget_tokens"),
        (floor(epochs * 1e4 + 0.5) / 1e4).as("epochs"),
        (floor(least(eff, $"budget") + 0.5)).cast("long")
          .as("effective_tokens"),
        (floor(least(eff, $"budget") / $"budget" * 1e4 + 0.5) / 1e4)
          .as("utilization"))
      .orderBy($"lang")
  }

  /** Per-source token-budget sampling (q84): keep each source's docs in
    * a deterministic md5-shuffled order until a token budget is hit —
    * the "cap every source at N tokens" step of corpus mixing (the
    * hard-cap sibling of q63's keep-probability downsampling).
    *
    * The naive plan is one running sum per source:
    * `sum(n_tokens) OVER (PARTITION BY source ORDER BY rk)` — and at
    * 100 TB that is one reducer scanning an entire source (a source is
    * terabytes; a window partition is one task). Instead this runs the
    * classic DISTRIBUTED PREFIX SUM:
    *
    *   1. bucket every doc by the first hex char of its rank key — 16
    *      range buckets aligned with the sort order (lowercase hex sorts
    *      lexicographically in value order, so the bucket is a prefix of
    *      the sort key and ordering by (bucket, rk) IS ordering by rk);
    *   2. one partial-agg shuffle computes per-(source, bucket) token
    *      sums — a |sources|×16-row frame, metadata-scale at any corpus
    *      size (grow the bucket key with the corpus to keep bucket
    *      windows bounded: 256 buckets = 2 hex chars, etc.);
    *   3. a window over THAT tiny frame turns sums into per-bucket
    *      starting offsets, broadcast back onto the docs;
    *   4. the per-doc running sum now only needs a window partitioned
    *      by (source, bucket) — every partition is ~1/16 of a source,
    *      and cum = bucket offset + local running sum is exactly the
    *      global prefix sum because bucket order extends rk order.
    *
    * The keep rule (cum_tokens ≤ budget) reproduces in the oracle as a
    * plain single-window cumsum — the distributed and naive forms must
    * agree row-for-row, which is also spec-asserted. */
  def qTokenBudget(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val Budget = 700L
    val docs = Tables.documents(s, dir)
      .select($"doc_id", $"source",
        size(split($"text", " ")).cast("long").as("n_tokens"),
        md5(concat(lit("tb:"), $"doc_id".cast("string"))).as("rk"))
      .withColumn("bucket",
        conv(substring($"rk", 1, 1), 16, 10).cast("int"))
    val offsets = docs
      .groupBy($"source", $"bucket")
      .agg(sum($"n_tokens").as("bucket_tokens"))
      .withColumn("offset",
        coalesce(sum($"bucket_tokens").over(
          org.apache.spark.sql.expressions.Window
            .partitionBy($"source").orderBy($"bucket")
            .rowsBetween(org.apache.spark.sql.expressions.Window
              .unboundedPreceding, -1)), lit(0L)))
      .select($"source", $"bucket", $"offset")
    val wLocal = org.apache.spark.sql.expressions.Window
      .partitionBy($"source", $"bucket").orderBy($"rk")
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding, 0)
    docs
      .join(broadcast(offsets), Seq("source", "bucket"))
      .withColumn("cum_tokens",
        $"offset" + sum($"n_tokens").over(wLocal))
      .filter($"cum_tokens" <= Budget)
      .select($"doc_id", $"source", $"n_tokens", $"cum_tokens")
      .orderBy($"source", $"cum_tokens")
  }

  /** The naive single-window form of q84 — one running sum per source.
    * Not registered as a driver query; QualitySpec asserts it emits
    * exactly the same rows as the distributed form. */
  private[graft] def tokenBudgetNaive(s: SparkSession, dir: String)
      : DataFrame = {
    import s.implicits._
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"source").orderBy($"rk")
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding, 0)
    Tables.documents(s, dir)
      .select($"doc_id", $"source",
        size(split($"text", " ")).cast("long").as("n_tokens"),
        md5(concat(lit("tb:"), $"doc_id".cast("string"))).as("rk"))
      .withColumn("cum_tokens", sum($"n_tokens").over(w))
      .filter($"cum_tokens" <= 700L)
      .select($"doc_id", $"source", $"n_tokens", $"cum_tokens")
      .orderBy($"source", $"cum_tokens")
  }

  /** Deterministic epoch shuffle + sharding (q105): the global random
    * permutation every trainer wants, expressed the way a DISTRIBUTED
    * system must: shard = hash-bucket of the doc (32 shards), pos =
    * rank of a second per-doc hash WITHIN the shard. No global sort,
    * no single-partition window — each shard sorts independently, which
    * is exactly how 100 TB gets shuffled in practice (a global
    * total-order pass is the anti-pattern; per-shard order + random
    * shard assignment is distributionally identical for training). The
    * md5 keys make the permutation reproducible run-to-run and
    * engine-to-engine — re-deriving "which shard, which position" months
    * later is an audit requirement of training-data lineage. */
  def qEpochShuffle(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val h = md5(concat(lit("shuf:"), $"doc_id".cast("string")))
    // doc_id tiebreak: the 10-hex ord key collides with ~1e-8
    // probability at test scale but WOULD collide somewhere in a
    // 100 TB corpus, and a tie would make the rank nondeterministic
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"shard").orderBy($"ord", $"doc_id")
    Tables.documents(s, dir)
      .select($"doc_id",
        pmod(conv(substring(h, 1, 6), 16, 10).cast("long"), lit(32))
          .cast("int").as("shard"),
        substring(h, 7, 10).as("ord"))
      .withColumn("pos", row_number().over(w))
      .select($"doc_id", $"shard", $"pos")
      .orderBy($"shard", $"pos")
  }

  /** Leakage-safe grouped split (q106): train/val/test assignment hashed
    * on the GROUP (source), not the document — every doc of a source
    * lands in the same split, so near-duplicates and templated pages
    * within one site can never straddle train/test (the contamination
    * mode q59's doc-level split cannot prevent; cf. the grouped-split
    * discipline of GroupKFold and the URL-level splits of C4/RefinedWeb
    * dedup practice). Map-only: the split is a pure function of the
    * source string — no shuffle, no group table, no state at any scale. */
  def qDomainSplit(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val u = conv(substring(md5(concat(lit("ds:"), $"source")), 1, 6),
      16, 10).cast("double") / lit(16777216.0)
    Tables.documents(s, dir)
      .select($"doc_id", $"source",
        when(u < 0.8, "train").when(u < 0.9, "val")
          .otherwise("test").as("split"))
      .orderBy($"doc_id")
  }

  /** Weighted reservoir sample (q108): k=5 docs per language with
    * inclusion probability proportional to length — the A-ES key
    * u^(1/w) of Efraimidis & Spirakis 2006 (equivalently ln(u)/w,
    * monotone in it), with the uniform u a deterministic per-doc md5 so
    * the "reservoir" is reproducible. This is THE one-pass weighted
    * sampler for data pipelines: each partition keeps its local top-k
    * keys (the map-side partial of the row_number window; at scale the
    * TopKWindowRule's bounded heap), merge is top-k of tops — no second
    * pass, no global sort, state O(k) per language whatever the corpus
    * size. */
  def qWeightedReservoir(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val u = (conv(substring(md5(concat(lit("wr:"),
      $"doc_id".cast("string"))), 1, 6), 16, 10).cast("double") +
      lit(1.0)) / lit(16777216.0)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"lang").orderBy($"key".desc, $"doc_id")
    // greatest(n_chars, 1): a zero-length doc would make the key
    // -inf/NaN, whose sort placement differs between engines (round-5
    // ADVICE); weight 1 keeps it sampleable with minimal mass.
    Tables.documents(s, dir)
      .select($"doc_id", $"lang",
        (log(u) / greatest($"n_chars", lit(1)).cast("double")).as("key"))
      .withColumn("rk", row_number().over(w))
      .filter($"rk" <= 5)
      .select($"lang", $"rk", $"doc_id")
      .orderBy($"lang", $"rk")
  }

  /** Winsorized per-source length statistics (q127): clip n_chars to
    * the source's own [p05, p95] before averaging — the robust mean a
    * quality dashboard trends so a handful of giant or truncated docs
    * can't move a source's line (winsorization; the trim-vs-clip
    * distinction matters because clipping keeps n_docs constant).
    * Shape: an exact-percentile aggregate over the (source) groups,
    * broadcast back onto the rows, then the clipped aggregate on the
    * same (source) key — one corpus shuffle total, since the cuts
    * frame is |sources| rows. At 100 TB the exact percentile swaps for
    * q73's mergeable sketch with the identical join shape. */
  def qWinsorize(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
    val cuts = docs.groupBy($"source").agg(
      percentile($"n_chars", lit(0.05)).as("lo"),
      percentile($"n_chars", lit(0.95)).as("hi"))
    docs.join(broadcast(cuts), "source")
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        round(avg($"n_chars"), 4).as("raw_mean"),
        round(avg(least(greatest($"n_chars".cast("double"), $"lo"),
          $"hi")), 4).as("wins_mean"))
      .orderBy($"source")
  }

  /** Filter ablation grid (q180): the corpus cross-tabulated by all 2³
    * combinations of three independent gates — quality score ≥ 0.5
    * (q15's), length ≥ 50 words (the Gopher floor), and exact-dup
    * keeper (q30's md5 winner) — with each cell's share. The table
    * that answers "which filter is actually doing the work, and how
    * much do they overlap": if the quality gate's unique kills are
    * near zero, drop it and save the pass; if dup losers concentrate
    * in the low-quality cell, q171's assumption holds. One map pass
    * computes all three flags (the dup flag reuses the md5 window),
    * one partial agg lands the 8-row grid. */
  def qFilterAblation(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val toks = TextOps.tokenize($"text")
    val nToks = size(toks)
    val nStops = size(filter(toks, t => TextOps.isStopword(t)))
    val quality = round((lit(1.0) - nStops.cast("double") / nToks) *
      least(lit(1.0), nToks.cast("double") / 100.0), 4)
    val base = Tables.documents(s, dir)
      .select($"doc_id", quality.as("q"), nToks.as("nt"),
        md5($"text").as("fp"))
      .withColumn("g_uniq", $"doc_id" === min($"doc_id").over(
        org.apache.spark.sql.expressions.Window.partitionBy($"fp")))
      .select(($"q" >= 0.5).as("g_quality"), ($"nt" >= 50).as("g_len"),
        $"g_uniq")
    val tot = base.agg(count(lit(1)).as("total"))
    base.groupBy($"g_quality", $"g_len", $"g_uniq")
      .agg(count(lit(1)).as("n"))
      .crossJoin(broadcast(tot))
      .select($"g_quality", $"g_len", $"g_uniq", $"n",
        round($"n" / $"total".cast("double"), 4).as("share"))
      .orderBy($"g_quality", $"g_len", $"g_uniq")
  }

  /** Lorenz curve + Gini of content concentration (q183): cumulative
    * character share against cumulative document share over length
    * deciles — "the top 10% of documents hold X% of the bytes", the
    * inequality read behind storage budgeting, token-budget sampling
    * (q84) and long-doc chunking policy, with the trapezoid-rule Gini
    * as the headline scalar. Deciles from 9 broadcast percentile
    * cutpoints (q171's no-global-sort discipline); every cumulative
    * sum is exact integers over the 10-row decile frame; the only
    * float work is ten divisions and the trapezoid fold. */
  def qLorenzGini(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val d = Tables.documents(s, dir).select($"doc_id", $"n_chars")
    val cutCols = (1 to 9).map(i =>
      percentile($"n_chars", lit(i / 10.0)).as(s"c$i"))
    val cuts = d.agg(cutCols.head, cutCols.tail: _*)
    val decile = (1 to 9).map(i => ($"n_chars" > col(s"c$i")).cast("int"))
      .reduce(_ + _) + lit(1)
    val per = d.crossJoin(broadcast(cuts))
      .select(decile.as("decile"), $"n_chars")
      .groupBy($"decile")
      .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("chars"))
    val tot = per.agg(sum($"n_docs").as("td"), sum($"chars").as("tc"))
    val wc = Window.orderBy($"decile")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val w2 = Window.orderBy($"decile")
    val wAll = Window.orderBy($"decile")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    per.crossJoin(broadcast(tot))
      .withColumn("cum_doc_share",
        round(sum($"n_docs").over(wc) / $"td".cast("double"), 4))
      .withColumn("cum_char_share",
        round(sum($"chars").over(wc) / $"tc".cast("double"), 4))
      .withColumn("gterm",
        ($"cum_doc_share" -
          coalesce(lag($"cum_doc_share", 1).over(w2), lit(0.0))) *
          ($"cum_char_share" +
            coalesce(lag($"cum_char_share", 1).over(w2), lit(0.0))))
      .withColumn("gini", round(lit(1.0) - sum($"gterm").over(wAll), 4))
      .select($"decile", $"n_docs", $"cum_doc_share", $"cum_char_share",
        $"gini")
      .orderBy($"decile")
  }

  /** Group size below which a quasi-identifier combination is a
    * re-identification risk (the k in k-anonymity; Sweeney 2002). */
  private val KAnonK = 5

  /** k-anonymity audit (q169): group the corpus by its quasi-identifier
    * tuple — (lang, source, length band) here; in production whatever
    * metadata survives into the release — and flag combinations with
    * fewer than k members, whose documents a joiner with side knowledge
    * can re-identify (Sweeney 2002's k-anonymity). Training-data
    * releases run exactly this gate over user-derived metadata before
    * publishing. One partial-agg groupBy to |combinations| rows; the
    * flag is free arithmetic on the group count. */
  def qKAnonymity(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .groupBy($"lang", $"source",
        expr("n_chars div 100").as("len_band"))
      .agg(count(lit(1)).as("n"))
      .withColumn("at_risk", $"n" < KAnonK)
      .orderBy($"lang", $"source", $"len_band")
  }

  /** Neyman-allocated stratified sampling plan (q231) — the OPTIMAL
    * per-stratum budget split (Neyman 1934): sampling n_h ∝ N_h·σ_h
    * minimizes the variance of the stratified mean for a fixed total
    * budget, vs proportional allocation's n_h ∝ N_h — high-variance
    * strata earn more samples (the reason a mixed-quality source
    * deserves deeper probing than a homogeneous one). Budget = 10% of
    * the corpus, strata = languages, measured variable = n_chars; the
    * plan reports both allocations and the design effect each stratum
    * feels. One partial-agg pass collapses the corpus to |langs| rows
    * of (count, stddev) moments — mergeable, so the plan shape holds
    * at any scale; everything after is closed-form arithmetic on that
    * frame with a one-row broadcast total. */
  def qNeymanAlloc(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val strata = Tables.documents(s, dir)
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"),
        stddev_samp($"n_chars".cast("double")).as("sd"))
    val tot = strata.agg(
      sum($"n_docs").cast("double").as("n_total"),
      sum($"n_docs" * $"sd").as("nsd_total"))
    strata.crossJoin(broadcast(tot))
      .select($"lang", $"n_docs", round($"sd", 4).as("sd"),
        round($"n_docs" * $"sd" / $"nsd_total", 4).as("neyman_share"),
        round(lit(0.10) * $"n_total" *
          ($"n_docs" * $"sd" / $"nsd_total"), 4).as("n_neyman"),
        round(lit(0.10) * $"n_docs", 4).as("n_proportional"))
      .orderBy($"lang")
  }

  /** Per-source datasheet (q268) — the "Datasheets for Datasets"
    * (Gebru et al. 2021) per-slice row, composing the suite's signals
    * into the one table a release review reads FIRST: per source its
    * docs, token mass, mean q87 quality score, exact-duplicate rate
    * (md5 groups WITHIN the source — q30's window scoped by source),
    * and language-mix entropy (the algebraic ln n − Σc·ln c/n form,
    * q198's discipline — no share vector materializes). One corpus
    * scan feeds everything; the entropy and dup signals aggregate on
    * (source, lang) and (source, fingerprint) keys that co-partition
    * with the final (source) rollup. */
  def qSourceDatasheet(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val z = graft.operators.ScoringQueries.qualityZ
    val base = Tables.documents(s, dir)
      .select($"doc_id", $"source", $"lang",
        size(split($"text", " ")).cast("long").as("n_tokens"),
        (lit(1.0) / (lit(1.0) + exp(-z))).as("score"),
        md5($"text").as("fp"))
    val perFp = base.groupBy($"source", $"fp")
      .agg(count(lit(1)).as("c"))
    val dup = perFp.groupBy($"source")
      .agg(sum($"c" - 1).as("n_dups"))
    val perLang = base.groupBy($"source", $"lang")
      .agg(count(lit(1)).as("cl"))
    val langEnt = perLang.groupBy($"source")
      .agg(sum($"cl").as("n"), sum($"cl" * log($"cl".cast("double")))
        .as("clnc"), count(lit(1)).as("n_langs"))
      .select($"source", $"n_langs",
        (log($"n".cast("double")) - $"clnc" / $"n").as("lang_entropy"))
    base.groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        sum($"n_tokens").as("n_tokens"),
        round(avg($"score"), 4).as("mean_quality"))
      .join(dup, "source")
      .join(langEnt, "source")
      .select($"source", $"n_docs", $"n_tokens", $"mean_quality",
        $"n_dups",
        round($"n_dups".cast("double") / $"n_docs", 4).as("dup_rate"),
        $"n_langs", (round($"lang_entropy", 4) + lit(0.0))
          .as("lang_entropy"))
      .orderBy($"source")
  }

  /** Hill tail-index estimator (q266) — the heavy-tail verdict for
    * the document-length distribution (Hill 1975): α̂ = k / Σ ln(x_i /
    * x_{k+1}) over the k = 50 largest lengths — the third power-law
    * probe beside q140's rank-frequency Zipf fit and q214's degree
    * MLE, and the one that decides whether mean-based capacity
    * numbers (q183's byte concentration) are even finite-variance
    * (α ≤ 2 ⇒ they aren't). Scale shape: the top k+1 order statistics
    * come from the Filter(row_number ≤ k+1) idiom → the bounded-heap
    * rewrite, so no global sort of the corpus exists; the estimator is
    * a closed-form fold on 51 rows. */
  def qHillTail(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val k = 50
    // ONE map-side heap pass: the top-(k+1) order statistics arrive as
    // a rank-ordered array on a single row (TopKRows Column API), so
    // x_{k+1} is just the array's last element and the ln-ratio sum is
    // an in-row fold. The round-8 form branched the heap frame twice —
    // and the `rk = k+1` branch's merged filter dodged the
    // TopKWindowRule pattern, keeping a full-corpus one-reducer
    // row_number Window alive in the final plan (caught by the
    // DumpPlans unpartitioned-window audit).
    val top = Tables.documents(s, dir)
      .select($"doc_id", $"n_chars")
      .agg(graft.plans.TopKRows.topKRows(k + 1,
        struct($"doc_id", $"n_chars"),
        ($"n_chars", true), ($"doc_id", false)).as("arr"))
      // fewer than k+1 docs ⇒ no (k+1)-th order statistic ⇒ empty
      // result, matching the branched form's empty cross join
      .filter(size($"arr") === k + 1)
      .select($"arr",
        element_at($"arr", k + 1).getField("n_chars").cast("double")
          .as("x_k1d"))
    top
      .select($"arr", $"x_k1d",
        aggregate(slice($"arr", 1, k), lit(0.0), (acc, x) =>
          acc + log(x.getField("n_chars").cast("double") / $"x_k1d"))
          .as("lnsum"))
      .select(lit(k.toLong).as("k"),
        element_at($"arr", 1).getField("n_chars").as("x_max"),
        $"x_k1d".cast("long").as("x_k1"),
        round(lit(k.toDouble) / $"lnsum", 4).as("alpha_hill"),
        // finite-variance verdict: a Pareto tail has Var < ∞ iff α > 2
        (lit(k.toDouble) / $"lnsum" > 2.0).as("finite_variance"))
  }

  /** Box–Cox transform selection (q250) — pick the variance-
    * stabilizing power transform for the document-length feature by
    * profile log-likelihood over the standard λ grid {−1, −0.5, 0,
    * 0.5, 1} (Box & Cox 1964): LL(λ) = −n/2·ln σ̂²_λ + (λ−1)·Σ ln x,
    * where y_λ = (x^λ−1)/λ (ln x at λ = 0) — the preprocessing
    * decision behind any Gaussian-ish model on a right-skewed length
    * distribution (q178's z-scores assume one). ALL five transforms'
    * moments come from ONE corpus pass (5 conditional aggregates of
    * mergeable moments); the LL algebra and argmax run on the 5-row
    * grid. The winner is flagged; population variance (σ̂² MLE) used
    * as published. */
  def qBoxCox(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val lambdas = Seq(-1.0, -0.5, 0.0, 0.5, 1.0)
    val x = $"n_chars".cast("double")
    def yl(l: Double): Column =
      if (l == 0.0) log(x) else (pow(x, lit(l)) - 1.0) / lit(l)
    val aggs = lambdas.zipWithIndex.flatMap { case (l, i) =>
      Seq(avg(yl(l)).as(s"m$i"), var_pop(yl(l)).as(s"v$i")) }
    val allAggs = Seq(count(lit(1)).as("n"),
      sum(log(x)).as("slnx")) ++ aggs
    val base = Tables.documents(s, dir)
      .filter($"n_chars" > 0)
      .agg(allAggs.head, allAggs.tail: _*)
    val rows = lambdas.zipWithIndex.map { case (l, i) =>
      base.select(lit(l).as("lambda"), $"n",
        (lit(-0.5) * $"n" * log(col(s"v$i")) +
          (lit(l) - 1.0) * $"slnx").as("ll"))
    }.reduce(_.union(_))
    val best = rows.agg(max(round($"ll", 4)).as("best_ll"))
    rows.crossJoin(broadcast(best))
      .select($"lambda", (round($"ll", 4) + lit(0.0)).as("log_lik"),
        // zero-variance corpus: every ll is NULL (ln of nullif'd 0 —
        // DuckDB's ln(0) ERRORS, Spark's is NULL; the nullif aligns
        // them) and nothing is selected — false, never a NULL boolean
        coalesce(round($"ll", 4) === $"best_ll", lit(false))
          .as("selected"))
      .orderBy($"lambda")
  }

  /** Feature correlation card (q244) — pairwise Pearson r between the
    * three document features every gate in the suite consumes
    * (n_chars, token count, mean token length): the collinearity
    * screen run before fitting/trusting a q87-style model (two
    * features at r ≈ 1 are one signal counted twice, and q165's MI
    * ranking double-credits them). One mergeable-moment aggregate —
    * corr's co-moments merge like q154's — so the whole card is a
    * single pass at any scale; negative r guarded by the ±0.0 idiom. */
  def qFeatureCorr(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val tk = split($"text", " ")
    val f = Tables.documents(s, dir)
      .select($"n_chars".cast("double").as("fc"),
        size(tk).cast("double").as("fw"),
        (aggregate(transform(tk, t => length(t).cast("double")),
          lit(0.0), (a, x) => a + x) / size(tk)).as("fm"))
    f.agg(
      count(lit(1)).as("n"),
      (round(corr($"fc", $"fw"), 4) + lit(0.0)).as("r_chars_words"),
      (round(corr($"fc", $"fm"), 4) + lit(0.0)).as("r_chars_wlen"),
      (round(corr($"fw", $"fm"), 4) + lit(0.0)).as("r_words_wlen"))
  }

  private val LDiversityL = 3

  /** l-diversity audit (q225) — Machanavajjhala et al. 2007, the
    * follow-up k-anonymity (q169) NEEDS: a group can be k-large yet
    * reveal its sensitive attribute if every member shares one value
    * (the "homogeneity attack"), so each quasi-identifier group
    * (source, length band) must also contain ≥ l DISTINCT sensitive
    * values (lang here). One groupBy with count + exact count-distinct
    * per group — a single partial-agg shuffle on the QI key; at 100 TB
    * the distinct-count swaps to q49's HLL sketch with the same plan
    * shape. Reported next to the group size so the release decision
    * reads both gates at once. */
  def qLDiversity(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .groupBy($"source", expr("n_chars div 100").as("len_band"))
      .agg(count(lit(1)).as("n"),
        countDistinct($"lang").as("n_langs"))
      .withColumn("diverse", $"n_langs" >= LDiversityL)
      .orderBy($"source", $"len_band")
  }

  /** t-closeness release threshold (q288). */
  private val TClosenessT = 0.2

  /** t-closeness audit (q288) — Li et al. 2007, the third privacy
    * gate after k-anonymity (q169) and l-diversity (q225): a group
    * can be k-large AND l-diverse yet still leak if its sensitive
    * distribution differs sharply from the corpus-wide one (the
    * "skewness attack" — 49 distinct values at 2% each plus one at
    * 2% is diverse; 98% of one value in a group that is 2% globally
    * is not private). Each quasi-identifier group (source, length
    * band — q225's QI) must keep its in-group sensitive (lang)
    * distribution within distance t of the global distribution; for
    * a categorical attribute under the uniform ground metric, the
    * earth-mover distance IS total variation: ½·Σ_v |p_v − q_v|,
    * including q_v/2 mass for languages the group lacks entirely.
    *
    * Scale shape: one partial-agg pass collapses the corpus to
    * (QI × lang) cells; groups and the global lang marginal are
    * rollups of THAT frame (never a re-scan); the full support is a
    * grid cross of the group frame with the |langs|-row marginal
    * (bounded by the language-code domain ⇒ broadcast is legal under
    * the discipline), left-joined back to the cells so absent
    * languages surface as p=0 instead of silently dropping their
    * q_v/2 term. Everything after is arithmetic on grid-sized rows. */
  def qTCloseness(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cell = Tables.documents(s, dir)
      .groupBy($"source", expr("n_chars div 100").as("len_band"), $"lang")
      .agg(count(lit(1)).as("c"))
    val grp = cell.groupBy($"source", $"len_band").agg(sum($"c").as("n"))
    val glob = cell.groupBy($"lang").agg(sum($"c").as("g"))
    val tot = glob.agg(sum($"g").as("n_total"))
    grp.crossJoin(broadcast(glob.crossJoin(tot)))
      .join(cell, Seq("source", "len_band", "lang"), "left")
      .withColumn("p", coalesce($"c", lit(0L)) / $"n".cast("double"))
      .withColumn("q", $"g" / $"n_total".cast("double"))
      .groupBy($"source", $"len_band", $"n")
      .agg(round(sum(abs($"p" - $"q")) / 2, 4).as("t_emd"))
      .withColumn("exceeds", $"t_emd" > TClosenessT)
      .select($"source", $"len_band", $"n", $"t_emd", $"exceeds")
      .orderBy($"source", $"len_band")
  }

  /** Exact bitmap segment overlap (q211): per-event-type user bitmaps
    * via the `bitmap_agg` custom aggregate (plans/BitmapAgg.scala —
    * word-aligned bitset, OR-merge commutative ⇒ the bitmap is
    * partitioning-invariant BY ALGEBRA, unlike q195's order-dependent
    * MG counters), then EXACT pairwise intersection/union/Jaccard as
    * native popcount arithmetic over the word arrays — the audience-
    * overlap table q147's KMV sketch estimates, computed exactly where
    * ids are dense (the bitmap costs maxId/8 bytes per group; sketches
    * remain the open-domain path). Scale shape: one partial-agg
    * shuffle ships ≤ one bitmap per (type, partition); the pair math
    * runs on the |types|²-row frame with zip_with+bit_count entirely
    * inside codegen'd expressions — no re-scan, no distinct join. */
  def qBitmapOverlap(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val bm = Tables.events(s, dir)
      .groupBy($"event_type")
      .agg(graft.plans.BitmapFunctions.bitmapAgg($"user_id").as("bm"))
    def pop(arr: Column): Column = aggregate(
      transform(arr, w => bit_count(w).cast("long")), lit(0L), _ + _)
    // zip_with null-pads the shorter array; coalesce keeps AND exact
    val inter = aggregate(
      zip_with($"a_bm", $"b_bm", (x, y) =>
        bit_count(coalesce(x, lit(0L)).bitwiseAND(coalesce(y, lit(0L))))
          .cast("long")),
      lit(0L), _ + _)
    val a = bm.select($"event_type".as("type_a"), $"bm".as("a_bm"))
    val b = bm.select($"event_type".as("type_b"), $"bm".as("b_bm"))
    a.crossJoin(b).filter($"type_a" < $"type_b")
      .select($"type_a", $"type_b",
        pop($"a_bm").as("n_a"), pop($"b_bm").as("n_b"), inter.as("n_common"))
      .withColumn("jaccard",
        round($"n_common" / ($"n_a" + $"n_b" - $"n_common").cast("double"), 4))
      .orderBy($"type_a", $"type_b")
  }

  /** Misra–Gries counter budget for q195 (ε = 1/(k+1) = 1/33). */
  private val MgK = 32

  /** Deterministic heavy hitters via Misra–Gries (q195): the counter-
    * based alternative to q90's Count-Min — CMS answers point queries
    * with an ε·n OVER-estimate and needs a candidate list; MG carries
    * its own candidates in k counters with an ε·n UNDER-estimate and a
    * membership theorem: every term with c_true > n/(k+1) is in the
    * sketch (Misra & Gries 1982; mergeable with the same ε per
    * Agarwal et al. 2012, so map-side partials combine and the
    * exchange ships ≤ k counters per partition at any corpus size —
    * the top-terms monitor a 100 TB stream can actually afford).
    * Output contract: counter VALUES are partitioning-dependent, so
    * the query publishes only theorem-guaranteed facts — for each term
    * above the threshold (exact integer test c·(k+1) > n): presence in
    * the sketch and the under-estimate bound (c_true − ĉ)·(k+1) ≤ n,
    * both provably true however Spark partitioned the corpus. The
    * exact-count side rides the same one-shuffle token aggregate the
    * suite already pays; MgSpec pins the guarantees across forced
    * repartitionings and on an adversarial skew fixture. */
  def qMgHeavyHitters(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val toks = Tables.documents(s, dir)
      .select(explode(split($"text", " ")).as("term"))
    val sk = toks.agg(
      graft.plans.MisraGries.mgSketch($"term", MgK).as("sk"))
    val exact = toks.groupBy($"term").agg(count(lit(1)).as("c_true"))
    val tot = exact.agg(sum($"c_true").as("n_tokens"))
    val est = element_at(filter($"sk",
      e => e.getField("term") === $"term"), 1).getField("cnt")
    exact.crossJoin(broadcast(tot)).crossJoin(broadcast(sk))
      .filter($"c_true" * (MgK + 1) > $"n_tokens")
      .select($"term", $"c_true", $"n_tokens",
        est.isNotNull.as("in_sketch"),
        (($"c_true" - coalesce(est, lit(0L))) * (MgK + 1) <=
          $"n_tokens").as("within_bound"))
      .orderBy($"term")
  }

  /** Privacy budget for the q191 release (sensitivity 1: one document
    * added/removed moves any cell count by at most 1). */
  private val DpEpsilon = 1.0

  /** Differentially-private count release (q191): the (lang, source)
    * histogram published with Laplace(1/ε) noise (Dwork et al. 2006) —
    * the other half of the privacy story next to q169's k-anonymity
    * audit (k-anonymity suppresses small cells; DP perturbs every cell
    * with a provable budget, immune to side-knowledge joins). Noise is
    * the inverse-CDF transform −(1/ε)·sign(u−½)·ln(1−2|u−½|) of a
    * DETERMINISTIC per-cell md5 uniform — reproducible audit replay,
    * same convention as every sampling coin in this engine (a real
    * release would draw fresh randomness; the transform and budget
    * accounting are exactly this). Scale: one partial-agg groupBy to
    * |cells| rows; the noise is map-side arithmetic on that frame.
    * Cells are keyed pre-aggregation values only, so the noisy release
    * plus (ε, sensitivity) metadata is safe to publish as-is. */
  def qDpRelease(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val u = conv(substring(md5(concat(lit("dp:"), $"lang", lit("|"),
      $"source")), 1, 6), 16, 10).cast("double") / lit(16777216.0)
    Tables.documents(s, dir)
      .groupBy($"lang", $"source")
      .agg(count(lit(1)).as("n_true"))
      .withColumn("u", u)
      .withColumn("noise",
        round(lit(-1.0 / DpEpsilon) * signum($"u" - 0.5) *
          log(lit(1.0) - lit(2.0) * abs($"u" - 0.5)), 4))
      .select($"lang", $"source", $"n_true",
        round($"n_true" + $"noise", 4).as("n_released"),
        $"noise", lit(DpEpsilon).as("epsilon"))
      .orderBy($"lang", $"source")
  }

  /** Token-weighted length quantiles (q205): the median/p90 document
    * length BY TOKEN MASS per language — "half the tokens live in docs
    * shorter than X", the number sequence-packing (q58) and length
    * curricula budget from; the UNWEIGHTED median (q58's family)
    * answers a different question and the two diverge exactly when
    * long docs dominate the mass. Exact integer selection: cumulative
    * token weight over the per-language (n_chars → weight) GRID
    * (bounded by distinct lengths, never |docs| rows in a window),
    * median = least value with 2·cumw ≥ W, p90 = least with
    * 10·cumw ≥ 9·W — no interpolation, no floats anywhere. */
  def qWeightedQuantiles(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val per = Tables.documents(s, dir)
      .select($"lang", $"n_chars",
        size(split($"text", " ")).cast("long").as("w"))
      .groupBy($"lang", $"n_chars").agg(sum($"w").as("w"))
    val wl = Window.partitionBy($"lang").orderBy($"n_chars")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val g = per
      .withColumn("cw", sum($"w").over(wl))
      .withColumn("tw", sum($"w").over(Window.partitionBy($"lang")))
    val med = g.filter($"cw" * 2 >= $"tw")
      .groupBy($"lang").agg(min($"n_chars").as("w_median_len"))
    val p90 = g.filter($"cw" * 10 >= $"tw" * 9)
      .groupBy($"lang").agg(min($"n_chars").as("w_p90_len"))
    val tot = per.groupBy($"lang").agg(sum($"w").as("total_tokens"))
    tot.join(med, "lang").join(p90, "lang")
      .select($"lang", $"total_tokens", $"w_median_len", $"w_p90_len")
      .orderBy($"lang")
  }

  /** Chi-square independence test lang × source (q207): Pearson χ²
    * over the contingency cells with df = (R−1)(C−1) and Cramér's V —
    * the categorical association audit behind every stratified design
    * here (if lang and source are strongly associated, per-source
    * stats confound with language and q106's grouped split inherits
    * language skew). One partial agg collapses the corpus to \|cells\|
    * rows; expected counts come from the row/column marginals of that
    * grid; everything after is closed-form arithmetic on it. */
  def qChiSquare(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val cells = Tables.documents(s, dir)
      .groupBy($"lang", $"source").agg(count(lit(1)).as("o"))
    val g = cells
      .withColumn("rt", sum($"o").over(Window.partitionBy($"lang")))
      .withColumn("ct", sum($"o").over(Window.partitionBy($"source")))
      .withColumn("n", sum($"o").over(Window.partitionBy()))
    val dims = cells.agg(
      countDistinct($"lang").as("r"), countDistinct($"source").as("c"))
    val e = $"rt" * $"ct" / $"n".cast("double")
    g.agg(max($"n").as("n_docs"),
        sum(($"o" - e) * ($"o" - e) / e).as("chi2raw"))
      .crossJoin(broadcast(dims))
      .select($"n_docs",
        round($"chi2raw", 4).as("chi2"),
        (($"r" - 1) * ($"c" - 1)).as("df"),
        // 1×1 contingency (one lang, one source): df = 0 and V is
        // undefined → NULL via the nullif'd denominator (DuckDB's /0)
        round(sqrt($"chi2raw" /
          when(least($"r" - 1, $"c" - 1) =!= 0,
            ($"n_docs" * least($"r" - 1, $"c" - 1)).cast("double"))), 4)
          .as("cramers_v"))
  }

  /** G-test of independence (q339) — the log-likelihood-ratio twin of
    * q207's Pearson χ² on the same lang × source contingency:
    * G = 2·Σ o·ln(o/e). Preferred when any o/e is far from 1 (χ²'s
    * quadratic approximation degrades exactly where the independence
    * question is interesting — a source that is 90% one language);
    * G is also additive across nested table partitions, so per-shard
    * Gs SUM to the corpus G — the mergeability χ² lacks. Same one
    * partial agg to the |langs|×|sources| cell grid; the cross-cell
    * ln-sum folds IN (lang, source)-SORTED ORDER (q313's
    * order-deterministic in-row fold — a float sum over cells would be
    * accumulation-order-dependent). Only observed cells contribute
    * (o ≥ 1 by construction, so no ln(0) exists on either engine);
    * a 1×1 table gives G = 0, df = 0. */
  def qGTest(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val cells = Tables.documents(s, dir)
      .groupBy($"lang", $"source").agg(count(lit(1)).as("o"))
    val g = cells
      .withColumn("rt", sum($"o").over(Window.partitionBy($"lang")))
      .withColumn("ct", sum($"o").over(Window.partitionBy($"source")))
      .withColumn("n", sum($"o").over(Window.partitionBy()))
    val dims = cells.agg(
      countDistinct($"lang").as("r"), countDistinct($"source").as("c"))
    g.select(struct($"lang", $"source",
        $"o".cast("double").as("o"), $"rt".cast("double").as("rt"),
        $"ct".cast("double").as("ct"), $"n".cast("double").as("n"))
        .as("cell"),
        $"n".as("n_docs"))
      .groupBy($"n_docs")
      .agg(array_sort(collect_list($"cell")).as("cs"))
      .crossJoin(broadcast(dims))
      .select($"n_docs",
        (floor(expr(
          """2.0d * aggregate(cs, 0.0d, (a, c) ->
            |  a + c.o * ln(c.o / (c.rt * c.ct / c.n)))""".stripMargin)
          * 1e4 + 0.5) / 1e4).as("g_stat"),
        (($"r" - 1) * ($"c" - 1)).as("df"))
  }

  /** q286 constants: 16 linear slots per octave = 5-bit HDR precision
    * (worst-case relative error 1/32 above the exact range), the
    * exact-representation cutoff, and integer percentile targets. */
  private val DigestSlots = 16
  private val DigestExactBelow = 32 // values < 2^5 store exactly
  private val DigestPcts = Seq(50, 95, 99)

  /** Mergeable log-bucket quantile digest (q286) — the INTEGER-EXACT
    * cousin of DDSketch (Masson et al. VLDB'19) / HdrHistogram: a
    * value below 32 maps to itself; above, octave e = ⌊log₂ x⌋ (the
    * length of the binary string, no float log) splits into 16 linear
    * slots via one right-shift, so bucket id, bucket bounds, and the
    * midpoint representative are ALL integer arithmetic — which is
    * what lets the digest hash-match an independent engine
    * bit-for-bit (q73's percentile_approx sketch can only be judged
    * each-engine-against-its-own for exactly this reason). Bucket
    * width 2^(e−4) ⇒ the midpoint is within 1/32 of any absorbed
    * value — fixed RELATIVE error at every magnitude, where an
    * equi-width histogram's error explodes on the tail.
    *
    * The sketch is a (bucket → count) frame, bounded at 16 buckets
    * per octave at ANY corpus size, and mergeable by count addition:
    * built per (source, lang), rolled to per-source by groupBy-sum —
    * the q141 HLL-rollup shape (a slice union is a sum over
    * precomputed digests, never a raw re-scan). Read-out walks the
    * ≤ ~hundred-row per-source cumsum; ranks are ⌈p·n/100⌉ =
    * (p·n+99) div 100, so no float ever decides a bucket. The exact
    * per-source quantile (same integer selection over the raw VALUE
    * grid — bounded by the value domain, never a per-doc window)
    * rides along as the audit, and `in_bucket` asserts the sketch
    * guarantee — 2·|est − exact| ≤ bucket width — exactly. */
  def qQuantileDigest(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, dir)
      .select($"source", $"lang", $"n_chars")
      .withColumn("e", (length(bin($"n_chars")) - 1).cast("int"))
      .withColumn("bucket",
        when($"n_chars" < DigestExactBelow, $"n_chars")
          .otherwise(lit(DigestExactBelow.toLong) +
            ($"e" - 5).cast("long") * DigestSlots +
            expr("shiftright(n_chars, e - 4)") - DigestSlots))
    // level 1: the per-(source, lang) digests that ship; level 2: the
    // per-source merge — counts add, nothing else moves
    val l1 = docs.groupBy($"source", $"lang", $"bucket")
      .agg(count(lit(1)).as("cnt"))
    val digest = l1.groupBy($"source", $"bucket")
      .agg(sum($"cnt").as("cnt"))
    val cum = digest.withColumn("cum", sum($"cnt").over(
      Window.partitionBy($"source").orderBy($"bucket")
        .rowsBetween(Window.unboundedPreceding, 0)))
    val tot = digest.groupBy($"source")
      .agg(sum($"cnt").as("n"), count(lit(1)).as("n_buckets"))
    val targets = tot
      .select($"source", $"n", $"n_buckets",
        explode(array(DigestPcts.map(lit): _*)).as("pct"))
      .withColumn("rank", expr("(pct * n + 99) div 100"))
    val widthSql =
      s"""CASE WHEN bucket < $DigestExactBelow THEN 1
         | ELSE shiftleft(1, cast(
         |   (bucket - $DigestExactBelow) div $DigestSlots + 1 as int))
         | END""".stripMargin
    val decodeSql =
      s"""CASE WHEN bucket < $DigestExactBelow THEN bucket
         | ELSE ((bucket - $DigestExactBelow) % $DigestSlots
         |        + $DigestSlots)
         |      * shiftleft(1, cast(
         |          (bucket - $DigestExactBelow) div $DigestSlots + 1
         |          as int))
         |      + shiftleft(1, cast(
         |          (bucket - $DigestExactBelow) div $DigestSlots
         |          as int))
         | END""".stripMargin
    val est = cum.join(targets, "source")
      .filter($"cum" >= $"rank")
      .groupBy($"source", $"pct", $"n_buckets")
      .agg(min($"bucket").as("bucket"))
      .withColumn("est_len", expr(decodeSql))
      .withColumn("width", expr(widthSql))
    // exact selection over the raw (source, n_chars) grid
    val exCum = docs.groupBy($"source", $"n_chars")
      .agg(count(lit(1)).as("c"))
      .withColumn("cum", sum($"c").over(
        Window.partitionBy($"source").orderBy($"n_chars")
          .rowsBetween(Window.unboundedPreceding, 0)))
    val exact = exCum
      .join(targets.select($"source", $"pct", $"rank"), "source")
      .filter($"cum" >= $"rank")
      .groupBy($"source", $"pct")
      .agg(min($"n_chars").as("exact_len"))
    est.join(exact, Seq("source", "pct"))
      .select($"source", $"pct", $"bucket", $"est_len", $"exact_len",
        round(abs($"est_len" - $"exact_len") /
          $"exact_len".cast("double"), 4).as("rel_err"),
        (abs($"est_len" - $"exact_len") * 2 <= $"width")
          .as("in_bucket"),
        $"n_buckets")
      .orderBy($"source", $"pct")
  }

  /** Mann–Whitney U rank-sum test (q294) — Mann & Whitney 1947, with
    * the tie-corrected normal approximation: do two corpus sources
    * draw document lengths from the same distribution? The
    * distribution-free A/B answer the parametric family (q145 t-test,
    * q182 KS) lacks when lengths are heavy-tailed — exactly the shape
    * corpus length columns have. Groups are the lexicographic min/max
    * source names (data-derived, the q220 seed discipline — the
    * oracle replays them without literals). Scale shape: the corpus
    * collapses to the DISTINCT-length value grid in the first
    * aggregate (average ranks are a pure function of per-value
    * counts: cum − c + (c+1)/2); the only window is a cumsum over
    * that value-domain-bounded grid (q182's audited frame), then one
    * scalar aggregate. Every sum is exact in doubles (counts and
    * half-integer ranks), so U and z are bit-deterministic across
    * engines. */
  def qMannWhitney(s: SparkSession, dir: String): DataFrame =
    mannWhitneyOf(Tables.documents(s, dir))

  /** Mann–Whitney core over any (source, n_chars) frame; split out so
    * the spec can pin U and z on hand-computed fixtures. */
  private[graft] def mannWhitneyOf(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    // src_a < src_b, strictly: on a one-source frame min==max and the
    // OR-filter below would silently double-count every row into both
    // samples (n1=n2=N) — a meaningless but plausible-looking U. The
    // guard makes the degenerate case an EMPTY result instead, in both
    // engines (the oracle replays the same HAVING).
    val pick = docs.agg(min($"source").as("src_a"), max($"source").as("src_b"))
      .filter($"src_a" < $"src_b")
    val two = docs.crossJoin(broadcast(pick))
      .filter($"source" === $"src_a" || $"source" === $"src_b")
    val grid = two.groupBy($"src_a", $"src_b", $"n_chars")
      .agg(sum(when($"source" === $"src_a", 1L).otherwise(0L)).as("c1"),
        sum(when($"source" === $"src_b", 1L).otherwise(0L)).as("c2"))
      .withColumn("c", $"c1" + $"c2")
    val w = Window.orderBy($"n_chars")
    val ranked = grid.withColumn("cum", sum($"c").over(w))
      .withColumn("avg_rk", $"cum" - $"c" + ($"c" + lit(1L)) / lit(2.0))
    ranked.groupBy($"src_a", $"src_b")
      .agg(sum($"c1").as("n1"), sum($"c2").as("n2"),
        sum($"c1" * $"avg_rk").as("r1"),
        sum($"c" * $"c" * $"c" - $"c").cast("double").as("ties"))
      .select($"src_a", $"src_b", $"n1", $"n2",
        (floor(($"r1" - $"n1" * ($"n1" + 1L) / lit(2.0)) * 1e4 + 0.5) / 1e4)
          .as("u1"),
        (floor(
          ($"r1" - $"n1" * ($"n1" + 1L) / lit(2.0)
            - $"n1" * $"n2" / lit(2.0)) /
          sqrt($"n1" * $"n2" / lit(12.0) *
            (($"n1" + $"n2" + 1L)
              - $"ties" / (($"n1" + $"n2") * ($"n1" + $"n2" - 1L))))
          * 1e4 + 0.5) / 1e4).as("z"))
      .orderBy($"src_a")
  }

  /** Spearman rank correlation (q295) — Spearman 1904, the
    * average-rank/tie-correct form (Pearson on midranks): per source,
    * does document length co-move with token count? The monotone-
    * association probe next to q244's linear corr — robust to the
    * outliers and non-linearity corpus features always carry. Ranks
    * come from per-source windows (rank() + same-value count →
    * midrank), both PARTITIONED — nothing global — and the corr
    * aggregate partial-combines map-side. */
  def qSpearman(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    spearmanOf(Tables.documents(s, dir)
      .select($"source", $"n_chars".cast("double").as("x"),
        size(TextOps.tokenize($"text")).cast("double").as("y")))
  }

  /** Spearman core over any (source, x, y) frame; split out so the
    * spec can pin rho on hand-computed fixtures. */
  private[graft] def spearmanOf(base: DataFrame): DataFrame = {
    val s = base.sparkSession
    import s.implicits._
    val r = base
      .withColumn("rx",
        rank().over(Window.partitionBy($"source").orderBy($"x")) +
          (count(lit(1)).over(Window.partitionBy($"source", $"x")) - 1L)
            / lit(2.0))
      .withColumn("ry",
        rank().over(Window.partitionBy($"source").orderBy($"y")) +
          (count(lit(1)).over(Window.partitionBy($"source", $"y")) - 1L)
            / lit(2.0))
    r.groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        (floor(corr($"rx", $"ry") * 1e4 + 0.5) / 1e4).as("rho"))
      .orderBy($"source")
  }

  /** q300's ridge penalty — fixed, replayed verbatim by the oracle. */
  private val RidgeLambda = 100.0

  /** Ridge regression by normal equations (q300) — Hoerl & Kennard
    * 1970: fit n_chars from (token count, distinct-token count) by
    * solving (XᵀX + λI)w = Xᵀy with the 3×3 system inverted in closed
    * form (cofactors). This is the OTHER distributed-trainer shape
    * next to q299's iterative GD: ONE map-side-combined aggregate
    * collects the 10 Gram moments and everything after is scalar
    * algebra on a 1-row frame — at 100 TB it is a single corpus scan,
    * zero iterations, zero driver round-trips. Determinism: every
    * moment is an EXACT integer sum (the features are integer counts),
    * cast to double once, and both engines then evaluate the identical
    * cofactor/solve expression tree — same doubles in, same out. */
  def qRidgeGram(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    ridgeCore(Tables.documents(s, dir).select(
      size(split($"text", " ")).cast("long").as("x1"),
      size(array_distinct(split($"text", " "))).cast("long").as("x2"),
      $"n_chars".as("y")))
  }

  /** Ridge core over any integer (x1, x2, y) frame; split out so the
    * spec can pin recovery of a planted linear law. */
  private[graft] def ridgeCore(base: DataFrame): DataFrame = {
    val s = base.sparkSession
    import s.implicits._
    val lam = lit(RidgeLambda)
    base.agg(
        count(lit(1)).as("nl"),
        count(lit(1)).cast("double").as("n"),
        sum($"x1").cast("double").as("s1"),
        sum($"x2").cast("double").as("s2"),
        sum($"x1" * $"x1").cast("double").as("s11"),
        sum($"x1" * $"x2").cast("double").as("s12"),
        sum($"x2" * $"x2").cast("double").as("s22"),
        sum($"y").cast("double").as("sy"),
        sum($"x1" * $"y").cast("double").as("s1y"),
        sum($"x2" * $"y").cast("double").as("s2y"),
        sum($"y" * $"y").cast("double").as("syy"))
      .withColumn("a11", $"n" + lam)
      .withColumn("a22", $"s11" + lam)
      .withColumn("a33", $"s22" + lam)
      .withColumn("det",
        $"a11" * ($"a22" * $"a33" - $"s12" * $"s12")
          - $"s1" * ($"s1" * $"a33" - $"s12" * $"s2")
          + $"s2" * ($"s1" * $"s12" - $"a22" * $"s2"))
      .withColumn("w0",
        (($"a22" * $"a33" - $"s12" * $"s12") * $"sy"
          + ($"s2" * $"s12" - $"s1" * $"a33") * $"s1y"
          + ($"s1" * $"s12" - $"s2" * $"a22") * $"s2y") / $"det")
      .withColumn("w1",
        (($"s2" * $"s12" - $"s1" * $"a33") * $"sy"
          + ($"a11" * $"a33" - $"s2" * $"s2") * $"s1y"
          + ($"s2" * $"s1" - $"a11" * $"s12") * $"s2y") / $"det")
      .withColumn("w2",
        (($"s1" * $"s12" - $"s2" * $"a22") * $"sy"
          + ($"s2" * $"s1" - $"a11" * $"s12") * $"s1y"
          + ($"a11" * $"a22" - $"s1" * $"s1") * $"s2y") / $"det")
      .withColumn("sse",
        $"syy" - lit(2.0) * ($"w0" * $"sy" + $"w1" * $"s1y" + $"w2" * $"s2y")
          + ($"w0" * $"w0" * $"n" + $"w1" * $"w1" * $"s11"
            + $"w2" * $"w2" * $"s22"
            + lit(2.0) * ($"w0" * $"w1" * $"s1" + $"w0" * $"w2" * $"s2"
              + $"w1" * $"w2" * $"s12")))
      .withColumn("sst", $"syy" - $"sy" * $"sy" / $"n")
      .select($"nl".as("n"),
        (floor($"w0" * 1e4 + 0.5) / 1e4).as("w0"),
        (floor($"w1" * 1e4 + 0.5) / 1e4).as("w1"),
        (floor($"w2" * 1e4 + 0.5) / 1e4).as("w2"),
        // zero-variance target (n=1 or constant y): R² is undefined
        // → NULL via the nullif'd SST, DuckDB's natural 0/0
        (floor((lit(1.0) - $"sse" / when($"sst" =!= 0.0, $"sst"))
          * 1e4 + 0.5) / 1e4).as("r2"))
  }

  /** 1-Wasserstein distance (q302) — the earth-mover form over the
    * empirical CDFs: W₁ = Σ_grid |F₁(v) − F₂(v)|·Δv, between the
    * document-length distributions of the lexicographic min/max
    * sources (q294's pick discipline). The magnitude-aware complement
    * of the sup-norm tests: q182's KS asks "do they differ anywhere",
    * W₁ asks "by how many characters of mass must one be moved to
    * become the other" — the number mixture rebalancing (q88/q279)
    * actually budgets against. Scale shape: collapse to the
    * distinct-length value grid, one grid cumsum (q182's audited
    * unpartitioned frame), one scalar aggregate. */
  def qWasserstein(s: SparkSession, dir: String): DataFrame =
    wassersteinOf(Tables.documents(s, dir))

  /** W₁ core over any (source, n_chars) frame; split out so the spec
    * can pin the shift-by-Δ fixture (W₁ = Δ). */
  private[graft] def wassersteinOf(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    // same strict src_a < src_b guard as mannWhitneyOf: a one-source
    // corpus yields an empty result, not a double-counted W₁=0
    val pick = docs.agg(min($"source").as("src_a"), max($"source").as("src_b"))
      .filter($"src_a" < $"src_b")
    val two = docs.crossJoin(broadcast(pick))
      .filter($"source" === $"src_a" || $"source" === $"src_b")
    val grid = two.groupBy($"src_a", $"src_b", $"n_chars")
      .agg(sum(when($"source" === $"src_a", 1L).otherwise(0L)).as("c1"),
        sum(when($"source" === $"src_b", 1L).otherwise(0L)).as("c2"))
    val tot = grid.agg(sum($"c1").as("n1"), sum($"c2").as("n2"))
    val w = Window.orderBy($"n_chars")
    val g = grid
      .withColumn("f1c", sum($"c1").over(w))
      .withColumn("f2c", sum($"c2").over(w))
      .withColumn("gap",
        (lead($"n_chars", 1).over(w) - $"n_chars").cast("double"))
    g.crossJoin(broadcast(tot))
      .groupBy($"src_a", $"src_b", $"n1", $"n2")
      .agg((floor(sum(abs($"f1c" / $"n1" - $"f2c" / $"n2")
        * coalesce($"gap", lit(0.0))) * 1e4 + 0.5) / 1e4).as("w1_dist"))
      .select($"src_a", $"src_b", $"n1", $"n2", $"w1_dist")
  }

  /** Kruskal–Wallis H test (q313) — Kruskal & Wallis 1952, the
    * k-sample generalization of q294's two-sample Mann–Whitney: do ALL
    * corpus sources draw document lengths from one distribution? One
    * rank-based H = 12/(N(N+1))·ΣR_j²/n_j − 3(N+1) with the standard
    * tie correction 1 − Σ(t³−t)/(N³−N) — the omnibus gate a mixture
    * audit runs BEFORE drilling into q294 pairs. Scale shape: q294's —
    * the corpus collapses to the (source × distinct-length) grid, the
    * only window is the global midrank cumsum over the value-domain-
    * bounded length grid (q182's audited frame), and every sum is an
    * exact integer or half-integer, so H is bit-deterministic. */
  def qKruskalWallis(s: SparkSession, dir: String): DataFrame =
    kruskalWallisOf(Tables.documents(s, dir))

  /** KW core over any (source, n_chars) frame; split out so the spec
    * can pin H on a hand-ranked fixture. */
  private[graft] def kruskalWallisOf(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val cells = docs.groupBy($"source", $"n_chars")
      .agg(count(lit(1)).as("c"))
    val vals = cells.groupBy($"n_chars").agg(sum($"c").as("ct"))
    val w = Window.orderBy($"n_chars")
    // midranks carried DOUBLED (2·avg_rk = 2·cum − ct + 1) so the
    // per-source rank sums below stay exact integers
    val ranked = vals.withColumn("cum", sum($"ct").over(w))
      .select($"n_chars", $"cum", $"ct")
    // rank sums ride as DOUBLED ranks so rj2 is an exact integer; the
    // cross-group Σ R_j²/n_j is a double fold in SORTED source order
    // (collect_list order is not deterministic; the in-row fold is —
    // and the oracle replays the identical list_reduce order)
    val perSrc = cells.join(ranked, "n_chars")
      .groupBy($"source")
      .agg(sum($"c").as("nj"),
        sum($"c" * (lit(2L) * $"cum" - $"ct" + 1L)).as("rj2"))
    val ties = ranked.agg(
      sum($"ct" * $"ct" * $"ct" - $"ct").cast("double").as("tsum"))
    perSrc
      .agg(array_sort(collect_list(struct($"source", $"nj", $"rj2")))
        .as("gs"))
      .select(size($"gs").cast("long").as("n_groups"),
        expr("aggregate(gs, cast(0 as bigint), (a, g) -> a + g.nj)")
          .as("n"),
        expr("""aggregate(gs, 0.0d, (a, g) ->
          |  a + cast(g.rj2 as double) * g.rj2 / (4.0d * g.nj))"""
          .stripMargin).as("rterm"))
      .crossJoin(broadcast(ties))
      .select($"n_groups", $"n",
        // n = 0 (empty corpus) leaves H undefined → NULL divisor guard
        (floor((lit(12.0) / when($"n" > 0L, $"n" * ($"n" + 1L))
          * $"rterm"
          - lit(3.0) * ($"n" + 1L)) * 1e4 + 0.5) / 1e4).as("h"),
        // n = 1 (tie term 0/0) and the all-tied corpus (correction
        // factor 0) both leave the corrected H undefined → NULL via
        // nullif'd divisors, matching DuckDB's /0 at each step
        (floor((lit(12.0) / when($"n" > 0L, $"n" * ($"n" + 1L))
          * $"rterm"
          - lit(3.0) * ($"n" + 1L))
          / when((lit(1.0) - $"tsum" /
              when($"n" > 1L,
                $"n".cast("double") * $"n" * $"n" - $"n")) =!= 0.0,
            lit(1.0) - $"tsum" /
              when($"n" > 1L,
                $"n".cast("double") * $"n" * $"n" - $"n"))
          * 1e4 + 0.5) / 1e4).as("h_tie_corrected"))
  }

  /** One-way ANOVA F (q336) — Fisher's variance-ratio test of equal
    * mean document length across ALL sources: the parametric
    * complement of q313's rank-based Kruskal–Wallis (KW survives
    * outliers; ANOVA is the textbook first read and carries the
    * effect size η² = SSB/SST that a rank test cannot give). Scale
    * shape is q300/q326's: ONE map-side-combined aggregate collects
    * per-source exact integer moments (count, Σx as long, Σx² as
    * decimal(38,0) — bit-identical under any partial-agg order), the
    * |sources|-row frame folds IN SOURCE-SORTED ORDER (q313's
    * order-deterministic in-row fold — a float sum over groups would
    * be accumulation-order-dependent), and everything after is
    * closed-form on one row. Degenerate guards: one source (df₁ = 0),
    * all-equal-within (SSW = 0), n = k (df₂ = 0) each publish NULL F
    * via nullif'd divisors — DuckDB's natural /0. */
  def qAnovaF(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    anovaOf(Tables.documents(s, dir).select($"source",
      $"n_chars".cast("long").as("x")))
  }

  /** ANOVA core over any (source, x) frame; split out so the spec can
    * pin F on a hand-computed fixture. */
  private[graft] def anovaOf(base: DataFrame): DataFrame = {
    val s = base.sparkSession
    import s.implicits._
    val per = base.groupBy($"source")
      .agg(count(lit(1)).as("nj"),
        sum($"x").as("sj"),
        sum(($"x" * $"x").cast("decimal(38,0)")).as("qj"))
      .select(struct($"source", $"nj",
        $"sj".cast("double").as("sj"),
        $"qj".cast("double").as("qj")).as("g"))
      .agg(array_sort(collect_list($"g")).as("gs"))
    val folded = per.select(
      size($"gs").cast("long").as("k"),
      expr("aggregate(gs, cast(0 as bigint), (a, g) -> a + g.nj)")
        .as("n"),
      expr("aggregate(gs, 0.0d, (a, g) -> a + g.sj)").as("s"),
      expr("aggregate(gs, 0.0d, (a, g) -> a + g.qj)").as("q"),
      expr("aggregate(gs, 0.0d, (a, g) -> a + g.sj * g.sj / g.nj)")
        .as("rterm"))
    // n = 0 (empty corpus) ⇒ grand-mean term 0/0 ⇒ NULL ss_between;
    // ssw stays the plain fold difference (0.0 on empty — the oracle's
    // list fold replays the same)
    val ssb = $"rterm" - $"s" * $"s" / when($"n" > 0L, $"n")
    val ssw = $"q" - $"rterm"
    val f = (ssb / when($"k" > 1L, ($"k" - 1L).cast("double"))) /
      when($"n" > $"k" && ssw =!= 0.0,
        ssw / ($"n" - $"k").cast("double"))
    // ±0.0 idiom on every rounded column: the sums-of-squares are
    // mathematically ≥ 0 but float cancellation can land at −1e−12,
    // and Spark/DuckDB round −0.0 apart
    folded.select($"k".as("n_groups"), $"n".as("n_docs"),
      (round(ssb, 4) + lit(0.0)).as("ss_between"),
      (round(ssw, 4) + lit(0.0)).as("ss_within"),
      (round(f, 4) + lit(0.0)).as("f_stat"),
      (round(ssb / when(ssb + ssw =!= 0.0, ssb + ssw), 4) + lit(0.0))
        .as("eta_sq"))
  }

  /** Welch's unequal-variance t (q352) — Welch 1947, the two-sample
    * location test that drops ANOVA's (q336) equal-variance
    * assumption: t on click-vs-purchase event values with the
    * Welch–Satterthwaite df. The pair everything-else-here implies:
    * q336 tests k means under homoskedasticity, q341 tests the
    * homoskedasticity itself, q294 is the rank fallback — Welch is
    * the parametric answer when q341 REJECTS. Determinism: values
    * quantize to exact 1e-6-grid longs per row (a float Σ over rows
    * is accumulation-order-dependent), Σv and Σv² sum exactly
    * (decimal(38,0) — v²_µ ≈ 2.5e17/row overflows a long SUM, not a
    * row), and both engines then run the identical double tree. One
    * map-side-combined aggregate; scalar algebra after. */
  def qWelchT(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    welchOf(Tables.events(s, dir)
      .filter($"event_type".isin("click", "purchase"))
      .select($"event_type", $"value"))
  }

  /** Welch core over any (event_type ∈ {click, purchase}, value)
    * frame; split out so the spec can pin t/df on a textbook
    * fixture. */
  private[graft] def welchOf(base: DataFrame): DataFrame = {
    val s = base.sparkSession
    import s.implicits._
    val vm = floor($"value" * 1e6 + 0.5).cast("long")
    val m = base
      .select($"event_type", vm.as("vm"))
      .agg(
        sum(when($"event_type" === "click", 1L).otherwise(0L)).as("n1"),
        sum(when($"event_type" === "purchase", 1L).otherwise(0L))
          .as("n2"),
        sum(when($"event_type" === "click", $"vm").otherwise(0L))
          .as("s1"),
        sum(when($"event_type" === "purchase", $"vm").otherwise(0L))
          .as("s2"),
        // vm casts to decimal BEFORE squaring (ADVICE r13): a long×long
        // square wraps silently past |vm| ≈ 3e9 (|value| ≥ ~3035) under
        // non-ANSI while DuckDB's BIGINT*BIGINT errors — the per-row
        // product must already be wide, not just the cross-row sum
        sum(when($"event_type" === "click",
          $"vm".cast("decimal(19,0)") * $"vm")
          .otherwise(lit(0).cast("decimal(38,0)"))).as("q1"),
        sum(when($"event_type" === "purchase",
          $"vm".cast("decimal(19,0)") * $"vm")
          .otherwise(lit(0).cast("decimal(38,0)"))).as("q2"))
    // sample variances in micro² units; n < 2 ⇒ NULL via the guards
    val v1 = ($"q1".cast("double") -
      $"s1".cast("double") * $"s1".cast("double") /
        when($"n1" > 0L, $"n1")) / when($"n1" > 1L, $"n1" - 1L)
    val v2 = ($"q2".cast("double") -
      $"s2".cast("double") * $"s2".cast("double") /
        when($"n2" > 0L, $"n2")) / when($"n2" > 1L, $"n2" - 1L)
    val se1 = v1 / $"n1"
    val se2 = v2 / $"n2"
    // micro-unit means over micro-unit standard error: units cancel;
    // zero pooled SE (both groups constant) ⇒ NULL, never an ANSI /0
    val seTot = sqrt(se1 + se2)
    val tStat = ($"s1".cast("double") /
      when($"n1" > 0L, $"n1") -
      $"s2".cast("double") / when($"n2" > 0L, $"n2")) /
      when(seTot =!= 0.0, seTot)
    val dfW = (se1 + se2) * (se1 + se2) /
      when($"n1" > 1L && $"n2" > 1L &&
          (se1 =!= 0.0 || se2 =!= 0.0),
        se1 * se1 / ($"n1" - 1L) + se2 * se2 / ($"n2" - 1L))
    m.select($"n1", $"n2",
      (round($"s1".cast("double") / when($"n1" > 0L, $"n1") / 1e6, 4)
        + lit(0.0)).as("mean_click"),
      (round($"s2".cast("double") / when($"n2" > 0L, $"n2") / 1e6, 4)
        + lit(0.0)).as("mean_purchase"),
      (round(tStat, 4) + lit(0.0)).as("t_stat"),
      (round(dfW, 4) + lit(0.0)).as("df_welch"))
  }

  /** q343's fold count. */
  private val FoldK = 5

  /** Grouped k-fold assignment (q343) — the leakage-safe
    * cross-validation split: whole SOURCES assign to folds (q106's
    * grouped-split argument — near-duplicates and house style live
    * within a source, so splitting a source across folds leaks), with
    * token mass balanced by SNAKE ordering (sources sorted by mass
    * desc, dealt 0,1,2,3,4,4,3,2,1,0,… — the deterministic one-pass
    * approximation of LPT bin packing, within-2-rows-of-greedy balance
    * without any sequential state). The only window is a
    * |sources|-sized rank (bounded by the source domain, never the
    * corpus); token mass is one corpus aggregate. Emits the fold
    * manifest a trainer consumes: sources, token mass, corpus share
    * per fold. */
  def qGroupedFolds(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val mass = Tables.documents(s, dir)
      .select($"source", size(split($"text", " ")).cast("long").as("t"))
      .groupBy($"source").agg(sum($"t").as("tokens"))
    val idx = mass.withColumn("i",
      (row_number().over(Window.orderBy($"tokens".desc, $"source"))
        - 1).cast("long"))
    val folds = idx.select($"source", $"tokens",
      when(floor($"i" / FoldK).cast("long") % 2 === 0, $"i" % FoldK)
        .otherwise(lit(FoldK - 1) - $"i" % FoldK).as("fold"))
    val tot = folds.agg(sum($"tokens").as("tot"))
    folds.groupBy($"fold")
      .agg(count(lit(1)).as("n_sources"), sum($"tokens").as("tokens"))
      .crossJoin(broadcast(tot))
      .select($"fold", $"n_sources", $"tokens",
        (floor($"tokens" * 1e4 / $"tot" + 0.5) / 1e4).as("token_share"))
      .orderBy($"fold")
  }

  /** Brown–Forsythe / Levene test (q341) — variance homogeneity across
    * sources, the ASSUMPTION check q336's ANOVA rests on (unequal
    * variances inflate its F): one-way ANOVA on the median-centered
    * absolute deviations z = |x − median_source| (the median-centered
    * Brown–Forsythe 1974 form — robust where Levene's mean-centering
    * is outlier-dragged). Exactness trick: the test runs on
    * z₂ = |2x − 2·median| instead — 2·median of integer lengths is an
    * exact integer even at even group sizes (the interpolated .5
    * doubles away), so every moment stays an exact integer and F is
    * unchanged (F is scale-invariant: both SS terms scale by c²). One
    * exact-percentile aggregate per source (broadcast back), then the
    * q336 core verbatim. */
  def qLeveneBf(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = Tables.documents(s, dir)
      .select($"source", $"n_chars".cast("long").as("x0"))
    val med = base.groupBy($"source")
      .agg((percentile($"x0", lit(0.5)) * 2.0).cast("long").as("m2"))
    anovaOf(base.join(broadcast(med), "source")
      .select($"source", abs($"x0" * 2L - $"m2").as("x")))
      .select($"n_groups", $"n_docs",
        $"f_stat".as("bf_stat"),
        // homogeneity verdict at the conventional F ≈ 2 screen level
        // (df-exact critical values need an F inverse; the screen is
        // the monitoring read, not a published p)
        coalesce($"f_stat" > 2.0, lit(false)).as("flagged"))
  }

  /** Kendall rank correlation tau-b (q314) — Kendall 1938 with the
    * tie-aware b normalization: per language, do document length and
    * token count co-order? The concordance complement of q295's
    * Spearman (tau is more robust to a few wild midranks; reporting
    * both is standard). Scale shape: the corpus collapses to the
    * per-lang (x, y) CELL grid first, and concordant/discordant counts
    * come from the unordered cell-pair join — grid², bounded by the
    * two VALUE DOMAINS (never the corpus; the same bound q182/q294
    * lean on), with every pair contributing c_a·c_b exactly in
    * integers. Tie terms come from the per-axis marginals. One sqrt at
    * the end; floor-form rounding (tau goes negative). */
  def qKendallTau(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    kendallTauOf(Tables.documents(s, dir)
      .select($"lang", $"n_chars".cast("long").as("x"),
        size(TextOps.tokenize($"text")).cast("long").as("y")))
  }

  /** tau-b core over any (lang, x, y) frame; split out so the spec can
    * pin concordance arithmetic on hand-counted fixtures. */
  private[graft] def kendallTauOf(base: DataFrame): DataFrame = {
    val s = base.sparkSession
    import s.implicits._
    val cells = base.groupBy($"lang", $"x", $"y")
      .agg(count(lit(1)).as("c"))
    val a = cells.select($"lang", $"x".as("xa"), $"y".as("ya"), $"c".as("ca"))
    val b = cells.select($"lang", $"x".as("xb"), $"y".as("yb"), $"c".as("cb"))
    // broadcast one side: the cell frame is value-domain-bounded BY
    // CONSTRUCTION (≤ |x domain|·|y domain| rows at any corpus size),
    // and the join key `lang` is ~20 values — a shuffle join would
    // funnel the whole grid² compare through a handful of reducers
    val pairs = a.join(broadcast(b), Seq("lang"))
      .filter(struct($"xa", $"ya") < struct($"xb", $"yb"))
    val sgn = signum($"xa" - $"xb") * signum($"ya" - $"yb")
    val cd = pairs.groupBy($"lang")
      .agg(sum(when(sgn > 0, $"ca" * $"cb").otherwise(0L)).as("nc"),
        sum(when(sgn < 0, $"ca" * $"cb").otherwise(0L)).as("nd"))
    val n = cells.groupBy($"lang").agg(sum($"c").as("n"))
    val tx = cells.groupBy($"lang", $"x").agg(sum($"c").as("t"))
      .groupBy($"lang").agg(sum($"t" * ($"t" - 1L) / 2L).as("tiex"))
    val ty = cells.groupBy($"lang", $"y").agg(sum($"c").as("t"))
      .groupBy($"lang").agg(sum($"t" * ($"t" - 1L) / 2L).as("tiey"))
    n.join(cd, Seq("lang"), "left").join(tx, "lang").join(ty, "lang")
      .select($"lang", $"n".as("n_docs"),
        coalesce($"nc", lit(0L)).as("n_conc"),
        coalesce($"nd", lit(0L)).as("n_disc"),
        // a 1-doc or fully-tied-axis language has no orderable pairs:
        // τ-b is 0/0-undefined → NULL via the nullif'd denominator
        (floor((coalesce($"nc", lit(0L)) - coalesce($"nd", lit(0L)))
          / when(sqrt(($"n" * ($"n" - 1L) / 2L - $"tiex").cast("double")
              * ($"n" * ($"n" - 1L) / 2L - $"tiey")) =!= 0.0,
            sqrt(($"n" * ($"n" - 1L) / 2L - $"tiex").cast("double")
              * ($"n" * ($"n" - 1L) / 2L - $"tiey")))
          * 1e4 + 0.5) / 1e4).as("tau_b"))
      .orderBy($"lang")
  }

  override def queries: Map[String, (SparkSession, String) => DataFrame] =
    Map(
      "q313_kruskal_wallis"  -> (qKruskalWallis _),
      "q336_anova_f"         -> (qAnovaF _),
      "q352_welch_t"         -> (qWelchT _),
      "q339_g_test"          -> (qGTest _),
      "q341_levene_bf"       -> (qLeveneBf _),
      "q343_grouped_folds"   -> (qGroupedFolds _),
      "q314_kendall_tau"     -> (qKendallTau _),
      "q294_mann_whitney"    -> (qMannWhitney _),
      "q295_spearman"        -> (qSpearman _),
      "q300_ridge_gram"      -> (qRidgeGram _),
      "q302_wasserstein"     -> (qWasserstein _),
      "q205_weighted_quantiles" -> (qWeightedQuantiles _),
      "q207_chi_square"      -> (qChiSquare _),
      "q211_bitmap_overlap"  -> (qBitmapOverlap _),
      "q286_quantile_digest" -> (qQuantileDigest _),
      "q288_t_closeness"     -> (qTCloseness _),
      "q191_dp_release"      -> (qDpRelease _),
      "q195_mg_heavy_hitters" -> (qMgHeavyHitters _),
      "q169_k_anonymity"     -> (qKAnonymity _),
      "q225_l_diversity"     -> (qLDiversity _),
      "q231_neyman_alloc"    -> (qNeymanAlloc _),
      "q244_feature_corr"    -> (qFeatureCorr _),
      "q250_box_cox"         -> (qBoxCox _),
      "q266_hill_tail"       -> (qHillTail _),
      "q268_source_datasheet" -> (qSourceDatasheet _),
      "q180_filter_ablation" -> (qFilterAblation _),
      "q183_lorenz_gini"     -> (qLorenzGini _),
      "q127_winsorize"       -> (qWinsorize _),
      "q105_epoch_shuffle"   -> (qEpochShuffle _),
      "q106_domain_split"    -> (qDomainSplit _),
      "q108_weighted_reservoir" -> (qWeightedReservoir _),
      "q46_gopher_rules"     -> (qGopherRules _),
      "q63_source_mixing"    -> (qSourceMixing _),
      "q47_sequence_pack"    -> (qSequencePack _),
      "q269_pad_packing"     -> (qPadPacking _),
      "q271_poisson_bootstrap" -> (qPoissonBootstrap _),
      "q279_mixture_plan"    -> (qMixturePlan _),
      "q276_matched_corpora" -> (qMatchedCorpora _),
      "q48_embed_quantize"   -> (qEmbedQuantize _),
      "q49_approx_distinct"  -> (qApproxDistinct _),
      "q141_sketch_rollup"   -> (qSketchRollup _),
      "q147_kmv_overlap"     -> (qKmvOverlap _),
      "q58_length_quantiles" -> (qLengthQuantiles _),
      "q59_train_split"      -> (qTrainSplit _),
      "q70_stratified_sample" -> (qStratifiedSample _),
      "q73_quantile_sketch"  -> (qQuantileSketch _),
      "q81_length_deciles"   -> (qLengthDeciles _),
      "q84_token_budget"     -> (qTokenBudget _),
      "q88_temperature_mix"  -> (qTemperatureMix _),
      "q328_repetition_value" -> (qRepetitionValue _),
      "q90_cms_heavy_hitters" -> (qCmsHeavyHitters _),
      "q98_dataset_card"     -> (qDatasetCard _),
      "q102_epoch_sample"    -> (qEpochSample _),
    )

  override def oracleSql: Map[String, String] = Map(
    // q300: identical moment casts, identical cofactor/solve tree.
    "q300_ridge_gram" ->
      s"""WITH b AS (
        |  SELECT CAST(len(str_split(text, ' ')) AS BIGINT) AS x1,
        |    CAST(len(list_distinct(str_split(text, ' '))) AS BIGINT) AS x2,
        |    n_chars AS y
        |  FROM documents),
        |m AS (
        |  SELECT CAST(count(*) AS BIGINT) AS nl,
        |    CAST(count(*) AS DOUBLE) AS n,
        |    CAST(sum(x1) AS DOUBLE) AS s1,
        |    CAST(sum(x2) AS DOUBLE) AS s2,
        |    CAST(sum(x1 * x1) AS DOUBLE) AS s11,
        |    CAST(sum(x1 * x2) AS DOUBLE) AS s12,
        |    CAST(sum(x2 * x2) AS DOUBLE) AS s22,
        |    CAST(sum(y) AS DOUBLE) AS sy,
        |    CAST(sum(x1 * y) AS DOUBLE) AS s1y,
        |    CAST(sum(x2 * y) AS DOUBLE) AS s2y,
        |    CAST(sum(y * y) AS DOUBLE) AS syy
        |  FROM b),
        |k AS (
        |  SELECT *, n + $RidgeLambda AS a11, s11 + $RidgeLambda AS a22,
        |    s22 + $RidgeLambda AS a33 FROM m),
        |dt AS (
        |  SELECT *,
        |    a11 * (a22 * a33 - s12 * s12)
        |      - s1 * (s1 * a33 - s12 * s2)
        |      + s2 * (s1 * s12 - a22 * s2) AS det
        |  FROM k),
        |w AS (
        |  SELECT *,
        |    ((a22 * a33 - s12 * s12) * sy
        |      + (s2 * s12 - s1 * a33) * s1y
        |      + (s1 * s12 - s2 * a22) * s2y) / det AS w0,
        |    ((s2 * s12 - s1 * a33) * sy
        |      + (a11 * a33 - s2 * s2) * s1y
        |      + (s2 * s1 - a11 * s12) * s2y) / det AS w1,
        |    ((s1 * s12 - s2 * a22) * sy
        |      + (s2 * s1 - a11 * s12) * s1y
        |      + (a11 * a22 - s1 * s1) * s2y) / det AS w2
        |  FROM dt),
        |e AS (
        |  SELECT *,
        |    syy - 2.0 * (w0 * sy + w1 * s1y + w2 * s2y)
        |      + (w0 * w0 * n + w1 * w1 * s11 + w2 * w2 * s22
        |        + 2.0 * (w0 * w1 * s1 + w0 * w2 * s2
        |          + w1 * w2 * s12)) AS sse,
        |    syy - sy * sy / n AS sst
        |  FROM w)
        |SELECT nl AS n,
        |  floor(w0 * 1e4 + 0.5) / 1e4 AS w0,
        |  floor(w1 * 1e4 + 0.5) / 1e4 AS w1,
        |  floor(w2 * 1e4 + 0.5) / 1e4 AS w2,
        |  floor((1.0 - sse / sst) * 1e4 + 0.5) / 1e4 AS r2
        |FROM e""".stripMargin,
    "q302_wasserstein" ->
      """WITH pick AS (
        |  SELECT min(source) AS src_a, max(source) AS src_b FROM documents
        |  HAVING min(source) < max(source)),
        |two AS (
        |  SELECT d.source, d.n_chars, p.src_a, p.src_b
        |  FROM documents d CROSS JOIN pick p
        |  WHERE d.source = p.src_a OR d.source = p.src_b),
        |grid AS (
        |  SELECT src_a, src_b, n_chars,
        |    CAST(sum(CASE WHEN source = src_a THEN 1 ELSE 0 END) AS BIGINT) AS c1,
        |    CAST(sum(CASE WHEN source = src_b THEN 1 ELSE 0 END) AS BIGINT) AS c2
        |  FROM two GROUP BY 1, 2, 3),
        |tot AS (
        |  SELECT CAST(sum(c1) AS BIGINT) AS n1,
        |    CAST(sum(c2) AS BIGINT) AS n2 FROM grid),
        |g AS (
        |  SELECT *,
        |    sum(c1) OVER (ORDER BY n_chars) AS f1c,
        |    sum(c2) OVER (ORDER BY n_chars) AS f2c,
        |    CAST(lead(n_chars, 1) OVER (ORDER BY n_chars) - n_chars
        |      AS DOUBLE) AS gap
        |  FROM grid)
        |SELECT src_a, src_b, n1, n2,
        |  floor(sum(abs(f1c / n1 - f2c / n2) * coalesce(gap, 0.0))
        |    * 1e4 + 0.5) / 1e4 AS w1_dist
        |FROM g CROSS JOIN tot
        |GROUP BY src_a, src_b, n1, n2""".stripMargin,
    // q339: same contingency grid as q207, the ln-sum folded in
    // (lang, source)-sorted order like the engine
    "q339_g_test" ->
      """WITH cells AS (
        |  SELECT lang, source, CAST(count(*) AS BIGINT) AS o
        |  FROM documents GROUP BY lang, source),
        |g AS (
        |  SELECT lang, source, o,
        |    sum(o) OVER (PARTITION BY lang) AS rt,
        |    sum(o) OVER (PARTITION BY source) AS ct,
        |    sum(o) OVER () AS n
        |  FROM cells),
        |dims AS (
        |  SELECT CAST(count(DISTINCT lang) AS BIGINT) AS r,
        |    CAST(count(DISTINCT source) AS BIGINT) AS c
        |  FROM cells),
        |cs AS (
        |  SELECT CAST(max(n) AS BIGINT) AS n_docs,
        |    list({'lang': lang, 'source': source,
        |      'o': CAST(o AS DOUBLE), 'rt': CAST(rt AS DOUBLE),
        |      'ct': CAST(ct AS DOUBLE), 'n': CAST(n AS DOUBLE)}
        |      ORDER BY lang, source) AS cs
        |  FROM g)
        |SELECT n_docs,
        |  floor(2.0 * list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list_transform(cs, el ->
        |        el.o * ln(el.o / (el.rt * el.ct / el.n)))),
        |      (acc, x) -> acc + x) * 1e4 + 0.5) / 1e4 AS g_stat,
        |  (r - 1) * (c - 1) AS df
        |FROM cs CROSS JOIN dims""".stripMargin,
    // q343: same snake deal over the mass-ranked sources
    "q343_grouped_folds" ->
      s"""WITH mass AS (
        |  SELECT source,
        |    CAST(sum(len(str_split(text, ' '))) AS BIGINT) AS tokens
        |  FROM documents GROUP BY source),
        |idx AS (
        |  SELECT source, tokens,
        |    CAST(row_number() OVER (ORDER BY tokens DESC, source)
        |      - 1 AS BIGINT) AS i
        |  FROM mass),
        |folds AS (
        |  SELECT source, tokens,
        |    CASE WHEN (i // $FoldK) % 2 = 0 THEN i % $FoldK
        |      ELSE ${FoldK - 1} - i % $FoldK END AS fold
        |  FROM idx),
        |tot AS (SELECT sum(tokens) AS tot FROM folds)
        |SELECT fold, CAST(count(*) AS BIGINT) AS n_sources,
        |  CAST(sum(tokens) AS BIGINT) AS tokens,
        |  floor(sum(tokens) * 1e4 / tot + 0.5) / 1e4 AS token_share
        |FROM folds CROSS JOIN tot
        |GROUP BY fold, tot ORDER BY fold""".stripMargin,
    // q341: Brown–Forsythe = q336's ANOVA on |2x − 2·median| (exact
    // integers; F scale-invariant). DuckDB's quantile_cont interpolates
    // the even-count median exactly like Spark's percentile.
    "q341_levene_bf" ->
      """WITH b AS (
        |  SELECT source, CAST(n_chars AS BIGINT) AS x0 FROM documents),
        |med AS (
        |  SELECT source,
        |    CAST(quantile_cont(x0, 0.5) * 2.0 AS BIGINT) AS m2
        |  FROM b GROUP BY source),
        |z AS (
        |  SELECT b.source, abs(b.x0 * 2 - med.m2) AS x
        |  FROM b JOIN med USING (source)),
        |per AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS nj,
        |    CAST(sum(CAST(x AS BIGINT)) AS BIGINT) AS sjl,
        |    sum(CAST(x AS HUGEINT) * x) AS qjh
        |  FROM z GROUP BY source),
        |gs AS (
        |  SELECT list({'source': source, 'nj': nj,
        |    'sj': CAST(sjl AS DOUBLE), 'qj': CAST(qjh AS DOUBLE)}
        |    ORDER BY source) AS gs FROM per),
        |a AS (
        |  SELECT CAST(len(gs) AS BIGINT) AS k,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(gs, g -> g.nj)), (a, x) -> a + x) AS n,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list_transform(gs, g -> g.sj)), (a, x) -> a + x) AS s,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list_transform(gs, g -> g.qj)), (a, x) -> a + x) AS q,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list_transform(gs, g -> g.sj * g.sj / g.nj)),
        |      (a, x) -> a + x) AS rterm
        |  FROM gs)
        |SELECT coalesce(k, 0) AS n_groups, n AS n_docs,
        |  round(((rterm - s * s / n)
        |      / nullif(CAST(k - 1 AS DOUBLE), 0.0))
        |    / nullif((q - rterm) / nullif(CAST(n - k AS DOUBLE), 0.0),
        |      0.0), 4) + 0.0 AS bf_stat,
        |  -- flag compares the ROUNDED statistic (the engine flags off
        |  -- its published f_stat) so a boundary F can't split engines
        |  coalesce(round(((rterm - s * s / n)
        |      / nullif(CAST(k - 1 AS DOUBLE), 0.0))
        |    / nullif((q - rterm) / nullif(CAST(n - k AS DOUBLE), 0.0),
        |      0.0), 4) + 0.0 > 2.0, FALSE) AS flagged
        |FROM a""".stripMargin,
    // q352: Welch from the same exact-integer moments (vm on the 1e-6
    // grid; Σvm² in HUGEINT, matching the engine's decimal(38,0));
    // every guard mirrors the engine's when(...) as CASE/nullif, and
    // DuckDB's natural NULL-on-/0 covers the n=0 paths the engine
    // nulls via a NULL numerator
    "q352_welch_t" ->
      """WITH b AS (
        |  SELECT event_type,
        |    CAST(floor(value * 1e6 + 0.5) AS BIGINT) AS vm
        |  FROM events WHERE event_type IN ('click', 'purchase')),
        |m AS (
        |  SELECT
        |    CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n1,
        |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
        |      END) AS BIGINT) AS n2,
        |    CAST(sum(CASE WHEN event_type = 'click' THEN vm ELSE 0
        |      END) AS DOUBLE) AS s1,
        |    CAST(sum(CASE WHEN event_type = 'purchase' THEN vm ELSE 0
        |      END) AS DOUBLE) AS s2,
        |    CAST(sum(CASE WHEN event_type = 'click'
        |      THEN CAST(vm AS HUGEINT) * vm
        |      ELSE 0 END) AS DOUBLE) AS q1,
        |    CAST(sum(CASE WHEN event_type = 'purchase'
        |      THEN CAST(vm AS HUGEINT) * vm
        |      ELSE 0 END) AS DOUBLE) AS q2
        |  FROM b),
        |v AS (
        |  SELECT *,
        |    (q1 - s1 * s1 / nullif(n1, 0))
        |      / (CASE WHEN n1 > 1 THEN n1 - 1 END) AS v1,
        |    (q2 - s2 * s2 / nullif(n2, 0))
        |      / (CASE WHEN n2 > 1 THEN n2 - 1 END) AS v2
        |  FROM m),
        |e AS (SELECT *, v1 / n1 AS se1, v2 / n2 AS se2 FROM v)
        |SELECT n1, n2,
        |  round(s1 / nullif(n1, 0) / 1e6, 4) + 0.0 AS mean_click,
        |  round(s2 / nullif(n2, 0) / 1e6, 4) + 0.0 AS mean_purchase,
        |  round((s1 / nullif(n1, 0) - s2 / nullif(n2, 0))
        |    / nullif(sqrt(se1 + se2), 0.0), 4) + 0.0 AS t_stat,
        |  round((se1 + se2) * (se1 + se2) /
        |    (CASE WHEN n1 > 1 AND n2 > 1 AND (se1 <> 0.0 OR se2 <> 0.0)
        |     THEN se1 * se1 / (n1 - 1) + se2 * se2 / (n2 - 1) END), 4)
        |    + 0.0 AS df_welch
        |FROM e""".stripMargin,
    // q336: ANOVA from the same sorted-group-fold discipline as q313;
    // every divisor nullif'd so the degenerate cases agree with the
    // engine's when-guards
    "q336_anova_f" ->
      """WITH per AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS nj,
        |    CAST(sum(CAST(n_chars AS BIGINT)) AS BIGINT) AS sjl,
        |    sum(CAST(n_chars AS HUGEINT) * n_chars) AS qjh
        |  FROM documents GROUP BY source),
        |gs AS (
        |  SELECT list({'source': source, 'nj': nj,
        |    'sj': CAST(sjl AS DOUBLE), 'qj': CAST(qjh AS DOUBLE)}
        |    ORDER BY source) AS gs FROM per),
        |a AS (
        |  SELECT CAST(len(gs) AS BIGINT) AS k,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(gs, g -> g.nj)), (a, x) -> a + x) AS n,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list_transform(gs, g -> g.sj)), (a, x) -> a + x) AS s,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list_transform(gs, g -> g.qj)), (a, x) -> a + x) AS q,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list_transform(gs, g -> g.sj * g.sj / g.nj)),
        |      (a, x) -> a + x) AS rterm
        |  FROM gs)
        |SELECT coalesce(k, 0) AS n_groups, n AS n_docs,
        |  round(rterm - s * s / n, 4) + 0.0 AS ss_between,
        |  round(q - rterm, 4) + 0.0 AS ss_within,
        |  round(((rterm - s * s / n)
        |      / nullif(CAST(k - 1 AS DOUBLE), 0.0))
        |    / nullif((q - rterm) / nullif(CAST(n - k AS DOUBLE), 0.0),
        |      0.0), 4) + 0.0 AS f_stat,
        |  round((rterm - s * s / n)
        |    / nullif(rterm - s * s / n + q - rterm, 0.0), 4) + 0.0
        |    AS eta_sq
        |FROM a""".stripMargin,
    "q313_kruskal_wallis" ->
      """WITH cells AS (
        |  SELECT source, n_chars, CAST(count(*) AS BIGINT) AS c
        |  FROM documents GROUP BY 1, 2),
        |vals AS (
        |  SELECT n_chars, CAST(sum(c) AS BIGINT) AS ct
        |  FROM cells GROUP BY 1),
        |ranked AS (
        |  SELECT n_chars, ct,
        |    CAST(sum(ct) OVER (ORDER BY n_chars) AS BIGINT) AS cum
        |  FROM vals),
        |persrc AS (
        |  SELECT source, CAST(sum(c) AS BIGINT) AS nj,
        |    CAST(sum(c * (2 * r.cum - r.ct + 1)) AS BIGINT) AS rj2
        |  FROM cells JOIN ranked r ON cells.n_chars = r.n_chars
        |  GROUP BY source),
        |gs AS (
        |  SELECT list({'source': source, 'nj': nj, 'rj2': rj2}
        |    ORDER BY source) AS gs FROM persrc),
        |agg AS (
        |  SELECT CAST(len(gs) AS BIGINT) AS n_groups,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(gs, g -> g.nj)), (a, x) -> a + x) AS n,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list_transform(gs, g ->
        |        CAST(g.rj2 AS DOUBLE) * g.rj2 / (4.0 * g.nj))),
        |      (a, x) -> a + x) AS rterm
        |  FROM gs),
        |ties AS (
        |  SELECT CAST(sum(ct * ct * ct - ct) AS DOUBLE) AS tsum
        |  FROM ranked)
        |SELECT coalesce(n_groups, 0) AS n_groups, n,
        |  floor((12.0 / (n * (n + 1)) * rterm - 3.0 * (n + 1))
        |    * 1e4 + 0.5) / 1e4 AS h,
        |  floor((12.0 / (n * (n + 1)) * rterm - 3.0 * (n + 1))
        |    / (1.0 - tsum / (CAST(n AS DOUBLE) * n * n - n))
        |    * 1e4 + 0.5) / 1e4 AS h_tie_corrected
        |FROM agg CROSS JOIN ties""".stripMargin,
    "q314_kendall_tau" ->
      """WITH b AS (
        |  SELECT lang, CAST(n_chars AS BIGINT) AS x,
        |    CAST(len(str_split(text, ' ')) AS BIGINT) AS y
        |  FROM documents),
        |cells AS (
        |  SELECT lang, x, y, CAST(count(*) AS BIGINT) AS c
        |  FROM b GROUP BY 1, 2, 3),
        |cd AS (
        |  SELECT a.lang,
        |    CAST(sum(CASE WHEN sign(a.x - p.x) * sign(a.y - p.y) > 0
        |      THEN a.c * p.c ELSE 0 END) AS BIGINT) AS nc,
        |    CAST(sum(CASE WHEN sign(a.x - p.x) * sign(a.y - p.y) < 0
        |      THEN a.c * p.c ELSE 0 END) AS BIGINT) AS nd
        |  FROM cells a JOIN cells p
        |    ON a.lang = p.lang AND (a.x, a.y) < (p.x, p.y)
        |  GROUP BY a.lang),
        |n AS (SELECT lang, CAST(sum(c) AS BIGINT) AS n FROM cells
        |  GROUP BY lang),
        |tx AS (
        |  SELECT lang, CAST(sum(t * (t - 1) // 2) AS BIGINT) AS tiex
        |  FROM (SELECT lang, x, sum(c) AS t FROM cells GROUP BY 1, 2)
        |  GROUP BY lang),
        |ty AS (
        |  SELECT lang, CAST(sum(t * (t - 1) // 2) AS BIGINT) AS tiey
        |  FROM (SELECT lang, y, sum(c) AS t FROM cells GROUP BY 1, 2)
        |  GROUP BY lang)
        |SELECT n.lang, n.n AS n_docs,
        |  CAST(coalesce(cd.nc, 0) AS BIGINT) AS n_conc,
        |  CAST(coalesce(cd.nd, 0) AS BIGINT) AS n_disc,
        |  floor((coalesce(cd.nc, 0) - coalesce(cd.nd, 0))
        |    / sqrt(CAST(n.n * (n.n - 1) // 2 - tx.tiex AS DOUBLE)
        |      * (n.n * (n.n - 1) // 2 - ty.tiey))
        |    * 1e4 + 0.5) / 1e4 AS tau_b
        |FROM n LEFT JOIN cd ON n.lang = cd.lang
        |JOIN tx ON n.lang = tx.lang JOIN ty ON n.lang = ty.lang
        |ORDER BY n.lang""".stripMargin,
    "q294_mann_whitney" ->
      """WITH pick AS (
        |  SELECT min(source) AS src_a, max(source) AS src_b FROM documents
        |  HAVING min(source) < max(source)),
        |two AS (
        |  SELECT d.source, d.n_chars, p.src_a, p.src_b
        |  FROM documents d CROSS JOIN pick p
        |  WHERE d.source = p.src_a OR d.source = p.src_b),
        |grid AS (
        |  SELECT src_a, src_b, n_chars,
        |    CAST(sum(CASE WHEN source = src_a THEN 1 ELSE 0 END) AS BIGINT) AS c1,
        |    CAST(sum(CASE WHEN source = src_b THEN 1 ELSE 0 END) AS BIGINT) AS c2
        |  FROM two GROUP BY 1, 2, 3),
        |g2 AS (SELECT *, c1 + c2 AS c FROM grid),
        |rk AS (SELECT *, sum(c) OVER (ORDER BY n_chars) AS cum FROM g2),
        |r2 AS (SELECT *, cum - c + (c + 1) / 2.0 AS avg_rk FROM rk),
        |agg AS (
        |  SELECT src_a, src_b,
        |    CAST(sum(c1) AS BIGINT) AS n1, CAST(sum(c2) AS BIGINT) AS n2,
        |    sum(c1 * avg_rk) AS r1,
        |    CAST(sum(c * c * c - c) AS DOUBLE) AS ties
        |  FROM r2 GROUP BY 1, 2)
        |SELECT src_a, src_b, n1, n2,
        |  floor((r1 - n1 * (n1 + 1) / 2.0) * 1e4 + 0.5) / 1e4 AS u1,
        |  floor(
        |    (r1 - n1 * (n1 + 1) / 2.0 - n1 * n2 / 2.0) /
        |    sqrt(n1 * n2 / 12.0 *
        |      ((n1 + n2 + 1) - ties / ((n1 + n2) * (n1 + n2 - 1))))
        |    * 1e4 + 0.5) / 1e4 AS z
        |FROM agg ORDER BY src_a""".stripMargin,
    "q295_spearman" ->
      """WITH b AS (
        |  SELECT source, CAST(n_chars AS DOUBLE) AS x,
        |    CAST(len(str_split(text, ' ')) AS DOUBLE) AS y
        |  FROM documents),
        |r AS (
        |  SELECT source,
        |    rank() OVER (PARTITION BY source ORDER BY x)
        |      + (count(*) OVER (PARTITION BY source, x) - 1) / 2.0 AS rx,
        |    rank() OVER (PARTITION BY source ORDER BY y)
        |      + (count(*) OVER (PARTITION BY source, y) - 1) / 2.0 AS ry
        |  FROM b)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  floor(corr(rx, ry) * 1e4 + 0.5) / 1e4 AS rho
        |FROM r GROUP BY source ORDER BY source""".stripMargin,
    // q288: same cell rollup, grid cross, and TV arithmetic
    "q288_t_closeness" ->
      """WITH cell AS (
        |  SELECT source, n_chars // 100 AS len_band, lang,
        |    count(*) AS c
        |  FROM documents GROUP BY 1, 2, 3),
        |grp AS (
        |  SELECT source, len_band, CAST(sum(c) AS BIGINT) AS n
        |  FROM cell GROUP BY 1, 2),
        |gmarg AS (SELECT lang, sum(c) AS g FROM cell GROUP BY 1),
        |tot AS (SELECT sum(g) AS n_total FROM gmarg),
        |grid AS (
        |  SELECT grp.source, grp.len_band, grp.n, gmarg.lang, gmarg.g,
        |    tot.n_total
        |  FROM grp CROSS JOIN gmarg CROSS JOIN tot),
        |j AS (
        |  SELECT gr.source, gr.len_band, gr.n,
        |    coalesce(cell.c, 0) / CAST(gr.n AS DOUBLE) AS p,
        |    gr.g / CAST(gr.n_total AS DOUBLE) AS q
        |  FROM grid gr LEFT JOIN cell
        |    ON gr.source = cell.source AND gr.len_band = cell.len_band
        |    AND gr.lang = cell.lang),
        |agg AS (
        |  SELECT source, len_band, n,
        |    round(sum(abs(p - q)) / 2, 4) AS t_emd
        |  FROM j GROUP BY 1, 2, 3)
        |SELECT source, len_band, n, t_emd, t_emd > 0.2 AS exceeds
        |FROM agg ORDER BY source, len_band""".stripMargin,
    // q286: the whole digest is integer bit arithmetic, so the oracle
    // replays it exactly — bucket ids, merge, rank walk, decode
    "q286_quantile_digest" ->
      """WITH d AS (
        |  SELECT source, lang, n_chars,
        |    CASE WHEN n_chars < 32 THEN n_chars
        |         ELSE 32 + (length(bin(n_chars)) - 6) * 16
        |              + (n_chars >> (length(bin(n_chars)) - 5)) - 16
        |    END AS bucket
        |  FROM documents),
        |l1 AS (
        |  SELECT source, lang, bucket, count(*) AS cnt
        |  FROM d GROUP BY 1, 2, 3),
        |dg AS (
        |  SELECT source, bucket, sum(cnt) AS cnt FROM l1 GROUP BY 1, 2),
        |cum AS (
        |  SELECT source, bucket,
        |    sum(cnt) OVER (PARTITION BY source ORDER BY bucket
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM dg),
        |tot AS (
        |  SELECT source, sum(cnt) AS n,
        |    CAST(count(*) AS BIGINT) AS n_buckets
        |  FROM dg GROUP BY 1),
        |tg AS (
        |  SELECT source, n, n_buckets, pct, (pct * n + 99) // 100 AS rank
        |  FROM tot CROSS JOIN (SELECT unnest([50, 95, 99]) AS pct)),
        |est AS (
        |  SELECT c.source, t.pct, t.n_buckets, min(c.bucket) AS bucket
        |  FROM cum c JOIN tg t ON c.source = t.source AND c.cum >= t.rank
        |  GROUP BY 1, 2, 3),
        |dec AS (
        |  SELECT source, pct, n_buckets, bucket,
        |    CASE WHEN bucket < 32 THEN bucket
        |         ELSE ((bucket - 32) % 16 + 16)
        |              * (1 << ((bucket - 32) // 16 + 1))
        |              + (1 << ((bucket - 32) // 16))
        |    END AS est_len,
        |    CASE WHEN bucket < 32 THEN 1
        |         ELSE (1 << ((bucket - 32) // 16 + 1)) END AS width
        |  FROM est),
        |ex AS (
        |  SELECT source, n_chars, count(*) AS c FROM d GROUP BY 1, 2),
        |excum AS (
        |  SELECT source, n_chars,
        |    sum(c) OVER (PARTITION BY source ORDER BY n_chars
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM ex),
        |exact AS (
        |  SELECT e.source, t.pct, min(e.n_chars) AS exact_len
        |  FROM excum e JOIN tg t ON e.source = t.source
        |    AND e.cum >= t.rank
        |  GROUP BY 1, 2)
        |SELECT d2.source, d2.pct, d2.bucket, d2.est_len, x.exact_len,
        |  round(abs(d2.est_len - x.exact_len)
        |    / CAST(x.exact_len AS DOUBLE), 4) AS rel_err,
        |  (abs(d2.est_len - x.exact_len) * 2 <= d2.width) AS in_bucket,
        |  d2.n_buckets
        |FROM dec d2 JOIN exact x
        |  ON d2.source = x.source AND d2.pct = x.pct
        |ORDER BY d2.source, d2.pct""".stripMargin,
    // q211: the engine computes overlaps from bitmap popcounts; the
    // oracle recomputes them from exact distinct-user joins — equality
    // proves the whole bitmap path (build, OR-merge, AND popcount)
    "q211_bitmap_overlap" ->
      """WITH u AS (
        |  SELECT DISTINCT event_type, user_id FROM events),
        |n AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n
        |  FROM u GROUP BY event_type),
        |x AS (
        |  SELECT a.event_type AS type_a, b.event_type AS type_b,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM u a JOIN u b
        |    ON a.user_id = b.user_id AND a.event_type < b.event_type
        |  GROUP BY 1, 2),
        |grid AS (
        |  SELECT na.event_type AS type_a, nb.event_type AS type_b,
        |    na.n AS n_a, nb.n AS n_b
        |  FROM n na JOIN n nb ON na.event_type < nb.event_type)
        |SELECT g.type_a, g.type_b, g.n_a, g.n_b,
        |  coalesce(x.c, 0) AS n_common,
        |  round(coalesce(x.c, 0)
        |    / CAST(g.n_a + g.n_b - coalesce(x.c, 0) AS DOUBLE), 4)
        |    AS jaccard
        |FROM grid g LEFT JOIN x
        |  ON x.type_a = g.type_a AND x.type_b = g.type_b
        |ORDER BY g.type_a, g.type_b""".stripMargin,
    "q205_weighted_quantiles" ->
      """WITH per AS (
        |  SELECT lang, n_chars,
        |    CAST(sum(len(str_split(text, ' '))) AS BIGINT) AS w
        |  FROM documents GROUP BY lang, n_chars),
        |g AS (
        |  SELECT lang, n_chars, w,
        |    sum(w) OVER (PARTITION BY lang ORDER BY n_chars
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
        |    sum(w) OVER (PARTITION BY lang) AS tw
        |  FROM per),
        |med AS (
        |  SELECT lang, min(n_chars) AS w_median_len
        |  FROM g WHERE cw * 2 >= tw GROUP BY lang),
        |p90 AS (
        |  SELECT lang, min(n_chars) AS w_p90_len
        |  FROM g WHERE cw * 10 >= tw * 9 GROUP BY lang),
        |tot AS (
        |  SELECT lang, CAST(sum(w) AS BIGINT) AS total_tokens
        |  FROM per GROUP BY lang)
        |SELECT lang, total_tokens, w_median_len, w_p90_len
        |FROM tot JOIN med USING (lang) JOIN p90 USING (lang)
        |ORDER BY lang""".stripMargin,
    "q207_chi_square" ->
      """WITH cells AS (
        |  SELECT lang, source, CAST(count(*) AS BIGINT) AS o
        |  FROM documents GROUP BY 1, 2),
        |g AS (
        |  SELECT o,
        |    sum(o) OVER (PARTITION BY lang) AS rt,
        |    sum(o) OVER (PARTITION BY source) AS ct,
        |    sum(o) OVER () AS n
        |  FROM cells),
        |dims AS (
        |  SELECT CAST(count(DISTINCT lang) AS BIGINT) AS r,
        |    CAST(count(DISTINCT source) AS BIGINT) AS c
        |  FROM cells),
        |agg AS (
        |  SELECT CAST(max(n) AS BIGINT) AS n_docs,
        |    sum((o - rt * ct / CAST(n AS DOUBLE))
        |      * (o - rt * ct / CAST(n AS DOUBLE))
        |      / (rt * ct / CAST(n AS DOUBLE))) AS chi2raw
        |  FROM g)
        |SELECT n_docs, round(chi2raw, 4) AS chi2,
        |  (r - 1) * (c - 1) AS df,
        |  round(sqrt(chi2raw / (n_docs * least(r - 1, c - 1))), 4)
        |    AS cramers_v
        |FROM agg CROSS JOIN dims""".stripMargin,
    // q195: the oracle replays only the THEOREM side — exact counts,
    // threshold test, and literal TRUE flags (the sketch guarantees
    // them for any partitioning; MgSpec proves the flags really come
    // from a sketch and hold under forced repartitionings).
    "q195_mg_heavy_hitters" ->
      """WITH t AS (
        |  SELECT unnest(str_split(text, ' ')) AS term FROM documents),
        |exact AS (
        |  SELECT term, CAST(count(*) AS BIGINT) AS c_true
        |  FROM t GROUP BY term),
        |tot AS (
        |  SELECT CAST(sum(c_true) AS BIGINT) AS n_tokens FROM exact)
        |SELECT term, c_true, n_tokens,
        |  TRUE AS in_sketch, TRUE AS within_bound
        |FROM exact CROSS JOIN tot
        |WHERE c_true * 33 > n_tokens
        |ORDER BY term""".stripMargin,
    "q191_dp_release" ->
      """WITH cells AS (
        |  SELECT lang, source, CAST(count(*) AS BIGINT) AS n_true
        |  FROM documents GROUP BY lang, source),
        |noisy AS (
        |  SELECT lang, source, n_true,
        |    ('0x' || substr(md5('dp:' || lang || '|' || source),
        |      1, 6))::BIGINT / 16777216.0 AS u
        |  FROM cells)
        |SELECT lang, source, n_true,
        |  round(n_true + round(-1.0 * sign(u - 0.5)
        |    * ln(1.0 - 2.0 * abs(u - 0.5)), 4), 4) AS n_released,
        |  round(-1.0 * sign(u - 0.5)
        |    * ln(1.0 - 2.0 * abs(u - 0.5)), 4) AS noise,
        |  1.0 AS epsilon
        |FROM noisy ORDER BY lang, source""".stripMargin,
    "q183_lorenz_gini" -> {
      val cutCols = (1 to 9).map(i =>
        s"quantile_cont(n_chars, ${i / 10.0}) AS c$i").mkString(", ")
      val decile = (1 to 9).map(i =>
        s"(CASE WHEN n_chars > c$i THEN 1 ELSE 0 END)").mkString(" + ")
      s"""WITH d AS (SELECT doc_id, n_chars FROM documents),
        |cuts AS (SELECT $cutCols FROM d),
        |dec AS (
        |  SELECT CAST($decile + 1 AS INTEGER) AS decile, n_chars
        |  FROM d CROSS JOIN cuts),
        |per AS (
        |  SELECT decile, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(n_chars) AS BIGINT) AS chars
        |  FROM dec GROUP BY decile),
        |tot AS (
        |  SELECT CAST(sum(n_docs) AS BIGINT) AS td,
        |    CAST(sum(chars) AS BIGINT) AS tc FROM per),
        |shares AS (
        |  SELECT decile, n_docs,
        |    round(sum(n_docs) OVER (ORDER BY decile
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      / CAST(td AS DOUBLE), 4) AS cum_doc_share,
        |    round(sum(chars) OVER (ORDER BY decile
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      / CAST(tc AS DOUBLE), 4) AS cum_char_share
        |  FROM per CROSS JOIN tot),
        |terms AS (
        |  SELECT *,
        |    (cum_doc_share - coalesce(lag(cum_doc_share)
        |        OVER (ORDER BY decile), 0.0))
        |      * (cum_char_share + coalesce(lag(cum_char_share)
        |        OVER (ORDER BY decile), 0.0)) AS gterm
        |  FROM shares)
        |SELECT decile, n_docs, cum_doc_share, cum_char_share,
        |  round(1.0 - sum(gterm) OVER (ORDER BY decile
        |    ROWS BETWEEN UNBOUNDED PRECEDING
        |    AND UNBOUNDED FOLLOWING), 4) AS gini
        |FROM terms ORDER BY decile""".stripMargin
    },
    "q180_filter_ablation" -> {
      val stops = TextOps.stopwordsSqlList
      s"""WITH b AS (
        |  SELECT doc_id,
        |    round((1.0 - len(list_filter(str_split(text, ' '), t -> t IN $stops))
        |      / CAST(len(str_split(text, ' ')) AS DOUBLE))
        |     * least(1.0, len(str_split(text, ' ')) / 100.0), 4) AS q,
        |    len(str_split(text, ' ')) AS nt,
        |    md5(text) AS fp
        |  FROM documents),
        |g AS (
        |  SELECT q >= 0.5 AS g_quality, nt >= 50 AS g_len,
        |    doc_id = min(doc_id) OVER (PARTITION BY fp) AS g_uniq
        |  FROM b),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS total FROM g)
        |SELECT g_quality, g_len, g_uniq, CAST(count(*) AS BIGINT) AS n,
        |  round(count(*) / CAST(total AS DOUBLE), 4) AS share
        |FROM g CROSS JOIN tot
        |GROUP BY g_quality, g_len, g_uniq, total
        |ORDER BY g_quality, g_len, g_uniq""".stripMargin
    },
    "q169_k_anonymity" ->
      s"""SELECT lang, source, n_chars // 100 AS len_band,
        |  CAST(count(*) AS BIGINT) AS n,
        |  count(*) < $KAnonK AS at_risk
        |FROM documents
        |GROUP BY lang, source, n_chars // 100
        |ORDER BY lang, source, len_band""".stripMargin,
    "q268_source_datasheet" -> {
      val stop16 = graft.operators.ScoringQueries.stop16Sql
      s"""WITH f AS (
        |  SELECT doc_id, source, lang,
        |    CAST(len(str_split(text, ' ')) AS DOUBLE) AS n_words,
        |    str_split(text, ' ') AS tk, text, md5(text) AS fp
        |  FROM documents),
        |sc AS (
        |  SELECT doc_id, source, lang, CAST(n_words AS BIGINT)
        |      AS n_tokens, fp,
        |    1.0 / (1.0 + exp(-(${ScoringQueries.zExprSql("n_words",
            "tk", "text", stop16)}))) AS score
        |  FROM f),
        |dup AS (
        |  SELECT source, CAST(sum(c - 1) AS BIGINT) AS n_dups FROM (
        |    SELECT source, fp, count(*) AS c FROM sc
        |    GROUP BY source, fp)
        |  GROUP BY source),
        |le AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n_langs,
        |    ln(CAST(sum(cl) AS DOUBLE))
        |      - sum(cl * ln(CAST(cl AS DOUBLE))) / sum(cl)
        |      AS lang_entropy
        |  FROM (
        |    SELECT source, lang, count(*) AS cl FROM sc
        |    GROUP BY source, lang)
        |  GROUP BY source)
        |SELECT sc.source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(sc.n_tokens) AS BIGINT) AS n_tokens,
        |  round(avg(sc.score), 4) AS mean_quality,
        |  max(dup.n_dups) AS n_dups,
        |  round(max(dup.n_dups) / CAST(count(*) AS DOUBLE), 4)
        |    AS dup_rate,
        |  max(le.n_langs) AS n_langs,
        |  round(max(le.lang_entropy), 4) + 0.0 AS lang_entropy
        |FROM sc
        |JOIN dup ON dup.source = sc.source
        |JOIN le ON le.source = sc.source
        |GROUP BY sc.source ORDER BY sc.source""".stripMargin
    },
    "q266_hill_tail" ->
      """WITH top AS (
        |  SELECT doc_id, n_chars, row_number() OVER (
        |    ORDER BY n_chars DESC, doc_id ASC) AS rk
        |  FROM documents),
        |xk1 AS (
        |  SELECT CAST(n_chars AS DOUBLE) AS x_k1 FROM top
        |  WHERE rk = 51)
        |SELECT CAST(count(*) AS BIGINT) AS k,
        |  max(CASE WHEN rk = 1 THEN n_chars END) AS x_max,
        |  CAST(max(x_k1) AS BIGINT) AS x_k1,
        |  round(count(*) / sum(ln(CAST(n_chars AS DOUBLE) / x_k1)), 4)
        |    AS alpha_hill,
        |  (count(*) / sum(ln(CAST(n_chars AS DOUBLE) / x_k1)) > 2.0)
        |    AS finite_variance
        |FROM top CROSS JOIN xk1 WHERE rk <= 50
        |HAVING count(*) = 50""".stripMargin,
    "q250_box_cox" -> {
      val lambdas = Seq(-1.0, -0.5, 0.0, 0.5, 1.0)
      def ySql(l: Double): String =
        if (l == 0.0) "ln(x)" else s"(pow(x, $l) - 1) / $l"
      val vCols = lambdas.zipWithIndex.map { case (l, i) =>
        s"var_pop(${ySql(l)}) AS v$i" }.mkString(",\n|    ")
      val rowSel = lambdas.zipWithIndex.map { case (l, i) =>
        s"SELECT $l AS lambda, n, -0.5 * n * ln(nullif(v$i, 0.0)) + ($l - 1.0) * slnx AS ll FROM agg"
      }.mkString("\n|  UNION ALL ")
      s"""WITH base AS (
        |  SELECT CAST(n_chars AS DOUBLE) AS x FROM documents
        |  WHERE n_chars > 0),
        |agg AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n, sum(ln(x)) AS slnx,
        |    $vCols
        |  FROM base),
        |rows AS (
        |  $rowSel),
        |best AS (SELECT max(round(ll, 4)) AS best_ll FROM rows)
        |SELECT lambda, round(ll, 4) + 0.0 AS log_lik,
        |  coalesce(round(ll, 4) = best_ll, FALSE) AS selected
        |FROM rows CROSS JOIN best ORDER BY lambda""".stripMargin
    },
    "q244_feature_corr" ->
      """WITH f AS (
        |  SELECT CAST(n_chars AS DOUBLE) AS fc,
        |    CAST(len(str_split(text, ' ')) AS DOUBLE) AS fw,
        |    list_sum(list_transform(str_split(text, ' '),
        |      t -> CAST(length(t) AS DOUBLE)))
        |      / len(str_split(text, ' ')) AS fm
        |  FROM documents)
        |SELECT CAST(count(*) AS BIGINT) AS n,
        |  round(corr(fc, fw), 4) + 0.0 AS r_chars_words,
        |  round(corr(fc, fm), 4) + 0.0 AS r_chars_wlen,
        |  round(corr(fw, fm), 4) + 0.0 AS r_words_wlen
        |FROM f""".stripMargin,
    "q231_neyman_alloc" ->
      """WITH strata AS (
        |  SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |    stddev_samp(CAST(n_chars AS DOUBLE)) AS sd
        |  FROM documents GROUP BY lang),
        |tot AS (
        |  SELECT CAST(sum(n_docs) AS DOUBLE) AS n_total,
        |    sum(n_docs * sd) AS nsd_total
        |  FROM strata)
        |SELECT lang, n_docs, round(sd, 4) AS sd,
        |  round(n_docs * sd / nsd_total, 4) AS neyman_share,
        |  round(0.10 * n_total * (n_docs * sd / nsd_total), 4)
        |    AS n_neyman,
        |  round(0.10 * n_docs, 4) AS n_proportional
        |FROM strata CROSS JOIN tot
        |ORDER BY lang""".stripMargin,
    "q225_l_diversity" ->
      s"""SELECT source, n_chars // 100 AS len_band,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
        |  count(DISTINCT lang) >= $LDiversityL AS diverse
        |FROM documents
        |GROUP BY source, n_chars // 100
        |ORDER BY source, len_band""".stripMargin,
    // q147: the FULL estimator replays — md5 hashes, per-type k-minimum
    // sketches, union-sketch algebra — so the estimates themselves
    // hash-match; double arithmetic is written in the same association
    // order on both engines (IEEE ops are deterministic given identical
    // operand order)
    "q147_kmv_overlap" ->
      """WITH du AS (SELECT DISTINCT event_type, user_id FROM events),
        |hs AS (
        |  SELECT DISTINCT event_type,
        |    ('0x' || substr(md5('kmv:' || CAST(user_id AS VARCHAR)), 1, 12))
        |      ::BIGINT AS h
        |  FROM du),
        |sk AS (
        |  SELECT event_type, h FROM (
        |    SELECT event_type, h,
        |      row_number() OVER (PARTITION BY event_type ORDER BY h) AS rk
        |    FROM hs)
        |  WHERE rk <= 256),
        |types AS (SELECT DISTINCT event_type FROM sk),
        |pairs AS (
        |  SELECT a.event_type AS ta, b.event_type AS tb
        |  FROM types a, types b WHERE a.event_type < b.event_type),
        |tagged AS (
        |  SELECT ta, tb, h FROM pairs JOIN sk
        |    ON sk.event_type = ta OR sk.event_type = tb),
        |contrib AS (
        |  SELECT ta, tb, h, count(*) AS sides
        |  FROM tagged GROUP BY 1, 2, 3),
        |usk AS (
        |  SELECT * FROM (
        |    SELECT ta, tb, h, sides,
        |      row_number() OVER (PARTITION BY ta, tb ORDER BY h) AS rk
        |    FROM contrib)
        |  WHERE rk <= 256),
        |stats AS (
        |  SELECT ta, tb, count(*) AS ku, max(h) AS theta,
        |    CAST(sum(CASE WHEN sides = 2 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS common
        |  FROM usk GROUP BY 1, 2),
        |exact AS (
        |  SELECT x.event_type AS ta, y.event_type AS tb,
        |    count(*) AS exact_overlap
        |  FROM du x JOIN du y
        |    ON x.user_id = y.user_id AND x.event_type < y.event_type
        |  GROUP BY 1, 2)
        |SELECT ta, tb, exact_overlap, common,
        |  round((CAST(common AS DOUBLE) / ku) *
        |    (CASE WHEN ku < 256 THEN CAST(ku AS DOUBLE)
        |          ELSE (ku - 1) * 281474976710656.0 / theta END), 1)
        |    AS est_overlap,
        |  round(abs((CAST(common AS DOUBLE) / ku) *
        |    (CASE WHEN ku < 256 THEN CAST(ku AS DOUBLE)
        |          ELSE (ku - 1) * 281474976710656.0 / theta END)
        |    - exact_overlap) / exact_overlap, 4) AS rel_err
        |FROM stats JOIN exact USING (ta, tb) ORDER BY ta, tb""".stripMargin,
    "q105_epoch_shuffle" ->
      """WITH h AS (
        |  SELECT doc_id,
        |    md5('shuf:' || CAST(doc_id AS VARCHAR)) AS h
        |  FROM documents),
        |b AS (
        |  SELECT doc_id,
        |    CAST(('0x' || substr(h, 1, 6))::BIGINT % 32 AS INTEGER)
        |      AS shard,
        |    substr(h, 7, 10) AS ord
        |  FROM h)
        |SELECT doc_id, shard,
        |  CAST(row_number() OVER (PARTITION BY shard ORDER BY ord, doc_id)
        |    AS INTEGER) AS pos
        |FROM b ORDER BY shard, pos""".stripMargin,
    "q106_domain_split" ->
      """SELECT doc_id, source,
        |  CASE
        |    WHEN ('0x' || substr(md5('ds:' || source), 1, 6))::BIGINT
        |      / 16777216.0 < 0.8 THEN 'train'
        |    WHEN ('0x' || substr(md5('ds:' || source), 1, 6))::BIGINT
        |      / 16777216.0 < 0.9 THEN 'val'
        |    ELSE 'test' END AS split
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q108_weighted_reservoir" ->
      """WITH k AS (
        |  SELECT doc_id, lang,
        |    ln((('0x' || substr(md5('wr:' || CAST(doc_id AS VARCHAR)),
        |          1, 6))::BIGINT + 1.0) / 16777216.0)
        |      / greatest(n_chars, 1) AS key
        |  FROM documents),
        |r AS (
        |  SELECT lang, doc_id,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY key DESC, doc_id) AS rk
        |  FROM k)
        |SELECT lang, CAST(rk AS INTEGER) AS rk, doc_id
        |FROM r WHERE rk <= 5
        |ORDER BY lang, rk""".stripMargin,
    // q84's oracle is the NAIVE form — a single per-source cumsum. The
    // engine's two-phase distributed prefix sum must reproduce it
    // row-for-row (bucket order extends rank-key order, so
    // offset + local cumsum = global cumsum).
    "q84_token_budget" ->
      """WITH base AS (
        |  SELECT doc_id, source,
        |    CAST(len(str_split(text, ' ')) AS BIGINT) AS n_tokens,
        |    md5('tb:' || CAST(doc_id AS VARCHAR)) AS rk
        |  FROM documents),
        |cum AS (
        |  SELECT doc_id, source, n_tokens,
        |    CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY rk
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS cum_tokens
        |  FROM base)
        |SELECT doc_id, source, n_tokens, cum_tokens
        |FROM cum WHERE cum_tokens <= 700
        |ORDER BY source, cum_tokens""".stripMargin,
    "q46_gopher_rules" -> {
      val stop8 = Stop8.map(w => s"'$w'").mkString("[", ", ", "]")
      s"""WITH t AS (
        |  SELECT doc_id, lang, str_split(text, ' ') AS tk, text
        |  FROM documents)
        |SELECT doc_id, lang,
        |  CAST(len(tk) AS BIGINT) AS n_words,
        |  round(list_sum(list_transform(tk, x -> CAST(length(x) AS DOUBLE)))
        |    / len(tk), 4) AS mean_wlen,
        |  CAST(len(list_intersect(list_distinct(tk), $stop8)) AS BIGINT)
        |    AS stop_hits,
        |  round(CAST(len(regexp_extract_all(text, '#')) +
        |    len(regexp_extract_all(text, '\\.\\.\\.')) AS DOUBLE)
        |    / len(tk), 4) AS symbol_ratio,
        |  (len(tk) BETWEEN 50 AND 100000
        |    AND round(list_sum(list_transform(tk,
        |      x -> CAST(length(x) AS DOUBLE))) / len(tk), 4)
        |      BETWEEN 3.0 AND 10.0
        |    AND round(CAST(len(regexp_extract_all(text, '#')) +
        |      len(regexp_extract_all(text, '\\.\\.\\.')) AS DOUBLE)
        |      / len(tk), 4) <= 0.1
        |    AND len(list_intersect(list_distinct(tk), $stop8)) >= 2)
        |    AS passes
        |FROM t ORDER BY doc_id""".stripMargin
    },
    "q48_embed_quantize" ->
      """WITH v AS (
        |  SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |s AS (
        |  SELECT vec_id, v,
        |    127.0 / list_max(list_transform(v, x -> abs(x))) AS scale
        |  FROM v
        |  WHERE list_max(list_transform(v, x -> abs(x))) > 0)
        |SELECT vec_id,
        |  round(scale, 4) AS scale_r,
        |  CAST(list_sum(list_transform(v, x -> floor(x * scale + 0.5)))
        |    AS BIGINT) AS q_checksum,
        |  round(list_max(list_transform(v,
        |    x -> abs(x - floor(x * scale + 0.5) / scale))), 4) AS max_err
        |FROM s ORDER BY vec_id""".stripMargin,
    // q141: DuckDB has no two-level sketch union, so its half of the
    // each-engine-judges-its-own-sketch convention runs single-level
    // HLL over the same rows; the hard oracled facts are n_buckets and
    // exact_parts, plus both sketches meeting the 5% bound.
    "q141_sketch_rollup" ->
      """SELECT l_returnflag,
        |  CAST(count(DISTINCT date_trunc('month', l_shipdate)) AS BIGINT)
        |    AS n_buckets,
        |  CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
        |  (abs(CAST(approx_count_distinct(l_partkey) AS DOUBLE)
        |      - count(DISTINCT l_partkey))
        |    / count(DISTINCT l_partkey) <= 0.05) AS merge_ok
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    "q49_approx_distinct" ->
      """SELECT l_returnflag,
        |  CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
        |  (abs(CAST(approx_count_distinct(l_partkey) AS DOUBLE)
        |      - count(DISTINCT l_partkey))
        |    / count(DISTINCT l_partkey) <= 0.05) AS sketch_ok
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    "q47_sequence_pack" ->
      """WITH t AS (
        |  SELECT doc_id, lang,
        |    CAST(len(str_split(text, ' ')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, lang, n_tokens,
        |    sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
        |      ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM t)
        |SELECT lang,
        |  CAST(floor((cum - n_tokens) / 2048) AS BIGINT) AS seq_id,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens
        |FROM c GROUP BY lang, seq_id
        |ORDER BY lang, seq_id""".stripMargin,
    "q70_stratified_sample" ->
      """WITH ranked AS (
        |  SELECT lang, doc_id,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY md5('smpl' || CAST(doc_id AS VARCHAR)), doc_id)
        |      AS rk
        |  FROM documents)
        |SELECT lang, CAST(rk AS INTEGER) AS rk, doc_id
        |FROM ranked WHERE rk <= 3 ORDER BY lang, rk""".stripMargin,
    "q59_train_split" ->
      """WITH s AS (
        |  SELECT lang,
        |    CASE WHEN doc_id % 10 < 8 THEN 'train'
        |         WHEN doc_id % 10 = 8 THEN 'val'
        |         ELSE 'test' END AS split
        |  FROM documents),
        |g AS (
        |  SELECT lang, split, CAST(count(*) AS BIGINT) AS n_docs
        |  FROM s GROUP BY lang, split)
        |SELECT lang, split, n_docs,
        |  round(CAST(n_docs AS DOUBLE) /
        |    sum(n_docs) OVER (PARTITION BY lang), 4) AS share
        |FROM g ORDER BY lang, split""".stripMargin,
    // q102's oracle computes the closed form of the repetition count —
    // the engine's explode-and-count must land on exactly the same rows
    "q102_epoch_sample" ->
      """WITH g AS (
        |  SELECT lang, CAST(sum(len(str_split(text, ' '))) AS BIGINT)
        |    AS n_tokens
        |  FROM documents GROUP BY lang),
        |sh AS (
        |  SELECT lang,
        |    CAST(n_tokens AS DOUBLE) / sum(n_tokens) OVER () AS share
        |  FROM g),
        |p AS (
        |  SELECT lang, share,
        |    power(share, 0.3) / sum(power(share, 0.3)) OVER () AS p_temp
        |  FROM sh),
        |b AS (SELECT lang, round(p_temp / share, 4) AS boost FROM p),
        |c AS (
        |  SELECT d.doc_id, d.lang,
        |    CAST(floor(b.boost) +
        |      (CASE WHEN ('0x' || substr(md5('es:' ||
        |          CAST(d.doc_id AS VARCHAR)), 1, 6))::BIGINT / 16777216.0
        |        < b.boost - floor(b.boost) THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_copies
        |  FROM documents d JOIN b USING (lang))
        |SELECT doc_id, lang, n_copies FROM c
        |WHERE n_copies > 0 ORDER BY doc_id""".stripMargin,
    "q98_dataset_card" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(len(str_split(text, ' '))) AS BIGINT) AS n_tokens,
        |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
        |  CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
        |  round(avg(len(str_split(text, ' '))), 4) AS mean_tokens,
        |  round(avg(CASE WHEN regexp_matches(text, '^[\x00-\x7f]*$')
        |    THEN 1.0 ELSE 0.0 END), 4) AS ascii_share
        |FROM documents""".stripMargin,
    // q90's oracle states the CMS guarantee (cms_ok TRUE) as fact and
    // verifies the exact counts; if the engine's sketch ever violates
    // its bound the hash compare fails on the verdict column.
    "q90_cms_heavy_hitters" ->
      """WITH toks AS (
        |  SELECT unnest(str_split(text, ' ')) AS term FROM documents),
        |stats AS (
        |  SELECT term, CAST(count(*) AS BIGINT) AS exact_cnt
        |  FROM toks GROUP BY term),
        |top AS (
        |  SELECT term, exact_cnt,
        |    row_number() OVER (ORDER BY exact_cnt DESC, term) AS rk
        |  FROM stats)
        |SELECT term, exact_cnt, TRUE AS cms_ok
        |FROM top WHERE rk <= 20
        |ORDER BY exact_cnt DESC, term""".stripMargin,
    "q328_repetition_value" ->
      s"""WITH l AS (
        |  SELECT lang,
        |    CAST(sum(len(str_split(text, ' '))) AS BIGINT) AS u
        |  FROM documents GROUP BY lang),
        |sh AS (
        |  SELECT lang, u,
        |    CAST(u AS DOUBLE) / sum(u) OVER () AS share_raw,
        |    CAST(sum(u) OVER () AS BIGINT) AS tu
        |  FROM l),
        |p AS (
        |  SELECT lang, u, tu,
        |    power(share_raw, $RvAlpha)
        |      / sum(power(share_raw, $RvAlpha)) OVER () AS p_temp
        |  FROM sh),
        |b AS (
        |  SELECT lang, u, p_temp * $RvBudgetX * tu AS budget FROM p),
        |e AS (
        |  SELECT lang, u, budget, budget / u AS epochs,
        |    greatest(budget / u - 1.0, 0.0) AS reps
        |  FROM b),
        |f AS (
        |  SELECT *, u * (1.0 + $RvRStar
        |    * (1.0 - exp(-reps / $RvRStar))) AS eff
        |  FROM e)
        |SELECT lang, u AS unique_tokens,
        |  CAST(floor(budget + 0.5) AS BIGINT) AS budget_tokens,
        |  floor(epochs * 1e4 + 0.5) / 1e4 AS epochs,
        |  CAST(floor(least(eff, budget) + 0.5) AS BIGINT)
        |    AS effective_tokens,
        |  floor(least(eff, budget) / budget * 1e4 + 0.5) / 1e4
        |    AS utilization
        |FROM f ORDER BY lang""".stripMargin,
    "q88_temperature_mix" ->
      """WITH g AS (
        |  SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(len(str_split(text, ' '))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY lang),
        |sh AS (
        |  SELECT lang, n_docs, n_tokens,
        |    CAST(n_tokens AS DOUBLE) / sum(n_tokens) OVER () AS share
        |  FROM g),
        |p AS (
        |  SELECT lang, n_docs, n_tokens, share,
        |    power(share, 0.3) / sum(power(share, 0.3)) OVER () AS p_temp
        |  FROM sh)
        |SELECT lang, n_docs, n_tokens,
        |  round(share, 4) AS share,
        |  round(p_temp, 4) AS p_temp,
        |  round(p_temp / share, 4) AS boost
        |FROM p ORDER BY lang""".stripMargin,
    "q63_source_mixing" ->
      """WITH g AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(len(str_split(text, ' '))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY source)
        |SELECT source, n_docs, n_tokens,
        |  round(CAST(n_tokens AS DOUBLE) / sum(n_tokens) OVER (), 4)
        |    AS share,
        |  round(least(1.0,
        |    (1.0 / count(*) OVER ()) /
        |    (CAST(n_tokens AS DOUBLE) / sum(n_tokens) OVER ())), 4)
        |    AS sample_rate
        |FROM g ORDER BY source""".stripMargin,
    "q81_length_deciles" ->
      """WITH d AS (
        |  SELECT doc_id, lang, n_chars,
        |    ntile(10) OVER (PARTITION BY lang
        |      ORDER BY n_chars, doc_id) AS decile
        |  FROM documents)
        |SELECT lang, CAST(decile AS INTEGER) AS decile,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  min(n_chars) AS min_chars,
        |  max(n_chars) AS max_chars
        |FROM d GROUP BY lang, decile
        |ORDER BY lang, decile""".stripMargin,
    // each engine judges its OWN sketch (Spark GK, DuckDB t-digest);
    // the compared claims are the exact quantiles and both verdicts
    "q73_quantile_sketch" ->
      """SELECT lang,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  round(quantile_cont(n_chars, 0.5), 4) AS exact_p50,
        |  round(quantile_cont(n_chars, 0.99), 4) AS exact_p99,
        |  (abs(approx_quantile(n_chars, 0.5)
        |      - round(quantile_cont(n_chars, 0.5), 4))
        |    / round(quantile_cont(n_chars, 0.5), 4) <= 0.05)
        |    AS sketch_ok_p50,
        |  (abs(approx_quantile(n_chars, 0.99)
        |      - round(quantile_cont(n_chars, 0.99), 4))
        |    / round(quantile_cont(n_chars, 0.99), 4) <= 0.05)
        |    AS sketch_ok_p99
        |FROM documents GROUP BY lang
        |ORDER BY lang""".stripMargin,
    // q276: the oracle ranks with one naive per-lang window — equality
    // with the engine's bucket-offset distributed rank is the proof
    "q276_matched_corpora" ->
      """WITH d AS (
        |  SELECT doc_id, lang, n_chars FROM documents
        |  WHERE lang IN ('en', 'de')),
        |r AS (
        |  SELECT lang, n_chars,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY n_chars, doc_id) AS r
        |  FROM d),
        |sz AS (
        |  SELECT
        |    max(CASE WHEN lang = 'en' THEN n END) AS n_en,
        |    max(CASE WHEN lang = 'de' THEN n END) AS n_de,
        |    least(max(CASE WHEN lang = 'en' THEN n END),
        |          max(CASE WHEN lang = 'de' THEN n END)) AS slots
        |  FROM (SELECT lang, count(*) AS n FROM d GROUP BY lang)),
        |sl AS (
        |  SELECT lang, slots,
        |    ((r - 1) * slots) // (CASE WHEN lang = 'en' THEN n_en
        |                               ELSE n_de END) AS slot,
        |    min(n_chars) AS rep_len
        |  FROM r CROSS JOIN sz
        |  GROUP BY 1, 2, 3),
        |p AS (
        |  SELECT a.slot, a.slots, a.rep_len AS len_en,
        |    b.rep_len AS len_de
        |  FROM (SELECT slot, slots, rep_len FROM sl WHERE lang = 'en') a
        |  JOIN (SELECT slot, rep_len FROM sl WHERE lang = 'de') b
        |    USING (slot))
        |SELECT (slot * 10) // slots AS decile,
        |  CAST(count(*) AS BIGINT) AS n_pairs,
        |  round(avg(len_en), 4) AS mean_len_en,
        |  round(avg(len_de), 4) AS mean_len_de,
        |  round(avg(abs(len_en - len_de)), 4) AS mean_abs_gap
        |FROM p GROUP BY 1 ORDER BY decile""".stripMargin,
    // q271: one-pass Poisson bootstrap — the oracle replays the same
    // md5-uniform → literal inverse-CDF weights, exact integer replicate
    // sums, and the 32-replicate variance formula
    "q279_mixture_plan" -> {
      def rnd(prev: String, i: Int): String =
        s"""s$i AS (
          |  SELECT sum(greatest(need - cap, 0.0)) AS surplus,
          |    sum(CASE WHEN need < cap THEN w ELSE 0.0 END) AS u
          |  FROM $prev),
          |r$i AS (
          |  SELECT source, n_tokens, w, cap,
          |    least(need, cap) + CASE WHEN need < cap AND u > 0
          |      THEN surplus * w / u ELSE 0.0 END AS need
          |  FROM $prev CROSS JOIN s$i)""".stripMargin
      s"""WITH n AS (
        |  SELECT source,
        |    CAST(sum(len(str_split(text, ' '))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY source),
        |w0 AS (
        |  SELECT source, n_tokens,
        |    sqrt(CAST(n_tokens AS DOUBLE)) AS wr FROM n),
        |tw AS (
        |  SELECT sum(wr) AS zw, CAST(sum(n_tokens) AS DOUBLE) AS tt
        |  FROM w0),
        |r0 AS (
        |  -- CAST the cap factor: bare 1.05 is DECIMAL in DuckDB
        |  -- (exact) while Spark computes long × double — the two cap
        |  -- doubles would differ by ULPs and the exact `capped`
        |  -- comparison could flip at the boundary
        |  SELECT source, n_tokens, wr / zw AS w,
        |    n_tokens * CAST($MixEpochCap AS DOUBLE) AS cap,
        |    wr / zw * tt AS need
        |  FROM w0 CROSS JOIN tw),
        |${(1 to MixRounds).map(i => rnd(s"r${i - 1}", i)).mkString(",\n|")}
        |SELECT source, n_tokens, round(w, 4) AS w_target,
        |  round(cap, 2) AS cap_tokens,
        |  round(least(need, cap), 2) AS alloc_tokens,
        |  round(least(need, cap) / n_tokens, 4) AS epochs,
        |  need >= cap AS capped
        |FROM r$MixRounds ORDER BY source""".stripMargin
    },
    "q271_poisson_bootstrap" ->
      """WITH u AS (
        |  SELECT doc_id, source, n_chars, r,
        |    ('0x' || substr(md5('bs:' || CAST(r AS VARCHAR) || ':'
        |        || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
        |      / 4294967296.0 AS u
        |  FROM documents CROSS JOIN (SELECT unnest(range(0, 32)) AS r)),
        |wts AS (
        |  SELECT source, r, n_chars,
        |    CASE
        |      WHEN u < 0.36787944117144233 THEN 0
        |      WHEN u < 0.7357588823428847 THEN 1
        |      WHEN u < 0.9196986029286058 THEN 2
        |      WHEN u < 0.9810118431238463 THEN 3
        |      WHEN u < 0.9963401531726563 THEN 4
        |      WHEN u < 0.9994058151824183 THEN 5
        |      WHEN u < 0.999916758850712 THEN 6
        |      WHEN u < 0.9999897508033253 THEN 7
        |      ELSE 8 END AS w
        |  FROM u),
        |reps AS (
        |  SELECT source, r, CAST(sum(w * n_chars) AS BIGINT) AS sx,
        |    CAST(sum(w) AS BIGINT) AS sw
        |  FROM wts GROUP BY source, r),
        |m AS (SELECT source, CAST(sx AS DOUBLE) / nullif(sw, 0) AS m
        |      FROM reps),
        |boot AS (
        |  SELECT source,
        |    CASE WHEN count(m) > 1 THEN
        |      sqrt((sum(m * m) - sum(m) * sum(m) / count(m))
        |        / (count(m) - 1)) END AS se
        |  FROM m GROUP BY source),
        |pt AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(n_chars) AS DOUBLE) / count(*) AS mu
        |  FROM documents GROUP BY source)
        |SELECT source, n_docs, round(mu, 4) AS mean_chars,
        |  round(se, 4) AS boot_se,
        |  round(mu - 1.96 * se, 4) AS ci_lo,
        |  round(mu + 1.96 * se, 4) AS ci_hi
        |FROM pt JOIN boot USING (source)
        |ORDER BY source""".stripMargin,
    // q269: the oracle replays the shard-local next-fit-decreasing fold
    // one row per recursion step — state (bin_id, fill) advances along
    // the same (eff DESC, doc_id) order the engine secondary-sorts by
    "q269_pad_packing" ->
      """WITH RECURSIVE d AS (
        |  SELECT
        |    CAST(('0x' || substr(md5('pp:' || CAST(doc_id AS VARCHAR)),
        |      1, 2)) AS BIGINT) % 8 AS shard,
        |    doc_id,
        |    least(CAST(len(str_split(text, ' ')) AS BIGINT), 512) AS eff
        |  FROM documents),
        |o AS (
        |  SELECT shard, doc_id, eff,
        |    row_number() OVER (PARTITION BY shard
        |      ORDER BY eff DESC, doc_id) AS rn
        |  FROM d),
        |f AS (
        |  SELECT shard, rn, doc_id, eff,
        |    CAST(0 AS BIGINT) AS bin_id, eff AS fill
        |  FROM o WHERE rn = 1
        |  UNION ALL
        |  SELECT n.shard, n.rn, n.doc_id, n.eff,
        |    CASE WHEN f.fill + n.eff <= 512 THEN f.bin_id
        |         ELSE f.bin_id + 1 END,
        |    CASE WHEN f.fill + n.eff <= 512 THEN f.fill + n.eff
        |         ELSE n.eff END
        |  FROM f JOIN o n ON n.shard = f.shard AND n.rn = f.rn + 1)
        |SELECT shard, bin_id, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(eff) AS BIGINT) AS used_tokens,
        |  CAST(512 - sum(eff) AS BIGINT) AS pad_tokens
        |FROM f GROUP BY shard, bin_id
        |ORDER BY shard, bin_id""".stripMargin,
    "q58_length_quantiles" ->
      """SELECT lang,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  round(quantile_cont(n_chars, 0.5), 4) AS p50,
        |  round(quantile_cont(n_chars, 0.9), 4) AS p90,
        |  round(quantile_cont(n_chars, 0.99), 4) AS p99
        |FROM documents GROUP BY lang
        |ORDER BY lang""".stripMargin,
    "q127_winsorize" ->
      """WITH cuts AS (
        |  SELECT source,
        |    quantile_cont(n_chars, 0.05) AS lo,
        |    quantile_cont(n_chars, 0.95) AS hi
        |  FROM documents GROUP BY source)
        |SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
        |  round(avg(n_chars), 4) AS raw_mean,
        |  round(avg(least(greatest(CAST(n_chars AS DOUBLE), lo), hi)), 4)
        |    AS wins_mean
        |FROM documents d JOIN cuts USING (source)
        |GROUP BY d.source ORDER BY d.source""".stripMargin,
  )
}
