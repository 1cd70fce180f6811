package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.QueryModule
import graft.functions.TextOps
import graft.sources.Tables

/** Text-operator queries over `documents` (SURVEY.md §2: P4, P5, F5,
  * A1-A4 + north-star text analysis: token counting, quality scoring,
  * language-ID heuristic, document fingerprinting).
  *
  * Everything here is pure Catalyst expressions (no UDFs): the full
  * clean→tokenize→filter→bigram chain stays inside WholeStageCodegen and
  * scales embarrassingly parallel — per-document work, no shuffle until
  * the (doc_id, bigram) count aggregation, which shuffles on doc_id+pair
  * with map-side partial aggregation.
  */
object TextQueries extends QueryModule {

  private val cleanSql = TextOps.cleanTextSql

  private val stops = TextOps.stopwordsSqlList

  /** P4: clean_text over documents. */
  def qCleanText(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .select($"doc_id", TextOps.cleanText($"text").as("cleaned"))
      .orderBy($"doc_id")
  }

  /** F5: stopword filter (order- and duplicate-preserving), re-joined to a
    * string for oracle stability. */
  def qStopwordFilter(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .select($"doc_id",
        array_join(TextOps.dropStopwords(TextOps.tokenize($"text")), " ")
          .as("kept"))
      .orderBy($"doc_id")
  }

  /** A1-A4 flagship: the reference's full keyword chain
    * (reddit_consumer.py:139-155) — clean → tokenize → stopword-filter →
    * adjacent unordered bigrams → per-doc count → top-5 (count DESC, pair
    * ASC tie-break; the reference's Counter tie order is insertion-based
    * and unstable, we pin a deterministic order on both engines) →
    * flatten in rank order → order-preserving distinct. */
  /** In-row (zero-shuffle) form: count/rank/flatten happens inside array
    * expressions per document. O(pairs²) per doc AND Catalyst does not CSE
    * across lambda boundaries, so the tokenize chain is replicated ~12× in
    * the physical plan — measured 22× slower than the shuffle form at
    * sf0.1 (112s vs 5s). Kept as the `b` twin for plan comparison only;
    * the shuffle form below is the default. Both give identical output and
    * share the oracle. */
  def qBigramsTopkInRow(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val toks = TextOps.dropStopwords(TextOps.tokenize(TextOps.cleanText($"text")))
    // Staged projections, not one inline expression: `pairs` is referenced
    // many times inside the counting lambda, and CollapseProject declines
    // to inline a non-cheap alias with multiple references — so the
    // tokenize chain runs once per row instead of once per reference
    // (the round-1 inline form replicated it ~12× in the physical plan).
    Tables.documents(s, dir)
      .select($"doc_id", TextOps.adjacentBigrams(toks).as("pairs"))
      .filter(size($"pairs") > 0)
      // array_sort on (nc, a, b) = (count DESC, a ASC, b ASC)
      .select($"doc_id", slice(array_sort(
        transform(array_distinct($"pairs"), u =>
          struct(
            (-size(filter($"pairs", p => p === u))).as("nc"),
            u.getField("a").as("a"), u.getField("b").as("b")))), 1, 5)
        .as("top5"))
      .select($"doc_id", array_join(array_distinct(flatten(
        transform($"top5", t => array(t.getField("a"), t.getField("b"))))), " ")
        .as("keywords"))
      .orderBy($"doc_id")
  }

  /** Default (shuffle) form of the flagship: explode → count-agg → window
    * top-5 → regroup. The (doc_id, pair) partial agg is map-side combined,
    * the window is per-doc (WindowGroupLimit caps it), and per-doc work is
    * spread across the cluster — the plan you want at 100×, and 22× faster
    * than the in-row twin at sf0.1. */
  def qBigramsTopk(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val toks = Tables.documents(s, dir).select($"doc_id",
      TextOps.dropStopwords(TextOps.tokenize(TextOps.cleanText($"text")))
        .as("toks"))
    val pairs = toks
      .select($"doc_id", explode(TextOps.adjacentBigrams($"toks")).as("p"))
      .select($"doc_id", $"p.a".as("a"), $"p.b".as("b"))
    val counts = pairs.groupBy($"doc_id", $"a", $"b")
      .agg(count(lit(1)).as("c"))
    val w = Window.partitionBy($"doc_id")
      .orderBy($"c".desc, $"a".asc, $"b".asc)
    counts.withColumn("rk", row_number().over(w)).filter($"rk" <= 5)
      .groupBy($"doc_id")
      .agg(array_join(array_distinct(flatten(transform(
        array_sort(collect_list(struct($"rk", $"a", $"b"))),
        p => array(p.getField("a"), p.getField("b"))))), " ").as("keywords"))
      .orderBy($"doc_id")
  }

  /** P5: hashtag extraction. The synthetic corpus has no '#', so tag-bearing
    * text is synthesized from columns, then `#(\w+)` findall runs on it. */
  def qHashtags(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val tagged = concat_ws(" ",
      concat(lit("#"), $"lang"), $"text", concat(lit("#"), $"source"))
    Tables.documents(s, dir)
      .select($"doc_id", array_join(TextOps.hashtags(tagged), " ").as("tags"))
      .orderBy($"doc_id")
  }

  /** North-star text analysis: token counting aggregated per language. */
  def qTokenStats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .groupBy($"lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(size(TextOps.tokenize($"text")).cast("long")).as("total_tokens"),
        round(avg($"n_chars"), 4).as("avg_chars"))
      .orderBy($"lang")
  }

  /** North-star quality scoring: stopword ratio × length saturation. */
  def qQualityScore(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val toks = TextOps.tokenize($"text")
    val nToks = size(toks)
    val nStops = size(filter(toks, t => TextOps.isStopword(t)))
    Tables.documents(s, dir)
      .select($"doc_id", nToks.cast("long").as("n_tokens"),
        round(nStops.cast("double") / nToks, 4).as("stop_ratio"),
        round((lit(1.0) - nStops.cast("double") / nToks) *
          least(lit(1.0), nToks.cast("double") / 100.0), 4).as("quality"))
      .orderBy($"doc_id")
  }

  private val langProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "and", "of", "to", "in", "is"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "los"),
    "de" -> Seq("der", "die", "das", "und", "ist", "von", "mit"),
    "fr" -> Seq("le", "la", "les", "de", "et", "un", "est"),
    "zh" -> Seq("的", "是", "了", "在", "我"),
  )

  /** North-star language-ID: marker-word profile scoring, argmax with a
    * fixed profile order, 'und' when no profile matches. */
  def qLangId(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val toks = TextOps.tokenize($"text")
    val scores = langProfiles.map { case (l, words) =>
      l -> size(filter(toks, t => t.isInCollection(words))).cast("long")
    }
    val byName = scores.toMap
    val langs = langProfiles.map(_._1)
    val predicted = langs.foldRight(lit("und")) { (l, els) =>
      val wins = langs.filter(_ != l)
        .map(o => byName(l) >= byName(o))
        .reduce(_ && _)
      when(byName(l) > 0 && wins, lit(l)).otherwise(els)
    }
    Tables.documents(s, dir)
      .select($"doc_id" +: scores.map { case (l, c) => c.as(s"s_$l") }
        :+ predicted.as("predicted"): _*)
      .orderBy($"doc_id")
  }

  /** The q16 argmax-language expression, shared with q170. */
  private def langPredicted: Column = {
    val toks = TextOps.tokenize(col("text"))
    val byName = langProfiles.map { case (l, words) =>
      l -> size(filter(toks, t => t.isInCollection(words))).cast("long")
    }.toMap
    val langs = langProfiles.map(_._1)
    langs.foldRight(lit("und")) { (l, els) =>
      val wins = langs.filter(_ != l)
        .map(o => byName(l) >= byName(o))
        .reduce(_ && _)
      when(byName(l) > 0 && wins, lit(l)).otherwise(els)
    }
  }

  /** Lang-ID confusion matrix (q170): q16's heuristic judged against
    * the corpus' labeled lang — per (true, predicted) cell count,
    * row-normalized share, and a correctness flag. The audit that
    * turns a classifier into a number you can gate releases on (per-
    * language recall is the diagonal share; zh, with no Latin stopword
    * overlap, shows where the heuristic under-covers). Classifier is
    * map-side expression work; the matrix is a |langs|²-bounded
    * partial agg, and the row-normalizing window runs on the matrix. */
  def qLangIdConfusion(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cm = Tables.documents(s, dir)
      .select($"lang", langPredicted.as("predicted"))
      .groupBy($"lang", $"predicted").agg(count(lit(1)).as("n"))
    cm.withColumn("row_share",
        round($"n" / sum($"n").over(Window.partitionBy($"lang"))
          .cast("double"), 4))
      .withColumn("correct", $"lang" === $"predicted")
      .select($"lang", $"predicted", $"n", $"row_share", $"correct")
      .orderBy($"lang", $"predicted")
  }

  /** Code-switching detector (q187): per document, the two strongest
    * language signals from the q16 stopword profiles and a MIXED flag
    * when the runner-up holds ≥ half the winner's hits — the
    * multilingual-cleaning step that catches documents a single-label
    * lang-ID (q16) silently mislabels: code-switched text, bilingual
    * boilerplate, concatenated translations (the rows a per-language
    * pipeline then processes with the wrong stopword/tokenizer
    * config). Map-only expression work; the mixed verdict compares
    * exact integer counts (2·second ≥ top), so no float rides the
    * cross-engine contract. Ranking via the same (negated count,
    * label) struct sort the IVF family uses — ties break to the
    * alphabetically first language on both engines. */
  def qCodeSwitch(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val toks = TextOps.tokenize($"text")
    val arr = array(langProfiles.map { case (l, words) =>
      struct(
        (-size(filter(toks, t => t.isInCollection(words))).cast("long"))
          .as("n"),
        lit(l).as("lang"))
    }: _*)
    val sorted = array_sort(arr)
    val top = element_at(sorted, 1)
    val second = element_at(sorted, 2)
    Tables.documents(s, dir)
      .select($"doc_id", $"lang",
        top.getField("lang").as("top_lang"),
        (-top.getField("n")).as("top_hits"),
        second.getField("lang").as("second_lang"),
        (-second.getField("n")).as("second_hits"))
      .withColumn("mixed",
        $"top_hits" > 0 && $"second_hits" * 2 >= $"top_hits")
      .orderBy($"doc_id")
  }

  /** North-star document fingerprinting: md5 over the normalized token
    * stream + per-fingerprint duplicate count (exact-dup detector). */
  def qFingerprint(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val fp = md5(array_join(
      TextOps.dropStopwords(TextOps.tokenize(TextOps.cleanText($"text"))), " "))
    Tables.documents(s, dir)
      .select($"doc_id", fp.as("fp"))
      .withColumn("n_same", count(lit(1)).over(Window.partitionBy($"fp")))
      .orderBy($"doc_id")
  }

  /** North-star token counting, BPE-ish: letter runs / digit runs /
    * punctuation runs, versus plain whitespace tokens. */
  def qTokenBpe(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .select($"doc_id",
        size(TextOps.tokenize($"text")).cast("long").as("n_ws"),
        size(regexp_extract_all(lower($"text"),
          lit("[a-z]+|[0-9]+|[^a-z0-9\\s]+"), lit(0))).cast("long").as("n_bpe"))
      .orderBy($"doc_id")
  }

  /** North-star document fingerprinting via polynomial rolling hash over
    * the token stream (h ← (31h + ascii(t) + len(t)) mod 2³¹−1) — the
    * order-sensitive cousin of the md5 fingerprint in q17. */
  def qRollingHash(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val vals = transform(TextOps.tokenize($"text"),
      t => (ascii(t) + length(t)).cast("long"))
    val h = aggregate(vals, lit(7L),
      (acc, x) => (acc * 31 + x) % 2147483647L)
    Tables.documents(s, dir)
      .select($"doc_id", h.as("rhash"))
      .orderBy($"doc_id")
  }

  /** North-star PII scrub — detect and mask emails / phone numbers /
    * IPv4 addresses before text reaches a training set. The corpus is
    * synthetic and PII-free, so deterministic PII is planted from
    * columns first (same trick as q13's hashtags), then the regex
    * detectors run. Patterns use the Java∩RE2 common subset so the
    * DuckDB oracle applies them verbatim. Map-only: detection and
    * masking are per-row regexp expressions inside WholeStageCodegen —
    * at 100 TB this is a pure scan-transform with zero shuffles. */
  def qPiiScrub(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
    val phoneRe = "\\b\\d{3}-\\d{3}-\\d{4}\\b"
    val ipRe = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
    val planted = concat(
      lit("contact user"), $"doc_id", lit("@example.com on "),
      when($"doc_id" % 3 === 0,
        concat(lit("555-010-"), lpad(($"doc_id" % 10000).cast("string"), 4, "0")))
        .otherwise(lit("no phone")),
      lit(" from "),
      when($"doc_id" % 4 === 0,
        concat(lit("10.0."), ($"doc_id" % 256).cast("string"), lit(".1")))
        .otherwise(lit("unknown host")),
      lit(" :: "), $"text")
    val masked = regexp_replace(
      regexp_replace(
        regexp_replace(planted, emailRe, "[EMAIL]"),
        phoneRe, "[PHONE]"),
      ipRe, "[IP]")
    Tables.documents(s, dir)
      .select($"doc_id",
        size(regexp_extract_all(planted, lit(emailRe), lit(0)))
          .cast("long").as("n_emails"),
        size(regexp_extract_all(planted, lit(phoneRe), lit(0)))
          .cast("long").as("n_phones"),
        size(regexp_extract_all(planted, lit(ipRe), lit(0)))
          .cast("long").as("n_ips"),
        masked.as("masked"))
      .orderBy($"doc_id")
  }

  /** North-star corpus vocabulary: global top-100 tokens by frequency.
    * The rank filter is the Window idiom with an EMPTY partition spec —
    * TopKWindowRule rewrites it to a single-group bounded-heap aggregate
    * with map-side combine, so the global top-k never globally sorts the
    * vocabulary (the plan that matters when the vocabulary is billions
    * of types). */
  def qVocabTopk(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val toks = Tables.documents(s, dir)
      .select(explode(
        TextOps.dropStopwords(TextOps.tokenize(TextOps.cleanText($"text"))))
        .as("t"))
      .filter($"t" =!= "")
    val counts = toks.groupBy($"t").agg(count(lit(1)).as("c"))
    val w = Window.orderBy($"c".desc, $"t".asc)
    counts.withColumn("rk", row_number().over(w)).filter($"rk" <= 100)
      .select($"rk", $"t", $"c")
      .orderBy($"rk")
  }

  /** Zipf power-law fit (q140): OLS of ln(freq) on ln(rank) over the
    * top-1000 vocabulary — the corpus-health number a dataset card quotes
    * (natural text sits near slope −1; generated/templated text drifts
    * off). One token-count shuffle (map-side combine), a rank window the
    * TopKWindowRule caps at 1000 rows of heap instead of a full vocab
    * sort, then a single-row `regr_*` fold (both engines implement the
    * same closed-form OLS, and the fit runs over ≤1000 points regardless
    * of corpus size — rank-capping is what makes this 100 TB-safe, and
    * is also the statistically standard Zipf fit window). */
  def qZipfFit(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val toks = Tables.documents(s, dir)
      .select(explode(TextOps.tokenize($"text")).as("t"))
      .filter($"t" =!= "")
    val counts = toks.groupBy($"t").agg(count(lit(1)).as("c"))
    val ranked = counts
      .withColumn("rk", row_number().over(Window.orderBy($"c".desc, $"t".asc)))
      .filter($"rk" <= 1000)
    ranked.agg(
      count(lit(1)).cast("long").as("n_vocab"),
      sum($"c").cast("long").as("n_tokens"),
      (round(regr_slope(log($"c"), log($"rk")), 4) + lit(0.0)).as("zipf_slope"),
      (round(regr_intercept(log($"c"), log($"rk")), 4) + lit(0.0))
        .as("zipf_intercept"),
      (round(regr_r2(log($"c"), log($"rk")), 4) + lit(0.0)).as("r2"))
  }

  /** North-star corpus profiling: document-length histogram in 100-char
    * buckets with counts and cumulative share — the distribution chart
    * every dataset card carries. One partial-agg shuffle + one tiny
    * window over |buckets| rows. */
  def qLengthHistogram(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val total = Window.partitionBy(lit(1))
    val cum = Window.partitionBy(lit(1)).orderBy($"bucket")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.documents(s, dir)
      .groupBy(floor($"n_chars" / 100).as("bucket"))
      .agg(count(lit(1)).as("n"))
      .withColumn("cum_share",
        round(sum($"n").over(cum) / sum($"n").over(total), 4))
      .orderBy($"bucket")
  }

  /** Unicode NFC canonicalization over the corpus via the native
    * codegen NfcNormalize expression — the byte-canonicalization step
    * that must run BEFORE any hash-keyed dedup (q30/q32/q33 key on
    * bytes; "é" composed vs decomposed would slip past all of them).
    * Output: normalized fingerprint + whether normalization changed the
    * doc. Map-only; DuckDB's nfc_normalize is the exact counterpart. */
  def qNfcNormalize(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val nfc = graft.plans.NfcNormalize.col($"text")
    Tables.documents(s, dir)
      .select($"doc_id", md5(nfc).as("fp"), (nfc =!= $"text").as("changed"))
      .orderBy($"doc_id")
  }

  /** RAG/embedding-prep chunking: overlapping fixed-length token
    * windows (64 tokens, stride 48 → 16-token overlap), the shape every
    * retrieval index and long-context embedding pipeline feeds its
    * encoder. One row per (doc, chunk) with the chunk's token count and
    * an md5 of its joined text — the downstream embed/encode step maps
    * over exactly this frame. Pure map-side explode (sequence of chunk
    * starts → slice), no shuffle: at 100 TB this runs at scan speed and
    * the ~1.33× row inflation is the only cost. Spark's slice and
    * DuckDB's 1-based inclusive list slicing clamp identically at the
    * tail, so the last partial chunk agrees byte-for-byte. */
  def qChunk(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ChunkLen = 64
    val Stride = 48
    Tables.documents(s, dir)
      .select($"doc_id", split($"text", " ").as("tk"))
      .select($"doc_id", $"tk",
        explode(sequence(lit(0),
          floor((size($"tk") - 1) / Stride).cast("int"))).as("chunk_id"))
      .select($"doc_id", $"chunk_id".cast("long").as("chunk_id"),
        slice($"tk", $"chunk_id" * Stride + 1, lit(ChunkLen)).as("chunk"))
      .select($"doc_id", $"chunk_id",
        size($"chunk").cast("long").as("n_tokens"),
        md5(array_join($"chunk", " ")).as("chunk_md5"))
      .orderBy($"doc_id", $"chunk_id")
  }

  /** BPE merge statistics (q110): the first iteration of byte-pair-
    * encoding tokenizer fitting (Sennrich et al. 2016) — count every
    * adjacent symbol pair across the corpus vocabulary, weighted by word
    * frequency, and emit the top-20 merge candidates. This is the inner
    * loop of training a tokenizer ON the corpus the engine just cleaned
    * (production BPE repeats it per merge on the updated symbol
    * sequences; each round is this same query shape). Scale: pair
    * generation runs over the DISTINCT word frame (|vocab|, not
    * |corpus| — the word groupBy collapses the token stream first), the
    * pair aggregate is char-bigram-sized, and the top-20 goes through
    * the Filter(row_number<=k) idiom that TopKWindowRule rewrites to a
    * bounded heap — no vocabulary-sized sort, no single-partition
    * funnel. */
  def qBpeMergeStats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val words = Tables.documents(s, dir)
      .select(explode(split($"text", " ")).as("w"))
      .filter(length($"w") >= 2)
      .groupBy($"w").agg(count(lit(1)).as("freq"))
    val pairs = words.select($"freq", explode(expr(
      "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))"))
      .as("pair"))
    val byN = org.apache.spark.sql.expressions.Window
      .orderBy($"n".desc, $"pair")
    pairs.groupBy($"pair").agg(sum($"freq").as("n"))
      .withColumn("rk", row_number().over(byN))
      .filter($"rk" <= 20)
      .select($"pair", $"n", $"rk")
      .orderBy($"rk")
  }

  /** The corpus (w, freq) vocabulary frame all BPE queries share. */
  private def bpeVocab(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .select(explode(split($"text", " ")).as("w"))
      .filter(length($"w") >= 2)
      .groupBy($"w").agg(count(lit(1)).as("freq"))
  }

  /** The double-spaced symbol representation " a  b  c " shared by the
    * fit and apply paths (see bpeApply's boundary-safety note). */
  private def spacedSyms(w: Column): Column =
    concat(lit(" "), trim(regexp_replace(w, "(.)", "$1  ")), lit(" "))

  /** TRUE sequential BPE fit (Sennrich et al. 2016): k merges where
    * each iteration recounts adjacent-pair frequencies on the MERGED
    * symbol sequences — unlike q110's single-iteration statistics,
    * merge i+1 sees the tokens merge i created (so e.g. "th"+"e"→"the"
    * can win round 2, which simultaneous top-k can never produce).
    * Returns (rank, left, right, pairCount) driver-side: the merge
    * table is a SMALL ARTIFACT by construction (a real tokenizer ships
    * 32k merges as a file), and the only per-iteration driver traffic
    * is the 1-row argmax — metadata-scale, like q64's iteration
    * convergence check. Scale: every iteration is one partial-agg
    * groupBy over the persisted DISTINCT-word frame (|vocab|, never
    * |corpus|), with iteration i lazily re-applying i-1 literal
    * replaces on top of the persisted base — O(k²·|vocab|) string
    * work total, k=10. */
  private[graft] def bpeFitSeq(vocab: DataFrame, k: Int)
      : Seq[(Int, String, String, Long)] = {
    val s = vocab.sparkSession
    import s.implicits._
    val base = vocab.withColumn("sym", spacedSyms($"w"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      var st = base
      val merges = Seq.newBuilder[(Int, String, String, Long)]
      var done = false
      var i = 1
      while (i <= k && !done) {
        // Fully-merged words collapse to one symbol: `when` guards the
        // sequence() so they contribute no pairs (explode drops nulls)
        // and sequence(1, 0) never runs with its descending default.
        val best = st
          .select($"freq", split(trim($"sym"), "  ").as("l"))
          .select($"freq", explode(when(size($"l") >= 2, expr(
            "transform(sequence(1, size(l) - 1), " +
              "i -> struct(l[i-1] AS a, l[i] AS b))"))).as("p"))
          .groupBy($"p.a".as("a"), $"p.b".as("b"))
          .agg(sum($"freq").as("n"))
          .orderBy($"n".desc, $"a", $"b")
          .limit(1).collect()
        if (best.isEmpty) done = true
        else {
          val (a, b, n) =
            (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
          merges += ((i, a, b, n))
          st = st.withColumn("sym",
            replace($"sym", lit(s" $a  $b "), lit(s" $a$b ")))
          i += 1
        }
      }
      merges.result()
    } finally base.unpersist()
  }

  /** One fit per (session, sf-dir) — q137 emits the table and q132
    * applies it; the memo keeps the 10 iteration jobs from running
    * twice per bench pass. */
  private def fittedMerges(s: SparkSession, dir: String)
      : Seq[(Int, String, String, Long)] =
    SessionCache.value(s, "bpe_merges", dir)(
      bpeFitSeq(bpeVocab(s, dir), 10))

  /** Sequential BPE merge table (q137): the k=10 fit above, as the
    * driver-checkable artifact. Oracle: the same 10 iterations unrolled
    * as chained CTEs (count pairs → 1-row argmax → literal replace),
    * like q92's unrolled pagerank. */
  def qBpeFitSeq(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    fittedMerges(s, dir)
      .map { case (rk, a, b, n) => (rk, a + b, n) }
      .toDF("rk", "pair", "n")
      .orderBy($"rk")
  }

  /** BPE encode (q132): APPLY the fitted merge table — the tokenize
    * step every training pipeline runs after the fit. Each distinct
    * vocabulary word is split to symbols, then q137's 10 SEQUENTIAL
    * merges apply in rank order with boundary-safe alignment (see
    * bpeApply — the Sennrich et al. 2016 apply semantics); output is
    * the resulting subword vocabulary's top-30 by frequency-weighted
    * count. The merge table is collected to the driver and folded into
    * the expression tree as literals — a merge table is a SMALL
    * ARTIFACT by construction, so this is the justified metadata-scale
    * collect, and encoding stays a map-only pass over the DISTINCT
    * vocabulary frame (never the token stream). The oracle replays the
    * sequential fit (chained CTEs) and then the 10 ordered replaces as
    * a recursive CTE walking the rank sequence. */
  /** The BPE apply expression: returns the word's subword-token array
    * after folding the ordered (left, right) merge list through literal
    * replaces. Symbols are joined by TWO spaces with a single space
    * padding each end (" a  b  c "), and a merge (x, y) is
    * " x  y " → " xy ": the single outer spaces align the pattern to
    * symbol boundaries only — it can never match inside a previously
    * merged token — and two adjacent matches each keep their own
    * delimiter, so a run like "aaa" merges left-to-right
    * non-overlapping. This is subword-nmt's lookbehind-guarded apply
    * re-expressed without lookbehind (RE2, the oracle engine's regex
    * dialect, has none). Exposed for the fixture spec pinning these
    * semantics. */
  private[graft] def bpeApply(w: Column,
      merges: Seq[(String, String)]): Column = {
    val folded = merges.foldLeft(spacedSyms(w)) { case (st, (a, b)) =>
      replace(st, lit(s" $a  $b "), lit(s" $a$b "))
    }
    split(trim(folded), "  ")
  }

  def qBpeEncode(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val merges = fittedMerges(s, dir).map { case (_, a, b, _) => (a, b) }
    val byN = Window.orderBy($"n".desc, $"tok")
    bpeVocab(s, dir).withColumn("st", bpeApply($"w", merges))
      .select($"freq", explode($"st").as("tok"))
      .groupBy($"tok").agg(sum($"freq").as("n"))
      .withColumn("rk", row_number().over(byN))
      .filter($"rk" <= 30)
      .select($"rk", $"tok", $"n")
      .orderBy($"rk")
  }

  /** q359's literal WordPiece vocabulary: 20 common English subwords
    * plus the single-letter fallback (every [a-z]+ word encodes with
    * zero UNKs — the char-fallback WordPiece ships with). Candidates
    * try longest-first, ties lexicographic — the ONE ordered list both
    * engines' greedy match is generated from. */
  private val WpMulti = Seq("the", "ing", "ion", "ent", "er", "an",
    "re", "on", "at", "en", "or", "ar", "te", "al", "st", "it", "is",
    "le", "ra", "ri")
  private val WpCands: Seq[String] =
    (WpMulti ++ ('a' to 'z').map(_.toString)).distinct
      .sortBy(p => (-p.length, p))
  private val WpMaxLen = 16

  /** WordPiece encode (q359) — Wu et al. 2016 (the BERT tokenizer):
    * greedy LONGEST-match-first against a fixed vocabulary with
    * `##`-marked continuations — the APPLY semantics that differ from
    * BPE's (q132) ordered-merge replay: BPE applies fit-order merges,
    * WordPiece re-derives the longest prefix at every position, so the
    * two can split the same word differently from the same piece
    * inventory. Runs on the DISTINCT [a-z]+ word frame (q110's
    * discipline — never the token stream); the greedy scan is ONE
    * in-row `aggregate` fold over ≤ 16 steps, each step a
    * longest-first `coalesce` over the literal candidate list — zero
    * shuffles before the final top-30 count (heap-rewritten). Both
    * engines' greedy match is GENERATED from the same `WpCands` list
    * (Spark coalesce chain ≡ SQL CASE chain), so the tie/order rule
    * cannot drift. */
  def qWordpiece(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val words = Tables.documents(s, dir)
      .select(explode(split($"text", " ")).as("w"))
      .filter($"w".rlike("^[a-z]+$") && length($"w") <= WpMaxLen)
      .groupBy($"w").agg(count(lit(1)).as("freq"))
    def pickTok(rem: Column): Column =
      coalesce(WpCands.map(p =>
        when(startswith(rem, lit(p)), lit(p))): _*)
    val enc = aggregate(
      sequence(lit(1), lit(WpMaxLen)),
      struct($"w".as("rem"),
        array().cast("array<string>").as("toks")),
      (st, _) => {
        val rem = st.getField("rem")
        val toks = st.getField("toks")
        val tok = pickTok(rem)
        when(length(rem) === 0, st).otherwise(struct(
          rem.substr(length(tok) + 1, lit(WpMaxLen)).as("rem"),
          concat(toks, array(
            when(size(toks) === 0, tok)
              .otherwise(concat(lit("##"), tok)))).as("toks")))
      },
      st => st.getField("toks"))
    val byN = Window.orderBy($"n".desc, $"tok")
    words.select($"freq", explode(enc).as("tok"))
      .groupBy($"tok").agg(sum($"freq").as("n"))
      .withColumn("rk", row_number().over(byN))
      .filter($"rk" <= 30)
      .select($"rk", $"tok", $"n")
      .orderBy($"rk")
  }

  // ---- unigram-LM tokenizer fit (q370) --------------------------------

  /** q370's shape constants: words [a-z]{2..12} (the distinct-word
    * discipline), pieces up to 4 chars, 32 seeded multi-char pieces
    * beside every present single char, 2 Viterbi-EM rounds. */
  private val UlmMaxWord = 12
  private val UlmMaxPiece = 4
  private val UlmSeedMulti = 32
  private val UlmRounds = 2

  /** The distinct [a-z]{2,12} word frame q370/q371 segment. */
  private def ulmWords(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .select(explode(split($"text", " ")).as("w"))
      .filter($"w".rlike(s"^[a-z]{2,$UlmMaxWord}$$"))
      .groupBy($"w").agg(count(lit(1)).as("freq"))
  }

  /** Smoothed quantized log-prob: ⌊ln((cnt+1)/(total+V))·1e6⌋ — the
    * add-one smoothing keeps every piece alive across EM rounds (a
    * zero-count piece would be ln 0), and the 1e-6 grid makes every
    * Viterbi comparison an exact-long compare. The identical formula
    * runs in the oracle's SQL. */
  private def ulmScore(cnt: Long, total: Long, v: Long): Long =
    math.floor(math.log((cnt + 1).toDouble / (total + v)) * 1e6).toLong

  /** One Viterbi E-step as in-row Column folds: `dpBests` builds the
    * best-score array best[0..len] (best[j] = max over piece lengths
    * d ≤ 4 of best[j−d] + score(w[j−d+1..j])), `ulmBacktrack` walks it
    * back emitting the argmax pieces with the LONGEST-piece tie rule
    * (descending-d CASE ⇔ the oracle's min(k)). Scores ride a literal
    * map (≤ 58 entries — the small-artifact pattern of bpeFitSeq), so
    * the whole segmentation is one codegen'd expression per word: no
    * joins, no shuffles, |vocab|-bounded work at any corpus size. */
  private def ulmScoreMap(pieces: Seq[(String, Long)]): Column =
    if (pieces.isEmpty) map(lit(""), lit(0L)) // type-only; never matches
    else map(pieces.flatMap { case (p, sc) =>
      Seq(lit(p), lit(sc)) }: _*)

  private def ulmDpBests(w: Column, m: Column): Column =
    aggregate(
      sequence(lit(1), length(w)),
      array(lit(0L)),
      (acc, j) => {
        val terms = (1 to UlmMaxPiece).map { d =>
          when(j >= d,
            element_at(acc, j - d + lit(1)) +
              try_element_at(m, w.substr(j - d + lit(1), lit(d))))
        }
        array_append(acc, greatest(terms: _*))
      })

  private def ulmBacktrack(w: Column, m: Column, bests: Column)
      : Column =
    aggregate(
      sequence(lit(1), length(w)),
      struct(length(w).cast("int").as("j"),
        array().cast("array<string>").as("toks")),
      (st, _) => {
        val j = st.getField("j")
        val toks = st.getField("toks")
        def hit(d: Int): Column = j >= d &&
          try_element_at(m, w.substr(j - d + lit(1), lit(d)))
            .isNotNull &&
          (element_at(bests, j - d + lit(1)) +
            try_element_at(m, w.substr(j - d + lit(1), lit(d))) ===
            element_at(bests, j + lit(1)))
        val dstar = (UlmMaxPiece to 2 by -1)
          .foldLeft(null.asInstanceOf[Column]) { (acc, d) =>
            if (acc == null) when(hit(d), lit(d))
            else acc.when(hit(d), lit(d))
          }.otherwise(lit(1))
        when(j <= 0, st).otherwise(struct(
          (j - dstar).cast("int").as("j"),
          array_append(toks, w.substr(j - dstar + lit(1), dstar))
            .as("toks")))
      },
      st => st.getField("toks"))

  /** The fitted piece table after `UlmRounds` of Viterbi-EM, memoized
    * per (session, dir) like fittedMerges: Seq of (piece, count,
    * score). Seeding: every single char present + the top-32 substrings
    * of length 2-4 by frequency-weighted count (ties piece-asc); each
    * round segments the distinct-word frame with the current scores
    * (distributed), recounts piece usage (one groupBy), and collects
    * the ≤ 58-row count table to rebuild the literal scores — the
    * same metadata-scale driver traffic as the BPE merge table. */
  private def ulmFit(s: SparkSession, dir: String)
      : Seq[(String, Long, Long)] =
    SessionCache.value(s, "ulm_pieces", dir)(ulmFitWords(ulmWords(s, dir)))

  /** The fit over ANY (w, freq) frame — split out so the spec can pin
    * the EM round-trip against an independent in-test reference. */
  private[graft] def ulmFitWords(words: DataFrame)
      : Seq[(String, Long, Long)] = {
    val s = words.sparkSession
    import s.implicits._
    val subs = words.select($"freq", explode(expr(
          s"""flatten(transform(sequence(1, least($UlmMaxPiece,
             |  length(w))), d -> transform(
             |  sequence(1, length(w) - d + 1),
             |  i -> substring(w, i, d))))""".stripMargin)).as("p"))
          .groupBy($"p").agg(sum($"freq").as("cnt"))
        val singles = subs.filter(length($"p") === 1)
          .collect().map(r => (r.getString(0), r.getLong(1)))
        val multi = subs.filter(length($"p") >= 2)
          .orderBy($"cnt".desc, $"p".asc).limit(UlmSeedMulti)
          .collect().map(r => (r.getString(0), r.getLong(1)))
        var counts = (singles ++ multi).toSeq.sortBy(_._1)
        var fitted = Seq.empty[(String, Long, Long)]
        for (_ <- 1 to UlmRounds) {
          val total = counts.map(_._2).sum
          val v = counts.size.toLong
          val scored = counts.map { case (p, c) =>
            (p, ulmScore(c, total, v)) }
          val m = ulmScoreMap(scored)
          val seg = words
            .withColumn("bests", ulmDpBests($"w", m))
            .select($"freq",
              explode(ulmBacktrack($"w", m, $"bests")).as("piece"))
            .groupBy($"piece").agg(sum($"freq").as("cnt"))
            .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
          counts = counts.map { case (p, _) => (p, seg.getOrElse(p, 0L)) }
          val t2 = counts.map(_._2).sum
          fitted = counts.map { case (p, c) =>
            (p, c, ulmScore(c, t2, v)) }
        }
    fitted
  }

  /* ---- q370/q374 oracle builders ------------------------------------
   * Two unrolled Viterbi-EM rounds. Each round's DP carries the
   * best-score LIST down a recursive CTE (best[j+1] = max over piece
   * length d of best[j+1-d] + score) and the backtrack recursion
   * re-derives the argmax with max(d) -- the engine's longest-piece
   * tie rule. The d candidates come from a VALUES row set with
   * `d <= j(+1)` in WHERE, so an out-of-range substring can never
   * contribute. */

  /** dp$r/bt$r: one Viterbi pass of round `r` against score table
    * `sc`. De-correlated form (round 16): the original spelled the
    * per-step max as a correlated scalar subquery over `sc`, which is
    * both the statement's cost driver under DuckDB's CTE re-inlining
    * (q374 measured 128 s) AND wrong under `AS MATERIALIZED`
    * (correlated subqueries over a materialized CTE mis-evaluate in
    * DuckDB 1.0 — the q368/q370/q374/q385 failure class). Instead,
    * `cand$r` pre-joins every (word, end-position) to its matching
    * vocab pieces ONCE as a plain equi join and carries the (d, score)
    * candidates as a list; the recursion folds the list with a lambda
    * — no correlation anywhere, so the statement materializes safely.
    * NULL parity with the subquery form is exact: a position with no
    * candidate list yields list_aggregate([], 'max') = NULL, the same
    * NULL the empty correlated max produced. */
  private def ulmDpBtSql(r: Int, sc: String): String =
    s"""cand$r AS (
       |  SELECT p.w, p.i + rd.d - 1 AS jend,
       |    list({'d': rd.d, 'score': sc.score}) AS cands
       |  FROM pos p
       |  JOIN (VALUES (1), (2), (3), (4)) rd(d) ON p.i + rd.d - 1 <= p.n
       |  JOIN $sc sc
       |    ON sc.piece = substring(p.w, CAST(p.i AS INTEGER), rd.d)
       |  GROUP BY p.w, p.i + rd.d - 1),
       |dp$r AS (
       |  SELECT w, freq, 0 AS j, [CAST(0 AS BIGINT)] AS bests
       |  FROM words
       |  UNION ALL
       |  SELECT dd.w, dd.freq, dd.j + 1, list_append(dd.bests,
       |    list_aggregate(list_transform(coalesce(c.cands, []),
       |      x -> dd.bests[dd.j + 2 - x.d] + x.score), 'max'))
       |  FROM dp$r dd LEFT JOIN cand$r c
       |    ON c.w = dd.w AND c.jend = dd.j + 1
       |  WHERE dd.j < length(dd.w)),
       |bt$r AS (
       |  SELECT w, freq, length(w) AS j, bests,
       |    CAST([] AS VARCHAR[]) AS toks
       |  FROM dp$r WHERE j = length(w)
       |  UNION ALL
       |  SELECT w, freq, j - ds, bests,
       |    list_append(toks, substring(w, j - ds + 1, ds))
       |  FROM (
       |    SELECT b.w, b.freq, b.j, b.bests, b.toks,
       |      list_aggregate(list_transform(coalesce(c.cands, []),
       |        x -> CASE WHEN b.bests[b.j - x.d + 1] + x.score
       |                    = b.bests[b.j + 1] THEN x.d END), 'max')
       |        AS ds
       |    FROM bt$r b LEFT JOIN cand$r c
       |      ON c.w = b.w AND c.jend = b.j
       |    WHERE b.j > 0))""".stripMargin

  /** Full EM round `r`: segment with `sc`, recount, re-score. */
  private def ulmRoundSql(r: Int, sc: String): String =
    s"""${ulmDpBtSql(r, sc)},
       |tk$r AS (SELECT freq, unnest(toks) AS piece
       |         FROM bt$r WHERE j = 0),
       |cnt$r AS (SELECT piece, CAST(sum(freq) AS BIGINT) AS cnt
       |          FROM tk$r GROUP BY 1),
       |vc$r AS (SELECT v.piece AS piece,
       |           CAST(coalesce(c.cnt, 0) AS BIGINT) AS cnt
       |         FROM (SELECT piece FROM $sc) v
       |         LEFT JOIN cnt$r c ON v.piece = c.piece),
       |st$r AS (SELECT CAST(coalesce(sum(cnt), 0) AS BIGINT) AS tot,
       |                CAST(count(*) AS BIGINT) AS v FROM vc$r),
       |p$r AS (SELECT piece, CAST(floor(ln((cnt + 1)
       |          / CAST(tot + v AS DOUBLE)) * 1e6) AS BIGINT)
       |          AS score
       |        FROM vc$r CROSS JOIN st$r)""".stripMargin

  /** Shared chain: word frame, substring seed, smoothed seed scores,
    * and the two EM rounds -- everything through p2/vc2/st2. */
  private def ulmChainSql: String =
    s"""words AS (
       |  SELECT w, CAST(count(*) AS BIGINT) AS freq
       |  FROM (SELECT unnest(str_split(text, ' ')) AS w
       |        FROM documents)
       |  WHERE regexp_matches(w, '^[a-z]{2,$UlmMaxWord}$$')
       |  GROUP BY w),
       |pos AS (
       |  SELECT w, freq, length(w) AS n,
       |    unnest(generate_series(1, length(w))) AS i
       |  FROM words),
       |subs AS (
       |  SELECT substring(w, CAST(i AS INTEGER), d) AS p,
       |    sum(freq) AS cnt
       |  FROM pos, (VALUES (1), (2), (3), (4)) rd(d)
       |  WHERE i + d - 1 <= n
       |  GROUP BY 1),
       |vocab0 AS (
       |  SELECT p, CAST(cnt AS BIGINT) AS cnt FROM subs
       |  WHERE length(p) = 1
       |  UNION ALL
       |  SELECT p, CAST(cnt AS BIGINT) AS cnt FROM (
       |    SELECT p, cnt,
       |      row_number() OVER (ORDER BY cnt DESC, p) AS rk
       |    FROM subs WHERE length(p) >= 2) WHERE rk <= $UlmSeedMulti),
       |st0 AS (SELECT CAST(coalesce(sum(cnt), 0) AS BIGINT) AS tot,
       |               CAST(count(*) AS BIGINT) AS v FROM vocab0),
       |p0 AS (SELECT p AS piece, CAST(floor(ln((cnt + 1)
       |         / CAST(tot + v AS DOUBLE)) * 1e6) AS BIGINT) AS score
       |       FROM vocab0 CROSS JOIN st0),
       |${ulmRoundSql(1, "p0")},
       |${ulmRoundSql(2, "p1")}""".stripMargin

  private def ulmFitSql: String =
    s"""WITH RECURSIVE $ulmChainSql
       |SELECT rk, piece, n, prob FROM (
       |  SELECT piece, cnt AS n,
       |    floor((cnt + 1) / CAST(tot + v AS DOUBLE) * 1e9 + 0.5)
       |      / 1e9 AS prob,
       |    row_number() OVER (ORDER BY cnt DESC, piece) AS rk
       |  FROM vc2 CROSS JOIN st2)
       |WHERE rk <= 30 ORDER BY rk""".stripMargin

  private def ulmEncodeSql: String =
    s"""WITH RECURSIVE $ulmChainSql,
       |${ulmDpBtSql(3, "p2")},
       |enc AS (
       |  SELECT freq, length(w) AS wlen, toks
       |  FROM bt3 WHERE j = 0),
       |agg AS (
       |  SELECT CAST(count(*) AS BIGINT) AS vocab_words,
       |    CAST(coalesce(sum(freq), 0) AS BIGINT) AS stream_words,
       |    CAST(coalesce(sum(freq * wlen), 0) AS BIGINT)
       |      AS chars_before,
       |    CAST(coalesce(sum(freq * len(toks)), 0) AS BIGINT)
       |      AS pieces_after,
       |    CAST(coalesce(sum(freq * len(list_filter(toks,
       |      t -> length(t) >= 2))), 0) AS BIGINT) AS multi_pieces
       |  FROM enc)
       |SELECT vocab_words, stream_words, chars_before, pieces_after,
       |  round(CAST(pieces_after AS DOUBLE)
       |    / nullif(chars_before, 0), 4) + 0.0 AS compression,
       |  round(CAST(pieces_after AS DOUBLE)
       |    / nullif(stream_words, 0), 4) + 0.0 AS pieces_per_word,
       |  round(CAST(multi_pieces AS DOUBLE)
       |    / nullif(pieces_after, 0), 4) + 0.0 AS multi_piece_share
       |FROM agg""".stripMargin

  /** Unigram-LM tokenizer fit (q370) — Kudo 2018 / SentencePiece's
    * unigram model, the third production tokenizer shape beside BPE
    * fit/apply (q137/q132) and WordPiece (q359): pieces carry
    * PROBABILITIES and a word's segmentation is the Viterbi argmax
    * Σ log p(piece), re-estimated by EM — here the hard-EM (Viterbi)
    * variant with 2 fixed rounds, add-one smoothing, and every score
    * on the exact 1e-6 log grid so both engines' DP compares longs,
    * never float dust. Unlike BPE (fit-order merge replay) and
    * WordPiece (longest-prefix greedy), the unigram model can split
    * the same word differently as OTHER pieces' probabilities shift —
    * the EM round-trip the spec pins. Scale: segmentation is an
    * in-row fold over the distinct-word frame (q110's discipline),
    * piece recounts are one groupBy per round, and the only driver
    * traffic is the ≤ 58-row count table (bpeFitSeq's small-artifact
    * pattern). Output: top-30 pieces by final count (ties piece-asc)
    * with the 1e-9-grid smoothed probability. */
  def qUnigramFit(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val fitted = ulmFit(s, dir)
    val total = fitted.map(_._2).sum
    val v = fitted.size.toLong
    val top = fitted.sortBy { case (p, c, _) => (-c, p) }
      .take(30).zipWithIndex
      .map { case ((p, c, _), i) =>
        (i + 1L, p, c,
          math.floor((c + 1).toDouble / (total + v) * 1e9 + 0.5) / 1e9)
      }
    top.toDF("rk", "piece", "n", "prob")
  }

  /** Unigram-LM compression card (q374) — q248's judged-by number for
    * the q370 fit (the q137→q248 relationship replayed for the third
    * tokenizer family): apply the FINAL fitted piece scores to
    * re-segment the distinct-word frame once more and publish the
    * frequency-weighted card — vocab size, stream words, chars before,
    * pieces after, compression, pieces/word, and the multi-char-piece
    * share (the number that says whether EM actually learned units
    * bigger than characters). Same memoized fit artifact as q370, one
    * extra map pass + one aggregate; oracle replays the full EM chain
    * plus a third Viterbi pass. */
  def qUnigramEncode(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val scored = ulmFit(s, dir).map { case (p, _, sc) => (p, sc) }
    val m = ulmScoreMap(scored)
    ulmWords(s, dir)
      .withColumn("bests", ulmDpBests($"w", m))
      .withColumn("toks", ulmBacktrack($"w", m, $"bests"))
      .agg(
        count(lit(1)).as("vocab_words"),
        coalesce(sum($"freq"), lit(0L)).as("stream_words"),
        coalesce(sum($"freq" * length($"w")), lit(0L))
          .as("chars_before"),
        coalesce(sum($"freq" * size($"toks")), lit(0L))
          .as("pieces_after"),
        coalesce(sum($"freq" *
          size(filter($"toks", t => length(t) >= 2))), lit(0L))
          .as("multi_pieces"))
      .select($"vocab_words", $"stream_words", $"chars_before",
        $"pieces_after",
        (round($"pieces_after".cast("double")
          / when($"chars_before" > 0L, $"chars_before"), 4) + lit(0.0))
          .as("compression"),
        (round($"pieces_after".cast("double")
          / when($"stream_words" > 0L, $"stream_words"), 4) + lit(0.0))
          .as("pieces_per_word"),
        (round($"multi_pieces".cast("double")
          / when($"pieces_after" > 0L, $"pieces_after"), 4) + lit(0.0))
          .as("multi_piece_share"))
  }

  /** BPE compression card (q248) — the number a tokenizer fit is
    * JUDGED by (Sennrich et al. report it as the compression/fertility
    * trade): apply q137's sequential merge table to the vocabulary and
    * emit symbols-before (characters), tokens-after, the compression
    * ratio, and mean tokens/word — all frequency-weighted so the card
    * reflects the token stream, while computed entirely on the
    * DISTINCT (word, freq) frame (never the stream itself — the q110
    * discipline). The fitted-merge artifact is the same memoized
    * driver-side table q132 applies; the oracle replays the full
    * fit+apply recursive-CTE chain and aggregates identically. */
  def qBpeCompression(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val merges = fittedMerges(s, dir).map { case (_, a, b, _) => (a, b) }
    bpeVocab(s, dir).withColumn("st", bpeApply($"w", merges))
      .agg(count(lit(1)).as("vocab_size"),
        sum($"freq").as("n_words"),
        sum($"freq" * length($"w")).as("symbols_before"),
        sum($"freq" * size($"st")).as("tokens_after"))
      .select($"vocab_size", $"n_words", $"symbols_before",
        $"tokens_after",
        round($"tokens_after" / $"symbols_before".cast("double"), 4)
          .as("compression"),
        round($"tokens_after" / $"n_words".cast("double"), 4)
          .as("tokens_per_word"))
  }

  /** Inverted index with BOUNDED posting lists (q119): term → document
    * frequency + the 10 lowest doc_ids holding it, top-200 terms by df.
    * The unbounded form (collect_set of every doc per term) is the
    * classic 100 TB killer — a boilerplate term's posting list is the
    * whole corpus. Here the posting side caps per-term state BEFORE the
    * list is built: the Filter(row_number ≤ 10) idiom rewrites to the
    * bounded-heap top_k_rows aggregate under TopKWindowRule, so each
    * mapper ships at most 10 doc_ids per term and collect_list only ever
    * sees ≤ 10 rows. df comes from a plain count on the same `term` key
    * — both branches and the rejoin share one hash-partitioning, so the
    * join adds no extra shuffle of the big side. */
  def qInvertedIndex(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pairs = Tables.documents(s, dir)
      .select($"doc_id", explode(TextOps.dropStopwords(
        TextOps.tokenize(TextOps.cleanText($"text")))).as("term"))
      .filter($"term" =!= "")
      .distinct()
    val dfc = pairs.groupBy($"term").agg(count(lit(1)).as("df"))
    val wt = Window.partitionBy($"term").orderBy($"doc_id".asc)
    val posting = pairs
      .withColumn("rn", row_number().over(wt)).filter($"rn" <= 10)
      .groupBy($"term")
      .agg(concat_ws(",", transform(sort_array(collect_list($"doc_id")),
        _.cast("string"))).as("posting"))
    val wr = Window.orderBy($"df".desc, $"term".asc)
    dfc.join(posting, "term")
      .withColumn("rk", row_number().over(wr)).filter($"rk" <= 200)
      .select($"rk", $"term", $"df", $"posting")
      .orderBy($"rk")
  }

  /** In-row word-entropy quality signal (q121): Shannon entropy of each
    * document's token distribution — low entropy flags keyword-stuffed /
    * template/repetitive docs the way Gopher's repetition ratios (q39)
    * do, but in one number. Entirely higher-order functions over the
    * in-row token array: no explode, no shuffle, map-only at any corpus
    * size. Per-row cost is O(n log n): sort the token array ONCE, then a
    * single run-length fold emits each distinct token's -p·ln p term as
    * its run ends (the round-5 fix — the previous form rescanned the
    * whole array per distinct token, O(distinct × n), which a 100k-token
    * web document turns into ~10^9 comparisons in one row). Terms
    * accumulate in sorted-token order — the same sequence as the
    * oracle's sorted-distinct fold, so the floating-point sum is
    * bit-identical (unordered sums differ in the last ulp and can flip
    * round(_,4) on a boundary). Entropy of empty docs is 0 (the finish
    * lambda returns 0 for an untouched accumulator), and the `+ 0.0`
    * idiom clears IEEE -0.0 (repo convention, see q91). */
  def qWordEntropy(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // state: s = partial sum over CLOSED runs, c = current run length,
    // p = current run's token; finish closes the last run.
    val runFold =
      """aggregate(
        |  sort_array(w),
        |  named_struct('s', 0.0D, 'c', 0L, 'p', CAST(NULL AS STRING)),
        |  (st, t) -> IF(st.p IS NULL OR t = st.p,
        |    named_struct('s', st.s, 'c', st.c + 1L, 'p', t),
        |    named_struct('s', st.s + (st.c / n) * ln(st.c / n),
        |                 'c', 1L, 'p', t)),
        |  st -> IF(st.c = 0L, 0.0D,
        |           st.s + (st.c / n) * ln(st.c / n)))""".stripMargin
    Tables.documents(s, dir)
      .withColumn("w",
        filter(TextOps.tokenize(TextOps.cleanText($"text")), t => t =!= ""))
      .withColumn("n", size($"w").cast("double"))
      .withColumn("ent", round(-expr(runFold) + lit(0.0), 4))
      .select($"doc_id", size($"w").cast("long").as("n_words"), $"ent")
      .orderBy($"doc_id")
  }

  /** PMI collocation mining (q129): pointwise mutual information of
    * adjacent token pairs, ln(p(a,b) / (p(a)·p(b))), with a min-count
    * support filter — the classic collocation detector (Church & Hanks
    * 1990), and the statistic behind phrase-vocabulary induction
    * (word2vec's phrase pass uses the same ratio). Scale shape: one
    * (prev, term) pair-count shuffle with map-side combine, a
    * vocabulary-sized unigram aggregate broadcast back onto the PAIR
    * frame (never the token stream — the support filter has already
    * shrunk it), corpus totals as 1-row broadcasts, and the global
    * top-30 as the Filter(row_number <= 30) shape the bounded-heap
    * rewrite picks up. PMI can land negative, so the rounded output
    * takes the `+ 0.0` negative-zero normalization. */
  def qPmiCollocations(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val MinPair = 50L
    val docs = Tables.documents(s, dir)
      .select($"doc_id", split($"text", " ").as("tk"))
    val uni = docs.select(explode($"tk").as("term"))
      .groupBy($"term").agg(count(lit(1)).as("c_t"))
    val nU = uni.agg(sum($"c_t").cast("double").as("n_uni"))
    // in-row bigrams (round-17, the q282/q93 spelling): adjacency is a
    // property of the token array, so the per-doc lag window — a full
    // token-stream shuffle on doc_id — is gone; the structs explode
    // straight into the partial-aggregated pair count.
    val biCnt = ScoringQueries.inRowBigrams(docs)
      .groupBy($"prev", $"term").agg(count(lit(1)).as("c_ab"))
    val nB = biCnt.agg(sum($"c_ab").cast("double").as("n_bi"))
    // the unigram table is vocab-sized, so its joins carry NO hint
    // (the q172/q228 discipline) — the support-filtered bigram side is
    // tiny and the planner broadcasts THAT from stats; only the 1-row
    // totals keep explicit hints
    val scored = biCnt.filter($"c_ab" >= MinPair)
      .join(uni.select($"term".as("prev"), $"c_t".as("c_a")), "prev")
      .join(uni.select($"term", $"c_t".as("c_b")), "term")
      .crossJoin(broadcast(nU)).crossJoin(broadcast(nB))
      .withColumn("pmi",
        log(($"c_ab" / $"n_bi") /
          (($"c_a" / $"n_uni") * ($"c_b" / $"n_uni"))))
    val rw = Window.orderBy($"pmi".desc, $"prev".asc, $"term".asc)
    scored.withColumn("rk", row_number().over(rw)).filter($"rk" <= 30)
      .select($"rk", $"prev", $"term", $"c_ab",
        (round($"pmi", 4) + lit(0.0)).as("pmi"))
      .orderBy($"rk")
  }

  /** Frozen-vocabulary size for the q164 coverage audit. 20 of this
    * corpus' 31 distinct terms, so OOV is non-degenerate at every SF;
    * at 100 TB the knob is the tokenizer's real vocab (10⁵) and the
    * plan is unchanged — the cap keeps the vocab frame broadcastable
    * BY CONSTRUCTION, which is the entire scale contract here. */
  private val OovVocabK = 20

  /** OOV-rate audit (q164): per-document out-of-vocabulary token rate
    * against the frozen top-K corpus vocabulary — the pre-tokenizer-
    * freeze check every LLM pipeline runs (a domain slice with high OOV
    * under the candidate vocab will fragment into char-level tokens and
    * train badly; cf. the fertility numbers tokenizer papers report).
    * One token-stream shuffle builds the vocab (global top-K rank
    * rewrites to the bounded heap — no full-vocab sort), the K-row
    * vocab frame broadcasts back onto the stream, and the per-doc
    * aggregate reuses the same token explode. */
  def qOovRate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val toks = Tables.documents(s, dir)
      .select($"doc_id", explode(split($"text", " ")).as("term"))
    val vocab = toks.groupBy($"term").agg(count(lit(1)).as("cnt"))
      .withColumn("rk", row_number().over(
        Window.orderBy($"cnt".desc, $"term".asc)))
      .filter($"rk" <= OovVocabK)
      .select($"term", lit(1L).as("iv"))
    toks.join(broadcast(vocab), Seq("term"), "left")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(when($"iv".isNull, 1L).otherwise(0L)).as("n_oov"))
      .withColumn("oov_rate",
        round($"n_oov" / $"n_tokens".cast("double"), 4))
      .orderBy($"doc_id")
  }

  /** Tokenizer fertility by language (q167): tokens-per-word under the
    * BPE-ish regex tokenizer (q19's), the number tokenizer papers
    * report per language — a language whose fertility blows up under a
    * candidate tokenizer pays that multiple in sequence length and
    * training cost, which is why vocab decisions get a fertility table
    * first. Map-only featurize + one partial-agg groupBy to |langs|
    * rows; nothing scales past the scan. */
  def qFertility(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .select($"lang",
        size(TextOps.tokenize($"text")).cast("long").as("w"),
        size(regexp_extract_all(lower($"text"),
          lit("[a-z]+|[0-9]+|[^a-z0-9\\s]+"), lit(0))).cast("long").as("t"))
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"), sum($"w").as("n_words"),
        sum($"t").as("n_tokens"))
      .withColumn("fertility",
        round($"n_tokens" / $"n_words".cast("double"), 4))
      .orderBy($"lang")
  }

  /** Heaps'-law vocabulary growth (q196): distinct-type count as a
    * function of tokens ingested, sampled at 20 evenly spaced doc_id
    * checkpoints, with the log-log OLS fit V = K·nᵝ (Heaps 1978;
    * Herdan 1960) attached — natural text sits near β ≈ 0.5; a
    * saturating curve (β → 0) means the corpus is re-treading old
    * vocabulary (the cumulative read of q179's per-doc novelty), and
    * β ≈ 1 means tokenizer-shattering noise. Scale shape: NO running
    * window over the corpus — per-doc token counts and per-term
    * first-seen docs are the suite's standard one-shuffle frames; each
    * joins the 20-row broadcast checkpoint grid and aggregates, so the
    * cumulative curve costs 20 conditional sums over |docs| + |vocab|
    * rows, never an ordered scan. The fit is a closed-form regr_*
    * fold over 20 points. */
  def qHeapsLaw(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val toks = Tables.documents(s, dir)
      .select($"doc_id", explode(split($"text", " ")).as("term"))
    val perDoc = toks.groupBy($"doc_id").agg(count(lit(1)).as("n_toks"))
    val firstSeen = toks.groupBy($"term").agg(min($"doc_id").as("first_doc"))
    val cuts = perDoc.agg(min($"doc_id").as("lo"), max($"doc_id").as("hi"))
      .select(explode(sequence(lit(1), lit(20))).as("cp"), $"lo", $"hi")
      .select($"cp", expr("lo + ((hi - lo) * cp) div 20").as("cut"))
    val cumToks = perDoc.crossJoin(broadcast(cuts))
      .filter($"doc_id" <= $"cut")
      .groupBy($"cp", $"cut").agg(sum($"n_toks").as("cum_tokens"))
    val cumTypes = firstSeen.crossJoin(broadcast(cuts))
      .filter($"first_doc" <= $"cut")
      .groupBy($"cp").agg(count(lit(1)).as("cum_types"))
    val pts = cumToks.join(cumTypes, "cp")
    // A saturated vocabulary (this synthetic corpus: 31 terms, all seen
    // by doc 8) makes y CONSTANT — slope/r² become 0/0, where the two
    // engines emit different float junk (Spark r²=1.0, DuckDB ≈ noise).
    // The fit is undefined there, so both sides gate it to NULL.
    val fit = pts.agg(
      when(max($"cum_types") > min($"cum_types"),
        round(regr_slope(log($"cum_types"), log($"cum_tokens")), 4))
        .as("beta"),
      when(max($"cum_types") > min($"cum_types"),
        round(exp(regr_intercept(log($"cum_types"), log($"cum_tokens"))), 4))
        .as("k_coef"),
      when(max($"cum_types") > min($"cum_types"),
        round(regr_r2(log($"cum_types"), log($"cum_tokens")), 4)).as("r2"))
    pts.crossJoin(broadcast(fit))
      .select($"cp", $"cut", $"cum_tokens", $"cum_types",
        $"beta", $"k_coef", $"r2")
      .orderBy($"cp")
  }

  /** Flesch reading-ease (q224) — the 1948 readability score every
    * content-quality stack still reports (206.835 − 1.015·(W/S) −
    * 84.6·(Syl/W)): syllables per word approximated as vowel-group
    * count (min 1 — the standard heuristic; "strength" = 1 group,
    * "data" = 2), computed per word with an in-row higher-order fold
    * so the whole featurization is MAP-ONLY — zero shuffles at any
    * corpus size, the q87 posture. This synthetic corpus has no
    * sentence punctuation, so sentence count falls back to
    * ⌈words/15⌉ fixed segments (documented surrogate; the `[.!?]`
    * splitter is a one-line swap on punctuated text) — the
    * syllable/word term, which carries the signal here, is the real
    * formula. Score can be negative → the ±0.0 idiom on both
    * engines. */
  def qReadability(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .filter(length($"text") > 0)
      .select($"doc_id",
        size(split($"text", " ")).cast("long").as("words"),
        expr("""aggregate(
          |  split(text, ' '),
          |  cast(0 as bigint),
          |  (acc, w) -> acc + greatest(
          |    cast(1 as bigint),
          |    cast(size(regexp_extract_all(w, '[aeiouy]+', 0)) as bigint)))
          |""".stripMargin).as("syllables"))
      .select($"doc_id", $"words", $"syllables",
        (($"words" + 14).cast("long") / 15).cast("long").as("sentences"))
      .select($"doc_id", $"words", $"sentences", $"syllables",
        (round(lit(206.835)
          - lit(1.015) * ($"words".cast("double") / $"sentences")
          - lit(84.6) * ($"syllables".cast("double") / $"words"), 4)
          + lit(0.0)).as("flesch"))
      .orderBy($"doc_id")
  }

  /** Lexical burst detection (q242) — which words surged between the
    * first and second half of the corpus (split at the doc_id
    * midpoint — the ingest-order proxy this synthetic table has; a
    * timestamped corpus splits on time): smoothed log-rate-ratio
    * ln(((c₂+1)/(N₂+V)) / ((c₁+1)/(N₁+V))) with ≥5 total support —
    * the vocabulary-level twin of q234's item trending and the
    * one-level Kleinberg burst read a topic monitor starts from.
    * Both halves counted in ONE conditional aggregate over the token
    * stream; scoring is map-side on the vocabulary frame; top-10
    * via the bounded heap. */
  def qLexicalBurst(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
    val cut = docs.agg(((min($"doc_id") + max($"doc_id")) / 2)
      .cast("long").as("cut"))
    val counts = docs.crossJoin(broadcast(cut))
      .select(($"doc_id" >= $"cut").as("late"),
        explode(split($"text", " ")).as("term"))
      .filter($"term" =!= "")
      .groupBy($"term")
      .agg(sum(when(!$"late", 1L).otherwise(0L)).as("c1"),
        sum(when($"late", 1L).otherwise(0L)).as("c2"))
      .filter($"c1" + $"c2" >= 5)
    val tot = counts.agg(sum($"c1").as("n1t"), sum($"c2").as("n2t"),
      count(lit(1)).cast("double").as("v"))
    val score = log((($"c2" + 1) / ($"n2t" + $"v")) /
      (($"c1" + 1) / ($"n1t" + $"v")))
    val wTop = Window.orderBy(round(score, 6).desc, $"term".asc)
    counts.crossJoin(broadcast(tot))
      .withColumn("rk", row_number().over(wTop)).filter($"rk" <= 10)
      .select($"rk", $"term", $"c1", $"c2",
        (round(score, 4) + lit(0.0)).as("burst_score"))
      .orderBy($"rk")
  }

  /** Per-language keyness (q243) — the distinctive-vocabulary table
    * (Monroe, Colaresi & Quinn 2008's log-odds family, the corpus-
    * linguistics "keyness" statistic): per language the top-3 terms by
    * smoothed log-rate-ratio against the REST of the corpus — what a
    * dataset card prints under "characteristic content" per slice, and
    * the qualitative check on q16/q170's lang-ID features. One token
    * scan → (lang, term) counts; rest-of-corpus counts by subtracting
    * from the term's global row (no second scan, q194's discipline);
    * per-lang top-3 via the heap-rewritten rank window. */
  def qKeyness(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val lt = Tables.documents(s, dir)
      .select($"lang", explode(split($"text", " ")).as("term"))
      .filter($"term" =!= "")
      .groupBy($"lang", $"term").agg(count(lit(1)).as("c"))
    val tg = lt.groupBy($"term").agg(sum($"c").as("cg"))
    val langTot = lt.groupBy($"lang").agg(sum($"c").as("nl"))
    val grand = tg.agg(sum($"cg").as("ng"),
      count(lit(1)).cast("double").as("v"))
    val score = log((($"c" + 1) / ($"nl" + $"v")) /
      (($"cg" - $"c" + 1) / ($"ng" - $"nl" + $"v")))
    val w = Window.partitionBy($"lang")
      .orderBy(round(score, 6).desc, $"term".asc)
    // tg is vocab-sized → unhinted (shuffle join co-partitions on the
    // term key its aggregate used); langTot is bounded by the closed
    // language-code set and the grand totals are one row — those two
    // keep their hints legitimately
    lt.join(tg, "term")
      .join(broadcast(langTot), "lang")
      .crossJoin(broadcast(grand))
      .withColumn("rk", row_number().over(w)).filter($"rk" <= 3)
      .select($"lang", $"rk", $"term", $"c",
        (round(score, 4) + lit(0.0)).as("keyness"))
      .orderBy($"lang", $"rk")
  }

  /** Vocabulary-coverage card (q241) — the unseen-mass numbers behind
    * every smoothing and corpus-growth decision, from the frequency-of-
    * frequencies profile: hapax/dis legomena counts, Good–Turing
    * unseen-probability mass P₀ = N₁/N (Good 1953; Gale & Sampson
    * 1995 — the mass KN/GT smoothing reserves for novel words, and the
    * "how much of the language are we still missing" read), and the
    * bias-corrected Chao1 richness estimate V̂ = V + N₁(N₁−1)/(2(N₂+1))
    * (Chao 1984 — total vocabulary including unseen types; defined even
    * at N₂ = 0). Complements q196 (growth CURVE) and q179 (per-doc
    * novelty) with the closed-form asymptote. Two aggregates: token
    * stream → vocabulary counts → 5-number card; one row out. */
  def qVocabCoverage(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val tc = Tables.documents(s, dir)
      .select(explode(split($"text", " ")).as("term"))
      .filter($"term" =!= "")
      .groupBy($"term").agg(count(lit(1)).as("c"))
    tc.agg(
        count(lit(1)).as("v_types"),
        sum($"c").as("n_tokens"),
        sum(when($"c" === 1, 1L).otherwise(0L)).as("n1_hapax"),
        sum(when($"c" === 2, 1L).otherwise(0L)).as("n2_dis"))
      .select($"v_types", $"n_tokens", $"n1_hapax", $"n2_dis",
        round($"n1_hapax".cast("double") / $"n_tokens", 4).as("p0_gt"),
        round($"v_types" + $"n1_hapax" * ($"n1_hapax" - 1) /
          (lit(2.0) * ($"n2_dis" + 1)), 4).as("chao1"))
  }

  /** TextRank keyword extraction (q227) — Mihalcea & Tarau 2004: the
    * graph-based keyword ranker (newspaper3k-class NLP summarizers'
    * sibling to the reference's TF keywords, P10): nodes = corpus
    * vocabulary, edges = adjacent-token co-occurrence weighted by
    * count (support ≥ 3 denoises, as q219), ranks = 3 damped power
    * iterations on the WORD graph — q92's rank-flow machinery
    * retargeted from items to vocabulary, so every scale property
    * carries over (per iteration two shuffles of the vocabulary-sized
    * edge frame, never the token stream; the corpus is scanned ONCE
    * to build pair counts). Top-20 by final rank via the bounded-heap
    * rewrite. Oracle: three unrolled CTE iterations, q92's pattern. */
  def qTextrank(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val toks = Tables.documents(s, dir)
      .select($"doc_id", posexplode(split($"text", " ")).as(Seq("pos", "w")))
      .filter($"w" =!= "")
    val byDoc = Window.partitionBy($"doc_id").orderBy($"pos")
    val und = toks
      .withColumn("prev", lag($"w", 1).over(byDoc))
      .filter($"prev".isNotNull && $"prev" =!= $"w")
      .groupBy(least($"prev", $"w").as("a"), greatest($"prev", $"w").as("b"))
      .agg(count(lit(1)).as("c"))
      .filter($"c" >= 3)
    val we = und.select($"a".as("src"), $"b".as("dst"),
        $"c".cast("double").as("w"))
      .union(und.select($"b".as("src"), $"a".as("dst"),
        $"c".cast("double").as("w")))
    val odeg = we.groupBy($"src").agg(sum($"w").as("odeg"))
    val nodes = we.select($"src".as("node")).distinct()
    val nTot = nodes.agg(count(lit(1)).cast("double").as("n"))
    var ranks = nodes.crossJoin(broadcast(nTot))
      .select($"node", (lit(1.0) / $"n").as("rank"))
    for (_ <- 1 to 3) {
      val contrib = ranks
        .join(we, ranks("node") === we("src"))
        .join(odeg, "src")
        .select($"dst".as("node"), ($"rank" * $"w" / $"odeg").as("ct"))
      val inSum = contrib.groupBy($"node").agg(sum($"ct").as("in_sum"))
      // symmetric graph with support ≥ 3 ⇒ no dangling mass: every
      // node has at least one out-edge, so ranks just redistribute
      ranks = nodes.crossJoin(broadcast(nTot))
        .join(inSum, Seq("node"), "left")
        .select($"node",
          ((lit(1.0) - lit(0.85)) / $"n" +
            lit(0.85) * coalesce($"in_sum", lit(0.0))).as("rank"))
    }
    val wTop = Window.orderBy(round($"rank", 6).desc, $"node".asc)
    ranks.withColumn("rk", row_number().over(wTop)).filter($"rk" <= 20)
      .select($"rk", $"node".as("word"), round($"rank", 4).as("rank"))
      .orderBy($"rk")
  }


  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q196_heaps_law" -> (qHeapsLaw _),
    "q224_readability" -> (qReadability _),
    "q227_textrank" -> (qTextrank _),
    "q241_vocab_coverage" -> (qVocabCoverage _),
    "q242_lexical_burst" -> (qLexicalBurst _),
    "q243_keyness" -> (qKeyness _),
    "q248_bpe_compression" -> (qBpeCompression _),
    "q164_oov_rate" -> (qOovRate _),
    "q167_fertility" -> (qFertility _),
    "q170_langid_confusion" -> (qLangIdConfusion _),
    "q187_code_switch" -> (qCodeSwitch _),
    "q129_pmi_collocations" -> (qPmiCollocations _),
    "q140_zipf_fit"       -> (qZipfFit _),
    "q132_bpe_encode"     -> (qBpeEncode _),
    "q359_wordpiece"      -> (qWordpiece _),
    "q370_unigram_fit"    -> (qUnigramFit _),
    "q374_unigram_encode" -> (qUnigramEncode _),
    "q137_bpe_fit"        -> (qBpeFitSeq _),
    "q119_inverted_index" -> (qInvertedIndex _),
    "q121_word_entropy"   -> (qWordEntropy _),
    "q110_bpe_merges"     -> (qBpeMergeStats _),
    "q10_clean_text"      -> (qCleanText _),
    "q75_chunking"        -> (qChunk _),
    "q67_nfc_normalize"   -> (qNfcNormalize _),
    "q11_stopword_filter" -> (qStopwordFilter _),
    "q12_bigrams_topk"    -> (qBigramsTopk _),
    "q12b_bigrams_inrow"  -> (qBigramsTopkInRow _),
    "q13_hashtags"        -> (qHashtags _),
    "q14_token_stats"     -> (qTokenStats _),
    "q15_quality_score"   -> (qQualityScore _),
    "q16_lang_id"         -> (qLangId _),
    "q17_fingerprint"     -> (qFingerprint _),
    "q19_token_bpe"       -> (qTokenBpe _),
    "q25_rolling_hash"    -> (qRollingHash _),
    "q36_pii_scrub"       -> (qPiiScrub _),
    "q37_vocab_topk"      -> (qVocabTopk _),
    "q38_length_histogram" -> (qLengthHistogram _),
    "q315_rake_keywords"  -> (qRakeKeywords _),
    "q327_word_burstiness" -> (qWordBurstiness _),
    "q331_f2_sketch" -> (qF2Sketch _),
    "q333_yule_k" -> (qYuleK _),
  )

  /** Yule's K vocabulary-richness characteristic (q333) — Yule 1944:
    * K = 10⁴·(Σ_r r²·N_r − N)/N² from the count-of-counts profile
    * (q296's frame), with the hapax share alongside. K is
    * length-invariant where type-token ratio is not — the lexical
    * fingerprint that separates rich natural prose (low K) from
    * template/boilerplate output (high K: the same words over and
    * over), reported PER LANGUAGE so the gate can flag one degraded
    * source language. Scale shape: one (lang, token) aggregate, one
    * count-of-counts regroup, one |lang|×|r| fold — every term an
    * exact integer until the final division (as decimal(38,0):
    * r²·N_r·10⁴ overflows a long at web scale). */
  def qYuleK(s: SparkSession, dir: String): DataFrame =
    yuleKOf(Tables.documents(s, dir))

  /** Yule-K core over any (lang, text) frame; split out so the spec
    * can pin K on closed-form frequency profiles. */
  private[graft] def yuleKOf(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val d38 = "decimal(38,0)"
    val f = docs.select($"lang", explode(
        filter(split($"text", " "), t => t =!= lit(""))).as("t"))
      .groupBy($"lang", $"t").agg(count(lit(1)).as("f"))
    val cc = f.groupBy($"lang", $"f".as("r"))
      .agg(count(lit(1)).as("nr"))
    cc.groupBy($"lang")
      .agg(sum($"r" * $"nr").cast(d38).as("n"),
        sum($"nr").as("vocab"),
        sum(when($"r" === 1L, $"nr").otherwise(0L)).as("hapax"),
        sum(($"r" * $"r").cast(d38) * $"nr").as("srr"))
      .select($"lang", $"n".cast("long").as("n_tokens"), $"vocab",
        (floor($"hapax".cast("double") / $"vocab" * 1e4 + 0.5) / 1e4)
          .as("hapax_share"),
        (floor((lit(10000).cast(d38) * ($"srr" - $"n")).cast("double")
          / ($"n" * $"n").cast("double") * 1e4 + 0.5) / 1e4).as("yule_k"))
      .orderBy($"lang")
  }

  /** q331 counter count: 16 independent sign-hash counters, averaged
    * (AMS's mean-of-estimators form; variance ∝ F2²/16). */
  private val F2K = 16

  /** AMS second-moment sketch (q331) — Alon, Matias & Szegedy 1996:
    * estimate F2 = Σ_t f_t² of the token frequency vector from 16
    * ±1-sign counters S_k = Σ_t f_t·sign_k(t), Ê = mean(S_k²). F2 IS
    * the self-join size of the token table — the number a join
    * planner wants BEFORE shuffling (q193 estimates a specific join
    * from full histograms; this is the sketch that costs one pass and
    * 16 longs at any corpus size, mergeable by addition across
    * shards). Signs come from an md5 bit per (k, token) — the
    * engine-agnostic hash family — so every counter is an EXACT
    * integer sum and the estimate is deterministic. The exact F2
    * rides along for the relative-error verdict (at sf scale the
    * token grid is affordable; at 100 TB you'd publish only the
    * sketch). */
  def qF2Sketch(s: SparkSession, dir: String): DataFrame =
    f2SketchOf(Tables.documents(s, dir))

  /** F2 core over any (doc_id, text) frame; split out so the spec can
    * pin the estimator on closed-form frequency vectors. */
  private[graft] def f2SketchOf(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val toks = docs.select(explode(
      filter(split($"text", " "), t => t =!= lit(""))).as("t"))
    val sign = (k: Int) =>
      (conv(substring(md5(concat(lit(s"f2:$k:"), $"t")), 1, 1), 16, 10)
        .cast("long") % 2L * 2L - 1L)
    val counters = toks.agg(
      count(lit(1)).as("n_tokens"),
      (0 until F2K).map(k => sum(sign(k)).as(s"s$k")): _*)
    val exact = toks.groupBy($"t").agg(count(lit(1)).as("f"))
      .agg(count(lit(1)).as("n_distinct"),
        sum($"f" * $"f").as("f2_exact"))
    val estExpr = (0 until F2K).map(k => col(s"s$k") * col(s"s$k"))
      .reduce(_ + _).cast("double") / F2K
    counters.crossJoin(broadcast(exact))
      .select($"n_tokens", $"n_distinct", $"f2_exact",
        (floor(estExpr + 0.5)).cast("long").as("f2_est"),
        (floor(abs(estExpr - $"f2_exact") / $"f2_exact" * 1e4 + 0.5)
          / 1e4).as("rel_err"))
  }

  /** Word burstiness (q327) — Church & Gale 1995: the
    * variance-to-mean ratio of each top-20 word's per-document count,
    * ZERO documents included (VMR = (N·Σc² − T²)/(N·T) from exact
    * integer moments). A Poisson word scatters uniformly (VMR ≈ 1);
    * content words clump (VMR ≫ 1) — the statistic that separates
    * topical vocabulary from function words and flags template spam
    * (boilerplate tokens with impossible VMR). Scale shape: one
    * (word, doc) count aggregate, the top-20 word pick is a
    * TakeOrdered heap on the word-total grid, per-word moments are
    * one regroup of the 20 surviving words' doc counts; moments ride
    * as decimal(38,0) (N·Σc² overflows a long at corpus scale). */
  def qWordBurstiness(s: SparkSession, dir: String): DataFrame =
    wordBurstinessOf(Tables.documents(s, dir))

  /** Burstiness core over any (doc_id, text) frame; split out so the
    * spec can pin VMR on planted uniform vs clumped words. */
  private[graft] def wordBurstinessOf(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val d38 = "decimal(38,0)"
    val base = docs.select($"doc_id",
      filter(split($"text", " "), t => t =!= lit("")).as("tk"))
    val nDocs = base.agg(count(lit(1)).cast(d38).as("nn"))
    val wd = base.select($"doc_id", explode($"tk").as("w"))
      .groupBy($"w", $"doc_id").agg(count(lit(1)).as("c"))
    val top = wd.groupBy($"w").agg(sum($"c").as("total"))
      .orderBy($"total".desc, $"w".asc).limit(20)
    wd.join(broadcast(top), Seq("w"))
      .groupBy($"w", $"total")
      .agg(count(lit(1)).as("df"),
        sum($"c" * $"c").cast(d38).as("scc"))
      .crossJoin(broadcast(nDocs))
      .select($"w".as("word"), $"total", $"df",
        (floor($"total".cast(d38).cast("double")
          / $"nn".cast("double") * 1e4 + 0.5) / 1e4).as("mean"),
        (floor(($"nn" * $"scc" - $"total".cast(d38) * $"total")
          .cast("double")
          / ($"nn" * $"total".cast(d38)).cast("double") * 1e4 + 0.5)
          / 1e4).as("vmr"))
      .orderBy($"total".desc, $"word".asc)
  }

  /** RAKE phrase-length cap: candidate phrases longer than 4 content
    * words are overwhelmingly extraction noise (Rose et al. report the
    * same practical cap) and an uncapped phrase table keys on
    * arbitrarily long strings. */
  private val RakeMaxLen = 4

  /** RAKE keyword extraction (q315) — Rose et al. 2010 "Rapid
    * Automatic Keyword Extraction": candidate phrases are the maximal
    * stopword-free token runs (stopwords and cleanText-emptied tokens
    * both break), each word scores deg/freq (deg = Σ over containing
    * phrases of phrase length; freq = containment count), and a
    * phrase scores the sum of its member word scores. The corpus-level
    * top-10 is the document-set keyword list next to q18's per-doc TF
    * keywords and q227's TextRank — RAKE is the degree-weighted
    * variant that rewards multi-word collocations. Determinism: word
    * scores are quantized to integer micro-units (floor(1e6·deg/freq),
    * the q299 discipline), so phrase scores are exact integer sums —
    * no float-order sensitivity, and the oracle replays bit-for-bit.
    * Scale shape: phrase assembly is per-doc windows (PARTITIONED by
    * doc), word stats one explode + groupBy, the phrase-score join
    * keys on words, and the top-10 is a TakeOrdered heap — no global
    * window anywhere. */
  def qRakeKeywords(s: SparkSession, dir: String): DataFrame =
    rakeOf(Tables.documents(s, dir))

  /** RAKE core over any (doc_id, text) frame; split out so the spec
    * can pin phrase segmentation and scoring by hand. */
  private[graft] def rakeOf(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val toks = docs
      .select($"doc_id", posexplode(TextOps.tokenize(
        TextOps.cleanText($"text"))).as(Seq("pos", "tok")))
      .withColumn("brk",
        ($"tok" === "" || $"tok".isInCollection(TextOps.Stopwords))
          .cast("int"))
    val wBrk = Window.partitionBy($"doc_id").orderBy($"pos")
      .rowsBetween(Window.unboundedPreceding, 0)
    val phrases = toks
      .withColumn("pid", sum($"brk").over(wBrk))
      .filter($"brk" === 0)
      .groupBy($"doc_id", $"pid")
      .agg(transform(array_sort(collect_list(struct($"pos", $"tok"))),
        c => c("tok")).as("ph"))
      .filter(size($"ph").between(1, RakeMaxLen))
      .select(array_join($"ph", " ").as("phrase"), size($"ph").as("len"))
    val words = phrases
      .select(explode(split($"phrase", " ")).as("w"), $"len")
      .groupBy($"w")
      .agg(floor(lit(1e6) * sum($"len") / count(lit(1))).cast("long")
        .as("wscore"))
    val grouped = phrases.groupBy($"phrase")
      .agg(count(lit(1)).as("n_occ"), max($"len").as("n_words"))
    grouped
      .select($"phrase", $"n_occ", $"n_words",
        explode(split($"phrase", " ")).as("w"))
      .join(words, "w")
      .groupBy($"phrase", $"n_occ", $"n_words")
      .agg((sum($"wscore") / 1e6).as("score"))
      .orderBy($"score".desc, $"phrase")
      .limit(10)
  }

  /** Chained-CTE replay of the sequential BPE fit (for the q137/q132
    * oracles): vocabulary v, spaced symbols s0, then per iteration i —
    * pair counts p_i, 1-row argmax b_i (ORDER BY n DESC, a, b LIMIT 1,
    * the engine's exact tie-break), merged state s_i — ending in the
    * merge table m(rk, a, b, n). The unrolled-iteration oracle pattern
    * q92's pagerank established. */
  private def bpeSeqCteSql(k: Int): String = {
    val steps = (1 to k).map { i =>
      s"""p$i AS (
         |  SELECT l[i] AS a, l[i + 1] AS b, CAST(sum(freq) AS BIGINT) AS n
         |  FROM (SELECT freq, l, unnest(range(1, len(l))) AS i
         |        FROM (SELECT freq, str_split(trim(sym), '  ') AS l
         |              FROM s${i - 1}))
         |  GROUP BY 1, 2),
         |b$i AS (SELECT a, b, n FROM p$i ORDER BY n DESC, a, b LIMIT 1),
         |s$i AS (
         |  SELECT w, freq,
         |    replace(sym, ' ' || a || '  ' || b || ' ',
         |            ' ' || a || b || ' ') AS sym
         |  FROM s${i - 1}, b$i)""".stripMargin
    }.mkString(",\n")
    val union = (1 to k)
      .map(i => s"SELECT $i AS rk, a, b, n FROM b$i").mkString(" UNION ALL ")
    s"""v AS (
       |  SELECT w, CAST(count(*) AS BIGINT) AS freq
       |  FROM (SELECT unnest(str_split(text, ' ')) AS w FROM documents)
       |  WHERE len(w) >= 2 GROUP BY w),
       |s0 AS (
       |  SELECT w, freq,
       |    ' ' || trim(regexp_replace(w, '(.)', '\\1  ', 'g')) || ' ' AS sym
       |  FROM v),
       |$steps,
       |m AS ($union)""".stripMargin
  }

  override def oracleSql: Map[String, String] = Map(
    "q333_yule_k" ->
      """WITH f AS (
        |  SELECT lang, u.t AS t, CAST(count(*) AS BIGINT) AS f
        |  FROM (SELECT lang,
        |          list_filter(str_split(text, ' '), x -> x <> '') AS tk
        |        FROM documents), unnest(tk) u(t)
        |  GROUP BY lang, u.t),
        |cc AS (
        |  SELECT lang, f AS r, CAST(count(*) AS BIGINT) AS nr
        |  FROM f GROUP BY lang, f),
        |agg AS (
        |  SELECT lang,
        |    CAST(sum(r * nr) AS HUGEINT) AS n,
        |    CAST(sum(nr) AS BIGINT) AS vocab,
        |    CAST(sum(CASE WHEN r = 1 THEN nr ELSE 0 END) AS BIGINT)
        |      AS hapax,
        |    CAST(sum(CAST(r AS HUGEINT) * r * nr) AS HUGEINT) AS srr
        |  FROM cc GROUP BY lang)
        |SELECT lang, CAST(n AS BIGINT) AS n_tokens, vocab,
        |  floor(CAST(hapax AS DOUBLE) / vocab * 1e4 + 0.5) / 1e4
        |    AS hapax_share,
        |  floor(CAST(10000 * (srr - n) AS DOUBLE)
        |    / CAST(n * n AS DOUBLE) * 1e4 + 0.5) / 1e4 AS yule_k
        |FROM agg ORDER BY lang""".stripMargin,
    "q331_f2_sketch" -> {
      val sCols = (0 until F2K).map(k =>
        s"CAST(sum((('0x' || substr(md5('f2:$k:' || t), 1, 1))::BIGINT" +
          s" % 2) * 2 - 1) AS BIGINT) AS s$k").mkString(",\n|    ")
      val est = (0 until F2K).map(k => s"s$k * s$k").mkString(" + ")
      s"""WITH toks AS (
        |  SELECT u.t AS t
        |  FROM (SELECT list_filter(str_split(text, ' '), x -> x <> '')
        |          AS tk FROM documents), unnest(tk) u(t)),
        |c AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_tokens,
        |    $sCols
        |  FROM toks),
        |e AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_distinct,
        |    CAST(sum(f * f) AS BIGINT) AS f2_exact
        |  FROM (SELECT t, CAST(count(*) AS BIGINT) AS f FROM toks
        |        GROUP BY t))
        |SELECT n_tokens, n_distinct, f2_exact,
        |  CAST(floor(CAST($est AS DOUBLE) / $F2K + 0.5) AS BIGINT)
        |    AS f2_est,
        |  floor(abs(CAST($est AS DOUBLE) / $F2K - f2_exact)
        |    / f2_exact * 1e4 + 0.5) / 1e4 AS rel_err
        |FROM c CROSS JOIN e""".stripMargin
    },
    "q327_word_burstiness" ->
      """WITH base AS (
        |  SELECT doc_id,
        |    list_filter(str_split(text, ' '), t -> t <> '') AS tk
        |  FROM documents),
        |nn AS (SELECT CAST(count(*) AS HUGEINT) AS nn FROM base),
        |wd AS (
        |  SELECT u.w AS w, doc_id, CAST(count(*) AS BIGINT) AS c
        |  FROM base, unnest(tk) u(w) GROUP BY u.w, doc_id),
        |top AS (
        |  SELECT w, CAST(sum(c) AS BIGINT) AS total FROM wd GROUP BY w
        |  ORDER BY total DESC, w LIMIT 20),
        |st AS (
        |  SELECT wd.w, top.total, CAST(count(*) AS BIGINT) AS df,
        |    CAST(sum(c * c) AS HUGEINT) AS scc
        |  FROM wd JOIN top ON wd.w = top.w
        |  GROUP BY wd.w, top.total)
        |SELECT st.w AS word, st.total, st.df,
        |  floor(CAST(st.total AS DOUBLE) / CAST(nn.nn AS DOUBLE)
        |    * 1e4 + 0.5) / 1e4 AS mean,
        |  floor(CAST(nn.nn * st.scc
        |      - CAST(st.total AS HUGEINT) * st.total AS DOUBLE)
        |    / CAST(nn.nn * CAST(st.total AS HUGEINT) AS DOUBLE)
        |    * 1e4 + 0.5) / 1e4 AS vmr
        |FROM st CROSS JOIN nn
        |ORDER BY st.total DESC, word""".stripMargin,
    "q315_rake_keywords" -> {
      val stops = TextOps.stopwordsSqlList
      val cleanSql = TextOps.cleanTextSql
      s"""WITH t AS (
        |  SELECT doc_id, str_split($cleanSql, ' ') AS tk FROM documents),
        |toks AS (
        |  SELECT doc_id, i AS pos, tk[i] AS tok,
        |    CASE WHEN tk[i] = '' OR tk[i] IN $stops THEN 1 ELSE 0 END
        |      AS brk
        |  FROM t, unnest(range(1, len(tk) + 1)) u(i)),
        |pid AS (
        |  SELECT doc_id, pos, tok, brk,
        |    sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS pid
        |  FROM toks),
        |phrases0 AS (
        |  SELECT array_to_string(list(tok ORDER BY pos), ' ') AS phrase,
        |    CAST(count(*) AS BIGINT) AS len
        |  FROM pid WHERE brk = 0 GROUP BY doc_id, pid),
        |phrases AS (SELECT * FROM phrases0 WHERE len BETWEEN 1 AND 4),
        |words AS (
        |  SELECT w,
        |    CAST(floor(1e6 * sum(len) / count(*)) AS BIGINT) AS wscore
        |  FROM (SELECT unnest(str_split(phrase, ' ')) AS w, len
        |        FROM phrases)
        |  GROUP BY w),
        |grouped AS (
        |  SELECT phrase, CAST(count(*) AS BIGINT) AS n_occ,
        |    max(len) AS n_words
        |  FROM phrases GROUP BY phrase),
        |scored AS (
        |  SELECT g.phrase, g.n_occ, g.n_words,
        |    CAST(sum(words.wscore) AS BIGINT) / 1e6 AS score
        |  FROM (SELECT phrase, n_occ, n_words,
        |          unnest(str_split(phrase, ' ')) AS w FROM grouped) g
        |  JOIN words ON g.w = words.w
        |  GROUP BY g.phrase, g.n_occ, g.n_words)
        |SELECT phrase, n_occ, n_words, score FROM scored
        |ORDER BY score DESC, phrase LIMIT 10""".stripMargin
    },
    "q242_lexical_burst" ->
      """WITH cutv AS (
        |  SELECT (min(doc_id) + max(doc_id)) // 2 AS cut
        |  FROM documents),
        |tok AS (
        |  SELECT (d.doc_id >= cutv.cut) AS late,
        |    unnest(str_split(d.text, ' ')) AS term
        |  FROM documents d CROSS JOIN cutv),
        |counts AS (
        |  SELECT term,
        |    CAST(sum(CASE WHEN NOT late THEN 1 ELSE 0 END) AS BIGINT)
        |      AS c1,
        |    CAST(sum(CASE WHEN late THEN 1 ELSE 0 END) AS BIGINT)
        |      AS c2
        |  FROM tok WHERE term <> ''
        |  GROUP BY term HAVING count(*) >= 5),
        |tot AS (
        |  SELECT CAST(sum(c1) AS BIGINT) AS n1t,
        |    CAST(sum(c2) AS BIGINT) AS n2t,
        |    CAST(count(*) AS DOUBLE) AS v
        |  FROM counts),
        |scored AS (
        |  SELECT term, c1, c2,
        |    ln(((c2 + 1) / (n2t + v)) / ((c1 + 1) / (n1t + v)))
        |      AS score
        |  FROM counts CROSS JOIN tot),
        |ranked AS (
        |  SELECT *, CAST(row_number() OVER (
        |    ORDER BY round(score, 6) DESC, term ASC) AS INTEGER) AS rk
        |  FROM scored)
        |SELECT rk, term, c1, c2, round(score, 4) + 0.0 AS burst_score
        |FROM ranked WHERE rk <= 10 ORDER BY rk""".stripMargin,
    "q243_keyness" ->
      """WITH lt AS (
        |  SELECT lang, term, CAST(count(*) AS BIGINT) AS c FROM (
        |    SELECT lang, unnest(str_split(text, ' ')) AS term
        |    FROM documents)
        |  WHERE term <> '' GROUP BY lang, term),
        |tg AS (
        |  SELECT term, CAST(sum(c) AS BIGINT) AS cg FROM lt
        |  GROUP BY term),
        |ltot AS (
        |  SELECT lang, CAST(sum(c) AS BIGINT) AS nl FROM lt
        |  GROUP BY lang),
        |grand AS (
        |  SELECT CAST(sum(cg) AS BIGINT) AS ng,
        |    CAST(count(*) AS DOUBLE) AS v
        |  FROM tg),
        |scored AS (
        |  SELECT lt.lang, lt.term, lt.c,
        |    ln(((lt.c + 1) / (ltot.nl + grand.v))
        |      / ((tg.cg - lt.c + 1) / (grand.ng - ltot.nl + grand.v)))
        |      AS score
        |  FROM lt JOIN tg USING (term) JOIN ltot USING (lang)
        |  CROSS JOIN grand),
        |ranked AS (
        |  SELECT *, CAST(row_number() OVER (PARTITION BY lang
        |    ORDER BY round(score, 6) DESC, term ASC) AS INTEGER) AS rk
        |  FROM scored)
        |SELECT lang, rk, term, c, round(score, 4) + 0.0 AS keyness
        |FROM ranked WHERE rk <= 3 ORDER BY lang, rk""".stripMargin,
    "q241_vocab_coverage" ->
      """WITH tok AS (
        |  SELECT unnest(str_split(text, ' ')) AS term FROM documents),
        |tc AS (
        |  SELECT term, CAST(count(*) AS BIGINT) AS c
        |  FROM tok WHERE term <> '' GROUP BY term)
        |SELECT CAST(count(*) AS BIGINT) AS v_types,
        |  CAST(sum(c) AS BIGINT) AS n_tokens,
        |  CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n1_hapax,
        |  CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n2_dis,
        |  round(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)
        |    / CAST(sum(c) AS DOUBLE), 4) AS p0_gt,
        |  round(count(*) + sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)
        |    * (sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) - 1)
        |    / (2.0 * (sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) + 1)), 4)
        |    AS chao1
        |FROM tc""".stripMargin,
    "q224_readability" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    CAST(len(str_split(text, ' ')) AS BIGINT) AS words,
        |    CAST(list_sum(list_transform(str_split(text, ' '),
        |      w -> greatest(1, len(regexp_extract_all(w, '[aeiouy]+')))))
        |      AS BIGINT) AS syllables
        |  FROM documents WHERE len(text) > 0),
        |s AS (
        |  SELECT doc_id, words, (words + 14) // 15 AS sentences,
        |    syllables
        |  FROM d)
        |SELECT doc_id, words, sentences, syllables,
        |  round(206.835
        |    - 1.015 * (CAST(words AS DOUBLE) / sentences)
        |    - 84.6 * (CAST(syllables AS DOUBLE) / words), 4) + 0.0
        |    AS flesch
        |FROM s ORDER BY doc_id""".stripMargin,
    "q227_textrank" -> {
      def iter(prev: String, cur: String): String =
        s"""c$cur AS (
          |  SELECT we.dst AS node,
          |    sum(r$prev.rank * we.w / odeg.odeg) AS in_sum
          |  FROM r$prev JOIN we ON r$prev.node = we.src
          |  JOIN odeg ON we.src = odeg.src
          |  GROUP BY we.dst),
          |r$cur AS (
          |  SELECT nodes.node,
          |    (1.0 - 0.85) / n.n + 0.85 * coalesce(c$cur.in_sum, 0.0)
          |      AS rank
          |  FROM nodes CROSS JOIN n
          |  LEFT JOIN c$cur ON nodes.node = c$cur.node)""".stripMargin
      s"""WITH t AS (
        |  SELECT doc_id, str_split(text, ' ') AS tk FROM documents),
        |idx AS (
        |  SELECT doc_id, tk,
        |    unnest(range(1, len(tk) + 1)) AS i FROM t),
        |tok AS (
        |  SELECT doc_id, i, tk[i] AS w FROM idx WHERE tk[i] <> ''),
        |adj AS (
        |  SELECT w,
        |    lag(w) OVER (PARTITION BY doc_id ORDER BY i) AS prev
        |  FROM tok),
        |und AS (
        |  SELECT least(prev, w) AS a, greatest(prev, w) AS b,
        |    count(*) AS c
        |  FROM adj WHERE prev IS NOT NULL AND prev <> w
        |  GROUP BY 1, 2 HAVING count(*) >= 3),
        |we AS (
        |  SELECT a AS src, b AS dst, CAST(c AS DOUBLE) AS w FROM und
        |  UNION ALL SELECT b, a, CAST(c AS DOUBLE) FROM und),
        |odeg AS (SELECT src, sum(w) AS odeg FROM we GROUP BY src),
        |nodes AS (SELECT DISTINCT src AS node FROM we),
        |n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
        |r0 AS (SELECT node, 1.0 / n AS rank FROM nodes CROSS JOIN n),
        |${iter("0", "1")},
        |${iter("1", "2")},
        |${iter("2", "3")},
        |ranked AS (
        |  SELECT node, rank, CAST(row_number() OVER (
        |    ORDER BY round(rank, 6) DESC, node ASC) AS INTEGER) AS rk
        |  FROM r3)
        |SELECT rk, node AS word, round(rank, 4) AS rank
        |FROM ranked WHERE rk <= 20 ORDER BY rk""".stripMargin
    },
    "q196_heaps_law" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(str_split(text, ' ')) AS term
        |  FROM documents),
        |per_doc AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_toks
        |  FROM toks GROUP BY doc_id),
        |first_seen AS (
        |  SELECT term, min(doc_id) AS first_doc FROM toks GROUP BY term),
        |b AS (SELECT min(doc_id) AS lo, max(doc_id) AS hi FROM per_doc),
        |cuts AS (
        |  SELECT CAST(i AS INTEGER) AS cp, lo + ((hi - lo) * i) // 20 AS cut
        |  FROM b, generate_series(1, 20) t(i)),
        |cum_toks AS (
        |  SELECT cp, cut, CAST(sum(n_toks) AS BIGINT) AS cum_tokens
        |  FROM per_doc CROSS JOIN cuts WHERE doc_id <= cut
        |  GROUP BY cp, cut),
        |cum_types AS (
        |  SELECT cp, CAST(count(*) AS BIGINT) AS cum_types
        |  FROM first_seen CROSS JOIN cuts WHERE first_doc <= cut
        |  GROUP BY cp),
        |pts AS (
        |  SELECT cp, cut, cum_tokens, cum_types
        |  FROM cum_toks JOIN cum_types USING (cp)),
        |fit AS (
        |  SELECT
        |    CASE WHEN max(cum_types) > min(cum_types) THEN
        |      round(regr_slope(ln(cum_types), ln(cum_tokens)), 4) END
        |      AS beta,
        |    CASE WHEN max(cum_types) > min(cum_types) THEN
        |      round(exp(regr_intercept(ln(cum_types), ln(cum_tokens))), 4)
        |      END AS k_coef,
        |    CASE WHEN max(cum_types) > min(cum_types) THEN
        |      round(regr_r2(ln(cum_types), ln(cum_tokens)), 4) END AS r2
        |  FROM pts)
        |SELECT cp, cut, cum_tokens, cum_types, beta, k_coef, r2
        |FROM pts CROSS JOIN fit ORDER BY cp""".stripMargin,
    "q167_fertility" ->
      """WITH f AS (
        |  SELECT lang,
        |    CAST(len(str_split(text, ' ')) AS BIGINT) AS w,
        |    CAST(len(regexp_extract_all(lower(text),
        |      '[a-z]+|[0-9]+|[^a-z0-9\s]+')) AS BIGINT) AS t
        |  FROM documents)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(w) AS BIGINT) AS n_words,
        |  CAST(sum(t) AS BIGINT) AS n_tokens,
        |  round(sum(t) / CAST(sum(w) AS DOUBLE), 4) AS fertility
        |FROM f GROUP BY lang ORDER BY lang""".stripMargin,
    "q164_oov_rate" ->
      s"""WITH toks AS (
        |  SELECT doc_id, unnest(str_split(text, ' ')) AS term
        |  FROM documents),
        |vc AS (SELECT term, count(*) AS cnt FROM toks GROUP BY term),
        |vocab AS (
        |  SELECT term FROM (
        |    SELECT term, row_number() OVER (ORDER BY cnt DESC, term ASC)
        |      AS rk FROM vc)
        |  WHERE rk <= $OovVocabK)
        |SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |  CAST(count(*) FILTER (v.term IS NULL) AS BIGINT) AS n_oov,
        |  round(count(*) FILTER (v.term IS NULL)
        |    / CAST(count(*) AS DOUBLE), 4) AS oov_rate
        |FROM toks t LEFT JOIN vocab v ON t.term = v.term
        |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin,
    "q137_bpe_fit" ->
      s"""WITH ${bpeSeqCteSql(10)}
         |SELECT CAST(rk AS INTEGER) AS rk, a || b AS pair, n
         |FROM m ORDER BY rk""".stripMargin,
    "q129_pmi_collocations" ->
      """WITH d AS (SELECT doc_id, str_split(text, ' ') AS tk
        |           FROM documents),
        |toks AS (SELECT doc_id, unnest(tk) AS term FROM d),
        |uni AS (SELECT term, count(*) AS c_t FROM toks GROUP BY term),
        |nu AS (SELECT CAST(sum(c_t) AS DOUBLE) AS n_uni FROM uni),
        |bi AS (
        |  SELECT tk[i] AS prev, tk[i + 1] AS term
        |  FROM (SELECT tk, unnest(range(1, len(tk))) AS i FROM d)),
        |bc AS (SELECT prev, term, count(*) AS c_ab
        |       FROM bi GROUP BY prev, term),
        |nb AS (SELECT CAST(sum(c_ab) AS DOUBLE) AS n_bi FROM bc),
        |scored AS (
        |  SELECT bc.prev, bc.term, c_ab,
        |    ln((c_ab / n_bi) / ((ua.c_t / n_uni) * (ub.c_t / n_uni)))
        |      AS pmi
        |  FROM bc JOIN uni ua ON ua.term = bc.prev
        |          JOIN uni ub ON ub.term = bc.term
        |  CROSS JOIN nu CROSS JOIN nb
        |  WHERE c_ab >= 50),
        |ranked AS (
        |  SELECT *, row_number() OVER (ORDER BY pmi DESC, prev, term)
        |    AS rk FROM scored)
        |SELECT rk, prev, term, c_ab, round(pmi, 4) + 0.0 AS pmi
        |FROM ranked WHERE rk <= 30 ORDER BY rk""".stripMargin,
    "q119_inverted_index" ->
      s"""WITH pairs AS (
         |  SELECT DISTINCT doc_id, t AS term FROM (
         |    SELECT doc_id, unnest(list_filter(str_split($cleanSql, ' '),
         |      t -> t NOT IN $stops AND t <> '')) AS t
         |    FROM documents)),
         |dfc AS (SELECT term, count(*) AS df FROM pairs GROUP BY term),
         |post AS (
         |  SELECT term, string_agg(CAST(doc_id AS VARCHAR), ','
         |                          ORDER BY doc_id) AS posting
         |  FROM (SELECT term, doc_id,
         |          row_number() OVER (PARTITION BY term
         |                             ORDER BY doc_id) AS rn
         |        FROM pairs)
         |  WHERE rn <= 10 GROUP BY term),
         |r AS (
         |  SELECT d.term, d.df, p.posting,
         |    row_number() OVER (ORDER BY d.df DESC, d.term) AS rk
         |  FROM dfc d JOIN post p ON d.term = p.term)
         |SELECT CAST(rk AS INTEGER) AS rk, term, df, posting
         |FROM r WHERE rk <= 200 ORDER BY rk""".stripMargin,
    "q121_word_entropy" ->
      s"""SELECT doc_id, CAST(len(w) AS BIGINT) AS n_words,
         |  round(coalesce(-list_sum(list_transform(
         |      list_sort(list_distinct(w)),
         |      d -> (CAST(len(list_filter(w, x -> x = d)) AS DOUBLE)
         |              / CAST(len(w) AS DOUBLE))
         |           * ln(CAST(len(list_filter(w, x -> x = d)) AS DOUBLE)
         |              / CAST(len(w) AS DOUBLE)))), 0.0) + 0.0, 4) AS ent
         |FROM (SELECT doc_id,
         |        list_filter(str_split($cleanSql, ' '), t -> t <> '') AS w
         |      FROM documents)
         |ORDER BY doc_id""".stripMargin,
    "q248_bpe_compression" ->
      s"""WITH RECURSIVE ${bpeSeqCteSql(10)},
         |enc AS (
         |  SELECT w, freq, sym AS st, 0 AS r FROM s0
         |  UNION ALL
         |  SELECT e.w, e.freq,
         |    replace(e.st,
         |      ' ' || m.a || '  ' || m.b || ' ',
         |      ' ' || m.a || m.b || ' ') AS st,
         |    e.r + 1
         |  FROM enc e JOIN m ON m.rk = e.r + 1
         |  WHERE e.r < 10),
         |fin AS (
         |  SELECT w, freq,
         |    len(str_split(trim(st), '  ')) AS ntok
         |  FROM enc
         |  WHERE r = coalesce((SELECT max(rk) FROM m), 0))
         |SELECT CAST(count(*) AS BIGINT) AS vocab_size,
         |  CAST(sum(freq) AS BIGINT) AS n_words,
         |  CAST(sum(freq * len(w)) AS BIGINT) AS symbols_before,
         |  CAST(sum(freq * ntok) AS BIGINT) AS tokens_after,
         |  round(sum(freq * ntok)
         |    / CAST(sum(freq * len(w)) AS DOUBLE), 4) AS compression,
         |  round(sum(freq * ntok) / CAST(sum(freq) AS DOUBLE), 4)
         |    AS tokens_per_word
         |FROM fin""".stripMargin,
    // q359: the same greedy longest-first match, generated from the
    // same WpCands list as a CASE chain inside a recursive walk
    "q370_unigram_fit" -> ulmFitSql,
    "q374_unigram_encode" -> ulmEncodeSql,
    "q359_wordpiece" -> {
      val caseChain = WpCands.map(p =>
        s"WHEN starts_with(rem, '$p') THEN '$p'").mkString("\n|      ")
      s"""WITH RECURSIVE words AS (
         |  SELECT w, CAST(count(*) AS BIGINT) AS freq
         |  FROM (SELECT unnest(str_split(text, ' ')) AS w
         |        FROM documents)
         |  WHERE regexp_matches(w, '^[a-z]+$$') AND len(w) <= $WpMaxLen
         |  GROUP BY w),
         |wp AS (
         |  SELECT w, freq, w AS rem, CAST([] AS VARCHAR[]) AS toks
         |  FROM words
         |  UNION ALL
         |  SELECT w, freq, substr(rem, len(tok) + 1),
         |    list_append(toks,
         |      CASE WHEN len(toks) = 0 THEN tok ELSE '##' || tok END)
         |  FROM (
         |    SELECT w, freq, rem, toks, CASE
         |      $caseChain
         |      END AS tok
         |    FROM wp WHERE rem <> '')),
         |toks AS (
         |  SELECT freq, unnest(toks) AS tok FROM wp WHERE rem = ''),
         |agg AS (
         |  SELECT tok, CAST(sum(freq) AS BIGINT) AS n
         |  FROM toks GROUP BY tok),
         |ranked AS (
         |  SELECT tok, n, row_number() OVER (ORDER BY n DESC, tok) AS rk
         |  FROM agg)
         |SELECT CAST(rk AS INTEGER) AS rk, tok, n
         |FROM ranked WHERE rk <= 30 ORDER BY rk""".stripMargin
    },
    "q132_bpe_encode" ->
      s"""WITH RECURSIVE ${bpeSeqCteSql(10)},
         |enc AS (
         |  SELECT w, freq, sym AS st, 0 AS r FROM s0
         |  UNION ALL
         |  SELECT e.w, e.freq,
         |    replace(e.st,
         |      ' ' || m.a || '  ' || m.b || ' ',
         |      ' ' || m.a || m.b || ' ') AS st,
         |    e.r + 1
         |  FROM enc e JOIN m ON m.rk = e.r + 1
         |  WHERE e.r < 10),
         |toks AS (
         |  SELECT freq, unnest(str_split(trim(st), '  ')) AS tok
         |  FROM enc
         |  WHERE r = coalesce((SELECT max(rk) FROM m), 0)),
         |agg AS (
         |  SELECT tok, CAST(sum(freq) AS BIGINT) AS n
         |  FROM toks GROUP BY tok),
         |ranked AS (
         |  SELECT tok, n, row_number() OVER (ORDER BY n DESC, tok) AS rk
         |  FROM agg)
         |SELECT CAST(rk AS INTEGER) AS rk, tok, n
         |FROM ranked WHERE rk <= 30 ORDER BY rk""".stripMargin,
    "q110_bpe_merges" ->
      """WITH w AS (
        |  SELECT w, CAST(count(*) AS BIGINT) AS freq
        |  FROM (SELECT unnest(str_split(text, ' ')) AS w FROM documents)
        |  WHERE len(w) >= 2 GROUP BY w),
        |p AS (
        |  SELECT substr(w, i, 2) AS pair, freq
        |  FROM (SELECT w, freq, unnest(range(1, len(w))) AS i FROM w)),
        |agg AS (
        |  SELECT pair, CAST(sum(freq) AS BIGINT) AS n
        |  FROM p GROUP BY pair),
        |r AS (
        |  SELECT pair, n,
        |    row_number() OVER (ORDER BY n DESC, pair) AS rk
        |  FROM agg)
        |SELECT pair, n, CAST(rk AS INTEGER) AS rk
        |FROM r WHERE rk <= 20 ORDER BY rk""".stripMargin,
    "q10_clean_text" ->
      s"""SELECT doc_id, $cleanSql AS cleaned
         |FROM documents ORDER BY doc_id""".stripMargin,
    "q75_chunking" ->
      """WITH t AS (
        |  SELECT doc_id, str_split(text, ' ') AS tk FROM documents),
        |c AS (
        |  SELECT doc_id, tk,
        |    unnest(generate_series(0,
        |      CAST(floor((len(tk) - 1) / 48) AS INT))) AS chunk_id
        |  FROM t),
        |sl AS (
        |  SELECT doc_id, chunk_id,
        |    tk[chunk_id * 48 + 1 : chunk_id * 48 + 64] AS chunk
        |  FROM c)
        |SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
        |  CAST(len(chunk) AS BIGINT) AS n_tokens,
        |  md5(array_to_string(chunk, ' ')) AS chunk_md5
        |FROM sl ORDER BY doc_id, chunk_id""".stripMargin,
    "q67_nfc_normalize" ->
      """SELECT doc_id, md5(nfc_normalize(text)) AS fp,
        |  nfc_normalize(text) <> text AS changed
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q11_stopword_filter" ->
      s"""SELECT doc_id,
         | array_to_string(list_filter(str_split(text, ' '),
         |   t -> t NOT IN $stops), ' ') AS kept
         |FROM documents ORDER BY doc_id""".stripMargin,
    "q12_bigrams_topk" ->
      s"""WITH cleaned AS (
         |  SELECT doc_id,
         |    list_filter(str_split($cleanSql, ' '), t -> t NOT IN $stops) AS toks
         |  FROM documents),
         |idx AS (
         |  SELECT doc_id, toks, unnest(range(1, len(toks))) AS i FROM cleaned),
         |pairs AS (
         |  SELECT doc_id, least(toks[i], toks[i+1]) AS a,
         |         greatest(toks[i], toks[i+1]) AS b FROM idx),
         |counts AS (
         |  SELECT doc_id, a, b, count(*) AS c FROM pairs GROUP BY doc_id, a, b),
         |ranked AS (
         |  SELECT *, row_number() OVER (PARTITION BY doc_id
         |            ORDER BY c DESC, a ASC, b ASC) AS rk FROM counts),
         |top AS (SELECT * FROM ranked WHERE rk <= 5),
         |flat AS (
         |  SELECT doc_id, rk*2+1 AS ord, a AS w FROM top
         |  UNION ALL SELECT doc_id, rk*2+2, b FROM top),
         |dedup AS (
         |  SELECT doc_id, w, min(ord) AS ord FROM flat GROUP BY doc_id, w)
         |SELECT doc_id, string_agg(w, ' ' ORDER BY ord) AS keywords
         |FROM dedup GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q12b_bigrams_inrow" -> // same contract as q12 → same oracle
      s"""WITH cleaned AS (
         |  SELECT doc_id,
         |    list_filter(str_split($cleanSql, ' '), t -> t NOT IN $stops) AS toks
         |  FROM documents),
         |idx AS (
         |  SELECT doc_id, toks, unnest(range(1, len(toks))) AS i FROM cleaned),
         |pairs AS (
         |  SELECT doc_id, least(toks[i], toks[i+1]) AS a,
         |         greatest(toks[i], toks[i+1]) AS b FROM idx),
         |counts AS (
         |  SELECT doc_id, a, b, count(*) AS c FROM pairs GROUP BY doc_id, a, b),
         |ranked AS (
         |  SELECT *, row_number() OVER (PARTITION BY doc_id
         |            ORDER BY c DESC, a ASC, b ASC) AS rk FROM counts),
         |top AS (SELECT * FROM ranked WHERE rk <= 5),
         |flat AS (
         |  SELECT doc_id, rk*2+1 AS ord, a AS w FROM top
         |  UNION ALL SELECT doc_id, rk*2+2, b FROM top),
         |dedup AS (
         |  SELECT doc_id, w, min(ord) AS ord FROM flat GROUP BY doc_id, w)
         |SELECT doc_id, string_agg(w, ' ' ORDER BY ord) AS keywords
         |FROM dedup GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q13_hashtags" ->
      """SELECT doc_id,
        | array_to_string(regexp_extract_all(
        |   '#' || lang || ' ' || text || ' #' || source, '#(\w+)', 1), ' ') AS tags
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q14_token_stats" ->
      """SELECT lang, count(*) AS n_docs,
        | CAST(sum(len(str_split(text, ' '))) AS BIGINT) AS total_tokens,
        | round(avg(n_chars), 4) AS avg_chars
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "q15_quality_score" ->
      s"""SELECT doc_id,
         | len(str_split(text, ' ')) AS n_tokens,
         | round(len(list_filter(str_split(text, ' '), t -> t IN $stops))
         |   / CAST(len(str_split(text, ' ')) AS DOUBLE), 4) AS stop_ratio,
         | round((1.0 - len(list_filter(str_split(text, ' '), t -> t IN $stops))
         |   / CAST(len(str_split(text, ' ')) AS DOUBLE))
         |  * least(1.0, len(str_split(text, ' ')) / 100.0), 4) AS quality
         |FROM documents ORDER BY doc_id""".stripMargin,
    "q16_lang_id" -> {
      def score(words: Seq[String]) =
        s"len(list_filter(str_split(text, ' '), t -> t IN ${words.map(w => s"'$w'").mkString("(", ",", ")")}))"
      val cols = langProfiles.map { case (l, ws) => s"${score(ws)} AS s_$l" }
      val langs = langProfiles.map(_._1)
      val cases = langs.map { l =>
        val wins = langs.filter(_ != l).map(o => s"s_$l >= s_$o").mkString(" AND ")
        s"WHEN s_$l > 0 AND $wins THEN '$l'"
      }.mkString(" ")
      s"""WITH scored AS (
         |  SELECT doc_id, ${cols.mkString(", ")} FROM documents)
         |SELECT doc_id, ${langs.map(l => s"s_$l").mkString(", ")},
         | CASE $cases ELSE 'und' END AS predicted
         |FROM scored ORDER BY doc_id""".stripMargin
    },
    "q187_code_switch" -> {
      def score(words: Seq[String]) =
        s"len(list_filter(str_split(text, ' '), t -> t IN ${words.map(w => s"'$w'").mkString("(", ",", ")")}))"
      val structs = langProfiles.map { case (l, ws) =>
        s"{'n': -${score(ws)}, 'lang': '$l'}"
      }.mkString("[", ", ", "]")
      s"""WITH ranked AS (
         |  SELECT doc_id, lang, list_sort($structs) AS srt
         |  FROM documents)
         |SELECT doc_id, lang,
         |  srt[1].lang AS top_lang,
         |  CAST(-srt[1].n AS BIGINT) AS top_hits,
         |  srt[2].lang AS second_lang,
         |  CAST(-srt[2].n AS BIGINT) AS second_hits,
         |  -srt[1].n > 0 AND -srt[2].n * 2 >= -srt[1].n AS mixed
         |FROM ranked ORDER BY doc_id""".stripMargin
    },
    "q170_langid_confusion" -> {
      def score(words: Seq[String]) =
        s"len(list_filter(str_split(text, ' '), t -> t IN ${words.map(w => s"'$w'").mkString("(", ",", ")")}))"
      val cols = langProfiles.map { case (l, ws) => s"${score(ws)} AS s_$l" }
      val langs = langProfiles.map(_._1)
      val cases = langs.map { l =>
        val wins = langs.filter(_ != l).map(o => s"s_$l >= s_$o").mkString(" AND ")
        s"WHEN s_$l > 0 AND $wins THEN '$l'"
      }.mkString(" ")
      s"""WITH scored AS (
         |  SELECT lang, ${cols.mkString(", ")} FROM documents),
         |pred AS (
         |  SELECT lang, CASE $cases ELSE 'und' END AS predicted
         |  FROM scored),
         |cm AS (
         |  SELECT lang, predicted, CAST(count(*) AS BIGINT) AS n
         |  FROM pred GROUP BY lang, predicted)
         |SELECT lang, predicted, n,
         |  round(n / CAST(sum(n) OVER (PARTITION BY lang) AS DOUBLE), 4)
         |    AS row_share,
         |  lang = predicted AS correct
         |FROM cm ORDER BY lang, predicted""".stripMargin
    },
    "q19_token_bpe" ->
      """SELECT doc_id,
        | CAST(len(str_split(text, ' ')) AS BIGINT) AS n_ws,
        | CAST(len(regexp_extract_all(lower(text),
        |   '[a-z]+|[0-9]+|[^a-z0-9\s]+')) AS BIGINT) AS n_bpe
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q25_rolling_hash" ->
      """SELECT doc_id,
        | list_reduce(
        |   list_prepend(CAST(7 AS BIGINT),
        |     list_transform(str_split(text, ' '),
        |       t -> CAST(ascii(t) + len(t) AS BIGINT))),
        |   (h, x) -> (h * 31 + x) % 2147483647) AS rhash
        |FROM documents ORDER BY doc_id""".stripMargin,
    // q140: same +0.0 idiom as q91 on every rounded column that can go
    // negative (slope is ~−1; a degenerate flat fit could round to −0.0).
    "q140_zipf_fit" ->
      """WITH toks AS (
        |  SELECT unnest(str_split(text, ' ')) AS t FROM documents),
        |counts AS (
        |  SELECT t, count(*) AS c FROM toks WHERE t <> '' GROUP BY t),
        |ranked AS (
        |  SELECT c, row_number() OVER (ORDER BY c DESC, t ASC) AS rk
        |  FROM counts),
        |top AS (SELECT * FROM ranked WHERE rk <= 1000)
        |SELECT CAST(count(*) AS BIGINT) AS n_vocab,
        |  CAST(sum(c) AS BIGINT) AS n_tokens,
        |  round(regr_slope(ln(c), ln(rk)), 4) + 0.0 AS zipf_slope,
        |  round(regr_intercept(ln(c), ln(rk)), 4) + 0.0 AS zipf_intercept,
        |  round(regr_r2(ln(c), ln(rk)), 4) + 0.0 AS r2
        |FROM top""".stripMargin,
    "q37_vocab_topk" ->
      s"""WITH toks AS (
         |  SELECT unnest(list_filter(str_split($cleanSql, ' '),
         |    t -> t NOT IN $stops AND t <> '')) AS t
         |  FROM documents),
         |counts AS (SELECT t, count(*) AS c FROM toks GROUP BY t),
         |ranked AS (
         |  SELECT *, row_number() OVER (ORDER BY c DESC, t ASC) AS rk
         |  FROM counts)
         |SELECT rk, t, c FROM ranked WHERE rk <= 100 ORDER BY rk""".stripMargin,
    "q38_length_histogram" ->
      """WITH h AS (
        |  SELECT n_chars // 100 AS bucket, count(*) AS n
        |  FROM documents GROUP BY 1)
        |SELECT bucket, n,
        |  round(CAST(sum(n) OVER (ORDER BY bucket
        |          ROWS UNBOUNDED PRECEDING) AS DOUBLE)
        |    / sum(n) OVER (), 4) AS cum_share
        |FROM h ORDER BY bucket""".stripMargin,
    "q36_pii_scrub" -> {
      val emailRe = """[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"""
      val phoneRe = """\b\d{3}-\d{3}-\d{4}\b"""
      val ipRe = """\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"""
      s"""WITH planted AS (
         |  SELECT doc_id,
         |    'contact user' || doc_id || '@example.com on ' ||
         |    CASE WHEN doc_id % 3 = 0
         |         THEN '555-010-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
         |         ELSE 'no phone' END ||
         |    ' from ' ||
         |    CASE WHEN doc_id % 4 = 0
         |         THEN '10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.1'
         |         ELSE 'unknown host' END ||
         |    ' :: ' || text AS t
         |  FROM documents)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(t, '$emailRe')) AS BIGINT) AS n_emails,
         |  CAST(len(regexp_extract_all(t, '$phoneRe')) AS BIGINT) AS n_phones,
         |  CAST(len(regexp_extract_all(t, '$ipRe')) AS BIGINT) AS n_ips,
         |  regexp_replace(
         |    regexp_replace(
         |      regexp_replace(t, '$emailRe', '[EMAIL]', 'g'),
         |      '$phoneRe', '[PHONE]', 'g'),
         |    '$ipRe', '[IP]', 'g') AS masked
         |FROM planted ORDER BY doc_id""".stripMargin
    },
    "q17_fingerprint" ->
      s"""WITH f AS (
         |  SELECT doc_id,
         |    md5(array_to_string(list_filter(str_split($cleanSql, ' '),
         |      t -> t NOT IN $stops), ' ')) AS fp
         |  FROM documents)
         |SELECT doc_id, fp, count(*) OVER (PARTITION BY fp) AS n_same
         |FROM f ORDER BY doc_id""".stripMargin,
  )
}
