package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.QueryModule
import graft.Barrier._
import graft.sources.Tables

/** Timestamp / JSON / event-time-window operators (SURVEY.md §2: P6, P7,
  * P8, S3's sink-time parse, plus map/json fns and the batch form of a
  * tumbling event-time window).
  *
  * All expressions are built-in Catalyst functions; filters and the
  * two-column projection push into the parquet scan. The tumbling-window
  * aggregation shuffles once on (bucket, event_type) with map-side
  * partial aggregation — the same plan shape survives at 100 TB since
  * bucket cardinality grows with time range, not row count.
  */
object TimeQueries extends QueryModule {

  /** P6: fixed-format timestamp parse (reference: reddit_consumer.py:162
    * `strptime(created, "%Y-%m-%d %H:%M:%S")`). The string column is
    * rendered from `ts` first (the corpus has no string dates), then
    * parsed back — the round-trip proves the parse. */
  def qDateParseFixed(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val rendered = date_format($"ts", "yyyy-MM-dd HH:mm:ss")
    Tables.events(s, dir)
      .select($"event_id", rendered.as("created"),
        to_timestamp(rendered, "yyyy-MM-dd HH:mm:ss").as("parsed"))
      .orderBy($"event_id")
  }

  /** P7: dynamic-format parse (reference: rss_consumer.py:160-164) — the
    * reference picks `%z` vs `%Z` depending on whether the timezone token
    * contains a digit. Same branch here: offset tokens ("+0200") parse as
    * instants; name tokens ("UTC") parse the date part as naive-UTC
    * (Python's %Z also yields a naive datetime). Even event_ids get an
    * offset token, odd ones a name token. */
  def qDateParseDynamic(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val tzTok = when($"event_id" % 2 === 0, lit("+0200")).otherwise(lit("UTC"))
    val published = concat(date_format($"ts", "yyyy-MM-dd HH:mm:ss"),
      lit(" "), tzTok)
    Tables.events(s, dir)
      .withColumn("published", published)
      .withColumn("tz_token", element_at(split($"published", " "), -1))
      .withColumn("parsed",
        when($"tz_token".rlike("\\d"),
          to_timestamp($"published", "yyyy-MM-dd HH:mm:ss XX"))
        .otherwise(to_timestamp(substring($"published", 1, 19),
          "yyyy-MM-dd HH:mm:ss")))
      .select($"event_id", $"published", $"parsed")
      .orderBy($"event_id")
  }

  /** P8: struct_time 9-tuple → timestamp (reference: rss_consumer.py:158-159
    * `datetime(*published_parsed[:-2])`). The int array is built from `ts`,
    * then the first six fields reconstruct the timestamp. */
  def qMakeTimestamp(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.events(s, dir)
      .withColumn("parts", array(
        year($"ts"), month($"ts"), dayofmonth($"ts"),
        hour($"ts"), minute($"ts"), second($"ts"),
        dayofweek($"ts"), dayofyear($"ts"), lit(-1)))
      // parts is stringified: the driver's pandas compare can't hash raw arrays
      .select($"event_id", array_join($"parts", ",").as("parts"),
        make_timestamp(
          element_at($"parts", 1), element_at($"parts", 2),
          element_at($"parts", 3), element_at($"parts", 4),
          element_at($"parts", 5), element_at($"parts", 6).cast("decimal(8,6)"))
          .as("reconstructed"))
      .orderBy($"event_id")
  }

  /** Map/JSON fns: extract a typed field from the JSON `props` column and
    * aggregate it per event_type (S3's dict handling + records.py serde). */
  def qJsonExtract(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.events(s, dir)
      .withColumn("k", get_json_object($"props", "$.k").cast("long"))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        round(avg($"k"), 4).as("avg_k"),
        max($"k").as("max_k"))
      .orderBy($"event_type")
  }

  /** Batch form of a tumbling event-time window: 6-hour buckets per
    * event_type (streaming variant lives in graft.streaming). */
  def qWindowTumbling(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.events(s, dir)
      .groupBy(window($"ts", "6 hours").as("w"), $"event_type")
      .agg(count(lit(1)).as("n"), round(sum($"value"), 4).as("sum_value"))
      .select($"w.start".as("bucket"), $"event_type", $"n", $"sum_value")
      .orderBy($"bucket", $"event_type")
  }

  /** Sliding RANGE-frame window: per-event-type daily totals with a
    * 7-day moving average. The frame is keyed on epoch-days (date
    * arithmetic both engines agree on bit-for-bit), so gaps in the
    * calendar shrink the window to the days that exist — RANGE
    * semantics, not ROWS. One (event_type) shuffle for the daily
    * aggregate; the window then runs inside each partition, and at
    * 100 TB the per-type daily frame is |days| rows however large the
    * raw event stream — the window input scales with time, not volume. */
  def qMovingAvg(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val daily = Tables.events(s, dir)
      .groupBy($"event_type", to_date($"ts").as("day"))
      .agg(round(sum($"value"), 4).as("day_total"))
    val w = Window.partitionBy($"event_type")
      .orderBy(datediff($"day", lit("1970-01-01")))
      .rangeBetween(-6, 0)
    daily
      .withColumn("ma7", round(avg($"day_total").over(w), 4))
      .select($"event_type", date_format($"day", "yyyy-MM-dd").as("day"),
        $"day_total", $"ma7")
      .orderBy($"event_type", $"day")
  }

  /** Batch sessionization (gaps-and-islands): per-user sessions split on
    * >30 min idle gaps — the batch twin of a streaming session window.
    * Two window functions over one (user_id, ts) shuffle; no self-join. */
  def qSessionize(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val byUser = Window.partitionBy($"user_id").orderBy($"ts")
    val gap = $"ts".cast("double") - lag($"ts", 1).over(byUser).cast("double")
    Tables.events(s, dir)
      .withColumn("new_sess",
        when(gap.isNull || gap > 1800.0, 1L).otherwise(0L))
      .withColumn("session_id", sum($"new_sess").over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy($"user_id", $"session_id")
      .agg(count(lit(1)).as("n_events"),
        min($"ts").as("session_start"),
        max($"ts").as("session_end"))
      .orderBy($"user_id", $"session_id")
  }

  /** q26's native twin: Spark's built-in `session_window` (gap-based
    * event-time sessions) instead of the hand-rolled gaps-and-islands
    * window pair — same 30-minute-gap semantics, one aggregation, and
    * the exact operator a streaming version would use. Session END here
    * is the window end (last event + gap), so the oracle adds the gap to
    * the islands CTE's max(ts). */
  def qSessionWindow(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.events(s, dir)
      .groupBy($"user_id", session_window($"ts", "30 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"))
      .select($"user_id", $"w.start".as("session_start"),
        $"w.end".as("session_end"), $"n_events")
      .orderBy($"user_id", $"session_start")
  }

  /** Time-windowed dedup (q89): suppress an event when the SAME
    * (user_id, event_type) fired within the previous hour — the
    * news-stream form of dedup, where a repeat is only a duplicate
    * while it is fresh (the reference's seen-links index never expires
    * entries; a 100 TB feed pipeline must). SEMANTICS: the gap is
    * measured against the immediate PREDECESSOR (kept or dropped), so a
    * key firing continuously at sub-hour intervals is suppressed for as
    * long as the burst lasts — this is burst-suppression, not an alert
    * throttle. A throttle ("emit at most once per hour") must compare
    * against the last KEPT event instead; that sequential-state variant
    * is q103_throttle_lastkept below. One window shuffle on the dedup
    * key, O(1) state per row (a single lag) — never a self-join. The
    * streaming twin is `dropDuplicatesWithinWatermark`
    * (StreamPipelines.scala:34), whose state TTL is this query's window
    * expressed as a watermark. */
  def qWindowedDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id", $"event_type")
      .orderBy($"ts", $"event_id")
    val gap = $"ts".cast("double") - lag($"ts", 1).over(w).cast("double")
    Tables.events(s, dir)
      .withColumn("gap", gap)
      .filter($"gap".isNull || $"gap" > 3600.0)
      .select($"event_id", $"user_id", $"event_type", $"ts")
      .orderBy($"event_id")
  }

  /** Calendar gap-fill / resample (q116): regularize a daily rollup so
    * EVERY (event_type, day) cell exists — missing days appear as
    * explicit zero rows flagged `filled` — the time-series contract
    * downstream consumers (q79's moving average, anomaly detection,
    * charting) silently break without: a RANGE frame shrinks over gaps
    * and an absent day reads as "no data" instead of "zero". The input
    * simulates a feed outage (every day-of-month ≡ 3 mod 7 dropped) so
    * the fill path is exercised, not vacuous. Scaffold = distinct types
    * × `sequence(lo, hi)` days — two dimension-sized frames cross
    * joined, never the event stream; the left join back to the daily
    * aggregate is broadcast-sized at any corpus scale (|days| grows
    * with time, not volume). */
  def qGapFill(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir)
      .select($"event_type", to_date($"ts").as("day"), $"value")
    val daily = ev.filter(dayofmonth($"day") % 7 =!= 3)
      .groupBy($"event_type", $"day")
      .agg(count(lit(1)).as("n"), round(sum($"value"), 4).as("sv"))
    val days = ev.agg(min($"day").as("lo"), max($"day").as("hi"))
      .select(explode(sequence($"lo", $"hi",
        expr("interval 1 day"))).as("day"))
    ev.select($"event_type").distinct()
      .crossJoin(days)
      .join(daily, Seq("event_type", "day"), "left")
      .withColumn("filled", $"n".isNull)
      .select($"event_type", date_format($"day", "yyyy-MM-dd").as("day"),
        coalesce($"n", lit(0L)).as("n"),
        coalesce($"sv", lit(0.0)).as("sum_value"), $"filled")
      .orderBy($"event_type", $"day")
  }

  /** VARIANT semi-structured extraction (q245) — the Spark 4 native
    * path for JSON columns (parse once into the binary VARIANT
    * encoding, then typed path extraction), vs q23's per-access string
    * parsing with get_json_object: on a 100 TB event lake the VARIANT
    * parse is paid ONCE per row and every downstream `variant_get` is
    * a binary field probe, not a re-parse — the open-lakehouse
    * semi-structured story (Parquet variant shredding). Semantics are
    * pinned to q23's: `try_variant_get(..., 'bigint')` returns NULL on
    * missing paths/cast failures exactly like the legacy function, so
    * the same DuckDB oracle applies; the item id folds to a 10-band
    * histogram to keep the output dimension-sized. */
  def qVariantJson(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val v = parse_json($"props")
    Tables.events(s, dir)
      .select(try_variant_get(v, "$.k", "bigint").as("k"))
      .filter($"k".isNotNull)
      .groupBy(pmod($"k", lit(10L)).as("k_band"))
      .agg(count(lit(1)).as("n"), min($"k").as("k_min"),
        max($"k").as("k_max"),
        countDistinct($"k").as("n_items"))
      .orderBy($"k_band")
  }

  /** Freedman–Diaconis histogram plan (q237) — the robust bin-width
    * rule (h = 2·IQR/n^⅓, Freedman & Diaconis 1981) every auto-binning
    * dashboard and KDE bandwidth heuristic starts from, per event_type
    * over `value`: Sturges under-bins heavy tails and Scott's rule
    * rides on the outlier-dragged stddev — IQR doesn't. Emits n, IQR,
    * h and the implied (fractional) bin count over the type's range —
    * the plan a charting layer materializes, kept fractional so no
    * ceil() sits on a float boundary. One exact-percentile aggregate
    * to |types| rows (→ q73's sketch at 100 TB), closed-form after. */
  def qFdBinning(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.events(s, dir)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        (percentile($"value", lit(0.75)) -
          percentile($"value", lit(0.25))).as("iqr"),
        min($"value").as("lo"), max($"value").as("hi"))
      .select($"event_type", $"n", round($"iqr", 4).as("iqr"),
        round(lit(2.0) * $"iqr" / cbrt($"n".cast("double")), 4)
          .as("bin_width"),
        // zero IQR (constant/1-row series): width 0, bin count
        // undefined → NULL via the nullif'd divisor (DuckDB's 0/0)
        round(($"hi" - $"lo") /
          when($"iqr" =!= 0.0,
            lit(2.0) * $"iqr" / cbrt($"n".cast("double"))), 4)
          .as("n_bins"))
      .orderBy($"event_type")
  }

  /** RFM feature snapshot (q239) — the classic recency / frequency /
    * monetary customer-value featurization (Hughes 1994; the segment
    * grid CRM and churn models start from), on purchase events:
    * recency = hours from the user's last purchase to the corpus
    * watermark, frequency = purchase count, monetary = summed value;
    * each dimension cut into VALUE-BASED terciles: the two exact
    * tercile cutpoints per metric come from one percentile aggregate
    * (a 1-row broadcast; q142's no-global-sort discipline — a global
    * ntile window would total-sort every purchaser on one reducer)
    * and the band is assigned map-side by comparing against them —
    * which also keeps tied values in ONE band, where ntile would split
    * them arbitrarily. Band 1 is always the "best" (recent / frequent
    * / high-spend) end; metrics rounded BEFORE banding so a band can't
    * ride on float dust; segment = the familiar "111"…"333" string. */
  def qRfmFeatures(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val p = Tables.events(s, dir)
      .filter($"event_type" === "purchase")
      .select($"user_id", unix_micros($"ts").as("tus"), $"value")
    val wm = p.agg(max($"tus").as("wm_us"))
    val rfm = p.groupBy($"user_id")
      .agg(max($"tus").as("last_us"),
        count(lit(1)).as("frequency"),
        round(sum($"value"), 4).as("monetary"))
      .crossJoin(broadcast(wm))
      .select($"user_id",
        round(($"wm_us" - $"last_us") / lit(3600000000.0), 4)
          .as("recency_h"),
        $"frequency", $"monetary")
    val cuts = rfm.agg(
      percentile($"recency_h", lit(1.0 / 3)).as("r1"),
      percentile($"recency_h", lit(2.0 / 3)).as("r2"),
      percentile($"frequency", lit(1.0 / 3)).as("f1"),
      percentile($"frequency", lit(2.0 / 3)).as("f2"),
      percentile($"monetary", lit(1.0 / 3)).as("m1"),
      percentile($"monetary", lit(2.0 / 3)).as("m2"))
    // low recency is best; high frequency/monetary are best
    val r = lit(1) + ($"recency_h" > $"r1").cast("int") +
      ($"recency_h" > $"r2").cast("int")
    val f = lit(1) + ($"frequency" < $"f2").cast("int") +
      ($"frequency" < $"f1").cast("int")
    val m = lit(1) + ($"monetary" < $"m2").cast("int") +
      ($"monetary" < $"m1").cast("int")
    rfm.crossJoin(broadcast(cuts))
      .select($"user_id", $"recency_h", $"frequency", $"monetary",
        concat(r.cast("string"), f.cast("string"), m.cast("string"))
          .as("segment"))
      .orderBy($"user_id")
  }

  /** Capture–recapture corpus estimate (q240) — Lincoln–Petersen with
    * Chapman's correction (N̂ = (n₁+1)(n₂+1)/(m+1) − 1): estimate the
    * TOTAL distinct-user population from two overlapping "captures"
    * (the first and second halves of the corpus window) without ever
    * running the full distinct — the ecology estimator data teams
    * reuse to price a dedup/identity-resolution job before running it
    * (m small vs n₁·n₂ ⇒ most of the population is still unseen). The
    * exact distinct rides along as the audit column with signed error.
    * One (user)-keyed conditional aggregate collapses the corpus;
    * everything after is one-row arithmetic. */
  def qCaptureRecapture(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir)
      .select($"user_id", unix_micros($"ts").as("tus"))
    val cut = ev.agg(((min($"tus") + max($"tus")) / 2).cast("long")
      .as("cut"))
    val flags = ev.crossJoin(broadcast(cut))
      .groupBy($"user_id")
      .agg(max(when($"tus" < $"cut", 1L).otherwise(0L)).as("s1"),
        max(when($"tus" >= $"cut", 1L).otherwise(0L)).as("s2"))
    flags.agg(
        sum($"s1").as("n1"), sum($"s2").as("n2"),
        sum($"s1" * $"s2").as("m"),
        count(lit(1)).as("n_true"))
      .select($"n1", $"n2", $"m", $"n_true",
        round(($"n1" + 1) * ($"n2" + 1) / ($"m" + lit(1.0)) - 1.0, 4)
          .as("n_hat"),
        (round((($"n1" + 1) * ($"n2" + 1) / ($"m" + lit(1.0)) - 1.0 -
          $"n_true") / $"n_true", 4) + lit(0.0)).as("rel_err"))
  }

  /** Feed-freshness SLA board (q232) — per event_type the lag between
    * its newest event and the corpus watermark (global max ts), with a
    * 24h SLA verdict: the first page of every ingestion dashboard, and
    * the batch companion of a streaming watermark monitor (q168
    * profiles intra-feed disorder; this catches a feed that STOPPED).
    * One partial-agg pass to |types| rows + a one-row broadcast
    * watermark; lag kept in exact integer microseconds until the final
    * division. */
  def qFreshnessSla(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val perType = Tables.events(s, dir)
      .groupBy($"event_type")
      .agg(max(unix_micros($"ts")).as("latest_us"),
        count(lit(1)).as("n"))
    val wm = perType.agg(max($"latest_us").as("wm_us"))
    perType.crossJoin(broadcast(wm))
      .select($"event_type", $"n",
        round(($"wm_us" - $"latest_us") / lit(3600000000.0), 4)
          .as("lag_hours"),
        (($"wm_us" - $"latest_us") <= lit(24L * 3600000000L))
          .as("sla_ok"))
      .orderBy($"event_type")
  }

  /** Inter-arrival exponential fit + exact KS goodness-of-fit (q233):
    * per event_type the MLE rate of the exponential model (λ̂ =
    * 1/mean gap) over consecutive same-type gaps, with the exact
    * Kolmogorov–Smirnov D against Exp(λ̂) — the "is this feed Poisson
    * or bursty/scripted?" verdict that q181's Fano index screens at
    * day granularity and this settles at event granularity (a bot
    * firing on a timer shows near-constant gaps: catastrophic KS fit).
    * q182's exact-ecdf discipline: gaps collapse to their distinct-
    * value grid per type (integer µs), ecdf is an integer cumsum
    * window on that grid, the model cdf 1−e^(−λg) is one exp per grid
    * row, and the statistic is the exact plug-in
    * D = max(|F_n(g)−F(g)|, |F_n(g⁻)−F(g)|) over the jump points —
    * BOTH one-sided ecdf limits, so a heavy tie hugging the model
    * curve from below cannot hide the gap under its own jump — the
    * windows run on distinct gap values per type, never the event
    * stream. Gap extraction partitions by
    * (type, DAY), not type alone: a per-type-only lag window sorts
    * each type's entire history on one reducer (with ~5 types that is
    * 5 hot partitions at 100 TB); day-scoping bounds every sort at a
    * day's volume and costs exactly one boundary gap per type-day —
    * immaterial to the fit and replayed identically by the oracle. */
  def qExpGapFit(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val byTypeDay = Window.partitionBy($"event_type", $"day")
      .orderBy($"ts", $"event_id")
    val gaps = Tables.events(s, dir)
      .select($"event_type", to_date($"ts").as("day"), $"ts", $"event_id")
      .withColumn("prev_us", lag(unix_micros($"ts"), 1).over(byTypeDay))
      .filter($"prev_us".isNotNull)
      .select($"event_type",
        (unix_micros($"ts") - $"prev_us").as("g"))
    val stats = gaps.groupBy($"event_type")
      .agg(count(lit(1)).as("n_gaps"),
        avg($"g".cast("double")).as("mean_g"))
    val grid = gaps.groupBy($"event_type", $"g")
      .agg(count(lit(1)).as("c"))
    val wg = Window.partitionBy($"event_type")
      .orderBy($"g").rowsBetween(Window.unboundedPreceding, 0)
    // exact one-sample D on a discrete grid takes BOTH one-sided limits
    // at every jump: sup|F_n − F| is attained either at the ecdf's
    // right-limit cum/n or its left-limit (cum−c)/n — dropping the
    // left term understates D whenever a heavy tie sits near the model
    // curve (the statistic would then miss the gap UNDER the jump).
    val modelCdf = lit(1.0) - exp(-$"g".cast("double") / $"mean_g")
    val d = grid
      .withColumn("cum", sum($"c").over(wg))
      .join(broadcast(stats), "event_type")
      .select($"event_type", $"n_gaps", $"mean_g",
        greatest(
          abs($"cum".cast("double") / $"n_gaps" - modelCdf),
          abs(($"cum" - $"c").cast("double") / $"n_gaps" - modelCdf))
          .as("dev"))
      .groupBy($"event_type", $"n_gaps", $"mean_g")
      .agg(max(round($"dev", 6)).as("ks_d6"))
    d.select($"event_type", $"n_gaps",
        round(lit(3600000000.0) / $"mean_g", 4).as("rate_per_hour"),
        round($"ks_d6", 4).as("ks_d"))
      .orderBy($"event_type")
  }

  /** Trending-items report (q234) — week-over-week heavy-hitter rank
    * shift: item engagement counts in the first vs second half of the
    * corpus window (split at the integer midpoint timestamp, q133's
    * cut), each half ranked independently, top-15 of the CURRENT half
    * with the rank delta vs the prior half (nulls = new entrant). The
    * "what changed" read a curation/trending pipeline publishes next
    * to q195's heavy-hitter list (which says only what's big NOW).
    * One conditional aggregate per item (both halves in a single
    * pass). NO |items| rank window survives to execution: the current
    * half's top-15 is Filter(row_number ≤ 15), which TopKWindowRule
    * rewrites to the bounded heap; the PRIOR-half rank of just those
    * 15 winners is recovered as 1 + predecessor count — one
    * distributed conditional aggregate of the |items| frame against
    * the 15-row broadcast, identical to ranking by (n_prev desc, item)
    * but with no single-partition sort anywhere. */
  def qTrendingItems(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir)
      .select(unix_micros($"ts").as("tus"),
        get_json_object($"props", "$.k").cast("long").as("item"))
      .filter($"item".isNotNull)
    val cut = ev.agg(((min($"tus") + max($"tus")) / 2).cast("long")
      .as("cut"))
    val counts = ev.crossJoin(broadcast(cut))
      .groupBy($"item")
      .agg(sum(when($"tus" < $"cut", 1L).otherwise(0L)).as("n_prev"),
        sum(when($"tus" >= $"cut", 1L).otherwise(0L)).as("n_cur"))
    val wCur = Window.orderBy($"n_cur".desc, $"item".asc)
    // zero-count items sort after every positive one, so the n_cur > 0
    // guard after the rank filter equals ranking the positive set
    val top = counts
      .withColumn("rk_cur", row_number().over(wCur))
      .filter($"rk_cur" <= 15)
      .filter($"n_cur" > 0)
    val winners = top.select($"item".as("w_item"), $"n_prev".as("w_np"))
    val preds = counts.crossJoin(broadcast(winners))
      .filter($"n_prev" > $"w_np" ||
        ($"n_prev" === $"w_np" && $"item" < $"w_item"))
      .groupBy($"w_item").agg(count(lit(1)).as("n_before"))
    top
      .join(broadcast(preds), $"item" === $"w_item", "left")
      .withColumn("rk_prev", when($"n_prev" > 0,
        (coalesce($"n_before", lit(0L)) + 1L).cast("int")))
      .select($"rk_cur", $"item", $"n_cur", $"n_prev", $"rk_prev",
        ($"rk_prev" - $"rk_cur").as("rank_gain"))
      .orderBy($"rk_cur")
  }

  /** A/B sample-size calculator (q259) — the pre-registration table
    * every experimentation platform serves next to q145's readout:
    * per event type, the measured baseline participation rate p (share
    * of users with ≥1 such event) and the per-arm n required to detect
    * a 5% RELATIVE lift at α = 0.05 two-sided, 80% power — the
    * two-proportion formula n = (z_{α/2} + z_β)²·2·p̄(1−p̄)/δ²
    * (Fleiss et al.; z constants literal 1.959964/0.841621 so both
    * engines compute the identical expression), plus how many
    * experiment-days that n costs at the observed daily user traffic.
    * One user-grain conditional aggregate collapses the corpus;
    * everything after is |types|-row arithmetic. */
  def qPowerAnalysis(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir)
    val glob = ev.agg(
      countDistinct($"user_id").cast("double").as("n_total"),
      ((max(unix_micros($"ts")) - min(unix_micros($"ts"))) /
        lit(86400000000.0)).as("days"))
    val perType = ev.select($"event_type", $"user_id").distinct()
      .groupBy($"event_type").agg(count(lit(1)).as("n_users"))
    val zSum2 = lit((1.959964 + 0.841621) * (1.959964 + 0.841621))
    val p = $"n_users".cast("double") / $"n_total"
    val delta = lit(0.05) * p
    val nArm = zSum2 * 2.0 * p * (lit(1.0) - p) / (delta * delta)
    perType.crossJoin(broadcast(glob))
      .select($"event_type", $"n_users", round(p, 4).as("base_rate"),
        round(nArm, 1).as("n_per_arm"),
        // a zero-span corpus (single timestamp) has no daily-traffic
        // rate → days_needed NULL via the nullif'd divisor
        round(nArm * 2.0 /
          when($"days" =!= 0.0, $"n_total" / $"days"), 1)
          .as("days_needed"))
      .orderBy($"event_type")
  }

  /** STL-lite decomposition (q255) — one pass of the classic
    * trend/seasonal/residual split (Cleveland et al. 1990's STL inner
    * loop, the moving-average special case): per (type, day) on the
    * gap-filled spine, trend = centered 7-day moving average (ROWS
    * ±3 — shrinks honestly at the edges), seasonal = the weekday mean
    * of the detrended series (weekday from epoch-day arithmetic,
    * q166's engine-agnostic form), residual = the rest — the frame
    * the monitoring family (q130/q149/q188) upgrades to once traffic
    * has real weekly shape: an alarm on the RESIDUAL doesn't fire
    * every Saturday. All windows on the |types|×|days| cell frame. */
  def qStlDecompose(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir)
      .select($"event_type", to_date($"ts").as("day"))
    val daily = ev.groupBy($"event_type", $"day")
      .agg(count(lit(1)).as("n"))
    val days = ev.agg(min($"day").as("lo"), max($"day").as("hi"))
      .select(explode(sequence($"lo", $"hi",
        expr("interval 1 day"))).as("day"))
    val filled = ev.select($"event_type").distinct()
      .crossJoin(days)
      .join(daily, Seq("event_type", "day"), "left")
      .select($"event_type", $"day",
        coalesce($"n", lit(0L)).as("n"),
        pmod(datediff($"day", lit("1970-01-01").cast("date")), lit(7))
          .as("wd"))
    val wT = Window.partitionBy($"event_type").orderBy($"day")
      .rowsBetween(-3, 3)
    val detr = filled
      .withColumn("trend", avg($"n".cast("double")).over(wT))
      .withColumn("detr", $"n" - $"trend")
    val wS = Window.partitionBy($"event_type", $"wd")
    detr
      .withColumn("seasonal", avg($"detr").over(wS))
      .select($"event_type", date_format($"day", "yyyy-MM-dd").as("day"),
        $"n", (round($"trend", 4) + lit(0.0)).as("trend"),
        (round($"seasonal", 4) + lit(0.0)).as("seasonal"),
        (round($"detr" - $"seasonal", 4) + lit(0.0)).as("residual"))
      .orderBy($"event_type", $"day")
  }

  /** Markov absorption probability (q249) — the dynamic-programming
    * read on q162's chain: from each state, the probability of
    * reaching `purchase` within 5 transitions (purchase absorbs at 1,
    * the END state at 0 — the "will this session still convert?"
    * number a real-time nudge system keys on, and the bounded-horizon
    * power-series form of the absorbing-chain solve (I−Q)⁻¹R that
    * avoids a matrix inverse). Corpus → |types|²-row matrix in one
    * lead-window pass (q162's plan); each of the 5 iterations is a
    * join+agg on that matrix — metadata-scale however big the corpus.
    * Oracle: 5 unrolled CTE rounds. */
  def qAbsorption(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val byUser = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val trans = Tables.events(s, dir)
      .select($"user_id", $"ts", $"event_id", $"event_type")
      .withColumn("next_type",
        coalesce(lead($"event_type", 1).over(byUser), lit("END")))
      .groupBy($"event_type".as("src"), $"next_type".as("dst"))
      .agg(count(lit(1)).as("n"))
    val m = trans
      .withColumn("p", $"n".cast("double") /
        sum($"n").over(Window.partitionBy($"src")))
      .select($"src", $"dst", $"p")
      .roundBarrier()
    val states = m.select($"src".as("state")).distinct()
    var pv = states.select($"state",
      when($"state" === "purchase", 1.0).otherwise(0.0).as("pc"))
    for (_ <- 1 to 5) {
      val nxt = m.join(pv.select($"state".as("dst"), $"pc"), "dst")
        .groupBy($"src").agg(sum($"p" * $"pc").as("flow"))
      pv = states.join(nxt.select($"src".as("state"), $"flow"),
          Seq("state"), "left")
        .select($"state",
          when($"state" === "purchase", 1.0)
            .otherwise(coalesce($"flow", lit(0.0))).as("pc"))
    }
    pv.select($"state", round($"pc", 4).as("p_convert_5"))
      .orderBy($"state")
  }

  /** Markov next-event evaluation (q229) — turns q162's transition
    * model into a graded predictor: for every observed transition,
    * predict the modal next type given the current one (argmax row of
    * the q162 matrix, ties to the lexicographically first type) and
    * score per-type hit counts and accuracy — the majority-class
    * baseline any sequence model must beat, and the in-sample eval a
    * session-simulation pipeline ships next to the matrix (documented:
    * fit and eval share the corpus; a production eval would use q133's
    * time split). Cost: ONE lead window on the session family's shared
    * user-keyed shuffle collapses the corpus to the |types|²-row
    * matrix; prediction and scoring are windows and joins on that
    * matrix only. */
  def qMarkovEval(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val byUser = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val counts = Tables.events(s, dir)
      .select($"user_id", $"ts", $"event_id", $"event_type")
      .withColumn("next_type", lead($"event_type", 1).over(byUser))
      .filter($"next_type".isNotNull)
      .groupBy($"event_type".as("prev_type"), $"next_type")
      .agg(count(lit(1)).as("n"))
    val wp = Window.partitionBy($"prev_type")
      .orderBy($"n".desc, $"next_type".asc)
    val pred = counts.withColumn("rk", row_number().over(wp))
      .filter($"rk" === 1)
      .select($"prev_type", $"next_type".as("predicted"))
    counts.join(pred, "prev_type")
      .groupBy($"prev_type")
      .agg(max($"predicted").as("predicted"),
        sum($"n").as("n_trans"),
        sum(when($"next_type" === $"predicted", $"n")
          .otherwise(lit(0L))).as("n_hits"))
      .select($"prev_type", $"predicted", $"n_trans", $"n_hits",
        round($"n_hits".cast("double") / $"n_trans", 4).as("accuracy"))
      .orderBy($"prev_type")
  }

  /** Simple exponential smoothing (q221): per-type smoothed daily
    * volume, s_t = α·y_t + (1−α)·s_{t−1} with α = 0.3 and s_1 = y_1
    * (Brown 1956; the ETS(A,N,N) baseline every monitoring stack runs
    * before anything fancier) — the denoised trend line next to the
    * alarm family (q130 level, q149 drift, q188 changepoint), on the
    * gap-filled day spine (a missing day must pull the level toward
    * zero, not silently skip). The recurrence is inherently sequential
    * PER TYPE but the corpus collapses to |types|×|days| cells first,
    * so the fold runs as one higher-order `aggregate` over each type's
    * day-sorted cell array — array length = calendar days, never event
    * volume (the q103 posture: the sequential part is metadata-scale).
    * Both engines evaluate the identical IEEE sequence (0.3·y + 0.7·s
    * per step — the oracle's recursive CTE replays it), so the raw
    * levels are bit-identical; presentation rounding is the explicit
    * floor(x·10⁴ + 0.5)/10⁴ double computation on BOTH engines rather
    * than the engines' round() builtins, which disagree exactly at
    * half-boundary doubles (Spark rounds the shortest decimal repr,
    * DuckDB the binary value — a real sf0.1 level, 657.04325, flipped
    * between them; identical IEEE ops cannot). Levels are
    * non-negative, so the floor form equals half-up. */
  def qSesSmooth(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir)
      .select($"event_type", to_date($"ts").as("day"))
    val daily = ev.groupBy($"event_type", $"day")
      .agg(count(lit(1)).as("n"))
    val days = ev.agg(min($"day").as("lo"), max($"day").as("hi"))
      .select(explode(sequence($"lo", $"hi",
        expr("interval 1 day"))).as("day"))
    val filled = ev.select($"event_type").distinct()
      .crossJoin(days)
      .join(daily, Seq("event_type", "day"), "left")
      .select($"event_type", $"day", coalesce($"n", lit(0L)).as("n"))
    filled
      .groupBy($"event_type")
      .agg(array_sort(collect_list(struct($"day", $"n"))).as("cells"))
      .select($"event_type", expr(
        """aggregate(
          |  cells,
          |  struct(cast(array() as array<struct<day: date, n: bigint,
          |    level: double>>) as out, cast(null as double) as s),
          |  (acc, c) -> struct(
          |    acc.out || array(named_struct(
          |      'day', c.day, 'n', c.n,
          |      'level', if(acc.s is null, cast(c.n as double),
          |        0.3d * cast(c.n as double) + 0.7d * acc.s))),
          |    if(acc.s is null, cast(c.n as double),
          |       0.3d * cast(c.n as double) + 0.7d * acc.s)),
          |  acc -> acc.out)""".stripMargin).as("out"))
      .select($"event_type", explode($"out").as("c"))
      .select($"event_type",
        date_format($"c.day", "yyyy-MM-dd").as("day"),
        $"c.n".as("n"),
        (floor($"c.level" * 1e4 + 0.5) / 1e4).as("level"))
      .orderBy($"event_type", $"day")
  }

  /** Robust anomaly detection (q130): flag (event_type, day) cells
    * whose volume deviates from the type's median by more than 3×MAD —
    * the median/median-absolute-deviation detector monitoring uses
    * where mean/stddev would be dragged by the very outliers it hunts
    * (Leys et al. 2013). Runs on the GAP-FILLED daily frame (q116's
    * contract: missing days exist as zeros), so a feed outage is
    * flaggable at all — the whole point of the alarm. Scale shape: the
    * corpus collapses to |types|×|days| cells first; both robust stats
    * are exact percentiles over that tiny frame, broadcast back onto
    * it — nothing after the first aggregate scales with event volume.
    * MAD=0 degenerates honestly: any deviation flags. */
  def qMadOutliers(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir)
      .select($"event_type", to_date($"ts").as("day"))
    val daily = ev.filter(dayofmonth($"day") % 7 =!= 3)
      .groupBy($"event_type", $"day").agg(count(lit(1)).as("n"))
    val days = ev.agg(min($"day").as("lo"), max($"day").as("hi"))
      .select(explode(sequence($"lo", $"hi",
        expr("interval 1 day"))).as("day"))
    val filled = ev.select($"event_type").distinct()
      .crossJoin(days)
      .join(daily, Seq("event_type", "day"), "left")
      .select($"event_type", $"day", coalesce($"n", lit(0L)).as("n"))
    val med = filled.groupBy($"event_type")
      .agg(percentile($"n", lit(0.5)).as("med"))
    val dev = filled.join(broadcast(med), "event_type")
      .withColumn("dev", abs($"n" - $"med"))
    val mad = dev.groupBy($"event_type")
      .agg(percentile($"dev", lit(0.5)).as("mad"))
    dev.join(broadcast(mad), "event_type")
      .filter($"dev" > lit(3.0) * $"mad")
      .select($"event_type", date_format($"day", "yyyy-MM-dd").as("day"),
        $"n", round($"med", 4).as("med"), round($"mad", 4).as("mad"),
        round($"dev", 4).as("dev"))
      .orderBy($"event_type", $"day")
  }

  /** Temporal split leakage audit (q133): split events into train/val
    * at a time cutoff (the only honest split for forecasting targets —
    * q59's hash split would leak the future) and report, per type, the
    * entity overlap across the boundary: users seen on BOTH sides are
    * the rows a leakage-sensitive eval must drop or bucket. One
    * (type, user) aggregate computes membership flags and side counts
    * in a single pass (conditional partials, no second scan, no join of
    * the two sides); the per-type rollup then reduces the user frame.
    * At 100 TB that is one corpus shuffle on the same (type, user) key
    * any per-user feature job already pays. */
  def qTimeSplitLeakage(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cutoff = lit("2024-01-24 00:00:00").cast("timestamp")
    Tables.events(s, dir)
      .groupBy($"event_type", $"user_id")
      .agg(
        max(when($"ts" < cutoff, 1).otherwise(0)).as("in_train"),
        max(when($"ts" >= cutoff, 1).otherwise(0)).as("in_val"),
        sum(when($"ts" < cutoff, 1L).otherwise(0L)).as("n_tr"),
        sum(when($"ts" >= cutoff, 1L).otherwise(0L)).as("n_va"))
      .groupBy($"event_type")
      .agg(
        sum($"n_tr").as("n_train"), sum($"n_va").as("n_val"),
        sum($"in_val".cast("long")).as("n_val_users"),
        sum(when($"in_train" === 1 && $"in_val" === 1, 1L)
          .otherwise(0L)).as("n_leaky_users"))
      .withColumn("leak_rate", // NULL when no val users (degenerate
        // 1-event corpus) — DuckDB's natural /0 result, same both sides
        round($"n_leaky_users" / when($"n_val_users" =!= 0L,
          $"n_val_users"), 4))
      .orderBy($"event_type")
  }

  /** Row shape for q103's keyed-run fold (concrete product Encoder). */
  final case class ThrottleEv(user_id: Long, event_type: String,
      event_id: Long, ts: java.sql.Timestamp, tsd: Double)

  /** Last-kept alert throttle (q103): emit at most one event per
    * (user_id, event_type) per hour, measuring the gap against the last
    * KEPT event — the true throttle semantics q89's lag-based form does
    * not have (under q89 a key firing every 50 minutes is suppressed
    * forever; here it emits hourly). The kept-set is inherently a
    * sequential scan per key, so it STREAMS: repartition on the throttle
    * key, secondary-sort within partitions by (key, ts, event_id), and
    * run one keyed-run fold over the partition iterator carrying only
    * `last_kept` — O(1) state per key, no group ever materializes (the
    * round-5 fix: the previous per-key collect_list held every event of
    * a key in ONE aggregation buffer row, so a bot/hot key at 100 TB was
    * millions of structs → executor OOM; Tungsten's external sort spills
    * instead of buffering). Same single shuffle, and the streaming twin
    * (streaming/Throttle.scala) keeps the identical O(1) state via
    * flatMapGroupsWithState — StreamingSpec proves batch/stream
    * agreement across a micro-batch split, DedupSpec pins the fold
    * against a driver-side reference and the demoted array form. */
  def qThrottleLastKept(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sorted = Tables.events(s, dir)
      .select($"user_id", $"event_type", $"event_id", $"ts",
        $"ts".cast("double").as("tsd"))
      .repartition($"user_id", $"event_type")
      .sortWithinPartitions($"user_id", $"event_type", $"tsd", $"event_id")
      .as[ThrottleEv]
    sorted.mapPartitions { it =>
      var curU = 0L
      var curT: String = null
      var first = true
      var last = -1e18
      it.flatMap { e =>
        if (first || e.user_id != curU || e.event_type != curT) {
          first = false; curU = e.user_id; curT = e.event_type
          last = -1e18
        }
        if (e.tsd - last > 3600.0) {
          last = e.tsd
          Iterator.single((e.event_id, e.user_id, e.event_type, e.ts))
        } else Iterator.empty
      }
    }.toDF("event_id", "user_id", "event_type", "ts")
      .orderBy($"event_id")
  }

  /** The round-5 array formulation of q103, DEMOTED to spec evidence:
    * one higher-order `aggregate` over the per-key collect_list — fully
    * codegen'd, but its aggregation buffer holds a key's entire burst,
    * which is unbounded at scale. Kept (unregistered) so DedupSpec can
    * assert the streaming fold is row-identical to it. */
  private[graft] def throttleLastKeptArray(s: SparkSession,
      dir: String): DataFrame = {
    import s.implicits._
    Tables.events(s, dir)
      .select($"event_id", $"user_id", $"event_type", $"ts")
      .groupBy($"user_id", $"event_type")
      .agg(array_sort(collect_list(struct(
        $"ts".cast("double").as("tsd"), $"event_id", $"ts"))).as("evs"))
      .select($"user_id", $"event_type", explode(expr(
        """aggregate(
          |  evs,
          |  named_struct(
          |    'last', cast(-1e18 as double),
          |    'keep', cast(array() as array<struct<event_id:bigint,
          |                                         ts:timestamp>>)),
          |  (acc, e) -> if(e.tsd - acc.last > 3600.0D,
          |    named_struct('last', e.tsd,
          |      'keep', array_append(acc.keep,
          |        named_struct('event_id', e.event_id, 'ts', e.ts))),
          |    acc),
          |  acc -> acc.keep)""".stripMargin)).as("k"))
      .select($"k.event_id".as("event_id"), $"user_id", $"event_type",
        $"k.ts".as("ts"))
      .orderBy($"event_id")
  }

  /** Strict-order funnel (q99): how many users did view → click →
    * purchase IN THAT ORDER — each step's timestamp must strictly follow
    * the user's first qualifying timestamp of the previous step (the
    * classic product-analytics sequence query, and the same pattern a
    * data pipeline uses for ordered provenance checks). Three chained
    * conditional aggregates, all keyed on user_id: after the first
    * groupBy the step frames are user-keyed one-row-per-user tables that
    * join map-side against the next event pass — the event table is
    * scanned once per step but only ever shuffled on the SAME user_id
    * key, so the exchanges align at any scale. */
  def qFunnel(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir)
      .select($"user_id", $"event_type", $"ts")
    val v = ev.filter($"event_type" === "view")
      .groupBy($"user_id").agg(min($"ts").as("t_view"))
    val c = ev.filter($"event_type" === "click")
      .join(v, "user_id").filter($"ts" > $"t_view")
      .groupBy($"user_id").agg(min($"ts").as("t_click"))
    val p = ev.filter($"event_type" === "purchase")
      .join(c, "user_id").filter($"ts" > $"t_click")
      .groupBy($"user_id").agg(min($"ts").as("t_purchase"))
    val steps = Seq(("1_view", v), ("2_click", c), ("3_purchase", p))
    steps.map { case (name, df) =>
      df.agg(count(lit(1)).as("n_users")).select(lit(name).as("step"),
        $"n_users")
    }.reduce(_.unionByName(_)).orderBy($"step")
  }

  /** Retention cohorts (q100): users grouped by first-seen week, counted
    * again in each later week they return — the cohort/retention matrix
    * of product analytics and the freshness-decay report of a crawl
    * pipeline. Shape: first-seen frame = one agg on user_id; activity
    * frame = distinct (user, week) — both shuffles key on user_id, then
    * one small agg on (cohort_week, week_offset). The activity frame is
    * the corpus-sized one and it is shuffled exactly once. */
  def qRetention(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val weeks = Tables.events(s, dir)
      .select($"user_id",
        floor($"ts".cast("double") / lit(7 * 86400)).cast("long").as("wk"))
      .distinct()
    val first = weeks.groupBy($"user_id").agg(min($"wk").as("cohort_wk"))
    weeks.join(first, "user_id")
      .select($"cohort_wk", ($"wk" - $"cohort_wk").as("week_offset"),
        $"user_id")
      .groupBy($"cohort_wk", $"week_offset")
      .agg(count(lit(1)).as("n_users"))
      .orderBy($"cohort_wk", $"week_offset")
  }

  /** As-of join — the canonical "operator Spark lacks" (SURVEY.md §7.3
    * preference (a): compose built-ins). Each purchase is joined to the
    * user's most recent click at-or-before it. Implementation: union the
    * two sides with a sort tag, one window pass carrying the latest click
    * struct forward per user — ONE shuffle on user_id, no join node at
    * all, versus the naive approach (range join + per-row max) that
    * explodes quadratically on hot users. Oracle: DuckDB's native
    * ASOF LEFT JOIN. */
  def qAsofJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir)
    val clicks = ev.filter($"event_type" === "click")
      .select($"user_id", $"ts",
        struct($"ts".as("click_ts"), $"value".as("click_value")).as("c"),
        lit(0).as("side"), lit(null).cast("long").as("event_id"),
        lit(null).cast("double").as("value"))
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"user_id", $"ts",
        lit(null).cast(clicks.schema("c").dataType).as("c"),
        lit(1).as("side"), $"event_id", $"value")
    val w = Window.partitionBy($"user_id")
      .orderBy($"ts".asc, $"side".asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    clicks.union(purchases)
      .withColumn("last_c", last($"c", ignoreNulls = true).over(w))
      .filter($"side" === 1)
      .select($"event_id", $"user_id", round($"value", 4).as("value"),
        $"last_c.click_ts".as("click_ts"),
        round($"last_c.click_value", 4).as("click_value"))
      .orderBy($"event_id")
  }

  /** Native as-of join (q334) — the same query as q27 answered by the
    * engine's OWN physical operator (graft.plans.AsOfJoinExec: custom
    * LogicalPlan + Strategy + SparkPlan — the (c)-tier of §7.3's
    * extension ladder, exercised end-to-end through planning,
    * EnsureRequirements co-partitioning, and a per-partition streamed
    * merge with O(1) state). q27's compositional form unions both
    * sides into ONE shuffled stream and runs a window over it; this
    * node shuffles/sorts each side separately on (user, ts) — the
    * SortMergeJoin shape — and never materializes the union. Same
    * DuckDB ASOF LEFT JOIN oracle as q27, so the hash match proves
    * operator ≡ composition ≡ DuckDB semantics on the same corpus. */
  def qAsofNative(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir)
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"event_id", $"user_id", $"ts", $"value")
    val clicks = ev.filter($"event_type" === "click")
      .select($"user_id", $"ts", $"ts".as("c_ts"),
        $"value".as("c_value"))
    graft.plans.AsOfJoin.of(purchases, clicks, "user_id", "ts")
      .select($"event_id", purchases("user_id"),
        round($"value", 4).as("value"),
        $"c_ts".as("click_ts"),
        round($"c_value", 4).as("click_value"))
      .orderBy($"event_id")
  }

  /** q335's WITHIN bound: attribute a purchase to a click only if the
    * click is at most this many seconds before it. */
  private val AsofTolSec = 3600L

  /** Toleranced as-of join (q335) — q334's native operator with its
    * production `WITHIN <tolerance>` surface (DuckDB ASOF / pandas
    * merge_asof tolerance): the latest at-or-before click matches only
    * if it is ≤ 1 h old; a staler latest click yields nulls, never an
    * older one (older ⇒ farther, so the bound is a post-filter on the
    * single buffered candidate — no extra state in the merge). Oracle:
    * DuckDB's plain ASOF LEFT JOIN wrapped in the same gap filter. */
  def qAsofTolerance(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir)
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"event_id", $"user_id", $"ts", $"value")
    val clicks = ev.filter($"event_type" === "click")
      .select($"user_id", $"ts", $"ts".as("c_ts"),
        $"value".as("c_value"))
    graft.plans.AsOfJoin.of(purchases, clicks, "user_id", "ts",
        Some(AsofTolSec * 1000000L)) // timestamp backing is micros
      .select($"event_id", purchases("user_id"),
        round($"value", 4).as("value"),
        $"c_ts".as("click_ts"),
        round($"c_value", 4).as("click_value"))
      .orderBy($"event_id")
  }

  /** Forward as-of join (q350) — the NEXT click at-or-after each
    * purchase (pandas merge_asof direction='forward'; DuckDB
    * `ASOF ... ON l.ts <= r.ts`): the upsell/reaction attribution
    * question, mirror-image of q334's last-click-before. Same
    * AsOfJoinExec single-pass merge: the forward candidate is the
    * merge's un-consumed stream head — the row the backward advance
    * loop stops AT — so the direction costs zero extra state and no
    * second sort. Exchanges/sorts identical to q334. */
  def qAsofForward(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir)
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"event_id", $"user_id", $"ts", $"value")
    val clicks = ev.filter($"event_type" === "click")
      .select($"user_id", $"ts", $"ts".as("c_ts"),
        $"value".as("c_value"))
    graft.plans.AsOfJoin.of(purchases, clicks, "user_id", "ts",
        None, "forward")
      .select($"event_id", purchases("user_id"),
        round($"value", 4).as("value"),
        $"c_ts".as("click_ts"),
        round($"c_value", 4).as("click_value"))
      .orderBy($"event_id")
  }

  /** Nearest as-of join (q351) — the closest click on EITHER side of
    * each purchase, gap-ties to the earlier (backward) click, bounded
    * by q335's 1 h tolerance (pandas merge_asof direction='nearest'):
    * sensor-reading alignment where before/after is noise and only
    * distance matters. Semantics pinned exactly: pick the smaller
    * absolute gap FIRST, then tolerance-filter the chosen candidate —
    * a nearer out-of-bound click nulls the row even when the farther
    * side would have been in bound (matching merge_asof). The oracle
    * replays as backward ASOF + forward ASOF + an exact-micros CASE
    * on the two gaps — no native nearest exists in DuckDB, which is
    * the point of owning the physical operator. */
  def qAsofNearest(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir)
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"event_id", $"user_id", $"ts", $"value")
    val clicks = ev.filter($"event_type" === "click")
      .select($"user_id", $"ts", $"ts".as("c_ts"),
        $"value".as("c_value"))
    graft.plans.AsOfJoin.of(purchases, clicks, "user_id", "ts",
        Some(AsofTolSec * 1000000L), "nearest")
      .select($"event_id", purchases("user_id"),
        round($"value", 4).as("value"),
        $"c_ts".as("click_ts"),
        round($"c_value", 4).as("click_value"))
      .orderBy($"event_id")
  }

  /** q349's bucket width: 6 h in micros. Spans are intra-day (≤ 24 h),
    * so a span explodes to ≤ 5 bucket rows — bounded fan-out. */
  private val IvBucketUs = 21600000000L

  /** Interval OVERLAP join (q349) — concurrent activity spans across
    * DIFFERENT users: per (user, day, type) the [first, last] event
    * span, then every (view-span, purchase-span) pair with
    * `v.t0 ≤ p.t1 AND p.t0 ≤ v.t1` — the interval×interval theta join
    * (q29 is point-in-range; q330/q345 are point-band). Naively a
    * quadratic BNLJ; here each span explodes to its covered 6 h
    * buckets (≤ 5 rows — fan-out bounded by span/width, the DeWitt
    * partitioned interval-join construction), pairs meet on bucket
    * EQUALITY, and exactly-once matching assigns each pair to the
    * OWNER bucket `⌊max(v0, p0)/W⌋` — which both sides provably cover
    * (max(v0,p0) ∈ [v0, v1] ∩ [p0, p1] under the overlap predicate,
    * and ⌊·/W⌋ is monotone). At 100 TB candidate volume is per-bucket
    * density², never corpus²; the oracle replays the naive quadratic
    * join. Overlap micros sum exactly as integers; one double divide
    * at the end. The 6 h width here is measured workload knowledge —
    * q369 (qIntervalProfile) publishes exploded-row volume, hottest-
    * bucket density and estimated candidate pairs per candidate W, the
    * pre-flight table to set the width (and maxSpan) confs from. */
  def qIntervalJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    def bkt(c: Column): Column =
      floor(c / lit(IvBucketUs.toDouble)).cast("long")
    val sp = Tables.events(s, dir)
      .filter($"event_type".isin("view", "purchase"))
      .groupBy($"user_id", to_date($"ts").as("day"), $"event_type")
      .agg(min(unix_micros($"ts")).as("t0"),
        max(unix_micros($"ts")).as("t1"))
    val v = sp.filter($"event_type" === "view")
      .select($"user_id".as("vu"), $"day",
        $"t0".as("v0"), $"t1".as("v1"))
      .withColumn("bucket", explode(sequence(bkt($"v0"), bkt($"v1"))))
    val p = sp.filter($"event_type" === "purchase")
      .select($"user_id".as("pu"), $"t0".as("p0"), $"t1".as("p1"))
      .withColumn("bucket", explode(sequence(bkt($"p0"), bkt($"p1"))))
    v.join(p, Seq("bucket"))
      .filter($"vu" =!= $"pu" && $"v0" <= $"p1" && $"p0" <= $"v1" &&
        $"bucket" === bkt(greatest($"v0", $"p0")))
      .select($"day",
        (least($"v1", $"p1") - greatest($"v0", $"p0")).as("ov_us"))
      .groupBy($"day")
      .agg(count(lit(1)).as("n_pairs"), sum($"ov_us").as("sum_us"))
      .select(date_format($"day", "yyyy-MM-dd").as("day"), $"n_pairs",
        (floor($"sum_us".cast("double") / $"n_pairs" / 100.0 + 0.5)
          / 1e4).as("mean_overlap_sec"))
      .orderBy($"day")
  }

  /** Naive-spelled interval overlap join (q363) — q349's question
    * written the way a user writes it: a plain theta join
    * `v.t0 <= p.t1 AND p.t0 <= v.t1` with no bucketing anywhere in the
    * query — and rewritten by `graft.plans.IntervalJoinRule` into the
    * both-sides-bucketed equi join (q330/q345's relationship to
    * BandJoinRule, extended to interval×interval). The width is
    * workload knowledge, so the rule activates through the
    * `spark.graft.intervalJoin.width` session conf. The conf is set on
    * a CHILD session (`newSession()` — own SessionState/conf, shared
    * SparkContext and extensions), not the caller's, so the width never
    * leaks into unrelated queries' plans (ADVICE r13: a session-global
    * width made every later interval-shaped join's plan order-dependent
    * on whether q363 had run). A set-build-restore dance would NOT
    * work instead: the rule fires at optimization time and
    * `df.write`/actions re-optimize from the logical plan, so the conf
    * must still be set when the driver executes the frame — the child
    * session travels with the returned DataFrame. Oracle = q349's
    * naive quadratic replay verbatim; Round13Spec pins zero BNLJ and
    * the two Generate fan-outs in the executed plan. */
  def qIntervalNaive(s0: SparkSession, dir: String): DataFrame = {
    val s = ivChildSession(s0)
    import s.implicits._
    val sp = Tables.events(s, dir)
      .filter($"event_type".isin("view", "purchase"))
      .groupBy($"user_id", to_date($"ts").as("day"), $"event_type")
      .agg(min(unix_micros($"ts")).as("t0"),
        max(unix_micros($"ts")).as("t1"))
    val v = sp.filter($"event_type" === "view")
      .select($"user_id".as("vu"), $"day",
        $"t0".as("v0"), $"t1".as("v1"))
    val p = sp.filter($"event_type" === "purchase")
      .select($"user_id".as("pu"), $"t0".as("p0"), $"t1".as("p1"))
    v.join(p, $"vu" =!= $"pu" && $"v0" <= $"p1" && $"p0" <= $"v1")
      .select($"day",
        (least($"v1", $"p1") - greatest($"v0", $"p0")).as("ov_us"))
      .groupBy($"day")
      .agg(count(lit(1)).as("n_pairs"), sum($"ov_us").as("sum_us"))
      .select(date_format($"day", "yyyy-MM-dd").as("day"), $"n_pairs",
        (floor($"sum_us".cast("double") / $"n_pairs" / 100.0 + 0.5)
          / 1e4).as("mean_overlap_sec"))
      .orderBy($"day")
  }

  /** q367/q368's preserved-side span bound: 24 h micros. The (user,
    * day, type) spans are intra-day by construction, so the rewrite's
    * span-overflow branch is provably empty here — set from q369's
    * measured `span_max_s` on any other workload. */
  private val IvMaxSpanUs = 86400000000L

  /** Child session for the naive-spelled interval queries: the width
    * conf must not leak into the caller's plans (ADVICE r13). The child
    * inherits the session extensions, so `IntervalJoinRule` is already
    * installed and only the width (and span) confs are set here. */
  private def ivChildSession(s0: SparkSession,
      withMaxSpan: Boolean = false): SparkSession = {
    val s = s0.newSession()
    // W = 6 h for the preserved-side forms too: a 10× width sweep
    // (BASELINE.md round-14 note) measured 6 h fastest
    // (29.4 s) vs 12 h (34.7) and 24 h (34.0) at identical 128M-pair
    // output — the margin fan-out S = ceil(maxSpan/W) matters less
    // than per-bucket density, and the cost class is the OUTPUT
    // volume itself (density² by the join's own semantics, q349's
    // documented class)
    s.conf.set(graft.plans.IntervalJoinRule.WidthConf,
      IvBucketUs.toString)
    if (withMaxSpan)
      s.conf.set(graft.plans.IntervalJoinRule.MaxSpanConf,
        IvMaxSpanUs.toString)
    s
  }

  /** The (user_id, day, event_type, t0, t1) activity-span frame q349/
    * q363/q367/q368/q369 all share: per (user, day, type) the
    * [first, last] event time in exact micros. */
  private def ivSpansRaw(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.events(s, dir)
      .filter($"event_type".isin("view", "purchase"))
      .groupBy($"user_id", to_date($"ts").as("day"), $"event_type")
      .agg(min(unix_micros($"ts")).as("t0"),
        max(unix_micros($"ts")).as("t1"))
  }

  /** Session-staged ivSpans (round 17, guide §2.4/§5): seven interval
    * queries re-derived the span frame — an events scan plus a
    * (user, day, type) shuffle — per query. Staged ONLY for callers on
    * the shared root session; the child-session queries (q349/q363/
    * q367/q368/q378) keep the raw build, because each `newSession()`
    * has a fresh UUID so a cache entry keyed on it would never be hit
    * again NOR released by the harness's `releaseAll(root)` — a
    * persisted-block leak, not a reuse. */
  private def ivSpans(s: SparkSession, dir: String): DataFrame =
    SessionCache.get(s, "iv_spans", dir)(ivSpansRaw(s, dir))

  /** LEFT OUTER interval enrichment (q367) — the verdict's round-14
    * form: KEEP every view span, attach any overlapping other-user
    * purchase span, spelled as the plain left-outer theta join a user
    * writes. `IntervalJoinRule` (preserved-side path, round 14)
    * rewrites it: the preserved view keys on its interval's ONE start
    * bucket (no fan-out ⇒ no duplicate null-extensions), the purchase
    * side explodes to its covered buckets plus ⌈maxSpan/W⌉ margin
    * buckets, and rows whose span exceeds maxSpan (none here — spans
    * are intra-day, the conf is 24 h; q369 publishes the measured
    * span_max to set it from on real data) route to a LOUD error
    * branch — exact under the contract, a descriptive failure when it
    * is violated, never a silent miss and never the whole-side
    * broadcast a nested-loop fallback would cost. Confs live on a
    * child session (q363's discipline — no cross-query leak). Output:
    * per view-day matched-pair count, UNMATCHED view count (the
    * outer-ness the oracle checks), and mean overlap. */
  def qIntervalLeft(s0: SparkSession, dir: String): DataFrame = {
    val s = ivChildSession(s0, withMaxSpan = true)
    import s.implicits._
    val sp = ivSpansRaw(s, dir)
    val v = sp.filter($"event_type" === "view")
      .select($"user_id".as("vu"), $"day",
        $"t0".as("v0"), $"t1".as("v1"))
    val p = sp.filter($"event_type" === "purchase")
      .select($"user_id".as("pu"), $"t0".as("p0"), $"t1".as("p1"))
    v.join(p, $"vu" =!= $"pu" && $"v0" <= $"p1" && $"p0" <= $"v1",
        "left_outer")
      .groupBy($"day")
      .agg(
        sum(when($"pu".isNotNull, 1L).otherwise(0L)).as("n_pairs"),
        sum(when($"pu".isNull, 1L).otherwise(0L)).as("n_lonely"),
        sum(when($"pu".isNotNull,
          least($"v1", $"p1") - greatest($"v0", $"p0"))
          .otherwise(0L)).as("sum_us"))
      .select(date_format($"day", "yyyy-MM-dd").as("day"),
        $"n_pairs", $"n_lonely",
        (floor($"sum_us".cast("double")
          / when($"n_pairs" > 0L, $"n_pairs") / 100.0 + 0.5)
          / 1e4).as("mean_overlap_sec"))
      .orderBy($"day")
  }

  /** SEMI interval join (q368) — "which view spans saw ANY concurrent
    * other-user purchase activity", the EXISTS spelling. Same
    * preserved-side rewrite as q367 (semi is build-duplication-
    * insensitive, so the margin-exploded purchase side needs no
    * dedup); per day the qualifying span count and mean span length.
    * Oracle replays the literal EXISTS. */
  def qIntervalSemi(s0: SparkSession, dir: String): DataFrame = {
    val s = ivChildSession(s0, withMaxSpan = true)
    import s.implicits._
    val sp = ivSpansRaw(s, dir)
    val v = sp.filter($"event_type" === "view")
      .select($"user_id".as("vu"), $"day",
        $"t0".as("v0"), $"t1".as("v1"))
    val p = sp.filter($"event_type" === "purchase")
      .select($"user_id".as("pu"), $"t0".as("p0"), $"t1".as("p1"))
    v.join(p, $"vu" =!= $"pu" && $"v0" <= $"p1" && $"p0" <= $"v1",
        "left_semi")
      .groupBy($"day")
      .agg(count(lit(1)).as("n_spans"),
        sum($"v1" - $"v0").as("span_us"))
      .select(date_format($"day", "yyyy-MM-dd").as("day"), $"n_spans",
        (floor($"span_us".cast("double") / $"n_spans" / 100.0 + 0.5)
          / 1e4).as("mean_span_sec"))
      .orderBy($"day")
  }

  /** FULL OUTER interval join (q378) — the round-15 completion of
    * IntervalJoinRule's type lattice: KEEP every view span AND every
    * purchase span, spelled as the plain full-outer theta join a user
    * writes. The rule decomposes it into inner matches plus each
    * side's LeftAnti null-extension and rewrites all three children —
    * inner via the both-sides owner-bucket explode, the antis via the
    * preserved-side single-bucket + margin-explode form — so the
    * final plan carries ZERO BroadcastNestedLoopJoin (Round15Spec
    * pins it) and both sides' spans ride the enforced maxSpan
    * contract. The purchase side carries its own day column as
    * PAYLOAD (never an equi conjunct — that would no-op the rewrite
    * by design) so unmatched purchases group under their own day.
    * Output per day: matched pair count, unmatched views, unmatched
    * purchases, mean overlap. Oracle replays the literal FULL JOIN. */
  def qIntervalFull(s0: SparkSession, dir: String): DataFrame = {
    val s = ivChildSession(s0, withMaxSpan = true)
    import s.implicits._
    val sp = ivSpansRaw(s, dir)
    val v = sp.filter($"event_type" === "view")
      .select($"user_id".as("vu"), $"day",
        $"t0".as("v0"), $"t1".as("v1"))
    val p = sp.filter($"event_type" === "purchase")
      .select($"user_id".as("pu"), $"day".as("pday"),
        $"t0".as("p0"), $"t1".as("p1"))
    v.join(p, $"vu" =!= $"pu" && $"v0" <= $"p1" && $"p0" <= $"v1",
        "full_outer")
      .groupBy(coalesce($"day", $"pday").as("day"))
      .agg(
        sum(when($"vu".isNotNull && $"pu".isNotNull, 1L).otherwise(0L))
          .as("n_pairs"),
        sum(when($"pu".isNull, 1L).otherwise(0L)).as("n_lonely_v"),
        sum(when($"vu".isNull, 1L).otherwise(0L)).as("n_lonely_p"),
        sum(when($"vu".isNotNull && $"pu".isNotNull,
          least($"v1", $"p1") - greatest($"v0", $"p0"))
          .otherwise(0L)).as("sum_us"))
      .select(date_format($"day", "yyyy-MM-dd").as("day"),
        $"n_pairs", $"n_lonely_v", $"n_lonely_p",
        (floor($"sum_us".cast("double")
          / when($"n_pairs" > 0L, $"n_pairs") / 100.0 + 0.5)
          / 1e4).as("mean_overlap_sec"))
      .orderBy($"day")
  }

  /** q369's candidate bucket widths, in hours. */
  private val IvWidthLadderH = Seq(1L, 3L, 6L, 12L, 24L)

  /** Interval-join width profiler (q369) — the verdict's round-14
    * pre-flight: `spark.graft.intervalJoin.width` and `.maxSpan` are
    * WORKLOAD knowledge (a mis-set width is a silent 10-100× cost
    * error at scale — q139's argument for join-key skew, applied to
    * interval density), so this publishes the table a user sets them
    * from. Per candidate width W ∈ {1,3,6,12,24} h over the shared
    * activity-span frame: exploded-row volume Σ(buckets covered), the
    * hottest bucket's density, and the estimated candidate-pair
    * volume Σ_b nv_b·np_b of the both-sides rewrite — pick the W
    * minimizing est_pairs + exploded_rows. Span stats (p50/p99/max
    * seconds) come from a whole-second histogram with a cumulative
    * window over the DISTINCT span-seconds domain (bounded ≤ 86 400
    * for intra-day spans — never the corpus; PLANS.md budget), and
    * `margin_buckets` = ⌈span_max/W⌉ is exactly the S the
    * preserved-side outer rewrite will use. All integer arithmetic;
    * est_pairs sums in decimal (bucket-density products overflow a
    * long sum at 100 TB) and outputs BIGINT — if a candidate width is
    * SO bad that its estimated pair volume exceeds a BIGINT, the ANSI
    * decimal→long cast fails loudly, which is itself the answer to
    * "can I use this W" (never a silent wrap). */
  def qIntervalProfile(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val sp = ivSpans(s, dir).select($"event_type", $"t0", $"t1")
    val sw = sp.select(expr("(t1 - t0) div 1000000").as("span_s"))
    val hist = sw.groupBy($"span_s").agg(count(lit(1)).as("c"))
    val nRow = sw.agg(count(lit(1)).as("n_spans"),
      max($"span_s").as("span_max_s"))
    val cum = hist
      .withColumn("cum", sum($"c").over(Window.orderBy($"span_s")))
      .crossJoin(broadcast(nRow))
    val stats = cum.agg(
        min(when(lit(2L) * $"cum" >= $"n_spans", $"span_s"))
          .as("span_p50_s"),
        min(when(lit(100L) * $"cum" >= lit(99L) * $"n_spans", $"span_s"))
          .as("span_p99_s"))
      .crossJoin(broadcast(nRow))
    val wdf = IvWidthLadderH.toDF("w_h")
      .withColumn("w_us", $"w_h" * lit(3600000000L))
    val bk = sp.crossJoin(broadcast(wdf))
      .select($"w_h", $"w_us", $"event_type",
        explode(expr("sequence(t0 div w_us, t1 div w_us)")).as("b"))
    val dens = bk.groupBy($"w_h", $"w_us", $"b").agg(
      sum(when($"event_type" === "view", 1L).otherwise(0L)).as("nv"),
      sum(when($"event_type" === "purchase", 1L).otherwise(0L))
        .as("np"))
    dens.groupBy($"w_h", $"w_us")
      .agg(
        sum(($"nv" + $"np").cast("decimal(38,0)")).cast("long")
          .as("exploded_rows"),
        max($"nv" + $"np").as("max_bucket_rows"),
        sum(($"nv".cast("decimal(19,0)") * $"np")).cast("long")
          .as("est_pairs"))
      .crossJoin(broadcast(stats))
      .select($"w_h".as("w_hours"), $"n_spans",
        $"span_p50_s", $"span_p99_s", $"span_max_s",
        $"exploded_rows", $"max_bucket_rows", $"est_pairs",
        expr("(span_max_s * 1000000 + w_us - 1) div w_us")
          .as("margin_buckets"))
      .orderBy($"w_hours")
  }

  /** Sweep-line core shared by q376/q377 (round-15 verdict #4): the
    * aggregate-consuming interval-overlap queries (q349/q363/q367)
    * only publish per-day COUNTS and SUMS, yet their plans
    * materialize the density² pair stream first (128M pairs at 10× —
    * BASELINE.md). The classic endpoint sweep computes both without
    * ever forming a pair, in O(n log n):
    *
    *  - PAIR COUNTS by complement: a (view, purchase) pair of one day
    *    overlaps (closed intervals) unless v1 < p0 or p1 < v0, and
    *    those two misses are disjoint — so per view span,
    *    matched = #{p0 ≤ v1} − #{p1 < v0}, two running endpoint
    *    counts. The strict/inclusive split maps exactly to window
    *    RANGE frames over the long micros ordering column:
    *    (-∞, -1] = strictly-before, (-∞, 0] = up-to-and-including.
    *  - OVERLAP SUMS by integration: Σ_pairs |[v0,v1] ∩ [p0,p1]| =
    *    ∫ activeV(t)·activeP(t) dt — the integrand counts every
    *    concurrently-active pair at every instant. Between
    *    consecutive endpoint times the integrand is constant, so the
    *    integral is a per-day running-sum walk over ≤ 2n endpoint
    *    rows. Products widen to decimal before the segment multiply
    *    (active² × 86400 s in micros overflows a long at 100 TB).
    *  - The vu ≠ pu exclusion by inclusion-exclusion: (user, day)
    *    holds at most ONE span per type, so the same-user correction
    *    is an equi join on (user, day) — linear, broadcast-able.
    *
    * Scale contract: everything shuffles once on DAY (the aggregate's
    * own key) and walks each day's endpoint list sequentially — the
    * partition grain the OUTPUT already demands; per-day cost is the
    * day's event count n, never its pair count n². This is the
    * scale-safe plan for the AGGREGATE spelling; IntervalJoinRule's
    * bucketed join remains right for pair-EMITTING consumers.
    * Returns (perView, perDay) where perView = (day, vu, matched)
    * cross-user overlap counts per view span, and perDay =
    * (day, sum_us) the cross-user overlap-micros sum as decimal. */
  private def ivSweep(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) =
    // Both sweep products staged per (session, dir) — round 17: the
    // three sweep twins (q376/q377/q385) each re-ran the whole endpoint
    // walk (2 day-windows over the exploded endpoint stream) to then
    // aggregate it three different ways. First consumer builds, the
    // twins read (guide §2.4); the harness releases at family end.
    (SessionCache.get(s, "iv_per_view", dir)(buildIvPerView(s, dir)),
      SessionCache.get(s, "iv_per_day", dir)(buildIvPerDay(s, dir)))

  /** Same-user correction frame shared by the two sweep products:
    * ≤1 span per (user, day, type) ⇒ one equi join. */
  private def ivSame(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sp = ivSpans(s, dir)
    val isV = $"event_type" === "view"
    val v = sp.filter(isV).select($"user_id".as("vu"), $"day",
      $"t0".as("v0"), $"t1".as("v1"))
    val p = sp.filter(!isV).select($"user_id".as("vu"), $"day",
      $"t0".as("p0"), $"t1".as("p1"))
    val sameOv = $"v0" <= $"p1" && $"p0" <= $"v1"
    v.join(p, Seq("vu", "day"))
      .select($"vu", $"day",
        when(sameOv, 1L).otherwise(0L).as("s_cnt"),
        when(sameOv, least($"v1", $"p1") - greatest($"v0", $"p0"))
          .otherwise(0L).as("s_us"))
  }

  private def buildIvPerView(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val sp = ivSpans(s, dir)
    val isV = $"event_type" === "view"
    // two endpoint rows per span, typed by (side, start/end)
    val ev = sp.select($"day", $"user_id", isV.as("is_v"),
        explode(array(struct($"t0".as("t"), lit(true).as("start")),
          struct($"t1".as("t"), lit(false).as("start")))).as("e"))
      .select($"day", $"user_id", $"is_v", $"e.t", $"e.start")
    val wLt = Window.partitionBy($"day").orderBy($"t".asc)
      .rangeBetween(Window.unboundedPreceding, -1)
    val wLe = Window.partitionBy($"day").orderBy($"t".asc)
      .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    val cums = ev
      .withColumn("pe_lt", coalesce(sum(when(!$"is_v" && !$"start", 1L)
        .otherwise(0L)).over(wLt), lit(0L)))
      .withColumn("ps_le", sum(when(!$"is_v" && $"start", 1L)
        .otherwise(0L)).over(wLe))
    // per view span: purchases NOT missing on either side
    val starts = cums.filter($"is_v" && $"start")
      .select($"day", $"user_id".as("vu"), $"pe_lt".as("c_lt"))
    val ends = cums.filter($"is_v" && !$"start")
      .select($"day", $"user_id".as("vu"), $"ps_le".as("c_le"))
    starts.join(ends, Seq("day", "vu"))
      .join(ivSame(s, dir).select($"day", $"vu", $"s_cnt"),
        Seq("day", "vu"), "left")
      .select($"day", $"vu",
        ($"c_le" - $"c_lt" - coalesce($"s_cnt", lit(0L))).as("matched"))
  }

  private def buildIvPerDay(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // ∫ activeV·activeP dt: collapse ties, run both actives, integrate
    val integ = ivRuns(s, dir)
      .groupBy($"day")
      .agg(sum(($"av" * $"ap").cast("decimal(38,0)") * $"seg")
        .as("all_us"))
    val sameDay = ivSame(s, dir).groupBy($"day")
      .agg(sum($"s_us").as("same_us"))
    integ.join(sameDay, Seq("day"), "left")
      .select($"day",
        ($"all_us" - coalesce($"same_us", lit(0L)).cast("decimal(38,0)"))
          .as("sum_us"))
  }

  /** The per-day active-count walk shared by ivSweep's integral and
    * q382's coverage: endpoint events collapsed per (day, t), running
    * view/purchase active counts, and each row's segment length to
    * the next event — the piecewise-constant profile every sweep
    * aggregate integrates over. Staged per (session, dir) — consumed
    * by the sweep integral AND q382's coverage aggregate. */
  private def ivRuns(s: SparkSession, dir: String): DataFrame =
    SessionCache.get(s, "iv_runs", dir)(buildIvRuns(s, dir))

  private def buildIvRuns(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val sp = ivSpans(s, dir)
    val isV = $"event_type" === "view"
    val ev = sp.select($"day", isV.as("is_v"),
        explode(array(struct($"t0".as("t"), lit(true).as("start")),
          struct($"t1".as("t"), lit(false).as("start")))).as("e"))
      .select($"day", $"is_v", $"e.t", $"e.start")
    val deltas = ev.groupBy($"day", $"t").agg(
      (sum(when($"is_v" && $"start", 1L).otherwise(0L)) -
        sum(when($"is_v" && !$"start", 1L).otherwise(0L))).as("dv"),
      (sum(when(!$"is_v" && $"start", 1L).otherwise(0L)) -
        sum(when(!$"is_v" && !$"start", 1L).otherwise(0L))).as("dp"))
    val wRun = Window.partitionBy($"day").orderBy($"t".asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wLead = Window.partitionBy($"day").orderBy($"t".asc)
    deltas
      .withColumn("av", sum($"dv").over(wRun))
      .withColumn("ap", sum($"dp").over(wRun))
      .withColumn("seg", coalesce(lead($"t", 1).over(wLead) - $"t",
        lit(0L)))
  }

  /** Interval coverage & concurrency profile (q382) — the UNION-
    * length family from the same endpoint walk: per day the covered
    * time (measure where ≥1 view span is active / ≥1 purchase span /
    * BOTH — the window all of q349's pairs live inside), and the peak
    * instantaneous pair density max(activeV·activeP) — the capacity
    * number a concurrency-priced system plans against (q200 tracks
    * peak SESSIONS; this is the peak of the pairwise interaction the
    * interval joins price). Union length is exactly what pairwise
    * operators CANNOT express (overlap double-counts); the sweep gets
    * it for free from the running-active profile. All exact integer
    * micros; zero joins, zero pairs. */
  def qIntervalCoverage(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    ivRuns(s, dir).groupBy($"day").agg(
        sum(when($"av" > 0L, $"seg").otherwise(0L)).as("view_cov_us"),
        sum(when($"ap" > 0L, $"seg").otherwise(0L)).as("purch_cov_us"),
        sum(when($"av" > 0L && $"ap" > 0L, $"seg").otherwise(0L))
          .as("joint_cov_us"),
        max(when($"seg" > 0L, $"av" * $"ap").otherwise(0L))
          .as("peak_pairs"))
      .select(date_format($"day", "yyyy-MM-dd").as("day"),
        $"view_cov_us", $"purch_cov_us", $"joint_cov_us", $"peak_pairs")
      .orderBy($"day")
  }

  /** Sweep-line interval-overlap aggregate (q376) — q349's exact
    * question and output, answered WITHOUT materializing pairs: per
    * day the cross-user (view, purchase) overlapping-pair count and
    * mean overlap, from the ivSweep endpoint walk. Oracle = q349's
    * naive quadratic replay VERBATIM (same SQL string) — the
    * strongest possible equivalence pin for the O(n log n) plan. */
  def qIntervalSweep(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (perView, perDay) = ivSweep(s, dir)
    perView.groupBy($"day").agg(sum($"matched").as("n_pairs"))
      .filter($"n_pairs" > 0L)
      .join(perDay, Seq("day"), "left")
      .select(date_format($"day", "yyyy-MM-dd").as("day"), $"n_pairs",
        (floor(coalesce($"sum_us", lit(0L).cast("decimal(38,0)"))
          .cast("double") / $"n_pairs" / 100.0 + 0.5) / 1e4)
          .as("mean_overlap_sec"))
      .orderBy($"day")
  }

  /** Sweep-line LEFT-OUTER twin (q377) — q367's exact output (pair
    * count, UNMATCHED view count, mean overlap per day) from the same
    * endpoint walk: a view span is lonely exactly when its sweep
    * matched-count is zero, so outer-ness costs nothing extra. Oracle
    * = q367's literal LEFT JOIN replay VERBATIM. */
  def qSweepLeft(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (perView, perDay) = ivSweep(s, dir)
    perView.groupBy($"day").agg(
        sum($"matched").as("n_pairs"),
        sum(when($"matched" === 0L, 1L).otherwise(0L)).as("n_lonely"))
      .join(perDay, Seq("day"), "left")
      .select(date_format($"day", "yyyy-MM-dd").as("day"),
        $"n_pairs", $"n_lonely",
        (floor(coalesce($"sum_us", lit(0L).cast("decimal(38,0)"))
          .cast("double") / when($"n_pairs" > 0L, $"n_pairs") / 100.0
          + 0.5) / 1e4).as("mean_overlap_sec"))
      .orderBy($"day")
  }

  /** Sweep-line SEMI twin (q385) — q368's exact output (per day the
    * count and mean length of view spans with ANY concurrent
    * cross-user purchase) from the endpoint walk: a span qualifies
    * exactly when its sweep matched-count is positive, so the EXISTS
    * is a filter on the per-view frame — no join ever runs against
    * the purchase side. Completes the sweep twins: q376≡q349 (inner
    * aggregate), q377≡q367 (left outer), q385≡q368 (semi). Oracle =
    * q368's literal EXISTS replay VERBATIM. */
  def qSweepSemi(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (perView, _) = ivSweep(s, dir)
    val v = ivSpans(s, dir).filter($"event_type" === "view")
      .select($"user_id".as("vu"), $"day", ($"t1" - $"t0").as("span_us"))
    perView.filter($"matched" > 0L)
      .join(v, Seq("day", "vu"))
      .groupBy($"day")
      .agg(count(lit(1)).as("n_spans"), sum($"span_us").as("span_us"))
      .select(date_format($"day", "yyyy-MM-dd").as("day"), $"n_spans",
        (floor($"span_us".cast("double") / $"n_spans" / 100.0 + 0.5)
          / 1e4).as("mean_span_sec"))
      .orderBy($"day")
  }

  /** Event-sequence motif count (q358) — CEP-lite pattern matching
    * (the MATCH_RECOGNIZE shape) over each user's event-type string:
    * per user, order events by (ts, event_id), take each type's
    * initial (c/e/p/s/v), and count non-overlapping
    * `v[^p]*c[^p]*p` motifs — a view, then a click, then the FIRST
    * purchase after it, with no intervening purchase: the converting
    * journey counter. The char-class-only regex is deterministic
    * across engines (greedy `[^p]*` cannot cross a `p`, so both
    * java.util.regex and RE2 pin the same leftmost spans — no
    * backtracking-order ambiguity). One groupBy shuffle; per-user
    * state is that user's event count, never the corpus. */
  def qEventMotifs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.events(s, dir)
      .groupBy($"user_id")
      .agg(concat_ws("", transform(
        array_sort(collect_list(struct($"ts", $"event_id",
          substring($"event_type", 1, 1).as("i")))),
        r => r.getField("i"))).as("seq"))
      .select($"user_id", length($"seq").cast("long").as("seq_len"),
        size(regexp_extract_all($"seq", lit("v[^p]*c[^p]*p"), lit(0)))
          .cast("long").as("n_motifs"))
      .orderBy($"user_id")
  }

  /** Motif overlap policies (q371) — q358's converting-journey motif
    * `v[^p]*c[^p]*p` re-counted under the three MATCH_RECOGNIZE
    * AFTER-MATCH policies, which answer DIFFERENT product questions
    * from the same pattern:
    *  - SKIP PAST LAST ROW (q358's): non-overlapping leftmost scan —
    *    "how many completed journeys";
    *  - SKIP TO NEXT ROW (overlapping starts): every position where a
    *    match BEGINS — "how many view-entry points lead to a
    *    purchase" (each start counted even when journeys share their
    *    purchase);
    *  - ONE ROW PER MATCH / first-only: did the user convert at all.
    * The overlapping count checks `^v[^p]*c[^p]*p` on each suffix —
    * anchored EXISTENCE of a regular pattern, identical between
    * backtracking java.util.regex and RE2 (no lookahead, which RE2
    * lacks — the portable spelling of overlap counting). Per-user
    * cost is O(seq²) on that user's OWN event count (never the
    * corpus), all in-row higher-order functions after q358's single
    * groupBy. Output: one scalar row (totals + matched-user counts
    * per policy). */
  def qMotifPolicies(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val Motif = "v[^p]*c[^p]*p"
    val perUser = Tables.events(s, dir)
      .groupBy($"user_id")
      .agg(concat_ws("", transform(
        array_sort(collect_list(struct($"ts", $"event_id",
          substring($"event_type", 1, 1).as("i")))),
        r => r.getField("i"))).as("seq"))
      .select(
        size(regexp_extract_all($"seq", lit(Motif), lit(0)))
          .cast("long").as("n_skip"),
        size(filter(sequence(lit(1), length($"seq")),
          i => $"seq".substr(i, length($"seq")).rlike("^" + Motif)))
          .cast("long").as("n_starts"))
    perUser.agg(
      count(lit(1)).as("n_users"),
      sum($"n_skip").as("skip_motifs"),
      sum(when($"n_skip" > 0L, 1L).otherwise(0L)).as("skip_users"),
      sum($"n_starts").as("start_motifs"),
      sum(when($"n_starts" > 0L, 1L).otherwise(0L)).as("start_users"))
  }

  /** Circular time-of-day statistics (q375) — directional statistics
    * (Fisher 1993; Mardia & Jupp 2000) on the 24 h clock, the family
    * linear moments get WRONG for times-of-day (the linear mean of
    * 23:00 and 01:00 is noon; the circular mean is midnight): per
    * event type the circular mean hour (atan2 of the summed unit
    * vectors), the resultant length R ∈ [0,1] (1 = perfectly peaked
    * schedule, 0 = uniform — bot-like precision vs human spread,
    * q198's bot score from the directional angle), and the Rayleigh
    * z = n·R² whose large values reject uniformity — the diurnal-
    * periodicity test q166's seasonality χ² approximates with bins.
    * Determinism: each row's sin/cos quantize to exact 1e-9-grid longs
    * BEFORE the sum (float Σ is accumulation-order-dependent), and
    * both engines then run the identical atan2/sqrt tree on the two
    * exact sums. One map-side-combined aggregate, zero joins. */
  def qCircularHours(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val twoPi = 2.0 * math.Pi
    val ang = (unix_micros($"ts") % lit(86400000000L)).cast("double") /
      lit(86400000000.0) * lit(twoPi)
    val b = Tables.events(s, dir).select($"event_type",
      floor(sin(ang) * lit(1e9) + lit(0.5)).cast("long").as("sq"),
      floor(cos(ang) * lit(1e9) + lit(0.5)).cast("long").as("cq"))
    // widen the 1e9-grid longs to decimal BEFORE summing (the dm()
    // discipline): a plain long sum wraps past ~9.2e9 events per type
    // (ANSI ArithmeticException) while the DuckDB oracle sums BIGINT
    // into HUGEINT and sails on — the r14 ADVICE's first-moment class
    val a = b.groupBy($"event_type").agg(count(lit(1)).as("n"),
      sum($"sq".cast("decimal(38,0)")).cast("double").as("ssd"),
      sum($"cq".cast("decimal(38,0)")).cast("double").as("scd"))
    val theta = atan2($"ssd", $"scd")
    a.select($"event_type", $"n",
        (round(when(theta < 0.0, theta + lit(twoPi)).otherwise(theta)
          / lit(twoPi) * lit(24.0), 4) + lit(0.0)).as("mean_hour"),
        (round(sqrt($"ssd" * $"ssd" + $"scd" * $"scd")
          / ($"n".cast("double") * lit(1e9)), 4) + lit(0.0))
          .as("resultant_r"),
        (round(($"ssd" * $"ssd" + $"scd" * $"scd")
          / ($"n".cast("double") * lit(1e18)), 4) + lit(0.0))
          .as("rayleigh_z"))
      .orderBy($"event_type")
  }

  /** q345's band half-width on purchase values, and the deterministic
    * user sample that bounds the oracle's naive theta join. */
  private val ValueBandEps = 0.05
  private val ValueBandSample = 50L

  /** Fractional value-band join (q345) — near-identical purchase
    * amounts across DIFFERENT users (|v_a − v_b| ≤ 0.05): the
    * duplicate-order / scripted-purchase radar, and the FRACTIONAL
    * exercise of BandJoinRule (q330 proves the integral path): the
    * query is the naive theta join a user writes on DOUBLE columns,
    * and the rule rewrites it to the ε-width bucketed equi join with
    * the ±2 boundary-immunity explode. Per-pair gaps quantize to
    * exact micro-longs BEFORE summing (a float sum over pairs is
    * accumulation-order-dependent — the engines would round apart);
    * the published mean divides exact integers. Sampled to user_id ≡ 0
    * (mod 50) so the ORACLE's genuinely-quadratic replay stays
    * affordable — the engine side needs no such bound. */
  def qValueBand(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val p = Tables.events(s, dir)
      .filter($"event_type" === "purchase" &&
        $"user_id" % ValueBandSample === 0L)
      .select($"user_id", $"value")
    val a = p.select($"user_id".as("ua"), $"value".as("va"))
    val b = p.select($"user_id".as("ub"), $"value".as("vb"))
    a.join(b, $"ua" < $"ub" && abs($"va" - $"vb") <= ValueBandEps)
      .select(floor(abs($"va" - $"vb") * 1e6 + 0.5).cast("long")
        .as("gap_micro"))
      .agg(count(lit(1)).as("n_pairs"),
        (floor(sum($"gap_micro").cast("double") / count(lit(1)) + 0.5)
          / 1e6).as("mean_gap"))
  }

  /** LEFT-OUTER fractional band join (q346) — the tolerance-matching
    * ENRICHMENT form of q345 (round-12 verdict #6): keep EVERY sampled
    * purchase and attach how many near-identical amounts OTHER users
    * posted (|va − vb| ≤ 0.05) plus the mean gap, written as the naive
    * LEFT OUTER theta join a user would; BandJoinRule rewrites it to
    * the bucketed equi join with the explode on the NON-preserved side
    * — each unmatched purchase null-extends exactly once and nothing
    * plans as BNLJ (PlanSpec pin). Per-pair gaps quantize to exact
    * micro-longs before summing (q345's discipline) and the oracle
    * replays the naive LEFT JOIN verbatim. */
  def qBandLeft(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val p = Tables.events(s, dir)
      .filter($"event_type" === "purchase" &&
        $"user_id" % ValueBandSample === 0L)
      .select($"event_id", $"user_id", $"value")
    val a = p.select($"event_id".as("eid"), $"user_id".as("ua"),
      $"value".as("va"))
    val b = p.select($"user_id".as("ub"), $"value".as("vb"))
    a.join(b, $"ua" =!= $"ub" && abs($"va" - $"vb") <= ValueBandEps,
        "left_outer")
      .select($"eid",
        floor(abs($"va" - $"vb") * 1e6 + 0.5).cast("long")
          .as("gap_micro"))
      .groupBy($"eid")
      .agg(count($"gap_micro").as("n_near"),
        (floor(sum($"gap_micro").cast("double") /
          when(count($"gap_micro") > 0, count($"gap_micro")) + 0.5)
          / 1e6).as("mean_gap"))
      .orderBy($"eid")
  }

  /** Band SEMI join (q348) — the EXISTS form of the q345/q346 radar:
    * which sampled purchases have ANY near-identical amount from a
    * different user, written as the naive LEFT SEMI theta join.
    * BandJoinRule's semi path rewrites it (semi joins are insensitive
    * to build-side duplication, so the ±2 bucket explode needs no
    * compensation at all); the oracle is the literal EXISTS subquery. */
  def qBandSemi(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val p = Tables.events(s, dir)
      .filter($"event_type" === "purchase" &&
        $"user_id" % ValueBandSample === 0L)
      .select($"event_id", $"user_id", $"value")
    val a = p.select($"event_id".as("eid"), $"user_id".as("ua"),
      $"value".as("va"))
    val b = p.select($"user_id".as("ub"), $"value".as("vb"))
    a.join(b, $"ua" =!= $"ub" && abs($"va" - $"vb") <= ValueBandEps,
        "left_semi")
      .select($"eid", round($"va", 4).as("value"))
      .orderBy($"eid")
  }

  /** Pure-SQL as-of join (q347) — q334's question asked THROUGH the
    * SQL surface: GraftExtensions' `asof_join(left, right, key, time)`
    * table-valued function (injectTableFunction) resolves the temp
    * views against the session catalog and emits the same native
    * AsOfJoin logical node, so a SQL-only caller gets AsOfJoinExec's
    * single-pass merge plan (ExtensionsSpec pins the plan identity;
    * this query pins the ANSWER against DuckDB's own ASOF LEFT JOIN).
    * Key/time columns appear on both sides of a join output, so the
    * published projection keeps the unambiguous columns. */
  def qAsofSql(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir)
    ev.filter($"event_type" === "purchase")
      .select($"event_id", $"user_id", $"ts", $"value")
      .createOrReplaceTempView("q347_purchases")
    ev.filter($"event_type" === "click")
      .select($"user_id", $"ts", $"value".as("c_value"))
      .createOrReplaceTempView("q347_clicks")
    s.sql(
      """SELECT event_id, round(value, 4) AS value,
        |       round(c_value, 4) AS click_value
        |FROM asof_join('q347_purchases', 'q347_clicks', 'user_id', 'ts')
        |ORDER BY event_id""".stripMargin)
  }

  /** Time-range self join: ordered event pairs of the same user within
    * 5 minutes.
    *
    * Plan shape matters here: a plain equi-join on user_id alone builds
    * |events-per-user|² intermediate pairs before the range filter runs
    * (6.7M pairs / 32s at sf0.1 — measured). Instead the join key is
    * (user_id, 5-min time bucket): the left side probes its own bucket
    * and the next one (a row's 5-min successor window spans at most two
    * buckets), so the join only materializes pairs that can possibly
    * match. Each true pair matches exactly one probe bucket — no dedup
    * needed. This is the standard band-join blocking; at 100 TB it is
    * the difference between quadratic-per-key and output-bound work. */
  def qRangeJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir)
      .select($"event_id", $"user_id", $"ts", $"event_type")
      .withColumn("bucket", floor($"ts".cast("double") / 300.0))
    val a = ev.select($"event_id".as("a_id"), $"user_id",
        $"ts".as("a_ts"), $"event_type".as("a_type"),
        explode(array($"bucket", $"bucket" + 1)).as("jb"))
    val b = ev.select($"event_id".as("b_id"), $"user_id",
      $"ts".as("b_ts"), $"event_type".as("b_type"), $"bucket".as("jb"))
    a.join(b, Seq("user_id", "jb"))
      .filter($"b_ts" >= $"a_ts" &&
        $"b_ts" <= $"a_ts" + expr("INTERVAL 5 MINUTES") &&
        $"a_id" < $"b_id")
      .select($"user_id", $"a_id", $"b_id", $"a_type", $"b_type")
      .orderBy($"a_id", $"b_id")
  }

  /** LOCF gap imputation (q122): the `value` signal is only observed on
    * purchase events; every other event carries the last observed value
    * forward (last-observation-carried-forward — the standard imputation
    * for sparse sensor/metric streams before feature extraction). One
    * running window per user — `last(col, ignoreNulls)` over an
    * unbounded-preceding ROWS frame — so the whole fill is a single
    * (user_id) shuffle + per-partition sort; state is one value per
    * user however long the stream. Rows before a user's first
    * observation stay NULL (no back-fill), exactly what a training
    * pipeline wants: fabricating a pre-first value would leak the
    * future. */
  def qLocfImpute(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sparse = when($"event_type" === "purchase", $"value")
    val run = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(s, dir)
      .withColumn("filled",
        round(last(sparse, ignoreNulls = true).over(run) + lit(0.0), 4))
      .select($"event_id", $"user_id", $"event_type",
        round(sparse + lit(0.0), 4).as("observed"), $"filled")
      .orderBy($"event_id")
  }

  /** A/B experiment readout (q145): Welch's unequal-variance t-test of
    * `value` between the two halves of a deterministic user-level
    * assignment (user_id mod 2 — the hash-bucket assignment every
    * experimentation platform uses, applied at the USER grain so one
    * user never straddles arms), reported per event_type with the lift
    * and Welch-Satterthwaite degrees of freedom (Welch 1947). This is
    * the decision table an experiment review reads; on a no-effect
    * assignment like this one it doubles as the A/A calibration run.
    * Scale shape: one map-side-combined groupBy collapses the corpus to
    * |types|×2 moment rows (count/mean/variance are all partial-agg
    * mergeable); the t statistic is closed-form arithmetic on that tiny
    * frame — nothing after the first aggregate scales with event
    * volume, and there is no per-user state anywhere. */
  def qAbTest(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val g = Tables.events(s, dir)
      .select($"event_type", pmod($"user_id", lit(2)).as("variant"), $"value")
      .groupBy($"event_type", $"variant")
      .agg(count(lit(1)).as("n"), avg($"value").as("m"),
        var_samp($"value").as("v2"))
    val a = g.filter($"variant" === 0)
      .select($"event_type", $"n".as("n0"), $"m".as("m0"), $"v2".as("v0"))
    val b = g.filter($"variant" === 1)
      .select($"event_type", $"n".as("n1"), $"m".as("m1"), $"v2".as("v1"))
    val se0 = $"v0" / $"n0"
    val se1 = $"v1" / $"n1"
    val se2 = se0 + se1
    a.join(b, "event_type").select($"event_type", $"n0", $"n1",
        round($"m1" - $"m0", 4).as("lift"),
        round(($"m1" - $"m0") / sqrt(se2), 4).as("t_stat"),
        round(se2 * se2 /
          (se0 * se0 / ($"n0" - 1) + se1 * se1 / ($"n1" - 1)), 1)
          .as("df_welch"))
      .orderBy($"event_type")
  }

  /** Sampled-estimate calibration (q146): per event_type, the mean of
    * `value` estimated from a deterministic 1% sample with a CLT 95%
    * interval, next to the exact mean and whether the interval covers
    * it. This is the pricing table for sample-first analytics — the
    * standard 100 TB move of answering dashboard-grade questions from a
    * 1% scan with error bars instead of a full pass (BlinkDB's bounded-
    * error contract, Agarwal et al. EuroSys 2013) — and running it as an
    * audit query is how a platform proves its sample tier is honest.
    * The coin is the suite's md5-uniform (engine-replayable, re-derivable
    * months later); both membership and moments are one map + one
    * partial-agg pass, and in the production form the `u < 0.01`
    * predicate is all that runs — the exact column here exists to judge
    * the estimator. */
  def qSampleEstimate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val u = conv(substring(md5(concat(lit("se:"),
      $"event_id".cast("string"))), 1, 6), 16, 10).cast("double") /
      lit(16777216.0)
    val half = lit(1.96) * sqrt($"v_sample" / $"n_sample")
    Tables.events(s, dir)
      .select($"event_type", $"value", (u < 0.01).as("in_sample"))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        avg($"value").as("exact_mean"),
        count(when($"in_sample", 1)).as("n_sample"),
        avg(when($"in_sample", $"value")).as("est_mean"),
        var_samp(when($"in_sample", $"value")).as("v_sample"))
      .select($"event_type", $"n", $"n_sample",
        round($"exact_mean", 4).as("exact_mean"),
        round($"est_mean", 4).as("est_mean"),
        round($"est_mean" - half, 4).as("ci_lo"),
        round($"est_mean" + half, 4).as("ci_hi"),
        // a 1-element sample has no variance → NULL interval; report
        // covered=false rather than a null boolean (the two engines'
        // null-bool string forms differ in the driver compare)
        coalesce($"exact_mean" >= $"est_mean" - half &&
          $"exact_mean" <= $"est_mean" + half, lit(false)).as("covered"))
      .orderBy($"event_type")
  }

  /** Volume-trend detector (q149): per event_type, OLS of daily count
    * on day index over the gap-filled spine — the monitoring companion
    * to q130: MAD flags LEVEL anomalies (a bad day), the regression
    * slope flags DRIFT (a feed decaying 2%/day never trips a daily
    * alarm until it's mostly gone). Gap-filling matters here even more
    * than in q130 — missing days ARE the signal a dying feed emits, and
    * skipping them biases the slope toward zero. Scale shape: corpus →
    * |types|×|days| cells in one agg; regr_* are closed-form moment
    * folds over that tiny frame (same estimator both engines, q140's
    * convention). The declining flag compares on the rounded grid so an
    * engine-ulp slope near zero can't flip it. */
  def qTrendDetector(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir)
      .select($"event_type", to_date($"ts").as("day"))
    val daily = ev.groupBy($"event_type", $"day")
      .agg(count(lit(1)).as("n"))
    val days = ev.agg(min($"day").as("lo"), max($"day").as("hi"))
      .select($"lo", explode(sequence($"lo", $"hi",
        expr("interval 1 day"))).as("day"))
    val filled = ev.select($"event_type").distinct()
      .crossJoin(broadcast(days))
      .join(daily, Seq("event_type", "day"), "left")
      .select($"event_type",
        datediff($"day", $"lo").cast("double").as("x"),
        coalesce($"n", lit(0L)).cast("double").as("y"))
    filled.groupBy($"event_type")
      .agg((round(regr_slope($"y", $"x"), 4) + lit(0.0)).as("slope"),
        (round(regr_intercept($"y", $"x"), 4) + lit(0.0)).as("icept"),
        (round(regr_r2($"y", $"x"), 4) + lit(0.0)).as("r2"))
      // NULL slope (single-point series): not evidence of decline —
      // false on BOTH engines, never a NULL boolean
      .withColumn("declining", coalesce($"slope" < 0.0, lit(false)))
      .orderBy($"event_type")
  }

  /** Funnel latency (q150): q99 counts WHO converts; this prices HOW
    * LONG conversion takes — median and p90 hours from a user's first
    * view to their first subsequent purchase, by first-view day cohort
    * (the product-analytics time-to-convert curve; its drift is a
    * leading indicator the conversion count hides). Same first-touch
    * semantics as q99 (min-ts per user, strictly-after ordering); the
    * corpus collapses to one row per converting user before any
    * percentile, so the quantile input scales with users, not events. */
  def qFunnelLatency(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir)
      .select($"user_id", $"event_type", $"ts")
    val v = ev.filter($"event_type" === "view")
      .groupBy($"user_id").agg(min($"ts").as("t_view"))
    val p = ev.filter($"event_type" === "purchase")
      .join(v, "user_id").filter($"ts" > $"t_view")
      .groupBy($"user_id", $"t_view").agg(min($"ts").as("t_purchase"))
    val lat = p.select(to_date($"t_view").as("cohort"),
      ((unix_micros($"t_purchase") - unix_micros($"t_view")) /
        lit(3600000000.0)).as("hours"))
    lat.groupBy($"cohort")
      .agg(count(lit(1)).as("n_converters"),
        round(percentile($"hours", lit(0.5)), 4).as("p50_hours"),
        round(percentile($"hours", lit(0.9)), 4).as("p90_hours"))
      .select(date_format($"cohort", "yyyy-MM-dd").as("cohort"),
        $"n_converters", $"p50_hours", $"p90_hours")
      .orderBy($"cohort")
  }

  /** Top session paths (q152): the most common event-type JOURNEYS —
    * q26's 30-minute sessionization, each session's ordered event-type
    * sequence folded to a path string, global top-20 paths by session
    * count (the product-analytics Sankey/flow source; q99's funnel is
    * one hand-picked path, this surfaces the paths users actually
    * take). Ordering inside a session is (ts, event_id) — fully
    * deterministic under timestamp ties. Scale shape: one user-keyed
    * shuffle builds sessions, paths reduce sessions→distinct-path
    * counts with partial agg, and the final top-20 rank window rewrites
    * to the bounded-heap aggregate (TopKWindowRule), so no global sort
    * of the path dictionary ever runs. Path length is bounded by
    * session length; a bot session that never gaps is the one unbounded
    * input, and it's exactly what q103's throttle removes upstream. */
  def qSessionPaths(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val byUser = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val gap = $"ts".cast("double") - lag($"ts", 1).over(byUser).cast("double")
    val sess = Tables.events(s, dir)
      .select($"user_id", $"ts", $"event_id", $"event_type")
      .withColumn("new_sess",
        when(gap.isNull || gap > 1800.0, 1L).otherwise(0L))
      .withColumn("session_id", sum($"new_sess").over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val paths = sess.groupBy($"user_id", $"session_id")
      .agg(array_join(transform(
        array_sort(collect_list(struct($"ts", $"event_id", $"event_type"))),
        x => x.getField("event_type")), ">").as("path"))
    paths.groupBy($"path").agg(count(lit(1)).as("n_sessions"))
      .withColumn("rk", row_number().over(
        Window.orderBy($"n_sessions".desc, $"path".asc)))
      .filter($"rk" <= 20)
      .select($"rk", $"path", $"n_sessions")
      .orderBy($"rk")
  }

  /** Cohort value triangle (q184): per signup-week cohort and age
    * week, cumulative purchase value per cohort member — the LTV
    * accumulation curve that prices acquisition against q100's
    * retention counts (retention says WHO comes back, this says what
    * their return is worth). Weeks are integer epoch-week arithmetic
    * (same convention dance as q166's weekday). Corpus → per-user
    * first-week frame → (cohort, age) cells in two partial aggs; the
    * cumulative window runs on the triangle (|cohorts|×|ages| rows),
    * never the events. */
  def qCohortValue(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val wk = floor(datediff(to_date($"ts"), lit("1970-01-01")) / 7)
      .cast("long")
    val ev = Tables.events(s, dir)
      .select($"user_id", wk.as("wk"), $"value", $"event_type")
    val first = ev.groupBy($"user_id").agg(min($"wk").as("cohort"))
    val sizes = first.groupBy($"cohort").agg(count(lit(1)).as("n_users"))
    val spend = ev.filter($"event_type" === "purchase")
      .join(first, "user_id")
      .groupBy($"cohort", ($"wk" - $"cohort").as("age_weeks"))
      .agg(sum($"value").as("v"))
    val w = Window.partitionBy($"cohort").orderBy($"age_weeks")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spend.join(broadcast(sizes), "cohort")
      .withColumn("cum_v", sum($"v").over(w))
      .select($"cohort".as("cohort_week"), $"age_weeks", $"n_users",
        round($"cum_v" / $"n_users".cast("double"), 4)
          .as("cum_value_per_user"))
      .orderBy($"cohort_week", $"age_weeks")
  }

  /** Volume burstiness (q181): per event type, the Fano factor
    * (index of dispersion, var/mean) of daily counts over the
    * gap-filled day spine — ≈1 is Poisson-like organic traffic, ≫1 is
    * bursty (campaigns, batch backfills, bots), the third axis of the
    * volume-monitoring triple next to q130's level spikes and q149's
    * drift. Variance is written as the explicit moment algebra
    * avg(n²)−avg(n)² so both engines evaluate the same expression
    * tree. Same corpus→cells partial agg as q149. */
  def qBurstiness(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir)
      .select($"event_type", to_date($"ts").as("day"))
    val daily = ev.groupBy($"event_type", $"day").agg(count(lit(1)).as("n"))
    val days = ev.agg(min($"day").as("lo"), max($"day").as("hi"))
      .select(explode(sequence($"lo", $"hi",
        expr("interval 1 day"))).as("day"))
    val filled = ev.select($"event_type").distinct()
      .crossJoin(broadcast(days))
      .join(daily, Seq("event_type", "day"), "left")
      .select($"event_type", coalesce($"n", lit(0L)).as("n"))
    filled.groupBy($"event_type")
      .agg(count(lit(1)).as("n_days"),
        round(avg($"n"), 4).as("mean_daily"),
        round((avg($"n" * $"n") - avg($"n") * avg($"n")) / avg($"n"), 4)
          .as("fano"))
      .orderBy($"event_type")
  }

  /** Half-life of the q177 exponential decay, in days; λ = ln2/HL.
    * The constant is materialized once in Scala so both engines see the
    * identical double literal. */
  private val DecayHalfLifeDays = 7.0
  private val DecayLambda = math.log(2.0) / DecayHalfLifeDays

  /** Recency-decay engagement weights (q177): per item, events folded
    * with weight e^(−λ·age) relative to the corpus' latest timestamp —
    * the freshness prior a training-data mix applies when yesterday's
    * engagement should count ~2× last week's (7-day half-life here).
    * The as-of anchor is a 1-row max aggregate broadcast back; age is
    * exact integer microseconds divided once into days; the weighted
    * fold is one partial agg to |items| rows. Same plan as any
    * count-by-item, just with a weighted sum — recency costs nothing
    * extra at 100 TB. */
  def qRecencyWeights(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir)
      .select(get_json_object($"props", "$.k").cast("long").as("item"),
        unix_micros($"ts").as("tus"))
      .filter($"item".isNotNull)
    val asof = ev.agg(max($"tus").as("asof_us"))
    ev.crossJoin(broadcast(asof))
      .select($"item",
        exp(lit(-DecayLambda) *
          (($"asof_us" - $"tus") / 86400000000.0)).as("w"))
      .groupBy($"item")
      .agg(count(lit(1)).as("n_events"),
        round(sum($"w"), 4).as("decayed_weight"))
      .orderBy($"item")
  }

  /** Event-time lateness profile (q168): per event type, how far events
    * arrive BEHIND the furthest event time already seen in their user's
    * stream (arrival order = event_id) — p50/p95/max lateness and the
    * fraction beyond 60 s. This is the table that SETS a streaming
    * watermark: `withWatermark(delay)` drops everything later than
    * `delay`, so the delay is read off this profile's tail, not
    * guessed (the batch companion to streaming/StreamPipelines'
    * watermarked twins). Lateness is computed in exact integer
    * MICROSECONDS (running max over one user-keyed window — the same
    * shuffle every timeline op shares) and only the reported
    * percentiles convert to seconds, so the cross-engine contract
    * rides on integers until the final division. */
  def qLateness(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val byArrival = Window.partitionBy($"user_id").orderBy($"event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ev = Tables.events(s, dir)
      .select($"user_id", $"event_id", $"event_type",
        unix_micros($"ts").as("tus"))
      .withColumn("late",
        greatest(lit(0L), max($"tus").over(byArrival) - $"tus"))
    ev.groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        sum(($"late" > 60000000L).cast("long")).as("n_late"),
        round(percentile($"late", lit(0.5)) / 1000000.0, 4).as("p50_late_s"),
        round(percentile($"late", lit(0.95)) / 1000000.0, 4).as("p95_late_s"),
        round(max($"late") / 1000000.0, 4).as("max_late_s"))
      .withColumn("late_rate", round($"n_late" / $"n".cast("double"), 4))
      .orderBy($"event_type")
  }

  /** Day-of-week seasonality profile (q166): per event type, the mean
    * daily volume by weekday plus a seasonality-strength ratio
    * (max − min)/mean over the 7 weekday means — the companion to
    * q149's trend detector (trend says the feed is drifting, this says
    * whether a Monday dip is signal or just Monday). Weekday index is
    * pure integer arithmetic on days-since-epoch (0 = Thursday) — NOT
    * the engines' dayofweek() builtins, whose 0/1-based Sunday
    * conventions disagree. Corpus → |types|×|days| daily cells in one
    * partial agg; the profile and strength windows run on the
    * |types|×7 frame, never the corpus. */
  def qSeasonality(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val daily = Tables.events(s, dir)
      .select($"event_type", to_date($"ts").as("day"))
      .groupBy($"event_type", $"day").agg(count(lit(1)).as("n"))
      .withColumn("dow", pmod(datediff($"day", lit("1970-01-01")), lit(7)))
    val prof = daily.groupBy($"event_type", $"dow")
      .agg(count(lit(1)).as("n_days"), round(avg($"n"), 4).as("avg_daily"))
    val w = Window.partitionBy($"event_type")
    prof
      .withColumn("strength",
        round((max($"avg_daily").over(w) - min($"avg_daily").over(w)) /
          avg($"avg_daily").over(w), 4))
      .select($"event_type", $"dow", $"n_days", $"avg_daily", $"strength")
      .orderBy($"event_type", $"dow")
  }

  /** Markov next-event model (q162): the transition matrix
    * P(next_type | type) over each user's timeline, with an absorbing
    * END state where a stream stops — the one-step model behind
    * session simulation, anomaly scoring (improbable transitions), and
    * the journey Sankey q152's paths feed. Corpus cost is ONE lead
    * window on the user-keyed shuffle every timeline op here shares,
    * then a partial-agg count down to a |types|²-row matrix; the
    * row-normalizing window runs on that matrix, not the corpus, so
    * nothing after the count scales with event volume. */
  def qMarkovNext(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val byUser = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val trans = Tables.events(s, dir)
      .select($"user_id", $"ts", $"event_id", $"event_type")
      .withColumn("next_type",
        coalesce(lead($"event_type", 1).over(byUser), lit("END")))
      .groupBy($"event_type".as("prev_type"), $"next_type")
      .agg(count(lit(1)).as("n"))
    trans
      .withColumn("p", round($"n".cast("double") /
        sum($"n").over(Window.partitionBy($"prev_type")), 4))
      .select($"prev_type", $"next_type", $"n", $"p")
      .orderBy($"prev_type", $"next_type")
  }

  /** CUPED variance reduction (q154): the standard experimentation-
    * platform trick (Deng et al., WSDM 2013) — regress each user's
    * post-period metric on their PRE-period baseline and analyze the
    * residual; the experiment in q145 then needs var_adj/var_raw as
    * much traffic for the same power. The split point is the midpoint
    * of the observed time range (deterministic, engine-replayable);
    * users contribute only with activity on BOTH sides. Everything
    * reduces in ONE pass over the per-user frame: θ = cov/var_pre and
    * var_adj = var_post − cov²/var_pre are algebra on four mergeable
    * moments — no second adjusted-value pass, no residual
    * materialization, nothing after the user-grain aggregate scales
    * with event volume. reduction = cov²/(var_pre·var_post) is the
    * squared pre/post correlation — the ceiling CUPED theory promises. */
  def qCuped(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir)
      .select($"event_type", $"user_id", $"ts", $"value")
    val bounds = ev.agg(min($"ts").as("lo"), max($"ts").as("hi"))
      .select(expr("(unix_micros(lo) + unix_micros(hi)) div 2").as("cut"))
    val per = ev.crossJoin(broadcast(bounds))
      .groupBy($"event_type", $"user_id")
      .agg(avg(when(unix_micros($"ts") < $"cut", $"value")).as("pre"),
        avg(when(unix_micros($"ts") >= $"cut", $"value")).as("post"))
      .filter($"pre".isNotNull && $"post".isNotNull)
    per.groupBy($"event_type")
      .agg(count(lit(1)).as("n_users"),
        covar_samp($"post", $"pre").as("cov"),
        var_samp($"pre").as("vpre"),
        var_samp($"post").as("vpost"))
      .select($"event_type", $"n_users",
        (round($"cov" / $"vpre", 4) + lit(0.0)).as("theta"),
        round($"vpost", 4).as("var_raw"),
        (round($"vpost" - $"cov" * $"cov" / $"vpre", 4) + lit(0.0))
          .as("var_adj"),
        round($"cov" * $"cov" / ($"vpre" * $"vpost"), 4).as("reduction"))
      .orderBy($"event_type")
  }

  /** Empirical-Bayes rate shrinkage (q155): per-item purchase rate
    * shrunk toward the global prior (Efron & Morris 1975; the
    * beta-binomial method-of-moments fit) — the ranking fix for
    * small-sample cells: a 1-for-1 item must not outrank a 95-for-100
    * one, and a raw-rate sort does exactly that. Prior strength
    * M = m(1−m)/var(p) − 1 comes from the observed between-item rate
    * spread (floored at 1 to stay proper); shrunk = (x + M·m)/(n + M),
    * so high-n items keep their data and low-n items ride the prior.
    * Scale shape: corpus → |items| rows in one partial agg; the prior
    * is a 1-row broadcast; nothing downstream scales with events. The
    * same estimator prices any per-cell rate table — CTR, defect rate,
    * per-source dedup rate — before someone ranks by it. */
  def qEbRates(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir)
      .select(get_json_object($"props", "$.k").cast("long").as("item"),
        ($"event_type" === "purchase").cast("long").as("hit"))
      .filter($"item".isNotNull)
    val per = ev.groupBy($"item")
      .agg(count(lit(1)).as("n"), sum($"hit").as("x"))
      .withColumn("p", $"x".cast("double") / $"n")
    val g = per.agg(
      (sum($"x").cast("double") / sum($"n")).as("m"),
      var_samp($"p").as("vp"))
    per.crossJoin(broadcast(g))
      .withColumn("bigM",
        greatest($"m" * (lit(1.0) - $"m") / $"vp" - 1.0, lit(1.0)))
      .select($"item", $"n", $"x", round($"p", 4).as("raw_rate"),
        round(($"x" + $"bigM" * $"m") / ($"n" + $"bigM"), 4)
          .as("shrunk_rate"),
        round($"bigM", 4).as("prior_strength"))
      .orderBy($"item")
  }

  /** Change-point detection (q188): per event_type, the single best
    * mean-shift split of the gap-filled daily count series by the
    * standardized CUSUM scan statistic (binary segmentation's first
    * step, Scott & Knott 1974 / Page 1954 lineage):
    * stat(t) = |n·S_t − t·S_n| / sqrt(n·t·(n−t)), the two-sample
    * z-like contrast between the first t days and the rest. Completes
    * the volume-monitoring family — q130 flags LEVEL outliers, q149
    * DRIFT, q181 BURSTS; this finds the DAY a feed's regime changed
    * (scraper deploy, source cutover). Numerics: S_t, t, n are exact
    * integers, so the statistic is one float division per candidate —
    * the same expression tree both engines evaluate, argmax taken on
    * the 4-decimal grid (ties → earliest day). Scale shape: identical
    * to q149 — corpus collapses to |types|×|days| cells in one
    * partial agg; prefix sums and the argmax window run on that grid,
    * never the events. */
  def qChangepoint(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir)
      .select($"event_type", to_date($"ts").as("day"))
    val daily = ev.groupBy($"event_type", $"day")
      .agg(count(lit(1)).as("n"))
    val days = ev.agg(min($"day").as("lo"), max($"day").as("hi"))
      .select(explode(sequence($"lo", $"hi",
        expr("interval 1 day"))).as("day"))
    val filled = ev.select($"event_type").distinct()
      .crossJoin(broadcast(days))
      .join(daily, Seq("event_type", "day"), "left")
      .select($"event_type", $"day", coalesce($"n", lit(0L)).as("cnt"))
    val byDay = Window.partitionBy($"event_type").orderBy($"day")
    val whole = Window.partitionBy($"event_type")
    val scanned = filled
      .withColumn("t", row_number().over(byDay).cast("long"))
      .withColumn("st", sum($"cnt").over(
        byDay.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("nn", count(lit(1)).over(whole))
      .withColumn("sn", sum($"cnt").over(whole))
      .filter($"t" < $"nn")
      .withColumn("stat", round(
        abs($"nn" * $"st" - $"t" * $"sn").cast("double") /
          sqrt(($"nn" * $"t" * ($"nn" - $"t")).cast("double")), 4))
    scanned
      .withColumn("rk", row_number().over(
        Window.partitionBy($"event_type").orderBy($"stat".desc, $"day".asc)))
      .filter($"rk" === 1)
      .select($"event_type",
        date_format($"day", "yyyy-MM-dd").as("split_day"),
        $"stat",
        round($"st".cast("double") / $"t", 4).as("mean_before"),
        round(($"sn" - $"st").cast("double") / ($"nn" - $"t"), 4)
          .as("mean_after"),
        $"nn".as("n_days"))
      .orderBy($"event_type")
  }

  /** Exclusion funnel (q189): users whose FIRST view converts to a
    * purchase within 7 days with NO click strictly between — the
    * MATCH_RECOGNIZE-style "A then B with no C between" pattern (the
    * organic-conversion slice an attribution model must not credit to
    * ads; q99 counts any-order completion, this enforces an exclusion
    * constraint q99 cannot express). Semantics pinned: t_view = the
    * user's first view; t_purchase = first purchase in (t_view,
    * t_view+7d]; clean ⇔ zero clicks in the OPEN interval (t_view,
    * t_purchase). Scale shape: three conditional aggregates all keyed
    * on user_id — one exchange family, no self-join of the event
    * stream against itself; the per-day rollup runs on the converter
    * frame (≤ |users| rows). */
  def qExclusionFunnel(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir)
      .select($"user_id", $"event_type", $"ts")
    val v = ev.filter($"event_type" === "view")
      .groupBy($"user_id").agg(min($"ts").as("t_view"))
    val p = ev.filter($"event_type" === "purchase")
      .join(v, "user_id")
      .filter($"ts" > $"t_view" &&
        unix_micros($"ts") - unix_micros($"t_view") <= 7L * 86400000000L)
      .groupBy($"user_id", $"t_view").agg(min($"ts").as("t_purchase"))
    val clicks = ev.filter($"event_type" === "click")
      .join(p, "user_id")
      .filter($"ts" > $"t_view" && $"ts" < $"t_purchase")
      .groupBy($"user_id").agg(count(lit(1)).as("n_between"))
    p.join(clicks, Seq("user_id"), "left")
      .withColumn("n_between", coalesce($"n_between", lit(0L)))
      .groupBy(date_format(to_date($"t_view"), "yyyy-MM-dd").as("cohort"))
      .agg(count(lit(1)).as("n_converted"),
        sum(($"n_between" === 0L).cast("long")).as("n_clean"),
        round(avg(($"n_between" === 0L).cast("double")), 4)
          .as("clean_share"))
      .orderBy($"cohort")
  }

  /** Last-touch attribution (q190): every purchase credited to the
    * user's most recent click within the preceding 7 days (the
    * marketing-analytics revenue ledger; purchases with no qualifying
    * click land in the organic bucket) — the as-of join (q27) with a
    * lookback horizon, folded to the per-click-day revenue report a
    * spend dashboard reads. Single-shuffle shape: clicks and purchases
    * union into ONE user-keyed frame, a running last-click window
    * (last(..., ignoreNulls), O(1) state per row) carries each click's
    * (ts, day) forward, and the horizon test decides credit — never a
    * per-purchase time-range self-join. Value sums ride the 4-decimal
    * grid (doubles; summation order differs across engines). */
  def qAttribution(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir)
      .select($"user_id", $"event_type", $"ts", $"value", $"event_id")
      .filter($"event_type".isin("click", "purchase"))
    val byUser = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val clickTs = when($"event_type" === "click", $"ts")
    val tagged = ev
      .withColumn("last_click", last(clickTs, ignoreNulls = true).over(byUser))
      .filter($"event_type" === "purchase")
      .withColumn("credited",
        $"last_click".isNotNull &&
          unix_micros($"ts") - unix_micros($"last_click") <=
            7L * 86400000000L)
    tagged
      .groupBy(when($"credited",
          date_format(to_date($"last_click"), "yyyy-MM-dd"))
        .otherwise(lit("organic")).as("credit_day"))
      .agg(count(lit(1)).as("n_purchases"),
        round(sum($"value"), 4).as("revenue"))
      .orderBy($"credit_day")
  }

  /** Behavioral bot-likeness audit (q198): the three signals abuse/
    * crawler filtering actually gates on, per user — sustained RATE
    * (events per distinct active hour: humans burst, bots sustain),
    * round-the-clock COVERAGE (distinct hour-of-day slots / 24: humans
    * sleep), and action-mix ENTROPY (H = ln n − Σc·ln c / n over event
    * types: scripted loops repeat one action) — with a transparent
    * conjunctive flag on literal thresholds (rate ≥ 3/h ∧ coverage ≥
    * 0.5 ∧ H ≤ 1.0), compared on the 4-decimal grid. The upstream gate
    * q103's throttle and q176's hot-user drop assume someone ran.
    * Scale shape: three partial-agg frames all keyed on user_id (one
    * exchange family, reused by the joins); entropy uses the
    * Σc·ln c algebraic form so no per-user share vector materializes;
    * output is |users| rows. */
  def qBotScore(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir)
      .select($"user_id", $"event_type",
        expr("unix_micros(ts) div 3600000000").as("eh"), hour($"ts").as("hod"))
    val perType = ev.groupBy($"user_id", $"event_type")
      .agg(count(lit(1)).as("c"))
    val mix = perType.groupBy($"user_id")
      .agg(sum($"c").as("n_events"),
        (log(sum($"c")) -
          sum($"c" * log($"c")) / sum($"c")).as("h_raw"))
    val hours = ev.select($"user_id", $"eh").distinct()
      .groupBy($"user_id").agg(count(lit(1)).as("n_hours"))
    val hod = ev.select($"user_id", $"hod").distinct()
      .groupBy($"user_id").agg(count(lit(1)).as("n_hod"))
    mix.join(hours, "user_id").join(hod, "user_id")
      .select($"user_id", $"n_events",
        round($"n_events" / $"n_hours".cast("double"), 4).as("rate"),
        round($"n_hod" / lit(24.0), 4).as("hod_coverage"),
        (round($"h_raw", 4) + lit(0.0)).as("type_entropy"))
      .withColumn("bot_like",
        $"rate" >= 3.0 && $"hod_coverage" >= 0.5 && $"type_entropy" <= 1.0)
      .orderBy($"user_id")
  }

  /** Peak concurrent sessions per day (q200): the interval-analytics
    * sweep line — sessions (q26's 30-minute-gap definition) become
    * ±1 boundary events, concurrency is the running sum, the report is
    * each day's peak (the capacity-planning number: license seats,
    * connection pools, serving replicas are all sized off it). A naive
    * global sweep is ONE unpartitioned window over every boundary;
    * this one is day-partitioned and scale-safe: per-day start/end
    * counts cumulate over the |days| spine into a carry-in (sessions
    * straddling midnight), and the within-day sweep orders boundaries
    * by (ts, +1-before-−1, session) so a session ending the instant
    * another starts still overlaps it — closed-interval semantics,
    * deterministic under ties. Sweep input is 2 rows per SESSION (not
    * per event); everything before it is the user-keyed sessionize
    * shuffle the suite already pays. */
  def qPeakConcurrency(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val byUser = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val gap = $"ts".cast("double") - lag($"ts", 1).over(byUser).cast("double")
    val sess = Tables.events(s, dir)
      .select($"user_id", $"ts", $"event_id")
      .withColumn("new_sess",
        when(gap.isNull || gap > 1800.0, 1L).otherwise(0L))
      .withColumn("session_id", sum($"new_sess").over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy($"user_id", $"session_id")
      .agg(min($"ts").as("t0"), max($"ts").as("t1"))
    val bounds = sess.select($"user_id", $"session_id",
        $"t0".as("t"), lit(1L).as("delta"))
      .unionByName(sess.select($"user_id", $"session_id",
        $"t1".as("t"), lit(-1L).as("delta")))
      .withColumn("day", to_date($"t"))
    val daily = bounds.groupBy($"day")
      .agg(sum(when($"delta" === 1L, 1L).otherwise(0L)).as("n_starts"),
        sum(when($"delta" === -1L, 1L).otherwise(0L)).as("n_ends"))
    val spine = Window.orderBy($"day")
      .rowsBetween(Window.unboundedPreceding, -1)
    val carry = daily.withColumn("carry_in",
      coalesce(sum($"n_starts" - $"n_ends").over(spine), lit(0L)))
    val sweep = Window.partitionBy($"day")
      .orderBy($"t", $"delta".desc, $"user_id", $"session_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // greatest(carry, carry + max_run): an all-ends day peaks at its
    // very start, before the first boundary event drops the count.
    bounds
      .withColumn("run", sum($"delta").over(sweep))
      .groupBy($"day").agg(max($"run").as("peak_in_day"))
      .join(carry, "day")
      .select(date_format($"day", "yyyy-MM-dd").as("day"),
        $"carry_in", $"n_starts",
        greatest($"carry_in", $"carry_in" + $"peak_in_day")
          .as("peak_concurrency"))
      .orderBy($"day")
  }

  /** Benford first-digit audit (q206): observed leading-digit shares
    * of the positive `value` column against Benford's log₁₀(1+1/d) law
    * (Benford 1938; Nigrini's fraud-audit standard) with the Pearson
    * χ² statistic and the df=8, α=0.05 verdict — the data-forensics
    * gate that flags fabricated or unit-mixed numeric columns before
    * they reach a model. Leading digit is pure float arithmetic
    * ⌊v/10^⌊log₁₀v⌋⌋ — the same IEEE expression tree on both engines;
    * zero-count digits are restored by a 9-row literal grid so χ²
    * terms never silently drop. Corpus collapses to 9 digit counts in
    * one partial agg; everything after is arithmetic on that grid. */
  def qBenford(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val digits = Tables.events(s, dir)
      .select($"value").filter($"value" > 0)
      .select(floor($"value" / pow(lit(10.0), floor(log10($"value"))))
        .cast("int").as("d"))
      .groupBy($"d").agg(count(lit(1)).as("o"))
    val grid = s.range(1, 10).select($"id".cast("int").as("d"))
      .join(digits, Seq("d"), "left")
      .withColumn("o", coalesce($"o", lit(0L)))
    val n = digits.agg(sum($"o").as("n"))
    val pB = log10(lit(1.0) + lit(1.0) / $"d")
    val scored = grid.crossJoin(broadcast(n))
      .withColumn("p_obs", round($"o" / $"n".cast("double"), 4))
      .withColumn("p_benford", round(pB, 4))
      .withColumn("term",
        ($"o" - $"n" * pB) * ($"o" - $"n" * pB) / ($"n" * pB))
    val chi2 = scored.agg((round(sum($"term"), 4) + lit(0.0)).as("chi2"))
      .withColumn("reject_benford", $"chi2" > 15.507)
    scored.crossJoin(broadcast(chi2))
      .select($"d", $"o", $"p_obs", $"p_benford", $"chi2",
        $"reject_benford")
      .orderBy($"d")
  }

  /** Daily OHLC bars (q209): per (event_type, day) the open/high/low/
    * close of `value` plus volume and VWAP-style mean — the canonical
    * time-series downsampling every metrics store ships (candlesticks,
    * rate summaries), and the min_by/max_by surface demo: open/close
    * select the value AT the extreme of a different column, which no
    * min/max can express. Selection key is struct(ts, event_id) so a
    * timestamp tie can never make the bar engine-dependent; ONE
    * map-side-combined partial agg collapses the corpus to
    * |types|×|days| bars. */
  def qOhlcBars(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val key = struct($"ts", $"event_id")
    Tables.events(s, dir)
      .groupBy($"event_type", to_date($"ts").as("day"))
      .agg(round(min_by($"value", key), 4).as("open"),
        round(max($"value"), 4).as("high"),
        round(min($"value"), 4).as("low"),
        round(max_by($"value", key), 4).as("close"),
        count(lit(1)).as("volume"),
        // exact-cents mean: `value` is 2-decimal by construction, so
        // the bar mean is an integer-cent sum over an exact long — the
        // order-dependent double avg() rounded differently across
        // engines at a real sf0.001 half-boundary bar (38.37875); the
        // floor form is the q221 presentation-rounding discipline
        (floor(sum(round($"value" * 100).cast("long")) * lit(100.0)
          / count(lit(1)) + lit(0.5)) / 1e4).as("mean_value"))
      .select(date_format($"day", "yyyy-MM-dd").as("day"),
        $"event_type", $"open", $"high", $"low", $"close", $"volume",
        $"mean_value")
      .orderBy($"day", $"event_type")
  }

  /** Kaplan–Meier time-to-convert curve (q212): survival estimate of
    * "days from first view to first purchase" with RIGHT-CENSORING at
    * the corpus horizon (Kaplan & Meier 1958) — the statistically
    * honest version of q150's latency percentiles: users who never
    * converted are not droppable (that's survivorship bias), they are
    * at-risk until the data ends. S(t) = Π_{d≤t} (1 − e_d / n_d) over
    * the duration-day grid, with n_d = users still at risk entering
    * day d. Exact integer event/at-risk counts; the cumulative product
    * runs as exp(Σ ln(·)) over the ≤\|days\| grid — both engines fold
    * the same ordered sequence, so the floats agree (the q183 cumsum
    * precedent). Corpus collapses to one row per user, then to the
    * duration grid; nothing downstream scales with events. */
  def qKaplanMeier(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir).select($"user_id", $"event_type", $"ts")
    val horizon = ev.agg(max($"ts").as("t_end"))
    val v = ev.filter($"event_type" === "view")
      .groupBy($"user_id").agg(min($"ts").as("t_view"))
    val p = ev.filter($"event_type" === "purchase")
      .join(v, "user_id").filter($"ts" > $"t_view")
      .groupBy($"user_id").agg(min($"ts").as("t_conv"))
    val per = v.join(p, Seq("user_id"), "left")
      .crossJoin(broadcast(horizon))
      .select($"user_id",
        when($"t_conv".isNotNull,
          datediff(to_date($"t_conv"), to_date($"t_view")))
          .otherwise(datediff(to_date($"t_end"), to_date($"t_view")))
          .cast("long").as("d"),
        $"t_conv".isNotNull.as("converted"))
    val grid = per.groupBy($"d")
      .agg(sum($"converted".cast("long")).as("n_events"),
        count(lit(1)).as("n_ending"))
    val byD = Window.orderBy($"d")
    // at-risk entering day d = everyone whose follow-up ends on d or
    // later — a suffix sum on the grid, no driver-side total needed
    val cum = byD.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // a day where everyone at risk converts has factor 0 — ln is
    // undefined (DuckDB errors, Spark nulls); carry an explicit
    // zero flag and pin survival to 0.0 from that day on
    val f = lit(1.0) - $"n_events" / $"n_risk".cast("double")
    val km = grid
      .withColumn("n_risk", sum($"n_ending").over(
        byD.rowsBetween(Window.currentRow, Window.unboundedFollowing)))
      .withColumn("lnp",
        sum(when(f > 0.0, log(f)).otherwise(lit(0.0))).over(cum))
      .withColumn("hit_zero", max((f === 0.0).cast("int")).over(cum))
      .withColumn("km_survival",
        when($"hit_zero" === 1, lit(0.0))
          .otherwise(round(exp($"lnp"), 4)))
    km.select($"d".as("duration_days"), $"n_risk", $"n_events",
        ($"n_ending" - $"n_events").as("n_censored"), $"km_survival")
      .orderBy($"duration_days")
  }

  /** Hot-basket cap for q213 — one bot basket of b items contributes
    * C(b,2) pairs; capping basket size bounds the self-join exactly
    * like q176's degree cap (a documented recall trade, not a bug). */
  private val MaxBasket = 50

  /** Association rules (q213): support / confidence / lift over item
    * pairs co-purchased by the same user (Agrawal & Srikant 1994's
    * Apriori level-2 — the market-basket classic; in a data-pipeline
    * reading, "sources co-occurring in a user's diet"). Baskets are
    * DISTINCT (user, item) purchases; the pair frame is the q176
    * bipartite projection with the same hot-basket cap, so pair volume
    * is Σ C(min(b,cap),2) — never a bot-user square. Counts are exact
    * integers; confidence and lift are single divisions; the top-20
    * ranking keys on the 4-decimal lift grid with (item_a, item_b)
    * tie-break, and rewrites to the bounded heap (TopKWindowRule). */
  def qAssocRules(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val baskets = Tables.events(s, dir)
      .filter($"event_type" === "purchase")
      .select($"user_id",
        get_json_object($"props", "$.k").cast("long").as("item"))
      .filter($"item".isNotNull)
      .distinct()
    val small = baskets
      .withColumn("deg", count(lit(1)).over(
        Window.partitionBy($"user_id")))
      .filter($"deg" <= MaxBasket)
    val a = small.select($"user_id", $"item".as("item_a"))
    val b = small.select($"user_id", $"item".as("item_b"))
    val nab = a.join(b, Seq("user_id"))
      .filter($"item_a" < $"item_b")
      .groupBy($"item_a", $"item_b").agg(count(lit(1)).as("n_ab"))
      .filter($"n_ab" >= 2)
    val nItem = baskets.groupBy($"item").agg(count(lit(1)).as("n_i"))
    val nUsers = baskets.select($"user_id").distinct()
      .agg(count(lit(1)).as("n_users"))
    // nItem is item-keyed and grows with the catalog — its joins stay
    // unhinted (the vocab-join discipline); only the 1-row user total
    // keeps an explicit broadcast
    val scored = nab
      .join(nItem.select($"item".as("item_a"), $"n_i".as("n_a")),
        "item_a")
      .join(nItem.select($"item".as("item_b"), $"n_i".as("n_b")),
        "item_b")
      .crossJoin(broadcast(nUsers))
      .select($"item_a", $"item_b", $"n_ab", $"n_a", $"n_b",
        round($"n_ab" / $"n_users".cast("double"), 4).as("support"),
        round($"n_ab" / $"n_a".cast("double"), 4).as("confidence"),
        round($"n_ab" * $"n_users" / ($"n_a" * $"n_b").cast("double"), 4)
          .as("lift"))
    scored
      .withColumn("rk", row_number().over(
        Window.orderBy($"lift".desc, $"item_a", $"item_b")))
      .filter($"rk" <= 20)
      .select($"rk", $"item_a", $"item_b", $"n_ab", $"support",
        $"confidence", $"lift")
      .orderBy($"rk")
  }

  /** Rolling 7-day actives (q215): per day the exact DAU, trailing
    * 7-day WAU, and DAU/WAU stickiness — THE product-engagement
    * headline. Scale-safe sliding distinct: a windowed COUNT(DISTINCT)
    * doesn't exist, and the join-every-day-to-its-week form is a
    * nested-loop over the user-day frame; instead every (user, day)
    * row EXPLODES into the ≤7 cover-days it contributes to (bounded
    * fan-out, pruned to the observed range), and WAU is one exact
    * distinct aggregate keyed on cover-day — partial-agg shuffles
    * only, cost = 7× the (already distinct-collapsed) user-day frame.
    * Early days carry a partial window by standard convention. */
  def qRollingActives(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ud = Tables.events(s, dir)
      .select(to_date($"ts").as("day"), $"user_id").distinct()
    val hi = ud.agg(max($"day").as("hi"))
    val cover = ud.crossJoin(broadcast(hi))
      .select($"user_id", explode(sequence($"day",
        least(date_add($"day", 6), $"hi"),
        expr("interval 1 day"))).as("day"))
      .distinct()
    val wau = cover.groupBy($"day")
      .agg(countDistinct($"user_id").as("wau"))
    val dau = ud.groupBy($"day")
      .agg(countDistinct($"user_id").as("dau"))
    dau.join(wau, "day")
      .select(date_format($"day", "yyyy-MM-dd").as("day"), $"dau",
        $"wau", round($"dau" / $"wau".cast("double"), 4).as("stickiness"))
      .orderBy($"day")
  }

  /** Dwell time per event type (q217): seconds from each event to the
    * user's NEXT event within the same 30-minute session (the last
    * event of a session has no dwell — it's censored, not zero) —
    * the engagement-depth read behind "time on task" dashboards, and
    * the input a session-quality model consumes. One lead window on
    * the user-keyed shuffle the session family already pays; exact
    * integer microsecond gaps until the final seconds division;
    * percentiles run per |types| group on the dwell frame. */
  def qDwellTime(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val byUser = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val gapUs = unix_micros(lead($"ts", 1).over(byUser)) -
      unix_micros($"ts")
    Tables.events(s, dir)
      .select($"user_id", $"ts", $"event_id", $"event_type")
      .withColumn("dwell_us", gapUs)
      .filter($"dwell_us".isNotNull && $"dwell_us" <= 1800L * 1000000L)
      .select($"event_type", ($"dwell_us" / lit(1000000.0)).as("dwell_s"))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_dwells"),
        round(percentile($"dwell_s", lit(0.5)), 4).as("p50_s"),
        round(percentile($"dwell_s", lit(0.9)), 4).as("p90_s"),
        round(avg($"dwell_s"), 4).as("mean_s"))
      .orderBy($"event_type")
  }

  /** Daily conversion rate with Wilson score interval (q218): per day,
    * converting users / active users with the Wilson 95% CI (Wilson
    * 1927) — the binomial interval that stays inside [0,1] and behaves
    * at small n where the normal approximation (q146's mean CI) lies;
    * the difference is exactly why rate dashboards ship Wilson. Center
    * (p̂ + z²/2n)/(1 + z²/n), half-width z·√(p̂(1−p̂)/n + z²/4n²)/(1 +
    * z²/n), z = 1.96 literal. Corpus → per-day user flags in one
    * conditional aggregate; the interval is closed-form arithmetic on
    * \|days\| rows. */
  def qWilsonRates(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val z = 1.96
    val per = Tables.events(s, dir)
      .groupBy(to_date($"ts").as("day"), $"user_id")
      .agg(max(($"event_type" === "purchase").cast("int")).as("conv"))
    val daily = per.groupBy($"day")
      .agg(count(lit(1)).as("n_users"),
        sum($"conv").cast("long").as("n_conv"))
    val n = $"n_users".cast("double")
    val p = $"n_conv" / n
    val denom = lit(1.0) + lit(z) * lit(z) / n
    // numerators combined BEFORE the denominator division — the same
    // association order as the oracle SQL, so no last-ulp divergence
    val centerNum = p + lit(z) * lit(z) / (lit(2.0) * n)
    val halfNum = lit(z) * sqrt(p * (lit(1.0) - p) / n +
      lit(z) * lit(z) / (lit(4.0) * n * n))
    daily
      .select(date_format($"day", "yyyy-MM-dd").as("day"),
        $"n_users", $"n_conv", round(p, 4).as("rate"),
        (round(greatest((centerNum - halfNum) / denom, lit(0.0)), 4) +
          lit(0.0)).as("wilson_lo"),
        round(least((centerNum + halfNum) / denom, lit(1.0)), 4)
          .as("wilson_hi"))
      .orderBy($"day")
  }

  /** Autocorrelation function (q293): Pearson autocorrelation of the
    * gap-filled GLOBAL daily event volume at lags 1..7 — the
    * periodicity detector that belongs next to the trend family
    * (q149 drift, q166 seasonality, q221 SES, q255 STL): a strong
    * lag-7 spike says weekly cadence, a slow decay says momentum, and
    * a near-zero tail says the volume is already white — which decides
    * whether q255's weekly decomposition is even meaningful. Box &
    * Jenkins 1970 form: r_l = Σ(y_t−ȳ)(y_{t+l}−ȳ) / Σ(y_t−ȳ)², one
    * shared mean and denominator across lags. Scale shape: the corpus
    * collapses to |days| cells in the FIRST aggregate; everything
    * after (mean, centering, the lag×day product join) is grid-sized
    * — the q221 posture, no unpartitioned windows, the 7-row lag
    * spine and scalar mean/denominator frames broadcast. ACF can be
    * negative, so presentation rounding is the house floor form;
    * a zero-variance (constant) series yields NULL acf by the
    * nullif'd denominator, identically in both engines. */
  def qAcf(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir).select(to_date($"ts").as("day"))
    val daily0 = ev.groupBy($"day").agg(count(lit(1)).as("n"))
    val days = ev.agg(min($"day").as("lo"), max($"day").as("hi"))
      .select(explode(sequence($"lo", $"hi",
        expr("interval 1 day"))).as("day"))
    val daily = days.join(daily0, Seq("day"), "left")
      .select($"day", coalesce($"n", lit(0L)).cast("double").as("y"))
    acfOf(daily)
  }

  /** ACF core over a gap-filled (day, y) frame; split out so the spec
    * can pin periodicity detection on planted series. */
  private[graft] def acfOf(daily: DataFrame): DataFrame = {
    val s = daily.sparkSession
    import s.implicits._
    val mu = daily.agg(avg($"y").as("mu"))
    val cent = daily.crossJoin(broadcast(mu))
      .select($"day", ($"y" - $"mu").as("e"))
    val den = cent.agg(sum($"e" * $"e").as("den"))
    val lags = s.range(1, 8).select($"id".as("lag"))
    val num = broadcast(lags).crossJoin(cent)
      .join(cent.select($"day".as("d2"), $"e".as("e2")),
        expr("date_add(day, cast(lag as int)) = d2"))
      .groupBy($"lag").agg(sum($"e" * $"e2").as("num"))
    // den = Σe² is zero iff the series is constant; both engines must
    // agree on that degenerate input (Spark's Divide returns NULL at
    // /0 but DuckDB raises inf/NaN under ieee_floating_point_ops), so
    // the divisor is nullif'd on BOTH sides → acf is NULL on a
    // zero-variance series. Presentation rounding is the house floor
    // form (acf can be negative; floor never emits −0.0).
    lags.join(num, Seq("lag"), "left").crossJoin(broadcast(den))
      .select($"lag",
        (floor(coalesce($"num", lit(0.0)) /
          when($"den" =!= 0.0, $"den") * 1e4 + 0.5) / 1e4).as("acf"))
      .orderBy($"lag")
  }

  /** Holt linear-trend smoothing (q298) — Holt 1957, the two-state
    * upgrade of q221's SES: level l_t = α·y_t + (1−α)(l_{t−1}+b_{t−1}),
    * trend b_t = β(l_t−l_{t−1}) + (1−β)b_{t−1}, α=0.3 β=0.1, init
    * l₁=y₁ b₁=0 (the zero-trend start both engines replay trivially).
    * Emits the one-step-ahead forecast l+b next to each observation —
    * the drift-aware alarm baseline SES cannot give (SES lags any
    * trending series by construction). Same scale posture as q221:
    * collapse to |types|×|days| cells, fold each type's day-sorted
    * cell array in-row; both engines run the identical IEEE sequence
    * and the oracle's recursive CTE replays it; presentation rounding
    * is the explicit floor form (trend/forecast go negative — floor
    * also never yields −0.0). */
  def qHoltLinear(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir)
      .select($"event_type", to_date($"ts").as("day"))
    val daily = ev.groupBy($"event_type", $"day")
      .agg(count(lit(1)).as("n"))
    val days = ev.agg(min($"day").as("lo"), max($"day").as("hi"))
      .select(explode(sequence($"lo", $"hi",
        expr("interval 1 day"))).as("day"))
    val filled = ev.select($"event_type").distinct()
      .crossJoin(days)
      .join(daily, Seq("event_type", "day"), "left")
      .select($"event_type", $"day", coalesce($"n", lit(0L)).as("n"))
    holtOf(filled)
  }

  /** Holt core over a gap-filled (event_type, day, n) frame; split out
    * so the spec can pin the recurrence on a hand-folded series. */
  private[graft] def holtOf(filled: DataFrame): DataFrame = {
    val s = filled.sparkSession
    import s.implicits._
    filled
      .groupBy($"event_type")
      .agg(array_sort(collect_list(struct($"day", $"n"))).as("cells"))
      .select($"event_type", expr(
        """aggregate(
          |  cells,
          |  struct(cast(array() as array<struct<day: date, n: bigint,
          |      fc: double, level: double, trend: double>>) as out,
          |    cast(null as double) as l, cast(null as double) as b),
          |  (acc, c) -> if(acc.l is null,
          |    struct(
          |      acc.out || array(named_struct('day', c.day, 'n', c.n,
          |        'fc', cast(null as double),
          |        'level', cast(c.n as double), 'trend', 0.0d)),
          |      cast(c.n as double), 0.0d),
          |    struct(
          |      acc.out || array(named_struct('day', c.day, 'n', c.n,
          |        'fc', acc.l + acc.b,
          |        'level', 0.3d * cast(c.n as double)
          |          + 0.7d * (acc.l + acc.b),
          |        'trend', 0.1d * ((0.3d * cast(c.n as double)
          |            + 0.7d * (acc.l + acc.b)) - acc.l)
          |          + 0.9d * acc.b)),
          |      0.3d * cast(c.n as double) + 0.7d * (acc.l + acc.b),
          |      0.1d * ((0.3d * cast(c.n as double)
          |          + 0.7d * (acc.l + acc.b)) - acc.l)
          |        + 0.9d * acc.b)),
          |  acc -> acc.out)""".stripMargin).as("out"))
      .select($"event_type", explode($"out").as("c"))
      .select($"event_type",
        date_format($"c.day", "yyyy-MM-dd").as("day"),
        $"c.n".as("n"),
        (floor($"c.fc" * 1e4 + 0.5) / 1e4).as("forecast"),
        (floor($"c.level" * 1e4 + 0.5) / 1e4).as("level"),
        (floor($"c.trend" * 1e4 + 0.5) / 1e4).as("trend"))
      .orderBy($"event_type", $"day")
  }

  /** The gap-filled GLOBAL daily-volume series with a 1-based integer
    * day index — the shared input frame of the q311/q312/q318 trend
    * family (q293's spine plus the index both engines agree on). */
  private def dailyIndexed(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir).select(to_date($"ts").as("day"))
    val daily0 = ev.groupBy($"day").agg(count(lit(1)).as("n"))
    val days = ev.agg(min($"day").as("lo"), max($"day").as("hi"))
      .select(explode(sequence($"lo", $"hi",
        expr("interval 1 day"))).as("day"), $"lo")
    days.join(daily0, Seq("day"), "left")
      .select($"day", (datediff($"day", $"lo") + 1).cast("long").as("i"),
        coalesce($"n", lit(0L)).as("y"))
  }

  /** Theil–Sen robust trend (q312) — Theil 1950/Sen 1968: the slope of
    * the daily event volume as the MEDIAN of all pairwise slopes
    * (y_j−y_i)/(j−i), i<j, with the companion intercept
    * median(y_i − slope·i). Unlike q149's OLS line, a third of the
    * days can be outliers (deploy spikes, outage zeros) without moving
    * the estimate — the robust version of the trend every volume alarm
    * wants. Scale shape: the corpus collapses to the |days| grid
    * first; the pair frame is grid² (bounded by the calendar, not the
    * corpus), the medians are exact interpolated percentiles on that
    * bounded frame, and the scalar slope broadcasts back for the
    * intercept pass. Slopes/intercepts can be negative → floor-form
    * presentation rounding. */
  def qTheilSen(s: SparkSession, dir: String): DataFrame = {
    theilSenOf(dailyIndexed(s, dir))
  }

  /** Theil–Sen core over an indexed (i, y) frame; split out so the
    * spec can pin outlier resistance on a planted line. */
  private[graft] def theilSenOf(daily: DataFrame): DataFrame = {
    val s = daily.sparkSession
    import s.implicits._
    val a = daily.select($"i".as("xi"), $"y".cast("double").as("yi"))
    val b = daily.select($"i".as("xj"), $"y".cast("double").as("yj"))
    val slope = a.join(b, $"xi" < $"xj")
      .select((($"yj" - $"yi") / ($"xj" - $"xi")).as("sl"))
      .agg(percentile($"sl", lit(0.5)).as("slope"))
    daily.crossJoin(broadcast(slope))
      .select($"slope",
        ($"y".cast("double") - $"slope" * $"i").as("r"))
      .groupBy($"slope")
      .agg(count(lit(1)).as("n_days"),
        percentile($"r", lit(0.5)).as("icpt"))
      .select($"n_days",
        (floor($"slope" * 1e4 + 0.5) / 1e4).as("slope"),
        (floor($"icpt" * 1e4 + 0.5) / 1e4).as("intercept"))
  }

  /** q318 constants: Page–Hinkley drift margin δ (deviations below it
    * don't accumulate) and the alarm threshold as a multiple of the
    * series' own dispersion — data-derived, so the oracle replays both
    * without literals tuned to one corpus. */
  private val PhDelta = 0.0
  private val PhLambdaSigmas = 3.0

  /** Page–Hinkley drift detector (q318) — Page 1954, the sequential
    * change-of-mean test run by streaming quality monitors (Gama et
    * al. 2014 use exactly this form for concept drift): accumulate
    * m_t = Σ_{i≤t} (x_i − x̄_i − δ) against the running mean, track
    * PH_t = m_t − min_{s≤t} m_s, and alarm when PH_t exceeds
    * λ = 3σ of the series. Complements q188's retrospective
    * changepoint: PH is ONE forward pass, the shape an online monitor
    * runs per batch. Scale: everything after the first aggregate
    * lives on the |days| grid (cumavg, cumsum, running min are grid
    * windows — audited bounded), σ is one scalar frame broadcast
    * back. */
  def qPageHinkley(s: SparkSession, dir: String): DataFrame = {
    pageHinkleyOf(dailyIndexed(s, dir))
  }

  /** PH core over an indexed (day, i, y) frame; split out so the spec
    * can pin alarm onset on a planted level shift. */
  private[graft] def pageHinkleyOf(daily: DataFrame): DataFrame = {
    val s = daily.sparkSession
    import s.implicits._
    val sig = daily.agg(stddev_pop($"y".cast("double")).as("sigma"))
    val cum = Window.orderBy($"i")
      .rowsBetween(Window.unboundedPreceding, 0)
    val g = daily.crossJoin(broadcast(sig))
      .withColumn("x", $"y".cast("double"))
      .withColumn("mean_t", sum($"x").over(cum) / $"i")
      .withColumn("dev", $"x" - $"mean_t" - lit(PhDelta))
      .withColumn("m_t", sum($"dev").over(cum))
      .withColumn("m_min", min($"m_t").over(cum))
    g.select(date_format($"day", "yyyy-MM-dd").as("day"), $"y",
        (floor($"mean_t" * 1e4 + 0.5) / 1e4).as("mean_t"),
        (floor(($"m_t" - $"m_min") * 1e4 + 0.5) / 1e4).as("ph"),
        ($"m_t" - $"m_min" > lit(PhLambdaSigmas) * $"sigma").as("alarm"))
      .orderBy($"day")
  }

  /** q311 constants: additive Holt–Winters with weekly period and the
    * textbook smoothing triple. */
  private val HwPeriod = 7
  private val HwAlpha = 0.3
  private val HwBeta = 0.1
  private val HwGamma = 0.2

  /** Holt–Winters additive seasonal smoothing (q311) — Winters 1960,
    * the three-state completion of the q221 SES → q298 Holt ladder:
    * level, trend, AND a rotating 7-slot seasonal vector, so the
    * one-step-ahead forecast l+b+s_{t−7} tracks a weekly-cadenced
    * volume where Holt lags every weekend dip. Init from the first two
    * seasons: l = mean(week 1), b = (mean(week 2) − mean(week 1)) / 7,
    * seasonal slots = week 2's deviations from its own mean (aligned
    * so s_{t−7} at the first emitted day 15 is day 8's deviation);
    * emission from day 15. Scale shape:
    * q221/q298's — collapse to the |days| grid, sort once, fold the
    * recurrence IN-ROW over the day-sorted cell array (the seasonal
    * state rides as a 7-element array that pops/pushes per step);
    * both engines run the identical IEEE sequence, the oracle's
    * recursive CTE carrying the same list state. Floor-form rounding
    * (trend/seasonal go negative). */
  def qHoltWinters(s: SparkSession, dir: String): DataFrame = {
    holtWintersOf(dailyIndexed(s, dir))
  }

  /** HW core over an indexed (day, i, y) frame; split out so the spec
    * can pin recovery of a planted seasonal pattern. */
  private[graft] def holtWintersOf(daily: DataFrame): DataFrame = {
    val s = daily.sparkSession
    import s.implicits._
    val p = HwPeriod
    daily
      .agg(array_sort(collect_list(struct($"i", $"day", $"y"))).as("cells"))
      .filter(size($"cells") >= 2 * p + 1)
      // the slice length is clamped at 0 even though the filter above
      // already excludes short series: codegen subexpression
      // elimination evaluates the fold BEFORE the filter conjunct's
      // short-circuit, so an unclamped negative length throws on a
      // sub-2-season corpus despite the guard (observed on the 1-day
      // degenerate corpus; greatest(0, …) makes the expression total)
      .select(expr(
        s"""aggregate(
           |  slice(cells, ${2 * p + 1},
           |    greatest(0, size(cells) - ${2 * p})),
           |  struct(
           |    cast(array() as array<struct<day: date, y: bigint,
           |      fc: double, level: double, trend: double,
           |      seasonal: double>>) as out,
           |    aggregate(slice(cells, 1, $p), 0.0d,
           |      (a, c) -> a + cast(c.y as double)) / $p.0d as l,
           |    (aggregate(slice(cells, ${p + 1}, $p), 0.0d,
           |        (a, c) -> a + cast(c.y as double)) / $p.0d
           |      - aggregate(slice(cells, 1, $p), 0.0d,
           |        (a, c) -> a + cast(c.y as double)) / $p.0d)
           |      / $p.0d as b,
           |    transform(slice(cells, ${p + 1}, $p), c ->
           |      cast(c.y as double)
           |        - aggregate(slice(cells, ${p + 1}, $p), 0.0d,
           |            (a, c2) -> a + cast(c2.y as double)) / $p.0d)
           |      as s),
           |  (acc, c) -> struct(
           |    acc.out || array(named_struct(
           |      'day', c.day, 'y', c.y,
           |      'fc', acc.l + acc.b + element_at(acc.s, 1),
           |      'level', ${HwAlpha}d * (cast(c.y as double)
           |          - element_at(acc.s, 1))
           |        + ${1 - HwAlpha}d * (acc.l + acc.b),
           |      'trend', ${HwBeta}d * ((${HwAlpha}d * (cast(c.y as double)
           |            - element_at(acc.s, 1))
           |          + ${1 - HwAlpha}d * (acc.l + acc.b)) - acc.l)
           |        + ${1 - HwBeta}d * acc.b,
           |      'seasonal', ${HwGamma}d * (cast(c.y as double)
           |          - (${HwAlpha}d * (cast(c.y as double)
           |              - element_at(acc.s, 1))
           |            + ${1 - HwAlpha}d * (acc.l + acc.b)))
           |        + ${1 - HwGamma}d * element_at(acc.s, 1))),
           |    ${HwAlpha}d * (cast(c.y as double) - element_at(acc.s, 1))
           |      + ${1 - HwAlpha}d * (acc.l + acc.b),
           |    ${HwBeta}d * ((${HwAlpha}d * (cast(c.y as double)
           |          - element_at(acc.s, 1))
           |        + ${1 - HwAlpha}d * (acc.l + acc.b)) - acc.l)
           |      + ${1 - HwBeta}d * acc.b,
           |    slice(acc.s, 2, $p - 1) || array(
           |      ${HwGamma}d * (cast(c.y as double)
           |          - (${HwAlpha}d * (cast(c.y as double)
           |              - element_at(acc.s, 1))
           |            + ${1 - HwAlpha}d * (acc.l + acc.b)))
           |        + ${1 - HwGamma}d * element_at(acc.s, 1))),
           |  acc -> acc.out)""".stripMargin).as("out"))
      .select(explode($"out").as("c"))
      .select(date_format($"c.day", "yyyy-MM-dd").as("day"),
        $"c.y".as("y"),
        (floor($"c.fc" * 1e4 + 0.5) / 1e4).as("forecast"),
        (floor($"c.level" * 1e4 + 0.5) / 1e4).as("level"),
        (floor($"c.trend" * 1e4 + 0.5) / 1e4).as("trend"),
        (floor($"c.seasonal" * 1e4 + 0.5) / 1e4).as("seasonal"))
      .orderBy($"day")
  }

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q311_holt_winters"      -> (qHoltWinters _),
    "q334_asof_native"       -> (qAsofNative _),
    "q335_asof_tolerance"    -> (qAsofTolerance _),
    "q345_value_band"        -> (qValueBand _),
    "q346_band_left"         -> (qBandLeft _),
    "q347_asof_sql"          -> (qAsofSql _),
    "q348_band_semi"         -> (qBandSemi _),
    "q349_interval_join"     -> (qIntervalJoin _),
    "q363_interval_rule"     -> (qIntervalNaive _),
    "q367_interval_left"     -> (qIntervalLeft _),
    "q368_interval_semi"     -> (qIntervalSemi _),
    "q369_interval_profile"  -> (qIntervalProfile _),
    "q376_interval_sweep"    -> (qIntervalSweep _),
    "q377_sweep_left"        -> (qSweepLeft _),
    "q378_interval_full"     -> (qIntervalFull _),
    "q382_interval_coverage" -> (qIntervalCoverage _),
    "q385_sweep_semi"        -> (qSweepSemi _),
    "q350_asof_forward"      -> (qAsofForward _),
    "q351_asof_nearest"      -> (qAsofNearest _),
    "q358_event_motifs"      -> (qEventMotifs _),
    "q371_motif_policies"    -> (qMotifPolicies _),
    "q375_circular_hours"    -> (qCircularHours _),
    "q312_theil_sen"         -> (qTheilSen _),
    "q318_page_hinkley"      -> (qPageHinkley _),
    "q293_acf"               -> (qAcf _),
    "q298_holt_linear"       -> (qHoltLinear _),
    "q217_dwell_time" -> (qDwellTime _),
    "q218_wilson_rates" -> (qWilsonRates _),
    "q215_rolling_actives" -> (qRollingActives _),
    "q213_assoc_rules" -> (qAssocRules _),
    "q212_kaplan_meier" -> (qKaplanMeier _),
    "q209_ohlc" -> (qOhlcBars _),
    "q206_benford" -> (qBenford _),
    "q200_peak_concurrency" -> (qPeakConcurrency _),
    "q198_bot_score" -> (qBotScore _),
    "q188_changepoint" -> (qChangepoint _),
    "q189_exclusion_funnel" -> (qExclusionFunnel _),
    "q190_attribution" -> (qAttribution _),
    "q155_eb_rates" -> (qEbRates _),
    "q162_markov_next" -> (qMarkovNext _),
    "q166_seasonality" -> (qSeasonality _),
    "q168_lateness" -> (qLateness _),
    "q177_recency_weights" -> (qRecencyWeights _),
    "q181_burstiness" -> (qBurstiness _),
    "q184_cohort_value" -> (qCohortValue _),
    "q154_cuped" -> (qCuped _),
    "q152_session_paths" -> (qSessionPaths _),
    "q149_trend_detector" -> (qTrendDetector _),
    "q150_funnel_latency" -> (qFunnelLatency _),
    "q146_sample_estimate" -> (qSampleEstimate _),
    "q145_ab_test" -> (qAbTest _),
    "q130_mad_outliers" -> (qMadOutliers _),
    "q133_split_leakage" -> (qTimeSplitLeakage _),
    "q122_locf_impute"  -> (qLocfImpute _),
    "q26_sessionize"         -> (qSessionize _),
    "q26b_session_window"    -> (qSessionWindow _),
    "q27_asof_join"          -> (qAsofJoin _),
    "q29_range_join"         -> (qRangeJoin _),
    "q20_date_parse_fixed"   -> (qDateParseFixed _),
    "q21_date_parse_dynamic" -> (qDateParseDynamic _),
    "q22_make_timestamp"     -> (qMakeTimestamp _),
    "q23_json_extract"       -> (qJsonExtract _),
    "q24_window_tumbling"    -> (qWindowTumbling _),
    "q79_moving_avg"         -> (qMovingAvg _),
    "q89_windowed_dedup"     -> (qWindowedDedup _),
    "q103_throttle_lastkept" -> (qThrottleLastKept _),
    "q116_gap_fill"          -> (qGapFill _),
    "q221_ses_smooth"        -> (qSesSmooth _),
    "q229_markov_eval"       -> (qMarkovEval _),
    "q249_absorption"        -> (qAbsorption _),
    "q255_stl_decompose"     -> (qStlDecompose _),
    "q259_power_analysis"    -> (qPowerAnalysis _),
    "q232_freshness_sla"     -> (qFreshnessSla _),
    "q237_fd_binning"        -> (qFdBinning _),
    "q245_variant_json"      -> (qVariantJson _),
    "q239_rfm_features"      -> (qRfmFeatures _),
    "q240_capture_recapture" -> (qCaptureRecapture _),
    "q233_exp_gap_fit"       -> (qExpGapFit _),
    "q234_trending_items"    -> (qTrendingItems _),
    "q99_funnel"             -> (qFunnel _),
    "q100_retention"         -> (qRetention _),
  )

  /** Shared oracle CTE prefix: the gap-filled indexed daily series
    * (q311/q312/q318 all consume it — must mirror dailyIndexed). */
  private val DailyIndexedSql =
    """ev AS (
      |  SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day FROM events),
      |daily0 AS (SELECT day, count(*) AS n FROM ev GROUP BY day),
      |span AS (SELECT min(day) AS lo, max(day) AS hi FROM ev),
      |days AS (
      |  SELECT CAST(unnest(generate_series(lo, hi,
      |    INTERVAL 1 DAY)) AS DATE) AS day, lo FROM span),
      |daily AS (
      |  SELECT d.day, CAST(d.day - d.lo AS BIGINT) + 1 AS i,
      |    CAST(coalesce(daily0.n, 0) AS BIGINT) AS y
      |  FROM days d LEFT JOIN daily0 ON d.day = daily0.day)""".stripMargin

  /** The naive quadratic interval-overlap replay (DuckDB's IEJoin
    * handles the theta join directly; overlap micros are exact
    * integers, one double divide at the end — same tree as the
    * engine's). Shared verbatim by q349 (hand-bucketed), q363
    * (rule-rewritten) and q376 (sweep-line): three plans, one truth. */
  private val ivOverlapAggSql: String =
    """WITH sp AS (
      |  SELECT user_id, CAST(ts AS DATE) AS day, event_type,
      |    min(epoch_us(CAST(ts AS TIMESTAMP))) AS t0,
      |    max(epoch_us(CAST(ts AS TIMESTAMP))) AS t1
      |  FROM events WHERE event_type IN ('view', 'purchase')
      |  GROUP BY 1, 2, 3),
      |v AS (SELECT user_id AS vu, day, t0 AS v0, t1 AS v1
      |      FROM sp WHERE event_type = 'view'),
      |p AS (SELECT user_id AS pu, t0 AS p0, t1 AS p1
      |      FROM sp WHERE event_type = 'purchase'),
      |pr AS (
      |  SELECT v.day,
      |    least(v1, p1) - greatest(v0, p0) AS ov_us
      |  FROM v JOIN p
      |    ON vu <> pu AND v0 <= p1 AND p0 <= v1)
      |SELECT strftime(day, '%Y-%m-%d') AS day,
      |  CAST(count(*) AS BIGINT) AS n_pairs,
      |  floor(CAST(sum(ov_us) AS DOUBLE) / count(*) / 100.0 + 0.5)
      |    / 1e4 AS mean_overlap_sec
      |FROM pr GROUP BY day ORDER BY day""".stripMargin

  /** The literal LEFT JOIN replay — unmatched view spans survive with
    * a NULL purchase side, so n_lonely checks the outer-ness. Shared
    * verbatim by q367 (rule-rewritten outer join) and q377 (sweep). */
  private val ivLeftAggSql: String =
    """WITH sp AS (
      |  SELECT user_id, CAST(ts AS DATE) AS day, event_type,
      |    min(epoch_us(CAST(ts AS TIMESTAMP))) AS t0,
      |    max(epoch_us(CAST(ts AS TIMESTAMP))) AS t1
      |  FROM events WHERE event_type IN ('view', 'purchase')
      |  GROUP BY 1, 2, 3),
      |v AS (SELECT user_id AS vu, day, t0 AS v0, t1 AS v1
      |      FROM sp WHERE event_type = 'view'),
      |p AS (SELECT user_id AS pu, t0 AS p0, t1 AS p1
      |      FROM sp WHERE event_type = 'purchase'),
      |j AS (
      |  SELECT v.day, p.pu,
      |    least(v1, p1) - greatest(v0, p0) AS ov_us
      |  FROM v LEFT JOIN p
      |    ON vu <> pu AND v0 <= p1 AND p0 <= v1),
      |a AS (
      |  SELECT day,
      |    CAST(sum(CASE WHEN pu IS NOT NULL THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_pairs,
      |    CAST(sum(CASE WHEN pu IS NULL THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_lonely,
      |    sum(CASE WHEN pu IS NOT NULL THEN ov_us ELSE 0 END)
      |      AS sum_us
      |  FROM j GROUP BY day)
      |SELECT strftime(day, '%Y-%m-%d') AS day, n_pairs, n_lonely,
      |  floor(CAST(sum_us AS DOUBLE) / nullif(n_pairs, 0) / 100.0
      |    + 0.5) / 1e4 AS mean_overlap_sec
      |FROM a ORDER BY day""".stripMargin

  /** The literal EXISTS replay of the semi interval join — shared
    * verbatim by q368 (rule-rewritten) and q385 (sweep-line). */
  private val ivSemiAggSql: String =
    """WITH sp AS (
      |  SELECT user_id, CAST(ts AS DATE) AS day, event_type,
      |    min(epoch_us(CAST(ts AS TIMESTAMP))) AS t0,
      |    max(epoch_us(CAST(ts AS TIMESTAMP))) AS t1
      |  FROM events WHERE event_type IN ('view', 'purchase')
      |  GROUP BY 1, 2, 3),
      |v AS (SELECT user_id AS vu, day, t0 AS v0, t1 AS v1
      |      FROM sp WHERE event_type = 'view'),
      |p AS (SELECT user_id AS pu, t0 AS p0, t1 AS p1
      |      FROM sp WHERE event_type = 'purchase'),
      |q AS (
      |  SELECT day, v1 - v0 AS span_us FROM v
      |  WHERE EXISTS (SELECT 1 FROM p
      |    WHERE pu <> vu AND v0 <= p1 AND p0 <= v1))
      |SELECT strftime(day, '%Y-%m-%d') AS day,
      |  CAST(count(*) AS BIGINT) AS n_spans,
      |  floor(CAST(sum(span_us) AS DOUBLE) / count(*) / 100.0 + 0.5)
      |    / 1e4 AS mean_span_sec
      |FROM q GROUP BY day ORDER BY day""".stripMargin

  override def oracleSql: Map[String, String] = Map(
    "q312_theil_sen" ->
      s"""WITH $DailyIndexedSql,
        |sl AS (
        |  SELECT (CAST(b.y AS DOUBLE) - a.y) / (b.i - a.i) AS sl
        |  FROM daily a JOIN daily b ON a.i < b.i),
        |s1 AS (SELECT quantile_cont(sl, 0.5) AS slope FROM sl),
        |r AS (
        |  SELECT s1.slope, CAST(d.y AS DOUBLE) - s1.slope * d.i AS r
        |  FROM daily d CROSS JOIN s1)
        |SELECT CAST(count(*) AS BIGINT) AS n_days,
        |  floor(slope * 1e4 + 0.5) / 1e4 AS slope,
        |  floor(quantile_cont(r, 0.5) * 1e4 + 0.5) / 1e4 AS intercept
        |FROM r GROUP BY slope""".stripMargin,
    "q318_page_hinkley" ->
      s"""WITH $DailyIndexedSql,
        |sig AS (SELECT stddev_pop(CAST(y AS DOUBLE)) AS sigma FROM daily),
        |g AS (
        |  SELECT day, i, y,
        |    sum(CAST(y AS DOUBLE)) OVER (ORDER BY i) / i AS mean_t
        |  FROM daily),
        |g2 AS (
        |  SELECT *, CAST(y AS DOUBLE) - mean_t - $PhDelta AS dev FROM g),
        |g3 AS (SELECT *, sum(dev) OVER (ORDER BY i) AS m_t FROM g2),
        |g4 AS (SELECT *, min(m_t) OVER (ORDER BY i) AS m_min FROM g3)
        |SELECT strftime(day, '%Y-%m-%d') AS day, y,
        |  floor(mean_t * 1e4 + 0.5) / 1e4 AS mean_t,
        |  floor((m_t - m_min) * 1e4 + 0.5) / 1e4 AS ph,
        |  (m_t - m_min) > $PhLambdaSigmas * sig.sigma AS alarm
        |FROM g4 CROSS JOIN sig ORDER BY day""".stripMargin,
    "q311_holt_winters" ->
      s"""WITH RECURSIVE $DailyIndexedSql,
        |w1 AS (SELECT avg(CAST(y AS DOUBLE)) AS m FROM daily
        |  WHERE i <= $HwPeriod),
        |w2 AS (SELECT avg(CAST(y AS DOUBLE)) AS m FROM daily
        |  WHERE i BETWEEN ${HwPeriod + 1} AND ${2 * HwPeriod}),
        |s0 AS (
        |  SELECT list(CAST(d.y AS DOUBLE) - w2.m ORDER BY d.i) AS s
        |  FROM daily d CROSS JOIN w2
        |  WHERE d.i BETWEEN ${HwPeriod + 1} AND ${2 * HwPeriod}),
        |rec AS (
        |  SELECT CAST(${2 * HwPeriod} AS BIGINT) AS i,
        |    CAST(NULL AS DATE) AS day, CAST(NULL AS BIGINT) AS y,
        |    CAST(NULL AS DOUBLE) AS fc,
        |    w1.m AS l, (w2.m - w1.m) / $HwPeriod.0 AS b, s0.s AS s
        |  FROM w1 CROSS JOIN w2 CROSS JOIN s0
        |  UNION ALL
        |  SELECT d.i, d.day, d.y,
        |    r.l + r.b + r.s[1],
        |    $HwAlpha * (CAST(d.y AS DOUBLE) - r.s[1])
        |      + ${1 - HwAlpha} * (r.l + r.b),
        |    $HwBeta * (($HwAlpha * (CAST(d.y AS DOUBLE) - r.s[1])
        |        + ${1 - HwAlpha} * (r.l + r.b)) - r.l)
        |      + ${1 - HwBeta} * r.b,
        |    r.s[2:$HwPeriod] || [$HwGamma * (CAST(d.y AS DOUBLE)
        |        - ($HwAlpha * (CAST(d.y AS DOUBLE) - r.s[1])
        |          + ${1 - HwAlpha} * (r.l + r.b)))
        |      + ${1 - HwGamma} * r.s[1]]
        |  FROM rec r JOIN daily d ON d.i = r.i + 1)
        |SELECT strftime(day, '%Y-%m-%d') AS day, y,
        |  floor(fc * 1e4 + 0.5) / 1e4 AS forecast,
        |  floor(l * 1e4 + 0.5) / 1e4 AS level,
        |  floor(b * 1e4 + 0.5) / 1e4 AS trend,
        |  floor(s[$HwPeriod] * 1e4 + 0.5) / 1e4 AS seasonal
        |FROM rec WHERE i > ${2 * HwPeriod} ORDER BY day""".stripMargin,
    "q293_acf" ->
      """WITH ev AS (
        |  SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day FROM events),
        |daily0 AS (SELECT day, count(*) AS n FROM ev GROUP BY day),
        |span AS (SELECT min(day) AS lo, max(day) AS hi FROM ev),
        |days AS (
        |  SELECT CAST(unnest(generate_series(lo, hi,
        |    INTERVAL 1 DAY)) AS DATE) AS day FROM span),
        |daily AS (
        |  SELECT d.day, CAST(coalesce(daily0.n, 0) AS DOUBLE) AS y
        |  FROM days d LEFT JOIN daily0 ON d.day = daily0.day),
        |st AS (SELECT avg(y) AS mu FROM daily),
        |cent AS (SELECT day, y - st.mu AS e FROM daily CROSS JOIN st),
        |den AS (SELECT sum(e * e) AS den FROM cent),
        |lags AS (SELECT unnest(range(1, 8)) AS lag),
        |num AS (
        |  SELECT l.lag, sum(c1.e * c2.e) AS num
        |  FROM lags l
        |  JOIN cent c1 ON true
        |  JOIN cent c2 ON c2.day = c1.day + CAST(l.lag AS INTEGER)
        |  GROUP BY l.lag)
        |SELECT l.lag, floor(coalesce(num.num, 0.0)
        |  / nullif(den.den, 0.0) * 1e4 + 0.5) / 1e4 AS acf
        |FROM lags l LEFT JOIN num ON l.lag = num.lag CROSS JOIN den
        |ORDER BY l.lag""".stripMargin,
    "q298_holt_linear" ->
      """WITH RECURSIVE ev AS (
        |  SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day
        |  FROM events),
        |daily AS (
        |  SELECT event_type, day, CAST(count(*) AS BIGINT) AS n
        |  FROM ev GROUP BY 1, 2),
        |span AS (SELECT min(day) AS lo, max(day) AS hi FROM ev),
        |days AS (
        |  SELECT CAST(unnest(generate_series(lo, hi,
        |    INTERVAL 1 DAY)) AS DATE) AS day FROM span),
        |filled AS (
        |  SELECT t.event_type, d.day,
        |    coalesce(daily.n, CAST(0 AS BIGINT)) AS n,
        |    CAST(row_number() OVER (PARTITION BY t.event_type
        |      ORDER BY d.day) AS BIGINT) AS i
        |  FROM (SELECT DISTINCT event_type FROM ev) t
        |  CROSS JOIN days d
        |  LEFT JOIN daily ON daily.event_type = t.event_type
        |    AND daily.day = d.day),
        |rec AS (
        |  SELECT event_type, day, n, i,
        |    CAST(NULL AS DOUBLE) AS fc,
        |    CAST(n AS DOUBLE) AS level, CAST(0 AS DOUBLE) AS trend
        |  FROM filled WHERE i = 1
        |  UNION ALL
        |  SELECT c.event_type, c.day, c.n, c.i,
        |    r.level + r.trend,
        |    0.3 * CAST(c.n AS DOUBLE) + 0.7 * (r.level + r.trend),
        |    0.1 * ((0.3 * CAST(c.n AS DOUBLE)
        |        + 0.7 * (r.level + r.trend)) - r.level)
        |      + 0.9 * r.trend
        |  FROM rec r JOIN filled c
        |    ON c.event_type = r.event_type AND c.i = r.i + 1)
        |SELECT event_type, strftime(day, '%Y-%m-%d') AS day, n,
        |  floor(fc * 10000 + 0.5) / 10000 AS forecast,
        |  floor(level * 10000 + 0.5) / 10000 AS level,
        |  floor(trend * 10000 + 0.5) / 10000 AS trend
        |FROM rec ORDER BY event_type, day""".stripMargin,
    "q259_power_analysis" ->
      s"""WITH g AS (
        |  SELECT CAST(count(DISTINCT user_id) AS DOUBLE) AS n_total,
        |    (max(epoch_us(CAST(ts AS TIMESTAMP)))
        |     - min(epoch_us(CAST(ts AS TIMESTAMP)))) / 86400000000.0
        |      AS days
        |  FROM events),
        |pt AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_users
        |  FROM (SELECT DISTINCT event_type, user_id FROM events)
        |  GROUP BY event_type),
        |c AS (
        |  SELECT pt.event_type, pt.n_users, g.n_total, g.days,
        |    CAST(pt.n_users AS DOUBLE) / g.n_total AS p
        |  FROM pt CROSS JOIN g)
        |SELECT event_type, n_users, round(p, 4) AS base_rate,
        |  round(${(1.959964 + 0.841621) * (1.959964 + 0.841621)}
        |    * 2.0 * p * (1.0 - p) / ((0.05 * p) * (0.05 * p)), 1)
        |    AS n_per_arm,
        |  round(${(1.959964 + 0.841621) * (1.959964 + 0.841621)}
        |    * 2.0 * p * (1.0 - p) / ((0.05 * p) * (0.05 * p))
        |    * 2.0 / (n_total / days), 1) AS days_needed
        |FROM c ORDER BY event_type""".stripMargin,
    "q255_stl_decompose" ->
      """WITH ev AS (
        |  SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day
        |  FROM events),
        |daily AS (
        |  SELECT event_type, day, CAST(count(*) AS BIGINT) AS n
        |  FROM ev GROUP BY 1, 2),
        |span AS (SELECT min(day) AS lo, max(day) AS hi FROM ev),
        |days AS (
        |  SELECT CAST(unnest(generate_series(lo, hi,
        |    INTERVAL 1 DAY)) AS DATE) AS day FROM span),
        |filled AS (
        |  SELECT t.event_type, d.day,
        |    coalesce(daily.n, CAST(0 AS BIGINT)) AS n,
        |    (CAST(d.day - DATE '1970-01-01' AS BIGINT) % 7 + 7) % 7
        |      AS wd
        |  FROM (SELECT DISTINCT event_type FROM ev) t
        |  CROSS JOIN days d
        |  LEFT JOIN daily ON daily.event_type = t.event_type
        |    AND daily.day = d.day),
        |tr AS (
        |  SELECT *, avg(CAST(n AS DOUBLE)) OVER (
        |    PARTITION BY event_type ORDER BY day
        |    ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS trend
        |  FROM filled),
        |de AS (SELECT *, n - trend AS detr FROM tr),
        |se AS (
        |  SELECT *, avg(detr) OVER (PARTITION BY event_type, wd)
        |    AS seasonal
        |  FROM de)
        |SELECT event_type, strftime(day, '%Y-%m-%d') AS day, n,
        |  round(trend, 4) + 0.0 AS trend,
        |  round(seasonal, 4) + 0.0 AS seasonal,
        |  round(detr - seasonal, 4) + 0.0 AS residual
        |FROM se ORDER BY event_type, day""".stripMargin,
    "q249_absorption" -> {
      def roundCte(prev: String, cur: String): String =
        s"""f$cur AS (
          |  SELECT m.src, sum(m.p * p$prev.pc) AS flow
          |  FROM m JOIN p$prev ON p$prev.state = m.dst
          |  GROUP BY m.src),
          |p$cur AS (
          |  SELECT s.state,
          |    CASE WHEN s.state = 'purchase' THEN 1.0
          |         ELSE coalesce(f$cur.flow, 0.0) END AS pc
          |  FROM states s LEFT JOIN f$cur ON f$cur.src = s.state)"""
          .stripMargin
      s"""WITH ev AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id,
        |    event_type
        |  FROM events),
        |tr AS (
        |  SELECT event_type AS src,
        |    coalesce(lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id), 'END') AS dst
        |  FROM ev),
        |cnt AS (
        |  SELECT src, dst, CAST(count(*) AS BIGINT) AS n
        |  FROM tr GROUP BY src, dst),
        |m AS (
        |  SELECT src, dst,
        |    CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY src) AS p
        |  FROM cnt),
        |states AS (SELECT DISTINCT src AS state FROM m),
        |p0 AS (
        |  SELECT state,
        |    CASE WHEN state = 'purchase' THEN 1.0 ELSE 0.0 END AS pc
        |  FROM states),
        |${roundCte("0", "1")},
        |${roundCte("1", "2")},
        |${roundCte("2", "3")},
        |${roundCte("3", "4")},
        |${roundCte("4", "5")}
        |SELECT state, round(pc, 4) AS p_convert_5
        |FROM p5 ORDER BY state""".stripMargin
    },
    "q245_variant_json" ->
      """WITH k AS (
        |  SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |  FROM events
        |  WHERE json_extract_string(props, '$.k') IS NOT NULL)
        |SELECT k % 10 AS k_band, CAST(count(*) AS BIGINT) AS n,
        |  min(k) AS k_min, max(k) AS k_max,
        |  CAST(count(DISTINCT k) AS BIGINT) AS n_items
        |FROM k GROUP BY k % 10 ORDER BY k_band""".stripMargin,
    "q237_fd_binning" ->
      """WITH s AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |    quantile_cont(value, 0.75) - quantile_cont(value, 0.25)
        |      AS iqr_raw,
        |    min(value) AS lo, max(value) AS hi
        |  FROM events GROUP BY event_type)
        |SELECT event_type, n, round(iqr_raw, 4) AS iqr,
        |  round(2.0 * iqr_raw / cbrt(CAST(n AS DOUBLE)), 4)
        |    AS bin_width,
        |  round((hi - lo) / (2.0 * iqr_raw / cbrt(CAST(n AS DOUBLE))), 4)
        |    AS n_bins
        |FROM s ORDER BY event_type""".stripMargin,
    "q239_rfm_features" ->
      """WITH p AS (
        |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS tus, value
        |  FROM events WHERE event_type = 'purchase'),
        |wm AS (SELECT max(tus) AS wm_us FROM p),
        |rfm AS (
        |  SELECT user_id,
        |    round((wm_us - max(tus)) / 3600000000.0, 4) AS recency_h,
        |    CAST(count(*) AS BIGINT) AS frequency,
        |    round(sum(value), 4) AS monetary
        |  FROM p CROSS JOIN wm GROUP BY user_id, wm_us),
        |cuts AS (
        |  SELECT quantile_cont(recency_h, 1.0/3) AS r1,
        |    quantile_cont(recency_h, 2.0/3) AS r2,
        |    quantile_cont(frequency, 1.0/3) AS f1,
        |    quantile_cont(frequency, 2.0/3) AS f2,
        |    quantile_cont(monetary, 1.0/3) AS m1,
        |    quantile_cont(monetary, 2.0/3) AS m2
        |  FROM rfm),
        |seg AS (
        |  SELECT rfm.*,
        |    1 + CAST(recency_h > r1 AS INTEGER)
        |      + CAST(recency_h > r2 AS INTEGER) AS r,
        |    1 + CAST(frequency < f2 AS INTEGER)
        |      + CAST(frequency < f1 AS INTEGER) AS f,
        |    1 + CAST(monetary < m2 AS INTEGER)
        |      + CAST(monetary < m1 AS INTEGER) AS m
        |  FROM rfm CROSS JOIN cuts)
        |SELECT user_id, recency_h, frequency, monetary,
        |  CAST(r AS VARCHAR) || CAST(f AS VARCHAR) || CAST(m AS VARCHAR)
        |    AS segment
        |FROM seg ORDER BY user_id""".stripMargin,
    "q240_capture_recapture" ->
      """WITH ev AS (
        |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS tus
        |  FROM events),
        |cut AS (SELECT (min(tus) + max(tus)) // 2 AS cut FROM ev),
        |flags AS (
        |  SELECT user_id,
        |    max(CASE WHEN tus < cut THEN 1 ELSE 0 END) AS s1,
        |    max(CASE WHEN tus >= cut THEN 1 ELSE 0 END) AS s2
        |  FROM ev CROSS JOIN cut GROUP BY user_id),
        |agg AS (
        |  SELECT CAST(sum(s1) AS BIGINT) AS n1,
        |    CAST(sum(s2) AS BIGINT) AS n2,
        |    CAST(sum(s1 * s2) AS BIGINT) AS m,
        |    CAST(count(*) AS BIGINT) AS n_true
        |  FROM flags)
        |SELECT n1, n2, m, n_true,
        |  round((n1 + 1) * (n2 + 1) / (m + 1.0) - 1.0, 4) AS n_hat,
        |  round(((n1 + 1) * (n2 + 1) / (m + 1.0) - 1.0 - n_true)
        |    / n_true, 4) + 0.0 AS rel_err
        |FROM agg""".stripMargin,
    "q232_freshness_sla" ->
      """WITH pt AS (
        |  SELECT event_type,
        |    max(epoch_us(CAST(ts AS TIMESTAMP))) AS latest_us,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY event_type),
        |wm AS (SELECT max(latest_us) AS wm_us FROM pt)
        |SELECT event_type, n,
        |  round((wm_us - latest_us) / 3600000000.0, 4) AS lag_hours,
        |  (wm_us - latest_us) <= 24 * 3600000000 AS sla_ok
        |FROM pt CROSS JOIN wm ORDER BY event_type""".stripMargin,
    "q233_exp_gap_fit" ->
      """WITH ev AS (
        |  SELECT event_type, CAST(ts AS TIMESTAMP) AS ts, event_id
        |  FROM events),
        |g AS (
        |  SELECT event_type,
        |    epoch_us(ts) - lag(epoch_us(ts)) OVER (
        |      PARTITION BY event_type, CAST(ts AS DATE)
        |      ORDER BY ts, event_id) AS g
        |  FROM ev),
        |gaps AS (SELECT event_type, g FROM g WHERE g IS NOT NULL),
        |stats AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_gaps,
        |    avg(CAST(g AS DOUBLE)) AS mean_g
        |  FROM gaps GROUP BY event_type),
        |grid AS (
        |  SELECT event_type, g, CAST(count(*) AS BIGINT) AS c
        |  FROM gaps GROUP BY event_type, g),
        |cum AS (
        |  SELECT event_type, g, c, sum(c) OVER (
        |    PARTITION BY event_type ORDER BY g) AS cum
        |  FROM grid),
        |dev AS (
        |  SELECT c.event_type, s.n_gaps, s.mean_g,
        |    round(greatest(
        |      abs(CAST(c.cum AS DOUBLE) / s.n_gaps
        |        - (1.0 - exp(-(CAST(c.g AS DOUBLE) / s.mean_g)))),
        |      abs(CAST(c.cum - c.c AS DOUBLE) / s.n_gaps
        |        - (1.0 - exp(-(CAST(c.g AS DOUBLE) / s.mean_g))))), 6)
        |      AS dev
        |  FROM cum c JOIN stats s USING (event_type))
        |SELECT event_type, n_gaps,
        |  round(3600000000.0 / mean_g, 4) AS rate_per_hour,
        |  round(max(dev), 4) AS ks_d
        |FROM dev GROUP BY event_type, n_gaps, mean_g
        |ORDER BY event_type""".stripMargin,
    "q234_trending_items" ->
      """WITH ev AS (
        |  SELECT epoch_us(CAST(ts AS TIMESTAMP)) AS tus,
        |    CAST(json_extract_string(props, '$.k') AS BIGINT) AS item
        |  FROM events
        |  WHERE json_extract_string(props, '$.k') IS NOT NULL),
        |cut AS (SELECT (min(tus) + max(tus)) // 2 AS cut FROM ev),
        |counts AS (
        |  SELECT item,
        |    CAST(sum(CASE WHEN tus < cut THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_prev,
        |    CAST(sum(CASE WHEN tus >= cut THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_cur
        |  FROM ev CROSS JOIN cut GROUP BY item),
        |ranked AS (
        |  SELECT *,
        |    CAST(row_number() OVER (ORDER BY n_prev DESC, item ASC)
        |      AS INTEGER) AS rp0,
        |    CAST(row_number() OVER (ORDER BY n_cur DESC, item ASC)
        |      AS INTEGER) AS rc0
        |  FROM counts),
        |flagged AS (
        |  SELECT rc0 AS rk_cur, item, n_cur, n_prev,
        |    CASE WHEN n_prev > 0 THEN rp0 END AS rk_prev
        |  FROM ranked WHERE n_cur > 0)
        |SELECT rk_cur, item, n_cur, n_prev, rk_prev,
        |  rk_prev - rk_cur AS rank_gain
        |FROM flagged WHERE rk_cur <= 15 ORDER BY rk_cur""".stripMargin,
    "q229_markov_eval" ->
      """WITH ev AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id,
        |    event_type
        |  FROM events),
        |tr AS (
        |  SELECT event_type AS prev_type,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS next_type
        |  FROM ev),
        |counts AS (
        |  SELECT prev_type, next_type, CAST(count(*) AS BIGINT) AS n
        |  FROM tr WHERE next_type IS NOT NULL
        |  GROUP BY 1, 2),
        |pred AS (
        |  SELECT prev_type, next_type AS predicted FROM (
        |    SELECT *, row_number() OVER (PARTITION BY prev_type
        |      ORDER BY n DESC, next_type ASC) AS rk FROM counts)
        |  WHERE rk = 1)
        |SELECT c.prev_type, max(p.predicted) AS predicted,
        |  CAST(sum(c.n) AS BIGINT) AS n_trans,
        |  CAST(sum(CASE WHEN c.next_type = p.predicted THEN c.n
        |      ELSE 0 END) AS BIGINT) AS n_hits,
        |  round(sum(CASE WHEN c.next_type = p.predicted THEN c.n
        |      ELSE 0 END) / CAST(sum(c.n) AS DOUBLE), 4) AS accuracy
        |FROM counts c JOIN pred p USING (prev_type)
        |GROUP BY c.prev_type
        |ORDER BY c.prev_type""".stripMargin,
    "q221_ses_smooth" ->
      """WITH RECURSIVE ev AS (
        |  SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day
        |  FROM events),
        |daily AS (
        |  SELECT event_type, day, CAST(count(*) AS BIGINT) AS n
        |  FROM ev GROUP BY 1, 2),
        |span AS (SELECT min(day) AS lo, max(day) AS hi FROM ev),
        |days AS (
        |  SELECT CAST(unnest(generate_series(lo, hi,
        |    INTERVAL 1 DAY)) AS DATE) AS day FROM span),
        |filled AS (
        |  SELECT t.event_type, d.day,
        |    coalesce(daily.n, CAST(0 AS BIGINT)) AS n,
        |    CAST(row_number() OVER (PARTITION BY t.event_type
        |      ORDER BY d.day) AS BIGINT) AS i
        |  FROM (SELECT DISTINCT event_type FROM ev) t
        |  CROSS JOIN days d
        |  LEFT JOIN daily ON daily.event_type = t.event_type
        |    AND daily.day = d.day),
        |rec AS (
        |  SELECT event_type, day, n, i, CAST(n AS DOUBLE) AS level
        |  FROM filled WHERE i = 1
        |  UNION ALL
        |  SELECT c.event_type, c.day, c.n, c.i,
        |    0.3 * CAST(c.n AS DOUBLE) + 0.7 * r.level
        |  FROM rec r JOIN filled c
        |    ON c.event_type = r.event_type AND c.i = r.i + 1)
        |SELECT event_type, strftime(day, '%Y-%m-%d') AS day, n,
        |  floor(level * 10000 + 0.5) / 10000 AS level
        |FROM rec ORDER BY event_type, day""".stripMargin,
    "q217_dwell_time" ->
      """WITH ev AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id,
        |    event_type
        |  FROM events),
        |g AS (
        |  SELECT event_type,
        |    epoch_us(lead(ts) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id)) - epoch_us(ts) AS dwell_us
        |  FROM ev)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_dwells,
        |  round(quantile_cont(dwell_us / 1000000.0, 0.5), 4) AS p50_s,
        |  round(quantile_cont(dwell_us / 1000000.0, 0.9), 4) AS p90_s,
        |  round(avg(dwell_us / 1000000.0), 4) AS mean_s
        |FROM g
        |WHERE dwell_us IS NOT NULL AND dwell_us <= 1800 * 1000000
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q218_wilson_rates" ->
      """WITH per AS (
        |  SELECT CAST(ts AS DATE) AS day, user_id,
        |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS conv
        |  FROM events GROUP BY 1, 2),
        |daily AS (
        |  SELECT day, CAST(count(*) AS BIGINT) AS n_users,
        |    CAST(sum(conv) AS BIGINT) AS n_conv
        |  FROM per GROUP BY day),
        |w AS (
        |  SELECT day, n_users, n_conv,
        |    n_conv / CAST(n_users AS DOUBLE) AS p,
        |    CAST(n_users AS DOUBLE) AS n
        |  FROM daily)
        |SELECT strftime(day, '%Y-%m-%d') AS day, n_users, n_conv,
        |  round(p, 4) AS rate,
        |  round(greatest(
        |    ((p + 1.96 * 1.96 / (2.0 * n))
        |      - 1.96 * sqrt(p * (1.0 - p) / n
        |        + 1.96 * 1.96 / (4.0 * n * n)))
        |      / (1.0 + 1.96 * 1.96 / n), 0.0), 4) + 0.0 AS wilson_lo,
        |  round(least(
        |    ((p + 1.96 * 1.96 / (2.0 * n))
        |      + 1.96 * sqrt(p * (1.0 - p) / n
        |        + 1.96 * 1.96 / (4.0 * n * n)))
        |      / (1.0 + 1.96 * 1.96 / n), 1.0), 4) AS wilson_hi
        |FROM w ORDER BY day""".stripMargin,
    "q215_rolling_actives" ->
      """WITH ud AS (
        |  SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
        |h AS (SELECT max(day) AS hi FROM ud),
        |cover AS (
        |  SELECT DISTINCT user_id,
        |    CAST(unnest(generate_series(CAST(day AS TIMESTAMP),
        |      CAST(least(day + 6, hi) AS TIMESTAMP),
        |      INTERVAL 1 DAY)) AS DATE) AS day
        |  FROM ud CROSS JOIN h),
        |wau AS (
        |  SELECT day, CAST(count(DISTINCT user_id) AS BIGINT) AS wau
        |  FROM cover GROUP BY day),
        |dau AS (
        |  SELECT day, CAST(count(DISTINCT user_id) AS BIGINT) AS dau
        |  FROM ud GROUP BY day)
        |SELECT strftime(d.day, '%Y-%m-%d') AS day, dau, wau,
        |  round(dau / CAST(wau AS DOUBLE), 4) AS stickiness
        |FROM dau d JOIN wau USING (day) ORDER BY day""".stripMargin,
    "q213_assoc_rules" ->
      """WITH baskets AS (
        |  SELECT DISTINCT user_id,
        |    CAST(json_extract_string(props, '$.k') AS BIGINT) AS item
        |  FROM events
        |  WHERE event_type = 'purchase'
        |    AND json_extract_string(props, '$.k') IS NOT NULL),
        |small AS (
        |  SELECT user_id, item FROM (
        |    SELECT *, count(*) OVER (PARTITION BY user_id) AS deg
        |    FROM baskets)
        |  WHERE deg <= 50),
        |nab AS (
        |  SELECT a.item AS item_a, b.item AS item_b,
        |    CAST(count(*) AS BIGINT) AS n_ab
        |  FROM small a JOIN small b
        |    ON a.user_id = b.user_id AND a.item < b.item
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |ni AS (
        |  SELECT item, CAST(count(*) AS BIGINT) AS n_i
        |  FROM baskets GROUP BY item),
        |nu AS (
        |  SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        |  FROM baskets),
        |scored AS (
        |  SELECT item_a, item_b, n_ab,
        |    round(n_ab / CAST(n_users AS DOUBLE), 4) AS support,
        |    round(n_ab / CAST(na.n_i AS DOUBLE), 4) AS confidence,
        |    round(n_ab * n_users / CAST(na.n_i * nb.n_i AS DOUBLE), 4)
        |      AS lift
        |  FROM nab
        |  JOIN ni na ON na.item = nab.item_a
        |  JOIN ni nb ON nb.item = nab.item_b
        |  CROSS JOIN nu),
        |ranked AS (
        |  SELECT *, row_number() OVER (
        |    ORDER BY lift DESC, item_a, item_b) AS rk
        |  FROM scored)
        |SELECT rk, item_a, item_b, n_ab, support, confidence, lift
        |FROM ranked WHERE rk <= 20 ORDER BY rk""".stripMargin,
    "q212_kaplan_meier" ->
      """WITH ev AS (
        |  SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts
        |  FROM events),
        |h AS (SELECT max(ts) AS t_end FROM ev),
        |v AS (
        |  SELECT user_id, min(ts) AS t_view
        |  FROM ev WHERE event_type = 'view' GROUP BY user_id),
        |p AS (
        |  SELECT e.user_id, min(e.ts) AS t_conv
        |  FROM ev e JOIN v USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.ts > v.t_view
        |  GROUP BY e.user_id),
        |per AS (
        |  SELECT v.user_id,
        |    CAST(CASE WHEN p.t_conv IS NOT NULL
        |      THEN date_diff('day', CAST(v.t_view AS DATE),
        |        CAST(p.t_conv AS DATE))
        |      ELSE date_diff('day', CAST(v.t_view AS DATE),
        |        CAST(h.t_end AS DATE)) END AS BIGINT) AS d,
        |    p.t_conv IS NOT NULL AS converted
        |  FROM v LEFT JOIN p USING (user_id) CROSS JOIN h),
        |grid AS (
        |  SELECT d,
        |    CAST(sum(CASE WHEN converted THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_events,
        |    CAST(count(*) AS BIGINT) AS n_ending
        |  FROM per GROUP BY d),
        |km AS (
        |  SELECT d, n_events, n_ending,
        |    CAST(sum(n_ending) OVER (ORDER BY d
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
        |      AS BIGINT) AS n_risk
        |  FROM grid)
        |SELECT d AS duration_days, n_risk, n_events,
        |  n_ending - n_events AS n_censored,
        |  CASE WHEN max(CASE WHEN
        |      1.0 - n_events / CAST(n_risk AS DOUBLE) = 0.0
        |      THEN 1 ELSE 0 END) OVER cum = 1 THEN 0.0
        |    ELSE round(exp(sum(CASE WHEN
        |      1.0 - n_events / CAST(n_risk AS DOUBLE) > 0.0
        |      THEN ln(1.0 - n_events / CAST(n_risk AS DOUBLE))
        |      ELSE 0.0 END) OVER cum), 4) END AS km_survival
        |FROM km
        |WINDOW cum AS (ORDER BY d
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |ORDER BY duration_days""".stripMargin,
    "q209_ohlc" ->
      """SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
        |  event_type,
        |  round(first(value ORDER BY ts, event_id), 4) AS open,
        |  round(max(value), 4) AS high,
        |  round(min(value), 4) AS low,
        |  round(last(value ORDER BY ts, event_id), 4) AS close,
        |  CAST(count(*) AS BIGINT) AS volume,
        |  floor(sum(CAST(round(value * 100, 0) AS BIGINT)) * 100.0
        |    / count(*) + 0.5) / 10000 AS mean_value
        |FROM events
        |GROUP BY CAST(ts AS DATE), event_type
        |ORDER BY day, event_type""".stripMargin,
    "q206_benford" ->
      """WITH digits AS (
        |  SELECT CAST(floor(value / pow(10.0, floor(log10(value))))
        |    AS INTEGER) AS d
        |  FROM events WHERE value > 0),
        |per AS (
        |  SELECT d, CAST(count(*) AS BIGINT) AS o
        |  FROM digits GROUP BY d),
        |grid AS (
        |  SELECT CAST(i AS INTEGER) AS d, coalesce(per.o, 0) AS o
        |  FROM generate_series(1, 9) t(i)
        |  LEFT JOIN per ON per.d = i),
        |n AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM per),
        |scored AS (
        |  SELECT d, o,
        |    round(o / CAST(n AS DOUBLE), 4) AS p_obs,
        |    round(log10(1.0 + 1.0 / d), 4) AS p_benford,
        |    (o - n * log10(1.0 + 1.0 / d))
        |      * (o - n * log10(1.0 + 1.0 / d))
        |      / (n * log10(1.0 + 1.0 / d)) AS term
        |  FROM grid CROSS JOIN n),
        |c AS (SELECT round(sum(term), 4) + 0.0 AS chi2 FROM scored)
        |SELECT d, o, p_obs, p_benford, chi2, chi2 > 15.507
        |  AS reject_benford
        |FROM scored CROSS JOIN c ORDER BY d""".stripMargin,
    "q200_peak_concurrency" ->
      """WITH ev AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id
        |  FROM events),
        |g AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |      OR epoch(ts) - epoch(lag(ts) OVER w) > 1800.0
        |      THEN 1 ELSE 0 END AS new_sess
        |  FROM ev
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s0 AS (
        |  SELECT user_id, ts,
        |    sum(new_sess) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS session_id
        |  FROM g),
        |sess AS (
        |  SELECT user_id, session_id, min(ts) AS t0, max(ts) AS t1
        |  FROM s0 GROUP BY user_id, session_id),
        |bounds AS (
        |  SELECT user_id, session_id, t0 AS t, 1 AS delta FROM sess
        |  UNION ALL
        |  SELECT user_id, session_id, t1 AS t, -1 AS delta FROM sess),
        |b2 AS (SELECT *, CAST(t AS DATE) AS day FROM bounds),
        |daily AS (
        |  SELECT day,
        |    CAST(sum(CASE WHEN delta = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_starts,
        |    CAST(sum(CASE WHEN delta = -1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_ends
        |  FROM b2 GROUP BY day),
        |carry AS (
        |  SELECT day, n_starts,
        |    coalesce(CAST(sum(n_starts - n_ends) OVER (ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS BIGINT), 0) AS carry_in
        |  FROM daily),
        |runs AS (
        |  SELECT day, CAST(sum(delta) OVER (PARTITION BY day
        |    ORDER BY t, delta DESC, user_id, session_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS run
        |  FROM b2),
        |peaks AS (SELECT day, max(run) AS peak_in_day
        |  FROM runs GROUP BY day)
        |SELECT strftime(day, '%Y-%m-%d') AS day, carry_in, n_starts,
        |  greatest(carry_in, carry_in + peak_in_day) AS peak_concurrency
        |FROM peaks JOIN carry USING (day) ORDER BY day""".stripMargin,
    "q198_bot_score" ->
      """WITH ev AS (
        |  SELECT user_id, event_type,
        |    epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS eh,
        |    CAST(hour(CAST(ts AS TIMESTAMP)) AS INTEGER) AS hod
        |  FROM events),
        |per_type AS (
        |  SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS c
        |  FROM ev GROUP BY user_id, event_type),
        |mix AS (
        |  SELECT user_id, CAST(sum(c) AS BIGINT) AS n_events,
        |    ln(sum(c)) - sum(c * ln(c)) / sum(c) AS h_raw
        |  FROM per_type GROUP BY user_id),
        |hours AS (
        |  SELECT user_id, CAST(count(DISTINCT eh) AS BIGINT) AS n_hours
        |  FROM ev GROUP BY user_id),
        |hod AS (
        |  SELECT user_id, CAST(count(DISTINCT hod) AS BIGINT) AS n_hod
        |  FROM ev GROUP BY user_id)
        |SELECT user_id, n_events,
        |  round(n_events / CAST(n_hours AS DOUBLE), 4) AS rate,
        |  round(n_hod / 24.0, 4) AS hod_coverage,
        |  round(h_raw, 4) + 0.0 AS type_entropy,
        |  (round(n_events / CAST(n_hours AS DOUBLE), 4) >= 3.0
        |    AND round(n_hod / 24.0, 4) >= 0.5
        |    AND round(h_raw, 4) + 0.0 <= 1.0) AS bot_like
        |FROM mix JOIN hours USING (user_id) JOIN hod USING (user_id)
        |ORDER BY user_id""".stripMargin,
    "q188_changepoint" ->
      """WITH ev AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day FROM events),
        |daily AS (
        |  SELECT event_type, day, CAST(count(*) AS BIGINT) AS n
        |  FROM ev GROUP BY event_type, day),
        |b AS (SELECT min(day) AS lo, max(day) AS hi FROM ev),
        |days AS (
        |  SELECT CAST(unnest(generate_series(CAST(lo AS TIMESTAMP),
        |    CAST(hi AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS day
        |  FROM b),
        |et AS (SELECT DISTINCT event_type FROM ev),
        |filled AS (
        |  SELECT et.event_type, d.day, coalesce(daily.n, 0) AS cnt
        |  FROM et CROSS JOIN days d
        |  LEFT JOIN daily ON daily.event_type = et.event_type
        |    AND daily.day = d.day),
        |scanned AS (
        |  SELECT event_type, day,
        |    CAST(row_number() OVER w AS BIGINT) AS t,
        |    sum(cnt) OVER (PARTITION BY event_type ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS st,
        |    CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS nn,
        |    sum(cnt) OVER (PARTITION BY event_type) AS sn
        |  FROM filled
        |  WINDOW w AS (PARTITION BY event_type ORDER BY day)),
        |stats AS (
        |  SELECT event_type, day, t, st, nn, sn,
        |    round(abs(nn * st - t * sn)
        |      / sqrt(CAST(nn * t * (nn - t) AS DOUBLE)), 4) AS stat
        |  FROM scanned WHERE t < nn),
        |best AS (
        |  SELECT *, row_number() OVER (PARTITION BY event_type
        |    ORDER BY stat DESC, day ASC) AS rk
        |  FROM stats)
        |SELECT event_type, strftime(day, '%Y-%m-%d') AS split_day, stat,
        |  round(CAST(st AS DOUBLE) / t, 4) AS mean_before,
        |  round(CAST(sn - st AS DOUBLE) / (nn - t), 4) AS mean_after,
        |  nn AS n_days
        |FROM best WHERE rk = 1 ORDER BY event_type""".stripMargin,
    "q189_exclusion_funnel" ->
      """WITH v AS (
        |  SELECT user_id, min(CAST(ts AS TIMESTAMP)) AS t_view
        |  FROM events WHERE event_type = 'view' GROUP BY user_id),
        |p AS (
        |  SELECT e.user_id, v.t_view,
        |    min(CAST(e.ts AS TIMESTAMP)) AS t_purchase
        |  FROM events e JOIN v USING (user_id)
        |  WHERE e.event_type = 'purchase'
        |    AND CAST(e.ts AS TIMESTAMP) > v.t_view
        |    AND epoch_us(CAST(e.ts AS TIMESTAMP)) - epoch_us(v.t_view)
        |      <= 7 * 86400000000
        |  GROUP BY e.user_id, v.t_view),
        |c AS (
        |  SELECT e.user_id, CAST(count(*) AS BIGINT) AS n_between
        |  FROM events e JOIN p USING (user_id)
        |  WHERE e.event_type = 'click'
        |    AND CAST(e.ts AS TIMESTAMP) > p.t_view
        |    AND CAST(e.ts AS TIMESTAMP) < p.t_purchase
        |  GROUP BY e.user_id)
        |SELECT strftime(CAST(p.t_view AS DATE), '%Y-%m-%d') AS cohort,
        |  CAST(count(*) AS BIGINT) AS n_converted,
        |  CAST(sum(CASE WHEN coalesce(c.n_between, 0) = 0
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_clean,
        |  round(avg(CASE WHEN coalesce(c.n_between, 0) = 0
        |    THEN 1.0 ELSE 0.0 END), 4) AS clean_share
        |FROM p LEFT JOIN c USING (user_id)
        |GROUP BY 1 ORDER BY cohort""".stripMargin,
    "q190_attribution" ->
      """WITH ev AS (
        |  SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts,
        |    value, event_id
        |  FROM events WHERE event_type IN ('click', 'purchase')),
        |tagged AS (
        |  SELECT *,
        |    last_value(CASE WHEN event_type = 'click' THEN ts END
        |      IGNORE NULLS) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS last_click
        |  FROM ev)
        |SELECT CASE WHEN last_click IS NOT NULL
        |    AND epoch_us(ts) - epoch_us(last_click) <= 7 * 86400000000
        |    THEN strftime(CAST(last_click AS DATE), '%Y-%m-%d')
        |    ELSE 'organic' END AS credit_day,
        |  CAST(count(*) AS BIGINT) AS n_purchases,
        |  round(sum(value), 4) AS revenue
        |FROM tagged WHERE event_type = 'purchase'
        |GROUP BY 1 ORDER BY credit_day""".stripMargin,
    "q184_cohort_value" ->
      """WITH ev AS (
        |  SELECT user_id,
        |    CAST(floor(date_diff('day', DATE '1970-01-01',
        |      CAST(ts AS DATE)) / 7) AS BIGINT) AS wk,
        |    value, event_type
        |  FROM events),
        |fw AS (SELECT user_id, min(wk) AS cohort FROM ev GROUP BY user_id),
        |sizes AS (
        |  SELECT cohort, CAST(count(*) AS BIGINT) AS n_users
        |  FROM fw GROUP BY cohort),
        |spend AS (
        |  SELECT f.cohort, e.wk - f.cohort AS age_weeks, sum(e.value) AS v
        |  FROM ev e JOIN fw f USING (user_id)
        |  WHERE e.event_type = 'purchase'
        |  GROUP BY f.cohort, e.wk - f.cohort)
        |SELECT s.cohort AS cohort_week, s.age_weeks, z.n_users,
        |  round(sum(s.v) OVER (PARTITION BY s.cohort ORDER BY s.age_weeks
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    / CAST(z.n_users AS DOUBLE), 4) AS cum_value_per_user
        |FROM spend s JOIN sizes z USING (cohort)
        |ORDER BY cohort_week, age_weeks""".stripMargin,
    "q181_burstiness" ->
      """WITH ev AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day FROM events),
        |daily AS (
        |  SELECT event_type, day, CAST(count(*) AS BIGINT) AS n
        |  FROM ev GROUP BY event_type, day),
        |b AS (SELECT min(day) AS lo, max(day) AS hi FROM ev),
        |days AS (
        |  SELECT CAST(unnest(generate_series(CAST(lo AS TIMESTAMP),
        |    CAST(hi AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS day
        |  FROM b),
        |et AS (SELECT DISTINCT event_type FROM ev),
        |filled AS (
        |  SELECT et.event_type, coalesce(daily.n, 0) AS n
        |  FROM et CROSS JOIN days d
        |  LEFT JOIN daily ON daily.event_type = et.event_type
        |    AND daily.day = d.day)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
        |  round(avg(n), 4) AS mean_daily,
        |  round((avg(n * n) - avg(n) * avg(n)) / avg(n), 4) AS fano
        |FROM filled GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q177_recency_weights" ->
      s"""WITH ev AS (
        |  SELECT CAST(json_extract_string(props, '$$.k') AS BIGINT)
        |      AS item,
        |    epoch_us(ts) AS tus
        |  FROM events
        |  WHERE json_extract_string(props, '$$.k') IS NOT NULL),
        |anchor AS (SELECT max(tus) AS asof_us FROM ev)
        |SELECT item, CAST(count(*) AS BIGINT) AS n_events,
        |  round(sum(exp(${-DecayLambda}
        |    * ((asof_us - tus) / 86400000000.0))), 4) AS decayed_weight
        |FROM ev CROSS JOIN anchor
        |GROUP BY item ORDER BY item""".stripMargin,
    "q168_lateness" ->
      """WITH ev AS (
        |  SELECT event_type, epoch_us(ts) AS tus,
        |    greatest(CAST(0 AS BIGINT),
        |      max(epoch_us(ts)) OVER (PARTITION BY user_id
        |        ORDER BY event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      - epoch_us(ts)) AS late
        |  FROM events)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(count(*) FILTER (late > 60000000) AS BIGINT) AS n_late,
        |  round(quantile_cont(late, 0.5) / 1000000.0, 4) AS p50_late_s,
        |  round(quantile_cont(late, 0.95) / 1000000.0, 4) AS p95_late_s,
        |  round(max(late) / 1000000.0, 4) AS max_late_s,
        |  round(count(*) FILTER (late > 60000000)
        |    / CAST(count(*) AS DOUBLE), 4) AS late_rate
        |FROM ev GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q166_seasonality" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY event_type, CAST(ts AS DATE)),
        |dowd AS (
        |  SELECT event_type, n,
        |    CAST(date_diff('day', DATE '1970-01-01', day) % 7 AS INTEGER)
        |      AS dow
        |  FROM daily),
        |prof AS (
        |  SELECT event_type, dow, CAST(count(*) AS BIGINT) AS n_days,
        |    round(avg(n), 4) AS avg_daily
        |  FROM dowd GROUP BY event_type, dow)
        |SELECT event_type, dow, n_days, avg_daily,
        |  round((max(avg_daily) OVER (PARTITION BY event_type)
        |      - min(avg_daily) OVER (PARTITION BY event_type))
        |    / avg(avg_daily) OVER (PARTITION BY event_type), 4) AS strength
        |FROM prof ORDER BY event_type, dow""".stripMargin,
    "q162_markov_next" ->
      """WITH n AS (
        |  SELECT event_type AS prev_type,
        |    coalesce(lead(event_type) OVER (
        |      PARTITION BY user_id ORDER BY ts, event_id), 'END')
        |      AS next_type
        |  FROM events),
        |t AS (
        |  SELECT prev_type, next_type, CAST(count(*) AS BIGINT) AS n
        |  FROM n GROUP BY prev_type, next_type)
        |SELECT prev_type, next_type, n,
        |  round(n / CAST(sum(n) OVER (PARTITION BY prev_type) AS DOUBLE), 4)
        |    AS p
        |FROM t ORDER BY prev_type, next_type""".stripMargin,
    // q155: same beta-binomial MoM fit, identical association order in
    // the prior-strength and shrinkage algebra
    "q155_eb_rates" ->
      """WITH ev AS (
        |  SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS item,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS hit
        |  FROM events
        |  WHERE json_extract_string(props, '$.k') IS NOT NULL),
        |per AS (
        |  SELECT item, count(*) AS n, CAST(sum(hit) AS BIGINT) AS x
        |  FROM ev GROUP BY item),
        |p2 AS (SELECT item, n, x, CAST(x AS DOUBLE) / n AS p FROM per),
        |g AS (
        |  SELECT CAST(sum(x) AS DOUBLE) / sum(n) AS m, var_samp(p) AS vp
        |  FROM p2),
        |j AS (
        |  SELECT p2.*, g.m,
        |    greatest(g.m * (1.0 - g.m) / g.vp - 1.0, 1.0) AS bigM
        |  FROM p2 CROSS JOIN g)
        |SELECT item, n, x, round(p, 4) AS raw_rate,
        |  round((x + bigM * m) / (n + bigM), 4) AS shrunk_rate,
        |  round(bigM, 4) AS prior_strength
        |FROM j ORDER BY item""".stripMargin,
    // q154: same midpoint cut, same four mergeable moments, identical
    // association order in the θ / var_adj / reduction algebra
    "q154_cuped" ->
      """WITH b AS (
        |  SELECT (epoch_us(min(ts)) + epoch_us(max(ts))) // 2 AS cut
        |  FROM events),
        |per AS (
        |  SELECT event_type, user_id,
        |    avg(CASE WHEN epoch_us(ts) < cut THEN value END) AS pre,
        |    avg(CASE WHEN epoch_us(ts) >= cut THEN value END) AS post
        |  FROM events CROSS JOIN b
        |  GROUP BY event_type, user_id),
        |f AS (
        |  SELECT event_type, user_id, pre, post FROM per
        |  WHERE pre IS NOT NULL AND post IS NOT NULL),
        |m AS (
        |  SELECT event_type, count(*) AS n_users,
        |    covar_samp(post, pre) AS cov,
        |    var_samp(pre) AS vpre,
        |    var_samp(post) AS vpost
        |  FROM f GROUP BY event_type)
        |SELECT event_type, n_users,
        |  round(cov / vpre, 4) + 0.0 AS theta,
        |  round(vpost, 4) AS var_raw,
        |  round(vpost - cov * cov / vpre, 4) + 0.0 AS var_adj,
        |  round(cov * cov / (vpre * vpost), 4) AS reduction
        |FROM m ORDER BY event_type""".stripMargin,
    // q152: q26's session rule with deterministic (ts, event_id)
    // in-session ordering; DuckDB's ordered string_agg replays the
    // path fold exactly
    "q152_session_paths" ->
      """WITH g AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR epoch(CAST(ts AS TIMESTAMP))
        |              - epoch(CAST(lag(ts) OVER w AS TIMESTAMP)) > 1800.0
        |         THEN 1 ELSE 0 END AS new_sess
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    sum(new_sess) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS session_id
        |  FROM g),
        |p AS (
        |  SELECT user_id, session_id,
        |    string_agg(event_type, '>' ORDER BY ts, event_id) AS path
        |  FROM s GROUP BY user_id, session_id),
        |c AS (SELECT path, count(*) AS n_sessions FROM p GROUP BY path),
        |r AS (
        |  SELECT path, n_sessions,
        |    CAST(row_number() OVER (ORDER BY n_sessions DESC, path)
        |      AS INTEGER) AS rk
        |  FROM c)
        |SELECT rk, path, n_sessions FROM r WHERE rk <= 20 ORDER BY rk""".stripMargin,
    // q149: same gap-filled spine as q116, same closed-form regr_*
    // estimators as q140; declining judged on the rounded grid
    "q149_trend_detector" ->
      """WITH ev AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day FROM events),
        |daily AS (
        |  SELECT event_type, day, count(*) AS n
        |  FROM ev GROUP BY event_type, day),
        |b AS (SELECT min(day) AS lo, max(day) AS hi FROM ev),
        |days AS (
        |  SELECT lo, CAST(unnest(generate_series(CAST(lo AS TIMESTAMP),
        |    CAST(hi AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS day
        |  FROM b),
        |et AS (SELECT DISTINCT event_type FROM ev),
        |filled AS (
        |  SELECT et.event_type,
        |    CAST(date_diff('day', d.lo, d.day) AS DOUBLE) AS x,
        |    CAST(coalesce(daily.n, 0) AS DOUBLE) AS y
        |  FROM et CROSS JOIN days d
        |  LEFT JOIN daily ON daily.event_type = et.event_type
        |    AND daily.day = d.day),
        |fit AS (
        |  SELECT event_type,
        |    round(regr_slope(y, x), 4) + 0.0 AS slope,
        |    round(regr_intercept(y, x), 4) + 0.0 AS icept,
        |    round(regr_r2(y, x), 4) + 0.0 AS r2
        |  FROM filled GROUP BY event_type)
        |SELECT event_type, slope, icept, r2,
        |  coalesce(slope < 0.0, FALSE) AS declining
        |FROM fit ORDER BY event_type""".stripMargin,
    // q150: q99's first-touch semantics with the latency percentiles on
    // the per-converter frame
    "q150_funnel_latency" ->
      """WITH ev AS (
        |  SELECT user_id, event_type, ts FROM events),
        |v AS (
        |  SELECT user_id, min(ts) AS t_view FROM ev
        |  WHERE event_type = 'view' GROUP BY user_id),
        |p AS (
        |  SELECT ev.user_id, v.t_view, min(ev.ts) AS t_purchase
        |  FROM ev JOIN v ON ev.user_id = v.user_id
        |  WHERE ev.event_type = 'purchase' AND ev.ts > v.t_view
        |  GROUP BY ev.user_id, v.t_view),
        |lat AS (
        |  SELECT CAST(t_view AS DATE) AS cohort,
        |    (epoch_us(t_purchase) - epoch_us(t_view)) / 3600000000.0
        |      AS hours
        |  FROM p)
        |SELECT strftime(cohort, '%Y-%m-%d') AS cohort,
        |  count(*) AS n_converters,
        |  round(quantile_cont(hours, 0.5), 4) AS p50_hours,
        |  round(quantile_cont(hours, 0.9), 4) AS p90_hours
        |FROM lat GROUP BY cohort ORDER BY cohort""".stripMargin,
    // q146: identical md5-uniform coin and CLT arithmetic; coverage is
    // judged on the UNROUNDED doubles in both engines
    "q146_sample_estimate" ->
      """WITH ev AS (
        |  SELECT event_type, value,
        |    ('0x' || substr(md5('se:' || CAST(event_id AS VARCHAR)), 1, 6))
        |      ::BIGINT / 16777216.0 < 0.01 AS in_sample
        |  FROM events),
        |g AS (
        |  SELECT event_type, count(*) AS n, avg(value) AS exact_mean,
        |    count(CASE WHEN in_sample THEN 1 END) AS n_sample,
        |    avg(CASE WHEN in_sample THEN value END) AS est_mean,
        |    var_samp(CASE WHEN in_sample THEN value END) AS v_sample
        |  FROM ev GROUP BY event_type)
        |SELECT event_type, n, n_sample,
        |  round(exact_mean, 4) AS exact_mean,
        |  round(est_mean, 4) AS est_mean,
        |  round(est_mean - 1.96 * sqrt(v_sample / n_sample), 4) AS ci_lo,
        |  round(est_mean + 1.96 * sqrt(v_sample / n_sample), 4) AS ci_hi,
        |  coalesce(exact_mean >= est_mean - 1.96 * sqrt(v_sample / n_sample)
        |   AND exact_mean <= est_mean + 1.96 * sqrt(v_sample / n_sample),
        |   false) AS covered
        |FROM g ORDER BY event_type""".stripMargin,
    // q145: same closed-form Welch arithmetic over the same per-arm
    // moment rows; user_id is non-negative so % matches Spark's pmod
    "q145_ab_test" ->
      """WITH g AS (
        |  SELECT event_type, user_id % 2 AS variant,
        |    count(*) AS n, avg(value) AS m, var_samp(value) AS v2
        |  FROM events GROUP BY 1, 2)
        |SELECT a.event_type, a.n AS n0, b.n AS n1,
        |  round(b.m - a.m, 4) AS lift,
        |  round((b.m - a.m) / sqrt(a.v2 / a.n + b.v2 / b.n), 4) AS t_stat,
        |  round(pow(a.v2 / a.n + b.v2 / b.n, 2)
        |    / (pow(a.v2 / a.n, 2) / (a.n - 1)
        |       + pow(b.v2 / b.n, 2) / (b.n - 1)), 1) AS df_welch
        |FROM g a JOIN g b
        |  ON a.event_type = b.event_type AND a.variant = 0 AND b.variant = 1
        |ORDER BY a.event_type""".stripMargin,
    "q122_locf_impute" ->
      """SELECT event_id, user_id, event_type,
        |  round(CASE WHEN event_type = 'purchase' THEN value END + 0.0, 4)
        |    AS observed,
        |  round(last_value(
        |      CASE WHEN event_type = 'purchase' THEN value END IGNORE NULLS)
        |    OVER (PARTITION BY user_id
        |          ORDER BY CAST(ts AS TIMESTAMP), event_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) + 0.0, 4)
        |    AS filled
        |FROM events ORDER BY event_id""".stripMargin,
    "q100_retention" ->
      """WITH weeks AS (
        |  SELECT DISTINCT user_id,
        |    CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / 604800) AS BIGINT)
        |      AS wk
        |  FROM events),
        |fw AS (
        |  SELECT user_id, min(wk) AS cohort_wk FROM weeks GROUP BY user_id)
        |SELECT cohort_wk, wk - cohort_wk AS week_offset,
        |  CAST(count(*) AS BIGINT) AS n_users
        |FROM weeks JOIN fw USING (user_id)
        |GROUP BY cohort_wk, wk - cohort_wk
        |ORDER BY cohort_wk, week_offset""".stripMargin,
    "q99_funnel" ->
      """WITH v AS (
        |  SELECT user_id, min(ts) AS t_view FROM events
        |  WHERE event_type = 'view' GROUP BY user_id),
        |c AS (
        |  SELECT e.user_id, min(e.ts) AS t_click
        |  FROM events e JOIN v ON e.user_id = v.user_id
        |  WHERE e.event_type = 'click' AND e.ts > v.t_view
        |  GROUP BY e.user_id),
        |p AS (
        |  SELECT e.user_id, min(e.ts) AS t_purchase
        |  FROM events e JOIN c ON e.user_id = c.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts > c.t_click
        |  GROUP BY e.user_id)
        |SELECT '1_view' AS step, CAST(count(*) AS BIGINT) AS n_users FROM v
        |UNION ALL
        |SELECT '2_click', CAST(count(*) AS BIGINT) FROM c
        |UNION ALL
        |SELECT '3_purchase', CAST(count(*) AS BIGINT) FROM p
        |ORDER BY step""".stripMargin,
    "q133_split_leakage" ->
      """WITH per AS (
        |  SELECT event_type, user_id,
        |    max(CASE WHEN ts < TIMESTAMP '2024-01-24 00:00:00'
        |        THEN 1 ELSE 0 END) AS in_train,
        |    max(CASE WHEN ts >= TIMESTAMP '2024-01-24 00:00:00'
        |        THEN 1 ELSE 0 END) AS in_val,
        |    CAST(sum(CASE WHEN ts < TIMESTAMP '2024-01-24 00:00:00'
        |        THEN 1 ELSE 0 END) AS BIGINT) AS n_tr,
        |    CAST(sum(CASE WHEN ts >= TIMESTAMP '2024-01-24 00:00:00'
        |        THEN 1 ELSE 0 END) AS BIGINT) AS n_va
        |  FROM events GROUP BY event_type, user_id)
        |SELECT event_type,
        |  CAST(sum(n_tr) AS BIGINT) AS n_train,
        |  CAST(sum(n_va) AS BIGINT) AS n_val,
        |  CAST(sum(in_val) AS BIGINT) AS n_val_users,
        |  CAST(sum(CASE WHEN in_train = 1 AND in_val = 1
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_leaky_users,
        |  round(sum(CASE WHEN in_train = 1 AND in_val = 1
        |      THEN 1 ELSE 0 END) / sum(in_val), 4) AS leak_rate
        |FROM per GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q130_mad_outliers" ->
      """WITH ev AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day FROM events),
        |daily AS (
        |  SELECT event_type, day, CAST(count(*) AS BIGINT) AS n
        |  FROM ev WHERE date_part('day', day) % 7 <> 3
        |  GROUP BY event_type, day),
        |b AS (SELECT min(day) AS lo, max(day) AS hi FROM ev),
        |days AS (
        |  SELECT CAST(unnest(generate_series(CAST(lo AS TIMESTAMP),
        |    CAST(hi AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS day
        |  FROM b),
        |et AS (SELECT DISTINCT event_type FROM ev),
        |filled AS (
        |  SELECT et.event_type, d.day, coalesce(daily.n, 0) AS n
        |  FROM et CROSS JOIN days d
        |  LEFT JOIN daily ON daily.event_type = et.event_type
        |    AND daily.day = d.day),
        |med AS (SELECT event_type, quantile_cont(n, 0.5) AS med
        |        FROM filled GROUP BY event_type),
        |dev AS (
        |  SELECT f.event_type, f.day, f.n, med, abs(f.n - med) AS dev
        |  FROM filled f JOIN med USING (event_type)),
        |mad AS (SELECT event_type, quantile_cont(dev, 0.5) AS mad
        |        FROM dev GROUP BY event_type)
        |SELECT d.event_type, strftime(d.day, '%Y-%m-%d') AS day, d.n,
        |  round(med, 4) AS med, round(mad, 4) AS mad,
        |  round(dev, 4) AS dev
        |FROM dev d JOIN mad USING (event_type)
        |WHERE dev > 3.0 * mad
        |ORDER BY d.event_type, d.day""".stripMargin,
    "q116_gap_fill" ->
      """WITH ev AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day, value FROM events),
        |daily AS (
        |  SELECT event_type, day, CAST(count(*) AS BIGINT) AS n,
        |    round(sum(value), 4) AS sv
        |  FROM ev WHERE date_part('day', day) % 7 <> 3
        |  GROUP BY event_type, day),
        |b AS (SELECT min(day) AS lo, max(day) AS hi FROM ev),
        |days AS (
        |  SELECT CAST(unnest(generate_series(CAST(lo AS TIMESTAMP),
        |    CAST(hi AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS day
        |  FROM b),
        |et AS (SELECT DISTINCT event_type FROM ev)
        |SELECT et.event_type, strftime(d.day, '%Y-%m-%d') AS day,
        |  coalesce(daily.n, 0) AS n,
        |  coalesce(daily.sv, 0.0) AS sum_value,
        |  daily.n IS NULL AS filled
        |FROM et CROSS JOIN days d
        |LEFT JOIN daily ON daily.event_type = et.event_type
        |  AND daily.day = d.day
        |ORDER BY et.event_type, d.day""".stripMargin,
    // The oracle replays the sequential fold as a recursive CTE walking
    // each key's rank chain: rn=1 seeds last_kept, rn=k+1 compares
    // against the carried last_kept — exactly the HOF aggregate's state.
    "q103_throttle_lastkept" ->
      """WITH RECURSIVE ev AS (
        |  SELECT event_id, user_id, event_type,
        |    CAST(ts AS TIMESTAMP) AS t,
        |    epoch(CAST(ts AS TIMESTAMP)) AS tsd,
        |    row_number() OVER (PARTITION BY user_id, event_type
        |      ORDER BY ts, event_id) AS rn
        |  FROM events),
        |walk AS (
        |  SELECT user_id, event_type, rn, tsd, event_id, t,
        |    tsd AS last_kept, TRUE AS kept
        |  FROM ev WHERE rn = 1
        |  UNION ALL
        |  SELECT e.user_id, e.event_type, e.rn, e.tsd, e.event_id, e.t,
        |    CASE WHEN e.tsd - w.last_kept > 3600.0
        |      THEN e.tsd ELSE w.last_kept END,
        |    e.tsd - w.last_kept > 3600.0
        |  FROM ev e JOIN walk w
        |    ON e.user_id = w.user_id AND e.event_type = w.event_type
        |      AND e.rn = w.rn + 1)
        |SELECT event_id, user_id, event_type, t AS ts
        |FROM walk WHERE kept ORDER BY event_id""".stripMargin,
    "q89_windowed_dedup" ->
      """WITH g AS (
        |  SELECT event_id, user_id, event_type, CAST(ts AS TIMESTAMP) AS t,
        |    epoch(CAST(ts AS TIMESTAMP)) -
        |      epoch(CAST(lag(ts) OVER (PARTITION BY user_id, event_type
        |        ORDER BY ts, event_id) AS TIMESTAMP)) AS gap
        |  FROM events)
        |SELECT event_id, user_id, event_type, t AS ts
        |FROM g WHERE gap IS NULL OR gap > 3600.0
        |ORDER BY event_id""".stripMargin,
    "q79_moving_avg" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |    round(sum(value), 4) AS day_total
        |  FROM events GROUP BY event_type, CAST(ts AS DATE))
        |SELECT event_type,
        |  strftime(day, '%Y-%m-%d') AS day, day_total,
        |  round(avg(day_total) OVER (PARTITION BY event_type
        |    ORDER BY CAST(day - DATE '1970-01-01' AS BIGINT)
        |    RANGE BETWEEN 6 PRECEDING AND CURRENT ROW), 4) AS ma7
        |FROM daily ORDER BY event_type, day""".stripMargin,
    // q345: the plain quadratic theta join (affordable on the sampled
    // slice) — the hash match proves the fractional bucket rewrite ≡
    // the predicate; gaps quantize to micro-longs before any sum
    "q345_value_band" ->
      s"""WITH p AS (
        |  SELECT user_id, value FROM events
        |  WHERE event_type = 'purchase'
        |    AND user_id % $ValueBandSample = 0),
        |pairs AS (
        |  SELECT CAST(floor(abs(a.value - b.value) * 1e6 + 0.5)
        |    AS BIGINT) AS gap_micro
        |  FROM p a JOIN p b
        |    ON a.user_id < b.user_id
        |    AND abs(a.value - b.value) <= $ValueBandEps)
        |SELECT CAST(count(*) AS BIGINT) AS n_pairs,
        |  floor(CAST(sum(gap_micro) AS DOUBLE) / count(*) + 0.5) / 1e6
        |    AS mean_gap
        |FROM pairs""".stripMargin,
    // q346: the naive LEFT JOIN replay — unmatched purchases keep a
    // row with n_near 0 / NULL mean; gaps quantize to micro-longs
    "q346_band_left" ->
      s"""WITH p AS (
        |  SELECT event_id, user_id, value FROM events
        |  WHERE event_type = 'purchase'
        |    AND user_id % $ValueBandSample = 0),
        |j AS (
        |  SELECT a.event_id AS eid,
        |    CAST(floor(abs(a.value - b.value) * 1e6 + 0.5) AS BIGINT)
        |      AS gap_micro
        |  FROM p a LEFT JOIN p b
        |    ON a.user_id <> b.user_id
        |    AND abs(a.value - b.value) <= $ValueBandEps)
        |SELECT eid, CAST(count(gap_micro) AS BIGINT) AS n_near,
        |  floor(CAST(sum(gap_micro) AS DOUBLE)
        |    / nullif(count(gap_micro), 0) + 0.5) / 1e6 AS mean_gap
        |FROM j GROUP BY eid ORDER BY eid""".stripMargin,
    // q348: the literal EXISTS replay of the semi band join
    "q348_band_semi" ->
      s"""WITH p AS (
        |  SELECT event_id, user_id, value FROM events
        |  WHERE event_type = 'purchase'
        |    AND user_id % $ValueBandSample = 0)
        |SELECT a.event_id AS eid, round(a.value, 4) AS value
        |FROM p a
        |WHERE EXISTS (SELECT 1 FROM p b
        |  WHERE b.user_id <> a.user_id
        |    AND abs(a.value - b.value) <= $ValueBandEps)
        |ORDER BY eid""".stripMargin,
    // q349/q363/q376: one naive quadratic truth, three plans
    // (hand-bucketed / rule-rewritten / sweep-line)
    "q349_interval_join" -> ivOverlapAggSql,
    "q363_interval_rule" -> ivOverlapAggSql,
    "q376_interval_sweep" -> ivOverlapAggSql,
    // q367/q377: the literal LEFT JOIN replay, shared by the
    // rule-rewritten outer join and its sweep-line twin
    "q367_interval_left" -> ivLeftAggSql,
    "q377_sweep_left" -> ivLeftAggSql,
    // q382: the endpoint walk replayed with DuckDB window functions —
    // an independent implementation of the same sweep (the q369
    // profiler's oracle class); all exact integer micros
    "q382_interval_coverage" ->
      """WITH sp AS (
        |  SELECT user_id, CAST(ts AS DATE) AS day, event_type,
        |    min(epoch_us(CAST(ts AS TIMESTAMP))) AS t0,
        |    max(epoch_us(CAST(ts AS TIMESTAMP))) AS t1
        |  FROM events WHERE event_type IN ('view', 'purchase')
        |  GROUP BY 1, 2, 3),
        |ev AS (
        |  SELECT day, t, CAST(sum(dv) AS BIGINT) AS dv,
        |    CAST(sum(dp) AS BIGINT) AS dp
        |  FROM (
        |    SELECT day, t0 AS t,
        |      CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS dv,
        |      CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS dp
        |    FROM sp
        |    UNION ALL
        |    SELECT day, t1,
        |      CASE WHEN event_type = 'view' THEN -1 ELSE 0 END,
        |      CASE WHEN event_type = 'purchase' THEN -1 ELSE 0 END
        |    FROM sp)
        |  GROUP BY day, t),
        |run AS (
        |  SELECT day, t,
        |    sum(dv) OVER (PARTITION BY day ORDER BY t
        |      ROWS UNBOUNDED PRECEDING) AS av,
        |    sum(dp) OVER (PARTITION BY day ORDER BY t
        |      ROWS UNBOUNDED PRECEDING) AS ap,
        |    coalesce(lead(t) OVER (PARTITION BY day ORDER BY t) - t,
        |      0) AS seg
        |  FROM ev)
        |SELECT strftime(day, '%Y-%m-%d') AS day,
        |  CAST(sum(CASE WHEN av > 0 THEN seg ELSE 0 END) AS BIGINT)
        |    AS view_cov_us,
        |  CAST(sum(CASE WHEN ap > 0 THEN seg ELSE 0 END) AS BIGINT)
        |    AS purch_cov_us,
        |  CAST(sum(CASE WHEN av > 0 AND ap > 0 THEN seg ELSE 0 END)
        |    AS BIGINT) AS joint_cov_us,
        |  CAST(max(CASE WHEN seg > 0 THEN av * ap ELSE 0 END)
        |    AS BIGINT) AS peak_pairs
        |FROM run GROUP BY day ORDER BY day""".stripMargin,
    // q378: the literal FULL JOIN replay — both sides' unmatched
    // rows survive, each grouped under its OWN day
    "q378_interval_full" ->
      """WITH sp AS (
        |  SELECT user_id, CAST(ts AS DATE) AS day, event_type,
        |    min(epoch_us(CAST(ts AS TIMESTAMP))) AS t0,
        |    max(epoch_us(CAST(ts AS TIMESTAMP))) AS t1
        |  FROM events WHERE event_type IN ('view', 'purchase')
        |  GROUP BY 1, 2, 3),
        |v AS (SELECT user_id AS vu, day, t0 AS v0, t1 AS v1
        |      FROM sp WHERE event_type = 'view'),
        |p AS (SELECT user_id AS pu, day AS pday, t0 AS p0, t1 AS p1
        |      FROM sp WHERE event_type = 'purchase'),
        |j AS (
        |  SELECT coalesce(v.day, p.pday) AS day, v.vu, p.pu,
        |    least(v1, p1) - greatest(v0, p0) AS ov_us
        |  FROM v FULL JOIN p
        |    ON vu <> pu AND v0 <= p1 AND p0 <= v1),
        |a AS (
        |  SELECT day,
        |    CAST(sum(CASE WHEN vu IS NOT NULL AND pu IS NOT NULL
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_pairs,
        |    CAST(sum(CASE WHEN pu IS NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_lonely_v,
        |    CAST(sum(CASE WHEN vu IS NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_lonely_p,
        |    sum(CASE WHEN vu IS NOT NULL AND pu IS NOT NULL
        |      THEN ov_us ELSE 0 END) AS sum_us
        |  FROM j GROUP BY day)
        |SELECT strftime(day, '%Y-%m-%d') AS day, n_pairs,
        |  n_lonely_v, n_lonely_p,
        |  floor(CAST(sum_us AS DOUBLE) / nullif(n_pairs, 0) / 100.0
        |    + 0.5) / 1e4 AS mean_overlap_sec
        |FROM a ORDER BY day""".stripMargin,
    // q368/q385: the literal EXISTS replay, shared by the
    // rule-rewritten semi join and its sweep-line twin
    "q385_sweep_semi" -> ivSemiAggSql,
    "q368_interval_semi" -> ivSemiAggSql,
    // q369: the width-profiler replay — same whole-second histogram
    // percentiles, same per-width bucket explode via generate_series,
    // all integer arithmetic
    "q369_interval_profile" ->
      """WITH sp AS (
        |  SELECT user_id, CAST(ts AS DATE) AS day, event_type,
        |    min(epoch_us(CAST(ts AS TIMESTAMP))) AS t0,
        |    max(epoch_us(CAST(ts AS TIMESTAMP))) AS t1
        |  FROM events WHERE event_type IN ('view', 'purchase')
        |  GROUP BY 1, 2, 3),
        |sw AS (SELECT (t1 - t0) // 1000000 AS span_s FROM sp),
        |hist AS (SELECT span_s, count(*) AS c FROM sw GROUP BY 1),
        |cum AS (
        |  SELECT span_s, sum(c) OVER (ORDER BY span_s) AS cum,
        |    (SELECT count(*) FROM sw) AS n
        |  FROM hist),
        |stats AS (SELECT
        |  (SELECT CAST(count(*) AS BIGINT) FROM sw) AS n_spans,
        |  (SELECT min(span_s) FROM cum WHERE 2 * cum >= n)
        |    AS span_p50_s,
        |  (SELECT min(span_s) FROM cum WHERE 100 * cum >= 99 * n)
        |    AS span_p99_s,
        |  (SELECT max(span_s) FROM sw) AS span_max_s),
        |w AS (SELECT w_h, w_h * 3600000000 AS w_us
        |      FROM (VALUES (1), (3), (6), (12), (24)) AS t(w_h)),
        |bk AS (
        |  SELECT w_h, w_us, event_type,
        |    unnest(generate_series(t0 // w_us, t1 // w_us)) AS b
        |  FROM sp CROSS JOIN w),
        |dens AS (
        |  SELECT w_h, w_us, b,
        |    sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS nv,
        |    sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS np
        |  FROM bk GROUP BY 1, 2, 3),
        |agg AS (
        |  SELECT w_h, w_us,
        |    CAST(sum(nv + np) AS BIGINT) AS exploded_rows,
        |    CAST(max(nv + np) AS BIGINT) AS max_bucket_rows,
        |    CAST(sum(nv * np) AS BIGINT) AS est_pairs
        |  FROM dens GROUP BY 1, 2)
        |SELECT CAST(w_h AS BIGINT) AS w_hours, n_spans, span_p50_s,
        |  span_p99_s, span_max_s, exploded_rows, max_bucket_rows,
        |  est_pairs,
        |  (span_max_s * 1000000 + w_us - 1) // w_us AS margin_buckets
        |FROM agg CROSS JOIN stats ORDER BY w_hours""".stripMargin,
    // q350: DuckDB's forward ASOF — the inequality flips, the engine
    // picks the smallest at-or-after right row
    "q350_asof_forward" ->
      """WITH clicks AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value
        |  FROM events WHERE event_type = 'click'),
        |purchases AS (
        |  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value
        |  FROM events WHERE event_type = 'purchase')
        |SELECT p.event_id, p.user_id, round(p.value, 4) AS value,
        |  c.ts AS click_ts, round(c.value, 4) AS click_value
        |FROM purchases p
        |ASOF LEFT JOIN clicks c
        |  ON p.user_id = c.user_id AND p.ts <= c.ts
        |ORDER BY p.event_id""".stripMargin,
    // q351: nearest = backward ASOF + forward ASOF + an exact-micros
    // gap CASE (ties → backward), tolerance filtering the CHOSEN side
    // only — a nearer out-of-bound click nulls the row even when the
    // farther side is in bound, matching the engine/merge_asof
    "q351_asof_nearest" ->
      s"""WITH clicks AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value
        |  FROM events WHERE event_type = 'click'),
        |purchases AS (
        |  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value
        |  FROM events WHERE event_type = 'purchase'),
        |b AS (
        |  SELECT p.event_id, c.ts AS b_ts, c.value AS b_value,
        |    epoch_us(p.ts) - epoch_us(c.ts) AS b_gap
        |  FROM purchases p
        |  ASOF LEFT JOIN clicks c
        |    ON p.user_id = c.user_id AND p.ts >= c.ts),
        |f AS (
        |  SELECT p.event_id, c.ts AS f_ts, c.value AS f_value,
        |    epoch_us(c.ts) - epoch_us(p.ts) AS f_gap
        |  FROM purchases p
        |  ASOF LEFT JOIN clicks c
        |    ON p.user_id = c.user_id AND p.ts <= c.ts),
        |pick AS (
        |  SELECT p.event_id, p.user_id, p.value,
        |    CASE WHEN b_gap IS NOT NULL
        |           AND (f_gap IS NULL OR b_gap <= f_gap)
        |         THEN CASE WHEN b_gap <= ${AsofTolSec}000000
        |              THEN b_ts END
        |         WHEN f_gap IS NOT NULL
        |         THEN CASE WHEN f_gap <= ${AsofTolSec}000000
        |              THEN f_ts END END AS click_ts,
        |    CASE WHEN b_gap IS NOT NULL
        |           AND (f_gap IS NULL OR b_gap <= f_gap)
        |         THEN CASE WHEN b_gap <= ${AsofTolSec}000000
        |              THEN b_value END
        |         WHEN f_gap IS NOT NULL
        |         THEN CASE WHEN f_gap <= ${AsofTolSec}000000
        |              THEN f_value END END AS click_value
        |  FROM purchases p
        |  JOIN b USING (event_id) JOIN f USING (event_id))
        |SELECT event_id, user_id, round(value, 4) AS value,
        |  click_ts, round(click_value, 4) AS click_value
        |FROM pick ORDER BY event_id""".stripMargin,
    // q358: string_agg replays the ordered type-initial sequence; the
    // char-class regex is engine-portable (see the query doc)
    "q358_event_motifs" ->
      """WITH seqs AS (
        |  SELECT user_id,
        |    string_agg(substr(event_type, 1, 1), ''
        |      ORDER BY ts, event_id) AS seq
        |  FROM events GROUP BY user_id)
        |SELECT user_id, CAST(length(seq) AS BIGINT) AS seq_len,
        |  CAST(len(regexp_extract_all(seq, 'v[^p]*c[^p]*p'))
        |    AS BIGINT) AS n_motifs
        |FROM seqs ORDER BY user_id""".stripMargin,
    // q375: identical unit-vector quantization, identical atan2/sqrt
    // tree on the two exact integer sums
    "q375_circular_hours" ->
      """WITH b AS (
        |  SELECT event_type,
        |    CAST(floor(sin((epoch_us(CAST(ts AS TIMESTAMP))
        |      % 86400000000) / 86400000000.0 * TWOPI) * 1e9 + 0.5)
        |      AS BIGINT) AS sq,
        |    CAST(floor(cos((epoch_us(CAST(ts AS TIMESTAMP))
        |      % 86400000000) / 86400000000.0 * TWOPI) * 1e9 + 0.5)
        |      AS BIGINT) AS cq
        |  FROM events),
        |a AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(sq) AS DOUBLE) AS ssd,
        |    CAST(sum(cq) AS DOUBLE) AS scd
        |  FROM b GROUP BY 1)
        |SELECT event_type, n,
        |  round((CASE WHEN atan2(ssd, scd) < 0
        |      THEN atan2(ssd, scd) + TWOPI
        |      ELSE atan2(ssd, scd) END) / TWOPI * 24.0, 4) + 0.0
        |    AS mean_hour,
        |  round(sqrt(ssd * ssd + scd * scd)
        |    / (CAST(n AS DOUBLE) * 1e9), 4) + 0.0 AS resultant_r,
        |  round((ssd * ssd + scd * scd)
        |    / (CAST(n AS DOUBLE) * 1e18), 4) + 0.0 AS rayleigh_z
        |FROM a ORDER BY event_type""".stripMargin
      .replace("TWOPI", "6.283185307179586"),
    // q371: the three AFTER-MATCH policies replayed — non-overlapping
    // extract_all, per-suffix anchored starts, and any-match; the
    // suffix check is anchored existence (RE2-safe, no lookahead)
    "q371_motif_policies" ->
      """WITH seqs AS (
        |  SELECT user_id,
        |    string_agg(substr(event_type, 1, 1), ''
        |      ORDER BY ts, event_id) AS seq
        |  FROM events GROUP BY user_id),
        |pu AS (
        |  SELECT
        |    CAST(len(regexp_extract_all(seq, 'v[^p]*c[^p]*p'))
        |      AS BIGINT) AS n_skip,
        |    CAST(len(list_filter(generate_series(1, length(seq)),
        |      i -> regexp_matches(substring(seq, CAST(i AS INTEGER)),
        |        '^v[^p]*c[^p]*p'))) AS BIGINT) AS n_starts
        |  FROM seqs)
        |SELECT CAST(count(*) AS BIGINT) AS n_users,
        |  CAST(sum(n_skip) AS BIGINT) AS skip_motifs,
        |  CAST(sum(CASE WHEN n_skip > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS skip_users,
        |  CAST(sum(n_starts) AS BIGINT) AS start_motifs,
        |  CAST(sum(CASE WHEN n_starts > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS start_users
        |FROM pu""".stripMargin,
    // q347: same operator semantics as q334, reached via SQL — DuckDB
    // replays with its own ASOF LEFT JOIN
    "q347_asof_sql" ->
      """WITH clicks AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value
        |  FROM events WHERE event_type = 'click'),
        |purchases AS (
        |  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value
        |  FROM events WHERE event_type = 'purchase')
        |SELECT p.event_id, round(p.value, 4) AS value,
        |  round(c.value, 4) AS click_value
        |FROM purchases p
        |ASOF LEFT JOIN clicks c
        |  ON p.user_id = c.user_id AND p.ts >= c.ts
        |ORDER BY p.event_id""".stripMargin,
    // q335: DuckDB's ASOF picks the same latest at-or-before row; the
    // tolerance is the gap filter on that single candidate (an older
    // row can never re-qualify — it is farther away by construction).
    // The gap compares in EXACT integer microseconds (epoch_us),
    // matching the engine's micros arithmetic — floating-point epoch
    // seconds could round a within-1us-of-boundary gap across the
    // WITHIN edge differently per engine (ADVICE r12).
    "q335_asof_tolerance" ->
      s"""WITH clicks AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value
        |  FROM events WHERE event_type = 'click'),
        |purchases AS (
        |  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value
        |  FROM events WHERE event_type = 'purchase'),
        |j AS (
        |  SELECT p.event_id, p.user_id, p.value,
        |    c.ts AS c_ts, c.value AS c_value,
        |    epoch_us(p.ts) - epoch_us(c.ts) AS gap_us
        |  FROM purchases p
        |  ASOF LEFT JOIN clicks c
        |    ON p.user_id = c.user_id AND p.ts >= c.ts)
        |SELECT event_id, user_id, round(value, 4) AS value,
        |  CASE WHEN gap_us <= ${AsofTolSec}000000 THEN c_ts END
        |    AS click_ts,
        |  round(CASE WHEN gap_us <= ${AsofTolSec}000000 THEN c_value
        |    END, 4) AS click_value
        |FROM j ORDER BY event_id""".stripMargin,
    // q334: the native-operator twin answers the identical question —
    // same oracle as q27
    "q334_asof_native" ->
      """WITH clicks AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value
        |  FROM events WHERE event_type = 'click'),
        |purchases AS (
        |  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value
        |  FROM events WHERE event_type = 'purchase')
        |SELECT p.event_id, p.user_id, round(p.value, 4) AS value,
        |  c.ts AS click_ts, round(c.value, 4) AS click_value
        |FROM purchases p
        |ASOF LEFT JOIN clicks c
        |  ON p.user_id = c.user_id AND p.ts >= c.ts
        |ORDER BY p.event_id""".stripMargin,
    "q27_asof_join" ->
      """WITH clicks AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value
        |  FROM events WHERE event_type = 'click'),
        |purchases AS (
        |  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value
        |  FROM events WHERE event_type = 'purchase')
        |SELECT p.event_id, p.user_id, round(p.value, 4) AS value,
        |  c.ts AS click_ts, round(c.value, 4) AS click_value
        |FROM purchases p
        |ASOF LEFT JOIN clicks c
        |  ON p.user_id = c.user_id AND p.ts >= c.ts
        |ORDER BY p.event_id""".stripMargin,
    "q29_range_join" ->
      """SELECT a.user_id, a.event_id AS a_id, b.event_id AS b_id,
        |  a.event_type AS a_type, b.event_type AS b_type
        |FROM events a JOIN events b
        |  ON a.user_id = b.user_id
        | AND CAST(b.ts AS TIMESTAMP) >= CAST(a.ts AS TIMESTAMP)
        | AND CAST(b.ts AS TIMESTAMP) <= CAST(a.ts AS TIMESTAMP) + INTERVAL 5 MINUTE
        | AND a.event_id < b.event_id
        |ORDER BY a_id, b_id""".stripMargin,
    "q26_sessionize" ->
      """WITH g AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS t,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR epoch(CAST(ts AS TIMESTAMP))
        |              - epoch(CAST(lag(ts) OVER w AS TIMESTAMP)) > 1800.0
        |         THEN 1 ELSE 0 END AS new_sess
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |s AS (
        |  SELECT user_id, t,
        |    CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY t
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        |  FROM g)
        |SELECT user_id, session_id, count(*) AS n_events,
        |  min(t) AS session_start, max(t) AS session_end
        |FROM s GROUP BY user_id, session_id
        |ORDER BY user_id, session_id""".stripMargin,
    "q26b_session_window" ->
      """WITH g AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS t,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR epoch(CAST(ts AS TIMESTAMP))
        |              - epoch(CAST(lag(ts) OVER w AS TIMESTAMP)) >= 1800.0
        |         THEN 1 ELSE 0 END AS new_sess
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |s AS (
        |  SELECT user_id, t,
        |    sum(new_sess) OVER (PARTITION BY user_id ORDER BY t
        |      ROWS UNBOUNDED PRECEDING) AS session_id
        |  FROM g)
        |SELECT user_id, min(t) AS session_start,
        |  max(t) + INTERVAL 30 MINUTE AS session_end,
        |  count(*) AS n_events
        |FROM s GROUP BY user_id, session_id
        |ORDER BY user_id, session_start""".stripMargin,
    "q20_date_parse_fixed" ->
      """SELECT event_id,
        | strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS created,
        | strptime(strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d %H:%M:%S'),
        |          '%Y-%m-%d %H:%M:%S') AS parsed
        |FROM events ORDER BY event_id""".stripMargin,
    "q21_date_parse_dynamic" ->
      """WITH rendered AS (
        |  SELECT event_id,
        |    strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') ||
        |      CASE WHEN event_id % 2 = 0 THEN ' +0200' ELSE ' UTC' END AS published
        |  FROM events)
        |SELECT event_id, published,
        | CASE WHEN regexp_matches(split_part(published, ' ', 3), '\d')
        |   THEN strptime(published, '%Y-%m-%d %H:%M:%S %z') AT TIME ZONE 'UTC'
        |   ELSE strptime(substr(published, 1, 19), '%Y-%m-%d %H:%M:%S')
        | END AS parsed
        |FROM rendered ORDER BY event_id""".stripMargin,
    "q22_make_timestamp" ->
      """WITH p AS (
        |  SELECT event_id, CAST(ts AS TIMESTAMP) AS t FROM events)
        |SELECT event_id,
        | array_to_string([CAST(year(t) AS INT), CAST(month(t) AS INT),
        |  CAST(day(t) AS INT), CAST(hour(t) AS INT), CAST(minute(t) AS INT),
        |  CAST(EXTRACT(second FROM t) AS INT), CAST(dayofweek(t) + 1 AS INT),
        |  CAST(dayofyear(t) AS INT), -1], ',') AS parts,
        | make_timestamp(year(t), month(t), day(t), hour(t), minute(t),
        |  CAST(EXTRACT(second FROM t) AS INT)) AS reconstructed
        |FROM p ORDER BY event_id""".stripMargin,
    "q23_json_extract" ->
      """SELECT event_type, count(*) AS n,
        | round(avg(CAST(json_extract_string(props, '$.k') AS BIGINT)), 4) AS avg_k,
        | max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q24_window_tumbling" ->
      """SELECT time_bucket(INTERVAL '6 hours', CAST(ts AS TIMESTAMP)) AS bucket,
        | event_type, count(*) AS n, round(sum(value), 4) AS sum_value
        |FROM events GROUP BY bucket, event_type
        |ORDER BY bucket, event_type""".stripMargin,
  )
}
