package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.QualityQueries

class QualitySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sf = "/root/testdata/sf0.001"

  test("gap fill: zero rows exactly on the outage days, full calendar coverage") {
    import spark.implicits._
    val rows = graft.operators.TimeQueries.qGapFill(spark, sf)
      .select($"event_type", $"day", $"n", $"filled")
      .as[(String, String, Long, Boolean)].collect()
    assert(rows.nonEmpty)
    val types = rows.map(_._1).distinct
    val days = rows.map(_._2).distinct
    assert(rows.length == types.length * days.length,
      "every (type, day) cell must exist — that is the contract")
    rows.foreach { case (t, d, n, filled) =>
      val outage = d.substring(8, 10).toInt % 7 == 3
      // every outage day is an explicit zero row; every filled row is
      // zero (a sparse non-outage cell may also legitimately fill)
      if (outage) assert(filled && n == 0L,
        s"outage day ($t, $d) must be an explicit zero row")
      if (filled) assert(n == 0L, s"filled ($t, $d) must carry n=0")
    }
    assert(rows.exists(_._4), "the synthetic outage must fill something")
  }

  test("epoch shuffle: exact permutation, contiguous per-shard positions") {
    import spark.implicits._
    val rows = QualityQueries.qEpochShuffle(spark, sf)
      .select($"doc_id", $"shard", $"pos").as[(Long, Int, Int)].collect()
    val nDocs = spark.read.parquet(s"$sf/documents.parquet").count()
    assert(rows.length == nDocs, "shuffle must be a permutation, not a sample")
    assert(rows.map(_._1).distinct.length == rows.length)
    rows.groupBy(_._2).foreach { case (shard, rs) =>
      assert(shard >= 0 && shard < 32)
      assert(rs.map(_._3).sorted.toSeq == (1 to rs.length),
        s"shard $shard positions not contiguous from 1")
    }
  }

  test("domain split: every source lands in exactly one split") {
    import spark.implicits._
    val rows = QualityQueries.qDomainSplit(spark, sf)
      .select($"source", $"split").as[(String, String)].collect()
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (src, rs) =>
      assert(rs.map(_._2).distinct.length == 1,
        s"source $src straddles splits: ${rs.map(_._2).distinct.mkString(",")}")
    }
    assert(rows.map(_._2).distinct.toSet.subsetOf(Set("train", "val", "test")))
  }

  test("weighted reservoir: exact A-ES replay, k per language") {
    import spark.implicits._
    val got = QualityQueries.qWeightedReservoir(spark, sf)
      .select($"lang", $"rk", $"doc_id").as[(String, Int, Long)].collect()
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id", $"lang", $"n_chars").as[(Long, String, Long)]
      .collect()
    val keys = docs.map { case (id, lang, w) =>
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s"wr:$id".getBytes("UTF-8"))
        .take(3).map("%02x".format(_)).mkString
      val u = (java.lang.Long.parseLong(h, 16) + 1.0) / 16777216.0
      (lang, math.log(u) / w, id)
    }
    // expected: per lang, top-5 by A-ES key desc (doc_id tiebreak)
    val expTop = keys.groupBy(_._1).flatMap { case (_, ks) =>
      ks.toSeq.sortBy(t => (-t._2, t._3)).take(5).zipWithIndex
        .map { case ((l, _, id), i) => (l, i + 1, id) }
    }.toSet
    assert(got.toSet == expTop,
      s"A-ES selection diverges: got=${got.toSet -- expTop}")
  }

  test("int8 quantization: reconstruction error bounded by 0.5/scale") {
    import spark.implicits._
    val rows = QualityQueries.qEmbedQuantize(spark, sf)
      .select($"scale_r", $"max_err").as[(Double, Double)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (scale, err) =>
      // rounding headroom: both cols are round(_, 4)
      assert(err <= 0.5 / scale + 1e-3,
        s"err $err exceeds the half-step bound at scale $scale")
    }
  }

  test("gopher rules: pass verdict matches the published rule set") {
    import spark.implicits._
    val got = QualityQueries.qGopherRules(spark, sf)
      .select($"doc_id", $"n_words", $"mean_wlen", $"stop_hits", $"passes")
      .collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      val expect = r.getLong(1) >= 50 && r.getLong(1) <= 100000 &&
        r.getDouble(2) >= 3.0 && r.getDouble(2) <= 10.0 &&
        r.getLong(3) >= 2
      // symbol_ratio is 0 on this corpus, so it can't flip the verdict
      assert(r.getBoolean(4) == expect, s"verdict mismatch on $r")
    }
  }

  test("gopher rules: each rule can flip the verdict on crafted rows") {
    import spark.implicits._
    val goodText = ("the cat sat to rest and that was all of it have some " +
      "peace with quiet evening words ") * 3 // >50 words, stopword-rich
    val crafted = Seq(
      (1L, "en", goodText),                          // passes all
      (2L, "en", "too short to pass"),               // n_words < 50
      (3L, "en", Seq.fill(60)("a").mkString(" ")),   // mean_wlen < 3
      (4L, "en", Seq.fill(60)("wordsalad").mkString(" ")), // no stopwords
      (5L, "en", ("the and " * 30) + Seq.fill(30)("#").mkString(" ")),
    ).toDF("doc_id", "lang", "text")
    val got = QualityQueries.gopherFlags(crafted)
      .select($"doc_id", $"passes").as[(Long, Boolean)].collect().toMap
    assert(got(1L), "stopword-rich long doc must pass")
    assert(!got(2L), "short doc must fail the word-count bound")
    assert(!got(3L), "single-char tokens must fail mean word length")
    assert(!got(4L), "stopword-free doc must fail the 2-of-8 rule")
    assert(!got(5L), "symbol-heavy doc must fail the symbol ratio")
  }

  test("token budget: distributed prefix sum equals the naive window") {
    import spark.implicits._
    val dist = QualityQueries.qTokenBudget(spark, sf).collect().toSeq
    val naive = QualityQueries.tokenBudgetNaive(spark, sf).collect().toSeq
    assert(dist.nonEmpty, "budget must keep some docs")
    assert(dist == naive,
      "two-phase prefix sum must reproduce the single-window cumsum")
    // every source respects the cap; the NEXT doc would have overflowed
    val bySource = QualityQueries.qTokenBudget(spark, sf)
      .groupBy($"source").agg(org.apache.spark.sql.functions.max($"cum_tokens").as("m"))
      .as[(String, Long)].collect()
    bySource.foreach { case (src, m) =>
      assert(m <= 700L, s"$src exceeded the budget: $m")
    }
  }

  test("approx distinct: sketch verdict true at sf0.001 and sf0.01") {
    import spark.implicits._
    Seq(sf, "/root/testdata/sf0.01").foreach { d =>
      val ok = QualityQueries.qApproxDistinct(spark, d)
        .select($"sketch_ok").as[Boolean].collect()
      assert(ok.nonEmpty && ok.forall(identity), s"sketch out of bound at $d")
    }
  }

  test("dataset card: one row, counts consistent with the table") {
    val card = QualityQueries.qDatasetCard(spark, sf).collect()
    assert(card.length == 1)
    val r = card.head
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    assert(r.getAs[Long]("n_docs") == docs.count())
    assert(r.getAs[Long]("n_langs") ==
      docs.select("lang").distinct().count())
    val share = r.getAs[Double]("ascii_share")
    assert(share >= 0.0 && share <= 1.0)
  }

  test("epoch sample: realized per-lang rate tracks the boost factor") {
    import spark.implicits._
    val boosts = QualityQueries.qTemperatureMix(spark, sf)
      .select($"lang", $"boost", $"n_docs")
      .as[(String, Double, Long)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    val copies = QualityQueries.qEpochSample(spark, sf)
      .groupBy($"lang")
      .agg(org.apache.spark.sql.functions.sum($"n_copies").as("c"))
      .as[(String, Long)].collect().toMap
    boosts.foreach { case (lang, (boost, nDocs)) =>
      val realized = copies.getOrElse(lang, 0L).toDouble / nDocs
      // Bernoulli rounding: expected rate = boost, sd ~ 1/sqrt(n)
      val tol = 4.0 / math.sqrt(nDocs.toDouble)
      assert(math.abs(realized - boost) < tol + 0.05,
        s"$lang realized $realized vs boost $boost (n=$nDocs)")
      // repetition counts are integers bracketing the boost
      assert(copies.getOrElse(lang, 0L) >= nDocs * math.floor(boost).toLong)
    }
  }

  test("markov transitions: rows of the matrix sum to ~1, END is absorbing") {
    import spark.implicits._
    val m = graft.operators.TimeQueries.qMarkovNext(spark, sf)
      .select($"prev_type", $"next_type", $"p")
      .as[(String, String, Double)].collect()
    assert(m.nonEmpty)
    m.groupBy(_._1).foreach { case (prev, rows) =>
      val s = rows.map(_._3).sum
      assert(math.abs(s - 1.0) < 0.01,
        s"P(next|$prev) sums to $s — rounding drift beyond tolerance")
    }
    assert(!m.exists(_._1 == "END"), "END must be absorbing (never a source)")
    assert(m.exists(_._2 == "END"), "streams end, so END must be reachable")
  }

  test("seasonality: weekday indices valid, strength nonnegative per type") {
    import spark.implicits._
    val rows = graft.operators.TimeQueries.qSeasonality(spark, sf)
      .select($"event_type", $"dow", $"avg_daily", $"strength")
      .as[(String, Int, Double, Double)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (t, dow, avg, str) =>
      assert(dow >= 0 && dow <= 6, s"$t dow $dow out of range")
      assert(avg > 0 && str >= 0)
    }
    // strength is a per-type constant across its dow rows
    rows.groupBy(_._1).foreach { case (t, rs) =>
      assert(rs.map(_._4).distinct.length == 1, s"$t strength not constant")
    }
  }

  test("burstiness: fano nonnegative, n_days consistent across types") {
    import spark.implicits._
    val rows = graft.operators.TimeQueries.qBurstiness(spark, sf)
      .select($"n_days", $"mean_daily", $"fano")
      .as[(Long, Double, Double)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (nd, m, f) =>
      assert(nd > 0 && m > 0 && f >= 0,
        s"invalid burstiness row: days=$nd mean=$m fano=$f")
    }
    assert(rows.map(_._1).distinct.length == 1,
      "all types share one gap-filled day spine")
  }

  test("KS drift: statistic in [0,1] and self-vs-rest is exactly computed") {
    import spark.implicits._
    val rows = graft.operators.ScoringQueries.qKsDrift(spark, sf)
      .select($"source", $"n_docs", $"d_stat")
      .as[(String, Long, Double)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (src, n, d) =>
      assert(n > 0)
      assert(d >= 0.0 && d <= 1.0, s"$src KS stat $d out of [0,1]")
    }
  }

  test("lorenz: shares monotone, end at 1.0, gini in [0,1) and constant") {
    import spark.implicits._
    val rows = graft.operators.QualityQueries.qLorenzGini(spark, sf)
      .as[(Int, Long, Double, Double, Double)].collect().sortBy(_._1)
    assert(rows.nonEmpty)
    val docShares = rows.map(_._3)
    val charShares = rows.map(_._4)
    assert(docShares.sameElements(docShares.sorted))
    assert(charShares.sameElements(charShares.sorted))
    assert(math.abs(docShares.last - 1.0) < 1e-9)
    assert(math.abs(charShares.last - 1.0) < 1e-9)
    val ginis = rows.map(_._5).distinct
    assert(ginis.length == 1 && ginis.head >= 0.0 && ginis.head < 1.0)
    // lengths are bounded (48..553 chars), so concentration is mild but
    // nonzero — the curve must actually bend
    assert(ginis.head > 0.0)
  }

  test("k-anonymity: flags agree with counts and partition the corpus") {
    import spark.implicits._
    val rows = graft.operators.QualityQueries.qKAnonymity(spark, sf)
      .select($"n", $"at_risk").as[(Long, Boolean)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (n, risk) =>
      assert(n >= 1 && risk == (n < 5), s"flag/count mismatch at n=$n")
    }
    val total = spark.read.parquet(s"$sf/documents.parquet").count()
    assert(rows.map(_._1).sum == total,
      "quasi-identifier groups must partition the corpus exactly")
  }

  test("lateness: percentiles ordered, rate bounded") {
    import spark.implicits._
    val rows = graft.operators.TimeQueries.qLateness(spark, sf)
      .select($"p50_late_s", $"p95_late_s", $"max_late_s", $"late_rate")
      .as[(Double, Double, Double, Double)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (p50, p95, mx, rate) =>
      assert(p50 >= 0 && p50 <= p95 && p95 <= mx,
        s"percentiles out of order: $p50 / $p95 / $mx")
      assert(rate >= 0.0 && rate <= 1.0)
    }
  }

  test("retention: offset-0 row is each cohort's maximum") {
    import spark.implicits._
    val rows = graft.operators.TimeQueries.qRetention(spark, sf)
      .as[(Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (cohort, rs) =>
      val byOffset = rs.map(r => r._2 -> r._3).toMap
      assert(byOffset.contains(0L), s"cohort $cohort missing its own week")
      assert(byOffset.values.max == byOffset(0L),
        s"cohort $cohort: retention cannot exceed the cohort size")
    }
  }

  test("funnel: step counts never increase, later steps are subsets") {
    import spark.implicits._
    val steps = graft.operators.TimeQueries.qFunnel(spark, sf)
      .as[(String, Long)].collect().sortBy(_._1)
    assert(steps.map(_._1).toSeq ==
      Seq("1_view", "2_click", "3_purchase"))
    val ns = steps.map(_._2)
    assert(ns(0) >= ns(1) && ns(1) >= ns(2),
      s"funnel must narrow: ${ns.mkString(",")}")
    assert(ns(0) > 0)
  }
}
