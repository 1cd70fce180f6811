package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.{QualityQueries, Relational, ScoringQueries}

class ScoringSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sf = "/root/testdata/sf0.001"

  test("feature MI: nonnegative, and a constant feature carries zero bits") {
    import spark.implicits._
    val mi = ScoringQueries.qFeatureMi(spark, sf)
      .select($"feature", $"n_f", $"mi").as[(String, Long, Double)].collect()
    assert(mi.length == 4)
    mi.foreach { case (f, _, v) =>
      assert(v >= 0.0, s"MI($f) negative: $v — MI is nonnegative by definition")
    }
    // the audit must see real 2x2 tables, not all-true/all-false columns
    val n = spark.read.parquet(s"$sf/documents.parquet").count()
    mi.foreach { case (f, nf, _) =>
      assert(nf > 0 && nf < n, s"feature $f is constant on this corpus")
    }
  }

  test("OOV rate: bounded, and the frozen top-20 vocab leaves real OOV mass") {
    import spark.implicits._
    val r = graft.operators.TextQueries.qOovRate(spark, sf)
      .select($"oov_rate").as[Double].collect()
    assert(r.nonEmpty && r.forall(v => v >= 0.0 && v <= 1.0))
    assert(r.exists(_ > 0.0),
      "no document has any OOV token — vocab cap is not binding")
  }

  test("Kneser-Ney: continuation counts discount one-context words") {
    import spark.implicits._
    val kn = ScoringQueries.qKneserNeyNll(spark, sf)
      .select($"doc_id", $"kn_nll").as[(Long, Double)].collect()
    assert(kn.nonEmpty)
    assert(kn.forall { case (_, v) => v > 0 && !v.isNaN && !v.isInfinite },
      "KN NLL must be finite and positive (all scored bigrams were counted)")
    // KN and Laplace must actually DISAGREE on ranking somewhere —
    // continuation-count backoff is a different model, not a rescale
    val lap = ScoringQueries.qBigramNll(spark, sf)
      .select($"doc_id", $"nll").as[(Long, Double)].collect().toMap
    val knRank = kn.sortBy(_._2).map(_._1).toSeq
    val lapRank = kn.map(_._1).sortBy(lap).toSeq
    assert(knRank != lapRank,
      "KN produced the identical document ranking as Laplace — suspicious")
  }

  test("DSIR weights separate the target slice: en mean log-weight > non-en") {
    import spark.implicits._
    val w = ScoringQueries.qDsirWeights(spark, sf)
      .join(spark.read.parquet(s"$sf/documents.parquet")
        .select($"doc_id", $"lang"), "doc_id")
      .select($"lang", $"dsir_logw").as[(String, Double)].collect()
    assert(w.nonEmpty)
    val (en, rest) = w.partition(_._1 == "en")
    val enMean = en.map(_._2).sum / en.length
    val restMean = rest.map(_._2).sum / rest.length
    info(f"mean dsir_logw: en=$enMean%.4f non-en=$restMean%.4f")
    // the whole point of importance weights: target-domain docs score
    // higher under ln(p_target/p_raw) than off-target docs
    assert(enMean > restMean,
      f"DSIR failed to separate target: en=$enMean%.4f rest=$restMean%.4f")
  }

  test("source drift: KL is non-negative (Gibbs) and token totals partition the corpus") {
    import spark.implicits._
    val rows = ScoringQueries.qSourceDrift(spark, sf)
      .select($"source", $"n_tokens", $"kl").as[(String, Long, Double)]
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { case (src, _, kl) =>
      assert(kl >= 0.0, s"KL($src) = $kl violates Gibbs' inequality")
    }
    val corpusToks = spark.read.parquet(s"$sf/documents.parquet")
      .selectExpr("sum(size(split(text, ' ')))").as[Long].head()
    assert(rows.map(_._2).sum == corpusToks,
      "per-source token counts must partition the corpus total")
  }

  test("DSIR select: two-phase prefix sum equals the naive sorted cumsum") {
    import spark.implicits._
    val weights = ScoringQueries.qDsirWeights(spark, sf)
      .select($"doc_id", $"dsir_logw").as[(Long, Double)].collect().toMap
    val toks = spark.read.parquet(s"$sf/documents.parquet")
      .selectExpr("doc_id", "cast(size(split(text, ' ')) as long) n")
      .as[(Long, Long)].collect().toMap
    var cum = 0L
    val expected = weights.toSeq
      .sortBy { case (id, w) => (-w, id) }
      .flatMap { case (id, _) =>
        cum += toks(id); if (cum <= 10000L) Some(id -> cum) else None
      }.toMap
    val got = ScoringQueries.qDsirSelect(spark, sf)
      .select($"doc_id", $"cum_tokens").as[(Long, Long)].collect().toMap
    assert(got == expected,
      s"bucketed prefix sum diverges from naive cumsum: " +
        s"extra=${(got.keySet -- expected.keySet).take(5)} " +
        s"missing=${(expected.keySet -- got.keySet).take(5)}")
  }

  test("unk fold: non-vacuous cap keeps exactly top-V terms, folds the rest") {
    import spark.implicits._
    // 5 distinct terms, cap at 3: keep c(3) b(2) a(2)... counts:
    // a=4, b=3, c=2, d=1, e=1 → top-3 = {a, b, c}; d/e fold to <unk>
    val toks = Seq(
      (1L, "a"), (1L, "a"), (1L, "b"), (1L, "d"),
      (2L, "a"), (2L, "b"), (2L, "c"), (2L, "e"),
      (3L, "a"), (3L, "b"), (3L, "c"),
    ).toDF("doc_id", "term")
    val folded = operators.ScoringQueries.unkFold(toks, topV = 3)
      .select($"doc_id", $"term").as[(Long, String)].collect()
    assert(folded.length == toks.count(), "fold must preserve token count")
    val vocab = folded.map(_._2).toSet
    assert(vocab == Set("a", "b", "c", operators.ScoringQueries.UnkToken),
      s"expected top-3 + <unk>, got $vocab")
    assert(folded.count(_._2 == operators.ScoringQueries.UnkToken) == 2,
      "exactly the two tail tokens (d, e) must fold")
    // tie at the cap boundary breaks by term asc: with cap 4, 'd' (count
    // 1) wins the tie against 'e' (count 1) deterministically
    val f4 = operators.ScoringQueries.unkFold(toks, topV = 4)
      .select($"term").as[String].collect().toSet
    assert(f4 == Set("a", "b", "c", "d", operators.ScoringQueries.UnkToken),
      s"cap-boundary tie must break by term asc, got $f4")
  }

  test("unk fold binds on the shipped corpus: <unk> carries real mass") {
    import spark.implicits._
    val toks = spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id", explode(split($"text", " ")).as("term"))
    val folded = operators.ScoringQueries.unkFold(toks)
    val kinds = folded.select($"term").distinct().count()
    assert(kinds <= operators.ScoringQueries.ScoreTopV + 1,
      s"folded vocab must be ≤ V+1, got $kinds")
    val unkN = folded.filter($"term" === operators.ScoringQueries.UnkToken)
      .count()
    assert(unkN > 0, "fold is vacuous on the shipped corpus — cap not binding")
  }

  test("tfidf: at most 3 terms per doc, rk dense from 1, scores non-increasing") {
    import spark.implicits._
    val rows = ScoringQueries.qTfidfTopk(spark, sf)
      .select($"doc_id", $"score", $"rk")
      .as[(Long, Double, Int)].collect()
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (doc, rs) =>
      val byRk = rs.sortBy(_._3)
      assert(byRk.map(_._3).toSeq == (1 to byRk.length),
        s"doc $doc ranks not dense: ${byRk.map(_._3).mkString(",")}")
      assert(byRk.length <= 3, s"doc $doc has >3 terms")
      assert(byRk.map(_._2).toSeq == byRk.map(_._2).sortBy(-(_: Double)).toSeq,
        s"doc $doc scores not non-increasing")
    }
  }

  test("tfidf: at equal tf, a corpus-unique term outranks a universal one") {
    import spark.implicits._
    // doc 1 holds "rare" (df=1) and "word" (df=3) once each:
    // rare = 1·(ln(4/2)+1) ≈ 1.69 beats word = 1·(ln(4/4)+1) = 1.0
    val docs = Seq(
      (1L, "rare word"),
      (2L, "word word word"),
      (3L, "word other word"),
    ).toDF("doc_id", "text")
    val tf = docs.select($"doc_id", explode(split($"text", " ")).as("term"))
      .groupBy($"doc_id", $"term").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy($"term").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val top = tf.join(broadcast(df), "term").crossJoin(broadcast(n))
      .select($"doc_id", $"term",
        ($"tf" * (log(($"n_docs" + lit(1.0)) / ($"df" + lit(1.0))) + lit(1.0)))
          .as("score"))
      .filter($"doc_id" === 1L)
      .orderBy($"score".desc)
      .select($"term").as[String].head()
    assert(top == "rare", s"idf must favor the corpus-unique term, got $top")
  }

  test("unigram nll: uniform corpus scores ln(V) per token") {
    import spark.implicits._
    // 4 tokens, each appearing exactly once per doc over 2 docs →
    // p(t)=2/8=0.25 → nll = ln(4) for every doc
    val docs = Seq(
      (1L, "a b c d"),
      (2L, "a b c d"),
    ).toDF("doc_id", "text")
    val toks = docs.select($"doc_id", explode(split($"text", " ")).as("term"))
    val freq = toks.groupBy($"term").agg(count(lit(1)).as("cnt"))
    val tot = freq.agg(sum($"cnt").as("total"))
    val nll = toks.join(broadcast(freq), "term").crossJoin(broadcast(tot))
      .groupBy($"doc_id")
      .agg(round(avg(-log($"cnt".cast("double") / $"total")), 4).as("nll"))
      .select($"nll").as[Double].collect()
    nll.foreach(v => assert(math.abs(v - math.log(4)) < 1e-3,
      s"uniform corpus must score ln(4); got $v"))
  }

  test("unigram nll: rare-token docs score higher than common-token docs") {
    val got = ScoringQueries.qUnigramNll(spark, sf)
    val n = got.count()
    assert(n > 0)
    // every doc's nll is positive and finite (p(t) <= total implies -ln p > 0)
    import spark.implicits._
    val bad = got.filter($"nll" <= 0 || $"nll".isNull || isnan($"nll")).count()
    assert(bad == 0, s"$bad docs with non-positive/NaN nll")
  }

  test("quantile sketch: spark's own sketch meets the 5% bound at sf0.01") {
    import spark.implicits._
    Seq(sf, "/root/testdata/sf0.01").foreach { d =>
      val ok = QualityQueries.qQuantileSketch(spark, d)
        .select($"sketch_ok_p50" && $"sketch_ok_p99").as[Boolean].collect()
      assert(ok.nonEmpty && ok.forall(identity),
        s"sketch out of tolerance at $d")
    }
  }

  test("chunking: stride/length invariants and full tail coverage") {
    import spark.implicits._
    val got = graft.operators.TextQueries.qChunk(spark, sf)
      .select($"doc_id", $"chunk_id", $"n_tokens")
      .as[(Long, Long, Long)].collect()
    assert(got.nonEmpty)
    val docLens = graft.sources.Tables.documents(spark, sf)
      .select($"doc_id", size(split($"text", " ")).cast("long"))
      .as[(Long, Long)].collect().toMap
    got.groupBy(_._1).foreach { case (doc, chunks) =>
      val n = docLens(doc)
      val byId = chunks.sortBy(_._2)
      // chunk ids dense from 0; count = floor((n-1)/48)+1
      assert(byId.map(_._2).toSeq == (0L until (n - 1) / 48 + 1),
        s"doc $doc chunk ids not dense")
      // all chunks full-length except possibly trailing ones; tail chunk
      // ends exactly at the last token: start + len == n
      val last = byId.last
      assert(last._2 * 48 + last._3 == n,
        s"doc $doc tail chunk does not end at token $n")
      byId.dropRight(1).foreach { c =>
        assert(c._3 == math.min(64, n - c._2 * 48),
          s"doc $doc chunk ${c._2} wrong length")
      }
    }
  }

  test("chunking: md5s match a local recompute and docs reassemble") {
    import spark.implicits._
    val ChunkLen = 64; val Stride = 48
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val docs = graft.sources.Tables.documents(spark, sf)
      .select($"doc_id", $"text").as[(Long, String)].collect().toMap
    val got = graft.operators.TextQueries.qChunk(spark, sf)
      .select($"doc_id", $"chunk_id", $"chunk_md5")
      .as[(Long, Long, String)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
    assert(got.keySet == docs.keySet)
    docs.foreach { case (id, text) =>
      val tk = text.split(" ", -1)
      val chunks = Iterator.from(0)
        .map(_ * Stride).takeWhile(_ < tk.length)
        .map(st => tk.slice(st, st + ChunkLen).toSeq).toSeq
      // the Spark-side chunks are byte-identical to the local slicing law
      assert(got(id) == chunks.map(c => md5hex(c.mkString(" "))),
        s"doc $id chunk md5s diverge from the slicing law")
      // dropping each later chunk's (ChunkLen - Stride)-token overlap
      // reconstructs the original token stream: no gap, no duplication
      val rebuilt = chunks.head ++ chunks.tail.flatMap(_.drop(ChunkLen - Stride))
      assert(rebuilt == tk.toSeq, s"doc $id did not reassemble")
    }
  }

  test("listagg: sources sorted, distinct, comma-joined") {
    import spark.implicits._
    val rows = Relational.qListAgg(spark, sf)
      .select($"sources").as[String].collect()
    assert(rows.nonEmpty)
    rows.foreach { srcs =>
      val parts = srcs.split(",").toSeq
      assert(parts == parts.distinct.sorted,
        s"listagg output not sorted-distinct: $srcs")
    }
  }

  test("length deciles: equal-count bands with non-decreasing ranges") {
    import spark.implicits._
    val rows = QualityQueries.qLengthDeciles(spark, sf)
      .select($"lang", $"decile", $"n_docs", $"min_chars", $"max_chars")
      .as[(String, Int, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (lang, ds) =>
      val byD = ds.sortBy(_._2)
      assert(byD.map(_._2).toSeq == (1 to byD.length), s"$lang deciles not dense")
      // ntile: band sizes differ by at most 1
      val sizes = byD.map(_._3)
      assert(sizes.max - sizes.min <= 1, s"$lang bands unbalanced: ${sizes.toSeq}")
      // ordering by (n_chars, doc_id) ⇒ band ranges are non-decreasing:
      // decile d's max_chars <= decile d+1's min_chars (ties allowed)
      byD.sliding(2).foreach {
        case Array(a, b) => assert(a._5 <= b._4,
          s"$lang decile ranges out of order: $a vs $b")
        case _ =>
      }
    }
  }

  test("salted join equals the unsalted join") {
    import spark.implicits._
    val salted = Relational.qSaltedJoin(spark, sf)
    val li = graft.sources.Tables.lineitem(spark, sf)
    val pt = graft.sources.Tables.part(spark, sf)
    val plain = li.join(pt, li("l_partkey") === pt("p_partkey"))
      .groupBy($"p_brand")
      .agg(count(lit(1)).as("n_items"),
        round(sum($"l_extendedprice" * (lit(1.0) - $"l_discount")), 4)
          .as("revenue"))
      .orderBy($"p_brand")
    val a = salted.collect().map(_.toSeq)
    val b = plain.collect().map(_.toSeq)
    assert(a.length == b.length && a.nonEmpty)
    assert(a.sameElements(b), "salted join diverged from plain join")
  }

  test("salted join plan: no broadcast of the dim, join keys include salt") {
    val plan = Relational.qSaltedJoin(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastHashJoin"),
      "shuffle_hash hint must keep the exchange visible")
  }

  test("nested rollup: exploding the items array reconstructs the flat table") {
    import spark.implicits._
    val li = graft.sources.Tables.lineitem(spark, sf)
      .select($"l_orderkey", $"l_linenumber", $"l_partkey", $"l_quantity")
    val nested = li.groupBy($"l_orderkey")
      .agg(org.apache.spark.sql.functions.array_sort(
        org.apache.spark.sql.functions.collect_list(
          org.apache.spark.sql.functions.struct(
            $"l_linenumber", $"l_partkey", $"l_quantity"))).as("items"))
    val back = nested
      .select($"l_orderkey", explode($"items").as("it"))
      .select($"l_orderkey", $"it.l_linenumber", $"it.l_partkey",
        $"it.l_quantity")
    assert(back.count() == li.count())
    assert(back.exceptAll(li).isEmpty && li.exceptAll(back).isEmpty,
      "nested → explode must be a lossless round trip")
    val out = Relational.qNestedRollup(spark, sf)
    assert(out.count() ==
      li.select($"l_orderkey").distinct().count())
  }

  test("quality classifier: probabilities valid, threshold consistent, map-only") {
    import spark.implicits._
    val df = ScoringQueries.qQualityClassifier(spark, sf)
    val rows = df.select($"score", $"keep").as[(Double, Boolean)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (score, keep) =>
      assert(score >= 0.0 && score <= 1.0, s"score $score outside [0,1]")
      // keep is thresholded on the UNROUNDED score; only rows rounded
      // right onto the boundary may disagree with the displayed value
      if (score > 0.50005) assert(keep, s"score $score but keep=false")
      if (score < 0.49995) assert(!keep, s"score $score but keep=true")
    }
    // inference is a map-only pass: a scan and no exchange
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"classifier inference must not shuffle:\n$plan")
  }

  test("bigram nll: finite scores, one bigram per adjacent pair") {
    import spark.implicits._
    val nBi = ScoringQueries.qBigramNll(spark, sf)
      .select($"doc_id", $"n_bigrams", $"nll")
      .as[(Long, Long, Double)].collect()
    assert(nBi.nonEmpty)
    val tokCount = spark.read.parquet(s"$sf/documents.parquet")
      .selectExpr("doc_id", "size(split(text, ' ')) AS n")
      .as[(Long, Int)].collect().toMap
    nBi.foreach { case (doc, nb, nll) =>
      assert(nb == tokCount(doc) - 1,
        s"doc $doc: ${tokCount(doc)} tokens but $nb bigrams")
      assert(!nll.isNaN && !nll.isInfinite && nll > 0.0,
        s"doc $doc: smoothing must keep nll finite/positive, got $nll")
    }
    // docs with <2 tokens have no bigram rows at all
    assert(nBi.map(_._1).toSet ==
      tokCount.filter(_._2 >= 2).keySet)
  }

  test("perplexity routing: head < middle < tail per language, even split") {
    import spark.implicits._
    val rows = ScoringQueries.qPerplexityRouting(spark, sf)
      .select($"lang", $"bucket", $"n_docs", $"mean_nll")
      .as[(String, String, Long, Double)].collect()
    rows.groupBy(_._1).foreach { case (lang, rs) =>
      val byBucket = rs.map(r => r._2 -> r._4).toMap
      assert(byBucket.keySet == Set("head", "middle", "tail"),
        s"$lang missing buckets: ${byBucket.keySet}")
      assert(byBucket("head") < byBucket("middle"),
        s"$lang head must be the most stereotypical text")
      assert(byBucket("middle") < byBucket("tail"))
      val sizes = rs.map(_._3)
      assert(sizes.max - sizes.min <= 1,
        s"$lang terciles must split evenly, got ${sizes.mkString(",")}")
    }
  }

  test("temperature mix: distributions normalize, boost antitone in share") {
    import spark.implicits._
    val rows = QualityQueries.qTemperatureMix(spark, sf)
      .select($"share", $"p_temp", $"boost")
      .as[(Double, Double, Double)].collect()
    assert(rows.length >= 2, "need multiple languages to mix")
    assert(math.abs(rows.map(_._1).sum - 1.0) < 1e-3, "shares must sum to 1")
    assert(math.abs(rows.map(_._2).sum - 1.0) < 1e-3, "p_temp must sum to 1")
    // alpha < 1 flattens: boost = share^(alpha-1)/Z strictly decreases
    // with share, so low-resource languages are upsampled
    val byShare = rows.sortBy(_._1)
    byShare.sliding(2).foreach {
      case Array((s1, _, b1), (s2, _, b2)) if s1 < s2 =>
        assert(b1 >= b2, s"boost must not grow with share: ($s1,$b1) ($s2,$b2)")
      case _ =>
    }
  }
}
