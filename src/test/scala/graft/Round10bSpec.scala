package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators._

/** Round-10 operator pins: the TopKWindowRule partitioning-propagation
  * fix and fixtures for the new statistics/graph family (q291–q296).
  * Each test fails on a plausible wrong form (dropped grouping key,
  * un-tie-corrected ranks, lag-0 leakage), independent of the oracle. */
class Round10bSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sf = "/root/testdata/sf0.001"

  test("TopKWindowRule keeps attribute grouping keys in the aggregate output") {
    // The round-9 form re-derived the partition key from the exploded
    // struct, so hashpartitioning stopped propagating and a regroup on
    // the same key re-shuffled (q12 grew a 4th exchange). The rewritten
    // Aggregate must output the grouping attribute itself.
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val df = Seq((1L, "x", 3L), (1L, "y", 2L), (2L, "z", 9L))
      .toDF("g", "t", "c")
    val plan = df.withColumn("rk",
        row_number().over(Window.partitionBy($"g").orderBy($"c".desc)))
      .filter($"rk" <= 1).queryExecution.optimizedPlan
    val rewritten = graft.plans.TopKWindowRule(plan)
    val aggs = rewritten.collect {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
    }
    assert(aggs.nonEmpty, "rule did not fire")
    val agg = aggs.head
    val gAttr = agg.groupingExpressions.head
    assert(agg.aggregateExpressions.exists(_.exprId ==
        gAttr.asInstanceOf[org.apache.spark.sql.catalyst.expressions.AttributeReference].exprId),
      "grouping attribute must pass through the aggregate output " +
        "(partitioning propagation): " + agg.aggregateExpressions)
  }

  test("q12 stays at 3 exchanges WITH the heap rewrite installed") {
    val df = SparkEntry.queries("q12_bigrams_topk")(spark, sf)
    val p = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    val n = p.linesIterator.count(_.trim.matches("""\(\d+\) Exchange"""))
    // 4 = scan fan-out (Tables.readFanned, round-17) + pair agg +
    // window regroup + presentation sort
    assert(n == 4, s"heap-rewritten bigram chain must not re-shuffle " +
      s"the regroup: $n exchanges")
  }

  test("q291: hub/authority separation on a crafted bipartite-ish graph") {
    import spark.implicits._
    // 1 and 2 point at 3 and 4; 5 points only at 3. Nodes 3,4 are pure
    // authorities (no out-edges), 1,2,5 pure hubs (no in-edges);
    // 3 (three in-links) must out-rank 4 (two).
    val e = Seq((1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (5L, 3L))
      .toDF("src", "dst")
    val out = GraphQueries.hitsCore(e, 3).collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(out(3L)._1 > out(4L)._1, "3 must be the stronger authority")
    assert(out(3L)._2 == 0.0 && out(4L)._2 == 0.0, "sinks have zero hub")
    assert(out(1L)._1 == 0.0 && out(1L)._2 > 0.0, "sources are pure hubs")
    assert(out(1L)._2 == out(2L)._2, "symmetric hubs tie")
    assert(out(1L)._2 > out(5L)._2,
      "a hub pointing at both authorities beats the single-link hub")
  }

  test("q291: lazy and lineage-truncated paths agree; truncated path bottoms out in LogicalRDD") {
    import spark.implicits._
    val e = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 3L)).toDF("src", "dst")
    val lazyRows = GraphQueries.hitsCore(e, 3, Some(false)).collect().toSeq
    val trunc = GraphQueries.hitsCore(e, 3, Some(true))
    assert(trunc.collect().toSeq == lazyRows)
    val leaves = trunc.queryExecution.analyzed.collectLeaves()
    assert(leaves.forall(_.getClass.getSimpleName == "LogicalRDD"),
      "truncated HITS must checkpoint every round: " +
        leaves.map(_.getClass.getSimpleName).distinct)
  }

  test("q292: path and square fixtures match hand-computed Adamic-Adar") {
    import spark.implicits._
    // Path 1-2-3: open pair (1,3) through center 2 (deg 2) = 1/ln 2.
    val path = Seq((1L, 2L), (2L, 3L)).toDF("a", "b")
    val p = GraphQueries.adamicAdarCore(path).collect()
    assert(p.map(r => (r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq ==
      Seq((1L, 3L, math.rint(10000.0 / math.log(2)) / 10000)))
    // Square 1-2-3-4 (edges 12,23,34,14): both diagonals (1,3) and
    // (2,4) close through TWO degree-2 centers = 2/ln 2 each.
    val sq = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L)).toDF("a", "b")
    val q = GraphQueries.adamicAdarCore(sq).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    val two = math.rint(10000.0 * 2 / math.log(2)) / 10000
    assert(q.toSet == Set((1L, 3L, two), (2L, 4L, two)))
    // adjacent pairs never score: they are edges, not predictions
    assert(!q.exists(t => (t._1, t._2) == (1L, 2L)))
  }

  test("q293: planted weekly cadence peaks at lag 7") {
    import spark.implicits._
    val days = (0 until 28).map { i =>
      (java.sql.Date.valueOf(java.time.LocalDate.of(2026, 1, 1).plusDays(i)),
        if (i % 7 == 0) 100.0 else 1.0)
    }.toDF("day", "y")
    val acf = TimeQueries.acfOf(days).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(acf.size == 7)
    assert((1L to 6L).forall(l => acf(7L) > acf(l)),
      s"lag-7 must dominate a weekly series: $acf")
    assert(acf(7L) > 0.5 && acf(1L) < 0.1)
  }

  test("q294: hand-computed tie-corrected U and z") {
    import spark.implicits._
    // A={1,2}, B={2,3}: midranks 1, 2.5, 2.5, 4 -> R1=3.5, U1=0.5,
    // tie term 2^3-2=6, sigma=sqrt(4/12*(5-6/12))=sqrt(1.5), z=-1.2247.
    val docs = Seq(("a", 1L), ("a", 2L), ("b", 2L), ("b", 3L))
      .toDF("source", "n_chars")
    val r = QualityQueries.mannWhitneyOf(docs).collect()
    assert(r.length == 1)
    val row = r.head
    assert(row.getAs[String]("src_a") == "a" && row.getAs[String]("src_b") == "b")
    assert(row.getAs[Long]("n1") == 2L && row.getAs[Long]("n2") == 2L)
    assert(row.getAs[Double]("u1") == 0.5)
    assert(row.getAs[Double]("z") == -1.2247)
  }

  test("q295: midrank Spearman on hand-computed fixtures") {
    import spark.implicits._
    // perfect monotone -> 1; reversed -> -1; x=[1,2,3] vs y=[3,1,2] -> -0.5
    val base = Seq(
      ("mono", 1.0, 10.0), ("mono", 2.0, 20.0), ("mono", 3.0, 30.0),
      ("rev", 1.0, 3.0), ("rev", 2.0, 2.0), ("rev", 3.0, 1.0),
      ("mix", 1.0, 3.0), ("mix", 2.0, 1.0), ("mix", 3.0, 2.0))
      .toDF("source", "x", "y")
    val rho = QualityQueries.spearmanOf(base).collect()
      .map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(rho("mono") == 1.0 && rho("rev") == -1.0 && rho("mix") == -0.5)
  }

  test("q297: identical docs share all fingerprints; a long shared run shares some; strangers none") {
    import spark.implicits._
    val run = (1 to 14).map(i => ('a' + (i % 26)).toChar.toString + i).mkString(" ")
    val docs = Seq(
      (1L, run),
      (2L, run),                                    // exact copy
      (3L, "q9 r8 s7 t6 u5 v4 w3 x2 y1 z0 aa bb"),  // unrelated
      (4L, "zz9 yy8 xx7 " + run)                     // shares the 14-token run
    ).toDF("doc_id", "text")
    val pairs = DedupQueries.winnowingPairsOf(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(pairs.contains((1L, 2L)), s"exact copies must pair: $pairs")
    assert(pairs.contains((1L, 4L)) && pairs.contains((2L, 4L)),
      s"a shared 14-token run (t-guarantee 8) must fingerprint-match: $pairs")
    assert(!pairs.keys.exists(p => p._1 == 3L || p._2 == 3L),
      s"unrelated doc must not pair: $pairs")
    assert(pairs((1L, 2L)) >= pairs((1L, 4L)),
      "full copies share at least as many fingerprints as partial overlap")
  }

  test("q298: hand-folded Holt recurrence on a trending series") {
    import spark.implicits._
    val d0 = java.time.LocalDate.of(2026, 2, 1)
    val filled = (0 until 4).map(i =>
      ("x", java.sql.Date.valueOf(d0.plusDays(i)), 10L + 2L * i))
      .toDF("event_type", "day", "n")
    val out = TimeQueries.holtOf(filled).collect()
    def row(i: Int) = (Option(out(i).get(3)).map(_.asInstanceOf[Double]),
      out(i).getDouble(4), out(i).getDouble(5))
    // y = 10,12,14,16; l1=10 b1=0; l2=10.6 b2=.06; l3=11.662 b3=.1602;
    // l4=13.07554 b4=0.1*1.41354+0.9*0.1602=0.285534 -> floor-4dp
    assert(row(0) == ((None, 10.0, 0.0)))
    assert(row(1) == ((Some(10.0), 10.6, 0.06)))
    assert(row(2) == ((Some(10.66), 11.662, 0.1602)))
    assert(row(3) == ((Some(11.8222), 13.0755, 0.2855)))
  }

  test("q299: separable data trains to perfect accuracy with positive slope") {
    import spark.implicits._
    val f = ((1 to 40).map(i => (1.0, 2.0 + i * 0.01, 1.0)) ++
      (1 to 40).map(i => (0.0, -2.0 - i * 0.01, 1.0)))
      .toDF("y", "x1", "x2")
    val r = ScoringQueries.logregCore(f).collect().head
    assert(r.getAs[Double]("train_acc") == 1.0)
    assert(r.getAs[Double]("w1") > 0.1, "separating slope must be positive")
    assert(r.getAs[Long]("n") == 80L)
  }

  test("q300: ridge recovers a planted linear law") {
    import spark.implicits._
    val base = (1 to 200).map { i =>
      val x1 = i.toLong; val x2 = ((i * 7) % 50 + 1).toLong
      (x1, x2, 10L + 3L * x1 + 5L * x2)
    }.toDF("x1", "x2", "y")
    val r = QualityQueries.ridgeCore(base).collect().head
    // λ=100 shrinks the solution (that IS ridge): slopes land near the
    // planted law, the unpenalized-fit intercept absorbs the bias
    assert(math.abs(r.getAs[Double]("w1") - 3.0) < 0.1, r.toString)
    assert(math.abs(r.getAs[Double]("w2") - 5.0) < 0.3, r.toString)
    assert(r.getAs[Double]("r2") > 0.999, r.toString)
  }

  test("q301: blocking triad on planted truth — one pair blocked together, one split") {
    import spark.implicits._
    // no digits: cleanText drops digit-words, which would blank the
    // first-token block key
    val t1 = (0 until 20).map(i => "tok" + ('a' + i).toChar).mkString(" ")
    val t2 = (0 until 26).map(i => "other" + ('a' + i).toChar).mkString(" ")
    val docs = Seq(
      (1L, t1, 100L), (2L, t1, 150L),   // near-dups, same length band
      (3L, t2, 100L), (4L, t2, 290L),   // near-dups, split bands
      (5L, "lone wolf document entirely different", 400L))
      .toDF("doc_id", "text", "n_chars")
    val r = DedupQueries.blockingEvalOf(docs).collect().head
    assert(r.getAs[Long]("n_truth") == 2L, r.toString)
    assert(r.getAs[Long]("n_matched") == 1L, r.toString)
    assert(r.getAs[Double]("pairs_completeness") == 0.5)
    // blocks: {1,2} together (tok1|1), {3},{4},{5} alone -> 1 candidate
    assert(r.getAs[Long]("n_cand") == 1L)
    assert(r.getAs[Double]("pairs_quality") == 1.0)
  }

  test("q302: a distribution shifted by 2 has W1 = 2") {
    import spark.implicits._
    val docs = Seq(("a", 0L), ("a", 4L), ("b", 2L), ("b", 6L))
      .toDF("source", "n_chars")
    val r = QualityQueries.wassersteinOf(docs).collect().head
    assert(r.getAs[String]("src_a") == "a" && r.getAs[String]("src_b") == "b")
    assert(r.getAs[Double]("w1_dist") == 2.0, r.toString)
  }

  test("q303: PAV pools the planted violation and stays monotone") {
    import spark.implicits._
    // bin rates 0.2, 0.8, 0.4, 1.0 (5 obs each): PAV pools bins 2-3
    // to 0.6 -> iso = 0.2, 0.6, 0.6, 1.0
    def mk(bin: Long, ones: Int): Seq[(Long, Long)] =
      (1 to ones).map(_ => (bin, 1L)) ++ (1 to 5 - ones).map(_ => (bin, 0L))
    val base = (mk(1, 1) ++ mk(2, 4) ++ mk(3, 2) ++ mk(4, 5)).toDF("bin", "y")
    val out = ScoringQueries.isotonicOf(base).collect()
      .map(r => (r.getLong(0), r.getDouble(2), r.getDouble(3)))
    assert(out.toSeq == Seq((1L, 0.2, 0.2), (2L, 0.8, 0.6),
      (3L, 0.4, 0.6), (4L, 1.0, 1.0)))
    assert(out.map(_._3).sliding(2).forall(p => p(0) <= p(1)), "monotone")
  }

  test("q304: position-independent chunk sharing is detected; unique docs score 0") {
    import spark.implicits._
    val c1 = (1 to 10).map("a" + _).mkString(" ")
    val c2 = (1 to 10).map("b" + _).mkString(" ")
    val c3 = (1 to 10).map("c" + _).mkString(" ")
    val docs = Seq(
      (1L, c1 + " " + c2),  // chunks c1, c2
      (2L, c2 + " " + c3),  // chunk c2 shared (different position), c3
      (3L, (1 to 10).map("z" + _).mkString(" ")))
      .toDF("doc_id", "text")
    val out = DedupQueries.paragraphDedupOf(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toMap
    assert(out(1L) == ((2L, 1L, 0.5)))
    assert(out(2L) == ((2L, 1L, 0.5)))
    assert(out(3L) == ((1L, 0L, 0.0)))
  }

  test("q305: hand-scored one-word edit gives p1=0.9, p2=7/9") {
    import spark.implicits._
    val ref = "aa bb cc dd ee ff gg hh ii jj"
    val cand = "aa bb cc dd ee ff gg hh zz jj"
    val docs = Seq((1L, ref), (2L, cand),
      (3L, "qq rr ss tt uu vv ww xx yy")).toDF("doc_id", "text")
    val out = ScoringQueries.bleuPairsOf(docs).collect()
    assert(out.length == 1, out.mkString(";"))
    val r = out.head
    assert((r.getLong(0), r.getLong(1)) == ((1L, 2L)))
    assert(r.getAs[Double]("p1") == 0.9)
    assert(r.getAs[Double]("p2") == 0.7778)
    assert(r.getAs[Double]("bleu2") == 0.8367)
  }

  test("q306: the everywhere-best doc fuses to position 1 with rrf 3/61") {
    import spark.implicits._
    val base = Seq(
      (1L, 100L, 50L, 40L),   // best on all three signals
      (2L, 90L, 45L, 35L),
      (3L, 80L, 40L, 30L),
      (4L, 80L, 45L, 20L))    // tie on v1 with doc 3 (shared min-rank)
      .toDF("doc_id", "v1", "v2", "v3")
    val out = ScoringQueries.rrfOf(base).collect()
    assert(out.head.getLong(1) == 1L, "doc 1 must fuse first")
    assert(out.head.getAs[Double]("rrf") ==
      math.floor(1e6 * 3.0 / 61 + 0.5) / 1e6)
    // v1 tie: docs 3 and 4 share min-rank 3 on the first signal
    val r3 = out.find(_.getLong(1) == 3L).get
    val r4 = out.find(_.getLong(1) == 4L).get
    assert(r3.getAs[Long]("r1") == 3L && r4.getAs[Long]("r1") == 3L)
  }

  test("q307: perfect split found with gain = root gini and acc 1") {
    import spark.implicits._
    val base = (Seq.fill(4)((1L, 1L)) ++ Seq.fill(4)((2L, 1L)) ++
      Seq.fill(4)((3L, 0L)) ++ Seq.fill(4)((4L, 0L)) ++
      Seq.fill(4)((5L, 0L))).toDF("v", "y")
    val r = ScoringQueries.stumpOf(base).collect().head
    assert(r.getAs[Long]("threshold") == 2L)
    assert(r.getAs[Double]("stump_acc") == 1.0)
    // root gini = 1 - (8^2+12^2)/20^2 = 0.48; split gini = 0
    assert(r.getAs[Double]("gini_gain") == 0.48)
  }

  test("q308: disjoint vocabularies classify perfectly; priors are exact") {
    import spark.implicits._
    val docs = (
      (1 to 6).map(i => (i.toLong, "aa", "foo bar foo")) ++
      (7 to 10).map(i => (i.toLong, "bb", "baz qux qux")))
      .toDF("doc_id", "lang", "text")
    val out = ScoringQueries.naiveBayesOf(docs).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(out("aa") == ((6L, 0.6, 1.0)))
    assert(out("bb") == ((4L, 0.4, 1.0)))
  }

  test("q309: pinball descent moves the intercept up and the loss down") {
    import spark.implicits._
    // x = 0 everywhere: the model can only move its intercept toward
    // the tau=0.7 quantile of y in {0,1}; at w=0 pinball = 0.35
    val f = ((1 to 50).map(_ => (0.0, 0.0)) ++ (1 to 50).map(_ => (1.0, 0.0)))
      .toDF("y", "x")
    val r = ScoringQueries.quantileRegCore(f).collect().head
    assert(r.getAs[Double]("w1") == 0.0, "no feature signal, no slope")
    assert(r.getAs[Double]("w0") > 0.5, s"tau=0.7 pulls above median: $r")
    assert(r.getAs[Double]("pinball") < 0.35, s"loss must improve: $r")
  }

  test("q310: a mislabeled train doc never makes the proponent list") {
    import spark.implicits._
    // y = 1 iff x1 > 0 everywhere except doc 7, which is flipped;
    // val split (doc_id % 5 == 0) keeps the clean labeling
    val base = (1 to 40).map { i =>
      val x1 = if (i % 2 == 0) 1.0 else -1.0
      val clean = if (x1 > 0) 1.0 else 0.0
      val y = if (i == 7) 1.0 - clean else clean
      (i.toLong, y, x1, 0.5, i % 5 == 0)
    }.toDF("doc_id", "y", "x1", "x2", "isval")
    val out = ScoringQueries.tracinCore(base).collect()
    assert(out.length == 10)
    assert(!out.map(_.getLong(1)).contains(7L),
      "the flipped doc cannot be a top proponent")
    val infl = out.map(_.getAs[Double]("infl"))
    assert(infl.head > 0.0, "aligned gradients give positive influence")
    assert(infl.sliding(2).forall(p => p(0) >= p(1)), "ranked desc")
  }

  test("q296: Good-Turing on a counted-by-hand corpus") {
    import spark.implicits._
    // tokens: a x3, b x2, c x1 -> N1=N2=N3=1; r*=2,3; r=3 row has
    // N4=0 -> r*=0; empty-support rows (r>=4) are NULL.
    val docs = Seq((1L, "a a a b b c")).toDF("doc_id", "text")
    val out = ScoringQueries.goodTuringOf(docs).collect()
    val byR = out.map(r => r.getLong(0) ->
      (r.getLong(1), Option(r.get(2)).map(_.asInstanceOf[Double]))).toMap
    assert(byR(1L) == ((1L, Some(2.0))))
    assert(byR(2L) == ((1L, Some(3.0))))
    assert(byR(3L) == ((1L, Some(0.0))))
    assert(byR(4L) == ((0L, None)))
    assert(out.length == 10)
  }
}
