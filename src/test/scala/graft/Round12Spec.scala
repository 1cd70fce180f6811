package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators._

/** Pins for the round-12 work: the cluster-durable checkpoint barrier
  * (`graft.checkpoint.dir` → reliable `checkpoint()` instead of
  * `localCheckpoint()`). Each test fails on the pre-round-12 form. */
class Round12Spec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sf = "/root/testdata/sf0.001"

  test("graft.checkpoint.dir: barriers become reliable checkpoints") {
    // A durable dir set on the SESSION (newSession isolates SQLConf;
    // the SparkContext is shared) must switch every round barrier from
    // executor-local blocks to reliable checkpoint files under the dir
    // — the form that survives executor loss on a real cluster. The
    // structural contract is unchanged (LogicalRDD leaves, so the
    // Round10Spec guard holds under either setting); the new assertion
    // is that the leaf RDDs are RELIABLY checkpointed (a checkpoint
    // file exists) and that results are bit-identical to the local
    // form.
    val dir = java.nio.file.Files
      .createTempDirectory("graft_ckpt_").toString
    val s2 = spark.newSession()
    s2.conf.set(Barrier.DirConf, dir)
    import org.apache.spark.sql.{DataFrame, SparkSession}
    def cores(s: SparkSession): Seq[(String, DataFrame)] = {
      val sess = s // give the implicits a stable path
      import sess.implicits._
      val und = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L))
        .toDF("a", "b")
      Seq(
        "starComponents" -> GraphQueries.starComponents(und),
        "pprCore" -> GraphQueries.pprCore(
          Seq((1L, 2L, 2.0), (2L, 3L, 1.0)).toDF("src", "dst", "w")),
        "suffixRanks" -> DedupQueries.buildSuffixRanks(s, sf),
        "logregCore" -> ScoringQueries.logregCore(
          Seq((1.0, 0.1, 0.2), (0.0, 0.3, 0.4)).toDF("y", "x1", "x2")))
    }
    val reliable = cores(s2)
    for ((name, df) <- reliable) {
      val leaves = df.queryExecution.analyzed.collectLeaves()
      assert(leaves.nonEmpty, name)
      // same structural leaf either way…
      assert(leaves.forall(_.getClass.getSimpleName == "LogicalRDD"),
        s"$name: " +
          leaves.map(_.getClass.getSimpleName).distinct.mkString(","))
      // …but now backed by a RELIABLE checkpoint: the leaf RDD carries
      // a checkpoint file under the configured dir
      val rdds = leaves.collect {
        case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
      }
      assert(rdds.nonEmpty, name)
      assert(rdds.forall(_.getCheckpointFile.exists(_.contains(dir))),
        s"$name: barrier leaves must be reliably checkpointed under " +
          s"$dir, got ${rdds.map(_.getCheckpointFile)}")
    }
    // checkpoint files actually landed on the durable store
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      .filter(java.nio.file.Files.isRegularFile(_)).count()
    assert(files > 0, "reliable checkpoint wrote no files")
    // and the knob changes WHERE rounds persist, never WHAT they
    // compute: reliable ≡ local, row for row
    val local = cores(spark).toMap
    for ((name, df) <- reliable) {
      val a = df.collect().map(_.toString).sorted.toSeq
      val b = local(name).collect().map(_.toString).sorted.toSeq
      assert(a == b, s"$name: reliable != local")
    }
  }

  private def executedAsOf(df: org.apache.spark.sql.DataFrame)
      : graft.plans.AsOfJoinExec = {
    // AQE wraps executed subtrees in QueryStageExec LEAF nodes (Spark
    // 4's ResultQueryStage included) — descend through them explicitly
    def find(p: org.apache.spark.sql.execution.SparkPlan)
        : Option[graft.plans.AsOfJoinExec] = p match {
      case e: graft.plans.AsOfJoinExec => Some(e)
      case a: org.apache.spark.sql.execution.adaptive
          .AdaptiveSparkPlanExec => find(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive
          .QueryStageExec => find(q.plan)
      case other => other.children.view.flatMap(find(_)).headOption
    }
    find(df.queryExecution.executedPlan)
      .getOrElse(fail("no AsOfJoinExec in plan"))
  }

  test("asof WITHIN tolerance: boundary gap matches, gap+1 nulls out") {
    import spark.implicits._
    // key 1: p@100 has latest click r@90 (gap 10), p@200 has r@195
    // (gap 5); key 2: p@50 has only r@10 (gap 40). With tol=10 the
    // boundary gap MATCHES (≤, not <); with tol=9 it nulls out — and
    // never falls back to an older row.
    val left = Seq((1L, 100L, "p1"), (1L, 200L, "p2"), (2L, 50L, "p3"))
      .toDF("k", "t", "tag")
    val right = Seq((1L, 90L, "r90"), (1L, 195L, "r195"),
      (2L, 10L, "r10")).toDF("k", "t", "rtag")
    def run(tol: Long): Map[String, String] =
      graft.plans.AsOfJoin.of(left, right, "k", "t", Some(tol))
        .select($"tag", $"rtag").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(run(10L) ==
      Map("p1" -> "r90", "p2" -> "r195", "p3" -> null))
    assert(run(9L) ==
      Map("p1" -> null, "p2" -> "r195", "p3" -> null))
    // no tolerance: same merge, every latest-at-or-before row kept
    val unbounded = graft.plans.AsOfJoin.of(left, right, "k", "t")
      .select($"tag", $"rtag").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(unbounded ==
      Map("p1" -> "r90", "p2" -> "r195", "p3" -> "r10"))
  }

  test("asof operator reports SQL metrics") {
    import spark.implicits._
    val left = Seq((1L, 100L, "p1"), (1L, 200L, "p2"), (2L, 50L, "p3"))
      .toDF("k", "t", "tag")
    val right = Seq((1L, 90L, "r90"), (2L, 10L, "r10"))
      .toDF("k", "t", "rtag")
    // tol=10: p1 matches r90 (gap 10, boundary), p2's candidate is 110
    // stale, p3's is 40 stale → 3 output rows, exactly 1 matched
    val df = graft.plans.AsOfJoin.of(left, right, "k", "t", Some(10L))
    df.collect()
    val exec = executedAsOf(df)
    assert(exec.metrics("numOutputRows").value == 3L)
    assert(exec.metrics("numMatchedRows").value == 1L)
  }

  test("BandJoinRule: rewrite ≡ predicate on signed data, both spellings") {
    import spark.implicits._
    import org.apache.spark.sql.functions.abs
    // values straddle 0 and the ε+1=4 bucket boundaries, so a
    // truncating (toward-zero) bucket division would mis-bucket the
    // negatives — the floor-div sign-safety this pins
    val xs = Seq(-7L, -6L, -4L, -1L, 0L, 3L, 4L, 10L)
    val l = xs.zipWithIndex.map { case (x, i) => (i.toLong, x) }
      .toDF("lid", "xl")
    val r = xs.zipWithIndex.map { case (x, i) => (i.toLong + 100, x) }
      .toDF("rid", "xr")
    val expect = (for {
      (x, i) <- xs.zipWithIndex; (y, j) <- xs.zipWithIndex
      if math.abs(x - y) <= 3
    } yield (i.toLong, j.toLong + 100)).toSet
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select($"lid", $"rid").collect()
        .map(row => (row.getLong(0), row.getLong(1))).toSet
    val absForm = l.join(r, abs($"xl" - $"xr") <= 3L)
    val betweenForm =
      l.join(r, $"xl" >= $"xr" - 3L && $"xl" <= $"xr" + 3L)
    for (df <- Seq(absForm, betweenForm)) {
      val opt = df.queryExecution.optimizedPlan.toString
      assert(opt.contains("_band_bkt"), s"rule did not fire:\n$opt")
      assert(pairs(df) == expect)
    }
    // equi-keyed joins are NOT rewritten: the planner already hashes
    // on the key and the band predicate is a fine residual
    val keyed = l.join(r, $"lid" === $"rid" - 100L &&
      abs($"xl" - $"xr") <= 3L)
    assert(!keyed.queryExecution.optimizedPlan.toString
      .contains("_band_bkt"))
    assert(pairs(keyed) == expect.filter { case (a, b) => a == b - 100 })
  }

  private def fixtureDir(): String =
    java.nio.file.Files.createTempDirectory("graft_r12_").toString

  test("BandJoinRule: fractional band rewrites with boundary immunity") {
    import spark.implicits._
    import org.apache.spark.sql.functions.abs
    // values land on and around ε = 0.05 bucket boundaries (0.05/0.1
    // sit EXACTLY on floor(v/ε) edges) and below zero — the floor-flip
    // cases the build side's ±2 explode must absorb
    val xs = Seq(0.0, 0.049, 0.05, 0.1, 0.1499, 0.15, 0.2,
      -0.05, -0.024, 1.0)
    val l = xs.zipWithIndex.map { case (x, i) => (i.toLong, x) }
      .toDF("lid", "xl")
    val r = xs.zipWithIndex.map { case (x, i) => (i.toLong + 100, x) }
      .toDF("rid", "xr")
    // expectation from the SAME IEEE predicate on the same doubles
    val expect = (for {
      (x, i) <- xs.zipWithIndex; (y, j) <- xs.zipWithIndex
      if math.abs(x - y) <= 0.05
    } yield (i.toLong, j.toLong + 100)).toSet
    val df = l.join(r, abs($"xl" - $"xr") <= 0.05)
    val opt = df.queryExecution.optimizedPlan.toString
    assert(opt.contains("_band_bkt"), s"fractional band did not fire:\n$opt")
    val got = df.select($"lid", $"rid").collect()
      .map(row => (row.getLong(0), row.getLong(1))).toSet
    assert(got == expect,
      s"missing=${expect -- got} extra=${got -- expect}")
    // ε = 0 on doubles degenerates to float equality: left alone
    val eq0 = l.join(r, abs($"xl" - $"xr") <= 0.0)
    assert(!eq0.queryExecution.optimizedPlan.toString.contains("_band_bkt"))
  }

  test("q336: hand-computed ANOVA F, and the degenerate NULLs") {
    import spark.implicits._
    // groups A = {0, 2}, B = {6, 8}: SSB = 36, SSW = 4,
    // F = (36/1)/(4/2) = 18, eta² = 36/40 = 0.9
    val rows = QualityQueries.anovaOf(
      Seq(("A", 0L), ("A", 2L), ("B", 6L), ("B", 8L)).toDF("source", "x"))
      .collect()
    assert(rows.length == 1)
    val r = rows(0)
    assert(r.getAs[Long]("n_groups") == 2 && r.getAs[Long]("n_docs") == 4)
    assert(r.getAs[Double]("ss_between") == 36.0)
    assert(r.getAs[Double]("ss_within") == 4.0)
    assert(r.getAs[Double]("f_stat") == 18.0)
    assert(r.getAs[Double]("eta_sq") == 0.9)
    // one group → df₁ = 0 → NULL F; zero within-variance → NULL F
    val one = QualityQueries.anovaOf(
      Seq(("A", 1L), ("A", 2L)).toDF("source", "x")).head()
    assert(one.isNullAt(one.fieldIndex("f_stat")))
    val zw = QualityQueries.anovaOf(
      Seq(("A", 1L), ("A", 1L), ("B", 3L)).toDF("source", "x")).head()
    assert(zw.isNullAt(zw.fieldIndex("f_stat")))
  }

  test("q337: content-defined boundaries re-sync after an insertion") {
    import spark.implicits._
    def mod16(t: String): Long = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(t.getBytes("UTF-8")).take(3)
        .map("%02x".format(_)).mkString
      java.lang.Long.parseLong(h, 16) % 16
    }
    // scan candidate tokens for one boundary (md5 ≡ 0 mod 16) and
    // several non-boundary tokens — content decides, not position
    val toks = (1 to 200).map(i => s"t$i")
    val tb = toks.find(mod16(_) == 0L).get
    val nb = toks.filter(mod16(_) != 0L).take(6)
    // A chunks as [n0 n1 tb | n2 n3 tb | n4]; B = n5 prepended — the
    // first chunk absorbs it, every later chunk IDENTICAL (the fixed-
    // stride q304 would shift every chunk and share nothing)
    val a = Seq(nb(0), nb(1), tb, nb(2), nb(3), tb, nb(4)).mkString(" ")
    val b = (nb(5) +: Seq(nb(0), nb(1), tb, nb(2), nb(3), tb, nb(4)))
      .mkString(" ")
    val dir = fixtureDir()
    Seq((1L, "s1", a), (2L, "s1", b)).toDF("doc_id", "source", "text")
      .write.parquet(s"$dir/documents.parquet")
    val r = DedupQueries.qCdcChunks(spark, dir).collect()
    assert(r.length == 1)
    assert(r(0).getAs[Long]("n_chunks") == 6)
    assert(r(0).getAs[Long]("n_distinct") == 4,
      "chunks after the first boundary must re-synchronize")
    assert(r(0).getAs[Double]("dup_ratio") == 0.3333)
  }

  test("q338: mislabeled doc maps outside the easy region") {
    import spark.implicits._
    // separable mass (positive x1 ⇒ y = 1) plus ONE mislabeled doc:
    // its true-label probability falls as training fits the others
    val base = Seq(
      (1L, 1.0, 5.0, 0.0), (2L, 1.0, 5.0, 0.0), (3L, 1.0, 5.0, 0.0),
      (4L, 0.0, -5.0, 0.0), (5L, 0.0, -5.0, 0.0), (6L, 0.0, -5.0, 0.0),
      (7L, 0.0, 5.0, 0.0)) // mislabeled
      .toDF("doc_id", "y", "x1", "x2")
    val rows = ScoringQueries.cartographyOf(base).collect()
      .map(r => r.getAs[String]("region") ->
        (r.getAs[Long]("n_docs"), r.getAs[Double]("mean_conf"))).toMap
    val total = rows.values.map(_._1).sum
    assert(total == 7)
    assert(rows.contains("easy"), s"got $rows")
    assert(rows("easy")._1 == 6, s"got $rows")
    val other = (rows - "easy").values.headOption
    assert(other.exists(_._1 == 1), s"mislabeled doc must sit alone: $rows")
    assert(other.exists(_._2 < rows("easy")._2),
      "mislabeled doc's confidence must trail the aligned mass")
  }

  test("q339: independent table gives G = 0; dependent gives 2N·ln2") {
    import spark.implicits._
    def g(docs: Seq[(String, String)]): (Double, Long) = {
      val dir = fixtureDir()
      docs.zipWithIndex.map { case ((l, src), i) => (i.toLong, l, src) }
        .toDF("doc_id", "lang", "source")
        .write.parquet(s"$dir/documents.parquet")
      val r = QualityQueries.qGTest(spark, dir).head()
      (r.getAs[Double]("g_stat"), r.getAs[Long]("df"))
    }
    // perfect independence: every cell o = e ⇒ G = 0 exactly
    val ind = Seq(("en", "s1"), ("en", "s2"), ("de", "s1"), ("de", "s2"))
    assert(g(ind) == (0.0, 1L))
    // perfect association: o = 4 where e = 2 ⇒ G = 2·8·ln 2 = 11.0904
    val dep = Seq.fill(4)(("en", "s1")) ++ Seq.fill(4)(("de", "s2"))
    val (gd, dfd) = g(dep)
    assert(dfd == 1L)
    assert(math.abs(gd - math.floor(16.0 * math.log(2.0) * 1e4 + 0.5) / 1e4)
      < 1e-9, s"got $gd")
  }

  test("q340: triangle edges score 1, bridge excluded, square scores 0") {
    import spark.implicits._
    // triangle 1-2-3 with tail 3-4: the three triangle edges have
    // z = 1, min(deg) = 2 ⇒ C = 1; the bridge's min(deg) = 1 ⇒ excluded
    val tri = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L)).toDF("a", "b")
    val r1 = GraphQueries.edgeClusteringCore(tri).collect()
    assert(r1.length == 3)
    assert(r1.forall(_.getAs[Double]("c_edge") == 1.0))
    assert(r1.forall(_.getAs[Long]("z") == 1L))
    // 4-cycle: no triangles anywhere ⇒ every edge C = 0
    val sq = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L)).toDF("a", "b")
    val r2 = GraphQueries.edgeClusteringCore(sq).collect()
    assert(r2.length == 4)
    assert(r2.forall(_.getAs[Double]("c_edge") == 0.0))
  }

  test("q341: spread-heavy source flags, hand-computed BF statistic") {
    import spark.implicits._
    // A = {10,10,10} (zero spread), B = {0,10,40} (median 10, doubled
    // deviations {20,0,60}): by hand F = (6400/6)/((5600/3)/4) = 2.2857
    val dir = fixtureDir()
    (Seq((1L, "A", 10L), (2L, "A", 10L), (3L, "A", 10L),
      (4L, "B", 0L), (5L, "B", 10L), (6L, "B", 40L)))
      .toDF("doc_id", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val r = QualityQueries.qLeveneBf(spark, dir).head()
    assert(r.getAs[Double]("bf_stat") == 2.2857, r.toString)
    assert(r.getAs[Boolean]("flagged"))
  }

  test("q342: round-robin interleaving reads everything, range files 1") {
    import spark.implicits._
    // n_chars = 10·doc_id over ids 0..31: every round-robin file's
    // [10f, 10f+160] range overlaps every other (depth 16); value-range
    // buckets are disjoint intervals by construction (depth 1)
    val dir = fixtureDir()
    (0L until 32L).map(i => (i, i * 10L)).toDF("doc_id", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val rows = StorageQueries.qClusteringDepth(spark, dir).collect()
      .map(r => r.getAs[String]("layout") ->
        (r.getAs[Long]("n_files"), r.getAs[Double]("avg_depth"),
          r.getAs[Long]("max_depth"))).toMap
    assert(rows("round_robin") == ((16L, 16.0, 16L)), rows.toString)
    assert(rows("range_bucketed")._2 == 1.0 &&
      rows("range_bucketed")._3 == 1L, rows.toString)
  }

  test("q343: snake deal balances the crafted mass ladder") {
    import spark.implicits._
    // masses 70..10 over 7 sources: snake = 0,1,2,3,4 then 4,3 →
    // folds get 70 / 60 / 50 / 40+10 / 30+20
    val dir = fixtureDir()
    val docs = Seq(("s1", 70), ("s2", 60), ("s3", 50), ("s4", 40),
      ("s5", 30), ("s6", 20), ("s7", 10)).zipWithIndex.map {
      case ((src, k), i) =>
        (i.toLong, src, Seq.fill(k)("w").mkString(" "))
    }
    docs.toDF("doc_id", "source", "text")
      .write.parquet(s"$dir/documents.parquet")
    val rows = QualityQueries.qGroupedFolds(spark, dir).collect()
      .map(r => r.getAs[Long]("fold") -> r.getAs[Long]("tokens")).toMap
    assert(rows == Map(0L -> 70L, 1L -> 60L, 2L -> 50L,
      3L -> 50L, 4L -> 50L), rows.toString)
  }

  test("q344: real decode + area resize matches plain-Scala block means") {
    import spark.implicits._
    // PatA (3×4, v = 20·(4y+x)) resized 2×2 by hand: [10, 50, 130, 170]
    val png = graft.functions.MediaGen.grayPng(
      graft.operators.MultimodalQueries.PatA)
    val junk = "not an image".getBytes("UTF-8")
    val rows = graft.functions.Multimodal.thumbnail(
      Seq((1L, png), (2L, junk)).toDF("id", "media"), "media")
      .orderBy($"id").collect()
    val a = rows(0)
    assert(a.getInt(a.fieldIndex("img_w")) == 4)
    assert(a.getInt(a.fieldIndex("img_h")) == 3)
    assert(a.getSeq[Int](a.fieldIndex("thumb")) == Seq(10, 50, 130, 170))
    assert(rows(1).isNullAt(rows(1).fieldIndex("thumb")),
      "undecodable payload must null out, not throw")
    // a source smaller than the target repeats pixels, never crashes
    val one = graft.functions.Multimodal.thumbOf(Array(Array(7)), 2, 2)
    assert(one.toSeq == Seq(7, 7, 7, 7))
  }

  test("barrier stays local when the dir conf is unset") {
    import spark.implicits._
    // the default path must not touch any checkpoint dir (bench posture
    // unchanged): leaves are locally checkpointed, no checkpoint file
    val und = Seq((1L, 2L), (2L, 3L)).toDF("a", "b")
    val df = GraphQueries.starComponents(und)
    val rdds = df.queryExecution.analyzed.collectLeaves().collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
    }
    assert(rdds.nonEmpty)
    assert(rdds.forall(_.getCheckpointFile.isEmpty),
      "unset knob must keep executor-local barriers")
  }
}
