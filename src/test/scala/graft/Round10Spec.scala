package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators._

/** Pins for the round-10 fixes — the three queries the round-9
  * snapshot commit shipped broken/unverified (q287, q288, q289) and
  * the structural lineage guard the q285 blowup earned. Each test
  * fails on the pre-fix form, independent of the DuckDB oracle. */
class Round10Spec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sf = "/root/testdata/sf0.001"

  private def fixtureDir(): String =
    java.nio.file.Files.createTempDirectory("graft_r10_").toString

  /** A leaf is barrier-equivalent when it is (a) a LogicalRDD — the
    * localCheckpoint / reliable-checkpoint form — or (b) a parquet
    * read of a DurableStage output (a path under a graft-stage root):
    * both are MATERIALIZED frames whose lineage cannot reach the
    * corpus scan, so neither can re-evaluate a round exponentially.
    * Raw corpus file relations stay rejected (round-16 verdict #1:
    * the invariant must admit the stage read, not every file leaf). */
  private def nonBarrierLeaves(df: org.apache.spark.sql.DataFrame)
      : Seq[org.apache.spark.sql.catalyst.plans.logical.LogicalPlan] =
    df.queryExecution.analyzed.collectLeaves().filterNot { l =>
      l.getClass.getSimpleName == "LogicalRDD" || (l match {
        case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          r.relation match {
            case f: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
              f.location.rootPaths.nonEmpty &&
                f.location.rootPaths.forall(_.toString.contains("graft-stage"))
            case _ => false
          }
        case _ => false
      })
    }

  test("q285: doubling rounds end in a checkpoint barrier") {
    // The r9 form never truncated lineage, so round d re-evaluated
    // the base scan O(5^d)× — 313 s at sf0.1 for one query. The
    // built rank frame's plan must bottom out in LogicalRDD leaves
    // (the last round's localCheckpoint), never reach the parquet
    // scan: any reachable file relation means an untruncated round.
    val df = DedupQueries.buildSuffixRanks(spark, sf)
    assert(df.queryExecution.analyzed.collectLeaves().nonEmpty)
    val bad = nonBarrierLeaves(df)
    assert(bad.isEmpty,
      "iterative build must be lineage-truncated per round, got " +
        bad.map(_.getClass.getSimpleName).distinct.mkString(","))
  }

  test("every iterative core ends its rounds in a checkpoint barrier") {
    // The generalized form of the q285 guard: any operator built by a
    // driver-side loop must bottom out in LogicalRDD leaves — if ANY
    // leaf is still a file relation, some round's lineage reaches the
    // scan and the plan re-evaluates it exponentially in round count
    // (the exact failure mode q285 shipped with in round 9). Run the
    // check against every iterative core in the repo so the next
    // uncheckpointed loop fails at build time, not in the bench.
    // Both barrier flavors (localCheckpoint, and the reliable
    // checkpoint() that graft.checkpoint.dir switches on — Barrier
    // .roundBarrier, Round12Spec) bottom out in a LogicalRDD leaf, so
    // this guard accepts either.
    import spark.implicits._
    val und = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L))
      .toDF("a", "b").localCheckpoint()
    val cores = Seq[(String, org.apache.spark.sql.DataFrame)](
      "starComponents" -> GraphQueries.starComponents(und),
      "lpaLabels" -> GraphQueries.lpaLabels(und),
      "bfsDistances" -> GraphQueries.bfsDistances(und),
      "pagerankWith" -> GraphQueries.pagerankWith(spark, sf, 3, Some(true)),
      "suffixRanks" -> DedupQueries.buildSuffixRanks(spark, sf),
      "ccLabels" -> DedupQueries.qDupClusters(spark, sf),
      "hitsCore" -> GraphQueries.hitsCore(
        und.select($"a".as("src"), $"b".as("dst")), 3, Some(true)),
      "logregCore" -> ScoringQueries.logregCore(
        Seq((1.0, 0.1, 0.2), (0.0, 0.3, 0.4)).toDF("y", "x1", "x2")),
      "pprCore" -> GraphQueries.pprCore(
        Seq((1L, 2L, 2.0), (2L, 3L, 1.0)).toDF("src", "dst", "w")))
    for ((name, df) <- cores) {
      assert(df.queryExecution.analyzed.collectLeaves().nonEmpty, name)
      val bad = nonBarrierLeaves(df)
      assert(bad.isEmpty,
        s"$name: iterative lineage reaches non-checkpoint leaves " +
          bad.map(_.getClass.getSimpleName).distinct.mkString(","))
    }
  }

  test("barrier guard still rejects raw corpus scans") {
    // The complement of the stage-leaf admission above: a plain
    // parquet read of the corpus (exactly what an uncheckpointed
    // iterative round's lineage bottoms out in) must keep tripping
    // the invariant — only LogicalRDD and graft-stage reads pass.
    val raw = spark.read.parquet(s"$sf/documents.parquet")
    assert(nonBarrierLeaves(raw).nonEmpty,
      "a raw corpus file relation must not count as a barrier leaf")
  }

  test("q287: keeper survives, non-keepers merge into islands") {
    import spark.implicits._
    // One 16-token span S planted in three docs: doc1 mid-text (the
    // lexicographic-min occurrence at (1,5) ⇒ keeper), doc2 at pos 1,
    // doc3 TWICE (pos 1 and pos 21 — gap > window ⇒ two islands).
    // All filler tokens are unique so S's window is the only repeat.
    val dir = fixtureDir()
    val S = (1 to 16).map(i => s"s$i")
    val d1 = (Seq("u1", "u2", "u3", "u4") ++ S ++ Seq("u5")).mkString(" ")
    val d2 = (S ++ Seq("v1", "v2")).mkString(" ")
    val d3 = (S ++ Seq("w1", "w2", "w3", "w4") ++ S ++ Seq("w5"))
      .mkString(" ")
    Seq((1L, d1), (2L, d2), (3L, d3)).toDF("doc_id", "text")
      .write.parquet(s"$dir/documents.parquet")
    val rows = DedupQueries.qExactSpanPlan(spark, dir).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("rm_start"),
        r.getAs[Long]("rm_end"), r.getAs[Long]("rm_tokens"))).toSeq
    assert(rows == Seq((2L, 1L, 16L, 16L), (3L, 1L, 16L, 16L),
      (3L, 21L, 36L, 16L)),
      s"keeper (1,5) must survive and doc3's two copies must stay " +
        s"separate islands, got $rows")
  }

  test("q290: surgery cuts exactly the planned islands") {
    import spark.implicits._
    // Same plant as the q287 fixture: keeper doc1 unchanged; doc2
    // loses its whole copy (only fillers survive); doc3 loses both
    // copies but keeps the 4-token gap and trailing filler. The md5s
    // are computed here from first principles, so the test pins the
    // SURGERY (positional cut + single-space rejoin), not just the
    // island plan the q287 test already covers.
    val dir = fixtureDir()
    val S = (1 to 16).map(i => s"s$i")
    val d1 = (Seq("u1", "u2", "u3", "u4") ++ S ++ Seq("u5")).mkString(" ")
    val d2 = (S ++ Seq("v1", "v2")).mkString(" ")
    val d3 = (S ++ Seq("w1", "w2", "w3", "w4") ++ S ++ Seq("w5"))
      .mkString(" ")
    Seq((1L, d1), (2L, d2), (3L, d3)).toDF("doc_id", "text")
      .write.parquet(s"$dir/documents.parquet")
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val rows = DedupQueries.qExactSpanRewrite(spark, dir).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_tok"),
        r.getAs[Long]("n_removed"), r.getAs[String]("new_md5"))).toSeq
    assert(rows == Seq(
      (1L, 21L, 0L, md5hex(d1)),
      (2L, 18L, 16L, md5hex("v1 v2")),
      (3L, 37L, 32L, md5hex("w1 w2 w3 w4 w5"))),
      s"got $rows")
  }

  test("q288: skewed group exceeds t, balanced group does not") {
    import spark.implicits._
    // Global lang marginal 50/50 (4 en + 4 de). Source "a" is all-en
    // ⇒ TV = ½(|1−.5| + |0−.5|) = 0.5 > 0.2 — the skewness attack a
    // diverse-looking group still leaks. Source "b" is 2 en + 4 de ⇒
    // TV = ½(2·1/6) = 0.1667, under the gate. The absent-language
    // q/2 term is load-bearing for "a": dropping it (inner join)
    // would halve its score to 0.25.
    val dir = fixtureDir()
    val docs =
      (1L to 2L).map(i => (i, "a", "en", 10L)) ++
      (3L to 4L).map(i => (i, "b", "en", 10L)) ++
      (5L to 8L).map(i => (i, "b", "de", 10L))
    docs.toDF("doc_id", "source", "lang", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val rows = QualityQueries.qTCloseness(spark, dir).collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Double]("t_emd"),
        r.getAs[Boolean]("exceeds"))).toSeq
    assert(rows == Seq(("a", 0.5, true), ("b", 0.1667, false)),
      s"got $rows")
  }

  test("TopKRows column API: rank order, ties, under-k corpus") {
    import spark.implicits._
    val df = Seq((1L, 5L), (2L, 9L), (3L, 5L), (4L, 7L)).toDF("id", "v")
    def top(d: org.apache.spark.sql.DataFrame, k: Int) =
      d.agg(graft.plans.TopKRows.topKRows(k,
          org.apache.spark.sql.functions.struct($"id", $"v"),
          ($"v", true), ($"id", false)).as("a"))
        .select($"a").head().getSeq[org.apache.spark.sql.Row](0)
        .map(r => (r.getAs[Long]("id"), r.getAs[Long]("v")))
    // desc on v, tie (1,5)/(3,5) broken by id asc — ranks match a
    // row_number() twin over (v desc, id asc)
    assert(top(df, 3) == Seq((2L, 9L), (4L, 7L), (1L, 5L)))
    // k larger than the corpus: every row, still rank-ordered
    assert(top(df, 10) ==
      Seq((2L, 9L), (4L, 7L), (1L, 5L), (3L, 5L)))
  }

  test("q252/q266: no corpus-sized global window survives") {
    // q266: the whole top-51 read is ONE heap aggregate — no Window
    // at all (the round-8 form's `rk = k+1` branch dodged the heap
    // rewrite and kept a full-corpus row_number window alive).
    val p266 = QualityQueries.qHillTail(spark, sf)
      .queryExecution.optimizedPlan.toString
    assert(!p266.contains("Window "), s"window survived:\n$p266")
    assert(p266.contains("top_k_rows"))
    // q252: the heap cut runs FIRST; the only surviving global window
    // is the 30-row cumulative-mass frame.
    val qe252 = ScoringQueries.qNegSampling(spark, sf).queryExecution
    val wins = qe252.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window
          if w.partitionSpec.isEmpty => w
    }
    assert(wins.size == 1,
      s"expected exactly the 30-row frame window, got ${wins.size}")
    assert(qe252.optimizedPlan.toString.contains("top_k_rows"),
      "vocab top-30 cut must heap-rewrite")
  }

  test("q289: recovers a planted dominant direction") {
    import spark.implicits._
    // Variance 9 on dim 1, 0.01 on dim 2, zero elsewhere and zero
    // cross-covariance: the top component is e₁ with eigenvalue 9
    // and share 9/9.01. Power iteration starts uniform-positive, so
    // the recovered loading keeps the +e₁ sign.
    val dir = fixtureDir()
    def vec(a: Float, b: Float): Array[Float] =
      Array(a, b) ++ Array.fill(62)(0.0f)
    Seq((1L, vec(3f, 0.1f)), (2L, vec(-3f, -0.1f)),
        (3L, vec(3f, -0.1f)), (4L, vec(-3f, 0.1f)))
      .toDF("vec_id", "embedding")
      .write.parquet(s"$dir/embeddings.parquet")
    val rows = SimilarityQueries.qPcaTopComponent(spark, dir).collect()
    assert(rows.length == 64)
    val byDim = rows.map(r => r.getAs[Long]("dim") -> r).toMap
    assert(byDim(1L).getAs[Double]("loading") > 0.99,
      s"dim-1 loading must carry the component, got " +
        s"${byDim(1L).getAs[Double]("loading")}")
    assert(math.abs(byDim(1L).getAs[Double]("eigval") - 9.0) < 1e-3)
    assert(math.abs(byDim(1L).getAs[Double]("var_share") - 9.0 / 9.01)
      < 1e-3)
    assert(math.abs(byDim(1L).getAs[Double]("mean_val")) < 1e-9)
  }

  test("q289: degenerate corpora stay finite") {
    import spark.implicits._
    // Empty table (post nonzero-norm filter) → empty result, not a
    // NoSuchElementException on the moment map.
    val dEmpty = fixtureDir()
    Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
      .write.parquet(s"$dEmpty/embeddings.parquet")
    assert(SimilarityQueries.qPcaTopComponent(spark, dEmpty).count() == 0L)
    // All-constant vectors → zero covariance, zero trace: share is 0
    // (never 0/0 = NaN) and every output stays finite.
    val dConst = fixtureDir()
    (1L to 3L).map(i => (i, Array.fill(64)(1.0f)))
      .toDF("vec_id", "embedding")
      .write.parquet(s"$dConst/embeddings.parquet")
    val rows = SimilarityQueries.qPcaTopComponent(spark, dConst).collect()
    assert(rows.length == 64)
    rows.foreach { r =>
      val (l, e, vs) = (r.getAs[Double]("loading"),
        r.getAs[Double]("eigval"), r.getAs[Double]("var_share"))
      assert(!l.isNaN && !e.isNaN && !vs.isNaN)
      assert(vs == 0.0 && e == 0.0)
      assert(l == 0.125, "zero-norm iterate must keep the start vector")
      assert(r.getAs[Double]("mean_val") == 1.0)
    }
  }
}
