package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.DurableStage

/** Pins for the round-17 optimization work: durable-stage hygiene
  * (round-16 verdict #5/#7 — the stage root must not grow without
  * bound across corpus/salt/version bumps) and the bench honesty hook
  * (verdict #2 — clearAll empties the root so a bench pass pays stage
  * builds instead of reading cross-run precomputation). */
class Round17Spec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sf = "/root/testdata/sf0.001"

  private def stageRoot: java.io.File =
    new java.io.File(graft.Barrier.checkpointDir(spark)
      .getOrElse(sys.props("java.io.tmpdir")).stripSuffix("/") +
      "/graft-stage")
  private def dirsNamed(name: String): Seq[String] =
    Option(stageRoot.list()).map(_.toSeq).getOrElse(Nil)
      .filter(_.startsWith(name + "_v"))

  test("stale sibling stages of the same name are swept on resolve") {
    val in = Seq(sf + "/documents.parquet")
    val name = "r17sweep" + System.nanoTime()
    def build() = spark.range(3).toDF("x")
    // salt A lands one dir; salt B (a changed logic constant) must
    // land on a NEW path and remove A's — one live (version,
    // signature) per stage name, so the root stays bounded across
    // corpus/salt/version bumps instead of accumulating every
    // signature ever seen.
    DurableStage.get(spark, name, 1, in, "saltA")(build()).collect()
    assert(dirsNamed(name).size == 1)
    val a = dirsNamed(name).head
    DurableStage.get(spark, name, 1, in, "saltB")(build()).collect()
    val after = dirsNamed(name)
    assert(after.size == 1, s"stale sibling must be swept, got $after")
    assert(after.head != a, "the live dir must be salt B's")
    // a version bump sweeps the old version the same way
    DurableStage.get(spark, name, 2, in, "saltB")(build()).collect()
    val v2 = dirsNamed(name)
    assert(v2.size == 1 && v2.head.startsWith(name + "_v2_"))
  }

  test("sweep never touches other stage names") {
    val in = Seq(sf + "/documents.parquet")
    val tag = System.nanoTime()
    val other = "r17keep" + tag
    val mine = "r17mine" + tag
    DurableStage.get(spark, other, 1, in, "s")(
      spark.range(2).toDF("x")).collect()
    DurableStage.get(spark, mine, 1, in, "s1")(
      spark.range(2).toDF("x")).collect()
    DurableStage.get(spark, mine, 1, in, "s2")(
      spark.range(2).toDF("x")).collect()
    assert(dirsNamed(other).size == 1,
      "a foreign stage name must survive another name's sweep")
  }

  test("oracle band-width CASE replays bandBits(n) across the lattice") {
    // The 11 banded-LSH replays derive band width from a corpus-count
    // CTE (round-16 verdict #4). Parse the generated CASE back into
    // (threshold, b) pairs and evaluate it against the Scala rule at
    // every boundary n (each threshold, ±1, plus extremes): the SQL
    // spelling and bandBits must agree everywhere, not only at the
    // oracle-checked scales where both read 4.
    val sql = graft.operators.SimilarityQueries.bandBitsCaseSql
    val Arm = """WHEN n <= (\d+) THEN (\d+)""".r
    val arms = Arm.findAllMatchIn(sql)
      .map(m => (m.group(1).toLong, m.group(2).toInt)).toList
    assert(arms.nonEmpty && sql.contains("ELSE 15"))
    def sqlRule(n: Long): Int =
      arms.collectFirst { case (t, b) if n <= t => b }.getOrElse(15)
    val probes = arms.flatMap { case (t, _) => Seq(t - 1, t, t + 1) } ++
      Seq(0L, 1L, 1000L, 20000L, 1000000L, Long.MaxValue / 4)
    for (n <- probes)
      assert(sqlRule(n) == graft.operators.SimilarityQueries.bandBits(n),
        s"band rule diverges at n=$n")
  }

  test("clearAll empties the stage root; next consumer rebuilds") {
    val in = Seq(sf + "/documents.parquet")
    val name = "r17clear" + System.nanoTime()
    var builds = 0
    def build() = { builds += 1; spark.range(4).toDF("x") }
    DurableStage.get(spark, name, 1, in, "s")(build()).collect()
    assert(builds == 1)
    DurableStage.clearAll(spark)
    assert(dirsNamed(name).isEmpty, "clearAll must remove every stage")
    val r = DurableStage.get(spark, name, 1, in, "s")(build())
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(builds == 2, "post-clear consumer must pay the build")
    assert(r == (0L until 4L))
  }
}
