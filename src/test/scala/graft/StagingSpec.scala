package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

import graft.Barrier._
import graft.operators.{DurableStage, SessionCache}

/** Pins for the one staging cache: staged frames, durable-stage reads
  * and fitted artifacts all live in `SessionCache`, keyed on (session,
  * stage name, dir); `releaseAll` drops them all, and deleting a stage
  * directory drops its memo. */
class StagingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sf = "/root/testdata/sf0.001"
  private val docs = Seq(sf + "/documents.parquet")

  /** Spark jobs started by `body`. Listener events arrive in order, so
    * once a marker job run after `body` is seen, all of body's are. */
  private def jobsIn(body: => Unit): Int = {
    val sc = spark.sparkContext
    val marker = "staging-spec-" + System.nanoTime()
    val (jobs, seen) = (new AtomicInteger, new CountDownLatch(1))
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).map(_.getProperty("spark.job.description"))
            .contains(marker)) seen.countDown()
        else jobs.incrementAndGet()
    }
    sc.addSparkListener(l)
    try {
      body
      sc.setJobDescription(marker)
      try spark.range(1).count() finally sc.setJobDescription(null)
      assert(seen.await(60, TimeUnit.SECONDS), "marker job never seen")
      jobs.get
    } finally sc.removeSparkListener(l)
  }

  test("releaseAll drops the fitted artifacts: a rebuild refits") {
    val s = spark.newSession()
    for (q <- Seq("q42b_ivf_kmeans", "q137_bpe_fit", "q370_unigram_fit")) {
      val build = SparkEntry.queries(q)
      build(s, sf)
      val warm = jobsIn(build(s, sf))
      SessionCache.releaseAll(s)
      val refit = jobsIn(build(s, sf))
      assert(refit > warm, s"$q: $refit jobs after release vs $warm warm")
    }
    SessionCache.releaseAll(s)
  }

  test("a swept stage drops its memo: salt A, salt B, salt A rebuilds") {
    val name = "stagingsweep" + System.nanoTime()
    var builds = 0
    def read(salt: String, n: Int): Seq[Long] =
      DurableStage.get(spark, name, 1, docs, salt) {
        builds += 1
        spark.range(n).toDF("x")
      }.collect().map(_.getLong(0)).sorted.toSeq
    assert(read("A", 3) == (0L until 3L) && read("A", 3) == (0L until 3L))
    assert(builds == 1, "a memo hit must not rebuild")
    assert(read("B", 5) == (0L until 5L)) // deletes A's directory
    assert(read("A", 3) == (0L until 3L) && builds == 3)
  }

  test("two stage names on one (session, dir) keep their own frames") {
    val dir = "staging-spec-" + System.nanoTime()
    val a = SessionCache.get(spark, "spec_a", dir)(spark.range(2).toDF("x"))
    val b = SessionCache.get(spark, "spec_b", dir)(spark.range(7).toDF("x"))
    assert(a.count() == 2 && b.count() == 7)
    assert(SessionCache.get(spark, "spec_a", dir)(fail("rebuilt")) eq a)
  }

  test("nested builds publish; concurrent callers share one build") {
    val s = spark.newSession()
    val builds = new AtomicInteger
    def outer(): Int = SessionCache.value(s, "spec_outer", "d") {
      builds.incrementAndGet()
      Thread.sleep(50)
      SessionCache.value(s, "spec_inner", "d")(builds.incrementAndGet()) + 1
    }
    val pool = Executors.newFixedThreadPool(4)
    try {
      val got = (1 to 8).map(_ => pool.submit(() => outer()))
      assert(got.map(_.get(60, TimeUnit.SECONDS)).forall(_ == 3))
      assert(builds.get == 2, "one build per key")
    } finally pool.shutdown()
    SessionCache.releaseAll(s)
  }

  test("clearAll under a checkpoint dir keeps the barrier checkpoints") {
    val dir = Files.createTempDirectory("graft_stage_ckpt_")
    val s = spark.newSession()
    s.conf.set(Barrier.DirConf, dir.toString)
    s.range(5).toDF("x").roundBarrier().collect()
    val name = "stagingckpt" + System.nanoTime()
    DurableStage.get(s, name, 1, docs)(s.range(3).toDF("x")).collect()
    def files(p: Path): Seq[Path] = if (!Files.exists(p)) Nil else {
      val st = Files.walk(p)
      try st.iterator().asScala.filter(Files.isRegularFile(_)).toList
      finally st.close()
    }
    val stageRoot = dir.resolve("graft-stage")
    val checkpoints = files(dir).filterNot(_.startsWith(stageRoot))
    assert(checkpoints.nonEmpty, "the barrier must checkpoint under dir")
    assert(files(stageRoot).exists(_.toString.contains(name)))
    DurableStage.clearAll(s)
    assert(checkpoints.forall(Files.exists(_)),
      "clearAll must keep the barrier checkpoints")
    assert(!files(dir).exists(_.toString.contains(name)),
      "clearAll must delete the stage")
    SessionCache.releaseAll(s)
  }
}
