package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.SimilarityQueries
import graft.plans.{TopKAggregate, TopKBuffer}

class TopKAggSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sf = "/root/testdata/sf0.001"

  test("buffer: keeps k best, ties broken by lowest id, eviction correct") {
    val b = new TopKBuffer(3)
    Seq((0.5, 10L), (0.9, 2L), (0.5, 3L), (0.7, 7L), (0.9, 1L))
      .foreach { case (s, i) => b.insert(s, i) }
    // best three: (0.9,1), (0.9,2), (0.7,7) — (0.5,*) evicted
    assert(b.sortedDesc == Seq((0.9, 1L), (0.9, 2L), (0.7, 7L)))
  }

  test("buffer merge == inserting everything into one buffer") {
    val a = new TopKBuffer(4); val b = new TopKBuffer(4); val c = new TopKBuffer(4)
    val rnd = new scala.util.Random(1)
    val data = Seq.fill(50)((rnd.nextDouble(), rnd.nextLong().abs))
    data.take(25).foreach { case (s, i) => a.insert(s, i) }
    data.drop(25).foreach { case (s, i) => b.insert(s, i) }
    data.foreach { case (s, i) => c.insert(s, i) }
    a.mergeFrom(b)
    assert(a.sortedDesc == c.sortedDesc)
  }

  test("q43 (heap aggregate) produces exactly q40's (window) rows") {
    import spark.implicits._
    val win = SimilarityQueries.qCosineTopk(spark, sf)
      .as[(Long, Int, Long, Double)].collect().toSeq
    val agg = SimilarityQueries.qTopkAggregate(spark, sf)
      .as[(Long, Int, Long, Double)].collect().toSeq
    assert(agg == win)
  }

  test("aggregate plans as ObjectHashAggregate with a partial stage") {
    val df = SimilarityQueries.qTopkAggregate(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("ObjectHashAggregate"),
      "TypedImperativeAggregate should use object hash aggregation")
  }

  test("works as a plain grouped aggregate on any frame") {
    import spark.implicits._
    val df = Seq(("a", 1.0, 1L), ("a", 3.0, 2L), ("a", 2.0, 3L), ("b", 5.0, 9L))
      .toDF("g", "s", "i")
    val got = df.groupBy($"g")
      .agg(TopKAggregate.topKBy($"s", $"i", 2).as("top"))
      .select($"g", expr("transform(top, t -> t.id)").as("ids"))
      .orderBy($"g")
      .as[(String, Seq[Long])].collect().toSeq
    assert(got == Seq("a" -> Seq(2L, 3L), "b" -> Seq(9L)))
  }
}
