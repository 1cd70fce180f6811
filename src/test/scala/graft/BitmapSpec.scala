package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.plans.{BitmapBuffer, BitmapFunctions}

/** bitmap_agg: OR-merge commutativity makes the word array itself
  * partitioning-invariant (stronger than a sketch's guarantee — the
  * VALUE is deterministic, not just derived facts), popcounts equal
  * exact distincts, and the canonical form strips trailing zeros so
  * equal sets compare equal. */
class BitmapSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sf = "/root/testdata/sf0.001"

  private def events = spark.read.parquet(s"$sf/events.parquet")

  test("bitmap is bit-identical across partitionings; popcount = exact distinct") {
    import spark.implicits._
    def bm(parts: Int): Map[String, Seq[Long]] =
      events.repartition(parts)
        .groupBy($"event_type")
        .agg(BitmapFunctions.bitmapAgg($"user_id").as("bm"))
        .as[(String, Seq[Long])].collect().toMap
    val one = bm(1)
    val many = bm(32)
    assert(one == many, "OR-merge must make partitioning unobservable")
    val exact = events.select($"event_type", $"user_id").distinct()
      .groupBy($"event_type").count()
      .as[(String, Long)].collect().toMap
    one.foreach { case (t, words) =>
      val pop = words.map(java.lang.Long.bitCount(_).toLong).sum
      assert(pop == exact(t), s"popcount mismatch for $t")
    }
  }

  test("canonical form: trailing zero words stripped, sets round-trip") {
    val b = new BitmapBuffer()
    b.add(0); b.add(63); b.add(64); b.add(1000)
    val c = b.canonical
    assert(c.length == 16) // word 15 holds bit 1000
    assert(java.lang.Long.bitCount(c(0)) == 2)
    val b2 = new BitmapBuffer()
    b2.add(1000)
    b2.orFrom(b)
    assert(b2.canonical.toSeq == c.toSeq)
  }

}
