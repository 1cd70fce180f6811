package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import graft.plans.TopKByFrequency

/** The in-row top-k-by-frequency expression: count desc, then the
  * element in Catalyst's ascending order (null first), both through
  * generated code and interpreted. */
class TopKByFrequencySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** Generated-code path: a projection over an RDD-backed frame (a
    * local Seq would be folded into a LocalRelation by the optimizer and
    * evaluated interpreted). */
  private def viaCodegen(xs: Seq[String], k: Int): Seq[String] = {
    import spark.implicits._
    spark.createDataFrame(spark.sparkContext.parallelize(Seq(Tuple1(xs)), 1))
      .toDF("xs")
      .select(TopKByFrequency.col($"xs", k)).as[Seq[String]].head()
  }

  /** Interpreted path: `eval` on a literal array. */
  private def viaEval(xs: Seq[String], k: Int): Seq[String] = {
    val out = TopKByFrequency(
      Literal.create(xs, ArrayType(StringType)), k).eval()
    if (out == null) null
    else out.asInstanceOf[ArrayData].toSeq[UTF8String](StringType)
      .map(u => if (u == null) null else u.toString)
  }

  private def both(xs: Seq[String], k: Int): Seq[String] = {
    val g = viaCodegen(xs, k)
    assert(g == viaEval(xs, k), s"codegen and eval disagree on $xs")
    g
  }

  test("count desc, ties in ascending element order") {
    assert(both(Seq("b", "a", "c", "a", "b"), 2) == Seq("a", "b"))
    assert(both(Seq("b", "a", "c", "a", "b"), 3) == Seq("a", "b", "c"))
    assert(both(Seq("z", "y", "z", "x", "z", "y"), 3) == Seq("z", "y", "x"))
    assert(both(Seq("q", "p"), 1) == Seq("p"))
    assert(both(Seq("a", "b"), 0) == Seq())
  }

  test("k larger than the number of distinct elements returns them all") {
    assert(both(Seq("x", "y", "x"), 10) == Seq("x", "y"))
  }

  test("empty array gives empty, null array gives null") {
    assert(both(Seq(), 5) == Seq())
    import spark.implicits._
    val n = Seq(Tuple1(null.asInstanceOf[Seq[String]])).toDF("xs")
      .select(TopKByFrequency.col($"xs", 5)).head()
    assert(n.isNullAt(0))
    assert(TopKByFrequency(Literal.create(null, ArrayType(StringType)), 5)
      .eval() == null)
  }

  test("null elements count as one value and sort first on ties") {
    assert(both(Seq(null, "a", null, "b", "a"), 3) == Seq(null, "a", "b"))
    assert(both(Seq("a", null, "a"), 2) == Seq("a", null))
  }

  test("ties follow UTF-8 byte order, not UTF-16 order") {
    // U+FF61 is EF BD A1 in UTF-8 and 0xFF61 in UTF-16; U+1F600 is
    // F0 9F 98 80 in UTF-8 and the surrogate 0xD83D... in UTF-16, so the
    // two encodings order them oppositely. Catalyst (and DuckDB) compare
    // UTF-8 bytes.
    val half = "｡"
    val grin = "😀"
    assert(grin.compareTo(half) < 0) // java.lang.String: UTF-16 order
    assert(both(Seq(grin, half), 2) == Seq(half, grin))
    assert(both(Seq(half, grin), 1) == Seq(half))
  }

  test("struct elements: ties ordered field by field") {
    import spark.implicits._
    val pairs = Seq(Tuple1(Seq(("b", "c"), ("a", "z"), ("b", "c"), ("a", "y"),
      ("a", "z")))).toDF("ps")
    val got = pairs.select(TopKByFrequency.col($"ps", 3))
      .as[Seq[(String, String)]].head()
    assert(got == Seq(("a", "z"), ("b", "c"), ("a", "y")))
  }

  test("equals the explode → groupBy → window shape it replaces") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val words = Seq("a", "b", "c", "d", "e", "ab", "ba", "é", "｡")
    val docs = (1 to 40).map(i =>
      (i, Seq.fill(rnd.nextInt(30))(words(rnd.nextInt(words.length)))))
      .toDF("id", "xs")
    val inRow = docs.select($"id", TopKByFrequency.col($"xs", 4).as("top"))
    val w = Window.partitionBy($"id").orderBy($"c".desc, $"t".asc)
    val shuffled = docs.select($"id", explode($"xs").as("t"))
      .groupBy($"id", $"t").agg(count(lit(1)).as("c"))
      .withColumn("rk", row_number().over(w)).filter($"rk" <= 4)
      .groupBy($"id").agg(transform(array_sort(collect_list(
        struct($"rk", $"t"))), p => p.getField("t")).as("top"))
    val got = inRow.filter(size($"top") > 0).orderBy($"id")
      .as[(Int, Seq[String])].collect().toSeq
    val want = shuffled.orderBy($"id").as[(Int, Seq[String])].collect().toSeq
    assert(got == want)
  }

  test("non-orderable elements and negative k are rejected at analysis") {
    import spark.implicits._
    val maps = Seq(Tuple1(Seq(Map("a" -> 1)))).toDF("ms")
    intercept[org.apache.spark.sql.AnalysisException] {
      maps.select(TopKByFrequency.col($"ms", 1)).collect()
    }
    intercept[org.apache.spark.sql.AnalysisException] {
      Seq(Tuple1(Seq("a"))).toDF("xs")
        .select(TopKByFrequency.col($"xs", -1)).collect()
    }
  }
}
