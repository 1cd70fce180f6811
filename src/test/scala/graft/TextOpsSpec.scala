package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.TextOps

object TestSpark {
  lazy val spark: SparkSession = GraftSession.local(4)
}

class TextOpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def clean(s: String): String =
    Seq(s).toDF("t").select(TextOps.cleanText($"t")).as[String].head()

  test("cleanText: lowercase, bracket spans, punctuation, digit-words — reference order") {
    // reference: reddit_consumer.py:58-64
    assert(clean("Hello World") == "hello world")
    assert(clean("keep [drop me] keep") == "keep  keep")
    assert(clean("it's a test!") == "its a test")
    assert(clean("abc123def xyz 42") == " xyz ")
    // bracket strip happens before punctuation strip: '[' left by a
    // malformed span is then removed as punctuation
    assert(clean("a [unclosed") == "a unclosed")
  }

  test("BPE merge stats: exact pair-count replay on the corpus vocabulary") {
    val sf = "/root/testdata/sf0.001"
    val got = graft.operators.TextQueries.qBpeMergeStats(spark, sf)
      .select($"pair", $"n", $"rk").as[(String, Long, Int)].collect().toSeq
    assert(got.length == 20 && got.map(_._3) == (1 to 20))
    val words = spark.read.parquet(s"$sf/documents.parquet")
      .select($"text").as[String].collect()
      .flatMap(_.split(" ")).filter(_.length >= 2)
      .groupBy(identity).view.mapValues(_.length.toLong)
    val counts = collection.mutable.Map.empty[String, Long]
    words.foreach { case (w, freq) =>
      w.sliding(2).foreach(p => counts(p) = counts.getOrElse(p, 0L) + freq)
    }
    val exp = counts.toSeq.sortBy { case (p, n) => (-n, p) }.take(20)
      .zipWithIndex.map { case ((p, n), i) => (p, n, i + 1) }
    assert(got == exp, s"top-20 merge pairs diverge: got=${got.take(3)} exp=${exp.take(3)}")
  }

  test("BPE apply: ordered, boundary-safe, left-to-right non-overlapping") {
    def enc(w: String, merges: Seq[(String, String)]): Seq[String] =
      Seq(w).toDF("w")
        .select(graft.operators.TextQueries.bpeApply($"w", merges))
        .as[Seq[String]].head()
    // no merges: pure symbol split
    assert(enc("abc", Nil) == Seq("a", "b", "c"))
    // one merge, every adjacent occurrence
    assert(enc("abab", Seq(("a", "b"))) == Seq("ab", "ab"))
    // left-to-right non-overlap: "aaa" -> [aa, a], never [a, aa]
    assert(enc("aaa", Seq(("a", "a"))) == Seq("aa", "a"))
    // boundary safety: after "ab" merges, the later "bc" merge must NOT
    // match the b inside the merged token
    assert(enc("abc", Seq(("a", "b"), ("b", "c"))) == Seq("ab", "c"))
    // merge ORDER matters: reversed ranks flip the outcome
    assert(enc("abc", Seq(("b", "c"), ("a", "b"))) == Seq("a", "bc"))
    // multi-char sides: a later merge can consume an earlier merge's token
    assert(enc("the", Seq(("t", "h"), ("th", "e"))) == Seq("the"))
  }

  test("sequential BPE fit: merge #2 sees merge #1's token (differs from simultaneous top-k)") {
    // Vocab crafted so the two strategies diverge at rank 2:
    //   pairs at iter 1: (a,a) 2*3=6, (a,b) 2 -> merge 1 = (a,a)
    //   after merging, "aaa" -> [aa, a], so iter 2 counts (aa,a) 3 vs
    //   (a,b) 2 -> merge 2 = (aa,a) = "aaa".
    // Simultaneous top-2 from iteration-1 stats would be [aa, ab]:
    // "aaa" can NEVER appear because (aa,a) does not exist at iter 1.
    val vocab = Seq(("aaa", 3L), ("ab", 2L)).toDF("w", "freq")
    val got = graft.operators.TextQueries.bpeFitSeq(vocab, 2)
    assert(got == Seq((1, "a", "a", 6L), (2, "aa", "a", 3L)),
      s"sequential fit diverged from hand replay: $got")
    val simultaneousTop2 = Seq("aa", "ab") // iteration-1 stats only
    assert(got.map(t => t._2 + t._3)(1) != simultaneousTop2(1),
      "fixture failed to separate sequential from simultaneous fit")
    // fit stops early when no pairs remain (fully merged vocab)
    val tiny = Seq(("ab", 1L)).toDF("w", "freq")
    assert(graft.operators.TextQueries.bpeFitSeq(tiny, 5) ==
      Seq((1, "a", "b", 1L)))
  }

  test("cleanText is idempotent") {
    val fixtures = Seq("Hello, World! [x] a1b", "", "plain text", "[][]()")
    fixtures.foreach { f => assert(clean(clean(f)) == clean(f)) }
  }

  test("dropStopwords keeps order, duplicates, and empty tokens") {
    val got = Seq("the spark a spark  engine").toDF("t")
      .select(TextOps.dropStopwords(TextOps.tokenize($"t")))
      .as[Seq[String]].head()
    // "the"/"a" dropped; double space yields an empty token that survives
    // (Python `split(" ")` semantics, reddit_consumer.py:146)
    assert(got == Seq("spark", "spark", "", "engine"))
  }

  test("adjacentBigrams canonicalizes pairs like Python tuple compare") {
    // reference pairwise (reddit_consumer.py:67-71): (a,b) if a<b else (b,a)
    val got = Seq(Seq("b", "a", "b", "a")).toDF("toks")
      .select(TextOps.adjacentBigrams($"toks").as("p"))
      .selectExpr("transform(p, x -> concat(x.a, '|', x.b))")
      .as[Seq[String]].head()
    assert(got == Seq("a|b", "a|b", "a|b"))
  }

  test("adjacentBigrams: self-pairs and short inputs") {
    def pairs(ts: Seq[String]) =
      Seq(ts).toDF("toks").select(TextOps.adjacentBigrams($"toks").as("p"))
        .selectExpr("transform(p, x -> concat(x.a, '|', x.b))")
        .as[Seq[String]].head()
    assert(pairs(Seq("x", "x")) == Seq("x|x"))   // a==b kept, both sides equal
    assert(pairs(Seq("only")) == Seq())
    assert(pairs(Seq()) == Seq())
  }

  test("hashtags: findall #(\\w+)") {
    val got = Seq("a #tag1 mid #tag_2! #末 none# #").toDF("t")
      .select(TextOps.hashtags($"t")).as[Seq[String]].head()
    assert(got == Seq("tag1", "tag_2"))
  }
}

class UrlSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def canon(urls: String*): Seq[String] = {
    import spark.implicits._
    urls.toDF("u")
      .select(graft.operators.UrlQueries.canonicalUrl(col("u")).as("c"))
      .as[String].collect().toSeq
  }

  test("url canonicalization: case, ports, utm, fragments, trailing slash") {
    assert(canon("HTTPS://WWW.Site.COM:443/A/b/?utm_source=x&id=2#frag")
      == Seq("https://www.site.com/A/b/?id=2"))
    assert(canon("http://host.com:80/x/") == Seq("http://host.com/x"))
    // non-default port survives; path case survives
    assert(canon("https://h.com:8443/Y") == Seq("https://h.com:8443/Y"))
    // utm-only query drops entirely, including the '?'
    assert(canon("https://h.com/p?utm_a=1&utm_b=2") == Seq("https://h.com/p"))
    // :80 is NOT default for https - keep it
    assert(canon("https://h.com:80/p") == Seq("https://h.com:80/p"))
    assert(canon("https://h.com/p?id=1") == Seq("https://h.com/p?id=1"))
  }
}
