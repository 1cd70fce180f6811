package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.functions.{Emoji, Summarize}

class EmojiSpec extends AnyFunSuite {

  test("demojize replaces known emoji with :name:") {
    assert(Emoji.demojize("Spark 4 is out 🎉") ==
      "Spark 4 is out :party_popper:")
    assert(Emoji.demojize("ok 👍!") == "ok :thumbs_up:!")
  }

  test("variation selector is swallowed after a named emoji") {
    assert(Emoji.demojize("love ❤️ x") == "love :red_heart: x")
  }

  test("full-table entries outside the old curated subset resolve") {
    // multi-codepoint sequences must match longest-first
    assert(Emoji.demojize("usa 🇺🇸!") == "usa :flag_for_united_states:!")
    assert(Emoji.demojize("👍🏻") == ":thumbs_up_light_skin_tone:")
    assert(Emoji.demojize("dev 👩‍💻") == "dev :woman_technologist:")
    assert(Emoji.demojize("👩🏿‍💻") == ":woman_technologist_dark_skin_tone:")
    // ZWJ sequence containing an interior variation selector
    assert(Emoji.demojize("🏳️‍🌈") == ":rainbow_flag:")
    // keycap sequences start with plain ASCII — digits alone still pass through
    assert(Emoji.demojize("1⃣ of 12") == ":keycap_digit_one: of 12")
    assert(Emoji.demojize("route 66") == "route 66")
  }

  test("emoji-free strings pass through unchanged (property)") {
    val rnd = new scala.util.Random(42)
    (1 to 200).foreach { _ =>
      val s = rnd.alphanumeric.take(rnd.nextInt(40))
        .mkString("", " ", "!?.,:;#@")
      assert(Emoji.demojize(s) == s)
    }
  }

  test("null-safe") {
    assert(Emoji.demojize(null) == null)
  }
}

class SummarizeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("TF keywords: top-k by count, alphabetic tie-break, stopwords out") {
    import spark.implicits._
    val got = Seq("the spark engine spark fast engine spark is a fast good engine quick")
      .toDF("t")
      .select(Summarize.keywordsCol($"t", 3)).as[Seq[String]].head()
    // counts: spark=3, engine=3, fast=2, good=1, quick=1 → top3
    assert(got == Seq("engine", "spark", "fast"))
  }

  test("summary picks keyword-dense sentences in document order") {
    import spark.implicits._
    val text = "Spark engines shuffle data. Cats sleep all day. " +
      "The spark engine shuffles partitions fast. Unrelated filler here."
    val got = Seq(("spark engine", text)).toDF("title", "text")
      .select(Summarize.summaryCol($"title", $"text", 2)).as[String].head()
    assert(got.contains("Spark engines shuffle data."))
    assert(got.contains("spark engine shuffles partitions fast."))
    assert(!got.contains("Cats"))
    // document order preserved
    assert(got.indexOf("Spark engines") < got.indexOf("The spark engine"))
  }
}
