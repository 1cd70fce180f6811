package graft

import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.forAll
import graft.functions.{Emoji, Vader}
import graft.plans.TopKBuffer

/** ScalaCheck properties for the pure-JVM operators (SURVEY.md §5.3).
  * Column-expression properties live in ExprPropsSpec (needs a session). */
object VaderProps extends Properties("vader") {
  val texts: Gen[String] = Gen.listOf(Gen.oneOf(
    Gen.alphaLowerStr, Gen.oneOf("good", "bad", "not", "very", "but",
      "GREAT", "terrible!", "so", ":)", "love", "hate")))
    .map(_.mkString(" "))

  property("compound is always in [-1, 1]") = forAll(texts) { t =>
    val c = Vader.polarityScores(t).compound
    c >= -1.0 && c <= 1.0
  }

  property("neg/neu/pos are a distribution (sum ≈ 1 or all 0)") =
    forAll(texts) { t =>
      val s = Vader.polarityScores(t)
      val sum = s.negative + s.neutral + s.positive
      (math.abs(sum - 1.0) < 0.01) || sum == 0.0
    }

  property("deterministic") = forAll(texts) { t =>
    Vader.polarityScores(t) == Vader.polarityScores(t)
  }
}

object EmojiProps extends Properties("emoji") {
  property("identity on ascii text") = forAll(Gen.asciiPrintableStr) { s =>
    Emoji.demojize(s) == s
  }

  property("idempotent (no emoji survive one pass)") =
    forAll(Gen.listOf(Gen.oneOf("x", "🎉", "👍", "ok", "❤️", "🚀"))
        .map(_.mkString(" "))) { s =>
      val once = Emoji.demojize(s)
      Emoji.demojize(once) == once
    }

  // full-table property: every entry resolves to its own :name: when
  // space-separated (adjacency can legitimately fuse into a longer
  // sequence — skin tones, ZWJ — which is the point of longest-match)
  private val anyTableEmoji = Gen.oneOf(Emoji.allEmoji)
  property("every table entry resolves standalone") =
    forAll(anyTableEmoji) { e =>
      Emoji.demojize(s"a $e b") == s"a :${Emoji.nameOf(e).get}: b"
    }

  property("mixed emoji/word streams fully demojize (no raw emoji left)") =
    forAll(Gen.listOfN(6, Gen.oneOf(anyTableEmoji, Gen.alphaLowerStr))
        .map(_.mkString(" "))) { s =>
      val out = Emoji.demojize(s)
      Emoji.allEmoji.forall(e => !out.contains(e)) &&
        Emoji.demojize(out) == out
    }
}

object TopKProps extends Properties("topk") {
  val entries: Gen[List[(Double, Long)]] = Gen.listOf(
    Gen.zip(Gen.choose(-1.0, 1.0), Gen.choose(0L, 50L)))

  property("keeps at most k, exactly the best by (score desc, id asc)") =
    forAll(entries, Gen.choose(1, 8)) { (xs, k) =>
      val buf = new TopKBuffer(k)
      xs.foreach { case (s, i) => buf.insert(s, i) }
      // reference model: stable sort with duplicates, take k
      val expected = xs.sortBy(t => (-t._1, t._2)).take(k)
      buf.sortedDesc == expected
    }

  property("merge is order-insensitive") =
    forAll(entries, entries, Gen.choose(1, 6)) { (xs, ys, k) =>
      val a1 = new TopKBuffer(k); val b1 = new TopKBuffer(k)
      xs.foreach { case (s, i) => a1.insert(s, i) }
      ys.foreach { case (s, i) => b1.insert(s, i) }
      a1.mergeFrom(b1)
      val a2 = new TopKBuffer(k); val b2 = new TopKBuffer(k)
      xs.foreach { case (s, i) => a2.insert(s, i) }
      ys.foreach { case (s, i) => b2.insert(s, i) }
      b2.mergeFrom(a2)
      a1.sortedDesc == b2.sortedDesc
    }
}
