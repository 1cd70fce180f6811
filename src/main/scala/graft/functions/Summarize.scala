package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.plans.TopKByFrequency

/** Keyword + summary NLP (P10 — the reference calls newspaper3k's
  * `article.nlp()`, rss_consumer.py:90-92,113-116,142-145). The published
  * algorithm is stopword-filtered term-frequency keywords and a sentence
  * scorer built from title-word and keyword overlap; re-implemented here
  * Spark-first.
  *
  * `keywordsCol` is Catalyst expressions plus one native expression
  * (oracle-able). The sentence summarizer needs per-sentence scoring
  * against the document's own keyword set — expressed with higher-order
  * array functions, still no UDF.
  */
object Summarize {

  /** Tokens for TF purposes: lowercase, split on non-alphanumerics,
    * drop empties and stopwords. */
  def tfTokens(c: Column): Column =
    filter(split(lower(c), "[^a-z0-9']+"),
      t => t =!= "" && !TextOps.isStopword(t))

  /** Cap on tokens entering the in-row count: TF over the first 2 000
    * content tokens, the newspaper-style "article lead" approximation,
    * which bounds the per-row sort on unbounded documents. */
  val InRowTokenCap = 2000

  /** Top-k TF keywords as array<string>, ties broken alphabetically, in
    * one row (graft.plans.TopKByFrequency) over the first InRowTokenCap
    * tokens. The query form in TextQueries.q18 (explode + groupBy +
    * window) computes the same ranking across a whole corpus. */
  def keywordsCol(c: Column, k: Int = 10): Column =
    TopKByFrequency.col(slice(tfTokens(c), 1, InRowTokenCap), k)

  /** Sentence split on ./!/? followed by whitespace. */
  def sentences(c: Column): Column =
    filter(transform(split(c, "(?<=[.!?])\\s+"), s => trim(s)), s => s =!= "")

  /** Summary: top-`n` sentences by keyword-overlap score, emitted in
    * original document order, joined by a space. Score(sentence) =
    * |tokens(sentence) ∩ keywords(doc ∪ title)|. */
  def summaryCol(title: Column, text: Column, n: Int = 5): Column =
    summaryColWith(title, text, keywordsCol(text, 10), n)

  /** Summary against an externally-computed keyword array — lets a
    * pipeline that already derived its keywords (RssPipeline's tags)
    * reuse them instead of counting the tokens again. */
  def summaryColWith(title: Column, text: Column, keywords: Column,
      n: Int = 5): Column = {
    val kws = array_union(keywords, tfTokens(title))
    val sents = sentences(text)
    val idx = transform(sents, (s, i) =>
      struct(i.as("pos"), s.as("sent"),
        size(array_intersect(tfTokens(s), kws)).as("score")))
    // take top-n by (score desc, pos asc): sort by (-score, pos)
    val byScore = array_sort(transform(idx, s =>
      struct((-s.getField("score")).as("ns"), s.getField("pos").as("pos"),
        s.getField("sent").as("sent"))))
    val top = slice(byScore, 1, n)
    // restore document order: sort by pos
    val inOrder = array_sort(transform(top, s =>
      struct(s.getField("pos").as("pos"), s.getField("sent").as("sent"))))
    array_join(transform(inOrder, s => s.getField("sent")), " ")
  }
}
