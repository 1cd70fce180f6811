package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions.abs

/** The full SQL-callable function surface installed by GraftExtensions:
  * same expression trees as the DataFrame API, reachable from pure SQL. */
class ExtensionsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("text surface callable from spark.sql") {
    import org.apache.spark.sql.functions.lit
    val raw = "Hello   WORLD [ref] 42x !!"
    val r = spark.sql(
      s"SELECT clean_text('$raw') AS c, " +
      "drop_stopwords(gr_tokenize('the cat and dog')) AS t, " +
      "hashtags('go #spark and #Scala3 now') AS h, " +
      "adjacent_bigrams(array('a', 'b', 'c')) AS b").head()
    // the SQL function must equal the DataFrame-API function exactly
    val viaDf = spark.range(1)
      .select(graft.functions.TextOps.cleanText(lit(raw)).as("c"))
      .head().getString(0)
    assert(r.getString(0) == viaDf)
    assert(r.getSeq[String](1) == Seq("cat", "dog"))
    assert(r.getSeq[String](2) == Seq("spark", "Scala3"))
    assert(r.getSeq[Any](3).length == 2)
  }

  test("enrichment surface callable from spark.sql") {
    val r = spark.sql(
      "SELECT demojize('nice 😀') AS d, " +
      "vader('I love this great thing').compound AS v, " +
      "tf_keywords('alpha beta alpha gamma alpha beta') AS k").head()
    assert(r.getString(0).contains(":"), s"demojize produced ${r.getString(0)}")
    assert(r.getDouble(1) > 0.5, "clearly positive text must score positive")
    assert(r.getSeq[String](2).head == "alpha")
  }

  test("media surface callable from spark.sql") {
    val r = spark.sql(
      "SELECT media_kind(unhex('89504E470D0A1A0A')) AS k").head()
    assert(r.getString(0) == "png")
  }

  test("normalization surface callable from spark.sql") {
    val r = spark.sql(
      "SELECT nfc_normalize('Cafe\u0301') AS n, " +
      "canonical_url('HTTP://X.COM:80/a/?utm_s=1#f') AS u").head()
    assert(r.getString(0) == "Caf\u00e9") // precomposed output
    assert(r.getString(1) == "http://x.com/a")
  }

  test("cms_sketch callable from spark.sql; estimate replays in SQL too") {
    val sk = spark.sql(
      "SELECT cms_sketch(v, 4, 64) AS sk FROM VALUES ('a'),('a'),('a'),('b') t(v)")
      .head().getSeq[Long](0)
    assert(sk.length == 4 * 64)
    assert(sk.sum == 4L * 4) // each of the 4 rows lands once per row of the sketch
    // point estimate via native SQL over the same hash chain
    spark.sql(
      "SELECT cms_sketch(v, 4, 64) AS sk FROM VALUES ('a'),('a'),('a'),('b') t(v)")
      .createOrReplaceTempView("cms_t")
    val est = spark.sql(
      """SELECT least(
        |  element_at(sk, 0 * 64 + pmod(hash(0, 'a'), 64) + 1),
        |  element_at(sk, 1 * 64 + pmod(hash(1, 'a'), 64) + 1),
        |  element_at(sk, 2 * 64 + pmod(hash(2, 'a'), 64) + 1),
        |  element_at(sk, 3 * 64 + pmod(hash(3, 'a'), 64) + 1)) AS est
        |FROM cms_t""".stripMargin).head().getLong(0)
    assert(est >= 3L && est <= 4L, s"estimate for 'a' was $est")
  }

  test("bitmap_agg callable from spark.sql") {
    val words = spark.sql(
      "SELECT bitmap_agg(v) FROM VALUES (0L),(1L),(64L),(1L) t(v)")
      .head().getSeq[Long](0)
    assert(words.length == 2)
    assert(java.lang.Long.bitCount(words(0)) == 2)
    assert(words(1) == 1L)
  }

  test("asof_join table function: pure SQL reaches the native operator") {
    import org.apache.spark.sql.functions._
    val ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      .createOrReplaceTempView("asof_purchases")
    ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("click_ts"),
        col("value").as("click_value"))
      .createOrReplaceTempView("asof_clicks")
    // the TVF needs key/time names shared by both sides
    spark.sql("""CREATE OR REPLACE TEMP VIEW asof_clicks2 AS
      SELECT c_user AS user_id, click_ts AS ts, click_value
      FROM asof_clicks""")
    // key/time columns appear on both sides of the output — select the
    // unambiguous columns only (standard join-output hygiene)
    val viaSql = spark.sql(
      """SELECT event_id, value, click_value
        |FROM asof_join('asof_purchases', 'asof_clicks2', 'user_id', 'ts')
        |ORDER BY event_id""".stripMargin)
    // the plan must BE the custom operator (logical level — the
    // physical AsOfJoinExec pin lives in Round12Spec; AQE wraps the
    // physical tree here)
    assert(viaSql.queryExecution.optimizedPlan.collect {
      case a: graft.plans.AsOfJoin => a }.nonEmpty,
      "SQL asof_join did not produce the AsOfJoin logical node")
    // DataFrame twin via the same helper with matching names
    val dfTwin = graft.plans.AsOfJoin.of(
        spark.table("asof_purchases"), spark.table("asof_clicks2"),
        "user_id", "ts")
      .select(col("event_id"), col("value"), col("click_value"))
      .orderBy("event_id")
    assert(viaSql.collect().toSeq == dfTwin.collect().toSeq)
    // WITHIN tolerance arg also reaches the operator (1 hour in micros)
    val tolRows = spark.sql(
      """SELECT count(click_value) AS n
        |FROM asof_join('asof_purchases', 'asof_clicks2', 'user_id', 'ts',
        |               3600000000)""".stripMargin).head().getLong(0)
    val tolTwin = graft.plans.AsOfJoin.of(
        spark.table("asof_purchases"), spark.table("asof_clicks2"),
        "user_id", "ts", Some(3600000000L))
      .agg(count(col("click_value"))).head().getLong(0)
    assert(tolRows == tolTwin)
  }

  test("a child session inherits the rules and the SQL surface") {
    // no install call anywhere: newSession() hands the extensions on
    val s = TestSpark.spark.newSession()
    import s.implicits._
    val l = Seq(1L, 5L, 9L).toDF("a")
    val r = Seq(2L, 8L, 20L).toDF("b")
    val band = l.join(r, abs($"a" - $"b") <= 1L)
    val plan = band.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"band join planned as BNLJ in a child session:\n$plan")
    assert(band.as[(Long, Long)].collect().toSet == Set((1L, 2L), (9L, 8L)))
    Seq((1L, 10L, 1.0), (1L, 30L, 2.0)).toDF("k", "t", "lv")
      .createOrReplaceTempView("child_asof_l")
    Seq((1L, 5L, 7.0), (1L, 25L, 8.0)).toDF("k", "t", "rv")
      .createOrReplaceTempView("child_asof_r")
    val asof = s.sql(
      """SELECT lv, rv FROM asof_join('child_asof_l', 'child_asof_r', 'k', 't')
        |ORDER BY lv""".stripMargin).as[(Double, Double)].collect().toSeq
    assert(asof == Seq((1.0, 7.0), (2.0, 8.0)))
  }

  test("mg_sketch callable from spark.sql with SQL-side membership test") {
    val rows = spark.sql(
      """SELECT e.term, e.cnt FROM (
        |  SELECT explode(mg_sketch(v, 2)) AS e
        |  FROM VALUES ('a'),('a'),('a'),('b'),('c') t(v))""".stripMargin)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    // n=5, k=2: 'a' (3 > 5/3) is a guaranteed hitter; count within n/(k+1)
    assert(rows.contains("a"))
    assert(rows("a") >= 3L - 5L / 3 && rows("a") <= 3L)
    assert(rows.size <= 2)
  }
}
