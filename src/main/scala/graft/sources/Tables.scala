package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Parquet table readers for the driver's synthetic star schema
  * (repo:TESTDATA.md). One parquet file per table under the sf dir.
  *
  * Scale posture: these are plain parquet scans — Catalyst pushes filters
  * and prunes columns into the scan, so callers should filter/select as
  * early as possible and let the optimizer do the rest. At 100 TB the same
  * code reads a partitioned parquet lake; nothing here assumes single-file
  * input.
  */
object Tables {
  /** Minimum input bytes before a too-coarse scan is fanned out; the
    * dimension tables (nation/region/supplier at test scale) stay
    * unfanned and broadcast-shaped. 48 KB is deliberately low enough
    * that the DRIVER-GATE scale (sf0.01: documents/events/embeddings)
    * exercises the fanned plans, so the oracle hash-validates the
    * fan-out's partition-order perturbation instead of it firing only
    * at the unchecked bench scale. */
  private val FanMinBytes = 48L * 1024

  /** (path # cores) → fan-out decision, once per layout. */
  private val fanCache =
    new java.util.concurrent.ConcurrentHashMap[String, Integer]

  /** Scale-adaptive scan fan-out (round-17, guide §2.5 "input skew —
    * one huge unsplittable file … repartition immediately after the
    * read"): the driver's test parquet ships ONE row group per table,
    * and a parquet row group is read by exactly one task no matter how
    * `maxPartitionBytes` slices the byte range — so every corpus map
    * phase (tokenize/shingle/explode/decode chains, the heaviest
    * per-row work in the suite) ran on ONE core of local[32], and the
    * 8-vs-32-core scaling block read flat. The rule derives from input
    * layout, not a tuned constant: fan out to the session's default
    * parallelism ONLY when the planned scan has fewer splits than
    * cores and the file is big enough to matter. At production scale a
    * 100 TB table plans thousands of splits, the condition is false,
    * and no repartition (with its full-table shuffle) is ever added. */
  def read(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** The fan applies ONLY to the LLM-pipeline tables (documents /
    * events / embeddings): their row ids are unique, so every consumer
    * orders totally and the round-robin scramble is result-invariant —
    * verified by the full sf0.01 oracle run. The TPC-H-shaped tables
    * stay unfanned: the synthetic lineitem carries duplicate
    * (l_orderkey, l_linenumber) rows, so q4's trailing ORDER BY is not
    * a total order and its declared oracle depends on physical scan
    * order for the ties. */
  private def readFanned(spark: SparkSession, dir: String, name: String)
      : DataFrame = {
    val path = s"$dir/$name.parquet"
    val df = spark.read.parquet(path)
    val cores = spark.sparkContext.defaultParallelism
    val fan = fanCache.computeIfAbsent(s"$path#$cores", _ => {
      val len = try {
        val p = new org.apache.hadoop.fs.Path(path)
        p.getFileSystem(spark.sparkContext.hadoopConfiguration)
          .getContentSummary(p).getLength
      } catch { case _: Throwable => 0L }
      // planning only — counts the scan's byte-range splits, no job
      val splits = df.rdd.getNumPartitions
      Integer.valueOf(
        if (len >= FanMinBytes && splits < cores) cores else 0)
    })
    if (fan.intValue > 0) df.repartition(fan.intValue) else df
  }

  def region(s: SparkSession, d: String): DataFrame    = read(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = read(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = read(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = read(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = read(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = read(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = read(s, d, "lineitem")
  /** events.parquet has shipped with two `ts` layouts across testdata
    * generations: INT64 TIMESTAMP(NANOS) (which Spark's vectorized reader
    * rejects — read nanos as long, truncate to micros with integer `div`,
    * matching DuckDB's timestamp_ns→timestamp cast) and plain
    * timestamp[us] (Spark reads it as TIMESTAMP_NTZ). Normalize both to
    * session-TZ TimestampType so every downstream query sees one type;
    * all our sessions pin `spark.sql.session.timeZone=UTC`, so the
    * NTZ→LTZ cast is value-identical to the old nanos conversion.
    *
    * NOTE this sets `spark.sql.legacy.parquet.nanosAsLong` for the WHOLE
    * session, deliberately: the flag must be live whenever the (lazy)
    * scan actually executes, and it is a no-op for non-nanos files. */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = readFanned(s, d, "events")
    df.schema("ts").dataType match {
      case LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        df.withColumn("ts", col("ts").cast(TimestampType))
      case _ => df
    }
  }
  def documents(s: SparkSession, d: String): DataFrame =
    readFanned(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame =
    readFanned(s, d, "embeddings")
}
