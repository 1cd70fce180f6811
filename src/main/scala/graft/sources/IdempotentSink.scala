package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.ExpressionSet

/** S3+S5: the reference's MongoDB sinks are "insert, unique index drops
  * duplicates" (DuplicateKeyError → logged & dropped, e.g.
  * twitter_consumer.py:44,116-119). The Spark-native equivalent is an
  * idempotent keyed append: anti-join the incoming batch against the
  * sink's current keys, then append — at-least-once upstream becomes
  * effectively-once in the sink, and re-running a batch is a no-op.
  *
  * Scale: the sink side is read key-columns-only (column pruning reaches
  * the parquet scan) and the anti-join shuffles on the key — never a
  * driver-side key set. For streaming, wrap in foreachBatch.
  */
object IdempotentSink {

  /** Append `batch` to `path`, dropping rows whose `keys` already exist
    * there. Within-batch key duplicates also collapse to one row —
    * an *arbitrary* one (dropDuplicates), exactly like the reference's
    * race between two inserts of the same key; pass `tieBreak` columns
    * to make the survivor deterministic (lowest tieBreak wins). */
  def append(batch: DataFrame, path: String, keys: Seq[String],
      tieBreak: Seq[String] = Nil): Unit = {
    val spark = batch.sparkSession
    val deduped =
      if (tieBreak.isEmpty) {
        if (uniqueOn(batch, keys)) batch else batch.dropDuplicates(keys)
      } else {
        import org.apache.spark.sql.expressions.Window
        import org.apache.spark.sql.functions.{col, row_number}
        val w = Window.partitionBy(keys.map(col): _*)
          .orderBy(tieBreak.map(col): _*)
        batch.withColumn("_rn", row_number().over(w))
          .filter(col("_rn") === 1).drop("_rn")
      }
    val fresh =
      if (pathExists(spark, path)) {
        val existing = spark.read.parquet(path).select(keys.head, keys.tail: _*)
        deduped.join(existing, keys, "left_anti")
      } else deduped
    fresh.write.mode("append").parquet(path)
  }

  /** True when the optimizer proves `df` holds at most one row per
    * `keys` (every flow ends in a dropDuplicates on its key): a second
    * dropDuplicates would plan a second Aggregate on the same key, which
    * Spark does not remove. Keys are matched to output columns by exact
    * name; anything unproven is deduplicated. */
  private[graft] def uniqueOn(df: DataFrame, keys: Seq[String]): Boolean = {
    val plan = df.queryExecution.optimizedPlan
    val keyAttrs = keys.flatMap(k => plan.output.find(_.name == k))
    val keySet = ExpressionSet(keyAttrs)
    keyAttrs.length == keys.length &&
      plan.distinctKeys.exists(_.forall(keySet.contains))
  }

  private def pathExists(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(p) && fs.listStatus(p).nonEmpty
  }
}
