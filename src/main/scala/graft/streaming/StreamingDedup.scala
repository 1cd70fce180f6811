package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.Barrier._
import graft.operators.DedupQueries

/** Streaming twin of the incremental near-dup pass (q85/q112): the
  * daily-crawl append shape run as a real Structured Streaming sink
  * instead of a batch convention. Each micro-batch of (doc_id, text)
  * appends:
  *
  *  1. PROBE — the batch's MinHash bands (signed with exactly the
  *     q32/q112 hash family via [[DedupQueries.bandsFor]]) join the
  *     AT-REST band index plus the batch itself on (band_id,
  *     band_hash); candidate pairs verify with exact shingle Jaccard
  *     ≥ 0.9 against the at-rest shingle table, and verified pairs
  *     append to the pairs sink.
  *  2. REFRESH — the batch's own bands and shingles append to the
  *     index, so every LATER batch sees this one: the reference's
  *     seen-links refresh semantics (rss_consumer.py:56-65 keeps the
  *     sink-side link set current between polls) at LLM-corpus scale.
  *
  * Scale shape: the batch side of every join is one micro-batch — it
  * broadcasts; the index is only ever PROBED on band-hash equality
  * (at rest it lives in q143's bucketed layout, so the probe
  * co-locates) and is never re-signed or self-joined. Per-batch work
  * is |batch bands| × bucket collisions — independent of how large
  * the accumulated index has grown, which is the whole point of the
  * incremental form. Batch ≡ streaming: folding the appended docs
  * through in ANY batch split yields exactly the pairs the one-shot
  * batch probe (q112's shape) finds on the same split — pinned by
  * StreamingSpec across a 3-batch split, the q103 equality-proof
  * pattern. Pairs can re-verify if both sides band-collide in two
  * batches; the production sink is the keyed idempotent append
  * (IdempotentSink, S3/S5 semantics), so re-emits dedup on write. */
object StreamingDedup {

  /** One micro-batch fold: probe, emit verified pairs, refresh index.
    * Exposed so the spec can also drive it directly. */
  def foldBatch(batch: DataFrame, indexDir: String,
      pairsDir: String): Unit = {
    val s = batch.sparkSession
    if (batch.isEmpty) return
    // materialize the (small) batch once: bands, shingles, and the
    // probe all consume it, and a streaming source can't be re-read
    val b = batch.select(col("doc_id"), col("text")).roundBarrier()
    val nb = DedupQueries.bandsFor(b).roundBarrier()
    val nsh = DedupQueries.shinglesFor(b).roundBarrier()
    val idxBands = s.read.parquet(s"$indexDir/bands")
    val idxSh = s.read.parquet(s"$indexDir/shingles")
    // new×index and new×new candidates in one probe: the index union
    // the batch on the build side, the batch alone (broadcast) on the
    // probe side — index×index never happens
    val cand = idxBands.unionByName(nb).as("x")
      .join(broadcast(nb.as("y")),
        col("x.band_id") === col("y.band_id") &&
          col("x.band_hash") === col("y.band_hash") &&
          col("x.doc_id") =!= col("y.doc_id"))
      .select(least(col("x.doc_id"), col("y.doc_id")).as("x_id"),
        greatest(col("x.doc_id"), col("y.doc_id")).as("y_id"))
      .distinct()
    val sh = idxSh.unionByName(nsh)
    val inter = size(array_intersect(col("x_sh"), col("y_sh"))).cast("long")
    val union = size(col("x_sh")).cast("long") + size(col("y_sh")) - inter
    val jac = inter.cast("double") / union
    cand
      .join(sh.select(col("doc_id").as("x_id"), col("sh").as("x_sh")), "x_id")
      .join(sh.select(col("doc_id").as("y_id"), col("sh").as("y_sh")), "y_id")
      .filter(jac >= 0.9)
      .select(col("x_id"), col("y_id"), round(jac, 4).as("jaccard"))
      .write.mode("append").parquet(pairsDir)
    // refresh AFTER the probe: a batch must not pair with itself twice
    nb.write.mode("append").parquet(s"$indexDir/bands")
    nsh.write.mode("append").parquet(s"$indexDir/shingles")
  }

  /** Seed the at-rest index from an existing corpus frame. */
  def seedIndex(corpus: DataFrame, indexDir: String): Unit = {
    DedupQueries.bandsFor(corpus)
      .write.mode("overwrite").parquet(s"$indexDir/bands")
    DedupQueries.shinglesFor(corpus)
      .write.mode("overwrite").parquet(s"$indexDir/shingles")
  }

  /** Run the twin over a (doc_id, text) stream. */
  def start(stream: DataFrame, indexDir: String, pairsDir: String,
      checkpointDir: String): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.ProcessingTime(0L))
      .foreachBatch { (batch: DataFrame, _: Long) =>
        foldBatch(batch, indexDir, pairsDir)
      }
      .start()
}
