package graft.tools

import org.apache.spark.sql.functions._

/** Builder-owned scale-up generator for the 10× certification run
  * (NOT driver testdata — that stays read-only): replicates an sf
  * directory's `documents` and `events` tables `factor`× into a new
  * directory, shaped so each family's WORKLOAD scales the way a 10×
  * corpus would, not the way naive copying would:
  *
  *  - documents: slice k re-ids every doc (doc_id + k·N) and applies a
  *    per-slice deterministic token substitution — ~20% of tokens map
  *    to a slice-tagged variant (xxhash64(token, k) % 5 == 0), the
  *    SAME map for every doc in the slice. Identical tokens keep
  *    mapping identically, so each slice preserves the source's
  *    near-dup structure EXACTLY (near-dup pair counts scale ×k,
  *    linear), while a doc and its other-slice replicas share only
  *    ~51% of trigram shingles (0.8³) ⇒ Jaccard ≈ 0.35, far below
  *    every verify threshold — replication cannot manufacture the
  *    quadratic cross-slice pair blow-up that would make the
  *    certification measure a different workload than growth does.
  *    Slice 0 is the source verbatim.
  *  - events: slice k re-ids users and events (disjoint id ranges per
  *    slice), so the derived co-engagement graph becomes k disjoint
  *    copies — component counts and iterative-depth scale the way k×
  *    more users would, with no artificial super-hub.
  *
  * Usage: runMain graft.tools.ScaleGen <srcSfDir> <outDir> [factor=10]
  */
object ScaleGen {
  def main(args: Array[String]): Unit = {
    val src = args(0)
    val out = args(1)
    val factor = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = graft.GraftSession.local(8)
    import spark.implicits._

    val docs = spark.read.parquet(s"$src/documents.parquet")
    val nDocs = docs.agg(max($"doc_id")).head.getLong(0) + 1L
    val slices = spark.range(0, factor).select($"id".cast("int").as("k"))
    docs.crossJoin(slices)
      .select(
        ($"doc_id" + $"k" * nDocs).as("doc_id"),
        when($"k" === 0, $"text").otherwise(
          array_join(transform(split($"text", " "), t =>
            when(xxhash64(t, $"k") % 5 === 0, concat(t, lit("s"), $"k"))
              .otherwise(t)), " ")).as("text"),
        $"lang", $"source", $"n_chars")
      .repartition(8)
      .write.mode("overwrite").parquet(s"$out/documents.parquet")

    val ev = graft.sources.Tables.events(spark, src)
    val nUsers = ev.agg(max($"user_id")).head.getLong(0) + 1L
    val nEv = ev.agg(max($"event_id")).head.getLong(0) + 1L
    ev.crossJoin(slices)
      .select(
        ($"event_id" + $"k" * nEv).as("event_id"),
        ($"user_id" + $"k" * nUsers).as("user_id"),
        $"ts", $"event_type", $"props", $"value")
      .repartition(8)
      .write.mode("overwrite").parquet(s"$out/events.parquet")

    // embeddings (round 13): slice k re-ids vectors and adds a small
    // deterministic per-slice, per-dimension perturbation
    // (±0.02·((xxhash64(vec_id·64+j, k) mod 5) − 2)) — slice-local
    // neighborhood structure survives (the ANN/coreset/silhouette
    // workload scales ×k) while cross-slice near-identity is broken
    // the same way the token substitution breaks it for text. Slice 0
    // is the source verbatim.
    val emb = spark.read.parquet(s"$src/embeddings.parquet")
    val nVec = emb.agg(max($"vec_id")).head.getLong(0) + 1L
    emb.crossJoin(slices)
      .select(
        ($"vec_id" + $"k" * nVec).as("vec_id"),
        when($"k" === 0, $"embedding").otherwise(
          zip_with($"embedding",
            sequence(lit(0), lit(63)),
            (x, j) => x + (lit(0.02) *
              (pmod(xxhash64($"vec_id" * 64 + j, $"k"), lit(5)) - 2))
              .cast("float"))).as("embedding"),
        $"label")
      .repartition(8)
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")

    println(s"SCALEGEN wrote $out at ${factor}x of $src")
    spark.stop()
  }
}
