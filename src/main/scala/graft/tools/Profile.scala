package graft.tools

/** Scratch profiler: runs each SparkEntry query twice in one JVM and
  * prints both timings — separates plan/codegen warmup from steady-state
  * execution. Not part of the driver contract. */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val only = args.drop(1).toSet
    // match Bench's session shape: core count from SPARK_GRAFT_CPUS
    val spark = graft.GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt)
    val qs = graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.isEmpty || only.contains(n) }
    qs.foreach { case (name, fn) =>
      def once(): Double = {
        val t0 = System.nanoTime()
        // noop sink, NOT count(): count() lets Catalyst prune every
        // unreferenced projection and under-measures (same contract as
        // Bench after the round-1 verdict)
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      val c = once(); val w = once()
      println(f"PROFILE $name%-24s cold=$c%7.2fs warm=$w%7.2fs")
    }
    spark.stop()
  }
}
