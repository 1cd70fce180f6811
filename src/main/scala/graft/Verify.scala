package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // Driver contract: exactly (sfDir, outDir). Extra args are a local
    // convenience: run only the named queries (oracle_sql.json is
    // filtered to match so scripts/check.py checks just those).
    val (sfDir, outDir, only) = (args(0), args(1), args.drop(2).toSet)
    def wanted(name: String): Boolean = only.isEmpty || only(name)
    val spark = GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    new java.io.File(outDir).mkdirs()
    // Self-check (round-15 verdict #1): a silently-empty registry or a
    // missing per-query output dir must be LOUD — round 15 shipped an
    // empty correctness artifact while the engine was green, and an
    // rc-0 Verify with nothing written is indistinguishable from
    // success to the driver.
    val names = SparkEntry.queries.keys.filter(wanted).toSeq.sorted
    require(SparkEntry.queries.nonEmpty,
      "[verify] FATAL: SparkEntry.queries enumerated EMPTY")
    require(only.isEmpty || names.nonEmpty,
      s"[verify] FATAL: none of ${only.mkString(",")} found in registry")
    println(s"[verify] ${names.size} queries to dump")
    var failed = List.empty[String]
    SparkEntry.queries.foreach { case (name, fn) =>
      if (wanted(name))
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          failed ::= name
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
    }
    val missing = names.filter { n =>
      !Files.exists(Paths.get(s"$outDir/$n/_SUCCESS"))
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(kv => wanted(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    // Summary + loud exit: the driver's artifact builder must never be
    // able to read an incomplete dump as a clean one.
    println(s"[verify] summary: ${names.size - missing.size}/"
      + s"${names.size} dumped, ${failed.size} failed"
      + (if (missing.nonEmpty)
           s"; MISSING: ${missing.take(20).mkString(",")}" else ""))
    if (missing.nonEmpty || failed.nonEmpty) sys.exit(2)
  }
}
