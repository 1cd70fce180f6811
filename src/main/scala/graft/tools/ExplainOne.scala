package graft.tools

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.execution.ExplainMode

/** Round-16 plan evidence: writes `.explain("formatted")` for the named
  * queries to <outDir>/<query>_<suffix>.txt. Usage:
  *   sbt "runMain graft.tools.ExplainOne <sfDir> <outDir> <suffix> q..."
  * Not part of the driver contract. */
object ExplainOne {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val suffix = args(2)
    val names = args.drop(3)
    val spark = graft.GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    Files.createDirectories(Paths.get(outDir))
    names.foreach { n =>
      val df = graft.SparkEntry.queries(n)(spark, sfDir)
      val txt = df.queryExecution.explainString(
        ExplainMode.fromString("formatted"))
      Files.writeString(Paths.get(s"$outDir/${n}_$suffix.txt"), txt)
      println(s"[explain] wrote $outDir/${n}_$suffix.txt")
    }
    spark.stop()
  }
}
