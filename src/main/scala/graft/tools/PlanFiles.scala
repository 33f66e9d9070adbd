package graft.tools

import graft.SparkEntry
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode

/** Dump `.explain("formatted")` per query into individual files — the
  * `plans/rNN/<query>_{before,after}.txt` evidence artifacts of the
  * optimization rounds (PlanDump writes the single aggregated PLANS.md).
  *
  * Usage: sbt "runMain graft.tools.PlanFiles <sfDir> <outDir> <suffix> [query ...]"
  * (no query args = the Bench.headline set).
  */
object PlanFiles {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val outDir = if (args.length > 1) args(1) else "plans/r06"
    val suffix = if (args.length > 2) args(2) else "before"
    val names = if (args.length > 3) args.drop(3).toSeq else graft.Bench.headline
    val spark = session()
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { name =>
      formatted(spark, sfDir, name).foreach { plan =>
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(outDir, s"${name}_$suffix.txt"), plan + "\n")
      }
    }
    println(s"[planfiles] wrote ${names.size} plans to $outDir (*_$suffix.txt)")
    spark.stop()
  }

  /** Plans are scale-independent; eight shuffle partitions keep the
    * printed Exchanges comparable across hosts and rounds.
    */
  def session(): SparkSession = Tools.session("local[8]", 8)

  /** The formatted physical plan of query `name` (None if not registered). */
  def formatted(spark: SparkSession, sfDir: String, name: String): Option[String] =
    SparkEntry.queries.get(name).map { fn =>
      val plan =
        try fn(spark, sfDir).queryExecution.explainString(ExplainMode.fromString("formatted"))
        catch { case e: Throwable => s"(failed: $e)" }
      spark.catalog.clearCache()
      plan.trim
    }
}
