package graft.tools

import graft.SparkEntry
import org.apache.spark.sql.SparkSession

/** The dev-tool probe: wall time, host steal and Spark's own job, stage
  * and task metrics for registered queries, as one JSON line.
  *
  * Each query gets one untimed warm-up; the timed reps then interleave
  * across queries (rep r of every query runs before rep r+1 of any), so a
  * noisy host window taxes one rep of each query instead of every rep of
  * one. A rep is one `write.format("noop")` of the query's full result
  * (every column materialized, nothing kept) under its own job group.
  * An A/B is this probe run on two checkouts.
  *
  * Usage: SPARK_GRAFT_SF_DIR=... SPARK_GRAFT_CPUS=... \
  *        sbt "runMain graft.tools.Probe [reps] [query ...]"
  * (`SPARK_GRAFT_SF_DIR` is required; defaults: 5 reps,
  * `Bench.headline :+ "kg_mentions_ngram"`, the host's cores).
  */
object Probe {

  val defaultQueries: Seq[String] = graft.Bench.headline :+ "kg_mentions_ngram"

  /** Runs the probe on `spark` and returns its JSON line. Per query:
    * `median_s` and, per timed rep, `raw_s`, `steal_frac`, the
    * [[StageStats]] of the rep's job group, `persist_mb` and `held_mb`:
    * the memory and disk bytes of every persisted RDD in the session,
    * read before and after the cache is cleared. `held_mb` is what a
    * query leaves behind that `clearCache` does not free; if it grows
    * from rep to rep, later reps run with less storage memory.
    */
  def measure(spark: SparkSession, sfDir: String, reps: Int, names: Seq[String]): String = {
    require(reps > 0, s"reps must be positive, got $reps")
    names.foreach(n => require(SparkEntry.queries.contains(n), s"unknown query $n"))
    val sc = spark.sparkContext
    def storedMb(): Double = sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum / (1024.0 * 1024.0)
    def runOnce(name: String): (Double, Double) = {
      SparkEntry.queries(name)(spark, sfDir).write.format("noop").mode("overwrite").save()
      val persisted = storedMb()
      spark.catalog.clearCache()
      (persisted, storedMb())
    }
    val listener = new StageListener(sc)
    try {
      names.foreach(runOnce)
      val timed = for (rep <- 0 until reps; name <- names) yield {
        val group = s"probe-$name-$rep"
        val (t0, s0) = Tools.cpuJiffies()
        val w0 = System.nanoTime()
        val (persistMb, heldMb) = listener.inGroup(group)(runOnce(name))
        val wall = (System.nanoTime() - w0) / 1e9
        val (t1, s1) = Tools.cpuJiffies()
        (name, group, wall, if (t1 > t0) (s1 - s0).toDouble / (t1 - t0) else 0.0, persistMb, heldMb)
      }
      val perQuery = names.map { name =>
        val runs = timed.filter(_._1 == name)
        val stats = runs.map { case (_, group, _, _, _, _) => listener.stats(group) }
        val walls = runs.map(_._3)
        def list(key: String, xs: Seq[Any]) = s""""$key":${xs.mkString("[", ",", "]")}"""
        def nums(key: String, xs: Seq[Double], digits: Int) = s""""$key":${Tools.json(xs, digits)}"""
        val fields = Seq(
          f""""median_s":${Tools.median(walls)}%.3f""",
          nums("raw_s", walls, 3), nums("steal_frac", runs.map(_._4), 4),
          list("jobs", stats.map(_.jobs)), list("stages", stats.map(_.stages)), list("tasks", stats.map(_.tasks)),
          list("stage_tasks", stats.map(_.stageTasks.map { case (s, n) => s""""$s":$n""" }.mkString("{", ",", "}"))),
          nums("task_s", stats.map(_.taskS), 3), nums("gc_s", stats.map(_.gcS), 3),
          nums("shuffle_write_mb", stats.map(_.shuffleWriteMb), 3), nums("spill_mb", stats.map(_.spillMb), 3),
          nums("task_skew", stats.map(_.taskSkew), 2), nums("persist_mb", runs.map(_._5), 3),
          nums("held_mb", runs.map(_._6), 3))
        s""""$name":${fields.mkString("{", ",", "}")}"""
      }
      s"""{"probe":1,"sf":"$sfDir","cores":${spark.sparkContext.defaultParallelism},"reps":$reps,""" +
        s""""queries":${perQuery.mkString("{", ",", "}")}}"""
    } finally listener.close()
  }

  def main(args: Array[String]): Unit = {
    val reps = args.headOption.map(_.toInt).getOrElse(5)
    val names = if (args.length > 1) args.toSeq.drop(1).distinct else defaultQueries
    val cpus = Tools.cores
    val spark = Tools.session(s"local[$cpus]", cpus)
    try println(measure(spark, sys.env("SPARK_GRAFT_SF_DIR"), reps, names))
    finally spark.stop()
  }
}
