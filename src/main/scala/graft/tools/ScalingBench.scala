package graft.tools

import graft.data.{DocsGen, Lexicon}
import graft.pipeline.KgPipeline
import org.apache.spark.sql.SparkSession

/** Scaling-evidence benchmark (BASELINE.md §Scaling): the same job — parquet
  * docs scan → full KG pipeline → triples count — at two parallelism levels
  * (N and 4N cores) in ONE invocation, alternating contexts so shared-host
  * noise (this sandbox is a VM with visible steal time) hits both levels
  * equally. Prints one JSON line with both throughputs and the scaling
  * efficiency (throughput@4N / throughput@N) / 4.
  *
  * Usage: sbt "runMain graft.tools.ScalingBench <docs> <runsPerLevel> <N> [mode]"
  * (defaults 1000000, 3, 8 → levels 8 and 32; mode = "local" | "cluster").
  *
  * Mode "cluster" uses Spark's local-cluster master: REAL per-executor
  * JVMs (4 cores each, own heap/GC) on this machine — the deployment shape
  * the north_rule targets, and the control for the single-heap contention
  * that caps `local[32]` scaling (BASELINE.md §Scaling).
  */
object ScalingBench {

  def main(args: Array[String]): Unit = {
    val nDocs = if (args.length > 0) args(0).toLong else 1000000L
    val runs = if (args.length > 1) args(1).toInt else 3
    val n = if (args.length > 2) args(2).toInt else 8
    val mode = if (args.length > 3) args(3) else "local"
    val levels = Seq(n, n * 4)
    // staged input on tmpfs, next to the builder's shuffle dir: a real
    // cluster has local NVMe per executor
    val staged = s"/dev/shm/graft/scaling_docs_$nDocs"

    val appJar = "target/scala-2.13/medicalnamedentityrecognitionspark_2.13-0.1.0.jar"
    val execJavaOpts = Seq(
      "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
      "java.base/java.io", "java.base/java.net", "java.base/java.nio",
      "java.base/java.util", "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
      "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
      "java.base/sun.util.calendar").map(p => s"--add-opens=$p=ALL-UNNAMED").mkString(" ")

    def newSession(cpus: Int): SparkSession =
      if (mode == "cluster")
        Tools.session(s"local-cluster[${cpus / 4},4,6144]", cpus * 2,
          "spark.jars" -> new java.io.File(appJar).getAbsolutePath,
          "spark.executor.memory" -> "5g",
          "spark.executor.extraJavaOptions" -> execJavaOpts)
      else Tools.session(s"local[$cpus]", cpus * 2)

    // stage docs once (not timed)
    {
      val spark = newSession(levels.max)
      if (!new java.io.File(s"$staged/_SUCCESS").exists()) {
        DocsGen.docs(DocsGen.gen(spark, nDocs, seed = 42L, partitions = 64))
          .write.mode("overwrite").parquet(staged)
      }
      spark.stop()
    }

    /** Machine-wide hypervisor steal in cpu-seconds (jiffies are 1/100 s). */
    def stealSec(): Double = Tools.cpuJiffies()._2 / 100.0

    case class RunResult(triples: Long, wallSec: Double, stealSec: Double, cpuSec: Double, gcSec: Double)

    // task-level CPU and GC from the listener: a scale-invariant work measure
    def once(spark: SparkSession, listener: StageListener, cpus: Int, group: String): RunResult = {
      import spark.implicits._
      val lex = Lexicon.fromSurfaces(DocsGen.vocabEntries.toDS()).cache()
      lex.count()
      val docs = spark.read.parquet(staged).as[graft.core.Doc]
      val st0 = stealSec()
      val t0 = System.nanoTime()
      val (nTriples, cleanup) = listener.inGroup(group) {
        val (triples, cleanup) = KgPipeline.runWithCleanup(docs, lex, numPartitions = cpus * 2)
        (triples.count(), cleanup)
      }
      val wall = (System.nanoTime() - t0) / 1e9
      val steal = stealSec() - st0
      cleanup()
      spark.catalog.clearCache()
      val stats = listener.stats(group)
      RunResult(nTriples, wall, steal, stats.cpuS, stats.gcS)
    }

    /** Raw-compute control: a register-only burn at `threads` parallelism,
      * in tasks/s. The app's N→4N ratio can only be judged against the
      * HOST's same-day N→4N ratio — this sandbox is a shared VM whose raw
      * 8→32 scaling itself fluctuates between ~2.6x and ~3.6x with
      * neighbor load. normalized_efficiency = app_ratio / raw_ratio.
      */
    def rawBurn(threads: Int): Double = {
      val tasks = threads * 2
      val work = 30000000
      val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
      val t0 = System.nanoTime()
      try {
        val futs = (0 until tasks).map { _ =>
          pool.submit(new java.util.concurrent.Callable[Long] {
            def call(): Long = { var x = 0L; var i = 0; while (i < work) { x += i.toLong * i; i += 1 }; x }
          })
        }
        futs.foreach(_.get())
      } finally pool.shutdown()
      tasks / ((System.nanoTime() - t0) / 1e9)
    }

    /** Cluster mode spawns real executor JVMs asynchronously; wait until
      * they have all registered so the timed runs measure steady state,
      * not executor spin-up.
      */
    def waitForExecutors(spark: SparkSession, cpus: Int): Unit = {
      if (mode == "cluster") {
        val expected = cpus / 4
        val deadline = System.nanoTime() + 120L * 1000000000L
        while (spark.sparkContext.getExecutorMemoryStatus.size - 1 < expected
          && System.nanoTime() < deadline) Thread.sleep(500)
      }
    }

    // 2 blocks × each level: [warm session, 1 untimed warm-up run (JIT +
    // codegen, fresh executor JVMs every session in cluster mode), then
    // runs/2 timed runs]. Blocks alternate levels so shared-host noise
    // bursts hit both levels; timed runs share a WARM session so they
    // measure steady-state throughput.
    val results = scala.collection.mutable.Map(levels.map(_ -> Vector.empty[RunResult]): _*)
    val burns = scala.collection.mutable.Map(levels.map(_ -> Vector.empty[Double]): _*)
    var triples = 0L
    val blocks = 2
    val perBlock = math.max(1, (runs + blocks - 1) / blocks)
    rawBurn(levels.max) // JIT the burn loop itself
    for (block <- 0 until blocks) {
      for (cpus <- levels) {
        burns(cpus) = burns(cpus) :+ rawBurn(cpus)
        val spark = newSession(cpus)
        val listener = new StageListener(spark.sparkContext)
        waitForExecutors(spark, cpus)
        once(spark, listener, cpus, s"warm-$cpus-$block") // untimed
        for (i <- 0 until perBlock) {
          val r = once(spark, listener, cpus, s"run-$cpus-$block-$i")
          triples = r.triples
          results(cpus) = results(cpus) :+ r
        }
        burns(cpus) = burns(cpus) :+ rawBurn(cpus)
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
    }

    import Tools.median
    def fmt(xs: Vector[Double]): String = Tools.json(xs)
    // steal-adjusted wall: subtract this VM's share of hypervisor steal
    // (steal is machine-wide cpu-seconds over the host's cores)
    val hostCores = Runtime.getRuntime.availableProcessors
    def adj(r: RunResult): Double = math.max(r.wallSec - r.stealSec / hostCores, r.wallSec * 0.2)
    val Seq((mN, bestN), (m4N, best4N)) =
      levels.map(c => (median(results(c).map(_.wallSec)), results(c).map(adj).min))
    val effMedian = (mN / m4N) / 4.0
    val effBestAdj = (bestN / best4N) / 4.0
    val burnN = median(burns(levels(0)))
    val burn4N = median(burns(levels(1)))
    val rawEff = (burn4N / burnN) / 4.0
    println(
      f"""{"bench":"scaling","mode":"$mode","docs":$nDocs,"triples":$triples,"n_cores":${levels(0)},"cores_4n":${levels(1)},"wall_n":${fmt(results(levels(0)).map(_.wallSec))},"wall_4n":${fmt(results(levels(1)).map(_.wallSec))},"steal_n":${fmt(results(levels(0)).map(_.stealSec))},"steal_4n":${fmt(results(levels(1)).map(_.stealSec))},"cpu_n":${fmt(results(levels(0)).map(_.cpuSec))},"cpu_4n":${fmt(results(levels(1)).map(_.cpuSec))},"gc_n":${fmt(results(levels(0)).map(_.gcSec))},"gc_4n":${fmt(results(levels(1)).map(_.gcSec))},"median_n_sec":$mN%.2f,"median_4n_sec":$m4N%.2f,"best_adj_n_sec":$bestN%.2f,"best_adj_4n_sec":$best4N%.2f,"triples_per_sec_n":${triples / mN}%.1f,"triples_per_sec_4n":${triples / m4N}%.1f,"raw_burn_n_tasks_per_sec":$burnN%.2f,"raw_burn_4n_tasks_per_sec":$burn4N%.2f,"raw_host_efficiency":$rawEff%.3f,"scaling_efficiency_median":$effMedian%.3f,"scaling_efficiency_best_adj":$effBestAdj%.3f,"normalized_efficiency_median":${effMedian / rawEff}%.3f}""")
  }
}
