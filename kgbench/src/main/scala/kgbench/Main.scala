package kgbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import scala.jdk.CollectionConverters._

/** Runs one workload in this JVM at local[4] with one closed-loop client
  * and prints one JSON report as the last line of stdout.
  *
  *   kgbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                --work <dir> [--perturb 1]
  *
  * `--trace 0` reports the end-to-end metrics; `--trace 1` the per-layer
  * metrics of a traced run, with its spans written to `<work>/spans.json`.
  * `--perturb 1` plants one wrong row in every output (self-test).
  */
object Main {
  // set-up is repeated and its median reported, so that a one-off stall
  // in a single set-up does not decide the figure
  private val SetupReps = 3

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "run_wall_s" -> "s", "docs_per_s" -> "1/s", "output_rows_per_s" -> "1/s")

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = args("workload")
    require(Workload.Names.contains(name), s"unknown workload $name; one of ${Workload.Names.mkString(", ")}")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val trace = args("trace") == "1"
    val work = args("work")
    val perturb = args.get("perturb").contains("1")

    val (spark, sessionS) = Workload.time(session(work))
    val w = Workload(name, spark, seed, work, perturb)
    val (_, prepS) = Workload.time(w.prepare())
    System.err.println(f"[kgbench] $name seed=$seed inputs+expected in $prepS%.1f s")
    val setups = (0 until SetupReps).map { _ =>
      Workload.time { w.setup(); (0 until w.warmups).foreach(w.iteration) }._2
    }
    val setupS = sessionS + Stats.median(setups)
    System.err.println(f"[kgbench] session $sessionS%.1f s, set-ups " + setups.map(x => f"$x%.2f").mkString(" ") +
      f" s; JVM up ${ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%.1f s")

    val steal0 = Steal.read()
    heapPools.foreach(_.resetPeakUsage())
    val report =
      if (!trace) measure(w, seconds, setupS)
      else {
        val tr = new Tracer(spark)
        val s = new Samples
        w.traced(tr, seconds, s)
        tr.off()
        Files.write(Paths.get(work, "spans.json"), tr.toJson.getBytes(UTF_8))
        val u = s.values.get("trace.untraced_wall_s").map(v => Stats.median(v.toSeq))
        val f = s.values.get("trace.fused_wall_s").map(v => Stats.median(v.toSeq))
        for (uu <- u; ff <- f if uu > 0) s.add("trace.overhead_frac", ff / uu - 1.0)
        s.add("host.steal_frac", Steal.frac(steal0, Steal.read()))
        s.add("jvm.peak_heap_mb", peakHeapMb)
        val metrics = PerLayer.map(m => m -> s.values.get(m).map(v => Stats.median(v.toSeq)).getOrElse(0.0))
        Report(s.ok, 1, if (s.ok) 0 else 1, metrics.map { case (m, v) => (m, v, unitOf(m)) })
      }
    System.err.println(f"[kgbench] steal_frac=${Steal.frac(steal0, Steal.read())}%.4f peak_heap_mb=$peakHeapMb%.0f")
    spark.stop()
    System.err.println(f"[kgbench] JVM up ${ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%.1f s at exit")
    println(report.json)
  }

  final case class Report(correct: Boolean, attempted: Int, failed: Int, metrics: Seq[(String, Double, String)]) {
    def json: String = {
      val ms = metrics.map { case (m, v, u) => s""""$m": {"value": ${num(v)}, "unit": "$u"}""" }.mkString(", ")
      s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {$ms}}"""
    }
    private def num(v: Double): String = if (v.isNaN || v.isInfinite) "0" else v.toString
  }

  /** The closed loop: units of work back to back until `seconds` pass. */
  private def measure(w: Workload, seconds: Double, setupS: Double): Report = {
    var attempted = 0
    var failed = 0
    val walls = scala.collection.mutable.ArrayBuffer.empty[Double]
    var busy = 0.0
    var docs = 0L
    var rows = 0L
    Workload.until(seconds) { i =>
      attempted += 1
      try {
        val o = w.iteration(i)
        if (o.ok) {
          walls += o.wall
          busy += o.wall + o.extraS
          docs += o.docs
          rows += o.rows
        } else failed += 1
      } catch {
        case e: Exception =>
          failed += 1
          System.err.println(s"[kgbench] unit $i threw: $e")
          e.printStackTrace()
      }
    }
    if (!w.finish()) failed += 1
    val ok = failed == 0 && walls.nonEmpty
    val metrics =
      if (walls.isEmpty) Seq.empty
      else Seq(setupS, Stats.median(walls.toSeq), docs / busy, rows / busy)
    System.err.println(s"[kgbench] ${walls.size} units: " + walls.map(x => f"$x%.3f").mkString(" "))
    Report(ok, attempted, failed, EndToEnd.zip(metrics).map { case ((m, u), v) => (m, v, u) })
  }

  val PerLayer: Seq[String] = Seq(
    "detect.wall_s", "detect.task_s", "detect.gc_s", "detect.task_skew", "detect.shuffle_write_mb",
    "detect.sentences", "detect.mentions",
    "link.wall_s", "link.jobs", "link.task_s", "link.surfaces", "link.candidates_per_surface",
    "canon.wall_s", "canon.jobs", "canon.edges", "canon.components",
    "assemble.wall_s", "assemble.shuffle_read_mb", "assemble.spill_mb", "assemble.task_skew", "assemble.triples",
    "pipeline.jobs", "pipeline.tasks", "pipeline.task_s", "pipeline.gc_s", "pipeline.spill_mb",
    "pipeline.persist_mb", "pipeline.driver_gap_s",
    "tables.commit_s", "tables.files_written", "tables.read_s", "tables.read_jobs", "tables.manifests",
    "tables.batch_latency_p50_s", "tables.batch_latency_tail_s") ++
    Seq("minhash", "ngram").flatMap(op =>
      Seq("wall_s", "task_s", "shuffle_write_mb", "spill_mb", "task_skew", "pairs").map(m => s"dedup.$op.$m")) ++
    Seq("trace.fused_wall_s", "trace.untraced_wall_s", "trace.overhead_frac", "trace.stepwise_sum_s",
      "trace.stepwise_jobs",
      "host.steal_frac", "jvm.peak_heap_mb")

  private def unitOf(m: String): String = m.split('.').last match {
    case x if x.endsWith("_s") => "s"
    case x if x.endsWith("_mb") => "MB"
    case x if x.endsWith("_frac") || x.endsWith("_skew") => "ratio"
    case _ => "count"
  }

  private def session(work: String): SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("kgbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)

  private def peakHeapMb: Double = heapPools.map(_.getPeakUsage.getUsed).sum / (1024.0 * 1024.0)
}

/** Steal time from /proc/stat: the share of CPU time the hypervisor gave
  * to other guests while this run measured.
  */
object Steal {
  def read(): Option[(Long, Long)] = scala.util.Try {
    val f = scala.io.Source.fromFile("/proc/stat")
    val cpu = try f.getLines().next() finally f.close()
    val v = cpu.split("\\s+").drop(1).take(8).map(_.toLong)
    (v(7), v.sum)
  }.toOption

  def frac(a: Option[(Long, Long)], b: Option[(Long, Long)]): Double = (a, b) match {
    case (Some((s0, t0)), Some((s1, t1))) if t1 > t0 => (s1 - s0).toDouble / (t1 - t0)
    case _ => 0.0
  }
}
