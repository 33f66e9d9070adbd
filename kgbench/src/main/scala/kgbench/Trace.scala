package kgbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** One traced step: a layer call and the action that materializes it. */
final case class Span(
    name: String, startNs: Long, endNs: Long, startMs: Long, endMs: Long,
    parent: Option[String], traceId: Int) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spark's own task metrics for the jobs of one job group. */
final case class GroupStats(
    jobs: Int,
    tasks: Int,
    taskS: Double,
    gcS: Double,
    shuffleWriteMb: Double,
    shuffleReadMb: Double,
    spillMb: Double,
    taskSkew: Double,
    jobIntervalsMs: Seq[(Long, Long)]) {

  /** Wall seconds of `[startMs, endMs]` during which no job of the group ran. */
  def uncoveredS(startMs: Long, endMs: Long): Double = {
    var covered = 0L
    var reach = startMs
    jobIntervalsMs.sortBy(_._1).foreach { case (s, e) =>
      val lo = math.max(s, reach)
      val hi = math.min(e, endMs)
      if (hi > lo) covered += hi - lo
      reach = math.max(reach, e)
    }
    math.max(0L, endMs - startMs - covered) / 1e3
  }
}

/** Collects task metrics per job group. Registered only in traced runs;
  * the program itself carries no instrumentation.
  */
final class LayerListener extends SparkListener {
  import LayerListener.Task

  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val jobGroup = mutable.HashMap.empty[Int, String]
  private val jobStart = mutable.HashMap.empty[Int, Long]
  private val jobEnd = mutable.HashMap.empty[Int, Long]
  private val tasks = mutable.HashMap.empty[String, mutable.ArrayBuffer[Task]]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobGroup(e.jobId) = g
    jobStart(e.jobId) = e.time
    e.stageIds.foreach(s => stageGroup(s) = g)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized { jobEnd(e.jobId) = e.time }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val g = stageGroup.getOrElse(e.stageId, "")
      tasks.getOrElseUpdate(g, mutable.ArrayBuffer.empty) += Task(
        e.stageId, m.executorRunTime, m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.totalBytesRead, m.diskBytesSpilled)
    }
  }

  def stats(group: String): GroupStats = synchronized {
    val ts = tasks.getOrElse(group, mutable.ArrayBuffer.empty).toSeq
    val jobIds = jobGroup.collect { case (j, g) if g == group => j }.toSeq
    val mb = 1024.0 * 1024.0
    // skew of the group's heaviest stage: max over median task run time
    val byStage = ts.groupBy(_.stage).values.filter(_.size >= 2)
    val skew =
      if (byStage.isEmpty) 1.0
      else {
        val heavy = byStage.maxBy(_.map(_.runMs).sum).map(_.runMs.toDouble).sorted
        val med = Stats.median(heavy)
        if (med > 0) heavy.last / med else 1.0
      }
    GroupStats(
      jobs = jobIds.size,
      tasks = ts.size,
      taskS = ts.map(_.runMs).sum / 1e3,
      gcS = ts.map(_.gcMs).sum / 1e3,
      shuffleWriteMb = ts.map(_.shWrite).sum / mb,
      shuffleReadMb = ts.map(_.shRead).sum / mb,
      spillMb = ts.map(_.spill).sum / mb,
      taskSkew = skew,
      jobIntervalsMs = jobIds.flatMap(j => jobEnd.get(j).map(e => (jobStart(j), e))))
  }
}

object LayerListener {
  private final case class Task(stage: Int, runMs: Long, gcMs: Long, shWrite: Long, shRead: Long, spill: Long)
}

/** Spans around layer calls, made from the benchmark's side only. With
  * `enabled = false` a span is a plain call: no listener, no job group, no
  * record — the untraced control of the tracing-overhead comparison.
  */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val listener = new LayerListener
  val spans = mutable.ArrayBuffer.empty[Span]
  private var traceId = 0
  private var enabled = false
  private val stack = mutable.Stack.empty[String]

  def on(): Unit = if (!enabled) { sc.addSparkListener(listener); enabled = true }
  def off(): Unit = if (enabled) { sc.removeSparkListener(listener); enabled = false }
  def newTrace(): Unit = traceId += 1

  /** The job group of span `name` in the current trace. */
  def group(name: String): String = s"$name#$traceId"

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val parent = stack.headOption
      stack.push(name)
      sc.setJobGroup(group(name), name, interruptOnCancel = false)
      val t0 = System.nanoTime()
      val m0 = System.currentTimeMillis()
      try body
      finally {
        spans += Span(name, t0, System.nanoTime(), m0, System.currentTimeMillis(), parent, traceId)
        stack.pop()
        stack.headOption match {
          case Some(p) => sc.setJobGroup(group(p), p, interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** Jobs that only count things for the report run outside any layer. */
  def aside[T](body: => T): T = {
    if (enabled) sc.setJobGroup(group("aside"), "aside", interruptOnCancel = false)
    try body
    finally stack.headOption match {
      case Some(p) if enabled => sc.setJobGroup(group(p), p, interruptOnCancel = false)
      case _ => sc.clearJobGroup()
    }
  }

  /** Listener totals for span `name` of the current trace. */
  def stats(name: String): GroupStats = {
    org.apache.spark.kgbench.ListenerDrain(sc)
    listener.stats(group(name))
  }

  def last(name: String): Span = spans.filter(s => s.name == name && s.traceId == traceId).last

  def toJson: String = spans.map { s =>
    val parent = s.parent.map(p => "\"" + p + "\"").getOrElse("null")
    s"""{"name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs},"parent":$parent,"trace_id":${s.traceId}}"""
  }.mkString("[\n", ",\n", "\n]\n")
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile of `xs` (q in [0, 1]). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** The value at the highest percentile with at least ten samples beyond
    * it; the median when there are fewer than 20 samples.
    */
  def tail(xs: Seq[Double]): Double = quantile(xs, math.max(0.5, (xs.size - 10).toDouble / xs.size))
}
