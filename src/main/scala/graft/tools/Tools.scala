package graft.tools

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.{GraftSqlBridge, SparkSession}

import scala.collection.mutable

/** What the dev-tool mains share: one session builder, host counters and
  * the JSON number formats. [[StageListener]] is their one listener.
  */
object Tools {

  /** `SPARK_GRAFT_CPUS`, else the host's core count. */
  def cores: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors)

  /** The dev tools' one session builder. Spark settings it does not set
    * pass through `SPARK_EXTRA_JAVA_OPTS` as `-Dspark.*`; shuffle and
    * spill go to tmpfs where the host has one (a shared VM disk turns
    * every shuffle I/O-bound).
    */
  def session(master: String, shufflePartitions: Int, conf: (String, String)*): SparkSession = {
    val builder = SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    if (new java.io.File("/dev/shm").isDirectory) builder.config("spark.local.dir", "/dev/shm/graft/local")
    conf.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Total and steal jiffies since boot, from /proc/stat ((0, 0) without
    * one). A shared host steals cores in bursts, so a wall time is only
    * read next to the steal it absorbed.
    */
  def cpuJiffies(): (Long, Long) =
    scala.util.Try {
      val src = scala.io.Source.fromFile("/proc/stat")
      // cpu user nice system idle iowait irq softirq steal guest ...
      val f = try src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong) finally src.close()
      (f.sum, if (f.length > 7) f(7) else 0L)
    }.getOrElse((0L, 0L))

  def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.length / 2)

  def json(xs: Seq[Double], digits: Int = 2): String =
    xs.map(x => s"%.${digits}f".format(x)).mkString("[", ",", "]")
}

/** Spark's task metrics for the jobs of one job group. `stageTasks` maps
  * each submitted stage to its task count; `taskSkew` is the worst
  * max/median task run time over stages of at least four tasks (fewer
  * say nothing about skew; 1.0 when there is none).
  */
final case class StageStats(
    jobs: Int,
    stageTasks: Map[Int, Int],
    taskS: Double,
    cpuS: Double,
    gcS: Double,
    shuffleWriteMb: Double,
    spillMb: Double,
    taskSkew: Double) {
  def stages: Int = stageTasks.size
  def tasks: Int = stageTasks.values.sum
}

private final case class Task(runMs: Long, cpuNs: Long, gcMs: Long, shuffleWrite: Long, spill: Long)

/** The dev tools' one listener, registered on `sc` when built. A stage
  * belongs to the job group of the first job that lists it, pinned at
  * `onJobStart`, so an event delivered late cannot land in another run;
  * [[stats]] drains the bus before it reads, so it sees every task of the
  * actions that already returned. Jobs outside a group are not recorded.
  */
final class StageListener(sc: SparkContext) extends SparkListener {
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val jobs = mutable.HashMap.empty[String, Int]
  private val stageTasks = mutable.HashMap.empty[Int, Int]
  private val tasks = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Task]]
  sc.addSparkListener(this)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).foreach { g =>
      jobs(g) = jobs.getOrElse(g, 0) + 1
      e.stageIds.foreach(s => stageGroup.getOrElseUpdate(s, g))
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val s = e.stageInfo.stageId
    if (stageGroup.contains(s)) stageTasks(s) = e.stageInfo.numTasks
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null && stageGroup.contains(e.stageId))
      tasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += Task(
        m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
        m.shuffleWriteMetrics.bytesWritten, m.diskBytesSpilled)
  }

  /** Run `body` with every job it starts under job group `group`. */
  def inGroup[T](group: String)(body: => T): T = {
    sc.setJobGroup(group, group, interruptOnCancel = false)
    try body
    finally sc.clearJobGroup()
  }

  def stats(group: String): StageStats = {
    GraftSqlBridge.drainListeners(sc)
    synchronized {
      val ids = stageGroup.collect { case (s, g) if g == group && stageTasks.contains(s) => s }.toSeq.sorted
      val byStage = ids.map(s => tasks.getOrElse(s, mutable.ArrayBuffer.empty[Task]).toSeq)
      val ts = byStage.flatten
      val skew = byStage.filter(_.size >= 4).map { t =>
        val run = t.map(_.runMs.toDouble).sorted
        run.last / math.max(run(run.size / 2), 1.0)
      }.maxOption.getOrElse(1.0)
      val mb = 1024.0 * 1024.0
      StageStats(
        jobs = jobs.getOrElse(group, 0),
        stageTasks = scala.collection.immutable.SortedMap(ids.map(s => s -> stageTasks(s)): _*),
        taskS = ts.map(_.runMs).sum / 1e3,
        cpuS = ts.map(_.cpuNs).sum / 1e9,
        gcS = ts.map(_.gcMs).sum / 1e3,
        shuffleWriteMb = ts.map(_.shuffleWrite).sum / mb,
        spillMb = ts.map(_.spill).sum / mb,
        taskSkew = skew)
    }
  }

  def close(): Unit = sc.removeSparkListener(this)
}
