package kgbench

import graft.assemble.Triples
import graft.canon.Canon
import graft.core.{Doc, LexiconEntry, LinkedMention, Triple}
import graft.data.{DocsGen, Lexicon}
import graft.kgbench.Gate
import graft.link.Linker
import graft.ops.Dedup
import graft.pipeline.KgPipeline
import graft.tables.Icebergish
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import scala.collection.mutable

/** The outcome of one measured unit of work. `wall` is the unit's own
  * time; `extraS` is time spent beside it in the same loop (the periodic
  * table read) that throughput counts but the unit's latency does not.
  */
final case class Outcome(wall: Double, docs: Long, rows: Long, ok: Boolean, extraS: Double = 0.0)

/** Per-layer samples of a traced run; the report takes each one's median. */
final class Samples {
  val values: mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]] = mutable.LinkedHashMap.empty
  var ok = true
  def add(name: String, v: Double): Unit = values.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v
  def check(cond: Boolean, what: => String): Unit =
    if (!cond) { ok = false; System.err.println(s"[kgbench] traced check failed: $what") }
}

trait Workload {
  /** Untimed: generate and stage the inputs, compute expected outputs. */
  def prepare(): Unit
  /** Set-up work that precedes the measured loop (lexicon build). */
  def setup(): Unit
  /** Untimed-for-the-run units of work that end each set-up. */
  def warmups: Int = 1
  /** One unit of work, checked against its expected output. */
  def iteration(i: Int): Outcome
  /** Called once after the measured loop (final output checks). */
  def finish(): Boolean = true
  /** Traced run: per-layer samples over about `seconds`. */
  def traced(tr: Tracer, seconds: Double, s: Samples): Unit
}

object Workload {
  def apply(name: String, spark: SparkSession, seed: Long, dir: String, perturb: Boolean): Workload = name match {
    case "kg_bulk" => new KgBatch(spark, seed, dir, perturb, docs = 60000, hubFrac = 0.0, distractors = 0)
    case "kg_biglex_skew" => new KgBatch(spark, seed, dir, perturb, docs = 30000, hubFrac = 0.3, distractors = 1000)
    case "kg_incremental" => new KgIncremental(spark, seed, dir, perturb)
    case "dedup_neardup" => new DedupNearDup(spark, seed, dir, perturb)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  val Names: Seq[String] = Seq("kg_bulk", "kg_biglex_skew", "kg_incremental", "dedup_neardup")

  def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Rounds back to back until `seconds` pass and `minRounds` are done. */
  def until(seconds: Double, minRounds: Int = 1)(round: Int => Unit): Unit = {
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var i = 0
    while (i < minRounds || System.nanoTime() < deadline) { round(i); i += 1 }
  }

  /** A planted wrong row, added to an output in the self-test. */
  def plantTriple(df: DataFrame): DataFrame = {
    import df.sparkSession.implicits._
    df.unionByName(Seq(Triple("C0000000", "treated_by", "C0000000", "doc-planted", "Diseases", "Drug")).toDF())
  }
}

/** The pipeline, layer by layer and fused, over one docs set. */
object Kg {
  /** `KgPipeline.runWithCleanup` checked by digest; `beforeCleanup` sees
    * the pipeline's caches while they are still held.
    */
  def fused(docs: Dataset[Doc], lexicon: Dataset[LexiconEntry], perturb: Boolean,
      beforeCleanup: () => Unit = () => ()): Digest = {
    val (triples, cleanup) = KgPipeline.runWithCleanup(docs, lexicon)
    val out = if (perturb) Workload.plantTriple(triples.toDF()) else triples.toDF()
    try { val d = Digest.of(out, Digest.TripleCols); beforeCleanup(); d } finally cleanup()
  }

  // runWithCleanup's cap for driver-side surface resolution, private there
  private val SurfaceGateCap = 1 << 18

  /** The pipeline's public layer functions called one by one under this
    * benchmark's own orchestration, each materialized inside its own span:
    * detect, link, canon, assemble. The orchestration follows
    * `KgPipeline.runWithCleanup` (driver-local resolution behind the same
    * lexicon test and the same bounded-collect gate, else the distributed
    * path), so the output must equal the fused output. Counts for the
    * report are taken aside, outside the spans.
    */
  def stepwise(docs: Dataset[Doc], lexicon: Dataset[LexiconEntry], tr: Tracer, s: Samples,
      keep: Dataset[Triple] => Unit = _ => ()): Stepwise = {
    val spark = docs.sparkSession
    import spark.implicits._
    val (gaz, mentions, nMentions) = tr.span("detect") {
      val gaz = Lexicon.gazetteerEntries(lexicon)
      val ms = KgPipeline.detectMentions(docs, gaz).persist(StorageLevel.MEMORY_AND_DISK_SER)
      (gaz, ms, ms.count())
    }
    val surfaces0 = mentions.select(col("text"), col("entity_type")).distinct()
    val lexLocal = lexicon.queryExecution.optimizedPlan match {
      case _: LocalRelation => Some(lexicon.collect().toSeq)
      case _ => None
    }
    val (resolution, localRes) = tr.span("link") {
      val localRes = lexLocal.flatMap { rows =>
        Gate.surfaces(surfaces0, SurfaceGateCap).map(Linker.surfaceResolutionLocal(_, rows))
      }
      localRes match {
        case Some(rows) => (rows.toDF("text", "entity_type", "concept_id", "link_score"), localRes)
        case None =>
          val r = Linker.surfaceResolution(surfaces0.as[(String, String)], lexicon)
            .persist(StorageLevel.MEMORY_AND_DISK)
          r.count()
          (r, None)
      }
    }
    val surfaces = tr.aside(resolution.select("text", "entity_type").as[(String, String)].collect().toSeq)
    val linked = mentions
      .join(broadcast(resolution), Seq("text", "entity_type"), "inner")
      .select(col("doc_id"), col("span_idx"), col("entity_type"), col("text"),
        col("start"), col("end"), col("confidence"), col("concept_id"), col("link_score"))
      .as[LinkedMention]
    val (edges, components) = tr.span("canon") {
      val edges = localRes match {
        case Some(rows) => rows.map { case (text, _, cid, _) => ("S:" + text, cid) }.distinct.toDF("src", "dst")
        case None =>
          resolution.select(concat(lit("S:"), col("text")).as("src"), col("concept_id").as("dst")).distinct()
      }
      (edges, Canon.connectedComponents(edges))
    }
    val (nEdges, nComponents) = tr.aside((edges.count(), components.select("component").distinct().count()))
    val digest = tr.span("assemble") {
      val triples = Triples.canonicalize(Triples.assemble(linked), components)
      keep(triples)
      Digest.of(triples.toDF(), Digest.TripleCols)
    }
    mentions.unpersist()
    if (localRes.isEmpty) resolution.unpersist()
    components.unpersist()

    def layer(name: String)(metrics: (Span, GroupStats) => Seq[(String, Double)]): Unit = {
      val st = tr.stats(name)
      metrics(tr.last(name), st).foreach { case (k, v) => s.add(s"$name.$k", v) }
    }
    layer("detect") { (sp, st) => Seq(
      "wall_s" -> sp.seconds, "task_s" -> st.taskS, "gc_s" -> st.gcS, "task_skew" -> st.taskSkew,
      "shuffle_write_mb" -> st.shuffleWriteMb, "mentions" -> nMentions.toDouble) }
    layer("link") { (sp, st) => Seq(
      "wall_s" -> sp.seconds, "jobs" -> st.jobs.toDouble, "task_s" -> st.taskS,
      "surfaces" -> surfaces.size.toDouble,
      "candidates_per_surface" -> candidatesPerSurface(surfaces, gaz)) }
    layer("canon") { (sp, st) => Seq(
      "wall_s" -> sp.seconds, "jobs" -> st.jobs.toDouble,
      "edges" -> nEdges.toDouble, "components" -> nComponents.toDouble) }
    layer("assemble") { (sp, st) => Seq(
      "wall_s" -> sp.seconds, "shuffle_read_mb" -> st.shuffleReadMb, "spill_mb" -> st.spillMb,
      "task_skew" -> st.taskSkew, "triples" -> digest.count.toDouble) }
    s.add("trace.stepwise_sum_s", Seq("detect", "link", "canon", "assemble").map(tr.last(_).seconds).sum)
    val jobs = Seq("detect", "link", "canon", "assemble").map(tr.stats(_).jobs).sum
    s.add("trace.stepwise_jobs", jobs)
    Stepwise(digest, jobs, localRes.isDefined)
  }

  final case class Stepwise(digest: Digest, jobs: Int, driverPath: Boolean)

  /** Jobs the stepwise run adds to the fused run's by materializing each
    * layer on its own, as measured against `runWithCleanup`: the detect
    * span's count on the driver path; that count, the resolution's count
    * and the extra stage boundaries they cut on the distributed path.
    */
  private def extraJobs(driverPath: Boolean): Int = if (driverPath) 1 else 3

  /** Reports, without failing the run, a stepwise job count that no longer
    * matches the fused run's: `runWithCleanup` then takes another strategy
    * than `stepwise` copies, and the per-layer figures describe the copy.
    */
  def reportDrift(sw: Stepwise, fusedJobs: Int): Unit = {
    val want = fusedJobs + extraJobs(sw.driverPath)
    if (sw.jobs != want) System.err.println(
      s"[kgbench] WARNING stepwise/fused strategy drift: stepwise ran ${sw.jobs} jobs on the " +
        s"${if (sw.driverPath) "driver" else "distributed"} path, fused $fusedJobs + ${extraJobs(sw.driverPath)} expected")
  }

  /** Lexicon entries of the surface's type sharing a blocking key with it. */
  def candidatesPerSurface(surfaces: Seq[(String, String)], gaz: Array[(String, String)]): Double = {
    val byKey = mutable.HashMap.empty[(String, String), mutable.ArrayBuffer[Int]]
    gaz.zipWithIndex.foreach { case ((surf, tpe), i) =>
      Linker.blockingKeys(surf).foreach(k => byKey.getOrElseUpdate((k, tpe), mutable.ArrayBuffer.empty) += i)
    }
    val n = surfaces.map { case (text, tpe) =>
      Linker.blockingKeys(text).flatMap(k => byKey.getOrElse((k, tpe), Nil)).distinct.size
    }
    if (n.isEmpty) 0.0 else n.sum.toDouble / n.size
  }

  /** Fused pipeline metrics from the listener, for span `name`. */
  def pipelineMetrics(tr: Tracer, s: Samples, name: String, persistMb: Double): Int = {
    val st = tr.stats(name)
    val sp = tr.last(name)
    s.add("pipeline.jobs", st.jobs)
    s.add("pipeline.tasks", st.tasks)
    s.add("pipeline.task_s", st.taskS)
    s.add("pipeline.gc_s", st.gcS)
    s.add("pipeline.spill_mb", st.spillMb)
    s.add("pipeline.persist_mb", persistMb)
    s.add("pipeline.driver_gap_s", st.uncoveredS(sp.startMs, sp.endMs))
    st.jobs
  }

  def cachedMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum / (1024.0 * 1024.0)

  /** Stage docs `0 until n` of the seed's corpus as parquet. */
  def stageDocs(spark: SparkSession, n: Long, seed: Long, hubFrac: Double, path: String): Unit = {
    import spark.implicits._
    spark.range(0, n, 1, 8).as[Long].map(i => DocsGen.buildDoc(i, seed, hubFrac).doc)
      .write.mode("overwrite").parquet(path)
  }

  def readDocs(spark: SparkSession, path: String): Dataset[Doc] = {
    import spark.implicits._
    spark.read.parquet(path).as[Doc]
  }

  def sentences(docs: Dataset[Doc]): Long = KgPipeline.sentences(docs).count()
}

/** `kg_bulk` and `kg_biglex_skew`: one whole corpus per unit of work.
  *
  * With `distractors = 0` the lexicon is the driver-resident vocab lexicon,
  * so linking and canonicalization take their job-free driver paths and
  * detection and assembly do the work. With distractors the lexicon is
  * parquet-backed and holds, per vocab surface, surfaces that share its
  * blocking keys but never occur in the text: linking scores thousands of
  * candidates per surface on the distributed path, the canonicalization
  * gate runs as a job, and the gazetteer broadcast is large. `hubFrac`
  * forces one disease into that share of docs (hub-skewed assembly).
  */
final class KgBatch(spark: SparkSession, seed: Long, dir: String, perturb: Boolean,
    docs: Long, hubFrac: Double, distractors: Int) extends Workload {
  import spark.implicits._
  private val docsPath = s"$dir/docs.parquet"
  private val surfacesPath = s"$dir/surfaces.parquet"
  private var lexicon: Dataset[LexiconEntry] = _
  private var setups = 0
  private var expected: Digest = _
  private var nSentences = 0L

  private lazy val entries: Seq[(String, String)] = DocsGen.vocabEntries ++ Distractors(distractors, seed)

  def prepare(): Unit = {
    // the replica runs on driver threads while Spark stages the inputs
    val exp = new java.util.concurrent.FutureTask[Digest](() =>
      Expect.triples(0, docs, seed, hubFrac, Expect.conceptIds(entries)))
    new Thread(exp).start()
    Kg.stageDocs(spark, docs, seed, hubFrac, docsPath)
    if (distractors > 0) entries.toDF("surface", "entity_type").repartition(8).write.mode("overwrite").parquet(surfacesPath)
    expected = exp.get()
  }

  def setup(): Unit = {
    lexicon =
      if (distractors == 0) Lexicon.fromSurfaces(spark.createDataset(DocsGen.vocabEntries))
      else {
        val path = s"$dir/lexicon-$setups.parquet"
        Lexicon.fromSurfaces(spark.read.parquet(surfacesPath).as[(String, String)])
          .write.mode("overwrite").parquet(path)
        spark.read.parquet(path).as[LexiconEntry]
      }
    setups += 1
  }

  private def check(d: Digest, what: String): Boolean = {
    if (d != expected) System.err.println(s"[kgbench] $what: got $d, expected $expected")
    d == expected
  }

  def iteration(i: Int): Outcome = {
    val (d, wall) = Workload.time(Kg.fused(Kg.readDocs(spark, docsPath), lexicon, perturb))
    Outcome(wall, docs, d.count, check(d, s"run $i"))
  }

  def traced(tr: Tracer, seconds: Double, s: Samples): Unit = {
    if (nSentences == 0) nSentences = Kg.sentences(Kg.readDocs(spark, docsPath))
    // untraced and traced fused runs alternate which goes first, so the
    // overhead comparison is not biased by order
    Workload.until(seconds) { round =>
      def untracedRun() = {
        tr.off()
        val r = Workload.time(Kg.fused(Kg.readDocs(spark, docsPath), lexicon, perturb))
        tr.on()
        r
      }
      val first = if (round % 2 == 0) Some(untracedRun()) else None
      tr.on(); tr.newTrace()
      var persistMb = 0.0
      val df = tr.span("pipeline") {
        Kg.fused(Kg.readDocs(spark, docsPath), lexicon, perturb, () => persistMb = Kg.cachedMb(spark))
      }
      val fusedJobs = Kg.pipelineMetrics(tr, s, "pipeline", persistMb)
      val (du, untraced) = first.getOrElse(untracedRun())
      s.add("trace.untraced_wall_s", untraced)
      s.add("trace.fused_wall_s", tr.last("pipeline").seconds)
      tr.newTrace()
      val sw = Kg.stepwise(Kg.readDocs(spark, docsPath), lexicon, tr, s)
      Kg.reportDrift(sw, fusedJobs)
      s.add("detect.sentences", nSentences.toDouble)
      s.check(check(du, "untraced run") && check(df, "traced fused run"), "fused output")
      s.check(sw.digest == df, s"stepwise ${sw.digest} != fused $df")
    }
  }
}

/** Surfaces that share a vocab surface's blocking keys (first char and
  * length; and the 2-char prefix where the surface is longer than two)
  * but are built from characters that occur nowhere in generated text,
  * so they are linking candidates that never match.
  */
object Distractors {
  // CJK Extension A: rare ideographs, outside the block that the vocab and
  // the filler text draw from
  private val Alphabet: IndexedSeq[Char] = '\u3400' to '\u4dbf'


  def apply(perSurface: Int, seed: Long): Seq[(String, String)] =
    if (perSurface <= 0) Nil
    else DocsGen.vocabEntries.flatMap { case (surf, tpe) =>
      val keep = if (surf.length > 2) 2 else 1
      val rnd = new java.util.SplittableRandom(seed * 31 + surf.hashCode)
      val out = mutable.LinkedHashSet.empty[String]
      while (out.size < perSurface) {
        val sb = new StringBuilder(surf.take(keep))
        while (sb.length < surf.length) sb += Alphabet(rnd.nextInt(Alphabet.size))
        out += sb.toString
      }
      out.toSeq.map(_ -> tpe)
    }
}

/** `kg_incremental`: 1k-doc micro-batches, each run through the pipeline
  * and appended to a pred-partitioned table, exactly the per-batch body of
  * `Streaming.kgStream`; every tenth commit is followed by a full read.
  * Batch `b` holds docs `b * 1000 until (b + 1) * 1000` of the seed's
  * corpus, generated when the batch arrives, as one input partition.
  */
final class KgIncremental(spark: SparkSession, seed: Long, dir: String, perturb: Boolean) extends Workload {
  import spark.implicits._
  private val BatchDocs = 1000L
  private val ReadEvery = 10
  private var lexicon: Dataset[LexiconEntry] = _
  private var table: String = _
  private var tables = 0
  private lazy val ids = Expect.conceptIds(DocsGen.vocabEntries)
  private val expectedByBatch = mutable.HashMap.empty[Int, Digest]
  private var committed = Digest.Zero
  private var batch = 0
  private var ok = true

  override def warmups: Int = 6

  def prepare(): Unit = ()

  private def expected(b: Int): Digest =
    expectedByBatch.getOrElseUpdate(b, Expect.triples(b * BatchDocs, (b + 1) * BatchDocs, seed, 0.0, ids))

  private def freshTable(): Unit = {
    table = s"$dir/table-$tables"
    tables += 1
    committed = Digest.Zero
    batch = 0
  }

  def setup(): Unit = {
    lexicon = Lexicon.fromSurfaces(spark.createDataset(DocsGen.vocabEntries))
    freshTable()
  }

  private def docsOf(b: Int): Dataset[Doc] = {
    val sd = seed
    spark.range(b * BatchDocs, (b + 1) * BatchDocs, 1, 1).as[Long].map(i => DocsGen.buildDoc(i, sd).doc)
  }

  /** Run batch `b` through the pipeline and commit it. */
  private def commitBatch(b: Int): Unit = {
    val (triples, cleanup) = KgPipeline.runWithCleanup(docsOf(b), lexicon)
    val out = if (perturb) Workload.plantTriple(triples.toDF()) else triples.toDF()
    Icebergish.commit(out, table, "append", partitionBy = Seq("pred"), tag = Some(s"batch-kgbench-$b"))
    cleanup()
  }

  /** The running row count must match after every read. */
  private def readCheck(): (Boolean, Double) = {
    val (n, s) = Workload.time(Icebergish.read(spark, table).count())
    if (n != committed.count) System.err.println(s"[kgbench] table read after $batch commits: $n rows, expected ${committed.count}")
    (n == committed.count, s)
  }

  def iteration(i: Int): Outcome = {
    if (i == 0) freshTable()
    val b = batch
    val exp = expected(b)
    val (_, wall) = Workload.time(commitBatch(b))
    committed += exp
    batch += 1
    val (good, readS) = if (batch % ReadEvery == 0) readCheck() else (true, 0.0)
    ok &&= good
    Outcome(wall, BatchDocs, exp.count, good, readS)
  }

  /** Untimed: the whole table's digest must equal every committed batch's. */
  override def finish(): Boolean = {
    val d = Digest.of(Icebergish.read(spark, table), Digest.TripleCols)
    if (d != committed) System.err.println(s"[kgbench] table digest $d, expected $committed")
    ok && d == committed
  }

  def traced(tr: Tracer, seconds: Double, s: Samples): Unit = {
    freshTable()
    val untraced = mutable.ArrayBuffer.empty[Double]
    val fused = mutable.ArrayBuffer.empty[Double]
    val batchWalls = mutable.ArrayBuffer.empty[Double]
    def next(): Int = { val b = batch; committed += expected(b); batch += 1; b }
    def maybeRead(): Unit = if (batch % ReadEvery == 0) {
      tr.on(); tr.newTrace()
      val (n, _) = Workload.time(tr.span("tables.read")(Icebergish.read(spark, table).count()))
      s.check(n == committed.count, s"table rows $n != ${committed.count}")
      val st = tr.stats("tables.read")
      s.add("tables.read_s", tr.last("tables.read").seconds)
      s.add("tables.read_jobs", st.jobs)
      s.add("tables.manifests", manifests())
    }
    // rounds of an untraced and a traced fused batch, then one stepwise
    // batch; at least ReadEvery commits so that the table is read once
    Workload.until(seconds, minRounds = (ReadEvery + 2) / 3) { _ =>
      tr.off()
      val (_, u) = Workload.time(commitBatch(next()))
      untraced += u; batchWalls += u
      maybeRead()
      tr.on(); tr.newTrace()
      val (_, f) = Workload.time(tr.span("pipeline")(commitBatch(next())))
      fused += f; batchWalls += f
      Kg.pipelineMetrics(tr, s, "pipeline", 0.0)
      maybeRead()
      tr.newTrace()
      val b = next()
      var kept: Dataset[Triple] = null
      val (d, w) = Workload.time {
        val d = Kg.stepwise(docsOf(b), lexicon, tr, s, t => kept = t.persist(StorageLevel.MEMORY_AND_DISK)).digest
        val out = if (perturb) Workload.plantTriple(kept.toDF()) else kept.toDF()
        val id = tr.span("tables.commit") {
          Icebergish.commit(out, table, "append", partitionBy = Seq("pred"), tag = Some(s"batch-kgbench-$b"))
        }
        s.add("tables.commit_s", tr.last("tables.commit").seconds)
        s.add("tables.files_written", Icebergish.readManifest(spark, table, id).files.size)
        kept.unpersist()
        d
      }
      batchWalls += w
      s.add("detect.sentences", tr.aside(Kg.sentences(docsOf(b))).toDouble)
      s.check(d == expected(b), s"stepwise batch $b: $d != ${expected(b)}")
      maybeRead()
    }
    s.add("trace.untraced_wall_s", Stats.median(untraced.toSeq))
    s.add("trace.fused_wall_s", Stats.median(fused.toSeq))
    s.add("tables.batch_latency_p50_s", Stats.median(batchWalls.toSeq))
    s.add("tables.batch_latency_tail_s", Stats.tail(batchWalls.toSeq))
    s.check(finish(), "table digest")
  }

  private def manifests(): Double = {
    val p = new org.apache.hadoop.fs.Path(table, "manifests")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).listStatus(p).length
  }
}

/** Documents for `dedup_neardup`: the `documents` table shape (word texts
  * over a small vocabulary, a share of them edited copies of earlier docs),
  * scaled by salted copies as `MakeSf` scales it.
  */
object NearDupDocs {
  private val Words = IndexedSeq(
    "a", "agg", "batch", "big", "column", "customer", "data", "fast", "filter", "group",
    "hash", "join", "key", "line", "merge", "order", "part", "query", "row", "scan",
    "slow", "small", "sort", "spark", "stream", "table", "the", "value", "vector", "window")
  private val KeyOffset = 100000000L

  def apply(base: Int, copies: Int, seed: Long): (Array[Long], Array[String]) = {
    val rnd = new java.util.SplittableRandom(seed)
    val texts = mutable.ArrayBuffer.empty[String]
    (0 until base).foreach { i =>
      texts += (
        if (i > 0 && rnd.nextDouble() < 0.08)
          texts(rnd.nextInt(i)).split(" ").map(w => if (rnd.nextDouble() < 0.1) Words(rnd.nextInt(Words.size)) else w).mkString(" ")
        else Seq.fill(8 + rnd.nextInt(90))(Words(rnd.nextInt(Words.size))).mkString(" "))
    }
    val rows = (0 until copies).flatMap { c =>
      texts.zipWithIndex.map { case (t, i) => (c * KeyOffset + i, if (c == 0) t else s"$t cpy$c") }
    }
    (rows.map(_._1).toArray, rows.map(_._2).toArray)
  }
}

/** `dedup_neardup`: MinHash-LSH and exact n-gram Jaccard near-duplicate
  * pairs over one documents table per unit of work.
  */
final class DedupNearDup(spark: SparkSession, seed: Long, dir: String, perturb: Boolean) extends Workload {
  import spark.implicits._
  private val Base = 1200
  private val Copies = 3
  private val Threshold = 0.3
  private val path = s"$dir/documents.parquet"
  private var docs: DataFrame = _
  private var expMinhash: Digest = _
  private var expNgram: Digest = _

  def prepare(): Unit = {
    val (ids, texts) = NearDupDocs(Base, Copies, seed)
    ids.zip(texts).toSeq.toDF("doc_id", "text")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .repartition(4).write.mode("overwrite").parquet(path)
    expMinhash = Expect.minhashPairs(ids, texts, k = 64, bands = 16, w = 3, Threshold, maxBucket = 200)
    expNgram = Expect.ngramPairs(ids, texts, w = 3, Threshold, maxDf = 1000)
  }

  def setup(): Unit = docs = spark.read.parquet(path)

  private def plant(df: DataFrame): DataFrame =
    if (perturb) df.unionByName(Seq((-1L, -2L, 1.0)).toDF("id_a", "id_b", "score")) else df

  private def minhash(): Digest = Digest.of(
    plant(Dedup.minhashPairs(docs, "text", "doc_id", threshold = Threshold).withColumnRenamed("est_jaccard", "score")),
    Digest.PairCols)

  private def ngram(): Digest = Digest.of(
    plant(Dedup.ngramJaccardPairs(docs, "text", "doc_id", threshold = Threshold).withColumnRenamed("jaccard", "score")),
    Digest.PairCols)

  private def check(m: Digest, n: Digest, what: String): Boolean = {
    if (m != expMinhash) System.err.println(s"[kgbench] $what minhash: got $m, expected $expMinhash")
    if (n != expNgram) System.err.println(s"[kgbench] $what ngram: got $n, expected $expNgram")
    m == expMinhash && n == expNgram
  }

  def iteration(i: Int): Outcome = {
    val ((m, n), wall) = Workload.time((minhash(), ngram()))
    Outcome(wall, Base.toLong * Copies, m.count + n.count, check(m, n, s"run $i"))
  }

  def traced(tr: Tracer, seconds: Double, s: Samples): Unit =
    Workload.until(seconds) { round =>
      def untracedRun() = { tr.off(); val r = Workload.time((minhash(), ngram())); tr.on(); r }
      val first = if (round % 2 == 0) Some(untracedRun()) else None
      tr.on(); tr.newTrace()
      val m = tr.span("dedup.minhash")(minhash())
      val n = tr.span("dedup.ngram")(ngram())
      val ((mu, nu), untraced) = first.getOrElse(untracedRun())
      Seq("dedup.minhash" -> m, "dedup.ngram" -> n).foreach { case (name, d) =>
        val st = tr.stats(name)
        s.add(s"$name.wall_s", tr.last(name).seconds)
        s.add(s"$name.task_s", st.taskS)
        s.add(s"$name.shuffle_write_mb", st.shuffleWriteMb)
        s.add(s"$name.spill_mb", st.spillMb)
        s.add(s"$name.task_skew", st.taskSkew)
        s.add(s"$name.pairs", d.count.toDouble)
      }
      s.add("trace.untraced_wall_s", untraced)
      s.add("trace.fused_wall_s", tr.last("dedup.minhash").seconds + tr.last("dedup.ngram").seconds)
      s.check(check(mu, nu, "untraced run") && check(m, n, "traced run"), "dedup output")
    }
}
