package graft

import graft.tables.{ConcurrentCommitException, Icebergish}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-5 hardening: vacuum interleaved with in-flight commits (r4
  * VERDICT next-step #9). The sweep must never remove a file any
  * installed-or-about-to-install manifest references; only aged
  * (crash-leftover) garbage may go.
  */
class Round5Spec extends AnyFunSuite {
  lazy val spark = SparkTest.spark

  private def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  test("streaming near-dup pairs equal the batch operator across staged waves") {
    import graft.streaming.Streaming
    import spark.implicits._
    // corpus with planted near-dup groups: base docs + perturbed copies
    // (one token appended — high but <1.0 estimated jaccard) + exact dups
    val base = (0L until 40L).map { i =>
      val toks = (0 until 30).map(j => s"tok${graft.core.Hashing.hash2(i, j) % 97}")
      (i, toks.mkString(" "))
    }
    val nearDups = base.take(12).map { case (i, t) => (i + 1000L, t + " extra") }
    val exactDups = base.slice(12, 20).map { case (i, t) => (i + 2000L, t) }
    val corpus = base ++ nearDups ++ exactDups
    val df = corpus.toDF("doc_id", "text")

    val batchPairs = graft.ops.Dedup
      .minhashPairs(df, "text", "doc_id", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(batchPairs.nonEmpty, "fixture must contain near-dup pairs")

    // stream the same corpus in 3 waves through the stateful matcher
    val srcDir = tmpDir("neardup_waves")
    corpus.zipWithIndex.groupBy(_._2 % 3).foreach { case (w, rows) =>
      val stage = tmpDir(s"neardup_stage_$w")
      rows.map(_._1).toDF("doc_id", "text").coalesce(1)
        .write.mode("overwrite").parquet(stage)
      val part = java.nio.file.Files.list(java.nio.file.Paths.get(stage))
        .filter(_.getFileName.toString.endsWith(".parquet")).findFirst().get()
      java.nio.file.Files.copy(part, java.nio.file.Paths.get(srcDir, f"wave-$w%02d.parquet"))
    }
    val stream = spark.readStream.schema(df.schema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir)
    val name = "neardup_stream_" + java.lang.Long.toHexString(System.nanoTime())
    val q = Streaming.nearDupPairsStream(stream, threshold = 0.5)
      .writeStream.format("memory").queryName(name)
      .option("checkpointLocation", tmpDir("neardup_ckpt"))
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val streamPairs = spark.table(name).dropDuplicates("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(streamPairs == batchPairs,
      s"missing=${(batchPairs -- streamPairs).take(5)} extra=${(streamPairs -- batchPairs).take(5)}")
    // cross-wave evidence: at least one pair spans two waves (its members
    // arrived in different micro-batches, so only state could link them)
    val waveOf: Map[Long, Int] =
      corpus.zipWithIndex.map { case ((id, _), idx) => id -> idx % 3 }.toMap
    assert(streamPairs.exists { case (a, b, _) => waveOf(a) != waveOf(b) },
      "no cross-micro-batch pair found — the stateful path was not exercised")
    spark.sql(s"DROP TABLE IF EXISTS $name")
  }

  test("near-dup bucket state machine: cap stops growth, TTL expiry forgets the bucket") {
    import graft.streaming.Streaming
    import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}
    val sigA = Seq.fill(4)(1L)
    val sigB = Seq(1L, 1L, 1L, 9L) // 3/4 = 0.75 est jaccard vs sigA
    def st(init: Option[Seq[Streaming.SigDoc]], timedOut: Boolean) =
      TestGroupState.create[Seq[Streaming.SigDoc]](
        optionalState = init.map(org.apache.spark.api.java.Optional.of[Seq[Streaming.SigDoc]])
          .getOrElse(org.apache.spark.api.java.Optional.empty[Seq[Streaming.SigDoc]]()),
        timeoutConf = GroupStateTimeout.ProcessingTimeTimeout,
        batchProcessingTimeMs = 1000L,
        eventTimeWatermarkMs = org.apache.spark.api.java.Optional.empty[Long](),
        hasTimedOut = timedOut)

    // second member arrives later: pair emitted against stored state
    val s1 = st(Some(Seq(Streaming.SigDoc(1L, sigA))), timedOut = false)
    val out1 = Streaming.nearDupStep(
      Iterator(Streaming.SigDoc(5L, sigB)), s1, k = 4, threshold = 0.5,
      maxBucket = 10, stateTtl = Some("1 hours")).toSeq
    assert(out1 == Seq((1L, 5L, 0.75)))
    assert(s1.get.map(_.id) == Seq(1L, 5L) && s1.getTimeoutTimestampMs.isPresent)

    // below threshold: no emission, member still stored
    val s2 = st(Some(Seq(Streaming.SigDoc(1L, Seq(7L, 8L, 9L, 10L)))), timedOut = false)
    assert(Streaming.nearDupStep(Iterator(Streaming.SigDoc(2L, sigA)), s2,
      4, 0.5, 10, None).isEmpty)
    assert(s2.get.size == 2)

    // full bucket: later arrivals pair with nothing and do not grow state
    val full = (0 until 3).map(i => Streaming.SigDoc(i.toLong, sigA))
    val s3 = st(Some(full), timedOut = false)
    assert(Streaming.nearDupStep(Iterator(Streaming.SigDoc(99L, sigA)), s3,
      4, 0.5, 3, None).isEmpty)
    assert(s3.get.size == 3)

    // TTL expiry forgets the bucket
    val s4 = st(Some(full), timedOut = true)
    assert(Streaming.nearDupStep(Iterator.empty, s4, 4, 0.5, 3, Some("1 hours")).isEmpty)
    assert(s4.isRemoved)
  }

  test("CLI: ngram fit-then-load equals an in-process fit; flags parse") {
    import spark.implicits._
    val a = graft.cli.Main.parse(Array(
      "--ngram-fit", "/x/train.txt", "--out", "/x/model"))
    assert(a.ngramFit == "/x/train.txt" && a.out == "/x/model")
    assert(graft.cli.Main.parse(Array("--ngram-model", "/m")).ngramModel == "/m")

    // the CLI's fit→save→load chain (Main.main stops the shared session,
    // so exercise the same calls it makes): detection with the loaded
    // model recovers an OFF-GAZETTEER surface end-to-end
    val bio = java.nio.file.Files.createTempDirectory("cli_ngram").resolve("train.txt")
    def block(text: String, s: Int, e: Int, tpe: String): String =
      text.zipWithIndex.map { case (c, i) =>
        val tag = if (i == s) "B-" + tpe else if (i > s && i < e) "I-" + tpe else "O"
        s"$c $tag"
      }.mkString("\n")
    java.nio.file.Files.writeString(bio, Seq(
      block("患者有乙型肝炎病史", 3, 7, "Diseases"),
      block("乙型肝炎患者复查", 0, 4, "Diseases"),
      block("诊断为乙型肝炎", 3, 7, "Diseases")).mkString("\n\n") + "\n")
    val modelPath = java.nio.file.Files.createTempDirectory("cli_model").toString + "/m"
    val fitted = graft.detect.Features.fit(graft.data.BioCorpus.read(spark, bio.toString))
    graft.detect.Features.save(fitted, spark, modelPath)
    val loaded = graft.detect.Features.load(spark, modelPath)
    val got = graft.detect.Detector.detect(
      Seq(graft.core.Sentence("p1", 0, "患者有乙型肝炎病史")).toDS(),
      graft.data.DocsGen.vocabEntries.toDS(), feats = Some(loaded))
      .collect().map(m => (m.entity_type, m.text)).toSeq
    assert(got.contains(("Diseases", "乙型肝炎")),
      s"off-gazetteer surface not recovered through the persisted model: $got")
  }

  test("AQE skew-join splits the hub partition: skew=true in the final adaptive plan") {
    import spark.implicits._
    // the session enables skew splitting (north_rule) — this test PROVES
    // the mechanism fires: a hub key owning ~99% of one side crosses the
    // (lowered) split thresholds and the final adaptive plan must show
    // the skew-split sort-merge join, not one monster task
    val confs = Map(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "524288",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1048576",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      // payload = md5 strings: incompressible, so the hub's shuffle
      // partition bytes genuinely cross the (lowered) split threshold
      val left = spark.range(0, 300000).select(
        when(pmod(col("id"), lit(100)) =!= 0, lit("hub"))
          .otherwise(concat(lit("k"), pmod(col("id") / 100, lit(50)).cast("long"))).as("key"),
        md5(col("id").cast("string")).as("payload"))
      val right = (Seq("hub") ++ (0 until 50).map(i => s"k$i"))
        .toDF("key").withColumn("v", lit(1))
      // GLOBAL aggregate after the join: a per-key aggregate would demand
      // the join's hash partitioning and AQE (forceOptimizeSkewedJoin off)
      // then declines to split; a partial-then-single-exchange global agg
      // accepts any distribution, so the split is free to fire
      val agg = left.join(right, "key").agg(count(lit(1)).as("n"), max("payload").as("m"))
      // collect() (not count()) so THIS QueryExecution runs and its
      // AdaptiveSparkPlan reaches isFinalPlan=true for inspection
      val rows = agg.collect()
      assert(rows.head.getLong(0) == 300000L)
      val plan = agg.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), s"expected a sort-merge join:\n$plan")
      assert(plan.contains("skew=true"),
        s"AQE did not split the skewed partition (no skew=true node):\n$plan")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("vacuum racing live committers never removes a referenced or in-flight file") {
    import spark.implicits._
    val root = tmpDir("iceberg_vacuum_race")
    val threads = 3
    val opsPerThread = 4
    val losses = new java.util.concurrent.atomic.AtomicInteger(0)
    val vacuumErrors = new java.util.concurrent.atomic.AtomicInteger(0)
    val vacuumErrorMsgs = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val vacuumRemoved = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)

    // plant one AGED unreferenced stage (a crashed writer from "an hour
    // ago") and one FRESH one (an in-flight writer) before the storm
    val f = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    f.mkdirs(new org.apache.hadoop.fs.Path(root, "data/snap-7-oldcrash"))
    f.create(new org.apache.hadoop.fs.Path(root, "data/snap-7-oldcrash/part-0.parquet"), true).close()
    val aged = java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - 3600_000L)
    java.nio.file.Files.setLastModifiedTime(
      java.nio.file.Paths.get(root, "data/snap-7-oldcrash/part-0.parquet"), aged)
    java.nio.file.Files.setLastModifiedTime(
      java.nio.file.Paths.get(root, "data/snap-7-oldcrash"), aged)
    f.mkdirs(new org.apache.hadoop.fs.Path(root, "data/snap-8-inflight"))
    f.create(new org.apache.hadoop.fs.Path(root, "data/snap-8-inflight/part-0.parquet"), true).close()

    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads + 1)
    try {
      val vacuumFut = pool.submit(new java.util.concurrent.Callable[Unit] {
        def call(): Unit =
          while (!stop.get()) {
            try Icebergish.vacuum(spark, root).foreach(vacuumRemoved.add)
            catch { case e: Exception =>
              vacuumErrors.incrementAndGet()
              vacuumErrorMsgs.add(e.getClass.getName + ": " + String.valueOf(e.getMessage).take(160))
            }
            Thread.sleep(20)
          }
      })
      val futs = (0 until threads).map { t =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit =
            (0 until opsPerThread).foreach { i =>
              val df = Seq((t * 1000 + i, s"v$t-$i")).toDF("id", "v")
              var done = false
              while (!done) {
                try { Icebergish.commit(df, root, statsColumns = Seq("id")); done = true }
                catch { case _: ConcurrentCommitException => losses.incrementAndGet() }
              }
            }
        })
      }
      futs.foreach(_.get())
      stop.set(true)
      vacuumFut.get()
    } finally pool.shutdown()

    assert(vacuumErrors.get() == 0, s"vacuum threw ${vacuumErrors.get()} times: $vacuumErrorMsgs")
    // every committed row is readable — no in-flight stage was swept
    val got = Icebergish.read(spark, root).select("id").as[Int].collect().toSet
    assert(got == (for (t <- 0 until threads; i <- 0 until opsPerThread) yield t * 1000 + i).toSet,
      s"rows lost to the vacuum race: ${got.size}")
    // every file the live chain references exists on disk
    val id = Icebergish.currentSnapshotId(spark, root).get
    (0L to id).foreach { sid =>
      Icebergish.readManifest(spark, root, sid).files.foreach { rel =>
        assert(f.exists(new org.apache.hadoop.fs.Path(root, rel)),
          s"referenced file missing after vacuum: $rel")
      }
    }
    // the aged crash leftover was collected; the fresh in-flight stage
    // survived the whole storm (grace period)
    assert(vacuumRemoved.contains("snap-7-oldcrash"))
    assert(!vacuumRemoved.contains("snap-8-inflight"))
    assert(f.exists(new org.apache.hadoop.fs.Path(root, "data/snap-8-inflight")))
    // zone maps written under concurrency still prune
    val (_, skipped) = Icebergish.pruneFiles(spark, root, col("id") === (threads * 1000))
    assert(skipped.nonEmpty, "stats written by racing commits should prune")
    info(s"losses retried: ${losses.get()}, vacuum removals: $vacuumRemoved")
  }
}
