package graft

import graft.data.DocsGen
import graft.streaming.Streaming
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

class StreamingSpec extends AnyFunSuite {
  lazy val spark = SparkTest.spark

  test("available-now streaming detect is incremental across restarts") {
    import spark.implicits._
    val srcDir = Files.createTempDirectory("docs_stream").toString
    val outDir = Files.createTempDirectory("mentions_out").toString
    val ckpt = Files.createTempDirectory("ckpt").toString
    val gaz = DocsGen.vocabEntries.toDS()

    // batch 1 arrives
    val g1 = DocsGen.gen(spark, 50, seed = 1)
    DocsGen.docs(g1).write.mode("append").parquet(srcDir)
    val q1 = Streaming.availableNowToParquet(
      Streaming.detectStream(Streaming.docsStream(spark, srcDir), gaz), outDir, ckpt)
    q1.awaitTermination()
    val n1 = spark.read.parquet(outDir).count()
    val expected1 = DocsGen.goldMentions(g1).count()
    assert(n1 == expected1)

    // batch 2 arrives; a new available-now run drains ONLY the new files
    val g2 = DocsGen.gen(spark, 30, seed = 2)
    DocsGen.docs(g2).map(d => d.copy(doc_id = d.doc_id + "-b2"))
      .write.mode("append").parquet(srcDir)
    val q2 = Streaming.availableNowToParquet(
      Streaming.detectStream(Streaming.docsStream(spark, srcDir), gaz), outDir, ckpt)
    q2.awaitTermination()
    val n2 = spark.read.parquet(outDir).count()
    assert(n2 == expected1 + DocsGen.goldMentions(g2).count())
  }

  test("a stream detects against a distributed gazetteer over the detect gate") {
    import spark.implicits._
    val srcDir = Files.createTempDirectory("docs_stream_big").toString
    val outDir = Files.createTempDirectory("mentions_big_out").toString
    val ckpt = Files.createTempDirectory("ckpt_big").toString
    val g = DocsGen.gen(spark, 30, seed = 3)
    DocsGen.docs(g).write.mode("append").parquet(srcDir)
    // decoys generated on the executors, one row over the gate: a batch
    // would take the partitioned strategy, which a stream cannot run
    val decoys = spark.range(graft.detect.Detector.BroadcastCap + 1L)
      .map(i => LargeGazetteerSpec.decoy(i.toInt))
    val q = Streaming.availableNowToParquet(
      Streaming.detectStream(Streaming.docsStream(spark, srcDir), DocsGen.vocabEntries.toDS().union(decoys)),
      outDir, ckpt)
    q.awaitTermination()
    def key(m: graft.core.Mention) = (m.doc_id, m.span_idx, m.entity_type, m.text, m.start, m.end)
    val got = spark.read.parquet(outDir).as[graft.core.Mention].collect().map(key).sorted.toSeq
    val expected = graft.detect.Detector.detect(
      graft.pipeline.KgPipeline.sentences(DocsGen.docs(g)), DocsGen.vocabEntries.toDS())
      .collect().map(key).sorted.toSeq
    assert(expected.nonEmpty)
    assert(got == expected)
  }

  test("stateful streaming exact-dedup keeps first doc per text across micro-batches") {
    import spark.implicits._
    val srcDir = Files.createTempDirectory("dedup_stream").toString
    val ckpt = Files.createTempDirectory("dedup_ckpt").toString

    // batch 1: two distinct texts, one duplicated within the batch
    Seq(
      Streaming.DocText("d2", "alpha text"),
      Streaming.DocText("d1", "alpha text"), // same text, smaller id wins
      Streaming.DocText("d3", "beta text")
    ).toDS().write.mode("append").parquet(srcDir)

    val outDir = Files.createTempDirectory("dedup_out").toString
    def drain(): Unit = {
      val stream = spark.readStream
        .schema(implicitly[org.apache.spark.sql.Encoder[Streaming.DocText]].schema)
        .parquet(srcDir).as[Streaming.DocText]
      val q = Streaming.dedupExactStream(stream)
        .writeStream.format("parquet")
        .option("path", outDir)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    def outSet() = spark.read.parquet(outDir)
      .select("doc_id", "text").as[(String, String)].collect().toSet
    drain()
    assert(outSet() == Set(("d1", "alpha text"), ("d3", "beta text")))

    // batch 2: a cross-batch duplicate (must be dropped — state store
    // remembers "alpha text") and one new text
    Seq(
      Streaming.DocText("d9", "alpha text"),
      Streaming.DocText("d4", "gamma text")
    ).toDS().write.mode("append").parquet(srcDir)
    drain()
    assert(outSet() == Set(("d1", "alpha text"), ("d3", "beta text"), ("d4", "gamma text")))
  }

  test("TTL-bounded dedup state machine: first-wins, TTL refresh, expiry forgets, re-arrival re-emits") {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}
    val ttl = Some("1 hours")
    def rows(ids: String*) = ids.iterator.map(id => Streaming.DocText(id, "alpha"))
    def freshState(init: Option[Boolean], timedOut: Boolean) =
      TestGroupState.create[Boolean](
        optionalState = init.map(org.apache.spark.api.java.Optional.of[Boolean])
          .getOrElse(org.apache.spark.api.java.Optional.empty[Boolean]()),
        timeoutConf = GroupStateTimeout.ProcessingTimeTimeout,
        batchProcessingTimeMs = 1000L,
        eventTimeWatermarkMs = org.apache.spark.api.java.Optional.empty[Long](),
        hasTimedOut = timedOut)

    // 1) first sighting: min doc_id emitted, state set, TTL armed
    val s1 = freshState(None, timedOut = false)
    assert(Streaming.dedupStep(rows("d2", "d1"), s1, ttl).toSeq.map(_.doc_id) == Seq("d1"))
    assert(s1.exists && s1.getTimeoutTimestampMs.isPresent)

    // 2) duplicate while state lives: suppressed, TTL refreshed
    val s2 = freshState(Some(true), timedOut = false)
    assert(Streaming.dedupStep(rows("d9"), s2, ttl).isEmpty)
    assert(s2.exists && s2.getTimeoutTimestampMs.isPresent)

    // 3) timer fires (no data for the group): state forgotten
    val s3 = freshState(Some(true), timedOut = true)
    assert(Streaming.dedupStep(Iterator.empty, s3, ttl).isEmpty)
    assert(s3.isRemoved)

    // 4) re-arrival after expiry: emitted again (windowed-dedup semantics)
    val s4 = freshState(None, timedOut = false)
    assert(Streaming.dedupStep(rows("d9"), s4, ttl).toSeq.map(_.doc_id) == Seq("d9"))

    // no-TTL mode never arms a timer (AvailableNow-safe)
    val s5 = TestGroupState.create[Boolean](
      org.apache.spark.api.java.Optional.empty[Boolean](), GroupStateTimeout.NoTimeout,
      1000L, org.apache.spark.api.java.Optional.empty[Long](), hasTimedOut = false)
    assert(Streaming.dedupStep(rows("d1"), s5, None).toSeq.map(_.doc_id) == Seq("d1"))
    assert(!s5.getTimeoutTimestampMs.isPresent)
  }

  test("end-to-end streaming KG construction is incremental, idempotent, and equals the batch pipeline") {
    import spark.implicits._
    val srcDir = Files.createTempDirectory("kg_stream").toString
    val outRoot = Files.createTempDirectory("kg_stream_out").toString + "/triples"
    val ckpt = Files.createTempDirectory("kg_stream_ckpt").toString
    val lex = graft.data.Lexicon.fromSurfaces(DocsGen.vocabEntries.toDS()).cache()
    def tripleSet(df: org.apache.spark.sql.DataFrame) =
      df.select("subj", "pred", "obj", "doc_id")
        .as[(String, String, String, String)].collect().toSet

    // wave 1
    val g1 = DocsGen.gen(spark, 60, seed = 21)
    DocsGen.docs(g1).write.mode("append").parquet(srcDir)
    Streaming.kgStream(Streaming.docsStream(spark, srcDir), lex, outRoot, ckpt)
      .awaitTermination()
    val batch1 = tripleSet(graft.pipeline.KgPipeline.run(DocsGen.docs(g1), lex).toDF())
    assert(tripleSet(graft.tables.Icebergish.read(spark, outRoot)) == batch1 && batch1.nonEmpty)

    // restart with nothing new: no extra snapshot, same triples
    val snapBefore = graft.tables.Icebergish.currentSnapshotId(spark, outRoot)
    Streaming.kgStream(Streaming.docsStream(spark, srcDir), lex, outRoot, ckpt)
      .awaitTermination()
    assert(graft.tables.Icebergish.currentSnapshotId(spark, outRoot) == snapBefore)

    // wave 2 arrives; only the new files are processed, triples accumulate;
    // compactEvery=2 rewrites the hot partitions into a REPLACE snapshot
    // (partition-scoped — the 100 TB small-files remedy)
    val filesBeforeCompact = graft.tables.Icebergish.fileSet(
      spark, outRoot, graft.tables.Icebergish.currentSnapshotId(spark, outRoot).get).size
    val g2 = DocsGen.gen(spark, 40, seed = 22)
    val docs2 = DocsGen.docs(g2).map(d => d.copy(doc_id = d.doc_id + "-w2"))
    docs2.write.mode("append").parquet(srcDir)
    Streaming.kgStream(Streaming.docsStream(spark, srcDir), lex, outRoot, ckpt, compactEvery = 2)
      .awaitTermination()
    val batch2 = tripleSet(graft.pipeline.KgPipeline.run(docs2, lex).toDF())
    assert(tripleSet(graft.tables.Icebergish.read(spark, outRoot)) == batch1 ++ batch2)
    val cur = graft.tables.Icebergish.currentSnapshotId(spark, outRoot).get
    assert(graft.tables.Icebergish.readManifest(spark, outRoot, cur).mode == "replace")
    // compaction shrank the live file set to ~one file per predicate
    // even though wave 2 ADDED a snapshot of files
    val filesAfter = graft.tables.Icebergish.fileSet(spark, outRoot, cur).size
    assert(filesAfter <= math.max(filesBeforeCompact, 5), s"$filesBeforeCompact -> $filesAfter files")
    lex.unpersist()
  }

  test("watermarked windowed aggregation over the events stream") {
    // file stream sources need a DIRECTORY; stage the events table into one
    val batchEvents = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    val eventsDir = Files.createTempDirectory("events_stream").toString
    batchEvents.write.mode("overwrite").parquet(eventsDir)
    val stream = spark.readStream.schema(batchEvents.schema).parquet(eventsDir)
    val agg = Streaming.windowedEventCounts(stream)
    val q = agg.writeStream.format("memory").queryName("winagg")
      .outputMode("append").trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    // append mode emits only watermark-closed windows; with a finite file
    // source every window except the tail closes
    val rows = spark.sql("select * from winagg").count()
    assert(rows > 0)
    // cross-check one closed window against a batch aggregation
    val batch = Streaming.windowedEventCounts(batchEvents).count()
    assert(rows <= batch)
  }
}
