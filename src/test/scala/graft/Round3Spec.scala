package graft

import graft.core.Hashing
import graft.ops.{Dedup, Multimodal}
import graft.streaming.Streaming
import graft.tables.{ConcurrentCommitException, Icebergish}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Round-3 hardening: table-layer crash/concurrency semantics, O(1) tag
  * lookups, writer-scoped streaming idempotence, collision-hardened exact
  * dedup, and untrusted-header multimodal decode.
  */
class Round3Spec extends AnyFunSuite {
  lazy val spark = SparkTest.spark

  private def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  // ------------------------------------------------------------- Icebergish

  test("a crash between manifest write and pointer flip leaves no orphan: the manifest is adopted") {
    import spark.implicits._
    val root = tmpDir("iceberg_orphan")
    Icebergish.commit(Seq((1, "a")).toDF("id", "v"), root)
    val s1 = Icebergish.commit(Seq((2, "b")).toDF("id", "v"), root, "append")
    assert(s1 == 1L)

    // simulate the torn window: the manifest for snapshot 1 is complete but
    // the pointer still says 0 (crash before the rename)
    val f = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = f.create(new org.apache.hadoop.fs.Path(root, "current"), true)
    out.write("0".getBytes("UTF-8")); out.close()

    // complete manifest implies visibility: readers resolve snapshot 1
    assert(Icebergish.currentSnapshotId(spark, root).contains(1L))
    assert(Icebergish.read(spark, root).count() == 2)
    // and the NEXT commit builds on top of the adopted manifest instead of
    // colliding on id 1 forever (the r2 failure mode)
    val s2 = Icebergish.commit(Seq((3, "c")).toDF("id", "v"), root, "append")
    assert(s2 == 2L)
    assert(Icebergish.read(spark, root).count() == 3)
  }

  test("concurrent commit: the stale-parent loser fails with a typed error and cleans up only its own staging") {
    import spark.implicits._
    val root = tmpDir("iceberg_race")
    Icebergish.commit(Seq((1, "winner")).toDF("id", "v"), root)

    // a second writer that resolved its parent BEFORE the winner committed
    // (stale parent -1 → it races for snapshot id 0)
    intercept[ConcurrentCommitException] {
      Icebergish.commitWithParent(
        Seq((2, "loser")).toDF("id", "v"), root, "append", Nil, None, Some(-1L))
    }
    // winner's table is untouched; loser's staged data dir was removed
    assert(Icebergish.currentSnapshotId(spark, root).contains(0L))
    assert(Icebergish.read(spark, root).as[(Int, String)].collect().toSeq == Seq((1, "winner")))
    val f = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dataDirs = f.listStatus(new org.apache.hadoop.fs.Path(root, "data")).map(_.getPath.getName)
    assert(dataDirs.length == 1 && dataDirs.head.startsWith("snap-0-"))
    // the loser retries on the winner's snapshot and succeeds
    val retry = Icebergish.commit(Seq((2, "loser")).toDF("id", "v"), root, "append")
    assert(retry == 1L)
    assert(Icebergish.read(spark, root).count() == 2)
  }

  test("idempotence tags are O(1) manifest reads on a 50-snapshot chain and survive compaction") {
    import spark.implicits._
    val root = tmpDir("iceberg_tags")
    (0 until 50).foreach { i =>
      Icebergish.commit(Seq((i, s"v$i")).toDF("id", "v"), root, "append", tag = Some(s"t$i"))
    }
    val before = Icebergish.manifestReadCount.get()
    val tags = Icebergish.tagRows(spark, root)
    val reads = Icebergish.manifestReadCount.get() - before
    assert(tags.keySet == (0 until 50).map(i => s"t$i").toSet)
    assert(tags.values.forall(_ == 1L))
    assert(reads <= 1, s"tag lookup read $reads manifests on a 50-snapshot chain (want 1: the roll-up)")

    // compaction cuts the FILE chain but must not forget committed work
    Icebergish.compact(spark, root, targetFiles = 1)
    val afterCompact = Icebergish.committedTags(spark, root)
    assert((0 until 50).map(i => s"t$i").toSet.subsetOf(afterCompact))
  }

  test("partition-scoped upsert rewrites only the touched partitions; history and vacuum-safety intact") {
    import spark.implicits._
    val root = tmpDir("iceberg_upsert")
    val s0 = Icebergish.commit(
      Seq(("d1", "s1", "treated_by", "o1"), ("d2", "s2", "has_finding", "o2"),
        ("d3", "s3", "treated_by", "o3")).toDF("doc_id", "subj", "pred", "obj"),
      root, "append", partitionBy = Seq("pred"))
    val filesBefore = Icebergish.fileSet(spark, root, s0)
    val hfBefore = filesBefore.filter(_.contains("pred=has_finding"))
    assert(hfBefore.nonEmpty)

    // update d1, insert d9 — both in treated_by; has_finding untouched
    val s1 = Icebergish.upsertPartitions(
      Seq(("d1", "s1", "treated_by", "oNEW"), ("d9", "s9", "treated_by", "o9"))
        .toDF("doc_id", "subj", "pred", "obj"),
      root, partitionBy = Seq("pred"), keyCols = Seq("doc_id"))

    val rows = Icebergish.read(spark, root)
      .select("doc_id", "subj", "pred", "obj")
      .as[(String, String, String, String)].collect().toSet
    assert(rows == Set(
      ("d1", "s1", "treated_by", "oNEW"), ("d2", "s2", "has_finding", "o2"),
      ("d3", "s3", "treated_by", "o3"), ("d9", "s9", "treated_by", "o9")))

    // the untouched partition keeps its ORIGINAL files; the touched one
    // dropped all of its old files from the live set
    val filesAfter = Icebergish.fileSet(spark, root, s1)
    assert(hfBefore.forall(filesAfter.contains))
    assert(filesBefore.filter(_.contains("pred=treated_by")).forall(f => !filesAfter.contains(f)))
    // time travel to the pre-upsert snapshot sees the original rows
    assert(Icebergish.read(spark, root, Some(s0))
      .select("doc_id", "obj").as[(String, String)].collect().toSet ==
      Set(("d1", "o1"), ("d2", "o2"), ("d3", "o3")))
    // removed files are still manifest-referenced: vacuum must not touch them
    assert(Icebergish.vacuum(spark, root).isEmpty)
  }

  test("upsert and partition compaction handle hive-escaped partition values") {
    import spark.implicits._
    val root = tmpDir("iceberg_escape")
    // a partition value needing hive escaping (space)
    (0 until 3).foreach { i =>
      Icebergish.commit(
        Seq((s"d$i", "treated by", s"o$i")).toDF("doc_id", "pred", "obj"),
        root, "append", partitionBy = Seq("pred"))
    }
    val s1 = Icebergish.upsertPartitions(
      Seq(("d0", "treated by", "oNEW")).toDF("doc_id", "pred", "obj"),
      root, partitionBy = Seq("pred"), keyCols = Seq("doc_id"))
    assert(Icebergish.readManifest(spark, root, s1).mode == "replace")
    assert(Icebergish.read(spark, root)
      .select("doc_id", "obj").as[(String, String)].collect().toSet ==
      Set(("d0", "oNEW"), ("d1", "o1"), ("d2", "o2")))
    val sc = Icebergish.compactPartitions(spark, root, Seq("pred"), maxFilesPerPartition = 1)
    assert(Icebergish.fileSet(spark, root, sc).size == 1)
    assert(Icebergish.read(spark, root).count() == 3)
  }

  test("upsert and partition compaction select the null partition by its recorded value") {
    import spark.implicits._
    val root = tmpDir("iceberg_null_part")
    (0 until 2).foreach { i =>
      Icebergish.commit(Seq((s"d$i", null.asInstanceOf[String], s"o$i"), (s"t$i", "treats", s"o$i"))
        .toDF("doc_id", "pred", "obj"), root, "append", partitionBy = Seq("pred"))
    }
    val s1 = Icebergish.upsertPartitions(
      Seq(("d0", null.asInstanceOf[String], "oNEW")).toDF("doc_id", "pred", "obj"),
      root, partitionBy = Seq("pred"), keyCols = Seq("doc_id"))
    assert(Icebergish.readManifest(spark, root, s1).mode == "replace")
    def rows() = Icebergish.read(spark, root).select("doc_id", "pred", "obj")
      .as[(String, String, String)].collect().toSet
    val want = Set(("d0", null, "oNEW"), ("d1", null, "o1"), ("t0", "treats", "o0"), ("t1", "treats", "o1"))
    assert(rows() == want)
    // the treats partition kept its two original files
    assert(Icebergish.fileSet(spark, root, s1).count(_.contains("pred=treats")) == 2)
    val sc = Icebergish.compactPartitions(spark, root, Seq("pred"), maxFilesPerPartition = 1)
    assert(Icebergish.fileSet(spark, root, sc).size == 2)
    assert(rows() == want)
  }

  test("upsert over a mixed-layout chain falls back to a full copy-on-write overwrite") {
    import spark.implicits._
    val root = tmpDir("iceberg_upsert_mixed")
    Icebergish.commit( // legacy UNPARTITIONED snapshot
      Seq(("d1", "s1", "treated_by", "o1")).toDF("doc_id", "subj", "pred", "obj"), root)
    Icebergish.commit(
      Seq(("d2", "s2", "has_finding", "o2")).toDF("doc_id", "subj", "pred", "obj"),
      root, "append", partitionBy = Seq("pred"))
    val s = Icebergish.upsertPartitions(
      Seq(("d1", "s1", "treated_by", "oNEW")).toDF("doc_id", "subj", "pred", "obj"),
      root, partitionBy = Seq("pred"), keyCols = Seq("doc_id"))
    assert(Icebergish.readManifest(spark, root, s).mode == "overwrite")
    assert(Icebergish.read(spark, root)
      .select("doc_id", "obj").as[(String, String)].collect().toSet ==
      Set(("d1", "oNEW"), ("d2", "o2")))
  }

  test("partition-scoped compaction rewrites only hot partitions; cold ones keep their files") {
    import spark.implicits._
    val root = tmpDir("iceberg_pcompact")
    // 4 tiny appends to treated_by, 1 to has_finding
    (0 until 4).foreach { i =>
      Icebergish.commit(Seq((s"d$i", s"s$i", "treated_by", s"o$i")).toDF("doc_id", "subj", "pred", "obj"),
        root, "append", partitionBy = Seq("pred"))
    }
    Icebergish.commit(Seq(("dh", "sh", "has_finding", "oh")).toDF("doc_id", "subj", "pred", "obj"),
      root, "append", partitionBy = Seq("pred"))
    val before = Icebergish.read(spark, root)
      .select("doc_id", "obj").as[(String, String)].collect().toSet
    val sBefore = Icebergish.currentSnapshotId(spark, root).get
    val hfFiles = Icebergish.fileSet(spark, root, sBefore).filter(_.contains("pred=has_finding"))

    val sc = Icebergish.compactPartitions(spark, root, Seq("pred"), maxFilesPerPartition = 2)
    assert(sc != sBefore)
    assert(Icebergish.readManifest(spark, root, sc).mode == "replace")
    val after = Icebergish.fileSet(spark, root, sc)
    assert(after.count(_.contains("pred=treated_by")) == 1, s"treated_by not compacted: $after")
    assert(hfFiles.forall(after.contains), "cold partition's files were rewritten")
    assert(Icebergish.read(spark, root)
      .select("doc_id", "obj").as[(String, String)].collect().toSet == before)
    // nothing left over the threshold → idempotent no-op
    assert(Icebergish.compactPartitions(spark, root, Seq("pred"), 2) == sc)
    // time travel to the pre-compaction snapshot intact
    assert(Icebergish.read(spark, root, Some(sBefore))
      .select("doc_id", "obj").as[(String, String)].collect().toSet == before)
  }

  test("model-based: random append/upsert/overwrite/compact sequences match an in-memory model, including time travel") {
    import spark.implicits._
    val preds = Seq("treated_by", "has_finding", "located_in")
    val rnd = new scala.util.Random(20260817L)
    def predOf(key: Int) = preds(math.abs(key) % preds.length) // keys never move partitions
    val root = tmpDir("iceberg_model")
    val model = scala.collection.mutable.Map.empty[Int, String] // doc key -> obj
    val history = scala.collection.mutable.ListBuffer.empty[(Long, Map[Int, String])]
    var nextKey = 0

    def toDf(rows: Map[Int, String]) =
      rows.toSeq.map { case (k, o) => (s"d$k", predOf(k), o) }.toDF("doc_id", "pred", "obj")
    def tableState(): Map[Int, String] =
      Icebergish.read(spark, root).select("doc_id", "obj")
        .as[(String, String)].collect().toMap
        .map { case (d, o) => d.stripPrefix("d").toInt -> o }

    (0 until 18).foreach { step =>
      val op = rnd.nextInt(10)
      val id: Long =
        if (step == 0 || op <= 3) { // append fresh keys
          val fresh = (0 until (1 + rnd.nextInt(3))).map { _ =>
            nextKey += 1; nextKey -> s"o$step-$nextKey"
          }.toMap
          model ++= fresh
          Icebergish.commit(toDf(fresh), root, "append", partitionBy = Seq("pred"))
        } else if (op <= 6 && model.nonEmpty) { // upsert: update some + insert one
          val updates = rnd.shuffle(model.keys.toSeq).take(1 + rnd.nextInt(2))
            .map(k => k -> s"u$step-$k").toMap
          nextKey += 1
          val batch = updates + (nextKey -> s"o$step-$nextKey")
          model ++= batch
          Icebergish.upsertPartitions(toDf(batch), root, Seq("pred"), Seq("doc_id"))
        } else if (op == 7) { // overwrite with a fresh small set
          model.clear()
          nextKey += 1
          model += nextKey -> s"w$step"
          Icebergish.commit(toDf(model.toMap), root, "overwrite", partitionBy = Seq("pred"))
        } else { // partition-scoped compaction (may be a no-op)
          Icebergish.compactPartitions(spark, root, Seq("pred"), maxFilesPerPartition = 2)
        }
      assert(tableState() == model.toMap, s"divergence after step $step (op $op)")
      history += ((id, model.toMap))
    }
    // time travel: every recorded snapshot still reads as its model did
    rnd.shuffle(history.toSeq).take(6).foreach { case (snap, expected) =>
      val got = Icebergish.read(spark, root, Some(snap)).select("doc_id", "obj")
        .as[(String, String)].collect().toMap
        .map { case (d, o) => d.stripPrefix("d").toInt -> o }
      assert(got == expected, s"time travel to $snap diverged")
    }
    assert(Icebergish.vacuum(spark, root).isEmpty) // nothing unreferenced
  }

  test("vacuum removes only unreferenced staging dirs; committed and historical data survive") {
    import spark.implicits._
    val root = tmpDir("iceberg_vacuum")
    Icebergish.commit(Seq((1, "a")).toDF("id", "v"), root)
    Icebergish.commit(Seq((2, "b")).toDF("id", "v"), root, "overwrite")
    // a crashed writer's staging: data dir with no manifest
    val f = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val orphan = new org.apache.hadoop.fs.Path(root, "data/snap-9-deadbeef")
    f.mkdirs(orphan)
    f.create(new org.apache.hadoop.fs.Path(orphan, "part-0.parquet"), true).close()
    // a CRASHED stage is old by definition; age it (dir AND contents —
    // vacuum judges by the newest mtime anywhere inside) past the grace
    // (a fresh unreferenced dir is, by contract, an in-flight commit's
    // staging and must survive — see the r5 vacuum-concurrency test)
    val aged = java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - 3600_000L)
    java.nio.file.Files.setLastModifiedTime(
      java.nio.file.Paths.get(root, "data/snap-9-deadbeef/part-0.parquet"), aged)
    java.nio.file.Files.setLastModifiedTime(
      java.nio.file.Paths.get(root, "data/snap-9-deadbeef"), aged)

    val removed = Icebergish.vacuum(spark, root)
    assert(removed == Seq("snap-9-deadbeef"))
    assert(Icebergish.read(spark, root).count() == 1)
    // historical snapshot 0 (cut by the overwrite) still time-travels
    assert(Icebergish.read(spark, root, Some(0L)).count() == 1)
    assert(Icebergish.vacuum(spark, root).isEmpty) // idempotent
  }

  test("same-bucketed tables join with zero exchanges on either side") {
    import spark.implicits._
    import graft.tables.Bucketing
    val base = tmpDir("bucketed")
    val a = (0L until 2000L).map(i => (i, s"payload-$i")).toDF("doc_id", "text")
    val b = (0L until 2000L).map(i => (i, i * 2.0)).toDF("doc_id", "score")
    Bucketing.writeBucketed(a, "r3_bucket_a", "doc_id", 8, s"$base/a")
    Bucketing.writeBucketed(b, "r3_bucket_b", "doc_id", 8, s"$base/b")
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // disable broadcast so the co-location claim is about the SHUFFLE
      // join the planner would otherwise build at scale
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val j = Bucketing.cocatedJoin(spark, "r3_bucket_a", "r3_bucket_b", "doc_id")
      assert(j.count() == 2000)
      val p = j.queryExecution.executedPlan.toString
      assert(!p.contains("Exchange"),
        s"bucketed join still exchanges:\n$p")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS r3_bucket_a")
      spark.sql("DROP TABLE IF EXISTS r3_bucket_b")
    }
  }

  // ------------------------------------------------------------- streaming

  test("kgStream fails fast on a fresh checkpoint pointed at a table with this writer's old commits") {
    import spark.implicits._
    val srcDir = tmpDir("kg_guard_src")
    val outRoot = tmpDir("kg_guard_out") + "/triples"
    val ckpt = tmpDir("kg_guard_ckpt") + "/ckpt"
    val lex = graft.data.Lexicon.fromSurfaces(graft.data.DocsGen.vocabEntries.toDS()).cache()

    val g = graft.data.DocsGen.gen(spark, 30, seed = 31)
    graft.data.DocsGen.docs(g).write.mode("append").parquet(srcDir)
    Streaming.kgStream(Streaming.docsStream(spark, srcDir), lex, outRoot, ckpt)
      .awaitTermination()
    assert(Icebergish.read(spark, outRoot).count() > 0)

    // deleting the checkpoint and restarting at the SAME path restarts
    // batch ids at 0 — every batch would silently match an old tag and be
    // dropped; the guard must refuse instead
    val f = new org.apache.hadoop.fs.Path(ckpt)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    f.delete(new org.apache.hadoop.fs.Path(ckpt), true)
    val e = intercept[IllegalStateException] {
      Streaming.kgStream(Streaming.docsStream(spark, srcDir), lex, outRoot, ckpt)
    }
    assert(e.getMessage.contains("fresh checkpoint"))
    lex.unpersist()
  }

  test("true concurrent committers: every loser gets a typed error, retries, and no row is lost") {
    import spark.implicits._
    val root = tmpDir("iceberg_threads")
    val perThread = 6
    val threads = 3
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    val losses = new java.util.concurrent.atomic.AtomicInteger(0)
    try {
      val futs = (0 until threads).map { t =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit = (0 until perThread).foreach { i =>
            var done = false
            while (!done) {
              try {
                Icebergish.commit(Seq((t * 100 + i, s"w$t-$i")).toDF("id", "v"), root, "append")
                done = true
              } catch {
                case _: ConcurrentCommitException => losses.incrementAndGet() // retry on the winner
              }
            }
          }
        })
      }
      futs.foreach(_.get())
    } finally pool.shutdown()
    // no losses of DATA: every row committed exactly once, chain consistent
    val rows = Icebergish.read(spark, root).select("id").as[Int].collect().toSet
    assert(rows.size == threads * perThread, s"lost rows: ${rows.size}/${threads * perThread}")
    assert(Icebergish.currentSnapshotId(spark, root).contains((threads * perThread - 1).toLong))
    // staged leftovers from lost races are vacuumable garbage, not corruption
    Icebergish.vacuum(spark, root)
    assert(Icebergish.read(spark, root).count() == threads * perThread)
    info(s"commit races lost and retried: ${losses.get()}")
  }

  test("streaming metadata stays O(1) per micro-batch over a 12-batch drain") {
    import spark.implicits._
    val srcDir = tmpDir("kg_meta_src")
    val outRoot = tmpDir("kg_meta_out") + "/triples"
    val ckpt = tmpDir("kg_meta_ckpt") + "/ckpt"
    val lex = graft.data.Lexicon.fromSurfaces(graft.data.DocsGen.vocabEntries.toDS()).cache()
    val g = graft.data.DocsGen.gen(spark, 120, seed = 51)
    graft.data.DocsGen.docs(g).repartition(12).write.mode("append").parquet(srcDir)

    val before = Icebergish.manifestReadCount.get()
    Streaming.kgStream(
      Streaming.docsStream(spark, srcDir, maxFilesPerTrigger = 1), lex, outRoot, ckpt)
      .awaitTermination()
    val reads = Icebergish.manifestReadCount.get() - before
    val batches = Icebergish.committedTags(spark, outRoot).count(_.startsWith("batch-"))
    assert(batches >= 12)
    // the r2 design read ALL manifests per batch (~batches²/2 ≈ 70+ reads
    // by batch 12); the roll-up reads O(1) per batch
    assert(reads <= batches * 5, s"$reads manifest reads over $batches batches — not O(1)/batch")
    lex.unpersist()
  }

  test("kgStream with maxFilesPerTrigger bounds micro-batches: several idempotent commits per drain") {
    import spark.implicits._
    val srcDir = tmpDir("kg_rate_src")
    val outRoot = tmpDir("kg_rate_out") + "/triples"
    val ckpt = tmpDir("kg_rate_ckpt") + "/ckpt"
    val lex = graft.data.Lexicon.fromSurfaces(graft.data.DocsGen.vocabEntries.toDS()).cache()

    val g = graft.data.DocsGen.gen(spark, 90, seed = 41)
    // 3 source files → with maxFilesPerTrigger=1, one AvailableNow drain
    // processes them as 3 micro-batches, each its own tagged snapshot
    graft.data.DocsGen.docs(g).repartition(3).write.mode("append").parquet(srcDir)
    Streaming.kgStream(
      Streaming.docsStream(spark, srcDir, maxFilesPerTrigger = 1), lex, outRoot, ckpt)
      .awaitTermination()

    val tags = Icebergish.committedTags(spark, outRoot).filter(_.startsWith("batch-"))
    assert(tags.size >= 3, s"expected >=3 bounded micro-batch commits, got $tags")
    // and the result equals the batch pipeline over the same docs
    val streamed = Icebergish.read(spark, outRoot)
      .select("subj", "pred", "obj", "doc_id")
      .as[(String, String, String, String)].collect().toSet
    val direct = graft.pipeline.KgPipeline.run(graft.data.DocsGen.docs(g), lex)
      .collect().map(t => (t.subj, t.pred, t.obj, t.doc_id)).toSet
    assert(streamed == direct && streamed.nonEmpty)
    lex.unpersist()
  }

  // ------------------------------------------------------- exact-dedup keys

  test("exact dedup survives an engineered first-hash collision (widened identity key)") {
    import spark.implicits._
    val df = Seq((1L, "alpha"), (2L, "alpha"), (3L, "bravo!")).toDF("id", "text")

    // sanity on the real key
    assert(Dedup.dropExactDuplicates(df, "text", "id")
      .select("id").as[Long].collect().sorted.toSeq == Seq(1L, 3L))

    // mock hasher: the FIRST hash component degenerates to a constant —
    // i.e. "alpha" and "bravo!" collide on hash1. The widened key (second
    // independent hash + length) must still keep distinct texts apart.
    val collidingKey = Seq(lit(0L), xxhash64(lit(0x5EED2L), col("text")), length(col("text")))
    assert(Dedup.dropExactDuplicatesByKey(df, collidingKey, "id")
      .select("id").as[Long].collect().sorted.toSeq == Seq(1L, 3L))
    val groups = Dedup.exactGroupsByKey(df, collidingKey, "id")
      .select("n_docs", "keep_id").as[(Long, Long)].collect().toSeq
    assert(groups == Seq((2L, 1L))) // only the true duplicate pair groups
  }

  test("streaming exact dedup survives an engineered first-hash collision") {
    import spark.implicits._
    val srcDir = tmpDir("dedup_collide_src")
    Seq(
      Streaming.DocText("d1", "alpha"),
      Streaming.DocText("d3", "alpha"), // true duplicate: dropped
      Streaming.DocText("d2", "bravo!") // hash1-colliding DISTINCT text: kept
    ).toDS().write.mode("append").parquet(srcDir)
    val stream = spark.readStream
      .schema(implicitly[org.apache.spark.sql.Encoder[Streaming.DocText]].schema)
      .parquet(srcDir).as[Streaming.DocText]
    val name = "round3_dedup_collide"
    val q = Streaming
      .dedupExactStream(stream,
        keyOf = d => (0L, Hashing.hashString(d.text, 0x5EED2L), d.text.length))
      .writeStream.format("memory").queryName(name)
      .option("checkpointLocation", tmpDir("dedup_collide_ckpt"))
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(spark.table(name).select("doc_id").as[String].collect().sorted.toSeq == Seq("d1", "d2"))
  }

  // ------------------------------------------------------- CC oracle bounds

  test("a surface shared by two concepts MERGES their components — the case the star-shaped oracle excludes") {
    import spark.implicits._
    // The driver's kg_components oracle models every component as ONE
    // concept plus its surfaces, valid because the generator never maps a
    // surface to two concepts (asserted in Fixtures.stage). This covers
    // the excluded case: a shared surface must merge the two stars, on
    // BOTH the driver union-find path and the contraction loop.
    val edges = Seq(
      ("S:a", "C1"), ("S:shared", "C1"),
      ("S:shared", "C2"), ("S:b", "C2"),
      ("S:c", "C3")).toDF("src", "dst")
    val driver = graft.canon.Canon.connectedComponents(edges)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(driver("C1") == "C1" && driver("C2") == "C1" && driver("S:shared") == "C1")
    assert(driver("S:a") == "C1" && driver("S:b") == "C1")
    assert(driver("C3") == "C3" && driver("S:c") == "C3")
    val contraction = graft.canon.Canon.connectedComponents(edges, driverMaxEdges = 0)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(contraction == driver)
  }

  // ---------------------------------------------------------- skew generator

  test("hubFrac generator: hubFrac=0 is byte-identical to the r2 generator; hubFrac=0.3 plants the hub") {
    import graft.data.DocsGen
    val n = 2000L
    val base = (0L until n).map(i => DocsGen.buildDoc(i, 42L))
    val zero = (0L until n).map(i => DocsGen.buildDoc(i, 42L, hubFrac = 0.0))
    assert(base.map(_.doc) == zero.map(_.doc), "hubFrac=0 must not perturb the generator")

    def hubDocs(g: Seq[DocsGen.GoldDoc]): Int = g.count(_.mentions.exists(m =>
      m.text == DocsGen.HubSurface && m.entity_type == DocsGen.HubType))
    val natural = hubDocs(base) / n.toDouble
    val skewed = hubDocs((0L until n).map(i => DocsGen.buildDoc(i, 42L, hubFrac = 0.3))) / n.toDouble
    assert(natural < 0.15, s"uniform corpus already hub-heavy: $natural")
    assert(skewed > 0.28 && skewed < 0.5, s"skewed hub share $skewed not ~0.3+natural")
  }

  // ------------------------------------------------------------ trained IVF

  test("trained IVF codebook reaches recall@5 >= 0.8 with nprobe 4 of 64 cells on clustered embeddings") {
    import spark.implicits._
    // clustered synthetic corpus: 64 well-separated centers, 4000 points —
    // the regime where a TRAINED codebook must beat the hash sample (the
    // r2 codebook needed nprobe 12/16 ≈ scanning 75% of the corpus; the
    // 100 TB operating point is √n cells with nprobe 1-4)
    val dim = 32
    val centers = Array.tabulate(64)(i => Hashing.embedding(s"center$i", dim))
    val pts = (0 until 4000).map { i =>
      val c = centers(Hashing.pick(Hashing.hash2(7L, i), 64))
      val v = Array.tabulate(dim)(d =>
        c(d) + (Hashing.uniformDouble(Hashing.hash2(i.toLong * 131 + d, 3L)) * 0.2 - 0.1).toFloat)
      (i.toLong, v)
    }
    val e = pts.toDF("vec_id", "embedding")
    val q = e.filter(col("vec_id") < 20)
    val brute = graft.ops.Similarity.bruteForceTopK(e, q, "vec_id", "embedding", 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = graft.ops.Similarity.ivfTopK(e, q, "vec_id", "embedding", 5,
      nCentroids = 64, nprobe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute & ivf).size.toDouble / brute.size
    assert(recall >= 0.8, s"trained-IVF recall@5 = $recall with nprobe 4/64")
  }

  test("kmeansCodebook is deterministic and refines the hash-sample codebook's assignment cost") {
    val dim = 16
    val sample = (0 until 1000).map { i =>
      val c = Hashing.embedding(s"k${i % 8}", dim)
      (i.toLong, Array.tabulate(dim)(d =>
        c(d) + (Hashing.uniformDouble(Hashing.hash2(i.toLong, d.toLong)) * 0.1 - 0.05).toFloat))
    }
    val a = graft.ops.Similarity.kmeansCodebook(sample, 8, 8)
    val b = graft.ops.Similarity.kmeansCodebook(sample, 8, 8)
    assert(a.map(_._2.toSeq).toSeq == b.map(_._2.toSeq).toSeq) // bit-identical reruns
    def cost(cents: Array[(Long, Array[Float])]): Double = sample.map { case (_, v) =>
      val idx = graft.ops.Similarity.nearestCentroids(v, cents, 1)(0)
      val c = cents(idx)._2
      1.0 - (v.zip(c).map { case (x, y) => x.toDouble * y }.sum /
        math.max(math.sqrt(v.map(x => x.toDouble * x).sum) * math.sqrt(c.map(x => x.toDouble * x).sum), 1e-12))
    }.sum
    val trained = cost(a)
    val hashSample = cost(graft.ops.Similarity.ivfCentroids(sample, 8))
    assert(trained <= hashSample, s"k-means cost $trained worse than hash-sample $hashSample")
  }

  // ------------------------------------------------- real-embedding lexicon

  test("link path with a REAL 128-dim embedding table from parquet; int8 cuts the broadcast ~4x") {
    import spark.implicits._
    import graft.data.{DocsGen, Lexicon}
    import graft.link.Linker
    val dim = 128
    // the "real" table: precomputed concept vectors materialized to parquet
    // and read back — the production shape where embeddings are trained
    // artifacts, not hashes (deterministic here so the test is stable)
    val embDir = tmpDir("lex_emb") + "/emb.parquet"
    DocsGen.vocabEntries.map { case (surf, _) => (surf, Hashing.embedding("enc|" + surf, dim)) }
      .toDF("surface", "embedding").write.mode("overwrite").parquet(embDir)
    val embTable = spark.read.parquet(embDir).as[(String, Array[Float])]
    val lex128 = Lexicon.fromSurfacesWithEmbeddings(
      DocsGen.vocabEntries.toDS(), embTable, dim).cache()
    assert(lex128.collect().forall(_.embedding.length == dim))

    val g = DocsGen.gen(spark, 150, seed = 9)
    def conceptSet(l: org.apache.spark.sql.Dataset[graft.core.LinkedMention]) =
      l.collect().map(x => (x.doc_id, x.span_idx, x.start, x.concept_id)).toSet
    val base = conceptSet(Linker.link(
      DocsGen.goldMentions(g), Lexicon.fromSurfaces(DocsGen.vocabEntries.toDS())))
    val real = conceptSet(Linker.link(DocsGen.goldMentions(g), lex128, ctxDim = dim))
    assert(real == base && real.nonEmpty, "concept assignment changed under the real embedding table")

    // measured broadcast-size cut from int8 quantization at dim 128:
    // the embedding payload (what quantization targets) shrinks ~4x; the
    // whole entry less, because the id/surface/type strings are shared
    val entries = lex128.collect()
    val qEntries = Lexicon.quantize(lex128).collect()
    val fullBytes = org.apache.spark.util.SizeEstimator.estimate(entries)
    val quantBytes = org.apache.spark.util.SizeEstimator.estimate(qEntries)
    val fullEmb = org.apache.spark.util.SizeEstimator.estimate(entries.map(_.embedding))
    val quantEmb = org.apache.spark.util.SizeEstimator.estimate(qEntries.map(_.qembedding))
    info(f"lexicon broadcast at dim=$dim: entries float=$fullBytes%d B int8=$quantBytes%d B " +
      f"(${fullBytes.toDouble / quantBytes}%.2fx); embedding payload $fullEmb%d B -> $quantEmb%d B " +
      f"(${fullEmb.toDouble / quantEmb}%.2fx)")
    assert(fullEmb.toDouble / quantEmb > 3.0, s"int8 payload cut only ${fullEmb.toDouble / quantEmb}x")
    assert(fullBytes.toDouble / quantBytes > 1.8, s"entry cut only ${fullBytes.toDouble / quantBytes}x")

    // and the quantize→dequantize round trip preserves the assignment
    val viaQuant = conceptSet(Linker.link(
      DocsGen.goldMentions(g), Lexicon.dequantize(Lexicon.quantize(lex128)), ctxDim = dim))
    assert(viaQuant == base)
    lex128.unpersist()
  }

  // ---------------------------------------------------------- temporal joins

  test("asOfJoin picks the latest right row at-or-before each left timestamp; rangeJoinCount hits exact bounds") {
    import spark.implicits._
    import graft.ops.Temporal
    val left = Seq((1L, "u", 100L), (2L, "u", 250L), (3L, "u", 50L), (4L, "v", 500L))
      .toDF("event_id", "user_id", "ts_us")
    val right = Seq(("u", 100L, 1.0), ("u", 200L, 2.0), ("v", 600L, 9.0))
      .toDF("user_id", "ts_us", "pvalue")
    val out = Temporal.asOfJoin(left, right, "user_id", "ts_us", "pvalue")
      .select("event_id", "pvalue_asof")
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    // equal-ts right row matches (inclusive); no prior row → null
    assert(out == Map(1L -> Some(1.0), 2L -> Some(2.0), 3L -> None, 4L -> None))

    // range join: exact ±range boundary is INCLUDED; bucket edges covered
    val errs = Seq((10L, "u", 1000000L)).toDF("event_id", "user_id", "ts_us")
    val evts = Seq(("u", 0L), ("u", 1000000L), ("u", 2000000L), ("u", 2000001L), ("v", 1000000L))
      .toDF("user_id", "ts_us")
    val n = Temporal.rangeJoinCount(errs, evts, "user_id", "event_id",
      col("ts_us"), col("ts_us"), rangeUs = 1000000L)
      .select("n_in_range").as[Long].head()
    assert(n == 3) // 0, 1000000, 2000000 in range; 2000001 out; other user out
  }

  // ----------------------------------------------- sessionization x-check

  test("native session_window agrees with the manual window-lag sessionization") {
    val manual = SparkEntry.queries("q_events_sessionize")(spark, "/root/testdata/sf0.001")
      .collect().map(_.toSeq).toSeq
    val native = SparkEntry.queries("q_events_session_window")(spark, "/root/testdata/sf0.001")
      .collect().map(_.toSeq).toSeq
    assert(native == manual && manual.nonEmpty)
    // the two differ only at an EXACT-gap pair; assert the data has none
    // (so the shared oracle is valid for both derivations)
    import org.apache.spark.sql.functions._
    val exact = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .withColumn("t", unix_micros(col("ts").cast("timestamp")))
      .withColumn("d", col("t") - lag("t", 1).over(
        org.apache.spark.sql.expressions.Window.partitionBy("user_id").orderBy("t")))
      .filter(col("d") === 1800L * 1000000L).count()
    assert(exact == 0L)
  }

  // --------------------------------------------------- deterministic sample

  test("sampling: partition-independent gates, per-stratum rates, disjoint exhaustive splits") {
    import spark.implicits._
    import graft.ops.Sampling
    val df = (0L until 20000L).map(i => (i, if (i % 3 == 0) "zh" else "en")).toDF("doc_id", "lang")

    // identical sample under wildly different partitioning
    val a = Sampling.bernoulli(df, "doc_id", 0.3, seed = 11).select("doc_id").as[Long].collect().toSet
    val b = Sampling.bernoulli(df.repartition(17), "doc_id", 0.3, seed = 11)
      .select("doc_id").as[Long].collect().toSet
    assert(a == b)
    assert(math.abs(a.size / 20000.0 - 0.3) < 0.02)

    // stratified rates hold per stratum
    val s = Sampling.stratified(df, "doc_id", "lang", Map("zh" -> 0.9), defaultFrac = 0.1, seed = 12)
    val byLang = s.groupBy("lang").count().as[(String, Long)].collect().toMap
    assert(math.abs(byLang("zh") / (20000 / 3.0) - 0.9) < 0.05)
    assert(math.abs(byLang("en") / (20000 * 2 / 3.0) - 0.1) < 0.05)

    // folds are disjoint and (summing to 1) exhaustive
    val folds = Sampling.split(df, "doc_id", Seq(0.7, 0.2, 0.1), seed = 13)
      .map(_.select("doc_id").as[Long].collect().toSet)
    assert(folds(0).intersect(folds(1)).isEmpty && folds(0).intersect(folds(2)).isEmpty
      && folds(1).intersect(folds(2)).isEmpty)
    assert(folds.map(_.size).sum == 20000)
    assert(math.abs(folds(0).size / 20000.0 - 0.7) < 0.02)
  }

  // ------------------------------------------------------------ graph k-hop

  test("kHop assigns exact BFS levels, stops at k, and treats edges as undirected") {
    import spark.implicits._
    // path a-b-c-d-e plus a side branch b-x; seed at a, k=2
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"), ("x", "b"))
      .toDF("subj", "obj")
    val levels = graft.graph.GraphOps.kHop(edges, Seq("a"), 2)
      .as[(String, Int)].collect().toMap
    assert(levels == Map("a" -> 0, "b" -> 1, "c" -> 2, "x" -> 2)) // d,e beyond 2 hops
    // undirected: seeding at e reaches d then c
    val fromE = graft.graph.GraphOps.kHop(edges, Seq("e"), 2)
      .as[(String, Int)].collect().toMap
    assert(fromE == Map("e" -> 0, "d" -> 1, "c" -> 2))
  }

  test("curation funnel is deterministic under repartitioning") {
    import spark.implicits._
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    def run(df: org.apache.spark.sql.DataFrame) =
      graft.ops.Curation.curate(df, "doc_id", "text",
        allowedLangs = Set("en", "zh"), minQuality = 0.5,
        sampleRates = Map("en" -> 0.8, "zh" -> 1.0), defaultRate = 0.6, seed = 0xCA7EL)
        .as[Long].collect().toSet
    val a = run(docs)
    val b = run(docs.repartition(13))
    assert(a == b && a.nonEmpty && a.size < docs.count())
  }

  // ------------------------------------------------- native SimHash64 expr

  test("SimHash64 native expression equals the scalar kernel, works in SQL, and stays in codegen") {
    import spark.implicits._
    val texts = Seq("the quick brown fox", "患者的食管有病变", "", "x  y\tz")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    // Column API equals the scalar kernel
    val viaExpr = df.select(col("id"), graft.functions.SimHash64.simhash64(col("text")).as("sh"))
      .as[(Long, Long)].collect().toMap
    texts.zipWithIndex.foreach { case (t, i) =>
      assert(viaExpr(i.toLong) == graft.ops.Dedup.simhash(t), s"simhash64($t)")
    }
    // SQL registration
    graft.functions.SimHash64.register(spark)
    df.createOrReplaceTempView("r3_simhash_in")
    val viaSql = spark.sql("SELECT id, simhash64(text) AS sh FROM r3_simhash_in")
      .as[(Long, Long)].collect().toMap
    assert(viaSql == viaExpr)
    // whole-stage codegen covers the projection (no UDF boundary); use a
    // parquet-backed scan — a LocalRelation projection is constant-folded
    // before any codegen stage exists
    val codegen = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(graft.functions.SimHash64.simhash64(col("text")))
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("codegen"))
    assert(codegen.contains("WholeStageCodegen"))
    assert(codegen.contains("simhash64"), "expression not in the generated span")
  }

  // ------------------------------------------------------ near-dup clusters

  test("nearDupClusters transitively closes pairs; dropNearDuplicates keeps one doc per cluster") {
    import spark.implicits._
    import graft.ops.Dedup
    // A~B and B~C with NO A~C pair must still be one cluster {A,B,C};
    // ids straddling a digit-count boundary (9 vs 10) catch any
    // lexicographic-vs-numeric min confusion in the id padding
    val pairs = Seq((9L, 10L, 0.9), (10L, 123L, 0.9), (500L, 501L, 0.9), (-2L, -1L, 0.9))
      .toDF("id_a", "id_b", "est_jaccard")
    val clusters = Dedup.nearDupClusters(pairs)
      .as[(Long, Long)].collect().toMap
    // negative ids: the survivor must be the NUMERIC minimum (-2), which
    // a naive zero-pad would order backwards
    assert(clusters == Map(9L -> 9L, 10L -> 9L, 123L -> 9L, 500L -> 500L, 501L -> 500L,
      -2L -> -2L, -1L -> -2L))
    // and the contraction (non-driver) path agrees
    val general = Dedup.nearDupClusters(pairs, driverMaxEdges = 0)
      .as[(Long, Long)].collect().toMap
    assert(general == clusters)

    // end-to-end drop: 3 identical texts + 2 distinct → keep min id + both singletons
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"),
      (3L, "alpha beta gamma delta epsilon zeta"),
      (4L, "one two three four five six seven"),
      (5L, "totally different words here indeed")).toDF("doc_id", "text")
    val kept = Dedup.dropNearDuplicates(docs, "text", "doc_id")
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(kept == Seq(1L, 4L, 5L))
  }

  // ----------------------------------------------------- multimodal headers

  test("malformed BMP headers fall back to the stub instead of crashing the task") {
    def item(payload: Array[Byte]) =
      Multimodal.MediaItem("d", 0, "image", "ref", payload)
    def le32(b: Array[Byte], off: Int, v: Int): Unit = {
      b(off) = (v & 0xFF).toByte; b(off + 1) = ((v >> 8) & 0xFF).toByte
      b(off + 2) = ((v >> 16) & 0xFF).toByte; b(off + 3) = ((v >> 24) & 0xFF).toByte
    }
    val good = Multimodal.syntheticBmp("ok")
    assert(Multimodal.decodeItem(item(good)).meta.format == "bmp24")

    // negative pixel-data offset
    val negOffset = good.clone(); le32(negOffset, 10, -1)
    assert(Multimodal.decodeItem(item(negOffset)).meta.format == "fake-jpeg")
    // negative height
    val negHeight = good.clone(); le32(negHeight, 22, -7)
    assert(Multimodal.decodeItem(item(negHeight)).meta.format == "fake-jpeg")
    // width so large that y*rowBytes overflows Int (Long math must catch it)
    val hugeWidth = good.clone(); le32(hugeWidth, 18, Int.MaxValue); le32(hugeWidth, 22, Int.MaxValue)
    assert(Multimodal.decodeItem(item(hugeWidth)).meta.format == "fake-jpeg")
    // claimed size runs past the payload
    val overrun = good.clone(); le32(overrun, 22, 1 << 20)
    assert(Multimodal.decodeItem(item(overrun)).meta.format == "fake-jpeg")
  }
}
