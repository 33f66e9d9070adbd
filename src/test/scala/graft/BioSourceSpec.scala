package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import graft.data.BioCorpus
import org.scalatest.funsuite.AnyFunSuite

/** The DataSource V2 `bio` connector (and `BioCorpus.read`, which reads
  * through it): row-identical to a driver-side replica of the blank-line
  * framing (shared parser, byte-offset ids), correct across byte-range
  * splits that land mid-sentence, and column-pruned at the scan.
  */
class BioSourceSpec extends AnyFunSuite {
  lazy val spark = SparkTest.spark

  private def writeBio(lines: String): String = {
    val dir = Files.createTempDirectory("bio_src_spec")
    val f = dir.resolve("corpus.txt")
    Files.write(f, lines.getBytes(StandardCharsets.UTF_8))
    f.toString
  }

  private val sample =
    """患 B-Diseases
      |者 I-Diseases
      |
      |头 B-Anatomical
      |部 I-Anatomical
      |正 O
      |
      |malformed line with three fields
      |
      |血 B-Laboratory
      |常 O
      |""".stripMargin

  private def collectRows(df: org.apache.spark.sql.DataFrame) =
    df.select("doc_id", "chars", "tags").collect()
      .map(r => (r.getString(0), r.getSeq[String](1), r.getSeq[String](2)))
      .toSeq.sortBy(_._1)

  /** The blank-line framing replicated on the driver: the file's bytes
    * split at each `"\n\n"`, every block keyed by the byte offset it
    * starts at and parsed with `parseBlock`; blocks with no pair dropped.
    */
  private def replica(path: String) = {
    val bytes = Files.readAllBytes(Paths.get(path))
    val rows = Seq.newBuilder[(String, Seq[String], Seq[String])]
    var start = 0
    while (start < bytes.length) {
      var end = start
      while (end < bytes.length && !(bytes(end) == '\n' && end + 1 < bytes.length && bytes(end + 1) == '\n'))
        end += 1
      val (chars, tags) =
        BioCorpus.parseBlock(new String(bytes, start, end - start, StandardCharsets.UTF_8))
      if (chars.nonEmpty) rows += ((f"bio-$start%012d", chars, tags))
      start = end + 2
    }
    rows.result().sortBy(_._1)
  }

  test("row-identical to a driver-side replica of the BIO framing (ids included)") {
    val path = writeBio(sample)
    val expected = replica(path)
    assert(collectRows(spark.read.format("bio").load(path)) == expected)
    assert(collectRows(BioCorpus.read(spark, path).toDF()) == expected)
    assert(expected.size == 3) // the all-malformed block parses to zero pairs and is skipped
    assert(expected.head._2 == Seq("患", "者") && expected.head._3 == Seq("B-Diseases", "I-Diseases"))
  }

  test("byte-range splits that land mid-sentence read every block exactly once") {
    val path = writeBio(sample)
    val single = collectRows(spark.read.format("bio").load(path))
    // 16-byte splits: many ranges start and end inside sentence blocks
    val tiny = collectRows(
      spark.read.format("bio").option("maxSplitBytes", "16").load(path))
    assert(tiny == single)
    val scan = spark.read.format("bio").option("maxSplitBytes", "16").load(path)
    val parts = scan.rdd.getNumPartitions
    assert(parts > 3, s"expected many byte-range partitions, got $parts")
  }

  test("column pruning reaches the scan: a doc_id-only query prunes the arrays") {
    val path = writeBio(sample)
    val df = spark.read.format("bio").load(path).select("doc_id")
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("cols=doc_id"), s"pruned scan description missing:\n$p")
    assert(df.collect().map(_.getString(0)).length == 3)
  }

  test("idPrefix option controls the id scheme") {
    val path = writeBio(sample)
    val ids = spark.read.format("bio").option("idPrefix", "ref").load(path)
      .select("doc_id").collect().map(_.getString(0))
    assert(ids.forall(_.startsWith("ref-")))
  }

  test("parity with the driver-side replica on the reference's real test corpus") {
    assume(new java.io.File("/root/reference/data/test.txt").isFile)
    val path = "/root/reference/data/test.txt"
    // force multiple splits so the boundary logic runs on real data
    val v2 = collectRows(spark.read.format("bio").option("maxSplitBytes", "65536").load(path))
    assert(v2 == replica(path))
  }

  test("write path: connector write → connector read roundtrips the sentence multiset") {
    import spark.implicits._
    val dir = Files.createTempDirectory("bio_src_write").toString
    val sentences = Seq(
      (Seq("患", "者"), Seq("B-Diseases", "I-Diseases")),
      (Seq("头", "部", "正"), Seq("B-Anatomical", "I-Anatomical", "O")),
      (Seq("血"), Seq("B-Laboratory")))
    sentences.toDF("chars", "tags").repartition(2)
      .write.format("bio").mode("overwrite").save(dir)
    assert(Files.exists(Paths.get(dir, "_SUCCESS")))
    val back = spark.read.format("bio").load(dir)
      .select("chars", "tags").collect()
      .map(r => (r.getSeq[String](0), r.getSeq[String](1))).toSeq
    assert(back.sortBy(_._1.mkString) == sentences.sortBy(_._1.mkString))
  }

  test("write path: overwrite truncates, append accumulates across jobs") {
    import spark.implicits._
    val dir = Files.createTempDirectory("bio_src_modes").toString
    def one(tag: String) = Seq((Seq("x"), Seq(tag))).toDF("chars", "tags")
    one("B-A").write.format("bio").mode("overwrite").save(dir)
    one("B-B").write.format("bio").mode("append").save(dir)
    val tags = spark.read.format("bio").load(dir)
      .select("tags").collect().map(_.getSeq[String](0).head).toSet
    assert(tags == Set("B-A", "B-B"))
    one("B-C").write.format("bio").mode("overwrite").save(dir)
    val after = spark.read.format("bio").load(dir)
      .select("tags").collect().map(_.getSeq[String](0).head).toSet
    assert(after == Set("B-C"))
  }

  test("write path rejects frames without array<string> chars/tags columns") {
    import spark.implicits._
    val dir = Files.createTempDirectory("bio_src_badschema").toString
    val e = intercept[Exception] {
      Seq(("a", "B-X")).toDF("chars", "tags")
        .write.format("bio").mode("overwrite").save(dir)
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("array<string>")))
  }

  test("write path: a failed job leaves committed data intact and no torn part files") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dir = Files.createTempDirectory("bio_src_abort").toString
    Seq((Seq("a"), Seq("B-X"))).toDF("chars", "tags")
      .write.format("bio").mode("overwrite").save(dir)
    // failing append: a task throws mid-write
    val boom = udf((s: Seq[String]) => {
      if (s.nonEmpty) throw new RuntimeException("boom"); s
    })
    intercept[Exception] {
      Seq((Seq("b"), Seq("B-Y"))).toDF("chars", "tags")
        .select(boom(col("chars")).as("chars"), col("tags"))
        .write.format("bio").mode("append").save(dir)
    }
    // original data still reads back; no part file from the failed job
    val tags = spark.read.format("bio").load(dir)
      .select("tags").collect().map(_.getSeq[String](0).head).toSet
    assert(tags == Set("B-X"))
    val committed = new java.io.File(dir).listFiles()
      .map(_.getName).filter(_.startsWith("part-"))
    assert(committed.length == 1, s"unexpected part files: ${committed.mkString(",")}")
  }

  test("write path: a FAILED OVERWRITE keeps the previous dataset intact (truncate at commit, not before)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dir = Files.createTempDirectory("bio_src_failover").toString
    Seq((Seq("a"), Seq("B-X")), (Seq("b"), Seq("B-Y"))).toDF("chars", "tags")
      .write.format("bio").mode("overwrite").save(dir)
    val boom = udf((s: Seq[String]) => {
      Thread.sleep(1500) // let any sibling task commit first — the abort must roll it back
      throw new RuntimeException("boom"); s
    })
    intercept[Exception] {
      Seq((Seq("c"), Seq("B-Z"))).toDF("chars", "tags")
        .select(boom(col("chars")).as("chars"), col("tags"))
        .write.format("bio").mode("overwrite").save(dir)
    }
    val tags = spark.read.format("bio").load(dir)
      .select("tags").collect().map(_.getSeq[String](0).head).toSet
    assert(tags == Set("B-X", "B-Y"), s"old dataset lost: $tags")
  }

  test("write path: abort rolls back the failed job's committed part files") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dir = Files.createTempDirectory("bio_src_rollback").toString
    Seq((Seq("a"), Seq("B-X"))).toDF("chars", "tags")
      .write.format("bio").mode("overwrite").save(dir)
    // 2-partition append: partition with "ok" commits fast; the "boom"
    // partition sleeps then fails, so the job aborts AFTER a task commit
    val ok = Seq((Seq("ok"), Seq("B-K"))).toDF("chars", "tags").coalesce(1)
    val slowBoom = udf((s: Seq[String]) => {
      Thread.sleep(2000); throw new RuntimeException("boom"); s
    })
    val bad = Seq((Seq("c"), Seq("B-Z"))).toDF("chars", "tags").coalesce(1)
      .select(slowBoom(col("chars")).as("chars"), col("tags"))
    intercept[Exception] {
      ok.unionAll(bad).write.format("bio").mode("append").save(dir)
    }
    val tags = spark.read.format("bio").load(dir)
      .select("tags").collect().map(_.getSeq[String](0).head).toSet
    assert(tags == Set("B-X"), s"failed job's partial output is visible: $tags")
  }

  test("write path rejects whitespace-containing and null tokens (framing corruption guard)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("bio_src_badtok").toString
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    val e1 = intercept[Exception] {
      Seq((Seq("a b"), Seq("O"))).toDF("chars", "tags")
        .write.format("bio").mode("overwrite").save(dir)
    }
    assert(messages(e1).exists(_.contains("whitespace")))
    val e2 = intercept[Exception] {
      Seq((Seq("a", null), Seq("O", "O"))).toDF("chars", "tags")
        .write.format("bio").mode("overwrite").save(dir)
    }
    assert(messages(e2).exists(_.contains("null")))
  }

  test("streaming read: files are consumed exactly once across restarts (AvailableNow)") {
    import org.apache.spark.sql.streaming.Trigger
    val dir = Files.createTempDirectory("bio_src_stream").toString
    val ckpt = Files.createTempDirectory("bio_src_stream_ckpt").toString
    val outDir = Files.createTempDirectory("bio_src_stream_out").toString
    def addFile(name: String, body: String): Unit =
      Files.write(Paths.get(dir, name), body.getBytes(StandardCharsets.UTF_8))
    def runOnce(): Unit = {
      val q = spark.readStream.format("bio").load(dir)
        .selectExpr("doc_id", "chars", "tags")
        .writeStream.format("parquet")
        .option("path", outDir).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(60000)
    }
    addFile("f1.txt", "a B-X\nb O\n")
    runOnce()
    def collected() = spark.read.parquet(outDir)
      .select("chars", "tags").collect()
      .map(r => (r.getSeq[String](0), r.getSeq[String](1))).toSeq
    assert(collected().toSet == Set((Seq("a", "b"), Seq("B-X", "O"))))
    // a new file lands; restart from the checkpoint → ONLY the new file
    // is read (the old one is in the committed offset)
    addFile("f2.txt", "c B-Y\n")
    runOnce()
    val all = collected()
    assert(all.size == 2, s"expected exactly-once across restarts, got $all")
    assert(all.toSet == Set(
      (Seq("a", "b"), Seq("B-X", "O")), (Seq("c"), Seq("B-Y"))))
    // no new files → an idle restart emits nothing
    runOnce()
    assert(collected().size == 2)
  }

  test("streaming KG construction from a live BIO feed equals the batch pipeline") {
    import spark.implicits._
    val srcDir = Files.createTempDirectory("bio_kg_stream").toString
    val outRoot = Files.createTempDirectory("bio_kg_out").toString + "/triples"
    val ckpt = Files.createTempDirectory("bio_kg_ckpt").toString
    val lex = graft.data.Lexicon.fromSurfaces(graft.data.DocsGen.vocabEntries.toDS()).cache()
    def tripleSet(df: org.apache.spark.sql.DataFrame) =
      df.select("subj", "pred", "obj", "doc_id")
        .as[(String, String, String, String)].collect().toSet

    // stage wave 1 as BIO files THROUGH the connector write, from gold docs
    val g1 = graft.data.DocsGen.gen(spark, 50, seed = 33)
    graft.data.DocsGen.goldSentences(g1).toDF()
      .select("chars", "tags").write.format("bio").mode("overwrite").save(srcDir)
    graft.streaming.Streaming.kgStream(
      graft.streaming.Streaming.bioDocsStream(spark, srcDir), lex, outRoot, ckpt)
      .awaitTermination()
    // batch replica over the SAME files via the batch reader (same
    // byte-offset ids, so triples compare doc-for-doc)
    val batchDocs = graft.data.BioCorpus.toDocs(graft.data.BioCorpus.read(spark, srcDir))
    val expected = tripleSet(graft.pipeline.KgPipeline.run(batchDocs, lex).toDF())
    assert(expected.nonEmpty)
    assert(tripleSet(graft.tables.Icebergish.read(spark, outRoot)) == expected)

    // wave 2 lands as a NEW BIO file; restart processes only it
    val g2 = graft.data.DocsGen.gen(spark, 30, seed = 34)
    graft.data.DocsGen.goldSentences(g2).toDF()
      .select("chars", "tags").coalesce(1).write.format("bio").mode("append").save(srcDir)
    graft.streaming.Streaming.kgStream(
      graft.streaming.Streaming.bioDocsStream(spark, srcDir), lex, outRoot, ckpt)
      .awaitTermination()
    val batchAll = tripleSet(graft.pipeline.KgPipeline.run(
      graft.data.BioCorpus.toDocs(graft.data.BioCorpus.read(spark, srcDir)), lex).toDF())
    assert(tripleSet(graft.tables.Icebergish.read(spark, outRoot)) == batchAll)
    assert(batchAll.size > expected.size)
    lex.unpersist()
  }

  test("streaming offset JSON round-trips hostile filenames") {
    import graft.sources.BioOffset
    val hostile = Set(
      "/tmp/dir/plain.txt",
      "/tmp/dir/with space.txt",
      "/tmp/dir/qu\"ote.txt",
      "/tmp/dir/back\\slash.txt",
      "/tmp/dir/com,ma.txt",
      "/tmp/dir/uni-码.txt")
    val hostileWithLen = hostile.zipWithIndex.map { case (f, i) => f -> (i * 1000L + 7L) }.toMap
    assert(BioOffset.fromJson(BioOffset(hostileWithLen).json()) == BioOffset(hostileWithLen))
    assert(BioOffset.fromJson(BioOffset(Map.empty[String, Long]).json()).files.isEmpty)
    // randomized round-trip over a nasty alphabet (incl. digits and ])
    val rnd = new scala.util.Random(7)
    val alphabet = "ab\"\\, /.]0129"
    for (_ <- 0 until 200) {
      val files = (0 until rnd.nextInt(5)).map { i =>
        (s"f$i-" + (0 until rnd.nextInt(12)).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString) ->
          rnd.nextLong(1L << 40)
      }.toMap
      assert(BioOffset.fromJson(BioOffset(files).json()) == BioOffset(files), files.toString)
    }
  }

  test("streaming replay plans splits from offset content and fails loudly on a vanished file") {
    import graft.sources.{BioInputPartition, BioMicroBatchStream, BioOffset, BioTable}
    val dir = Files.createTempDirectory("bio_replay").toString
    val f = Paths.get(dir, "w1.txt")
    Files.write(f, "a B-X\nb O\n\nc B-Y\n".getBytes(StandardCharsets.UTF_8))
    val len = Files.size(f)
    val name = "file:" + f.toString
    val stream = new BioMicroBatchStream(dir, "bio", 7L, BioTable.Schema)
    val start = BioOffset(Map.empty[String, Long])
    val end = BioOffset(Map(name -> len))
    // splits derive from the (name, length) recorded in the offset
    val parts = stream.planInputPartitions(start, end).map(_.asInstanceOf[BioInputPartition])
    assert(parts.map(_.file).toSet == Set(name))
    assert(parts.map(_.length).sum == len)
    assert(parts.forall(_.length <= 7L))
    // the file shrinks after the offset was committed → replay fails
    // LOUDLY instead of silently dropping data from the batch
    Files.write(f, "a B-X\n".getBytes(StandardCharsets.UTF_8))
    val e = intercept[IllegalStateException](stream.planInputPartitions(start, end))
    assert(e.getMessage.contains("exactly-once"))
    // ... and so does a file that vanished entirely
    Files.delete(f)
    intercept[IllegalStateException](stream.planInputPartitions(start, end))
  }

  test("an offset entry without a byte length is refused, not replayed as empty") {
    import graft.sources.BioOffset
    // a bare name, a name followed by another entry, and a name whose
    // length is not a number: each would replay its file from an unknown
    // length, so each fails loudly and names the entry
    Seq("""["/a/x.txt"]""", """["/a/x.txt","/a/y.txt"]""", """[["/a/x.txt",-1]]""").foreach { json =>
      val e = intercept[IllegalArgumentException](BioOffset.fromJson(json))
      assert(e.getMessage.contains("/a/x.txt"), e.getMessage)
    }
    // a name that only LOOKS like a pair suffix still needs its own length
    intercept[IllegalArgumentException](BioOffset.fromJson("""["/a/tricky\",123].txt"]"""))
  }

  test("scan reports file-census statistics; a small bio table auto-broadcasts in a join") {
    import org.apache.spark.sql.functions.{col, concat, lit}
    val path = writeBio(sample)
    // statistics surface the on-disk size (no defaultSizeInBytes fallback)
    val scan = graft.sources.BioScan(path, "bio", 128L * 1024 * 1024,
      graft.sources.BioTable.Schema)
    val stats = scan.estimateStatistics()
    assert(stats.sizeInBytes().getAsLong == Files.size(Paths.get(path)))
    assert(stats.numRows().isPresent && stats.numRows().getAsLong >= 1)

    // join against a large-ish parquet side WITHOUT a broadcast hint:
    // the reported few-hundred-byte size must make Catalyst choose
    // BroadcastHashJoin on its own (pre-stats, the DSv2 relation cost
    // spark.sql.defaultSizeInBytes and planned a sort-merge join)
    val bio = spark.read.format("bio").load(path)
    val other = spark.range(0, 50000)
      .select(concat(lit("bio-"), col("id")).as("doc_id"), col("id").as("payload"))
    val joined = other.join(bio.select("doc_id", "chars"), "doc_id")
    val phys = joined.queryExecution.executedPlan.toString
    assert(phys.contains("BroadcastHashJoin"),
      s"small bio side not auto-broadcast:\n$phys")
    assert(!phys.contains("SortMergeJoin"), s"sort-merge chosen:\n$phys")
    joined.collect() // and it actually runs
  }

  test("directory input reads every part file and skips _SUCCESS-style markers") {
    import spark.implicits._
    val dir = Files.createTempDirectory("bio_src_dir").toString
    // distributed write: one sentence block per row; text writer appends
    // \n per row, so blocks arrive blank-line separated
    Seq("a B-X\nb O\n", "c B-Y\n").toDF("value")
      .repartition(2).write.mode("overwrite").text(dir)
    val rows = collectRows(spark.read.format("bio").load(dir))
    assert(rows.map(r => (r._2, r._3)).toSet ==
      Set((Seq("a", "b"), Seq("B-X", "O")), (Seq("c"), Seq("B-Y"))))
  }
}
