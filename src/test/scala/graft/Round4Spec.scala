package graft

import graft.tables.{ConcurrentCommitException, Icebergish}
import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

/** Round-4 hardening: manifest-install atomicity + lease fencing
  * (ADVICE r3 mediums) and the racing-committer extension of the r3
  * model-based table test.
  */
class Round4Spec extends AnyFunSuite {
  lazy val spark = SparkTest.spark

  private def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def fs(root: String) =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  test("manifest install is exclusive: a fenced-out stalled claimant cannot clobber the winner") {
    import spark.implicits._
    val root = tmpDir("iceberg_fence")
    val f = fs(root)

    // a claimant took id 0's lock and stalled >60 s before writing its
    // manifest (lock backdated, no manifest)
    val lock = new java.io.File(s"$root/locks/snap-0")
    assert(lock.mkdirs())
    assert(lock.setLastModified(System.currentTimeMillis() - 120000L))

    // a second writer breaks the stale lease and commits id 0
    val id = Icebergish.commit(Seq((1, "winner")).toDF("id", "v"), root)
    assert(id == 0L)
    val mPath = new Path(root, "manifests/snap-0.json")
    val winnerBytes = {
      val in = f.open(mPath)
      try org.apache.commons.io.IOUtils.toByteArray(in) finally in.close()
    }

    // the stalled claimant resumes and tries to install ITS manifest for
    // the same id: the exclusive install must refuse, leaving the
    // winner's manifest byte-identical and no temp residue behind
    val fenced = Icebergish.installManifest(f, root, 0L, """{"garbage":true}""".getBytes)
    assert(!fenced, "fenced-out claimant overwrote a committed manifest")
    val after = {
      val in = f.open(mPath)
      try org.apache.commons.io.IOUtils.toByteArray(in) finally in.close()
    }
    assert(java.util.Arrays.equals(winnerBytes, after), "winner's manifest was mutated")
    val residue = f.listStatus(new Path(root, "manifests"))
      .map(_.getPath.getName).filter(_.contains("tmp"))
    assert(residue.isEmpty, s"temp residue left: ${residue.mkString(",")}")
    assert(Icebergish.read(spark, root).select("v").as[String].collect().toSeq == Seq("winner"))
  }

  test("in-flight temp manifests are invisible to readers and snapshot resolution") {
    import spark.implicits._
    val root = tmpDir("iceberg_tmpvis")
    Icebergish.commit(Seq((1, "a")).toDF("id", "v"), root) // snap 0
    val f = fs(root)
    // a concurrent committer mid-install: partial dot-temp manifest bytes
    val tmp = new Path(root, "manifests/.snap-99.json.tmp-deadbeef")
    val o = f.create(tmp, true)
    try o.write("""{"snapshot": 99, "par""".getBytes) finally o.close() // torn JSON
    assert(Icebergish.currentSnapshotId(spark, root).contains(0L),
      "partial temp manifest leaked into snapshot resolution")
    assert(Icebergish.read(spark, root).count() == 1L)
  }

  test("SVG plot sinks render well-formed, proportional figures from the metric tables") {
    import graft.sinks.Plots
    def wellFormed(svg: String): Unit = {
      val f = javax.xml.parsers.DocumentBuilderFactory.newInstance()
      f.setFeature("http://apache.org/xml/features/disallow-doctype-decl", true)
      f.newDocumentBuilder().parse(
        new java.io.ByteArrayInputStream(svg.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
      ()
    }
    // training curves: two single-axis panels, never a dual-axis chart
    val curves = Plots.trainingCurvesSvg(Seq((1, 2.31, 0.41), (2, 1.12, 0.66), (3, 0.81, 0.79)))
    wellFormed(curves)
    assert(curves.contains("Average loss") && curves.contains("F1 (dev)"))

    // entity bars from a report's per-type rows: fixed series order
    val rows = Seq(
      graft.core.TypeMetrics("Anatomical", 793, 1017, 944, 0.7797, 0.8400, 0.8088),
      graft.core.TypeMetrics("Drug", 156, 169, 173, 0.9231, 0.9017, 0.9123))
    val bars = Plots.entityMetricsSvg(rows)
    wellFormed(bars)
    for (c <- Seq("#2a78d6", "#eb6834", "#1baf7a")) assert(bars.contains(c), s"series $c missing")
    assert(bars.contains("Anatomical") && bars.contains("Drug"))

    // confusion heatmap straight from the oracle-checked query
    val conf = SparkEntry.queries("metrics_confusion")(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    val heat = Plots.confusionHeatmapSvg(conf)
    wellFormed(heat)
    conf.map(_._1).distinct.foreach(l => assert(heat.contains(l)))

    // label distribution: bar widths proportional to counts
    val dist = Plots.labelDistributionSvg(Seq(("O", 1000L), ("B-Diseases", 500L), ("I-Drug", 250L)))
    wellFormed(dist)
    val widths = "rx=\"2\"".r.findAllMatchIn(dist).toSeq
    val ws = """<rect x="130" y="\d+" width="([0-9.]+)"""".r
      .findAllMatchIn(dist).map(_.group(1).toDouble).toSeq
    assert(ws.size == 3 && math.abs(ws(0) / ws(1) - 2.0) < 0.02 && math.abs(ws(1) / ws(2) - 2.0) < 0.02,
      s"bar widths not proportional: $ws")
  }

  test("vacuum sweeps stale temp manifests and broken-lease markers, not fresh ones") {
    import spark.implicits._
    val root = tmpDir("iceberg_vacuum_tmp")
    Icebergish.commit(Seq((1, "a")).toDF("id", "v"), root)
    val f = fs(root)
    def plant(rel: String, old: Boolean): Unit = {
      val p = new Path(root, rel)
      f.mkdirs(p.getParent)
      f.create(p, true).close()
      if (old) new java.io.File(s"$root/$rel")
        .setLastModified(System.currentTimeMillis() - 3600000L)
    }
    plant("manifests/.snap-5.json.tmp-dead", old = true)   // crashed writer
    plant("manifests/.snap-6.json.tmp-live", old = false)  // in-flight installer
    plant("locks/snap-3.broken-dead", old = true)          // crashed breaker
    val removed = Icebergish.vacuum(spark, root)
    assert(removed.contains("manifests/.snap-5.json.tmp-dead"))
    assert(removed.contains("locks/snap-3.broken-dead"))
    assert(!removed.exists(_.contains("tmp-live")), "in-flight temp swept")
    assert(f.exists(new Path(root, "manifests/.snap-6.json.tmp-live")))
    assert(Icebergish.read(spark, root).count() == 1)
  }

  test("PII redaction scrubs planted identifiers; repetition stats flag duplicated text") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val planted = Seq(
      (1L, "contact me at john.doe+spam@example.co.uk today"),
      (2L, "server at 192.168.1.254 responded"),
      (3L, "call 555-123-4567 or 5551234567 now"),
      (4L, "docs at https://example.com/a?b=c#d explain it"),
      (5L, "clean text with no identifiers at all"))
    val got = graft.ops.TextAnalysis.redactPii(planted.toDF("doc_id", "text"), "text")
      .orderBy("doc_id").select("text").as[String].collect().toSeq
    assert(got == Seq(
      "contact me at <EMAIL> today",
      "server at <IP> responded",
      "call <PHONE> or <PHONE> now",
      "docs at <URL> explain it",
      "clean text with no identifiers at all"))

    val rep = graft.ops.TextAnalysis.repetitionStats(
      Seq((1L, "spam spam spam spam"), (2L, "all words here differ"), (3L, "")).toDF("doc_id", "text"),
      "text", "doc_id", w = 2)
      .orderBy("doc_id")
      .select("doc_id", "n_grams", "top_gram_n", "top_gram_frac", "dup_gram_frac")
      .as[(Long, Long, Long, Double, Double)].collect().toSeq
    // "spam spam" occurs 3x of 3 bigrams; doc 2 has 3 distinct bigrams;
    // empty doc keeps a zero row
    assert(rep == Seq(
      (1L, 3L, 3L, 1.0, 0.666667),
      (2L, 3L, 1L, 0.333333, 0.0),
      (3L, 0L, 0L, 0.0, 0.0)))
  }

  test("greedy sequence packing: capacity respected, docs preserved, partition-independent") {
    import spark.implicits._
    val rnd = new scala.util.Random(11L)
    val docs = (0L until 500L).map(id => (id, 1L + rnd.nextInt(3000).toLong)) :+
      (500L, 9000L) // oversized doc: must sit in a pack of its own
    val cap = 4096L
    def run(parts: Int) = graft.ops.Packing.packGreedy(
      docs.toDF("doc_id", "n_chars").repartition(parts), "doc_id", "n_chars", cap, blockSize = 32)
      .select("doc_id", "n_tokens", "pack_block", "pack_seq", "pack_tokens")
      .as[(Long, Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    val a = run(1)
    val b = run(13)
    assert(a == b, "packing depends on partitioning")
    // every doc exactly once, token counts preserved
    assert(a.map(_._1) == docs.map(_._1).sorted)
    assert(a.map(r => r._1 -> r._2).toMap == docs.toMap)
    // pack capacity: only single-doc packs may exceed it
    val packs = a.groupBy(r => (r._3, r._4))
    packs.foreach { case (key, members) =>
      val total = members.map(_._2).sum
      assert(members.forall(_._5 == total), s"pack_tokens inconsistent in $key")
      assert(total <= cap || members.size == 1, s"multi-doc pack $key exceeds capacity: $total")
    }
    // the oversized doc is alone in its pack
    val over = a.find(_._1 == 500L).get
    assert(packs((over._3, over._4)).size == 1 && over._5 == 9000L)
    // greedy within a block: a doc never fits in the PREVIOUS pack of its
    // block (otherwise greedy would have put it there)
    a.groupBy(_._3).foreach { case (_, blockRows) =>
      val byId = blockRows.sortBy(_._1)
      byId.sliding(2).foreach {
        case Seq(prev, cur) if cur._4 == prev._4 + 1 =>
          val prevTotal = packs((prev._3, prev._4)).map(_._2).sum
          assert(prevTotal + cur._2 > cap, "doc started a new pack while fitting the previous")
        case _ =>
      }
    }
  }

  test("TopK.perKey equals the sort-based reference on randomized inputs") {
    import spark.implicits._
    val rnd = new scala.util.Random(44L)
    for (trial <- 0 until 6) {
      val n = 50 + rnd.nextInt(150)
      // small ord domain forces plenty of ties; tie column unique
      val rows = (0 until n).map { i =>
        (s"k${rnd.nextInt(5)}", rnd.nextInt(6).toDouble, i.toLong, s"p$i")
      }
      val k = 1 + rnd.nextInt(4)
      val asc = rnd.nextBoolean()
      val df = rows.toDF("key", "ord", "tie", "payload").repartition(7)
      val got = graft.ops.TopK.perKey(
        df, Seq("key"), org.apache.spark.sql.functions.col("ord"),
        org.apache.spark.sql.functions.col("tie"), k, asc)
        .select("key", "tie", "rank").as[(String, Long, Int)]
        .collect().toSet
      val expected = rows.groupBy(_._1).toSeq.flatMap { case (key, grp) =>
        val sorted = grp.sortBy { case (_, ord, tie, _) =>
          (if (asc) ord else -ord, tie)
        }.take(k)
        sorted.zipWithIndex.map { case ((_, _, tie, _), i) => (key, tie, i + 1) }
      }.toSet
      assert(got == expected, s"trial $trial diverged (k=$k asc=$asc)")
    }
  }

  test("TopK.perKey counts an exact duplicate row once, in and across partitions") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // the same (query, neighbor, cosine) candidate arrives 3 times, as an
    // LSH pair colliding in several bands does
    val rows = Seq(("q", 0.9, 7L), ("q", 0.8, 3L), ("q", 0.8, 5L), ("q", 0.1, 9L))
    val df = (rows ++ rows ++ rows.take(2)).toDF("key", "ord", "tie").repartition(3)
    val got = graft.ops.TopK.perKey(df, Seq("key"), col("ord"), col("tie"), 3)
      .select("tie", "rank").as[(Long, Int)].collect().sortBy(_._2).toSeq
    assert(got == Seq((7L, 1), (3L, 2), (5L, 3)))
  }

  test("rangeJoinCount keeps zero-match left rows with n_in_range = 0") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val range = 100L
    // u1/e1: two matches (0, 60); u1/e2 at 5000: nothing within ±100 but
    // SAME key has rows — the row must survive with 0 (the old inner
    // join dropped it); u2/e3: key has no right rows at all → 0
    val left = Seq((1L, "u1", 50L), (2L, "u1", 5000L), (3L, "u2", 10L))
      .toDF("event_id", "user_id", "ts_us")
    val right = Seq(("u1", 0L), ("u1", 60L), ("u1", 220L)).toDF("user_id", "ts_us")
    val got = graft.ops.Temporal.rangeJoinCount(
      left, right, "user_id", "event_id", col("ts_us"), col("ts_us"), range)
      .orderBy("event_id")
      .select("event_id", "n_in_range").as[(Long, Long)].collect().toSeq
    assert(got == Seq((1L, 2L), (2L, 0L), (3L, 0L)))
  }

  test("stream writers ignore unscoped batch tags, whether named or implicit") {
    import spark.implicits._
    import graft.streaming.Streaming
    val srcDir = tmpDir("kg_unscoped_src")
    val outRoot = tmpDir("kg_unscoped_out") + "/triples"
    val lex = graft.data.Lexicon.fromSurfaces(graft.data.DocsGen.vocabEntries.toDS()).cache()
    try {
      // another writer committed batches under unscoped "batch-0/1" tags
      Icebergish.commit(
        Seq(("dL", "treated_by", "o")).toDF("doc_id", "pred", "obj"),
        outRoot, "append", partitionBy = Seq("pred"), tag = Some("batch-0"))
      Icebergish.commit(
        Seq(("dL2", "treated_by", "o2")).toDF("doc_id", "pred", "obj"),
        outRoot, "append", partitionBy = Seq("pred"), tag = Some("batch-1"))
      val unscopedRows = Icebergish.read(spark, outRoot).count()

      val g = graft.data.DocsGen.gen(spark, 30, seed = 41)
      graft.data.DocsGen.docs(g).write.mode("append").parquet(srcDir)

      // an explicitly-named writer must neither trip the fresh-checkpoint
      // guard on those tags nor skip its own batch 0/1 because their
      // ordinals collide with "batch-0"/"batch-1"
      Streaming.kgStream(
        Streaming.docsStream(spark, srcDir), lex, outRoot,
        tmpDir("kg_unscoped_ckpt_a") + "/ckpt", appId = Some("r4app"))
        .awaitTermination()
      val afterNamed = Icebergish.read(spark, outRoot).count()
      assert(afterNamed > unscopedRows,
        "scoped writer skipped its batches on an unscoped-tag ordinal collision")
      val tags = Icebergish.committedTags(spark, outRoot)
      assert(tags.exists(_.startsWith("batch-r4app-")), s"missing scoped tag in $tags")

      // the implicit (appId-less) writer is scoped by its checkpoint path
      // and ignores the unscoped tags the same way: no guard trip, and its
      // batches commit
      val ckptB = tmpDir("kg_unscoped_ckpt_b") + "/ckpt"
      Streaming.kgStream(Streaming.docsStream(spark, srcDir), lex, outRoot, ckptB)
        .awaitTermination()
      val implicitId = java.lang.Long.toHexString(graft.core.Hashing.hashString(ckptB))
      val tagsB = Icebergish.committedTags(spark, outRoot)
      assert(tagsB.exists(_.startsWith(s"batch-$implicitId-")), s"missing implicit writer's tag in $tagsB")
      assert(Icebergish.read(spark, outRoot).count() > afterNamed,
        "implicit writer skipped its batches on an unscoped-tag ordinal collision")
    } finally lex.unpersist()
  }

  test("interactive --predict stdin REPL is byte-compatible with file mode across json/markup/bio") {
    val surfaces = graft.data.DocsGen.vocabEntries.take(4).map(_._1).toSeq
    val batch1 = Seq(s"患者 出现 ${surfaces(0)} 合并 ${surfaces(1)}", s"建议 ${surfaces(2)} 治疗")
    val batch2 = Seq(s"复查 提示 ${surfaces(3)}")
    // round 1: two sentences + blank line predicts; round 2: one sentence,
    // then 'exit' predicts the pending batch and quits (reference
    // semantics: exit with pending text runs a final prediction)
    val script = (batch1 :+ "" ) ++ (batch2 :+ "exit")
    val in = new java.io.BufferedReader(new java.io.StringReader(script.mkString("\n") + "\n"))
    val bout = new java.io.ByteArrayOutputStream()
    val pout = new java.io.PrintStream(bout, true, "UTF-8")
    graft.cli.Interactive.repl(spark, in, pout, Seq("json", "markup", "bio"))
    val outLines = new String(bout.toByteArray, java.nio.charset.StandardCharsets.UTF_8)
      .replace(">>> ", "").linesIterator.toVector

    // expected: the file-mode sink path over the same sentences
    def fileMode(texts: Seq[String], fmt: String): Seq[String] = {
      val tmp = java.nio.file.Files.createTempFile("predict_filemode", ".txt")
      try {
        java.nio.file.Files.write(tmp,
          texts.mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
        val sentences = graft.data.BioCorpus.readRawText(spark, tmp.toString)
        import spark.implicits._
        val mentions = graft.detect.Detector.detect(sentences, graft.data.DocsGen.vocabEntries.toDS())
        val (df, column) = fmt match {
          case "json" => (graft.sinks.Formats.jsonRecords(sentences, mentions), "json")
          case "markup" => (graft.sinks.Formats.markupText(sentences, mentions), "marked")
          case "bio" => (graft.sinks.Formats.bioText(sentences, mentions), "bio")
        }
        df.orderBy("doc_id").select(column).collect().map(_.getString(0)).toSeq
      } finally java.nio.file.Files.delete(tmp)
    }

    // the REPL prints a "-- fmt --" section per format per round, in order
    def section(lines: Vector[String], marker: String, nth: Int): Seq[String] = {
      val starts = lines.zipWithIndex.collect { case (l, i) if l == s"-- $marker --" => i }
      assert(starts.length == 2, s"expected 2 '$marker' sections, got ${starts.length}")
      val from = starts(nth) + 1
      lines.drop(from).takeWhile(l => !l.startsWith("-- ")).toSeq
    }
    // values may be multi-line (bio: one line per char) — compare the
    // joined byte text of each section
    for ((batch, round) <- Seq(batch1 -> 0, batch2 -> 1); fmt <- Seq("json", "markup", "bio"))
      assert(section(outLines, fmt, round).mkString("\n") == fileMode(batch, fmt).mkString("\n"),
        s"$fmt round $round diverged from file mode")
    assert(outLines.last == "bye")
    // at least one entity actually detected (the batches embed vocabulary)
    assert(outLines.exists(_.matches("-- \\d+ sentence\\(s\\), [1-9]\\d* entities --")))
  }

  test("curateFull composes the seven-stage recipe: subset of curate, bench excluded, PII applied, deterministic") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    def full(df: org.apache.spark.sql.DataFrame) =
      graft.ops.Curation.curateFull(
        df, df.filter(col("doc_id") % 50 === 0), "doc_id", "text",
        allowedLangs = Set("en", "zh"), minQuality = 0.5, maxTopGramFrac = 0.15,
        sampleRates = Map("en" -> 0.8, "zh" -> 1.0), defaultRate = 0.6, seed = 0xCA7EL)
    val out = full(docs).as[(Long, String)].collect().toMap
    assert(out.nonEmpty)
    // same gate/seed/rates as curate: the extra guards can only shrink the set
    val base = graft.ops.Curation.curate(docs, "doc_id", "text",
      allowedLangs = Set("en", "zh"), minQuality = 0.5,
      sampleRates = Map("en" -> 0.8, "zh" -> 1.0), defaultRate = 0.6, seed = 0xCA7EL)
      .as[Long].collect().toSet
    assert(out.keySet.subsetOf(base) && out.size < base.size)
    // benchmark docs self-contaminate (every non-empty doc shares its own
    // 3-grams), so none survives decontamination
    val bench = docs.filter(col("doc_id") % 50 === 0).select("doc_id").as[Long].collect().toSet
    assert(out.keySet.intersect(bench).isEmpty)
    // the surviving text went through the PII scrub
    assert(out.values.forall(t => !t.contains("http://") && !t.contains("https://")))
    // partition-layout independence
    assert(full(docs.repartition(13)).as[(Long, String)].collect().toMap == out)
  }

  test("racing committers over mixed append/upsert keep a linear snapshot chain and lose no update") {
    import spark.implicits._
    val root = tmpDir("iceberg_race_model")
    val preds = Seq("treated_by", "has_finding", "located_in")
    val threads = 3
    val opsPerThread = 5
    // disjoint key spaces: thread t owns keys t*1000+i; partitions SHARED
    // across threads (every upsert rewrites contended partitions)
    def predOf(key: Int) = preds(key % preds.length)
    def toDf(rows: Map[Int, String]) =
      rows.toSeq.map { case (k, o) => (s"d$k", predOf(k), o) }
        .toDF("doc_id", "pred", "obj")

    val models = Array.fill(threads)(scala.collection.mutable.Map.empty[Int, String])
    val losses = new java.util.concurrent.atomic.AtomicInteger(0)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try {
      val futs = (0 until threads).map { t =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit = {
            val rnd = new scala.util.Random(4000L + t)
            (0 until opsPerThread).foreach { i =>
              val batch: Map[Int, String] =
                if (i == 0 || rnd.nextBoolean()) // append fresh keys
                  (0 until (1 + rnd.nextInt(2))).map { j =>
                    (t * 1000 + i * 10 + j) -> s"o$t-$i-$j"
                  }.toMap
                else // update some of this thread's own keys + one fresh
                  rnd.shuffle(models(t).keys.toSeq).take(1 + rnd.nextInt(2))
                    .map(k => k -> s"u$t-$i-$k").toMap +
                    ((t * 1000 + i * 10 + 9) -> s"o$t-$i-9")
              models(t) ++= batch
              var done = false
              while (!done) {
                try {
                  Icebergish.upsertPartitions(toDf(batch), root, Seq("pred"), Seq("doc_id"))
                  done = true
                } catch {
                  case _: ConcurrentCommitException => losses.incrementAndGet()
                }
              }
            }
          }
        })
      }
      futs.foreach(_.get())
    } finally pool.shutdown()

    // no lost updates: the table is exactly the union of all per-thread models
    val expected = models.flatMap(_.toMap).toMap
      .map { case (k, o) => s"d$k" -> o }
    val got = Icebergish.read(spark, root).select("doc_id", "obj")
      .as[(String, String)].collect().toMap
    assert(got == expected,
      s"diverged: missing=${(expected.keySet -- got.keySet).take(5)} " +
        s"extra=${(got.keySet -- expected.keySet).take(5)}")

    // linearizable history: ids are contiguous 0..max and every
    // manifest's parent is exactly its predecessor — no fork survived
    val maxId = Icebergish.currentSnapshotId(spark, root).get
    (0L to maxId).foreach { id =>
      val s = Icebergish.readManifest(spark, root, id)
      assert(s.id == id && s.parent == id - 1,
        s"snapshot $id has parent ${s.parent}: history forked")
    }
    info(s"races lost and retried: ${losses.get()} over ${maxId + 1} commits")
  }
}
