package graft.cli

import graft.data.{DocsGen, Lexicon}
import graft.pipeline.KgPipeline
import org.apache.spark.sql.SparkSession

/** spark-submit entry point for the KG-construction pipeline
  * (SURVEY.md §7.1 step 10). Local smoke usage:
  *
  *   sbt "runMain graft.cli.Main --docs synth:1000 --out /tmp/graft_out --cores 4"
  *
  * `--docs` accepts `synth:N` (deterministic generator, seed 42), a path
  * to a parquet docs table in the `input_hint` shape, or `iceberg:<root>`
  * for a snapshot-isolated read through the Icebergish table layer.
  * Output: partitioned triples parquet at `--out`, plus a run summary on
  * stdout.
  */
object Main {

  case class Args(
      docs: String = "synth:1000",
      out: String = "/tmp/graft_out",
      cores: Int = 0,
      partitions: Int = 0,
      explain: Boolean = false,
      resumable: Boolean = false,
      chunks: Int = 8,
      stream: Boolean = false,
      streamKg: Boolean = false,
      dumpDocs: Boolean = false,
      predict: String = "",
      evalGold: String = "",
      evalPred: String = "",
      ngramFit: String = "",
      ngramModel: String = "")

  def parse(argv: Array[String]): Args =
    argv.sliding(2, 2).foldLeft(Args()) {
      case (a, Array("--docs", v)) => a.copy(docs = v)
      case (a, Array("--out", v)) => a.copy(out = v)
      case (a, Array("--cores", v)) => a.copy(cores = v.toInt)
      case (a, Array("--partitions", v)) => a.copy(partitions = v.toInt)
      case (a, Array("--explain", v)) => a.copy(explain = v.toBoolean)
      case (a, Array("--resumable", v)) => a.copy(resumable = v.toBoolean)
      case (a, Array("--chunks", v)) => a.copy(chunks = v.toInt)
      case (a, Array("--stream", v)) => a.copy(stream = v.toBoolean)
      case (a, Array("--stream-kg", v)) => a.copy(streamKg = v.toBoolean)
      case (a, Array("--dump-docs", v)) => a.copy(dumpDocs = v.toBoolean)
      case (a, Array("--predict", v)) => a.copy(predict = v)
      case (a, Array("--eval", v)) => a.copy(evalGold = v)
      case (a, Array("--eval-pred", v)) => a.copy(evalPred = v)
      case (a, Array("--ngram-fit", v)) => a.copy(ngramFit = v)
      case (a, Array("--ngram-model", v)) => a.copy(ngramModel = v)
      case (a, Array(flag, _)) => sys.error(s"unknown flag: $flag"); a
      case (a, _) => a
    }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val builder = SparkSession
      .builder()
      .appName("graft-kg")
      .config("spark.sql.shuffle.partitions", math.max(args.cores, 8).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    // under spark-submit, master comes from the cluster; standalone runs
    // default to local[cores]
    val spark =
      (if (args.cores > 0) builder.master(s"local[${args.cores}]") else builder).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val t0 = System.nanoTime()
    if (args.ngramFit.nonEmpty) {
      // OFFLINE FIT mode (the K2-full training command): fit the hashed
      // n-gram emission model on a gold BIO corpus and persist it to
      // --out; later runs load it with --ngram-model for detection of
      // surfaces absent from the gazetteer.
      val corpus = graft.data.BioCorpus.read(spark, args.ngramFit)
      val model = graft.detect.Features.fit(corpus)
      graft.detect.Features.save(model, spark, args.out)
      println(s"graft-ngram-fit: dim=${model.dim} from ${args.ngramFit} -> ${args.out} " +
        f"in ${(System.nanoTime() - t0) / 1e9}%.1f s")
      spark.stop()
      return
    }
    // loaded once; each consuming path broadcasts it exactly once (the
    // KG pipeline broadcasts internally, so no double broadcast here)
    val featsOpt: Option[graft.detect.Features.FeatureModel] =
      if (args.ngramModel.isEmpty) None
      else Some(graft.detect.Features.load(spark, args.ngramModel))
    if (args.evalGold.nonEmpty) {
      // Evaluation mode — the reference's evaluate.py artifact flow over
      // (gold BIO, predicted BIO): classification_report.txt (byte-for-
      // byte renderer), evaluation_results.json, and the SVG analogs of
      // its PNG figures (entity bars, confusion heatmap, label bars).
      require(args.evalPred.nonEmpty, "--eval <gold.txt> needs --eval-pred <predictions.txt>")
      val gold = graft.data.BioCorpus.readIndexed(spark, args.evalGold)
      val pred = graft.data.BioCorpus.readIndexed(spark, args.evalPred)
      val (perType, micro) = graft.metrics.ReferenceEval.evaluate(gold, pred)
      val rows = graft.metrics.SpanMetrics.report(perType)
      val avgNames = Set("micro avg", "macro avg", "weighted avg")
      val outDir = java.nio.file.Paths.get(args.out)
      java.nio.file.Files.createDirectories(outDir)
      def w(name: String, content: String): Unit =
        java.nio.file.Files.writeString(outDir.resolve(name), content)
      w("classification_report.txt",
        graft.metrics.SpanMetrics.classificationReportText(rows) + "\n" +
          graft.metrics.SpanMetrics.overallSummaryLine(micro))
      w("evaluation_results.json", graft.metrics.SpanMetrics.evalJson(
        rows.filterNot(r => avgNames(r.entity_type)), micro,
        modelInfo = Seq("engine" -> "graft-spark"),
        evalInfo = Seq("sentences" -> gold.count())))
      val entitySvg = graft.sinks.Plots.entityMetricsSvg(rows.filterNot(r => avgNames(r.entity_type)))
      w("entity_performance.svg", entitySvg)
      graft.sinks.Png.writePng(entitySvg, outDir.resolve("entity_performance.png"))
      val conf = graft.metrics.SpanMetrics
        .confusion(graft.metrics.ReferenceEval.tokenPairs(gold, pred))
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
      val confSvg = graft.sinks.Plots.confusionHeatmapSvg(conf)
      w("confusion_matrix.svg", confSvg)
      graft.sinks.Png.writePng(confSvg, outDir.resolve("confusion_matrix.png"))
      val dist = graft.metrics.LabelStats.labelDistribution(gold)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      val distSvg = graft.sinks.Plots.labelDistributionSvg(dist)
      w("label_distribution.svg", distSvg)
      graft.sinks.Png.writePng(distSvg, outDir.resolve("label_distribution.png"))
      println(f"graft-eval: P=${micro.precision}%.4f R=${micro.recall}%.4f F1=${micro.f1}%.4f " +
        s"-> ${args.out}/{classification_report.txt,evaluation_results.json,*.svg,*.png}")
      spark.stop()
      return
    }
    if (args.predict.nonEmpty) {
      // Prediction mode — the reference's predict_enhanced.py flow
      // (`:213-499`) over a raw text file instead of an interactive stdin
      // loop: one sentence per non-blank line (S2 scan), the detector,
      // then the requested output format(s) (S5 json / S6 markup / S7 bio)
      // plus the entity-type distribution report (`:484-499`).
      require(!args.docs.startsWith("synth:") && !args.docs.startsWith("iceberg:"),
        "--predict reads a raw text file: --docs <path>")
      val formats = if (args.predict == "all") Seq("json", "markup", "bio") else Seq(args.predict)
      require(formats.forall(Set("json", "markup", "bio")),
        s"--predict takes json|markup|bio|all, got ${args.predict}")
      if (args.docs == "-") {
        // interactive stdin mode (reference's predict_enhanced.py:219-242):
        // `--predict <fmt> --docs -`
        Interactive.repl(
          spark,
          new java.io.BufferedReader(
            new java.io.InputStreamReader(System.in, java.nio.charset.StandardCharsets.UTF_8)),
          System.out, formats)
        spark.stop()
        return
      }
      val sentences = graft.data.BioCorpus.readRawText(spark, args.docs)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val mentions = graft.detect.Detector.detect(sentences, DocsGen.vocabEntries.toDS(), feats = featsOpt)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      formats.foreach { fmt =>
        val (df, column) = fmt match {
          case "json" => (graft.sinks.Formats.jsonRecords(sentences, mentions), "json")
          case "markup" => (graft.sinks.Formats.markupText(sentences, mentions), "marked")
          case "bio" => (graft.sinks.Formats.bioText(sentences, mentions), "bio")
        }
        df.orderBy("doc_id").select(column).write.mode("overwrite")
          .text(s"${args.out}/$fmt")
      }
      // entity-type distribution report (A2), like the reference's stdout
      // summary after prediction
      val dist = graft.metrics.LabelStats.entityTypeDistribution(mentions).collect()
      val total = mentions.count()
      println(s"graft-predict: ${sentences.count()} sentence(s), $total entities " +
        s"-> ${args.out}/{${formats.mkString(",")}}")
      dist.foreach(r => println(f"  ${r.getString(0)}%-12s ${r.getLong(1)}%d"))
      sentences.unpersist(); mentions.unpersist()
      spark.stop()
      return
    }
    val docs = args.docs match {
      case s if s.startsWith("synth:") =>
        DocsGen.docs(DocsGen.gen(spark, s.stripPrefix("synth:").toLong, seed = 42L))
      case s if s.startsWith("iceberg:") =>
        // snapshot-isolated docs-table read through the table layer — the
        // north-rule input shape (Iceberg table of interleaved documents)
        graft.tables.Icebergish.read(spark, s.stripPrefix("iceberg:")).as[graft.core.Doc]
      case path =>
        spark.read.parquet(path).as[graft.core.Doc]
    }
    val lex = Lexicon.fromSurfaces(DocsGen.vocabEntries.toDS()).cache()
    val n: Long = if (args.dumpDocs) {
      // stage the docs table itself (e.g. as input for --stream/--stream-kg)
      docs.toDF().write.mode("append").parquet(args.out)
      docs.count()
    } else if (args.streamKg) {
      // incremental END-TO-END KG: drain available docs files, run the
      // full pipeline per micro-batch, append pred-partitioned snapshots;
      // re-running picks up only new files (idempotent batch markers)
      require(!args.docs.startsWith("synth:"), "--stream-kg needs a docs directory")
      val q = graft.streaming.Streaming.kgStream(
        graft.streaming.Streaming.docsStream(spark, args.docs), lex,
        s"${args.out}/triples", s"${args.out}/checkpoint", feats = featsOpt)
      q.awaitTermination()
      if (graft.tables.Icebergish.exists(spark, s"${args.out}/triples"))
        graft.tables.Icebergish.read(spark, s"${args.out}/triples").count()
      else 0L
    } else if (args.stream) {
      // incremental mention detection: drain whatever is currently in the
      // docs directory, checkpoint, exit; re-running processes only new files
      require(!args.docs.startsWith("synth:"), "--stream needs a docs directory")
      val q = graft.streaming.Streaming.availableNowToParquet(
        graft.streaming.Streaming.detectStream(
          graft.streaming.Streaming.docsStream(spark, args.docs), DocsGen.vocabEntries.toDS(),
          feats = featsOpt),
        s"${args.out}/mentions", s"${args.out}/checkpoint")
      q.awaitTermination()
      spark.read.parquet(s"${args.out}/mentions").count()
    } else if (args.resumable) {
      // checkpointed run into an Icebergish table: re-running the same
      // command resumes from the completed-chunk frontier
      val progress = graft.checkpoint.Resumable.run(
        docs, lex, s"${args.out}/triples", s"${args.out}/progress",
        args.chunks, runId = java.util.UUID.randomUUID().toString,
        feats = featsOpt)
      println(s"graft-kg: ${progress.size} chunk(s) executed this run " +
        s"(${progress.map(_.chunk).mkString(",")})")
      if (graft.tables.Icebergish.exists(spark, s"${args.out}/triples"))
        graft.tables.Icebergish.read(spark, s"${args.out}/triples").count()
      else 0L
    } else {
      val triples = KgPipeline.run(docs, lex, args.partitions, feats = featsOpt)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      if (args.explain) triples.explain("formatted")
      if (args.out.startsWith("iceberg:")) {
        // north-star graph materialize: snapshot-committed PARTITIONED
        // Icebergish graph table — predicate-pruned reads + time travel
        val root = args.out.stripPrefix("iceberg:")
        val snap = graft.tables.Icebergish.commit(
          triples.toDF(), root, "overwrite", partitionBy = Seq("pred"))
        println(s"graft-kg: committed snapshot $snap at $root (partitioned by pred)")
      } else {
        triples.write.mode("overwrite").partitionBy("pred").parquet(args.out)
      }
      // count the cached result, not a re-read: an all-empty run writes no
      // part files and parquet schema inference would fail
      triples.count()
    }
    val sec = (System.nanoTime() - t0) / 1e9
    val what =
      if (args.dumpDocs) "docs" else if (args.stream) "mentions" else "triples"
    println(f"graft-kg: $n%d $what -> ${args.out} in $sec%.1f s (${n / sec}%.1f $what/s)")
    spark.stop()
  }
}
