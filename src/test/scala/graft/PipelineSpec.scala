package graft

import graft.assemble.Triples
import graft.canon.Canon
import graft.core._
import graft.data.{DocsGen, Lexicon}
import graft.link.Linker
import graft.metrics.SpanMetrics
import graft.pipeline.KgPipeline
import org.apache.spark.sql.{Dataset, GraftSqlBridge}
import org.scalatest.funsuite.AnyFunSuite

class PipelineSpec extends AnyFunSuite {
  lazy val spark = SparkTest.spark

  private def lexiconFromVocab() = {
    val spark2 = spark
    import spark2.implicits._
    Lexicon.fromSurfaces(DocsGen.vocabEntries.toDS())
  }

  test("span-sequence invariant: signature identical before and after the pipeline reads docs") {
    val g = DocsGen.gen(spark, 100, seed = 21).cache()
    val docs = DocsGen.docs(g)
    val before = KgPipeline.spanSignature(docs.toDF()).collect().map(r => (r.getString(0), r.getString(1))).toMap
    // run the pipeline (reads docs; must not mutate them), then re-sign
    KgPipeline.run(docs, lexiconFromVocab()).count()
    val after = KgPipeline.spanSignature(docs.toDF()).collect().map(r => (r.getString(0), r.getString(1))).toMap
    assert(before == after)
    g.unpersist()
  }

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getString(0), r.getString(1), r.getString(2), r.getDouble(3))).toSet

  /** The vocab lexicon written to parquet and read back: distributed, so
    * `Linker.resolve` cannot score it on the driver.
    */
  private def parquetLexicon(lex: Dataset[LexiconEntry]): Dataset[LexiconEntry] = {
    val spark2 = spark
    import spark2.implicits._
    val dir = java.nio.file.Files.createTempDirectory("lexicon").toString + "/lex.parquet"
    lex.write.parquet(dir)
    spark.read.parquet(dir).as[LexiconEntry]
  }

  test("driver-local surface resolution equals the distributed scorer bit-for-bit") {
    val spark2 = spark
    import spark2.implicits._
    val lex = lexiconFromVocab().cache()
    val lexRows = lex.collect().toSeq
    val parquetLex = parquetLexicon(lex)
    // vocab surfaces (exact matches), unknown-but-prefix-sharing surfaces
    // (candidates via blocking keys, no exact boost), fully unknown and
    // empty surfaces (S: fallback), and wrong-type probes
    val surfaces: Seq[(String, String)] =
      DocsGen.vocabEntries ++ Seq(
        ("高血压", "Diseases"), ("高血压病史", "Diseases"), ("胃", "Anatomical"),
        ("阿司", "Drug"), ("zz", "Drug"), ("", "Diseases"), ("高血压病", "Drug"),
        ("完全未知表面", "Diseases"), ("胃", "Anatomy"))
    val reference = Linker.surfaceResolutionLocal(surfaces, lexRows).toSet
    val strategies = Seq(
      "broadcast lexicon" -> Linker.surfaceResolution(surfaces.toDS(), lex),
      "broadcast surfaces" -> Linker.surfaceResolutionLargeLexicon(surfaces.toDS(), lex),
      "resolve, parquet lexicon" -> Linker.resolve(surfaces.toDF("text", "entity_type"), parquetLex))
    strategies.foreach { case (name, df) =>
      assert(rows(df) == reference, s"$name differs from the driver-local reference")
    } // exact doubles, exact concept ids
    // broadcast surfaces REVERSES the build side: the broadcast feeds the
    // surface set, the lexicon streams (BuildRight — surfaces are the
    // join's right operand)
    val p = Linker.surfaceResolutionLargeLexicon(surfaces.toDS(), lex)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin") && p.contains("BuildRight"),
      "surface set is not the broadcast build side")
    lex.unpersist()
  }

  test("a parquet lexicon gives the LocalRelation lexicon's triples without broadcasting the lexicon") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    val g = DocsGen.gen(spark, 200, seed = 5).cache()
    val docs = DocsGen.docs(g)
    val lex = lexiconFromVocab()
    assert(graft.ops.BoundedCollect.isLocal(lex))
    def triples(ds: Dataset[Triple]) = ds.collect().map(t => (t.subj, t.pred, t.obj, t.doc_id)).toSeq.sorted
    val local = triples(KgPipeline.run(docs, lex))

    val plans = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = plans.add(qe)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val run = KgPipeline.run(docs, parquetLexicon(lex))
    val distributed = try {
      val t = triples(run)
      // events arrive in order: once the final collect is seen, all are
      org.scalatest.concurrent.Eventually.eventually(
        org.scalatest.concurrent.Eventually.timeout(org.scalatest.time.Span(30, org.scalatest.time.Seconds))) {
        assert(plans.contains(run.queryExecution))
      }
      t
    } finally spark.listenerManager.unregister(listener)
    assert(distributed == local && local.nonEmpty)

    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case s: QueryStageExec => s +: nodes(s.plan)
      case other => other +: other.children.flatMap(nodes)
    }
    val all = plans.toArray(Array.empty[QueryExecution]).toSeq.flatMap(qe => nodes(qe.executedPlan))
    assert(all.exists(_.isInstanceOf[FileSourceScanExec]), "the parquet lexicon was never scanned")
    assert(!all.exists {
      case b: BroadcastExchangeExec => nodes(b).exists(_.isInstanceOf[FileSourceScanExec])
      case _ => false
    }, "the parquet lexicon was broadcast")
    g.unpersist()
  }

  test("linker links exact-surface mentions to their lexicon concept") {
    val spark2 = spark
    import spark2.implicits._
    val lex = lexiconFromVocab().cache()
    val bySurface = lex.collect().map(e => e.surface -> e.concept_id).toMap
    val mentions = Seq(
      Mention("d1", 0, "Diseases", "胃癌", 0, 2, 1.0),
      Mention("d1", 1, "Drug", "阿司匹林", 3, 7, 1.0),
      Mention("d2", 0, "Diseases", "不在词典里", 0, 5, 1.0)
    ).toDS()
    val linked = Linker.link(mentions, lex).collect().map(l => (l.text, l.concept_id)).toMap
    assert(linked("胃癌") == bySurface("胃癌"))
    assert(linked("阿司匹林") == bySurface("阿司匹林"))
    assert(linked("不在词典里") == "S:不在词典里") // unlinked → surface node
    lex.unpersist()
  }

  test("connected components unifies star graphs, handles chains") {
    val spark2 = spark
    import spark2.implicits._
    val edges = Seq(
      ("a", "b"), ("b", "c"), // chain a-b-c
      ("x", "y"), // pair
      ("q", "q") // self-loop singleton
    ).toDF("src", "dst")
    val comp = Canon.connectedComponents(edges).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(comp("a") == "a" && comp("b") == "a" && comp("c") == "a")
    assert(comp("x") == "x" && comp("y") == "x")
    assert(comp("q") == "q")
  }

  test("pipeline output is identical under different partitionings (determinism under parallelism)") {
    val spark2 = spark
    import spark2.implicits._
    val g = DocsGen.gen(spark, 200, seed = 13).cache()
    val docs = DocsGen.docs(g)
    val lex = lexiconFromVocab().cache()
    def run(parts: Int) = KgPipeline.run(docs, lex, numPartitions = parts)
      .collect().map(t => (t.subj, t.pred, t.obj, t.doc_id)).toSeq.sorted
    val a = run(3)
    val b = run(17)
    assert(a == b && a.nonEmpty)
    g.unpersist(); lex.unpersist()
  }

  test("end-to-end: pipeline triples match gold-derived triples exactly (P=R=1)") {
    val spark2 = spark
    import spark2.implicits._
    val g = DocsGen.gen(spark, 300, seed = 42).cache()
    val docs = DocsGen.docs(g)
    val lex = lexiconFromVocab().cache()

    // gold triples: same rules applied to gold mentions linked by surface
    val goldLinked = Linker.link(DocsGen.goldMentions(g), lex)
    val goldTriples = Triples.assemble(goldLinked)
      .collect().map(t => (t.subj, t.pred, t.obj, t.doc_id)).toSet

    val gotTriples = KgPipeline.run(docs, lex)
      .collect().map(t => (t.subj, t.pred, t.obj, t.doc_id)).toSet

    // canonicalization maps concept → component; gold triples above are
    // concept-level. Components of a star rooted at one surface node per
    // concept keep concepts distinct unless surfaces collide, so compare
    // through the same canonical map for strict equality:
    val edges = goldLinked
      .select(org.apache.spark.sql.functions.concat(
        org.apache.spark.sql.functions.lit("S:"),
        $"text").as("src"), $"concept_id".as("dst"))
      .distinct()
    val canon = Canon.connectedComponents(edges).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    val goldCanon = goldTriples.map { case (s, p, o, d) =>
      (canon.getOrElse(s, s), p, canon.getOrElse(o, o), d)
    }
    assert(gotTriples == goldCanon)
    assert(gotTriples.nonEmpty)
    g.unpersist(); lex.unpersist()
  }

  test("span metrics reproduce hand-computed P/R/F1") {
    val spark2 = spark
    import spark2.implicits._
    val gold = Seq(
      Mention("d", 0, "Diseases", "胃癌", 0, 2, 1.0),
      Mention("d", 0, "Drug", "头孢", 5, 7, 1.0),
      Mention("d", 1, "Diseases", "肺炎", 1, 3, 1.0)
    ).toDS()
    val pred = Seq(
      Mention("d", 0, "Diseases", "胃癌", 0, 2, 1.0), // TP
      Mention("d", 0, "Drug", "头孢", 4, 6, 1.0), // wrong offsets → FP
      Mention("d", 1, "Anatomical", "肺叶", 1, 3, 1.0) // wrong type → FP
    ).toDS()
    val per = SpanMetrics.perType(pred, gold)
    val micro = SpanMetrics.micro(per)
    assert(micro.tp == 1 && micro.pred_count == 3 && micro.gold_count == 3)
    assert(math.abs(micro.precision - 1.0 / 3) < 1e-9)
    assert(math.abs(micro.recall - 1.0 / 3) < 1e-9)
  }

  test("runWithCleanup's cleanup frees every RDD the run persisted, driver-local and parquet lexicon") {
    val sc = spark.sparkContext
    val g = DocsGen.gen(spark, 100, seed = 29).cache()
    g.count()
    val docs = DocsGen.docs(g)
    val lex = lexiconFromVocab()
    Seq("driver-local" -> lex, "parquet" -> parquetLexicon(lex)).foreach { case (what, l) =>
      val before = sc.getPersistentRDDs.keySet
      val (triples, cleanup) = KgPipeline.runWithCleanup(docs, l)
      assert(triples.count() > 0)
      assert((sc.getPersistentRDDs.keySet -- before).nonEmpty, s"$what: no mention rows persisted")
      cleanup()
      val left = sc.getPersistentRDDs.filter { case (id, _) => !before(id) }
      assert(left.isEmpty, s"$what: cleanup left $left")
    }
    g.unpersist()
  }

  test("clearCache frees every RDD run persisted, driver-local and parquet lexicon") {
    val sc = spark.sparkContext
    val g = DocsGen.gen(spark, 100, seed = 29).cache()
    g.count()
    val docs = DocsGen.docs(g)
    val lex = lexiconFromVocab()
    Seq("driver-local" -> lex, "parquet" -> parquetLexicon(lex)).foreach { case (what, l) =>
      val before = sc.getPersistentRDDs.keySet
      assert(KgPipeline.run(docs, l).count() > 0)
      assert((sc.getPersistentRDDs.keySet -- before).nonEmpty, s"$what: no mentions persisted")
      spark.catalog.clearCache()
      val left = sc.getPersistentRDDs.filter { case (id, _) => !before(id) }
      assert(left.isEmpty, s"$what: clearCache left $left")
    }
  }

  test("release frees every RDD the contraction loop of connectedComponents left persisted") {
    val spark2 = spark
    import spark2.implicits._
    val sc = spark.sparkContext
    val edges = Seq("a" -> "b", "b" -> "c", "c" -> "f", "d" -> "e").toDF("src", "dst")
    val before = sc.getPersistentRDDs.keySet
    val cc = Canon.connectedComponents(edges, driverMaxEdges = 0)
    assert(cc.collect().map(r => r.getString(0) -> r.getString(1)).toMap ==
      Map("a" -> "a", "b" -> "a", "c" -> "a", "f" -> "a", "d" -> "d", "e" -> "d"))
    GraftSqlBridge.release(cc)
    val left = sc.getPersistentRDDs.filter { case (id, _) => !before(id) }
    assert(left.isEmpty, s"left persisted: $left")
  }
}
