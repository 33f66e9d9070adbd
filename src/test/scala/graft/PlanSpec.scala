package graft

import graft.core.Mention
import graft.data.{DocsGen, Lexicon}
import graft.link.Linker
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan quality gates: the properties that make these operators
  * hold up at 100 TB must be visible in the plan — column pruning and
  * filter pushdown reaching the parquet scan, the lexicon join being a
  * broadcast join, the detector being fed by an explicit doc_id hash
  * partitioning, and aggregations running with map-side partial combine.
  * Catching a regression here is catching a 100x slowdown at scale.
  */
class PlanSpec extends AnyFunSuite {
  lazy val spark = SparkTest.spark
  private val sf = "/root/testdata/sf0.001"

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("projection prunes the parquet read schema to the selected columns") {
    val df = SparkEntry.queries("q_docs_token_count")(spark, sf)
    val p = plan(df)
    assert(p.contains("ReadSchema"))
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(readSchema.contains("doc_id") && readSchema.contains("text"))
    assert(!readSchema.contains("lang") && !readSchema.contains("source"),
      s"scan reads unneeded columns: $readSchema")
  }

  test("filters push down to the lineitem scan") {
    val df = SparkEntry.queries("q_lineitem_pricing")(spark, sf)
    val p = plan(df)
    assert(p.contains("PushedFilters") && p.contains("l_shipdate"),
      "shipdate predicate did not reach the parquet scan")
  }

  test("lexicon link join is a broadcast hash join") {
    import spark.implicits._
    val lex = Lexicon.fromSurfaces(DocsGen.vocabEntries.toDS())
    // parquet-backed: a LocalRelation would constant-fold the native
    // kernel expressions out of the plan under test
    val mdir = java.nio.file.Files.createTempDirectory("link_plan").toString
    Seq(Mention("d", 0, "Diseases", "胃癌", 0, 2, 1.0)).toDS()
      .write.mode("overwrite").parquet(mdir)
    val mentions = spark.read.parquet(mdir).as[Mention]
    val p = plan(Linker.link(mentions, lex).toDF())
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      "lexicon join is not broadcast")
    assert(!p.contains("SortMergeJoin"), "lexicon join degraded to sort-merge")
    // r4: the per-mention kernels are native expressions — no UDF encoder
    // boundary anywhere on the data-sized side of the link join
    assert(p.contains("ctx_embedding") && p.contains("blocking_keys"),
      "link kernels not planned as native expressions")
    assert(!p.contains("ScalaUDF"), "link path still plans a Scala UDF")
  }

  test("perplexity scoring joins its alphabet-bounded count tables by broadcast") {
    val df = SparkEntry.queries("q_docs_perplexity")(spark, sf)
    val p = plan(df)
    assert(p.contains("BroadcastHashJoin"), "count-table join is not broadcast")
    assert(!p.contains("SortMergeJoin"), "count-table join degraded to sort-merge")
  }

  test("sessionization windows are partitioned by user, never global") {
    val df = SparkEntry.queries("q_events_sessionize")(spark, sf)
    val p = plan(df)
    // every Window node must carry the user_id partition spec — a global
    // (unpartitioned) window would single-task the whole events table
    val windows = p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(windows.nonEmpty)
    assert(windows.forall(_.contains("user_id")), s"global window found:\n${windows.mkString("\n")}")
  }

  test("detector input is explicitly hash-partitioned by doc_id") {
    val g = DocsGen.gen(spark, 10, seed = 1)
    val mentions = graft.pipeline.KgPipeline.detectMentions(DocsGen.docs(g), DocsGen.vocabEntries)
    val p = plan(mentions.toDF())
    assert(p.contains("hashpartitioning(doc_id"), "no explicit doc_id repartition before detector")
  }

  test("aggregations use map-side partial combine") {
    val df = SparkEntry.queries("q_docs_lang_dist")(spark, sf)
    val p = plan(df)
    assert(p.contains("partial_count") || p.contains("partial"),
      "aggregation lost its partial (map-side) phase")
  }

  test("ANN top-k ranks via bounded partial aggregation, not a window") {
    // a Window rank shuffles and sorts EVERY scored row (|corpus|×|queries|);
    // the bounded per-key top-k caps the shuffle at k per (query, map task)
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val q = e.filter(org.apache.spark.sql.functions.col("vec_id") < 5)
    val brute = graft.ops.Similarity.bruteForceTopK(e, q, "vec_id", "embedding", 5)
    val lsh = graft.ops.Similarity.lshTopK(e, q, "vec_id", "embedding", dim = 64, k = 5)
    for ((name, df) <- Seq("brute" -> brute, "lsh" -> lsh)) {
      val p = plan(df)
      assert(!p.contains("Window"), s"$name top-k still uses a window rank")
      assert(p.contains("ObjectHashAggregate") || p.contains("SortAggregate"),
        s"$name top-k lost its aggregation")
    }
  }

  test("relational top-k queries rank via bounded partial aggregation, not a window") {
    // r3 verdict item 3: q_events_topk's row_number window funneled each
    // user's full history through one sorting task; ops.TopK.perKey caps
    // the shuffle at k rows per key per map task
    for (name <- Seq("q_events_topk", "q_part_topk_per_brand")) {
      val p = plan(SparkEntry.queries(name)(spark, sf))
      assert(!p.contains("Window"), s"$name still uses a window rank")
      assert(p.contains("ObjectHashAggregate") || p.contains("SortAggregate"),
        s"$name top-k lost its aggregation")
    }
  }

  test("decontamination broadcasts the benchmark shingle set; corpus text never shuffles") {
    val df = SparkEntry.queries("q_docs_decontaminate")(spark, sf)
    val p = plan(df)
    assert(p.contains("BroadcastHashJoin"), "benchmark shingle join is not broadcast")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      "decontamination degraded to a data-sized shuffle join")
    assert(p.contains("shingle_hashes") && !p.contains("ScalaUDF"),
      "shingling is not the native expression")
  }

  test("full curation funnel: no cartesian, no UDF, no window; bench shingles broadcast") {
    // seven stages composed in one plan — any silent degradation (window
    // dedup, shuffled decontamination join, UDF boundary) shows up here
    val df = SparkEntry.queries("q_docs_curation_full")(spark, sf)
    val p = plan(df)
    assert(!p.contains("CartesianProduct") && !p.contains("ScalaUDF") && !p.contains("Window"), p.take(400))
    assert(p.contains("BroadcastHashJoin"), "benchmark shingle join is not broadcast")
    assert(p.contains("shingle_hashes") && p.contains("language_id"),
      "curation stages are not the native expressions")
  }

  test("exact dedup drops duplicates via partial aggregation, not a window rank") {
    // the window plan shuffles and sorts EVERY row; min_by over the
    // identity key forwards at most one row per distinct text per task
    val df = SparkEntry.queries("dedup_exact_drop")(spark, sf)
    val p = plan(df)
    assert(!p.contains("Window"), "exact dedup still uses a window rank")
    assert(p.contains("ObjectHashAggregate") || p.contains("HashAggregate") || p.contains("SortAggregate"),
      "exact dedup lost its aggregation")
  }

  test("trained-IVF probe join broadcasts the query side; no cartesian product") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val q = e.filter(org.apache.spark.sql.functions.col("vec_id") < 5)
    val p = plan(graft.ops.Similarity.ivfTopK(e, q, "vec_id", "embedding", 5))
    assert(p.contains("BroadcastHashJoin"), "IVF cell join is not broadcast")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "IVF degenerated to an all-pairs join")
  }

  test("as-of join windows are key-partitioned; the bucketed range join never degenerates to a cartesian") {
    val asof = plan(SparkEntry.queries("q_events_asof")(spark, sf))
    val asofWindows = asof.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(asofWindows.nonEmpty && asofWindows.forall(_.contains("user_id")),
      s"as-of window not keyed by user:\n${asofWindows.mkString("\n")}")
    val range = plan(SparkEntry.queries("q_events_range_join")(spark, sf))
    assert(!range.contains("CartesianProduct") && !range.contains("BroadcastNestedLoopJoin"),
      "range join degenerated to an all-pairs join")
  }

  test("canonicalize joins the component mapping by broadcast, not shuffle") {
    import org.apache.spark.sql.functions._
    val spark2 = spark
    import spark2.implicits._
    val g = graft.data.DocsGen.gen(spark, 100, seed = 31)
    val lex = graft.data.Lexicon.fromSurfaces(graft.data.DocsGen.vocabEntries.toDS())
    val (triples, cleanup) = graft.pipeline.KgPipeline.runWithCleanup(
      graft.data.DocsGen.docs(g), lex)
    val p = plan(triples.toDF())
    assert(p.contains("BroadcastHashJoin"), "component mapping join lost its broadcast")
    assert(!p.contains("SortMergeJoin"), s"canonicalize shuffles:\n$p")
    cleanup()
  }

  test("triangle counting: equi-joins only (no cartesian), no window, partial-agg rollup") {
    val p = plan(SparkEntry.queries("kg_triangles")(spark, sf))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "triangle enumeration degenerated to an all-pairs join")
    assert(!p.contains("Window"), "triangle rollup uses a window")
    assert(p.contains("partial_count") || p.contains("partial count"),
      "per-node rollup lacks map-side combine")
  }

  test("community and node-similarity queries never degenerate to all-pairs joins") {
    for (name <- Seq("kg_communities", "kg_node_similarity")) {
      val p = plan(SparkEntry.queries(name)(spark, sf))
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$name plans an all-pairs join")
      assert(!p.contains("Window"), s"$name plans a window")
    }
  }

  test("embedding export re-codes the triple table through broadcast joins only") {
    val p = plan(SparkEntry.queries("kg_embedding_export")(spark, sf))
    assert(p.contains("BroadcastHashJoin"), "vocab joins are not broadcast")
    assert(!p.contains("SortMergeJoin"),
      "a vocabulary join shuffled the data-sized triple table")
  }

  test("negative sampling broadcasts the candidate vocabulary; draw is native (no UDF)") {
    val p = plan(SparkEntry.queries("kg_negatives")(spark, sf))
    assert(p.contains("BroadcastHashJoin"), "candidate join is not broadcast")
    assert(!p.contains("ScalaUDF"), "negative-sampling draw plans a Scala UDF")
    assert(p.contains("mix64") && p.contains("hash64"),
      "draw not planned via the native hash expressions")
  }

  test("auto band-join query: the optimizer rule turns the interval join into a hash equi-join") {
    // the query installs BandJoinRewrite into an ISOLATED child session
    // (newSession), so other suites' plans never see the rule or its
    // arming conf
    val p = plan(SparkEntry.queries("q_events_band_join_auto")(spark, sf))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"band join not rewritten:\n$p")
    assert(p.contains("__band_bucket"), "bucket key missing — rule did not fire")
    // ... and the CALLER's session is untouched: no rule installed, no
    // arming conf left set (the r4 advice item: a leaked conf would run
    // every later query in the shared session with the rewrite armed)
    assert(!spark.experimental.extraOptimizations.exists(_.isInstanceOf[graft.plans.BandJoinRewrite]),
      "band-join rule leaked into the caller session")
    assert(spark.conf.getOption("spark.graft.bandJoin.bucketSize").isEmpty,
      "band-join arming conf leaked into the caller session")
  }

  test("kg_mentions_ngram: feature-model detection stays UDF- and window-free") {
    val df = SparkEntry.queries("kg_mentions_ngram")(spark, sf)
    val p = plan(df)
    assert(!p.contains("ScalaUDF"), s"UDF leaked into the feature-detect plan:\n$p")
    assert(!p.contains("Window") && !p.contains("CartesianProduct"), s"bad shape:\n$p")
    assert(p.contains("MapPartitions"), "batched detector missing")
  }

  test("q_docs_table_prune: zone-map-skipped files never reach the scan") {
    val df = SparkEntry.queries("q_docs_table_prune")(spark, sf)
    // the four range-commits wrote >= 4 files; the predicate keeps only
    // the top ~40% of the doc_id domain, so the SCAN's input files must
    // be a strict subset (skipping happens in the scan's file listing,
    // on the driver — the scan's numFiles metric is the ground truth)
    df.collect()
    val scans = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
      .collect(df.queryExecution.executedPlan) { case s: org.apache.spark.sql.execution.FileSourceScanExec => s }
    assert(scans.size == 1, s"one table scan expected, got ${scans.size}")
    val scanned = scans.head.metrics("numFiles").value
    assert(scanned >= 1 && scanned <= 2,
      s"expected 1-2 surviving files after zone-map pruning, scan reads $scanned")
  }

  test("custom as-of exec query plans as the merge operator, not a window") {
    val df = SparkEntry.queries("q_events_asof_exec")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("AsOfJoin"), s"custom exec missing:\n$p")
    assert(!p.contains("Window"), s"window fallback leaked:\n$p")
  }

  test("chunking query is narrow: no exchange before the presentation sort, no UDF") {
    val df = SparkEntry.queries("q_docs_chunk")(spark, sf)
    val p = plan(df)
    assert(!p.contains("ScalaUDF"), s"UDF leaked into the chunk plan:\n$p")
    // exactly one exchange — the rangepartitioning for the final orderBy;
    // the tokenize/explode/slice work is all in-partition
    val exchanges = "Exchange".r.findAllIn(p).size
    assert(exchanges <= 1, s"chunking shuffled before the sort:\n$p")
  }

  test("headline aggregation runs inside whole-stage codegen") {
    // AQE wraps the plan; the codegen explain mode shows the compiled spans
    val df = SparkEntry.queries("q_lineitem_pricing")(spark, sf)
    val codegen = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("codegen"))
    assert(codegen.contains("WholeStageCodegen"))
  }
}
