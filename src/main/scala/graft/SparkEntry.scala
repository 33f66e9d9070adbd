package graft

import graft.core.Doc
import graft.data.{DocsGen, Lexicon}
import graft.detect.Detector
import graft.link.Linker
import graft.metrics.SpanMetrics
import graft.ops.{Dedup, Multimodal, Sampling, Similarity, TextAnalysis}
import graft.pipeline.KgPipeline
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Driver contract — one `queries` entry per implemented operator
  * (SURVEY.md §2 inventory + training-data-pipeline ops), with DuckDB
  * oracle SQL for every SQL-expressible one. Column names are aligned
  * between the Spark result and the oracle, every float is rounded, and
  * every query ends in a deterministic ORDER BY on both sides.
  */
object SparkEntry {

  private def t(dir: String, name: String) = s"$dir/$name.parquet"

  /** q_docs_mixture's mixture spec — shared by the query, its oracle SQL,
    * and the Fixtures gate replica so the three can never drift apart.
    */
  private[graft] val MixtureWeights: Seq[(String, Double)] = Seq(
    "src0" -> 0.35, "src1" -> 0.25, "src2" -> 0.20, "src3" -> 0.15, "src4" -> 0.05)
  private[graft] val MixtureBudget: Long = 6000L
  private[graft] val MixtureSeed: Long = 0x313F7EL

  /** q_docs_shuffle_shard's layout — shared with the Fixtures hash replica. */
  private[graft] val ShardCount: Int = 8
  private[graft] val ShardSeed: Long = 0x5EEDL

  /** q_docs_weighted_sample's draw — shared with the Fixtures replica. */
  private[graft] val WeightedK: Int = 200
  private[graft] val WeightedSeed: Long = 0xE512L

  /** kg_negatives' corruption draw — shared with the Fixtures replica. */
  private[graft] val NegativesK: Int = 2
  private[graft] val NegativesSeed: Long = 0x4E6A71L
  /** kg_negatives' training-split scope (exclusive doc_id upper bound). */
  private[graft] val NegativesDocCap: String = "doc-0000000025"

  /** kg_random_walks' draw — shared with the Fixtures replica. */
  private[graft] val WalksPerNode: Int = 2
  private[graft] val WalkLen: Int = 4

  /** kg_mentions_ngram's gazetteer holdout (~25% of vocab surfaces are
    * withheld from the dictionary so detection of them can only come from
    * the K2 n-gram feature model) — shared with the Fixtures replica.
    */
  private[graft] def ngramHeldOut(surface: String): Boolean =
    (graft.core.Hashing.hashString(surface, 0x4E47L) & 3L) == 0L
  private[graft] val WalksSeed: Long = 0x57A1CL

  /** Oracle fixture table (staged by [[Fixtures.stage]]; `{OUT}` is
    * substituted with the verify outDir when `oracle_sql.json` is written).
    */
  private def fx(name: String) = s"read_parquet('{OUT}/_fixtures/$name.parquet/*.parquet')"

  /** ONE chunking replica shared verbatim by `q_docs_chunk` (relational
    * plan) and `q_docs_chunk_sql` (graft_chunk UDTF) — the "shared
    * oracle" claim is a single binding, not a copy that could drift.
    */
  private val chunkOracleSql =
    """WITH t AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
      |  FROM documents WHERE length(trim(text)) > 0),
      |c AS (SELECT doc_id, toks, unnest(range(0, len(toks), 48)) AS tok_start FROM t)
      |SELECT doc_id, tok_start // 48 AS chunk_ix, tok_start,
      |  len(toks[tok_start + 1 : tok_start + 64]) AS n_tok,
      |  array_to_string(toks[tok_start + 1 : tok_start + 64], ' ') AS chunk_text
      |FROM c ORDER BY doc_id, chunk_ix""".stripMargin

  /** Lexicon concept-id assignment re-derived in SQL — same total order
    * (entity_type, surface) and C%07d format as `Lexicon.fromSurfaces`.
    */
  private val lexCte =
    s"""lex AS (
       |  SELECT surface, entity_type,
       |    'C' || lpad(CAST(row_number() OVER (ORDER BY entity_type, surface) AS VARCHAR), 7, '0') AS concept_id
       |  FROM ${fx("vocab")})""".stripMargin

  /** lex + typed per-doc concept mentions (`m`) + the relation-rule
    * VALUES (`r`) — the common prefix of every triple-derived oracle.
    * ONE definition keeps the five relation rows in lockstep with
    * `assemble.Triples` across all oracles; a missed copy would silently
    * desynchronize an oracle from the Spark side.
    */
  private val kgRuleCtes =
    s"""$lexCte,
       |m AS (SELECT DISTINCT g.doc_id, g.entity_type, l.concept_id
       |      FROM ${fx("gold_mentions")} g
       |      JOIN lex l ON g.text = l.surface AND g.entity_type = l.entity_type),
       |r(st, ot, pred) AS (VALUES
       |  ('Diseases','Drug','treated_by'), ('Diseases','Laboratory','has_finding'),
       |  ('Diseases','Anatomical','located_in'), ('Diseases','Image','diagnosed_by'),
       |  ('Diseases','Operation','treated_with'))""".stripMargin

  /** Bi-directed concept co-occurrence edge set (`bi`) re-derived from
    * gold fixtures — shared by the community / node-similarity oracles
    * (the `a <> b` join emits both directions, so `bi` equals the Spark
    * side's canonical-pairs ∪ reversed-pairs construction).
    */
  private val coocCtes =
    s"""$lexCte,
       |m AS (SELECT DISTINCT g.doc_id, l.concept_id
       |      FROM ${fx("gold_mentions")} g
       |      JOIN lex l ON g.text = l.surface AND g.entity_type = l.entity_type),
       |bi AS (SELECT DISTINCT a.concept_id AS src, b.concept_id AS dst
       |       FROM m a JOIN m b ON a.doc_id = b.doc_id AND a.concept_id <> b.concept_id)""".stripMargin

  private def synthDocs(dir: String): Long = Fixtures.synthDocs(dir)

  private def goldAndDocs(spark: SparkSession, dir: String) = {
    val g = DocsGen.gen(spark, synthDocs(dir), seed = 42L)
    (g, DocsGen.docs(g))
  }

  private def lexicon(spark: SparkSession) = {
    import spark.implicits._
    Lexicon.fromSurfaces(DocsGen.vocabEntries.toDS())
  }

  /** Corpus-estimated CRF transition table (K3): legal transitions with
    * add-1-smoothed log-probs, rounded at 6 (shared by the
    * kg_crf_transitions query and the attribution join).
    */
  private def crfTransitions(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (g, _) = goldAndDocs(s, dir)
    val counts = Detector.transitionCounts(DocsGen.goldSentences(g))
    val L = Detector.NumLabels
    def lab(i: Int) = if (i == L) "<s>" else graft.core.Bio.Labels(i)
    val rows = (0 to L).flatMap { i =>
      val legal = (0 until L).filter(j => Detector.transitions(i)(j) > -1e8f)
      val total = legal.map(j => counts.getOrElse((i, j), 0L)).sum.toDouble + legal.size
      legal.map { j =>
        val n = counts.getOrElse((i, j), 0L)
        (lab(i), graft.core.Bio.Labels(j), n, math.log((n + 1.0) / total))
      }
    }
    rows.toDF("from_label", "to_label", "n", "logp")
      .withColumn("logp", round(col("logp"), 6))
  }

  /** Concept co-occurrence edges (canonical lo<hi pairs) over the linked
    * mentions — shared by the triangle / community / node-similarity
    * queries. Pair generation is per-doc (bounded by doc length), same
    * scale argument as triple assembly.
    */
  private def perDocConcepts(s: SparkSession, dir: String): DataFrame = {
    val (_, docs) = goldAndDocs(s, dir)
    val mentions = KgPipeline.detectMentions(docs, DocsGen.vocabEntries)
    val linked = Linker.link(mentions, lexicon(s)).toDF()
    linked.select(col("doc_id"), col("concept_id")).distinct()
  }

  private def coocEdges(s: SparkSession, dir: String): DataFrame = {
    val perDoc = perDocConcepts(s, dir)
    perDoc.as("a")
      .join(perDoc.as("b"),
        col("a.doc_id") === col("b.doc_id") && col("a.concept_id") < col("b.concept_id"))
      .select(col("a.concept_id").as("src"), col("b.concept_id").as("dst"))
  }

  /** Support-sparsified co-occurrence pairs: keep pairs co-occurring in
    * ≥1.5% of mention-bearing docs — SF-RELATIVE (the sparsification
    * carries across scales) and integer-exact (n·1000 ≥ 15·n_docs). The
    * full synthetic co-occurrence graph is COMPLETE (every concept pair
    * co-occurs somewhere), so structure-sensitive analytics (k-core,
    * Adamic-Adar) run here. The one driver-side value is the scalar doc
    * count — aggregate-bounded, same class as Mixture's totals.
    */
  private def sparsifiedCoocEdges(s: SparkSession, dir: String): DataFrame = {
    val perDoc = perDocConcepts(s, dir)
    val nDocs = perDoc.select(countDistinct(col("doc_id"))).head().getLong(0)
    perDoc.as("a")
      .join(perDoc.as("b"),
        col("a.doc_id") === col("b.doc_id") && col("a.concept_id") < col("b.concept_id"))
      .groupBy(col("a.concept_id").as("src"), col("b.concept_id").as("dst"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") * 1000L >= lit(15L) * nDocs)
      .select("src", "dst")
  }

  /** Weighted bi-directed co-occurrence edges for the SSSP query: per
    * canonical concept pair, the number of co-occurring docs `n`, turned
    * into an integer cost w = max(1, 6 − min(n, 5)) (strong edges are
    * cheap), then both orientations emitted. Same derivation unrolled in
    * the kg_shortest_paths oracle.
    */
  private def weightedCoocEdges(s: SparkSession, dir: String): DataFrame = {
    val pair = coocEdges(s, dir)
      .groupBy("src", "dst").agg(count(lit(1)).as("n"))
      .select(col("src"), col("dst"),
        greatest(lit(1L), lit(6L) - least(col("n"), lit(5L))).as("w"))
    pair.unionByName(pair.select(col("dst").as("src"), col("src").as("dst"), col("w")))
  }

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val docs = DocsGen.docs(DocsGen.gen(spark, 300, seed = 42L))
    KgPipeline.run(docs, lexicon(spark)).toDF()
      .orderBy("subj", "pred", "obj", "doc_id")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---------------------------------------------------------------- KG pipeline (non-SQL ops: rows-only checks)
    "kg_triples" -> ((s, dir) => {
      import s.implicits._
      val (_, docs) = goldAndDocs(s, dir)
      KgPipeline.run(docs, lexicon(s)).toDF().orderBy("subj", "pred", "obj", "doc_id")
    }),
    "kg_mentions" -> ((s, dir) => {
      val (_, docs) = goldAndDocs(s, dir)
      KgPipeline.detectMentions(docs, DocsGen.vocabEntries).toDF()
        .withColumn("confidence", round(col("confidence"), 6))
        .orderBy("doc_id", "span_idx", "start")
    }),
    "kg_mentions_partitioned" -> ((s, dir) => {
      // the LARGE-GAZETTEER detect strategy, called directly (Detector.detect
      // would broadcast this small gazetteer): the gazetteer stays a
      // DISTRIBUTED dataset (no broadcast) and candidates reach each
      // sentence through the leading-bigram blocking-key equi-join;
      // output must equal kg_mentions exactly, so it shares that oracle.
      import s.implicits._
      val (_, docs) = goldAndDocs(s, dir)
      // explicit width: a bare repartition(col) is AQE-coalesced to one
      // task on tiny shuffles
      val sents = KgPipeline.sentences(docs).repartition(graft.core.Parallelism.width(s), col("doc_id"))
      graft.detect.Detector
        .detectPartitioned(sents, DocsGen.vocabEntries.toDS())
        .toDF()
        .withColumn("confidence", round(col("confidence"), 6))
        .orderBy("doc_id", "span_idx", "start")
    }),
    "kg_mentions_ngram" -> ((s, dir) => {
      // K2 FULL under the gate: the hashed n-gram + context-window
      // emission model is FIT DISTRIBUTED on the gold corpus (bounded
      // (dim+1)×L aggregate), then detection runs with a gazetteer from
      // which ~25% of surfaces are withheld — those mentions are only
      // reachable through the feature model. Oracle: the bit-identical
      // sequential replica staged as expected_ngram_mentions.
      val (g, docs) = goldAndDocs(s, dir)
      val model = graft.detect.Features.fit(DocsGen.goldSentences(g))
      val pruned = DocsGen.vocabEntries.filterNot { case (surf, _) => ngramHeldOut(surf) }
      KgPipeline.detectMentions(docs, pruned, feats = Some(model)).toDF()
        .withColumn("confidence", round(col("confidence"), 6))
        .orderBy("doc_id", "span_idx", "start")
    }),
    "kg_linked" -> ((s, dir) => {
      val (_, docs) = goldAndDocs(s, dir)
      val mentions = KgPipeline.detectMentions(docs, DocsGen.vocabEntries)
      // link_score is dropped from the DRIVER-checked projection: the
      // hashed context-embedding dot product is not SQL-derivable (scores
      // are covered by sbt tests); concept assignment IS oracle-checked.
      Linker.link(mentions, lexicon(s)).toDF()
        .withColumn("confidence", round(col("confidence"), 6))
        .select("doc_id", "span_idx", "entity_type", "text", "start", "end", "confidence", "concept_id")
        .orderBy("doc_id", "span_idx", "start")
    }),
    "kg_components" -> ((s, dir) => {
      val (_, docs) = goldAndDocs(s, dir)
      val mentions = KgPipeline.detectMentions(docs, DocsGen.vocabEntries)
      val linked = Linker.link(mentions, lexicon(s))
      val edges = linked.toDF()
        .select(concat(lit("S:"), col("text")).as("src"), col("concept_id").as("dst"))
        .distinct()
      graft.canon.Canon.connectedComponents(edges).orderBy("node")
    }),
    "kg_components_general" -> ((s, dir) => {
      // SAME edges as kg_components but with the driver union-find
      // DISABLED (driverMaxEdges = 0): the large-star/small-star
      // contraction loop — the 100 TB general-graph path — now carries
      // its own DRIVER-level oracle, not just the sbt equivalence sweep.
      val (_, docs) = goldAndDocs(s, dir)
      val mentions = KgPipeline.detectMentions(docs, DocsGen.vocabEntries)
      val linked = Linker.link(mentions, lexicon(s))
      val edges = linked.toDF()
        .select(concat(lit("S:"), col("text")).as("src"), col("concept_id").as("dst"))
        .distinct()
      graft.canon.Canon.connectedComponents(edges, driverMaxEdges = 0L).orderBy("node")
    }),
    "kg_degree" -> ((s, dir) => {
      // graph analytics over the CONSTRUCTED KG: node degrees of the
      // concept-level edge set — one shuffle, partial agg (GraphOps)
      val (_, docs) = goldAndDocs(s, dir)
      val triples = KgPipeline.run(docs, lexicon(s)).toDF()
      graft.graph.GraphOps.degrees(triples).orderBy("node")
    }),
    "kg_pagerank" -> ((s, dir) => {
      // fixed-iteration damped power method over the constructed KG —
      // checked against an UNROLLED-iteration SQL replica (same damped
      // formulation, same dangling-mass simplification; distributed sums
      // reorder at ~1e-16, absorbed by the 1e-6 rounding both sides)
      val (_, docs) = goldAndDocs(s, dir)
      val triples = KgPipeline.run(docs, lexicon(s)).toDF()
      graft.graph.GraphOps.pagerank(
        triples.select(col("subj").as("src"), col("obj").as("dst")), iters = 5)
        .withColumn("rank", round(col("rank"), 6))
        .orderBy("node")
    }),
    "kg_triangles" -> ((s, dir) => {
      // per-node triangle counts of the concept CO-OCCURRENCE graph
      // (concepts sharing a doc; the triples graph itself is
      // disease→other bipartite, hence triangle-free). Degree-orientation
      // formulation — wedge fan-out bounded by degeneracy, not hub degree
      graft.graph.GraphOps.triangleCounts(coocEdges(s, dir), "src", "dst").orderBy("node")
    }),
    "kg_communities" -> ((s, dir) => {
      // deterministic synchronous label propagation (3 rounds) over the
      // co-occurrence graph — integer-only relational argmax (count →
      // max → min-label tie-break), so the unrolled SQL replica matches
      // exactly with no float tolerance at all
      graft.graph.GraphOps.labelPropagation(coocEdges(s, dir), iters = 3, "src", "dst")
        .orderBy("node")
    }),
    "kg_node_similarity" -> ((s, dir) => {
      // neighborhood Jaccard (link-prediction baseline): pairs sharing a
      // neighbor, generated per shared neighbor under the maxDegree hub
      // cap (replicated verbatim in the oracle, so the compare is exact)
      graft.graph.GraphOps.neighborJaccard(
        coocEdges(s, dir), minSim = 0.5, maxDegree = 1000L, "src", "dst")
        .orderBy("a", "b")
    }),
    "kg_motifs" -> ((s, dir) => {
      // predicate wedge census (schema profiling before rule writing):
      // unordered predicate pairs sharing a subject, counted WITHOUT
      // pairing edges — counts per (subj, pred) are paired instead, so
      // per-subject fan-out is |P|²-bounded, never degree-quadratic
      val (_, docs) = goldAndDocs(s, dir)
      val triples = KgPipeline.run(docs, lexicon(s)).toDF()
      graft.graph.GraphOps.predicateWedges(triples).orderBy("pred_a", "pred_b")
    }),
    "kg_rule_confidence" -> ((s, dir) => {
      // AMIE-style single-atom rule mining: confidence that a subject
      // with an antecedent edge type also carries the consequent type.
      // Exact long counts; confidence is the same two-long IEEE division
      // on both engines
      val (_, docs) = goldAndDocs(s, dir)
      val triples = KgPipeline.run(docs, lexicon(s)).toDF()
      graft.graph.GraphOps.ruleImplication(triples)
        .orderBy("antecedent", "consequent")
    }),
    "kg_shortest_paths" -> ((s, dir) => {
      // bounded-round weighted SSSP (Bellman-Ford, min-plus) from the hub
      // concept over the co-occurrence graph; integer edge weights favor
      // strongly-supported edges (w = max(1, 6 − min(n_docs, 5))), so the
      // distributed min is bit-exact vs the unrolled SQL replica
      import s.implicits._
      val seed = lexicon(s).filter(col("surface") === DocsGen.HubSurface)
        .select("concept_id").as[String].head()
      graft.graph.GraphOps.shortestPaths(
        weightedCoocEdges(s, dir), Seq(seed), rounds = 4)
        .orderBy("node")
    }),
    "kg_kcore" -> ((s, dir) => {
      // k-core of the support-sparsified co-occurrence graph (see
      // sparsifiedCoocEdges), 3 peeling rounds at k=5.
      graft.graph.GraphOps.kCore(
        sparsifiedCoocEdges(s, dir), k = 5L, rounds = 3, "src", "dst")
        .orderBy("node")
    }),
    "kg_embedding_export" -> ((s, dir) => {
      // int-indexed training export (TransE-toolkit layout): dense ids
      // by sorted vocab order; the data-sized triple table is re-coded
      // through broadcast joins only
      val (_, docs) = goldAndDocs(s, dir)
      val triples = KgPipeline.run(docs, lexicon(s)).toDF()
      graft.graph.KgExport.embeddingExport(triples).orderBy("h", "r", "t")
    }),
    "kg_negatives" -> ((s, dir) => {
      // type-constrained negative sampling for KG-embedding training:
      // ≤k corrupted objects per positive triple, same-type candidates,
      // true triples filtered (anti-join); the draw is a pure function
      // of (seed, triple, attempt) — partition-independent, replicated
      // sequentially by the fixture oracle. Positives are scoped to a
      // sparse doc subset (the "training split"): over the full synthetic
      // corpus every (disease, object) pair occurs somewhere, so the
      // unscoped concept graph is complete and filtered corruption would
      // be vacuously empty — the scoped graph leaves real negatives.
      val (_, docs) = goldAndDocs(s, dir)
      val triples = KgPipeline.run(docs, lexicon(s)).toDF()
        .filter(col("doc_id") < lit(NegativesDocCap))
      graft.graph.NegativeSampling.corruptObjects(
        triples, lexicon(s).toDF().select("concept_id", "entity_type"),
        k = NegativesK, seed = NegativesSeed)
        .orderBy("subj", "pred", "obj", "attempt")
    }),
    "kg_random_walks" -> ((s, dir) => {
      // DeepWalk/node2vec-style corpus generation over the concept
      // co-occurrence graph: walksPerNode seeded walks of walkLen steps
      // from every node; the next-hop draw is a pure function of
      // (seed, start, walk, step, current) through the codegen'd hash
      // expressions, so the corpus is partition-independent — which the
      // sequential fixture replica re-derives exactly. Each step is one
      // broadcast join against the vocabulary-bounded adjacency table.
      val edges = coocEdges(s, dir).distinct()
      graft.graph.RandomWalks.walks(
        edges, walksPerNode = WalksPerNode, walkLen = WalkLen, seed = WalksSeed)
        .orderBy("start", "walk", "step")
    }),
    "bio_source_roundtrip" -> ((s, dir) => {
      // DSv2 connector end-to-end under the driver gate, BOTH directions
      // through the connector: gold sentences → distributed
      // format("bio") WRITE (multi-part, blank-line-delimited blocks) →
      // format("bio") READ with byte-range splits small enough to land
      // mid-sentence → per-tag counts. The oracle re-derives the counts
      // from the gold_tags fixture, so a split-boundary or writer bug
      // (lost/duplicated sentence) is a hard mismatch. Temp dir is
      // per-SF and truncated each run.
      val (g, _) = goldAndDocs(s, dir)
      val tmp = s"${System.getProperty("java.io.tmpdir")}/graft_bio_dsv2_" +
        dir.replaceAll("[^A-Za-z0-9]", "_")
      DocsGen.goldSentences(g).toDF()
        .select(col("chars"), col("tags"))
        .write.format("bio").mode("overwrite").save(tmp)
      s.read.format("bio").option("maxSplitBytes", "4096").load(tmp)
        .select(explode(col("tags")).as("tag"))
        .groupBy("tag").agg(count(lit(1)).as("n"))
        .orderBy("tag")
    }),
    "streaming_bio_tags" -> ((s, dir) => {
      // the bio connector's STREAMING surface under the driver gate:
      // gold sentences staged as BIO via the connector WRITE, consumed
      // back through readStream.format("bio") (AvailableNow, 4 KiB
      // byte-range splits → hundreds of mid-sentence boundaries inside
      // one micro-batch), rows landed in a memory sink, then the per-tag
      // counts compared against the gold_tags fixture — a lost or
      // duplicated sentence anywhere in the streaming path is a hard
      // mismatch. Deterministic: all files arrive in the one trigger.
      val (g, _) = goldAndDocs(s, dir)
      val tmp = s"${System.getProperty("java.io.tmpdir")}/graft_bio_stream_" +
        dir.replaceAll("[^A-Za-z0-9]", "_")
      DocsGen.goldSentences(g).toDF()
        .select(col("chars"), col("tags"))
        .write.format("bio").mode("overwrite").save(tmp)
      val name = "graft_bio_stream_" + java.lang.Long.toHexString(System.nanoTime())
      val ckpt = java.nio.file.Files.createTempDirectory("graft_bio_ckpt_").toString
      val q = s.readStream.format("bio").option("maxSplitBytes", "4096").load(tmp)
        .select(explode(col("tags")).as("tag"))
        .writeStream.format("memory").queryName(name)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.table(name).groupBy("tag").agg(count(lit(1)).as("n")).orderBy("tag")
    }),
    "kg_skipgram_pairs" -> ((s, dir) => {
      // skip-gram training pairs from the walk corpus (window 2): the
      // self-join key is the walk id, so per-key fan-out is bounded by
      // the walk length — never by graph size or node degree. The oracle
      // re-derives the pairs in pure SQL from the walks fixture.
      val edges = coocEdges(s, dir).distinct()
      val w = graft.graph.RandomWalks.walks(
        edges, walksPerNode = WalksPerNode, walkLen = WalkLen, seed = WalksSeed)
      graft.graph.RandomWalks.skipGramPairs(w, window = 2)
        .orderBy("center", "context")
    }),
    "kg_cooc_pmi" -> ((s, dir) => {
      // PMI / lift edge weighting of the co-occurrence graph: lift is
      // two IEEE multiplications + one division on exact long counts in
      // a pinned operand order (bit-identical cross-engine); pmi = ln
      // rounded to 6 (pagerank precedent). Counts are partial-agg
      // groupBys; per-item counts and the doc total broadcast back.
      graft.graph.GraphOps.pmiWeights(perDocConcepts(s, dir))
        .orderBy("a", "b")
    }),
    "kg_adamic_adar" -> ((s, dir) => {
      // Adamic-Adar link prediction over the SPARSIFIED co-occurrence
      // graph (the full synthetic graph is complete → structureless):
      // wedges generate at shared neighbors with 2 <= deg <= 12 — the
      // cap BINDS (sparsified degrees run 1..23) and is replicated
      // verbatim in the oracle, so the compare stays exact.
      graft.graph.GraphOps.adamicAdar(
        sparsifiedCoocEdges(s, dir), maxDegree = 12L, "src", "dst")
        .orderBy("a", "b")
    }),
    "kg_skipgram_export" -> ((s, dir) => {
      // the full DeepWalk training-set pipeline in ONE plan: co-occurrence
      // graph → seeded walks → skip-gram pairs → dense int-id export
      // (broadcast re-coding, same scheme as kg_embedding_export). The
      // oracle re-derives every stage in SQL from the walks fixture.
      val edges = coocEdges(s, dir).distinct()
      val w = graft.graph.RandomWalks.walks(
        edges, walksPerNode = WalksPerNode, walkLen = WalkLen, seed = WalksSeed)
      graft.graph.KgExport.skipGramExport(
        graft.graph.RandomWalks.skipGramPairs(w, window = 2))
        .orderBy("c", "x")
    }),
    "kg_span_metrics" -> ((s, dir) => {
      val (g, docs) = goldAndDocs(s, dir)
      val pred = KgPipeline.detectMentions(docs, DocsGen.vocabEntries)
      SpanMetrics.perType(pred, DocsGen.goldMentions(g)).toDF()
        .withColumn("precision", round(col("precision"), 6))
        .withColumn("recall", round(col("recall"), 6))
        .withColumn("f1", round(col("f1"), 6))
        .orderBy("entity_type")
    }),
    "kg_bio_roundtrip" -> ((s, dir) => {
      import s.implicits._
      val (g, _) = goldAndDocs(s, dir)
      // detect from gold tags (CRF path) then re-encode: parity-by-construction
      Detector.detectFromTags(DocsGen.goldSentences(g)).toDF()
        .groupBy("entity_type").agg(count(lit(1)).as("n"))
        .orderBy("entity_type")
    }),
    "kg_crf_transitions" -> ((s, dir) => {
      // K3 full: corpus-estimated CRF transition training. The DISTRIBUTED
      // part under test is the tag-bigram counting job; the emitted rows
      // (legal transitions with add-1-smoothed log-probs) are a bounded
      // parameter table, not a data path.
      crfTransitions(s, dir).orderBy("from_label", "to_label")
    }),
    "kg_attributions" -> ((s, dir) => {
      // explainability analog (model_explainability.py:209-218): per
      // detected mention, the ranked features that produced it —
      // gazetteer evidence, the displaced O-prior, and the CRF
      // transition chain (joined broadcast from the bounded transition
      // table; fully relational, no kernel re-run)
      val (_, docs) = goldAndDocs(s, dir)
      val mentions = KgPipeline.detectMentions(docs, DocsGen.vocabEntries).toDF()
      graft.explain.Attribution.attributions(mentions, crfTransitions(s, dir))
        .orderBy("doc_id", "span_idx", "start", "rank")
    }),
    "kg_mean_attention" -> ((s, dir) => {
      // A10 analog (model_explainability.py:73-77,146): per-token mean of
      // the detector's attention structure — span co-membership (the 8.0
      // emission evidence) + O-prior self-attention (2.0) — over an
      // explained doc subset (the full matrix is per-sentence viz; the
      // MEAN is the queryable reduce). Doc predicate prunes before detect.
      val (_, docs) = goldAndDocs(s, dir)
      val scoped = docs.filter(col("doc_id") < "doc-0000000100")
      val mentions = KgPipeline.detectMentions(scoped, DocsGen.vocabEntries).toDF()
      graft.explain.AttentionMap.meanTokenAttention(
        KgPipeline.sentences(scoped).toDF(), mentions)
        .orderBy("doc_id", "span_idx", "pos")
    }),

    // ---------------------------------------------------------------- relational core (oracle-checked)
    "q_lineitem_pricing" -> ((s, dir) => {
      val li = s.read.parquet(t(dir, "lineitem"))
      li.filter(col("l_shipdate") <= lit("1998-09-01"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          round(sum("l_quantity"), 2).as("sum_qty"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    }),
    "q_orders_by_nation" -> ((s, dir) => {
      val o = s.read.parquet(t(dir, "orders"))
      val c = s.read.parquet(t(dir, "customer"))
      val n = s.read.parquet(t(dir, "nation"))
      o.join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .groupBy("n_name")
        .agg(round(sum("o_totalprice"), 2).as("revenue"), count(lit(1)).as("n_orders"))
        .orderBy("n_name")
    }),
    "q_events_topk" -> ((s, dir) => {
      // bounded per-key top-k aggregation (ops.TopK) — NOT a window rank:
      // map-side combine forwards ≤k rows per user per task, so a hot user
      // never funnels its full history through one sorting task
      val e = s.read.parquet(t(dir, "events"))
        .select("user_id", "event_id", "event_type", "value")
      graft.ops.TopK.perKey(e, Seq("user_id"), col("value"), col("event_id"), 3)
        .select(col("user_id"), col("event_id"), col("event_type"), round(col("value"), 6).as("value"), col("rank"))
        .orderBy("user_id", "rank")
    }),
    "q_orders_no_lineitem" -> ((s, dir) => {
      val o = s.read.parquet(t(dir, "orders"))
      val li = s.read.parquet(t(dir, "lineitem"))
      o.join(li, o("o_orderkey") === li("l_orderkey"), "left_anti")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"))
        .orderBy("o_orderpriority")
    }),
    "q_part_topk_per_brand" -> ((s, dir) => {
      // same bounded top-k aggregation as q_events_topk (no window rank)
      val p = s.read.parquet(t(dir, "part"))
        .select("p_brand", "p_partkey", "p_retailprice")
      graft.ops.TopK.perKey(p, Seq("p_brand"), col("p_retailprice"), col("p_partkey"), 3)
        .select(col("p_brand"), col("p_partkey"), round(col("p_retailprice"), 2).as("p_retailprice"), col("rank"))
        .orderBy("p_brand", "rank")
    }),
    "q_supplier_balance" -> ((s, dir) => {
      val sup = s.read.parquet(t(dir, "supplier"))
      val n = s.read.parquet(t(dir, "nation"))
      sup.join(broadcast(n), sup("s_nationkey") === n("n_nationkey"))
        .groupBy("n_name")
        .agg(round(sum("s_acctbal"), 2).as("total_bal"), count(lit(1)).as("n_suppliers"))
        .orderBy("n_name")
    }),

    // ---------------------------------------------------------------- text-analysis ops (oracle-checked)
    "q_docs_dedup_exact" -> ((s, dir) => {
      val d = s.read.parquet(t(dir, "documents"))
      d.agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("text")).as("n_distinct_texts"),
        (count(lit(1)) - countDistinct(col("text"))).as("n_exact_dups"))
    }),
    "q_docs_dedup_normalized" -> ((s, dir) => {
      // normalization-aware dedup signal: how many docs collapse when
      // case/whitespace differences are erased before hashing
      val d = s.read.parquet(t(dir, "documents"))
      val norm = TextAnalysis.normalizeText(col("text"))
      d.agg(
        countDistinct(col("text")).as("n_raw_distinct"),
        countDistinct(norm).as("n_norm_distinct"),
        (countDistinct(col("text")) - countDistinct(norm)).as("n_normalized_dups"))
    }),
    "q_docs_token_count" -> ((s, dir) => {
      val d = s.read.parquet(t(dir, "documents"))
      d.select(col("doc_id"), size(split(trim(col("text")), " ")).as("n_tokens"))
        .orderBy("doc_id")
    }),
    "q_docs_quality" -> ((s, dir) => {
      val d = s.read.parquet(t(dir, "documents"))
      // the composite score is re-rounded to 4 decimals for the oracle
      // compare: it is the one column built from a CHAIN of rounded double
      // terms, where Spark's HALF_UP and DuckDB's rounding can differ by
      // an ulp at a 1e-6 boundary (observed at sf0.1); the ratio columns
      // are exact integer divisions and stay at 6
      TextAnalysis.qualityFeatures(d, col("text"))
        .withColumn("quality_score", round(col("quality_score"), 4))
        .select("doc_id", "n_tokens", "punct_ratio", "stopword_ratio", "mean_word_len", "quality_score")
        .orderBy("doc_id")
    }),
    "q_docs_perplexity" -> ((s, dir) => {
      // perplexity-style quality filter: corpus-estimated char-bigram LM
      // cross-entropy per document (TextAnalysis.charBigramCrossEntropy)
      TextAnalysis.charBigramCrossEntropy(s.read.parquet(t(dir, "documents")))
        .orderBy("doc_id")
    }),
    "q_docs_lang_dist" -> ((s, dir) => {
      s.read.parquet(t(dir, "documents"))
        .groupBy("lang").agg(count(lit(1)).as("n"), round(avg("n_chars"), 4).as("avg_chars"))
        .orderBy("lang")
    }),
    "q_docs_stats" -> ((s, dir) => {
      s.read.parquet(t(dir, "documents"))
        .groupBy("source")
        .agg(count(lit(1)).as("n"), round(avg("n_chars"), 4).as("avg_chars"), max("n_chars").as("max_chars"))
        .orderBy("source")
    }),
    "q_docs_argmax" -> ((s, dir) => {
      // A9 analog (best-model argmax, train_enhanced.py:432-445): highest-
      // quality doc per source via max_by — single shuffle with partial
      // agg, no window. Ordering uses the 4-decimal score (see
      // q_docs_quality note) with ties broken to the smallest doc_id so
      // both engines rank identically.
      val d = TextAnalysis.qualityFeatures(s.read.parquet(t(dir, "documents")), col("text"))
        .withColumn("quality_score", round(col("quality_score"), 4))
      d.groupBy(col("source"))
        .agg(
          max_by(col("doc_id"), struct(col("quality_score"), (lit(0L) - col("doc_id")).as("neg_id"))).as("best_doc_id"),
          max(col("quality_score")).as("best_quality"))
        .orderBy("source")
    }),
    "q_ann_brute_topk" -> ((s, dir) => {
      val e = s.read.parquet(t(dir, "embeddings"))
      Similarity.bruteForceTopK(e, e.filter(col("vec_id") < 10), "vec_id", "embedding", 5)
        .orderBy("query_id", "rank")
    }),
    "q_docs_length_quantiles" -> ((s, dir) => {
      // EXACT interpolated percentiles (not approx_percentile): both
      // engines implement the standard p*(n-1) linear interpolation
      s.read.parquet(t(dir, "documents"))
        .groupBy("lang")
        .agg(
          expr("round(percentile(n_chars, 0.25), 4)").as("p25"),
          expr("round(percentile(n_chars, 0.5), 4)").as("p50"),
          expr("round(percentile(n_chars, 0.75), 4)").as("p75"),
          expr("round(percentile(n_chars, 0.95), 4)").as("p95"))
        .orderBy("lang")
    }),
    "q_docs_table_prune" -> ((s, dir) => {
      // the SNAPSHOT TABLE LAYER under the DuckDB gate, through manifest
      // DATA SKIPPING: documents are committed into an Icebergish table
      // as four doc_id-range appends (the chronological-append shape)
      // with per-file zone maps on doc_id; the query reads through
      // readPruned, so commits whose bounds refute the predicate are
      // never scanned — require() makes a silent no-skip regression fail
      // the query rather than quietly degrade to a full scan.
      import graft.tables.Icebergish
      val docs = s.read.parquet(t(dir, "documents"))
      val maxId = docs.agg(max("doc_id")).head.getLong(0)
      val root = java.nio.file.Files.createTempDirectory("graft_table_prune").toString
      val bounds = (0 to 4).map(i => (maxId + 1) * i / 4)
      bounds.sliding(2).foreach { case Seq(lo, hi) =>
        Icebergish.commit(
          docs.filter(col("doc_id") >= lo && col("doc_id") < hi),
          root, statsColumns = Seq("doc_id"))
      }
      val cut = maxId * 3 / 5
      val pred = col("doc_id") >= cut
      val (_, skipped) = Icebergish.pruneFiles(s, root, pred)
      require(skipped.nonEmpty,
        s"zone-map pruning skipped no files for doc_id >= $cut")
      Icebergish.readPruned(s, root, pred)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("total_chars"))
        .orderBy("source")
    }),
    "q_docs_rollup" -> ((s, dir) => {
      // multi-dimensional aggregation: ROLLUP over (source, lang) —
      // per-combo rows + per-source subtotals + the grand total in one
      // pass (Catalyst expands to a single Expand+partial-agg plan)
      s.read.parquet(t(dir, "documents"))
        .rollup("source", "lang")
        .agg(count(lit(1)).as("n"), sum("n_chars").as("total_chars"))
        .orderBy(col("source").asc_nulls_first, col("lang").asc_nulls_first)
    }),
    "q_docs_curation_full" -> ((s, dir) => {
      // the FULL modern recipe: dedup → decontaminate → langid →
      // quality → repetition cap → stratified sample → PII redaction
      val docs = s.read.parquet(t(dir, "documents"))
      graft.ops.Curation.curateFull(
        docs, docs.filter(col("doc_id") % 193 === 0), "doc_id", "text",
        allowedLangs = Set("en", "zh"), minQuality = 0.5, maxTopGramFrac = 0.15,
        sampleRates = Map("en" -> 0.8, "zh" -> 1.0), defaultRate = 0.6, seed = 0xCA7EL)
        .orderBy("doc_id")
    }),
    "q_docs_redact_pii" -> ((s, dir) => {
      // PII scrub: pure regexp_replace chain (codegen'd) — URL, email,
      // IPv4, phone; pattern set restricted to Java-regex/RE2-identical
      // constructs so the DuckDB oracle runs the same expressions
      s.read.parquet(t(dir, "documents"))
        .select(col("doc_id"),
          graft.ops.TextAnalysis.redactPiiCol(col("text")).as("text_redacted"))
        .orderBy("doc_id")
    }),
    "q_docs_repetition" -> ((s, dir) => {
      // Gopher-style repetition quality stats over word 2-grams; hash
      // multiset from the native shingle expression, counts only on the
      // wire, zero-gram docs kept with zeros
      graft.ops.TextAnalysis.repetitionStats(
        s.read.parquet(t(dir, "documents")), "text", "doc_id", w = 2)
        .orderBy("doc_id")
    }),
    "q_docs_decontaminate" -> ((s, dir) => {
      // benchmark decontamination: training docs sharing any word 3-gram
      // with the benchmark subset (doc_id % 193 == 0) are dropped; the
      // benchmark's shingle-hash set broadcasts, hashes on the wire
      val docs = s.read.parquet(t(dir, "documents"))
      val bench = docs.filter(col("doc_id") % 193 === 0)
      graft.ops.Decontaminate.decontaminate(docs, bench, "text", "doc_id")
        .select("doc_id").orderBy("doc_id")
    }),
    "q_docs_pack" -> ((s, dir) => {
      // LLM sequence packing: greedy fill into ≤4096-token packs within
      // fixed 64-doc id blocks — deterministic for any partitioning, one
      // bounded flatMapGroups per block, shuffle carries (id, tokens)
      graft.ops.Packing.packGreedy(
        s.read.parquet(t(dir, "documents")), "doc_id", "n_chars",
        capacity = 4096L, blockSize = 64)
        .orderBy("doc_id")
    }),
    "q_docs_chunk" -> ((s, dir) => {
      // LLM context-window chunking: whitespace tokens, 64-token windows
      // at stride 48 (16-token overlap). Fully narrow per-doc work — one
      // codegen'd split + one explode of the stride sequence, no UDF, no
      // shuffle before the presentation sort; chunk_ix = tok_start/48
      // keeps the numbering relational on both engines.
      val d = s.read.parquet(t(dir, "documents"))
      d.filter(length(trim(col("text"))) > 0)
        .select(col("doc_id"), split(trim(col("text")), "\\s+").as("toks"))
        .select(col("doc_id"), col("toks"),
          explode(sequence(lit(0), size(col("toks")) - 1, lit(48))).as("tok_start"))
        .select(
          col("doc_id"),
          (col("tok_start") / 48).cast("long").as("chunk_ix"),
          col("tok_start").cast("long").as("tok_start"),
          size(slice(col("toks"), col("tok_start") + 1, lit(64))).cast("long").as("n_tok"),
          array_join(slice(col("toks"), col("tok_start") + 1, lit(64)), " ").as("chunk_text"))
        .orderBy("doc_id", "chunk_ix")
    }),
    "q_docs_chunk_sql" -> ((s, dir) => {
      // the SAME chunking through the UDTF surface: graft_chunk is a
      // custom Catalyst Generator (explode-class extension point)
      // registered as a SQL table function, driven here via LATERAL VIEW
      // — blank/null text generates zero rows, so no WHERE is needed.
      // Shares q_docs_chunk's DuckDB oracle; the relational plan remains
      // the preferred scale shape (the generator is a CodegenFallback).
      graft.functions.Registry.registerAll(s)
      s.read.parquet(t(dir, "documents")).createOrReplaceTempView("chunk_src_docs")
      s.sql(
        """SELECT doc_id, chunk_ix, tok_start, n_tok, chunk_text
          |FROM chunk_src_docs LATERAL VIEW graft_chunk(text, 64, 48) c
          |ORDER BY doc_id, chunk_ix""".stripMargin)
    }),
    "q_events_pivot" -> ((s, dir) => {
      // PIVOT: per-user event counts spread over the bounded event-type
      // domain (missing combos filled with 0 to match COUNT FILTER)
      s.read.parquet(t(dir, "events"))
        .groupBy("user_id")
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .orderBy("user_id")
    }),
    "q_docs_cube" -> ((s, dir) => {
      // CUBE: all grouping-set combinations of (source, lang) in one pass
      s.read.parquet(t(dir, "documents"))
        .cube("source", "lang")
        .agg(count(lit(1)).as("n"), round(avg("n_chars"), 4).as("avg_chars"))
        .orderBy(col("source").asc_nulls_first, col("lang").asc_nulls_first)
    }),
    "q_docs_set_ops" -> ((s, dir) => {
      // INTERSECT / EXCEPT set semantics: languages seen in long docs vs
      // short docs — distinct-set operators, not join rewrites
      val d = s.read.parquet(t(dir, "documents"))
      val longL = d.filter(col("n_chars") >= 300).select("lang")
      val shortL = d.filter(col("n_chars") < 300).select("lang")
      val both = longL.intersect(shortL).withColumn("which", lit("both"))
      val onlyLong = longL.except(shortL).withColumn("which", lit("long_only"))
      both.unionByName(onlyLong).orderBy("which", "lang")
    }),
    "q_events_running_total" -> ((s, dir) => {
      // cumulative window: per-user running total of event values in time
      // order — the canonical ordered-window analytic (user-partitioned,
      // never global)
      val e = s.read.parquet(t(dir, "events"))
      val w = Window.partitionBy("user_id")
        .orderBy(unix_micros(col("ts").cast("timestamp")), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      e.select(col("user_id"), col("event_id"),
          round(sum("value").over(w), 6).as("running_total"))
        .orderBy("user_id", "event_id")
    }),
    "q_events_full_outer" -> ((s, dir) => {
      // FULL OUTER join of two per-user aggregates: users who only click
      // and users who only purchase both survive with nulls
      val e = s.read.parquet(t(dir, "events"))
      val clicks = e.filter(col("event_type") === "click")
        .groupBy("user_id").agg(count(lit(1)).as("n_clicks"))
      val purchases = e.filter(col("event_type") === "purchase")
        .groupBy("user_id").agg(round(sum("value"), 6).as("purchase_total"))
      clicks.join(purchases, Seq("user_id"), "full_outer")
        .orderBy("user_id")
    }),
    "q_docs_curation" -> ((s, dir) => {
      // the composed curation funnel: normalized dedup → predicted-lang
      // filter → quality threshold → per-language sampling, one pass
      graft.ops.Curation.curate(s.read.parquet(t(dir, "documents")), "doc_id", "text",
        allowedLangs = Set("en", "zh"), minQuality = 0.5,
        sampleRates = Map("en" -> 0.8, "zh" -> 1.0), defaultRate = 0.6, seed = 0xCA7EL)
        .orderBy("doc_id")
    }),
    "kg_khop" -> ((s, dir) => {
      // 2-hop neighborhood of the hub concept over the constructed KG —
      // iterative broadcast-frontier BFS vs a recursive-SQL oracle
      import s.implicits._
      val (_, docs) = goldAndDocs(s, dir)
      val triples = KgPipeline.run(docs, lexicon(s)).toDF()
      val seed = lexicon(s).filter(col("surface") === DocsGen.HubSurface)
        .select("concept_id").as[String].head()
      graft.graph.GraphOps.kHop(triples, Seq(seed), 2).orderBy("node")
    }),
    "q_docs_stratified_sample" -> ((s, dir) => {
      // deterministic data mixing (per-language sampling rates): the gate
      // is a pure function of (seed, doc_id), so the sample is identical
      // under any partitioning — verified against a sequential replica
      Sampling.stratified(s.read.parquet(t(dir, "documents")), "doc_id", "lang",
        Map("zh" -> 1.0, "en" -> 0.2), defaultFrac = 0.5, seed = 0x5A3EL)
        .select(col("doc_id")).orderBy("doc_id")
    }),

    "q_docs_mixture" -> ((s, dir) => {
      // token-budget data mixing: per-source rates DERIVED from target
      // mixture weights + a global token budget (small sources saturate
      // at rate 1), then the seeded per-id gate
      graft.ops.Mixture.sampleToBudget(s.read.parquet(t(dir, "documents")),
        "doc_id", "source", "text", MixtureWeights.toMap, MixtureBudget, MixtureSeed)
        .orderBy("doc_id")
    }),
    "q_docs_shuffle_shard" -> ((s, dir) => {
      // deterministic training-export shuffle: bijective hash position +
      // shard assignment (the write path is Export.writeShards)
      graft.ops.Export.shuffleShard(s.read.parquet(t(dir, "documents"))
        .select("doc_id"), "doc_id", ShardCount, ShardSeed)
        .orderBy("doc_id")
    }),
    "q_docs_tfidf_keywords" -> ((s, dir) => {
      // per-source keyword profile: top-10 tokens by tf * N / df (exact
      // idf-ratio scoring; window runs on the vocab-bounded aggregate)
      graft.ops.TfIdf.topTermsPerSource(s.read.parquet(t(dir, "documents")),
        "doc_id", "source", "text", k = 10)
        .orderBy("source", "rank")
    }),
    "q_docs_weighted_sample" -> ((s, dir) => {
      // length-weighted corpus selection WITHOUT replacement: u^(1/w)
      // keys (Efraimidis-Spirakis) on the seeded per-id draw; the global
      // top-k plans as TakeOrderedAndProject — bounded per-partition
      // top-k then a k-row driver merge, no full sort, no corpus shuffle
      graft.ops.Sampling.weightedTopK(
        s.read.parquet(t(dir, "documents")).select("doc_id", "n_chars"),
        "doc_id", "n_chars", WeightedK, WeightedSeed)
        .orderBy("doc_id")
    }),
    "q_docs_hll_distinct" -> ((s, dir) => {
      // approximate distinct-token cardinality per source via the native
      // mergeable HLL aggregate (4 KiB registers per group; token values
      // never shuffle). The distributed machinery under test is the
      // partial-aggregate register merge: the fixture replays the same
      // kernel sequentially, so equality proves partition independence.
      // Exact distinct rides along so the sketch error is in the record.
      val tokens = s.read.parquet(t(dir, "documents"))
        .select(col("source"),
          explode(split(lower(trim(col("text"))), " ")).as("token"))
        .filter(col("token") =!= "")
      tokens.groupBy("source")
        .agg(
          graft.functions.HllDistinct.hll_distinct(col("token")).as("est_distinct"),
          count_distinct(col("token")).as("exact_distinct"))
        .orderBy("source")
    }),
    "q_docs_decontaminate_bloom" -> ((s, dir) => {
      // bloom-prefiltered decontamination: the benchmark's shingles
      // aggregate into ONE fixed-size Bloom filter (16 KiB here — size
      // does not grow with the benchmark) that probes every training
      // shingle as a codegen'd scan filter; only bloom survivors reach
      // the exact-verify semi-join. Definite-absence + re-verification
      // makes the result EXACTLY the plain q_docs_decontaminate — the
      // two queries share one oracle, which is the point: the sketch
      // path is provably lossless while shuffling ~1% of the corpus
      val docs = s.read.parquet(t(dir, "documents"))
      val bench = docs.filter(col("doc_id") % 193 === 0)
      val contaminated = graft.ops.Decontaminate.contaminatedIdsBloom(
        docs, bench, "text", "doc_id", w = 3, mBits = 1 << 17, k = 5)
      docs.join(contaminated, Seq("doc_id"), "left_anti")
        .select("doc_id").orderBy("doc_id")
    }),
    "q_docs_cms_counts" -> ((s, dir) => {
      // Count-Min frequency sketch: one 80 KiB sketch per source (5×2048
      // long counters) absorbs every token map-side — the 100 TB shape
      // for "how often does X occur per shard" where an exact
      // (source, token) groupBy would shuffle the whole vocabulary.
      // Probes: the 5 globally most-frequent tokens (exact, tie-broken),
      // with exact per-source counts riding along so the over-count
      // error is in the record. The fixture replays the same kernel
      // sequentially — equality proves the elementwise-add merge is
      // partition-independent.
      val tokens = s.read.parquet(t(dir, "documents"))
        .select(col("source"),
          explode(split(lower(trim(col("text"))), " ")).as("token"))
        .filter(col("token") =!= "")
      val top5 = tokens.groupBy("token").agg(count(lit(1)).as("gn"))
        .orderBy(col("gn").desc, col("token").asc).limit(5).select("token")
      val sketches = tokens.groupBy("source")
        .agg(graft.functions.CmsBuild.cms_build(col("token")).as("cms"))
      val exact = tokens.join(broadcast(top5), Seq("token"))
        .groupBy("source", "token").agg(count(lit(1)).as("exact_n"))
      sketches.crossJoin(broadcast(top5))
        .select(col("source"), col("token"),
          graft.functions.CmsEstimate.cms_estimate(
            col("cms"), graft.functions.Hash64.hash64(col("token"))).as("est_n"))
        .join(exact, Seq("source", "token"), "left")
        .select(col("source"), col("token"), col("est_n"),
          coalesce(col("exact_n"), lit(0L)).as("exact_n"))
        .orderBy("source", "token")
    }),
    "q_docs_length_sketch" -> ((s, dir) => {
      // DDSketch-style mergeable quantiles: per-lang length percentiles
      // from a fixed log-bucket histogram (elementwise-add merge, values
      // never shuffle) — the scale path where exact `percentile` must
      // materialize every value per group. Estimates are raw kernel
      // doubles (StrictMath — bit-reproducible), so the fixture replica
      // matches exactly; exact p50 rides along to bound the alpha=1%
      // relative error in the record.
      val docs = s.read.parquet(t(dir, "documents"))
      docs.groupBy("lang")
        .agg(graft.functions.DdQuantiles.dd_quantiles(
          col("n_chars"), Seq(0.25, 0.5, 0.75, 0.95)).as("est"),
          expr("round(percentile(n_chars, 0.5), 4)").as("exact_p50"))
        .select(col("lang"),
          element_at(col("est"), 1).as("est_p25"),
          element_at(col("est"), 2).as("est_p50"),
          element_at(col("est"), 3).as("est_p75"),
          element_at(col("est"), 4).as("est_p95"),
          col("exact_p50"))
        .orderBy("lang")
    }),

    // ---------------------------------------------------------------- dedup / similarity / multimodal (rows-only)
    "dedup_exact_groups" -> ((s, dir) => {
      // the batch exact-dedup OPERATOR under a hard oracle (r2's
      // q_docs_dedup_exact only counted distinct texts in SQL on both
      // sides): plant exact copies, emit each duplicate group keyed by
      // its surviving min id. The widened 64-bit identity key is engine-
      // internal, so the driver-checked projection is (keep_id, n_docs).
      val d = s.read.parquet(t(dir, "documents")).select("doc_id", "text")
      val planted = d.filter(col("doc_id") < 40)
        .select((col("doc_id") + 100000).as("doc_id"), col("text"))
      Dedup.exactGroups(d.union(planted), "text", "doc_id")
        .select(col("keep_id"), col("n_docs"))
        .orderBy("keep_id")
    }),
    "dedup_exact_drop" -> ((s, dir) => {
      // dropExactDuplicates end-to-end: survivors of docs ∪ planted copies
      val d = s.read.parquet(t(dir, "documents")).select("doc_id", "text")
      val planted = d.filter(col("doc_id") < 40)
        .select((col("doc_id") + 100000).as("doc_id"), col("text"))
      Dedup.dropExactDuplicates(d.union(planted), "text", "doc_id")
        .select(col("doc_id"), md5(col("text").cast("binary")).as("text_md5"))
        .orderBy("doc_id")
    }),
    "dedup_minhash_pairs" -> ((s, dir) => {
      Dedup.minhashPairs(s.read.parquet(t(dir, "documents")), "text", "doc_id", threshold = 0.3)
        .orderBy("id_a", "id_b")
    }),
    "dedup_minhash_clusters" -> ((s, dir) => {
      // end-to-end near-dup dedup: banded pair graph → connected
      // components → canonical min-id survivor per cluster (transitive
      // closure of the pairwise signal — the shape a training corpus
      // actually deduplicates with)
      val pairs = Dedup.minhashPairs(
        s.read.parquet(t(dir, "documents")), "text", "doc_id", threshold = 0.3)
      Dedup.nearDupClusters(pairs).orderBy("id")
    }),
    "dedup_simhash" -> ((s, dir) => {
      val d = s.read.parquet(t(dir, "documents"))
      // native codegen'd expression (no UDF boundary), oracle unchanged
      d.select(col("doc_id"), Dedup.simhashCol(col("text")).as("simhash")).orderBy("doc_id")
    }),
    "dedup_simhash_pairs" -> ((s, dir) => {
      // near-identical docs planted as exact copies (hamming 0) so the
      // pigeonhole banding join has non-trivial work to verify
      val d = s.read.parquet(t(dir, "documents")).select("doc_id", "text")
      val planted = d.filter(col("doc_id") < 25)
        .select((col("doc_id") + 100000).as("doc_id"), col("text"))
      Dedup.simhashPairs(d.union(planted), "text", "doc_id").orderBy("id_a", "id_b")
    }),
    "dedup_ngram_jaccard_pairs" -> ((s, dir) => {
      Dedup.ngramJaccardPairs(s.read.parquet(t(dir, "documents")), "text", "doc_id", threshold = 0.3)
        .orderBy("id_a", "id_b")
    }),
    "dedup_embedding_neardup" -> ((s, dir) => {
      // the synthetic embeddings have no natural near-dups (max pairwise
      // cosine ≈ 0.51), so plant deterministic perturbed copies and verify
      // the LSH-bucketed detector recovers them
      val e = s.read.parquet(t(dir, "embeddings"))
      val perturb = udf((id: Long, v: Seq[Float]) => v.zipWithIndex.map { case (x, i) =>
        x + (graft.core.Hashing.uniformDouble(graft.core.Hashing.hash2(id, i)) * 0.02 - 0.01).toFloat
      })
      val planted = e.filter(col("vec_id") < 50)
        .select((col("vec_id") + 100000).as("vec_id"), perturb(col("vec_id"), col("embedding")).as("embedding"))
      Dedup.embeddingNearDupPairs(
        e.select("vec_id", "embedding").union(planted),
        "embedding", "vec_id", dim = 64, threshold = 0.98)
        .orderBy("id_a", "id_b")
    }),
    "ann_lsh_topk" -> ((s, dir) => {
      val e = s.read.parquet(t(dir, "embeddings"))
      Similarity.lshTopK(e, e.filter(col("vec_id") < 10), "vec_id", "embedding", dim = 64, k = 5)
        .orderBy("query_id", "rank")
    }),
    "ann_ivf_topk" -> ((s, dir) => {
      val e = s.read.parquet(t(dir, "embeddings"))
      Similarity.ivfTopK(e, e.filter(col("vec_id") < 10), "vec_id", "embedding", k = 5)
        .orderBy("query_id", "rank")
    }),
    "docs_langid" -> ((s, dir) => {
      s.read.parquet(t(dir, "documents"))
        .select(col("doc_id"), TextAnalysis.languageIdCol(col("text")).as("lang_pred"))
        .orderBy("doc_id")
    }),
    "docs_fingerprint" -> ((s, dir) => {
      s.read.parquet(t(dir, "documents"))
        .select(col("doc_id"), TextAnalysis.fingerprintCol(col("text")).as("fingerprint"))
        .orderBy("doc_id")
    }),
    // ---------------------------------------------------------------- aug / sinks / stats / streaming
    "aug_corpus_tags" -> ((s, dir) => {
      // augmentation dataflow (U1-U4): original ∪ augmented, tag counts —
      // oracle = the same corpus augmented by a sequential driver-side
      // loop (partition-independence is exactly what's under test)
      val (g, _) = goldAndDocs(s, dir)
      val aug = graft.aug.Augment.augmentCorpus(DocsGen.goldSentences(g), Fixtures.AugSynonyms, DocsGen.Vocab)
      import s.implicits._
      aug.flatMap(_.tags).toDF("tag").groupBy("tag").agg(count(lit(1)).as("n")).orderBy("tag")
    }),
    "sink_json_records" -> ((s, dir) => {
      val (g, docs) = goldAndDocs(s, dir)
      graft.sinks.Formats.jsonRecords(KgPipeline.sentences(docs), DocsGen.goldMentions(g))
        .orderBy("doc_id", "span_idx")
    }),
    "sink_markup" -> ((s, dir) => {
      val (g, docs) = goldAndDocs(s, dir)
      graft.sinks.Formats.markupText(KgPipeline.sentences(docs), DocsGen.goldMentions(g))
        .orderBy("doc_id", "span_idx")
    }),
    "sink_bio" -> ((s, dir) => {
      val (g, docs) = goldAndDocs(s, dir)
      graft.sinks.Formats.bioText(KgPipeline.sentences(docs), DocsGen.goldMentions(g))
        .orderBy("doc_id", "span_idx")
    }),
    "stats_label_dist" -> ((s, dir) => {
      val (g, _) = goldAndDocs(s, dir)
      graft.metrics.LabelStats.labelDistribution(DocsGen.goldSentences(g))
    }),
    "stats_length_hist" -> ((s, dir) => {
      val (g, _) = goldAndDocs(s, dir)
      graft.metrics.LabelStats.lengthHistogram(DocsGen.goldSentences(g))
    }),
    "ref_seqeval_metrics" -> ((s, dir) => {
      // reference-parity metrics over the reference's own artifacts
      // (golden values asserted in ReferenceParitySpec)
      val refData = "/root/reference/data"
      if (!new java.io.File(refData).isDirectory) s.emptyDataFrame
      else {
        val gold = graft.data.BioCorpus.readIndexed(s, s"$refData/test.txt")
        val pred = graft.data.BioCorpus.readIndexed(s, "/root/reference/results/test_predictions.txt")
        val (per, _) = graft.metrics.ReferenceEval.evaluate(gold, pred)
        per.toDF()
          .withColumn("precision", round(col("precision"), 6))
          .withColumn("recall", round(col("recall"), 6))
          .withColumn("f1", round(col("f1"), 6))
          .orderBy("entity_type")
      }
    }),
    "q_events_window_agg" -> ((s, dir) => {
      graft.streaming.Streaming
        .windowedEventCounts(s.read.parquet(t(dir, "events")))
        .select(col("window_start").cast("long").as("window_start"),
          col("event_type"), col("n"), col("total_value"))
        .orderBy("window_start", "event_type")
    }),
    "q_events_sessionize" -> ((s, dir) => {
      // classic sessionization: per-user 30-min-gap sessions. The windows
      // are PARTITIONED by user (bounded per-user sort — the legitimate
      // window-function shape, unlike a global rank); gap arithmetic is
      // microsecond-exact (unix_micros) so Spark and DuckDB agree on
      // boundary gaps regardless of fractional seconds.
      val e = s.read.parquet(t(dir, "events"))
        .withColumn("ts_us", unix_micros(col("ts").cast("timestamp")))
      val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      val sess = e
        .withColumn("prev_us", lag(col("ts_us"), 1).over(w))
        .withColumn("new_sess",
          when(col("prev_us").isNull || col("ts_us") - col("prev_us") > 1800L * 1000000L, 1)
            .otherwise(0))
        .withColumn("sess_id",
          sum(col("new_sess")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      sess.groupBy("user_id", "sess_id")
        .agg(count(lit(1)).as("n_events"))
        .groupBy("user_id")
        .agg(
          count(lit(1)).as("n_sessions"),
          sum("n_events").as("n_events"),
          max("n_events").as("longest_session"))
        .orderBy("user_id")
    }),
    "q_events_asof" -> ((s, dir) => {
      // AS-OF JOIN: each view event picks up the latest prior purchase
      // value of its user — union-tag + keyed window, one shuffle, vs
      // DuckDB's native ASOF JOIN as the oracle
      val e = s.read.parquet(t(dir, "events"))
      val views = e.filter(col("event_type") === "view")
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts").cast("timestamp")).as("ts_us"))
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), unix_micros(col("ts").cast("timestamp")).as("ts_us"),
          col("value"), col("event_id"))
        .groupBy("user_id", "ts_us") // dedupe equal-ts purchases deterministically
        .agg(max_by(col("value"), col("event_id")).as("pvalue"))
      graft.ops.Temporal.asOfJoin(views, purchases, "user_id", "ts_us", "pvalue")
        .select(col("event_id"), col("user_id"), col("ts_us"),
          round(col("pvalue_asof"), 6).as("last_purchase_value"))
        .orderBy("event_id")
    }),
    "q_events_asof_exec" -> ((s, dir) => {
      // the SAME as-of semantics through the custom physical operator
      // (plans/AsOfJoin: LogicalPlan + Strategy + sorted-merge SparkPlan —
      // the full whole-operator extension stack): two key exchanges + two
      // in-partition sorts + a one-pass merge, instead of the union+window
      // shape. Shares q_events_asof's DuckDB ASOF oracle derivation.
      val e = s.read.parquet(t(dir, "events"))
      val views = e.filter(col("event_type") === "view")
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts").cast("timestamp")).as("ts_us"))
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), unix_micros(col("ts").cast("timestamp")).as("ts_us"),
          col("value"), col("event_id"))
        .groupBy("user_id", "ts_us")
        .agg(max_by(col("value"), col("event_id")).as("pvalue"))
      graft.plans.AsOfJoin.asof(views, purchases, Seq("user_id"), "ts_us", Seq("pvalue"))
        .select(col("event_id"), col("user_id"), col("ts_us"),
          round(col("pvalue_asof"), 6).as("last_purchase_value"))
        .orderBy("event_id")
    }),
    "q_events_range_join" -> ((s, dir) => {
      // RANGE JOIN via time-bucketing: events within ±5 min of each
      // error event, same user — equi-join on (user, coarse bucket) +
      // exact filter; never a cartesian/BNLJ
      val e = s.read.parquet(t(dir, "events"))
      val errors = e.filter(col("event_type") === "error")
        .select(col("event_id"), col("user_id"), col("ts"))
      graft.ops.Temporal.rangeJoinCount(
        errors, e.select(col("user_id"), col("ts")), "user_id", "event_id",
        unix_micros(col("ts").cast("timestamp")),
        unix_micros(col("ts").cast("timestamp")),
        rangeUs = 300L * 1000000L)
        .orderBy("event_id")
    }),
    "q_events_band_join_auto" -> ((s0, dir) => {
      // the band-join OPTIMIZER RULE, driver-checked: this is a plain
      // declarative interval join — no manual bucketing anywhere in the
      // query — that Spark would plan as BroadcastNestedLoopJoin
      // (O(errors × events): ~1e9 comparisons at sf0.1). The injected
      // BandJoinRewrite turns it into the bucketed hash equi-join at
      // plan time. The rule + its arming conf live in an ISOLATED child
      // session (newSession: own SQLConf + experimental methods, shared
      // SparkContext), so no later query in the caller's session runs
      // with the rewrite armed; the returned DataFrame stays bound to the
      // child session, so the rewrite still fires when the driver writes
      // it. (conf.set-then-unset can't scope this: optimization happens
      // at the caller's action, after this closure returned.)
      val s = s0.newSession()
      val rule = graft.plans.BandJoinRewrite(s)
      s.experimental.extraOptimizations = s.experimental.extraOptimizations :+ rule
      s.conf.set(rule.ConfKey, (240L * 1000000L).toString)
      val e = s.read.parquet(t(dir, "events"))
      val all = e.select(unix_micros(col("ts").cast("timestamp")).as("ts_us"))
      val win = e.filter(col("event_type") === "error").select(
        col("event_id"),
        (unix_micros(col("ts").cast("timestamp")) - 120L * 1000000L).as("lo"),
        (unix_micros(col("ts").cast("timestamp")) + 120L * 1000000L).as("hi"))
      all.join(win, all("ts_us") >= win("lo") && all("ts_us") <= win("hi"))
        .groupBy("event_id").agg(count(lit(1)).as("n_in_band"))
        .orderBy("event_id")
    }),
    "q_events_session_window" -> ((s, dir) => {
      // Spark's NATIVE gap-session operator, cross-validating the manual
      // sessionization (q_events_sessionize) against the same DuckDB
      // oracle. Boundary note: session_window treats an event exactly
      // `gap` after its predecessor as a NEW session while the manual
      // window-lag version keeps it (diff > gap); the µs-resolution
      // events table has no exact-gap pair, so all three derivations
      // agree (asserted empty in Round3Spec too).
      val e = s.read.parquet(t(dir, "events")).withColumn("ts", col("ts").cast("timestamp"))
      e.groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
        .agg(count(lit(1)).as("n_events"))
        .groupBy("user_id")
        .agg(
          count(lit(1)).as("n_sessions"),
          sum("n_events").as("n_events"),
          max("n_events").as("longest_session"))
        .orderBy("user_id")
    }),
    "streaming_dedup_exact" -> ((s, dir) => {
      // STATEFUL streaming exact-dedup driven to completion: the documents
      // table as a one-trigger AvailableNow file stream through
      // `flatMapGroupsWithState` (keep-first-per-text, min doc_id within
      // the micro-batch). Deterministic because the single parquet file
      // arrives as one micro-batch, so the hard DuckDB oracle (keep the
      // min-VARCHAR doc_id per distinct text) applies to a STREAMING query.
      import s.implicits._
      val schema = s.read.parquet(t(dir, "documents")).schema
      // the file-stream source requires a DIRECTORY; the testdata table is
      // a single parquet file — stage a temp dir with a symlink to it
      val src = java.nio.file.Paths.get(t(dir, "documents"))
      val streamDir =
        if (java.nio.file.Files.isDirectory(src)) src.toString
        else {
          val d = java.nio.file.Files.createTempDirectory("graft_stream_src_")
          java.nio.file.Files.createSymbolicLink(d.resolve("part-0.parquet"), src)
          d.toString
        }
      val stream = s.readStream.schema(schema).parquet(streamDir)
        .select(col("doc_id").cast("string").as("doc_id"), col("text"))
        .as[graft.streaming.Streaming.DocText]
      val name = "graft_stream_dedup_" + java.lang.Long.toHexString(System.nanoTime())
      val ckpt = java.nio.file.Files.createTempDirectory("graft_ckpt_").toString
      val q = graft.streaming.Streaming.dedupExactStream(stream).toDF()
        .writeStream.format("memory").queryName(name)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.table(name)
        .select(col("doc_id"), md5(col("text").cast("binary")).as("text_md5"))
        .orderBy("doc_id")
    }),
    "streaming_dedup_neardup" -> ((s, dir) => {
      // STATEFUL streaming MinHash-LSH near-dup dedup over STAGED WAVES:
      // documents split into four files, drained as four micro-batches
      // (maxFilesPerTrigger=1), banded signatures matched against the
      // (band, bucket) state across batches — cross-wave near-dup pairs
      // exist only because state carries earlier waves' signatures. The
      // pair set is arrival-order independent, so the batch clusters
      // oracle (expected_neardup_clusters, same as dedup_minhash_clusters)
      // pins a STREAMING query.
      val docs = s.read.parquet(t(dir, "documents")).select("doc_id", "text")
      val streamDir = java.nio.file.Files.createTempDirectory("graft_neardup_waves_")
      (0 until 4).foreach { w =>
        val tmp = java.nio.file.Files.createTempDirectory(s"graft_wave_$w")
        docs.filter(pmod(col("doc_id"), lit(4)) === w)
          .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
        val part = java.nio.file.Files.list(tmp).filter(_.getFileName.toString.endsWith(".parquet"))
          .findFirst().get()
        java.nio.file.Files.copy(part, streamDir.resolve(f"wave-$w%02d.parquet"))
      }
      val schema = docs.schema
      val stream = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(streamDir.toString)
      val name = "graft_stream_neardup_" + java.lang.Long.toHexString(System.nanoTime())
      val ckpt = java.nio.file.Files.createTempDirectory("graft_ckpt_").toString
      val q = graft.streaming.Streaming.nearDupPairsStream(stream, threshold = 0.3)
        .writeStream.format("memory").queryName(name)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val pairs = s.table(name).dropDuplicates("id_a", "id_b")
      Dedup.nearDupClusters(pairs).orderBy("id")
    }),
    "multimodal_decode" -> ((s, dir) => {
      import s.implicits._
      val (_, docs) = goldAndDocs(s, dir)
      Multimodal.decode(Multimodal.mediaTable(docs)).toDF()
        .select(col("doc_id"), col("span_idx"), col("kind"), col("media_ref"),
          col("meta.width"), col("meta.height"), col("meta.sample_rate"), col("meta.format"),
          round(element_at(col("features"), 1).cast("double"), 5).as("f0"))
        .orderBy("doc_id", "span_idx")
    }),

    "lexicon_prune" -> ((s, dir) => {
      // frequency-threshold pruning (model_optimization.py:60-84 analog):
      // keep lexicon entries whose surface covers >= total/40 mentions
      val (g, _) = goldAndDocs(s, dir)
      val mentions = DocsGen.goldMentions(g)
      val counts = mentions.groupBy(col("text").as("surface")).agg(count(lit(1)).as("n"))
      val minCount = mentions.count() / 40
      Lexicon.prune(lexicon(s), counts, minCount).toDF()
        .select("concept_id", "surface", "entity_type")
        .orderBy("concept_id")
    }),

    // ------------------------------------------- metrics surface (A2, A5, A6, S9)
    "stats_entity_type_dist" -> ((s, dir) => {
      val (_, docs) = goldAndDocs(s, dir)
      graft.metrics.LabelStats.entityTypeDistribution(
        KgPipeline.detectMentions(docs, DocsGen.vocabEntries))
    }),
    "metrics_confusion" -> ((s, dir) => {
      val (g, docs) = goldAndDocs(s, dir)
      val pred = graft.metrics.ReferenceEval.tagsFromMentions(
        KgPipeline.sentences(docs), KgPipeline.detectMentions(docs, DocsGen.vocabEntries))
      SpanMetrics.confusion(graft.metrics.ReferenceEval.tokenPairs(DocsGen.goldSentences(g), pred))
        .orderBy("gold_type", "pred_type")
    }),
    "metrics_report" -> ((s, dir) => {
      import s.implicits._
      val (g, docs) = goldAndDocs(s, dir)
      val pred = KgPipeline.detectMentions(docs, DocsGen.vocabEntries)
      SpanMetrics.report(SpanMetrics.perType(pred, DocsGen.goldMentions(g)))
        .toDS().toDF()
        .withColumn("precision", round(col("precision"), 6))
        .withColumn("recall", round(col("recall"), 6))
        .withColumn("f1", round(col("f1"), 6))
        .orderBy("entity_type")
    }),
    "sink_prediction_verbose" -> ((s, dir) => {
      // S9 verbose variant: the reference's fixed-width per-token table
      // (results/test_predictions_verbose.txt layout)
      val (g, docs) = goldAndDocs(s, dir)
      val pred = graft.metrics.ReferenceEval.tagsFromMentions(
        KgPipeline.sentences(docs), KgPipeline.detectMentions(docs, DocsGen.vocabEntries))
      graft.metrics.ReferenceEval.predictionDumpVerbose(DocsGen.goldSentences(g), pred)
        .orderBy("id", "span_idx")
    }),
    "sink_eval_json" -> ((s, dir) => {
      // S8: materialized eval-JSON (evaluation_results.json structure)
      import s.implicits._
      val (g, docs) = goldAndDocs(s, dir)
      val pred = KgPipeline.detectMentions(docs, DocsGen.vocabEntries)
      val per = SpanMetrics.perType(pred, DocsGen.goldMentions(g))
      val json = SpanMetrics.evalJson(
        per.collect().toSeq, SpanMetrics.micro(per),
        modelInfo = Seq("pretrained_model" -> "gazetteer-crf"),
        evalInfo = Seq("num_samples" -> DocsGen.goldSentences(g).count()))
      Seq(json).toDF("json")
    }),
    "sink_prediction_dump" -> ((s, dir) => {
      val (g, docs) = goldAndDocs(s, dir)
      val pred = graft.metrics.ReferenceEval.tagsFromMentions(
        KgPipeline.sentences(docs), KgPipeline.detectMentions(docs, DocsGen.vocabEntries))
      graft.metrics.ReferenceEval.predictionDump(DocsGen.goldSentences(g), pred)
        .select(col("id"), col("span_idx"),
          array_join(col("words"), "").as("words"),
          array_join(col("true_labels"), " ").as("true_labels"),
          array_join(col("pred_labels"), " ").as("pred_labels"))
        .orderBy("id", "span_idx")
    })
  )

  /** DuckDB-runnable oracle SQL over the same parquet tables. Every name
    * and row order matches the Spark result exactly.
    */
  /** Shared DuckDB CTE chain re-deriving the smoothed CRF transition
    * table from the gold tags (ends in `trans`); used by the
    * kg_crf_transitions and kg_attributions oracles.
    */
  private def crfTransCtes: String =
    s"""labels AS (SELECT * FROM (VALUES
       |    ('B-Anatomical'),('B-Diseases'),('B-Drug'),('B-Image'),('B-Laboratory'),('B-Operation'),
       |    ('I-Anatomical'),('I-Diseases'),('I-Drug'),('I-Image'),('I-Laboratory'),('I-Operation'),
       |    ('O')) t(lab)),
       |froms AS (SELECT lab AS f FROM labels UNION ALL SELECT '<s>'),
       |pairs AS (
       |  SELECT f.f AS from_label, l.lab AS to_label
       |  FROM froms f CROSS JOIN labels l
       |  WHERE NOT (l.lab LIKE 'I-%'
       |             AND f.f <> 'B-' || substring(l.lab, 3)
       |             AND f.f <> 'I-' || substring(l.lab, 3))),
       |big AS (
       |  SELECT coalesce(lag(tag) OVER (PARTITION BY doc_id, span_idx ORDER BY pos), '<s>') AS from_label,
       |         tag AS to_label
       |  FROM ${fx("gold_tags")}),
       |cnt AS (SELECT from_label, to_label, count(*) AS n FROM big GROUP BY 1, 2),
       |tot AS (
       |  SELECT p.from_label, sum(coalesce(c.n, 0)) + count(*) AS total
       |  FROM pairs p LEFT JOIN cnt c USING (from_label, to_label)
       |  GROUP BY 1),
       |trans AS (
       |  SELECT p.from_label, p.to_label, CAST(coalesce(c.n, 0) AS BIGINT) AS n,
       |    round(ln((coalesce(c.n, 0) + 1.0) / t.total), 6) AS logp
       |  FROM pairs p
       |  LEFT JOIN cnt c USING (from_label, to_label)
       |  JOIN tot t ON p.from_label = t.from_label)""".stripMargin

  def oracleSql: Map[String, String] = oracleSqlBase +
    // the bloom-prefiltered decontamination is provably lossless (bloom
    // false = definite absence; every true is re-verified exactly), so it
    // shares the plain path's oracle verbatim — THAT equality is the claim
    ("q_docs_decontaminate_bloom" -> oracleSqlBase("q_docs_decontaminate"))

  private def oracleSqlBase: Map[String, String] = Map(
    "q_lineitem_pricing" ->
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
        |  count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= '1998-09-01'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q_orders_by_nation" ->
      """SELECT n_name, round(sum(o_totalprice), 2) AS revenue, count(*) AS n_orders
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin,
    "q_events_topk" ->
      """SELECT user_id, event_id, event_type, round(value, 6) AS value, rank FROM (
        |  SELECT user_id, event_id, event_type, value,
        |    row_number() OVER (PARTITION BY user_id ORDER BY value DESC, event_id ASC) AS rank
        |  FROM events) WHERE rank <= 3
        |ORDER BY user_id, rank""".stripMargin,
    "q_orders_no_lineitem" ->
      """SELECT o_orderpriority, count(*) AS n FROM orders
        |WHERE NOT EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q_part_topk_per_brand" ->
      """SELECT p_brand, p_partkey, round(p_retailprice, 2) AS p_retailprice, rank FROM (
        |  SELECT p_brand, p_partkey, p_retailprice,
        |    row_number() OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey ASC) AS rank
        |  FROM part) WHERE rank <= 3
        |ORDER BY p_brand, rank""".stripMargin,
    "q_supplier_balance" ->
      """SELECT n_name, round(sum(s_acctbal), 2) AS total_bal, count(*) AS n_suppliers
        |FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin,
    "q_docs_dedup_exact" ->
      """SELECT count(*) AS n_docs, count(DISTINCT text) AS n_distinct_texts,
        |  count(*) - count(DISTINCT text) AS n_exact_dups FROM documents""".stripMargin,
    "q_docs_dedup_normalized" ->
      """SELECT count(DISTINCT text) AS n_raw_distinct,
        |  count(DISTINCT lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS n_norm_distinct,
        |  count(DISTINCT text) - count(DISTINCT lower(trim(regexp_replace(text, '\s+', ' ', 'g'))))
        |    AS n_normalized_dups
        |FROM documents""".stripMargin,
    "q_docs_token_count" ->
      """SELECT doc_id, len(string_split(trim(text), ' ')) AS n_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_docs_quality" ->
      """SELECT doc_id,
        |  len(string_split(trim(text), ' ')) AS n_tokens,
        |  round((length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g'))) * 1.0
        |        / greatest(length(text), 1), 6) AS punct_ratio,
        |  round(len(list_filter(string_split(trim(text), ' '),
        |        t -> list_contains(['the','a','of','and','to','in','is','it','that','for'], t))) * 1.0
        |        / greatest(len(string_split(trim(text), ' ')), 1), 6) AS stopword_ratio,
        |  round((length(text) - (len(string_split(trim(text), ' ')) - 1)) * 1.0
        |        / greatest(len(string_split(trim(text), ' ')), 1), 6) AS mean_word_len,
        |  round(least(len(string_split(trim(text), ' ')) / 100.0, 1.0) * 0.5
        |    + (1.0 - least(round((length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g'))) * 1.0
        |          / greatest(length(text), 1), 6) * 10, 1.0)) * 0.25
        |    + least(round(len(list_filter(string_split(trim(text), ' '),
        |          t -> list_contains(['the','a','of','and','to','in','is','it','that','for'], t))) * 1.0
        |          / greatest(len(string_split(trim(text), ' ')), 1), 6) * 5, 1.0) * 0.25, 4) AS quality_score
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_docs_perplexity" ->
      """WITH bg AS (
        |  SELECT doc_id, substr(text, CAST(i AS INTEGER), 2) AS b
        |  FROM (SELECT doc_id, text, unnest(range(1, greatest(length(text), 1))) AS i
        |        FROM documents)),
        |cnt AS (SELECT b, count(*) AS c FROM bg GROUP BY b),
        |pre AS (SELECT substr(b, 1, 1) AS c1, sum(c) AS cp FROM cnt GROUP BY 1),
        |v AS (SELECT count(*) AS v FROM pre),
        |sc AS (
        |  SELECT bg.doc_id, -avg(ln((cnt.c + 1.0) / (pre.cp + v.v))) AS ce
        |  FROM bg JOIN cnt USING (b) JOIN pre ON substr(bg.b, 1, 1) = pre.c1 CROSS JOIN v
        |  GROUP BY bg.doc_id)
        |SELECT d.doc_id, round(coalesce(sc.ce, 0), 4) AS char_entropy
        |FROM documents d LEFT JOIN sc USING (doc_id) ORDER BY doc_id""".stripMargin,
    "q_docs_lang_dist" ->
      """SELECT lang, count(*) AS n, round(avg(n_chars), 4) AS avg_chars
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "q_docs_stats" ->
      """SELECT source, count(*) AS n, round(avg(n_chars), 4) AS avg_chars, max(n_chars) AS max_chars
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,
    "q_docs_argmax" ->
      """WITH q AS (
        |  SELECT source, doc_id,
        |    round(least(len(string_split(trim(text), ' ')) / 100.0, 1.0) * 0.5
        |      + (1.0 - least(round((length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g'))) * 1.0
        |            / greatest(length(text), 1), 6) * 10, 1.0)) * 0.25
        |      + least(round(len(list_filter(string_split(trim(text), ' '),
        |            t -> list_contains(['the','a','of','and','to','in','is','it','that','for'], t))) * 1.0
        |            / greatest(len(string_split(trim(text), ' ')), 1), 6) * 5, 1.0) * 0.25, 4) AS qs
        |  FROM documents),
        |r AS (SELECT source, doc_id, qs,
        |        row_number() OVER (PARTITION BY source ORDER BY qs DESC, doc_id ASC) AS rn FROM q)
        |SELECT source, doc_id AS best_doc_id, qs AS best_quality FROM r WHERE rn = 1 ORDER BY source""".stripMargin,
    "q_events_sessionize" ->
      """WITH o AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
        |    CASE WHEN lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) IS NULL
        |         OR epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
        |            > 1800 * 1000000 THEN 1 ELSE 0 END AS new_sess
        |  FROM events),
        |s AS (
        |  SELECT user_id,
        |    sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
        |  FROM o),
        |g AS (SELECT user_id, sess_id, count(*) AS n_events FROM s GROUP BY 1, 2)
        |SELECT user_id, count(*) AS n_sessions,
        |  CAST(sum(n_events) AS BIGINT) AS n_events,
        |  CAST(max(n_events) AS BIGINT) AS longest_session
        |FROM g GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q_docs_cube" ->
      """SELECT source, lang, count(*) AS n, round(avg(n_chars), 4) AS avg_chars
        |FROM documents GROUP BY CUBE (source, lang)
        |ORDER BY source NULLS FIRST, lang NULLS FIRST""".stripMargin,
    "q_docs_set_ops" ->
      """WITH longl AS (SELECT lang FROM documents WHERE n_chars >= 300),
        |shortl AS (SELECT lang FROM documents WHERE n_chars < 300)
        |SELECT lang, 'both' AS which FROM (SELECT lang FROM longl INTERSECT SELECT lang FROM shortl)
        |UNION ALL
        |SELECT lang, 'long_only' AS which FROM (SELECT lang FROM longl EXCEPT SELECT lang FROM shortl)
        |ORDER BY which, lang""".stripMargin,
    "q_events_running_total" ->
      """SELECT user_id, event_id,
        |  round(sum(value) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS running_total
        |FROM events ORDER BY user_id, event_id""".stripMargin,
    "q_events_full_outer" ->
      """WITH c AS (SELECT user_id, count(*) AS n_clicks FROM events
        |           WHERE event_type = 'click' GROUP BY user_id),
        |p AS (SELECT user_id, round(sum(value), 6) AS purchase_total FROM events
        |      WHERE event_type = 'purchase' GROUP BY user_id)
        |SELECT coalesce(c.user_id, p.user_id) AS user_id, c.n_clicks, p.purchase_total
        |FROM c FULL OUTER JOIN p ON c.user_id = p.user_id
        |ORDER BY user_id""".stripMargin,
    "q_events_asof" ->
      """WITH v AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events WHERE event_type = 'view'),
        |p AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us, max_by(value, event_id) AS pvalue
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2)
        |SELECT v.event_id, v.user_id, v.ts_us, round(p.pvalue, 6) AS last_purchase_value
        |FROM v ASOF LEFT JOIN p ON v.user_id = p.user_id AND v.ts_us >= p.ts_us
        |ORDER BY v.event_id""".stripMargin,
    // identical semantics through the custom merge operator → same oracle
    "q_events_asof_exec" ->
      """WITH v AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events WHERE event_type = 'view'),
        |p AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us, max_by(value, event_id) AS pvalue
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2)
        |SELECT v.event_id, v.user_id, v.ts_us, round(p.pvalue, 6) AS last_purchase_value
        |FROM v ASOF LEFT JOIN p ON v.user_id = p.user_id AND v.ts_us >= p.ts_us
        |ORDER BY v.event_id""".stripMargin,
    "q_events_range_join" ->
      """WITH er AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events WHERE event_type = 'error'),
        |al AS (SELECT user_id, epoch_us(ts) AS ts_us FROM events)
        |SELECT er.event_id, er.user_id, er.ts_us, count(al.ts_us) AS n_in_range
        |FROM er LEFT JOIN al ON er.user_id = al.user_id
        |  AND abs(al.ts_us - er.ts_us) <= 300 * 1000000
        |GROUP BY 1, 2, 3 ORDER BY er.event_id""".stripMargin,
    // plain inequality join in DuckDB (its IEJoin handles bands natively)
    "q_events_band_join_auto" ->
      """WITH w AS (
        |  SELECT event_id, epoch_us(ts) - 120 * 1000000 AS lo,
        |         epoch_us(ts) + 120 * 1000000 AS hi
        |  FROM events WHERE event_type = 'error'),
        |a AS (SELECT epoch_us(ts) AS ts_us FROM events)
        |SELECT w.event_id, count(*) AS n_in_band
        |FROM w JOIN a ON a.ts_us >= w.lo AND a.ts_us <= w.hi
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // the native session_window derivation must land on the SAME answer
    "q_events_session_window" ->
      """WITH o AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
        |    CASE WHEN lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) IS NULL
        |         OR epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
        |            > 1800 * 1000000 THEN 1 ELSE 0 END AS new_sess
        |  FROM events),
        |s AS (
        |  SELECT user_id,
        |    sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
        |  FROM o),
        |g AS (SELECT user_id, sess_id, count(*) AS n_events FROM s GROUP BY 1, 2)
        |SELECT user_id, count(*) AS n_sessions,
        |  CAST(sum(n_events) AS BIGINT) AS n_events,
        |  CAST(max(n_events) AS BIGINT) AS longest_session
        |FROM g GROUP BY user_id ORDER BY user_id""".stripMargin,
    "dedup_exact_groups" ->
      """WITH d AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id < 40)
        |SELECT min(doc_id) AS keep_id, count(*) AS n_docs
        |FROM d GROUP BY text HAVING count(*) > 1 ORDER BY keep_id""".stripMargin,
    "dedup_exact_drop" ->
      """WITH d AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id < 40)
        |SELECT doc_id, md5(text) AS text_md5 FROM (
        |  SELECT doc_id, text, row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
        |  FROM d) WHERE rn = 1 ORDER BY doc_id""".stripMargin,
    "streaming_dedup_exact" ->
      """SELECT CAST(doc_id AS VARCHAR) AS doc_id, md5(text) AS text_md5 FROM (
        |  SELECT doc_id, text,
        |    row_number() OVER (PARTITION BY text ORDER BY CAST(doc_id AS VARCHAR)) AS rn
        |  FROM documents) WHERE rn = 1 ORDER BY CAST(doc_id AS VARCHAR)""".stripMargin,
    "q_events_window_agg" ->
      """SELECT epoch(time_bucket(INTERVAL '5 minutes', ts))::BIGINT AS window_start,
        |  event_type, count(*) AS n, round(sum(value), 6) AS total_value
        |FROM events GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin,
    "q_ann_brute_topk" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 10),
        |c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings),
        |scored AS (
        |  SELECT query_id, neighbor_id,
        |    list_dot_product(cv, qv) / greatest(sqrt(list_dot_product(cv, cv)) * sqrt(list_dot_product(qv, qv)), 1e-12) AS cos_raw
        |  FROM c CROSS JOIN q WHERE query_id <> neighbor_id),
        |ranked AS (
        |  SELECT query_id, neighbor_id, cos_raw,
        |    row_number() OVER (PARTITION BY query_id ORDER BY cos_raw DESC, neighbor_id ASC) AS rank
        |  FROM scored)
        |SELECT query_id, neighbor_id, round(cos_raw, 6) AS cosine, rank
        |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    // ---------------------------------------------------------------- KG surface
    // (gold_* fixtures come from the deterministic generator, never the
    // pipeline; concept ids are RE-DERIVED in SQL via the same total order
    // as Lexicon.fromSurfaces; {CONF} is the measured kernel confidence)
    "kg_mentions" ->
      s"""SELECT doc_id, span_idx, entity_type, text, "start", "end",
         |  round({CONF}, 6) AS confidence
         |FROM ${fx("gold_mentions")}
         |ORDER BY doc_id, span_idx, "start"""".stripMargin,
    "kg_mentions_partitioned" ->
      s"""SELECT doc_id, span_idx, entity_type, text, "start", "end",
         |  round({CONF}, 6) AS confidence
         |FROM ${fx("gold_mentions")}
         |ORDER BY doc_id, span_idx, "start"""".stripMargin,
    "kg_mentions_ngram" ->
      s"""SELECT doc_id, span_idx, entity_type, text, "start", "end", confidence
         |FROM ${fx("expected_ngram_mentions")}
         |ORDER BY doc_id, span_idx, "start"""".stripMargin,
    "kg_linked" ->
      s"""WITH $lexCte
         |SELECT m.doc_id, m.span_idx, m.entity_type, m.text, m."start", m."end",
         |  round({CONF}, 6) AS confidence, l.concept_id
         |FROM ${fx("gold_mentions")} m
         |JOIN lex l ON m.text = l.surface AND m.entity_type = l.entity_type
         |ORDER BY m.doc_id, m.span_idx, m."start"""".stripMargin,
    "kg_components" ->
      s"""WITH $lexCte,
         |surf AS (SELECT DISTINCT m.text, l.concept_id
         |         FROM ${fx("gold_mentions")} m
         |         JOIN lex l ON m.text = l.surface AND m.entity_type = l.entity_type),
         |nodes AS (
         |  SELECT concept_id AS node, concept_id AS component FROM surf
         |  UNION
         |  SELECT 'S:' || text AS node, concept_id AS component FROM surf)
         |SELECT node, component FROM nodes ORDER BY node""".stripMargin,
    // component labels are path-independent, so the forced-contraction
    // query shares kg_components' oracle verbatim
    "kg_components_general" ->
      s"""WITH $lexCte,
         |surf AS (SELECT DISTINCT m.text, l.concept_id
         |         FROM ${fx("gold_mentions")} m
         |         JOIN lex l ON m.text = l.surface AND m.entity_type = l.entity_type),
         |nodes AS (
         |  SELECT concept_id AS node, concept_id AS component FROM surf
         |  UNION
         |  SELECT 'S:' || text AS node, concept_id AS component FROM surf)
         |SELECT node, component FROM nodes ORDER BY node""".stripMargin,
    "kg_triples" ->
      s"""WITH $kgRuleCtes
         |SELECT a.concept_id AS subj, r.pred, b.concept_id AS obj, a.doc_id AS doc_id,
         |       a.entity_type AS subj_type, b.entity_type AS obj_type
         |FROM m a JOIN m b ON a.doc_id = b.doc_id
         |JOIN r ON a.entity_type = r.st AND b.entity_type = r.ot
         |ORDER BY 1, 2, 3, 4""".stripMargin,
    "kg_degree" ->
      s"""WITH $kgRuleCtes,
         |t AS (SELECT DISTINCT a.concept_id AS subj, b.concept_id AS obj
         |      FROM m a JOIN m b ON a.doc_id = b.doc_id
         |      JOIN r ON a.entity_type = r.st AND b.entity_type = r.ot),
         |d AS (SELECT subj AS node, 1 AS out_e, 0 AS in_e FROM t
         |      UNION ALL SELECT obj, 0, 1 FROM t)
         |SELECT node, CAST(sum(out_e) AS BIGINT) AS out_degree,
         |  CAST(sum(in_e) AS BIGINT) AS in_degree, count(*) AS degree
         |FROM d GROUP BY node ORDER BY node""".stripMargin,
    // PageRank replica: the same damped power method with the iterations
    // UNROLLED as CTEs (generated below — DuckDB recursive CTEs cannot
    // aggregate in the recursive term). Float literals are CAST AS DOUBLE
    // so both engines execute the identical IEEE op sequence; only the
    // in-edge summation order differs (~1e-16), absorbed by round(…, 6).
    "kg_pagerank" -> {
      val iters = 5
      val base =
        s"""WITH $kgRuleCtes,
           |t AS (SELECT DISTINCT a.concept_id AS src, b.concept_id AS dst
           |      FROM m a JOIN m b ON a.doc_id = b.doc_id
           |      JOIN r ON a.entity_type = r.st AND b.entity_type = r.ot),
           |nodes AS (SELECT src AS node FROM t UNION SELECT dst FROM t),
           |od AS (SELECT src AS node, count(*) AS od FROM t GROUP BY src),
           |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
           |pr0 AS (SELECT node, CAST(1.0 AS DOUBLE) / (SELECT n FROM nn) AS rank FROM nodes)""".stripMargin
      val steps = (1 to iters).map { i =>
        s"""pr$i AS (
           |  SELECT nd.node,
           |    (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / (SELECT n FROM nn)
           |      + CAST(0.85 AS DOUBLE) * coalesce(s.s, CAST(0.0 AS DOUBLE)) AS rank
           |  FROM nodes nd LEFT JOIN (
           |    SELECT t.dst AS node, sum(p.rank / od.od) AS s
           |    FROM t JOIN od ON t.src = od.node JOIN pr${i - 1} p ON t.src = p.node
           |    GROUP BY t.dst) s ON nd.node = s.node)""".stripMargin
      }
      (base +: steps).mkString(",\n") +
        s"\nSELECT node, round(rank, 6) AS rank FROM pr$iters ORDER BY node"
    },
    // triangle replica: canonical (lo<hi) co-occurrence edges, triangles
    // enumerated once each as a<b<c via three equi-joins, per-node rollup
    "kg_triangles" ->
      s"""WITH $lexCte,
         |m AS (SELECT DISTINCT g.doc_id, l.concept_id
         |      FROM ${fx("gold_mentions")} g
         |      JOIN lex l ON g.text = l.surface AND g.entity_type = l.entity_type),
         |e AS (SELECT DISTINCT a.concept_id AS lo, b.concept_id AS hi
         |      FROM m a JOIN m b ON a.doc_id = b.doc_id AND a.concept_id < b.concept_id),
         |tri AS (SELECT e1.lo AS a, e1.hi AS b, e2.hi AS c
         |        FROM e e1 JOIN e e2 ON e2.lo = e1.hi
         |        JOIN e e3 ON e3.lo = e1.lo AND e3.hi = e2.hi),
         |x AS (SELECT a AS node FROM tri
         |      UNION ALL SELECT b FROM tri UNION ALL SELECT c FROM tri)
         |SELECT node, count(*) AS triangles FROM x GROUP BY node ORDER BY node""".stripMargin,
    "kg_negatives" ->
      s"""SELECT subj, pred, obj, neg_obj, attempt FROM ${fx("expected_negatives")}
         |ORDER BY subj, pred, obj, attempt""".stripMargin,
    // random-walk replica: the sequential fixture re-derives the walks
    // with the same draw kernel over the gold-derived co-occurrence
    // adjacency — equality proves the distributed broadcast-join steps
    // are partition-independent
    "kg_random_walks" ->
      s"""SELECT start, walk, step, node FROM ${fx("expected_walks")}
         |ORDER BY start, walk, step""".stripMargin,
    // DSv2 roundtrip replica: the gold tag multiset, independent of the
    // write/read path under test (a split-boundary bug shows as a count drift)
    "bio_source_roundtrip" ->
      s"""SELECT tag, count(*) AS n FROM ${fx("gold_tags")}
         |GROUP BY tag ORDER BY tag""".stripMargin,
    // same gold multiset for the STREAMING surface of the connector
    "streaming_bio_tags" ->
      s"""SELECT tag, count(*) AS n FROM ${fx("gold_tags")}
         |GROUP BY tag ORDER BY tag""".stripMargin,
    // skip-gram replica: PURE SQL over the walks fixture — the pairing
    // and multiplicity count are re-derived independently of the Spark op
    "kg_skipgram_pairs" ->
      s"""SELECT a.node AS center, b.node AS context, count(*) AS n
         |FROM ${fx("expected_walks")} a
         |JOIN ${fx("expected_walks")} b
         |  ON a.start = b.start AND a.walk = b.walk
         | AND abs(a.step - b.step) BETWEEN 1 AND 2
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // PMI replica: exact long counts; lift re-derived with the IDENTICAL
    // pinned operand order (n_ab·N then n_a·n_b then one division — all
    // correctly-rounded IEEE ops, so lift is bit-identical); ln absorbed
    // by round 6
    "kg_cooc_pmi" ->
      s"""WITH $lexCte,
         |m AS (SELECT DISTINCT g.doc_id AS doc, l.concept_id AS item
         |      FROM ${fx("gold_mentions")} g
         |      JOIN lex l ON g.text = l.surface AND g.entity_type = l.entity_type),
         |nd AS (SELECT count(DISTINCT doc) AS n_docs FROM m),
         |ic AS (SELECT item, count(*) AS n_i FROM m GROUP BY 1),
         |p AS (SELECT x.item AS a, y.item AS b, count(*) AS n_ab
         |      FROM m x JOIN m y ON x.doc = y.doc AND x.item < y.item
         |      GROUP BY 1, 2)
         |SELECT p.a, p.b, p.n_ab,
         |  (CAST(p.n_ab AS DOUBLE) * CAST(nd.n_docs AS DOUBLE))
         |    / (CAST(ia.n_i AS DOUBLE) * CAST(ib.n_i AS DOUBLE)) AS lift,
         |  round(ln((CAST(p.n_ab AS DOUBLE) * CAST(nd.n_docs AS DOUBLE))
         |    / (CAST(ia.n_i AS DOUBLE) * CAST(ib.n_i AS DOUBLE))), 6) AS pmi
         |FROM p
         |JOIN ic ia ON p.a = ia.item
         |JOIN ic ib ON p.b = ib.item
         |CROSS JOIN nd
         |ORDER BY a, b""".stripMargin,
    // Adamic-Adar replica over the SAME sparsified edge set as kg_kcore
    // (the full graph is complete → no structure to predict): same 2..12
    // degree window (binds — sparsified degrees run 1..23), same 1/ln
    // weights, wedge join at the shared neighbor; the float SUM is
    // order-sensitive → round 6 on both engines
    "kg_adamic_adar" ->
      s"""WITH $lexCte,
         |m AS (SELECT DISTINCT g.doc_id, l.concept_id
         |      FROM ${fx("gold_mentions")} g
         |      JOIN lex l ON g.text = l.surface AND g.entity_type = l.entity_type),
         |nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM m),
         |p AS (SELECT a.concept_id AS src, b.concept_id AS dst, count(*) AS n
         |      FROM m a JOIN m b ON a.doc_id = b.doc_id AND a.concept_id < b.concept_id
         |      GROUP BY 1, 2),
         |e AS (SELECT src, dst FROM p WHERE n * 1000 >= 15 * (SELECT n_docs FROM nd)),
         |bi AS (SELECT src, dst FROM e UNION SELECT dst, src FROM e),
         |dg AS (SELECT src, count(*) AS d FROM bi GROUP BY 1),
         |w AS (SELECT bi.src AS z, bi.dst AS nbr,
         |        1.0 / ln(CAST(dg.d AS DOUBLE)) AS w
         |      FROM bi JOIN dg ON bi.src = dg.src
         |      WHERE dg.d BETWEEN 2 AND 12)
         |SELECT wp.nbr AS a, wq.nbr AS b, round(sum(wp.w), 6) AS aa
         |FROM w wp JOIN w wq ON wp.z = wq.z AND wp.nbr < wq.nbr
         |GROUP BY 1, 2 ORDER BY a, b""".stripMargin,
    // export replica: pairs + dense ids by sorted node (row_number - 1
    // over the pair-side union), re-coded by joins — every stage in SQL
    "kg_skipgram_export" ->
      s"""WITH pairs AS (
         |  SELECT a.node AS center, b.node AS context, count(*) AS n
         |  FROM ${fx("expected_walks")} a
         |  JOIN ${fx("expected_walks")} b
         |    ON a.start = b.start AND a.walk = b.walk
         |   AND abs(a.step - b.step) BETWEEN 1 AND 2
         |  GROUP BY 1, 2),
         |v AS (
         |  SELECT node, row_number() OVER (ORDER BY node) - 1 AS ent_id
         |  FROM (SELECT center AS node FROM pairs
         |        UNION SELECT context FROM pairs))
         |SELECT vc.ent_id AS c, vx.ent_id AS x, p.n
         |FROM pairs p
         |JOIN v vc ON p.center = vc.node
         |JOIN v vx ON p.context = vx.node
         |ORDER BY c, x""".stripMargin,
    // wedge-census replica: per-(subj,pred) counts paired (never edges),
    // C(c,2) within a predicate, c_a·c_b across; sums CAST-pinned to
    // BIGINT (DuckDB sum(BIGINT) is HUGEINT — the r3 rollup trap)
    "kg_motifs" ->
      s"""WITH $kgRuleCtes,
         |t AS (SELECT DISTINCT a.concept_id AS subj, r.pred, b.concept_id AS obj
         |      FROM m a JOIN m b ON a.doc_id = b.doc_id
         |      JOIN r ON a.entity_type = r.st AND b.entity_type = r.ot),
         |c AS (SELECT subj, pred, count(*) AS c FROM t GROUP BY 1, 2)
         |SELECT * FROM (
         |  SELECT x.pred AS pred_a, y.pred AS pred_b,
         |         CAST(sum(CASE WHEN x.pred = y.pred
         |                       THEN CAST(x.c * (x.c - 1) / 2 AS BIGINT)
         |                       ELSE x.c * y.c END) AS BIGINT) AS n_wedges
         |  FROM c x JOIN c y ON x.subj = y.subj AND x.pred <= y.pred
         |  GROUP BY 1, 2)
         |WHERE n_wedges > 0 ORDER BY pred_a, pred_b""".stripMargin,
    // rule-implication replica: subject-level (subj, pred) distinct sets,
    // support and co-support by exact counts, confidence = the identical
    // two-long IEEE division rounded to 6 on both engines
    "kg_rule_confidence" ->
      s"""WITH $kgRuleCtes,
         |sp AS (SELECT DISTINCT a.concept_id AS subj, r.pred
         |       FROM m a JOIN m b ON a.doc_id = b.doc_id
         |       JOIN r ON a.entity_type = r.st AND b.entity_type = r.ot),
         |supp AS (SELECT pred, count(*) AS n_antecedent FROM sp GROUP BY pred),
         |bo AS (SELECT a.pred AS antecedent, b.pred AS consequent, count(*) AS n_both
         |       FROM sp a JOIN sp b ON a.subj = b.subj AND a.pred <> b.pred
         |       GROUP BY 1, 2)
         |SELECT antecedent, consequent, n_antecedent, n_both,
         |       round(CAST(n_both AS DOUBLE) / n_antecedent, 6) AS confidence
         |FROM bo JOIN supp ON bo.antecedent = supp.pred
         |ORDER BY antecedent, consequent""".stripMargin,
    // weighted-SSSP replica: co-occurrence support counts → integer edge
    // costs, Bellman-Ford unrolled one CTE per round (min over the
    // previous round ∪ one relaxation) — integer min-plus, zero tolerance
    "kg_shortest_paths" -> {
      val base =
        s"""WITH $lexCte,
           |m AS (SELECT DISTINCT g.doc_id, l.concept_id
           |      FROM ${fx("gold_mentions")} g
           |      JOIN lex l ON g.text = l.surface AND g.entity_type = l.entity_type),
           |p AS (SELECT a.concept_id AS src, b.concept_id AS dst, count(*) AS n
           |      FROM m a JOIN m b ON a.doc_id = b.doc_id AND a.concept_id < b.concept_id
           |      GROUP BY 1, 2),
           |e AS (SELECT src, dst, greatest(1, 6 - least(n, 5)) AS w FROM p
           |      UNION ALL
           |      SELECT dst, src, greatest(1, 6 - least(n, 5)) FROM p),
           |d0 AS (SELECT concept_id AS node, CAST(0 AS BIGINT) AS dist
           |       FROM lex WHERE surface = '${DocsGen.HubSurface}')""".stripMargin
      val steps = (1 to 4).map { i =>
        s"""d$i AS (SELECT node, min(dist) AS dist FROM (
           |  SELECT node, dist FROM d${i - 1}
           |  UNION ALL
           |  SELECT e.dst, d.dist + e.w FROM d${i - 1} d JOIN e ON d.node = e.src)
           |  GROUP BY node)""".stripMargin
      }
      (base +: steps).mkString(",\n") +
        "\nSELECT node, dist FROM d4 ORDER BY node"
    },
    // LPA replica: integer-only relational argmax per round, unrolled —
    // count neighbor labels → per-node max count → MIN label at the max
    "kg_communities" -> {
      val base =
        s"""WITH $coocCtes,
           |l0 AS (SELECT DISTINCT src AS node, src AS label FROM bi)""".stripMargin
      val steps = (1 to 3).map { i =>
        s"""c$i AS (SELECT e.src AS node, l.label, count(*) AS c
           |        FROM bi e JOIN l${i - 1} l ON e.dst = l.node GROUP BY 1, 2),
           |mx$i AS (SELECT node, max(c) AS mc FROM c$i GROUP BY node),
           |l$i AS (SELECT c.node, min(c.label) AS label
           |        FROM c$i c JOIN mx$i ON c.node = mx$i.node AND c.c = mx$i.mc
           |        GROUP BY c.node)""".stripMargin
      }
      (base +: steps).mkString(",\n") +
        "\nSELECT node, label AS community FROM l3 ORDER BY node"
    },
    // neighborhood-Jaccard replica: hub-PRUNED neighbor sets (neighbors
    // above the degree cap dropped from numerator AND denominator — the
    // same pruned sets both sides), one double division each side
    // (identical IEEE op), round 6
    "kg_node_similarity" ->
      s"""WITH $coocCtes,
         |deg AS (SELECT src AS node, count(*) AS deg FROM bi GROUP BY src),
         |pruned AS (SELECT b.dst AS w, b.src AS v
         |           FROM bi b JOIN deg d ON b.dst = d.node WHERE d.deg <= 1000),
         |pdeg AS (SELECT v AS node, count(*) AS pdeg FROM pruned GROUP BY v),
         |i AS (SELECT x.v AS a, y.v AS b, count(*) AS "inter"
         |      FROM pruned x JOIN pruned y ON x.w = y.w AND x.v < y.v GROUP BY 1, 2),
         |j AS (SELECT i.a, i.b, i."inter",
         |        round(CAST(i."inter" AS DOUBLE) /
         |              CAST(da.pdeg + db.pdeg - i."inter" AS DOUBLE), 6) AS jaccard
         |      FROM i JOIN pdeg da ON i.a = da.node JOIN pdeg db ON i.b = db.node)
         |SELECT a, b, "inter", jaccard FROM j WHERE jaccard >= 0.5
         |ORDER BY a, b""".stripMargin,
    // k-core replica: support-sparsified pair graph (integer-exact
    // threshold n·1000 ≥ 15·n_docs), 3 peeling rounds at k=5 unrolled —
    // degree groupBy + two endpoint joins per round, zero tolerance
    "kg_kcore" -> {
      val base =
        s"""WITH $lexCte,
           |m AS (SELECT DISTINCT g.doc_id, l.concept_id
           |      FROM ${fx("gold_mentions")} g
           |      JOIN lex l ON g.text = l.surface AND g.entity_type = l.entity_type),
           |nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM m),
           |p AS (SELECT a.concept_id AS src, b.concept_id AS dst, count(*) AS n
           |      FROM m a JOIN m b ON a.doc_id = b.doc_id AND a.concept_id < b.concept_id
           |      GROUP BY 1, 2),
           |e AS (SELECT src, dst FROM p WHERE n * 1000 >= 15 * (SELECT n_docs FROM nd)),
           |b0 AS (SELECT src, dst FROM e UNION SELECT dst, src FROM e)""".stripMargin
      val steps = (1 to 3).map { i =>
        s"""dg$i AS (SELECT src, count(*) AS d FROM b${i - 1} GROUP BY src),
           |k$i AS (SELECT src AS node FROM dg$i WHERE d >= 5),
           |b$i AS (SELECT e.src, e.dst FROM b${i - 1} e
           |        JOIN k$i a ON e.src = a.node JOIN k$i b ON e.dst = b.node)""".stripMargin
      }
      (base +: steps).mkString(",\n") +
        "\nSELECT src AS node, count(*) AS degree FROM b3 GROUP BY src ORDER BY node"
    },
    // export replica: dense ids by sorted vocab order (row_number over
    // the vocabulary-bounded distinct sets), triples re-coded by joins
    "kg_embedding_export" ->
      s"""WITH $kgRuleCtes,
         |tr AS (SELECT DISTINCT a.concept_id AS subj, r.pred, b.concept_id AS obj
         |       FROM m a JOIN m b ON a.doc_id = b.doc_id
         |       JOIN r ON a.entity_type = r.st AND b.entity_type = r.ot),
         |ents AS (SELECT subj AS entity FROM tr UNION SELECT obj FROM tr),
         |ev AS (SELECT entity,
         |         CAST(row_number() OVER (ORDER BY entity) - 1 AS INTEGER) AS ent_id
         |       FROM ents),
         |rv AS (SELECT pred,
         |         CAST(row_number() OVER (ORDER BY pred) - 1 AS INTEGER) AS rel_id
         |       FROM (SELECT DISTINCT pred FROM tr))
         |SELECT eh.ent_id AS h, rv.rel_id AS r, et.ent_id AS t
         |FROM tr JOIN ev eh ON tr.subj = eh.entity
         |JOIN rv ON tr.pred = rv.pred
         |JOIN ev et ON tr.obj = et.entity
         |ORDER BY h, r, t""".stripMargin,
    "kg_span_metrics" ->
      s"""WITH c AS (
         |  SELECT entity_type, count(*) AS n FROM (
         |    SELECT DISTINCT doc_id, span_idx, "start", "end", entity_type FROM ${fx("gold_mentions")})
         |  GROUP BY entity_type)
         |SELECT entity_type, n AS tp, n AS pred_count, n AS gold_count,
         |  CAST(1.0 AS DOUBLE) AS precision, CAST(1.0 AS DOUBLE) AS recall, CAST(1.0 AS DOUBLE) AS f1
         |FROM c ORDER BY entity_type""".stripMargin,
    "kg_bio_roundtrip" ->
      s"""SELECT entity_type, count(*) AS n FROM ${fx("gold_mentions")}
         |GROUP BY entity_type ORDER BY entity_type""".stripMargin,
    // K3 oracle: re-derive the tag-bigram counts + add-1-smoothed log-probs
    // from staged gold tags; legality (BIO grammar) re-expressed in SQL
    "kg_crf_transitions" ->
      s"""WITH $crfTransCtes
         |SELECT from_label, to_label, n, logp FROM trans
         |ORDER BY from_label, to_label""".stripMargin,
    "kg_attributions" ->
      s"""WITH $crfTransCtes,
         |bi AS (SELECT substring(from_label, 3) AS entity_type, logp AS logp_bi
         |       FROM trans WHERE from_label LIKE 'B-%'
         |         AND to_label = 'I-' || substring(from_label, 3)),
         |ii AS (SELECT substring(from_label, 3) AS entity_type, logp AS logp_ii
         |       FROM trans WHERE from_label LIKE 'I-%' AND to_label = from_label),
         |m AS (SELECT doc_id, span_idx, entity_type, text, "start", "end",
         |        ("end" - "start") AS len
         |      FROM ${fx("gold_mentions")}),
         |f AS (
         |  SELECT doc_id, span_idx, entity_type, text, "start", "end",
         |    1 AS rank, 'gazetteer:' || text AS feature, round(8.0 * len, 6) AS weight
         |  FROM m
         |  UNION ALL
         |  SELECT doc_id, span_idx, entity_type, text, "start", "end",
         |    2, 'o_prior_alternative', round(2.0 * len, 6)
         |  FROM m
         |  UNION ALL
         |  SELECT m.doc_id, m.span_idx, m.entity_type, m.text, m."start", m."end",
         |    3, 'crf_transition_chain',
         |    CASE WHEN m.len = 1 THEN 0.0
         |         ELSE round(bi.logp_bi + (m.len - 2) * ii.logp_ii, 6) END
         |  FROM m JOIN bi USING (entity_type) JOIN ii USING (entity_type))
         |SELECT doc_id, span_idx, entity_type, text, "start", "end", rank, feature, weight
         |FROM f ORDER BY doc_id, span_idx, "start", rank""".stripMargin,
    "kg_mean_attention" ->
      s"""WITH s AS (SELECT doc_id, span_idx, len FROM ${fx("gold_sentences")}
         |           WHERE doc_id < 'doc-0000000100'),
         |p AS (SELECT doc_id, span_idx, pos FROM ${fx("gold_tags")}
         |      WHERE doc_id < 'doc-0000000100'),
         |m AS (SELECT doc_id, span_idx, entity_type, "start", "end",
         |        ("end" - "start") AS mlen
         |      FROM ${fx("gold_mentions")} WHERE doc_id < 'doc-0000000100')
         |SELECT p.doc_id, p.span_idx, CAST(p.pos AS INT) AS pos,
         |  coalesce(m.entity_type, 'O') AS entity_type,
         |  round(CAST(coalesce(8.0 * m.mlen, 2.0) AS DOUBLE) / s.len, 6) AS mean_att
         |FROM p
         |JOIN s USING (doc_id, span_idx)
         |LEFT JOIN m ON p.doc_id = m.doc_id AND p.span_idx = m.span_idx
         |  AND p.pos >= m."start" AND p.pos < m."end"
         |ORDER BY p.doc_id, p.span_idx, pos""".stripMargin,

    "lexicon_prune" ->
      s"""WITH $lexCte,
         |cnt AS (SELECT text AS surface, count(*) AS n FROM ${fx("gold_mentions")} GROUP BY text),
         |thr AS (SELECT count(*) // 40 AS k FROM ${fx("gold_mentions")})
         |SELECT l.concept_id, l.surface, l.entity_type
         |FROM lex l JOIN cnt c ON l.surface = c.surface CROSS JOIN thr
         |WHERE c.n >= thr.k
         |ORDER BY l.concept_id""".stripMargin,

    // ---------------------------------------------------------------- stats / metrics
    "stats_label_dist" ->
      s"""WITH t AS (SELECT tag, count(*) AS n FROM ${fx("gold_tags")} WHERE tag <> 'O' GROUP BY tag)
         |SELECT tag, n, round(n / (SELECT sum(n) FROM t), 6) AS share
         |FROM t ORDER BY n DESC, tag""".stripMargin,
    "stats_length_hist" ->
      s"""SELECT CAST(floor(len / 10) * 10 AS BIGINT) AS len_bucket, count(*) AS n
         |FROM ${fx("gold_sentences")} GROUP BY 1 ORDER BY len_bucket""".stripMargin,
    "stats_entity_type_dist" ->
      s"""SELECT entity_type, count(*) AS n FROM ${fx("gold_mentions")}
         |GROUP BY entity_type ORDER BY n DESC, entity_type""".stripMargin,
    "metrics_confusion" ->
      s"""WITH t AS (
         |  SELECT CASE WHEN tag = 'O' THEN 'O' ELSE substring(tag, 3) END AS tp, count(*) AS n
         |  FROM ${fx("gold_tags")} GROUP BY 1)
         |SELECT tp AS gold_type, tp AS pred_type, n FROM t ORDER BY gold_type, pred_type""".stripMargin,
    "metrics_report" ->
      s"""WITH c AS (
         |  SELECT entity_type, count(*) AS n FROM (
         |    SELECT DISTINCT doc_id, span_idx, "start", "end", entity_type FROM ${fx("gold_mentions")})
         |  GROUP BY entity_type),
         |tot AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM c)
         |SELECT entity_type, n AS tp, n AS pred_count, n AS gold_count,
         |  CAST(1.0 AS DOUBLE) AS precision, CAST(1.0 AS DOUBLE) AS recall, CAST(1.0 AS DOUBLE) AS f1
         |FROM c
         |UNION ALL SELECT 'micro avg', t, t, t, CAST(1.0 AS DOUBLE), CAST(1.0 AS DOUBLE), CAST(1.0 AS DOUBLE) FROM tot
         |UNION ALL SELECT 'macro avg', t, t, t, CAST(1.0 AS DOUBLE), CAST(1.0 AS DOUBLE), CAST(1.0 AS DOUBLE) FROM tot
         |UNION ALL SELECT 'weighted avg', t, t, t, CAST(1.0 AS DOUBLE), CAST(1.0 AS DOUBLE), CAST(1.0 AS DOUBLE) FROM tot
         |ORDER BY entity_type""".stripMargin,

    // ---------------------------------------------------------------- sinks
    "sink_bio" ->
      s"""SELECT doc_id, span_idx, string_agg(ch || chr(9) || tag, chr(10) ORDER BY pos) AS bio
         |FROM ${fx("gold_tags")} GROUP BY doc_id, span_idx ORDER BY doc_id, span_idx""".stripMargin,
    "sink_markup" ->
      s"""WITH e AS (
         |  SELECT doc_id, span_idx, "start", "end", entity_type,
         |         lag("end", 1, 0) OVER (PARTITION BY doc_id, span_idx ORDER BY "start") AS prev_end
         |  FROM ${fx("gold_mentions")}),
         |seg AS (
         |  SELECT e.doc_id, e.span_idx,
         |    string_agg(substring(s.text, prev_end + 1, "start" - prev_end) || '[' || entity_type || ':' ||
         |               substring(s.text, "start" + 1, "end" - "start") || ']', '' ORDER BY "start") AS body,
         |    max("end") AS last_end
         |  FROM e JOIN ${fx("gold_sentences")} s
         |    ON e.doc_id = s.doc_id AND e.span_idx = s.span_idx
         |  GROUP BY e.doc_id, e.span_idx)
         |SELECT s.doc_id, s.span_idx,
         |  coalesce(seg.body, '') || substring(s.text, coalesce(seg.last_end, 0) + 1) AS marked
         |FROM ${fx("gold_sentences")} s
         |LEFT JOIN seg ON s.doc_id = seg.doc_id AND s.span_idx = seg.span_idx
         |ORDER BY s.doc_id, s.span_idx""".stripMargin,
    "sink_json_records" ->
      s"""WITH ej AS (
         |  SELECT doc_id, span_idx,
         |    string_agg('{"text":"' || text || '","type":"' || entity_type ||
         |               '","start":' || CAST("start" AS VARCHAR) || ',"end":' || CAST("end" AS VARCHAR) || '}',
         |               ',' ORDER BY "start") AS ents
         |  FROM ${fx("gold_mentions")} GROUP BY doc_id, span_idx)
         |SELECT s.doc_id, s.span_idx,
         |  '{"text":"' || s.text || '","entities":[' || coalesce(ej.ents, '') || ']}' AS json
         |FROM ${fx("gold_sentences")} s
         |LEFT JOIN ej ON s.doc_id = ej.doc_id AND s.span_idx = ej.span_idx
         |ORDER BY s.doc_id, s.span_idx""".stripMargin,
    "sink_prediction_verbose" ->
      s"""SELECT doc_id AS id, span_idx,
         |  string_agg(rpad(CAST(pos AS VARCHAR), 6, ' ') || rpad(ch, 8, ' ') ||
         |             rpad(tag, 15, ' ') || rpad(tag, 15, ' ') || '✓', chr(10) ORDER BY pos) AS verbose
         |FROM ${fx("gold_tags")} GROUP BY doc_id, span_idx ORDER BY id, span_idx""".stripMargin,
    "sink_eval_json" ->
      s"""WITH c AS (
         |  SELECT entity_type, count(*) AS n FROM (
         |    SELECT DISTINCT doc_id, span_idx, "start", "end", entity_type FROM ${fx("gold_mentions")})
         |  GROUP BY entity_type),
         |ns AS (SELECT count(*) AS n FROM ${fx("gold_sentences")}),
         |em AS (SELECT string_agg('"' || entity_type || '":{"precision":1.0,"recall":1.0,"f1":1.0,"support":' ||
         |                         CAST(n AS VARCHAR) || '}', ',' ORDER BY entity_type) AS s FROM c)
         |SELECT '{"model_info":{"pretrained_model":"gazetteer-crf"},"eval_info":{"num_samples":' ||
         |       CAST(ns.n AS VARCHAR) ||
         |       '},"metrics":{"overall":{"precision":1.0,"recall":1.0,"f1":1.0},"entity_metrics":{' ||
         |       em.s || '}}}' AS json
         |FROM em, ns""".stripMargin,
    "sink_prediction_dump" ->
      s"""SELECT doc_id AS id, span_idx,
         |  string_agg(ch, '' ORDER BY pos) AS words,
         |  string_agg(tag, ' ' ORDER BY pos) AS true_labels,
         |  string_agg(tag, ' ' ORDER BY pos) AS pred_labels
         |FROM ${fx("gold_tags")} GROUP BY doc_id, span_idx ORDER BY id, span_idx""".stripMargin,

    // golden constants measured from the reference's OWN artifacts
    // (results/test_predictions.txt vs data/test.txt; supports match
    // evaluation_results.json:21-56) — pinned so any regression in the
    // seqeval-parity path (BioCorpus read, seqevalEntities, SpanMetrics)
    // turns this row red
    "ref_seqeval_metrics" ->
      """SELECT entity_type, CAST(tp AS BIGINT) AS tp, CAST(pc AS BIGINT) AS pred_count,
        |  CAST(gc AS BIGINT) AS gold_count, CAST(p AS DOUBLE) AS precision,
        |  CAST(r AS DOUBLE) AS recall, CAST(f AS DOUBLE) AS f1
        |FROM (VALUES
        |  ('Anatomical', 793, 1017, 944, 0.779744, 0.840042, 0.808771),
        |  ('Diseases', 354, 431, 441, 0.821346, 0.802721, 0.811927),
        |  ('Drug', 156, 169, 173, 0.923077, 0.901734, 0.912281),
        |  ('Image', 80, 98, 93, 0.816327, 0.860215, 0.837696),
        |  ('Laboratory', 121, 165, 150, 0.733333, 0.806667, 0.768254),
        |  ('Operation', 71, 91, 88, 0.78022, 0.806818, 0.793296))
        |  v(entity_type, tp, pc, gc, p, r, f)
        |ORDER BY entity_type""".stripMargin,

    // ------------------------------------------------------- aug / dedup / ANN
    // (expected_* fixtures are LOCAL-REFERENCE results: sequential
    // brute-force re-derivations of the banding/bucketing semantics —
    // see Fixtures.scala)
    "aug_corpus_tags" ->
      s"""SELECT tag, n FROM ${fx("expected_aug_tags")} ORDER BY tag""",
    "dedup_minhash_pairs" ->
      s"""SELECT id_a, id_b, est_jaccard FROM ${fx("expected_minhash_pairs")} ORDER BY id_a, id_b""",
    "dedup_minhash_clusters" ->
      s"""SELECT id, keep_id FROM ${fx("expected_neardup_clusters")} ORDER BY id""",
    "streaming_dedup_neardup" ->
      s"""SELECT id, keep_id FROM ${fx("expected_neardup_clusters")} ORDER BY id""",
    "q_docs_stratified_sample" ->
      s"""SELECT doc_id FROM ${fx("expected_stratified_sample")} ORDER BY doc_id""",
    "q_docs_mixture" ->
      s"""WITH tok AS (
         |  SELECT doc_id, source,
         |    CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS n_tokens
         |  FROM documents),
         |tot AS (SELECT source, CAST(sum(n_tokens) AS BIGINT) AS t FROM tok GROUP BY 1),
         |rates AS (
         |  SELECT source, least(1.0, $MixtureBudget * w.wt / tot.t) AS rate
         |  FROM tot JOIN (VALUES ${MixtureWeights
               .map { case (s, w) => s"('$s', $w)" }.mkString(", ")}) AS w(source, wt)
         |    USING (source)
         |  WHERE tot.t > 0),
         |gate AS (SELECT doc_id FROM ${fx("expected_mixture_sample")})
         |SELECT k.doc_id, k.source, k.n_tokens, round(r.rate, 6) AS rate
         |FROM tok k JOIN rates r USING (source) JOIN gate USING (doc_id)
         |ORDER BY k.doc_id""".stripMargin,
    "q_docs_shuffle_shard" ->
      s"""SELECT doc_id,
         |  CAST(((h % $ShardCount) + $ShardCount) % $ShardCount AS INT) AS shard,
         |  h AS sort_key
         |FROM ${fx("expected_shuffle_hash")} ORDER BY doc_id""".stripMargin,
    "q_docs_tfidf_keywords" ->
      """WITH tokens AS (
        |  SELECT doc_id, source, unnest(string_split(lower(trim(text)), ' ')) AS token
        |  FROM documents),
        |tk AS (SELECT * FROM tokens WHERE token <> ''),
        |docfreq AS (
        |  SELECT token, CAST(count(*) AS BIGINT) AS df
        |  FROM (SELECT DISTINCT doc_id, token FROM tk) GROUP BY token),
        |termfreq AS (
        |  SELECT source, token, CAST(count(*) AS BIGINT) AS tf
        |  FROM tk GROUP BY source, token),
        |scored AS (
        |  SELECT t.source, t.token, t.tf, d.df,
        |    round(CAST(t.tf AS DOUBLE) * (SELECT CAST(count(*) AS DOUBLE) FROM documents)
        |          / CAST(d.df AS DOUBLE), 6) AS score
        |  FROM termfreq t JOIN docfreq d USING (token)),
        |ranked AS (
        |  SELECT *, CAST(row_number() OVER (
        |    PARTITION BY source ORDER BY score DESC, token ASC) AS INT) AS rank
        |  FROM scored)
        |SELECT source, token, tf, df, score, rank FROM ranked
        |WHERE rank <= 10 ORDER BY source, rank""".stripMargin,
    "q_docs_weighted_sample" ->
      s"""SELECT doc_id, n_chars, samp_key
         |FROM ${fx("expected_weighted_sample")} ORDER BY doc_id""".stripMargin,
    "q_docs_hll_distinct" ->
      s"""WITH tk AS (
         |  SELECT source, unnest(string_split(lower(trim(text)), ' ')) AS token
         |  FROM documents),
         |t2 AS (SELECT source, token FROM tk WHERE token <> ''),
         |ex AS (SELECT source, CAST(count(DISTINCT token) AS BIGINT) AS exact_distinct
         |       FROM t2 GROUP BY source)
         |SELECT e.source, h.est_distinct, e.exact_distinct
         |FROM ex e JOIN ${fx("expected_hll")} h USING (source)
         |ORDER BY e.source""".stripMargin,
    "q_docs_cms_counts" ->
      s"""WITH tk AS (
         |  SELECT source, unnest(string_split(lower(trim(text)), ' ')) AS token
         |  FROM documents),
         |t2 AS (SELECT source, token FROM tk WHERE token <> ''),
         |top5 AS (SELECT token FROM (
         |  SELECT token, count(*) AS gn FROM t2 GROUP BY token
         |  ORDER BY gn DESC, token ASC LIMIT 5)),
         |ex AS (SELECT source, token, CAST(count(*) AS BIGINT) AS exact_n
         |       FROM t2 JOIN top5 USING (token) GROUP BY source, token),
         |srcs AS (SELECT DISTINCT source FROM t2)
         |SELECT s.source, t.token, c.est_n,
         |  CAST(coalesce(e.exact_n, 0) AS BIGINT) AS exact_n
         |FROM srcs s CROSS JOIN top5 t
         |JOIN ${fx("expected_cms")} c ON c.source = s.source AND c.token = t.token
         |LEFT JOIN ex e ON e.source = s.source AND e.token = t.token
         |ORDER BY s.source, t.token""".stripMargin,
    "q_docs_length_sketch" ->
      s"""SELECT d.lang, d.est_p25, d.est_p50, d.est_p75, d.est_p95,
         |  round(quantile_cont(doc.n_chars, 0.5), 4) AS exact_p50
         |FROM documents doc
         |JOIN ${fx("expected_ddsketch")} d ON d.lang = doc.lang
         |GROUP BY d.lang, d.est_p25, d.est_p50, d.est_p75, d.est_p95
         |ORDER BY d.lang""".stripMargin,
    "q_docs_length_quantiles" ->
      """SELECT lang,
        |  round(quantile_cont(n_chars, 0.25), 4) AS p25,
        |  round(quantile_cont(n_chars, 0.5), 4) AS p50,
        |  round(quantile_cont(n_chars, 0.75), 4) AS p75,
        |  round(quantile_cont(n_chars, 0.95), 4) AS p95
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "q_docs_table_prune" ->
      """SELECT source, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars
        |FROM documents
        |WHERE doc_id >= (SELECT max(doc_id) * 3 // 5 FROM documents)
        |GROUP BY source ORDER BY source""".stripMargin,
    "q_docs_rollup" ->
      """SELECT source, lang, count(*) AS n,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars
        |FROM documents GROUP BY ROLLUP (source, lang)
        |ORDER BY source NULLS FIRST, lang NULLS FIRST""".stripMargin,
    "q_docs_curation_full" ->
      s"""WITH norm AS (
         |  SELECT doc_id, text, lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS nt
         |  FROM documents),
         |surv AS (SELECT doc_id FROM (
         |  SELECT doc_id, row_number() OVER (PARTITION BY nt ORDER BY doc_id) AS rn FROM norm)
         |  WHERE rn = 1),
         |tokl AS (
         |  SELECT doc_id,
         |    list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x <> '') AS l
         |  FROM documents),
         |sh3x AS (
         |  SELECT doc_id,
         |    CASE WHEN len(l) = 0 THEN CAST([] AS VARCHAR[])
         |         WHEN len(l) < 3 THEN [array_to_string(l, ' ')]
         |         ELSE list_transform(range(1, len(l) - 1),
         |                             i -> array_to_string(l[i:i+2], ' ')) END AS shl
         |  FROM tokl),
         |sh3 AS (SELECT doc_id, unnest(shl) AS shingle FROM sh3x),
         |bsh AS (SELECT DISTINCT shingle FROM sh3 WHERE doc_id % 193 = 0),
         |cont AS (SELECT DISTINCT s.doc_id FROM sh3 s JOIN bsh USING (shingle)),
         |q AS (SELECT doc_id FROM documents
         |  WHERE round(least(len(string_split(trim(text), ' ')) / 100.0, 1.0) * 0.5
         |    + (1.0 - least(round((length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g'))) * 1.0
         |          / greatest(length(text), 1), 6) * 10, 1.0)) * 0.25
         |    + least(round(len(list_filter(string_split(trim(text), ' '),
         |          t -> list_contains(['the','a','of','and','to','in','is','it','that','for'], t))) * 1.0
         |          / greatest(len(string_split(trim(text), ' ')), 1), 6) * 5, 1.0) * 0.25, 4) >= 0.5),
         |lang AS (SELECT doc_id FROM ${fx("expected_langid")} WHERE lang_pred IN ('en', 'zh')),
         |gr2 AS (
         |  SELECT doc_id,
         |    CASE WHEN len(l) = 0 THEN CAST([] AS VARCHAR[])
         |         WHEN len(l) < 2 THEN [array_to_string(l, ' ')]
         |         ELSE list_transform(range(1, len(l)),
         |                             i -> array_to_string(l[i:i+1], ' ')) END AS gl
         |  FROM tokl),
         |g2 AS (SELECT doc_id, unnest(gl) AS gram FROM gr2),
         |pg AS (SELECT doc_id, gram, count(*) AS n FROM g2 GROUP BY 1, 2),
         |pd AS (SELECT doc_id, sum(n) AS n_grams, max(n) AS top_gram_n FROM pg GROUP BY 1),
         |rep AS (SELECT d.doc_id FROM documents d LEFT JOIN pd ON d.doc_id = pd.doc_id
         |        WHERE round(coalesce(pd.top_gram_n / pd.n_grams, 0.0), 6) <= 0.15),
         |gate AS (SELECT doc_id FROM ${fx("expected_curation_gate")})
         |SELECT d.doc_id,
         |  regexp_replace(regexp_replace(regexp_replace(regexp_replace(coalesce(d.text, ''),
         |    'https?://[^\\s]+', '<URL>', 'g'),
         |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
         |    '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b', '<IP>', 'g'),
         |    '\\b\\d{3}[-.]?\\d{3,4}[-.]?\\d{4}\\b', '<PHONE>', 'g') AS text_redacted
         |FROM documents d
         |JOIN surv USING (doc_id) JOIN q USING (doc_id)
         |JOIN lang USING (doc_id) JOIN rep USING (doc_id) JOIN gate USING (doc_id)
         |LEFT JOIN cont c ON d.doc_id = c.doc_id
         |WHERE c.doc_id IS NULL
         |ORDER BY d.doc_id""".stripMargin,
    "q_docs_redact_pii" ->
      """SELECT doc_id,
        |  regexp_replace(regexp_replace(regexp_replace(regexp_replace(coalesce(text, ''),
        |    'https?://[^\s]+', '<URL>', 'g'),
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
        |    '\b\d{3}[-.]?\d{3,4}[-.]?\d{4}\b', '<PHONE>', 'g') AS text_redacted
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_docs_repetition" ->
      """WITH base AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '') AS l
        |  FROM documents),
        |gr AS (
        |  SELECT doc_id,
        |    CASE WHEN len(l) = 0 THEN CAST([] AS VARCHAR[])
        |         WHEN len(l) < 2 THEN [array_to_string(l, ' ')]
        |         ELSE list_transform(range(1, len(l)),
        |                             i -> array_to_string(l[i:i+1], ' ')) END AS gl
        |  FROM base),
        |g AS (SELECT doc_id, unnest(gl) AS gram FROM gr),
        |pg AS (SELECT doc_id, gram, count(*) AS n FROM g GROUP BY 1, 2),
        |pd AS (SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_grams,
        |         CAST(max(n) AS BIGINT) AS top_gram_n, count(*) AS distinct_grams
        |       FROM pg GROUP BY 1)
        |SELECT d.doc_id,
        |  coalesce(pd.n_grams, 0) AS n_grams,
        |  coalesce(pd.top_gram_n, 0) AS top_gram_n,
        |  round(coalesce(pd.top_gram_n / pd.n_grams, 0.0), 6) AS top_gram_frac,
        |  round(coalesce((pd.n_grams - pd.distinct_grams) / pd.n_grams, 0.0), 6) AS dup_gram_frac
        |FROM documents d LEFT JOIN pd ON d.doc_id = pd.doc_id
        |ORDER BY d.doc_id""".stripMargin,
    "q_docs_decontaminate" ->
      """WITH base AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '') AS l
        |  FROM documents),
        |shx AS (
        |  SELECT doc_id,
        |    CASE WHEN len(l) = 0 THEN CAST([] AS VARCHAR[])
        |         WHEN len(l) < 3 THEN [array_to_string(l, ' ')]
        |         ELSE list_transform(range(1, len(l) - 1),
        |                             i -> array_to_string(l[i:i+2], ' ')) END AS shl
        |  FROM base),
        |sh AS (SELECT doc_id, unnest(shl) AS shingle FROM shx),
        |bsh AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 193 = 0),
        |contaminated AS (SELECT DISTINCT s.doc_id FROM sh s JOIN bsh USING (shingle))
        |SELECT d.doc_id FROM documents d
        |LEFT JOIN contaminated c ON d.doc_id = c.doc_id
        |WHERE c.doc_id IS NULL
        |ORDER BY d.doc_id""".stripMargin,
    // chunking replica: same whitespace regex, same 1-based 64-wide
    // slices at stride 48 (DuckDB list slices clamp like Spark's slice)
    "q_docs_chunk" -> chunkOracleSql,
    // identical semantics through the graft_chunk UDTF → the SAME replica
    // value (one binding — the two paths cannot silently diverge)
    "q_docs_chunk_sql" -> chunkOracleSql,
    "q_docs_pack" ->
      """WITH RECURSIVE docs AS (
        |  SELECT doc_id, n_chars AS n_tokens, doc_id // 64 AS pack_block,
        |         row_number() OVER (PARTITION BY doc_id // 64 ORDER BY doc_id) AS rn
        |  FROM documents),
        |fill AS (
        |  SELECT pack_block, rn, doc_id, n_tokens, n_tokens AS acc,
        |         CAST(0 AS BIGINT) AS pack_seq
        |  FROM docs WHERE rn = 1
        |  UNION ALL
        |  SELECT d.pack_block, d.rn, d.doc_id, d.n_tokens,
        |    CASE WHEN f.acc + d.n_tokens > 4096 THEN d.n_tokens
        |         ELSE f.acc + d.n_tokens END,
        |    CASE WHEN f.acc + d.n_tokens > 4096 THEN f.pack_seq + 1
        |         ELSE f.pack_seq END
        |  FROM fill f JOIN docs d ON d.pack_block = f.pack_block AND d.rn = f.rn + 1),
        |tot AS (SELECT pack_block, pack_seq, CAST(sum(n_tokens) AS BIGINT) AS pack_tokens
        |        FROM fill GROUP BY 1, 2)
        |SELECT f.doc_id, f.n_tokens, f.pack_block, f.pack_seq, t.pack_tokens
        |FROM fill f JOIN tot t USING (pack_block, pack_seq)
        |ORDER BY f.doc_id""".stripMargin,
    "q_events_pivot" ->
      """SELECT user_id,
        |  count(*) FILTER (WHERE event_type = 'click') AS click,
        |  count(*) FILTER (WHERE event_type = 'error') AS error,
        |  count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
        |  count(*) FILTER (WHERE event_type = 'signup') AS signup,
        |  count(*) FILTER (WHERE event_type = 'view') AS view
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q_docs_curation" ->
      s"""WITH norm AS (
         |  SELECT doc_id, text, lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS nt
         |  FROM documents),
         |surv AS (SELECT doc_id FROM (
         |  SELECT doc_id, row_number() OVER (PARTITION BY nt ORDER BY doc_id) AS rn FROM norm)
         |  WHERE rn = 1),
         |q AS (SELECT doc_id FROM documents
         |  WHERE round(least(len(string_split(trim(text), ' ')) / 100.0, 1.0) * 0.5
         |    + (1.0 - least(round((length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g'))) * 1.0
         |          / greatest(length(text), 1), 6) * 10, 1.0)) * 0.25
         |    + least(round(len(list_filter(string_split(trim(text), ' '),
         |          t -> list_contains(['the','a','of','and','to','in','is','it','that','for'], t))) * 1.0
         |          / greatest(len(string_split(trim(text), ' ')), 1), 6) * 5, 1.0) * 0.25, 4) >= 0.5),
         |lang AS (SELECT doc_id FROM ${fx("expected_langid")} WHERE lang_pred IN ('en', 'zh')),
         |gate AS (SELECT doc_id FROM ${fx("expected_curation_gate")})
         |SELECT d.doc_id FROM documents d
         |JOIN surv USING (doc_id) JOIN q USING (doc_id)
         |JOIN lang USING (doc_id) JOIN gate USING (doc_id)
         |ORDER BY doc_id""".stripMargin,
    "kg_khop" ->
      s"""WITH RECURSIVE $kgRuleCtes,
         |t AS (SELECT DISTINCT a.concept_id AS subj, b.concept_id AS obj
         |      FROM m a JOIN m b ON a.doc_id = b.doc_id
         |      JOIN r ON a.entity_type = r.st AND b.entity_type = r.ot),
         |e AS (SELECT subj AS src, obj AS dst FROM t UNION SELECT obj, subj FROM t),
         |reach(node, hops) AS (
         |  SELECT concept_id, 0 FROM lex WHERE surface = '高血压病'
         |  UNION ALL
         |  SELECT e.dst, reach.hops + 1 FROM reach JOIN e ON e.src = reach.node
         |  WHERE reach.hops < 2)
         |SELECT node, MIN(hops) AS hops FROM reach GROUP BY node ORDER BY node""".stripMargin,
    "dedup_simhash" ->
      s"""SELECT doc_id, simhash FROM ${fx("expected_simhash")} ORDER BY doc_id""",
    "dedup_simhash_pairs" ->
      s"""SELECT id_a, id_b, hamming FROM ${fx("expected_simhash_pairs")} ORDER BY id_a, id_b""",
    "docs_langid" ->
      s"""SELECT doc_id, lang_pred FROM ${fx("expected_langid")} ORDER BY doc_id""",
    "docs_fingerprint" ->
      s"""SELECT doc_id, fingerprint FROM ${fx("expected_fingerprint")} ORDER BY doc_id""",
    "dedup_embedding_neardup" ->
      s"""SELECT id_a, id_b, cosine FROM ${fx("expected_neardup")} ORDER BY id_a, id_b""",
    "ann_lsh_topk" ->
      s"""SELECT query_id, neighbor_id, cosine, rank FROM ${fx("expected_ann_lsh")}
         |ORDER BY query_id, rank""".stripMargin,
    "ann_ivf_topk" ->
      s"""SELECT query_id, neighbor_id, cosine, rank FROM ${fx("expected_ann_ivf")}
         |ORDER BY query_id, rank""".stripMargin,
    "multimodal_decode" ->
      s"""SELECT doc_id, span_idx, kind, media_ref, width, height, sample_rate, format, f0
         |FROM ${fx("expected_multimodal")} ORDER BY doc_id, span_idx""".stripMargin,
    "dedup_ngram_jaccard_pairs" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '') AS ts
        |  FROM documents),
        |sh0 AS (
        |  SELECT doc_id,
        |    CASE WHEN len(ts) = 0 THEN CAST([] AS VARCHAR[])
        |         WHEN len(ts) < 3 THEN [array_to_string(ts, ' ')]
        |         ELSE list_transform(generate_series(1, len(ts) - 2), i -> array_to_string(list_slice(ts, i, i + 2), ' '))
        |    END AS shs
        |  FROM toks),
        |sh AS (SELECT DISTINCT doc_id, unnest(shs) AS shingle FROM sh0),
        |sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
        |kept AS (SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= 1000),
        |idx AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN kept USING (shingle)),
        |inter AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
        |  FROM idx a JOIN idx b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |j AS (
        |  SELECT id_a, id_b, round(shared / (sa.sz + sb.sz - shared), 6) AS jaccard
        |  FROM inter JOIN sz sa ON sa.doc_id = inter.id_a JOIN sz sb ON sb.doc_id = inter.id_b)
        |SELECT id_a, id_b, jaccard FROM j WHERE jaccard >= 0.3 ORDER BY id_a, id_b""".stripMargin
  )
}
