package graft

import graft.canon.Canon
import graft.core._
import graft.data.{DocsGen, Lexicon}
import graft.detect.Detector
import graft.link.Linker
import graft.ops.{Dedup, Similarity}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-2 hardening: the correctness/scale gaps called out by the round-1
  * review — LSH recall vs brute force, bounded top-k instead of window
  * rank, high-diameter CC convergence with truncated lineage, empty-surface
  * mention survival, partition-pruned resumable chunks, and exact kernel /
  * decode confidence agreement.
  */
class Round2Spec extends AnyFunSuite {
  lazy val spark = SparkTest.spark
  private val sf = "/root/testdata/sf0.001"

  test("large-lexicon resolution (broadcast surfaces, distributed lexicon) equals the broadcast-lexicon path") {
    import spark.implicits._
    val lex = Lexicon.fromSurfaces(DocsGen.vocabEntries.toDS())
    val fromVocab = DocsGen.vocabEntries.take(40).map { case (s, t) => (s, t) }
    val surfaces = (fromVocab ++ Seq(
      ("", "Diseases"), // empty surface → sentinel key → S: fallback
      ("完全未知表面", "Diseases"), // unknown surface, plausible blocking key
      ("胃", "Anatomy")
    )).toDS()
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("link_score", round(col("link_score"), 6))
        .collect().map(r => (r.getString(0), r.getString(1), r.getString(2), r.getDouble(3))).toSet
    val small = norm(Linker.surfaceResolution(surfaces, lex))
    val large = norm(Linker.surfaceResolutionLargeLexicon(surfaces, lex))
    assert(large == small && large.nonEmpty)
    // the build side is REVERSED: the broadcast feeds the surface set, the
    // lexicon streams (BuildRight — surfaces are the join's right operand)
    val p = Linker.surfaceResolutionLargeLexicon(surfaces, lex)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin") && p.contains("BuildRight"),
      "surface set is not the broadcast build side")
  }

  test("lshTopK recall@5 >= 0.8 vs bruteForceTopK on the sf embeddings") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val q = e.filter(col("vec_id") < 20)
    val brute = Similarity.bruteForceTopK(e, q, "vec_id", "embedding", 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.lshTopK(e, q, "vec_id", "embedding", dim = 64, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute & lsh).size.toDouble / brute.size
    assert(recall >= 0.8, s"LSH recall@5 = $recall (${(brute & lsh).size}/${brute.size})")
  }

  test("ivfTopK recall@5 >= 0.8 vs bruteForceTopK on the sf embeddings") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val q = e.filter(col("vec_id") < 20)
    val brute = Similarity.bruteForceTopK(e, q, "vec_id", "embedding", 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.ivfTopK(e, q, "vec_id", "embedding", 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute & ivf).size.toDouble / brute.size
    assert(recall >= 0.8, s"IVF recall@5 = $recall")
  }

  test("embeddingNearDupPairs recovers >= 0.9 of planted near-duplicates") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val perturb = udf((id: Long, v: Seq[Float]) => v.zipWithIndex.map { case (x, i) =>
      x + (Hashing.uniformDouble(Hashing.hash2(id, i)) * 0.02 - 0.01).toFloat
    })
    val planted = e.filter(col("vec_id") < 50)
      .select((col("vec_id") + 100000).as("vec_id"), perturb(col("vec_id"), col("embedding")).as("embedding"))
    val pairs = Dedup.embeddingNearDupPairs(
      e.select("vec_id", "embedding").union(planted), "embedding", "vec_id", dim = 64, threshold = 0.98)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recovered = (0L until 50L).count(id => pairs.contains((id, id + 100000)))
    assert(recovered >= 45, s"recovered only $recovered/50 planted near-dups")
  }

  test("simhashPairs finds planted exact copies via pigeonhole banding") {
    val d = spark.read.parquet(s"$sf/documents.parquet").select("doc_id", "text")
    val planted = d.filter(col("doc_id") < 25)
      .select((col("doc_id") + 100000).as("doc_id"), col("text"))
    val pairs = Dedup.simhashPairs(d.union(planted), "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val plantedFound = (0L until 25L).count(id => pairs.exists(p => p._1 == id && p._2 == id + 100000))
    assert(plantedFound == 25, s"found $plantedFound/25 planted copies")
    assert(pairs.filter(p => p._2 - p._1 == 100000 && p._1 < 25).forall(_._3 == 0))
  }

  test("hot-bucket cap boundary: exactly-cap buckets pair, cap+1 buckets drop (overflow flag)") {
    import spark.implicits._
    // 5 identical docs share every band bucket; 2 other docs are unrelated.
    // cap = 5: the identical group is AT the cap → all C(5,2) = 10 pairs.
    // cap = 4: the group overflows (5 > 4) → its buckets drop → 0 pairs.
    // This pins the bounded-collect flag semantics to the old
    // count-then-join guard's decisions at the exact boundary.
    val docs = ((0 until 5).map(i => (i.toLong, "the quick brown fox jumps over the lazy dog repeatedly")) ++
      Seq((10L, "completely different text one two three four five six seven"),
        (11L, "another unrelated document with its own words entirely here")))
      .toDF("doc_id", "text")
    val atCap = Dedup.minhashPairs(docs, "text", "doc_id", threshold = 0.3, maxBucket = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(atCap == (for (a <- 0 until 5; b <- a + 1 until 5) yield (a.toLong, b.toLong)).toSet)
    val overCap = Dedup.minhashPairs(docs, "text", "doc_id", threshold = 0.3, maxBucket = 4)
      .collect()
    assert(overCap.isEmpty, s"cap+1 bucket must drop, got ${overCap.length} pairs")
  }

  test("connected components converge on a chain graph with diameter > 10") {
    import spark.implicits._
    // 16-node chain: min label must propagate 15 hops; also checks the
    // localCheckpoint path keeps the loop healthy past a few iterations
    val chain = (0 until 15).map(i => (f"n$i%02d", f"n${i + 1}%02d")).toDF("src", "dst")
    // driverMaxEdges = 0 forces the ITERATIVE path — this test guards the
    // localCheckpoint loop, which the driver fast path would bypass
    val cc = Canon.connectedComponents(chain, driverMaxEdges = 0L).collect()
    assert(cc.length == 16)
    assert(cc.forall(_.getString(1) == "n00"), s"labels: ${cc.mkString(",")}")
  }

  test("CC contraction loop converges on a 200-node chain within 20 rounds (O(log n), not O(diameter))") {
    import spark.implicits._
    // plain min-label propagation would need ~200 iterations here; the
    // large-star/small-star alternation must finish in O(log n) rounds
    val chain = (0 until 199).map(i => (f"n$i%03d", f"n${i + 1}%03d")).toDF("src", "dst")
    val cc = Canon.connectedComponents(chain, driverMaxEdges = 0L).collect()
    assert(cc.length == 200)
    assert(cc.forall(_.getString(1) == "n000"))
  }

  test("CC contraction handles a 20k-leaf hub star through the salted min (forced loop)") {
    import spark.implicits._
    // one hub node with 20k neighbors: the large-star min over the hub's
    // full fan-in must flow through the (node, salt) pre-aggregation
    val star = (1 to 20000).map(i => ("hub", f"leaf$i%05d")).toDF("src", "dst")
    val cc = Canon.connectedComponents(star, driverMaxEdges = 0L).collect()
    assert(cc.length == 20001)
    assert(cc.forall(_.getString(1) == "hub")) // "hub" < "leaf..." lexicographically
  }

  test("pipeline handles a hub entity present in EVERY document") {
    import spark.implicits._
    val objects = Seq( // one per non-disease type, rotated across docs
      ("食管", "Anatomical", "located_in"),
      ("阿司匹林", "Drug", "treated_by"),
      ("胸片", "Image", "diagnosed_by"),
      ("血常规", "Laboratory", "has_finding"),
      ("切除术", "Operation", "treated_with"))
    val docs = (0 until 1000).map { i =>
      val (surf, _, _) = objects(i % objects.length)
      graft.core.Doc(f"hubdoc-$i%04d",
        Seq(graft.core.Span("text", s"的高血压病的$surf", "", 0)))
    }.toDS()
    val lex = Lexicon.fromSurfaces(graft.data.DocsGen.vocabEntries.toDS()).cache()
    val triples = graft.pipeline.KgPipeline.run(docs, lex).collect()
    assert(triples.length == 1000) // exactly one triple per doc
    assert(triples.map(_.subj).distinct.length == 1) // the hub disease
    val byPred = triples.groupBy(_.pred).view.mapValues(_.length).toMap
    assert(byPred == objects.map(_._3 -> 200).toMap)
    lex.unpersist()
  }

  test("CC driver fast path and contraction loop agree on random graphs across seeds and densities") {
    import spark.implicits._
    // sparse (forest-ish, long chains), medium, and dense (few giant
    // components) regimes — each compared against the union-find oracle
    for ((seed, nodes, nEdges) <- Seq((77, 120, 150), (101, 200, 80), (202, 60, 400), (303, 500, 350))) {
      val edges = (0 until nEdges).map { i =>
        val h = graft.core.Hashing.hash2(seed, i)
        val a = graft.core.Hashing.pick(graft.core.Hashing.mix64(h + 1), nodes)
        val b = graft.core.Hashing.pick(graft.core.Hashing.mix64(h + 2), nodes)
        (f"v$a%03d", f"v$b%03d")
      }.toDF("src", "dst")
      val fast = Canon.connectedComponents(edges).collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      val loop = Canon.connectedComponents(edges, driverMaxEdges = 0L).collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      assert(fast == loop, s"seed=$seed nodes=$nodes edges=$nEdges")
    }
  }

  test("empty-surface mentions survive linking with the S: fallback concept") {
    import spark.implicits._
    val lex = Lexicon.fromSurfaces(DocsGen.vocabEntries.toDS())
    val mentions = Seq(
      Mention("d", 0, "Diseases", "胃癌", 0, 2, 1.0),
      Mention("d", 0, "Diseases", "", 5, 6, 1.0) // cleaned-to-empty surface
    ).toDS()
    val linked = Linker.link(mentions, lex).collect()
    assert(linked.length == 2, "empty-surface mention was dropped by the linker")
    val empty = linked.find(_.text == "").get
    assert(empty.concept_id == "S:")
    assert(linked.find(_.text == "胃癌").get.concept_id.startsWith("C"))
  }

  test("resumable staged chunk read is partition-pruned") {
    import spark.implicits._
    val g = DocsGen.gen(spark, 100, seed = 21)
    val staging = java.nio.file.Files.createTempDirectory("staging").toString + "/docs"
    graft.checkpoint.Resumable.stageByChunk(DocsGen.docs(g), 4, staging)
    val one = graft.checkpoint.Resumable.stagedChunk(spark, staging, 2)
    val p = one.toDF().queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters") && p.contains("chunk"),
      s"chunk read does not prune partitions:\n$p")
    // the four chunks partition the table exactly
    val total = (0 until 4).map(c =>
      graft.checkpoint.Resumable.stagedChunk(spark, staging, c).count()).sum
    assert(total == 100)
  }

  test("lexicon ids are stable across input order and partitioning") {
    import spark.implicits._
    def key(e: LexiconEntry) = (e.concept_id, e.surface, e.entity_type, e.embedding.toSeq)
    val a = Lexicon.fromSurfaces(DocsGen.vocabEntries.toDS()).collect().sortBy(_.concept_id).map(key)
    val b = Lexicon.fromSurfaces(DocsGen.vocabEntries.reverse.toDS().repartition(7))
      .collect().sortBy(_.concept_id).map(key)
    assert(a.toSeq == b.toSeq)
    // ids follow the (entity_type, surface) total order, 1-based C%07d
    val expected = DocsGen.vocabEntries.sortBy(e => (e._2, e._1))
    assert(a.map(t => (t._2, t._3)).toSeq == expected)
    assert(a.map(_._1).toSeq == (1 to expected.length).map(i => f"C$i%07d"))
  }

  test("lexicon ids order a null surface and a null type first on the driver and distributed paths") {
    import spark.implicits._
    def key(e: LexiconEntry) = (e.concept_id, e.surface, e.entity_type, e.embedding.toSeq)
    val rows = DocsGen.vocabEntries ++ Seq((null: String) -> "Drug", "阿司匹林X" -> (null: String))
    val local = Lexicon.fromSurfaces(rows.toDS())
    assert(graft.ops.BoundedCollect.isLocal(rows.toDS()))
    val distributed = Lexicon.fromSurfaces(rows.toDS().repartition(2))
    val a = local.collect().sortBy(_.concept_id).map(key).toSeq
    assert(a == distributed.collect().sortBy(_.concept_id).map(key).toSeq)
    assert(a.head._2 == "阿司匹林X" && a.head._3 == null)
    assert(a.exists(e => e._2 == null && e._3 == "Drug"))
  }

  test("int8-quantized lexicon is 4x smaller and links identically") {
    import spark.implicits._
    val lex = Lexicon.fromSurfaces(DocsGen.vocabEntries.toDS())
    val q = Lexicon.quantize(lex)
    // 4x: one byte per component instead of a 4-byte float
    val qRows = q.collect()
    assert(qRows.forall(_.qembedding.length == Lexicon.EmbeddingDim))
    // dequantization error bounded by scale/2 per component
    val deq = Lexicon.dequantize(q).collect().map(e => e.concept_id -> e.embedding).toMap
    lex.collect().foreach { e =>
      val maxAbs = e.embedding.map(math.abs).max
      val bound = maxAbs / 127f / 2f + 1e-6f
      e.embedding.zip(deq(e.concept_id)).foreach { case (x, y) =>
        assert(math.abs(x - y) <= bound, s"${e.concept_id}: $x vs $y (bound $bound)")
      }
    }
    // link output through the quantized lexicon equals the exact path
    // (the exact-surface boost dominates the perturbed dot product)
    val g = DocsGen.gen(spark, 50, seed = 13)
    val mentions = DocsGen.goldMentions(g)
    def links(l: org.apache.spark.sql.Dataset[LexiconEntry]) =
      Linker.link(mentions, l).collect()
        .map(m => (m.doc_id, m.span_idx, m.start, m.concept_id)).toSet
    assert(links(Lexicon.dequantize(q)) == links(lex))
  }

  test("full pipeline emits identical triples through the int8-quantized lexicon") {
    import spark.implicits._
    val g = graft.data.DocsGen.gen(spark, 150, seed = 29).cache()
    val docs = graft.data.DocsGen.docs(g)
    val lex = Lexicon.fromSurfaces(graft.data.DocsGen.vocabEntries.toDS()).cache()
    def triples(l: org.apache.spark.sql.Dataset[graft.core.LexiconEntry]) =
      graft.pipeline.KgPipeline.run(docs, l)
        .collect().map(t => (t.subj, t.pred, t.obj, t.doc_id)).toSet
    val exact = triples(lex)
    val quantized = triples(Lexicon.dequantize(Lexicon.quantize(lex)))
    assert(quantized == exact && exact.nonEmpty)
    g.unpersist(); lex.unpersist()
  }

  test("pruned lexicon links surviving surfaces identically") {
    import spark.implicits._
    val lex = Lexicon.fromSurfaces(DocsGen.vocabEntries.toDS())
    val g = DocsGen.gen(spark, 100, seed = 17)
    val mentions = DocsGen.goldMentions(g)
    val counts = mentions.groupBy(col("text").as("surface")).agg(count(lit(1)).as("n"))
    val minCount = 2L
    val pruned = Lexicon.prune(lex, counts, minCount)
    val kept = pruned.collect().map(_.surface).toSet
    // every kept surface's mentions link to the same concept as before
    val before = Linker.link(mentions, lex).collect()
      .filter(m => kept(m.text)).map(m => (m.doc_id, m.span_idx, m.start, m.concept_id)).toSet
    val after = Linker.link(mentions, pruned).collect()
      .filter(m => kept(m.text)).map(m => (m.doc_id, m.span_idx, m.start, m.concept_id)).toSet
    assert(after == before)
    // and the pruned broadcast is strictly smaller when the threshold bites
    assert(kept.size <= DocsGen.vocabEntries.size)
  }

  test("detectOne and the batched Kernel agree exactly, confidence included") {
    val gaz = Detector.Gazetteer(DocsGen.vocabEntries)
    val kernel = new Detector.Kernel(gaz, 128)
    (0 until 50).foreach { i =>
      val gd = DocsGen.buildDoc(i.toLong, seed = 77L)
      gd.sentences.foreach { ts =>
        val s = Sentence(ts.doc_id, ts.span_idx, ts.chars.mkString)
        val a = Detector.detectOne(s, gaz, 128)
        val b = kernel.detect(s)
        assert(a == b, s"kernel mismatch on ${s.text}: $a vs $b")
      }
    }
  }

  test("decodeBio confidence range covers exactly the entity's own tokens") {
    val toks = IndexedSeq("a", "b", "c", "d")
    var seen = Seq.empty[(Int, Int)]
    val conf = (s: Int, e: Int) => { seen :+= ((s, e)); 1.0 }
    // entity flushed by a following O: range must be [0,2), not [0,3)
    Bio.decodeBio(toks, IndexedSeq("B-Drug", "I-Drug", "O", "O"), conf)
    assert(seen == Seq((0, 2)))
    seen = Seq.empty
    // mismatched I- inside an open entity: not part of the range
    Bio.decodeBio(toks, IndexedSeq("B-Drug", "I-Image", "I-Drug", "O"), conf)
    assert(seen == Seq((0, 3))) // token 1 kept in offsets but range ends at last matching I-
    seen = Seq.empty
    Bio.decodeBio(toks, IndexedSeq("B-Drug", "I-Image", "O", "O"), conf)
    assert(seen == Seq((0, 1)))
  }

  test("gazetteer length cap applies identically to both detector kernels") {
    val long = "肝" * 40 // a 40-char surface: beyond the 32-char gazetteer cap
    val gaz = Detector.Gazetteer(Seq(long -> "Anatomical", "胃癌" -> "Diseases"))
    assert(gaz.maxLen == 32)
    val s = Sentence("d", 0, long + "胃癌")
    val viaMap = Detector.detectOne(s, gaz, 128)
    val viaTrie = new Detector.Kernel(gaz, 128).detect(s)
    assert(viaMap == viaTrie, s"kernels diverge on long surfaces: $viaMap vs $viaTrie")
    assert(viaMap.map(m => (m.entity_type, m.start, m.end)) == Seq(("Diseases", 40, 42)))
  }
}
