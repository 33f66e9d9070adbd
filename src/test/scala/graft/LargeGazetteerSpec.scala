package graft

import graft.data.DocsGen
import graft.detect.Detector
import graft.pipeline.KgPipeline
import org.scalatest.funsuite.AnyFunSuite

/** The large-gazetteer detection story (r4 VERDICT "What's wrong" #2):
  * executor-JVM trie memoization for broadcast gazetteers, a
  * partitioned-gazetteer variant for lexicons beyond broadcast budget,
  * and a ≥1M-surface run proving both correctness (output identical to
  * the baseline vocabulary) and the once-per-JVM build discipline.
  */
class LargeGazetteerSpec extends AnyFunSuite {
  lazy val spark = SparkTest.spark

  private def mentionsOf(ds: org.apache.spark.sql.Dataset[graft.core.Mention]) =
    ds.collect().map(m => (m.doc_id, m.span_idx, m.entity_type, m.text, m.start, m.end,
      math.round(m.confidence * 1e6))).sorted.toSeq

  private def docs(n: Long) = {
    import spark.implicits._
    DocsGen.docs(DocsGen.gen(spark, n, seed = 42L))
  }

  test("broadcast gazetteer trie is built once per JVM, not once per task") {
    val d = docs(120)
    val gazBc = Detector.broadcastGazetteer(spark, DocsGen.vocabEntries)
    val sents = KgPipeline.sentences(d).repartition(16)
    val before = Detector.GazTrie.builds.get()
    assert(Detector.detect(sents, gazBc).count() > 0)
    val afterFirst = Detector.GazTrie.builds.get()
    // local[*] = ONE executor JVM: 16 tasks, at most one build (the memo
    // may already hold this broadcast from an earlier run in the suite JVM)
    assert(afterFirst - before <= 1,
      s"trie rebuilt per task: ${afterFirst - before} builds for 16 tasks")
    // a second job over the same broadcast pays zero builds
    assert(Detector.detect(sents, gazBc).count() > 0)
    assert(Detector.GazTrie.builds.get() == afterFirst, "trie rebuilt on re-run")
  }

  test("partitioned-gazetteer detection is output-identical to the broadcast path") {
    import spark.implicits._
    val d = docs(150)
    val sents = KgPipeline.sentences(d).repartition(8)
    val gazBc = Detector.broadcastGazetteer(spark, DocsGen.vocabEntries)
    val broadcastPath = mentionsOf(Detector.detect(sents, gazBc))
    val gazDs = DocsGen.vocabEntries.toDS().repartition(5)
    val partitionedPath = mentionsOf(Detector.detectPartitionedGazetteer(sents, gazDs))
    assert(broadcastPath.nonEmpty)
    assert(partitionedPath == broadcastPath)
  }

  test("a null gazetteer surface fails loudly on both detect paths") {
    import spark.implicits._
    val sents = KgPipeline.sentences(docs(20))
    val gaz = DocsGen.vocabEntries :+ ((null: String) -> "Drug")
    def namesEntry(e: Throwable): Boolean =
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null).exists {
        case iae: IllegalArgumentException => iae.getMessage.contains("(null,Drug)")
        case _ => false
      }
    val onBroadcast = intercept[Exception](
      Detector.detect(sents, Detector.broadcastGazetteer(spark, gaz)).collect())
    assert(namesEntry(onBroadcast), s"broadcast path: $onBroadcast")
    val onPartitioned = intercept[Exception](
      Detector.detectPartitionedGazetteer(sents, gaz.toDS()).collect())
    assert(namesEntry(onPartitioned), s"partitioned path: $onPartitioned")
  }

  test("partitioned path with the feature model also matches the broadcast path") {
    import spark.implicits._
    val g = DocsGen.gen(spark, 100, seed = 42L)
    val d = DocsGen.docs(g)
    val sents = KgPipeline.sentences(d).repartition(8)
    val model = graft.detect.Features.fit(DocsGen.goldSentences(g))
    val featsBc = spark.sparkContext.broadcast(model)
    val pruned = DocsGen.vocabEntries.filterNot { case (s, _) => SparkEntry.ngramHeldOut(s) }
    val gazBc = Detector.broadcastGazetteer(spark, pruned)
    val a = mentionsOf(Detector.detect(sents, gazBc, featsBc = featsBc))
    val b = mentionsOf(Detector.detectPartitionedGazetteer(
      sents, pruned.toDS().repartition(3), featsBc = featsBc))
    assert(a.nonEmpty)
    assert(b == a)
  }

  test("a sentence whose every candidate fails containment keeps its feature-only detections") {
    // r5 review finding: the old pre-group containment FILTER deleted the
    // whole sentence when all its candidates shared a leading bigram but
    // failed containment — silently dropping feature-model-only mentions.
    import spark.implicits._
    val train = Seq(
      ("患者有高血压病史", Seq((3, 7, "Diseases"))),
      ("诊断为糖尿病", Seq((3, 6, "Diseases")))).map { case (text, spans) =>
      val tags = Array.fill(text.length)("O")
      spans.foreach { case (s, e, t) =>
        tags(s) = "B-" + t
        (s + 1 until e).foreach(k => tags(k) = "I-" + t)
      }
      (text.map(_.toString), tags.toSeq)
    }
    val model = graft.detect.Features.fitLocal(train, dim = 1024)
    val featsBc = spark.sparkContext.broadcast(model)
    val sents = Seq(graft.core.Sentence("d1", 0, "患者有糖尿病史")).toDS()
    // the ONLY gazetteer surface shares the sentence's 糖尿 bigram but is
    // NOT contained — its candidate row joins, then fails containment
    val gaz = Seq(("糖尿X", "Diseases")).toDS()
    val got = Detector.detectPartitionedGazetteer(sents, gaz, featsBc = featsBc)
      .collect().map(m => (m.entity_type, m.text, m.start, m.end)).toSeq
    assert(got == Seq(("Diseases", "糖尿病", 3, 6)),
      s"feature-only detection lost on an all-candidates-fail sentence: $got")
  }

  test("1M-surface gazetteer: detection output unchanged, trie built once") {
    // 1M decoy surfaces over a Latin alphabet disjoint from the corpus'
    // char inventory: they can never match, so output must equal the
    // 35-surface baseline — while the trie (≈2.4M nodes) is built ONCE
    // for the whole 16-task stage thanks to the broadcast-id memo.
    val decoys: Seq[(String, String)] = (0 until 1000000).map { i =>
      val h = graft.core.Hashing.mix64(0xDEC0L + i)
      val sb = new StringBuilder
      var v = h
      var k = 0
      while (k < 6) { sb.append(('a' + ((v & 0xFFL) % 26)).toChar); v = v >>> 8; k += 1 }
      (sb.toString + i.toString, "Diseases") // suffix ensures 1M distinct
    }
    val d = docs(100)
    val sents = KgPipeline.sentences(d).repartition(16)
    val baseline = mentionsOf(
      Detector.detect(sents, Detector.broadcastGazetteer(spark, DocsGen.vocabEntries)))

    val bigBc = Detector.broadcastGazetteer(spark, DocsGen.vocabEntries ++ decoys)
    val before = Detector.GazTrie.builds.get()
    val big = mentionsOf(Detector.detect(sents, bigBc))
    assert(Detector.GazTrie.builds.get() - before <= 1,
      "1M-surface trie must be built at most once per JVM")
    assert(big == baseline)
    bigBc.destroy()
  }
}
