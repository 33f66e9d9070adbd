package graft

import graft.data.DocsGen
import graft.detect.Detector
import graft.pipeline.KgPipeline
import org.scalatest.funsuite.AnyFunSuite

/** The large-gazetteer detection story (r4 VERDICT "What's wrong" #2):
  * the broadcast strategy builds its trie once per broadcast, the
  * partitioned strategy gives the same mentions for gazetteers beyond
  * broadcast budget, and a ≥1M-surface gazetteer finishes with output
  * identical to the baseline vocabulary on either strategy.
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

  private def broadcast(entries: Seq[(String, String)]) =
    spark.sparkContext.broadcast(Detector.Gazetteer(entries))

  test("broadcast gazetteer trie is built once per JVM, not once per task") {
    val d = docs(120)
    val gazBc = broadcast(DocsGen.vocabEntries)
    val sents = KgPipeline.sentences(d).repartition(16)
    val before = Detector.GazTrie.builds.get()
    assert(Detector.detectBroadcast(sents, gazBc).count() > 0)
    val afterFirst = Detector.GazTrie.builds.get()
    // local[*] = ONE executor JVM sharing the deserialized broadcast:
    // 16 tasks, one build
    assert(afterFirst - before <= 1,
      s"trie rebuilt per task: ${afterFirst - before} builds for 16 tasks")
    // a second job over the same broadcast pays zero builds
    assert(Detector.detectBroadcast(sents, gazBc).count() > 0)
    assert(Detector.GazTrie.builds.get() == afterFirst, "trie rebuilt on re-run")
  }

  test("partitioned-gazetteer detection is output-identical to the broadcast path") {
    import spark.implicits._
    val d = docs(150)
    val sents = KgPipeline.sentences(d).repartition(8)
    val broadcastPath = mentionsOf(Detector.detectBroadcast(sents, broadcast(DocsGen.vocabEntries)))
    val gazDs = DocsGen.vocabEntries.toDS().repartition(5)
    val partitionedPath = mentionsOf(Detector.detectPartitioned(sents, gazDs))
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
      Detector.detectBroadcast(sents, broadcast(gaz)).collect())
    assert(namesEntry(onBroadcast), s"broadcast path: $onBroadcast")
    val onPartitioned = intercept[Exception](
      Detector.detectPartitioned(sents, gaz.toDS()).collect())
    assert(namesEntry(onPartitioned), s"partitioned path: $onPartitioned")
  }

  test("partitioned path with the feature model also matches the broadcast path") {
    import spark.implicits._
    val g = DocsGen.gen(spark, 100, seed = 42L)
    val d = DocsGen.docs(g)
    val sents = KgPipeline.sentences(d).repartition(8)
    val model = graft.detect.Features.fit(DocsGen.goldSentences(g))
    val pruned = DocsGen.vocabEntries.filterNot { case (s, _) => SparkEntry.ngramHeldOut(s) }
    val a = mentionsOf(Detector.detectBroadcast(sents, broadcast(pruned), feats = Some(model)))
    val b = mentionsOf(Detector.detectPartitioned(
      sents, pruned.toDS().repartition(3), feats = Some(model)))
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
    val sents = Seq(graft.core.Sentence("d1", 0, "患者有糖尿病史")).toDS()
    // the ONLY gazetteer surface shares the sentence's 糖尿 bigram but is
    // NOT contained — its candidate row joins, then fails containment
    val gaz = Seq(("糖尿X", "Diseases")).toDS()
    val got = Detector.detectPartitioned(sents, gaz, feats = Some(model))
      .collect().map(m => (m.entity_type, m.text, m.start, m.end)).toSeq
    assert(got == Seq(("Diseases", "糖尿病", 3, 6)),
      s"feature-only detection lost on an all-candidates-fail sentence: $got")
  }

  test("1M-surface gazetteer: detection output unchanged, trie built once") {
    // the trie (≈2.4M nodes) is built ONCE for the whole 16-task stage:
    // every task reads the same deserialized broadcast
    val d = docs(100)
    val sents = KgPipeline.sentences(d).repartition(16)
    val baseline = mentionsOf(Detector.detectBroadcast(sents, broadcast(DocsGen.vocabEntries)))

    val bigBc = broadcast(DocsGen.vocabEntries ++ (0 until 1000000).map(LargeGazetteerSpec.decoy))
    val before = Detector.GazTrie.builds.get()
    val big = mentionsOf(Detector.detectBroadcast(sents, bigBc))
    assert(Detector.GazTrie.builds.get() - before <= 1,
      "1M-surface trie must be built at most once per JVM")
    assert(big == baseline)
    bigBc.destroy()
  }

  test("1M-surface gazetteer through Detector.detect takes the blocking-key join and finishes") {
    import spark.implicits._
    val d = docs(100)
    val sents = KgPipeline.sentences(d).repartition(16)
    def joins(ds: org.apache.spark.sql.Dataset[_]) = ds.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }
    val small = Detector.detect(sents, DocsGen.vocabEntries.toDS())
    assert(joins(small).isEmpty, s"under the gate, expected one mapPartitions:\n${small.queryExecution.optimizedPlan}")
    // the decoys are generated on the executors, as a distributed lexicon
    // would be read, so the gate runs as a bounded-collect job
    val decoysDs = spark.range(1000000).map(i => LargeGazetteerSpec.decoy(i.toInt))
    val big = Detector.detect(sents, DocsGen.vocabEntries.toDS().union(decoysDs))
    assert(joins(big).nonEmpty, s"over the gate, expected the blocking-key join:\n${big.queryExecution.optimizedPlan}")
    assert(mentionsOf(big) == mentionsOf(small))
  }
}

object LargeGazetteerSpec {
  /** Decoy surface `i` of 1M, over a Latin alphabet disjoint from the
    * corpus' char inventory: decoys can never match, so output must equal
    * the 35-surface baseline.
    */
  def decoy(i: Int): (String, String) = {
    val h = graft.core.Hashing.mix64(0xDEC0L + i)
    val sb = new StringBuilder
    var v = h
    var k = 0
    while (k < 6) { sb.append(('a' + ((v & 0xFFL) % 26)).toChar); v = v >>> 8; k += 1 }
    (sb.toString + i.toString, "Diseases") // suffix ensures 1M distinct
  }
}
