package graft

import graft.core._
import graft.data.DocsGen
import graft.detect.{Detector, Features}
import org.scalatest.funsuite.AnyFunSuite

class DetectorSpec extends AnyFunSuite {
  lazy val spark = SparkTest.spark

  test("viterbi output always satisfies the BIO grammar") {
    for (iter <- 0 until 200) {
      val h = Hashing.hash2(99, iter)
      val n = 1 + Hashing.pick(Hashing.mix64(h), 30)
      val em = Array.tabulate(n, Detector.NumLabels) { (i, j) =>
        (Hashing.uniformDouble(Hashing.mix64(h + i * 31 + j)) * 10).toFloat
      }
      val path = Detector.viterbi(em).map(Bio.Labels)
      var prev = "O"
      path.foreach { tag =>
        if (tag.startsWith("I-")) {
          val tpe = tag.substring(2)
          assert(prev == s"B-$tpe" || prev == s"I-$tpe", s"iter=$iter path=${path.toSeq}")
        }
        prev = tag
      }
    }
  }

  test("gazetteer detector finds exactly the gold mentions on synthetic docs") {
    val spark2 = spark
    import spark2.implicits._
    val g = DocsGen.gen(spark, 200, seed = 7).cache()
    val docs = DocsGen.docs(g)
    val gold = DocsGen.goldMentions(g).collect()
      .map(m => (m.doc_id, m.span_idx, m.entity_type, m.text, m.start, m.end)).toSet
    val sents = graft.pipeline.KgPipeline.sentences(docs)
    val got = Detector.detect(sents, DocsGen.vocabEntries.toDS()).collect()
      .map(m => (m.doc_id, m.span_idx, m.entity_type, m.text, m.start, m.end)).toSet
    assert(got == gold)
    g.unpersist()
  }

  test("detectFromTags reproduces gold mentions (parity-by-construction path)") {
    val spark2 = spark
    import spark2.implicits._
    val g = DocsGen.gen(spark, 100, seed = 11).cache()
    val tagged = DocsGen.goldSentences(g)
    val gold = DocsGen.goldMentions(g).collect()
      .map(m => (m.doc_id, m.span_idx, m.entity_type, m.text, m.start, m.end)).toSet
    val got = Detector.detectFromTags(tagged).collect()
      .map(m => (m.doc_id, m.span_idx, m.entity_type, m.text, m.start, m.end)).toSet
    assert(got == gold)
    g.unpersist()
  }

  test("generator is deterministic and partition-independent") {
    val a = DocsGen.gen(spark, 50, seed = 3, partitions = 1).collect().map(_.doc).sortBy(_.doc_id)
    val b = DocsGen.gen(spark, 50, seed = 3, partitions = 7).collect().map(_.doc).sortBy(_.doc_id)
    assert(a.toSeq == b.toSeq)
  }

  test("estimateTransitions: grammar outranks data, rows are smoothed log-prob distributions") {
    val spark2 = spark
    import spark2.implicits._
    val g = DocsGen.gen(spark, 300, seed = 19).cache()
    val trans = Detector.estimateTransitions(DocsGen.goldSentences(g))
    val L = Detector.NumLabels
    for (i <- 0 to L; j <- 0 until L) {
      if (Detector.transitions(i)(j) <= -1e8f)
        assert(trans(i)(j) <= -1e8f, s"illegal transition ($i,$j) got a finite score")
      else {
        assert(trans(i)(j) < 0f, s"legal transition ($i,$j) should be a log-prob < 0")
        assert(trans(i)(j) > -30f, s"legal transition ($i,$j) underflowed smoothing")
      }
    }
    // each source row is a probability distribution over its LEGAL targets
    for (i <- 0 to L) {
      val mass = (0 until L)
        .filter(j => Detector.transitions(i)(j) > -1e8f)
        .map(j => math.exp(trans(i)(j).toDouble))
        .sum
      assert(math.abs(mass - 1.0) < 1e-4, s"row $i mass $mass")
    }
    // observed B-X -> I-X bigrams score above the unobserved-but-legal floor:
    // every multi-char gold entity contributes B->I counts
    val bDis = Bio.LabelToId("B-Diseases")
    val iDis = Bio.LabelToId("I-Diseases")
    val floor = trans(bDis).zipWithIndex
      .filter { case (v, j) => v > -1e8f && j != iDis }.map(_._1).min
    assert(trans(bDis)(iDis) > floor)
    g.unpersist()
  }

  test("detector with corpus-estimated transitions still matches gold exactly") {
    val spark2 = spark
    import spark2.implicits._
    val g = DocsGen.gen(spark, 200, seed = 23).cache()
    val trans = Detector.estimateTransitions(DocsGen.goldSentences(g))
    val docs = DocsGen.docs(g)
    val gold = DocsGen.goldMentions(g).collect()
      .map(m => (m.doc_id, m.span_idx, m.entity_type, m.text, m.start, m.end)).toSet
    val sents = graft.pipeline.KgPipeline.sentences(docs)
    val got = Detector.detect(sents, DocsGen.vocabEntries.toDS(), trans = trans).collect()
      .map(m => (m.doc_id, m.span_idx, m.entity_type, m.text, m.start, m.end)).toSet
    assert(got == gold)
    g.unpersist()
  }

  test("truncation bounds detector cost at max_len=128 like the reference") {
    val long = Sentence("d", 0, "在" * 300 + "胃癌")
    val gaz = Detector.Gazetteer(Seq("胃癌" -> "Diseases"))
    // entity lies beyond the 128-char truncation point → not detected
    assert(Detector.detectOne(long, gaz, 128).isEmpty)
    val inside = Sentence("d", 0, "在" * 10 + "胃癌")
    assert(Detector.detectOne(inside, gaz, 128).map(m => (m.start, m.end)) == Seq((10, 12)))
  }

  test("the batched Kernel equals the O(L²) reference exactly, confidence included, " +
    "under estimated transitions, feature models and hostile text") {
    val g = DocsGen.gen(spark, 40, seed = 31).cache()
    val gold = DocsGen.goldSentences(g).collect().toSeq
    val estimated = Detector.estimateTransitions(DocsGen.goldSentences(g))
    g.unpersist()
    val L = Detector.NumLabels
    val fitted = Features.fitLocal(gold.map(ts => (ts.chars, ts.tags)), dim = 1024)
    // one bucket, no weights, O far below: every other label ties at the
    // row max on every row
    val tied = Features.FeatureModel(
      1, new Array[Float](L), Array.tabulate(L)(j => if (j == Bio.OId) -1000f else 0f), 1f)
    val ext = "\uD840\uDC00" // U+20000, a surrogate pair
    val atCap = "肝" * 32
    val gaz = Detector.Gazetteer(DocsGen.vocabEntries ++ Seq(
      "肺" -> "Anatomical", "肺炎" -> "Diseases", atCap -> "Anatomical", ("肝" * 33) -> "Drug",
      (ext + "癌") -> "Diseases", ("胃" + ext) -> "Anatomical", "" -> "Drug"))
    assert(gaz.maxLen == 32)
    val hostile = Seq(
      "",
      "在" * 127 + "肺炎", // the cut at 128 falls inside the surface
      "在" * 126 + "肺炎" + "在" * 10,
      "在" * 200 + "肺炎",
      ext + "癌" + ext + "肺炎" + ext,
      "胃" + ext + "癌",
      "\uD840肺炎\uDC00", // lone surrogates
      "肺炎肺肺炎炎肺",
      atCap + "肺炎",
      "肝" * 33 + "肺",
      "肝" * 31 + "肺炎") ++ gold.map(_.chars.mkString)
    val sentences = hostile.zipWithIndex.map { case (t, i) => Sentence(s"d$i", 0, t) }
    // confidence by its bits, so a NaN compares equal to itself
    def bits(ms: Seq[Mention]) = ms.map(m => m.copy(confidence = 0.0) -> java.lang.Double.doubleToRawLongBits(m.confidence))
    for {
      (tName, trans) <- Seq("static" -> Detector.transitions, "estimated" -> estimated)
      (fName, feats) <- Seq("none" -> null, "fitted" -> fitted, "tied" -> tied)
    } {
      val kernel = new Detector.Kernel(gaz, 128, trans, feats)
      sentences.foreach { s =>
        val want = Detector.detectReference(s, gaz, 128, trans, feats)
        val got = kernel.detect(s)
        assert(bits(got) == bits(want), s"$tName/$fName on '${s.text}': kernel $got, reference $want")
      }
    }
  }
}
