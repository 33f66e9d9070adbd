package graft

import graft.core.{Bio, Mention, Sentence}
import graft.data.{BioCorpus, Lexicon}
import graft.detect.{Detector, Features}
import graft.metrics.SpanMetrics
import org.apache.spark.sql.Dataset
import org.scalatest.funsuite.AnyFunSuite

/** K2-full on the REAL reference corpus: fit the hashed n-gram /
  * context-window emission model on `data/train.txt`, harvest the
  * gazetteer from the same gold corpus, and evaluate span P/R/F1 on the
  * held-out `data/dev.txt` — the off-gazetteer generalization evidence
  * the r4 verdict asked for (a gazetteer-only detector has, by
  * construction, ~zero recall on surfaces it has never seen; the feature
  * model must recover a real fraction of them). Measured numbers are
  * recorded in BASELINE.md §K2.
  */
class FeatureDevEvalSpec extends AnyFunSuite {
  lazy val spark = SparkTest.spark

  private val RefData = "/root/reference/data"

  private def goldMentions(tagged: Dataset[graft.core.TaggedSentence]): Dataset[Mention] = {
    val s = tagged.sparkSession
    import s.implicits._
    tagged.flatMap { ts =>
      Bio.decodeBio(ts.chars.toIndexedSeq, ts.tags.toIndexedSeq).map {
        case (tpe, text, st, en, c) => Mention(ts.doc_id, 0, tpe, text, st, en, c)
      }
    }
  }

  test("n-gram features recover off-gazetteer mentions on dev.txt (recall > 0 where gazetteer-only has none)") {
    import spark.implicits._
    val train = BioCorpus.read(spark, s"$RefData/train.txt", "tr")
    val dev = BioCorpus.read(spark, s"$RefData/dev.txt", "dev")

    val gazEntries = Lexicon.gazetteerEntries(Lexicon.harvest(train))
    val gazSurfaces = gazEntries.map(_._1).toSet
    val gaz = gazEntries.toSeq.toDS()

    val model = Features.fit(train)
    val trans = Detector.estimateTransitions(train)

    val sents = dev.map(ts => Sentence(ts.doc_id, 0, ts.chars.mkString)).cache()
    val gold = goldMentions(dev).cache()
    val goldOff = gold.filter(m => !gazSurfaces.contains(m.text)).cache()
    val nGoldOff = goldOff.count()
    assert(nGoldOff > 0, "dev.txt must contain surfaces unseen in train.txt")

    def eval(pred: Dataset[Mention], gold: Dataset[Mention]): (Double, Double, Double, Long) = {
      val m = SpanMetrics.micro(SpanMetrics.perType(pred, gold))
      (m.precision, m.recall, m.f1, m.tp)
    }

    val gazOnly = Detector.detect(sents, gaz, trans = trans).cache()
    val full = Detector.detect(sents, gaz, trans = trans, feats = Some(model)).cache()

    val (gp, gr, gf, _) = eval(gazOnly, gold)
    val (fp, fr, ff, _) = eval(full, gold)
    val (_, gOffR, _, gOffTp) = eval(gazOnly, goldOff)
    val (_, fOffR, _, fOffTp) = eval(full, goldOff)

    info(f"gazetteer-only dev micro: P=$gp%.4f R=$gr%.4f F1=$gf%.4f")
    info(f"gaz+ngram-feats dev micro: P=$fp%.4f R=$fr%.4f F1=$ff%.4f")
    info(f"off-gazetteer gold spans: $nGoldOff; recalled gaz-only=$gOffTp (R=$gOffR%.4f), with-features=$fOffTp (R=$fOffR%.4f)")
    println(f"[K2-dev-eval] gaz-only P=$gp%.4f R=$gr%.4f F1=$gf%.4f | full P=$fp%.4f R=$fr%.4f F1=$ff%.4f | offgaz n=$nGoldOff gazTp=$gOffTp featTp=$fOffTp featOffR=$fOffR%.4f")

    // the generalization claim: features recover off-gazetteer spans the
    // dictionary path cannot see (measured r5: 181/432 = 0.419 vs 0)
    assert(fOffTp > gOffTp, "features must recall off-gazetteer spans beyond the gazetteer path")
    assert(fOffR > 0.3, f"off-gazetteer recall regressed: $fOffR%.4f")
    // and they improve BOTH precision and overall F1 over the dictionary
    // path (measured r5: P 0.186→0.602, F1 0.280→0.670 — the windowed
    // context evidence suppresses spurious dictionary hits too)
    assert(fp > gp, f"features must not cost precision: $fp%.4f vs $gp%.4f")
    assert(ff > 0.6, f"overall dev F1 with features too low: $ff%.4f")

    sents.unpersist(); gold.unpersist(); goldOff.unpersist()
    gazOnly.unpersist(); full.unpersist()
  }
}
