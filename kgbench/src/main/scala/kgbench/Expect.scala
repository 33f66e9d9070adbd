package kgbench

import java.nio.charset.StandardCharsets.UTF_8
import java.util.zip.CRC32

import graft.assemble.Triples
import graft.data.DocsGen
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import scala.collection.mutable

/** An order-independent digest of a row multiset: row count plus the sum
  * of each row's CRC-32 over its fields joined by U+0001.
  */
final case class Digest(count: Long, hash: Long) {
  def +(o: Digest): Digest = Digest(count + o.count, hash + o.hash)
}

object Digest {
  val Zero: Digest = Digest(0L, 0L)

  def row(fields: String*): Digest = {
    val c = new CRC32
    c.update(fields.mkString("\u0001").getBytes(UTF_8))
    Digest(1L, c.getValue)
  }

  /** The same digest computed by Spark in one aggregation job. */
  def of(df: DataFrame, cols: Seq[Column]): Digest = {
    val r = df.agg(count(lit(1)), coalesce(sum(crc32(concat_ws("\u0001", cols: _*).cast("binary"))), lit(0L)))
      .head()
    Digest(r.getLong(0), r.getLong(1))
  }

  val TripleCols: Seq[Column] = Seq("subj", "pred", "obj", "doc_id", "subj_type", "obj_type").map(col)
  val PairCols: Seq[Column] = Seq("id_a", "id_b", "score").map(col)
}

/** Expected outputs computed without the code under test. */
object Expect {

  /** Concept ids as a lexicon assigns them: `C%07d` by rank of
    * (entity_type, surface) in UTF-8 byte order, starting at 1.
    */
  def conceptIds(entries: Seq[(String, String)]): Map[(String, String), String] = {
    val ord: Ordering[Array[Byte]] = (a, b) => java.util.Arrays.compareUnsigned(a, b)
    entries.distinct
      .sortBy { case (s, t) => (t.getBytes(UTF_8), s.getBytes(UTF_8)) }(Ordering.Tuple2(ord, ord))
      .zipWithIndex
      .map { case (e, i) => e -> f"C${i + 1}%07d" }
      .toMap
  }

  /** Triples of docs `lo until hi`: every gold mention links to the
    * lexicon entry with its own surface (the exact-surface boost always
    * wins), each such concept is its own canonical component, and each
    * doc's distinct (type, concept) set is paired by `Triples.Rules`.
    */
  def triples(lo: Long, hi: Long, seed: Long, hubFrac: Double, ids: Map[(String, String), String]): Digest =
    Parallel.sum(lo, hi) { idx =>
      val g = DocsGen.buildDoc(idx, seed, hubFrac)
      val concepts = g.mentions.map(m => (m.entity_type, ids((m.text, m.entity_type)))).distinct
      var d = Digest.Zero
      for ((st, sc) <- concepts if st == "Diseases"; (ot, oc) <- concepts)
        Triples.Rules.get((st, ot)).foreach(p => d += Digest.row(sc, p, oc, g.doc.doc_id, st, ot))
      d
    }

  /** Word w-shingles exactly as the dedup operators define them. */
  def shingles(text: String, w: Int): Array[String] = {
    val toks = text.toLowerCase.split("\\s+").filter(_.nonEmpty)
    if (toks.length < w) { if (toks.isEmpty) Array.empty else Array(toks.mkString(" ")) }
    else toks.sliding(w).map(_.mkString(" ")).toArray
  }

  private def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  private def digestOf(pairs: Iterable[(Long, Long, Double)]): Digest =
    pairs.foldLeft(Digest.Zero) { case (d, (a, b, s)) => d + Digest.row(a.toString, b.toString, s.toString) }

  /** `Dedup.ngramJaccardPairs`: |shared non-hub shingles| over the union
    * of all distinct shingles, rounded to 6 places; a shingle held by more
    * than `maxDf` docs is a hub and shares nothing.
    */
  def ngramPairs(ids: Array[Long], texts: Array[String], w: Int, threshold: Double, maxDf: Int): Digest = {
    val sets = texts.map(t => shingles(t, w).distinct)
    val postings = mutable.HashMap.empty[String, mutable.ArrayBuffer[Int]]
    sets.zipWithIndex.foreach { case (s, i) =>
      s.foreach(sh => postings.getOrElseUpdate(sh, mutable.ArrayBuffer.empty) += i)
    }
    val live = postings.filter(_._2.size <= maxDf)
    val shared = new Array[Int](ids.length)
    val out = mutable.ArrayBuffer.empty[(Long, Long, Double)]
    ids.indices.foreach { a =>
      val touched = mutable.ArrayBuffer.empty[Int]
      sets(a).foreach { sh =>
        live.get(sh).foreach(_.foreach { b =>
          if (ids(b) > ids(a)) {
            if (shared(b) == 0) touched += b
            shared(b) += 1
          }
        })
      }
      touched.foreach { b =>
        val j = round6(shared(b).toDouble / (sets(a).length + sets(b).length - shared(b)))
        if (j >= threshold) out += ((ids(a), ids(b), j))
        shared(b) = 0
      }
    }
    digestOf(out)
  }

  /** `Dedup.minhashPairs`: docs sharing an LSH band bucket of at most
    * `maxBucket` members, scored by the share of equal signature slots.
    * The signature is the program's scalar kernel; the banding, bucket
    * cap, pairing and scoring are replicated here.
    */
  def minhashPairs(
      ids: Array[Long], texts: Array[String], k: Int, bands: Int, w: Int,
      threshold: Double, maxBucket: Int): Digest = {
    val rows = k / bands
    val sigs = texts.map(t => graft.core.Hashing.minhashSignature(t, k, w))
    val buckets = mutable.HashMap.empty[(Int, Long), mutable.ArrayBuffer[Int]]
    sigs.zipWithIndex.foreach { case (sig, i) =>
      (0 until bands).foreach { b =>
        val key = UTF8String.fromString(sig.slice(b * rows, (b + 1) * rows).mkString(","))
        val h = XXH64.hashInt(b, XXH64.hashUnsafeBytes(key.getBaseObject, key.getBaseOffset, key.numBytes, 42L))
        buckets.getOrElseUpdate((b, h), mutable.ArrayBuffer.empty) += i
      }
    }
    val out = mutable.HashMap.empty[(Long, Long), Double]
    buckets.valuesIterator.filter(_.size <= maxBucket).foreach { ms =>
      for (a <- ms; b <- ms if ids(a) < ids(b)) {
        val eq = sigs(a).indices.count(j => sigs(a)(j) == sigs(b)(j))
        val est = round6(eq.toDouble / k)
        if (est >= threshold) out((ids(a), ids(b))) = est
      }
    }
    digestOf(out.map { case ((a, b), s) => (a, b, s) })
  }
}

/** Sums a per-index digest over a range on a few driver threads. */
object Parallel {
  def sum(lo: Long, hi: Long, threads: Int = 4)(f: Long => Digest): Digest = {
    val step = math.max(1L, (hi - lo + threads - 1) / threads)
    val parts = (lo until hi by step).map { s =>
      val e = math.min(hi, s + step)
      val t = new java.util.concurrent.FutureTask[Digest](() => {
        var d = Digest.Zero
        var i = s
        while (i < e) { d += f(i); i += 1 }
        d
      })
      new Thread(t).start()
      t
    }
    parts.map(_.get()).foldLeft(Digest.Zero)(_ + _)
  }
}
