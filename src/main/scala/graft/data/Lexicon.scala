package graft.data

import graft.core.{Hashing, LexiconEntry, Mention, QuantizedLexiconEntry, TaggedSentence}
import graft.detect.Detector
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** UMLS-style linking lexicon (FIXTURES.md §3).
  *
  * Seeded the way the reference seeds its entity dictionary
  * (`data_augmentation.py:184-216` writes `{entity_type: [surfaces]}`),
  * but harvested at scale from gold corpora: decode gold BIO tags to
  * entities (the reference's own gold-extraction scan,
  * `data_augmentation.py:105-119`), take the distinct (surface, type)
  * pairs, and assign deterministic concept ids + embeddings.
  *
  * The id assignment uses a row_number over a total order (entity_type,
  * surface) so ids are stable regardless of partitioning. Embeddings are
  * deterministic hashes of (concept_id, surface) — stand-ins for real
  * concept embeddings with identical Spark-side plumbing.
  */
object Lexicon {

  val EmbeddingDim = 32

  /** Decode gold tags → distinct surfaces per type → lexicon entries. */
  def harvest(tagged: Dataset[TaggedSentence]): Dataset[LexiconEntry] = {
    val spark = tagged.sparkSession
    import spark.implicits._
    val surfaces = tagged
      .flatMap { ts =>
        graft.core.Bio
          .decodeBio(ts.chars.toIndexedSeq, ts.tags.toIndexedSeq)
          .map { case (tpe, text, _, _, _) => (text, tpe) }
      }
      .toDF("surface", "entity_type")
      .filter(length($"surface") > 0)
      .distinct()
    fromSurfaces(surfaces.as[(String, String)])
  }

  /** Build lexicon rows from distinct (surface, entity_type) pairs.
    *
    * Id assignment: global range-partitioned sort on (entity_type,
    * surface), then `zipWithIndex` — ids are identical for ANY input
    * partitioning and the sort runs DISTRIBUTED. (Round 1 used a
    * row_number over an empty window frame: same ids, but a single-task
    * sort that would serialize a UMLS-scale ~15M-row lexicon build.)
    */
  def fromSurfaces(surfaces: Dataset[(String, String)]): Dataset[LexiconEntry] = {
    val spark = surfaces.sparkSession
    import spark.implicits._
    // Driver fast path (r6): a LOCAL input (the common fixture/vocab
    // shape — a few dozen surfaces) pays three cluster jobs in the
    // distributed plan below (range-partition sampling for the sort, the
    // zipWithIndex size pass, then the consumer's collect). Sorting a
    // LocalRelation's rows on the driver is job-FREE and id-identical:
    // the comparator delegates to UTF8String.compareTo, the exact
    // ordering Spark's string sort uses (UTF-8 byte order — Scala's
    // String.compareTo differs on supplementary characters).
    // Nulls order first, as in the distributed orderBy.
    if (graft.ops.BoundedCollect.isLocal(surfaces)) {
      def cmp(a: String, b: String): Int =
        if (a == null || b == null) java.lang.Boolean.compare(a != null, b != null)
        else org.apache.spark.unsafe.types.UTF8String.fromString(a)
          .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(b))
      val entries = surfaces.collect() // LocalTableScan: no job
        .sortWith { case ((s1, t1), (s2, t2)) =>
          val c = cmp(t1, t2)
          if (c != 0) c < 0 else cmp(s1, s2) < 0
        }
        .zipWithIndex.map { case ((surface, tpe), i) =>
          val cid = f"C${i + 1}%07d"
          LexiconEntry(cid, surface, tpe, Hashing.embedding(cid + "|" + surface, EmbeddingDim))
        }
      return spark.createDataset(entries.toIndexedSeq)
    }
    val sorted = surfaces
      .toDF("surface", "entity_type")
      .orderBy($"entity_type", $"surface")
      .as[(String, String)]
    // zipWithIndex preserves the range-partitioned sort order, so index i
    // equals (row_number - 1) of the old single-task plan
    val indexed = sorted.rdd.zipWithIndex.map { case ((surface, tpe), i) =>
      val cid = f"C${i + 1}%07d"
      LexiconEntry(cid, surface, tpe, Hashing.embedding(cid + "|" + surface, EmbeddingDim))
    }
    spark.createDataset(indexed)
  }

  /** Like [[fromSurfaces]] but concept embeddings come from a REAL
    * embedding TABLE (surface → array<float>), e.g. `spark.read.parquet`
    * over a precomputed encoder dump — the production shape where concept
    * vectors are trained artifacts, not hashes (r2 VERDICT next-step #9).
    * The embedding table is vocabulary-bounded, so it broadcasts for the
    * join; surfaces missing from the table fall back to the deterministic
    * hashed embedding at `dim` so the lexicon is always total.
    */
  def fromSurfacesWithEmbeddings(
      surfaces: Dataset[(String, String)],
      embeddings: Dataset[(String, Array[Float])],
      dim: Int): Dataset[LexiconEntry] = {
    val spark = surfaces.sparkSession
    import spark.implicits._
    fromSurfaces(surfaces).toDF().drop("embedding")
      .join(broadcast(embeddings.toDF("surface", "emb")), Seq("surface"), "left")
      .select($"concept_id", $"surface", $"entity_type", $"emb")
      .map { r =>
        val emb =
          if (r.isNullAt(3)) Hashing.embedding(r.getString(0) + "|" + r.getString(1), dim)
          else r.getSeq[Float](3).toArray
        LexiconEntry(r.getString(0), r.getString(1), r.getString(2), emb)
      }
  }

  /** Frequency-threshold lexicon pruning — the Spark analog of the
    * reference's magnitude pruning (`model_optimization.py:60-84`,
    * SURVEY §4.1): drop entries whose surface occurs fewer than `minCount`
    * times in the corpus, shrinking the broadcast. `surfaceCounts` is a
    * (surface, n) table, e.g. from mentions.groupBy(text).count() — it is
    * aggregated (vocabulary-bounded), so the join broadcasts.
    */
  def prune(
      lex: Dataset[LexiconEntry],
      surfaceCounts: org.apache.spark.sql.DataFrame,
      minCount: Long): Dataset[LexiconEntry] = {
    val spark = lex.sparkSession
    import spark.implicits._
    lex.join(
        broadcast(surfaceCounts.select($"surface", $"n".cast("long").as("n"))),
        Seq("surface"), "left")
      .filter(coalesce($"n", lit(0L)) >= minCount)
      .select($"concept_id", $"surface", $"entity_type", $"embedding")
      .as[LexiconEntry]
  }

  /** Symmetric per-vector int8 quantization of the lexicon embeddings —
    * the analog of the reference's dynamic int8 quantization
    * (`model_optimization.py:86-122`): 4× smaller broadcast/storage;
    * `dequantize` restores approximate float vectors for scoring.
    */
  def quantize(lex: Dataset[LexiconEntry]): Dataset[QuantizedLexiconEntry] = {
    val spark = lex.sparkSession
    import spark.implicits._
    lex.map { e =>
      val maxAbs = if (e.embedding.isEmpty) 0f else e.embedding.map(math.abs).max
      val scale = if (maxAbs > 0) maxAbs / 127f else 1f
      val q = e.embedding.map(x => math.round(x / scale).toByte)
      QuantizedLexiconEntry(e.concept_id, e.surface, e.entity_type, q, scale)
    }
  }

  def dequantize(q: Dataset[QuantizedLexiconEntry]): Dataset[LexiconEntry] = {
    val spark = q.sparkSession
    import spark.implicits._
    q.map(e => LexiconEntry(e.concept_id, e.surface, e.entity_type,
      e.qembedding.map(b => b * e.scale)))
  }

  /** Gazetteer view of the lexicon, (surface, type), collected to the
    * driver. The pipeline itself hands [[Detector.detect]] the lexicon's
    * two columns, which collects them only when they fit its gate.
    */
  def gazetteerEntries(lex: Dataset[LexiconEntry]): Array[(String, String)] = {
    // select() instead of a typed map (r6): a column-level Project over a
    // LocalRelation lexicon (the fromSurfaces fast path) collapses into
    // the LocalRelation, so the collect is job-free; the typed map's
    // object boundary forced a cluster job even for 35 local rows. Same
    // rows, same order, one job on distributed lexicons (as before).
    lex.select("surface", "entity_type").collect()
      .map(r => (r.getString(0), r.getString(1)))
  }
}
