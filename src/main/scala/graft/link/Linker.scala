package graft.link

import graft.core.{Hashing, LexiconEntry, LinkedMention, Mention}
import graft.ops.BoundedCollect
import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Entity linking: blocking-key candidate generation + lexicon join +
  * context-embedding dot-product scoring + argmax per mention.
  *
  * The reference's only "linking" is a dictionary membership probe
  * (`data_augmentation.py:66,77,126`); the north_star upgrades it to a
  * candidate-scored link. Plan shape (all Catalyst-native, written once
  * in [[best]]):
  *
  *   queries --explode blocking keys--> (key, query)
  *       ⋈ lexicon keyed the same way, one side broadcast  [J1+J2]
  *       --score: exact-surface boost + dot(ctx_emb, concept_emb)
  *       --min_by argmax per query (partial agg, no window) --> best
  *
  * The pipeline links through [[resolve]]: the distinct
  * (text, entity_type) surface set is resolved once and the result is
  * broadcast back onto the mentions, so the mention table never shuffles
  * for the link. `resolve` broadcasts whichever side is known to be
  * bounded:
  *
  *   lexicon         surfaces ≤ gate   strategy
  *   LocalRelation   yes               score on the driver ([[surfaceResolutionLocal]])
  *   distributed     yes               broadcast the surfaces against the lexicon
  *   either          no                broadcast the lexicon ([[surfaceResolution]])
  *
  * Every strategy gives the same concept ids and exact scores
  * (PipelineSpec pins them to [[surfaceResolutionLocal]]).
  */
object Linker {

  val EmbeddingDim: Int = graft.data.Lexicon.EmbeddingDim

  /** Deterministic context embedding for a mention: hashed char n-grams.
    * Stand-in for an encoder embedding; identical plumbing (array<float>
    * column, dot-product scoring). `dim` must match the lexicon's
    * embedding dimension when a real embedding table backs the lexicon
    * (`Lexicon.fromSurfacesWithEmbeddings`).
    */
  def contextEmbedding(text: String, dim: Int = EmbeddingDim): Array[Float] = {
    val acc = new Array[Float](dim)
    if (text.isEmpty) return acc
    var i = 0
    while (i < text.length) {
      val g2 = text.substring(i, math.min(i + 2, text.length))
      val h = Hashing.hashString(g2, 0x5EED)
      var d = 0
      while (d < dim) {
        acc(d) += (Hashing.uniformDouble(Hashing.mix64(h + d)) * 2 - 1).toFloat
        d += 1
      }
      i += 1
    }
    val norm = math.sqrt(acc.map(x => x.toDouble * x).sum).toFloat
    if (norm > 0) acc.map(_ / norm) else acc
  }

  /** Blocking keys for a surface: (first char + length bucket) and a
    * 2-char-prefix key. Multiple keys raise candidate recall; `explode`
    * keeps it a narrow op.
    *
    * An EMPTY surface (decodeBio can clean a mention's text to "") gets a
    * sentinel key that matches no lexicon surface, so the mention still
    * flows through the left join and lands on the `S:` fallback concept —
    * an empty key list would make `explode` silently DROP the mention.
    */
  def blockingKeys(text: String): Seq[String] = {
    if (text.isEmpty) Seq("#empty")
    else {
      val lenBucket = math.min(text.length, 8)
      val k1 = s"${text.charAt(0)}#$lenBucket"
      val k2 = if (text.length >= 2) text.substring(0, 2) + "#p" else k1
      Seq(k1, k2).distinct
    }
  }

  // native codegen'd expressions (functions.LinkExprs) — the per-mention
  // embedding/keying kernels stay inside whole-stage codegen; no UDF
  // encoder boundary on the data-sized side of the link join
  private def blockingKeysCol(c: Column): Column =
    graft.functions.BlockingKeys.blocking_keys(c)
  private def ctxEmbCol(c: Column, dim: Int): Column =
    graft.functions.CtxEmbedding.ctx_embedding(c, dim)

  /** Distinct surfaces at most this many take a bounded path in
    * [[resolve]]: collected to the driver, then scored there or broadcast.
    */
  private val SurfaceGateCap = 1 << 18

  /** Link each mention to its best lexicon concept (left join semantics:
    * mentions with no candidate survive with null concept — they feed
    * canonicalization as surface-only nodes).
    */
  def link(
      mentions: Dataset[Mention],
      lexicon: Dataset[LexiconEntry],
      ctxDim: Int = EmbeddingDim): Dataset[LinkedMention] = {
    val spark = mentions.sparkSession
    import spark.implicits._
    best(mentions.toDF(), Seq("doc_id", "span_idx", "start", "end", "entity_type"),
      lexicon, ctxDim, broadcastQueries = false)
      .select(
        $"doc_id", $"span_idx", $"entity_type", $"text", $"start", $"end",
        $"confidence", $"concept_id", $"link_score")
      .as[LinkedMention]
  }

  /** The one distributed scorer. Each query row — unique on `keys`, with
    * `text` and `entity_type` among its columns — explodes to its blocking
    * keys and meets the lexicon entries sharing a key and the entity type;
    * a candidate scores the exact-surface boost plus
    * dot(ctx_emb, concept_emb). A query with no candidate links to its
    * `S:` surface node at score 0. Output: `keys`, the other query
    * columns, `concept_id`, `link_score`.
    *
    * `broadcastQueries` picks the build side: false broadcasts the lexicon
    * and left-joins every query; true broadcasts the queries and streams
    * the lexicon. An outer join cannot preserve its broadcast side, so
    * there the queries rejoin as null candidates scored Double.MinValue,
    * which lose the argmax to any real candidate.
    */
  private def best(
      queries: DataFrame,
      keys: Seq[String],
      lexicon: Dataset[LexiconEntry],
      ctxDim: Int,
      broadcastQueries: Boolean): DataFrame = {
    val q = queries
      .withColumn("ctx_emb", ctxEmbCol(col("text"), ctxDim))
      .withColumn("qkey", explode(blockingKeysCol(col("text"))))
    val lex = lexicon
      .withColumn("lkey", explode(blockingKeysCol(col("surface"))))
      .select(col("lkey"), col("concept_id"), col("surface"), col("entity_type").as("lex_type"), col("embedding"))
    val on = q("qkey") === lex("lkey") && q("entity_type") === lex("lex_type")
    val score = when(col("surface") === col("text"), lit(10.0)).otherwise(lit(0.0)) +
      // native codegen'd expression — no UDF boundary in the hot path
      graft.functions.VecDot.vec_dot(col("ctx_emb"), col("embedding"))
    val qCols = queries.columns.toSeq.map(col)
    val noCandidate = lit(Double.MinValue)
    val scored =
      if (broadcastQueries)
        lex.join(broadcast(q), on)
          .select(qCols :+ col("concept_id") :+ score.as("link_score"): _*)
          .union(queries.select(
            qCols :+ lit(null).cast("string").as("concept_id") :+ noCandidate.as("link_score"): _*))
      else
        q.join(broadcast(lex), on, "left").select(qCols :+ col("concept_id") :+
          when(col("concept_id").isNull, noCandidate).otherwise(score).as("link_score"): _*)

    // argmax per query via min_by over (-score, concept_id): a single
    // shuffle with map-side partial aggregation — beats a row_number window
    // (full sort, no partial agg) at every scale.
    val payload = struct(queries.columns.filterNot(keys.contains).toSeq.map(col) ++ Seq(
      coalesce(col("concept_id"), concat(lit("S:"), col("text"))).as("concept_id"),
      when(col("link_score") === Double.MinValue, lit(0.0)).otherwise(col("link_score")).as("link_score")): _*)
    val ordering = struct(
      (-col("link_score")).as("neg_score"),
      coalesce(col("concept_id"), lit("\uffff")).as("tie"))
    scored
      .groupBy(keys.map(col): _*)
      .agg(min_by(payload, ordering).as("best"))
      .select(keys.map(col) :+ col("best.*"): _*)
  }

  /** Broadcast-lexicon strategy: best concept per distinct
    * (text, entity_type). The link score is a pure function of the surface
    * (context embedding is text-derived), so resolving each distinct
    * surface ONCE and broadcasting the result back is semantically
    * identical to per-mention linking.
    */
  def surfaceResolution(
      surfaces: Dataset[(String, String)], // (text, entity_type)
      lexicon: Dataset[LexiconEntry],
      ctxDim: Int = EmbeddingDim): DataFrame =
    best(surfaces.toDF("text", "entity_type"), Seq("text", "entity_type"),
      lexicon, ctxDim, broadcastQueries = false)

  /** Broadcast-surfaces strategy, for lexicons TOO LARGE to broadcast (a
    * full UMLS-scale concept table with embeddings can exceed any
    * executor's broadcast budget even int8-quantized): the bounded
    * surface set broadcasts against the DISTRIBUTED lexicon, and the
    * argmax shuffles only (surface, candidate) pairs — bounded by
    * candidates per surface, never by lexicon size.
    */
  private[graft] def surfaceResolutionLargeLexicon(
      surfaces: Dataset[(String, String)], // (text, entity_type)
      lexicon: Dataset[LexiconEntry],
      ctxDim: Int = EmbeddingDim): DataFrame =
    best(surfaces.toDF("text", "entity_type"), Seq("text", "entity_type"),
      lexicon, ctxDim, broadcastQueries = true)

  /** Resolution table (text, entity_type, concept_id, link_score) for the
    * distinct `surfaces` (text, entity_type), by the rule in the object
    * doc. The gate is one bounded-collect job over `surfaces`. On both
    * bounded paths the result is a LocalRelation, so broadcasting it and
    * anything projected from it costs no further job; the over-gate
    * result is persisted (it feeds the mention join and canonicalization)
    * — `unpersist()` it when done.
    */
  def resolve(surfaces: DataFrame, lexicon: Dataset[LexiconEntry]): DataFrame = {
    val spark = lexicon.sparkSession
    import spark.implicits._
    BoundedCollect.collect(surfaces, SurfaceGateCap) match {
      case None =>
        surfaceResolution(surfaces.as[(String, String)], lexicon)
          .persist(StorageLevel.MEMORY_AND_DISK)
      case Some(rows) =>
        val bounded = rows.map(r => (r.getString(0), r.getString(1)))
        val resolved =
          if (BoundedCollect.isLocal(lexicon))
            surfaceResolutionLocal(bounded, lexicon.collect().toSeq)
          else surfaceResolutionLargeLexicon(bounded.toDS(), lexicon)
            .as[(String, String, String, Double)].collect().toSeq
        resolved.toDF("text", "entity_type", "concept_id", "link_score")
    }
  }

  /** Driver-local replica of [[surfaceResolution]] (r6): score a BOUNDED
    * surface set against a driver-resident lexicon entirely on the
    * driver — zero Spark jobs. The driver strategy of [[resolve]], and
    * the reference every other strategy is tested against.
    *
    * Output-identical to the DataFrame path by construction: it calls
    * the SAME scalar kernels the codegen expressions call
    * ([[contextEmbedding]], [[blockingKeys]]; the dot replicates
    * `functions.VecDot` — float×float products accumulated
    * left-to-right in double), and the argmax replicates `min_by` over
    * struct((-score), concept_id): doubles via java.lang.Double.compare
    * (Spark's double ordering), tie on the concept id's UTF-8 binary
    * order (concept ids are ASCII, so String order coincides).
    * Equality with the DataFrame path is asserted in PipelineSpec.
    */
  def surfaceResolutionLocal(
      surfaces: Seq[(String, String)],
      lexicon: Seq[LexiconEntry],
      ctxDim: Int = EmbeddingDim): Seq[(String, String, String, Double)] = {
    // candidate index: (blocking key, entity_type) → entries
    val byKey = scala.collection.mutable.HashMap.empty[(String, String), scala.collection.mutable.ArrayBuffer[LexiconEntry]]
    lexicon.foreach { e =>
      blockingKeys(e.surface).foreach { k =>
        byKey.getOrElseUpdate((k, e.entity_type), scala.collection.mutable.ArrayBuffer.empty) += e
      }
    }
    def dot(x: Array[Float], y: Array[Float]): Double = {
      val n = math.min(x.length, y.length)
      var acc = 0.0
      var i = 0
      while (i < n) { acc += x(i).toDouble * y(i).toDouble; i += 1 }
      acc
    }
    surfaces.map { case (text, tpe) =>
      val ctx = contextEmbedding(text, ctxDim)
      // distinct candidates across the surface's keys (a duplicate from a
      // second shared key scores identically — argmax unaffected)
      val cands = blockingKeys(text).iterator
        .flatMap(k => byKey.getOrElse((k, tpe), Nil))
        .toSeq.distinct
      if (cands.isEmpty) (text, tpe, "S:" + text, 0.0)
      else {
        var best: LexiconEntry = null
        var bestScore = 0.0
        cands.foreach { e =>
          val score = (if (e.surface == text) 10.0 else 0.0) + dot(ctx, e.embedding)
          val better =
            if (best == null) true
            else {
              // min_by over struct((-score) asc, concept_id asc)
              val c = java.lang.Double.compare(-score, -bestScore)
              c < 0 || (c == 0 && e.concept_id < best.concept_id)
            }
          if (better) { best = e; bestScore = score }
        }
        (text, tpe, best.concept_id, bestScore)
      }
    }
  }
}
