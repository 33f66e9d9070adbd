package graft.assemble

import graft.core.{LinkedMention, Triple}
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Relation assembly: linked mentions → (subj, pred, obj) triples
  * (SURVEY.md §2.5 J5). The reference emits mentions only
  * (`predict_enhanced.py:328-331`); triples derive from deterministic
  * doc-level co-occurrence rules applied identically to reference-derived
  * and our mentions (FIXTURES.md §6), so triple parity follows from mention
  * parity.
  *
  * Shape: ONE shuffle — `groupByKey(doc_id)` + per-doc pairing inside
  * `flatMapGroups`. Never a mentions×mentions self-join: the per-doc
  * mention count is bounded by document length, so the pairing is O(k²)
  * with tiny k, while a self-join on doc_id would shuffle the mention table
  * twice and explode skewed docs.
  */
object Triples {

  /** Deterministic relation rules: (subject type, object type) → predicate.
    * Subject is always a Diseases mention; objects are the five other
    * reference entity types (`evaluation.log:13-14`).
    */
  val Rules: Map[(String, String), String] = Map(
    ("Diseases", "Drug") -> "treated_by",
    ("Diseases", "Laboratory") -> "has_finding",
    ("Diseases", "Anatomical") -> "located_in",
    ("Diseases", "Image") -> "diagnosed_by",
    ("Diseases", "Operation") -> "treated_with"
  )

  /** Assemble triples from linked mentions.
    *
    * Shuffle shape: `groupBy(doc_id).agg(collect_set(...))` — collect_set's
    * map-side partial aggregation dedupes repeated (type, concept) pairs
    * BEFORE the shuffle, so the wire carries each doc's distinct concept
    * set, not every mention occurrence. Triple semantics are unchanged
    * (the old per-doc `seen` dedup produced exactly the distinct pairs).
    */
  def assemble(linked: Dataset[LinkedMention]): Dataset[Triple] = {
    val spark = linked.sparkSession
    import spark.implicits._
    linked
      .groupBy($"doc_id")
      .agg(collect_set(struct($"entity_type", $"concept_id")).as("concepts"))
      .as[(String, Seq[(String, String)])]
      .flatMap { case (docId, concepts) =>
        val arr = concepts.toArray
        val subs = arr.filter(_._1 == "Diseases")
        val out = Seq.newBuilder[Triple]
        var i = 0
        while (i < subs.length) {
          val (sType, sConcept) = subs(i)
          var j = 0
          while (j < arr.length) {
            val (oType, oConcept) = arr(j)
            Rules.get((sType, oType)).foreach { pred =>
              out += Triple(sConcept, pred, oConcept, docId, sType, oType)
            }
            j += 1
          }
          i += 1
        }
        out.result().iterator
      }
  }

  /** Mapping rows up to which [[canonicalize]] broadcasts the mapping. */
  private val BroadcastMaxRows = 10000000L

  /** Rewrite subj/obj through the canonical component mapping.
    *
    * The mapping side is explicitly `broadcast()` when it is small: the CC
    * output is a checkpointed RDD with NO size statistics, so Catalyst
    * estimates it at defaultSizeInBytes and would SORT-MERGE join the full
    * triple table against a 70-row mapping — twice (subj and obj). The
    * count is cheap (components is already materialized by the CC loop).
    */
  def canonicalize(triples: Dataset[Triple], components: DataFrame): Dataset[Triple] = {
    val spark = triples.sparkSession
    import spark.implicits._
    val comp0 = components.select(col("node"), col("component"))
    // the adaptive-CC driver path returns a LocalRelation — its size is
    // free on the driver, so don't schedule a count() job for it (r6);
    // checkpointed loop outputs still pay the (cheap, materialized) count
    val size = graft.ops.BoundedCollect.localSize(comp0).getOrElse(comp0.count())
    val comp = if (size <= BroadcastMaxRows) broadcast(comp0) else comp0
    triples
      .join(comp.withColumnRenamed("node", "subj").withColumnRenamed("component", "subj_c"), Seq("subj"), "left")
      .join(comp.withColumnRenamed("node", "obj").withColumnRenamed("component", "obj_c"), Seq("obj"), "left")
      .select(
        coalesce(col("subj_c"), col("subj")).as("subj"),
        col("pred"),
        coalesce(col("obj_c"), col("obj")).as("obj"),
        col("doc_id"), col("subj_type"), col("obj_type"))
      .as[Triple]
  }
}
