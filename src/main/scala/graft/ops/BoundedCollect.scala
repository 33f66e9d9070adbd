package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders, Row}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{ArrayType, BooleanType, StructField, StructType}

/** Bounded collect-list aggregator (r6): gathers a group's rows into one
  * array-typed buffer with an explicit OVERFLOW flag — the building
  * block of the posting-list dedup plans ([[Dedup]]) and of the
  * single-action adaptive gate ([[BoundedCollect.collect]]) shared by
  * connected components ([[graft.canon.Canon]]) and surface resolution
  * ([[graft.link.Linker.resolve]]).
  *
  * Semantics: `over = (group row count > cap)`; `items` holds the
  * complete group iff `over = false`. The moment a buffer would exceed
  * `cap`, its items are CLEARED and only the flag survives — the global
  * answer is already determined ("too big"), so an over-cap group costs
  * one boolean on the wire, not cap+1 shipped rows (a hub bucket's
  * partial buffers collapse to a bit at the first overflow; a
  * 100 TB-scale over-gate graph costs the final merge task N booleans,
  * not N·cap rows). Groups at or under the cap never truncate: every
  * partial holds ≤ total ≤ cap entries, so the merged list is complete
  * and the flag stays false — decision-identical to an exact count.
  * Element order is partition-dependent; callers must be order-invariant
  * (unordered pair emission, union-find).
  */
private[graft] class BoundedCollectAgg(cap: Int, inSchema: StructType)
    extends Aggregator[Row, Row, Row] {
  private val bufSchema = StructType(Seq(
    StructField("items", ArrayType(inSchema, containsNull = false)),
    StructField("over", BooleanType, nullable = false)))
  private val overRow: Row = Row(Seq.empty[Row], true)
  override def zero: Row = Row(scala.collection.mutable.ArrayBuffer.empty[Row], false)
  // the buffer's items as stored, not `Row.getSeq`, which copies a
  // mutable buffer into an immutable Seq on every call: O(n) per reduce(),
  // O(n²) per group
  private def items(b: Row): scala.collection.Seq[Row] =
    b.get(0).asInstanceOf[scala.collection.Seq[Row]]
  override def reduce(b: Row, a: Row): Row = {
    if (b.getBoolean(1)) return b
    val xs = items(b)
    if (xs.length >= cap) overRow
    else xs match {
      // in-place append on the warm path: the buffer object lives across
      // reduce() calls, so the ArrayBuffer append is O(1) amortized (an
      // immutable `:+` would be O(n) per row — O(n²) per hot key)
      case ab: scala.collection.mutable.ArrayBuffer[Row @unchecked] =>
        ab += a
        Row(ab, false)
      case other =>
        Row(scala.collection.mutable.ArrayBuffer.empty[Row] ++= other += a, false)
    }
  }
  override def merge(a: Row, b: Row): Row = {
    if (a.getBoolean(1)) return a
    if (b.getBoolean(1)) return b
    val xs = items(a)
    val ys = items(b)
    if (xs.length + ys.length > cap) overRow
    else if (ys.isEmpty) a
    else if (xs.isEmpty) b
    else Row(scala.collection.mutable.ArrayBuffer.empty[Row] ++= xs ++= ys, false)
  }
  override def finish(r: Row): Row = r
  override def bufferEncoder: Encoder[Row] = Encoders.row(bufSchema)
  override def outputEncoder: Encoder[Row] = Encoders.row(bufSchema)
}

private[graft] object BoundedCollect {
  /** The udaf column: `collect(cap, schema)(cols...)` → struct with an
    * `items` array (complete iff `over` is false) and the `over` flag.
    */
  def agg(cap: Int, inSchema: StructType): org.apache.spark.sql.expressions.UserDefinedFunction =
    org.apache.spark.sql.functions.udaf(new BoundedCollectAgg(cap, inSchema), Encoders.row(inSchema))

  /** The row count of a driver-resident LocalRelation plan, read without
    * a job (collecting it runs a LocalTableScan on the driver); None for
    * any other plan.
    */
  def localSize(ds: Dataset[_]): Option[Long] =
    ds.queryExecution.optimizedPlan match {
      case lr: LocalRelation => Some(lr.data.length.toLong)
      case _ => None
    }

  def isLocal(ds: Dataset[_]): Boolean = localSize(ds).isDefined

  /** The adaptive gate: all rows of `df` when there are at most `cap` of
    * them, else None. A LocalRelation costs no job, and is not collected
    * when over the cap; any other plan costs ONE bounded-aggregate job, in
    * which an over-cap input collapses to the overflow flag instead of
    * shipping rows.
    */
  def collect(df: DataFrame, cap: Int): Option[Seq[Row]] =
    localSize(df) match {
      case Some(n) => if (n <= cap) Some(df.collect().toSeq) else None
      case None =>
        val row = df.agg(agg(cap, df.schema)(df.columns.map(col).toSeq: _*).as("_b"))
          .select(col("_b.items"), col("_b.over")).head()
        if (row.getBoolean(1)) None else Some(row.getSeq[Row](0))
    }
}
