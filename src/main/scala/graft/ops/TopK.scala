package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders, Row}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Generalized bounded per-key top-k: the one top-k aggregation of the
  * ANN operators (`Similarity`) and of relational queries
  * (`q_events_topk`, `q_part_topk_per_brand`), which would otherwise pay
  * for a window rank.
  *
  * Why not `row_number().over(Window...)`: a window rank shuffles EVERY row
  * of the group to one task and sorts it; at 100 TB a hot key means one
  * task sorting that key's whole history. The bounded aggregator instead
  * runs as a regular hash aggregation with map-side partial combine: each
  * map task forwards at most k rows per key, so the shuffle carries
  * ≤ k × |tasks| rows per key no matter how skewed the input is, and no
  * per-key sort of the full group ever happens.
  *
  * Schema-agnostic: the payload is the caller's full row (any schema),
  * carried through the aggregation as a nested struct via Spark's runtime
  * `Row` encoder — no case class per call site.
  */
object TopK {

  /** Typed aggregator over runtime rows `(_ord: double, _tie: long, _p: struct)`.
    * The buffer holds at most k distinct entries sorted by (_ord asc|desc,
    * _tie asc), so partial aggregation caps both memory and shuffle volume
    * at k per (key, map task). Exact duplicate rows count once (the same
    * candidate arriving by several routes); otherwise `_tie` must be
    * unique per key for a deterministic result (callers pass a row id).
    */
  private[ops] class RowTopKAgg(k: Int, asc: Boolean, inSchema: StructType)
      extends Aggregator[Row, Row, Row] {
    private val bufSchema =
      StructType(Seq(StructField("items", ArrayType(inSchema, containsNull = false))))
    private def lt(a: Row, b: Row): Boolean = {
      val ao = a.getDouble(0); val bo = b.getDouble(0)
      if (ao != bo) { if (asc) ao < bo else ao > bo }
      else a.getLong(1) < b.getLong(1)
    }
    private def trim(xs: Seq[Row]): Seq[Row] = xs.distinct.sortWith(lt).take(k)
    override def zero: Row = Row(Seq.empty[Row])
    override def reduce(b: Row, a: Row): Row = {
      val items = b.getSeq[Row](0)
      // fast path: buffer full and the candidate loses to the current last
      if (items.length >= k && lt(items.last, a)) b else Row(trim(items :+ a))
    }
    override def merge(a: Row, b: Row): Row =
      Row(trim(a.getSeq[Row](0) ++ b.getSeq[Row](0)))
    override def finish(r: Row): Row = r
    override def bufferEncoder: Encoder[Row] = Encoders.row(bufSchema)
    override def outputEncoder: Encoder[Row] = Encoders.row(bufSchema)
  }

  /** Top-k rows per distinct `keyCols` combination, ordered by `ordCol`
    * (descending unless `asc`) with ties broken by `tieCol` ascending.
    * Returns all of `df`'s columns plus an int `rank` (1..k). Null order
    * values sort last. `tieCol` must cast to long and be unique per key
    * among rows that are not exact duplicates; exact duplicate rows
    * count once.
    */
  def perKey(
      df: DataFrame,
      keyCols: Seq[String],
      ordCol: Column,
      tieCol: Column,
      k: Int,
      asc: Boolean = false): DataFrame = {
    require(k > 0, "k must be positive")
    val inSchema = StructType(Seq(
      StructField("_ord", DoubleType, nullable = false),
      StructField("_tie", LongType, nullable = false),
      StructField("_p", df.schema, nullable = false)))
    val nullOrd = if (asc) Double.PositiveInfinity else Double.NegativeInfinity
    val agg = udaf(new RowTopKAgg(k, asc, inSchema), Encoders.row(inSchema))
    val payload = struct(df.columns.map(col).toIndexedSeq: _*)
    df.groupBy(keyCols.map(col): _*)
      .agg(agg(
        coalesce(ordCol.cast("double"), lit(nullOrd)),
        tieCol.cast("long"),
        payload).as("_top"))
      .select(posexplode(col("_top.items")).as(Seq("_pos", "_e")))
      .select(df.columns.map(c => col(s"_e._p.`$c`")).toIndexedSeq
        :+ (col("_pos") + 1).cast("int").as("rank"): _*)
  }
}
