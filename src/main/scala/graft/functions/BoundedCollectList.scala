package graft.functions

import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, BooleanType, DataType, StructField, StructType}
import org.apache.spark.unsafe.Platform

import scala.collection.mutable.ArrayBuffer

/** `bounded_collect(cap, c1, ..., cn)` → struct<items: array<struct<c1..cn>>,
  * over: boolean>: a group's rows gathered into one list with an explicit
  * OVERFLOW flag. The building block of the posting-list dedup plans
  * ([[graft.ops.Dedup]]) and of the single-action adaptive gate
  * ([[graft.ops.BoundedCollect.collect]]).
  *
  * Semantics: `over = (group row count > cap)`; `items` holds the complete
  * group iff `over = false`. The moment a buffer would exceed `cap`, its
  * items are CLEARED and only the flag survives — the answer is already
  * determined ("too big"), so an over-cap partial buffer costs one byte on
  * the wire, and buffer memory stays bounded at `cap` rows per group.
  * Groups at or under the cap never truncate: every partial holds
  * ≤ total ≤ cap entries, so the merged list is complete and the flag
  * stays false — decision-identical to an exact count. Element order is
  * partition-dependent; callers must be order-invariant.
  *
  * Members are kept as compact `UnsafeRow` copies of the input columns
  * (one projection, no per-field boxing) and a partial buffer serializes
  * as those rows' bytes back to back, so an aggregation-buffer exchange
  * costs one memory copy per member.
  */
case class BoundedCollectList(
    children: Seq[Expression],
    names: Seq[String],
    cap: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[BoundedCollectList.Members] {
  import BoundedCollectList.Members

  require(cap >= 0, s"bounded_collect cap must be non-negative, got $cap")
  require(names.length == children.length,
    s"bounded_collect needs one name per column, got ${names.length} names for ${children.length} columns")

  @transient private lazy val project = UnsafeProjection.create(children)

  override def createAggregationBuffer(): Members = new Members(ArrayBuffer.empty, over = false)

  override def update(buf: Members, input: InternalRow): Members = {
    if (!buf.over) {
      if (buf.rows.length >= cap) buf.overflow()
      else buf.rows += project(input).copy()
    }
    buf
  }

  override def merge(buf: Members, other: Members): Members = {
    if (!buf.over) {
      if (other.over || buf.rows.length + other.rows.length > cap) buf.overflow()
      else buf.rows ++= other.rows
    }
    buf
  }

  override def eval(buf: Members): Any =
    InternalRow(new GenericArrayData(buf.rows.toArray[Any]), buf.over)

  // [over: byte][n: int] then n × [size: int][UnsafeRow bytes]
  override def serialize(buf: Members): Array[Byte] = {
    val out = java.nio.ByteBuffer.allocate(5 + buf.rows.iterator.map(4 + _.getSizeInBytes).sum)
    out.put((if (buf.over) 1 else 0).toByte).putInt(buf.rows.length)
    buf.rows.foreach { r => out.putInt(r.getSizeInBytes); r.writeTo(out) }
    out.array()
  }

  // the rows point into `bytes`, which they keep alive: no copy per member
  override def deserialize(bytes: Array[Byte]): Members = {
    val in = java.nio.ByteBuffer.wrap(bytes)
    val over = in.get() != 0
    val n = in.getInt()
    val rows = new ArrayBuffer[UnsafeRow](n)
    (0 until n).foreach { _ =>
      val size = in.getInt()
      val r = new UnsafeRow(children.length)
      r.pointTo(bytes, Platform.BYTE_ARRAY_OFFSET + in.position(), size)
      in.position(in.position() + size)
      rows += r
    }
    new Members(rows, over)
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): BoundedCollectList =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BoundedCollectList =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): BoundedCollectList =
    copy(children = newChildren)

  override def nullable: Boolean = false
  override def dataType: DataType = {
    val member = StructType(children.zip(names).map { case (c, n) => StructField(n, c.dataType, c.nullable) })
    StructType(Seq(
      StructField("items", ArrayType(member, containsNull = false), nullable = false),
      StructField("over", BooleanType, nullable = false)))
  }
  override def prettyName: String = "bounded_collect"
}

object BoundedCollectList {
  /** A group's members so far: complete iff `!over`. */
  final class Members(var rows: ArrayBuffer[UnsafeRow], var over: Boolean) {
    def overflow(): Unit = { rows = ArrayBuffer.empty; over = true }
  }

  /** Column API: `groupBy(...).agg(bounded_collect(cols, names, cap))`,
    * member field `i` named `names(i)`.
    */
  def bounded_collect(cols: Seq[Column], names: Seq[String], cap: Int): Column =
    GraftSqlBridge.column(
      BoundedCollectList(cols.map(GraftSqlBridge.expression), names, cap).toAggregateExpression())
}
