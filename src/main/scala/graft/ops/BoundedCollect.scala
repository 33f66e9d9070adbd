package graft.ops

import graft.functions.BoundedCollectList
import org.apache.spark.sql.{Column, DataFrame, Dataset, Row}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

/** The bounded collect-list aggregate ([[BoundedCollectList]]) as the
  * single-action adaptive gate shared by connected components
  * ([[graft.canon.Canon]]), surface resolution
  * ([[graft.link.Linker.resolve]]) and the broadcast gazetteer
  * ([[graft.detect.Detector]]), and as the column the posting-list dedup
  * plans ([[Dedup]]) group with.
  */
private[graft] object BoundedCollect {
  /** `agg(cap, schema)(cols...)` → struct with an `items` array (complete
    * iff `over` is false) and the `over` flag; member fields take the
    * names of `inSchema`'s fields, one per column.
    */
  final class Agg(cap: Int, names: Seq[String]) {
    def apply(cols: Column*): Column = BoundedCollectList.bounded_collect(cols, names, cap)
  }

  def agg(cap: Int, inSchema: StructType): Agg = new Agg(cap, inSchema.fieldNames.toSeq)

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
    * when over the cap; any other plan costs ONE bounded-aggregate job.
    * Its partial buffers are per task and clear at their first overflow,
    * so an over-cap input ships a flag per task to the final merge, never
    * cap+1 rows.
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
