package graft.kgbench

import graft.ops.BoundedCollect
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** The pipeline's bounded-collect gate over the distinct (text, type)
  * surfaces, as `KgPipeline.runWithCleanup` applies it: the surfaces when
  * there are at most `cap` of them, else None. The aggregate is
  * `private[graft]`, hence this package.
  */
object Gate {
  def surfaces(distinct: DataFrame, cap: Int): Option[Seq[(String, String)]] = {
    val schema = StructType(Seq(
      StructField("text", StringType, nullable = true),
      StructField("entity_type", StringType, nullable = true)))
    val agg = BoundedCollect.agg(cap, schema)
    val row = distinct.agg(agg(col("text"), col("entity_type")).as("_s"))
      .select(col("_s.items").as("items"), col("_s.over").as("over")).head()
    if (row.getBoolean(1)) None
    else Some(row.getSeq[Row](0).map(r => (r.getString(0), r.getString(1))))
  }
}
