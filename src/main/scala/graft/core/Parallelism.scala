package graft.core

import org.apache.spark.sql.SparkSession

object Parallelism {
  /** Partition count of a CPU-bound stage fed by a shuffle of small rows
    * (detect's sentences, the dedup posting lists). It must be explicit
    * (r6, guide §2.2/§2.5): a bare repartition(col) or a groupBy lets AQE
    * coalesce by SHUFFLE BYTES, and such rows are tiny — at bench scale
    * the detect stage was coalesced to ONE task and the dedup pair stage
    * to two, leaving cores idle behind the CPU-bound work. A
    * `repartition(width, cols)` is never coalesced. Derived from the
    * session (max of cluster cores and the configured shuffle width),
    * never a constant: locally that is the core count; on a real cluster
    * whatever parallelism the session is provisioned for.
    */
  def width(spark: SparkSession): Int =
    math.max(
      spark.sparkContext.defaultParallelism,
      spark.conf.get("spark.sql.shuffle.partitions", "200").toInt)
}
