package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Access bridge for `private[sql]` Spark internals that custom Catalyst
  * expressions need (the standard pattern for Spark extension libraries):
  * Column ↔ Expression conversion (Spark 4 moved it behind
  * `sql.classic.ExpressionUtils`) and the `AbstractDataType` used by
  * `ExpectsInputTypes`.
  */
object GraftSqlBridge {
  type AbstractDataType = org.apache.spark.sql.types.AbstractDataType

  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Wrap a (resolved) logical plan as a DataFrame — the entry point a
    * custom LogicalPlan operator needs (`Dataset.ofRows` is
    * `private[sql]`).
    */
  def ofRows(
      spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** A DataFrame over rows a plan has already produced, as internal rows
    * of `schema` — how an RDD persisted from `queryExecution.toRdd` is read
    * back (`internalCreateDataFrame` is `private[sql]`).
    */
  def ofInternalRows(
      spark: SparkSession,
      rows: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession].internalCreateDataFrame(rows, schema)

  /** Frees what `ds` holds: its cache entry, and the persisted RDD it
    * reads when its plan is a bare RDD scan — a local checkpoint or rows
    * read back through [[ofInternalRows]]. `Dataset.unpersist()` alone
    * frees nothing of those: their blocks hang off the plan's RDD, which
    * the cache manager never saw.
    */
  def release(ds: Dataset[_], blocking: Boolean = false): Unit = {
    ds.unpersist(blocking)
    ds.queryExecution.logical match {
      // through the context: `RDD.unpersist` would log a WARN per local
      // checkpoint that its lineage cannot be recomputed, which is what a
      // caller done with it wants
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.sparkContext.unpersistRDD(r.rdd.id, blocking)
      case _ =>
    }
  }

  /** The analyzed logical plan of a DataFrame (for building custom
    * operator nodes over existing frames).
    */
  def analyzed(df: DataFrame): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.queryExecution.analyzed

  /** The session's Hadoop configuration wrapped for task-side shipping
    * (`SerializableConfiguration` is `private[spark]`); pair with
    * [[unwrapHadoopConf]] on the executor. Falls back to defaults when no
    * session is active (e.g. driver-side unit construction).
    */
  def serializableHadoopConf(): java.io.Serializable =
    new org.apache.spark.util.SerializableConfiguration(
      SparkSession.getActiveSession.map(_.sparkContext.hadoopConfiguration)
        .getOrElse(new org.apache.hadoop.conf.Configuration()))

  def unwrapHadoopConf(c: java.io.Serializable): org.apache.hadoop.conf.Configuration =
    c.asInstanceOf[org.apache.spark.util.SerializableConfiguration].value

  /** The active session's Hadoop configuration (driver side). */
  def activeHadoopConf(): org.apache.hadoop.conf.Configuration =
    SparkSession.getActiveSession.map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new org.apache.hadoop.conf.Configuration())

  /** Neutral view of a predicate Column's node tree for metadata-level
    * evaluation (zone-map pruning): function applications, attribute
    * references, literals; anything else collapses to [[PredTree.Opaque]].
    * `ColumnNode` itself is `private[sql]`, hence this bridge.
    */
  sealed trait PredTree
  object PredTree {
    case class Fn(name: String, args: Seq[PredTree]) extends PredTree
    case class Attr(name: String) extends PredTree
    case class Lit(value: Any) extends PredTree
    case object Opaque extends PredTree
  }

  def predicateTree(c: Column): PredTree = {
    import org.apache.spark.sql.internal._
    def conv(n: ColumnNode): PredTree = n match {
      case f: UnresolvedFunction => PredTree.Fn(f.functionName, f.arguments.map(conv))
      case a: UnresolvedAttribute =>
        a.nameParts.lastOption.map(PredTree.Attr).getOrElse(PredTree.Opaque)
      case l: Literal => PredTree.Lit(l.value)
      case _ => PredTree.Opaque
    }
    conv(c.node)
  }

  private object PlanWalk extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

  /** Write `df` as parquet under `path` (error if it exists), hive-style
    * partitioned by `partitionBy`, planned and run as `df.write.partitionBy(…)
    * .parquet(path)` plans and runs it, and return the rows written: the
    * write command's `numOutputRows`, which the driver sums from the write
    * statistics of the committed tasks — exact, with no job and no read of
    * the written files. Throws if the executed plan holds no write node.
    */
  def writeParquet(df: DataFrame, path: String, partitionBy: Seq[String]): Long = {
    import org.apache.spark.sql.catalyst.plans.logical.CommandResult
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.execution.command.DataWritingCommandExec
    val w = df.write.mode(SaveMode.ErrorIfExists).format("parquet")
    val writer = (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
      .asInstanceOf[classic.DataFrameWriter[Row]]
    val session = df.sparkSession.asInstanceOf[classic.SparkSession]
    val qe = new QueryExecution(session, writer.saveCommand(Some(path)), df.queryExecution.tracker,
      shuffleCleanupMode = QueryExecution.determineShuffleCleanupMode(session.sessionState.conf))
    qe.assertCommandExecuted()
    // the command runs under AQE (CommandResult → AdaptiveSparkPlanExec →
    // ResultQueryStage → DataWritingCommandExec); the helper walks both
    val written = qe.commandExecuted match {
      case r: CommandResult => PlanWalk.collectFirst(r.commandPhysicalPlan) {
        case c: DataWritingCommandExec if c.cmd.metrics.contains("numOutputRows") =>
          c.cmd.metrics("numOutputRows").value
      }
      case _ => None
    }
    written.getOrElse(throw new IllegalStateException(
      s"no write command with numOutputRows in the plan that wrote $path"))
  }

  /** Block until the listener bus has delivered every event posted so far
    * (the bus is `private[spark]`): listener events arrive asynchronously,
    * so task metrics read before this can miss the last tasks of an
    * action that already returned.
    */
  def drainListeners(sc: org.apache.spark.SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Register a function builder under a name in the session registry. */
  def registerFunction(
      spark: SparkSession,
      name: String,
      builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "scala_udf")
}
