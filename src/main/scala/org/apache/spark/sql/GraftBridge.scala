package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into Spark's private[sql] Column↔Expression conversions — the
  * standard pattern for libraries shipping custom Catalyst expressions
  * (Spark 4 moved Column to a ColumnNode facade with no public
  * Expression accessor).
  */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Register a scalar expression builder for SQL callers. */
  def registerFunction(spark: SparkSession, name: String,
      builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "scala_udf")

  /** DataFrame from a logical plan (Dataset.ofRows is private[sql]). */
  def ofRows(spark: SparkSession, plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Logical plan of a DataFrame. */
  def logicalPlan(df: DataFrame): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.queryExecution.analyzed

  /** Mutable copy of the session's function registry (for tests proving
    * extension injection without touching the live session).
    */
  def cloneFunctionRegistry(spark: SparkSession)
      : org.apache.spark.sql.catalyst.analysis.FunctionRegistry =
    spark.sessionState.functionRegistry.clone()

  /** private[sql] accessors on SparkSessionExtensions, surfaced for
    * extension-injection tests.
    */
  def plannerStrategies(e: SparkSessionExtensions, spark: SparkSession)
      : Seq[org.apache.spark.sql.execution.SparkStrategy] =
    e.buildPlannerStrategies(spark)

  def optimizerRules(e: SparkSessionExtensions, spark: SparkSession)
      : Seq[org.apache.spark.sql.catalyst.rules.Rule[
        org.apache.spark.sql.catalyst.plans.logical.LogicalPlan]] =
    e.buildOptimizerRules(spark)

  def applyExtensionFunctions(e: SparkSessionExtensions,
      reg: org.apache.spark.sql.catalyst.analysis.FunctionRegistry): Unit =
    e.registerFunctions(reg)

  /** Block until the listener bus has delivered every event posted so far
    * (`listenerBus` is private[spark]), so a listener has seen all of an
    * action's jobs, stages and tasks without a timed wait.
    */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  /** Whether an RDD holds local-checkpoint data (`isLocallyCheckpointed`
    * is private[spark]). Lets the bench sweep drop dead checkpoint
    * blocks between a query's paired runs WITHOUT touching
    * CacheManager-backed persisted frames — a locally-checkpointed RDD
    * is never plan-matched by a repeat execution (each localCheckpoint
    * call creates a fresh RDD), so its first-run blocks are pure
    * eviction pressure on the steady window.
    */
  def isLocallyCheckpointed(rdd: org.apache.spark.rdd.RDD[_]): Boolean =
    rdd.checkpointData.exists(
      _.isInstanceOf[org.apache.spark.rdd.LocalRDDCheckpointData[_]])

  /** The RDD behind a checkpointed DataFrame's LogicalRDD leaf, if any —
    * lets an iterative operator release a SUPERSEDED round's checkpoint
    * blocks as soon as the next round materializes (engine-side scoped
    * unpersist), instead of leaking every round's blocks until a
    * harness-level settle drains them.
    */
  def checkpointRdd(df: DataFrame): Option[org.apache.spark.rdd.RDD[_]] =
    df.queryExecution.analyzed.collectFirst {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
    }
}
