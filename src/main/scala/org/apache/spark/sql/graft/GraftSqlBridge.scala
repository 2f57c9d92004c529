package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Bridge into `private[sql]` surface: building a DataFrame from a
  * custom LogicalPlan requires `Dataset.ofRows`, which Spark scopes to
  * the sql package tree. Sub-packaging is the standard technique used
  * by Spark extension libraries for exactly this hook.
  */
object GraftSqlBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  def analyzed(df: DataFrame): LogicalPlan = df.queryExecution.analyzed

  /** A child of `spark` (`cloneSession`, `private[sql]`): a copy of its
    * session state, conf included, over the same shared state, so a conf
    * set on the child never reaches `spark` and the two share one
    * `CacheManager`.
    */
  def cloneSession(spark: SparkSession): SparkSession =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].cloneSession()

  /** Waits until every listener has seen the events of the actions that
    * already ran (the bus is `private[spark]`).
    */
  def drainListeners(sc: org.apache.spark.SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Column → Catalyst Expression (Spark 4 removed Column.expr). */
  def expression(c: Column): org.apache.spark.sql.catalyst.expressions.Expression =
    org.apache.spark.sql.classic.ExpressionUtils.expression(c)

  /** Re-flag a BATCH DataFrame as a STREAMING one for a V1
    * `Source.getBatch` return value: the microbatch engine asserts
    * `isStreaming` on the batch it splices, and the standard
    * lake-source technique (what Delta's source does) is to wrap the
    * batch plan's RDD in a `LogicalRDD(isStreaming = true)` — the
    * library's whole read plan (pruned scan, MOR deletes, evolution
    * fold) executes unchanged inside the RDD, so the streaming facade
    * reuses ONE read path instead of reimplementing it.
    */
  def asStreaming(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val qe = df.queryExecution
    ofRows(spark, org.apache.spark.sql.execution.LogicalRDD(
      qe.analyzed.output, qe.toRdd, isStreaming = true)(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]))
  }

  /** The inverse, for a V1 `Sink.addBatch` input: the micro-batch
    * DataFrame the engine hands a sink carries `isStreaming` plans
    * that refuse batch writers, and the standard technique (what
    * Delta's V1 sink does) is to wrap the incremental execution's RDD
    * in a non-streaming `LogicalRDD` — the batch's rows execute
    * unchanged, and the result is an ordinary DataFrame the library's
    * batch write path accepts.
    */
  def asBatch(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val qe = df.queryExecution
    ofRows(spark, org.apache.spark.sql.execution.LogicalRDD(
      qe.analyzed.output, qe.toRdd, isStreaming = false)(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]))
  }
}
