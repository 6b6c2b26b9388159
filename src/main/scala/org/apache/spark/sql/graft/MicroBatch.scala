package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.classic.{Dataset => CDataset, SparkSession => CSparkSession}

/** `private[sql]` access shim for the V1 streaming-sink contract: the
  * DataFrame handed to `Sink.addBatch` carries the STREAMING logical plan,
  * so any derived transformation re-enters the batch analyzer and fails
  * with "Queries with streaming sources must be executed with
  * writeStream.start()". The sanctioned escape (what Delta's `DeltaSink`
  * does through `IncrementalExecution`) is to re-wrap the already-planned
  * physical RDD as a plain batch frame — no re-analysis, no extra
  * ser/deser. Downstream actions re-execute that RDD; the graft tail's
  * partitions are deterministic, so multi-action consumers (the merge)
  * stay correct.
  */
object MicroBatch {
  def rebase(data: DataFrame): DataFrame = {
    val ds = data.asInstanceOf[CDataset[Row]]
    val spark = ds.sparkSession.asInstanceOf[CSparkSession]
    spark.internalCreateDataFrame(ds.queryExecution.toRdd, ds.schema, isStreaming = false)
  }
}

/** `private[sql]` access shim for Column ↔ Catalyst Expression and
  * LogicalPlan → DataFrame conversions (the classic-API internals the
  * SQL-DML rewrite and the key-predicate victim pruning need).
  */
object Internals {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.SparkSession
  import org.apache.spark.sql.catalyst.expressions.Expression
  import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
  import org.apache.spark.sql.classic.ExpressionUtils

  /** the Catalyst expression behind a classic Column (unresolved form) */
  def expr(c: Column): Expression = ExpressionUtils.expression(c)

  /** wrap a Catalyst expression as a classic Column */
  def column(e: Expression): Column = ExpressionUtils.column(e)

  /** a DataFrame over an analyzed/analyzable logical plan */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    CDataset.ofRows(spark.asInstanceOf[CSparkSession], plan)

  /** A session for an engine-internal plan that needs its own SQL settings
    * (a storage-partitioned join, broadcasts off): a clone of `spark` with
    * `confs` set on the clone only. The caller's session, and every plan
    * planned on it meanwhile, keeps its own settings; the clone shares the
    * caller's SparkContext and cache.
    */
  def withConfs(spark: SparkSession, confs: Map[String, String]): SparkSession = {
    val c = spark.asInstanceOf[CSparkSession].cloneSession()
    confs.foreach { case (k, v) => c.conf.set(k, v) }
    c
  }

  /** `df`'s analyzed plan as a DataFrame of `spark` (planned and run with
    * that session's settings)
    */
  def rebind(df: DataFrame, spark: SparkSession): DataFrame =
    ofRows(spark, df.asInstanceOf[CDataset[Row]].queryExecution.analyzed)

  /** `private[spark]` listener-bus drain: block until queued task-end
    * events are delivered, so a per-query metrics listener reads a
    * complete set (Bench's input-metrics accounting).
    */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
