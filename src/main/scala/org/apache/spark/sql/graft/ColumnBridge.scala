package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge into Spark's `private[sql]` Column↔Expression converters, so the
  * engine's custom Catalyst expressions (graft.functions.expressions.*) can
  * surface as ordinary `Column`s. Lives in the org.apache.spark.sql package
  * by design — the documented pattern for Catalyst-level extensions that
  * don't go through SparkSessionExtensions registration.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}

/** Bridge into `private[sql]` Dataset construction from a logical plan, so
  * engine components that PARSE SQL (e.g. the MERGE INTO interpreter) can
  * turn sub-plans back into DataFrames and let the analyzer resolve temp
  * views and expressions the normal way.
  */
object PlanBridge {
  def ofRows(spark: org.apache.spark.sql.SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)
}

/** Bridge into `private[spark]` listener-bus draining: QueryExecutionListener
  * delivery is asynchronous (ExecutionListenerBus on the shared bus), so a
  * spec — or a metrics exporter flushing at shutdown — that reads
  * listener-written state right after an action needs a deterministic drain
  * instead of a sleep.
  */
object ListenerBridge {
  def waitUntilListenerBusEmpty(spark: org.apache.spark.sql.SparkSession,
                                timeoutMillis: Long = 30000L): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty(timeoutMillis)
}

/** Bridge into the `private[sql]` machinery Dataset actions run on, so an
  * engine materialization that is not a plain Dataset action (a bounded
  * collect, a counted checkpoint — [[graft.core.Checkpoints]]) still runs
  * as ONE tracked SQL execution and hands its rows back as ordinary frames.
  */
object ExecutionBridge {
  import org.apache.spark.rdd.RDD
  import org.apache.spark.sql.{DataFrame, Row}
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
  import org.apache.spark.sql.catalyst.types.DataTypeUtils
  import org.apache.spark.sql.classic.Dataset
  import org.apache.spark.sql.execution.{LogicalRDD, SQLExecution, SparkPlan}
  import org.apache.spark.sql.types.StructType

  private def classic(df: DataFrame): Dataset[Row] = df.asInstanceOf[Dataset[Row]]

  /** Run `body` over `df`'s executed physical plan inside one SQL
    * execution named `name` — the wrapper every Dataset action uses, so
    * query execution listeners, the SQL tab and planning-time trackers see
    * it like any collect.
    */
  def withAction[T](df: DataFrame, name: String)(body: SparkPlan => T): T = {
    val qe = classic(df).queryExecution
    SQLExecution.withNewExecutionId(qe, Some(name)) {
      qe.executedPlan.resetMetrics()
      body(qe.executedPlan)
    }
  }

  /** A frame over `rdd`, an already-computed copy of `df`'s rows — the
    * shape `Dataset.localCheckpoint` returns (partitioning, ordering and
    * statistics carried over from `df`).
    */
  def ofRdd(df: DataFrame, rdd: RDD[InternalRow]): DataFrame = {
    val ds = classic(df)
    Dataset.ofRows(ds.sparkSession, LogicalRDD.fromDataset(rdd, ds, ds.isStreaming))
  }

  /** A driver-local relation holding `rows` (catalyst rows matching
    * `schema`), with fresh attributes as `createDataFrame` gives — no job,
    * no block-store state, and no external-row conversion.
    */
  def ofLocalRows(spark: org.apache.spark.sql.SparkSession, schema: StructType,
                  rows: Seq[InternalRow]): DataFrame =
    Dataset.ofRows(spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      LocalRelation(DataTypeUtils.toAttributes(schema), rows))
}
