package org.apache.spark.sql

import org.apache.spark.sql.classic.{Dataset => CDataset, ExpressionUtils, SparkSession => CSparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/**
 * Minimal `private[sql]` bridge for graft's V1 streaming SINK, the SQL
 * DML rewrites and the scan's delete filter — the entire internal surface
 * graft touches. (The streaming
 * SOURCE rides the public DSv2 MicroBatchStream contract and needs no
 * shim.)
 */
object GraftStreamShim {
  /** For the V1 streaming sink: `Sink.addBatch` receives a
    * DataFrame whose plan is flagged streaming (batch writers refuse it).
    * Re-wrap its physical RDD as a batch plan so the normal distributed
    * write path (`df.write.parquet`) can execute it — rows flow straight
    * from the micro-batch scan into the write tasks, never to the driver. */
  def asBatchDF(df: DataFrame): DataFrame = {
    val cdf = df.asInstanceOf[CDataset[Row]]
    val session = cdf.sparkSession.asInstanceOf[CSparkSession]
    val qe = cdf.queryExecution
    CDataset.ofRows(session, LogicalRDD(qe.analyzed.output, qe.toRdd, isStreaming = false)(session))
  }

  /** Wrap an (already analyzed) logical plan as a DataFrame — used by the
    * SQL MERGE rewrite to hand the source relation to Dml.merge. */
  def dfFromPlan(spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    CDataset.ofRows(spark.asInstanceOf[CSparkSession], plan)

  /** A DataFrame's analyzed logical plan — used by the subquery-DELETE
    * lowering to splice the file-position scan under the condition. */
  def planOf(df: DataFrame): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[CDataset[Row]].queryExecution.analyzed

  /** A Catalyst expression as a Column — used by the scan to filter deleted
    * row positions with its own predicate. */
  def column(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    ExpressionUtils.column(e)
}
