package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.{Dataset => ClassicDataset, ExpressionUtils}
import org.apache.spark.sql.execution.{LogicalRDD, SQLExecution}
import org.apache.spark.storage.StorageLevel

/** Spark internals graft needs, re-exposed from this subpackage of
  * org.apache.spark.sql: the Column <-> Expression lift for graft's custom
  * Catalyst expressions (Spark 4 hides `Column(expr)` behind
  * `private[sql] ExpressionUtils`) and a lazy cut. No Spark internals are
  * modified.
  */
package object graftglue {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** `df`'s rows, computed by the first job that reads them and kept for
    * every later reader: a lazy localCheckpoint that keeps its lineage.
    * A lazy localCheckpoint truncates the lineage when its first job ends,
    * but the tasks of a concurrent job reading the same rows still carry
    * the old lineage's SQL metrics, which the driver may have garbage-
    * collected by the time they report ("Failed to update accumulator").
    * A persisted RDD keeps them reachable for as long as the frame is,
    * and recomputes a lost block instead of failing. Building the cut runs
    * no job; like Dataset.localCheckpoint it is an SQL execution, named
    * "cut", so QueryExecutionListeners see the plan that was cut.
    */
  def cut(df: DataFrame): DataFrame = {
    val ds = df.asInstanceOf[ClassicDataset[Row]]
    val qe = ds.queryExecution
    val rdd = SQLExecution.withNewExecutionId(qe, Some("cut")) {
      qe.executedPlan.execute().map(_.copy())
    }.persist(StorageLevel.MEMORY_AND_DISK)
    ClassicDataset.ofRows(ds.sparkSession, LogicalRDD.fromDataset(rdd, ds, isStreaming = false))
  }
}
