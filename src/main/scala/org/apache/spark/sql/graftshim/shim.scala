package org.apache.spark.sql.graftshim

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/**
 * Minimal bridge into Spark's `private[sql]` Column↔Expression converters,
 * the standard pattern for Catalyst extension libraries (Column in Spark 4
 * wraps a ColumnNode; plan-side Expressions need this hop).
 */
object Shim {
  def col(e: Expression): Column = ExpressionUtils.column(e)
  def expr(c: Column): Expression = ExpressionUtils.expression(c)

  /**
   * Release the block-manager copy behind a `localCheckpoint`ed Dataset.
   * `graft.operators.Fixpoint` materializes a new generation per round and
   * releases the superseded one through this; without it every superseded
   * generation's blocks linger until GC — bounded by round count, but at
   * web scale each generation is the full edge set. ONLY safe on a table
   * nothing still references: a local checkpoint has no lineage to
   * recompute from, so unpersisting a live one loses data (the loop
   * releases generation k−1 only after k is eagerly materialized and the
   * convergence probe has read both). No-op on plans that aren't a
   * materialized checkpoint.
   */
  def unpersistLocalCheckpoint(df: org.apache.spark.sql.DataFrame): Unit =
    df match {
      case d: org.apache.spark.sql.classic.Dataset[_] =>
        d.queryExecution.analyzed match {
          case l: org.apache.spark.sql.execution.LogicalRDD =>
            l.rdd.unpersist(blocking = false)
          case _ => ()
        }
      case _ => ()
    }
}
