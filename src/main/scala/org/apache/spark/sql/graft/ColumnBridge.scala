package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{Dataset, ExpressionColumnNode, SparkSession => ClassicSession}

/** Column ⇄ Expression bridge for custom catalyst expressions.
  *
  * Spark 4 moved the Column↔Expression constructors behind private[sql]
  * (`ExpressionColumnNode`, `Column.apply`), so libraries shipping their
  * own codegen'd expressions host a small shim inside the
  * `org.apache.spark.sql` package — the established pattern for catalyst
  * extension libraries.
  *
  * Seam pin (Spark 4.1.2 — see [[graft.lake.SparkSeams]] for the full
  * internal-API inventory): `classic.ExpressionColumnNode(Expression)`
  * and `classic.SparkSession#expression(Column)`, plus
  * `classic.Dataset.ofRows(session, plan)` for running a rewritten parsed
  * plan (the SQL front door, [[graft.lake.LakeSql]]). All are `private[sql]`
  * members of the classic module; a signature change surfaces as a
  * compile error HERE, never as silent misbehavior downstream.
  */
object ColumnBridge {
  def column(e: Expression): Column = Column(ExpressionColumnNode(e))

  def expression(c: Column): Expression =
    SparkSession.active.asInstanceOf[ClassicSession].expression(c)

  /** A DataFrame over `plan`: analysed now, and executed now when it is a
    * command — what `spark.sql` does after parsing. */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    Dataset.ofRows(spark.asInstanceOf[ClassicSession], plan)
}
