package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** The one deliberate reach into Spark's private[sql] surface: Column
  * lost its public Expression constructor in Spark 4, so wrapping a
  * custom Catalyst Expression as a user-facing Column requires an
  * in-package bridge (`classic.ExpressionUtils.column`); the same
  * bridge exposes the few other private[sql] helpers the engine reuses
  * instead of copying. Everything else stays on public API.
  */
object GraftExpressionBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Wrap an InternalRow RDD as a DataFrame without the external-Row
    * conversion round-trip (SparkSession.internalCreateDataFrame is
    * private[sql]).
    */
  def internalCreateDataFrame(
      spark: SparkSession,
      rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession].internalCreateDataFrame(rdd, schema)

  /** `e` normalized as a join normalizes its keys (-0.0 = 0.0, one NaN,
    * through structs and arrays; other types unchanged). */
  def normalizeJoinKey(e: Expression): Expression =
    catalyst.optimizer.NormalizeFloatingNumbers.normalize(e)
}
