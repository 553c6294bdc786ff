package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into `private[sql]`/`private[spark]` surface: exposing custom
  * Catalyst expressions as `Column`s on Spark 4 (where `Column` wraps a
  * ColumnNode, not an Expression), and the nullable data schema a file
  * relation reads with. Standard pattern for Spark extension libraries.
  */
object GraftSqlBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  def ofRows(
      spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  def registerFunction(
      spark: SparkSession,
      ident: org.apache.spark.sql.catalyst.FunctionIdentifier,
      info: org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
      builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry.registerFunction(ident, info, builder)

  /** `schema` with every field, array element and map value nullable —
    * what `DataSource.resolveRelation` makes of an inferred file schema.
    */
  def asNullable(schema: types.StructType): types.StructType = schema.asNullable
}
