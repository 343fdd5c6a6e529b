package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into the `private[sql]` Column↔Expression converters — the
  * supported way to lift a custom Catalyst Expression into the public
  * Column algebra on Spark 4.x (where `new Column(expr)` no longer
  * exists; Columns wrap ColumnNodes).
  */
object GraftSql {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Eagerly convert a Column to its catalyst Expression.
    * `ExpressionUtils.expression` returns a lazy ColumnNodeExpression
    * wrapper whose ColumnNode is NOT serializable — fine inside plans
    * the analyzer rewrites, fatal when the expression is stored in a
    * custom operator and shipped to executors. */
  def catalystExpression(c: Column): Expression =
    classic.ColumnNodeToExpressionConverter.apply(c.node)

  /** Wrap a custom LogicalPlan into a DataFrame (classic.Dataset.ofRows
    * is private[sql]). */
  def ofRows(spark: SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** The shared state's Hadoop conf (private[sql]): the clone of the
    * context's conf that every `sessionState.newHadoopConf()` copies. */
  def sharedHadoopConf(spark: SparkSession): org.apache.hadoop.conf.Configuration =
    spark.asInstanceOf[classic.SparkSession].sharedState.hadoopConf

  /** `schema` with every field, nested ones too, nullable
    * (`StructType.asNullable` is private[spark]): the data schema a file
    * relation reads with, as `DataSource` hands it. */
  def asNullable(schema: types.StructType): types.StructType = schema.asNullable
}
