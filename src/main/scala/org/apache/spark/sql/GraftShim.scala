package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge to the private[sql] Column ↔ Expression converters — the
  * standard technique for libraries that ship native Catalyst
  * expressions against Spark 4's split Column API. */
object GraftShim {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** The value of a `lit(...)` column (None for any other column). */
  def literalValue(c: Column): Option[Any] = c.node match {
    case internal.Literal(v, _, _) => Some(v)
    case _ => None
  }

  /** `s` with every field, element and value nullable, as a file
    * source's data schema is. */
  def asNullable(s: types.StructType): types.StructType = s.asNullable

  /** Build a DataFrame from a (possibly custom) logical plan. */
  def ofRows(spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** The analyzed logical plan of a DataFrame (for composing custom
    * logical nodes from already-resolved children). */
  def analyzed(df: DataFrame): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.queryExecution.analyzed

  /** Apply an extensions instance's injected functions to a registry —
    * lets a spec exercise the spark.sql.extensions wiring without a new
    * SparkContext (the extensions conf is STATIC: with a shared test
    * context, Builder options can't turn it on). */
  def registerFunctions(ext: SparkSessionExtensions,
      reg: org.apache.spark.sql.catalyst.analysis.FunctionRegistry): Unit =
    ext.registerFunctions(reg)
}
