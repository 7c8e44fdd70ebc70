package org.apache.spark.sql

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.types.StructType

/** Bridge from a raw Catalyst Expression to the public Column API (the
  * classic converter is `private[sql]`; this is the one sanctioned seam for
  * libraries that ship custom expressions without a session-level function
  * registry — see SparkSessionExtensions for the SQL-surface route). */
object GraftColumn {
  def of(e: Expression): Column = classic.ExpressionUtils.column(e)

  /** The Catalyst expression behind a Column (classic runtime). */
  def expr(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Eagerly CONVERT a Column's node tree to a real Catalyst expression
    * tree (UnresolvedFunction nodes and all) instead of the lazy opaque
    * `ColumnNodeExpression` wrapper [[expr]] produces. Required when the
    * expression is handed to the analyzer mid-resolution — a
    * function-registry builder returning the wrapper form dies at codegen
    * ("Cannot generate code for columnnodeexpression"), while this form
    * resolves in the analyzer's fixed point like any parsed expression. */
  def resolvedExpr(c: Column): Expression =
    classic.ColumnNodeToExpressionConverter.apply(c.node)

  /** A DataFrame over rows already held on the driver: a `LocalRelation`
    * plan, so its `collect` runs no Spark job. `rows` must match `schema`. */
  def localFrame(spark: SparkSession, schema: StructType, rows: Seq[InternalRow]): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession],
      LocalRelation(DataTypeUtils.toAttributes(schema), rows))

  /** `e` with NaN and -0.0 normalized (nested ones too), as Spark
    * normalizes join and grouping keys before comparing their bytes. */
  def normalizedKey(e: Expression): Expression =
    catalyst.optimizer.NormalizeFloatingNumbers.normalize(e)

  /** `df`'s rows as Catalyst rows: one execution of its plan, run as
    * `collect` runs it, with no conversion to external `Row`s. */
  def collectInternal(df: DataFrame): Seq[InternalRow] = {
    val qe = df.asInstanceOf[classic.Dataset[Row]].queryExecution
    execution.SQLExecution.withNewExecutionId(qe, Some("collect"))(
      qe.executedPlan.executeCollect().toSeq)
  }

  /** A fresh copy of the session's Hadoop configuration with its SQL
    * settings applied — what Spark's own file scans hand their readers. */
  def hadoopConf(spark: SparkSession): Configuration =
    spark.asInstanceOf[classic.SparkSession].sessionState.newHadoopConf()

  /** `schema` with every field, nested ones too, nullable: how Spark
    * reports the schema of a parquet source. */
  def asNullable(schema: StructType): StructType = schema.asNullable
}
