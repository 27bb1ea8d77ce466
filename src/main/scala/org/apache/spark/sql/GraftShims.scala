package org.apache.spark.sql

import org.apache.spark.SparkEnv
import org.apache.spark.io.CompressionCodec
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.internal.SQLConf

/** Bridge between graft's custom Catalyst expressions and the public Column
  * API. Spark 4 moved Column to a plan-agnostic ColumnNode representation;
  * the Expression<->Column converters live in `classic.ExpressionUtils`,
  * which is package-private to org.apache.spark.sql — hence this shim in the
  * Spark namespace (the established pattern for Spark-native libraries).
  * The row reader's two Spark-private needs sit here for the same reason.
  */
object GraftShims {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
  def ofRows(spark: SparkSession, plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Spark's block codec (`spark.io.compression.codec`), the one
    * `SparkPlan.executeToIterator` ships collected rows with. Callable on
    * the driver and in tasks. */
  def ioCodec(): CompressionCodec = CompressionCodec.createCodec(SparkEnv.get.conf)

  /** Runs `f` with `spark`'s SQL conf as the one `SQLConf.get` returns, so
    * conf-dependent planning (the datetime-Java8 switch of the external
    * type converters) follows that session, as its `Row` encoder does. */
  def withConfOf[T](spark: SparkSession)(f: => T): T =
    SQLConf.withExistingConf(spark.asInstanceOf[classic.SparkSession].sessionState.conf)(f)
}
