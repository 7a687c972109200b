package org.apache.spark.sql

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Bridge between graft's native Catalyst expressions and the public
  * Column API. Lives in `org.apache.spark.sql` because the
  * Expression↔Column converters (`classic.ExpressionUtils`) are
  * `private[sql]` in Spark 4.x — the standard pattern for extension
  * libraries that add their own expressions. No Spark internals are
  * modified; this only re-exports the two converters. */
object GraftShim {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Register a function into an EXISTING session's registry —
    * `SparkSessionExtensions` only applies at session build time, and
    * `sessionState` is private[sql]. */
  def registerFunction(spark: SparkSession, name: FunctionIdentifier,
                       info: ExpressionInfo,
                       builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry.registerFunction(name, info, builder)

  /** The Hadoop configuration a write of this session starts from
    * (the context's, overlaid with the session's SQL confs). */
  def newHadoopConf(spark: SparkSession): org.apache.hadoop.conf.Configuration =
    spark.sessionState.newHadoopConf()
}
