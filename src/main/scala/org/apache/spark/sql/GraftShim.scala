package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into the sql-private Column/Expression constructors, the
  * function registry and the session state. Same pattern public Spark
  * extensions use (cf. SNIPPETS.md [2]/[3]): a tiny shim compiled into
  * org.apache.spark.sql so custom Catalyst expressions are exposed as
  * user-facing Columns. */
object GraftShim {
  def column(e: Expression): Column =
    classic.ExpressionUtils.column(e)

  def expression(c: Column): Expression =
    classic.ExpressionUtils.expression(c)

  def registerFunction(spark: SparkSession, name: String,
                       builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[classic.SparkSession].sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "scala_udf")

  /** The session's Hadoop configuration (SparkContext's plus the session's
    * SQL conf): the one file sources list with, so a reader that opens the
    * listed files itself sees the same filesystem settings. */
  def hadoopConf(spark: SparkSession): org.apache.hadoop.conf.Configuration =
    spark.asInstanceOf[classic.SparkSession].sessionState.newHadoopConf()
}
