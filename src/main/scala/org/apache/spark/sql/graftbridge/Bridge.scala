package org.apache.spark.sql.graftbridge

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** Spark 4 removed the public Column(Expression) constructor; the supported
  * bridge (ExpressionUtils) is private[sql], so this shim lives under the sql
  * package — the standard pattern for Catalyst-extending libraries.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Register a SQL function on a LIVE session (sessionState is private[sql],
    * hence bridged here). Same builder shape SparkSessionExtensions uses, so
    * the extensions path and the runtime path register identical functions.
    */
  def registerFunction(
      spark: SparkSession,
      ident: org.apache.spark.sql.catalyst.FunctionIdentifier,
      info: org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
      builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry.registerFunction(ident, info, builder)

  /** `df` materialized eagerly into an RDD persisted at `level`, planned as
    * the LogicalRDD an eager `localCheckpoint` returns (output partitioning
    * and ordering kept, so consumers stay exchange-free) — but with the
    * lineage intact: a local checkpoint whose blocks were dropped cannot
    * recompute, this frame can. `LogicalRDD.fromDataset` is private[sql].
    */
  def persisted(df: DataFrame, level: StorageLevel): (DataFrame, RDD[_]) = {
    val ds = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[Row]]
    val rdd = ds.queryExecution.toRdd.map(_.copy()).persist(level)
    rdd.count()
    val plan = LogicalRDD.fromDataset(rdd, ds, isStreaming = false)
    (org.apache.spark.sql.classic.Dataset.ofRows(ds.sparkSession, plan), rdd)
  }
}
