package org.apache.spark.sql.graftbridge

import org.apache.spark.{SparkConf, SparkContext}
import org.apache.spark.sql.Column
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.StructType

/** Spark 4 removed the public Column(Expression) constructor; the supported
  * bridge (ExpressionUtils) is private[sql], so this shim lives under the sql
  * package — the standard pattern for Catalyst-extending libraries.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** The live conf of the active SparkContext (`SparkContext.conf` is
    * private[spark]; `getConf` returns a copy). */
  def activeContextConf: Option[SparkConf] = SparkContext.getActive.map(_.conf)

  /** `schema` with every field, element and value nullable: the schema a
    * parquet read of a frame with `schema` returns (`asNullable` is
    * private[spark]). */
  def nullable(schema: StructType): StructType = schema.asNullable

  /** A new directory under `java.io.tmpdir`, deleted when the JVM exits
    * (Spark's `Utils.createTempDir`, which is private[spark]). */
  def tempDir(prefix: String): java.io.File =
    org.apache.spark.util.Utils.createTempDir(namePrefix = prefix)

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
}
