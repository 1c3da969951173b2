package org.apache.spark.sql.graftglue

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column <-> Expression bridge. Spark 4 made these converters
  * private[sql]; extension libraries reach them from an in-package
  * object (the established pattern for session-extension authors).
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Build a DataFrame from already-catalyst rows without the
    * external Row round-trip (the path Spark's own sources use). */
  def internalCreateDataFrame(spark: org.apache.spark.sql.SparkSession,
                              rdd: org.apache.spark.rdd.RDD[
                                org.apache.spark.sql.catalyst.InternalRow],
                              schema: org.apache.spark.sql.types.StructType)
  : org.apache.spark.sql.DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rdd, schema, isStreaming = false)

  /** A fresh temporary directory that Spark deletes at JVM exit. */
  def tempDir(prefix: String): java.io.File =
    org.apache.spark.util.Utils.createTempDir(namePrefix = prefix)
}
