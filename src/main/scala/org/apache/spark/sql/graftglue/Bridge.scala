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
    classic(spark).internalCreateDataFrame(rdd, schema, isStreaming = false)

  /** The session's SQL conf, and a Hadoop conf built from it as
    * Spark's file sources build theirs. */
  def sqlConf(spark: org.apache.spark.sql.SparkSession)
  : org.apache.spark.sql.internal.SQLConf = classic(spark).sessionState.conf
  def hadoopConf(spark: org.apache.spark.sql.SparkSession)
  : org.apache.hadoop.conf.Configuration = classic(spark).sessionState.newHadoopConf()

  /** A file source's root paths as Spark resolves them: globs
    * expanded, a missing path failing with `[PATH_NOT_FOUND]`. */
  def globbedPaths(path: String, hadoopConf: org.apache.hadoop.conf.Configuration)
  : Seq[org.apache.hadoop.fs.Path] =
    org.apache.spark.sql.execution.datasources.DataSource.checkAndGlobPathIfNecessary(
      Seq(path), hadoopConf, checkEmptyGlobPath = true, checkFilesExist = true,
      enableGlobbing = true)

  def asNullable(schema: org.apache.spark.sql.types.StructType)
  : org.apache.spark.sql.types.StructType = schema.asNullable

  /** Spark's `[UNABLE_TO_INFER_SCHEMA]` error for a file format. */
  def unableToInferSchema(format: String): Throwable =
    org.apache.spark.sql.errors.QueryCompilationErrors.dataSchemaNotSpecifiedError(format)

  /** Spark's `[CANNOT_READ_FILE_FOOTER]` error. */
  def cannotReadFooter(file: org.apache.hadoop.fs.Path, e: Exception): Throwable =
    org.apache.spark.sql.errors.QueryExecutionErrors.cannotReadFooterForFileError(file, e)

  private def classic(spark: org.apache.spark.sql.SparkSession) =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]

  /** A fresh temporary directory that Spark deletes at JVM exit. */
  def tempDir(prefix: String): java.io.File =
    org.apache.spark.util.Utils.createTempDir(namePrefix = prefix)
}
