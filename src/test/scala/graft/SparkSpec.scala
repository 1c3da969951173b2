package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM-wide session —
  * ScalaTest suites run in the forked test JVM), built by the same
  * factory as Bench and Verify so the suite tests the engine they run.
  */
object TestSpark {
  lazy val spark: SparkSession = GraftSession.local()
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  lazy val sc = spark.sparkContext
}
