package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM-wide session — Spark
  * getOrCreate dedups). sf0.001 testdata for smoke-scale checks. */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.session
  val sf: String = "/root/testdata/sf0.001"
}

object SparkTestBase {
  lazy val session: SparkSession = Session.local(4)
}
