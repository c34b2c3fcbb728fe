package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one per suite, lazy). */
trait SparkSpecBase extends AnyFunSuite {
  // a fixed 4, never SPARK_GRAFT_CPUS: the test command sets that to nproc
  lazy val spark: SparkSession = GraftSession(4, getClass.getSimpleName)

  val sfDir = "/root/testdata/sf0.001"
}
