package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites (one JVM under Test/fork): the harness
  * session Verify and Bench run on, so tests plan queries as they do.
  * Four cores, not `SPARK_GRAFT_CPUS`, so test plans do not depend on
  * the machine's core count. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.harness(cores = 4)

  val sf = "/root/testdata/sf0.001"
}
