package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared ScalaTest base: one local SparkSession per suite (SURVEY §5.2 M0). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  val sf0001 = "/root/testdata/sf0.001"
  val sf001 = "/root/testdata/sf0.01"
  val sf01 = "/root/testdata/sf0.1"
}

object SparkSpec {
  /** Threads of the shared session. */
  val Cpus = 4

  /** Shared across suites — sbt forks one JVM for all tests; building one
    * session avoids 10s of startup per suite. */
  lazy val session: SparkSession = LocalSession(Cpus)
}
