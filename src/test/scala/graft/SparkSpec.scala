package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM, forked by sbt). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  def sf(dir: String = "sf0.001"): String = s"/root/testdata/$dir"
}

object SparkSpec {
  // local[threads, maxFailures]: task retries on, so failure-injection specs
  // (ChaosSpec) can exercise recovery paths; a genuinely broken task still
  // fails the job after 4 attempts
  lazy val session: SparkSession =
    graft.engine.GraftSession("local[4,4]", partitions = 4, logLevel = "ERROR")
}
