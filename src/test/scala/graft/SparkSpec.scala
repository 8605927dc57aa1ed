package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for specs. sf0.001 fixtures = smoke scale. */
trait SparkSpec extends AnyFunSuite with Matchers with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  val sf: String = "/root/testdata/sf0.001"
  val sf01: String = "/root/testdata/sf0.01"
}

object SparkSpec {
  // One session per JVM, shared across suites (sbt forks a single test
  // JVM): the driver's config (GraftSession) at a small width — sized
  // for sf0.01, which derives the AQE width to the 4 cores.
  lazy val session: SparkSession = {
    val s = GraftSession.builder(4, "/root/testdata/sf0.01")
      .appName("graft-test")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
