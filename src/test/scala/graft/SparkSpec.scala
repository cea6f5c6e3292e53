package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for all suites (sbt forks one JVM for tests),
  * built from the engine's session profile. */
object TestSession {
  lazy val spark: SparkSession = {
    val s = GraftSession.builder("local[4]", shufflePartitions = "4",
      warehouseDir = Some("/tmp/graft_test_warehouse")).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSession.spark
  lazy val sf: String = "/root/testdata/sf0.001"
}
