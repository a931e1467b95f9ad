package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for suites: one local SparkSession per JVM. */
object TestSpark {
  /** A fixed 4 threads, so results do not depend on the host's cores. */
  lazy val spark: SparkSession = LocalSession(4)
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
}
