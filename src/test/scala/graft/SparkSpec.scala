package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The one local SparkSession every suite shares, built by the same factory
  * as the mains: each suite runs the engine's optimizer rules and SQL
  * functions, whatever the suite order.
  */
object TestSpark {
  lazy val spark: SparkSession = GraftSession("local[4]", 4)
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
}
