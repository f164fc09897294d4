package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local SparkSession across all suites (object = JVM-wide),
  * built like the driver surfaces' so the suites exercise the plans those
  * surfaces actually produce. */
object SparkTestBase {
  lazy val spark: SparkSession = LocalSession.build("4")
  val sf = "/root/testdata/sf0.001"
}

abstract class GraftSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.spark
  def sf: String = SparkTestBase.sf
}
