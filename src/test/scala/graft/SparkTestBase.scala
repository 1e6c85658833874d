package graft

import graft.core.LocalSpark
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local SparkSession for the whole test JVM (Test/fork := true
  * gives the suite its own JVM; suites share the session lazily).
  */
object SparkTestBase {
  lazy val spark: SparkSession = {
    val s = LocalSpark.session("graft-test", 4)
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

abstract class SparkFunSuite extends AnyFunSuite {
  implicit lazy val spark: SparkSession = SparkTestBase.spark
}
