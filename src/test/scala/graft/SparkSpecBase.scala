package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM per forked test run). */
object TestSpark {
  lazy val spark: SparkSession = {
    // the mains' shared settings (driver-side index listing, UTC, ...)
    // on four cores
    val s = LocalSpark.builder(LocalSpark.settings(
      Seq("spark.app.name" -> "graft-test"), cores = "4")).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf: String = "/root/testdata/sf0.001"
}

abstract class SparkSpecBase extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  val sf: String = TestSpark.sf
}
