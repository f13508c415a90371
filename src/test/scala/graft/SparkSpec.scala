package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one per forked test JVM). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = {
    // the shipped session, same as Verify/Bench — regressions in the
    // injected extension rules surface in every suite
    val s = Session.builder(4)
      .appName("graft-test")
      .config("spark.sql.warehouse.dir", "/tmp/graft-warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def ts(epochSeconds: Long): java.sql.Timestamp =
    new java.sql.Timestamp(epochSeconds * 1000L)
}
