package graft

import org.scalatest.funsuite.AnyFunSuite

/** The session factory's settings, pinned key by key: Bench, Verify, the
  * dev loop and the tests all run on exactly this configuration. */
class GraftSessionSpec extends AnyFunSuite {
  private val benchSettings = Seq(
    "spark.master" -> "local[4]",
    "spark.sql.shuffle.partitions" -> "4",
    "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.scheduler.mode" -> "FAIR",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.ui.enabled" -> "false")

  test("factory settings are Bench's, key by key") {
    assert(GraftSession.settings(4) == benchSettings)
  }

  test("the shared test session carries every factory setting plus its one test-only key") {
    val conf = SparkTestHarness.spark.sparkContext.getConf
    benchSettings.foreach { case (k, v) => assert(conf.get(k) == v, k) }
    assert(conf.get("graft.checkpoint.validateClaim") == "true")
  }

  test("bounded-window warnings are demoted to ERROR, other loggers keep WARN") {
    SparkTestHarness.spark
    def level(name: String) = org.apache.logging.log4j.LogManager.getLogger(name).getLevel
    assert(level("org.apache.spark.sql.execution.window.WindowExec") ==
      org.apache.logging.log4j.Level.ERROR)
    assert(level("org.apache.spark.sql.execution.SparkPlan") ==
      org.apache.logging.log4j.Level.WARN)
  }
}
