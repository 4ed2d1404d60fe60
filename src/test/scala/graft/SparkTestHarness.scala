package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (Spark boot is ~5 s; suites
  * reuse it), built by the same factory as Verify and Bench.
  */
object SparkTestHarness {
  lazy val spark: SparkSession = GraftSession.create(cores = 4, extra = Seq(
    // every claimed checkpoint cut any suite drives re-hashes a
    // per-partition sample through the claim's own partitionIdExpression,
    // so an unsound partitioning claim fails its suite instead of mis-joining
    "graft.checkpoint.validateClaim" -> "true"))
  val Sf0001 = "/root/testdata/sf0.001"
}
