package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.{AsOfJoinStrategy, GraftPlanner}
import graft.plans.GraftPlanner._

/** The rule installer: the rules on a session are a function of WHICH
  * families were installed, never of the order or number of the calls. */
class GraftPlannerSpec extends AnyFunSuite {
  private lazy val spark = SparkTestHarness.spark

  private def rules(s: SparkSession): Seq[String] =
    s.experimental.extraOptimizations.map(_.getClass.getSimpleName)

  test("installing A then B equals installing B then A, for every pair of families") {
    for (a <- Order; b <- Order if a != b) {
      val ab = GraftPlanner.session(spark, a)
      GraftPlanner.install(ab, b)
      val ba = GraftPlanner.session(spark, b)
      GraftPlanner.install(ba, a)
      assert(rules(ab) == rules(ba), s"$a then $b")
    }
  }

  test("installing twice equals installing once") {
    val once = GraftPlanner.session(spark, (Order :+ AsOf): _*)
    val twice = GraftPlanner.session(spark, (AsOf +: Order.reverse): _*)
    GraftPlanner.install(twice, (Order :+ AsOf): _*)
    assert(rules(once) == rules(twice))
    assert(twice.experimental.extraStrategies.count(_ == AsOfJoinStrategy) == 1)
  }

  test("the run order is sketch rules, range join, join elimination, summary routing") {
    val s = GraftPlanner.session(spark, Summary, JoinElim, RangeJoin, Sketch)
    assert(rules(s) == Seq("ReorderJoinsFromNdv", "BroadcastFromSketchStats",
      "VetoBroadcastOnFanout", "PushPartialAggThroughJoin", "BucketRangeJoin",
      "EliminateDistinctKeyLeftJoin", "RouteToSummary"))
  }

  test("a child session's rules never reach its parent") {
    val parent = spark.newSession()
    GraftPlanner.session(parent, (Order :+ AsOf): _*)
    assert(parent.experimental.extraOptimizations.isEmpty)
    assert(!parent.experimental.extraStrategies.contains(AsOfJoinStrategy))
  }
}
