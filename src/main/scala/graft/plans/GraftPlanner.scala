package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule

/** The one place the engine's runtime planner extensions go onto a session:
  * optimizer rule families through `experimental.extraOptimizations` (the
  * runtime twin of `SparkSessionExtensions.injectOptimizerRule`) and the
  * as-of join strategy through `experimental.extraStrategies`.
  *
  * A query names the families its plans depend on, and which ones it names
  * is part of what it tests: a negative-control session installs fewer.
  * Install is idempotent and order-free — the families on a session always
  * run in the one order of [[Order]], whatever order the calls came in, so
  * a plan never depends on which query or helper installed first.
  */
object GraftPlanner {
  sealed abstract class Family(private[plans] val rules: SparkSession => Seq[Rule[LogicalPlan]])
  /** Sketch-statistics join reorder, broadcast flip, fan-out veto and
    * partial-aggregate pushdown ([[SketchStats]]). */
  case object Sketch extends Family(_ => Seq(SketchStats.ReorderJoinsFromNdv(),
    SketchStats.BroadcastFromSketchStats(), SketchStats.VetoBroadcastOnFanout(),
    SketchStats.PushPartialAggThroughJoin()))
  /** Bucketed range-join rewrite ([[RangeJoinRewrite]]). */
  case object RangeJoin extends Family(_ => Seq(RangeJoinRewrite.BucketRangeJoin()))
  /** Distinct-key left-join elimination ([[JoinElimination]]). */
  case object JoinElim extends Family(_ => Seq(JoinElimination.EliminateDistinctKeyLeftJoin()))
  /** Aggregate-to-registered-summary routing ([[SummaryRouting]]). */
  case object Summary extends Family(s => Seq(SummaryRouting.RouteToSummary(s)))
  /** The [[AsOfJoinStrategy]], first in `extraStrategies`. */
  case object AsOf extends Family(_ => Nil)

  /** Run order of the optimizer families. */
  val Order: Seq[Family] = Seq(Sketch, RangeJoin, JoinElim, Summary)

  def install(spark: SparkSession, families: Family*): Unit = synchronized {
    val exp = spark.experimental
    val cur = exp.extraOptimizations
    def familyOf(r: Rule[LogicalPlan]): Option[Family] =
      Order.find(_.rules(spark).exists(_.getClass == r.getClass))
    val have = cur.flatMap(familyOf).toSet
    val want = Order.filter(f => have(f) || families.contains(f))
    if (want.size > have.size)
      exp.extraOptimizations = cur.filter(familyOf(_).isEmpty) ++ want.flatMap(_.rules(spark))
    if (families.contains(AsOf) && !exp.extraStrategies.contains(AsOfJoinStrategy))
      exp.extraStrategies = AsOfJoinStrategy +: exp.extraStrategies
  }

  /** A child of `s0` — same SparkContext and builder settings, none of its
    * runtime conf or rules — with `families` installed, so a query's rules
    * and knobs never leak into the caller's session. */
  def session(s0: SparkSession, families: Family*): SparkSession = {
    val s = s0.newSession()
    install(s, families: _*)
    s
  }
}
