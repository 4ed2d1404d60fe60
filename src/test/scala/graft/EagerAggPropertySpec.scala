package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.GraftPlanner

/** Randomized equivalence property for the eager-aggregation pushdown
  * (Yan & Larson VLDB'95): over a seeded space of aggregate sets and
  * grouping choices, the rewritten plan must equal the plain plan
  * EXACTLY — not just on the handful of hand-picked shapes EagerAggSpec
  * pins. The fixture is adversarial by construction (duplicate dim keys,
  * null fact keys, null aggregate inputs, dangling keys both sides, a
  * unique ordering column for max_by/min_by) and every generated value
  * is integral, so even avg's double arithmetic is exact and equality is
  * deterministic. The property also checks the FIRE expectation: shapes
  * whose aggregates are all supported and whose grouping stays on priced
  * keys must rewrite; shapes with DISTINCT or an unpriced fanout must
  * not.
  */
class EagerAggPropertySpec extends AnyFunSuite {
  private lazy val spark = SparkTestHarness.spark

  import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join => LJoin}

  private def hasPartialAggBelowJoin(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.optimizedPlan.collect { case j: LJoin => j }.exists { j =>
      Seq(j.left, j.right).exists(_.collectFirst { case a: Aggregate => a }.nonEmpty)
    }

  private lazy val env: (org.apache.spark.sql.SparkSession, String) = {
    val s = GraftPlanner.session(spark, GraftPlanner.Sketch)
    val scratch = queries.StatsStore.scratchDir("graft_eagerprop")
    import s.implicits._
    val rnd = new scala.util.Random(42)
    val fact = (0 until 2500).map { i =>
      val k = if (rnd.nextInt(20) == 0) None else Some(rnd.nextInt(40).toLong)
      val v = if (rnd.nextInt(9) == 0) None else Some(rnd.nextInt(97).toLong)
      val w = if (rnd.nextInt(7) == 0) None else Some(rnd.nextInt(11).toLong)
      (k, v, w, i.toLong) // o = i: unique ordering
    }.toDF("k", "v", "w", "o")
    fact.write.parquet(s"$scratch/factp")
    val dim = ((0 until 50).map(d => (d.toLong, s"g${d % 5}")) ++
      (0 until 10).flatMap(d => Seq((d.toLong, s"g${d % 5}"), (d.toLong, s"g${d % 5}"))))
      .toDF("dk", "grp")
    dim.write.parquet(s"$scratch/dimp")
    val store = s"$scratch/stats"
    Seq(("factp", "k", 40L), ("factp", "w", 11L)).toDF("tbl", "col", "ndv_est")
      .coalesce(1).write.parquet(s"$store/column_ndv")
    Seq(("factp", 2500L)).toDF("tbl", "row_count")
      .coalesce(1).write.parquet(s"$store/table_rows")
    s.conf.set(graft.plans.SketchStats.DirKey, store)
    (s, scratch)
  }

  test("40 seeded (aggregates × grouping) shapes: rewritten == plain exactly; fire matches the pricing rule") {
    val (s, scratch) = env
    val sPlain = spark.newSession()
    // (column expression builder, supported-by-the-pushdown?)
    val pool: Seq[(Int, org.apache.spark.sql.Column, Boolean)] = Seq(
      (0, count(lit(1)).as("a0"), true),
      (1, count(col("w")).as("a1"), true),
      (2, sum(col("v")).as("a2"), true),
      (3, min(col("v")).as("a3"), true),
      (4, max(col("v")).as("a4"), true),
      (5, avg(col("v")).as("a5"), true),
      (6, avg(col("w")).as("a6"), true),
      (7, max_by(col("v"), col("o")).as("a7"), true),
      (8, min_by(col("v"), col("o")).as("a8"), true),
      (9, countDistinct(col("v")).as("a9"), false))
    // grouping choice → (columns, stays on priced keys?): grp and k are
    // priced (fanout 2500/40 ≥ 8); any grouping touching w drags w into
    // the key set (∏ndv = 440 → fanout < 8 → must bail)
    val groupings: Seq[(Seq[String], Boolean)] = Seq(
      (Seq("grp"), true), (Seq("k"), true), (Seq("grp", "k"), true),
      (Seq("w"), false), (Seq("grp", "w"), false))
    val rnd = new scala.util.Random(20260815)
    (1 to 40).foreach { caseId =>
      val aggs = rnd.shuffle(pool).take(1 + rnd.nextInt(4))
      val (gCols, priced) = groupings(rnd.nextInt(groupings.length))
      def q(ss: org.apache.spark.sql.SparkSession) = {
        // rebuild the aggregate columns on THIS session's frames
        val f = ss.read.parquet(s"$scratch/factp")
        val d = ss.read.parquet(s"$scratch/dimp")
        val pool2 = Map(
          0 -> count(lit(1)).as("a0"), 1 -> count(col("w")).as("a1"),
          2 -> sum(col("v")).as("a2"), 3 -> min(col("v")).as("a3"),
          4 -> max(col("v")).as("a4"), 5 -> avg(col("v")).as("a5"),
          6 -> avg(col("w")).as("a6"),
          7 -> max_by(col("v"), col("o")).as("a7"),
          8 -> min_by(col("v"), col("o")).as("a8"),
          9 -> countDistinct(col("v")).as("a9"))
        val cs = aggs.map(a => pool2(a._1))
        f.join(d, col("k") === col("dk"))
          .groupBy(gCols.map(col): _*)
          .agg(cs.head, cs.tail: _*)
          .orderBy(gCols.map(col): _*)
      }
      val rewritten = q(s)
      val plain = q(sPlain)
      val shouldFire = priced && aggs.forall(_._3)
      assert(hasPartialAggBelowJoin(rewritten) == shouldFire,
        s"case $caseId (aggs=${aggs.map(_._1)}, group=$gCols): expected fire=$shouldFire")
      assert(!hasPartialAggBelowJoin(plain), s"case $caseId: plain session rewrote")
      assert(rewritten.collect().toSeq === plain.collect().toSeq,
        s"case $caseId (aggs=${aggs.map(_._1)}, group=$gCols): rewritten != plain")
    }
  }
}
