package graft

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.plans.GraftPlanner

/** The custom as-of join operator (graft.plans.AsOfJoin) against three
  * independent definitions of the semantics: the q23 window form on real
  * fixture events, a brute-force in-memory model over generated data
  * (empty sides, duplicate timestamps, keys present on only one side),
  * and the plan shape (the operator itself plans, no Window, one exchange
  * per side).
  */
class AsOfJoinSpec extends AnyFunSuite {
  private lazy val spark = SparkTestHarness.spark
  private val dir = SparkTestHarness.Sf0001

  test("custom operator equals the q23 window form on fixture events") {
    def rows(name: String) =
      SparkEntry.queries(name)(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.get(2).toString, r.get(3).toString))
        .toSet
    assert(rows("q111_asof_custom") === rows("q23_purchase_asof_view"))
    assert(rows("q111_asof_custom").nonEmpty)
  }

  test("matches the brute-force model on generated data") {
    import spark.implicits._
    val pair = Gen.zip(Gen.choose(0L, 6L), Gen.choose(0L, 40L))
    val gen = Gen.zip(Gen.listOf(pair), Gen.listOf(pair))
    (0 until 20).foreach { i =>
      val (l, r0) = gen(Gen.Parameters.default, Seed(i.toLong))
        .getOrElse((Nil, Nil))
      val r = r0.distinct
      val left = l.zipWithIndex.map { case ((k, t), j) => (j.toLong, k, t) }
        .toDF("lid", "k", "t")
      val right = r.toDF("rk", "rt")
      val got = Graft.asofJoin(left, right, "k", "rk", "t", "rt")
        .select("lid", "rt").collect().map(x => (x.getLong(0), x.getLong(1))).toSet
      val want = l.zipWithIndex.flatMap { case ((k, t), j) =>
        val cand = r.filter(p => p._1 == k && p._2 <= t)
        if (cand.isEmpty) None else Some((j.toLong, cand.map(_._2).max))
      }.toSet
      assert(got === want, s"seed $i: custom as-of diverges from the model")
    }
  }

  test("composite keys: matches the brute-force model on (k1, k2)") {
    import spark.implicits._
    val trip = Gen.zip(Gen.choose(0L, 3L), Gen.oneOf("a", "b"), Gen.choose(0L, 30L))
    val gen = Gen.zip(Gen.listOf(trip), Gen.listOf(trip))
    (0 until 10).foreach { i =>
      val (l, r0) = gen(Gen.Parameters.default, Seed(100L + i)).getOrElse((Nil, Nil))
      val r = r0.distinct
      val left = l.zipWithIndex.map { case ((k1, k2, t), j) => (j.toLong, k1, k2, t) }
        .toDF("lid", "k1", "k2", "t")
      val right = r.toDF("rk1", "rk2", "rt")
      val got = plansAsOf(left, right)
        .select("lid", "rt").collect().map(x => (x.getLong(0), x.getLong(1))).toSet
      val want = l.zipWithIndex.flatMap { case ((k1, k2, t), j) =>
        val cand = r.filter(p => p._1 == k1 && p._2 == k2 && p._3 <= t)
        if (cand.isEmpty) None else Some((j.toLong, cand.map(_._3).max))
      }.toSet
      assert(got === want, s"seed ${100 + i}: composite-key as-of diverges")
    }
  }

  /** Two-key as-of through the logical node directly (the facade's single
    * string-key signature is a convenience; the operator is N-key).
    */
  private def plansAsOf(left: org.apache.spark.sql.DataFrame,
      right: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    GraftPlanner.install(spark, GraftPlanner.AsOf)
    val lp = left.queryExecution.analyzed
    val rp = right.queryExecution.analyzed
    def a(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, n: String) =
      p.output.find(_.name == n).get
    org.apache.spark.sql.graftbridge.PlanBridge.ofRows(spark,
      graft.plans.AsOfJoin(lp, rp,
        Seq(a(lp, "k1"), a(lp, "k2")), Seq(a(rp, "rk1"), a(rp, "rk2")),
        a(lp, "t"), a(rp, "rt")))
  }

  test("unmatched keys drop; empty right side yields empty result") {
    import spark.implicits._
    val left = Seq((1L, 10L, 5L), (2L, 20L, 5L), (3L, 10L, 2L)).toDF("lid", "k", "t")
    val right = Seq((10L, 3L), (10L, 9L)).toDF("rk", "rt")
    val m = Graft.asofJoin(left, right, "k", "rk", "t", "rt")
      .select("lid", "rt").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // lid 1: rt=3 (9 is in the future); lid 2: key 20 absent → drops;
    // lid 3: t=2 precedes every right row → drops
    assert(m === Set((1L, 3L)))
    val none = Graft.asofJoin(left, Seq.empty[(Long, Long)].toDF("rk", "rt"),
      "k", "rk", "t", "rt")
    assert(none.count() === 0L)
  }

  test("mismatched pre-partitioning re-co-partitions instead of mis-zipping") {
    import spark.implicits._
    // left arrives already hash-partitioned on the key with a partition
    // count different from the session default: EnsureRequirements must
    // re-co-partition (or align) the sides — a silent zip of misaligned
    // partitions would drop matches
    val l = (0L until 40L).map(i => (i, i % 7, i % 13)).toDF("lid", "k", "t")
      .repartition(7, col("k"))
    val r = (0L until 60L).map(i => (i % 7, i % 11)).distinct.toDF("rk", "rt")
      .repartition(3, col("rk"))
    val got = Graft.asofJoin(l, r, "k", "rk", "t", "rt")
      .select("lid", "rt").collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    val want = (0L until 40L).flatMap { i =>
      val (k, t) = (i % 7, i % 13)
      val cand = (0L until 60L).map(j => (j % 7, j % 11)).distinct
        .filter(p => p._1 == k && p._2 <= t)
      if (cand.isEmpty) None else Some((i, cand.map(_._2).max))
    }.toSet
    assert(got === want)
  }

  test("the operator plans itself: AsOfJoin node present, no Window") {
    val df = SparkEntry.queries("q111_asof_custom")(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("AsOfJoin"), s"custom node missing from plan:\n${p.take(1500)}")
    assert(!p.contains("Window"), "as-of through the operator must not plan a Window")
  }

  test("duplicate column names across sides are rejected") {
    val docs = Tables.documents(spark, dir)
    intercept[IllegalArgumentException] {
      Graft.asofJoin(docs, docs, "doc_id", "doc_id", "n_chars", "n_chars")
    }
  }

  test("a duplicate name WITHIN a side is ambiguous, not first-match") {
    import spark.implicits._
    // two attributes named "k" on the left — binding must refuse, never
    // silently pick whichever duplicate comes first in the output
    val left = Seq((1L, 2L, 10L)).toDF("a", "b", "t")
      .select(col("a").as("k"), col("b").as("k"), col("t"))
    val right = Seq((1L, 5L)).toDF("rk", "rt")
    val ex = intercept[IllegalArgumentException] {
      Graft.asofJoin(left, right, "k", "rk", "t", "rt")
    }
    assert(ex.getMessage.contains("ambiguous"))
  }
}
