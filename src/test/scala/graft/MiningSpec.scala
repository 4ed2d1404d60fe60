package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.GraftPlanner

/** Round-9 mining additions: join-elimination soundness (positive + the
  * two negatives that MUST keep their join), the bucketed range join's
  * hash-join plan shape, triangle counting vs brute force, and walk
  * determinism/shape.
  */
class MiningSpec extends AnyFunSuite {
  private lazy val spark = SparkTestHarness.spark
  private val dir = SparkTestHarness.Sf0001

  private def optimized(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.optimizedPlan.toString

  test("q212: distinct-key left join is eliminated from the optimized plan") {
    val df = SparkEntry.queries("q212_join_elimination")(spark, dir)
    assert(!optimized(df).contains("Join"),
      s"join survived elimination:\n${optimized(df)}")
    // and the result is still the plain aggregate
    val got = df.collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val want = Tables.lineitem(spark, dir).groupBy("l_returnflag")
      .agg(count(lit(1)).as("n")).collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(got.view.mapValues(identity).toMap == want)
  }

  test("q212 installs its rule on a child session, never on the caller's") {
    val before = spark.experimental.extraOptimizations
    val df = SparkEntry.queries("q212_join_elimination")(spark, dir)
    assert(df.sparkSession ne spark)
    assert(spark.experimental.extraOptimizations == before)
  }

  test("join elimination negative: non-distinct right side keeps its join") {
    val s = GraftPlanner.session(spark, GraftPlanner.JoinElim)
    val li = Tables.lineitem(s, dir)
    // right side NOT distinct (raw orders keys, duplicated by status rows)
    val dim = Tables.orders(s, dir).select(col("o_orderkey"))
    val df = li.join(dim, li("l_orderkey") === dim("o_orderkey"), "left")
      .select(col("l_returnflag"))
    assert(optimized(df).contains("Join"), "unsound elimination: right not distinct")
  }

  test("join elimination negative: referenced right column keeps its join") {
    val s = GraftPlanner.session(spark, GraftPlanner.JoinElim)
    val li = Tables.lineitem(s, dir)
    val dim = Tables.orders(s, dir).select(col("o_orderkey")).distinct()
    val df = li.join(dim, li("l_orderkey") === dim("o_orderkey"), "left")
      .select(col("l_returnflag"), col("o_orderkey"))
    assert(optimized(df).contains("Join"), "unsound elimination: right col referenced")
  }

  test("q216: bucketed range join plans as hash join, not nested loop") {
    val df = SparkEntry.queries("q216_bucketed_range_join")(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), s"no hash join:\n${p.take(3000)}")
    // the 1-row bounds crossJoins plan as condition-less nested loops —
    // harmless; what must NOT exist is a nested loop carrying the range
    // predicate (that's the naive events×windows scan)
    assert(!p.linesIterator.exists(l =>
      l.contains("BroadcastNestedLoopJoin") && (l.contains("ws") || l.contains("we"))),
      "range predicate evaluated in a nested-loop join")
    // equivalence with the naive (nested-loop) range join
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("value"),
        expr("unix_micros(cast(ts as timestamp))").as("t"))
    val b = ev.agg(min("t").as("t0"), max("t").as("t1"))
    import spark.implicits._
    val wins = b.crossJoin(Seq.range(0, 24).toDF("win_id"))
      .select(col("win_id"),
        expr("t0 + (win_id * (t1 - t0)) div 24").as("ws"),
        expr("t0 + (win_id * (t1 - t0)) div 24 + (t1 - t0) div 16").as("we"))
    val naive = ev.crossJoin(broadcast(wins))
      .filter(col("t") >= col("ws") && col("t") < col("we"))
      .groupBy("win_id").agg(count(lit(1)).as("n_events"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).toMap
    val got = df.collect().map(r => (r.getInt(0), r.getLong(1))).toMap
    assert(got == naive)
  }

  test("triangle count matches brute force on the co-dependency projection") {
    // brute-force on the collected projection edge set (two packages
    // connect iff a provider satisfies a dependency of both — the graph
    // q211 runs on; the raw resolution graph is triangle-free)
    val re = queries.Resolution.resolvedEdges(spark, dir)
    val e = re.select(col("name").as("n1"), col("dep"))
      .join(re.select(col("name").as("n2"), col("dep")), Seq("dep"))
      .filter(col("n1") =!= col("n2"))
      .select(least(col("n1"), col("n2")), greatest(col("n1"), col("n2")))
      .distinct().collect().map(r => (r.getString(0), r.getString(1)))
    val adj = e.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val nodes = adj.keys.toSeq.sorted
    val brute = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    for {
      i <- nodes.indices; j <- (i + 1) until nodes.length
      if adj(nodes(i)).contains(nodes(j))
      k <- (j + 1) until nodes.length
      if adj(nodes(i)).contains(nodes(k)) && adj(nodes(j)).contains(nodes(k))
    } {
      brute(nodes(i)) += 1; brute(nodes(j)) += 1; brute(nodes(k)) += 1
    }
    val got = SparkEntry.queries("q211_triangle_count")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(2))).toMap
    assert(brute.values.sum > 0, "projection fixture must contain triangles")
    nodes.foreach { n =>
      assert(got(n) == brute(n), s"node $n: got ${got(n)} want ${brute(n)}")
    }
  }

  test("k-truss edges all carry support >= k-2, and the truss is a strict, nonempty subset") {
    val df = SparkEntry.queries("q224_ktruss")(spark, dir)
    val rows = df.collect()
    assert(rows.nonEmpty, "4-truss must be nonempty on the projection")
    assert(rows.forall(_.getLong(2) >= 2), "every truss edge needs support >= 2")
  }

  test("deterministic walks: one row per walker per step while out-edges exist, and re-run identical") {
    val edges = queries.Resolution.resolvedEdges(spark, dir)
    val seeds = Tables.packageNames(spark, dir)
      .filter(pmod(col("i"), lit(5)) === 0).select("name")
    val nSeeds = seeds.count()
    val w1 = operators.Walks.deterministicWalk(spark, edges, seeds, 4)
      .collect().map(r => (r.getString(0), r.getInt(2), r.getString(1))).sorted.toSeq
    // the fixture graph has out-edges everywhere → every step keeps all walkers
    (0 to 4).foreach { k =>
      assert(w1.count(_._2 == k) == nSeeds, s"step $k lost walkers")
    }
    val w2 = operators.Walks.deterministicWalk(spark, edges, seeds, 4)
      .collect().map(r => (r.getString(0), r.getInt(2), r.getString(1))).sorted.toSeq
    assert(w1 == w2, "walks not deterministic across runs")
  }

  test("winnowing guarantee: docs sharing a long substring share a fingerprint") {
    import spark.implicits._
    // two docs sharing a 40-char span, plus an unrelated doc
    val shared = "the quick brown fox jumps over lazy dogs"
    val docs = Seq(
      (1L, s"AAAA $shared BBBB"),
      (2L, s"CCCCCC $shared DDD"),
      (3L, "completely different content with no overlap at all zzzz"))
      .toDF("doc_id", "text")
    val grams = docs
      .select(col("doc_id"), col("text"),
        explode(expr("sequence(1, length(text) - 7)")).as("pos"))
      .select(col("doc_id"), col("pos"), length(col("text")).as("len"),
        expr("cast(conv(substring(md5(substring(text, pos, 8)), 1, 8), 16, 10) as bigint)").as("h"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
      .rowsBetween(org.apache.spark.sql.expressions.Window.currentRow, 3)
    val fp = grams.withColumn("minh", min("h").over(w))
      .filter(col("pos") <= col("len") - 7 - 3)
      .select(col("doc_id"), col("minh")).distinct()
      .collect().groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    assert((fp(1L) & fp(2L)).nonEmpty, "shared 40-char span produced no shared fingerprint")
    assert((fp(1L) & fp(3L)).isEmpty, "unrelated docs should not collide here")
  }
}
