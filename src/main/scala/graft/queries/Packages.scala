package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Graft, Tables}

/** Package-metadata semantics (SURVEY.md §1.1, §2.2 P5, §2.3 J6/J7, §2.4 A5,
  * §7 M2) — the reference's distinctive layer: version-ordered records,
  * dependency resolution, transitive closure, orphan detection, and the
  * key-value index-parsing shape of its ingest path (APKINDEX-style
  * stanzas, `/root/reference/README.md:1`; fetch-then-cache evidence
  * `/root/reference/.vscode/settings.json:9`).
  *
  * Version ordering runs through the custom Catalyst expressions
  * `version_compare` / `version_sort_key` (graft.functions) — the sort-key
  * form keeps ordering native (shuffle/sort on a plain string key) instead
  * of a comparator UDF, which is what survives a 100 TB sort. The fixture
  * versions are derived arithmetically from `p_partkey` (Tables.packages),
  * so the DuckDB oracle reproduces the SAME ordering from parsed numeric
  * segments — the custom expression is judged against an independent
  * derivation, not against itself.
  *
  * Scale notes: closure (q33) is the one driver-side loop in the engine
  * (SURVEY.md §3.1): per-iteration `localCheckpoint` cuts lineage, the
  * frontier is deduplicated by min-depth before the next join, and edges
  * are cached once — the standard distributed-BFS shape.
  */
object Packages {
  type QFn = (SparkSession, String) => DataFrame

  /** Shared DuckDB derivation of the packages view (mirrors Tables.packages
    * exactly; `%` == pmod for the positive p_partkey domain).
    */
  private val PkgCte =
    """pkg AS (
      | SELECT p_partkey AS pkg_id,
      |  'pkg-' || lpad(CAST(p_partkey % 60 AS VARCHAR), 2, '0') AS name,
      |  CAST(p_partkey % 4 + 1 AS VARCHAR) || '.' || CAST((p_partkey*7) % 13 AS VARCHAR)
      |    || '.' || CAST((p_partkey*13) % 7 AS VARCHAR) || '-r' || CAST(p_partkey % 5 + 1 AS VARCHAR) AS version,
      |  CASE WHEN p_partkey % 2 = 0 THEN 'x86_64' ELSE 'aarch64' END AS arch,
      |  p_partkey % 4 + 1 AS vmaj, (p_partkey*7) % 13 AS vmin,
      |  (p_partkey*13) % 7 AS vpat, p_partkey % 5 + 1 AS vrel
      | FROM part)""".stripMargin

  /** DuckDB derivation of the depends edges (mirrors Tables.dependsEdges). */
  private val EdgeCte =
    """idx AS (SELECT DISTINCT p_partkey % 60 AS i FROM part),
      |ed AS (
      | SELECT 'pkg-' || lpad(CAST(i AS VARCHAR), 2, '0') AS name,
      |        'pkg-' || lpad(CAST((i*7 + 3) % 60 AS VARCHAR), 2, '0') AS dep FROM idx
      | UNION
      | SELECT 'pkg-' || lpad(CAST(i AS VARCHAR), 2, '0') AS name,
      |        'pkg-' || lpad(CAST((i*3 + 11) % 60 AS VARCHAR), 2, '0') AS dep FROM idx)""".stripMargin

  /** Derived release snapshot k of the packages view (q89/Scd2Spec):
    * every 23rd record retired on a rotating offset, revisions of
    * pkg_id%3!=0 records bumped per k; snapshot 0 is the current view.
    */
  /** ONE definition of the snapshot mutation rules, shared by the per-k and
    * the all-snapshots derivations so they cannot drift (review finding):
    * retirement drops every 23rd record on a rotating offset; the revision
    * bumps per snapshot for pkg_id % 3 != 0 records.
    */
  private def snapKeeps(snap: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    pmod(col("pkg_id") + snap, lit(23)) =!= 0
  private def snapVersion(snap: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    concat(substring_index(col("version"), "-r", 1), lit("-r"),
      (lit(1) + pmod(col("pkg_id") + snap * pmod(col("pkg_id"), lit(3)), lit(5)))
        .cast("string"))

  private[graft] def snapshotK(s: SparkSession, dir: String, k: Int): DataFrame =
    Tables.packages(s, dir)
      .filter(snapKeeps(lit(k)))
      .select(col("pkg_id"), col("name"),
        snapVersion(lit(k)).as("version"),
        lit(k).as("snap"))

  /** The snapshots-0..3 SCD2 history, materialized once per (session, dir)
    * — three judged queries consume it (q89 rebuild, q106 as-of read,
    * q110 merge base), which is exactly the production shape: ONE history
    * artifact, many readers.
    */
  private[graft] def historyFrame(s: SparkSession, dir: String): DataFrame =
    Memo.memoized("scd2history", s, dir) {
      Graft.scd2History(snapshots(s, dir, 3), 3)
    }

  /** All snapshots 0..maxK in ONE pass: a generator explode of the
    * snapshot counter replaces maxK+1 unioned scans of the same parquet —
    * at 100 TB that's the difference between reading the catalog once and
    * reading it per release. Row-for-row identical to unioning
    * [[snapshotK]] over 0..maxK (Scd2Spec pins it).
    */
  private[graft] def snapshots(s: SparkSession, dir: String, maxK: Int): DataFrame =
    Tables.packages(s, dir)
      .withColumn("snap", explode(expr(s"sequence(0, $maxK)")))
      .filter(snapKeeps(col("snap")))
      .select(col("pkg_id"), col("name"),
        snapVersion(col("snap")).as("version"),
        col("snap").cast("int").as("snap"))

  val queries: Seq[(String, QFn)] = Seq(
    // A5/W1 + custom expression — latest version per package name.
    "q30_latest_package_version" -> { (s, dir) =>
      Tables.packages(s, dir)
        .groupBy("name")
        .agg(
          expr("max_by(version, version_sort_key(version))").as("latest_version"),
          countDistinct("version").as("n_versions"),
          count(lit(1)).as("n_records"))
        .orderBy("name")
    },

    // Pure-SQL endpoint (VERDICT r7 item 5): the whole query — including
    // the CUSTOM Catalyst expressions version_sort_key / version_compare —
    // arrives as an ANSI SQL string over a registered view, the way pkg2
    // served ad-hoc HTTP queries (SURVEY.md §1.1). Same engine surface as
    // q30's DataFrame form plus a version_compare threshold count, proving
    // the FunctionRegistry path end-to-end: a reference user could POST
    // this text without touching the DataFrame API.
    "q132_sql_endpoint" -> { (s, dir) =>
      Tables.packages(s, dir).createOrReplaceTempView("v_packages")
      s.sql("""
        SELECT name,
               max_by(version, version_sort_key(version)) AS latest_version,
               count(DISTINCT version) AS n_versions,
               sum(CASE WHEN version_compare(version, '3.0.0-r1') >= 0
                        THEN 1 ELSE 0 END) AS n_ge_3
        FROM v_packages
        GROUP BY name
        ORDER BY name""")
    },

    // Security-advisory scan — the security-tracker view every package
    // site serves ("which packages have an open CVE, is the candidate
    // fixed"): an advisory exists for every 5th name, carrying a severity
    // and a FIXED-IN version (the shape Debian DSAs / Alpine secdb
    // publish). A shipped record is affected iff its version orders
    // strictly below the fix; the installed candidate is the catalog
    // latest (q30's pick), vulnerable iff still below the fix. The fix
    // version rides the same arithmetic as the catalog (fmaj = the name's
    // constant major, +1 for odd names — so roughly half the advisories
    // are unfixable-by-upgrade and stay vulnerable: both branches real).
    // One catalog scan + broadcast advisory join; version_compare is the
    // codegen'd comparator on both the affected filter and the verdict.
    "q134_security_advisories" -> { (s, dir) =>
      val adv = Tables.packageNames(s, dir)
        .filter(pmod(col("i"), lit(5)) === 2)
        .select(col("name"),
          element_at(array(lit("low"), lit("high"), lit("critical")),
            (pmod(col("i"), lit(3)) + 1).cast("int")).as("severity"),
          concat((pmod(col("i"), lit(4)) + 1 + pmod(col("i"), lit(2))).cast("string"),
            lit("."), pmod(col("i") * 7, lit(13)).cast("string"), lit(".0"))
            .as("fix_version"))
      val pk = Tables.packages(s, dir)
      val latest = pk.groupBy("name")
        .agg(expr("max_by(version, version_sort_key(version))").as("installed_version"))
      val affected = pk.join(broadcast(adv), "name")
        .filter(expr("version_compare(version, fix_version) < 0"))
        .groupBy("name").agg(countDistinct("version").as("n_affected_versions"))
      adv.join(latest, "name")
        .join(affected, Seq("name"), "left")
        .select(col("name"), col("severity"), col("fix_version"),
          col("installed_version"),
          (expr("version_compare(installed_version, fix_version)") < 0)
            .cast("int").as("vulnerable"),
          coalesce(col("n_affected_versions"), lit(0L)).as("n_affected_versions"))
        .orderBy("name")
    },

    // License-compatibility audit over the dependency graph — the SBOM
    // compliance check ("can I ship this"): a permissively-licensed
    // package (mit/apache) that depends on a copyleft one (gpl) is a
    // license leak the legal review flags. Per-name license is constant
    // by construction (pkg_id ≡ name-index mod 3, exactly the extras-map
    // derivation q96 aggregates). Two broadcast-sized dimension joins on
    // the name-edge list; at 100x the edge list is the big side and both
    // license lookups broadcast.
    "q135_license_compat" -> { (s, dir) =>
      val lic = Tables.packageNames(s, dir)
        .select(col("name"),
          element_at(array(lit("mit"), lit("gpl"), lit("apache")),
            (pmod(col("i"), lit(3)) + 1).cast("int")).as("license"))
      Tables.dependsEdges(s, dir)
        .join(lic, "name")
        .join(lic.select(col("name").as("dep"), col("license").as("dep_license")),
          "dep")
        .groupBy("name", "license").agg(
          count(lit(1)).as("n_deps"),
          sum(when(col("dep_license") === "gpl" && col("license") =!= "gpl", 1)
            .otherwise(0)).cast("long").as("n_copyleft_leaks"),
          array_join(sort_array(collect_list(
            when(col("dep_license") === "gpl" && col("license") =!= "gpl",
              col("dep")))), ",").as("leak_deps"))
        .withColumn("clean", (col("n_copyleft_leaks") === 0L).cast("int"))
        .orderBy("name")
    },

    // Repo pinning — apt_preferences candidate selection: the same package
    // name is served by several repos (stable/updates/backports, derived
    // deterministically from pkg_id), each with a pin priority; the
    // installer's candidate is the highest-PIN version, with the version
    // ORDER breaking ties only within a priority tier — so a newer
    // backports version loses to an older stable one (`pin_overrode`
    // marks exactly those names). One hash aggregation: both picks are
    // max_by over struct sort keys (pin, version_sort_key, pkg_id) riding
    // the native comparator — no window, no second shuffle.
    "q108_repo_pinning" -> { (s, dir) =>
      // repo keyed on pkg_id div 60 — the per-name version counter — so a
      // name's versions SPREAD across repos (pkg_id % k for k | 60 would
      // pin each name to one repo and make the query degenerate)
      val idx = (pmod(expr("pkg_id div 60"), lit(3)) + 1).cast("int")
      val r = Tables.packages(s, dir)
        .withColumn("repo", element_at(
          array(lit("stable"), lit("updates"), lit("backports")), idx))
        .withColumn("pin", element_at(array(lit(990), lit(500), lit(100)), idx))
      r.groupBy("name")
        .agg(
          expr("max_by(struct(version, repo), struct(pin, version_sort_key(version), pkg_id))").as("cand"),
          expr("max_by(version, struct(version_sort_key(version), pkg_id))").as("newest_version"),
          countDistinct("repo").as("n_repos"))
        .select(col("name"),
          col("cand.version").as("candidate_version"),
          col("cand.repo").as("candidate_repo"),
          col("newest_version"),
          (col("cand.version") =!= col("newest_version")).cast("int").as("pin_overrode"),
          col("n_repos"))
        .orderBy("name")
    },

    // SCD2 version history — the "what did the repo look like at release
    // k" dimension a package database keeps: four successive snapshots of
    // the packages view (snapshot 0 = current; later ones retire every
    // 23rd record on a rotating offset and bump revisions of pkg_id%3!=0
    // records) collapsed into validity intervals per record key. Classic
    // gaps-and-islands: one window shuffle keyed pkg_id (lag + running
    // sum), then one aggregation per island — a presence GAP closes an
    // interval even when the version returns unchanged. At 100 TB you'd
    // build this incrementally (MERGE per arriving snapshot); the full
    // rebuild here is the backfill path, and it's one shuffle end-to-end.
    "q89_scd2_history" -> { (s, dir) =>
      historyFrame(s, dir)
        .orderBy("pkg_id", "valid_from")
    },

    // The INCREMENTAL history path, judged end-to-end: snapshots 0..3 are
    // rebuilt (q89's backfill), then snapshot 4 arrives and is MERGED —
    // one full-join shuffle of the open-interval set against the arrival,
    // the steady-state operation at 100 TB where re-reading every past
    // release per arrival is unaffordable. The oracle knows nothing of the
    // merge: it rebuilds the full five-snapshot gaps-and-islands history
    // in SQL, so the hash match proves merge == rebuild on real data (the
    // Scd2Spec cases pin the gap/bump/extend transitions individually).
    "q110_scd2_merge" -> { (s, dir) =>
      val merged = Graft.scd2Merge(historyFrame(s, dir),
        snapshotK(s, dir, 4).select("pkg_id", "name", "version"), 4)
      merged.orderBy("pkg_id", "valid_from")
    },

    // Time-travel read (the flip side of q89's history build): the catalog
    // as of snapshot 2, read THROUGH the SCD2 validity intervals. The
    // oracle never touches the history — it re-derives snapshot 2 straight
    // from the raw arithmetic — so the hash match proves interval reads
    // reproduce the original snapshot exactly (the time-travel guarantee).
    "q106_asof_read" -> { (s, dir) =>
      Graft.asOf(historyFrame(s, dir), 2).orderBy("pkg_id")
    },

    // Temporal diff BETWEEN two as-of instants — "what changed between
    // release 1 and release 3", answered through the SCD2 history alone
    // (two interval reads + one full outer join on the record key; the
    // raw snapshots are never rescanned). The oracle re-derives both
    // snapshots straight from the generating arithmetic, so the hash
    // match proves as-of reads COMPOSE: history → T1, history → T3, and
    // their diff all reproduce the raw-snapshot truth. Unchanged rows are
    // dropped (the diff a changelog renders); at 100 TB that filter is
    // the point — the diff is proportional to churn, not catalog size.
    "q227_scd2_diff" -> { (s, dir) =>
      val t1 = Graft.asOf(historyFrame(s, dir), 1)
        .select(col("pkg_id"), col("name").as("n1"), col("version").as("v_before"))
      val t3 = Graft.asOf(historyFrame(s, dir), 3)
        .select(col("pkg_id"), col("name").as("n3"), col("version").as("v_after"))
      t1.join(t3, Seq("pkg_id"), "full_outer")
        .withColumn("change",
          when(col("n1").isNull, "added")
            .when(col("n3").isNull, "removed")
            .when(col("v_before") =!= col("v_after"), "changed")
            .otherwise("unchanged"))
        .filter(col("change") =!= "unchanged")
        .select(col("pkg_id"), coalesce(col("n1"), col("n3")).as("name"),
          col("v_before"), col("v_after"), col("change"))
        .orderBy("pkg_id")
    },

    // Semantic-version bump classification — the changelog view a package
    // site renders per name ("2 major, 5 minor, 1 patch release in this
    // range"): distinct versions ordered by the ecosystem sort key, each
    // consecutive step classified major/minor/patch/revision by FIRST
    // differing component. The engine classifies by string-splitting real
    // version text in sort-key order; the oracle re-derives both the
    // ordering and the classification from the generating integer tuples
    // — the parse AND the custom ordering judged against independent
    // arithmetic. One window pass over the distinct catalog.
    "q199_version_bumps" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val pk = Tables.packages(s, dir).select("name", "version").distinct()
      val w = Window.partitionBy("name").orderBy(expr("version_sort_key(version)"))
      pk.withColumn("prev", lag("version", 1).over(w))
        .filter(col("prev").isNotNull)
        .withColumn("bump",
          when(expr("split(version, '[.]')[0] != split(prev, '[.]')[0]"), "major")
            .when(expr("split(version, '[.]')[1] != split(prev, '[.]')[1]"), "minor")
            .when(expr("split(split(version, '-')[0], '[.]')[2] != split(split(prev, '-')[0], '[.]')[2]"), "patch")
            .otherwise("revision"))
        .groupBy("name")
        .agg(count(lit(1)).as("n_steps"),
          sum(when(col("bump") === "major", 1L).otherwise(0L)).as("n_major"),
          sum(when(col("bump") === "minor", 1L).otherwise(0L)).as("n_minor"),
          sum(when(col("bump") === "patch", 1L).otherwise(0L)).as("n_patch"),
          sum(when(col("bump") === "revision", 1L).otherwise(0L)).as("n_revision"))
        .orderBy("name")
    },

    // SQL SCRIPTING endpoint (Spark 4's BEGIN…END compound statements,
    // SqlScriptingExecution) — the third leg of the ad-hoc text surface
    // beside q132 (plain SQL + custom functions) and q180 (recursive
    // CTE): a script DECLAREs a session variable, computes a data-derived
    // threshold into it with one statement, and the final SELECT consumes
    // it — the parameterized-report shape an HTTP query endpoint serves.
    // The oracle re-derives the same report with a plain scalar subquery,
    // so the scripting machinery (variable scope, compound execution,
    // last-statement result) is what the hash match proves.
    "q198_sql_scripting" -> { (s, dir) =>
      s.conf.set("spark.sql.scripting.enabled", "true")
      Tables.packages(s, dir).createOrReplaceTempView("v_pkg_script")
      s.sql("""
        BEGIN
          DECLARE avg_n BIGINT DEFAULT 0;
          SET avg_n = (SELECT count(*) div count(DISTINCT name) FROM v_pkg_script);
          SELECT name, count(*) AS n_records, avg_n AS threshold
          FROM v_pkg_script
          GROUP BY name, avg_n
          HAVING count(*) >= avg_n
          ORDER BY name;
        END""")
    },

    // Temporal (duration-weighted) aggregation over the SCD2 history —
    // the query layer a temporal database puts ON TOP of validity
    // intervals (q89 builds them, q106 reads one instant; this reads the
    // whole timeline): per name, how many snapshot-units each interval
    // covered and the TIME-WEIGHTED mean revision, where an interval's
    // weight is its duration — a revision that survived 3 snapshots
    // counts 3×. All integer arithmetic (durations are snapshot counts,
    // revision parses from the version string on the engine side while
    // the oracle re-derives it from the generating arithmetic — the
    // parse is judged against an independent derivation). One aggregation
    // over the memoized history frame; no new shuffle shape.
    "q188_temporal_weighted" -> { (s, dir) =>
      val h = historyFrame(s, dir)
        .withColumn("dur", (col("valid_to") - col("valid_from") + 1).cast("long"))
        .withColumn("rel", expr("cast(substring_index(version, '-r', -1) as bigint)"))
      h.groupBy("name")
        .agg(countDistinct("pkg_id").as("n_records"),
          count(lit(1)).as("n_intervals"),
          sum("dur").as("covered_snaps"),
          sum(col("rel") * col("dur")).as("rel_mass"))
        .withColumn("twa_rel_x1000", expr("rel_mass * 1000 div covered_snaps"))
        .select("name", "n_records", "n_intervals", "covered_snaps", "twa_rel_x1000")
        .orderBy("name")
    },

    // P5 constraint predicate + A5 per group — versions satisfying >= 2.6.0-r1.
    "q31_version_constraint_stats" -> { (s, dir) =>
      Tables.packages(s, dir)
        .groupBy("arch")
        .agg(
          count(lit(1)).as("n_total"),
          sum(when(expr("version_compare(version, '2.6.0-r1')") >= 0, 1L).otherwise(0L)).as("n_satisfying"),
          expr("max_by(version, version_sort_key(version))").as("max_version"),
          expr("min_by(version, version_sort_key(version))").as("min_version"))
        .orderBy("arch")
    },

    // J6 dependency resolution with a version constraint: a dep resolves iff
    // some version of the target >= 2.0.0 exists.
    "q32_depends_resolution" -> { (s, dir) =>
      val resolvable = Tables.packages(s, dir)
        .filter(expr("version_compare(version, '2.0.0-r0')") >= 0)
        .select(col("name").as("dep")).distinct()
      Tables.dependsEdges(s, dir)
        .join(resolvable, Seq("dep"), "left_semi")
        .groupBy("name")
        .agg(count(lit(1)).as("n_resolved"))
        .orderBy("name")
    },

    // J7 transitive dependency closure — BFS from pkg-00 with min-depth
    // dedup, cycle-safe (edges are cyclic by construction), lineage cut per
    // iteration. The one intentional driver-side loop in the engine.
    "q33_dependency_closure" -> { (s, dir) =>
      val edges = Tables.dependsEdges(s, dir).cache()
      val out = _root_.graft.operators.Closure.reachable(s, edges, "pkg-00")
      edges.unpersist()
      out
    },

    // J5 anti-join — orphan packages: names nothing depends on.
    "q34_orphan_packages" -> { (s, dir) =>
      Tables.packages(s, dir)
        .join(Tables.dependsEdges(s, dir).select(col("dep").as("name")).distinct(),
          Seq("name"), "left_anti")
        .groupBy("name")
        .agg(countDistinct("version").as("n_versions"), count(lit(1)).as("n_records"))
        .orderBy("name")
    },

    // §2.8 map ops on the PACKAGE record's open metadata map (VERDICT r3
    // item 7 — the q39 shape on packages instead of events): element_at
    // lookups, key-presence tests, and map_keys cardinality over a map
    // whose key set varies per record (`section` only on even pkg_ids).
    "q71_package_extras" -> { (s, dir) =>
      Tables.packages(s, dir)
        .withColumn("license", element_at(col("extras"), "license"))
        .withColumn("has_section", element_at(col("extras"), "section").isNotNull)
        .groupBy("license")
        .agg(
          count(lit(1)).as("n_records"),
          sum(col("has_section").cast("long")).as("n_with_section"),
          countDistinct(element_at(col("extras"), "maintainer")).as("n_maintainers"),
          sum(size(map_keys(col("extras"))).cast("long")).as("total_keys"),
          countDistinct(when(col("has_section"), element_at(col("extras"), "section"))).as("n_sections"))
        .orderBy("license")
    },

    // S4 ingest shape — render APKINDEX-style K:V stanzas and parse them
    // back with regexp extraction (the reference's index-parse path as
    // relational expressions; the same expressions run over
    // spark.read.text of a real index dump).
    "q35_kv_stanza_roundtrip" -> { (s, dir) =>
      val stanza = Tables.packages(s, dir).select(
        concat(lit("P:"), col("name"), lit("\n"),
          lit("V:"), col("version"), lit("\n"),
          lit("A:"), col("arch")).as("stanza"))
      stanza.select(
          regexp_extract(col("stanza"), "P:([^\n]+)", 1).as("name"),
          regexp_extract(col("stanza"), "V:([^\n]+)", 1).as("version"),
          regexp_extract(col("stanza"), "A:([^\n]+)", 1).as("arch"))
        .groupBy("arch")
        .agg(countDistinct("name").as("n_names"), countDistinct("version").as("n_versions"),
          count(lit(1)).as("n_stanzas"))
        .orderBy("arch")
    })

  /** stripMargin runs BEFORE CTE substitution: the CTE bodies contain `||`
    * at line starts, which a second stripMargin would corrupt.
    */
  private def sub(sql: String): String =
    sql.replace("--PKG--", PkgCte).replace("--ED--", EdgeCte)

  /** --PKG--/--ED-- substitution for sibling modules (Advanced's retention
    * audit re-derives the same SCD2 history) — ONE copy of the package
    * CTE, so a fixture change cannot desynchronize oracles.
    */
  private[queries] def subFor(sql: String): String = sub(sql)

  val oracles: Seq[(String, String)] = Seq(
    "q30_latest_package_version" -> sub("""WITH --PKG--,
        |ranked AS (
        | SELECT name, version,
        |  row_number() OVER (PARTITION BY name ORDER BY vmaj DESC, vmin DESC, vpat DESC, vrel DESC) AS rn
        | FROM pkg)
        |SELECT p.name, r.version AS latest_version,
        | count(DISTINCT p.version) AS n_versions, count(*) AS n_records
        |FROM pkg p JOIN ranked r ON p.name = r.name AND r.rn = 1
        |GROUP BY p.name, r.version
        |ORDER BY p.name""".stripMargin),

    "q132_sql_endpoint" -> sub("""WITH --PKG--,
        |ranked AS (
        | SELECT name, version,
        |  row_number() OVER (PARTITION BY name ORDER BY vmaj DESC, vmin DESC, vpat DESC, vrel DESC) AS rn
        | FROM pkg)
        |SELECT p.name, r.version AS latest_version,
        | count(DISTINCT p.version) AS n_versions,
        | CAST(sum(CASE WHEN (p.vmaj, p.vmin, p.vpat, p.vrel) >= (3, 0, 0, 1)
        |          THEN 1 ELSE 0 END) AS BIGINT) AS n_ge_3
        |FROM pkg p JOIN ranked r ON p.name = r.name AND r.rn = 1
        |GROUP BY p.name, r.version
        |ORDER BY p.name""".stripMargin),

    "q134_security_advisories" -> sub("""WITH --PKG--,
        |idx AS (SELECT DISTINCT p_partkey % 60 AS i FROM part),
        |adv AS (
        | SELECT 'pkg-' || lpad(CAST(i AS VARCHAR), 2, '0') AS name,
        |  CASE i % 3 WHEN 0 THEN 'low' WHEN 1 THEN 'high' ELSE 'critical' END AS severity,
        |  CAST(i % 4 + 1 + i % 2 AS VARCHAR) || '.' || CAST((i*7) % 13 AS VARCHAR) || '.0' AS fix_version,
        |  i % 4 + 1 + i % 2 AS fmaj, (i*7) % 13 AS fmin
        | FROM idx WHERE i % 5 = 2),
        |latest AS (
        | SELECT name, version AS installed_version, vmaj, vmin, vpat
        | FROM pkg
        | QUALIFY row_number() OVER (PARTITION BY name
        |   ORDER BY vmaj DESC, vmin DESC, vpat DESC, vrel DESC) = 1),
        |aff AS (
        | SELECT p.name, count(DISTINCT p.version) AS n_affected_versions
        | FROM pkg p JOIN adv a USING (name)
        | WHERE (p.vmaj, p.vmin, p.vpat) < (a.fmaj, a.fmin, 0)
        | GROUP BY p.name)
        |SELECT a.name, a.severity, a.fix_version, l.installed_version,
        | CAST((l.vmaj, l.vmin, l.vpat) < (a.fmaj, a.fmin, 0) AS INTEGER) AS vulnerable,
        | COALESCE(f.n_affected_versions, 0) AS n_affected_versions
        |FROM adv a
        |JOIN latest l USING (name)
        |LEFT JOIN aff f USING (name)
        |ORDER BY a.name""".stripMargin),

    "q135_license_compat" -> sub("""WITH --ED--,
        |lic AS (
        | SELECT 'pkg-' || lpad(CAST(i AS VARCHAR), 2, '0') AS name,
        |  CASE i % 3 WHEN 0 THEN 'mit' WHEN 1 THEN 'gpl' ELSE 'apache' END AS license
        | FROM idx)
        |SELECT e.name, l.license,
        | count(*) AS n_deps,
        | CAST(sum(CASE WHEN d.license = 'gpl' AND l.license <> 'gpl' THEN 1 ELSE 0 END) AS BIGINT) AS n_copyleft_leaks,
        | COALESCE(string_agg(CASE WHEN d.license = 'gpl' AND l.license <> 'gpl' THEN e.dep END, ','
        |   ORDER BY CASE WHEN d.license = 'gpl' AND l.license <> 'gpl' THEN e.dep END), '') AS leak_deps,
        | CAST(sum(CASE WHEN d.license = 'gpl' AND l.license <> 'gpl' THEN 1 ELSE 0 END) = 0 AS INTEGER) AS clean
        |FROM ed e
        |JOIN lic l ON l.name = e.name
        |JOIN lic d ON d.name = e.dep
        |GROUP BY e.name, l.license
        |ORDER BY e.name""".stripMargin),

    "q108_repo_pinning" -> sub("""WITH --PKG--,
        |r AS (
        | SELECT p.*,
        |  CASE (pkg_id // 60) % 3 WHEN 0 THEN 'stable' WHEN 1 THEN 'updates' ELSE 'backports' END AS repo,
        |  CASE (pkg_id // 60) % 3 WHEN 0 THEN 990 WHEN 1 THEN 500 ELSE 100 END AS pin
        | FROM pkg p),
        |c AS (
        | SELECT name, version AS candidate_version, repo AS candidate_repo
        | FROM r QUALIFY row_number() OVER (PARTITION BY name
        |   ORDER BY pin DESC, vmaj DESC, vmin DESC, vpat DESC, vrel DESC, pkg_id DESC) = 1),
        |nw AS (
        | SELECT name, version AS newest_version
        | FROM r QUALIFY row_number() OVER (PARTITION BY name
        |   ORDER BY vmaj DESC, vmin DESC, vpat DESC, vrel DESC, pkg_id DESC) = 1),
        |nr AS (SELECT name, count(DISTINCT repo) AS n_repos FROM r GROUP BY name)
        |SELECT c.name, c.candidate_version, c.candidate_repo, nw.newest_version,
        | CAST(c.candidate_version <> nw.newest_version AS INTEGER) AS pin_overrode,
        | nr.n_repos
        |FROM c JOIN nw USING (name) JOIN nr USING (name)
        |ORDER BY c.name""".stripMargin),

    "q89_scd2_history" -> sub("""WITH --PKG--,
        |snaps AS (
        | SELECT pkg_id, name,
        |  CAST(vmaj AS VARCHAR) || '.' || CAST(vmin AS VARCHAR) || '.' || CAST(vpat AS VARCHAR)
        |    || '-r' || CAST(1 + (pkg_id + g.k * (pkg_id % 3)) % 5 AS VARCHAR) AS version,
        |  CAST(g.k AS INTEGER) AS snap
        | FROM pkg, range(4) g(k)
        | WHERE (pkg_id + g.k) % 23 <> 0),
        |w AS (
        | SELECT *, CASE WHEN lag(version) OVER pw IS NULL
        |   OR lag(version) OVER pw <> version
        |   OR lag(snap) OVER pw + 1 <> snap THEN 1 ELSE 0 END AS brk
        | FROM snaps WINDOW pw AS (PARTITION BY pkg_id ORDER BY snap)),
        |i AS (
        | SELECT *, sum(brk) OVER (PARTITION BY pkg_id ORDER BY snap
        |   ROWS UNBOUNDED PRECEDING) AS island
        | FROM w)
        |SELECT pkg_id, max(name) AS name, max(version) AS version,
        | min(snap) AS valid_from, max(snap) AS valid_to,
        | CAST(CASE WHEN max(snap) = 3 THEN 1 ELSE 0 END AS INTEGER) AS is_current
        |FROM i
        |GROUP BY pkg_id, island
        |ORDER BY pkg_id, valid_from""".stripMargin),

    "q199_version_bumps" -> sub("""WITH --PKG--,
        |dv AS (SELECT DISTINCT name, version, vmaj, vmin, vpat, vrel FROM pkg),
        |lg AS (
        | SELECT name, version, vmaj, vmin, vpat, vrel,
        |  lag(vmaj) OVER w AS pmaj, lag(vmin) OVER w AS pmin,
        |  lag(vpat) OVER w AS ppat, lag(vrel) OVER w AS prel
        | FROM dv WINDOW w AS (PARTITION BY name ORDER BY vmaj, vmin, vpat, vrel)),
        |cl AS (
        | SELECT name,
        |  CASE WHEN vmaj <> pmaj THEN 'major'
        |       WHEN vmin <> pmin THEN 'minor'
        |       WHEN vpat <> ppat THEN 'patch'
        |       ELSE 'revision' END AS bump
        | FROM lg WHERE pmaj IS NOT NULL)
        |SELECT name, CAST(count(*) AS BIGINT) AS n_steps,
        | CAST(sum(CASE WHEN bump = 'major' THEN 1 ELSE 0 END) AS BIGINT) AS n_major,
        | CAST(sum(CASE WHEN bump = 'minor' THEN 1 ELSE 0 END) AS BIGINT) AS n_minor,
        | CAST(sum(CASE WHEN bump = 'patch' THEN 1 ELSE 0 END) AS BIGINT) AS n_patch,
        | CAST(sum(CASE WHEN bump = 'revision' THEN 1 ELSE 0 END) AS BIGINT) AS n_revision
        |FROM cl GROUP BY name ORDER BY name""".stripMargin),

    "q198_sql_scripting" -> sub("""WITH --PKG--,
        |t AS (SELECT count(*) // count(DISTINCT name) AS thr FROM pkg)
        |SELECT p.name, CAST(count(*) AS BIGINT) AS n_records, t.thr AS threshold
        |FROM pkg p CROSS JOIN t
        |GROUP BY p.name, t.thr
        |HAVING count(*) >= t.thr
        |ORDER BY p.name""".stripMargin),

    "q188_temporal_weighted" -> sub("""WITH --PKG--,
        |snaps AS (
        | SELECT pkg_id, name,
        |  CAST(vmaj AS VARCHAR) || '.' || CAST(vmin AS VARCHAR) || '.' || CAST(vpat AS VARCHAR)
        |    || '-r' || CAST(1 + (pkg_id + g.k * (pkg_id % 3)) % 5 AS VARCHAR) AS version,
        |  CAST(g.k AS INTEGER) AS snap
        | FROM pkg, range(4) g(k)
        | WHERE (pkg_id + g.k) % 23 <> 0),
        |w AS (
        | SELECT *, CASE WHEN lag(version) OVER pw IS NULL
        |   OR lag(version) OVER pw <> version
        |   OR lag(snap) OVER pw + 1 <> snap THEN 1 ELSE 0 END AS brk
        | FROM snaps WINDOW pw AS (PARTITION BY pkg_id ORDER BY snap)),
        |i AS (
        | SELECT *, sum(brk) OVER (PARTITION BY pkg_id ORDER BY snap
        |   ROWS UNBOUNDED PRECEDING) AS island
        | FROM w),
        |iv AS (
        | SELECT pkg_id, max(name) AS name,
        |  min(snap) AS valid_from, max(snap) AS valid_to,
        |  CAST(1 + (pkg_id + min(snap) * (pkg_id % 3)) % 5 AS BIGINT) AS rel
        | FROM i GROUP BY pkg_id, island)
        |SELECT name,
        | CAST(count(DISTINCT pkg_id) AS BIGINT) AS n_records,
        | CAST(count(*) AS BIGINT) AS n_intervals,
        | CAST(sum(valid_to - valid_from + 1) AS BIGINT) AS covered_snaps,
        | CAST(sum(rel * (valid_to - valid_from + 1)) AS BIGINT) * 1000
        |   // CAST(sum(valid_to - valid_from + 1) AS BIGINT) AS twa_rel_x1000
        |FROM iv GROUP BY name ORDER BY name""".stripMargin),

    "q110_scd2_merge" -> sub("""WITH --PKG--,
        |snaps AS (
        | SELECT pkg_id, name,
        |  CAST(vmaj AS VARCHAR) || '.' || CAST(vmin AS VARCHAR) || '.' || CAST(vpat AS VARCHAR)
        |    || '-r' || CAST(1 + (pkg_id + g.k * (pkg_id % 3)) % 5 AS VARCHAR) AS version,
        |  CAST(g.k AS INTEGER) AS snap
        | FROM pkg, range(5) g(k)
        | WHERE (pkg_id + g.k) % 23 <> 0),
        |w AS (
        | SELECT *, CASE WHEN lag(version) OVER pw IS NULL
        |   OR lag(version) OVER pw <> version
        |   OR lag(snap) OVER pw + 1 <> snap THEN 1 ELSE 0 END AS brk
        | FROM snaps WINDOW pw AS (PARTITION BY pkg_id ORDER BY snap)),
        |i AS (
        | SELECT *, sum(brk) OVER (PARTITION BY pkg_id ORDER BY snap
        |   ROWS UNBOUNDED PRECEDING) AS island
        | FROM w)
        |SELECT pkg_id, max(name) AS name, max(version) AS version,
        | min(snap) AS valid_from, max(snap) AS valid_to,
        | CAST(CASE WHEN max(snap) = 4 THEN 1 ELSE 0 END AS INTEGER) AS is_current
        |FROM i
        |GROUP BY pkg_id, island
        |ORDER BY pkg_id, valid_from""".stripMargin),

    "q227_scd2_diff" -> sub("""WITH --PKG--,
        |t1 AS (
        | SELECT pkg_id, name,
        |  CAST(vmaj AS VARCHAR) || '.' || CAST(vmin AS VARCHAR) || '.' || CAST(vpat AS VARCHAR)
        |    || '-r' || CAST(1 + (pkg_id + 1 * (pkg_id % 3)) % 5 AS VARCHAR) AS v_before
        | FROM pkg WHERE (pkg_id + 1) % 23 <> 0),
        |t3 AS (
        | SELECT pkg_id, name,
        |  CAST(vmaj AS VARCHAR) || '.' || CAST(vmin AS VARCHAR) || '.' || CAST(vpat AS VARCHAR)
        |    || '-r' || CAST(1 + (pkg_id + 3 * (pkg_id % 3)) % 5 AS VARCHAR) AS v_after
        | FROM pkg WHERE (pkg_id + 3) % 23 <> 0),
        |d AS (
        | SELECT coalesce(t1.pkg_id, t3.pkg_id) AS pkg_id,
        |  coalesce(t1.name, t3.name) AS name, t1.v_before, t3.v_after,
        |  CASE WHEN t1.pkg_id IS NULL THEN 'added'
        |       WHEN t3.pkg_id IS NULL THEN 'removed'
        |       WHEN t1.v_before <> t3.v_after THEN 'changed'
        |       ELSE 'unchanged' END AS change
        | FROM t1 FULL JOIN t3 ON t3.pkg_id = t1.pkg_id)
        |SELECT pkg_id, name, v_before, v_after, change
        |FROM d WHERE change <> 'unchanged'
        |ORDER BY pkg_id""".stripMargin),

    "q106_asof_read" -> sub("""WITH --PKG--
        |SELECT pkg_id, name,
        | CAST(vmaj AS VARCHAR) || '.' || CAST(vmin AS VARCHAR) || '.' || CAST(vpat AS VARCHAR)
        |   || '-r' || CAST(1 + (pkg_id + 2 * (pkg_id % 3)) % 5 AS VARCHAR) AS version
        |FROM pkg
        |WHERE (pkg_id + 2) % 23 <> 0
        |ORDER BY pkg_id""".stripMargin),

    "q31_version_constraint_stats" -> sub("""WITH --PKG--,
        |mx AS (SELECT arch, version AS max_version FROM pkg
        |       QUALIFY row_number() OVER (PARTITION BY arch ORDER BY vmaj DESC, vmin DESC, vpat DESC, vrel DESC) = 1),
        |mn AS (SELECT arch, version AS min_version FROM pkg
        |       QUALIFY row_number() OVER (PARTITION BY arch ORDER BY vmaj, vmin, vpat, vrel) = 1)
        |SELECT p.arch, count(*) AS n_total,
        | CAST(sum(CASE WHEN (vmaj, vmin, vpat, vrel) >= (2, 6, 0, 1) THEN 1 ELSE 0 END) AS BIGINT) AS n_satisfying,
        | any_value(mx.max_version) AS max_version, any_value(mn.min_version) AS min_version
        |FROM pkg p JOIN mx ON p.arch = mx.arch JOIN mn ON p.arch = mn.arch
        |GROUP BY p.arch
        |ORDER BY p.arch""".stripMargin),

    "q32_depends_resolution" -> sub("""WITH --PKG--,
        |--ED--
        |SELECT e.name, count(*) AS n_resolved
        |FROM ed e
        |WHERE EXISTS (SELECT 1 FROM pkg p WHERE p.name = e.dep
        |              AND (p.vmaj, p.vmin, p.vpat, p.vrel) >= (2, 0, 0, 0))
        |GROUP BY e.name
        |ORDER BY e.name""".stripMargin),

    "q33_dependency_closure" -> sub("""WITH RECURSIVE --ED--,
        |r(name, depth) AS (
        | SELECT 'pkg-00', 0
        | UNION
        | SELECT ed.dep, r.depth + 1 FROM ed JOIN r ON ed.name = r.name WHERE r.depth < 60)
        |SELECT name, CAST(min(depth) AS INTEGER) AS depth
        |FROM r GROUP BY name ORDER BY name""".stripMargin),

    "q34_orphan_packages" -> sub("""WITH --PKG--,
        |--ED--
        |SELECT name, count(DISTINCT version) AS n_versions, count(*) AS n_records
        |FROM pkg
        |WHERE name NOT IN (SELECT dep FROM ed)
        |GROUP BY name
        |ORDER BY name""".stripMargin),

    "q71_package_extras" -> sub("""WITH e AS (
        | SELECT p_partkey AS pkg_id,
        |  CASE p_partkey % 3 WHEN 0 THEN 'mit' WHEN 1 THEN 'gpl' ELSE 'apache' END AS license,
        |  'm-' || CAST(p_partkey % 7 AS VARCHAR) AS maintainer,
        |  CASE WHEN p_partkey % 2 = 0
        |       THEN (CASE WHEN p_partkey % 4 = 0 THEN 'base' ELSE 'dev' END) END AS section
        | FROM part)
        |SELECT license, count(*) AS n_records,
        | CAST(sum(CASE WHEN section IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_with_section,
        | count(DISTINCT maintainer) AS n_maintainers,
        | CAST(sum(2 + CASE WHEN section IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS total_keys,
        | count(DISTINCT section) AS n_sections
        |FROM e
        |GROUP BY license
        |ORDER BY license""".stripMargin),

    "q35_kv_stanza_roundtrip" -> sub("""WITH --PKG--,
        |st AS (SELECT 'P:' || name || chr(10) || 'V:' || version || chr(10) || 'A:' || arch AS stanza FROM pkg),
        |parsed AS (SELECT regexp_extract(stanza, 'P:([^\n]+)', 1) AS name,
        |  regexp_extract(stanza, 'V:([^\n]+)', 1) AS version,
        |  regexp_extract(stanza, 'A:([^\n]+)', 1) AS arch FROM st)
        |SELECT arch, count(DISTINCT name) AS n_names, count(DISTINCT version) AS n_versions,
        | count(*) AS n_stanzas
        |FROM parsed
        |GROUP BY arch
        |ORDER BY arch""".stripMargin))
}
