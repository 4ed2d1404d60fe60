package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Archive-source queries (SURVEY.md §2.1 S3 — the reference's file-list
  * path reads package payload archives: tar / ar(.deb) / cpio(.rpm) with
  * gzip/xz/zstd compression).
  *
  * The fixtures carry no archive files, so — exactly like the Multimodal
  * corpus (q50/q51) — the archives are DERIVED in-plan: each document is
  * packed into a two-member tar (`tar_archive`, deterministic metadata)
  * whose codec varies by doc_id, then parsed BACK through the real readers
  * (`archive_format` / `archive_members` / `archive_extract`,
  * commons-compress under codegen'd expressions). The oracle never sees a
  * byte of tar: it re-derives every judged number (member counts, member
  * sizes, roundtrip matches) from the TEXT side, so the whole
  * build→compress→detect→list→extract pipeline is verified against an
  * independent derivation — through three codecs.
  *
  * Scale notes (100 TB): archives stay executor-local `BinaryType` values;
  * only (name, size) metadata enters the relational plan. Everything here
  * is per-row expression work inside whole-stage codegen plus ONE 3-group
  * aggregation — no join, no driver collection, nothing that widens with
  * corpus size. Malformed payloads become SQL nulls, not task failures, so
  * one corrupt .deb in a petabyte scan cannot kill the job.
  */
object Archives {
  type QFn = (SparkSession, String) => DataFrame

  val queries: Seq[(String, QFn)] = Seq(
    "q82_archive_roundtrip" -> { (s, dir) =>
      val packed = Tables.documents(s, dir)
        .select(col("doc_id"), col("text"))
        .withColumn("names", array(
          concat(lit("data/doc-"), col("doc_id"), lit(".txt")),
          lit("manifest/len")))
        .withColumn("contents", array(
          encode(col("text"), "UTF-8"),
          encode(octet_length(col("text")).cast("string"), "UTF-8")))
        .withColumn("bytes",
          when(pmod(col("doc_id"), lit(3)) === 0, expr("tar_archive(names, contents, 'none')"))
            .when(pmod(col("doc_id"), lit(3)) === 1, expr("tar_archive(names, contents, 'gzip')"))
            .otherwise(expr("tar_archive(names, contents, 'zstd')")))
      packed
        // ONE decompression walk per row: fmt + member list + extracted
        // body from archive_inspect (the separate format/members/extract
        // expressions would each re-decompress the payload — 3x the
        // dominant CPU cost at scan scale)
        .withColumn("insp", expr("archive_inspect(bytes, concat('data/doc-', doc_id, '.txt'))"))
        .withColumn("fmt", col("insp.fmt"))
        .withColumn("members", col("insp.members"))
        .withColumn("extracted", col("insp.body"))
        .groupBy("fmt")
        .agg(
          count(lit(1)).as("n_archives"),
          sum(size(col("members"))).cast("long").as("n_members"),
          sum(expr("members[0].size")).as("data_bytes"),
          sum(expr("members[1].size")).as("meta_bytes"),
          sum(when(expr("members[0].name") ===
            concat(lit("data/doc-"), col("doc_id"), lit(".txt")), 1).otherwise(0))
            .cast("long").as("n_named"),
          sum(when(decode(col("extracted"), "UTF-8") === col("text"), 1).otherwise(0))
            .cast("long").as("n_roundtrip"))
        .orderBy("fmt")
    },

    // Zip roundtrip — the fifth archiver (jars, Python wheels, plain .zip
    // mirrors) through the SAME reader surface as tar/ar/cpio: build the
    // two-member zip in-plan (storage method rotates stored/deflated by
    // doc_id), then one archive_inspect walk recovers format, member
    // metadata and the extracted body. Member sizes are UNCOMPRESSED
    // sizes (from the zip local headers, which the seekable-channel
    // builder backfills), so the oracle re-derives every judged number
    // from the text side without decoding a byte of zip.
    "q222_zip_roundtrip" -> { (s, dir) =>
      val packed = Tables.documents(s, dir)
        .select(col("doc_id"), col("text"))
        .withColumn("names", array(
          concat(lit("data/doc-"), col("doc_id"), lit(".txt")),
          lit("manifest/len")))
        .withColumn("contents", array(
          encode(col("text"), "UTF-8"),
          encode(octet_length(col("text")).cast("string"), "UTF-8")))
        .withColumn("method",
          when(pmod(col("doc_id"), lit(2)) === 0, "stored").otherwise("deflated"))
        .withColumn("bytes",
          when(col("method") === "stored", expr("zip_archive(names, contents, 'stored')"))
            .otherwise(expr("zip_archive(names, contents, 'deflated')")))
      packed
        .withColumn("insp", expr("archive_inspect(bytes, concat('data/doc-', doc_id, '.txt'))"))
        .groupBy("method")
        .agg(
          count(lit(1)).as("n_archives"),
          sum(when(col("insp.fmt") === "zip", 1).otherwise(0)).cast("long").as("n_zip_fmt"),
          sum(size(col("insp.members"))).cast("long").as("n_members"),
          sum(expr("insp.members[0].size")).as("data_bytes"),
          sum(expr("insp.members[1].size")).as("meta_bytes"),
          sum(when(decode(col("insp.body"), "UTF-8") === col("text"), 1).otherwise(0))
            .cast("long").as("n_roundtrip"))
        .orderBy("method")
    },

    // Arch-style `.db` repo index roundtrip — the fourth ecosystem index
    // format next to APKINDEX K:V (q35), Debian RFC822 and rpm XML: each
    // package record renders to a `%KEY%\nvalue\n\n` desc stanza stored as
    // the tar member `name-version/desc` (codec rotates by pkg_id), then
    // the REAL archive readers pull the member back out and a regexp
    // stanza parser recovers every field. The oracle never decodes a byte
    // of tar: it re-derives all judged counts from the package arithmetic,
    // so build→pack→detect→extract→parse is verified end-to-end. Per-row
    // codegen'd expression work + one aggregation — no join, no driver
    // state; one corrupt index member degrades to SQL null, not a failed
    // job.
    "q91_arch_db_roundtrip" -> { (s, dir) =>
      val packed = Tables.packages(s, dir)
        .withColumn("member", concat(col("name"), lit("-"), col("version"), lit("/desc")))
        .withColumn("desc", concat(
          lit("%NAME%\n"), col("name"),
          lit("\n\n%VERSION%\n"), col("version"),
          lit("\n\n%ARCH%\n"), col("arch"),
          lit("\n\n%SIZE%\n"), col("size_mb").cast("string"), lit("\n")))
        .withColumn("bytes",
          when(pmod(col("pkg_id"), lit(3)) === 0,
            expr("tar_archive(array(member), array(encode(desc, 'UTF-8')), 'none')"))
            .when(pmod(col("pkg_id"), lit(3)) === 1,
              expr("tar_archive(array(member), array(encode(desc, 'UTF-8')), 'gzip')"))
            .otherwise(expr("tar_archive(array(member), array(encode(desc, 'UTF-8')), 'zstd')")))
        .withColumn("insp", expr("archive_inspect(bytes, member)"))
        .withColumn("body", decode(col("insp.body"), "UTF-8"))
      packed
        .withColumn("p_name", regexp_extract(col("body"), "%NAME%\\n([^\\n]*)", 1))
        .withColumn("p_version", regexp_extract(col("body"), "%VERSION%\\n([^\\n]*)", 1))
        .withColumn("p_arch", regexp_extract(col("body"), "%ARCH%\\n([^\\n]*)", 1))
        .withColumn("p_size", regexp_extract(col("body"), "%SIZE%\\n([^\\n]*)", 1).cast("long"))
        .groupBy("p_arch")
        .agg(
          count(lit(1)).as("n_pkgs"),
          sum(when(expr("insp.members[0].name") === col("member"), 1).otherwise(0))
            .cast("long").as("n_path_ok"),
          sum(when(col("p_name") === col("name"), 1).otherwise(0))
            .cast("long").as("n_name_ok"),
          sum(when(col("p_version") === col("version"), 1).otherwise(0))
            .cast("long").as("n_version_ok"),
          sum("p_size").as("size_sum"))
        .orderBy("p_arch")
    })

  val oracles: Seq[(String, String)] = Seq(
    // Independent text-side derivation: a doc's archive always has exactly
    // two members — the UTF-8 text (size = its byte length) and the length
    // manifest (size = digits of that byte length); format follows
    // doc_id % 3; extraction must reproduce the text byte-for-byte, so
    // n_named = n_roundtrip = n_archives per format group.
    "q82_archive_roundtrip" ->
      """WITH m AS (
        | SELECT doc_id,
        |  CASE WHEN doc_id % 3 = 0 THEN 'tar'
        |       WHEN doc_id % 3 = 1 THEN 'tar+gzip'
        |       ELSE 'tar+zstd' END AS fmt,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS data_len
        | FROM documents)
        |SELECT fmt, count(*) AS n_archives,
        | CAST(2 * count(*) AS BIGINT) AS n_members,
        | CAST(sum(data_len) AS BIGINT) AS data_bytes,
        | CAST(sum(length(CAST(data_len AS VARCHAR))) AS BIGINT) AS meta_bytes,
        | count(*) AS n_named,
        | count(*) AS n_roundtrip
        |FROM m
        |GROUP BY fmt
        |ORDER BY fmt""".stripMargin,

    // Text-side re-derivation: member sizes are the UTF-8 byte length and
    // its digit count; every counter equals the per-method archive count.
    "q222_zip_roundtrip" ->
      """WITH m AS (
        | SELECT doc_id,
        |  CASE WHEN doc_id % 2 = 0 THEN 'stored' ELSE 'deflated' END AS method,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS data_len
        | FROM documents)
        |SELECT method, count(*) AS n_archives,
        | count(*) AS n_zip_fmt,
        | CAST(2 * count(*) AS BIGINT) AS n_members,
        | CAST(sum(data_len) AS BIGINT) AS data_bytes,
        | CAST(sum(length(CAST(data_len AS VARCHAR))) AS BIGINT) AS meta_bytes,
        | count(*) AS n_roundtrip
        |FROM m
        |GROUP BY method
        |ORDER BY method""".stripMargin,

    // Text-side re-derivation: every desc parses back to its source
    // fields, so the three roundtrip counters all equal the per-arch
    // package count and size_sum is plain arithmetic over p_size.
    "q91_arch_db_roundtrip" ->
      """WITH a AS (
        | SELECT CASE WHEN p_partkey % 2 = 0 THEN 'x86_64' ELSE 'aarch64' END AS p_arch,
        |  p_size
        | FROM part)
        |SELECT p_arch, count(*) AS n_pkgs,
        | count(*) AS n_path_ok,
        | count(*) AS n_name_ok,
        | count(*) AS n_version_ok,
        | CAST(sum(p_size) AS BIGINT) AS size_sum
        |FROM a
        |GROUP BY p_arch
        |ORDER BY p_arch""".stripMargin)
}
