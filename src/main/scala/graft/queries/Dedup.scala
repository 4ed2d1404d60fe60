package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Hash-sketch deduplication: MinHash+LSH banding and SimHash (driver north
  * star; SURVEY.md §2.4 A10, §7 M4).
  *
  * The hash family is md5-anchored (31-bit base from `md5(shingle)[0:8]`,
  * then a universal `(a_i*x + b_i) mod (2^31-1)` family) — chosen over
  * xxhash64 deliberately: md5 is identical in every engine, so the
  * DuckDB oracle reproduces the ENTIRE sketch pipeline independently
  * (signatures, bands, candidate pairs, verification) and the queries get
  * a full hash-compare instead of a rows-only check. All hash seeds are
  * constants (SURVEY.md hard part #4 — determinism is what makes sketches
  * judgeable).
  *
  * Scale notes (100 TB): this is the LSH shape that replaces q41's
  * inverted-index join at scale — candidate generation is a self-join on
  * (band, bucket) whose fan-out is controlled by band width, then exact
  * Jaccard verification runs ONLY on candidates (a semi-join-bounded set),
  * never on all pairs. SimHash blocking joins on a 16-bit prefix bucket —
  * the standard bit-sliced blocking for Hamming search.
  */
object Dedup {
  type QFn = (SparkSession, String) => DataFrame

  private val K = 12     // minhash functions
  private val BandRows = 3 // rows per band → 4 bands

  /** Degenerate-bucket cap for q42's LSH candidate join: a (band, bkey)
    * bucket holding more than this many documents is a degenerate
    * collision cluster (boilerplate-dominated signatures) and would emit
    * O(bucket²) candidate pairs on ONE shuffle key. Dropping such buckets
    * bounds per-key fan-out at cap²; the recall cost is confined to
    * documents whose near-dups hide exclusively inside a degenerate
    * bucket — at 4 bands a true pair usually collides in several bands, so
    * losing one capped bucket rarely loses the pair. Fixture bucket sizes
    * max at 17 (sf0.1) / 3 (sf0.01), so 50 is inert on fixtures
    * (DedupCapSpec proves capped == uncapped) while bounding skew at
    * scale. The oracle applies the identical cap.
    */
  private val BucketCap = 50

  /** Capped LSH band buckets (doc_id, band, bkey) over the shared shingle
    * frame — the candidate-generation half both q42 (full-corpus pairs)
    * and q99 (incremental new-vs-base) join on.
    *
    * One md5 per shingle, then a universal family h_i = (a_i*x + b_i)
    * mod p over the 31-bit base (12 md5s per shingle benched 6x slower;
    * products stay under 2^62 so the arithmetic is exact int64). The base
    * is an exact projection of the shared 60-bit key: first-8-hex-chars
    * value = hk >> 28. The whole signature computes in ONE aggregation
    * pass: 12 codegen'd min columns over the shingle rows (a per-(doc,i)
    * shuffle of 12x the rows benched ~4x slower), then stack() unpivots
    * the 4 band keys. Degenerate buckets (size > BucketCap) are dropped
    * before any candidate join — the skew guard; the degenerate set is
    * tiny by definition, so the anti-join broadcasts.
    */
  private def lshBuckets(s: SparkSession, dir: String): DataFrame =
    Memo.memoized("lsh_buckets", s, dir) { buildLshBuckets(s, dir) }

  private def buildLshBuckets(s: SparkSession, dir: String): DataFrame = {
    val hashed = Shingles.frame(s, dir)
      .withColumn("base", expr("shiftright(hk, 28) % 2147483647"))
    val minCols = (0 until K).map(i =>
      min(expr(s"((2 * $i + 3) * base + 5 * $i + 7) % 2147483647")).as(s"mh$i"))
    val sig = hashed.groupBy("doc_id").agg(minCols.head, minCols.tail: _*)
    val bandCols = (0 until K / BandRows).map { b =>
      concat_ws(",", (0 until BandRows).map(r => col(s"mh${b * BandRows + r}").cast("string")): _*)
        .as(s"band$b")
    }
    val bandStack = (0 until K / BandRows).map(b => s"$b, band$b").mkString(", ")
    val buckets = sig.select(col("doc_id") +: bandCols: _*)
      .select(col("doc_id"),
        expr(s"stack(${K / BandRows}, $bandStack) as (band, bkey)"))
    val big = buckets.groupBy("band", "bkey").agg(count(lit(1)).as("bn"))
      .filter(col("bn") > BucketCap).select("band", "bkey")
    buckets.join(broadcast(big), Seq("band", "bkey"), "left_anti")
  }

  val queries: Seq[(String, QFn)] = Seq(
    // MinHash signature → banded LSH buckets → candidate pairs → exact
    // Jaccard verify (only over candidates).
    "q42_minhash_lsh_pairs" -> { (s, dir) =>
      // the shared shingle materialization (Shingles.frame) feeds signature
      // building, both verification sides, and the size table — and is the
      // same frame q41/q43 use, so the subtree computes once per session.
      val sh = Shingles.frame(s, dir)
      val ok = lshBuckets(s, dir)
      val cands = ok.as("x").join(ok.as("y"),
          col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey") &&
            col("x.doc_id") < col("y.doc_id"))
        .groupBy(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"))
        .agg(count(lit(1)).as("n_bands"))
      // exact verification on candidates only
      val a = sh.select(col("doc_id").as("d1"), col("sh"))
      val b = sh.select(col("doc_id").as("d2"), col("sh"))
      val common = cands
        .join(a.select(col("d1"), col("sh").as("sha")), "d1")
        .join(b.select(col("d2"), col("sh").as("shb")), "d2")
        .filter(col("sha") === col("shb"))
        .groupBy("d1", "d2").agg(count(lit(1)).as("common"))
      val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("sz"))
      cands.join(common, Seq("d1", "d2"))
        .join(sizes.select(col("doc_id").as("d1"), col("sz").as("sz1")), "d1")
        .join(sizes.select(col("doc_id").as("d2"), col("sz").as("sz2")), "d2")
        .withColumn("jaccard", col("common") / (col("sz1") + col("sz2") - col("common")))
        .filter(col("jaccard") >= 0.5)
        .select("d1", "d2", "n_bands", "jaccard")
        .orderBy("d1", "d2")
    },

    // Incremental near-dup — the corpus-refresh workflow: a NEW batch
    // (doc_id % 7 == 0, the fixture stand-in for "this week's crawl")
    // checked against the existing BASE corpus without re-pairing the
    // base against itself. Candidates come from the SAME capped LSH
    // buckets as q42, but the join is new×base (directional), so the
    // work is |new batch| sized — the property that makes weekly corpus
    // refreshes O(delta), not O(corpus). Exact Jaccard verifies
    // candidates; per new doc: candidate count, confirmed-dup count, and
    // the best base match (max Jaccard, smallest doc_id tie-break).
    "q99_incremental_neardup" -> { (s, dir) =>
      val sh = Shingles.frame(s, dir)
      val ok = lshBuckets(s, dir)
      val isNew = pmod(col("doc_id"), lit(7)) === 0
      val cands = ok.filter(isNew).select(col("doc_id").as("d1"), col("band"), col("bkey"))
        .join(ok.filter(!isNew).select(col("doc_id").as("d2"), col("band"), col("bkey")),
          Seq("band", "bkey"))
        .select("d1", "d2").distinct()
      val common = cands
        .join(sh.select(col("doc_id").as("d1"), col("sh").as("sha")), "d1")
        .join(sh.select(col("doc_id").as("d2"), col("sh").as("shb")), "d2")
        .filter(col("sha") === col("shb"))
        .groupBy("d1", "d2").agg(count(lit(1)).as("common"))
      val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("sz"))
      cands.join(common, Seq("d1", "d2"), "left")
        .join(sizes.select(col("doc_id").as("d1"), col("sz").as("sz1")), "d1")
        .join(sizes.select(col("doc_id").as("d2"), col("sz").as("sz2")), "d2")
        .withColumn("jaccard",
          coalesce(col("common"), lit(0L)) / (col("sz1") + col("sz2") - coalesce(col("common"), lit(0L))))
        .groupBy(col("d1").as("doc_id"))
        .agg(
          count(lit(1)).as("n_candidates"),
          sum(when(col("jaccard") >= 0.5, 1).otherwise(0)).cast("long").as("n_dups"),
          expr("max_by(d2, struct(jaccard, -d2))").as("best_match"),
          max(col("jaccard")).as("best_jaccard"))
        .orderBy("doc_id")
    },

    // SimHash (32-bit, over shingle hashes): Hamming<=4 pairs blocked on
    // the 16-bit prefix. Bit votes run as 32 codegen'd sum aggregates over
    // the exploded shingle-hash rows (bit j set iff 2*count_set_j > n) —
    // the nested higher-order-aggregate form is interpreted per (bit ×
    // shingle) element and benched 100× slower.
    "q43_simhash_dedup" -> { (s, dir) =>
      // shared shingle frame; the 32-bit base is hk >> 28 (first 8 hex
      // chars of the md5), identical to the oracle's direct derivation.
      val hashes = Shingles.frame(s, dir)
        .withColumn("h", expr("shiftright(hk, 28)"))
      val bitCols = (0 until 32).map(j => sum(expr(s"shiftright(h, $j) & 1")).as(s"b$j"))
      val voted = hashes.groupBy("doc_id")
        .agg(count(lit(1)).as("n"), bitCols: _*)
      val simhash = (0 until 32)
        .map(j => when(col(s"b$j") * 2 > col("n"), lit(1L << j)).otherwise(0L))
        .reduce(_ + _)
      val docs = voted
        .select(col("doc_id"), simhash.as("simhash"))
        .withColumn("block", expr("shiftright(simhash, 16)"))
      val x = docs.select(col("doc_id").as("d1"), col("simhash").as("s1"), col("block"))
      val y = docs.select(col("doc_id").as("d2"), col("simhash").as("s2"), col("block").as("blk2"))
      x.join(y, col("block") === col("blk2") && col("d1") < col("d2"))
        .withColumn("hamming", expr("bit_count(s1 ^ s2)"))
        .filter(col("hamming") <= 4)
        .select("d1", "d2", "s1", "s2", "hamming")
        .orderBy("d1", "d2")
    },

    // Exact duplicated-SUBSTRING spans — the span-level counterpart of the
    // doc-level family above (cf. Lee et al. 2022, "Deduplicating Training
    // Data Makes Language Models Better": remove repeated spans, not whole
    // docs). Any 8-token window whose text occurs >= 2 times ANYWHERE in
    // the corpus marks its tokens duplicated; overlapping/adjacent marked
    // windows merge into maximal spans per doc (gaps-and-islands over ONE
    // doc-keyed window shuffle). Per doc: span count, duplicated-token
    // count, and the duplicated fraction a span-cutter would remove.
    //
    // Scale shape: the positional-gram frame is the big intermediate
    // (docs × tokens rows); grams ship as 64-bit md5 prefixes, not
    // strings, so the frequency shuffle carries 16-byte keys (the
    // full-suffix-array construction the paper uses is a different
    // build; the windowed-hash form is the standard distributed
    // approximation — identical hashing on both engines makes any
    // collision, vanishingly rare at 2^64, affect both sides equally).
    // The join back to positions is a semi-join on the same key; at
    // 100 TB the duplicated-gram side is small (dups are rare), so it
    // broadcasts or bloom-prunes.
    "q154_substring_spans" -> { (s, dir) =>
      val k = 8
      val grams = Tables.documents(s, dir)
        .select(col("doc_id"), size(split(col("text"), " ")).as("n_tok"),
          posexplode(call_function("token_ngrams", col("text"), lit(k)))
            .as(Seq("pos", "gram")))
        .withColumn("h", substring(md5(col("gram")), 1, 16))
        .select("doc_id", "n_tok", "pos", "h")
      val dup = grams.groupBy("h").agg(count(lit(1)).as("n_occ"))
        .filter(col("n_occ") >= 2).select("h")
      val hits = grams.join(dup, Seq("h")).select("doc_id", "n_tok", "pos")
      val w = Window.partitionBy("doc_id").orderBy("pos")
      val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      hits
        .withColumn("brk", when(lag("pos", 1).over(w).isNull
          .or(col("pos") > lag("pos", 1).over(w) + k), 1).otherwise(0))
        .withColumn("island", sum("brk").over(run))
        .groupBy("doc_id", "island")
        .agg(max("n_tok").as("n_tok"), min("pos").as("s"),
          (max("pos") + k - 1).as("e"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_spans"),
          sum(col("e") - col("s") + 1).as("dup_tokens"),
          max("n_tok").cast("long").as("n_tok"))
        .withColumn("dup_frac",
          round(col("dup_tokens").cast("double") / col("n_tok"), 4))
        .orderBy("doc_id")
    })

  private val ShCte =
    """sh AS (
      | SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(string_split(text, ' ')) - 1),
      |   i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1] || ' ' || string_split(text, ' ')[i+2]))) AS sh
      | FROM documents)""".stripMargin

  /** The signature→band→cap CTE chain shared by the q42 and q99 oracles,
    * exactly as [[lshBuckets]] is shared on the Spark side.
    */
  private val BktCte =
    """based AS (
      | SELECT doc_id, CAST(('0x' || substr(md5(sh), 1, 8)) AS BIGINT) % 2147483647 AS base
      | FROM sh),
      |hashed AS (
      | SELECT doc_id, i, ((2 * i + 3) * base + 5 * i + 7) % 2147483647 AS h
      | FROM based CROSS JOIN range(12) r(i)),
      |sig AS (SELECT doc_id, i, min(h) AS mh FROM hashed GROUP BY doc_id, i),
      |buckets AS (
      | SELECT doc_id, CAST(i // 3 AS INTEGER) AS band,
      |  string_agg(CAST(mh AS VARCHAR), ',' ORDER BY i) AS bkey
      | FROM sig GROUP BY doc_id, CAST(i // 3 AS INTEGER)),
      |bsz AS (SELECT band, bkey, count(*) AS bn FROM buckets GROUP BY 1, 2),
      |okb AS (SELECT b.doc_id, b.band, b.bkey FROM buckets b JOIN bsz USING (band, bkey) WHERE bsz.bn <= 50)""".stripMargin

  private def sub(sql: String): String =
    sql.replace("--SH--", ShCte).replace("--BKT--", BktCte)

  /** Bucket-frame + CTE substitution for sibling modules (Advanced's LSH
    * recall audit replays the same candidate pipeline) — ONE copy of the
    * signature/band semantics on both sides.
    */
  private[queries] def lshBucketsFor(s: SparkSession, dir: String): DataFrame =
    lshBuckets(s, dir)
  private[queries] def subFor(sql: String): String = sub(sql)

  val oracles: Seq[(String, String)] = Seq(
    "q42_minhash_lsh_pairs" -> sub("""WITH --SH--,
        |--BKT--,
        |cands AS (
        | SELECT x.doc_id AS d1, y.doc_id AS d2, count(*) AS n_bands
        | FROM okb x JOIN okb y ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id
        | GROUP BY 1, 2),
        |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
        |common AS (
        | SELECT c.d1, c.d2, count(*) AS common
        | FROM cands c JOIN sh a ON a.doc_id = c.d1 JOIN sh b ON b.doc_id = c.d2 AND a.sh = b.sh
        | GROUP BY 1, 2)
        |SELECT c.d1, c.d2, c.n_bands,
        | m.common / (s1.sz + s2.sz - m.common) AS jaccard
        |FROM cands c JOIN common m ON c.d1 = m.d1 AND c.d2 = m.d2
        |JOIN sizes s1 ON c.d1 = s1.doc_id JOIN sizes s2 ON c.d2 = s2.doc_id
        |WHERE m.common / (s1.sz + s2.sz - m.common) >= 0.5
        |ORDER BY c.d1, c.d2""".stripMargin),

    "q99_incremental_neardup" -> sub("""WITH --SH--,
        |--BKT--,
        |cands AS (
        | SELECT DISTINCT n.doc_id AS d1, b.doc_id AS d2
        | FROM okb n JOIN okb b ON n.band = b.band AND n.bkey = b.bkey
        | WHERE n.doc_id % 7 = 0 AND b.doc_id % 7 <> 0),
        |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
        |common AS (
        | SELECT c.d1, c.d2, count(*) AS common
        | FROM cands c JOIN sh a ON a.doc_id = c.d1 JOIN sh b ON b.doc_id = c.d2 AND a.sh = b.sh
        | GROUP BY 1, 2),
        |j AS (
        | SELECT c.d1, c.d2,
        |  coalesce(m.common, 0) / (s1.sz + s2.sz - coalesce(m.common, 0)) AS jaccard
        | FROM cands c
        | LEFT JOIN common m ON c.d1 = m.d1 AND c.d2 = m.d2
        | JOIN sizes s1 ON c.d1 = s1.doc_id JOIN sizes s2 ON c.d2 = s2.doc_id),
        |best AS (
        | SELECT d1, d2 AS best_match, jaccard AS best_jaccard FROM j
        | QUALIFY row_number() OVER (PARTITION BY d1 ORDER BY jaccard DESC, d2) = 1)
        |SELECT j.d1 AS doc_id, count(*) AS n_candidates,
        | CAST(sum(CASE WHEN j.jaccard >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_dups,
        | any_value(b.best_match) AS best_match,
        | any_value(b.best_jaccard) AS best_jaccard
        |FROM j JOIN best b ON b.d1 = j.d1
        |GROUP BY j.d1
        |ORDER BY doc_id""".stripMargin),

    "q43_simhash_dedup" ->
      """WITH hs AS (
        | SELECT doc_id,
        |  list_transform(list_distinct(list_transform(range(1, len(string_split(text, ' ')) - 1),
        |    i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1] || ' ' || string_split(text, ' ')[i+2])),
        |   t -> CAST(('0x' || substr(md5(t), 1, 8)) AS BIGINT)) AS hl
        | FROM documents),
        |sim AS (
        | SELECT doc_id,
        |  list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(range(0, 32), j ->
        |    CASE WHEN list_reduce(list_prepend(0, list_transform(hl, h -> CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END)),
        |                          (a, b) -> a + b) > 0
        |         THEN (CAST(1 AS BIGINT) << j) ELSE CAST(0 AS BIGINT) END)),
        |   (a, b) -> a + b) AS simhash
        | FROM hs)
        |SELECT x.doc_id AS d1, y.doc_id AS d2, x.simhash AS s1, y.simhash AS s2,
        | CAST(bit_count(xor(x.simhash, y.simhash)) AS INTEGER) AS hamming
        |FROM sim x JOIN sim y ON (x.simhash >> 16) = (y.simhash >> 16) AND x.doc_id < y.doc_id
        |WHERE bit_count(xor(x.simhash, y.simhash)) <= 4
        |ORDER BY d1, d2""".stripMargin,

    "q154_substring_spans" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |g AS (
        | SELECT doc_id, len(toks) AS n_tok, i AS pos,
        |  substring(md5(array_to_string(toks[i:i+7], ' ')), 1, 16) AS h
        | FROM t, unnest(generate_series(1, len(toks) - 7)) AS u(i)
        | WHERE len(toks) >= 8),
        |d AS (SELECT h FROM g GROUP BY h HAVING count(*) >= 2),
        |x AS (SELECT doc_id, n_tok, pos FROM g JOIN d USING (h)),
        |m AS (SELECT doc_id, n_tok, pos,
        |  CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
        |    OR pos > lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) + 8 THEN 1 ELSE 0 END AS brk
        | FROM x),
        |i AS (SELECT doc_id, n_tok, pos,
        |  sum(brk) OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS island FROM m),
        |sp AS (SELECT doc_id, island, max(n_tok) AS n_tok, min(pos) AS s, max(pos) + 7 AS e
        | FROM i GROUP BY 1, 2)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
        | CAST(sum(e - s + 1) AS BIGINT) AS dup_tokens,
        | CAST(max(n_tok) AS BIGINT) AS n_tok,
        | round(CAST(sum(e - s + 1) AS DOUBLE) / max(n_tok), 4) AS dup_frac
        |FROM sp GROUP BY doc_id ORDER BY doc_id""".stripMargin)
}
