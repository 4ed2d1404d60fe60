package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.Tables

/** Text-analysis + deduplication operators over `documents` (driver north
  * star: LLM-data-pipeline surface; SURVEY.md §7 M4).
  *
  * Parity discipline: every ratio is a raw IEEE division of exactly-computed
  * integers (token counts, char counts, integer-scaled scores) — identical
  * bits on both engines with no round() calls (round() half-cases resolve
  * differently between Spark's BigDecimal path and DuckDB's binary path
  * when the double isn't an exact binary half).
  *
  * Scale notes (100 TB): exact dedup is a hash groupBy (one shuffle on the
  * 128-bit content fingerprint — collision-safe at any scale); near-dup is
  * the inverted-index shingle join (shuffle on shingle, then on pair), the
  * standard pre-LSH form whose candidate set MinHash banding (q42) bounds
  * at scale; everything else is embarrassingly parallel projection +
  * one aggregation. All lambdas are Catalyst higher-order functions — no
  * UDFs, no serialization walls (HOF lambdas evaluate interpreted; where
  * that showed up in the bench the operator was restructured — see
  * Dedup.q43 and functions.ArrayDot).
  */
object Text {
  type QFn = (SparkSession, String) => DataFrame

  /** Hot-shingle document-frequency cap for q41: a shingle present in more
    * than this many documents is boilerplate (page headers, license
    * blurbs), carries no near-dup signal, and — being the join key of the
    * inverted-index self-join — produces a QUADRATIC pair blowup on that
    * one skewed key at scale. Dropping df > cap keys bounds any key's
    * pair fan-out at cap², independent of corpus size. Fixture df maxes at
    * 25 (sf0.1) / 7 (sf0.01), so 20 trims only the sf0.1 tail; production
    * guidance is an absolute hot bound like this or a small ‰ of the
    * corpus. The oracle applies the identical cap.
    */
  private val DfCap = 20

  /** q41's full pair pipeline (shingles → df-cap → inverted-index self-join
    * → Jaccard filter), shared with q69's cluster assignment and q74's
    * curation so the pair graph and the clusters derive from ONE
    * definition — and, like the shingle frame itself, materialized once
    * per (session, dir) since three judged queries consume it.
    */
  private[graft] def jaccardPairs(s: SparkSession, dir: String): DataFrame =
    rawShinglePairs(s, dir)
      .withColumn("jaccard", col("common") / (col("sz1") + col("sz2") - col("common")))
      .filter(col("jaccard") >= 0.6)
      .select("d1", "d2", "common", "sz1", "sz2", "jaccard")

  /** The MEMOIZED frame is now the pre-threshold candidate-pair relation
    * (d1, d2, common, sz1, sz2): q41/q69/q74 derive the >= 0.6 pairs from
    * it with a free filter, and q176's calibration histogram reads the
    * whole similarity landscape from the same one materialization.
    */
  private[graft] def rawShinglePairs(s: SparkSession, dir: String): DataFrame =
    Shingles.pairsFrame(s, dir)(buildRawPairs(s, dir))

  private def buildRawPairs(s: SparkSession, dir: String): DataFrame = {
    // one shared materialization (Shingles.frame) feeds both join sides
    // and the size table — and is reused by q42/q43 in the same session.
    val hk = Shingles.frame(s, dir).select(col("doc_id"), col("hk"))
    // skew guard: drop boilerplate shingle keys (df > DfCap) from the
    // representation BEFORE the pair join. The hot set is tiny by
    // definition, so the anti-join broadcasts.
    val hot = hk.groupBy("hk").agg(count(lit(1)).as("df"))
      .filter(col("df") > DfCap).select("hk")
    val kept = hk.join(broadcast(hot), Seq("hk"), "left_anti")
    val a = kept
    val b = kept.select(col("doc_id").as("doc_id2"), col("hk").as("hk2"))
    val sizes = kept.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val pairs = a.join(b, col("hk") === col("hk2") && col("doc_id") < col("doc_id2"))
      .groupBy(col("doc_id").as("d1"), col("doc_id2").as("d2"))
      .agg(count(lit(1)).as("common"))
    pairs
      .join(sizes.select(col("doc_id").as("d1"), col("sz").as("sz1")), "d1")
      .join(sizes.select(col("doc_id").as("d2"), col("sz").as("sz2")), "d2")
      .select("d1", "d2", "common", "sz1", "sz2")
  }

  /** q157's prefix-filtered pipeline over ANY (doc_id, hk) element frame —
    * factored so PrefixFilterSpec can drive random set fixtures against an
    * in-memory brute force (the losslessness property), while the judged
    * query runs it over the shared shingle frame.
    */
  private[graft] def prefixFilterPairs(hkIn: DataFrame): DataFrame = {
    val hk = hkIn.select("doc_id", "hk")
    val dfreq = hk.groupBy("hk").agg(count(lit(1)).as("df"))
    val sizes = hk.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val w = Window.partitionBy("doc_id").orderBy("df", "hk")
    // sz rides the SAME doc-partitioned window shuffle as pos (an
    // unordered count-over-partition frame) instead of a join against
    // the sizes aggregate — one exchange less on each self-join side
    val pre = hk.join(dfreq, "hk")
      .withColumn("pos", row_number().over(w))
      .withColumn("sz", count(lit(1)).over(Window.partitionBy("doc_id")))
      .filter(col("pos") <= col("sz") - expr("(3 * sz + 4) div 5") + 1)
      .select("doc_id", "hk", "sz")
    val cand = pre.select(col("doc_id").as("d1"), col("hk"), col("sz").as("sz1"))
      .join(pre.select(col("doc_id").as("d2"), col("hk"), col("sz").as("sz2")), Seq("hk"))
      .filter(col("d1") < col("d2") &&
        lit(5) * least(col("sz1"), col("sz2")) >= lit(3) * greatest(col("sz1"), col("sz2")))
      .select("d1", "d2").distinct()
    val common = cand
      .join(hk.select(col("doc_id").as("d1"), col("hk")), "d1")
      .join(hk.select(col("doc_id").as("d2"), col("hk")), Seq("d2", "hk"))
      .groupBy("d1", "d2").agg(count(lit(1)).as("common"))
    common
      .join(sizes.select(col("doc_id").as("d1"), col("sz").as("sz1")), "d1")
      .join(sizes.select(col("doc_id").as("d2"), col("sz").as("sz2")), "d2")
      .filter(lit(8) * col("common") >= lit(3) * (col("sz1") + col("sz2")))
      .withColumn("jaccard", col("common") / (col("sz1") + col("sz2") - col("common")))
      .select("d1", "d2", "common", "sz1", "sz2", "jaccard")
  }

  val queries: Seq[(String, QFn)] = Seq(
    // Exact dedup: content-hash groupBy on normalized text.
    "q40_exact_dedup_groups" -> { (s, dir) =>
      Tables.documents(s, dir)
        .groupBy(md5(lower(trim(col("text")))).as("fp"))
        .agg(count(lit(1)).as("n_docs"), min("doc_id").as("canonical_doc"),
          countDistinct("lang").as("n_langs"))
        .filter(col("n_docs") > 1)
        .orderBy("fp")
    },

    // Near-dup: 3-gram shingle Jaccard >= 0.6 via inverted-index self-join.
    // The join key is the 60-bit md5 prefix of the shingle, not the string:
    // 8-byte fixed-width keys shuffle and compare far cheaper; at 60 bits
    // even 10^9 distinct shingles collide with probability < 1e-3
    // (birthday bound) — effectively exact, and the oracle applies the
    // identical keying so parity is unconditional.
    "q41_shingle_jaccard_pairs" -> { (s, dir) =>
      jaccardPairs(s, dir).orderBy("d1", "d2")
    },

    // Lossless prefix-filtered set-similarity join (the AllPairs/PPJoin
    // prefix filter): EXACT Jaccard >= 3/5 pairs with no cap and no
    // recall loss — the third point on the module's accuracy/cost curve
    // (q41 df-capped index: cheap, bounded loss; q42 LSH: cheapest,
    // probabilistic; this: exact). Every doc's shingle keys sort in ONE
    // global order (df ascending — rarest first — then key); only the
    // first sz - ceil(t*sz) + 1 keys are indexed, and the prefix lemma
    // guarantees any pair at or above the threshold shares an indexed
    // key. Candidates then pass the length filter (5*min >= 3*max) and
    // exact verification over the FULL sets. All thresholds are exact
    // integer arithmetic (ceil(3*sz/5) = (3*sz+4) div 5) — a float 0.6
    // here can round the prefix too short and silently lose pairs.
    //
    // Scale: the index carries ~2/5 of the tokens; rare-first ordering
    // makes prefix keys the LEAST shared ones, so candidate fan-out per
    // key stays small without any lossy cap, and verification cost is
    // bounded by the candidate count, not the corpus.
    "q157_prefix_filter_join" -> { (s, dir) =>
      prefixFilterPairs(Shingles.frame(s, dir).select(col("doc_id"), col("hk")))
        .orderBy("d1", "d2")
    },

    // Connected components on an ADVERSARIAL long-chain graph via the
    // alternating large-star/small-star operator (Kiveris et al. SoCC'14;
    // operators/Components.connectedStars). Near-dup pair graphs (q69) are
    // dense tiny-diameter clusters where plain label propagation wins;
    // this fixture is the OTHER regime — each source's documents chained
    // in doc_id order, so component diameter grows linearly with corpus
    // size and propagation would need diameter rounds, while the star
    // rounds contract paths doubly-exponentially (O(log d) driver
    // round-trips at any scale). The oracle re-derives the components
    // arithmetically (a chain's component is its source's min doc_id) —
    // no recursion needed, so the check is independent of any graph
    // algorithm.
    "q164_components_stars" -> { (s, dir) =>
      val docs = Tables.documents(s, dir).select("doc_id", "source")
      val w = Window.partitionBy("source").orderBy("doc_id")
      val edges = docs.withColumn("nxt", lead("doc_id", 1).over(w))
        .filter(col("nxt").isNotNull)
        .select(col("doc_id").as("src"), col("nxt").as("dst"))
      val comp = _root_.graft.operators.Components.connectedStars(s, edges)
        .select(col("id").as("doc_id"), col("comp"))
      val sizes = comp.groupBy("comp").agg(count(lit(1)).as("cluster_size"))
      docs.join(comp, Seq("doc_id"), "left")
        .withColumn("cluster_id", coalesce(col("comp"), col("doc_id")))
        .join(sizes.withColumnRenamed("comp", "cluster_id"), Seq("cluster_id"), "left")
        .select(col("doc_id"), col("cluster_id"),
          coalesce(col("cluster_size"), lit(1L)).as("cluster_size"))
        .orderBy("doc_id")
    },

    // Exact-substring eval decontamination — the sharper sibling of q81's
    // shingle-overlap screen: an eval row is contaminated iff its probe
    // span appears VERBATIM in some other document. Probe spans (25 chars
    // from offset 11 of every doc_id % 101 == 7 document) are derived
    // in-plan and flow through the DataFrame needle variant of the q105
    // trigram index (Graft.substringSearchDF): rarest-k posting probe,
    // contains() verify on candidates only — never a per-needle corpus
    // scan. The oracle verifies by brute-force contains() over the full
    // cross product (independent of the index).
    "q171_exact_decontamination" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val evals = docs
        .filter(pmod(col("doc_id"), lit(101)) === 7 && length(col("text")) >= 35)
        .select(col("doc_id").as("eval_id"), substring(col("text"), 11, 25).as("needle"))
      val hits = _root_.graft.Graft.substringSearchDF(docs, evals.select("needle"))
      // left join keeps clean evals; the self-hit (every needle matches
      // its own eval doc) maps to null rather than being filtered, so an
      // eval whose ONLY match is itself still groups to a zero-count row
      evals.join(hits, Seq("needle"), "left")
        .withColumn("hit", when(col("doc_id") =!= col("eval_id"), col("doc_id")))
        .groupBy("eval_id", "needle")
        .agg(sum(when(col("hit").isNotNull, 1L).otherwise(0L)).as("n_contaminated"),
          coalesce(min("hit"), lit(-1L)).as("first_hit"))
        .orderBy("eval_id")
    },

    // CONTAINMENT near-dup (asymmetric overlap): common / min(sz) catches
    // the subset-duplication Jaccard structurally misses — a short doc
    // pasted inside a long one scores low Jaccard (union-normalized) but
    // high containment. The standard second axis of corpus dedup; reads
    // the SAME memoized raw-pair frame, so the query costs one filter.
    // Integer threshold (containment >= 4/5 ⟺ 5*common >= 4*min) — no
    // float rounding at the decision boundary.
    "q178_containment_dedup" -> { (s, dir) =>
      rawShinglePairs(s, dir)
        .filter(lit(5) * col("common") >= lit(4) * least(col("sz1"), col("sz2")))
        .withColumn("containment_x100",
          expr("(100 * common) div least(sz1, sz2)"))
        .select("d1", "d2", "common", "sz1", "sz2", "containment_x100")
        .orderBy("d1", "d2")
    },

    // Similarity-threshold calibration histogram — the measurement that
    // justifies the 0.6 everywhere else: bucket EVERY candidate pair (any
    // shared shingle, pre-threshold) by integer-decile Jaccard and count.
    // The dedup operator's main tuning knob stops being folklore: the
    // curve shows where the near-dup mass actually sits. Free at the
    // margin — it reads the SAME memoized raw-pair frame q41/q69/q74
    // filter, adding one 11-bucket aggregation.
    "q176_similarity_histogram" -> { (s, dir) =>
      rawShinglePairs(s, dir)
        .withColumn("bucket", expr("(10 * common) div (sz1 + sz2 - common)"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_pairs"), sum("common").as("sum_common"))
        .orderBy("bucket")
    },

    // Cluster assignment over the near-dup pair graph (VERDICT r3 item 2):
    // connected components via min-label propagation (operators.Components)
    // turn q41's pairs into per-document (cluster_id, is_canonical) — the
    // form a training-data pipeline actually consumes (keep one canonical
    // doc per cluster, drop the rest). Canonical = min doc_id in cluster.
    "q69_dedup_clusters" -> { (s, dir) =>
      // ONE definition of cluster assignment — the facade's dedupClusters —
      // so the judged query and the library API cannot drift; only the
      // cluster_size join is local to the query
      val cl = _root_.graft.Graft.dedupClusters(s, jaccardPairs(s, dir).select("d1", "d2"))
      val sizes = cl.groupBy("cluster_id").agg(count(lit(1)).as("cluster_size"))
      cl.join(sizes, "cluster_id")
        .select(col("doc_id"), col("cluster_id"), col("cluster_size"), col("is_canonical"))
        .orderBy("doc_id")
    },

    // End-to-end corpus curation — the composition a training-data
    // pipeline actually runs (driver north star): quality-score every doc
    // (q47's integer-scaled formula), assign near-dup clusters (q69's
    // connected components over the q41 pair graph), then keep a doc iff
    // it is its cluster's canonical (or unpaired) AND clears the quality
    // bar. Per-language audit counts make every drop attributable:
    // n_docs = n_kept + n_dup_dropped + n_quality_dropped.
    "q74_corpus_curation" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
        .withColumn("toks", split(col("text"), " "))
        .withColumn("n_tok", size(col("toks")).cast("long"))
        .withColumn("n_dis", size(array_distinct(col("toks"))).cast("long"))
        .withColumn("n_stop",
          size(expr("filter(toks, t -> t IN ('the', 'a', 'of', 'and'))")).cast("long"))
        .withColumn("q",
          ((lit(1000L) * col("n_dis") + lit(10L) * (col("n_chars") - col("n_tok") + 1) +
            lit(500L) * (col("n_tok") - col("n_stop"))) / col("n_tok")).cast("long"))
      val edges = jaccardPairs(s, dir)
        .select(col("d1").as("src"), col("d2").as("dst"))
      val comp = _root_.graft.operators.Components.connected(s, edges)
        .select(col("id").as("doc_id"), col("comp").as("cluster_id"))
      val flagged = docs.join(comp, Seq("doc_id"), "left")
        .withColumn("dup_drop", col("cluster_id").isNotNull && col("cluster_id") =!= col("doc_id"))
        .withColumn("keep", !col("dup_drop") && col("q") >= 900)
      flagged.groupBy("lang")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
          sum(when(col("dup_drop"), 1L).otherwise(0L)).as("n_dup_dropped"),
          sum(when(!col("dup_drop") && col("q") < 900, 1L).otherwise(0L)).as("n_quality_dropped"),
          sum(when(col("keep"), col("n_tok")).otherwise(0L)).as("kept_tokens"))
        .orderBy("lang")
    },

    // Eval-set decontamination — the pre-training hygiene step: flag
    // corpus documents sharing >= 5 distinct 3-gram shingles with any
    // held-out eval document (eval set = doc_id % 31 == 0, the stand-in
    // for benchmark prompts). At 100 TB the eval shingle set is tiny
    // relative to the corpus, so the overlap test is a BROADCAST semi-join
    // on the 60-bit shingle key — map-side, no shuffle of the corpus
    // representation — followed by one per-doc count. Overlap ratio is a
    // raw IEEE division of exact counts.
    "q81_decontamination" -> { (s, dir) =>
      val hk = Shingles.frame(s, dir).select(col("doc_id"), col("hk"))
      val ev = broadcast(
        hk.filter(pmod(col("doc_id"), lit(31)) === 0).select("hk").distinct())
      val corpus = hk.filter(pmod(col("doc_id"), lit(31)) =!= 0)
      val sizes = corpus.groupBy("doc_id").agg(count(lit(1)).as("sz"))
      val shared = corpus.join(ev, Seq("hk"), "left_semi")
        .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
      shared.join(sizes, "doc_id")
        .filter(col("n_shared") >= 5)
        .withColumn("overlap", col("n_shared") / col("sz"))
        .orderBy("doc_id")
    },

    // Context-window chunking — the corpus→training-examples reshape every
    // LLM pipeline runs: each document becomes overlapping 32-token
    // windows on a 24-token stride (chunk k covers tokens [24k, 24k+32);
    // the last window is short rather than dropped, so every token lands
    // in ≥1 chunk). Pure per-row generate+slice — a generator explode with
    // NO shuffle: at 100 TB this is a map-only stage whose output feeds
    // the tokenizer, and the md5 chunk hash is the dedup/lineage key each
    // chunk carries downstream. Tokenization is the module's parity-proven
    // single-space split; chunk count = floor((n-1)/24)+1.
    "q87_doc_chunks" -> { (s, dir) =>
      graft.Graft.chunk(Tables.documents(s, dir), chunkSize = 32, stride = 24)
        .select(col("doc_id"), col("chunk_idx"),
          size(col("chunk")).as("n_chunk_tokens"),
          element_at(col("chunk"), 1).as("first_token"),
          element_at(col("chunk"), -1).as("last_token"),
          md5(concat_ws(" ", col("chunk"))).as("chunk_hash"))
        .orderBy("doc_id", "chunk_idx")
    },

    // Sequence packing audit — the GPT-style pretraining packer: documents
    // concatenated in stream order (per language, by doc_id) and sliced
    // into fixed 512-token windows; bin = the window a doc STARTS in,
    // derived from the running token total. Per (lang, bin): doc count,
    // token mass, and boundary-crossers (docs whose last token lands in a
    // later window — the count that decides whether you need attention
    // masking across document boundaries). Scale notes (100 TB): the
    // running sum partitions on the stream key (lang here); a production
    // packer sub-shards hot streams (lang, shard) and offsets bins by the
    // shard's token base — same plan, one more key column.
    "q98_sequence_packing" -> { (s, dir) =>
      // ONE packer implementation — the facade's packingAudit — so the
      // judged query and the library API cannot drift
      val docs = Tables.documents(s, dir)
        .select(col("lang"), col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("n_tok"))
      graft.Graft.packingAudit(docs, budget = 512)
        .orderBy("lang", "bin")
    },

    // Stratified deterministic downsampling — corpus rebalancing with a
    // per-language keep rate (en 50%, zh 25%, everything else 10%) where
    // membership is a pure function of md5(doc_id): reproducible across
    // runs/engines/partitionings, and adding documents never flips an
    // existing keep decision (same contract as q75's split). The judged
    // output proves MEMBERSHIP, not just counts: sum/min/max of the kept
    // doc_ids would catch any drift in which docs were kept. Map-only
    // filter before the per-lang aggregation — no pre-shuffle at scale.
    // Deterministic WEIGHTED sampling per stratum — importance sampling
    // for data-mixture construction (upweight token-rich documents the way
    // a pretraining mix upweights high-value sources), with zero RNG: the
    // inclusion priority is `md5_60bit(doc_id) div n_tok` (integer A-Res —
    // bigger weight → smaller priority → likelier bottom-k), a pure
    // function of the row, so the sample reproduces across runs, engines
    // and partitionings like q88/q75. All-integer arithmetic → the oracle
    // re-derives identical priorities. Bottom-k per stratum rides one
    // window shuffle here; at corpus scale swap in the bounded-state TopK
    // aggregator (q77's plan) — same semantics, O(k) state per stratum.
    "q123_weighted_sample" -> { (s, dir) =>
      val w = Window.partitionBy("lang").orderBy(col("pri"), col("doc_id"))
      Tables.documents(s, dir)
        .withColumn("n_tok", size(split(col("text"), " ")).cast("long"))
        .filter(col("n_tok") > 0)
        .withColumn("h",
          expr("cast(conv(substring(md5(cast(doc_id as string)), 1, 15), 16, 10) as bigint)"))
        .withColumn("pri", expr("h div n_tok"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 5)
        .select("lang", "rank", "doc_id", "n_tok", "pri")
        .orderBy("lang", "rank")
    },

    "q88_stratified_sample" -> { (s, dir) =>
      // the kept set comes from the facade's ONE sampling rule
      // (Graft.stratifiedSample) so the judged query and the library API
      // cannot drift; totals join back per stratum
      val docs = Tables.documents(s, dir)
      val kept = graft.Graft.stratifiedSample(docs, Map("en" -> 50, "zh" -> 25), 10)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_kept"), sum("doc_id").as("kept_id_sum"),
          min("doc_id").as("kept_id_min"), max("doc_id").as("kept_id_max"))
      docs.groupBy("lang").agg(count(lit(1)).as("n_total"))
        .join(kept, Seq("lang"), "left")
        .select(col("lang"), col("n_total"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"),
          col("kept_id_sum"), col("kept_id_min"), col("kept_id_max"))
        .orderBy("lang")
    },

    // Deterministic train/val/test split assignment — the reproducible-
    // sampling primitive a corpus pipeline needs at any scale: the split is
    // a pure function of doc_id's md5 (8/1/1 by hash decile), so it is
    // stable across runs, engines, partitionings, and corpus growth
    // (adding docs never reassigns existing ones). No RNG, no
    // sample()/TABLESAMPLE (whose seeds don't reproduce across engines).
    "q75_hash_split" -> { (s, dir) =>
      Tables.documents(s, dir)
        .withColumn("bucket",
          expr("cast(conv(substring(md5(cast(doc_id as string)), 1, 6), 16, 10) as int) % 10"))
        .withColumn("split",
          when(col("bucket") < 8, "train").when(col("bucket") === 8, "val").otherwise("test"))
        .groupBy("lang", "split")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("total_chars"))
        .orderBy("lang", "split")
    },

    // Token counting: whitespace tokens + a BPE-ish piece estimate
    // (ceil(len/4) pieces per token), per language.
    "q46_token_stats" -> { (s, dir) =>
      Tables.documents(s, dir)
        .withColumn("toks", split(col("text"), " "))
        .select(col("lang"),
          size(col("toks")).cast("long").as("n_tokens"),
          size(array_distinct(col("toks"))).cast("long").as("n_distinct"),
          expr("aggregate(split(text, ' '), 0L, (acc, t) -> acc + (length(t) + 3) div 4)").as("bpe_pieces"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_tokens").as("total_tokens"),
          sum("bpe_pieces").as("total_pieces"),
          (sum("n_tokens") / count(lit(1))).as("avg_tokens_per_doc"),
          (sum("n_distinct") / sum("n_tokens")).as("distinct_ratio"))
        .orderBy("lang")
    },

    // Data-mixture audit — the per-source table a pretraining run is
    // planned around: token share of the corpus, near-dup casualties
    // (non-canonical cluster members q69 would drop), and the kept token
    // mass that actually reaches training. Composes the memoized pair
    // graph's clusters with token counting; the corpus total rides a
    // broadcast single-row crossJoin (q58's anchor pattern — never a
    // driver-side scalar).
    "q101_data_mixture" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"),
          size(split(col("text"), " ")).cast("long").as("n_tok"))
      val cl = _root_.graft.Graft.dedupClusters(s, jaccardPairs(s, dir).select("d1", "d2"))
      val flagged = docs
        .join(cl.select(col("doc_id"), col("is_canonical")), Seq("doc_id"), "left")
        .withColumn("dropped", when(col("is_canonical") === 0, 1).otherwise(0))
      val agged = flagged.groupBy("source")
        .agg(
          count(lit(1)).as("n_docs"),
          sum("n_tok").cast("long").as("n_tokens"),
          sum("dropped").cast("long").as("n_dup_dropped"),
          sum(when(col("dropped") === 0, col("n_tok")).otherwise(0L)).cast("long").as("kept_tokens"))
      // corpus total = the sum of the 20 per-source rows, not a second
      // corpus scan; the identical aggregate subtrees share one exchange
      val tot = agged.agg(sum("n_tokens").as("corpus_tokens"))
      agged.crossJoin(broadcast(tot))
        .withColumn("token_share", col("n_tokens") / col("corpus_tokens"))
        .select("source", "n_docs", "n_tokens", "token_share", "n_dup_dropped", "kept_tokens")
        .orderBy("source")
    },

    // Corpus-level boilerplate mining (the exact-substring-dedup signal of
    // Lee et al.'s "Deduplicating Training Data" line of work, reshaped
    // for a distributed engine): every positional token 8-gram, counted
    // across the corpus; grams appearing in >1 document are boilerplate /
    // near-dup evidence (page headers, license blurbs, templates). One
    // map-only generator explode then ONE shuffle on the gram; partial
    // aggregation absorbs within-partition repeats, and the final top-20
    // is TakeOrderedAndProject, never a full sort. Gram construction is
    // the codegen'd `token_ngrams` expression (one boundary scan + m
    // contiguous substrings — the HOF transform/slice/array_join pipeline
    // evaluates interpreted and benched ~2x slower). At 100 TB you'd key
    // the shuffle on a 64-bit gram hash and df-cap the hot tail exactly
    // like q41's shingle cap; the fixture's gram domain needs neither.
    // BPE merge-pair mining — step 1 of tokenizer training (Sennrich et
    // al., "Neural Machine Translation of Rare Words with Subword Units",
    // public): per language, count adjacent CHARACTER pairs inside tokens
    // (weighted by occurrence, as real BPE is) and rank the top-5 merge
    // candidates. Map-only generator explode (token split, then a
    // sequence/substring transform — all codegen), one (lang, pair)
    // shuffle, width-bounded top-5 window. At 100x: pair cardinality is
    // bounded by alphabet^2 per language, so the aggregate stays tiny no
    // matter the corpus; iterating merges re-runs this same plan on
    // re-segmented tokens.
    "q141_bpe_pairs" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val pairs = Tables.documents(s, dir)
        .select(col("lang"), explode(split(col("text"), " ")).as("tok"))
        .filter(length(col("tok")) >= 2)
        .select(col("lang"), explode(expr(
          "transform(sequence(1, length(tok) - 1), i -> substring(tok, i, 2))")).as("pair"))
      val w = Window.partitionBy("lang").orderBy(col("n").desc, col("pair"))
      pairs.groupBy("lang", "pair").agg(count(lit(1)).as("n"))
        .withColumn("rank", row_number().over(w).cast("int"))
        .filter(col("rank") <= 5)
        .orderBy("lang", "rank")
    },

    "q107_boilerplate_ngrams" -> { (s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"),
          explode(call_function("token_ngrams", col("text"), lit(8))).as("gram"))
        .groupBy("gram")
        .agg(count(lit(1)).as("n_occ"), countDistinct("doc_id").as("n_docs"))
        .filter(col("n_docs") > 1)
        .orderBy(col("n_docs").desc, col("n_occ").desc, col("gram"))
        .limit(20)
    },

    // P3 search-box semantics at corpus scale (SURVEY.md §2.2): trigram
    // inverted-index substring search. The index prunes to docs holding
    // the needle's rarest trigrams, then verifies `contains` on candidates
    // only — the oracle runs the NAIVE full scan, so the judged match is
    // proof the index path returns exactly the scan's answer. The needle
    // set includes a reversed phrase ('batch merge fast') whose trigrams
    // all exist in the corpus — candidates without the verify step would
    // be wrong — and phrases of varying selectivity.
    "q105_trigram_search" -> { (s, dir) =>
      import s.implicits._
      val needles = Seq("batch merge fast", "fast merge batch", "scan query",
        "value table part", "window data")
      val m = _root_.graft.Graft.substringSearch(Tables.documents(s, dir), needles)
      val agg = m.groupBy("needle").agg(
        count(lit(1)).as("n_docs"),
        array_join(transform(slice(sort_array(collect_list(col("doc_id"))), 1, 5),
          _.cast("string")), ",").as("sample_docs"))
      needles.toDF("needle").join(agg, Seq("needle"), "left")
        .select(col("needle"), coalesce(col("n_docs"), lit(0L)).as("n_docs"),
          coalesce(col("sample_docs"), lit("")).as("sample_docs"))
        .orderBy("needle")
    },

    // Quality scoring: integer-scaled per-doc score (type-token ratio,
    // mean token length, stopword share), aggregated per source.
    "q47_quality_scores" -> { (s, dir) =>
      val scored = Tables.documents(s, dir)
        .withColumn("toks", split(col("text"), " "))
        .withColumn("n_tok", size(col("toks")).cast("long"))
        .withColumn("n_dis", size(array_distinct(col("toks"))).cast("long"))
        .withColumn("n_stop",
          size(expr("filter(toks, t -> t IN ('the', 'a', 'of', 'and'))")).cast("long"))
        // integer-scaled quality: 1000*ttr + 10*avg_tok_len - 500*stop_ratio,
        // all in exact integer arithmetic (scaled by n_tok).
        .withColumn("q",
          ((lit(1000L) * col("n_dis") + lit(10L) * (col("n_chars") - col("n_tok") + 1) +
            lit(500L) * (col("n_tok") - col("n_stop"))) / col("n_tok")).cast("long"))
      scored.groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          (sum("q") / count(lit(1))).as("avg_quality"),
          min("q").as("min_quality"), max("q").as("max_quality"))
        .orderBy("source")
    },

    // Language ID: stopword-marker votes with fixed priority tie-break.
    // (The fixture corpus is same-vocabulary soup for every lang label, so
    // the guess column demonstrates the operator, not corpus truth.)
    "q48_language_id" -> { (s, dir) =>
      Tables.documents(s, dir)
        .withColumn("toks", split(col("text"), " "))
        .withColumn("v_en", size(expr("filter(toks, t -> t IN ('the', 'a', 'of'))")))
        .withColumn("v_de", size(expr("filter(toks, t -> t IN ('der', 'die', 'das'))")))
        .withColumn("v_es", size(expr("filter(toks, t -> t IN ('el', 'los', 'una'))")))
        .withColumn("v_fr", size(expr("filter(toks, t -> t IN ('le', 'les', 'une'))")))
        .withColumn("guess",
          when(col("v_en") >= greatest(col("v_de"), col("v_es"), col("v_fr")) && col("v_en") > 0, "en")
            .when(col("v_de") >= greatest(col("v_es"), col("v_fr")) && col("v_de") > 0, "de")
            .when(col("v_es") >= col("v_fr") && col("v_es") > 0, "es")
            .when(col("v_fr") > 0, "fr")
            .otherwise("und"))
        .groupBy("lang", "guess")
        .agg(count(lit(1)).as("n_docs"))
        .orderBy("lang", "guess")
    },

    // Document fingerprinting: polynomial rolling hash folded over the
    // token stream (mod 2^31-1 each step; fits int64 throughout).
    "q49_doc_fingerprints" -> { (s, dir) =>
      val fp = Tables.documents(s, dir)
        .withColumn("fp",
          expr("aggregate(transform(split(text, ' '), t -> ascii(substring(t, 1, 1)) * 31L + length(t)), " +
            "0L, (h, v) -> (h * 1000003L + v) % 2147483647L)"))
      fp.groupBy("fp")
        .agg(count(lit(1)).as("n_docs"), min("doc_id").as("min_doc"))
        .filter(col("n_docs") > 1)
        .orderBy("fp")
    },

    // Intra-document repetition metrics (the Gopher-rule family): fraction
    // of repeated tokens, and how much of the doc the single most frequent
    // word bigram / trigram accounts for — the standard "remove documents
    // that repeat themselves" quality signals. All per-row Catalyst HOFs
    // (no shuffle beyond the scan): the O(distinct·n) mode count runs on a
    // token window capped at 512 (identity on fixtures — docs are ~100
    // tokens — and the 100 TB bound on pathological megadocs; real
    // pipelines cap repetition stats to a document prefix the same way).
    // Fractions are raw IEEE divisions of exactly-computed integers, per
    // the module parity discipline.
    "q83_repetition_metrics" -> { (s, dir) =>
      Tables.documents(s, dir)
        .filter(col("doc_id") < 60)
        .withColumn("w", expr("slice(split(text, ' '), 1, 512)"))
        .filter(expr("size(w) >= 3")) // guards sequence() on degenerate docs
        .withColumn("bg", expr(
          "transform(sequence(1, size(w) - 1), i -> concat(element_at(w, i), ' ', element_at(w, i + 1)))"))
        .withColumn("tg", expr(
          "transform(sequence(1, size(w) - 2), i -> " +
            "concat(element_at(w, i), ' ', element_at(w, i + 1), ' ', element_at(w, i + 2)))"))
        .withColumn("top_bg", expr(
          "array_max(transform(array_distinct(bg), b -> size(filter(bg, x -> x = b))))"))
        .withColumn("top_tg", expr(
          "array_max(transform(array_distinct(tg), b -> size(filter(tg, x -> x = b))))"))
        .select(
          col("doc_id"), col("lang"),
          expr("size(w)").as("n_tokens"),
          expr("(size(w) - size(array_distinct(w))) / size(w)").as("dup_token_frac"),
          col("top_bg").as("top_bigram_n"),
          expr("top_bg / size(bg)").as("top_bigram_frac"),
          expr("top_tg / size(tg)").as("top_trigram_frac"))
        .orderBy("doc_id")
    },

    // BPE merge APPLICATION — the serving half of q141's tokenizer-training
    // story: the same per-language pair census picks the top-5 merges
    // (rank order, count-desc tie-to-pair), and every document's
    // char-symbol stream applies them sequentially (Sennrich et al.'s
    // greedy merge order, one left-to-right non-overlapping `replace`
    // pass per merge — identical semantics on both engines). Words ride
    // as single-spaced symbol streams joined by a '|' sentinel, so a
    // merge can never fire across a word boundary. The judged output is
    // the compression the learned merges actually buy per language —
    // symbols before/after and the ‰ ratio, all exact integers. Plan
    // shape: the merge table is a 5-row-per-lang broadcast; application
    // is ONE map-only projection with 5 chained replaces — at 100 TB the
    // apply stage is embarrassingly parallel and the train stage stays
    // alphabet-bounded (q141's argument).
    "q183_bpe_apply" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val census = docs
        .select(col("lang"), explode(split(col("text"), " ")).as("tok"))
        .filter(length(col("tok")) >= 2)
        .select(col("lang"), explode(expr(
          "transform(sequence(1, length(tok) - 1), i -> substring(tok, i, 2))")).as("pair"))
        .groupBy("lang", "pair").agg(count(lit(1)).as("n"))
      val rk = Window.partitionBy("lang").orderBy(col("n").desc, col("pair"))
      val merges = census.withColumn("rank", row_number().over(rk))
        .filter(col("rank") <= 5)
        .groupBy("lang")
        .agg(max(when(col("rank") === 1, col("pair"))).as("m1"),
          (2 to 5).map(k => max(when(col("rank") === k, col("pair"))).as(s"m$k")): _*)
      val spaced = docs.select(col("doc_id"), col("lang"),
        concat(lit(" "), array_join(expr(
          "transform(split(text, ' '), w -> concat_ws(' ', transform(sequence(1, length(w)), i -> substring(w, i, 1))))"),
          " | "), lit(" ")).as("sp"))
      def applyMerge(c: org.apache.spark.sql.Column, m: org.apache.spark.sql.Column) =
        replace(c,
          concat(lit(" "), substring(m, 1, 1), lit(" "), substring(m, 2, 1), lit(" ")),
          concat(lit(" "), m, lit(" ")))
      val applied = spaced.join(broadcast(merges), "lang")
        .withColumn("r", (1 to 5).foldLeft(col("sp")) { (acc, k) =>
          applyMerge(acc, col(s"m$k"))
        })
      def nSyms(c: String) =
        expr(s"size(filter(split($c, ' '), x -> x != '' and x != '|'))").cast("long")
      applied
        .select(col("lang"), nSyms("sp").as("nb"), nSyms("r").as("na"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum("nb").as("syms_before"), sum("na").as("syms_after"))
        .withColumn("ratio_x1000", expr("syms_after * 1000 div syms_before"))
        .orderBy("lang")
    },

    // Content-defined chunking (Rabin/FastCDC-family boundary policy,
    // public) — the storage-dedup primitive: a chunk boundary falls after
    // any token whose trailing 3-gram hashes into 1/8 of the key space,
    // so boundaries are CONTENT-anchored, not offset-anchored. The query
    // judges the property that makes CDC worth its cost: after a one-token
    // prefix insertion (every offset shifts), content-defined chunk hashes
    // still match the originals, while fixed-width (every-8-tokens)
    // chunking loses almost everything. Both policies and both variants
    // ride ONE doc-keyed window pass (lag + two running sums share the
    // shuffle); chunk identity is md5 over the pos-ordered token run.
    // Columns: per-policy chunk/dup census + shifted-survival ‰ — the
    // dedup ratio AND the shift-resistance, measured not asserted.
    "q184_content_chunking" -> { (s, dir) =>
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val both = docs.select(col("doc_id"), lit(0).as("vr"), col("text"))
        .unionByName(docs.select(col("doc_id"), lit(1).as("vr"),
          concat(lit("zz "), col("text")).as("text")))
      val toks = both.select(col("doc_id"), col("vr"),
        posexplode(split(col("text"), " ")).as(Seq("pos", "tok")))
      val w = Window.partitionBy("doc_id", "vr").orderBy("pos")
      val flagged = toks
        .withColumn("g2", lag(col("tok"), 2).over(w))
        .withColumn("g1", lag(col("tok"), 1).over(w))
        .withColumn("fc", when(col("g2").isNotNull &&
          expr("pmod(cast(conv(substring(md5(concat(g2, ' ', g1, ' ', tok)), 1, 15), 16, 10) as bigint), 8)") === 0,
          1L).otherwise(0L))
        .withColumn("ff", when(pmod(col("pos"), lit(8)) === 7, 1L).otherwise(0L))
        .withColumn("cc", sum("fc").over(w) - col("fc"))
        .withColumn("cf", sum("ff").over(w) - col("ff"))
      def chunkFrame(cidCol: String) = flagged
        .groupBy(col("doc_id"), col("vr"), col(cidCol).as("cid"))
        .agg(md5(array_join(transform(array_sort(collect_list(struct(col("pos"), col("tok")))),
          x => x.getField("tok")), " ")).as("chash"))
      def policyStats(cidCol: String, label: String) = {
        val ch = chunkFrame(cidCol)
        val base = ch.filter(col("vr") === 0)
        val shif = ch.filter(col("vr") === 1)
        val tot = base.agg(count(lit(1)).as("n_chunks"),
          countDistinct("chash").as("n_distinct"))
        val keysB = base.select("doc_id", "chash").distinct()
        val nKeys = keysB.agg(count(lit(1)).as("n_base_keys"))
        val surv = keysB.join(shif.select("doc_id", "chash").distinct(), Seq("doc_id", "chash"))
          .agg(count(lit(1)).as("n_surviving"))
        tot.crossJoin(broadcast(nKeys)).crossJoin(broadcast(surv))
          .select(lit(label).as("policy"), col("n_chunks"), col("n_distinct"),
            col("n_base_keys"), col("n_surviving"),
            expr("n_surviving * 1000 div n_base_keys").as("survival_x1000"))
      }
      policyStats("cc", "cdc").unionByName(policyStats("cf", "fixed"))
        .orderBy("policy")
    },

    // Quality-aware canonical selection — the step between q69 (who is a
    // duplicate of whom) and the curated corpus (which copy do we KEEP):
    // per near-dup cluster, the representative is the highest-quality
    // member (q47's integer score; ties to the smallest doc_id), not the
    // arbitrary min-id member — and the judged q_gain column measures
    // exactly what the smarter pick buys over the naive canonical. One
    // row_number window over the cluster key on the memoized pair frame's
    // components; token drop accounting makes the dedup cost auditable.
    "q185_dedup_representatives" -> { (s, dir) =>
      val cl = _root_.graft.Graft.dedupClusters(s, jaccardPairs(s, dir).select("d1", "d2"))
        .select(col("doc_id"), col("cluster_id"))
      val scored = Tables.documents(s, dir)
        .withColumn("toks", split(col("text"), " "))
        .withColumn("n_tok", size(col("toks")).cast("long"))
        .withColumn("n_dis", size(array_distinct(col("toks"))).cast("long"))
        .withColumn("n_stop",
          size(expr("filter(toks, t -> t IN ('the', 'a', 'of', 'and'))")).cast("long"))
        .withColumn("q",
          ((lit(1000L) * col("n_dis") + lit(10L) * (col("n_chars") - col("n_tok") + 1) +
            lit(500L) * (col("n_tok") - col("n_stop"))) / col("n_tok")).cast("long"))
        .select("doc_id", "q", "n_tok")
      val j = cl.join(scored, "doc_id")
        .withColumn("rn", row_number().over(
          Window.partitionBy("cluster_id").orderBy(desc("q"), col("doc_id"))))
      j.groupBy("cluster_id")
        .agg(count(lit(1)).as("cluster_size"),
          max(when(col("rn") === 1, col("doc_id"))).as("rep_doc"),
          max(when(col("rn") === 1, col("q"))).as("rep_q"),
          max(when(col("doc_id") === col("cluster_id"), col("q"))).as("naive_q"),
          (sum("n_tok") - max(when(col("rn") === 1, col("n_tok")))).as("dropped_tokens"))
        .withColumn("q_gain", col("rep_q") - col("naive_q"))
        .select("cluster_id", "cluster_size", "rep_doc", "rep_q", "naive_q",
          "q_gain", "dropped_tokens")
        .orderBy("cluster_id")
    },

    // Dataset card — the one-row datasheet a corpus release ships
    // (Datasheets-for-Datasets shape, public): size, composition,
    // duplication, quality, and contamination in a single judged row,
    // every figure composed from the SAME memoized frames the individual
    // queries use (shingles, the pre-threshold pair memo, q47's quality
    // formula, q81's eval overlap) — so the card cannot drift from the
    // measurements it summarizes. One corpus scan for the token/quality
    // block plus reads of already-materialized memos.
    "q206_dataset_card" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
        .withColumn("toks", split(col("text"), " "))
        .withColumn("n_tok", size(col("toks")).cast("long"))
        .withColumn("n_dis", size(array_distinct(col("toks"))).cast("long"))
        .withColumn("n_stop",
          size(expr("filter(toks, t -> t IN ('the', 'a', 'of', 'and'))")).cast("long"))
        .withColumn("q",
          ((lit(1000L) * col("n_dis") + lit(10L) * (col("n_chars") - col("n_tok") + 1) +
            lit(500L) * (col("n_tok") - col("n_stop"))) / col("n_tok")).cast("long"))
      val base = docs.agg(
        count(lit(1)).as("n_docs"),
        sum("n_tok").as("n_tokens"),
        countDistinct("lang").as("n_langs"),
        countDistinct("source").as("n_sources"),
        sum("q").as("q_sum"))
      val exactDups = Tables.documents(s, dir)
        .groupBy(md5(lower(trim(col("text")))).as("fp"))
        .agg(count(lit(1)).as("n"))
        .agg(coalesce(sum(when(col("n") > 1, col("n"))), lit(0L)).as("n_exact_dup_docs"))
      val nearPairs = jaccardPairs(s, dir)
        .agg(count(lit(1)).as("n_neardup_pairs"))
      val hk = Shingles.frame(s, dir).select(col("doc_id"), col("hk"))
      val ev = broadcast(
        hk.filter(pmod(col("doc_id"), lit(31)) === 0).select("hk").distinct())
      val contaminated = hk.filter(pmod(col("doc_id"), lit(31)) =!= 0)
        .join(ev, Seq("hk"), "left_semi")
        .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
        .filter(col("n_shared") >= 5)
        .agg(count(lit(1)).as("n_contaminated_docs"))
      base.crossJoin(broadcast(exactDups))
        .crossJoin(broadcast(nearPairs))
        .crossJoin(broadcast(contaminated))
        .select(col("n_docs"), col("n_tokens"), col("n_langs"), col("n_sources"),
          expr("q_sum div n_docs").as("mean_quality"),
          col("n_exact_dup_docs"), col("n_neardup_pairs"), col("n_contaminated_docs"))
    },

    // Fair-share token budgeting across sources (iterative water-filling,
    // the max-min fairness allocation every multi-tenant sampler runs):
    // a 20%-of-corpus token budget splits evenly per source; sources
    // under their cap keep everything, and the unused slack re-spreads
    // over the still-capped sources — three FIXED rounds, all integer
    // division, so the oracle unrolls the identical schedule. The final
    // per-source allocation (and who stayed capped) is the judged
    // surface — the quota table a mixture-controlled corpus build feeds
    // to its sampler. Each round is one 20-row aggregate against a
    // broadcast one-row state; corpus size only enters through the
    // initial per-source token counts.
    "q203_fair_share" -> { (s, dir) =>
      val srcN = Tables.documents(s, dir)
        .groupBy("source")
        .agg(sum(size(split(col("text"), " ")).cast("long")).as("n_tokens"))
      val tot = srcN.agg(expr("sum(n_tokens) div 5").as("budget"),
        count(lit(1)).as("k"))
      var state = tot.select(expr("budget div k").as("cap"), col("budget"))
      for (_ <- 1 to 3) {
        val st = broadcast(state)
        state = srcN.crossJoin(st)
          .agg(max(col("budget")).as("budget"), max(col("cap")).as("oldcap"),
            sum(least(col("n_tokens"), col("cap"))).as("used"),
            sum(when(col("n_tokens") > col("cap"), 1L).otherwise(0L)).as("m"))
          .select(
            when(col("m") > 0, col("oldcap") + expr("(budget - used) div m"))
              .otherwise(col("oldcap")).as("cap"),
            col("budget"))
      }
      srcN.crossJoin(broadcast(state))
        .select(col("source"), col("n_tokens"), col("cap").as("final_cap"),
          least(col("n_tokens"), col("cap")).as("alloc_tokens"),
          (col("n_tokens") > col("cap")).cast("int").as("is_capped"))
        .orderBy("source")
    },

    // Domain-mixture drift monitor — the DQ gate a corpus refresh runs
    // ("did source X's token distribution move away from the corpus?"):
    // a per-source chi-square statistic over the contingency table of the
    // corpus's top-20 tokens. The cell statistic is computed in the
    // engine-identical form (o·N − n_s·c_t)²/(N·n_s·c_t) — all-int64
    // numerators, one double division — and per-source summation goes
    // through the q112 fixed-point trick (floor(stat·2^20) int64 sums,
    // order-free) so the judged total never depends on float summation
    // order. Zero cells are REAL rows (a source missing a hot token is
    // exactly the drift signal), via a sources×top-tokens grid. Bounded
    // state: 20 columns × |sources| cells regardless of corpus size.
    "q194_mixture_drift" -> { (s, dir) =>
      val toks = Tables.documents(s, dir)
        .select(col("source"), explode(split(col("text"), " ")).as("tok"))
      val top = toks.groupBy("tok").agg(count(lit(1)).as("ct"))
        .orderBy(desc("ct"), col("tok")).limit(20)
      val obs = toks.join(broadcast(top.select("tok")), "tok")
        .groupBy("source", "tok").agg(count(lit(1)).as("o"))
      val grid = Tables.documents(s, dir).select("source").distinct()
        .crossJoin(broadcast(top))
        .join(obs, Seq("source", "tok"), "left")
        .withColumn("o", coalesce(col("o"), lit(0L)))
      val ns = grid.groupBy("source").agg(sum("o").as("ns"))
      val totals = broadcast(top.agg(sum("ct").as("N")))
      grid.join(ns, "source").crossJoin(totals)
        .withColumn("num", col("o") * col("N") - col("ns") * col("ct"))
        .withColumn("stat",
          (col("num").cast("double") * col("num").cast("double")) /
            (col("N").cast("double") * col("ns").cast("double") * col("ct").cast("double")))
        .withColumn("fp", floor(col("stat") * lit(1048576.0)).cast("long"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_cells"), sum("fp").as("chi2_fp"),
          expr("max_by(tok, struct(fp, tok))").as("top_drift_token"))
        .orderBy("source")
    },

    // Greedy max-coverage corpus selection (the Nemhauser greedy for
    // submodular coverage, public — the "pick the K docs that span the
    // most content" curation step, the coverage-maximizing complement of
    // q88/q123's representative sampling): 5 rounds, each picking the doc
    // with the most NOT-yET-covered shingle keys (tie to min doc_id) and
    // retiring its keys. Marginal gains are judged per round, plus the
    // running coverage in ‰ of the key universe — the (1−1/e) guarantee's
    // actual trajectory, measured. Each round is one count aggregation +
    // a TakeOrdered-1 pick + one anti-join against the picked keys, with
    // per-round lineage cuts; at 100 TB the uncovered frame only shrinks
    // and the pick is a broadcast single row, so round cost is bounded by
    // one scan of the remaining representation.
    "q191_coverage_selection" -> { (s, dir) =>
      val hk = Shingles.frame(s, dir).select("doc_id", "hk")
      var uncovered = hk
      var picksAcc: DataFrame = null
      for (r <- 1 to 5) {
        val pick = _root_.graft.operators.Lineage.cut(
          uncovered.groupBy("doc_id").agg(count(lit(1)).as("gain"))
            .orderBy(desc("gain"), col("doc_id")).limit(1)
            .withColumn("round", lit(r)))
        picksAcc = if (picksAcc == null) pick else picksAcc.unionByName(pick)
        val pickedKeys = hk.join(pick.select("doc_id"), "doc_id").select("hk").distinct()
        uncovered = _root_.graft.operators.Lineage.cut(
          uncovered.join(pickedKeys, Seq("hk"), "left_anti"))
      }
      val total = broadcast(hk.select("hk").distinct().agg(count(lit(1)).as("universe")))
      picksAcc
        .withColumn("covered_total", sum("gain").over(
          Window.orderBy("round").rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .crossJoin(total)
        .select(col("round").cast("int").as("round"), col("doc_id"), col("gain"),
          col("covered_total"),
          expr("covered_total * 1000 div universe").as("coverage_x1000"))
        .orderBy("round")
    },

    // INCREMENTAL connected components — the steady-state form of q69's
    // cluster assignment (the dedup twin of q99/q110's O(delta) paths):
    // base labels are computed once over the base edge set, and a delta
    // edge batch re-converges by CONTRACTING each base component to its
    // label and running components over only the delta edges mapped into
    // label space — a graph bounded by the delta, not the corpus. The
    // final label provably equals the full recompute (min-label is
    // associative under contraction: min over labels = global min), and
    // the oracle IS the from-scratch recompute over all edges — the
    // incremental path is judged against the batch answer it must match.
    "q186_incremental_components" -> { (s, dir) =>
      // ONE implementation — operators.Components.incremental — shared
      // with ComponentsPropertySpec's random graph/delta-split property
      val good = jaccardPairs(s, dir).select("d1", "d2")
      val base = good.filter(pmod(col("d1"), lit(7)) =!= 0 && pmod(col("d2"), lit(7)) =!= 0)
      val delta = good.filter(pmod(col("d1"), lit(7)) === 0 || pmod(col("d2"), lit(7)) === 0)
      val lab = _root_.graft.operators.Components.connected(s,
        base.select(col("d1").as("src"), col("d2").as("dst")))
      _root_.graft.operators.Components.incremental(s, lab,
          delta.select(col("d1").as("src"), col("d2").as("dst")))
        .select(col("id").as("doc_id"), col("comp").as("cluster_id"))
        .orderBy("doc_id")
    })

  private val ShCte =
    """sh AS (
      | SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(string_split(text, ' ')) - 1),
      |   i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1] || ' ' || string_split(text, ' ')[i+2]))) AS sh
      | FROM documents)""".stripMargin

  /** The q41 pair-pipeline CTE chain (shingle keys → df-cap → self-join →
    * common counts), shared by the q41 and q69 oracles exactly as
    * `jaccardPairs` is shared on the Spark side.
    */
  private val PairsCte =
    """hk AS (SELECT doc_id, CAST(('0x' || substr(md5(sh), 1, 15)) AS BIGINT) AS hk FROM sh),
      |dfreq AS (SELECT hk, count(*) AS df FROM hk GROUP BY hk),
      |kept AS (SELECT h.doc_id, h.hk FROM hk h JOIN dfreq d USING (hk) WHERE d.df <= 20),
      |sizes AS (SELECT doc_id, count(*) AS sz FROM kept GROUP BY doc_id),
      |pairs AS (
      | SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS common
      | FROM kept a JOIN kept b ON a.hk = b.hk AND a.doc_id < b.doc_id
      | GROUP BY 1, 2)""".stripMargin

  private def sub(sql: String): String =
    sql.replace("--SH--", ShCte).replace("--PAIRS--", PairsCte)

  /** --SH--/--PAIRS-- substitution for sibling modules (Mining's q229
    * leakage audit reads the same pair pipeline) — ONE copy of the
    * shingle/pair SQL, so a DfCap change cannot desynchronize oracles.
    */
  private[queries] def subFor(sql: String): String = sub(sql)

  val oracles: Seq[(String, String)] = Seq(
    "q206_dataset_card" -> sub("""WITH --SH--,
        |--PAIRS--,
        |qd AS (
        | SELECT doc_id, lang, source,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
        |  CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_dis,
        |  CAST(len(list_filter(string_split(text, ' '), t -> t IN ('the', 'a', 'of', 'and'))) AS BIGINT) AS n_stop,
        |  n_chars
        | FROM documents),
        |qs AS (SELECT doc_id, lang, source, n_tok,
        |  CAST((1000 * n_dis + 10 * (n_chars - n_tok + 1) + 500 * (n_tok - n_stop)) // n_tok AS BIGINT) AS q
        | FROM qd),
        |base AS (
        | SELECT CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens,
        |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
        |  CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
        |  CAST(sum(q) AS BIGINT) AS q_sum
        | FROM qs),
        |ed AS (
        | SELECT CAST(coalesce(sum(CASE WHEN n > 1 THEN n END), 0) AS BIGINT) AS n_exact_dup_docs
        | FROM (SELECT md5(lower(trim(text))) AS fp, count(*) AS n FROM documents GROUP BY 1)),
        |np AS (
        | SELECT CAST(count(*) AS BIGINT) AS n_neardup_pairs
        | FROM pairs JOIN sizes s1 ON d1 = s1.doc_id JOIN sizes s2 ON d2 = s2.doc_id
        | WHERE common / (s1.sz + s2.sz - common) >= 0.6),
        |hk2 AS (SELECT doc_id, CAST(('0x' || substr(md5(sh), 1, 15)) AS BIGINT) AS hk FROM sh),
        |evs AS (SELECT DISTINCT hk FROM hk2 WHERE doc_id % 31 = 0),
        |ct AS (
        | SELECT CAST(count(*) AS BIGINT) AS n_contaminated_docs FROM (
        |  SELECT doc_id, count(*) AS n_shared FROM hk2
        |  WHERE doc_id % 31 <> 0 AND hk IN (SELECT hk FROM evs)
        |  GROUP BY doc_id HAVING count(*) >= 5))
        |SELECT b.n_docs, b.n_tokens, b.n_langs, b.n_sources,
        | b.q_sum // b.n_docs AS mean_quality,
        | e.n_exact_dup_docs, n.n_neardup_pairs, c.n_contaminated_docs
        |FROM base b CROSS JOIN ed e CROSS JOIN np n CROSS JOIN ct c""".stripMargin),

    "q203_fair_share" -> {
      def round(r: Int) =
        s"""a$r AS (
           | SELECT max(c.budget) AS budget, max(c.cap) AS oldcap,
           |  CAST(sum(least(s.n_tokens, c.cap)) AS BIGINT) AS used,
           |  CAST(sum(CASE WHEN s.n_tokens > c.cap THEN 1 ELSE 0 END) AS BIGINT) AS m
           | FROM sn s CROSS JOIN c${r - 1} c),
           |c$r AS (SELECT CASE WHEN m > 0 THEN oldcap + (budget - used) // m ELSE oldcap END AS cap,
           |        budget FROM a$r)""".stripMargin
      s"""WITH sn AS (
         | SELECT source, CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
         | FROM documents GROUP BY source),
         |t0 AS (SELECT CAST(sum(n_tokens) // 5 AS BIGINT) AS budget, CAST(count(*) AS BIGINT) AS k FROM sn),
         |c0 AS (SELECT budget // k AS cap, budget FROM t0),
         |${(1 to 3).map(round).mkString(",\n")}
         |SELECT s.source, s.n_tokens, c.cap AS final_cap,
         | least(s.n_tokens, c.cap) AS alloc_tokens,
         | CAST(CASE WHEN s.n_tokens > c.cap THEN 1 ELSE 0 END AS INTEGER) AS is_capped
         |FROM sn s CROSS JOIN c3 c
         |ORDER BY s.source""".stripMargin
    },

    "q194_mixture_drift" ->
      """WITH tk AS (SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents),
        |top AS (SELECT tok, CAST(count(*) AS BIGINT) AS ct FROM tk GROUP BY tok
        |        ORDER BY ct DESC, tok LIMIT 20),
        |srcs AS (SELECT DISTINCT source FROM documents),
        |ob AS (SELECT source, tok, CAST(count(*) AS BIGINT) AS o FROM tk
        |       WHERE tok IN (SELECT tok FROM top) GROUP BY 1, 2),
        |cells AS (
        | SELECT g.source, g.tok, g.ct, coalesce(o.o, 0) AS o
        | FROM (SELECT s.source, t.tok, t.ct FROM srcs s CROSS JOIN top t) g
        | LEFT JOIN ob o ON o.source = g.source AND o.tok = g.tok),
        |ns AS (SELECT source, CAST(sum(o) AS BIGINT) AS ns FROM cells GROUP BY source),
        |tot AS (SELECT CAST(sum(ct) AS BIGINT) AS N FROM top),
        |st AS (
        | SELECT c.source, c.tok,
        |  CAST(floor(
        |   (CAST(c.o * t.N - n.ns * c.ct AS DOUBLE) * CAST(c.o * t.N - n.ns * c.ct AS DOUBLE))
        |    / (CAST(t.N AS DOUBLE) * CAST(n.ns AS DOUBLE) * CAST(c.ct AS DOUBLE))
        |    * CAST(1048576 AS DOUBLE)) AS BIGINT) AS fp
        | FROM cells c JOIN ns n USING (source) CROSS JOIN tot t),
        |rk AS (SELECT source, tok, fp,
        |  row_number() OVER (PARTITION BY source ORDER BY fp DESC, tok DESC) AS rn FROM st)
        |SELECT s.source, CAST(count(*) AS BIGINT) AS n_cells, CAST(sum(s.fp) AS BIGINT) AS chi2_fp,
        | max(CASE WHEN r.rn = 1 THEN r.tok END) AS top_drift_token
        |FROM st s JOIN rk r ON r.source = s.source AND r.tok = s.tok
        |GROUP BY s.source ORDER BY s.source""".stripMargin,

    "q191_coverage_selection" -> {
      def round(r: Int) =
        s"""p$r AS MATERIALIZED (
           | SELECT doc_id, CAST(count(*) AS BIGINT) AS gain FROM u${r - 1} GROUP BY doc_id
           | ORDER BY gain DESC, doc_id LIMIT 1),
           |u$r AS MATERIALIZED (
           | SELECT u.doc_id, u.hk FROM u${r - 1} u
           | WHERE u.hk NOT IN (SELECT h.hk FROM hk h JOIN p$r p ON h.doc_id = p.doc_id))""".stripMargin
      sub(s"""WITH --SH--,
         |hk AS (SELECT doc_id, CAST(('0x' || substr(md5(sh), 1, 15)) AS BIGINT) AS hk FROM sh),
         |u0 AS (SELECT doc_id, hk FROM hk),
         |${(1 to 5).map(round).mkString(",\n")},
         |pk AS (${(1 to 5).map(r => s"SELECT $r AS round, doc_id, gain FROM p$r").mkString(" UNION ALL ")}),
         |un AS (SELECT CAST(count(DISTINCT hk) AS BIGINT) AS universe FROM hk)
         |SELECT CAST(pk.round AS INTEGER) AS round, pk.doc_id, pk.gain,
         | CAST(sum(pk.gain) OVER (ORDER BY pk.round) AS BIGINT) AS covered_total,
         | CAST(sum(pk.gain) OVER (ORDER BY pk.round) AS BIGINT) * 1000 // un.universe AS coverage_x1000
         |FROM pk CROSS JOIN un
         |ORDER BY pk.round""".stripMargin)
    },

    "q183_bpe_apply" ->
      """WITH tk AS (SELECT lang, unnest(string_split(text, ' ')) AS tok FROM documents),
        |pr AS (SELECT lang, unnest(list_transform(range(1, len(tok)), i -> substr(tok, i, 2))) AS pair
        |       FROM tk WHERE len(tok) >= 2),
        |cn AS (SELECT lang, pair, count(*) AS n FROM pr GROUP BY 1, 2),
        |rk AS (SELECT lang, pair, row_number() OVER (PARTITION BY lang ORDER BY n DESC, pair) AS rank FROM cn),
        |mg AS (SELECT lang,
        |  max(CASE WHEN rank = 1 THEN pair END) AS m1,
        |  max(CASE WHEN rank = 2 THEN pair END) AS m2,
        |  max(CASE WHEN rank = 3 THEN pair END) AS m3,
        |  max(CASE WHEN rank = 4 THEN pair END) AS m4,
        |  max(CASE WHEN rank = 5 THEN pair END) AS m5
        | FROM rk WHERE rank <= 5 GROUP BY lang),
        |sp AS (SELECT doc_id, lang,
        |  ' ' || array_to_string(list_transform(string_split(text, ' '),
        |    w -> array_to_string(list_transform(range(1, len(w) + 1), i -> substr(w, i, 1)), ' ')), ' | ') || ' ' AS sp
        | FROM documents),
        |ap AS (SELECT s.lang, s.sp,
        |  replace(replace(replace(replace(replace(s.sp,
        |    ' ' || substr(m.m1, 1, 1) || ' ' || substr(m.m1, 2, 1) || ' ', ' ' || m.m1 || ' '),
        |    ' ' || substr(m.m2, 1, 1) || ' ' || substr(m.m2, 2, 1) || ' ', ' ' || m.m2 || ' '),
        |    ' ' || substr(m.m3, 1, 1) || ' ' || substr(m.m3, 2, 1) || ' ', ' ' || m.m3 || ' '),
        |    ' ' || substr(m.m4, 1, 1) || ' ' || substr(m.m4, 2, 1) || ' ', ' ' || m.m4 || ' '),
        |    ' ' || substr(m.m5, 1, 1) || ' ' || substr(m.m5, 2, 1) || ' ', ' ' || m.m5 || ' ') AS r
        | FROM sp s JOIN mg m USING (lang)),
        |ct AS (SELECT lang,
        |  CAST(len(list_filter(string_split(sp, ' '), x -> x <> '' AND x <> '|')) AS BIGINT) AS nb,
        |  CAST(len(list_filter(string_split(r, ' '), x -> x <> '' AND x <> '|')) AS BIGINT) AS na
        | FROM ap)
        |SELECT lang, count(*) AS n_docs,
        | CAST(sum(nb) AS BIGINT) AS syms_before,
        | CAST(sum(na) AS BIGINT) AS syms_after,
        | CAST(sum(na) AS BIGINT) * 1000 // CAST(sum(nb) AS BIGINT) AS ratio_x1000
        |FROM ct GROUP BY lang ORDER BY lang""".stripMargin,

    "q184_content_chunking" ->
      """WITH bd AS (
        | SELECT doc_id, 0 AS vr, text FROM documents
        | UNION ALL
        | SELECT doc_id, 1, 'zz ' || text FROM documents),
        |tk AS (
        | SELECT doc_id, vr, unnest(range(0, len(toks))) AS pos, unnest(toks) AS tok
        | FROM (SELECT doc_id, vr, string_split(text, ' ') AS toks FROM bd)),
        |lg AS (
        | SELECT doc_id, vr, pos, tok,
        |  lag(tok, 2) OVER w AS g2, lag(tok, 1) OVER w AS g1
        | FROM tk WINDOW w AS (PARTITION BY doc_id, vr ORDER BY pos)),
        |fl AS (
        | SELECT doc_id, vr, pos, tok,
        |  CASE WHEN g2 IS NOT NULL AND CAST(('0x' || substr(md5(g2 || ' ' || g1 || ' ' || tok), 1, 15)) AS BIGINT) % 8 = 0
        |   THEN 1 ELSE 0 END AS fc,
        |  CASE WHEN pos % 8 = 7 THEN 1 ELSE 0 END AS ff
        | FROM lg),
        |ch AS (
        | SELECT doc_id, vr, pos, tok,
        |  sum(fc) OVER w - fc AS cc, sum(ff) OVER w - ff AS cf
        | FROM fl WINDOW w AS (PARTITION BY doc_id, vr ORDER BY pos)),
        |ccd AS (SELECT doc_id, vr, cc AS cid, md5(string_agg(tok, ' ' ORDER BY pos)) AS chash
        |        FROM ch GROUP BY doc_id, vr, cc),
        |cfd AS (SELECT doc_id, vr, cf AS cid, md5(string_agg(tok, ' ' ORDER BY pos)) AS chash
        |        FROM ch GROUP BY doc_id, vr, cf),
        |st AS (
        | SELECT 'cdc' AS policy,
        |  (SELECT CAST(count(*) AS BIGINT) FROM ccd WHERE vr = 0) AS n_chunks,
        |  (SELECT CAST(count(DISTINCT chash) AS BIGINT) FROM ccd WHERE vr = 0) AS n_distinct,
        |  (SELECT CAST(count(*) AS BIGINT) FROM (SELECT DISTINCT doc_id, chash FROM ccd WHERE vr = 0)) AS n_base_keys,
        |  (SELECT CAST(count(*) AS BIGINT) FROM
        |    (SELECT DISTINCT doc_id, chash FROM ccd WHERE vr = 0) a
        |    JOIN (SELECT DISTINCT doc_id, chash FROM ccd WHERE vr = 1) b USING (doc_id, chash)) AS n_surviving
        | UNION ALL
        | SELECT 'fixed',
        |  (SELECT CAST(count(*) AS BIGINT) FROM cfd WHERE vr = 0),
        |  (SELECT CAST(count(DISTINCT chash) AS BIGINT) FROM cfd WHERE vr = 0),
        |  (SELECT CAST(count(*) AS BIGINT) FROM (SELECT DISTINCT doc_id, chash FROM cfd WHERE vr = 0)),
        |  (SELECT CAST(count(*) AS BIGINT) FROM
        |    (SELECT DISTINCT doc_id, chash FROM cfd WHERE vr = 0) a
        |    JOIN (SELECT DISTINCT doc_id, chash FROM cfd WHERE vr = 1) b USING (doc_id, chash)))
        |SELECT policy, n_chunks, n_distinct, n_base_keys, n_surviving,
        | n_surviving * 1000 // n_base_keys AS survival_x1000
        |FROM st ORDER BY policy""".stripMargin,

    "q185_dedup_representatives" -> sub("""WITH RECURSIVE --SH--,
        |--PAIRS--,
        |good AS (
        | SELECT d1, d2
        | FROM pairs JOIN sizes s1 ON d1 = s1.doc_id JOIN sizes s2 ON d2 = s2.doc_id
        | WHERE common / (s1.sz + s2.sz - common) >= 0.6),
        |e AS (SELECT d1 AS a, d2 AS b FROM good UNION SELECT d2, d1 FROM good),
        |nd AS (SELECT DISTINCT a AS id FROM e),
        |r(id, comp) AS (
        | SELECT id, id FROM nd
        | UNION
        | SELECT e.b, r.comp FROM e JOIN r ON e.a = r.id),
        |cl AS (SELECT id AS doc_id, min(comp) AS cluster_id FROM r GROUP BY id),
        |qd AS (
        | SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
        |  CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_dis,
        |  CAST(len(list_filter(string_split(text, ' '), t -> t IN ('the', 'a', 'of', 'and'))) AS BIGINT) AS n_stop,
        |  n_chars
        | FROM documents),
        |qs AS (SELECT doc_id,
        |  CAST((1000 * n_dis + 10 * (n_chars - n_tok + 1) + 500 * (n_tok - n_stop)) // n_tok AS BIGINT) AS q,
        |  n_tok FROM qd),
        |jn AS (
        | SELECT cl.cluster_id, cl.doc_id, q.q, q.n_tok,
        |  row_number() OVER (PARTITION BY cl.cluster_id ORDER BY q.q DESC, cl.doc_id) AS rn
        | FROM cl JOIN qs q USING (doc_id))
        |SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size,
        | max(CASE WHEN rn = 1 THEN doc_id END) AS rep_doc,
        | max(CASE WHEN rn = 1 THEN q END) AS rep_q,
        | max(CASE WHEN doc_id = cluster_id THEN q END) AS naive_q,
        | max(CASE WHEN rn = 1 THEN q END) - max(CASE WHEN doc_id = cluster_id THEN q END) AS q_gain,
        | CAST(sum(n_tok) - max(CASE WHEN rn = 1 THEN n_tok END) AS BIGINT) AS dropped_tokens
        |FROM jn GROUP BY cluster_id ORDER BY cluster_id""".stripMargin),

    "q186_incremental_components" -> sub("""WITH RECURSIVE --SH--,
        |--PAIRS--,
        |good AS (
        | SELECT d1, d2
        | FROM pairs JOIN sizes s1 ON d1 = s1.doc_id JOIN sizes s2 ON d2 = s2.doc_id
        | WHERE common / (s1.sz + s2.sz - common) >= 0.6),
        |e AS (SELECT d1 AS a, d2 AS b FROM good UNION SELECT d2, d1 FROM good),
        |nd AS (SELECT DISTINCT a AS id FROM e),
        |r(id, comp) AS (
        | SELECT id, id FROM nd
        | UNION
        | SELECT e.b, r.comp FROM e JOIN r ON e.a = r.id)
        |SELECT id AS doc_id, min(comp) AS cluster_id FROM r GROUP BY id
        |ORDER BY doc_id""".stripMargin),

    // chain components re-derived arithmetically: every source's docs form
    // one chain, so the component IS the source's min doc_id — the check
    // never runs a graph algorithm
    "q164_components_stars" ->
      """SELECT doc_id,
        | min(doc_id) OVER (PARTITION BY source) AS cluster_id,
        | count(*) OVER (PARTITION BY source) AS cluster_size
        |FROM documents
        |ORDER BY doc_id""".stripMargin,

    "q178_containment_dedup" -> sub("""WITH --SH--,
        |--PAIRS--
        |SELECT p.d1, p.d2, p.common, s1.sz AS sz1, s2.sz AS sz2,
        | CAST((100 * p.common) // least(s1.sz, s2.sz) AS BIGINT) AS containment_x100
        |FROM pairs p JOIN sizes s1 ON p.d1 = s1.doc_id JOIN sizes s2 ON p.d2 = s2.doc_id
        |WHERE 5 * p.common >= 4 * least(s1.sz, s2.sz)
        |ORDER BY p.d1, p.d2""".stripMargin),

    "q176_similarity_histogram" -> sub("""WITH --SH--,
        |--PAIRS--
        |SELECT (10 * p.common) // (s1.sz + s2.sz - p.common) AS bucket,
        | CAST(count(*) AS BIGINT) AS n_pairs, CAST(sum(p.common) AS BIGINT) AS sum_common
        |FROM pairs p JOIN sizes s1 ON p.d1 = s1.doc_id JOIN sizes s2 ON p.d2 = s2.doc_id
        |GROUP BY 1
        |ORDER BY 1""".stripMargin),

    // brute-force contains() verify, independent of the trigram index
    "q171_exact_decontamination" ->
      """WITH ev AS (
        | SELECT doc_id AS eval_id, substr(text, 11, 25) AS needle
        | FROM documents WHERE doc_id % 101 = 7 AND length(text) >= 35),
        |m AS (
        | SELECT e.eval_id, e.needle, d.doc_id
        | FROM ev e JOIN documents d
        | ON contains(d.text, e.needle) AND d.doc_id <> e.eval_id)
        |SELECT e.eval_id, e.needle,
        | CAST(count(m.doc_id) AS BIGINT) AS n_contaminated,
        | CAST(coalesce(min(m.doc_id), -1) AS BIGINT) AS first_hit
        |FROM ev e LEFT JOIN m ON m.eval_id = e.eval_id AND m.needle = e.needle
        |GROUP BY e.eval_id, e.needle
        |ORDER BY e.eval_id""".stripMargin,

    "q40_exact_dedup_groups" ->
      """SELECT md5(lower(trim(text))) AS fp, count(*) AS n_docs,
        | min(doc_id) AS canonical_doc, count(DISTINCT lang) AS n_langs
        |FROM documents
        |GROUP BY 1
        |HAVING count(*) > 1
        |ORDER BY fp""".stripMargin,

    "q41_shingle_jaccard_pairs" -> sub("""WITH --SH--,
        |--PAIRS--
        |SELECT d1, d2, common, s1.sz AS sz1, s2.sz AS sz2,
        | common / (s1.sz + s2.sz - common) AS jaccard
        |FROM pairs JOIN sizes s1 ON d1 = s1.doc_id JOIN sizes s2 ON d2 = s2.doc_id
        |WHERE common / (s1.sz + s2.sz - common) >= 0.6
        |ORDER BY d1, d2""".stripMargin),

    // Exact, uncapped inverted join — the brute-force ground truth the
    // prefix-filtered path must reproduce verbatim (losslessness proof).
    "q157_prefix_filter_join" -> sub("""WITH --SH--,
        |hkx AS (SELECT doc_id, CAST(('0x' || substr(md5(sh), 1, 15)) AS BIGINT) AS hk FROM sh),
        |sizes AS (SELECT doc_id, count(*) AS sz FROM hkx GROUP BY doc_id),
        |co AS (
        | SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS common
        | FROM hkx a JOIN hkx b ON a.hk = b.hk AND a.doc_id < b.doc_id
        | GROUP BY 1, 2)
        |SELECT d1, d2, common, s1.sz AS sz1, s2.sz AS sz2,
        | common / (s1.sz + s2.sz - common) AS jaccard
        |FROM co JOIN sizes s1 ON d1 = s1.doc_id JOIN sizes s2 ON d2 = s2.doc_id
        |WHERE 8 * common >= 3 * (s1.sz + s2.sz)
        |ORDER BY d1, d2""".stripMargin),

    "q69_dedup_clusters" -> sub("""WITH RECURSIVE --SH--,
        |--PAIRS--,
        |good AS (
        | SELECT d1, d2
        | FROM pairs JOIN sizes s1 ON d1 = s1.doc_id JOIN sizes s2 ON d2 = s2.doc_id
        | WHERE common / (s1.sz + s2.sz - common) >= 0.6),
        |e AS (SELECT d1 AS a, d2 AS b FROM good UNION SELECT d2, d1 FROM good),
        |n AS (SELECT DISTINCT a AS id FROM e),
        |r(id, comp) AS (
        | SELECT id, id FROM n
        | UNION
        | SELECT e.b, r.comp FROM e JOIN r ON e.a = r.id),
        |cl AS (SELECT id AS doc_id, min(comp) AS cluster_id FROM r GROUP BY id),
        |sz AS (SELECT cluster_id, count(*) AS cluster_size FROM cl GROUP BY cluster_id)
        |SELECT doc_id, cluster_id, CAST(cluster_size AS BIGINT) AS cluster_size,
        | CAST(doc_id = cluster_id AS INTEGER) AS is_canonical
        |FROM cl JOIN sz USING (cluster_id)
        |ORDER BY doc_id""".stripMargin),

    "q74_corpus_curation" -> sub("""WITH RECURSIVE --SH--,
        |--PAIRS--,
        |good AS (
        | SELECT d1, d2
        | FROM pairs JOIN sizes s1 ON d1 = s1.doc_id JOIN sizes s2 ON d2 = s2.doc_id
        | WHERE common / (s1.sz + s2.sz - common) >= 0.6),
        |e AS (SELECT d1 AS a, d2 AS b FROM good UNION SELECT d2, d1 FROM good),
        |nd AS (SELECT DISTINCT a AS id FROM e),
        |r(id, comp) AS (
        | SELECT id, id FROM nd
        | UNION
        | SELECT e.b, r.comp FROM e JOIN r ON e.a = r.id),
        |cl AS (SELECT id AS doc_id, min(comp) AS cluster_id FROM r GROUP BY id),
        |d AS (
        | SELECT doc_id, lang,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
        |  CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_dis,
        |  CAST(len(list_filter(string_split(text, ' '), t -> t IN ('the', 'a', 'of', 'and'))) AS BIGINT) AS n_stop,
        |  n_chars
        | FROM documents),
        |f AS (
        | SELECT d.lang, d.n_tok,
        |  CAST((1000 * d.n_dis + 10 * (d.n_chars - d.n_tok + 1) + 500 * (d.n_tok - d.n_stop)) // d.n_tok AS BIGINT) AS q,
        |  (cl.cluster_id IS NOT NULL AND cl.cluster_id <> d.doc_id) AS dup_drop
        | FROM d LEFT JOIN cl USING (doc_id))
        |SELECT lang, count(*) AS n_docs,
        | CAST(sum(CASE WHEN NOT dup_drop AND q >= 900 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        | CAST(sum(CASE WHEN dup_drop THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_dropped,
        | CAST(sum(CASE WHEN NOT dup_drop AND q < 900 THEN 1 ELSE 0 END) AS BIGINT) AS n_quality_dropped,
        | CAST(sum(CASE WHEN NOT dup_drop AND q >= 900 THEN n_tok ELSE 0 END) AS BIGINT) AS kept_tokens
        |FROM f
        |GROUP BY lang
        |ORDER BY lang""".stripMargin),

    "q81_decontamination" -> sub("""WITH --SH--,
        |hk AS (SELECT doc_id, CAST(('0x' || substr(md5(sh), 1, 15)) AS BIGINT) AS hk FROM sh),
        |ev AS (SELECT DISTINCT hk FROM hk WHERE doc_id % 31 = 0),
        |corpus AS (SELECT doc_id, hk FROM hk WHERE doc_id % 31 <> 0),
        |sizes AS (SELECT doc_id, count(*) AS sz FROM corpus GROUP BY doc_id),
        |shared AS (
        | SELECT doc_id, count(*) AS n_shared FROM corpus
        | WHERE hk IN (SELECT hk FROM ev) GROUP BY doc_id)
        |SELECT s.doc_id, s.n_shared, z.sz, s.n_shared / z.sz AS overlap
        |FROM shared s JOIN sizes z USING (doc_id)
        |WHERE s.n_shared >= 5
        |ORDER BY s.doc_id""".stripMargin),

    "q87_doc_chunks" ->
      """WITH d AS (
        | SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |ks AS (
        | SELECT doc_id, toks,
        |  unnest(generate_series(0, (len(toks) - 1) // 24)) AS k
        | FROM d),
        |c AS (
        | SELECT doc_id, CAST(k AS INTEGER) AS chunk_idx,
        |  toks[k*24 + 1 : k*24 + 32] AS chunk
        | FROM ks)
        |SELECT doc_id, chunk_idx,
        | CAST(len(chunk) AS INTEGER) AS n_chunk_tokens,
        | chunk[1] AS first_token,
        | chunk[-1] AS last_token,
        | md5(array_to_string(chunk, ' ')) AS chunk_hash
        |FROM c
        |ORDER BY doc_id, chunk_idx""".stripMargin,

    "q101_data_mixture" -> sub("""WITH RECURSIVE --SH--,
        |--PAIRS--,
        |good AS (
        | SELECT d1, d2
        | FROM pairs JOIN sizes s1 ON d1 = s1.doc_id JOIN sizes s2 ON d2 = s2.doc_id
        | WHERE common / (s1.sz + s2.sz - common) >= 0.6),
        |e AS (SELECT d1 AS a, d2 AS b FROM good UNION SELECT d2, d1 FROM good),
        |nn AS (SELECT DISTINCT a AS id FROM e),
        |r(id, comp) AS (
        | SELECT id, id FROM nn
        | UNION
        | SELECT e.b, r.comp FROM e JOIN r ON e.a = r.id),
        |cl AS (SELECT id AS doc_id, min(comp) AS cluster_id FROM r GROUP BY id),
        |t AS (
        | SELECT doc_id, source, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        | FROM documents),
        |f AS (
        | SELECT t.source, t.n_tok,
        |  CASE WHEN cl.doc_id IS NOT NULL AND cl.doc_id <> cl.cluster_id THEN 1 ELSE 0 END AS dropped
        | FROM t LEFT JOIN cl ON cl.doc_id = t.doc_id),
        |tot AS (SELECT CAST(sum(n_tok) AS BIGINT) AS corpus_tokens FROM t)
        |SELECT source, count(*) AS n_docs,
        | CAST(sum(n_tok) AS BIGINT) AS n_tokens,
        | CAST(sum(n_tok) AS BIGINT) / tot.corpus_tokens AS token_share,
        | CAST(sum(dropped) AS BIGINT) AS n_dup_dropped,
        | CAST(sum(CASE WHEN dropped = 0 THEN n_tok ELSE 0 END) AS BIGINT) AS kept_tokens
        |FROM f, tot
        |GROUP BY source, tot.corpus_tokens
        |ORDER BY source""".stripMargin),

    "q141_bpe_pairs" ->
      """WITH toks AS (
        | SELECT lang, t.tok
        | FROM documents, unnest(string_split(text, ' ')) AS t(tok)
        | WHERE len(t.tok) >= 2),
        |p AS (
        | SELECT lang, substr(tok, CAST(r.i AS INTEGER), 2) AS pair
        | FROM toks, unnest(range(1, len(tok))) AS r(i)),
        |c AS (SELECT lang, pair, count(*) AS n FROM p GROUP BY 1, 2)
        |SELECT lang, pair, n,
        | CAST(row_number() OVER (PARTITION BY lang ORDER BY n DESC, pair) AS INTEGER) AS rank
        |FROM c
        |QUALIFY rank <= 5
        |ORDER BY lang, rank""".stripMargin,

    "q107_boilerplate_ngrams" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |g AS (
        | SELECT doc_id, array_to_string(toks[i:i+7], ' ') AS gram
        | FROM t, unnest(generate_series(1, len(toks) - 7)) AS u(i)
        | WHERE len(toks) >= 8)
        |SELECT gram, count(*) AS n_occ, count(DISTINCT doc_id) AS n_docs
        |FROM g GROUP BY gram HAVING count(DISTINCT doc_id) > 1
        |ORDER BY n_docs DESC, n_occ DESC, gram
        |LIMIT 20""".stripMargin,

    "q105_trigram_search" ->
      """WITH needles(needle) AS (VALUES ('batch merge fast'), ('fast merge batch'),
        | ('scan query'), ('value table part'), ('window data')),
        |m AS (
        | SELECT n.needle, d.doc_id
        | FROM needles n JOIN documents d ON contains(d.text, n.needle)),
        |a AS (
        | SELECT needle, count(*) AS n_docs,
        |  array_to_string((list_sort(list(doc_id)))[1:5], ',') AS sample_docs
        | FROM m GROUP BY needle)
        |SELECT n.needle, CAST(COALESCE(a.n_docs, 0) AS BIGINT) AS n_docs,
        | COALESCE(a.sample_docs, '') AS sample_docs
        |FROM needles n LEFT JOIN a USING (needle)
        |ORDER BY needle""".stripMargin,

    "q98_sequence_packing" ->
      """WITH t AS (
        | SELECT lang, doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        | FROM documents),
        |c AS (
        | SELECT lang, doc_id, n_tok,
        |  sum(n_tok) OVER (PARTITION BY lang ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum
        | FROM t),
        |b AS (
        | SELECT lang, (cum - n_tok) // 512 AS bin, n_tok,
        |  CASE WHEN (cum - 1) // 512 > (cum - n_tok) // 512 THEN 1 ELSE 0 END AS crosses
        | FROM c)
        |SELECT lang, CAST(bin AS BIGINT) AS bin, count(*) AS n_docs,
        | CAST(sum(n_tok) AS BIGINT) AS n_tokens,
        | CAST(sum(crosses) AS BIGINT) AS n_crossers
        |FROM b GROUP BY lang, bin ORDER BY lang, bin""".stripMargin,

    "q123_weighted_sample" ->
      """WITH d AS (
        | SELECT lang, doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
        |  CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
        | FROM documents),
        |p AS (SELECT lang, doc_id, n_tok, h // n_tok AS pri FROM d WHERE n_tok > 0)
        |SELECT lang,
        | CAST(row_number() OVER (PARTITION BY lang ORDER BY pri, doc_id) AS INTEGER) AS rank,
        | doc_id, n_tok, pri
        |FROM p
        |QUALIFY rank <= 5
        |ORDER BY lang, rank""".stripMargin,

    "q88_stratified_sample" ->
      """WITH h AS (
        | SELECT lang, doc_id,
        |  CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6)) AS BIGINT) % 100 AS pct,
        |  CASE lang WHEN 'en' THEN 50 WHEN 'zh' THEN 25 ELSE 10 END AS rate
        | FROM documents)
        |SELECT lang, count(*) AS n_total,
        | CAST(sum(CASE WHEN pct < rate THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        | CAST(sum(CASE WHEN pct < rate THEN doc_id END) AS BIGINT) AS kept_id_sum,
        | min(CASE WHEN pct < rate THEN doc_id END) AS kept_id_min,
        | max(CASE WHEN pct < rate THEN doc_id END) AS kept_id_max
        |FROM h
        |GROUP BY lang
        |ORDER BY lang""".stripMargin,

    "q75_hash_split" ->
      """WITH h AS (
        | SELECT lang, n_chars,
        |  CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6)) AS BIGINT) % 10 AS bucket
        | FROM documents)
        |SELECT lang,
        | CASE WHEN bucket < 8 THEN 'train' WHEN bucket = 8 THEN 'val' ELSE 'test' END AS split,
        | count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
        |FROM h
        |GROUP BY 1, 2
        |ORDER BY lang, split""".stripMargin,

    "q46_token_stats" ->
      """WITH d AS (
        | SELECT lang,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |  CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct,
        |  CAST(list_reduce(list_prepend(0, list_transform(string_split(text, ' '), t -> (length(t) + 3) // 4)),
        |    (acc, x) -> acc + x) AS BIGINT) AS bpe_pieces
        | FROM documents)
        |SELECT lang, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
        | CAST(sum(bpe_pieces) AS BIGINT) AS total_pieces,
        | CAST(sum(n_tokens) AS BIGINT) / count(*) AS avg_tokens_per_doc,
        | CAST(sum(n_distinct) AS BIGINT) / CAST(sum(n_tokens) AS BIGINT) AS distinct_ratio
        |FROM d
        |GROUP BY lang
        |ORDER BY lang""".stripMargin,

    "q47_quality_scores" ->
      """WITH d AS (
        | SELECT source,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
        |  CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_dis,
        |  CAST(len(list_filter(string_split(text, ' '), t -> t IN ('the', 'a', 'of', 'and'))) AS BIGINT) AS n_stop,
        |  n_chars
        | FROM documents),
        |scored AS (
        | SELECT source,
        |  CAST((1000 * n_dis + 10 * (n_chars - n_tok + 1) + 500 * (n_tok - n_stop)) // n_tok AS BIGINT) AS q
        | FROM d)
        |SELECT source, count(*) AS n_docs, CAST(sum(q) AS BIGINT) / count(*) AS avg_quality,
        | min(q) AS min_quality, max(q) AS max_quality
        |FROM scored
        |GROUP BY source
        |ORDER BY source""".stripMargin,

    "q48_language_id" ->
      """WITH v AS (
        | SELECT lang,
        |  len(list_filter(string_split(text, ' '), t -> t IN ('the', 'a', 'of'))) AS v_en,
        |  len(list_filter(string_split(text, ' '), t -> t IN ('der', 'die', 'das'))) AS v_de,
        |  len(list_filter(string_split(text, ' '), t -> t IN ('el', 'los', 'una'))) AS v_es,
        |  len(list_filter(string_split(text, ' '), t -> t IN ('le', 'les', 'une'))) AS v_fr
        | FROM documents)
        |SELECT lang,
        | CASE WHEN v_en >= greatest(v_de, v_es, v_fr) AND v_en > 0 THEN 'en'
        |      WHEN v_de >= greatest(v_es, v_fr) AND v_de > 0 THEN 'de'
        |      WHEN v_es >= v_fr AND v_es > 0 THEN 'es'
        |      WHEN v_fr > 0 THEN 'fr'
        |      ELSE 'und' END AS guess,
        | count(*) AS n_docs
        |FROM v
        |GROUP BY 1, 2
        |ORDER BY lang, guess""".stripMargin,

    "q49_doc_fingerprints" ->
      """WITH f AS (
        | SELECT doc_id,
        |  list_reduce(list_prepend(CAST(0 AS BIGINT),
        |    list_transform(string_split(text, ' '), t -> CAST(ascii(t[1]) * 31 + length(t) AS BIGINT))),
        |   (h, v) -> (h * 1000003 + v) % 2147483647) AS fp
        | FROM documents)
        |SELECT fp, count(*) AS n_docs, min(doc_id) AS min_doc
        |FROM f
        |GROUP BY fp
        |HAVING count(*) > 1
        |ORDER BY fp""".stripMargin,

    // Same metrics re-derived through DuckDB's list lambdas; the [1:512]
    // slice mirrors the Spark-side token cap (identity on fixtures).
    "q83_repetition_metrics" ->
      """WITH d AS (
        | SELECT doc_id, lang, (string_split(text, ' '))[1:512] AS w
        | FROM documents WHERE doc_id < 60),
        |b AS (
        | SELECT doc_id, lang, w,
        |  list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1]) AS bg,
        |  list_transform(range(1, len(w) - 1), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) AS tg
        | FROM d WHERE len(w) >= 3),
        |m AS (
        | SELECT doc_id, lang, w, bg, tg,
        |  list_max(list_transform(list_distinct(bg), x -> len(list_filter(bg, y -> y = x)))) AS top_bg,
        |  list_max(list_transform(list_distinct(tg), x -> len(list_filter(tg, y -> y = x)))) AS top_tg
        | FROM b)
        |SELECT doc_id, lang,
        | CAST(len(w) AS INTEGER) AS n_tokens,
        | (len(w) - len(list_distinct(w))) / len(w) AS dup_token_frac,
        | CAST(top_bg AS INTEGER) AS top_bigram_n,
        | top_bg / len(bg) AS top_bigram_frac,
        | top_tg / len(tg) AS top_trigram_frac
        |FROM m
        |ORDER BY doc_id""".stripMargin)
}
