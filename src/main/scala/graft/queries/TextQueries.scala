package graft.queries

import graft.Tables
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import Qutil._
import graft.functions.GraftFunctions.{affineMin, bitandCount}

/** SURVEY §2.11 — LLM-data-pipeline text operators (B-mandate): stats,
  * exact + near-duplicate dedup, MinHash/LSH, TF-IDF, n-grams.
  *
  * Scale posture: all token work is explode → shuffle-on-token, which
  * distributes; the brute-force Jaccard self-join is bounded per `source`
  * group and exists as the oracle-checkable spec for the banded-LSH path
  * (text_minhash_lsh), which is the 100 TB shape — candidates come from
  * equality joins on (band, band_hash) buckets, never an all-pairs scan. */
object TextQueries {

  private def toksOf(docs: org.apache.spark.sql.DataFrame) =
    docs.select(col("doc_id"), col("lang"), col("source"),
      explode(split(col("text"), " ")).as("tok"))

  private def toks(s: org.apache.spark.sql.SparkSession, d: String) =
    toksOf(Tables.documents(s, d))

  /** Exact set-Jaccard near-dup pairs over distinct (doc_id, source, item)
    * rows, via dictionary-encoded item bitmasks.
    *
    * Why not candidate pruning: on this corpus most within-source pairs are
    * TRUE near-dups (57% at t=0.6 for tokens — 354k of 622k pairs at
    * sf0.1), so any candidate generator — the round-1 PPJoin prefix filter
    * included (git history has it) — is bounded below by the output, and
    * per-pair VERIFICATION cost is the whole game. Dictionary-encode the
    * global item vocabulary (item -> dense id, a tiny broadcast dim), pack
    * each doc's item set into ceil(V/64) longs, and verify a pair with
    * bit_count over zip_with — a few word-ANDs instead of a string-array
    * hash intersect. Exact (the dictionary is exact, bit positions unique),
    * all Catalyst HOFs, codegen'd.
    *
    * 100 TB posture: masks are V/64 longs per doc — the dictionary-encoded
    * bitmap-index shape, right while the vocabulary is bounded AND dense
    * (31 tokens here; fine to ~100k). For a sparse item set the inverted-
    * index join wins instead (see text_near_dup_ngram), and for an open
    * vocabulary the pair GENERATOR flips to text_minhash_lsh banding (the
    * declared scale path). The pair join below is salted so the 20-value
    * source key spreads over `salts` reducers instead of 20. */
  private def bitmaskJaccardPairs(items: org.apache.spark.sql.DataFrame,
      threshold: Double, salts: Int = 8): org.apache.spark.sql.DataFrame = {
    // dense ids 0..V-1 via the distributed two-pass rank (no global
    // single-partition window — open-vocabulary safe; ScaleSpec proves the
    // plan has no single-partition Exchange at a 100k-item vocabulary)
    val dict = graft.operators.Scale
      .globalRank(items.select("item").distinct(), 32, "rk", "nn", col("item"))
      .select(col("item"), (col("rk") - 1).cast("int").as("id"))
    // (doc, word) partial masks -> per-doc dense ceil(V/64)-long arrays
    val bits = items.join(broadcast(dict), "item")
      .groupBy(col("doc_id"), col("source"),
        expr("CAST(id DIV 64 AS INT)").as("w"))
      .agg(expr("bit_or(shiftleft(1L, id % 64))").as("m"),
        count(lit(1)).as("ntw"))
    val nwords = dict.agg(expr("CAST(MAX(id) DIV 64 + 1 AS INT)").as("nw"))
    // materialized ONCE (r16): the mask aggregation previously re-ran per
    // join side (the two sides' exchanges differ, so ReuseExchange never
    // deduplicated them), and thresholded salting adds the hot-key size
    // aggregate as a third consumer (the r15 C2 lesson)
    val masks = graft.operators.Scale.materialize(bits
      .groupBy("doc_id", "source")
      .agg(map_from_entries(collect_list(struct(col("w"), col("m")))).as("mm"),
        sum(col("ntw")).as("nt"))
      .crossJoin(broadcast(nwords))
      .select(col("doc_id"), col("source"), col("nt"),
        transform(sequence(lit(0), col("nw") - 1),
          w => coalesce(element_at(col("mm"), w), lit(0L))).as("mask")))
    // salted within-source pair join (same shape as SimQueries.labelPairs);
    // r16: THRESHOLDED (r15 verdict ask #6, guide §2.5) — only sources
    // holding >= hotMin docs salt/replicate, cold sources join in the
    // single (0, [0]) cell; pair output row-identical either way (a pair
    // meets exactly once at sb = sa, whatever sa is)
    val hot = graft.operators.Scale.hotKeys(
      masks.select(col("source")), Seq("source"))
    val saltsArr = array((0 until salts).map(lit): _*)
    val one = array(lit(0))
    val a = masks.toDF("a_id", "a_src", "a_nt", "a_mask")
      .join(broadcast(hot.toDF("a_src", "__hot")), Seq("a_src"), "left")
      .withColumn("sa", when(col("__hot").isNotNull,
        pmod(xxhash64(col("a_id")), lit(salts)).cast("int")).otherwise(lit(0)))
      .drop("__hot")
    val b = masks.toDF("b_id", "b_src", "b_nt", "b_mask")
      .join(broadcast(hot.toDF("b_src", "__hot")), Seq("b_src"), "left")
      .withColumn("sb", explode(when(col("__hot").isNotNull, saltsArr).otherwise(one)))
      .drop("__hot")
    a.hint("merge").join(b,
        col("a_src") === col("b_src") && col("sa") === col("sb") &&
        col("a_id") < col("b_id") &&
        col("a_nt") * threshold <= col("b_nt") &&
        col("b_nt") * threshold <= col("a_nt"))
      // r15: native fused popcount-intersection (graft.functions
      // .BitAndCount — all-integer, exact equality with the old
      // zip_with/aggregate fold; ExpressionSpec pins it), whole-stage
      // codegen on the per-pair hot loop
      .withColumn("inter", bitandCount(col("a_mask"), col("b_mask")))
      .withColumn("jacc", col("inter").cast(DoubleType) /
        (col("a_nt") + col("b_nt") - col("inter")))
      .where(col("jacc") >= threshold)
      .select(col("a_id").as("doc_a"), col("b_id").as("doc_b"),
        r6(col("jacc")).as("jaccard"))
      .orderBy("doc_a", "doc_b")
  }

  /** MinHash affine family — ONE definition shared by the Spark plan and
    * the generated DuckDB oracle, so both engines compute identical
    * signatures (the whole point of the portable sha256-derived base hash). */
  private val minhashP = 2147483647L
  private def minhashAB(i: Int): (Long, Long) = (
    math.floorMod((2 * i + 1) * 0x9E3779B97F4A7C15L, minhashP - 1) + 1,
    math.floorMod((i + 1) * 0xC2B2AE3D27D4EB4FL, minhashP))

  /** Normalized content hash — ONE definition shared by the batch dedup
    * query (text_normalize_dedup_exact, whose DuckDB oracle mirrors it)
    * and the streaming incremental dedup (streaming.DedupProcessor), so
    * the batch and streaming dialects can never disagree on what "same
    * content" means. */
  private[graft] def contentHash(c: org.apache.spark.sql.Column) =
    sha2(regexp_replace(lower(c), "[^a-z0-9 ]", ""), 256)

  /** Novelty share off the coalesced counts (nt_c/nv_c — non-colliding
    * names per the lateral-alias rule); trigram-less docs score 0. A
    * def (init-order rule); parses in both dialects. */
  private def noveltyFormula: String =
    "(CASE WHEN nt_c = 0 THEN CAST(0 AS DOUBLE) ELSE " +
      "CAST(nv_c AS DOUBLE) / CAST(nt_c AS DOUBLE) END)"

  /** Bag-of-words key (r11): the contentHash normalization with the
    * token ORDER erased — sha over the SORTED token list. Bag groups
    * are a coarsening of exact groups (sorting is deterministic), so
    * bag_unique <= exact_unique always; the gap counts reorder-only
    * near-dups. Shared by text_dedup_bag and its planted spec. */
  private[graft] def bagKey(c: org.apache.spark.sql.Column) =
    sha2(concat_ws(" ",
      array_sort(split(regexp_replace(lower(c), "[^a-z0-9 ]", ""), " "))), 256)

  private val queries1: Map[String, Q] = Map(
    // Corpus stats per language.
    "text_stats" -> ((s, d) =>
      Tables.documents(s, d)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          r6(sum(col("n_chars")).cast(DoubleType) / count(lit(1))).as("avg_chars"),
          r6(sum(size(split(col("text"), " ")).cast(LongType)).cast(DoubleType)
            / count(lit(1))).as("avg_tokens"),
          countDistinct(col("source")).as("n_sources"))
        .orderBy("lang")),

    // Exact dedup after normalization: keep min doc_id per content hash.
    "text_normalize_dedup_exact" -> ((s, d) => {
      val w = Window.partitionBy("h").orderBy("doc_id")
      Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), contentHash(col("text")).as("h"))
        .withColumn("rn", row_number().over(w))
        .where(col("rn") === 1)
        .select("doc_id", "lang", "h")
        .orderBy("doc_id")
    }),

    // Bag-of-words dedup census (r11) — the zero-cost middle rung between
    // exact dedup (order-sensitive) and shingle LSH (order-robust but a
    // candidate-join family): erase token ORDER from the contentHash key
    // (sha over the sorted token list — bagKey, the one definition) and
    // census how many "unique" docs are really reorders. Bag groups
    // COARSEN exact groups (sort is deterministic), so n_bag_unique <=
    // n_exact_unique structurally, and the gap is the reorder-only
    // near-dup count — zero on the fixtures (no planted reorders; the
    // dq_sequence_gaps precedent: zeros ARE the check passing, the
    // planted PropertySpec proves the detector fires). ONE row-local
    // projection + one keyed aggregate — a single map pass at any
    // scale, the text_quality_gate plan class.
    "text_dedup_bag" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("source"), contentHash(col("text")).as("eh"),
          bagKey(col("text")).as("bh"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct("eh").as("n_exact_unique"),
          countDistinct("bh").as("n_bag_unique"))
        .selectExpr("source", "n_docs", "n_exact_unique", "n_bag_unique",
          "n_docs - n_exact_unique AS n_exact_dup_rows",
          "n_exact_unique - n_bag_unique AS n_reorder_only")
        .orderBy("source")),

    // First-occurrence n-gram novelty (r11) — the memorization/novelty
    // curation signal: per doc, what fraction of its trigram instances
    // is INTRODUCED by this doc (the shingle's corpus-min doc_id is this
    // doc) vs already seen earlier in id order. Low-novelty late docs
    // are boilerplate/recombination candidates; the per-doc share feeds
    // mixing weights the way quality scores do. Exact integer end to
    // end: first-introducer = one keyed min over the SHARED trigramsOf
    // shingles (the text_repetition/quality_gate definition), novelty =
    // one fixed division (r6). Scale shape: the exploded shingle frame
    // checkpoints once (it feeds the min-aggregate AND the join-back —
    // the differing-consumer rule), the join shuffles on the shingle
    // key, the rollup lands doc grain; trigram-less docs re-enter via
    // the doc-grain left join with novelty = 0 (the dsir re-entry rule).
    "text_ngram_novelty" -> ((s, d) => {
      val tri = Tables.documents(s, d)
        .select(col("doc_id"),
          explode(trigramsOf(split(col("text"), " "))).as("sh"))
        .transform(graft.operators.Scale.materialize)
      val first = tri.groupBy("sh").agg(min("doc_id").as("fd"))
      val agg = tri.join(first, "sh")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tri"),
          sum(when(col("fd") === col("doc_id"), 1L).otherwise(0L)).as("n_novel"))
      Tables.documents(s, d).select("doc_id")
        .join(agg, Seq("doc_id"), "left")
        // coalesce FIRST under non-colliding names (the r6 lateral-alias
        // shadowing rule), emit second
        .selectExpr("doc_id",
          "CAST(COALESCE(n_tri, 0) AS BIGINT) AS nt_c",
          "CAST(COALESCE(n_novel, 0) AS BIGINT) AS nv_c")
        .selectExpr("doc_id", "nt_c AS n_tri", "nv_c AS n_novel",
          s"${r6Sql(noveltyFormula)} AS novelty")
        .orderBy("doc_id")
    }),

    // Near-dup candidate pairs within a source: token-set Jaccard >= 0.6.
    // Relational formulation: distinct (doc, tok) -> self-join on token ->
    // |∩| / (|A| + |B| - |∩|). At 100 TB this brute-force spec is replaced
    // by text_minhash_lsh candidates; kept here as the exact oracle.
    "text_near_dup_jaccard" -> ((s, d) =>
      bitmaskJaccardPairs(
        toks(s, d).select(col("doc_id"), col("source"), col("tok").as("item"))
          .distinct(),
        threshold = 0.6)),

    // n-gram (bigram-shingle) Jaccard near-dup: inverted-index self-join on
    // the shared bigram, NOT the bitmask path — the two formulations split
    // on item-set density. Tokens (31-word vocab) are DENSE: every token is
    // in ~half the docs, the shared-item join multiplies to ~16M rows, and
    // the bitmask's flat 622k pair evaluations win. Bigrams (931 vocab) are
    // SPARSE: the same join yields only ~335k rows (measured at sf0.1), so
    // the equality join IS the filter and beats evaluating every
    // within-source pair against 15-long masks. Same exact semantics; pick
    // by expected item df, not by habit.
    "text_near_dup_ngram" -> ((s, d) => {
      val bigrams = bigramsOf(split(col("text"), " "))
      // r16: materialized ONCE — the explode+distinct shingle frame has
      // three consumers (the size aggregate + both self-join sides; the
      // sides' exchanges differ once the size join lands, so
      // ReuseExchange never saved the recompute)
      val t = graft.operators.Scale.materialize(Tables.documents(s, d)
        .select(col("doc_id"), col("source"), explode(bigrams).as("bg"))
        .distinct())
      val sizes = t.groupBy("doc_id").agg(count(lit(1)).as("nt"))
      val ts = t.join(sizes, "doc_id")
      ts.as("a").join(ts.as("b"),
          col("a.bg") === col("b.bg") && col("a.source") === col("b.source") &&
          col("a.doc_id") < col("b.doc_id") &&
          col("a.nt") * 0.1 <= col("b.nt") && col("b.nt") * 0.1 <= col("a.nt"))
        .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
          col("a.nt").as("na"), col("b.nt").as("nb"))
        .agg(count(lit(1)).as("inter"))
        .withColumn("jacc", col("inter").cast(DoubleType) /
          (col("na") + col("nb") - col("inter")))
        .where(col("jacc") >= 0.1)
        .select(col("doc_a"), col("doc_b"), r6(col("jacc")).as("jaccard"))
        .orderBy("doc_a", "doc_b")
    }),

    // MinHash (k=32) + banded LSH (8 bands × 4 rows): candidate pairs from
    // bucket equality joins — the 100 TB near-dup shape (equality-join on
    // (band, hash), never an all-pairs scan). One base hash per token, then
    // 32 fixed affine transforms (universal hashing) — ~10× cheaper than
    // re-hashing the string per signature row.
    // The base hash is PORTABLE — the top 60 bits of sha256, identical in
    // DuckDB as CAST('0x'||substring(sha256(t),1,15) AS BIGINT) — so unlike
    // round 1 (xxhash64, no DuckDB equivalent) the full candidate PAIR SET
    // is oracle-checked; recall vs exact Jaccard stays asserted in tests.
    "text_minhash_lsh" -> ((s, d) =>
      minhashPairs(s, d).orderBy("doc_a", "doc_b")),

    // INCREMENTAL dedup (r9c) — the shape a production pipeline runs
    // daily: nobody re-dedups 100 TB per ingest; the NEW batch (the
    // delta — here the top fifth of the doc_id span, off one bounded
    // bounds row) is checked against everything EARLIER (the base
    // corpus plus lower-id delta docs — the arrival order within the
    // batch, the DedupProcessor contract batch-side). Candidates come
    // from the SAME minhashBuckets frame every batch dedup query uses
    // (one bucket definition — the incremental verdicts provably
    // reconcile with the full-batch text_minhash_lsh pair set, pinned
    // in PipelineSpec), joined delta×earlier on (source, band, bh) —
    // at scale the base side is the persisted bucket INDEX (the
    // LshIndexProcessor state, materialized) and the join touches only
    // delta-bucket rows. Emission: per delta doc, match counts split
    // base/prior-delta and the keep verdict (no earlier near-dup).
    "text_dedup_incremental" -> ((s, d) => {
      // checkpointed ONCE inside deltaBuckets (r9c review): the frame
      // feeds both join sides (with differing filters, so ReuseExchange
      // cannot deduplicate them) AND the delta base below —
      // uncheckpointed, the documents scan + 32 affine signatures + band
      // explode would run three times (the r5b multi-consumer rule)
      val buckets = deltaBuckets(s, d)
      // laned delta×earlier bucket join (r10): row-identical to the
      // plain (source, band, bh) join; a boilerplate bucket's
      // candidate emission spreads over lanes² cells instead of one
      // task (Scale.lanedBucketJoin)
      val pairs = graft.operators.Scale.lanedBucketJoin(
          buckets.where(col("is_delta")), buckets,
          Seq("source", "band", "bh"), "doc_id", "doc_id")
        .where(col("y.doc_id") < col("x.doc_id"))
        .select(col("x.doc_id").as("doc_id"),
          col("y.doc_id").as("m_id"), col("y.is_delta").as("m_delta"))
        .distinct()
      val per = pairs.groupBy("doc_id")
        .agg(sum(when(!col("m_delta"), 1L).otherwise(0L)).as("n_base_matches"),
          sum(when(col("m_delta"), 1L).otherwise(0L)).as("n_prior_delta_matches"))
      // delta base from the checkpointed buckets (every doc has 8
      // band rows — distinct recovers doc grain with no third scan)
      buckets.where(col("is_delta"))
        .select(col("doc_id"), col("source")).distinct()
        .join(per, Seq("doc_id"), "left")
        .na.fill(0L, Seq("n_base_matches", "n_prior_delta_matches"))
        .withColumn("keep",
          col("n_base_matches") + col("n_prior_delta_matches") === 0L)
        .orderBy("doc_id")
    }),

    // Incremental near-dup CLUSTER maintenance (r10) — the daily-ingest
    // twin of dedup_cluster_cc, the way cdc_incremental_agg is the IVM
    // twin of a full re-aggregate: split the corpus at the same doc_id
    // watermark as text_dedup_incremental (top fifth = today's delta),
    // label the BASE graph alone (at deployment: yesterday's persisted
    // label table), then merge the delta via COMPONENT CONTRACTION
    // (Scale.incrementalComponents — base clusters shrink to their
    // labels, delta-involving star edges map through them, and the
    // second CC runs on the contracted graph, sized by clusters + delta
    // docs, not the corpus). The ORACLE is the full-rescan recursive
    // closure (clusterOracleSql — identical to dedup_cluster_cc's), so
    // a green row PROVES incremental == full rescan cell-for-cell; the
    // contraction theorem itself is ScaleSpec-pinned on random graphs
    // with base–base bridges that exist only through delta nodes. Both
    // candidate stages ride star edges (connectivity-only consumers).
    "dedup_cluster_incremental" -> ((s, d) => {
      val (buckets, flags) = deltaSplitFrames(s, d)
      val baseEdges = minhashStarEdgesOver(buckets.where(!col("is_delta")))
        .select(col("doc_a").as("src"), col("doc_b").as("dst"))
      val cc = graft.operators.Scale.incrementalComponents(
        flags.select(col("doc_id").as("id")),
        flags.where(!col("is_delta")).select(col("doc_id").as("id")),
        baseEdges, deltaStarEdges(buckets, flags))
      clusterEmit(cc)
    }),

    // PERSISTED-LABEL incremental cluster maintenance (r11, the r10
    // verdict's "missing #1") — the DEPLOYMENT shape of
    // dedup_cluster_incremental: yesterday's (id, cluster) label table is
    // LANDED as parquet (here: the base-graph CC runs once at
    // construction and writes to the scratch sink — that is "yesterday's
    // job"), then today's query READS IT BACK and runs ONLY the
    // contraction + delta CC (Scale.incrementalFromLabels) — the returned
    // plan contains a parquet scan of the label table and ZERO base-graph
    // CC rounds (SourcesSpec pins the scan; CatalogSpec pins exact output
    // equality with dedup_cluster_incremental). The oracle is the SAME
    // full-rescan recursive closure, so the green row proves
    // persisted-label resume == full rescan cell-for-cell. At 100 TB this
    // is the daily win incrementalComponents' scaladoc promises: the
    // corpus-scale base CC is amortized into yesterday's run; today pays
    // one label join + a CC sized by (clusters + delta docs).
    "dedup_cluster_persisted" -> ((s, d) => {
      val (buckets, flags) = deltaSplitFrames(s, d)
      // "yesterday": label the base graph and PERSIST the label table
      val labelPath = ScanQueries.scratch("cluster_labels", d)
      graft.operators.Scale.connectedComponents(
          flags.where(!col("is_delta")).select(col("doc_id").as("id")),
          minhashStarEdgesOver(buckets.where(!col("is_delta")))
            .select(col("doc_a").as("src"), col("doc_b").as("dst")))
        .write.mode("overwrite").parquet(labelPath)
      // "today": read the persisted labels back and resume from them
      val cc = graft.operators.Scale.incrementalFromLabels(
        flags.select(col("doc_id").as("id")),
        s.read.parquet(labelPath), deltaStarEdges(buckets, flags))
      clusterEmit(cc)
    }),

    // Near-dup CLUSTERS from the MinHash pair graph: connected components
    // via Scale.connectedComponents (a driver union-find while the graph
    // fits its localCap, distributed large-star/small-star rounds above
    // it). Pairs alone can't drive dedup — keeping "one of each pair"
    // drops a doc once per partner; the component is the dedup unit (keep
    // min id / best quality per cluster). cluster_id = min doc_id in the
    // component, so the whole assignment is deterministic and
    // oracle-checked against a DuckDB transitive-closure recursive CTE.
    // Singletons cluster as themselves (csize 1). 100 TB shape: edges
    // come from the banded-LSH equality join via STAR reduction (min-doc
    // -> member per bucket — Σ|b| edges, never the Σ|b|²/2 all-pairs
    // emission; components are provably identical, see minhashStarEdges)
    // and every round is shuffle-on-node-id aggregates and joins,
    // O(log n) rounds on any topology.
    "dedup_cluster_cc" -> ((s, d) => {
      val pairs = minhashStarEdges(s, d)
      val cc = graft.operators.Scale.connectedComponents(
        Tables.documents(s, d).select(col("doc_id").as("id")),
        pairs.select(col("doc_a").as("src"), col("doc_b").as("dst")))
      clusterEmit(cc)
    }),

    // The SEAM-IN-CONTRACT twin (r14): byte-identical clustering logic
    // to dedup_cluster_cc, executed under graft.materialize=scratch in
    // a newSession clone — the edge build and EVERY CC round land as
    // durable scratch parquet and read back (measured
    // stats, survives executor loss) instead of executor-local
    // localCheckpoint blocks. This is the r14 materialize seam's
    // cluster deployment mode running inside the ORACLED contract:
    // oracle = the SAME full-rescan closure SQL, and CatalogSpec pins
    // cell-for-cell equality with dedup_cluster_cc — mode equivalence
    // proven by the driver, not just by ScaleSpec. Confs are
    // session-scoped (runtime confs don't leak — the
    // join_bloom_filtered precedent); the scratch base dir follows the
    // per-(sfDir, pid) ScanQueries.scratch convention, and retention
    // of superseded round dirs is the documented caller contract.
    "dedup_cluster_scratch" -> ((s0, d) => {
      val s = s0.newSession()
      s.conf.set("graft.materialize", "scratch")
      s.conf.set("graft.materialize.dir", ScanQueries.scratch("mat_cluster", d))
      val pairs = minhashStarEdges(s, d)
      // localCap = 0: the rounds, not the driver path, are what this
      // twin exists to land as scratch parquet
      val cc = graft.operators.Scale.connectedComponents(
        Tables.documents(s, d).select(col("doc_id").as("id")),
        pairs.select(col("doc_a").as("src"), col("doc_b").as("dst")), localCap = 0)
      clusterEmit(cc)
    }),

    // The end-to-end near-dup dedup a training pipeline actually runs:
    // cluster (above) -> ONE survivor per cluster, highest shared quality
    // score (ties to the smaller doc_id). The argmax is a min(struct)
    // AGGREGATE over (cluster, -q, id) — map-side partials, never a
    // window over the corpus. Output is one row per cluster, so
    // downstream keeps survivors and drops |cluster|-1 near-dups each.
    "text_dedup_cluster_survivor" -> ((s, d) =>
      clusterSurvivors(s, d)
        .select(col("cluster_id"), col("doc_id").as("survivor"),
          r6(col("quality")).as("quality"), col("csize"))
        .orderBy("cluster_id"))
  )

  /** Sketch-based similarity ESTIMATION: for each banded candidate pair,
    * estimate Jaccard as the signature agreement fraction — the sketch
    * answer a 100 TB pipeline uses when re-materializing token sets for
    * an exact verify is too expensive (E[agree/32] = J; the banding and
    * the estimate read the SAME 32 signatures via minhashSigs). Fully
    * deterministic (fixed affine family), so unlike classic sketch ops
    * it is hash-checked cell-for-cell; SimSpec-style accuracy vs exact
    * Jaccard is pinned in CatalogSpec. est values are multiples of 1/32
    * (one exact IEEE division). */
  private val queries4: Map[String, Q] = Map(
    // Per-SOURCE dedup-rate census (r7) — the funnel's actionable grain:
    // the global report says HOW MUCH duplication exists, this says
    // WHERE (the decision a curation run actually takes is "drop or
    // down-weight source X"). Per source: docs, exact-unique mass
    // (shared contentHash), exact-dup overhang, and docs involved in
    // near-dup candidate pairs (star edges — a doc is a pair MEMBER iff
    // it sits in a ≥2-doc bucket, and the star graph touches exactly
    // that set: centers as doc_a, the rest as doc_b — so the member set
    // is identical to the all-pairs one at Σ|b| cost). KEYED
    // count_distinct (the keys=[] PlanGuard rule does not apply); the
    // pair side is the banded generator, never all-pairs.
    "text_dedup_by_source" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val base = docs.groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        countDistinct(contentHash(col("text"))).as("n_unique"))
      val members = minhashStarEdges(s, d)
        .select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
        .distinct()
      val nd = members.join(docs.select("doc_id", "source"), "doc_id")
        .groupBy("source").agg(count(lit(1)).as("n_neardup_docs"))
      base.join(nd, Seq("source"), "left")
        .na.fill(0L, Seq("n_neardup_docs"))
        .selectExpr("source", "n_docs", "n_unique",
          "n_docs - n_unique AS n_exact_dup", "n_neardup_docs")
        .orderBy("source")
    }),

    // Dedup-pipeline funnel census (r6g) — the ONE-ROW observability
    // report a curation run logs after every dedup pass: corpus size →
    // exact-unique mass → candidate pairs → near-dup clusters (size
    // ≥ 2) → docs swallowed by them → docs remaining after one-
    // survivor-per-cluster. Every stage reads the SHARED definitions
    // (contentHash, minhashPairsOver/StarEdgesOver, clusterSurvivorsOver), so the funnel
    // can never disagree with the queries it summarizes; the exact-
    // unique count is a keyed distinct THEN a partial-aggregable count
    // (never count_distinct in a keys=[] aggregate — the r6d
    // PlanGuard rule). The oracle composes the same mirrored CTEs and
    // the recursive closure.
    "text_dedup_funnel" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val nDocs = docs.agg(count(lit(1)).as("n_docs"))
      val nUniq = docs.select(contentHash(col("text")).as("h")).distinct()
        .agg(count(lit(1)).as("n_exact_unique"))
      // ONE checkpointed bucket frame feeds both derived shapes: the
      // DECLARED n_candidate_pairs count stays the all-pairs emission
      // (pairs are the reported metric), while the CC stage rides the
      // star-edge graph — identical components, linear in hot-bucket
      // size (minhashStarEdges scaladoc; r9 verdict ask #1).
      val buckets = minhashBuckets(docs).transform(graft.operators.Scale.materialize)
      val nPairs = minhashPairsOver(buckets)
        .agg(count(lit(1)).as("n_candidate_pairs"))
      val surv = clusterSurvivorsOver(s, d, minhashStarEdgesOver(buckets))
      val cl = surv.agg(
        sum(when(col("csize") > 1, 1L).otherwise(0L)).as("n_multi_clusters"),
        sum(when(col("csize") > 1, col("csize")).otherwise(0L)).as("n_docs_in_multi"),
        count(lit(1)).as("n_after_neardup"))
      nDocs.crossJoin(broadcast(nUniq)).crossJoin(broadcast(nPairs))
        .crossJoin(broadcast(cl))
        .select(col("n_docs"), col("n_exact_unique"), col("n_candidate_pairs"),
          col("n_multi_clusters"), col("n_docs_in_multi"), col("n_after_neardup"))
    }),

    // Cross-source contamination matrix (r6g) — "which crawls duplicate
    // each other": the declared within-source pair generator blocks on
    // (source, band, bh) BY DESIGN (self-similar shards), so cross-
    // source overlap is invisible to it; this query joins the SAME
    // minhashBuckets on (band, bh) with source_a < source_b and
    // censuses candidate near-dup pairs per source pair — the matrix a
    // mixing decision reads before weighting two sources that are
    // secretly the same crawl. Same bucketed equality-join shape (never
    // all-pairs) with STOP-BUCKET pruning: buckets larger than 50 docs
    // are dropped before pairing (the standard production-LSH guard —
    // a mega-bucket is a degenerate band, not evidence, and its pair
    // explosion is quadratic; measured 28 s -> ~4 s at sf0.1). The
    // integer size filter is identical on both engines, so the pruned
    // semantics stay fully oracled. Bounded (|sources|²) output.
    "text_cross_source_dup" -> ((s, d) => {
      // r15: buckets0 feeds the size census and both self-join sides —
      // materialize so the sig pass runs once (the multi-consumer rule)
      val buckets0 = minhashBuckets(Tables.documents(s, d))
        .transform(graft.operators.Scale.materialize)
      val sizes = buckets0.groupBy("band", "bh").agg(count(lit(1)).as("bn"))
      val buckets = buckets0.join(sizes.where(col("bn") <= 50), Seq("band", "bh"))
        .select("doc_id", "source", "band", "bh")
      buckets.as("x").join(buckets.as("y"),
          col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
          col("x.source") < col("y.source"))
        .select(col("x.source").as("source_a"), col("y.source").as("source_b"),
          col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
        .distinct()
        .groupBy("source_a", "source_b")
        .agg(count(lit(1)).as("n_pairs"),
          countDistinct(col("doc_a")).as("n_docs_a"),
          countDistinct(col("doc_b")).as("n_docs_b"))
        .orderBy("source_a", "source_b")
    }),

    "dedup_minhash_est" -> ((s, d) => {
      // r15: ONE materialized sig pass feeds the estimate join-backs (sa,
      // sb) AND the pair generator — before, the per-token sha chain ran
      // once per consumer (sa + sb + twice inside minhashPairs)
      val sigs = minhashSigs(Tables.documents(s, d))
        .transform(graft.operators.Scale.materialize)
      val sa = sigs.select(col("doc_id").as("doc_a") +:
        (0 until 32).map(i => col(s"h$i").as(s"a$i")): _*)
      val sb = sigs.select(col("doc_id").as("doc_b") +:
        (0 until 32).map(i => col(s"h$i").as(s"b$i")): _*)
      val agree = (0 until 32)
        .map(i => when(col(s"a$i") === col(s"b$i"), 1).otherwise(0))
        .reduce(_ + _)
      minhashPairsOver(minhashBucketsOver(sigs)).join(sa, "doc_a").join(sb, "doc_b")
        .select(col("doc_a"), col("doc_b"), agree.cast(IntegerType).as("n_agree"))
        .withColumn("est_jaccard", col("n_agree").cast(DoubleType) / 32.0)
        .orderBy("doc_a", "doc_b")
    }),

    // Sketch CALIBRATION table (r10) — the measurement that says whether
    // dedup_minhash_est can replace exact verification at 100 TB: per
    // signature-agreement level (n_agree of 32), candidate-pair count,
    // the MEAN exact Jaccard, and the mean |est − exact| calibration
    // error. Truth is computed ONLY for the banded candidates (the
    // re-check shape: cand → token join on (doc, tok) — never all-pairs);
    // each pair's exact Jaccard is ONE division (identical bits both
    // engines) quantized to micro-unit BIGINTs (floor exact on equal
    // bits — the embed_isotropy rule), est lands exactly as
    // n_agree·31250 µ-units, so every per-bucket mean is an order-free
    // integer sum with one final division (shared calMeanF string,
    // round 6). A banded pair CAN share zero tokens (min-VALUE collision
    // across disjoint sets) — left join + zero-fill, not inner.
    "dedup_est_calibration" -> ((s, d) => {
      // r15: one materialized sig pass (the dedup_minhash_est rationale)
      val sigs = minhashSigs(Tables.documents(s, d))
        .transform(graft.operators.Scale.materialize)
      val cand = minhashPairsOver(minhashBucketsOver(sigs))
        .transform(graft.operators.Scale.materialize)
      val sa = sigs.select(col("doc_id").as("doc_a") +:
        (0 until 32).map(i => col(s"h$i").as(s"a$i")): _*)
      val sb = sigs.select(col("doc_id").as("doc_b") +:
        (0 until 32).map(i => col(s"h$i").as(s"b$i")): _*)
      val agree = (0 until 32)
        .map(i => when(col(s"a$i") === col(s"b$i"), 1).otherwise(0))
        .reduce(_ + _)
      val est = cand.join(sa, "doc_a").join(sb, "doc_b")
        .select(col("doc_a"), col("doc_b"), agree.cast(IntegerType).as("n_agree"))
      val t = toks(s, d).select(col("doc_id"), col("tok")).distinct()
      val sizes = t.groupBy("doc_id").agg(count(lit(1)).as("nt"))
      val inter = cand
        .join(t.select(col("doc_id").as("doc_a"), col("tok")), "doc_a")
        .join(t.select(col("doc_id").as("doc_b"), col("tok")), Seq("doc_b", "tok"))
        .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("inter"))
      val jq = cand.join(inter, Seq("doc_a", "doc_b"), "left")
        .na.fill(0L, Seq("inter"))
        .join(sizes.select(col("doc_id").as("doc_a"), col("nt").as("na")), "doc_a")
        .join(sizes.select(col("doc_id").as("doc_b"), col("nt").as("nb")), "doc_b")
        .selectExpr("doc_a", "doc_b",
          "CAST(floor((CAST(inter AS DOUBLE) / (na + nb - inter)) * 1e6 + 0.5) AS BIGINT) AS jq")
      est.join(jq, Seq("doc_a", "doc_b"))
        .selectExpr("n_agree", "jq", "abs(n_agree * 31250 - jq) AS errq")
        .groupBy("n_agree")
        .agg(count(lit(1)).as("n_pairs"), sum("jq").as("sjq"), sum("errq").as("serr"))
        .selectExpr("n_agree", "CAST(n_agree AS DOUBLE) / 32.0 AS est_jaccard",
          "n_pairs", s"${calMeanF("sjq")} AS mean_jaccard",
          s"${calMeanF("serr")} AS mean_abs_err")
        .orderBy("n_agree")
    })
  )

  /** Micro-unit bucket mean — shared by the dedup_est_calibration
    * emission and its oracle (def: the Map init-order rule): integer
    * µ-unit sum → one fixed-order division chain → round 6. */
  private def calMeanF(sumc: String): String =
    Qutil.r6Sql(s"(CAST($sumc AS DOUBLE) / CAST(n_pairs AS DOUBLE)) / 1e6")

  /** The COMPOSED dedup a production curation run deploys: a doc pair
    * dedups if it is a TEXTUAL near-dup (shared MinHash band) OR a
    * SEMANTIC one (shared hyperplane band + cosine >= 0.35, vec_id read
    * as the embedded doc's id) — both generators are bucketed equality
    * joins, their union feeds ONE component/survivor step
    * (clusterSurvivorsOver, the generator-agnostic contract). This is
    * pipeline.Corpus.assemble(semantic = true)'s dedup core declared as a
    * hash-checked query: the oracle runs a recursive closure over the
    * UNION of the two mirrored pair SQLs, so the composition itself —
    * not just each generator — is cell-checked against DuckDB. */
  private val queries3: Map[String, Q] = Map(
    "dedup_semantic_union" -> ((s, d) => {
      // minhash half rides star edges (connectivity-only; identical
      // components — closure(star ∪ embed) == closure(pairs ∪ embed)
      // because the two halves' closures compose); the embed half keeps
      // pair emission (exact-cosine re-check breaks star transitivity).
      val pairs = minhashStarEdges(s, d).union(
        SimQueries.embedBandPairs(s, d)
          .select(col("a_id").as("doc_a"), col("b_id").as("doc_b")))
      clusterSurvivorsOver(s, d, pairs)
        .select(col("cluster_id"), col("doc_id").as("survivor"),
          r6(col("quality")).as("quality"), col("csize"))
        .orderBy("cluster_id")
    })
  )

  /** One best-quality survivor per connected component of the MinHash pair
    * graph: (cluster_id, doc_id, quality UNROUNDED, csize). ONE definition
    * shared by the declared (oracled) query above and pipeline.Corpus, so
    * the tie-break and quality formula can never desynchronize between the
    * hash-checked query and the pipeline that PipelineSpec cross-checks
    * against it. */
  private[graft] def clusterSurvivors(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    // connectivity-only consumer -> star edges (identical components,
    // linear in hot-bucket size; minhashStarEdges scaladoc)
    clusterSurvivorsOver(s, d, minhashStarEdges(s, d))

  /** clusterSurvivors over an ARBITRARY candidate-pair graph (doc_a,
    * doc_b) — the component/survivor step is generator-agnostic (MinHash
    * bands, embedding bands, or their union all feed the same clustering;
    * PipelineSpec proves it on the composed graph). */
  private[graft] def clusterSurvivorsOver(s: org.apache.spark.sql.SparkSession,
      d: String, pairs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val cc = graft.operators.Scale.connectedComponents(
      Tables.documents(s, d).select(col("doc_id").as("id")),
      pairs.select(col("doc_a").as("src"), col("doc_b").as("dst")))
    val (_, _, _, _, _, score) = Text2Queries.qualityCols(col("text"))
    val scored = Tables.documents(s, d).select(col("doc_id"), score.as("q"))
    cc.join(scored, cc("id") === scored("doc_id"))
      .groupBy(col("cluster"))
      .agg(min(struct((-col("q")).as("nq"), col("id").as("sid"))).as("m"),
        count(lit(1)).as("csize"))
      .select(col("cluster").as("cluster_id"), col("m.sid").as("doc_id"),
        (-col("m.nq")).as("quality"), col("csize"))
  }

  /** MinHash+LSH candidate pairs (distinct, doc_a < doc_b) — shared by the
    * declared pair query, the connected-components clustering, and the
    * corpus-assembly pipeline (graft.pipeline.Corpus). */
  /** MinHash band buckets (doc_id, source, band, bh) for ANY
    * (doc_id, source, text) frame — batch or readStream; every expression
    * is row-local, so the streaming LSH index (streaming.LshIndexProcessor)
    * computes byte-identical bucket keys to the batch pair join. */
  /** The 32-column MinHash signature frame (doc_id, source, h0..h31) —
    * shared by the band bucketing below and the sketch-estimation query
    * (dedup_minhash_est), so the estimate and the blocking can never use
    * different signatures. */
  private[graft] def minhashSigs(
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
      val base = docs
        .select(col("doc_id"), col("source"),
          transform(array_distinct(split(col("text"), " ")),
            t => hash60(t)).as("hs"))
      // Fixed multipliers/offsets (golden-ratio stream) reduced mod the
      // Mersenne prime 2^31-1: pmod(h,p) < 2^31 and a < p keep every
      // product under 2^62, so ANSI-mode long arithmetic never overflows
      // (same bound holds for DuckDB's BIGINT). Literal seeds keep reruns
      // byte-identical (SURVEY §7.3.6).
      // r15: each signature column is the native fused affine_min kernel
      // (graft.functions.AffineMin) instead of an interpreted
      // array_min(transform(...)) pass — identical integer values on
      // nonnegative inputs (pmod == % there; ExpressionSpec pins the
      // equality), one codegen scan of the materialized hash array per
      // column. Stateless expression, so the streaming bucket consumers
      // (LshIndexProcessor/StarEdgeProcessor) keep byte-identical keys.
      val sigCols = (0 until 32).map { i =>
        val (a, b) = minhashAB(i)
        affineMin(col("hs"),
          lit(a), lit(b), lit(minhashP)).as(s"h$i")
      }
      base.select(col("doc_id") +: col("source") +: sigCols: _*)
  }

  /** CMS grid geometry + the ONE bucket definition (depth-row r →
    * column) shared by the batch sketch (text_cms_sketch — grid AND
    * probe side) and streaming.CmsProcessor's feed builder, so the
    * batch sketch and the incremental sketch can never disagree on
    * where a token lands (the minhashBuckets/tokenBudget contract). */
  private[graft] val cmsDepth = 4
  private[graft] val cmsWidth = 64L
  private[graft] def cmsBucket(tok: org.apache.spark.sql.Column, r: Int) =
    pmod(hash60(concat(lit(s"cms$r:"), tok)), lit(cmsWidth)).cast(IntegerType)

  /** Sweep widths for text_cms_sweep — mod-w of the SAME hash stream,
    * so the 64 column is bit-identical to the cmsBucket grid. */
  private[graft] val cmsSweepWidths = Seq(16L, 64L, 256L)

  private[graft] def minhashBuckets(
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    minhashBucketsOver(minhashSigs(docs))

  /** The banding step alone, over an existing 32-signature frame — split
    * out (r15) so queries that need sigs AND buckets (dedup_minhash_est,
    * dedup_est_calibration) can materialize ONE sig pass and derive both,
    * instead of re-running the per-token sha chain per consumer. */
  private[graft] def minhashBucketsOver(
      sigs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
      // band key: the 4 member signatures joined as a string — portable
      // across engines (round 1 xxhash64'd them; equality is all we need)
      val bandCols = (0 until 8).map(b =>
        struct(lit(b).as("band"),
          concat_ws(",", (b * 4 until b * 4 + 4).map(i => col(s"h$i")): _*).as("bh")))
      sigs
        .select(col("doc_id"), col("source"), explode(array(bandCols: _*)).as("bb"))
        .select(col("doc_id"), col("source"), col("bb.band").as("band"), col("bb.bh").as("bh"))
  }

  /** The ONE delta-watermark split (top fifth of the doc_id span) —
    * shared by text_dedup_incremental, dedup_cluster_incremental, and
    * their oracles (defs: the oracle Map init-order rule; the DuckDB
    * twin differs only in the division spelling, // == DIV on
    * nonnegative ids). */
  private[graft] def deltaWatermarkExpr: String = "mn + ((mx - mn) * 4) DIV 5"
  private def deltaWatermarkSql: String = "mn + ((mx - mn) * 4) // 5"

  /** The ONE delta-split bucket frame (r11, extracted from three inline
    * copies): minhashBuckets + is_delta at the shared watermark,
    * checkpointed (multi-consumer — the r5b rule). Consumers:
    * text_dedup_incremental, and deltaSplitFrames below. */
  private[graft] def deltaBuckets(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    minhashBuckets(Tables.documents(s, d))
      .crossJoin(broadcast(
        Tables.documents(s, d).agg(min("doc_id").as("mn"), max("doc_id").as("mx"))))
      .withColumn("is_delta", col("doc_id") > expr(deltaWatermarkExpr))
      .select("doc_id", "source", "band", "bh", "is_delta")
      .transform(graft.operators.Scale.materialize)

  /** deltaBuckets plus the doc-grain (doc_id, is_delta) node frame the
    * CC-family consumers need — derived from Tables.documents, NOT from
    * the bucket frame (the r10 ADVICE rule: a future minhashBuckets
    * change that drops token-less docs must not shrink the node set).
    * Consumers: dedup_cluster_incremental, dedup_cluster_persisted. */
  private[graft] def deltaSplitFrames(s: org.apache.spark.sql.SparkSession,
      d: String): (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val docs = Tables.documents(s, d)
    val bounds = docs.agg(min("doc_id").as("mn"), max("doc_id").as("mx"))
    val flags = docs.select("doc_id")
      .crossJoin(broadcast(bounds))
      .withColumn("is_delta", col("doc_id") > expr(deltaWatermarkExpr))
      .select("doc_id", "is_delta")
      .transform(graft.operators.Scale.materialize)
    (deltaBuckets(s, d), flags)
  }

  /** Every full-graph star edge with >= 1 delta endpoint — the
    * incrementalComponents caller contract (a full-bucket star edge
    * between two base members also exists in the base-only bucket's
    * star, so base connectivity loses nothing). Shared by
    * dedup_cluster_incremental and dedup_cluster_persisted. */
  private def deltaStarEdges(buckets: org.apache.spark.sql.DataFrame,
      flags: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    minhashStarEdgesOver(buckets)
      .join(flags.select(col("doc_id").as("doc_a"), col("is_delta").as("da")), "doc_a")
      .join(flags.select(col("doc_id").as("doc_b"), col("is_delta").as("db")), "doc_b")
      .where(col("da") || col("db"))
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))

  /** (doc_id, cluster_id, csize) emission shared by the three CC-family
    * cluster queries — one place for the size join + ordering. */
  private def clusterEmit(
      cc: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val sizes = cc.groupBy("cluster").agg(count(lit(1)).as("csize"))
    cc.join(sizes, "cluster")
      .select(col("id").as("doc_id"), col("cluster").as("cluster_id"), col("csize"))
      .orderBy("doc_id")
  }

  private[graft] def minhashPairs(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    // r15: materialize the bucket frame — the thresholded lanedBucketJoin
    // reads it THREE times (hot-set size aggregate + both join sides), and
    // un-checkpointed each read re-runs the per-token sha sig pass
    // (measured +1.5 s at sf0.1; the multi-consumer rule)
    minhashPairsOver(minhashBuckets(Tables.documents(s, d))
      .transform(graft.operators.Scale.materialize))

  private[graft] def minhashPairsOver(
      buckets: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
      // Candidates are blocked by (source, band, hash) — same scope as the
      // exact Jaccard op, and the shard-blocked join shape that keeps the
      // pair explosion bounded on a self-similar corpus at 100 TB. r11
      // (r10 verdict ask #2): the bucket self-join is LANED — even when
      // pairs ARE the output, a degenerate bucket's |b|²/2 emission must
      // not land on one task; lanedBucketJoin spreads it over lanes²
      // cells at a lanes-fold replication cost, row-identical output
      // (goldens unchanged; the 200-doc planted bucket in PropertySpec
      // pins the pair mass through this def).
      graft.operators.Scale.lanedBucketJoin(buckets, buckets,
          Seq("source", "band", "bh"), "doc_id", "doc_id")
        .where(col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
        .distinct()

  /** Star-edge candidate graph over the SAME minhash buckets: per
    * (source, band, bh) bucket emit (min doc_id -> each other member)
    * instead of all pairs. The transitive closure is IDENTICAL — within a
    * bucket every member reaches every other through the center — so any
    * consumer that only needs CONNECTIVITY (the CC-family cluster queries)
    * gets the same components from Σ|b| edges instead of Σ|b|²/2: at 100 TB
    * a 10⁶-doc boilerplate bucket is 10⁶ star edges, not 10¹² pairs (r9
    * verdict ask #1; PropertySpec plants a 200-doc hot bucket and pins
    * 199 vs 19,900 with identical clusters). Pair-SET queries
    * (text_minhash_lsh, dedup_minhash_est) keep minhashPairsOver — pairs
    * ARE their output — and exact-re-checked generators (embedBandPairs)
    * must NOT use this: star transitivity fails once a per-edge predicate
    * filters candidates after bucket agreement. One keyed window min (no
    * orderBy -> no sort), one shuffle on the bucket key. */
  private[graft] def minhashStarEdges(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    minhashStarEdgesOver(minhashBuckets(Tables.documents(s, d)))

  private[graft] def minhashStarEdgesOver(
      buckets: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
      val w = Window.partitionBy("source", "band", "bh")
      buckets
        .withColumn("ctr", min("doc_id").over(w))
        .where(col("doc_id") =!= col("ctr"))
        .select(col("ctr").as("doc_a"), col("doc_id").as("doc_b"))
        .distinct()
  }

  /** One (nb × r) banding of a 32-signature frame → within-source
    * candidate pairs (the text_lsh_band_sweep generator, extracted r11 so
    * PlanGuardSpec can pin its lane decomposition — the sweep checkpoints
    * this frame, which replaces the subtree with a LogicalRDD and erases
    * the lane columns from the FINAL executed plan). Laned (the r10
    * verdict's weak mark): the 16×2 regrouping is the loosest banding in
    * the catalog — its buckets are the hottest; the laned join is
    * row-identical (counts unchanged) while no single task owns a
    * degenerate bucket's pair emission. */
  private[graft] def bandCandidates(sigs: org.apache.spark.sql.DataFrame,
      nb: Int, r: Int): org.apache.spark.sql.DataFrame = {
    val bandCols = (0 until nb).map(b =>
      struct(lit(b).as("band"),
        concat_ws(",", (b * r until b * r + r).map(i => col(s"h$i")): _*).as("bh")))
    val bk = sigs
      .select(col("doc_id"), col("source"), explode(array(bandCols: _*)).as("bb"))
      .select(col("doc_id"), col("source"), col("bb.band").as("band"), col("bb.bh").as("bh"))
      // r15: three consumers now (hot-set aggregate + both join sides)
      .transform(graft.operators.Scale.materialize)
    graft.operators.Scale.lanedBucketJoin(bk, bk,
        Seq("source", "band", "bh"), "doc_id", "doc_id")
      .where(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
  }

  private val queries2: Map[String, Q] = Map(
    // TF-IDF: top-5 terms per language (tf within lang, idf over all docs).
    "text_tfidf_topterms" -> ((s, d) => {
      val t = toks(s, d)
      val tf = t.groupBy("lang", "tok")
        .agg(count(lit(1)).as("tf")).withColumnRenamed("tok", "term")
      val dfreq = t.select(col("doc_id"), col("tok").as("term")).distinct()
        .groupBy("term").agg(count(lit(1)).as("df"))
      val ndocs = Tables.documents(s, d).agg(count(lit(1)).as("ndocs"))
      val w = Window.partitionBy("lang").orderBy(col("score").desc, col("term"))
      tf.join(dfreq, "term").crossJoin(ndocs)
        .withColumn("score", col("tf") * log(col("ndocs").cast(DoubleType) / col("df")))
        .withColumn("rnk", row_number().over(w))
        .where(col("rnk") <= 5)
        .select(col("lang"), col("rnk").cast(IntegerType).as("rnk"), col("term"),
          r6(col("score")).as("score"))
        .orderBy("lang", "rnk")
    }),

    // Count-min sketch (r9c) — the MERGEABLE frequency sketch next to
    // HLL (agg_distinct_approx) and Misra-Gries (HeavyHitterProcessor):
    // a depth×width grid of counters where every cell is a plain SUM,
    // so shards build sketches independently and a 1000-executor merge
    // is element-wise addition — the property that makes CMS the
    // standard distributed frequency monitor. Fully DETERMINISTIC here
    // (buckets from the portable salted hash60, one shared cmsBucket
    // definition for the batch grid, the probe side, and
    // streaming.CmsProcessor's feed) and therefore fully oracled —
    // no other engine-ran sketch in the catalog can say that. The
    // emission probes every vocab term: est = min over rows of its 4
    // cells, emitted next to the exact count so the overcount (the CMS
    // ≥-guarantee: est ≥ true, error from collisions only) is visible
    // per term. Scale shape: the 4×64 grid is ONE partial-aggregable
    // groupBy (bounded 256 cells) broadcast back to the probe join;
    // the vocab side is the same keyed count any TF pass runs.
    "text_cms_sketch" -> ((s, d) => {
      val tok = toks(s, d).select("tok")
      def rbCol(t: org.apache.spark.sql.Column) =
        explode(array((0 until cmsDepth).map(r =>
          struct(lit(r).as("r"), cmsBucket(t, r).as("b"))): _*)).as("rb")
      val cells = tok.select(rbCol(col("tok")))
        .groupBy(col("rb.r").as("r"), col("rb.b").as("b"))
        .agg(count(lit(1)).as("cnt"))
      val vocab = tok.groupBy("tok").agg(count(lit(1)).as("n_true"))
      vocab.select(col("tok"), col("n_true"), rbCol(col("tok")))
        .join(broadcast(cells),
          col("rb.r") === col("r") && col("rb.b") === col("b"))
        .groupBy("tok", "n_true").agg(min("cnt").as("n_est"))
        .select(col("tok"), col("n_true"), col("n_est"),
          (col("n_est") - col("n_true")).as("overcount"))
        .orderBy("tok")
    }),

    // CMS width sweep (r9c) — the sizing matrix the sketch deployment
    // decision reads (the sim_probe_sweep/sim_mrl_sweep convention
    // applied to the frequency sketch): the SAME salted hash at widths
    // 16/64/256 (mod-w of one hash stream — the w=64 column is
    // BIT-IDENTICAL to text_cms_sketch's grid, pinned in ApproxSpec),
    // per-width per-term min-over-rows estimates, rolled up to the
    // error profile per width: exact-term count, total and max
    // overcount. ONE corpus pass emits all (w, r, b) cells (the grid
    // is bounded by Σw×depth = 1344 cells); the probe join is
    // broadcast; the emission is 3 rows.
    "text_cms_sweep" -> ((s, d) => {
      val tok = toks(s, d).select("tok")
      // hash ONCE per (tok, depth-row) — 4 sha-256 per token, not 12:
      // the row-hash lands as an attribute behind the FIRST explode, so
      // the width explode and mod derivations reference the materialized
      // column instead of re-evaluating the hash per width (r9c review)
      def rhCol(t: org.apache.spark.sql.Column) =
        explode(array((0 until cmsDepth).map(r =>
          struct(lit(r).as("r"),
            hash60(concat(lit(s"cms$r:"), t)).as("h"))): _*)).as("rh")
      val wCol = explode(typedlit(cmsSweepWidths)).as("w")
      val cells = tok.select(rhCol(col("tok")))
        .select(col("rh.r").as("r"), col("rh.h").as("h"), wCol)
        .groupBy(col("w"), col("r"),
          pmod(col("h"), col("w")).cast(IntegerType).as("b"))
        .agg(count(lit(1)).as("cnt"))
      val vocab = tok.groupBy("tok").agg(count(lit(1)).as("n_true"))
      vocab.select(col("tok"), col("n_true"), rhCol(col("tok")))
        .select(col("tok"), col("n_true"), col("rh.r").as("pr"), col("rh.h").as("h"), wCol)
        .withColumn("pw", col("w")).withColumn("pb",
          pmod(col("h"), col("w")).cast(IntegerType))
        .drop("w")
        .join(broadcast(cells),
          col("pw") === col("w") && col("pr") === col("r") && col("pb") === col("b"))
        .groupBy(col("tok"), col("n_true"), col("w"))
        .agg(min("cnt").as("n_est"))
        .groupBy(col("w").as("width"))
        .agg(count(lit(1)).as("n_terms"),
          sum(when(col("n_est") === col("n_true"), 1L).otherwise(0L)).as("n_exact"),
          sum(col("n_est") - col("n_true")).as("total_overcount"),
          max(col("n_est") - col("n_true")).as("max_overcount"))
        .orderBy("width")
    }),

    // LSH banding-geometry sweep (r10) — the sweep-family member for the
    // FIRST knob a MinHash-LSH deployment tunes (bands × rows sets the
    // recall/precision S-curve; threshold/probe/width/MRL sweeps already
    // exist): regroup the SAME 32 signatures (one checkpointed
    // minhashSigs pass) as 16×2 / 8×4 (the shipped banding — its
    // candidate set IS text_minhash_lsh's, CatalogSpec-pinned) / 4×8,
    // generate each config's within-source candidates by the same
    // bucketed equality join, and score against the EXACT Jaccard ≥ 0.6
    // truth (the declared text_near_dup_jaccard generator, reused
    // whole). Candidate sets NEST: a 4-row band agreement implies both
    // 2-row halves agree, so counts/recall are provably monotone in
    // rows_per_band (pinned structurally). All counts exact; the two
    // ratios guard 0-denominators with integer predicates. 100 TB
    // shape: one sig pass + three bucketed joins + the exact-verify
    // truth join — each stage is the shipped generators' shape.
    "text_lsh_band_sweep" -> ((s, d) =>
      bandSweepOver(Tables.documents(s, d))),

    // Sampled invocation of the band sweep (r12, the r11 verdict's #6):
    // the sweep is a documented "run on a sample shard in prod" op — this
    // IS that invocation, declared: the identical sweep over the
    // doc-grain 25% sample the portable salted hash selects
    // (sweepSampleKeep — deterministic at any scale, the
    // sample_stratified selector at a fixed rate). Banding geometry is a
    // per-pair property, so sample-shard estimates of recall/precision
    // are unbiased for the within-sample pair population; the full-corpus
    // row stays available as text_lsh_band_sweep. ~16× fewer candidate/
    // truth pairs at 1/4 the docs — the production cost model.
    "text_lsh_band_sweep_sampled" -> ((s, d) =>
      bandSweepOver(Tables.documents(s, d).where(sweepSampleKeep))),

    // Top-20 bigrams via zip_with over shifted slices (pure HOFs, no UDF).
    "text_ngrams" -> ((s, d) => {
      Tables.documents(s, d)
        .select(explode(bigramsOf(split(col("text"), " "))).as("bigram"))
        .groupBy("bigram")
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("bigram"))
        .limit(20)
    })
  )

  /** Doc-grain sample selector for the sampled sweep invocations — the
    * portable salted hash at rate 1/4 (ONE definition; the SQL twin
    * below must change with it). */
  private def sweepSampleKeep: org.apache.spark.sql.Column =
    pmod(hash60(concat(lit("lbs:"), col("doc_id").cast("string"))), lit(4)) === 0
  private def sweepSampleKeepSql: String =
    s"${hash60Sql("'lbs:' || CAST(doc_id AS VARCHAR)")} % 4 = 0"

  /** The band-geometry sweep body (text_lsh_band_sweep, extracted r12 for
    * the sampled variant): one checkpointed sig pass over `docs`, the
    * exact-Jaccard truth over the same docs, three banded candidate
    * configs scored for recall/precision. */
  private def bandSweepOver(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val sigs = minhashSigs(docs).transform(graft.operators.Scale.materialize)
    val truth = bitmaskJaccardPairs(
        toksOf(docs).select(col("doc_id"), col("source"), col("tok").as("item"))
          .distinct(), threshold = 0.6)
      .select("doc_a", "doc_b").transform(graft.operators.Scale.materialize)
    val nTrue = truth.agg(count(lit(1)).as("n_true"))
    Seq((16, 2), (8, 4), (4, 8)).map { case (nb, r) =>
      val cand = bandCandidates(sigs, nb, r).transform(graft.operators.Scale.materialize)
      val nc = cand.agg(count(lit(1)).as("n_candidates"))
      val nh = cand.join(truth, Seq("doc_a", "doc_b"))
        .agg(count(lit(1)).as("n_hit"))
      nc.crossJoin(broadcast(nh)).crossJoin(broadcast(nTrue))
        .selectExpr(s"$nb AS n_bands", s"$r AS rows_per_band",
          "n_candidates", "n_true", "n_hit",
          s"CASE WHEN n_true > 0 THEN ${r6Sql("CAST(n_hit AS DOUBLE) / CAST(n_true AS DOUBLE)")} END AS recall",
          s"CASE WHEN n_candidates > 0 THEN ${r6Sql("CAST(n_hit AS DOUBLE) / CAST(n_candidates AS DOUBLE)")} END AS prec")
    }.reduce(_ union _).orderBy("rows_per_band")
  }

  val queries: Map[String, Q] = queries1 ++ queries2 ++ queries3 ++ queries4

  /** DuckDB mirror of the full MinHash+LSH pipeline (round-1 VERDICT
    * "What's missing" #2): same sha256-derived 60-bit base hash, same
    * affine family, same 8×4 banding — checks the candidate PAIR SET. */
  /** The shared CTE list (base -> sigs -> buckets -> cpairs) of the
    * MinHash pipeline mirror — reused whole by minhashPairsSql and with a
    * signature join-back by the dedup_minhash_est oracle. */
  /** The bucket-building prefix (base -> sigs -> buckets) alone —
    * shared by the within-source cpairs below AND the cross-source
    * contamination oracle (text_cross_source_dup), which joins the SAME
    * buckets without the source key. */
  /** The base→sigs prefix alone — shared by minhashBucketCtesSql (the
    * shipped 8×4 banding) and the band-geometry sweep oracle, which
    * regroups the SAME 32 signatures into other (bands, rows) shapes. */
  private def minhashSigCtesSql: String = minhashSigCtesSqlFrom("documents")

  /** The same sig prefix over an arbitrary doc source CTE/table —
    * `minhashSigCtesSqlFrom("documents")` generates byte-identical text
    * to the pre-r12 minhashSigCtesSql (the bandBucketsSql refactor
    * precedent); the sampled sweep passes its sample CTE name. */
  private def minhashSigCtesSqlFrom(src: String): String = {
    val sigExprs = (0 until 32).map { i =>
      val (a, b) = minhashAB(i)
      s"list_min(list_transform(hs, h -> ((h % $minhashP) * $a + $b) % $minhashP)) AS h$i"
    }.mkString(", ")
    "base AS (SELECT doc_id, source, " +
      "list_transform(list_distinct(string_split(text, ' ')), " +
      s"t -> ${hash60Sql("t")}) AS hs FROM $src), " +
      s"sigs AS (SELECT doc_id, source, $sigExprs FROM base)"
  }

  /** One (nb × r) banding of the 32-signature frame as a UNION ALL
    * bucket select — nb·r must be ≤ 32. nb=8, r=4 generates the byte-
    * identical text the shipped oracles always interpolated. */
  private def bandBucketsSql(nb: Int, r: Int): String =
    (0 until nb).map { b =>
      val cols = (b * r until b * r + r).map(i => s"h$i").mkString(", ")
      s"SELECT doc_id, source, $b AS band, concat_ws(',', $cols) AS bh FROM sigs"
    }.mkString(" UNION ALL ")

  private def minhashBucketCtesSql: String =
    s"$minhashSigCtesSql, buckets AS (${bandBucketsSql(8, 4)})"

  /** The band-geometry sweep oracle over an arbitrary doc source (r12 —
    * the bandSweepOver twin): the same sig prefix regrouped per config
    * (bandBucketsSql — the 8×4 text is byte-identical to the shipped
    * buckets CTE), the text_near_dup_jaccard truth SQL verbatim, scalar
    * count CTEs. `bandSweepSql("documents")` generates byte-identical
    * text to the pre-r12 inline oracle. */
  private def bandSweepSql(src: String, pre: String = ""): String = {
    val configs = Seq(("a", 16, 2), ("b", 8, 4), ("c", 4, 8))
    val candCtes = configs.map { case (tg, nb, r) =>
      s"bk$tg AS (${bandBucketsSql(nb, r)}), " +
        s"c$tg AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b FROM bk$tg x " +
        s"JOIN bk$tg y ON x.source = y.source AND x.band = y.band AND x.bh = y.bh " +
        "AND x.doc_id < y.doc_id), " +
        s"s$tg AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_candidates FROM c$tg), " +
        s"h$tg AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_hit FROM c$tg JOIN tr USING (doc_a, doc_b))"
    }.mkString(", ")
    val rows = configs.map { case (tg, nb, r) =>
      s"SELECT $nb AS n_bands, $r AS rows_per_band, n_candidates, n_true, n_hit FROM s$tg, tn, h$tg"
    }.mkString(" UNION ALL ")
    s"WITH $pre${minhashSigCtesSqlFrom(src)}, " +
      "t AS (SELECT DISTINCT doc_id, source, tok FROM " +
      s"(SELECT doc_id, source, unnest(string_split(text, ' ')) AS tok FROM $src)), " +
      "tsz AS (SELECT doc_id, COUNT(*) AS nt FROM t GROUP BY 1), " +
      "ip AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter FROM t a " +
      "JOIN t b ON a.tok = b.tok AND a.source = b.source AND a.doc_id < b.doc_id GROUP BY 1,2), " +
      "tr AS (SELECT doc_a, doc_b FROM ip JOIN tsz sa ON sa.doc_id = doc_a " +
      "JOIN tsz sb ON sb.doc_id = doc_b " +
      "WHERE CAST(inter AS DOUBLE)/(sa.nt + sb.nt - inter) >= 0.6), " +
      "tn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_true FROM tr), " +
      candCtes + " " +
      "SELECT n_bands, rows_per_band, n_candidates, n_true, n_hit, " +
      s"CASE WHEN n_true > 0 THEN ${Qutil.r6Sql("CAST(n_hit AS DOUBLE) / CAST(n_true AS DOUBLE)")} END AS recall, " +
      s"CASE WHEN n_candidates > 0 THEN ${Qutil.r6Sql("CAST(n_hit AS DOUBLE) / CAST(n_candidates AS DOUBLE)")} END AS prec " +
      s"FROM ($rows) ORDER BY rows_per_band"
  }

  private def minhashCtesSql: String =
    s"$minhashBucketCtesSql, " +
      "cpairs AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b FROM buckets x " +
      "JOIN buckets y ON x.source = y.source AND x.band = y.band AND x.bh = y.bh " +
      "AND x.doc_id < y.doc_id)"

  private def minhashPairsSql: String =
    s"WITH $minhashCtesSql SELECT doc_a, doc_b FROM cpairs"

  /** Transitive closure over the SAME pair SQL: reach(doc, r) holds every
    * (node, component-member) pair, so MIN(r) per doc is exactly the
    * component-min cluster id Scale.connectedComponents returns. */
  private def clusterOracleSql: String =
    s"WITH RECURSIVE pairs AS ($minhashPairsSql), " +
      "e AS (SELECT doc_a AS u, doc_b AS v FROM pairs " +
      "UNION ALL SELECT doc_b, doc_a FROM pairs), " +
      "reach AS (SELECT doc_id AS doc, doc_id AS r FROM documents " +
      "UNION SELECT e.v AS doc, reach.r AS r FROM reach JOIN e ON e.u = reach.doc), " +
      "c AS (SELECT doc, MIN(r) AS cluster_id FROM reach GROUP BY doc), " +
      "s AS (SELECT cluster_id, COUNT(*) AS csize FROM c GROUP BY 1) " +
      "SELECT c.doc AS doc_id, c.cluster_id, s.csize FROM c " +
      "JOIN s USING (cluster_id) ORDER BY doc_id"

  /** Cluster + per-cluster argmax survivor: the same closure CTEs, joined
    * to the shared quality formula (Text2Queries.qualityScoreSql). */
  private def survivorOracleSql: String =
    s"WITH RECURSIVE pairs AS ($minhashPairsSql), " +
      "e AS (SELECT doc_a AS u, doc_b AS v FROM pairs " +
      "UNION ALL SELECT doc_b, doc_a FROM pairs), " +
      "reach AS (SELECT doc_id AS doc, doc_id AS r FROM documents " +
      "UNION SELECT e.v AS doc, reach.r AS r FROM reach JOIN e ON e.u = reach.doc), " +
      "c AS (SELECT doc, MIN(r) AS cluster_id FROM reach GROUP BY doc), " +
      "q AS (SELECT doc_id, " + Text2Queries.qualityScoreSql + " AS q FROM " +
      "(SELECT doc_id, string_split(text, ' ') AS tk FROM documents)), " +
      "j AS (SELECT c.cluster_id, q.doc_id, q.q FROM c JOIN q ON c.doc = q.doc_id), " +
      "r AS (SELECT *, row_number() OVER (PARTITION BY cluster_id ORDER BY q DESC, doc_id) AS rn, " +
      "COUNT(*) OVER (PARTITION BY cluster_id) AS csize FROM j) " +
      "SELECT cluster_id, doc_id AS survivor, ((CASE WHEN isnan((q)) OR abs((q)) >= 9e12 THEN CAST((q) AS DOUBLE) ELSE CAST(floor((q) * 1e6 + 0.5) AS DOUBLE) / 1e6 END)) AS quality, csize " +
      "FROM r WHERE rn = 1 ORDER BY cluster_id"

  /** Union-graph survivor closure: the same reach/argmax CTEs as
    * survivorOracleSql, with e fed by BOTH mirrored pair generators
    * (minhash pairs + the g CTE from SimQueries.embedBandPairsCteSql). */
  private def unionSurvivorOracleSql: String =
    s"WITH RECURSIVE pairs AS ($minhashPairsSql), " +
      SimQueries.embedBandPairsCteSql + ", " +
      "e AS (SELECT doc_a AS u, doc_b AS v FROM pairs " +
      "UNION ALL SELECT doc_b, doc_a FROM pairs " +
      "UNION ALL SELECT vec_a, vec_b FROM g " +
      "UNION ALL SELECT vec_b, vec_a FROM g), " +
      "reach AS (SELECT doc_id AS doc, doc_id AS r FROM documents " +
      "UNION SELECT e.v AS doc, reach.r AS r FROM reach JOIN e ON e.u = reach.doc), " +
      "c AS (SELECT doc, MIN(r) AS cluster_id FROM reach GROUP BY doc), " +
      "q AS (SELECT doc_id, " + Text2Queries.qualityScoreSql + " AS q FROM " +
      "(SELECT doc_id, string_split(text, ' ') AS tk FROM documents)), " +
      "j AS (SELECT c.cluster_id, q.doc_id, q.q FROM c JOIN q ON c.doc = q.doc_id), " +
      "r AS (SELECT *, row_number() OVER (PARTITION BY cluster_id ORDER BY q DESC, doc_id) AS rn, " +
      "COUNT(*) OVER (PARTITION BY cluster_id) AS csize FROM j) " +
      "SELECT cluster_id, doc_id AS survivor, ((CASE WHEN isnan((q)) OR abs((q)) >= 9e12 THEN CAST((q) AS DOUBLE) ELSE CAST(floor((q) * 1e6 + 0.5) AS DOUBLE) / 1e6 END)) AS quality, csize " +
      "FROM r WHERE rn = 1 ORDER BY cluster_id"

  val oracle: Map[String, String] = Map(
    "text_cms_sketch" ->
      // the identical salted hash60 % width bucket rule ('cms<r>:' salt
      // built from the grid row), the same 4×64 grid, the same min-probe
      ("WITH tk AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents), " +
       "rg AS (SELECT unnest([0, 1, 2, 3]) AS r), " +
       "rb AS (SELECT tok, r, " +
       s"CAST(${hash60Sql("'cms' || CAST(r AS VARCHAR) || ':' || tok")} % 64 AS INT) AS b " +
       "FROM tk CROSS JOIN rg), " +
       "cells AS (SELECT r, b, CAST(COUNT(*) AS BIGINT) AS cnt FROM rb GROUP BY 1, 2), " +
       "vocab AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS n_true FROM tk GROUP BY 1), " +
       "pr AS (SELECT v.tok, v.n_true, g.r, " +
       s"CAST(${hash60Sql("'cms' || CAST(g.r AS VARCHAR) || ':' || v.tok")} % 64 AS INT) AS b " +
       "FROM vocab v CROSS JOIN rg g), " +
       "e AS (SELECT pr.tok, pr.n_true, MIN(c.cnt) AS n_est FROM pr " +
       "JOIN cells c ON pr.r = c.r AND pr.b = c.b GROUP BY 1, 2) " +
       "SELECT tok, n_true, n_est, n_est - n_true AS overcount FROM e ORDER BY tok"),
    "text_cms_sweep" ->
      // same hash stream at each width (the grid via a widths×rows
      // CROSS JOIN), same min-probe, per-width error rollup
      ("WITH tk AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents), " +
       "wg AS (SELECT unnest([16, 64, 256]) AS w), " +
       "rg AS (SELECT unnest([0, 1, 2, 3]) AS r), " +
       "rb AS (SELECT tok, w, r, " +
       s"CAST(${hash60Sql("'cms' || CAST(r AS VARCHAR) || ':' || tok")} % w AS INT) AS b " +
       "FROM tk CROSS JOIN wg CROSS JOIN rg), " +
       "cells AS (SELECT w, r, b, CAST(COUNT(*) AS BIGINT) AS cnt FROM rb GROUP BY 1, 2, 3), " +
       "vocab AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS n_true FROM tk GROUP BY 1), " +
       "pr AS (SELECT v.tok, v.n_true, gw.w AS w, gr.r AS r, " +
       s"CAST(${hash60Sql("'cms' || CAST(gr.r AS VARCHAR) || ':' || v.tok")} % gw.w AS INT) AS b " +
       "FROM vocab v CROSS JOIN wg gw CROSS JOIN rg gr), " +
       "e AS (SELECT pr.tok, pr.n_true, pr.w, MIN(c.cnt) AS n_est FROM pr " +
       "JOIN cells c ON pr.w = c.w AND pr.r = c.r AND pr.b = c.b GROUP BY 1, 2, 3) " +
       "SELECT CAST(w AS BIGINT) AS width, CAST(COUNT(*) AS BIGINT) AS n_terms, " +
       "CAST(SUM(CASE WHEN n_est = n_true THEN 1 ELSE 0 END) AS BIGINT) AS n_exact, " +
       "CAST(SUM(n_est - n_true) AS BIGINT) AS total_overcount, " +
       "MAX(n_est - n_true) AS max_overcount " +
       "FROM e GROUP BY 1 ORDER BY width"),
    "text_cross_source_dup" ->
      // the shared bucket prefix, the identical <= 50 stop-bucket
      // filter, then the source-free join
      (s"WITH $minhashBucketCtesSql, " +
       "bs AS (SELECT band, bh FROM buckets GROUP BY 1, 2 HAVING COUNT(*) <= 50), " +
       "bk AS (SELECT doc_id, source, b.band, b.bh FROM buckets b JOIN bs " +
       "ON b.band = bs.band AND b.bh = bs.bh), " +
       "xp AS (SELECT DISTINCT x.source AS source_a, y.source AS source_b, " +
       "x.doc_id AS doc_a, y.doc_id AS doc_b FROM bk x " +
       "JOIN bk y ON x.band = y.band AND x.bh = y.bh AND x.source < y.source) " +
       "SELECT source_a, source_b, CAST(COUNT(*) AS BIGINT) AS n_pairs, " +
       "CAST(COUNT(DISTINCT doc_a) AS BIGINT) AS n_docs_a, " +
       "CAST(COUNT(DISTINCT doc_b) AS BIGINT) AS n_docs_b " +
       "FROM xp GROUP BY 1, 2 ORDER BY 1, 2"),
    "text_dedup_funnel" ->
      // the same mirrored pair CTEs + recursive closure, stage counts
      // composed in one emission
      (s"WITH RECURSIVE pairs AS ($minhashPairsSql), " +
       "e AS (SELECT doc_a AS u, doc_b AS v FROM pairs " +
       "UNION ALL SELECT doc_b, doc_a FROM pairs), " +
       "reach AS (SELECT doc_id AS doc, doc_id AS r FROM documents " +
       "UNION SELECT e.v AS doc, reach.r AS r FROM reach JOIN e ON e.u = reach.doc), " +
       "c AS (SELECT doc, MIN(r) AS cluster_id FROM reach GROUP BY doc), " +
       "cs AS (SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS csize FROM c GROUP BY 1), " +
       "n1 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents), " +
       "n2 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_exact_unique FROM " +
       "(SELECT DISTINCT sha256(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g')) FROM documents)), " +
       "n3 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_candidate_pairs FROM pairs), " +
       "n4 AS (SELECT CAST(SUM(CASE WHEN csize > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_multi_clusters, " +
       "CAST(SUM(CASE WHEN csize > 1 THEN csize ELSE 0 END) AS BIGINT) AS n_docs_in_multi, " +
       "CAST(COUNT(*) AS BIGINT) AS n_after_neardup FROM cs) " +
       "SELECT n_docs, n_exact_unique, n_candidate_pairs, n_multi_clusters, " +
       "n_docs_in_multi, n_after_neardup FROM n1 CROSS JOIN n2 CROSS JOIN n3 CROSS JOIN n4"),
    "dedup_minhash_est" -> {
      val agreeSql = (0 until 32)
        .map(i => s"(CASE WHEN a.h$i = b.h$i THEN 1 ELSE 0 END)").mkString(" + ")
      s"WITH $minhashCtesSql " +
        s"SELECT doc_a, doc_b, n_agree, CAST(n_agree AS DOUBLE) / 32.0 AS est_jaccard " +
        s"FROM (SELECT p.doc_a, p.doc_b, CAST($agreeSql AS INT) AS n_agree " +
        "FROM cpairs p JOIN sigs a ON a.doc_id = p.doc_a " +
        "JOIN sigs b ON b.doc_id = p.doc_b) ORDER BY doc_a, doc_b"
    },
    "dedup_semantic_union" -> unionSurvivorOracleSql,
    "dedup_est_calibration" -> {
      // same cpairs + sig join-back agreement, truth restricted to the
      // candidate set (LEFT join — zero-shared-token candidates exist in
      // principle), µ-unit quantization, SUM cast back from HUGEINT
      // (the r4 rule), the shared calMeanF emission
      val agreeSql = (0 until 32)
        .map(i => s"(CASE WHEN a.h$i = b.h$i THEN 1 ELSE 0 END)").mkString(" + ")
      s"WITH $minhashCtesSql, " +
        "t2 AS (SELECT DISTINCT doc_id, tok FROM " +
        "(SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)), " +
        "sz AS (SELECT doc_id, COUNT(*) AS nt FROM t2 GROUP BY 1), " +
        "iv AS (SELECT p.doc_a, p.doc_b, COUNT(*) AS inter FROM cpairs p " +
        "JOIN t2 a ON a.doc_id = p.doc_a JOIN t2 b ON b.doc_id = p.doc_b AND b.tok = a.tok " +
        "GROUP BY 1, 2), " +
        "jj AS (SELECT p.doc_a, p.doc_b, " +
        "CAST(FLOOR((CAST(COALESCE(inter, 0) AS DOUBLE) / " +
        "(sa.nt + sb.nt - COALESCE(inter, 0))) * 1e6 + 0.5) AS BIGINT) AS jq " +
        "FROM cpairs p LEFT JOIN iv ON iv.doc_a = p.doc_a AND iv.doc_b = p.doc_b " +
        "JOIN sz sa ON sa.doc_id = p.doc_a JOIN sz sb ON sb.doc_id = p.doc_b), " +
        s"ag AS (SELECT p.doc_a, p.doc_b, CAST($agreeSql AS INT) AS n_agree " +
        "FROM cpairs p JOIN sigs a ON a.doc_id = p.doc_a JOIN sigs b ON b.doc_id = p.doc_b), " +
        "m AS (SELECT n_agree, CAST(COUNT(*) AS BIGINT) AS n_pairs, " +
        "CAST(SUM(jq) AS BIGINT) AS sjq, " +
        "CAST(SUM(abs(n_agree * 31250 - jq)) AS BIGINT) AS serr " +
        "FROM ag JOIN jj USING (doc_a, doc_b) GROUP BY 1) " +
        "SELECT n_agree, CAST(n_agree AS DOUBLE) / 32.0 AS est_jaccard, n_pairs, " +
        s"${calMeanF("sjq")} AS mean_jaccard, ${calMeanF("serr")} AS mean_abs_err " +
        "FROM m ORDER BY n_agree"
    },
    "text_minhash_lsh" -> (minhashPairsSql + " ORDER BY doc_a, doc_b"),
    "text_lsh_band_sweep" -> bandSweepSql("documents"),
    "text_lsh_band_sweep_sampled" ->
      // the identical sweep SQL over the sample CTE the shared selector
      // predicate defines (sweepSampleKeepSql — the hash60 mirror)
      bandSweepSql("sdocs",
        pre = s"sdocs AS (SELECT * FROM documents WHERE $sweepSampleKeepSql), "),
    "text_dedup_incremental" ->
      // the shared bucket CTEs, the same watermark split off one
      // bounds row, the same delta×earlier bucket join (// == DIV on
      // nonnegative ids; SUM/COALESCE cast per the r6d rule)
      (s"WITH $minhashBucketCtesSql, " +
       "bd AS (SELECT MIN(doc_id) AS mn, MAX(doc_id) AS mx FROM documents), " +
       "bw AS (SELECT b.doc_id, b.source, b.band, b.bh, " +
       s"b.doc_id > $deltaWatermarkSql AS is_delta FROM buckets b CROSS JOIN bd), " +
       "prs AS (SELECT DISTINCT x.doc_id AS doc_id, y.doc_id AS m_id, y.is_delta AS m_delta " +
       "FROM bw x JOIN bw y ON x.source = y.source AND x.band = y.band AND x.bh = y.bh " +
       "AND y.doc_id < x.doc_id WHERE x.is_delta), " +
       "per AS (SELECT doc_id, " +
       "CAST(SUM(CASE WHEN NOT m_delta THEN 1 ELSE 0 END) AS BIGINT) AS n_base_matches, " +
       "CAST(SUM(CASE WHEN m_delta THEN 1 ELSE 0 END) AS BIGINT) AS n_prior_delta_matches " +
       "FROM prs GROUP BY 1), " +
       "dd AS (SELECT doc_id, source FROM documents CROSS JOIN bd " +
       s"WHERE doc_id > $deltaWatermarkSql) " +
       "SELECT dd.doc_id, dd.source, " +
       "COALESCE(n_base_matches, CAST(0 AS BIGINT)) AS n_base_matches, " +
       "COALESCE(n_prior_delta_matches, CAST(0 AS BIGINT)) AS n_prior_delta_matches, " +
       "COALESCE(n_base_matches, CAST(0 AS BIGINT)) + " +
       "COALESCE(n_prior_delta_matches, CAST(0 AS BIGINT)) = 0 AS keep " +
       "FROM dd LEFT JOIN per USING (doc_id) ORDER BY doc_id"),
    "text_dedup_by_source" ->
      (s"WITH pairs AS ($minhashPairsSql), " +
       "b AS (SELECT source, COUNT(*) AS n_docs, " +
       "COUNT(DISTINCT sha256(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'))) AS n_unique " +
       "FROM documents GROUP BY 1), " +
       "m AS (SELECT DISTINCT doc_id FROM " +
       "(SELECT doc_a AS doc_id FROM pairs UNION ALL SELECT doc_b FROM pairs)), " +
       "nd AS (SELECT d.source, COUNT(*) AS n_neardup_docs FROM m " +
       "JOIN documents d ON m.doc_id = d.doc_id GROUP BY 1) " +
       "SELECT b.source, n_docs, CAST(n_unique AS BIGINT) AS n_unique, " +
       "n_docs - n_unique AS n_exact_dup, " +
       "COALESCE(n_neardup_docs, CAST(0 AS BIGINT)) AS n_neardup_docs " +
       "FROM b LEFT JOIN nd ON b.source = nd.source ORDER BY b.source"),
    "dedup_cluster_cc" -> clusterOracleSql,
    // the SAME closure again: a green row proves the scratch-parquet
    // materialization mode reproduces the localCheckpoint-mode result
    // cell-for-cell inside the driver contract (r14 seam-in-contract)
    "dedup_cluster_scratch" -> clusterOracleSql,
    // the SAME full-rescan closure: a green row proves the incremental
    // contraction path reproduces the full recompute cell-for-cell
    "dedup_cluster_incremental" -> clusterOracleSql,
    // the persisted-label resume must equal the same full rescan — the
    // green row is the IVM proof transferred to the deployment shape
    "dedup_cluster_persisted" -> clusterOracleSql,
    "text_dedup_cluster_survivor" -> survivorOracleSql,
    "text_stats" ->
      ("SELECT lang, COUNT(*) AS n_docs, " +
       "((CASE WHEN isnan((CAST(SUM(n_chars) AS DOUBLE)/COUNT(*))) OR abs((CAST(SUM(n_chars) AS DOUBLE)/COUNT(*))) >= 9e12 THEN CAST((CAST(SUM(n_chars) AS DOUBLE)/COUNT(*)) AS DOUBLE) ELSE CAST(floor((CAST(SUM(n_chars) AS DOUBLE)/COUNT(*)) * 1e6 + 0.5) AS DOUBLE) / 1e6 END)) AS avg_chars, " +
       "((CASE WHEN isnan((CAST(SUM(len(string_split(text, ' '))) AS DOUBLE)/COUNT(*))) OR abs((CAST(SUM(len(string_split(text, ' '))) AS DOUBLE)/COUNT(*))) >= 9e12 THEN CAST((CAST(SUM(len(string_split(text, ' '))) AS DOUBLE)/COUNT(*)) AS DOUBLE) ELSE CAST(floor((CAST(SUM(len(string_split(text, ' '))) AS DOUBLE)/COUNT(*)) * 1e6 + 0.5) AS DOUBLE) / 1e6 END)) AS avg_tokens, " +
       "COUNT(DISTINCT source) AS n_sources FROM documents GROUP BY 1 ORDER BY 1"),
    "text_normalize_dedup_exact" ->
      ("WITH n AS (SELECT doc_id, lang, " +
       "sha256(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g')) AS h FROM documents) " +
       "SELECT doc_id, lang, h FROM n WHERE doc_id IN (SELECT MIN(doc_id) FROM n GROUP BY h) " +
       "ORDER BY doc_id"),
    "text_ngram_novelty" ->
      // shared trigram mirror, keyed MIN first-introducer, instance-
      // grain join-back, doc-grain left-join re-entry, shared formula
      ("WITH b AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents), " +
       s"t AS (SELECT doc_id, unnest(${Qutil.trigramsSqlOf("tk")}) AS sh FROM b), " +
       "f AS (SELECT sh, MIN(doc_id) AS fd FROM t GROUP BY 1), " +
       "a AS (SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tri, " +
       "CAST(SUM(CASE WHEN fd = t.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel " +
       "FROM t JOIN f USING (sh) GROUP BY 1), " +
       "c AS (SELECT d.doc_id, CAST(COALESCE(n_tri, 0) AS BIGINT) AS nt_c, " +
       "CAST(COALESCE(n_novel, 0) AS BIGINT) AS nv_c " +
       "FROM documents d LEFT JOIN a ON d.doc_id = a.doc_id) " +
       "SELECT doc_id, nt_c AS n_tri, nv_c AS n_novel, " +
       s"${r6Sql(noveltyFormula)} AS novelty FROM c ORDER BY doc_id"),
    "text_dedup_bag" ->
      // list_sort == array_sort on ASCII-only normalized tokens (binary
      // order both engines); array_to_string == concat_ws (no NULLs can
      // occur, empties kept by both); COUNT(DISTINCT) BIGINT-cast
      ("WITH b AS (SELECT source, " +
       "sha256(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g')) AS eh, " +
       "sha256(array_to_string(list_sort(string_split(" +
       "regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' ')), ' ')) AS bh " +
       "FROM documents) " +
       "SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs, " +
       "CAST(COUNT(DISTINCT eh) AS BIGINT) AS n_exact_unique, " +
       "CAST(COUNT(DISTINCT bh) AS BIGINT) AS n_bag_unique, " +
       "CAST(COUNT(*) - COUNT(DISTINCT eh) AS BIGINT) AS n_exact_dup_rows, " +
       "CAST(COUNT(DISTINCT eh) - COUNT(DISTINCT bh) AS BIGINT) AS n_reorder_only " +
       "FROM b GROUP BY 1 ORDER BY source"),
    "text_near_dup_jaccard" ->
      ("WITH t AS (SELECT DISTINCT doc_id, source, tok FROM " +
       "(SELECT doc_id, source, unnest(string_split(text, ' ')) AS tok FROM documents)), " +
       "sizes AS (SELECT doc_id, COUNT(*) AS nt FROM t GROUP BY 1), " +
       "pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter FROM t a " +
       "JOIN t b ON a.tok = b.tok AND a.source = b.source AND a.doc_id < b.doc_id GROUP BY 1,2) " +
       "SELECT doc_a, doc_b, ((CASE WHEN isnan((CAST(inter AS DOUBLE)/(sa.nt + sb.nt - inter))) OR abs((CAST(inter AS DOUBLE)/(sa.nt + sb.nt - inter))) >= 9e12 THEN CAST((CAST(inter AS DOUBLE)/(sa.nt + sb.nt - inter)) AS DOUBLE) ELSE CAST(floor((CAST(inter AS DOUBLE)/(sa.nt + sb.nt - inter)) * 1e6 + 0.5) AS DOUBLE) / 1e6 END)) AS jaccard " +
       "FROM pairs JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b " +
       "WHERE CAST(inter AS DOUBLE)/(sa.nt + sb.nt - inter) >= 0.6 ORDER BY doc_a, doc_b"),
    "text_near_dup_ngram" ->
      ("WITH t AS (SELECT DISTINCT doc_id, source, bg FROM (" +
       "SELECT doc_id, source, unnest(" + bigramsSqlOf("string_split(text, ' ')") + ") AS bg FROM documents)), " +
       "sizes AS (SELECT doc_id, COUNT(*) AS nt FROM t GROUP BY 1), " +
       "pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter FROM t a " +
       "JOIN t b ON a.bg = b.bg AND a.source = b.source AND a.doc_id < b.doc_id " +
       "GROUP BY 1,2) " +
       "SELECT doc_a, doc_b, ((CASE WHEN isnan((CAST(inter AS DOUBLE)/(sa.nt + sb.nt - inter))) OR abs((CAST(inter AS DOUBLE)/(sa.nt + sb.nt - inter))) >= 9e12 THEN CAST((CAST(inter AS DOUBLE)/(sa.nt + sb.nt - inter)) AS DOUBLE) ELSE CAST(floor((CAST(inter AS DOUBLE)/(sa.nt + sb.nt - inter)) * 1e6 + 0.5) AS DOUBLE) / 1e6 END)) AS jaccard " +
       "FROM pairs JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b " +
       "WHERE CAST(inter AS DOUBLE)/(sa.nt + sb.nt - inter) >= 0.1 ORDER BY doc_a, doc_b"),
    "text_tfidf_topterms" ->
      ("WITH t AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS term FROM documents), " +
       "tf AS (SELECT lang, term, COUNT(*) AS tf FROM t GROUP BY 1,2), " +
       "dfreq AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM t GROUP BY 1), " +
       "nd AS (SELECT COUNT(*) AS ndocs FROM documents), " +
       "sc AS (SELECT lang, term, tf * ln(CAST(ndocs AS DOUBLE)/df) AS score " +
       "FROM tf JOIN dfreq USING (term) CROSS JOIN nd), " +
       "r AS (SELECT lang, term, score, row_number() OVER (PARTITION BY lang ORDER BY score DESC, term) AS rnk FROM sc) " +
       "SELECT lang, CAST(rnk AS INT) AS rnk, term, ((CASE WHEN isnan((score)) OR abs((score)) >= 9e12 THEN CAST((score) AS DOUBLE) ELSE CAST(floor((score) * 1e6 + 0.5) AS DOUBLE) / 1e6 END)) AS score FROM r " +
       "WHERE rnk <= 5 ORDER BY lang, rnk"),
    "text_ngrams" ->
      ("SELECT bigram, COUNT(*) AS cnt FROM (SELECT unnest(" +
       bigramsSqlOf("string_split(text, ' ')") + ") AS bigram " +
       "FROM documents) GROUP BY 1 ORDER BY cnt DESC, bigram LIMIT 20")
  )
}
