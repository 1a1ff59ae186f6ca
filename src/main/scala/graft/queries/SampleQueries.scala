package graft.queries

import graft.Tables
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import Qutil._

/** SURVEY §2.12 additions (round 3) — deterministic sampling / data-mixing
  * operators a training-data pipeline runs at corpus-assembly time:
  * stratified per-source rate sampling, leakage-safe train/valid/test
  * splits, and per-source capping.
  *
  * Every selection decision is a pure function of a PORTABLE salted hash
  * (top 60 bits of sha256 — the text_minhash_lsh base hash), never
  * rand()/TABLESAMPLE: (a) re-runs and incremental backfills pick
  * IDENTICAL rows on any engine — the property that matters when a 100 TB
  * corpus is rebuilt in pieces; (b) membership of a doc never depends on
  * which other docs are present (no reservoir state), so the op is
  * map-side and embarrassingly parallel; (c) all three queries are fully
  * DuckDB-oracle-checked. Only sample_cap_per_source shuffles (one window
  * keyed by `source`, where WindowGroupLimit prunes to K per group). */
object SampleQueries {

  /** Salted selector over Qutil.hash60 — the ONE portable hash definition
    * shared with MinHash/SimHash; the salt namespaces each decision.
    * private[graft]: the streaming budget sampler stamps the SAME order
    * key so stream admission can reproduce batch selection. */
  private[graft] def phash(c: org.apache.spark.sql.Column, salt: String) =
    hash60(concat(lit(salt), c.cast(StringType)))

  /** The token-budget selection constants/columns, shared by the batch
    * query and streaming.BudgetProcessor (one definition or the two
    * dialects silently drift). */
  private[graft] val tokenBudget = 800L
  private[graft] def tokenCount(text: org.apache.spark.sql.Column) =
    size(split(text, " ")).cast(IntegerType)
  private[graft] def budgetOrderKey(docId: org.apache.spark.sql.Column) =
    phash(docId, "budget:")

  private def phashSql(expr: String, salt: String) =
    hash60Sql(s"'$salt' || CAST($expr AS VARCHAR)")

  /** The deterministic-reservoir order key — ONE definition shared by
    * streaming.ReservoirProcessor's stream builder and its parity
    * recompute (the tokenBudget precedent: stream and batch can never
    * drift on what "smallest hash" means). */
  private[graft] def reservoirKey(docId: org.apache.spark.sql.Column) =
    phash(docId, "reservoir:")

  /** The overlapping token-window chunk frame (size 8, stride 4) —
    * ONE definition shared by text_chunk (the declared chunker) and
    * text_boilerplate_census (the cross-doc chunk-frequency census):
    * window starts run 0..len-(size-stride)-1 so the LAST window is the
    * minimal one whose tail reaches the final token (stopping at len-1
    * would emit a trailing chunk fully contained in its predecessor).
    * Row-local HOFs, unfiltered and unordered — consumers apply their
    * own length filter / presentation sort. */
  private def chunkFrame(s: org.apache.spark.sql.SparkSession, d: String) =
    chunkFrameOf(Tables.documents(s, d))

  /** The chunker over an arbitrary (doc_id, text) frame — private[graft]
    * so SampleSpec can pin the SHORT-DOC boundary on planted docs (r14,
    * the r13 verdict's #5b): a doc of <= 8 tokens emits EXACTLY ONE
    * (short) chunk covering the whole text (the greatest(..., 0) floor
    * keeps the start sequence nonempty), and the 9-token doc is the
    * first to emit two. A future size/stride change that flips this
    * boundary fails the pin instead of silently re-chunking the
    * corpus. */
  private[graft] def chunkFrameOf(docs: org.apache.spark.sql.DataFrame) = {
    val size8 = 8
    val stride = 4
    docs
      .select(col("doc_id"), split(col("text"), " ").as("tk"))
      .select(col("doc_id"), explode(transform(
        sequence(lit(0),
          greatest(size(col("tk")) - (size8 - stride) - 1, lit(0)), lit(stride)),
        i => struct((i / stride).cast(IntegerType).as("chunk_id"),
          concat_ws(" ", slice(col("tk"), i + 1, lit(size8))).as("chunk")))).as("c"))
      .select(col("doc_id"), col("c.chunk_id").as("chunk_id"), col("c.chunk").as("chunk"))
  }

  /** chunkFrame's DuckDB mirror — the b/s/c CTE chain, ONE definition
    * for the text_chunk and text_boilerplate_census oracles (range stop
    * is EXCLUSIVE where Spark sequence is inclusive: bound+1). A def
    * (init-order rule). */
  private def chunkCtesSql: String =
    "b AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents), " +
      "s AS (SELECT doc_id, tk, unnest(range(0, GREATEST(len(tk) - 5, 0) + 1, 4)) AS st FROM b), " +
      "c AS (SELECT doc_id, CAST(st // 4 AS INT) AS chunk_id, " +
      "array_to_string(tk[st+1:st+8], ' ') AS chunk FROM s)"

  /** Boilerplate share emission — shared verbatim by the census query
    * and its oracle (both sides read the possibly-NULL left-join
    * columns; one division, r6). A def (init-order rule). */
  private def boilerShareFormula: String =
    "CASE WHEN COALESCE(n_chunks, 0) > 0 THEN " +
      Qutil.r6Sql("CAST(n_boiler AS DOUBLE) / CAST(n_chunks AS DOUBLE)") +
      " ELSE CAST(0 AS DOUBLE) END"

  /** The split assignment as a reusable column expression — stateless and
    * row-local, so the SAME dialect runs on a batch table or a readStream
    * (splits get assigned at land time on each Airflow-tick increment;
    * StreamingSpec asserts batch/stream parity). */
  def splitCol(docId: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val bucket = pmod(phash(docId, "split:"), lit(100))
    when(bucket < 80, "train").when(bucket < 90, "valid").otherwise("test")
  }

  /** The decontamination shingle frame — ONE definition for the
    * doc-grain leakage list (text_decontaminate) and its source-grain
    * census (text_contamination_census): split membership from the
    * shared splitCol hash, 5-gram shingles as row-local HOFs
    * (map-side; the length(sh) > 0 filter drops the sub-5-token
    * degenerates). The two queries join/aggregate this one frame, so
    * "which shingle leaks" can never drift between them. */
  private def decontShingled(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    decontShingledOf(Tables.documents(s, d))

  /** Frame-parameterized core (private[graft] so PropertySpec can feed
    * a planted short-doc corpus — the sequence(1, 0) guard below is
    * unreachable on the fixtures). */
  private[graft] def decontShingledOf(
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    // r15: tk must be an ALIASED column, not the raw split() expression —
    // a lambda body that captures the raw expression re-evaluates the
    // split per element (one split per shingle position; ~60×/doc),
    // while an attribute reference reads the materialized array value.
    // Multi-use non-extract references keep CollapseProject from
    // re-inlining the alias (the sigBuckets boundary rule).
    val tk = col("__tk")
    // shingles ride with their 1-based start position (r9c: the
    // scrubber needs WHERE a leak sits, not just that one exists; the
    // census/list consumers simply drop the column).
    // Short-doc guard (r9c review): Spark sequence(1, 0) is the
    // DESCENDING [1, 0] (default step -1), so a <= 4-token doc would
    // evaluate slice(tk, 0, 5) and THROW — the ascending-or-empty
    // domain is sequence(1, max(bound, 1)) filtered back to <= bound
    // (empty for short docs, matching DuckDB's empty
    // generate_series(1, 0)).
    val shBound = size(tk) - 4
    val sh5 = transform(
      filter(sequence(lit(1), greatest(shBound, lit(1))), i => i <= shBound),
      i => struct(i.as("pos"), concat_ws(" ", slice(tk, i, lit(5))).as("sh")))
    docs
      .withColumn("split", splitCol(col("doc_id")))
      .select(col("doc_id"), col("source"), col("split"),
        split(col("text"), " ").as("__tk"))
      .select(col("doc_id"), col("source"), col("split"), explode(sh5).as("u"))
      .select(col("doc_id"), col("source"), col("split"),
        col("u.pos").as("pos"), col("u.sh").as("sh"))
      .where(length(col("sh")) > 0)
  }

  /** Poisson(1) inverse-CDF thresholds on the 60-bit hash range —
    * floor(CDF(k) * 2^60) for k = 0..5 (multiplicity caps at 6; the
    * tail past the cap is P ≈ 8e-5, identically truncated on both
    * engines). Derived ONCE in Scala and interpolated into query AND
    * oracle (the aaWeights pattern), so the double precision of the
    * derivation is irrelevant to parity. */
  private[graft] val poissonThresholds: Seq[Long] = {
    val e1 = math.exp(-1.0)
    def fact(k: Int): Double = (1 to k).product.toDouble
    val cdf = (0 to 5).map(k => (0 to k).map(i => e1 / fact(i)).sum)
    cdf.map(c => math.floor(c * math.pow(2.0, 60)).toLong)
  }

  /** The multiplicity CASE over a 60-bit hash column — shared formula
    * string (same literals, same comparison order, both dialects). */
  private[graft] def poissonKSql(h: String): String =
    poissonThresholds.zipWithIndex
      .map { case (t, k) => s"WHEN $h < $t THEN $k" }
      .mkString("CASE ", " ", " ELSE 6 END")

  private val nBoot = 8

  val queries: Map[String, Q] = Map(
    // Curriculum schedule (r11) — the quality-ordered training phases a
    // curriculum-learning run feeds in order (easy/high-quality first):
    // every doc gets the SHARED composite quality score
    // (Text2Queries.qualityCols — the one scoring definition survivor
    // dedup and text_quality already rank with), a global DESCENDING
    // rank via Scale.globalRank on the unique (-q, doc_id) order (the
    // agg_pareto shape — distributed two-pass, never a partitionless
    // window), and phase = ((rnk−1)·3) DIV n (integer both engines, the
    // agg_percentile_disc position rule). Emission per phase: doc count,
    // token mass (exact BIGINT), and the quality range at r6 — the
    // schedule table plus the boundary qualities a phase switch
    // triggers on. Cross-engine ordering is safe because the score is
    // fixed-order IEEE over exact integer ratios (bit-identical both
    // engines — the established survivor-argmax precedent).
    "sample_curriculum" -> ((s, d) => {
      val (nTok, _, _, _, _, score) = Text2Queries.qualityCols(col("text"))
      val scored = Tables.documents(s, d)
        .select(col("doc_id"), nTok.cast(LongType).as("n_tokens"), score.as("q"))
        .withColumn("negq", -col("q"))
      val ranked = graft.operators.Scale.globalRank(
        scored, 8, "rnk", "nn", col("negq"), col("doc_id"))
      ranked
        .selectExpr("CAST(((rnk - 1) * 3) DIV nn AS INT) AS phase", "n_tokens", "q")
        .groupBy("phase")
        .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("n_tokens"),
          min("q").as("mn_q"), max("q").as("mx_q"))
        .selectExpr("phase", "n_docs", "n_tokens",
          s"${r6Sql("mn_q")} AS min_quality", s"${r6Sql("mx_q")} AS max_quality")
        .orderBy("phase")
    }),

    // Poisson bootstrap CI (r6f) — the SCALABLE bootstrap: instead of
    // materializing B resamples, each row draws a Poisson(1)
    // multiplicity per replicate from the salted hash of (replicate,
    // key), so ALL B weighted partial aggregates compute in ONE pass,
    // map-side combined (the Chamandy/Google "Poisson bootstrap"
    // estimator — at 100 TB a multinomial resample would need the row
    // count up front and a global shuffle per replicate; this needs
    // neither). Determinism: multiplicity is inverse-CDF over the
    // portable 60-bit hash against Scala-derived integer thresholds —
    // zero engine randomness, identical resamples on any engine, any
    // partitioning, any rebuild. The weighted sums are exact integer
    // cents; one fixed division lands the replicate mean, and the CI is
    // the min/max envelope over the bounded 8-row replicate frame.
    "sample_bootstrap_ci" -> ((s, d) => {
      val rows = Tables.orders(s, d)
        .select(col("o_orderkey").as("key"),
          expr("CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)").as("cents"))
        .select(col("key"), col("cents"),
          explode(typedlit((0L until nBoot.toLong))).as("b"))
        .withColumn("h", phash(concat(col("b").cast(StringType), lit("|"),
          col("key").cast(StringType)), "boot:"))
        .selectExpr("b", "cents", s"${poissonKSql("h")} AS k")
      val means = rows.groupBy("b")
        .agg(sum(col("k")).as("n_eff"), sum(col("k") * col("cents")).as("wsum"))
        .selectExpr("b", "n_eff", s"$bootMeanSql AS mean_price")
      val bounds = means.agg(min("mean_price").as("ci_lo"), max("mean_price").as("ci_hi"))
      means.crossJoin(broadcast(bounds))
        .select(col("b"), col("n_eff"), col("mean_price"), col("ci_lo"), col("ci_hi"))
        .orderBy("b")
    }),
    // Stratified data mixing: per-source keep-rates in basis points
    // (curated src0-4 kept whole, mid-tier half, tail 10%). The rate table
    // is a policy CASE here; in production it would broadcast-join a tiny
    // rates dim — either way selection is hash < rate, map-side, no state.
    "sample_stratified" -> ((s, d) => {
      // unbounded tail substring, textually aligned with the oracle's
      // substring(source, 4) — a length-capped Spark side would silently
      // diverge on source ids longer than the cap (r3 advice)
      val srcNum = expr("substring(source, 4)").cast(IntegerType)
      val rateBp = when(srcNum < 5, 10000).when(srcNum < 13, 5000).otherwise(1000)
      Tables.documents(s, d)
        .withColumn("rate_bp", rateBp)
        .where(pmod(phash(col("doc_id"), "mix:"), lit(10000)) < col("rate_bp"))
        .select(col("doc_id"), col("source"), col("lang"), col("rate_bp"))
        .orderBy("doc_id")
    }),

    // Deterministic fractional UP-sampling (r13) — the EXECUTION twin of
    // sample_epoch_plan: the plan reports integer epochs + a remainder
    // per source, while this emits the actual per-copy rows, with the
    // fractional epoch realized per-doc by salted hash instead of a
    // remainder bucket. Every prior sampler only DOWN-selects; a real
    // training mix also repeats scarce domains (epochs > 1). Per
    // source a rational epoch factor in basis points (policy CASE —
    // the sample_stratified tiering INVERTED: the curated head runs one
    // epoch, the scarce tail 2.5); each doc emits floor(epochs) copies
    // plus one more iff its salted hash falls under the fractional part
    // — so per-source totals land deterministically inside the
    // [floor(e)·n, ceil(e)·n] band (the hash draw concentrates near
    // e·n but is NOT guaranteed within one doc of it — SampleSpec pins
    // exactly the band, nothing tighter), and the SAME doc gets the
    // extra copy on every run/engine (the portable salted-hash
    // selection rule). Emission is one row per
    // copy with its copy_id — the frame a sequence-packer consumes.
    // Scale shape: policy + hash + explode are all row-local (the
    // explode multiplies rows by <= ceil(epochs), never corpus²); no
    // shuffle before the presentation sort. copy_id arithmetic is all
    // integer; nothing to round, nothing to drift.
    "sample_epoch_repeat" -> ((s, d) => {
      val srcNum = expr("substring(source, 4)").cast(IntegerType)
      val epochsBp = when(srcNum < 5, 10000).when(srcNum < 13, 15000)
        .otherwise(25000)
      Tables.documents(s, d)
        .withColumn("epochs_bp", epochsBp)
        .withColumn("n_copies",
          expr("CAST(epochs_bp DIV 10000 AS BIGINT)") +
            when(pmod(phash(col("doc_id"), "epoch:"), lit(10000)) <
              col("epochs_bp") % 10000, lit(1L)).otherwise(lit(0L)))
        .select(col("doc_id"), col("source"), col("epochs_bp"),
          col("n_copies"),
          explode(expr("sequence(0L, n_copies - 1)")).as("copy_id"))
        .orderBy("doc_id", "copy_id")
    }),

    // Leakage-safe deterministic split: bucket = hash(doc_id) % 100 with a
    // split-specific salt, 80/10/10. A doc's split NEVER changes as the
    // corpus grows (no row-number dependence) — the invariant that keeps
    // eval sets honest across corpus rebuilds.
    "split_train_test" -> ((s, d) =>
      Tables.documents(s, d)
        .withColumn("split", splitCol(col("doc_id")))
        .select(col("doc_id"), col("source"), col("split"))
        .orderBy("doc_id")),

    // Overlapping token-window chunking (size 8, stride 4 = 50% overlap) —
    // the op every embedding / context-window pipeline runs per document
    // before encoding. Pure HOFs (sequence -> transform -> slice ->
    // explode), row-local and map-side like the samplers: a doc's chunks
    // never depend on other docs, so it distributes trivially and re-chunks
    // identically on any engine (fully oracled). Body = the shared
    // chunkFrame (r13 — text_boilerplate_census consumes the SAME
    // chunker; one definition or the two grains silently drift).
    "text_chunk" -> ((s, d) =>
      chunkFrame(s, d)
        .where(length(col("chunk")) > 0)
        .orderBy("doc_id", "chunk_id")),

    // Cross-doc BOILERPLATE census at CHUNK grain (r13) — the C4-class
    // curation signal the catalog lacked: a chunk that appears VERBATIM
    // in >= 2 distinct docs is boilerplate (nav bars, licence blocks,
    // templated headers) and a trainer drops or downweights it. This is
    // a different axis from every existing dedup: doc-grain dedup keeps
    // one copy of a whole doc; text_winnow_dup/shared_span find NEAR-dup
    // spans between candidate PAIRS; text_repetition is WITHIN-doc; this
    // is exact sub-doc repetition measured across the WHOLE corpus via
    // one inverted index on the chunk hash — no pairs anywhere. Shape:
    // the shared chunkFrame (row-local HOFs), sha-256 per chunk, ONE
    // keyed distinct+count on the hash (the corpus-wide frequency
    // index), join-back on the hash, doc-keyed rollup; the chunk-hash
    // frame checkpoints once (two consumers — the r11b rule). Doc-grain
    // emission is TOTAL (documents left join, zero-filled) so clean
    // docs report 0. At 100 TB every stage shuffles on the chunk hash
    // or the doc key — nothing quadratic, no window, no collect.
    "text_boilerplate_census" -> ((s, d) => {
      val cc = chunkFrame(s, d).where(length(col("chunk")) > 0)
        .select(col("doc_id"), sha2(col("chunk"), 256).as("h"))
        .transform(graft.operators.Scale.materialize)
      val f = cc.distinct().groupBy("h").agg(count(lit(1)).as("n_docs"))
      val dcen = cc.join(f, "h").groupBy("doc_id")
        .agg(count(lit(1)).as("n_chunks"),
          sum(when(col("n_docs") >= 2, 1L).otherwise(0L)).as("n_boiler"))
      Tables.documents(s, d).select("doc_id")
        .join(dcen, Seq("doc_id"), "left")
        .selectExpr("doc_id",
          "CAST(COALESCE(n_chunks, 0) AS BIGINT) AS n_chunks",
          "CAST(COALESCE(n_boiler, 0) AS BIGINT) AS n_boiler",
          s"$boilerShareFormula AS boiler_share")
        .orderBy("doc_id")
    }),

    // Decontamination: train docs sharing any 5-gram shingle with the
    // held-out test split — the leakage check every eval pipeline runs
    // before trusting its numbers. Shingle generation is row-local HOFs
    // (map-side); the overlap is an equality join on the shingle — the
    // inverted-index shape (never train×test pairs), distributing on the
    // shingle key at any corpus size. Output: contaminated train docs
    // with their distinct shared-shingle count.
    "text_decontaminate" -> ((s, d) => {
      val shingled = decontShingled(s, d)
      val train = shingled.where(col("split") === "train")
        .select("doc_id", "sh").distinct()
      val test = shingled.where(col("split") === "test")
        .select("sh").distinct()
      train.join(test, "sh")
        .groupBy("doc_id")
        .agg(count_distinct(col("sh")).as("n_contaminated"))
        .orderBy("doc_id")
    }),

    // Contamination CENSUS (r9) — the source-grain rollup of the SAME
    // leakage check text_decontaminate runs at doc grain (shared
    // decontShingled frame: identical split, identical 5-gram shingle —
    // the two views can never disagree): per source, how many of its
    // train docs leak into the held-out test split and through how many
    // distinct shared shingles. This is the number a mixing decision
    // reads (down-weight or re-split a leaky source) where the doc-grain
    // list is what a scrubber consumes. Same scale shape: equality join
    // on the shingle (inverted index — never train×test doc pairs; no
    // broadcast() HINT pins the corpus-sized test split into memory,
    // the planner picks by stats — broadcast at fixture scale, shuffle
    // on the shingle key at corpus scale), then two keyed rollups; the
    // clean-source zero rows come from a left join off the bounded
    // per-source base frame.
    "text_contamination_census" -> ((s, d) => {
      val shingled = decontShingled(s, d)
      val test = shingled.where(col("split") === "test")
        .select("sh").distinct()
      val train = shingled.where(col("split") === "train")
        .select("doc_id", "source", "sh").distinct()
      val per = train.join(test, "sh")
        .groupBy("source")
        .agg(count_distinct(col("doc_id")).as("n_flagged"),
          count_distinct(col("sh")).as("n_hit_grams"))
      Tables.documents(s, d)
        .where(splitCol(col("doc_id")) === "train")
        .groupBy("source").agg(count(lit(1)).as("n_train"))
        .join(per, Seq("source"), "left")
        .na.fill(0L, Seq("n_flagged", "n_hit_grams"))
        .select("source", "n_train", "n_flagged", "n_hit_grams")
        .orderBy("source")
    }),

    // Contamination SCRUBBER (r9c) — the consumer the decontamination
    // family exists to drive: text_decontaminate lists leaky train
    // docs, text_contamination_census rolls them up per source; this
    // op actually REMOVES the leaked spans. Every train-doc token
    // covered by any 5-gram shingle that also appears in the held-out
    // test split is masked (position i leaks ⇒ tokens i..i+4 go), and
    // the emission proves the scrub: token counts before/after-mask +
    // the sha-256 of the cleaned text — the artifact a re-training run
    // would consume. Same shared decontShingled frame (now carrying
    // shingle start positions) — the leak DEFINITION cannot drift
    // between list, census, and scrubber. Scale shape: the inverted-
    // index shingle join again (never doc pairs), one keyed
    // collect_list of leak positions per FLAGGED doc (bounded by doc
    // length), then row-local HOF masking — map-side after the join.
    "text_scrub_contaminated" -> ((s, d) => {
      val shingled = decontShingled(s, d)
      val test = shingled.where(col("split") === "test")
        .select("sh").distinct()
      val hits = shingled.where(col("split") === "train")
        .join(test, "sh")
        .groupBy("doc_id").agg(sort_array(collect_list(col("pos"))).as("fl"))
      Tables.documents(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("tk"))
        .join(hits, "doc_id")
        .selectExpr("doc_id",
          "CAST(size(tk) AS BIGINT) AS n_tok",
          "CAST(size(fl) AS BIGINT) AS n_hits",
          "CAST(size(filter(sequence(1, size(tk)), " +
            "j -> exists(fl, i -> j >= i AND i + 4 >= j))) AS BIGINT) AS n_masked",
          "sha2(concat_ws(' ', transform(filter(sequence(1, size(tk)), " +
            "j -> NOT exists(fl, i -> j >= i AND i + 4 >= j)), " +
            "j -> element_at(tk, j))), 256) AS clean_hash")
        .orderBy("doc_id")
    }),

    // Cross-split LM quality scoring (r9c) — the CCNet loop: train a
    // unigram LM on the TRAIN split only, score every TEST doc by
    // average negative log-likelihood (nats/token) — the
    // perplexity-bucket signal a quality gate reads. The split is the
    // SAME leakage-safe splitCol every sampling op uses, so the model
    // provably never saw the docs it scores (the property
    // text_unigram_logprob — whole-corpus self-scoring — cannot
    // claim). Add-1 smoothing over the train vocab + one OOV bucket:
    // p(tok) = (cnt + 1)/(ntr + vsz + 1), so unseen test tokens score
    // finitely. V and N come from plain counts over the bounded model
    // frame (never a keys=[] count_distinct — the r6d PlanGuard rule).
    // Scale shape: one keyed count builds the model; the test side
    // joins it on the token (planner broadcasts at fixture scale,
    // shuffles on the token key at corpus scale — no hint pins it) and
    // one keyed rollup lands doc grain. ln sums per doc ⇒ round 3 (the
    // geomean rule); lpFormula is the ONE scoring string (query +
    // oracle).
    "text_perplexity_split" -> ((s, d) => {
      val toks = Tables.documents(s, d)
        .withColumn("split", splitCol(col("doc_id")))
        .select(col("doc_id"), col("split"),
          explode(split(col("text"), " ")).as("tok"))
      val model = toks.where(col("split") === "train")
        .groupBy("tok").agg(count(lit(1)).as("cnt"))
      val stats = model.agg(count(lit(1)).as("vsz"), sum("cnt").as("ntr"))
      toks.where(col("split") === "test")
        .join(model, Seq("tok"), "left")
        .crossJoin(broadcast(stats))
        .selectExpr("doc_id", s"$lpFormula AS lp")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tok"), sum("lp").as("sll"))
        .selectExpr("doc_id", "n_tok",
          s"${r3Sql("-sll / CAST(n_tok AS DOUBLE)")} AS avg_nll")
        .orderBy("doc_id")
    }),

    // DSIR importance weights (r11) — Data Selection via Importance
    // Resampling (Xie et al. 2023), the principled "make the corpus look
    // like the target domain" selection signal: per doc, the log
    // importance ratio Σ_features [ln p_target(f) − ln p_raw(f)] under
    // two add-1-smoothed BIGRAM models — target = the min(source) domain
    // (a deterministic bounded 1-row scalar), raw = the whole corpus.
    // Downstream, resampling ∝ exp(w) reshapes the mix; the weights
    // table IS the deliverable (selection itself stays integer-quota
    // ops like sample_target_mix — ranking on a libm-ln-derived double
    // is NOT cross-engine-safe, so no rank/flag is emitted here; per-doc
    // sums are pico-unit-quantized order-free integer folds since r13
    // — see dsirTermQ — with the r3 emission kept as belt-and-braces).
    // Bigrams via the guarded ascending-or-empty sequence spelling (the
    // r9c sequence(1,0) lesson); the exploded feature frame, raw model
    // and target model each localCheckpoint once (multi-consumer rule —
    // at 100 TB the feature frame persists to a shuffle-backed store
    // instead, same dedupe-execution intent). Scoring is one equi-join
    // per model on the feature key (shuffles on the key at corpus
    // scale; every scalar stat rides a bounded broadcast) + one keyed
    // doc rollup; zero-bigram docs re-enter via the doc-grain left
    // join with w = 0 (empty product).
    "sample_dsir_weights" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val bg = docs.withColumn("tk", split(col("text"), " "))
        .select(col("doc_id"), col("source"),
          explode(expr("transform(filter(sequence(1, greatest(size(tk) - 1, 1)), " +
            "i -> i <= size(tk) - 1), i -> concat_ws(' ', slice(tk, i, 2)))")).as("bg"))
        .transform(graft.operators.Scale.materialize)
      val rm = bg.groupBy("bg").agg(count(lit(1)).as("cr")).transform(graft.operators.Scale.materialize)
      val rs = rm.agg(count(lit(1)).as("v"), sum("cr").as("nr"))
      val tgt = docs.agg(min("source").as("tsrc"))
      val tm = bg.crossJoin(broadcast(tgt)).where(col("source") === col("tsrc"))
        .groupBy("bg").agg(count(lit(1)).as("ct")).transform(graft.operators.Scale.materialize)
      val tstat = tm.agg(coalesce(sum("ct"), lit(0L)).as("nt"))
      val sc = bg.join(rm, "bg").join(tm, Seq("bg"), "left")
        .crossJoin(broadcast(rs)).crossJoin(broadcast(tstat))
        .selectExpr("doc_id", s"$dsirTermQ AS termq")
        .groupBy("doc_id").agg(count(lit(1)).as("n_feat"), sum("termq").as("wq"))
        .selectExpr("doc_id", "n_feat", s"$dsirWFormula AS w")
      docs.select("doc_id", "source").join(sc, Seq("doc_id"), "left")
        .selectExpr("doc_id", "source",
          "CAST(COALESCE(n_feat, 0) AS BIGINT) AS n_feat",
          s"${r3Sql("COALESCE(w, CAST(0 AS DOUBLE))")} AS w_dsir")
        .orderBy("doc_id")
    }),

    // Token-budget data mixing: each source contributes docs, in salted-
    // hash order, until its token budget (B=800) is spent — the "sample
    // this domain down to N tokens" primitive of training-mix assembly
    // (rate sampling bounds doc COUNTS; budgets bound what actually costs:
    // tokens). Selection is a pure integer prefix-sum over the hash order:
    // a doc is kept iff the tokens BEFORE it (exclusive cumsum) are under
    // budget, so the first doc of a source always lands and membership is
    // reproducible on any engine (no reservoir state, fully oracled). One
    // window partitioned by source; at extreme per-source cardinality the
    // same exclusive prefix-sum decomposes into the two-pass
    // bucket-subtotal + offset shape Scale.globalRank uses.
    "sample_token_budget" -> ((s, d) => {
      val w = Window.partitionBy("source").orderBy(col("hk"), col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      Tables.documents(s, d)
        .select(col("doc_id"), col("source"),
          tokenCount(col("text")).as("n_tok"),
          budgetOrderKey(col("doc_id")).as("hk"))
        .withColumn("cum_before", coalesce(sum(col("n_tok")).over(w), lit(0L)))
        .where(col("cum_before") < tokenBudget)
        .select(col("doc_id"), col("source"), col("n_tok"), col("cum_before"))
        .orderBy("doc_id")
    }),

    // Content-keyed split (r6g) — the leakage guard split_train_test
    // lacks: keying the split hash on the NORMALIZED CONTENT hash
    // (TextQueries.contentHash — the exact-dedup definition) instead of
    // doc_id means byte-identical duplicates can NEVER straddle
    // train/test (with id-keyed splits, a duplicated doc lands in train
    // AND test and the eval leaks). Same salted-hash machinery, same
    // 80/10/10 buckets, still row-local and rebuild-stable; SampleSpec
    // pins the co-assignment property on the fixture's actual
    // duplicates.
    "split_by_content" -> ((s, d) =>
      Tables.documents(s, d)
        .withColumn("h", TextQueries.contentHash(col("text")))
        .withColumn("split", splitCol(col("h")))
        .select(col("doc_id"), col("h"), col("split"))
        .orderBy("doc_id")),

    // K-fold cross-validation assignment (r6g) — the evaluation-side
    // sibling of split_train_test: fold = salted_hash(doc) mod 5, a pure
    // row-local function of doc_id (map-side, no reservoir state, stable
    // under rebuilds and incremental backfills — every fold can be
    // reconstructed from the id alone on any engine). The emission is
    // the (fold, source) census with doc and token mass, the table you
    // read before trusting a CV estimate (folds must partition the
    // corpus and balance within hash noise — SampleSpec pins both).
    "sample_kfold" -> ((s, d) => {
      val doc = Tables.documents(s, d)
        .select(col("source"),
          pmod(phash(col("doc_id"), "fold:"), lit(5)).cast(IntegerType).as("fold"),
          tokenCount(col("text")).as("tk"))
      doc.groupBy("fold", "source")
        .agg(count(lit(1)).as("n_docs"), sum(col("tk").cast(LongType)).as("n_tokens"))
        .orderBy("fold", "source")
    }),

    // Sequence-packing plan (r6g) — THE causal-LM batching op: docs
    // concatenate in a deterministic salted order per source and split
    // into fixed 512-token context windows (concat-then-split — a doc
    // straddling a boundary simply continues into the next sequence,
    // exactly how GPT-style packing fills context). The emission records
    // each doc's landing: sequence index and offset = pure integer
    // functions of the exclusive token prefix-sum (the
    // sample_token_budget window with DIV/% instead of a threshold), so
    // the plan is rebuild-stable and engine-independent. One window per
    // source; at extreme per-source cardinality the same prefix-sum
    // decomposes via the two-pass globalRank shape.
    "sample_pack_sequences" -> ((s, d) => {
      val w = Window.partitionBy("source").orderBy(col("hk"), col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      Tables.documents(s, d)
        .select(col("doc_id"), col("source"),
          tokenCount(col("text")).as("n_tok"),
          phash(col("doc_id"), "pack:").as("hk"))
        .withColumn("cum_before", coalesce(sum(col("n_tok")).over(w), lit(0L)))
        .selectExpr("doc_id", "source", "n_tok",
          "cum_before DIV 512 AS seq_id", "cum_before % 512 AS seq_offset")
        .orderBy("doc_id")
    }),

    // Quality-WEIGHTED sampling: each doc keeps with probability equal to
    // its own quality score (CCNet-style quality-proportional curation —
    // stratified rates are per-SOURCE policy; this is per-DOC signal).
    // Deterministic weighted Bernoulli: keep iff salted_hash % 10000 <
    // floor(q*10000 + 0.5) — the threshold is derived from the SHARED
    // quality formula (bit-identical on both engines), so the integer
    // compare needs no tolerance. Map-side, stateless, rebuild-stable
    // like every sampler here.
    "sample_quality_weighted" -> ((s, d) => {
      val (_, _, _, _, _, score) = Text2Queries.qualityCols(col("text"))
      Tables.documents(s, d)
        .withColumn("rate_bp", floor(score * 10000.0 + 0.5).cast(IntegerType))
        .where(pmod(phash(col("doc_id"), "qmix:"), lit(10000)) < col("rate_bp"))
        .select(col("doc_id"), col("source"), col("rate_bp"))
        .orderBy("doc_id")
    }),

    // Per-source cap: keep at most K=15 docs per source, highest
    // quality-score first (ties to the smaller doc_id) — source-balance
    // enforcement so no single crawl dominates the mix. Shares the exact
    // quality formula with text_quality/text_dedup_keep_best (defined once
    // in Text2Queries), so rankings are bit-identical across engines. The
    // window partitions by `source` (distributes) and row_number <= K
    // triggers WindowGroupLimit: each partition prunes to K rows before
    // the full sort — the same plan shape proven for win_topk_per_group.
    // Source-interleaved serving order (r6e) — the mixture SCHEDULER
    // next to the mixture QUOTAS (sample_target_mix says how much of
    // each source; this says in what ORDER it streams to training so no
    // source clumps): per source, docs rank by the salted hash
    // (rebuild-stable like every sampling op), and the serve order is
    // (rank, source) — round-robin across sources by construction. The
    // first 64 positions emit via orderBy+limit (TakeOrderedAndProject)
    // and the bounded 64-row frame gets positions from ONE
    // collect_list+sort_array+posexplode aggregate (the zipf shape —
    // keys=[] + partial_, PlanGuard-safe; never a partitionless
    // row_number window).
    "sample_interleave" -> ((s, d) => {
      val w = Window.partitionBy("source").orderBy(col("h"), col("doc_id"))
      val top = Tables.documents(s, d)
        .select(col("source"), col("doc_id"),
          phash(col("doc_id"), "interleave:").as("h"))
        .withColumn("rk", row_number().over(w).cast(IntegerType))
        .orderBy(col("rk"), col("source")).limit(64)
      top
        .agg(sort_array(collect_list(struct(col("rk"), col("source"),
          col("doc_id")))).as("a"))
        .select(posexplode(col("a")).as(Seq("p", "r")))
        .selectExpr("CAST(p + 1 AS INT) AS pos", "r.rk AS rk",
          "r.source AS source", "r.doc_id AS doc_id")
        .orderBy("pos")
    }),

    "sample_cap_per_source" -> ((s, d) => {
      val (_, _, _, _, _, score) = Text2Queries.qualityCols(col("text"))
      val w = Window.partitionBy("source").orderBy(col("q").desc, col("doc_id"))
      Tables.documents(s, d)
        .select(col("doc_id"), col("source"), score.as("q"))
        .withColumn("rn", row_number().over(w))
        .where(col("rn") <= 15)
        .select(col("doc_id"), col("source"), col("rn").cast(IntegerType).as("rn"),
          r6(col("q")).as("quality"))
        .orderBy("doc_id")
    }),

    // Target-distribution data mixing (r6): resample the corpus so the
    // SOURCE mix matches declared rational target weights — the domain-
    // reweighting step every pretraining data recipe runs (a declared
    // w_s per domain, not whatever the crawl happened to contain).
    // Weights are integral (num_s / 50, num_s = source index % 4 + 1),
    // so everything is exact integer arithmetic on both engines:
    //   M   = min_s floor(n_s * den / num_s)   (largest feasible total)
    //   k_s = floor(num_s * M / den)           (per-source quota)
    // Selection inside a source is the shared salted hash (rebuild-
    // stable, engine-portable), tie-broken by doc_id. Shape: bounded
    // per-source counts -> one broadcast scalar (M) -> quota join ->
    // one window per source partition. The quota is data-dependent, so
    // WindowGroupLimit cannot constant-prune here — the rank is still
    // one shuffle + per-partition sort on the source key, and the
    // emitted quota column makes the selection auditable downstream.
    "sample_target_mix" -> ((s, d) => {
      val den = 50L
      val num = (substring(col("source"), 4, 10).cast(LongType) % 4 + 1).as("num")
      val base = Tables.documents(s, d)
        .select(col("doc_id"), col("source"),
          phash(col("doc_id"), "mix:").as("hk"))
      val counts = Tables.documents(s, d)
        .groupBy("source").agg(count(lit(1)).as("n"))
        .select(col("source"), num, col("n"))
      val m = counts.agg(min(expr(s"n * $den DIV num")).as("m"))
      val quotas = counts.crossJoin(broadcast(m))
        .select(col("source"), col("num"),
          expr(s"num * m DIV $den").as("quota"))
      val w = Window.partitionBy("source").orderBy(col("hk"), col("doc_id"))
      base.join(quotas, "source")
        .withColumn("rn", row_number().over(w))
        .where(col("rn") <= col("quota"))
        .select(col("doc_id"), col("source"),
          col("num").cast(IntegerType).as("target_w"),
          col("quota").cast(IntegerType).as("quota"))
        .orderBy("doc_id")
    }),

    // Temperature-scaled source mixing (r6g) — resample so source s
    // contributes ∝ n_s^α with α = 1/2 (the UnifiedQA/mT5 "temperature"
    // recipe: big domains down-weighted, small domains up-weighted,
    // exponent between 0 = uniform and 1 = natural). Where target_mix
    // takes DECLARED weights, this derives them FROM the counts. Exact
    // cross-engine arithmetic: w_s = floor(sqrt(n_s)·1000 + 0.5) —
    // sqrt is correctly rounded on both engines (the r5b rule) and the
    // scale/floor steps are identical IEEE ops, so the milli-unit
    // weight is the same BIGINT everywhere; budget = total DIV 2;
    // quota k_s = LEAST(budget·w_s DIV Σw, n_s) — all integer from
    // there. Selection by the shared salted hash (rebuild-stable).
    // Shape: one bounded per-source count frame -> one broadcast
    // scalar -> quota join -> one per-source window.
    "sample_temperature_mix" -> ((s, d) => {
      val base = Tables.documents(s, d)
        .select(col("doc_id"), col("source"),
          phash(col("doc_id"), "temp:").as("hk"))
      val counts = Tables.documents(s, d)
        .groupBy("source").agg(count(lit(1)).as("n"))
        .withColumn("w",
          expr("CAST(floor(sqrt(CAST(n AS DOUBLE)) * 1000.0 + 0.5) AS BIGINT)"))
      val tot = counts.agg(sum("n").as("tot_n"), sum("w").as("tot_w"))
      val quotas = counts.crossJoin(broadcast(tot))
        .select(col("source"), col("n"), col("w"),
          expr("LEAST((tot_n DIV 2) * w DIV tot_w, n)").as("quota"))
      val w = Window.partitionBy("source").orderBy(col("hk"), col("doc_id"))
      base.join(quotas, "source")
        .withColumn("rn", row_number().over(w))
        .where(col("rn") <= col("quota"))
        .select(col("doc_id"), col("source"), col("w").as("temp_w"),
          col("quota"))
        .orderBy("doc_id")
    }),

    // Dedup-aware source mixing (r9, the r8 verdict's ask #5) — the
    // decision text_dedup_by_source's census exists to drive: quotas
    // proportional to each source's measured UNIQUE doc mass (the
    // SAME contentHash definition — a source full of exact dups gets
    // proportionally fewer slots), so contamination down-weights the
    // domain automatically. Integer rational arithmetic with BOUNDED
    // numerators: the weight is basis points w_s = nu_s·10⁴ DIV Σnu
    // (≤ 10⁴), quota k_s = LEAST(budget·w_s DIV 10⁴, n_s) with
    // budget = Σn DIV 2 — every product stays ≤ Σn·10⁴, BIGINT-safe
    // at 100 TB (the ks/emd overflow lesson, preempted). Selection by
    // the shared salted hash (rebuild-stable), one keyed count-distinct
    // (never keys=[]), one per-source window.
    "sample_dedup_weighted" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val counts = docs.groupBy("source").agg(
        count(lit(1)).as("n"),
        countDistinct(TextQueries.contentHash(col("text"))).as("nu"))
      val tot = counts.agg(sum("n").as("tot_n"), sum("nu").as("tot_u"))
      val quotas = counts.crossJoin(broadcast(tot))
        .select(col("source"), col("n"), col("nu"), col("tot_n"),
          expr("nu * 10000 DIV tot_u").as("uniq_bp"))
        .select(col("source"), col("n"), col("nu"), col("uniq_bp"),
          expr("LEAST((tot_n DIV 2) * uniq_bp DIV 10000, n)").as("quota"))
      val w = Window.partitionBy("source").orderBy(col("hk"), col("doc_id"))
      docs.select(col("doc_id"), col("source"),
          phash(col("doc_id"), "dedupw:").as("hk"))
        .join(quotas, "source")
        .withColumn("rn", row_number().over(w))
        .where(col("rn") <= col("quota"))
        .select(col("doc_id"), col("source"),
          col("uniq_bp").cast(IntegerType).as("uniq_bp"), col("quota"))
        .orderBy("doc_id")
    }),

    // Epoch planning with repetition (r9) — the step the quota samplers
    // deliberately stop short of: when a source's token target EXCEEDS
    // its available mass, a real pretraining recipe repeats the source
    // for whole epochs (capped — data quality decays past ~4 reuses)
    // plus a fractional remainder. Same declared rational weights as
    // sample_target_mix (num_s/50), token mass via the shared
    // tokenCount, budget = Σtokens DIV 2; target_s = budget·num_s DIV
    // 50, epochs = LEAST(target DIV avail, 4), remainder tokens from
    // the UNCAPPED division (what the next epoch would need), a capped
    // flag where the 4-epoch ceiling binds. All integer; one bounded
    // per-source aggregate — the plan is |sources| rows.
    "sample_epoch_plan" -> ((s, d) => {
      val den = 50L
      val num = (substring(col("source"), 4, 10).cast(LongType) % 4 + 1).as("num")
      val per = Tables.documents(s, d)
        .select(col("source"), tokenCount(col("text")).cast(LongType).as("tk"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("tk").as("avail_tokens"))
        .select(col("source"), num, col("n_docs"), col("avail_tokens"))
      val tot = per.agg(sum("avail_tokens").as("tot_tokens"))
      per.crossJoin(broadcast(tot))
        .selectExpr("source", "CAST(num AS INT) AS target_w", "n_docs",
          "avail_tokens",
          s"(tot_tokens DIV 2) * num DIV $den AS target_tokens")
        .selectExpr("source", "target_w", "n_docs", "avail_tokens",
          "target_tokens",
          "CAST(LEAST(target_tokens DIV avail_tokens, 4) AS INT) AS epochs",
          "target_tokens % avail_tokens AS rem_tokens",
          "target_tokens DIV avail_tokens > 4 AS capped")
        .orderBy("source")
    })
  )

  /** Replicate-mean formula (cents → price) — shared string so the
    * division order cannot drift. A def: vals below the oracle Map are
    * null at Map-init (the ts_decompose lesson). */
  /** Shared decontamination CTE prefix (mirrors decontShingled): d =
    * docs + split bucket, s = exploded 5-gram shingles + split label,
    * tr/te = the distinct train/test shingle sides. Extended by both
    * the doc-grain and census oracles — never forked (the pqChainSql
    * rule). A def, not a val: the textually-later init would leave it
    * null inside the oracle Map (the ts_decompose lesson). */
  /** Add-1-smoothed unigram log-likelihood per token — the ONE scoring
    * string for text_perplexity_split (query + oracle): cnt from the
    * left-joined train model (NULL ⇒ unseen ⇒ the OOV bucket), ntr/vsz
    * from the crossed model-stats row; `ln` is natural log in BOTH
    * dialects (never `log` — DuckDB's is base 10). A def (init-order
    * rule). */
  private def lpFormula: String =
    "ln(CAST(COALESCE(cnt, 0) + 1 AS DOUBLE) / CAST(ntr + vsz + 1 AS DOUBLE))"

  /** DSIR per-feature log importance ratio — the ONE scoring string for
    * sample_dsir_weights (query + oracle): ct from the left-joined
    * target model (NULL ⇒ unseen in target), cr from the raw model
    * (always present — raw spans the corpus), nt/nr/v from the crossed
    * bounded stat rows; two lpFormula-class add-1 terms, `ln` natural
    * log in both dialects. A def (init-order rule). */
  private def dsirTermFormula: String =
    "(ln(CAST(COALESCE(ct, 0) + 1 AS DOUBLE) / CAST(nt + v + 1 AS DOUBLE)) - " +
      "ln(CAST(cr + 1 AS DOUBLE) / CAST(nr + v + 1 AS DOUBLE)))"

  /** r13 (the r12 verdict #3 twin of AggQueries.theilTermQ): the per-doc
    * w sum of libm-ln terms was hash-matched in partition order — now
    * each term quantizes to an exact pico-unit integer (|term| ≤ ~30 ⇒
    * term·1e12 ≤ 3e13, exact in both dialects' floor) and sums
    * order-free in DECIMAL(38,0)/HUGEINT; w re-derives by ONE exact
    * cast + division, so Spark is deterministic run-to-run and the
    * cross-engine diff is bounded by ±1 pico-unit boundary flips —
    * invisible at the r3 emission. Keeps the keyed partial-aggregable
    * rollup (no per-doc collect_list needed). */
  private def dsirTermQ: String =
    s"CAST(floor(($dsirTermFormula) * 1e12 + 0.5) AS DECIMAL(38,0))"
  private def dsirWFormula: String = "(CAST(wq AS DOUBLE) / 1e12)"

  private def decontCtesSql: String =
    "d AS (SELECT doc_id, source, string_split(text, ' ') AS tk, " +
      phashSql("doc_id", "split:") + " % 100 AS bk FROM documents), " +
      // shingles carry their 1-based start position (struct unnest —
      // the census/list consumers drop it; the scrubber reads it)
      "s AS (SELECT doc_id, source, CASE WHEN bk < 80 THEN 'train' WHEN bk < 90 THEN 'valid' " +
      "ELSE 'test' END AS split, u.pos AS pos, u.sh AS sh FROM " +
      "(SELECT doc_id, source, bk, " +
      "unnest(list_transform(generate_series(1, GREATEST(len(tk) - 4, 0)), " +
      "i -> {'pos': i, 'sh': array_to_string(tk[i:i+4], ' ')})) AS u FROM d) t0), " +
      "tr AS (SELECT DISTINCT doc_id, source, sh FROM s WHERE split = 'train' AND length(sh) > 0), " +
      "te AS (SELECT DISTINCT sh FROM s WHERE split = 'test' AND length(sh) > 0)"

  private def bootMeanSql: String =
    "((CASE WHEN isnan((CAST(wsum AS DOUBLE) / CAST(n_eff AS DOUBLE) / 100.0)) OR abs((CAST(wsum AS DOUBLE) / CAST(n_eff AS DOUBLE) / 100.0)) >= 9e12 THEN CAST((CAST(wsum AS DOUBLE) / CAST(n_eff AS DOUBLE) / 100.0) AS DOUBLE) ELSE CAST(floor((CAST(wsum AS DOUBLE) / CAST(n_eff AS DOUBLE) / 100.0) * 1e6 + 0.5) AS DOUBLE) / 1e6 END))"

  val oracle: Map[String, String] = Map(
    "sample_curriculum" ->
      // same shared quality formula, row_number over the identical
      // (q DESC, doc_id) unique order, same integer phase arithmetic
      ("WITH b AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents), " +
       s"m AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens, (${Text2Queries.qualityScoreSql}) AS q FROM b), " +
       "r AS (SELECT n_tokens, q, CAST(row_number() OVER (ORDER BY q DESC, doc_id) AS BIGINT) AS rnk, " +
       "(SELECT CAST(COUNT(*) AS BIGINT) FROM m) AS nn FROM m), " +
       "p AS (SELECT CAST(((rnk - 1) * 3) // nn AS INT) AS phase, n_tokens, q FROM r), " +
       "a AS (SELECT phase, CAST(COUNT(*) AS BIGINT) AS n_docs, " +
       "CAST(SUM(n_tokens) AS BIGINT) AS n_tokens, MIN(q) AS mn_q, MAX(q) AS mx_q FROM p GROUP BY 1) " +
       s"SELECT phase, n_docs, n_tokens, ${r6Sql("mn_q")} AS min_quality, " +
       s"${r6Sql("mx_q")} AS max_quality FROM a ORDER BY phase"),
    "sample_bootstrap_ci" ->
      ("WITH r AS (SELECT o_orderkey AS key, " +
       "CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents FROM orders), " +
       "e AS (SELECT key, cents, b FROM r CROSS JOIN (SELECT unnest(range(0, " + nBoot + ")) AS b)), " +
       "hh AS (SELECT b, cents, " +
       hash60Sql("'boot:' || CAST(b AS VARCHAR) || '|' || CAST(key AS VARCHAR)") +
       " AS h FROM e), " +
       s"k AS (SELECT b, cents, ${poissonKSql("h")} AS k FROM hh), " +
       "m AS (SELECT b, CAST(SUM(k) AS BIGINT) AS n_eff, " +
       "CAST(SUM(k * cents) AS BIGINT) AS wsum FROM k GROUP BY 1), " +
       s"mm AS (SELECT b, n_eff, $bootMeanSql AS mean_price FROM m), " +
       "bounds AS (SELECT MIN(mean_price) AS ci_lo, MAX(mean_price) AS ci_hi FROM mm) " +
       "SELECT b, n_eff, mean_price, ci_lo, ci_hi FROM mm CROSS JOIN bounds ORDER BY b"),
    "sample_stratified" ->
      ("WITH b AS (SELECT doc_id, source, lang, " +
       "CASE WHEN CAST(substring(source, 4) AS INTEGER) < 5 THEN 10000 " +
       "WHEN CAST(substring(source, 4) AS INTEGER) < 13 THEN 5000 ELSE 1000 END AS rate_bp, " +
       phashSql("doc_id", "mix:") + " AS h FROM documents) " +
       "SELECT doc_id, source, lang, rate_bp FROM b WHERE h % 10000 < rate_bp " +
       "ORDER BY doc_id"),
    "sample_epoch_repeat" ->
      // same policy CASE, same salted hash, integer // and CASE for the
      // fractional copy; unnest(range(0, n)) mirrors sequence(0, n-1)
      ("WITH b AS (SELECT doc_id, source, " +
       "CASE WHEN CAST(substring(source, 4) AS INTEGER) < 5 THEN 10000 " +
       "WHEN CAST(substring(source, 4) AS INTEGER) < 13 THEN 15000 ELSE 25000 END AS epochs_bp, " +
       phashSql("doc_id", "epoch:") + " % 10000 AS h FROM documents), " +
       "k AS (SELECT doc_id, source, epochs_bp, " +
       "CAST(epochs_bp // 10000 AS BIGINT) + CASE WHEN h < epochs_bp % 10000 " +
       "THEN 1 ELSE 0 END AS n_copies FROM b) " +
       "SELECT doc_id, source, epochs_bp, n_copies, " +
       "CAST(unnest(range(0, n_copies)) AS BIGINT) AS copy_id FROM k " +
       "ORDER BY doc_id, copy_id"),
    "split_train_test" ->
      ("WITH b AS (SELECT doc_id, source, " +
       phashSql("doc_id", "split:") + " % 100 AS bk FROM documents) " +
       "SELECT doc_id, source, CASE WHEN bk < 80 THEN 'train' " +
       "WHEN bk < 90 THEN 'valid' ELSE 'test' END AS split FROM b ORDER BY doc_id"),
    "text_chunk" ->
      (s"WITH $chunkCtesSql " +
       "SELECT doc_id, chunk_id, chunk FROM c WHERE length(chunk) > 0 " +
       "ORDER BY doc_id, chunk_id"),
    "text_boilerplate_census" ->
      // the shared chunk CTEs verbatim; frequency index = COUNT(DISTINCT
      // doc) per chunk hash; instance-grain join-back; doc-grain left
      // join keeps clean docs at zero; shared share formula
      (s"WITH $chunkCtesSql, " +
       "cc AS (SELECT doc_id, sha256(chunk) AS h FROM c WHERE length(chunk) > 0), " +
       "f AS (SELECT h, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs FROM cc GROUP BY 1), " +
       "dcen AS (SELECT cc.doc_id AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_chunks, " +
       "CAST(SUM(CASE WHEN n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler " +
       "FROM cc JOIN f ON cc.h = f.h GROUP BY 1) " +
       "SELECT d.doc_id AS doc_id, CAST(COALESCE(n_chunks, 0) AS BIGINT) AS n_chunks, " +
       "CAST(COALESCE(n_boiler, 0) AS BIGINT) AS n_boiler, " +
       s"$boilerShareFormula AS boiler_share " +
       "FROM (SELECT doc_id FROM documents) d LEFT JOIN dcen ON d.doc_id = dcen.doc_id " +
       "ORDER BY doc_id"),
    "sample_dsir_weights" ->
      // generate_series(1, len-1) is [] when len < 2 (the Spark side
      // carries the explicit ascending-or-empty guard); HUGEINT sums
      // cast back; dsirTermFormula verbatim; zero-bigram docs re-enter
      // via the doc-grain left join with w = 0
      ("WITH dd AS (SELECT doc_id, source, string_split(text, ' ') AS tk FROM documents), " +
       "bg AS (SELECT doc_id, source, array_to_string(tk[i:i+1], ' ') AS bg FROM " +
       "(SELECT doc_id, source, tk, unnest(generate_series(1, len(tk) - 1)) AS i FROM dd) t0), " +
       "rm AS (SELECT bg, CAST(COUNT(*) AS BIGINT) AS cr FROM bg GROUP BY 1), " +
       "rs AS (SELECT CAST(COUNT(*) AS BIGINT) AS v, CAST(SUM(cr) AS BIGINT) AS nr FROM rm), " +
       "tgt AS (SELECT MIN(source) AS tsrc FROM documents), " +
       "tm AS (SELECT bg.bg AS bg, CAST(COUNT(*) AS BIGINT) AS ct " +
       "FROM bg CROSS JOIN tgt WHERE bg.source = tsrc GROUP BY 1), " +
       "tstat AS (SELECT CAST(COALESCE(SUM(ct), 0) AS BIGINT) AS nt FROM tm), " +
       s"sc AS (SELECT doc_id, $dsirTermQ AS termq " +
       "FROM bg JOIN rm ON bg.bg = rm.bg LEFT JOIN tm ON bg.bg = tm.bg " +
       "CROSS JOIN rs CROSS JOIN tstat), " +
       "d1 AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_feat, SUM(termq) AS wq FROM sc GROUP BY 1), " +
       s"ds AS (SELECT doc_id, n_feat, $dsirWFormula AS w FROM d1) " +
       "SELECT dd.doc_id, dd.source, CAST(COALESCE(n_feat, 0) AS BIGINT) AS n_feat, " +
       s"${r3Sql("COALESCE(w, CAST(0 AS DOUBLE))")} AS w_dsir " +
       "FROM dd LEFT JOIN ds ON dd.doc_id = ds.doc_id ORDER BY dd.doc_id"),
    "text_decontaminate" ->
      (s"WITH $decontCtesSql " +
       "SELECT tr.doc_id, COUNT(DISTINCT tr.sh) AS n_contaminated " +
       "FROM tr JOIN te USING (sh) GROUP BY 1 ORDER BY 1"),
    "text_scrub_contaminated" ->
      // the shared decont CTE prefix (positions now ride the s CTE);
      // per-occurrence hits (train side NOT distinct — every leaked
      // start position masks), list_sort == sort_array, the identical
      // coverage predicate j >= i AND i + 4 >= j on both engines
      (s"WITH $decontCtesSql, " +
       "hits AS (SELECT s.doc_id, s.pos FROM s JOIN te USING (sh) WHERE s.split = 'train'), " +
       "fl AS (SELECT doc_id, list_sort(list(pos)) AS fl FROM hits GROUP BY 1) " +
       "SELECT f.doc_id, CAST(len(tk) AS BIGINT) AS n_tok, " +
       "CAST(len(fl) AS BIGINT) AS n_hits, " +
       "CAST(len(list_filter(range(1, len(tk) + 1), " +
       "j -> len(list_filter(fl, i -> j >= i AND i + 4 >= j)) > 0)) AS BIGINT) AS n_masked, " +
       // COALESCE: a fully-masked doc keeps zero tokens and DuckDB's
       // array_to_string([]) is NULL where Spark's concat_ws is ''
       "sha256(COALESCE(array_to_string(list_transform(list_filter(range(1, len(tk) + 1), " +
       "j -> NOT (len(list_filter(fl, i -> j >= i AND i + 4 >= j)) > 0)), " +
       "j -> tk[j]), ' '), '')) AS clean_hash " +
       "FROM fl f JOIN d USING (doc_id) ORDER BY doc_id"),
    "text_perplexity_split" ->
      // identical split bucket, identical add-1 model, the shared
      // lpFormula verbatim; -SUM/COUNT in the same fixed op order
      ("WITH dd AS (SELECT doc_id, text, " +
       phashSql("doc_id", "split:") + " % 100 AS bk FROM documents), " +
       "tk AS (SELECT doc_id, CASE WHEN bk < 80 THEN 'train' WHEN bk < 90 THEN 'valid' " +
       "ELSE 'test' END AS split, unnest(string_split(text, ' ')) AS tok FROM dd), " +
       "m AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS cnt FROM tk " +
       "WHERE split = 'train' GROUP BY 1), " +
       "st AS (SELECT CAST(COUNT(*) AS BIGINT) AS vsz, CAST(SUM(cnt) AS BIGINT) AS ntr FROM m), " +
       s"sc AS (SELECT doc_id, $lpFormula AS lp FROM " +
       "(SELECT doc_id, tok FROM tk WHERE split = 'test') te " +
       "LEFT JOIN m USING (tok) CROSS JOIN st) " +
       "SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tok, " +
       s"${r3Sql("-SUM(lp) / CAST(COUNT(*) AS DOUBLE)")} AS avg_nll " +
       "FROM sc GROUP BY 1 ORDER BY doc_id"),
    "text_contamination_census" ->
      // the same shared CTE prefix; COALESCE-zero left join off the
      // per-source train base (bk < 80 == splitCol 'train'); COUNT
      // DISTINCT / COUNT casts per the HUGEINT rule
      (s"WITH $decontCtesSql, " +
       "per AS (SELECT source, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_flagged, " +
       "CAST(COUNT(DISTINCT tr.sh) AS BIGINT) AS n_hit_grams " +
       "FROM tr JOIN te USING (sh) GROUP BY 1), " +
       "base AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_train " +
       "FROM d WHERE bk < 80 GROUP BY 1) " +
       "SELECT base.source, n_train, " +
       "CAST(COALESCE(n_flagged, 0) AS BIGINT) AS n_flagged, " +
       "CAST(COALESCE(n_hit_grams, 0) AS BIGINT) AS n_hit_grams " +
       "FROM base LEFT JOIN per ON base.source = per.source ORDER BY base.source"),
    "sample_token_budget" ->
      // exclusive running sum: ROWS BETWEEN UNBOUNDED PRECEDING AND 1
      // PRECEDING; CAST to BIGINT (DuckDB window SUM widens) to match
      // Spark's LongType cumsum
      ("WITH b AS (SELECT doc_id, source, " +
       "CAST(len(string_split(text, ' ')) AS INT) AS n_tok, " +
       phashSql("doc_id", "budget:") + " AS hk FROM documents), " +
       "c AS (SELECT doc_id, source, n_tok, " +
       "CAST(COALESCE(SUM(n_tok) OVER (PARTITION BY source ORDER BY hk, doc_id " +
       "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before FROM b) " +
       "SELECT doc_id, source, n_tok, cum_before FROM c " +
       s"WHERE cum_before < $tokenBudget ORDER BY doc_id"),
    "split_by_content" ->
      // the exact-dedup normalization ('g' flag), then the split-salted
      // hash keyed on the hex digest — identical buckets
      ("WITH b AS (SELECT doc_id, " +
       "sha256(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g')) AS h FROM documents), " +
       "m AS (SELECT doc_id, h, " + phashSql("h", "split:") + " % 100 AS bk FROM b) " +
       "SELECT doc_id, h, CASE WHEN bk < 80 THEN 'train' WHEN bk < 90 THEN 'valid' " +
       "ELSE 'test' END AS split FROM m ORDER BY doc_id"),
    "sample_kfold" ->
      // same salted hash, same mod-5 fold; len() cast to INT, SUM cast
      // back from HUGEINT
      ("WITH a AS (SELECT source, " +
       "CAST(" + phashSql("doc_id", "fold:") + " % 5 AS INT) AS fold, " +
       "CAST(len(string_split(text, ' ')) AS INT) AS tk FROM documents) " +
       "SELECT fold, source, CAST(COUNT(*) AS BIGINT) AS n_docs, " +
       "CAST(SUM(tk) AS BIGINT) AS n_tokens FROM a GROUP BY 1, 2 ORDER BY 1, 2"),
    "sample_pack_sequences" ->
      // the token_budget exclusive-cumsum mirror with the 'pack:' salt;
      // // == DIV and % match on the nonnegative prefix sums
      ("WITH b AS (SELECT doc_id, source, " +
       "CAST(len(string_split(text, ' ')) AS INT) AS n_tok, " +
       phashSql("doc_id", "pack:") + " AS hk FROM documents), " +
       "c AS (SELECT doc_id, source, n_tok, " +
       "CAST(COALESCE(SUM(n_tok) OVER (PARTITION BY source ORDER BY hk, doc_id " +
       "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before FROM b) " +
       "SELECT doc_id, source, n_tok, cum_before // 512 AS seq_id, " +
       "cum_before % 512 AS seq_offset FROM c ORDER BY doc_id"),
    "sample_quality_weighted" ->
      ("WITH b AS (SELECT doc_id, source, string_split(text, ' ') AS tk FROM documents), " +
       "m AS (SELECT doc_id, source, " +
       "CAST(FLOOR((" + Text2Queries.qualityScoreSql + ") * 10000.0 + 0.5) AS INT) AS rate_bp, " +
       phashSql("doc_id", "qmix:") + " % 10000 AS h FROM b) " +
       "SELECT doc_id, source, rate_bp FROM m WHERE h < rate_bp ORDER BY doc_id"),
    "sample_interleave" ->
      // same salted rank per source; the LIMITed frame is tiny, so the
      // oracle's global row_number is over 64 rows — (rk, source) is a
      // unique key (one row per pair), so the order is total
      (s"WITH r AS (SELECT source, doc_id, ${phashSql("doc_id", "interleave:")} AS h " +
       "FROM documents), " +
       "rk AS (SELECT source, doc_id, " +
       "CAST(row_number() OVER (PARTITION BY source ORDER BY h, doc_id) AS INT) AS rk FROM r), " +
       "top AS (SELECT * FROM rk ORDER BY rk, source LIMIT 64) " +
       "SELECT CAST(row_number() OVER (ORDER BY rk, source) AS INT) AS pos, " +
       "rk, source, doc_id FROM top ORDER BY pos"),
    "sample_cap_per_source" ->
      ("WITH b AS (SELECT doc_id, source, string_split(text, ' ') AS tk FROM documents), " +
       "m AS (SELECT doc_id, source, " + Text2Queries.qualityScoreSql + " AS q FROM b), " +
       "r AS (SELECT *, row_number() OVER (PARTITION BY source ORDER BY q DESC, doc_id) AS rn FROM m) " +
       "SELECT doc_id, source, CAST(rn AS INT) AS rn, ((CASE WHEN isnan((q)) OR abs((q)) >= 9e12 THEN CAST((q) AS DOUBLE) ELSE CAST(floor((q) * 1e6 + 0.5) AS DOUBLE) / 1e6 END)) AS quality " +
       "FROM r WHERE rn <= 15 ORDER BY doc_id"),
    "sample_target_mix" ->
      // pure integer quota arithmetic (// mirrors Spark DIV — all terms
      // nonnegative) + the shared salted hash selector
      ("WITH c AS (SELECT source, (CAST(substring(source, 4) AS BIGINT) % 4 + 1) AS num, " +
       "COUNT(*) AS n FROM documents GROUP BY 1), " +
       "m AS (SELECT MIN(n * 50 // num) AS m FROM c), " +
       "q AS (SELECT source, num, num * m // 50 AS quota FROM c CROSS JOIN m), " +
       "b AS (SELECT doc_id, source, " + phashSql("doc_id", "mix:") + " AS hk FROM documents), " +
       "r AS (SELECT b.doc_id, b.source, q.num, q.quota, " +
       "row_number() OVER (PARTITION BY b.source ORDER BY hk, doc_id) AS rn " +
       "FROM b JOIN q ON b.source = q.source) " +
       "SELECT doc_id, source, CAST(num AS INT) AS target_w, CAST(quota AS INT) AS quota " +
       "FROM r WHERE rn <= quota ORDER BY doc_id"),
    "sample_temperature_mix" ->
      // identical sqrt->milli-unit weight derivation (sqrt correctly
      // rounded on both engines), identical integer quota arithmetic
      // (// == DIV on nonnegative), the shared salted hash selector
      ("WITH c AS (SELECT source, COUNT(*) AS n, " +
       "CAST(FLOOR(sqrt(CAST(COUNT(*) AS DOUBLE)) * 1000.0 + 0.5) AS BIGINT) AS w " +
       "FROM documents GROUP BY 1), " +
       "t AS (SELECT CAST(SUM(n) AS BIGINT) AS tot_n, CAST(SUM(w) AS BIGINT) AS tot_w FROM c), " +
       "q AS (SELECT source, n, w, LEAST((tot_n // 2) * w // tot_w, n) AS quota " +
       "FROM c CROSS JOIN t), " +
       "b AS (SELECT doc_id, source, " + phashSql("doc_id", "temp:") + " AS hk FROM documents), " +
       "r AS (SELECT b.doc_id, b.source, q.w, q.quota, " +
       "row_number() OVER (PARTITION BY b.source ORDER BY hk, doc_id) AS rn " +
       "FROM b JOIN q ON b.source = q.source) " +
       "SELECT doc_id, source, w AS temp_w, quota " +
       "FROM r WHERE rn <= quota ORDER BY doc_id"),
    "sample_dedup_weighted" ->
      // the same contentHash normalization as text_dedup_by_source,
      // basis-point unique-mass weights, integer quota arithmetic
      // (// == DIV on nonnegative), the shared salted hash selector
      ("WITH c AS (SELECT source, COUNT(*) AS n, " +
       "CAST(COUNT(DISTINCT sha256(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'))) AS BIGINT) AS nu " +
       "FROM documents GROUP BY 1), " +
       "t AS (SELECT CAST(SUM(n) AS BIGINT) AS tot_n, CAST(SUM(nu) AS BIGINT) AS tot_u FROM c), " +
       "q AS (SELECT source, n, nu, nu * 10000 // tot_u AS uniq_bp FROM c CROSS JOIN t), " +
       "q2 AS (SELECT q.source, q.n, q.nu, q.uniq_bp, " +
       "LEAST((tot_n // 2) * uniq_bp // 10000, n) AS quota FROM q CROSS JOIN t), " +
       "b AS (SELECT doc_id, source, " + phashSql("doc_id", "dedupw:") + " AS hk FROM documents), " +
       "r AS (SELECT b.doc_id, b.source, q2.uniq_bp, q2.quota, " +
       "row_number() OVER (PARTITION BY b.source ORDER BY hk, doc_id) AS rn " +
       "FROM b JOIN q2 ON b.source = q2.source) " +
       "SELECT doc_id, source, CAST(uniq_bp AS INT) AS uniq_bp, CAST(quota AS BIGINT) AS quota " +
       "FROM r WHERE rn <= quota ORDER BY doc_id"),
    "sample_epoch_plan" ->
      // same declared weights, shared token count (len of the split),
      // integer epoch arithmetic (// == DIV on nonnegative)
      ("WITH p AS (SELECT source, (CAST(substring(source, 4) AS BIGINT) % 4 + 1) AS num, " +
       "COUNT(*) AS n_docs, " +
       "CAST(SUM(CAST(len(string_split(text, ' ')) AS BIGINT)) AS BIGINT) AS avail_tokens " +
       "FROM documents GROUP BY 1, 2), " +
       "t AS (SELECT CAST(SUM(avail_tokens) AS BIGINT) AS tot_tokens FROM p), " +
       "q AS (SELECT source, num, n_docs, avail_tokens, " +
       "(tot_tokens // 2) * num // 50 AS target_tokens FROM p CROSS JOIN t) " +
       "SELECT source, CAST(num AS INT) AS target_w, n_docs, avail_tokens, target_tokens, " +
       "CAST(LEAST(target_tokens // avail_tokens, 4) AS INT) AS epochs, " +
       "target_tokens % avail_tokens AS rem_tokens, " +
       "target_tokens // avail_tokens > 4 AS capped " +
       "FROM q ORDER BY source")
  )
}
