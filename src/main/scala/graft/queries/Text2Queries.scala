package graft.queries

import graft.Tables
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import Qutil._
import graft.functions.GraftFunctions.simhash60

/** SURVEY §2.11 extensions — the text-analysis battery a training-data
  * pipeline runs per document (B-mandate): language-ID heuristic, quality
  * scoring, token counting (whitespace + subword regex), content
  * fingerprinting (rolling hash), and SimHash near-dup blocking.
  *
  * All per-document: embarrassingly parallel map work over the corpus —
  * the 100 TB shape is a single scan, no shuffle except final ordering. */
object Text2Queries {

  // Deterministic literal marker lists (a real system would ship per-lang
  // frequency tables; the heuristic shape — distinct-token overlap argmax —
  // is the same).
  private val markers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "nicht", "mit"),
    "en" -> Seq("the", "and", "of", "to", "is", "in"),
    "es" -> Seq("el", "la", "los", "que", "por", "con"),
    "fr" -> Seq("le", "la", "les", "et", "pour", "dans"),
    "zh" -> Seq("de", "shi", "bu", "le", "wo", "ni"))

  private val stopwords = Seq("the", "and", "of", "to", "is", "in", "a", "on",
    "for", "with", "by", "at", "or", "key", "order")

  /** THE marker-overlap language prediction frame (doc_id, lang,
    * pred_lang, matches) — shared by text_langid and text_langid_eval
    * (extracted r11) so the declared prediction and its evaluation can
    * never diverge; the quality gate's oracle mirrors the same
    * marker/pred SQL strings. */
  private def langidPred(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    val dtoks = array_distinct(split(col("text"), " "))
    val scored = Tables.documents(s, d)
      .withColumn("dt", dtoks)
      .select(Seq(col("doc_id"), col("lang")) ++ markers.map { case (l, ws) =>
        size(array_intersect(col("dt"), array(ws.map(lit): _*))).as(s"s_$l")
      }: _*)
    val mx = greatest(markers.map { case (l, _) => col(s"s_$l") }: _*)
    val pred = markers.foldLeft(when(mx === 0, "und")) { case (acc, (l, _)) =>
      acc.when(col(s"s_$l") === mx, l)
    }
    scored.select(col("doc_id"), col("lang"), pred.as("pred_lang"), mx.as("matches"))
  }

  /** The quality-score formula, defined ONCE for both the Spark side and
    * the oracle SQL (text_quality and text_dedup_keep_best must rank with
    * the identical score or dedup survivors silently drift). Returns the
    * component columns + composite; all from exact integer ratios. */
  private[graft] def qualityCols(textCol: org.apache.spark.sql.Column) = {
    val tk = split(textCol, " ")
    // r15: typedlit = ONE Literal node returning the same ArrayData every
    // eval; the old array(lit...) CreateArray sat inside the filter
    // lambda body and re-allocated the 40-entry array per TOKEN (the r12
    // literal-array lesson)
    val stopArr = typedlit(stopwords)
    val nTok = size(tk)
    val nUniq = size(array_distinct(tk))
    val sumLen = aggregate(tk, lit(0L), (acc, t) => acc + length(t).cast(LongType))
    val nStop = size(filter(tk, t => array_contains(stopArr, t)))
    val uniqR = nUniq.cast(DoubleType) / nTok
    val avgLen = sumLen.cast(DoubleType) / nTok
    val stopR = nStop.cast(DoubleType) / nTok
    val score = uniqR * 0.5 + (lit(1.0) - stopR) * 0.3 + least(avgLen / 10.0, lit(1.0)) * 0.2
    (nTok, nUniq, uniqR, avgLen, stopR, score)
  }

  /** Same formula as a DuckDB SQL fragment over a `tk` list column. */
  private[queries] def qualityScoreSql: String = {
    val stopArr = stopwords.map(w => s"'$w'").mkString("[", ", ", "]")
    "(CAST(len(list_distinct(tk)) AS DOUBLE)/len(tk))*0.5 + " +
      s"(1.0 - CAST(len(list_filter(tk, t -> list_contains($stopArr, t))) AS DOUBLE)/len(tk))*0.3 + " +
      "LEAST((CAST(list_sum(list_transform(tk, t -> CAST(length(t) AS BIGINT))) AS DOUBLE)/len(tk))/10.0, 1.0)*0.2"
  }

  val queries: Map[String, Q] = Map(
    // n-gram/marker-overlap language ID: argmax of distinct-token overlap
    // with per-language marker lists, alphabetical tie-break, 'und' if none.
    "text_langid" -> ((s, d) => langidPred(s, d).orderBy("doc_id")),

    // Language-ID EVALUATION table (r11) — the confusion matrix of the
    // marker heuristic against the labeled lang column (the fixture
    // ships ground truth; a real pipeline runs this on its labeled eval
    // slice): one corpus scan lands the BOUNDED (actual × predicted)
    // grid, which checkpoints once (three consumers — the grid itself
    // and both marginals; the chi2 multi-consumer rule) and everything
    // downstream is grid-sized: marginals by re-aggregating the GRID
    // (never a second corpus scan), broadcast joins, per-cell recall/
    // precision shares as one fixed division each (exact integer
    // counts → r6 holds). The shared langidPred frame is the ONE
    // prediction definition — gate, langid and this eval can never
    // disagree on what the heuristic says.
    "text_langid_eval" -> ((s, d) => {
      val conf = langidPred(s, d).groupBy("lang", "pred_lang")
        .agg(count(lit(1)).as("n")).transform(graft.operators.Scale.materialize)
      val byLang = conf.groupBy("lang").agg(sum("n").as("n_lang"))
      val byPred = conf.groupBy("pred_lang").agg(sum("n").as("n_pred"))
      conf.join(broadcast(byLang), "lang").join(broadcast(byPred), "pred_lang")
        .selectExpr("lang", "pred_lang", "n", "n_lang", "n_pred",
          s"${r6Sql("CAST(n AS DOUBLE) / CAST(n_lang AS DOUBLE)")} AS recall_share",
          s"${r6Sql("CAST(n AS DOUBLE) / CAST(n_pred AS DOUBLE)")} AS precision_share")
        .orderBy("lang", "pred_lang")
    }),

    // Quality scoring: token counts, uniqueness ratio, avg token length,
    // stopword ratio, and a composite score — all from exact integer
    // ratios, so the doubles are bit-identical across engines.
    "text_quality" -> ((s, d) => {
      val (nTok, nUniq, uniqR, avgLen, stopR, score) = qualityCols(col("text"))
      Tables.documents(s, d)
        .select(col("doc_id"), nTok.as("n_tok"), nUniq.as("n_uniq"),
          r6(uniqR).as("uniq_ratio"), r6(avgLen).as("avg_token_len"),
          r6(stopR).as("stop_ratio"), r6(score).as("quality_score"))
        .orderBy("doc_id")
    }),

    // Token counting: whitespace tokens + BPE-ish subword regex pieces.
    "text_token_count" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          length(col("text")).as("n_chars_obs"),
          size(split(col("text"), " ")).as("ws_tokens"),
          size(regexp_extract_all(col("text"), lit("[a-z]+|[0-9]+"), lit(0))).as("subword_tokens"))
        .orderBy("doc_id")),

    // Document fingerprint: rolling polynomial hash over token values with
    // an explicit prime modulus (keeps ANSI long arithmetic overflow-free
    // and matches DuckDB's non-wrapping BIGINT semantics).
    "text_fingerprint" -> ((s, d) => {
      val p = 9007199254740881L
      val tokvals = transform(split(col("text"), " "),
        t => (length(t) * 31 + ascii(t)).cast(LongType))
      val fp = aggregate(tokvals, lit(0L), (acc, v) => pmod(acc * 131 + v, lit(p)))
      Tables.documents(s, d)
        .select(col("doc_id"), fp.as("fingerprint"))
        .orderBy("doc_id")
    }),

    // Composed quality GATE (r6e) — the keep/drop decision a curation
    // pipeline actually materializes (the C4/Gopher-rule shape): five
    // rules over the shared signal definitions — length floor, unique-
    // token ratio, stopword ceiling, trigram repetition, language
    // known — every comparison integer-cross-multiplied (no FP in any
    // predicate), reason = FIRST failing rule in a fixed order. The
    // whole gate is ONE row-local projection: a single map pass over
    // the corpus, no shuffle except the final ordering — the shape
    // that runs at any scale as a streaming or batch filter.
    "text_quality_gate" -> ((s, d) => {
      val tk = split(col("text"), " ")
      val dt = array_distinct(tk)
      val stopArr = typedlit(stopwords)  // one Literal — see qualityCols (r15)
      val scores = markers.map { case (l, ws) =>
        (l, size(array_intersect(dt, array(ws.map(lit): _*)))) }
      val mx = greatest(scores.map(_._2): _*)
      val pred = scores.foldLeft(when(mx === 0, "und")) {
        case (acc, (l, sc)) => acc.when(sc === mx, l) }
      val tri = trigramsOf(tk)
      Tables.documents(s, d)
        .select(col("doc_id"),
          size(tk).as("n_tok"), size(dt).as("n_uniq"),
          size(filter(tk, t => array_contains(stopArr, t))).as("n_stop"),
          size(tri).as("n_tri"),
          (size(tri) - size(array_distinct(tri))).as("dup_tri"),
          pred.as("pred_lang"))
        .select(col("doc_id"), col("n_tok"), col("pred_lang"),
          (col("n_tok") >= 5).as("r_len"),
          (col("pred_lang") =!= "und").as("r_lang"),
          (col("n_uniq") * 10 >= col("n_tok") * 3).as("r_uniq"),
          (col("n_stop") * 10 <= col("n_tok") * 6).as("r_stop"),
          (col("n_tri") === 0 || col("dup_tri") * 100 <= col("n_tri") * 18).as("r_rep"))
        .withColumn("reason",
          when(!col("r_len"), "too_short")
            .when(!col("r_lang"), "lang_unknown")
            .when(!col("r_uniq"), "low_uniq")
            .when(!col("r_stop"), "stop_heavy")
            .when(!col("r_rep"), "repetitive")
            .otherwise("pass"))
        .withColumn("keep", col("reason") === "pass")
        .orderBy("doc_id")
    }),

    // Winnowing fingerprint dup detection (r6e) — the LOCAL-substring
    // member of the dedup family (exact/minhash/simhash compare whole
    // docs; winnowing finds docs sharing a copied PASSAGE): trigram
    // shingle hashes, the min hash of each sliding window of winnowW
    // shingles selected as the doc's fingerprints (the MOSS selection —
    // any shared token run of >= winnowW + 2 tokens is GUARANTEED to
    // yield a shared fingerprint; PropertySpec pins the guarantee on a
    // planted run). Pairs come from the inverted-index equality join on
    // (source, fingerprint) — never all-pairs, the text_near_dup_ngram
    // posture; at 100 TB the one extra guard is dropping stop-
    // fingerprints (corpus-hot buckets) before the self-join, exactly
    // the dictionary prefilter the ngram query already demonstrates.
    // All-integer counts; the only FP is the final fixed division.
    // Content-defined chunking (r6f) — the STORAGE-dedup primitive
    // (rsync/LBFS/backup-dedup lineage): chunk boundaries fall where the
    // rolling content hash hits a pattern (trigram hash ≡ 0 mod 16,
    // expected chunk ~16 tokens), so an insertion early in a document
    // shifts no boundary after the next cut point — unlike fixed-width
    // text_chunk, where one added token reflows every downstream chunk.
    // Reuses the SAME winnowHs trigram-hash frame as text_winnow_dup
    // (one shingle-hash definition corpus-wide). Both hs and the cut
    // array are CHECKPOINTED before the span transform references them
    // repeatedly (the r6e windowed-HOF corollary: an inlined expensive
    // array column re-evaluates per reference). Emission: chunk hashes
    // shared by >= 2 docs with occurrence/doc counts — the dedup-able
    // bytes census, all integer.
    "text_cdc_chunks" -> ((s, d) =>
      cdcChunks(Tables.documents(s, d))
        .select(col("doc_id"), hash60(col("chunk")).as("chunk_hash"))
        .groupBy("chunk_hash")
        .agg(count(lit(1)).as("n_occ"), count_distinct(col("doc_id")).as("n_docs"))
        .where(col("n_docs") >= 2)
        .orderBy("chunk_hash")),

    "text_winnow_dup" -> ((s, d) => {
      val tk = split(col("text"), " ")
      // materialize the sha256 shingle hashes ONCE before the windowed
      // min references them per-window (see winnowHs scaladoc; at
      // cluster scale this checkpoint is the landed fingerprint table)
      val base = Tables.documents(s, d)
        .where(size(tk) >= 3)
        .select(col("doc_id"), col("source"), winnowHs(tk).as("hs"))
        .transform(graft.operators.Scale.materialize)
      val docs = base
        .select(col("doc_id"), col("source"), winnowSelect(col("hs")).as("fps"))
      val e = docs.select(col("doc_id"), col("source"),
        size(col("fps")).as("nfp"), explode(col("fps")).as("fp"))
      e.as("a").join(e.as("b"),
          col("a.source") === col("b.source") && col("a.fp") === col("b.fp") &&
          col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .agg(count(lit(1)).as("shared"),
          max(col("a.nfp")).as("n_a"), max(col("b.nfp")).as("n_b"))
        .where(col("shared") >= 2)
        .select(col("doc_a"), col("doc_b"), col("shared"), col("n_a"), col("n_b"),
          r6(col("shared").cast(DoubleType) /
            least(col("n_a"), col("n_b")).cast(DoubleType)).as("containment"))
        .orderBy("doc_a", "doc_b")
    }),

    // Exact shared-span dedup (r8, the r7 verdict's ask #4) — the
    // span-GRAIN member of the dedup family (winnowing detects local
    // overlap approximately; this reports the exact longest shared
    // token run per candidate pair, the Lee et al. deduplicate-
    // text-datasets statistic a excision pass needs). Candidates from
    // the winnow fingerprint inverted index (bucketed, never
    // all-pairs); exact extension via matched trigram positions on
    // diagonals + gaps-and-islands maximal runs (sharedSpans — shared
    // with PropertySpec's planted-run test). All integer.
    "text_shared_span" -> ((s, d) => sharedSpans(Tables.documents(s, d))),

    // One BPE merge round (r8, the r7 verdict's ask #5) — what a
    // tokenizer trainer computes per iteration: the most frequent
    // adjacent character pair over the word-frequency dictionary,
    // with the deterministic (count DESC, pair ASC) tie-break. Top-20
    // emitted with ranks (bpeMergeRound — shared with PropertySpec's
    // known-merge-order corpus).
    "text_bpe_merges" -> ((s, d) => bpeMergeRound(Tables.documents(s, d))),

    // Multi-round BPE training (r9): 3 chained merge rounds at
    // dictionary grain — apply the round-k top merge to the word
    // forms, recount, emit (round, rank, pair, merged, cnt). See
    // bpeTrain for the closed-form greedy-merge parity argument.
    "text_bpe_train" -> ((s, d) => bpeTrain(Tables.documents(s, d))),

    // BPE encoder (r9c) — see bpeApply: re-derives the same 3-round
    // merge chain and emits the encoded dictionary with per-form
    // compression.
    "text_bpe_apply" -> ((s, d) => bpeApply(Tables.documents(s, d))),

    // Tokenizer FERTILITY census (r11) — the sizing metric a training
    // pipeline reads before fixing a tokenizer: pieces-per-word
    // (fertility) and chars-per-piece (compression) per SOURCE, over
    // the SAME 3-round BPE chain text_bpe_train/apply declare (bpeApply
    // is the one encoder def — trainer, encoder, and this census can
    // never disagree on the merges). Dictionary grain throughout (the
    // fn_fuzzy_match lesson): the corpus feeds one (source, tok) count
    // aggregate; the encoded dictionary joins in at tok grain; words
    // the length>=2 dictionary excludes (single chars) are 1 piece by
    // definition (COALESCE both engines). Sums are exact BIGINT; the
    // two ratios are shared fixed-order formula strings at r6. 100 TB
    // shape: one keyed aggregate + one dictionary-sized equality join.
    "text_tokenizer_fertility" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val dict = bpeApply(docs).select(col("tok"), col("n_syms"))
      val wc = docs
        .select(col("source"), explode(split(col("text"), " ")).as("tok"))
        .groupBy("source", "tok").agg(count(lit(1)).as("n"))
      wc.join(dict, Seq("tok"), "left")
        .groupBy("source")
        .agg(sum(col("n")).as("n_words"),
          sum(col("n") * coalesce(col("n_syms").cast("long"), lit(1L))).as("n_pieces"),
          sum(col("n") * length(col("tok")).cast("long")).as("n_chars"))
        .selectExpr("source", "n_words", "n_pieces", "n_chars",
          s"$fertilityF AS fertility", s"$charsPerPieceF AS chars_per_piece")
        .orderBy("source")
    }),

    // Inverted-index construction (r9) — the IR primitive under BM25 /
    // tf-idf (both consume postings implicitly; this DECLARES the index
    // build): per term, document frequency, collection frequency, and a
    // bounded posting-list sample (the 5 smallest doc_ids). The sample
    // is ranked BEFORE aggregation AND the ranking is SALTED two-stage
    // (r9b self-review): a hot term's posting list is corpus-sized, so
    // a window keyed on the term alone would funnel it through one
    // reducer — stage 1 takes the per-(term, salt) top-5 across 16
    // salt lanes (each lane ~df/16), stage 2 re-ranks the <= 80
    // survivors per term. min-of-lane-mins == global min, so the
    // emission is identical to the unsalted spelling; no aggregate
    // ever collects or sorts a df-sized list. One explode + two keyed
    // aggregates + two bounded-fan windows.
    "text_postings" -> ((s, d) => {
      val tk = Tables.documents(s, d)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      val cf = tk.groupBy("term").agg(count(lit(1)).as("cf"))
      val dd = tk.distinct()
      val df = dd.groupBy("term").agg(count(lit(1)).as("df"))
      val w1 = Window.partitionBy("term", "salt").orderBy("doc_id")
      val w2 = Window.partitionBy("term").orderBy("doc_id")
      val top = dd
        .withColumn("salt", pmod(xxhash64(col("doc_id")), lit(16)).cast("int"))
        .withColumn("rn1", row_number().over(w1)).where(col("rn1") <= 5)
        .withColumn("rn", row_number().over(w2)).where(col("rn") <= 5)
        .groupBy("term")
        .agg(concat_ws(",", transform(array_sort(collect_list(col("doc_id"))),
          x => x.cast(StringType))).as("top_docs"))
      cf.join(df, "term").join(top, "term")
        .select("term", "df", "cf", "top_docs")
        .orderBy("term")
    }),

    // Keep-BEST dedup: per normalized-content hash keep the highest
    // quality-score duplicate (ties to the smaller doc_id) — the form a
    // training-data pipeline actually wants, vs keep-min-id. The score is
    // pure integer-ratio arithmetic, so the ranking is bit-identical on
    // both engines.
    "text_dedup_keep_best" -> ((s, d) => {
      val (_, _, _, _, _, score) = qualityCols(col("text"))
      val h = sha2(regexp_replace(lower(col("text")), "[^a-z0-9 ]", ""), 256)
      val w = Window.partitionBy("h").orderBy(col("q").desc, col("doc_id"))
      Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), h.as("h"), score.as("q"))
        .withColumn("rn", row_number().over(w))
        .where(col("rn") === 1)
        .select(col("doc_id"), col("lang"), col("h"), r6(col("q")).as("quality"))
        .orderBy("doc_id")
    }),

    // Unigram log-probability scoring — the LM-based quality signal every
    // training-data pipeline runs (docs of improbable tokens are noise;
    // the "LM" is the corpus's own unigram distribution, so the op is two
    // aggregates + an inverted join, no model). score_d = mean over d's
    // token OCCURRENCES of ln(corpus_freq(tok)/total_tokens). Rounded to
    // 3 dp like agg_udaf_geomean: the per-doc sum of ln() terms is order-
    // sensitive at the ulp level and engines' libm may differ by 1 ulp
    // per term — 6 dp would flake, 3 is stable (<=64 tokens/doc).
    // Distributes on the token key (freq join) then the doc key.
    "text_unigram_logprob" -> ((s, d) => {
      val t = Tables.documents(s, d)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      val freq = t.groupBy("tok").agg(count(lit(1)).as("cf"))
      val tot = freq.agg(sum(col("cf")).as("tn"))
      t.join(freq, "tok").crossJoin(broadcast(tot))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"),
          r3(avg(log(col("cf").cast("double") / col("tn").cast("double"))))
            .as("logprob"))
        .orderBy("doc_id")
    }),

    // SimHash near-dup: 60-bit signature from signed bit-sums of token
    // hashes; candidate pairs blocked by 15-bit bands within a source, kept
    // at Hamming distance <= 8. The token hash is the portable sha256-
    // derived 60-bit value (same as text_minhash_lsh), so the result is
    // fully oracle-checked (round 1 used xxhash64 — no DuckDB equivalent —
    // and had only structural locality tests).
    "text_simhash" -> ((s, d) => {
      val hs = transform(array_distinct(split(col("text"), " ")),
        t => hash60(t))
      // r15: the bit-vote fold + 60 extract-only threshold sites (which
      // CollapseProject inlined, re-running the interpreted fold per bit
      // — the r12 extract-reference rule) are now ONE native fused
      // kernel, graft.functions.Simhash60: identical integer votes and
      // packing (ExpressionSpec pins it against the HOF spelling),
      // whole-stage codegen, one pass per doc.
      val sim = Tables.documents(s, d)
        .select(col("doc_id"), col("source"),
          simhash60(hs).as("simhash"))
      val bands = sim.select(col("doc_id"), col("source"), col("simhash"),
        explode(array((0 until 4).map(k => struct(lit(k).as("k"),
          shiftright(col("simhash"), k * 15).bitwiseAND(lit(0x7FFFL)).as("bv"))): _*)).as("b"))
        .select(col("doc_id"), col("source"), col("simhash"),
          col("b.k").as("k"), col("b.bv").as("bv"))
      bands.as("x").join(bands.as("y"),
          col("x.source") === col("y.source") && col("x.k") === col("y.k") &&
          col("x.bv") === col("y.bv") && col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
          bit_count(col("x.simhash").bitwiseXOR(col("y.simhash"))).as("hamming"))
        .distinct()
        .where(col("hamming") <= 8)
        .orderBy("doc_a", "doc_b")
    }),

    // Per-doc token ENTROPY: -sum p ln p over the doc's token histogram —
    // the repetitiveness signal (low entropy = boilerplate/spam, the
    // classic cheap quality gate next to the LM scores). Two keyed
    // aggregates (per-(doc, tok) counts, then per-doc entropy) — both
    // partial-aggregable, shuffling on doc-scoped keys. ln terms sum in
    // engine-dependent order: transcendental-aggregate rule, round 3.
    "text_entropy" -> ((s, d) => {
      val t = Tables.documents(s, d)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      val cnt = t.groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
      val tot = cnt.groupBy("doc_id").agg(sum(col("c")).as("n"))
      cnt.join(tot, "doc_id")
        .groupBy("doc_id")
        .agg(max(col("n")).as("n_tokens"),
          r3(-sum((col("c").cast("double") / col("n").cast("double")) *
            log(col("c").cast("double") / col("n").cast("double"))))
            .as("entropy"))
        .orderBy("doc_id")
    }),

    // Lexical richness per source (r6g) — the vocabulary-growth curation
    // gauge next to the Zipf fit (Zipf asks "is the frequency band
    // natural", this asks "how diverse is each source's vocabulary"):
    // pooled type-token ratio vocab/N (ratio of exact corpus sums — a
    // mean of per-doc ratios would be an order-dependent double sum),
    // hapax count (cf = 1 — zero on the near-uniform fixture, by
    // design), and Herdan's C = ln V / ln N (the size-robust variant:
    // two lns on exact-integer-derived doubles per bounded source row,
    // one division — round 6 per the psi argument, not a corpus ln-sum).
    // Shape: one exploded (source, tok) histogram + two keyed partial-
    // aggregable rollups; output bounded by the source count.
    "text_lexical_richness" -> ((s, d) => {
      val t = Tables.documents(s, d)
        .select(col("source"), explode(split(col("text"), " ")).as("tok"))
      val cf = t.groupBy("source", "tok").agg(count(lit(1)).as("c"))
      val per = cf.groupBy("source").agg(
        count(lit(1)).as("vocab"),
        sum("c").as("n_tokens"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).as("n_hapax"))
      val docs = Tables.documents(s, d).groupBy("source")
        .agg(count(lit(1)).as("n_docs"))
      per.join(docs, "source")
        .selectExpr("source", "n_docs", "n_tokens", "vocab", "n_hapax",
          s"$ttrF AS ttr", s"$herdanF AS herdan_c")
        .orderBy("source")
    }),

    // Doc-length profile per source (r6g) — the truncation/packing
    // planner's table (context windows are sized against length
    // percentiles, not means): exact discrete p10/p50/p90 token counts
    // per source via the agg_percentile_disc integer rank rule ((ts,
    // doc_id)-unique ordering, position ((n−1)·p) DIV den + 1), plus
    // total token mass. ENTIRELY integer — nothing to round anywhere.
    // One keyed window + one partial-aggregable groupBy per source.
    "text_doclen_profile" -> ((s, d) => {
      val w = Window.partitionBy("source").orderBy(col("tk"), col("doc_id"))
      val b = Tables.documents(s, d)
        .select(col("source"), col("doc_id"),
          size(split(col("text"), " ")).as("tk"))
        .withColumn("rn", row_number().over(w).cast("long"))
        .withColumn("n", count(lit(1)).over(Window.partitionBy("source")))
      def pick(num: Int, den: Int) =
        max(when(col("rn") === expr(s"((n - 1) * $num) DIV $den + 1"), col("tk")))
      b.groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum(col("tk").cast("long")).as("n_tokens"),
          pick(1, 10).as("p10_tokens"), pick(1, 2).as("p50_tokens"),
          pick(9, 10).as("p90_tokens"), max("tk").as("max_tokens"))
        .orderBy("source")
    }),

    // Quality-score distribution census (r6g) — the observability
    // companion to text_quality_gate / sample_quality_weighted: bucket
    // every doc's shared quality score into basis-point deciles
    // (rate_bp = floor(score·10000 + 0.5) — the EXACT integer the
    // weighted sampler already thresholds on, so the histogram and the
    // sampler can never disagree about a doc's score), then the bounded
    // 0..10 bucket census with source spread. The table you read after
    // a new crawl lands ("did the quality mix shift") before any gate
    // thresholds move. One map-side score pass + one bounded-key
    // aggregate, zero-filled.
    "text_quality_histogram" -> ((s, d) => {
      val (_, _, _, _, _, score) = qualityCols(col("text"))
      val b = Tables.documents(s, d)
        .withColumn("rate_bp", floor(score * 10000.0 + 0.5).cast(IntegerType))
        .selectExpr("source", "rate_bp", "CAST(rate_bp DIV 1000 AS INT) AS bucket")
      val cnts = b.groupBy("bucket")
        .agg(count(lit(1)).as("n_docs"), countDistinct(col("source")).as("n_sources"),
          min("rate_bp").as("min_bp"), max("rate_bp").as("max_bp"))
      val grid = s.range(0, 11).select(col("id").cast(IntegerType).as("bucket"))
      grid.join(cnts, Seq("bucket"), "left")
        .na.fill(0L, Seq("n_docs", "n_sources"))
        .select(col("bucket"), col("n_docs"), col("n_sources"),
          col("min_bp"), col("max_bp"))
        .orderBy("bucket")
    }),

    // Per-source distribution divergence (r6g) — "which source is
    // off-mix": Jensen–Shannon divergence of each source's unigram
    // distribution against the corpus-wide distribution, the gauge a
    // mixing pipeline reads next to sample_target_mix (quotas say how
    // MUCH each source contributes; this says how DIFFERENT what it
    // contributes is). Support is the full (source × vocab) grid
    // (bounded: vocab × sources rows — the driftBuckets zero-fill
    // lifted to text), built with ONE exploded (source, tok) histogram
    // scan: corpus counts derive from the source counts by re-
    // aggregation, never a second documents scan. Per-source totals
    // join back keyed; the smoothed p/q/m/term arithmetic is the shared
    // srcJsTermF string; each source's JSD folds its bounded vocabulary
    // in tok order (keyed collect_list — PlanGuard-safe).
    "text_source_divergence" -> ((s, d) => {
      val t = Tables.documents(s, d)
        .select(col("source"), explode(split(col("text"), " ")).as("tok"))
      val sc = t.groupBy("source", "tok").agg(count(lit(1)).as("c"))
        .transform(graft.operators.Scale.materialize)   // bounded (|sources| × vocab); 4 consumers
      val cc = sc.groupBy("tok").agg(sum("c").as("cg"))
      val stot = sc.groupBy("source").agg(sum("c").as("ns"))
      val gv = cc.agg(sum("cg").as("ng"), count(lit(1)).as("vv"))
      val grid = sc.select("source").distinct()
        .crossJoin(broadcast(cc))
      val terms = grid.join(sc, Seq("source", "tok"), "left")
        .na.fill(0L, Seq("c"))
        .join(broadcast(stot), "source")
        .crossJoin(broadcast(gv))
        .selectExpr("source", "tok", "ns", s"$srcJsTermF AS term_raw")
      terms.groupBy("source")
        .agg(max("ns").as("n_tokens"), expr(
          "aggregate(transform(array_sort(collect_list(struct(tok, term_raw))), " +
            "x -> x.term_raw), CAST(0.0 AS DOUBLE), (a, x) -> a + x)").as("jsd_raw"))
        .selectExpr("source", "n_tokens", "((CASE WHEN isnan((jsd_raw)) OR abs((jsd_raw)) >= 9e12 THEN CAST((jsd_raw) AS DOUBLE) ELSE CAST(floor((jsd_raw) * 1e6 + 0.5) AS DOUBLE) / 1e6 END)) AS jsd")
        .orderBy("source")
    }),

    // Bigram-LM quality scoring: per-doc mean ln P(w2 | w1) over bigram
    // occurrences, with corpus-MLE conditionals c(w1 w2)/c(w1 ·) — one
    // step up the LM-filter ladder from text_unigram_logprob (fluency:
    // how predictable is each next word given the previous, the signal a
    // perplexity filter thresholds on). Conditional counts are two
    // shuffle-on-key aggregates over the exploded bigram stream; the
    // per-doc mean is partial-aggregable on doc_id. ln follows the
    // transcendental-aggregate rule: round 3, never 6.
    "text_bigram_logprob" -> ((s, d) => {
      val bigrams = bigramsOf(split(col("text"), " "))
      // r16: materialized ONCE — three consumers (both count aggregates
      // + the scoring join) each re-ran the split + bigram explode +
      // per-row re-split
      val t = graft.operators.Scale.materialize(Tables.documents(s, d)
        .select(col("doc_id"), explode(bigrams).as("bg"))
        .withColumn("w1", element_at(split(col("bg"), " "), 1)))
      val c2 = t.groupBy("bg").agg(count(lit(1)).as("c2"))
      val c1 = t.groupBy("w1").agg(count(lit(1)).as("c1"))
      t.join(c2, "bg").join(c1, "w1")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"),
          r3(avg(log(col("c2").cast("double") / col("c1").cast("double"))))
            .as("logprob"))
        .orderBy("doc_id")
    }),

    // ASYMMETRIC near-dup: containment C(a,b) = |sh(a) ∩ sh(b)| / |sh(a)|
    // over distinct bigram shingles — catches a doc SUBSUMED by a longer
    // one (quote inclusion, page-in-crawl, truncated re-crawl), which
    // symmetric Jaccard misses when sizes differ (|A∩B|/|A∪B| shrinks as
    // |B| grows; |A∩B|/|A| doesn't). Same sparse-regime inverted-index
    // join as text_near_dup_ngram (the equality join IS the filter);
    // ordered pairs survive iff inter*10 >= 8*|A| — the threshold is an
    // exact integer cross-multiply, the emitted ratio one IEEE division.
    // The size prefilter (|B| >= 0.8|A|, also integer) prunes pairs the
    // threshold could never accept before the aggregate.
    "text_containment" -> ((s, d) => {
      val bigrams = bigramsOf(split(col("text"), " "))
      // r16: materialized ONCE (three consumers — the text_near_dup_ngram
      // rationale verbatim)
      val t = graft.operators.Scale.materialize(Tables.documents(s, d)
        .select(col("doc_id"), col("source"), explode(bigrams).as("bg"))
        .distinct())
      val sizes = t.groupBy("doc_id").agg(count(lit(1)).as("nt"))
      val ts = t.join(sizes, "doc_id")
      ts.as("a").join(ts.as("b"),
          col("a.bg") === col("b.bg") && col("a.source") === col("b.source") &&
          col("a.doc_id") =!= col("b.doc_id") &&
          col("b.nt") * 10 >= col("a.nt") * 8)
        .groupBy(col("a.doc_id").as("doc_inner"), col("b.doc_id").as("doc_outer"),
          col("a.nt").as("na"), col("b.nt").as("nb"))
        .agg(count(lit(1)).as("inter"))
        .where(col("inter") * 10 >= col("na") * 8)
        .select(col("doc_inner"), col("doc_outer"), col("na"), col("nb"),
          col("inter"),
          r6(col("inter").cast(DoubleType) / col("na").cast(DoubleType)).as("containment"))
        .orderBy("doc_inner", "doc_outer")
    }),

    // Repetition quality rules (r6d) — the Gopher/C4-style boilerplate
    // gate next to entropy and the LM scores: fraction of a doc's bigram
    // stream covered by its single most frequent bigram (templated spam
    // repeats one phrase) and fraction of trigram occurrences that are
    // repeats of an earlier trigram (copy-paste padding). Shape: the
    // text_entropy histogram pattern — explode the shared shingles,
    // count per (doc, shingle), roll up per doc (both aggregates
    // partial-aggregable, shuffling on doc-scoped keys) — NOT an in-row
    // distinct x occurrences scan, which is O(doc_len^2) per row and
    // dies on real web documents (measured 3.9 s vs 2.0 s even on the
    // <=100-token fixture). The flag is an integer cross-multiply
    // (threshold 0.18 as 18/100 — no FP in the predicate); fractions
    // are exact integer ratios: round 6 holds bit-identical.
    "text_repetition" -> ((s, d) => {
      val tk = split(col("text"), " ")
      // r15: two consumers (bigram + trigram histograms) re-ran the
      // split + shingle HOFs per consumer — materialize once
      val base = Tables.documents(s, d)
        .select(col("doc_id"), bigramsOf(tk).as("bg"), trigramsOf(tk).as("tri"))
        .transform(graft.operators.Scale.materialize)
      val bgc = base.select(col("doc_id"), explode(col("bg")).as("g"))
        .groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
        .groupBy("doc_id")
        .agg(sum("c").cast(IntegerType).as("n_bigrams"),
          max("c").cast(IntegerType).as("top_bigram_cnt"))
      val tric = base.select(col("doc_id"), explode(col("tri")).as("g"))
        .groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
        .groupBy("doc_id")
        .agg(sum("c").cast(IntegerType).as("n_trigrams"),
          (sum("c") - count(lit(1))).cast(IntegerType).as("dup_tri_cnt"))
      bgc.join(tric, "doc_id")
        .select(col("doc_id"), col("n_bigrams"), col("top_bigram_cnt"),
          r6(col("top_bigram_cnt").cast(DoubleType) /
            col("n_bigrams").cast(DoubleType)).as("top2_frac"),
          col("n_trigrams"), col("dup_tri_cnt"),
          r6(col("dup_tri_cnt").cast(DoubleType) /
            col("n_trigrams").cast(DoubleType)).as("dup3_frac"),
          (col("top_bigram_cnt") * 100 > col("n_bigrams") * 18 ||
            col("dup_tri_cnt") * 100 > col("n_trigrams") * 18).as("repetitive"))
        .orderBy("doc_id")
    }),

    // Zipf-slope vocabulary fit — the corpus-health curation signal (a
    // natural-language corpus follows rank-frequency ln(f) ~= a + s*ln(r)
    // with s near -1; templated/spammy corpora bend the curve). The fit
    // domain is fixed to ranks 1..zipfK of the GLOBAL token frequency
    // table: top-K is a distributed TakeOrderedAndProject (never a global
    // window — no SinglePartition exchange over the vocabulary), and rank
    // assignment happens on the bounded K-row set via one global
    // collect_list aggregate + posexplode (the globalRank-style bounded
    // shape, deterministic tie-break cf DESC, tok ASC on both engines).
    // Cross-engine determinism: frequencies are exact integers; the only
    // FP enters at ln(rank)/ln(cf) and the five moment sums over K<=100
    // terms, so the geomean rule applies — ROUND 3, never 6 (libm ln
    // differs by 1 ulp per term between engines and the sum order drifts
    // ulps). Slope/intercept/r2 come from ONE shared formula string each
    // (zipfSlope/zipfIntercept/zipfR2) used verbatim in both dialects, so
    // the final op order cannot drift (the r5b agg_regression rule).
    "text_zipf_slope" -> ((s, d) => zipfFit(Tables.documents(s, d))),

    // Tokenizer/vocabulary coverage gauge (r9): per source, the
    // fraction of token OCCURRENCES outside the corpus top-25
    // vocabulary — the coverage check a tokenizer/embedding-table
    // deployment runs before freezing its vocab (high OOV mass on one
    // source = that domain will fragment into bytes/UNKs). Vocab =
    // top-25 by corpus frequency, deterministic (cf DESC, tok ASC) via
    // TakeOrderedAndProject; membership via a broadcast left join of
    // the bounded vocab; ONE keyed aggregate; all integer until the
    // emission division.
    "text_oov_rate" -> ((s, d) => {
      val toks = Tables.documents(s, d)
        .select(col("source"), explode(split(col("text"), " ")).as("tok"))
      val vocab = toks.groupBy("tok").agg(count(lit(1)).as("cf"))
        .orderBy(col("cf").desc, col("tok")).limit(25)
        .select(col("tok"), lit(1).as("in_vocab"))
      toks.join(broadcast(vocab), Seq("tok"), "left")
        .groupBy("source")
        .agg(count(lit(1)).as("n_tok"),
          sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
        .selectExpr("source", "n_tok", "n_oov",
          s"${r6Sql("CAST(n_oov AS DOUBLE) / CAST(n_tok AS DOUBLE)")} AS oov_rate")
        .orderBy("source")
    }),

    // PMI collocations (r6g) — the top-collK bigrams by frequency with
    // pointwise mutual information ln(N·c_xy / (c_x·c_y)), the classic
    // "is this pair a phrase or chance?" signal (Church & Hanks) that
    // feeds tokenizer merge rules and boilerplate detection. Shingles
    // come from the SHARED bigramsOf (the one-bigram-definition rule);
    // marginals c_x (first slot) and c_y (second slot) and the total N
    // all derive from the ONE bigram count frame, so the probability
    // model is self-consistent by construction. Counts are exact
    // integers; each emitted PMI is one correctly-rounded division +
    // ONE ln over a bounded term (the dq_drift_psi rule: round 6 holds
    // — the geomean round-3 rule is about corpus-sized ln SUMS). Top-K
    // via orderBy+limit (TakeOrderedAndProject, never a global window);
    // the count frame is checkpointed once (four consumers — top-K,
    // both marginals, the total; the chi2-grid rule).
    "text_collocations" -> ((s, d) => collocations(Tables.documents(s, d)))
  )

  /** The PMI collocation ranking over ANY corpus frame with a `text`
    * column — shared by the declared query and PropertySpec's
    * planted-phrase harness (the zipfFit pattern: the fixture's
    * near-uniform vocabulary makes all PMIs small, so the spec plants a
    * true phrase and a never-adjacent control through this same path). */
  private[graft] def collocations(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
      val bc = docs
        .select(explode(bigramsOf(split(col("text"), " "))).as("bg"))
        .groupBy("bg").agg(count(lit(1)).as("cnt"))
        .withColumn("x", element_at(split(col("bg"), " "), 1))
        .withColumn("y", element_at(split(col("bg"), " "), 2))
        .transform(graft.operators.Scale.materialize)
      val xc = bc.groupBy("x").agg(sum("cnt").as("cx"))
      val yc = bc.groupBy("y").agg(sum("cnt").as("cy"))
      val tot = bc.agg(sum("cnt").as("n_tot"))
      bc.orderBy(col("cnt").desc, col("bg")).limit(collK)
        .join(broadcast(xc), Seq("x")).join(broadcast(yc), Seq("y"))
        .crossJoin(broadcast(tot))
        .selectExpr("bg", "x", "y", "cnt", "cx", "cy", s"$pmiF AS pmi")
        .orderBy(col("cnt").desc, col("bg"))
  }

  /** Collocation list size — ONE constant for query and oracle. */
  private[graft] val collK = 50

  /** PMI emission — exact integer products (magnitudes far below 2^53),
    * one correctly-rounded division, one ln over a bounded term: round 6
    * holds (the dq_drift_psi precedent). Shared formula string. */
  /** Per-source Jensen–Shannon term (text_source_divergence) — shared
    * verbatim by query and oracle: Laplace-smoothed source distribution
    * p = (c+1)/(ns+vv) vs corpus distribution q = (cg+1)/(ng+vv) over
    * the full vocabulary grid (vv = vocab size), midpoint m, term
    * 0.5·(p·ln(p/m) + q·ln(q/m)). All inputs exact integers, fixed op
    * order, two lns per bounded term — the dq_js_drift round-6 argument
    * (vocab-sized sums, not corpus-sized). */
  private def srcP: String = "(CAST(c + 1 AS DOUBLE) / CAST(ns + vv AS DOUBLE))"
  private def srcQ: String = "(CAST(cg + 1 AS DOUBLE) / CAST(ng + vv AS DOUBLE))"
  private def srcJsTermF: String =
    s"0.5 * ($srcP * ln($srcP / (0.5 * ($srcP + $srcQ))) + " +
      s"$srcQ * ln($srcQ / (0.5 * ($srcP + $srcQ))))"

  /** Lexical-richness emissions (text_lexical_richness) — shared
    * verbatim by query and oracle (defs: the oracle Map init-order
    * rule). One division each over exact-integer-derived doubles. */
  private def ttrF: String =
    "((CASE WHEN isnan((CAST(vocab AS DOUBLE) / CAST(n_tokens AS DOUBLE))) OR abs((CAST(vocab AS DOUBLE) / CAST(n_tokens AS DOUBLE))) >= 9e12 THEN CAST((CAST(vocab AS DOUBLE) / CAST(n_tokens AS DOUBLE)) AS DOUBLE) ELSE CAST(floor((CAST(vocab AS DOUBLE) / CAST(n_tokens AS DOUBLE)) * 1e6 + 0.5) AS DOUBLE) / 1e6 END))"
  private def herdanF: String =
    "((CASE WHEN isnan((ln(CAST(vocab AS DOUBLE)) / ln(CAST(n_tokens AS DOUBLE)))) OR abs((ln(CAST(vocab AS DOUBLE)) / ln(CAST(n_tokens AS DOUBLE)))) >= 9e12 THEN CAST((ln(CAST(vocab AS DOUBLE)) / ln(CAST(n_tokens AS DOUBLE))) AS DOUBLE) ELSE CAST(floor((ln(CAST(vocab AS DOUBLE)) / ln(CAST(n_tokens AS DOUBLE))) * 1e6 + 0.5) AS DOUBLE) / 1e6 END))"

  private def pmiF: String =
    "((CASE WHEN isnan((ln(CAST(n_tot * cnt AS DOUBLE) / CAST(cx * cy AS DOUBLE)))) OR abs((ln(CAST(n_tot * cnt AS DOUBLE) / CAST(cx * cy AS DOUBLE)))) >= 9e12 THEN CAST((ln(CAST(n_tot * cnt AS DOUBLE) / CAST(cx * cy AS DOUBLE))) AS DOUBLE) ELSE CAST(floor((ln(CAST(n_tot * cnt AS DOUBLE) / CAST(cx * cy AS DOUBLE))) * 1e6 + 0.5) AS DOUBLE) / 1e6 END))"

  /** The Zipf ln-ln fit over ANY corpus frame with a `text` column — ONE
    * definition shared by the declared query (documents table) and the
    * PropertySpec synthetic-Zipf harness (the fixture's 31-token
    * near-uniform vocabulary cannot witness a natural-language slope, so
    * the spec feeds a true-Zipf corpus through this same code path). */
  private[graft] def zipfFit(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
      val freq = docs
        .select(explode(split(col("text"), " ")).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("cf"))
      val topk = freq.orderBy(col("cf").desc, col("tok")).limit(zipfK)
      // bounded rank: negated count makes ascending struct sort = (cf
      // DESC, tok ASC); posexplode position + 1 is the 1-based rank
      val ranked = topk
        .agg(sort_array(collect_list(struct((-col("cf")).as("negcf"),
          col("tok")))).as("a"))
        .select(posexplode(col("a")).as(Seq("pos", "r")))
        .select((col("pos") + 1).cast(LongType).as("rank"),
          (-col("r.negcf")).as("cf"))
      val m = ranked
        .select(log(col("rank").cast(DoubleType)).as("x"),
          log(col("cf").cast(DoubleType)).as("y"))
        .agg(count(lit(1)).cast(DoubleType).as("n"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("y") * col("y")).as("syy"))
      m.selectExpr("CAST(n AS BIGINT) AS k",
        s"((CASE WHEN isnan(($zipfSlope)) OR abs(($zipfSlope)) >= 9e12 THEN CAST(($zipfSlope) AS DOUBLE) ELSE CAST(floor(($zipfSlope) * 1e3 + 0.5) AS DOUBLE) / 1e3 END)) AS slope",
        s"((CASE WHEN isnan(($zipfIntercept)) OR abs(($zipfIntercept)) >= 9e12 THEN CAST(($zipfIntercept) AS DOUBLE) ELSE CAST(floor(($zipfIntercept) * 1e3 + 0.5) AS DOUBLE) / 1e3 END)) AS intercept",
        s"((CASE WHEN isnan(($zipfR2)) OR abs(($zipfR2)) >= 9e12 THEN CAST(($zipfR2) AS DOUBLE) ELSE CAST(floor(($zipfR2) * 1e3 + 0.5) AS DOUBLE) / 1e3 END)) AS r2")
  }

  /** Rank domain of the Zipf fit — ONE constant feeding the query, the
    * oracle, and PropertySpec. */
  private[graft] val zipfK = 100

  /** Winnowing window width (Schleimer/Wilkerson/Aiken §2): with trigram
    * shingles, any shared token run of length >= winnowW + 2 yields a
    * shared fingerprint. ONE constant for query, oracle, and
    * PropertySpec's guarantee test. */
  private[graft] val winnowW = 4

  /** Trigram shingle hashes (Qutil.trigramsOf — the one shared shingle
    * definition — then hash60 per shingle). MUST be materialized as a
    * real column (localCheckpoint) before winnowSelect runs over it: the
    * sliding-window slice references the array once PER WINDOW, and
    * CollapseProject would inline the sha256-per-shingle computation
    * into every reference — O(shingles^2) sha256 per doc (measured 156 s
    * at sf0.1 vs 4 s materialized; the embed_opq rotation trap). */
  private[graft] def winnowHs(tk: org.apache.spark.sql.Column) =
    transform(trigramsOf(tk), x => hash60(x))

  /** Content-defined chunk stream (doc_id, chunk) over ANY corpus frame
    * with (doc_id, text) — ONE chunk-boundary definition shared by the
    * declared text_cdc_chunks query and PropertySpec's insertion-
    * locality test. Cuts fall before token i where trigram-hash(i) ≡ 0
    * mod 16; docs under 3 tokens have no trigram and are excluded. */
  private[graft] def cdcChunks(corpus: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val tk0 = split(col("text"), " ")
    val hsF = corpus
      .where(size(tk0) >= 3)
      .select(col("doc_id"), tk0.as("tk"), winnowHs(tk0).as("hs"))
      .transform(graft.operators.Scale.materialize)
    val cutsF = hsF.select(col("doc_id"), col("tk"),
      concat(array(lit(1)),
        filter(sequence(lit(1), size(col("hs"))),
          i => element_at(col("hs"), i) % 16 === 0),
        array(size(col("tk")) + 1)).as("cuts"))
      .transform(graft.operators.Scale.materialize)
    cutsF.select(col("doc_id"),
      explode(filter(transform(sequence(lit(1), size(col("cuts")) - 1),
        j => concat_ws(" ", slice(col("tk"), element_at(col("cuts"), j),
          element_at(col("cuts"), j + 1) - element_at(col("cuts"), j)))),
        c => c =!= "")).as("chunk"))
  }

  /** Winnowing fingerprint selection over an ALREADY-MATERIALIZED
    * shingle-hash array column: min hash per sliding window of winnowW
    * shingles, distinct. Docs with fewer than winnowW shingles
    * contribute their single global-min fingerprint. Row-local HOFs only
    * — embarrassingly parallel at any corpus size. Mirrored verbatim by
    * the oracle CTEs. */
  private[graft] def winnowSelect(hs: org.apache.spark.sql.Column) =
    when(size(hs) >= winnowW,
      array_distinct(transform(sequence(lit(1), size(hs) - (winnowW - 1)),
        i => array_min(slice(hs, i, lit(winnowW))))))
      .otherwise(array(array_min(hs)))

  /** One BPE merge round (text_bpe_merges, r8) over ANY corpus frame
    * with a text column — the tokenizer-training primitive: symbol
    * vocabulary = characters, candidate merges = adjacent character
    * pairs WITHIN words, scored by corpus frequency (pair occurrences
    * per distinct word × word frequency — the char-pair explode runs
    * at DICTIONARY grain, the fn_fuzzy_match lesson, so corpus size
    * only feeds the word-count aggregate). Top-K by (count DESC, pair
    * ASC — the deterministic BPE tie-break), ranked on the bounded
    * K-row set via the zipf collect_list+posexplode trick (no
    * partitionless window). All integer. Shared by the declared query
    * and PropertySpec's known-merge-order test. */
  private[graft] def bpeMergeRound(corpus: org.apache.spark.sql.DataFrame,
      k: Int = 20): org.apache.spark.sql.DataFrame = {
    val wf = corpus
      .select(explode(split(col("text"), " ")).as("tok"))
      .where(length(col("tok")) >= 2)
      .groupBy("tok").agg(count(lit(1)).as("cf"))
    val pc = wf
      .select(col("cf"), explode(expr(
        "transform(sequence(1, length(tok) - 1), i -> substring(tok, i, 2))"))
        .as("pair"))
      .groupBy("pair").agg(sum(col("cf")).as("cnt"))
    val top = pc.orderBy(col("cnt").desc, col("pair")).limit(k)
    top
      .agg(expr("sort_array(collect_list(struct(-cnt AS nc, pair AS pair, cnt AS cnt)))")
        .as("a"))
      .select(posexplode(col("a")).as(Seq("p0", "s")))
      .select((col("p0") + 1).cast(IntegerType).as("rank"),
        col("s.pair").as("pair"), col("s.cnt").as("cnt"))
      .orderBy("rank")
  }

  /** Multi-round BPE training (text_bpe_train, r9 — the r8 verdict's
    * ask #4): bpeMergeRound chained — per round, adjacent-symbol pair
    * counts at DICTIONARY grain (the corpus only feeds the word-count
    * aggregate once), the round's top merge (count DESC, pair ASC —
    * the deterministic BPE tie-break) enters as a 1-row broadcast
    * crossJoin (never a driver literal — the oracle mirrors the same
    * winner CTE), and the merge applies greedily left-to-right via a
    * CLOSED-FORM parity test instead of a sequential fold: a merge at
    * position i is blocked iff an odd number of consecutive matches
    * immediately precede it, and consecutive matches require a = b
    * (syms[i] would have to equal both), so blocked(i) reduces to the
    * parity of the a-run ending at i-1 — pure list HOFs, identical in
    * both dialects (greedy "aaaa" -> [aa, aa], not [aa, a, a]).
    * Words shrunk to one symbol drop out of later pair counts (the
    * length >= 2 dictionary filter re-applies per round). Ranks on the
    * bounded top-K set via the zipf collect_list+posexplode trick. */
  private def bpeMergedAt(syms: org.apache.spark.sql.Column,
      wa: org.apache.spark.sql.Column, wb: org.apache.spark.sql.Column,
      i: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val n = size(syms)
    // index clamps per the r6c LEAST rule (ANSI element_at throws OOB);
    // the i <= n-1 / i > 1 guards make clamped reads unreachable-true
    val at = (ix: org.apache.spark.sql.Column) =>
      element_at(syms, least(greatest(ix, lit(1)), n).cast(IntegerType))
    val isMatch = (i <= n - 1) && (at(i) === wa) && (at(i + 1) === wb)
    // pm = length of the consecutive-match run before i (= the wa-run
    // ending at i-1; only nonzero when wa = wb); merge iff pm is even
    val pm = when(i <= 1, lit(0)).otherwise(
      (i - 1) - coalesce(array_max(filter(
        sequence(lit(1), greatest(i - 1, lit(1)).cast(IntegerType)),
        j => at(j) =!= wa)), lit(0)))
    isMatch && (wa =!= wb || pm % 2 === 0)
  }

  private def bpePairCounts(w: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val syms = col("syms")
    w.where(size(syms) >= 2)
      .select(col("cf"), explode(transform(sequence(lit(1), size(syms) - 1),
        i => struct(
          element_at(syms, i.cast(IntegerType)).as("a"),
          element_at(syms, least(i + 1, size(syms)).cast(IntegerType)).as("b"))))
        .as("p"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(sum(col("cf")).as("cnt"))
  }

  private[graft] def bpeTrain(corpus: org.apache.spark.sql.DataFrame,
      rounds: Int = 3, k: Int = 10): org.apache.spark.sql.DataFrame = {
    var w = corpus
      .select(explode(split(col("text"), " ")).as("tok"))
      .where(length(col("tok")) >= 2)
      .groupBy("tok").agg(count(lit(1)).as("cf"))
      .select(expr("transform(sequence(1, length(tok)), i -> substring(tok, i, 1))")
        .as("syms"), col("cf"))
      .transform(graft.operators.Scale.materialize)
    val outs = (1 to rounds).map { r =>
      val pc = bpePairCounts(w).transform(graft.operators.Scale.materialize)
      val top = pc.orderBy(col("cnt").desc, col("a"), col("b")).limit(k)
        .agg(expr("sort_array(collect_list(struct(-cnt AS nc, a AS a, b AS b, cnt AS cnt)))")
          .as("arr"))
        .select(posexplode(col("arr")).as(Seq("p0", "s")))
        .select(lit(r).as("round"),
          (col("p0") + 1).cast(IntegerType).as("rank"),
          col("s.a").as("pair_a"), col("s.b").as("pair_b"),
          concat(col("s.a"), col("s.b")).as("merged"), col("s.cnt").as("cnt"))
      if (r < rounds) {
        val win = pc.orderBy(col("cnt").desc, col("a"), col("b")).limit(1)
          .select(col("a").as("wa"), col("b").as("wb"))
        val syms = col("syms")
        w = w.crossJoin(broadcast(win))
          .withColumn("syms", flatten(transform(sequence(lit(1), size(syms)), i =>
            when(bpeMergedAt(syms, col("wa"), col("wb"), i),
              array(concat(col("wa"), col("wb"))))
              .when(i > 1 && bpeMergedAt(syms, col("wa"), col("wb"), i - 1),
                array().cast(ArrayType(StringType)))
              .otherwise(array(element_at(syms,
                least(i, size(syms)).cast(IntegerType)))))))
          .drop("wa", "wb")
          .transform(graft.operators.Scale.materialize)
      }
      top
    }
    outs.reduce(_ union _).orderBy("round", "rank")
  }

  /** Exact shared-span extension (text_shared_span, r8; candidate-
    * bounded r9 — the Lee et al. deduplicate-text-datasets span
    * grain): candidate pairs come from the winnow fingerprint
    * inverted index (ANY shared fingerprint — a shared token run
    * >= winnowW + 2 guarantees one, so candidacy recall is
    * structural, never all-pairs), then the longest shared token run
    * per candidate pair is computed from the full trigram-hash
    * position lists. The position pairing is DRIVEN FROM the
    * candidate set (cand -> x positions on doc_a, then -> y on
    * (doc_b, h)): work is Sigma_pairs |hs| — bounded by candidate
    * pairs — never the Sigma_h n_h^2 of a raw per-hash self-join, so
    * one hot trigram (boilerplate, stop-phrase) cannot make the
    * stage quadratic at 100x. Matched positions (pa, pb) group by
    * diagonal d = pa - pb, maximal consecutive-pa islands via the
    * gaps-and-islands rank trick (keyed window — PlanGuard-safe),
    * longest run of r shared trigrams = r + 2 shared tokens. All
    * integer; exact modulo 60-bit trigram-hash collisions (a
    * collision can in principle extend a span — both engines hash
    * identically so parity is unaffected; at 60 bits the per-pair
    * collision odds are ~|hs|^2/2^60). Shared verbatim by the
    * declared query and PropertySpec's planted-run test. */
  private[graft] def sharedSpans(corpus: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val tk = split(col("text"), " ")
    val base = corpus.where(size(tk) >= 3)
      .select(col("doc_id"), col("source"), winnowHs(tk).as("hs"))
      .transform(graft.operators.Scale.materialize)
    val fps = base.select(col("doc_id"), col("source"),
      explode(winnowSelect(col("hs"))).as("fp"))
    val cand = fps.as("a").join(fps.as("b"),
        col("a.source") === col("b.source") && col("a.fp") === col("b.fp") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    val e = base.select(col("doc_id"), col("source"),
      posexplode(col("hs")).as(Seq("p0", "h")))
      .select(col("doc_id"), col("source"), (col("p0") + 1).as("pos"), col("h"))
    // pair positions FROM the candidate set (doc_id is the corpus key;
    // cand pairs are same-source by construction, so no source key is
    // needed here): cand x positions(doc_a), then equality on
    // (doc_b, h) — the candidate restriction bounds the join input
    // instead of filtering its output.
    val mp = cand
      .join(e.as("x"), col("doc_a") === col("x.doc_id"))
      .join(e.as("y"),
        col("doc_b") === col("y.doc_id") && col("x.h") === col("y.h"))
      .select(col("doc_a"), col("doc_b"),
        col("x.pos").as("pa"), col("y.pos").as("pb"))
    val runs = mp.withColumn("d", col("pa") - col("pb"))
      .withColumn("grp", col("pa") - row_number().over(
        Window.partitionBy("doc_a", "doc_b", "d").orderBy("pa")))
      .groupBy("doc_a", "doc_b", "d", "grp")
      .agg(count(lit(1)).as("run"))
    runs.groupBy("doc_a", "doc_b")
      .agg(max(col("run")).as("run_trigrams"),
        count(lit(1)).as("n_runs"),
        sum(col("run")).as("n_matches"))
      .select(col("doc_a"), col("doc_b"),
        (col("run_trigrams") + 2).as("span_tokens"),
        col("run_trigrams"), col("n_runs"), col("n_matches"))
      .orderBy("doc_a", "doc_b")
  }

  /** The ln-ln least-squares emission formulas, shared verbatim between
    * the Spark selectExpr and the DuckDB oracle so the final IEEE op
    * order is identical by construction (never regr_* built-ins — their
    * running-double partial merges are order-dependent per engine). */
  private val zipfSlope = "(n * sxy - sx * sy) / (n * sxx - sx * sx)"
  private val zipfIntercept = "(sy * sxx - sx * sxy) / (n * sxx - sx * sx)"
  private val zipfR2 =
    "((n * sxy - sx * sy) * (n * sxy - sx * sy)) / " +
      "((n * sxx - sx * sx) * (n * syy - sy * sy))"

  /** DuckDB mirror of the SimHash pipeline: same sha256-derived 60-bit
    * token hash, same majority-vote bits, same 4×15-bit band blocking. */
  private def simhashOracleSql: String = {
    val simExpr = (0 until 60).map { j =>
      s"(CASE WHEN list_sum(list_transform(hs, h -> CASE WHEN (h >> $j) & 1 = 1 THEN 1 ELSE -1 END)) > 0 " +
        s"THEN CAST(${1L << j} AS BIGINT) ELSE 0 END)"
    }.mkString(" + ")
    "WITH base AS (SELECT doc_id, source, " +
      "list_transform(list_distinct(string_split(text, ' ')), " +
      s"t -> ${hash60Sql("t")}) AS hs FROM documents), " +
      s"sh AS (SELECT doc_id, source, $simExpr AS simhash FROM base), " +
      "bands AS (SELECT doc_id, source, simhash, band, (simhash >> (band * 15)) & 32767 AS bv " +
      "FROM sh CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS band)) " +
      "SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b, " +
      "CAST(bit_count(xor(x.simhash, y.simhash)) AS INT) AS hamming " +
      "FROM bands x JOIN bands y ON x.source = y.source AND x.band = y.band " +
      "AND x.bv = y.bv AND x.doc_id < y.doc_id " +
      "WHERE bit_count(xor(x.simhash, y.simhash)) <= 8 ORDER BY doc_a, doc_b"
  }

  /** DuckDB mirror of bpeMergedAt — the same clamped closed-form greedy
    * parity test, with ix a SQL index expression over the outer lambda
    * variable. */
  private def bpeMergedSql(ix: String): String =
    s"(($ix) <= len(syms) - 1 " +
      s"AND syms[LEAST(GREATEST(($ix), 1), len(syms))] = wa " +
      s"AND syms[LEAST(($ix) + 1, len(syms))] = wb " +
      s"AND (wa <> wb OR ((($ix) - 1) - (CASE WHEN ($ix) <= 1 THEN 0 ELSE " +
      s"COALESCE(list_max(list_filter(range(1, GREATEST(($ix), 1)), j -> syms[j] <> wa)), 0) END)) % 2 = 0))"

  /** One oracle BPE round: pair counts p_r from w_r, ranked top-10 t_r,
    * winner v_r, and (when not last) the merged dictionary w_{r+1}.
    * `carry` threads extra dictionary columns (e.g. "tok, ") through
    * the merged CTE — the apply oracle extends this, never forks it
    * (the pqChainSql rule). */
  private def bpeRoundCtes(r: Int, last: Boolean, carry: String = ""): String = {
    val base =
      s"p$r AS (SELECT syms[i] AS a, syms[i + 1] AS b, CAST(SUM(cf) AS BIGINT) AS cnt " +
        s"FROM (SELECT syms, cf, unnest(range(1, len(syms))) AS i FROM w$r WHERE len(syms) >= 2) GROUP BY 1, 2), " +
        s"t$r AS (SELECT $r AS round, CAST(row_number() OVER (ORDER BY cnt DESC, a, b) AS INT) AS rank, " +
        s"a AS pair_a, b AS pair_b, a || b AS merged, cnt " +
        s"FROM (SELECT a, b, cnt FROM p$r ORDER BY cnt DESC, a, b LIMIT 10))"
    if (last) base
    else base + ", " +
      s"v$r AS (SELECT a AS wa, b AS wb FROM p$r ORDER BY cnt DESC, a, b LIMIT 1), " +
      s"w${r + 1} AS (SELECT ${carry}flatten(list_transform(range(1, len(syms) + 1), i -> " +
      s"CASE WHEN ${bpeMergedSql("i")} THEN [wa || wb] " +
      s"WHEN i > 1 AND ${bpeMergedSql("i - 1")} THEN CAST([] AS VARCHAR[]) " +
      s"ELSE [syms[LEAST(GREATEST(i, 1), len(syms))]] END)) AS syms, cf " +
      s"FROM w$r CROSS JOIN v$r)"
  }

  /** BPE ENCODER (text_bpe_apply, r9c) — the consumer text_bpe_train
    * exists to feed: re-derive the 3-round merge chain (the SAME
    * winner rule — count DESC, pair ASC — over the same dictionary
    * frames, so trainer and encoder can never disagree), apply ALL
    * three winners (bpeTrain applies only rounds 1..n−1; the encoder
    * applies the last round's merge too), and emit the encoded
    * dictionary: per word form, its frequency, char count, post-merge
    * symbol count, and the '|'-joined encoding — the tokenizer debug
    * table plus the compression census Σcf·n_syms / Σcf·n_chars reads
    * off it. Dictionary grain throughout (the fn_fuzzy_match lesson):
    * the corpus feeds one word-count aggregate, everything after is
    * dictionary-sized. */
  private[graft] def bpeApply(corpus: org.apache.spark.sql.DataFrame,
      rounds: Int = 3): org.apache.spark.sql.DataFrame = {
    var w = corpus
      .select(explode(split(col("text"), " ")).as("tok"))
      .where(length(col("tok")) >= 2)
      .groupBy("tok").agg(count(lit(1)).as("cf"))
      .select(col("tok"), col("cf"),
        expr("transform(sequence(1, length(tok)), i -> substring(tok, i, 1))")
          .as("syms"))
      .transform(graft.operators.Scale.materialize)
    for (_ <- 1 to rounds) {
      val win = bpePairCounts(w).orderBy(col("cnt").desc, col("a"), col("b"))
        .limit(1).select(col("a").as("wa"), col("b").as("wb"))
      val syms = col("syms")
      w = w.crossJoin(broadcast(win))
        .withColumn("syms", flatten(transform(sequence(lit(1), size(syms)), i =>
          when(bpeMergedAt(syms, col("wa"), col("wb"), i),
            array(concat(col("wa"), col("wb"))))
            .when(i > 1 && bpeMergedAt(syms, col("wa"), col("wb"), i - 1),
              array().cast(ArrayType(StringType)))
            .otherwise(array(element_at(syms,
              least(i, size(syms)).cast(IntegerType)))))))
        .drop("wa", "wb")
        .transform(graft.operators.Scale.materialize)
    }
    w.selectExpr("tok", "cf",
      "CAST(length(tok) AS INT) AS n_chars",
      "CAST(size(syms) AS INT) AS n_syms",
      "concat_ws('|', syms) AS encoded")
      .orderBy("tok")
  }

  /** The encoder CTE chain (w1 → w4, tok carried through every merge
    * round) alone — shared by bpeApplySql and the tokenizer-fertility
    * oracle (the pqChainSql rule: extend the one chain, never fork it).
    * bpeApplySql interpolation is byte-identical to the pre-factor
    * text. */
  private def bpeApplyCtes: String =
    "w1 AS (SELECT tok, list_transform(generate_series(1, length(tok)), " +
      "i -> substring(tok, CAST(i AS INT), 1)) AS syms, cf FROM " +
      "(SELECT tok, CAST(COUNT(*) AS BIGINT) AS cf FROM " +
      "(SELECT unnest(string_split(text, ' ')) AS tok FROM documents) " +
      "WHERE length(tok) >= 2 GROUP BY 1)), " +
      s"${bpeRoundCtes(1, last = false, carry = "tok, ")}, " +
      s"${bpeRoundCtes(2, last = false, carry = "tok, ")}, " +
      s"${bpeRoundCtes(3, last = false, carry = "tok, ")}"

  private def bpeApplySql: String =
    s"WITH $bpeApplyCtes " +
      "SELECT tok, cf, CAST(length(tok) AS INT) AS n_chars, " +
      "CAST(len(syms) AS INT) AS n_syms, array_to_string(syms, '|') AS encoded " +
      "FROM w4 ORDER BY tok"

  /** Fertility ratios — ONE fixed-order formula string each (defs, the
    * ts_decompose init-order rule), shared by the Spark emission and
    * the oracle. */
  private def fertilityF: String =
    Qutil.r6Sql("CAST(n_pieces AS DOUBLE) / CAST(n_words AS DOUBLE)")
  private def charsPerPieceF: String =
    Qutil.r6Sql("CAST(n_chars AS DOUBLE) / CAST(n_pieces AS DOUBLE)")

  private def bpeTrainSql: String =
    "WITH w1 AS (SELECT list_transform(generate_series(1, length(tok)), " +
      "i -> substring(tok, CAST(i AS INT), 1)) AS syms, cf FROM " +
      "(SELECT tok, CAST(COUNT(*) AS BIGINT) AS cf FROM " +
      "(SELECT unnest(string_split(text, ' ')) AS tok FROM documents) " +
      "WHERE length(tok) >= 2 GROUP BY 1)), " +
      s"${bpeRoundCtes(1, last = false)}, " +
      s"${bpeRoundCtes(2, last = false)}, " +
      s"${bpeRoundCtes(3, last = true)} " +
      "SELECT * FROM (SELECT * FROM t1 UNION ALL SELECT * FROM t2 UNION ALL SELECT * FROM t3) " +
      "ORDER BY round, rank"

  val oracle: Map[String, String] = {
    val markerSql = markers.map { case (l, ws) =>
      val arr = ws.map(w => s"'$w'").mkString("[", ", ", "]")
      s"CAST(len(list_intersect(list_distinct(string_split(text, ' ')), $arr)) AS INT) AS s_$l"
    }.mkString(", ")
    val mxSql = "GREATEST(" + markers.map { case (l, _) => s"s_$l" }.mkString(", ") + ")"
    val predSql = "CASE WHEN " + mxSql + " = 0 THEN 'und' " +
      markers.map { case (l, _) => s"WHEN s_$l = $mxSql THEN '$l'" }.mkString(" ") + " END"
    val stopArr = stopwords.map(w => s"'$w'").mkString("[", ", ", "]")

    Map(
      "text_quality_gate" ->
        // the same marker/pred machinery as the text_langid oracle, the
        // shared trigram shingles, integer-cross-multiplied rules, and
        // the identical fixed-order reason CASE
        (s"WITH m AS (SELECT doc_id, string_split(text, ' ') AS tk, $markerSql FROM documents), " +
         "g AS (SELECT doc_id, CAST(len(tk) AS INT) AS n_tok, " +
         "CAST(len(list_distinct(tk)) AS INT) AS n_uniq, " +
         s"CAST(len(list_filter(tk, t -> list_contains($stopArr, t))) AS INT) AS n_stop, " +
         s"CAST(len(${trigramsSqlOf("tk")}) AS INT) AS n_tri, " +
         s"CAST(len(${trigramsSqlOf("tk")}) - len(list_distinct(${trigramsSqlOf("tk")})) AS INT) AS dup_tri, " +
         s"$predSql AS pred_lang FROM m), " +
         "r AS (SELECT doc_id, n_tok, pred_lang, n_tok >= 5 AS r_len, " +
         "pred_lang <> 'und' AS r_lang, n_uniq * 10 >= n_tok * 3 AS r_uniq, " +
         "n_stop * 10 <= n_tok * 6 AS r_stop, " +
         "(n_tri = 0 OR dup_tri * 100 <= n_tri * 18) AS r_rep FROM g) " +
         "SELECT doc_id, n_tok, pred_lang, r_len, r_lang, r_uniq, r_stop, r_rep, " +
         "CASE WHEN NOT r_len THEN 'too_short' WHEN NOT r_lang THEN 'lang_unknown' " +
         "WHEN NOT r_uniq THEN 'low_uniq' WHEN NOT r_stop THEN 'stop_heavy' " +
         "WHEN NOT r_rep THEN 'repetitive' ELSE 'pass' END AS reason, " +
         "(CASE WHEN NOT r_len THEN 'too_short' WHEN NOT r_lang THEN 'lang_unknown' " +
         "WHEN NOT r_uniq THEN 'low_uniq' WHEN NOT r_stop THEN 'stop_heavy' " +
         "WHEN NOT r_rep THEN 'repetitive' ELSE 'pass' END) = 'pass' AS keep " +
         "FROM r ORDER BY doc_id"),
      "text_simhash" -> simhashOracleSql,
      "text_repetition" ->
        // same shared bigram/trigram shingles (bigramsSqlOf/trigramsSqlOf),
        // exact integer counts and ratios, integer cross-multiplied flag
        ("WITH b AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents), " +
         "g AS (SELECT doc_id, " + bigramsSqlOf("tk") + " AS bg, " +
         trigramsSqlOf("tk") + " AS tri FROM b), " +
         "m AS (SELECT doc_id, CAST(len(bg) AS INT) AS n_bigrams, " +
         "CAST(list_max(list_transform(list_distinct(bg), x -> len(list_filter(bg, y -> y = x)))) AS INT) AS top_bigram_cnt, " +
         "CAST(len(tri) AS INT) AS n_trigrams, " +
         "CAST(len(tri) - len(list_distinct(tri)) AS INT) AS dup_tri_cnt FROM g) " +
         "SELECT doc_id, n_bigrams, top_bigram_cnt, " +
         "((CASE WHEN isnan((CAST(top_bigram_cnt AS DOUBLE) / CAST(n_bigrams AS DOUBLE))) OR abs((CAST(top_bigram_cnt AS DOUBLE) / CAST(n_bigrams AS DOUBLE))) >= 9e12 THEN CAST((CAST(top_bigram_cnt AS DOUBLE) / CAST(n_bigrams AS DOUBLE)) AS DOUBLE) ELSE CAST(floor((CAST(top_bigram_cnt AS DOUBLE) / CAST(n_bigrams AS DOUBLE)) * 1e6 + 0.5) AS DOUBLE) / 1e6 END)) AS top2_frac, " +
         "n_trigrams, dup_tri_cnt, " +
         "((CASE WHEN isnan((CAST(dup_tri_cnt AS DOUBLE) / CAST(n_trigrams AS DOUBLE))) OR abs((CAST(dup_tri_cnt AS DOUBLE) / CAST(n_trigrams AS DOUBLE))) >= 9e12 THEN CAST((CAST(dup_tri_cnt AS DOUBLE) / CAST(n_trigrams AS DOUBLE)) AS DOUBLE) ELSE CAST(floor((CAST(dup_tri_cnt AS DOUBLE) / CAST(n_trigrams AS DOUBLE)) * 1e6 + 0.5) AS DOUBLE) / 1e6 END)) AS dup3_frac, " +
         "(top_bigram_cnt * 100 > n_bigrams * 18 OR dup_tri_cnt * 100 > n_trigrams * 18) AS repetitive " +
         "FROM m ORDER BY doc_id"),
      "text_zipf_slope" ->
        // same deterministic rank (cf DESC, tok ASC), same fixed 1..K
        // domain, same shared formula strings; ln sums -> ROUND 3
        ("WITH t AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents), " +
         "f AS (SELECT tok, COUNT(*) AS cf FROM t GROUP BY 1), " +
         "r AS (SELECT cf, row_number() OVER (ORDER BY cf DESC, tok) AS rank FROM f), " +
         s"kk AS (SELECT ln(CAST(rank AS DOUBLE)) AS x, ln(CAST(cf AS DOUBLE)) AS y FROM r WHERE rank <= $zipfK), " +
         "m AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n, SUM(x) AS sx, SUM(y) AS sy, " +
         "SUM(x * x) AS sxx, SUM(x * y) AS sxy, SUM(y * y) AS syy FROM kk) " +
         s"SELECT CAST(n AS BIGINT) AS k, ((CASE WHEN isnan(($zipfSlope)) OR abs(($zipfSlope)) >= 9e12 THEN CAST(($zipfSlope) AS DOUBLE) ELSE CAST(floor(($zipfSlope) * 1e3 + 0.5) AS DOUBLE) / 1e3 END)) AS slope, " +
         s"((CASE WHEN isnan(($zipfIntercept)) OR abs(($zipfIntercept)) >= 9e12 THEN CAST(($zipfIntercept) AS DOUBLE) ELSE CAST(floor(($zipfIntercept) * 1e3 + 0.5) AS DOUBLE) / 1e3 END)) AS intercept, ((CASE WHEN isnan(($zipfR2)) OR abs(($zipfR2)) >= 9e12 THEN CAST(($zipfR2) AS DOUBLE) ELSE CAST(floor(($zipfR2) * 1e3 + 0.5) AS DOUBLE) / 1e3 END)) AS r2 FROM m"),
      "text_collocations" ->
        // the shared bigram shingle, the same one-frame marginals, the
        // same deterministic top-K cut, the shared PMI formula string
        (s"WITH tk AS (SELECT string_split(text, ' ') AS tk FROM documents), " +
         s"b AS (SELECT unnest(${bigramsSqlOf("tk")}) AS bg FROM tk), " +
         "bc AS (SELECT bg, CAST(COUNT(*) AS BIGINT) AS cnt, " +
         "string_split(bg, ' ')[1] AS x, string_split(bg, ' ')[2] AS y " +
         "FROM b GROUP BY 1), " +
         "xc AS (SELECT x, CAST(SUM(cnt) AS BIGINT) AS cx FROM bc GROUP BY 1), " +
         "yc AS (SELECT y, CAST(SUM(cnt) AS BIGINT) AS cy FROM bc GROUP BY 1), " +
         "tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n_tot FROM bc), " +
         s"tk$collK AS (SELECT bg, x, y, cnt FROM bc ORDER BY cnt DESC, bg LIMIT $collK), " +
         s"j AS (SELECT bg, t.x AS x, t.y AS y, cnt, cx, cy, n_tot FROM tk$collK t " +
         "JOIN xc ON t.x = xc.x JOIN yc ON t.y = yc.y CROSS JOIN tot) " +
         s"SELECT bg, x, y, cnt, cx, cy, $pmiF AS pmi FROM j ORDER BY cnt DESC, bg"),
      "text_doclen_profile" ->
        // identical rank selection (// == DIV), len cast to INT to match
        // Spark's size(); ROW_NUMBER/COUNT windows; all-integer output
        ("WITH b AS (SELECT source, doc_id, " +
         "CAST(len(string_split(text, ' ')) AS INT) AS tk FROM documents), " +
         "w AS (SELECT source, tk, " +
         "ROW_NUMBER() OVER (PARTITION BY source ORDER BY tk, doc_id) AS rn, " +
         "COUNT(*) OVER (PARTITION BY source) AS n FROM b) " +
         "SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs, " +
         "CAST(SUM(CAST(tk AS BIGINT)) AS BIGINT) AS n_tokens, " +
         "MAX(CASE WHEN rn = ((n - 1) * 1) // 10 + 1 THEN tk END) AS p10_tokens, " +
         "MAX(CASE WHEN rn = ((n - 1) * 1) // 2 + 1 THEN tk END) AS p50_tokens, " +
         "MAX(CASE WHEN rn = ((n - 1) * 9) // 10 + 1 THEN tk END) AS p90_tokens, " +
         "MAX(tk) AS max_tokens FROM w GROUP BY source ORDER BY source"),
      "text_quality_histogram" ->
        // the shared quality formula, identical bp/bucket integers,
        // zero-filled 0..10 grid (NULL min/max on empty buckets)
        ("WITH b AS (SELECT source, doc_id, string_split(text, ' ') AS tk FROM documents), " +
         s"m AS (SELECT source, CAST(FLOOR(($qualityScoreSql) * 10000.0 + 0.5) AS INT) AS rate_bp FROM b), " +
         "k AS (SELECT source, rate_bp, CAST(rate_bp // 1000 AS INT) AS bucket FROM m), " +
         "c AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_docs, " +
         "CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources, " +
         "MIN(rate_bp) AS min_bp, MAX(rate_bp) AS max_bp FROM k GROUP BY 1), " +
         "g AS (SELECT CAST(unnest(range(0, 11)) AS INT) AS bucket) " +
         "SELECT g.bucket, COALESCE(n_docs, 0) AS n_docs, COALESCE(n_sources, 0) AS n_sources, " +
         "min_bp, max_bp FROM g LEFT JOIN c ON g.bucket = c.bucket ORDER BY g.bucket"),
      "text_source_divergence" ->
        // identical histogram / grid / totals, the shared srcJsTermF
        // verbatim, tok-ordered list_sum fold per source
        ("WITH t AS (SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents), " +
         "sc AS (SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS c FROM t GROUP BY 1, 2), " +
         "cc AS (SELECT tok, CAST(SUM(c) AS BIGINT) AS cg FROM sc GROUP BY 1), " +
         "stot AS (SELECT source, CAST(SUM(c) AS BIGINT) AS ns FROM sc GROUP BY 1), " +
         "gv AS (SELECT CAST(SUM(cg) AS BIGINT) AS ng, CAST(COUNT(*) AS BIGINT) AS vv FROM cc), " +
         "g AS (SELECT s2.source, cc.tok, cc.cg FROM (SELECT DISTINCT source FROM sc) s2 CROSS JOIN cc), " +
         "f AS (SELECT g.source, g.tok, g.cg, COALESCE(sc.c, 0) AS c FROM g " +
         "LEFT JOIN sc ON g.source = sc.source AND g.tok = sc.tok), " +
         "tr AS (SELECT f.source, f.tok, ns, " +
         s"$srcJsTermF AS term_raw FROM f JOIN stot ON f.source = stot.source CROSS JOIN gv) " +
         "SELECT source, MAX(ns) AS n_tokens, " +
         "((CASE WHEN isnan((list_sum(list(term_raw ORDER BY tok)))) OR abs((list_sum(list(term_raw ORDER BY tok)))) >= 9e12 THEN CAST((list_sum(list(term_raw ORDER BY tok))) AS DOUBLE) ELSE CAST(floor((list_sum(list(term_raw ORDER BY tok))) * 1e6 + 0.5) AS DOUBLE) / 1e6 END)) AS jsd " +
         "FROM tr GROUP BY source ORDER BY source"),
      "text_lexical_richness" ->
        // identical (source, tok) histogram / rollups; SUM(BIGINT) cast
        // back from HUGEINT; the shared ttr/herdan formula strings
        ("WITH t AS (SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents), " +
         "cf AS (SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS c FROM t GROUP BY 1, 2), " +
         "per AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS vocab, " +
         "CAST(SUM(c) AS BIGINT) AS n_tokens, " +
         "CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax FROM cf GROUP BY 1), " +
         "dc AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents GROUP BY 1) " +
         "SELECT per.source, n_docs, n_tokens, vocab, n_hapax, " +
         s"$ttrF AS ttr, $herdanF AS herdan_c " +
         "FROM per JOIN dc ON per.source = dc.source ORDER BY per.source"),
      "text_entropy" ->
        // SUM(BIGINT) -> HUGEINT: cast n back so divisions match Spark
        ("WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents), " +
         "c AS (SELECT doc_id, tok, COUNT(*) AS c FROM t GROUP BY 1, 2), " +
         "n AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n FROM c GROUP BY 1) " +
         "SELECT doc_id, MAX(n) AS n_tokens, " +
         "((CASE WHEN isnan((-SUM((CAST(c AS DOUBLE) / CAST(n AS DOUBLE)) * " +
         "ln(CAST(c AS DOUBLE) / CAST(n AS DOUBLE))))) OR abs((-SUM((CAST(c AS DOUBLE) / CAST(n AS DOUBLE)) * " +
         "ln(CAST(c AS DOUBLE) / CAST(n AS DOUBLE))))) >= 9e12 THEN CAST((-SUM((CAST(c AS DOUBLE) / CAST(n AS DOUBLE)) * " +
         "ln(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)))) AS DOUBLE) ELSE CAST(floor((-SUM((CAST(c AS DOUBLE) / CAST(n AS DOUBLE)) * " +
         "ln(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)))) * 1e3 + 0.5) AS DOUBLE) / 1e3 END)) AS entropy " +
         "FROM c JOIN n USING (doc_id) GROUP BY doc_id ORDER BY doc_id"),
      "text_bigram_logprob" ->
        ("WITH b AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents), " +
         "t AS (SELECT doc_id, unnest(" + bigramsSqlOf("tk") + ") AS bg FROM b), " +
         "tw AS (SELECT doc_id, bg, string_split(bg, ' ')[1] AS w1 FROM t), " +
         "f2 AS (SELECT bg, COUNT(*) AS c2 FROM tw GROUP BY 1), " +
         "f1 AS (SELECT w1, COUNT(*) AS c1 FROM tw GROUP BY 1) " +
         "SELECT doc_id, COUNT(*) AS n_bigrams, " +
         "((CASE WHEN isnan((AVG(ln(CAST(c2 AS DOUBLE) / CAST(c1 AS DOUBLE))))) OR abs((AVG(ln(CAST(c2 AS DOUBLE) / CAST(c1 AS DOUBLE))))) >= 9e12 THEN CAST((AVG(ln(CAST(c2 AS DOUBLE) / CAST(c1 AS DOUBLE)))) AS DOUBLE) ELSE CAST(floor((AVG(ln(CAST(c2 AS DOUBLE) / CAST(c1 AS DOUBLE)))) * 1e3 + 0.5) AS DOUBLE) / 1e3 END)) AS logprob " +
         "FROM tw JOIN f2 USING (bg) JOIN f1 USING (w1) " +
         "GROUP BY doc_id ORDER BY doc_id"),
      "text_containment" ->
        ("WITH b AS (SELECT doc_id, source, string_split(text, ' ') AS tk FROM documents), " +
         "t AS (SELECT DISTINCT doc_id, source, " +
         "unnest(" + bigramsSqlOf("tk") + ") AS bg FROM b), " +
         "sz AS (SELECT doc_id, COUNT(*) AS nt FROM t GROUP BY 1), " +
         "ts AS (SELECT t.doc_id, t.source, t.bg, sz.nt FROM t JOIN sz USING (doc_id)), " +
         "p AS (SELECT a.doc_id AS doc_inner, b.doc_id AS doc_outer, " +
         "a.nt AS na, b.nt AS nb, COUNT(*) AS inter " +
         "FROM ts a JOIN ts b ON a.bg = b.bg AND a.source = b.source " +
         "AND a.doc_id <> b.doc_id AND b.nt * 10 >= a.nt * 8 GROUP BY 1, 2, 3, 4) " +
         "SELECT doc_inner, doc_outer, na, nb, inter, " +
         "((CASE WHEN isnan((CAST(inter AS DOUBLE) / CAST(na AS DOUBLE))) OR abs((CAST(inter AS DOUBLE) / CAST(na AS DOUBLE))) >= 9e12 THEN CAST((CAST(inter AS DOUBLE) / CAST(na AS DOUBLE)) AS DOUBLE) ELSE CAST(floor((CAST(inter AS DOUBLE) / CAST(na AS DOUBLE)) * 1e6 + 0.5) AS DOUBLE) / 1e6 END)) AS containment " +
         "FROM p WHERE inter * 10 >= na * 8 ORDER BY doc_inner, doc_outer"),
      "text_unigram_logprob" ->
        // SUM(BIGINT) -> HUGEINT: cast back so tn's division matches
        ("WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents), " +
         "f AS (SELECT tok, COUNT(*) AS cf FROM t GROUP BY 1), " +
         "n AS (SELECT CAST(SUM(cf) AS BIGINT) AS tn FROM f) " +
         "SELECT doc_id, COUNT(*) AS n_tokens, " +
         "((CASE WHEN isnan((AVG(ln(CAST(cf AS DOUBLE) / CAST(tn AS DOUBLE))))) OR abs((AVG(ln(CAST(cf AS DOUBLE) / CAST(tn AS DOUBLE))))) >= 9e12 THEN CAST((AVG(ln(CAST(cf AS DOUBLE) / CAST(tn AS DOUBLE)))) AS DOUBLE) ELSE CAST(floor((AVG(ln(CAST(cf AS DOUBLE) / CAST(tn AS DOUBLE)))) * 1e3 + 0.5) AS DOUBLE) / 1e3 END)) AS logprob " +
         "FROM t JOIN f USING (tok) CROSS JOIN n GROUP BY doc_id ORDER BY doc_id"),
      "text_langid" ->
        (s"WITH sc AS (SELECT doc_id, lang, $markerSql FROM documents) " +
         // GREATEST over INTs comes back BIGINT from DuckDB; Spark's side is
         // int32 — pin the width so the driver's dtype-sensitive hash agrees.
         s"SELECT doc_id, lang, $predSql AS pred_lang, CAST($mxSql AS INT) AS matches FROM sc ORDER BY doc_id"),
      "text_langid_eval" ->
        // the same marker/pred strings; marginals re-aggregate the grid
        // CTE exactly as the query re-aggregates the checkpointed grid
        (s"WITH sc AS (SELECT doc_id, lang, $markerSql FROM documents), " +
         s"pl AS (SELECT lang, $predSql AS pred_lang FROM sc), " +
         "cf AS (SELECT lang, pred_lang, CAST(COUNT(*) AS BIGINT) AS n FROM pl GROUP BY 1, 2), " +
         "bl AS (SELECT lang, CAST(SUM(n) AS BIGINT) AS n_lang FROM cf GROUP BY 1), " +
         "bp AS (SELECT pred_lang, CAST(SUM(n) AS BIGINT) AS n_pred FROM cf GROUP BY 1) " +
         "SELECT cf.lang, cf.pred_lang, n, n_lang, n_pred, " +
         s"${r6Sql("CAST(n AS DOUBLE) / CAST(n_lang AS DOUBLE)")} AS recall_share, " +
         s"${r6Sql("CAST(n AS DOUBLE) / CAST(n_pred AS DOUBLE)")} AS precision_share " +
         "FROM cf JOIN bl ON cf.lang = bl.lang JOIN bp ON cf.pred_lang = bp.pred_lang " +
         "ORDER BY cf.lang, cf.pred_lang"),
      "text_quality" ->
        ("WITH b AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents) " +
         "SELECT doc_id, CAST(len(tk) AS INT) AS n_tok, CAST(len(list_distinct(tk)) AS INT) AS n_uniq, " +
         "((CASE WHEN isnan((CAST(len(list_distinct(tk)) AS DOUBLE)/len(tk))) OR abs((CAST(len(list_distinct(tk)) AS DOUBLE)/len(tk))) >= 9e12 THEN CAST((CAST(len(list_distinct(tk)) AS DOUBLE)/len(tk)) AS DOUBLE) ELSE CAST(floor((CAST(len(list_distinct(tk)) AS DOUBLE)/len(tk)) * 1e6 + 0.5) AS DOUBLE) / 1e6 END)) AS uniq_ratio, " +
         "((CASE WHEN isnan((CAST(list_sum(list_transform(tk, t -> CAST(length(t) AS BIGINT))) AS DOUBLE)/len(tk))) OR abs((CAST(list_sum(list_transform(tk, t -> CAST(length(t) AS BIGINT))) AS DOUBLE)/len(tk))) >= 9e12 THEN CAST((CAST(list_sum(list_transform(tk, t -> CAST(length(t) AS BIGINT))) AS DOUBLE)/len(tk)) AS DOUBLE) ELSE CAST(floor((CAST(list_sum(list_transform(tk, t -> CAST(length(t) AS BIGINT))) AS DOUBLE)/len(tk)) * 1e6 + 0.5) AS DOUBLE) / 1e6 END)) AS avg_token_len, " +
         s"((CASE WHEN isnan((CAST(len(list_filter(tk, t -> list_contains($stopArr, t))) AS DOUBLE)/len(tk))) OR abs((CAST(len(list_filter(tk, t -> list_contains($stopArr, t))) AS DOUBLE)/len(tk))) >= 9e12 THEN CAST((CAST(len(list_filter(tk, t -> list_contains($stopArr, t))) AS DOUBLE)/len(tk)) AS DOUBLE) ELSE CAST(floor((CAST(len(list_filter(tk, t -> list_contains($stopArr, t))) AS DOUBLE)/len(tk)) * 1e6 + 0.5) AS DOUBLE) / 1e6 END)) AS stop_ratio, " +
         s"((CASE WHEN isnan(($qualityScoreSql)) OR abs(($qualityScoreSql)) >= 9e12 THEN CAST(($qualityScoreSql) AS DOUBLE) ELSE CAST(floor(($qualityScoreSql) * 1e6 + 0.5) AS DOUBLE) / 1e6 END)) AS quality_score " +
         "FROM b ORDER BY doc_id"),
      "text_dedup_keep_best" ->
        ("WITH b AS (SELECT doc_id, lang, string_split(text, ' ') AS tk, " +
         "sha256(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g')) AS h FROM documents), " +
         s"m AS (SELECT doc_id, lang, h, $qualityScoreSql AS q FROM b), " +
         "r AS (SELECT *, row_number() OVER (PARTITION BY h ORDER BY q DESC, doc_id) AS rn FROM m) " +
         "SELECT doc_id, lang, h, ((CASE WHEN isnan((q)) OR abs((q)) >= 9e12 THEN CAST((q) AS DOUBLE) ELSE CAST(floor((q) * 1e6 + 0.5) AS DOUBLE) / 1e6 END)) AS quality FROM r WHERE rn = 1 ORDER BY doc_id"),
      "text_token_count" ->
        ("SELECT doc_id, CAST(length(text) AS INT) AS n_chars_obs, " +
         "CAST(len(string_split(text, ' ')) AS INT) AS ws_tokens, " +
         "CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+', 0)) AS INT) AS subword_tokens " +
         "FROM documents ORDER BY doc_id"),
      "text_fingerprint" ->
        ("SELECT doc_id, list_reduce(list_prepend(CAST(0 AS BIGINT), " +
         "list_transform(string_split(text, ' '), t -> CAST(length(t)*31 + ascii(t) AS BIGINT))), " +
         "(acc, x) -> (acc*131 + x) % 9007199254740881) AS fingerprint " +
         "FROM documents ORDER BY doc_id"),
      "text_cdc_chunks" ->
        // same trigram hash60 stream, same mod-16 cut rule, 1-based
        // inclusive list slicing tk[a:b] == slice(tk, a, b-a+1)
        ("WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk " +
         "FROM documents WHERE len(string_split(text, ' ')) >= 3), " +
         s"hsc AS (SELECT doc_id, tk, list_transform(${trigramsSqlOf("tk")}, " +
         s"x -> ${hash60Sql("x")}) AS hs FROM t), " +
         "cu AS (SELECT doc_id, tk, list_concat(list_concat([1], " +
         "list_filter(generate_series(1, len(hs)), i -> hs[i] % 16 = 0)), " +
         "[len(tk) + 1]) AS cuts FROM hsc), " +
         "ch0 AS (SELECT doc_id, list_transform(generate_series(1, len(cuts) - 1), " +
         "j -> array_to_string(tk[cuts[j]:cuts[j+1]-1], ' ')) AS chunks FROM cu), " +
         "ch AS (SELECT doc_id, unnest(chunks) AS chunk FROM ch0), " +
         s"h AS (SELECT doc_id, ${hash60Sql("chunk")} AS chunk_hash FROM ch WHERE chunk <> '') " +
         "SELECT chunk_hash, CAST(COUNT(*) AS BIGINT) AS n_occ, " +
         "CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs FROM h GROUP BY 1 " +
         "HAVING COUNT(DISTINCT doc_id) >= 2 ORDER BY 1"),
      "text_bpe_merges" ->
        // same dictionary-grain char-pair counting; ranks via a plain
        // window over the bounded 20-row top set (DuckDB side only —
        // the Spark side uses the zipf bounded-set trick)
        ("WITH wf AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS cf FROM " +
         "(SELECT unnest(string_split(text, ' ')) AS tok FROM documents) " +
         "WHERE length(tok) >= 2 GROUP BY 1), " +
         "pc0 AS (SELECT cf, unnest(list_transform(generate_series(1, length(tok) - 1), " +
         "i -> substring(tok, CAST(i AS INT), 2))) AS pair FROM wf), " +
         "pc AS (SELECT pair, CAST(SUM(cf) AS BIGINT) AS cnt FROM pc0 GROUP BY 1), " +
         "top AS (SELECT pair, cnt FROM pc ORDER BY cnt DESC, pair LIMIT 20) " +
         "SELECT CAST(row_number() OVER (ORDER BY cnt DESC, pair) AS INT) AS rank, " +
         "pair, cnt FROM top ORDER BY rank"),
      "text_bpe_apply" ->
        // the shared round CTEs with tok carried through the merge
        // chain; ALL three winners applied; same clamped parity test
        bpeApplySql,
      "text_bpe_train" ->
        // 3 chained merge rounds: winner CTE per round, greedy merge
        // via the same clamped closed-form parity test (bpeMergedSql)
        bpeTrainSql,
      "text_tokenizer_fertility" ->
        // the SAME encoder chain (bpeApplyCtes), dictionary left-joined
        // to per-source word counts; single-char words COALESCE to one
        // piece; SUM casts per the HUGEINT rule; shared ratio formulas
        ("WITH " + bpeApplyCtes + ", " +
         "dict AS (SELECT tok, CAST(len(syms) AS BIGINT) AS n_syms FROM w4), " +
         "wc AS (SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS n FROM " +
         "(SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents) " +
         "GROUP BY 1, 2), " +
         "a AS (SELECT source, CAST(SUM(n) AS BIGINT) AS n_words, " +
         "CAST(SUM(n * COALESCE(d.n_syms, 1)) AS BIGINT) AS n_pieces, " +
         "CAST(SUM(n * length(tok)) AS BIGINT) AS n_chars " +
         "FROM wc LEFT JOIN dict d USING (tok) GROUP BY 1) " +
         s"SELECT source, n_words, n_pieces, n_chars, $fertilityF AS fertility, " +
         s"$charsPerPieceF AS chars_per_piece FROM a ORDER BY source"),
      "text_postings" ->
        // same rank-before-aggregate shape; list_sort on <= 5 BIGINTs
        // == Spark's array_sort(collect_list), numeric order (never
        // sort the stringified ids); COUNT casts per the HUGEINT rule
        ("WITH tk AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents), " +
         "cf AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS cf FROM tk GROUP BY 1), " +
         "dd AS (SELECT DISTINCT term, doc_id FROM tk), " +
         "df AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM dd GROUP BY 1), " +
         "top AS (SELECT term, doc_id FROM (SELECT term, doc_id, " +
         "row_number() OVER (PARTITION BY term ORDER BY doc_id) AS rn FROM dd) WHERE rn <= 5), " +
         "p AS (SELECT term, array_to_string(list_sort(list(doc_id)), ',') AS top_docs " +
         "FROM top GROUP BY 1) " +
         "SELECT cf.term AS term, df, cf, top_docs " +
         "FROM cf JOIN df USING (term) JOIN p USING (term) ORDER BY term"),
      "text_oov_rate" ->
        // same top-25 vocab tie-break, broadcast-able LEFT JOIN
        // membership, one keyed rollup, the shared division string
        ("WITH tk AS (SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents), " +
         "v AS (SELECT tok, 1 AS in_vocab FROM " +
         "(SELECT tok, COUNT(*) AS cf FROM tk GROUP BY 1 ORDER BY cf DESC, tok LIMIT 25)), " +
         "j AS (SELECT tk.source, CASE WHEN v.in_vocab IS NULL THEN 1 ELSE 0 END AS oov " +
         "FROM tk LEFT JOIN v ON tk.tok = v.tok), " +
         "g AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_tok, " +
         "CAST(SUM(oov) AS BIGINT) AS n_oov FROM j GROUP BY 1) " +
         "SELECT source, n_tok, n_oov, " +
         s"${r6Sql("CAST(n_oov AS DOUBLE) / CAST(n_tok AS DOUBLE)")} AS oov_rate " +
         "FROM g ORDER BY source"),
      "text_shared_span" ->
        // same trigram/hash60/winnow CTEs; candidates = ANY shared
        // winnow fingerprint; exact extension = matched positions per
        // diagonal, gaps-and-islands maximal runs (row_number keyed
        // window), run of r trigrams = r + 2 tokens. unnest(range(...))
        // in the SELECT list per the lateral-generate_series rule.
        ("WITH t AS (SELECT doc_id, source, string_split(text, ' ') AS tk " +
         "FROM documents WHERE len(string_split(text, ' ')) >= 3), " +
         s"hsc AS (SELECT doc_id, source, list_transform(${trigramsSqlOf("tk")}, " +
         s"x -> ${hash60Sql("x")}) AS hs FROM t), " +
         s"fp0 AS (SELECT doc_id, source, CASE WHEN len(hs) >= $winnowW THEN " +
         s"list_distinct(list_transform(generate_series(1, len(hs) - ${winnowW - 1}), " +
         s"i -> list_min(hs[i:i+${winnowW - 1}]))) ELSE [list_min(hs)] END AS fps FROM hsc), " +
         "fe AS (SELECT doc_id, source, unnest(fps) AS fp FROM fp0), " +
         "cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b FROM fe a " +
         "JOIN fe b ON a.source = b.source AND a.fp = b.fp AND a.doc_id < b.doc_id), " +
         "e0 AS (SELECT doc_id, source, hs, unnest(range(1, len(hs) + 1)) AS pos FROM hsc), " +
         "e AS (SELECT doc_id, source, CAST(pos AS INT) AS pos, hs[CAST(pos AS INT)] AS h FROM e0), " +
         "mp AS (SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, x.pos AS pa, y.pos AS pb " +
         "FROM e x JOIN e y ON x.source = y.source AND x.h = y.h AND x.doc_id < y.doc_id " +
         "JOIN cand c ON c.doc_a = x.doc_id AND c.doc_b = y.doc_id), " +
         "rk AS (SELECT doc_a, doc_b, pa - pb AS d, pa, " +
         "row_number() OVER (PARTITION BY doc_a, doc_b, pa - pb ORDER BY pa) AS rn FROM mp), " +
         "runs AS (SELECT doc_a, doc_b, d, pa - rn AS grp, CAST(COUNT(*) AS BIGINT) AS run " +
         "FROM rk GROUP BY 1, 2, 3, 4) " +
         "SELECT doc_a, doc_b, MAX(run) + 2 AS span_tokens, MAX(run) AS run_trigrams, " +
         "CAST(COUNT(*) AS BIGINT) AS n_runs, CAST(SUM(run) AS BIGINT) AS n_matches " +
         "FROM runs GROUP BY 1, 2 ORDER BY 1, 2"),
      "text_winnow_dup" ->
        // same trigram shingles (trigramsSqlOf), same hash60, same
        // windowed-min selection (DuckDB list slicing is 1-based
        // inclusive like Spark's slice(start, length) here), same
        // (source, fp) inverted-index join and integer counts
        ("WITH t AS (SELECT doc_id, source, string_split(text, ' ') AS tk " +
         "FROM documents WHERE len(string_split(text, ' ')) >= 3), " +
         s"hsc AS (SELECT doc_id, source, list_transform(${trigramsSqlOf("tk")}, " +
         s"x -> ${hash60Sql("x")}) AS hs FROM t), " +
         s"fp0 AS (SELECT doc_id, source, CASE WHEN len(hs) >= $winnowW THEN " +
         s"list_distinct(list_transform(generate_series(1, len(hs) - ${winnowW - 1}), " +
         s"i -> list_min(hs[i:i+${winnowW - 1}]))) ELSE [list_min(hs)] END AS fps FROM hsc), " +
         "e AS (SELECT doc_id, source, CAST(len(fps) AS INT) AS nfp, unnest(fps) AS fp FROM fp0), " +
         "p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared, " +
         "MAX(a.nfp) AS n_a, MAX(b.nfp) AS n_b FROM e a " +
         "JOIN e b ON a.source = b.source AND a.fp = b.fp AND a.doc_id < b.doc_id " +
         "GROUP BY 1, 2) " +
         "SELECT doc_a, doc_b, shared, n_a, n_b, " +
         "((CASE WHEN isnan((CAST(shared AS DOUBLE) / CAST(LEAST(n_a, n_b) AS DOUBLE))) OR abs((CAST(shared AS DOUBLE) / CAST(LEAST(n_a, n_b) AS DOUBLE))) >= 9e12 THEN CAST((CAST(shared AS DOUBLE) / CAST(LEAST(n_a, n_b) AS DOUBLE)) AS DOUBLE) ELSE CAST(floor((CAST(shared AS DOUBLE) / CAST(LEAST(n_a, n_b) AS DOUBLE)) * 1e6 + 0.5) AS DOUBLE) / 1e6 END)) AS containment " +
         "FROM p WHERE shared >= 2 ORDER BY doc_a, doc_b")
    )
  }
}
