package graft.queries

import graft.Tables
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import Qutil._
import graft.functions.GraftFunctions.{cosineSim, dotProd, planeSig, quant8Stats, quantpdStats}

/** SURVEY §2.11 — similarity search over the 64-dim float embeddings.
  *
  * Exact brute-force cosine is the correctness baseline here; the scale
  * path for 100 TB is the same dot-product expression behind an LSH/IVF
  * bucketing join (candidates from equality joins, then exact re-rank) —
  * see text_minhash_lsh for the bucketing shape. All vector math is
  * Catalyst HOFs (zip_with/aggregate), codegen'd, no UDFs. */
object SimQueries {

  /** All within-label (a, b) pairs with a_id < b_id, as a salted shuffle
    * self-join. `label` has only 10 values, so an unsalted shuffle join
    * would land each label block on one reducer, and the round-1 broadcast
    * hint was worse: it shipped the ENTIRE embeddings table as the build
    * side, which is unbounded at 100 TB (VERDICT.md defect #3). Here the
    * left side gets a deterministic salt from its vec_id and the right side
    * is replicated once per salt (Scale.saltedJoin's shape specialized to
    * pair enumeration), so each label spreads over `salts` reducers; the
    * `merge` hint pins sort-merge — the strategy that survives an unbounded
    * build side — instead of letting AQE re-broadcast at fixture scale.
    * Output columns: a_label, a_id/b_id, a_emb/b_emb, a_nrm/b_nrm. */
  /** Within-label cosine near-dup pairs (cos >= 0.35, a_id < b_id) with
    * the cosine kept as `cos` — shared by the declared pair query and the
    * connected-components clustering. */
  private[graft] def cosinePairs(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"), col("embedding"),
        normD(col("embedding")).as("nrm"))
    labelPairs(e)
      .withColumn("cos",
        cosineSim(col("a_emb"), col("b_emb")))
      .where(col("cos") >= 0.35)
  }

  private def labelPairs(e0: org.apache.spark.sql.DataFrame, salts: Int = 8,
      hotMin: Int = 65) = {
    // r16 (r15 verdict ask #6, guide §2.5): the salt is THRESHOLDED now —
    // only labels holding >= hotMin vectors salt/replicate; cold labels
    // join in the single cell (0, [0]) with NO b-side replication. Pair
    // output is row-identical for any per-key decision (a pair meets
    // exactly once at sb = sa either way), goldens untouched. The hot-key
    // size aggregate reads a PRUNED projection of the input — Catalyst
    // drops the embedding payload and the normD compute from that
    // subtree, so detection costs one key-column scan, not a third full
    // pass (no materialize here: a checkpoint job measured MORE expensive
    // than the pruned scans on these sub-second queries, r16 TimeQ).
    val e = e0
    val hot = graft.operators.Scale.hotKeys(e.select(col("label")), Seq("label"), hotMin)
    val saltsArr = array((0 until salts).map(lit): _*)
    val one = array(lit(0))
    val a = e.toDF("a_id", "a_label", "a_emb", "a_nrm")
      .join(broadcast(hot.toDF("a_label", "__hot")), Seq("a_label"), "left")
      .withColumn("sa", when(col("__hot").isNotNull,
        pmod(xxhash64(col("a_id")), lit(salts)).cast("int")).otherwise(lit(0)))
      .drop("__hot")
    val b = e.toDF("b_id", "b_label", "b_emb", "b_nrm")
      .join(broadcast(hot.toDF("b_label", "__hot")), Seq("b_label"), "left")
      .withColumn("sb", explode(when(col("__hot").isNotNull, saltsArr).otherwise(one)))
      .drop("__hot")
    a.hint("merge").join(b,
      col("a_label") === col("b_label") && col("sa") === col("sb") &&
        col("a_id") < col("b_id"))
  }

  /** splitmix64 — fixed literal stream for the LSH hyperplanes. */
  private def sm(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  /** 64 hyperplanes × 64 dims as INTEGER thousandths in [-1000, 1000].
    * Kept integral so the Spark plan (Scala `v / 1000.0`) and the DuckDB
    * oracle (`v / 1000.0` in SQL) derive the identical IEEE double and the
    * sign tests agree bit-for-bit. sim_search_lsh uses planes 0-15
    * (unchanged from round 3 — goldens stable); the banded dedup pair
    * generator (embedBandPairs) consumes all 64 as 16 bands × 4 planes. */
  private val planeInts: Seq[Seq[Long]] = (0 until 64).map(k =>
    (0 until 64).map(j => math.floorMod(sm(k * 64L + j), 2001L) - 1000L))

  /** Band geometry for the pair generator. 16 bands × 4 sign bits is the
    * knee of the S-curve at this catalog's cos >= 0.35 dedup threshold:
    * p(bit agrees) = 1 - acos(0.35)/pi ~= 0.614, so a 4-bit band matches
    * with p^4 ~= 0.14 and 16 bands recover ~1-(1-0.14)^16 ~= 0.91 of
    * threshold pairs (measured 0.96 at sf0.01, 0.92 at sf0.1; every
    * cos >= 0.5 pair recovered — SimSpec pins both). 0.35 is a WEAK
    * similarity (a ~69-degree angle), the hardest regime for hyperplane
    * LSH: uncorrelated within-label pairs still collide in some band with
    * p ~= 0.64 here. At a production semantic-dedup threshold (cos >= 0.85,
    * p ~= 0.82) the SAME geometry passes <2% of random pairs at >0.999
    * recall — the selectivity is a function of the threshold, the SHAPE
    * (equality join on (label, band, bits), never all-pairs) is what this
    * generator fixes vs cosinePairs' quadratic label blocks. */
  private val embedBands = 16
  private val embedRows = 4

  /** All 64 hyperplane sign bits packed into ONE long in a single HOF
    * pass: the planes enter as one typed 64x64 literal (a single Literal
    * node — inlining 64 separate plane arrays bloated the generated code
    * past useful codegen and cost ~2 s/run in recompilation), transform
    * computes the 64 dots, and the fold ORs sign bits together (bitwise,
    * so no ANSI overflow semantics to reason about). Bit k = sign of
    * plane k, identical to the unpacked form — band b's bits are the
    * nibble shiftright(sig, 4b) & 15, so oracle and goldens are
    * untouched by this packing. */
  private def packedSig(v: org.apache.spark.sql.Column) = {
    // r16 (r15 verdict ask #4): the fully fused native signature kernel
    // (graft.functions.PlaneSig) — bit k = sign of dot(v, plane_k), each
    // dot index-ascending exactly like the dot_prod-per-plane HOF chain
    // this replaces, so the signature is bit-identical (ExpressionSpec
    // pins it against the old transform/zip_with/aggregate spelling).
    // The plane matrix stays ONE typedlit literal (the r12 lesson);
    // PlaneSig embeds its evaluated value as a codegen reference object.
    val planes = typedlit(planeInts.map(_.map(_ / 1000.0)))
    planeSig(v, planes)
  }

  /** Banded bucket frame (vec_id, <key>, band, bits) off the packed
    * 64-plane signature — ONE definition for the pair generator
    * (key = label) and the cross-split contamination census
    * (key = split), so the bucketing can never drift between them
    * (the extend-never-fork rule; r9c review extracted it). The sig
    * lands in its own projection: the 16 nibble extractions are
    * multi-use of a non-cheap expression, so CollapseProject keeps
    * the boundary and the 64-dot pass runs once per row. */
  private def sigBuckets(e: org.apache.spark.sql.DataFrame,
      key: String): org.apache.spark.sql.DataFrame = {
    val bandCols = (0 until embedBands).map(b =>
      struct(lit(b).as("band"),
        shiftright(col("sig"), b * embedRows)
          .bitwiseAND(lit((1L << embedRows) - 1)).cast("int").as("bits")))
    e.withColumn("sig", packedSig(col("embedding")))
      .select(col("vec_id"), col(key), explode(array(bandCols: _*)).as("bb"))
      .select(col("vec_id"), col(key),
        col("bb.band").as("band"), col("bb.bits").as("bits"))
  }

  /** Banded random-hyperplane pair generator — the 100 TB replacement for
    * cosinePairs' all-pairs-within-label join (r4 verdict's one `weak`
    * mark). Candidates come from an EQUALITY JOIN on (label, band, bits):
    * each vector emits `embedBands` bucket rows, two vectors become a
    * candidate iff they agree on all `embedRows` sign bits of some band,
    * and only candidates pay the exact-cosine re-check (join-back on id,
    * so the 16x bucket explosion never carries the embedding payload).
    * Same output contract as cosinePairs: (label, a_id, b_id, a_emb/a_nrm,
    * b_emb/b_nrm, cos) with cos >= 0.35 and a_id < b_id — minus the
    * banding's false-negative tail (SimSpec pins recall; the oracle
    * mirrors the banding exactly, so correctness is deterministic). */
  private[graft] def embedBandPairs(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"), col("embedding"),
        normD(col("embedding")).as("nrm"))
    // sig lands in its own projection; the 16 nibble extractions below are
    // multi-use of a non-cheap expression, so CollapseProject keeps the
    // boundary and the 64-dot pass runs once per row
    // checkpoint ONCE: the laned join's two sides are no longer
    // identical subtrees (lane vs explode columns differ), so
    // ReuseExchange cannot deduplicate them the way it did the plain
    // self-join — uncheckpointed, the 64-dot signature pass would run
    // twice (the r9c differing-filters rule; measured +0.8 s at sf0.1)
    val buckets = sigBuckets(e, "label").transform(graft.operators.Scale.materialize)
    // lane-decomposed bucket join (r10): row-identical to the plain
    // (label, band, bits) self-join, but a degenerate bucket's pair
    // emission spreads over lanes² cells instead of one task
    // (Scale.lanedBucketJoin scaladoc; the star-edge shortcut does NOT
    // apply here — the exact-cosine re-check is per-edge)
    val cand = graft.operators.Scale.lanedBucketJoin(
        buckets, buckets, Seq("label", "band", "bits"), "vec_id", "vec_id")
      .where(col("x.vec_id") < col("y.vec_id"))
      .select(col("x.label").as("label"), col("x.vec_id").as("a_id"),
        col("y.vec_id").as("b_id"))
      .distinct()
    cand
      .join(e.select(col("vec_id").as("a_id"), col("embedding").as("a_emb"),
        col("nrm").as("a_nrm")), "a_id")
      .join(e.select(col("vec_id").as("b_id"), col("embedding").as("b_emb"),
        col("nrm").as("b_nrm")), "b_id")
      .withColumn("cos",
        cosineSim(col("a_emb"), col("b_emb")))
      .where(col("cos") >= 0.35)
  }

  val queries: Map[String, Q] = Map(
    // Cross-split SEMANTIC contamination (r9c) — the embedding-space
    // member of the decontamination family (text_decontaminate finds
    // literal 5-gram leaks; this finds test items whose MEANING is
    // already in train — near-identical embeddings across the split,
    // the memorization check an eval pipeline runs when paraphrase
    // leakage would slip a string matcher). Split = the SAME shared
    // splitCol hash every sampling op uses (applied to vec_id), so
    // text-split and embedding-split semantics agree by construction.
    // Candidates come from the banded hyperplane-LSH buckets
    // (packedSig — the embedBandPairs machinery with the split as the
    // cross key: test×train bucket agreement on any band), only
    // candidates pay the exact-cosine re-check, and the emission is
    // the per-test-vector census: match count, nearest train vector
    // ((-cos, id) min-struct argmax), max cosine. 100 TB shape:
    // equality join on (band, bits) — never test×train all-pairs —
    // then two id-keyed join-backs; banding recall bounds are pinned
    // in SimSpec against a brute-force reference.
    "dq_embed_contamination" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding"),
          normD(col("embedding")).as("nrm"),
          SampleQueries.splitCol(col("vec_id")).as("split"))
      // checkpoint ONCE: the frame feeds both join sides with differing
      // filters (test/train) — ReuseExchange cannot deduplicate them,
      // so uncheckpointed the 64-dot signature pass runs twice (r9c rule)
      val buckets = sigBuckets(e.select(col("vec_id"), col("embedding"), col("split")), "split")
        .transform(graft.operators.Scale.materialize)
      // laned test×train bucket join (r10): same rows as the plain
      // (band, bits) join, hot buckets spread over lanes² cells
      val cand = graft.operators.Scale.lanedBucketJoin(
          buckets.where(col("split") === "test"),
          buckets.where(col("split") === "train"),
          Seq("band", "bits"), "vec_id", "vec_id")
        .select(col("x.vec_id").as("t_id"), col("y.vec_id").as("tr_id"))
        .distinct()
      cand
        .join(e.select(col("vec_id").as("t_id"), col("embedding").as("t_emb"),
          col("nrm").as("t_nrm")), "t_id")
        .join(e.select(col("vec_id").as("tr_id"), col("embedding").as("tr_emb"),
          col("nrm").as("tr_nrm")), "tr_id")
        .withColumn("cos",
          cosineSim(col("t_emb"), col("tr_emb")))
        .where(col("cos") >= 0.35)
        .groupBy("t_id")
        .agg(count(lit(1)).as("n_train_matches"),
          min(struct((-col("cos")).as("nc"), col("tr_id").as("ti"))).as("m"))
        .select(col("t_id").as("test_vec"), col("n_train_matches"),
          col("m.ti").as("nearest_train"), r6(-col("m.nc")).as("max_cos"))
        .orderBy("test_vec")
    }),

    // Top-10 neighbors of vec_id=0 by cosine (exact, brute force; the
    // single query vector is broadcast so the scan stays shuffle-free).
    // The cosine here is the NATIVE CosineSim expression (doGenCode fused
    // loop, whole-stage codegen) rather than the HOF composition — the two
    // are bit-identical (same per-accumulator fold order; ExpressionSpec
    // pins it with doubleToLongBits), so the DuckDB oracle and goldens are
    // untouched while the hot loop leaves the CodegenFallback HOF path.
    "sim_search_topk" -> ((s, d) => {
      val q = Tables.embeddings(s, d).where(col("vec_id") === 0)
        .select(col("embedding").as("qv"))
      Tables.embeddings(s, d).where(col("vec_id") =!= 0)
        .crossJoin(broadcast(q))
        .withColumn("cos", cosineSim(col("embedding"), col("qv")))
        .orderBy(col("cos").desc, col("vec_id"))
        .limit(10)
        .select(col("vec_id"), r6(col("cos")).as("cosine"))
        .orderBy(col("cosine").desc, col("vec_id"))
    }),

    // MMR diversified re-ranking (r9b) — the retrieval op between ANN
    // and the consumer (RAG context assembly, dedup-aware search):
    // from the top-12 exact candidates of vec 0, greedily select 5 by
    // Maximal Marginal Relevance (Carbonell-Goldstein; λ = 1/2 scales
    // relevance and redundancy equally, so the comparison reduces to
    // rel − max-sim-to-selected). Stage 1 is the distributed
    // sim_search_topk scan (native CosineSim + TakeOrdered); the
    // greedy loop runs driver-side over the BOUNDED 12-candidate
    // matrix (the kmeans/pca driver-math class) on MICRO-UNIT integers
    // — the cosines are bit-identical cross-engine (fold parity), so
    // floor(x·1e6 + 0.5) quantization makes every comparison exact and
    // the whole selection fully oracled (unrolled 5-step CTE chain, a
    // bitmask over candidate ranks as the selected-set state). Ties at
    // equal score go to the smaller vec_id on both engines.
    "sim_search_mmr" -> ((s, d) => {
      import s.implicits._
      val q = Tables.embeddings(s, d).where(col("vec_id") === 0)
        .select(col("embedding").as("qv"))
      val cand = Tables.embeddings(s, d).where(col("vec_id") =!= 0)
        .crossJoin(broadcast(q))
        .withColumn("cos", cosineSim(col("embedding"), col("qv")))
        .orderBy(col("cos").desc, col("vec_id"))
        .limit(12)
        .select(col("vec_id"), col("cos"), col("embedding"))
        .collect()                                 // bounded: 12 rows
      val ids = cand.map(_.getLong(0))
      val rel = cand.map(r => math.floor(r.getDouble(1) * 1e6 + 0.5).toLong)
      val vecs = cand.map(_.getSeq[Float](2).toArray)
      def dot(a: Array[Float], b: Array[Float]): Double = {
        var acc = 0.0; var i = 0
        while (i < a.length) { acc += a(i).toDouble * b(i).toDouble; i += 1 }
        acc
      }
      val nrm = vecs.map(v => math.sqrt(dot(v, v)))
      def simU(i: Int, j: Int): Long =
        math.floor(dot(vecs(i), vecs(j)) / (nrm(i) * nrm(j)) * 1e6 + 0.5).toLong
      var sel = Set.empty[Int]
      val picks = scala.collection.mutable.ArrayBuffer[(Int, Long, Long, Long)]()
      for (k <- 1 to 5) {
        val (u, mm) = ids.indices.filterNot(sel)
          .map { u =>
            val mm = if (sel.isEmpty) rel(u)
                     else rel(u) - sel.map(j => simU(u, j)).max
            (u, mm)
          }.minBy { case (u, mm) => (-mm, ids(u)) }
        sel += u
        picks += ((k, ids(u), rel(u), mm))
      }
      picks.toSeq.toDF("rank", "vec_id", "rel_u", "mmr_u")
    }),

    // Filtered vector search (r6f) — ANN with a metadata predicate, the
    // operation every RAG store actually serves ("nearest neighbors
    // WHERE tenant/label/date ..."). This is the PRE-FILTER shape: the
    // label predicate applies AT THE SCAN (visible as PushedFilters in
    // the parquet source), so distance work runs only on qualifying
    // rows — at 100 TB the filter's selectivity, not the corpus size,
    // bounds the FLOPs. (Post-filtering a top-k instead can starve the
    // result set below k; pre-filter + exact rescore never does.)
    // Same native-CosineSim scan + TakeOrderedAndProject as
    // sim_search_topk; selection on the raw cosine, display r6.
    "sim_search_filtered" -> ((s, d) => {
      val q = Tables.embeddings(s, d).where(col("vec_id") === 0)
        .select(col("embedding").as("qv"))
      Tables.embeddings(s, d)
        .where(col("vec_id") =!= 0 && col("label").isin(1, 2, 3))
        .crossJoin(broadcast(q))
        .withColumn("cos", cosineSim(col("embedding"), col("qv")))
        .orderBy(col("cos").desc, col("vec_id"))
        .limit(10)
        .select(col("vec_id"), col("label"), r6(col("cos")).as("cosine"))
        .orderBy(col("cosine").desc, col("vec_id"))
    }),

    // Per label: the max-cosine pair (salted self-join within label groups).
    // The per-label argmax is a min(struct) AGGREGATE, not a window: partial
    // aggregation runs map-side over the pair stream, so the 10-value label
    // key never funnels all pairs through 10 window reducers. Tie-break
    // (cos desc, vec_a, vec_b) is encoded as min((-cos, vec_a, vec_b)).
    "sim_join_label" -> ((s, d) => {
      val e = Tables.embeddings(s, d).select(col("vec_id"), col("label"),
        col("embedding"), normD(col("embedding")).as("nrm"))
      labelPairs(e)
        .withColumn("cos", cosineSim(col("a_emb"), col("b_emb")))
        // a zero-norm embedding yields cos = NaN; NaN sorts LARGEST in
        // Spark but the min(-cos) encoding would invert that relative to
        // the oracle's ORDER BY cos DESC — drop NaN pairs explicitly so
        // both engines agree even on degenerate vectors (none in the
        // fixtures; this guards the latent divergence, ADVICE r2).
        .where(!isnan(col("cos")))
        .groupBy(col("a_label").as("label"))
        .agg(min(struct((-col("cos")).as("nc"), col("a_id").as("va"),
          col("b_id").as("vb"))).as("best"))
        .select(col("label"), col("best.va").as("vec_a"),
          col("best.vb").as("vec_b"), r6(-col("best.nc")).as("cosine"))
        .orderBy("label")
    }),

    // Embedding-cosine near-dup pairs within a label block (norms
    // precomputed once per vector, not per pair). Threshold 0.35 sits at
    // the fixture's p99.9 — the survivors list is the dedup drop-set.
    "dedup_embed_cosine" -> ((s, d) =>
      cosinePairs(s, d)
        .select(col("a_label").as("label"), col("a_id").as("vec_a"),
          col("b_id").as("vec_b"), r6(col("cos")).as("cosine"))
        .orderBy("label", "vec_a", "vec_b")),

    // Dedup threshold sweep (r6e) — the tuning table every dedup
    // deployment builds BEFORE picking its cosine cutoff: from ONE pass
    // over the exact within-label pair frame, pair counts per 0.05-wide
    // cosine bucket and the cumulative "pairs you would merge at
    // threshold >= b/20" column. floor(cos*20) buckets are portable
    // because the cosines themselves are bit-identical cross-engine
    // (the shared ascending fold); cumulation runs on the BOUNDED
    // bucket grid via self-join (the dq_ks_drift shape — never a
    // partitionless window), checkpointed once (two consumers).
    "dedup_threshold_sweep" -> ((s, d) => {
      val b = cosinePairs(s, d)
        .selectExpr("CAST(floor(cos * 20.0) AS INT) AS bucket")
        .groupBy("bucket").agg(count(lit(1)).as("n_bucket"))
        .transform(graft.operators.Scale.materialize)
      // the non-equi grid join MUST carry an explicit broadcast hint: a
      // checkpointed LogicalRDD keeps the PRE-checkpoint size ESTIMATE
      // (r14 measured fact), and size-only estimation never discounts the
      // upstream filters/aggregates — so the tiny grid still "looks" like
      // its multi-MB source and the planner degrades >= joins to
      // CartesianProduct (it did when the round-6f fixture regen changed
      // file sizes — PlanGuardSpec caught it). The grid is <= 40 rows;
      // broadcast is right at any SF.
      b.as("a").join(broadcast(b.as("g")), col("g.bucket") >= col("a.bucket"))
        .groupBy(col("a.bucket").as("bucket"))
        .agg(max(col("a.n_bucket")).as("n_bucket"),
          sum(col("g.n_bucket")).as("n_pairs_ge"))
        .selectExpr("bucket", "((CASE WHEN isnan((CAST(bucket AS DOUBLE) / 20.0)) OR abs((CAST(bucket AS DOUBLE) / 20.0)) >= 9e12 THEN CAST((CAST(bucket AS DOUBLE) / 20.0) AS DOUBLE) ELSE CAST(floor((CAST(bucket AS DOUBLE) / 20.0) * 1e6 + 0.5) AS DOUBLE) / 1e6 END)) AS threshold",
          "n_bucket", "n_pairs_ge")
        .orderBy("bucket")
    }),

    // Semantic dedup CLUSTERS: connected components over the
    // embedding-cosine pair graph — the SAME clustering operator that
    // powers dedup_cluster_cc, composed with a second (vector) pair
    // generator. Proves the dedup unit generalizes: any candidate
    // generator (LSH bands, cosine threshold, simhash) feeds the same
    // component step. Oracle: transitive-closure recursive CTE over the
    // same cosine pair SQL.
    "dedup_cluster_embed" -> ((s, d) => {
      val cc = graft.operators.Scale.connectedComponents(
        Tables.embeddings(s, d).select(col("vec_id").as("id")),
        cosinePairs(s, d).select(col("a_id").as("src"), col("b_id").as("dst")))
      val sizes = cc.groupBy("cluster").agg(count(lit(1)).as("csize"))
      cc.join(sizes, "cluster")
        .select(col("id").as("vec_id"), col("cluster").as("cluster_id"), col("csize"))
        .orderBy("vec_id")
    }),

    // Banded-LSH near-dup pairs — the bucketed twin of dedup_embed_cosine,
    // completing the vector side of the jaccard <-> minhash_lsh pairing:
    // the exact all-pairs query stays as the oracle-checkable spec, THIS
    // is the shape that runs at 100 TB (equality-join candidates, exact
    // re-check of survivors only). Deterministic planes -> fully oracled.
    "dedup_embed_lsh" -> ((s, d) =>
      embedBandPairs(s, d)
        .select(col("label"), col("a_id").as("vec_a"), col("b_id").as("vec_b"),
          r6(col("cos")).as("cosine"))
        .orderBy("label", "vec_a", "vec_b")),

    // Semantic dedup clusters over the BANDED pair graph: the end-to-end
    // 100 TB semantic-dedup path (banded candidates -> exact re-check ->
    // connected components). dedup_cluster_embed keeps the exact generator
    // as its spec; this is the plan you deploy.
    "dedup_cluster_embed_lsh" -> ((s, d) => {
      val cc = graft.operators.Scale.connectedComponents(
        Tables.embeddings(s, d).select(col("vec_id").as("id")),
        embedBandPairs(s, d).select(col("a_id").as("src"), col("b_id").as("dst")))
      val sizes = cc.groupBy("cluster").agg(count(lit(1)).as("csize"))
      cc.join(sizes, "cluster")
        .select(col("id").as("vec_id"), col("cluster").as("cluster_id"), col("csize"))
        .orderBy("vec_id")
    }),

    // One survivor per semantic cluster — the embed twin of
    // text_dedup_cluster_survivor, completing the end-to-end semantic
    // dedup (banded candidates -> exact re-check -> components -> one
    // kept vector). Vectors carry no quality score, so the survivor is
    // the max-norm member (the least-truncated/most-informative embedding
    // under L2 conventions), ties to the smaller vec_id; the argmax is the
    // same min-struct AGGREGATE as the text side — map-side partials,
    // never a window over the corpus.
    "dedup_embed_survivor" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), normD(col("embedding")).as("nrm"))
      val cc = graft.operators.Scale.connectedComponents(
        Tables.embeddings(s, d).select(col("vec_id").as("id")),
        embedBandPairs(s, d).select(col("a_id").as("src"), col("b_id").as("dst")))
      cc.join(e, cc("id") === e("vec_id"))
        .groupBy(col("cluster"))
        .agg(min(struct((-col("nrm")).as("nn"), col("id").as("sid"))).as("m"),
          count(lit(1)).as("csize"))
        .select(col("cluster").as("cluster_id"), col("m.sid").as("survivor"),
          r6(-col("m.nn")).as("norm"), col("csize"))
        .orderBy("cluster_id")
    }),

    // LSH-bucketed ANN (the 100 TB scale path for sim_search_topk):
    // 16 random-hyperplane sign bits -> candidates within Hamming<=5 of the
    // query signature -> exact cosine re-rank of the survivors. Hyperplanes
    // are fixed splitmix64-derived literals (deterministic reruns), and the
    // whole pipeline is IEEE-portable, so unlike round 1 the result is
    // oracle-checked (lshOracleSql) on top of SimSpec's recall bound.
    "sim_search_lsh" -> ((s, d) => {
      def sig(v: org.apache.spark.sql.Column) =
        (0 until 16).map { k =>
          val plane = array(planeInts(k).map(i => lit(i / 1000.0)): _*)
          when(dotProd(v, plane) > 0.0, lit(1 << k)).otherwise(0)
        }.reduce(_ + _)
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding"), sig(col("embedding")).as("sg"))
      val q = e.where(col("vec_id") === 0)
        .select(col("embedding").as("qv"), col("sg").as("qsg"))
      e.where(col("vec_id") =!= 0)
        .crossJoin(broadcast(q))
        .where(bit_count(col("sg").bitwiseXOR(col("qsg"))) <= 5)
        .withColumn("cos", cosineSim(col("embedding"), col("qv")))
        .orderBy(col("cos").desc, col("vec_id"))
        .limit(10)
        .select(col("vec_id"), r6(col("cos")).as("cosine"))
        .orderBy(col("cosine").desc, col("vec_id"))
    }),

    // BATCH ANN — the production shape when MANY queries arrive at once
    // (sim_search_lsh serves one query via a broadcast Hamming gate;
    // broadcasting dies when the query set is itself a table). Both sides
    // emit (band, bits) bucket rows from the SAME packed 64-bit signature
    // as the dedup generator (16 bands x 4 sign bits), candidates come
    // from the bucket EQUALITY join — query-count and corpus-size both
    // just scale the join — and only candidates pay the exact cosine.
    // Top-3 per query via the WindowGroupLimit row_number shape.
    "sim_search_lsh_batch" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding"), packedSig(col("embedding")).as("sg"))
      val bands = e.select(col("vec_id"), explode(array((0 until embedBands).map(b =>
          struct(lit(b).as("band"),
            shiftright(col("sg"), b * embedRows)
              .bitwiseAND(lit((1L << embedRows) - 1)).as("bits"))): _*)).as("bb"))
        .select(col("vec_id"), col("bb.band").as("band"), col("bb.bits").as("bits"))
      val qb = bands.where(col("vec_id") < 20)
        .select(col("vec_id").as("qid"), col("band"), col("bits"))
      val cand = qb.join(bands.where(col("vec_id") >= 20), Seq("band", "bits"))
        .select(col("qid"), col("vec_id")).distinct()
      val qe = e.where(col("vec_id") < 20)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      val ce = e.where(col("vec_id") >= 20).select(col("vec_id"), col("embedding"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("qid").orderBy(col("cos").desc, col("vec_id"))
      cand.join(qe, "qid").join(ce, "vec_id")
        .withColumn("cos", cosineSim(col("embedding"), col("qv")))
        .where(!isnan(col("cos")))
        .withColumn("rn", row_number().over(w)).where(col("rn") <= 3)
        .select(col("qid"), col("rn").cast(IntegerType).as("rank"),
          col("vec_id"), r6(col("cos")).as("cosine"))
        .orderBy("qid", "rank")
    }),

    // ANN recall evaluation (r6e) — the meta-operator every ANN
    // deployment runs before trusting an index: for 8 probe queries
    // (vec_id 16-23), compute BOTH the IVF answer (the sim_search_ivf
    // recipe: 16 coarse cells, nprobe=4, exact re-rank of cell members)
    // and the exact brute-force top-10, then recall@10 = |ANN ∩ exact|
    // / 10 per probe. Fully oracled: every cosine is the shared
    // ascending-fold dot product, every ranking tie-breaks by vec_id,
    // so the intersection COUNT is deterministic cross-engine. Scale
    // posture: the exact side is probes × corpus (8 rows broadcast —
    // linear, the eval-set shape), the ANN side touches nprobe cells;
    // both rank under a per-probe window, never a global one.
    "sim_recall_eval" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding"), normD(col("embedding")).as("nrm"))
      val cents = e.where(col("vec_id") < 16)
        .select(col("vec_id").as("cid"), col("embedding").as("cemb"), col("nrm").as("cnrm"))
      val wAssign = Window.partitionBy("vec_id").orderBy(col("ccos").desc, col("cid"))
      val assign = e.crossJoin(broadcast(cents))
        .withColumn("ccos", cosineSim(col("embedding"), col("cemb")))
        .where(!isnan(col("ccos")))
        .withColumn("crn", row_number().over(wAssign))
      val cells = assign.where(col("crn") === 1)
        .select(col("vec_id"), col("cid").as("cell"))
      val qcells = assign.where(col("vec_id") >= 16 && col("vec_id") < 24 && col("crn") <= 4)
        .select(col("vec_id").as("qid"), col("cid").as("cell"))
      val probes = e.where(col("vec_id") >= 16 && col("vec_id") < 24)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"), col("nrm").as("qnrm"))
      val wQ = Window.partitionBy("qid").orderBy(col("cos").desc, col("vec_id"))
      def top10(cand: org.apache.spark.sql.DataFrame) = cand
        .join(broadcast(probes), "qid")
        .withColumn("cos", cosineSim(col("embedding"), col("qv")))
        .where(!isnan(col("cos")))
        .withColumn("rn", row_number().over(wQ))
        .where(col("rn") <= 10)
        .select(col("qid"), col("vec_id"))
      val annTop = top10(cells.join(qcells, "cell")
        .where(col("vec_id") =!= col("qid"))
        .join(e, "vec_id"))
      val exactTop = top10(e.crossJoin(broadcast(probes.select("qid")))
        .where(col("vec_id") =!= col("qid")))
      val hits = annTop.join(exactTop, Seq("qid", "vec_id"))
        .groupBy("qid").agg(count(lit(1)).as("n_hit"))
      probes.select("qid")
        .join(hits, Seq("qid"), "left")
        .na.fill(0L, Seq("n_hit"))
        .select(col("qid").as("vec_id"), col("n_hit"),
          r6(col("n_hit").cast("double") / 10.0).as("recall"))
        .orderBy("vec_id")
    }),

    // IVF probe-tuning curve (r6g) — recall@10 as a function of nprobe
    // ∈ {1, 2, 4, 8}: the table you read to CHOOSE the sim_recall_eval
    // operating point (nprobe trades cells touched against recall; the
    // curve makes the trade explicit). One shared assignment frame
    // feeds all four configs: query-cell ranks to depth 8 land in a
    // bounded checkpointed frame (≤ 64 rows), the config axis is a
    // broadcast crossJoin + crn <= np filter, candidates come from the
    // checkpointed (vec, cell) table, and ranking windows key on
    // (np, qid) — never global. The exact top-10 side is computed ONCE
    // (np-independent). Recall is monotone in np by construction
    // (probed cells are nested) — SimSpec pins it.
    "sim_probe_sweep" -> ((s, d) => {
      import s.implicits._
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding"), normD(col("embedding")).as("nrm"))
      val cents = e.where(col("vec_id") < 16)
        .select(col("vec_id").as("cid"), col("embedding").as("cemb"), col("nrm").as("cnrm"))
      val wAssign = Window.partitionBy("vec_id").orderBy(col("ccos").desc, col("cid"))
      // ONE materialized assignment pass feeds every config (r6 ADVICE:
      // checkpointing two CHILDREN of assign ran the corpus x 16 cross
      // join + window twice) — checkpoint the narrow (vec_id, cid, crn)
      // projection once and derive both consumers from it.
      val assign = e.crossJoin(broadcast(cents))
        .withColumn("ccos", cosineSim(col("embedding"), col("cemb")))
        .where(!isnan(col("ccos")))
        .withColumn("crn", row_number().over(wAssign))
        .select(col("vec_id"), col("cid"), col("crn"))
        .transform(graft.operators.Scale.materialize)
      val cells = assign.where(col("crn") === 1)
        .select(col("vec_id"), col("cid").as("cell"))
      val qcAll = assign.where(col("vec_id") >= 16 && col("vec_id") < 24 && col("crn") <= 8)
        .select(col("vec_id").as("qid"), col("cid").as("cell"), col("crn"))
      val nps = Seq(1, 2, 4, 8).toDF("np")
      val qcNp = qcAll.crossJoin(broadcast(nps))
        .where(col("crn") <= col("np")).select("np", "qid", "cell")
      val probes = e.where(col("vec_id") >= 16 && col("vec_id") < 24)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"), col("nrm").as("qnrm"))
      val wNp = Window.partitionBy("np", "qid").orderBy(col("cos").desc, col("vec_id"))
      val annTop = cells.join(qcNp, "cell")
        .where(col("vec_id") =!= col("qid"))
        .join(e, "vec_id")
        .join(broadcast(probes), "qid")
        .withColumn("cos", cosineSim(col("embedding"), col("qv")))
        .where(!isnan(col("cos")))
        .withColumn("rn", row_number().over(wNp))
        .where(col("rn") <= 10)
        .select(col("np"), col("qid"), col("vec_id"))
      val wQ = Window.partitionBy("qid").orderBy(col("cos").desc, col("vec_id"))
      val exactTop = e.crossJoin(broadcast(probes))
        .where(col("vec_id") =!= col("qid"))
        .withColumn("cos", cosineSim(col("embedding"), col("qv")))
        .where(!isnan(col("cos")))
        .withColumn("rn", row_number().over(wQ))
        .where(col("rn") <= 10)
        .select(col("qid"), col("vec_id"))
      val hits = annTop.join(exactTop, Seq("qid", "vec_id"))
        .groupBy("np").agg(count(lit(1)).as("n_hits"))
      nps.join(hits, Seq("np"), "left")
        .na.fill(0L, Seq("n_hits"))
        .selectExpr("np", "n_hits", s"$sweepRecallF AS mean_recall")
        .orderBy("np")
    }),

    // IVF-style ANN: coarse quantization against 16 fixed centroid
    // vectors (vec_id < 16 — deterministic stand-ins for trained k-means
    // centroids), nprobe=4 cells probed for the query, exact re-rank of
    // the cell members. At 100 TB the assignment table is the partition
    // key: each cell is a co-located shard and a query touches nprobe
    // shards instead of the corpus.
    // IVF index-health stats (r6e) — the companion gauge to
    // sim_recall_eval (recall says whether the index FINDS things;
    // this says whether it will SCALE): per-cell population of the
    // same 16-cell assignment, each cell's share, and a hot-cell flag
    // by integer cross-multiplication (n*cells > 2*total — no FP in
    // the predicate). At 100 TB each cell is a physical shard: a hot
    // cell is a hot shard, and this table is what triggers re-training
    // or cell splitting. Totals enter via one broadcast scalar row.
    "embed_ivf_stats" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding"), normD(col("embedding")).as("nrm"))
      val cents = e.where(col("vec_id") < 16)
        .select(col("vec_id").as("cid"), col("embedding").as("cemb"), col("nrm").as("cnrm"))
      val wAssign = Window.partitionBy("vec_id").orderBy(col("ccos").desc, col("cid"))
      val cellsN = e.crossJoin(broadcast(cents))
        .withColumn("ccos", cosineSim(col("embedding"), col("cemb")))
        .where(!isnan(col("ccos")))
        .withColumn("crn", row_number().over(wAssign))
        .where(col("crn") === 1)
        .groupBy(col("cid").as("cell"))
        .agg(count(lit(1)).as("n_vecs"))
        // two consumers (totals + emission) would re-run the full
        // assignment crossJoin — checkpoint the bounded 16-row frame
        // (the dq_chi2_drift precedent)
        .transform(graft.operators.Scale.materialize)
      val tot = cellsN.agg(sum("n_vecs").as("total"), count(lit(1)).as("n_cells"))
      cellsN.crossJoin(broadcast(tot))
        .selectExpr("cell", "n_vecs",
          "((CASE WHEN isnan((CAST(n_vecs AS DOUBLE) / CAST(total AS DOUBLE))) OR abs((CAST(n_vecs AS DOUBLE) / CAST(total AS DOUBLE))) >= 9e12 THEN CAST((CAST(n_vecs AS DOUBLE) / CAST(total AS DOUBLE)) AS DOUBLE) ELSE CAST(floor((CAST(n_vecs AS DOUBLE) / CAST(total AS DOUBLE)) * 1e6 + 0.5) AS DOUBLE) / 1e6 END)) AS share",
          "n_vecs * n_cells > 2 * total AS hot")
        .orderBy("cell")
    }),

    "sim_search_ivf" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding"), normD(col("embedding")).as("nrm"))
      val cents = e.where(col("vec_id") < 16)
        .select(col("vec_id").as("cid"), col("embedding").as("cemb"), col("nrm").as("cnrm"))
      val wAssign = Window.partitionBy("vec_id").orderBy(col("ccos").desc, col("cid"))
      val assign = e.crossJoin(broadcast(cents))
        .withColumn("ccos", cosineSim(col("embedding"), col("cemb")))
        .withColumn("crn", row_number().over(wAssign))
      val cells = assign.where(col("crn") === 1)
        .select(col("vec_id"), col("cid").as("cell"), col("embedding"), col("nrm"))
      val qcells = assign.where(col("vec_id") === 0 && col("crn") <= 4)
        .select(col("cid").as("cell"))
      val q = e.where(col("vec_id") === 0)
        .select(col("embedding").as("qv"), col("nrm").as("qnrm"))
      cells.join(broadcast(qcells), "cell")
        .where(col("vec_id") =!= 0)
        .crossJoin(broadcast(q))
        .withColumn("cos", cosineSim(col("embedding"), col("qv")))
        .orderBy(col("cos").desc, col("vec_id"))
        .limit(10)
        .select(col("vec_id"), r6(col("cos")).as("cosine"))
        .orderBy(col("cosine").desc, col("vec_id"))
    }),

    // 5-NN majority-label classification for the first 20 vectors
    // (leave-one-out; ties broken toward the smaller label).
    "sim_knn_classify" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      // norms precomputed once per vector — the pairwise stage then does
      // one dot product per pair instead of three
      val q = e.where(col("vec_id") < 20)
        .select(col("vec_id").as("qid"), col("label").as("true_label"),
          col("embedding").as("qv"), normD(col("embedding")).as("qnrm"))
      val wNn = Window.partitionBy("qid").orderBy(col("cos").desc, col("cid"))
      val wMaj = Window.partitionBy("qid").orderBy(col("votes").desc, col("label"))
      e.select(col("vec_id").as("cid"), col("label"), col("embedding"),
          normD(col("embedding")).as("nrm"))
        .join(broadcast(q), col("cid") =!= col("qid"))
        .withColumn("cos", cosineSim(col("embedding"), col("qv")))
        .withColumn("rn", row_number().over(wNn))
        .where(col("rn") <= 5)
        .groupBy("qid", "true_label", "label")
        .agg(count(lit(1)).as("votes"))
        .withColumn("mr", row_number().over(wMaj))
        .where(col("mr") === 1)
        .select(col("qid").as("vec_id"), col("label").as("pred_label"),
          col("true_label"))
        .orderBy("vec_id")
    }),

    // Symmetric per-vector int8 quantization (r6) — the storage/transfer
    // path of every 100 TB ANN corpus (4x smaller than float32 before any
    // PQ): scale = maxabs/127, code_k = floor(v_k/scale + 0.5). The
    // half-up rounding is spelled as pure-IEEE floor(x + 0.5) so both
    // engines bin identically (built-in ROUND conventions differ on
    // doubles); GREATEST(maxabs, 1e-12) keeps a zero vector from
    // dividing by zero (its codes degrade to all-zero, mse 0). Emitted
    // per vector: scale + exact integer code stats + reconstruction mse
    // (left-fold sum / 64, round 6 — the dotD/list_sum-mirror rule).
    // Row-local map work — no shuffle but the presentation sort.
    "embed_quantize_int8" -> ((s, d) => {
      // r16 (r15 verdict ask #5): the whole per-vector HOF chain (maxabs
      // transform, codes transform, three aggregate folds, sqerr
      // zip_with — PlanAudit's densest remaining interpreted plan) fused
      // into ONE native pass, graft.functions.Quant8Stats. Same IEEE op
      // order per accumulator => bit-identical fields (ExpressionSpec
      // pins each at doubleToLongBits grain); r6 display rounding and
      // the /64.0 stay out here, unchanged. The struct rides BEHIND a
      // Generate (explode of a 1-element array) so the five field
      // extractions reference an attribute and the kernel runs once per
      // row (the r9c Generate rule; a plain select would re-inline the
      // extract-only alias per field — the r12/r15 CollapseProject trap).
      Tables.embeddings(s, d)
        .select(col("vec_id"), col("label"),
          explode(array(quant8Stats(col("embedding")))).as("qs"))
        .select(col("vec_id"), col("label"),
          r6(col("qs.scale_raw")).as("scale"),
          col("qs.code_sum").as("code_sum"),
          col("qs.code_min").as("code_min"),
          col("qs.code_max").as("code_max"),
          r6(col("qs.sqe_sum") / 64.0).as("mse"))
        .orderBy("vec_id")
    }),

    // Asymmetric per-DIMENSION uint8 quantization (round-7 candidate
    // list) — embed_quantize_int8's corpus-calibrated sibling: one
    // bounded stats pass derives each dimension's [min, max] over the
    // WHOLE corpus (exact float selection, no summing), then every
    // vector quantizes dimension k against scale_k = (mx_k - mn_k)/255
    // with zero-point mn_k — the per-dim affine grid that halves the
    // reconstruction error symmetric per-vector scaling pays on skewed
    // dims. Shape: posexplode -> bounded (64-row) groupBy -> ONE
    // 1-row array-struct gather (the embed_outlier_dist centroid
    // pattern) broadcast back over the corpus — the quantization itself
    // is row-local map work against the broadcast literal, exactly how
    // a 100 TB codec pass runs. All arithmetic is the fixed-op-order
    // IEEE recipe (floor(x + 0.5) half-up, GREATEST span guard, left-
    // fold mse / 64 at r6) mirrored 1:1 in the oracle.
    "embed_quantize_perdim" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val stats = e
        .select(posexplode(col("embedding")).as(Seq("pos", "x")))
        .groupBy("pos")
        .agg(min(col("x").cast("double")).as("mn"),
          max(col("x").cast("double")).as("mx"))
        .agg(
          transform(array_sort(collect_list(struct(col("pos"), col("mn")))),
            p => p.getField("mn")).as("mns"),
          transform(array_sort(collect_list(struct(col("pos"), col("mx")))),
            p => p.getField("mx")).as("mxs"))
        .select(col("mns"),
          zip_with(col("mxs"), col("mns"),
            (mx, mn) => greatest(mx - mn, lit(1e-12)) / 255.0).as("scales"))
      // r16 (r15 verdict ask #5): the per-vector code/error pass against
      // the broadcast grids fused into graft.functions.QuantPerDimStats
      // (the quant8_stats treatment; loop bound = the same literal 64 as
      // the old sequence(1, 64)). Struct behind a Generate — see
      // embed_quantize_int8. The bounded 64-row stats gather above is
      // unchanged.
      e.crossJoin(broadcast(stats))
        .select(col("vec_id"), col("label"),
          explode(array(quantpdStats(
            col("embedding"), col("mns"), col("scales")))).as("qs"))
        .select(col("vec_id"), col("label"),
          col("qs.code_sum").as("code_sum"),
          col("qs.code_min").as("code_min"),
          col("qs.code_max").as("code_max"),
          r6(col("qs.sqe_sum") / 64.0).as("mse"))
        .orderBy("vec_id")
    }),

    // Hard-negative mining (r9) — the contrastive-training data op (a
    // retriever/embedding trainer pairs each anchor with its most
    // SIMILAR differently-labeled vectors — the negatives that actually
    // move the loss): 8 anchor vectors broadcast against the corpus
    // (sim_knn_classify's norm-precompute shape — one dot per pair),
    // different-label filter BEFORE the rank, top-3 per anchor via the
    // keyed window (WindowGroupLimit prunes per partition). Cosine
    // doubles are bit-identical both engines (the dotD fold mirror), so
    // the ranking needs no tolerance; NaN (zero-norm) drops via the
    // cosinePairs isnan rule.
    "sim_hard_negatives" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val q = e.where(col("vec_id") < 8)
        .select(col("vec_id").as("qid"), col("label").as("q_label"),
          col("embedding").as("qv"), normD(col("embedding")).as("qnrm"))
      val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("cid"))
      e.select(col("vec_id").as("cid"), col("label"), col("embedding"),
          normD(col("embedding")).as("nrm"))
        .join(broadcast(q), col("label") =!= col("q_label"))
        .withColumn("cos", cosineSim(col("embedding"), col("qv")))
        .where(!isnan(col("cos")))
        .withColumn("rn", row_number().over(w))
        .where(col("rn") <= 3)
        .select(col("qid"), col("q_label"),
          col("rn").cast(IntegerType).as("rank"),
          col("cid").as("neg_id"), col("label").as("neg_label"),
          r6(col("cos")).as("cos"))
        .orderBy("qid", "rank")
    })
  )

  // Shared SQL fragment: double-accumulated dot product over 1-based list
  // positions — the exact mirror of Qutil.dotD's left fold.
  /** CTE list producing `f` = the filtered cosine pair set — shared by the
    * dedup_embed_cosine oracle and the clustering oracle's closure.
    * NOT isnan mirrors Spark's comparison semantics: NaN >= 0.35 is FALSE
    * in Spark but TRUE under DuckDB's NaN-sorts-largest ordering, so a
    * zero-norm embedding would diverge without the guard. */
  private def cosinePairsCteSql: String =
    "n AS (SELECT vec_id, label, embedding, " +
      s"sqrt(${dotSql("embedding", "embedding")}) AS nrm FROM embeddings), " +
      "p AS (SELECT a.label AS label, a.vec_id AS vec_a, b.vec_id AS vec_b, " +
      s"${dotSql("a.embedding", "b.embedding")} / (a.nrm * b.nrm) AS cos " +
      "FROM n a JOIN n b ON a.label = b.label AND a.vec_id < b.vec_id), " +
      "f AS (SELECT label, vec_a, vec_b, cos FROM p WHERE NOT isnan(cos) AND cos >= 0.35)"

  /** Probe-sweep recall emission (sim_probe_sweep): exact hit count over
    * the fixed eval mass (8 queries × top-10), one division (def:
    * oracle Map init-order rule). */
  private def sweepRecallF: String =
    "((CASE WHEN isnan((CAST(n_hits AS DOUBLE) / 80.0)) OR abs((CAST(n_hits AS DOUBLE) / 80.0)) >= 9e12 THEN CAST((CAST(n_hits AS DOUBLE) / 80.0) AS DOUBLE) ELSE CAST(floor((CAST(n_hits AS DOUBLE) / 80.0) * 1e6 + 0.5) AS DOUBLE) / 1e6 END))"

  private def dotSql(a: String, b: String): String =
    s"list_sum(list_transform(generate_series(1, 64), i -> CAST($a[i] AS DOUBLE)*CAST($b[i] AS DOUBLE)))"

  /** Unrolled 5-step MMR greedy chain (sim_search_mmr): candidates
    * ranked crn 1..12, selected set carried as a BIGINT bitmask over
    * crn (≤ 12 bits — far below the 63-bit portable-shift cap), each
    * step's argmax = ORDER BY mmru DESC, vec_id LIMIT 1 (the driver
    * loop's exact tie rule). All scores are micro-unit BIGINTs
    * quantized from bit-identical cosines, so the selection replays
    * exactly. */
  private def mmrSql: String = {
    def step(k: Int): String =
      s"m$k AS (SELECT c.crn, c.vec_id, c.relu, c.relu - MAX(p.simu) AS mmru, prev.mask AS pmask " +
        s"FROM s${k - 1} prev JOIN pv c ON ((prev.mask >> (c.crn - 1)) & 1) = 0 " +
        "JOIN ps p ON p.ca = c.crn AND ((prev.mask >> (p.cb - 1)) & 1) = 1 " +
        "GROUP BY c.crn, c.vec_id, c.relu, prev.mask), " +
        s"s$k AS (SELECT $k AS rank, crn, vec_id, relu, mmru, " +
        "pmask | (CAST(1 AS BIGINT) << (crn - 1)) AS mask " +
        s"FROM m$k ORDER BY mmru DESC, vec_id LIMIT 1)"
    "WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0), " +
      s"c0 AS (SELECT vec_id, embedding, ${dotSql("embedding", "qv")} / " +
      s"(sqrt(${dotSql("embedding", "embedding")}) * sqrt(${dotSql("qv", "qv")})) AS cos " +
      "FROM embeddings CROSS JOIN q WHERE vec_id <> 0 ORDER BY cos DESC, vec_id LIMIT 12), " +
      "pv AS (SELECT CAST(row_number() OVER (ORDER BY cos DESC, vec_id) AS INT) AS crn, vec_id, " +
      "CAST(floor(cos * 1e6 + 0.5) AS BIGINT) AS relu, embedding, " +
      s"sqrt(${dotSql("embedding", "embedding")}) AS nrm FROM c0), " +
      "ps AS (SELECT a.crn AS ca, b.crn AS cb, " +
      s"CAST(floor(${dotSql("a.embedding", "b.embedding")} / (a.nrm * b.nrm) * 1e6 + 0.5) AS BIGINT) AS simu " +
      "FROM pv a JOIN pv b ON a.crn <> b.crn), " +
      "s1 AS (SELECT 1 AS rank, crn, vec_id, relu, relu AS mmru, " +
      "CAST(1 AS BIGINT) << (crn - 1) AS mask FROM (SELECT * FROM pv ORDER BY relu DESC, vec_id LIMIT 1)), " +
      (2 to 5).map(step).mkString(", ") + " " +
      "SELECT rank, vec_id, relu AS rel_u, mmru AS mmr_u FROM (" +
      "SELECT rank, vec_id, relu, mmru FROM s1 " +
      (2 to 5).map(k => s"UNION ALL SELECT rank, vec_id, relu, mmru FROM s$k").mkString(" ") +
      ") ORDER BY rank"
  }

  /** Plane-dot SQL fragment: the DuckDB mirror of dotD(v, plane k) with the
    * plane's integral thousandths inlined — shared by the single-query LSH
    * oracle (planes 0-15) and the banded pair-generator oracle (all 64). */
  /** Band b's 4-sign-bit integer — ONE definition shared by the dedup
    * pair-generator mirror (embedBandPairsCteSql) and the batch-ANN
    * mirror (lshBatchOracleSql); the Spark twin is packedSig's nibble
    * shiftright(sig, b*embedRows) & ((1<<embedRows)-1). */
  private def bandBitsSql(b: Int): String = (0 until embedRows).map(j =>
    s"(CASE WHEN ${planeDotSql(b * embedRows + j)} > 0 THEN ${1 << j} ELSE 0 END)")
    .mkString(" + ")

  private def planeDotSql(k: Int): String = {
    val arr = planeInts(k).mkString("[", ", ", "]")
    s"list_sum(list_transform(generate_series(1, 64), i -> CAST(embedding[i] AS DOUBLE) * ($arr[i] / 1000.0)))"
  }

  /** CTE list producing `g` = the banded candidate pair set after the exact
    * cosine re-check — the DuckDB mirror of embedBandPairs (same planes,
    * same band packing, same equality-join blocking, same re-check).
    * NOT isnan: same Spark-vs-DuckDB NaN-comparison guard as
    * cosinePairsCteSql. */
  private[graft] def embedBandPairsCteSql: String = {
    val sgCols = (0 until embedBands).map(b => s"${bandBitsSql(b)} AS b$b").mkString(", ")
    val bkSelects = (0 until embedBands).map(b =>
      s"SELECT vec_id, label, $b AS band, b$b AS bits FROM sg").mkString(" UNION ALL ")
    "n AS (SELECT vec_id, label, embedding, " +
      s"sqrt(${dotSql("embedding", "embedding")}) AS nrm FROM embeddings), " +
      s"sg AS (SELECT vec_id, label, $sgCols FROM embeddings), " +
      s"bk AS ($bkSelects), " +
      "cand AS (SELECT DISTINCT x.label AS label, x.vec_id AS vec_a, y.vec_id AS vec_b " +
      "FROM bk x JOIN bk y ON x.label = y.label AND x.band = y.band " +
      "AND x.bits = y.bits AND x.vec_id < y.vec_id), " +
      "p2 AS (SELECT cand.label AS label, vec_a, vec_b, " +
      s"${dotSql("a.embedding", "b.embedding")} / (a.nrm * b.nrm) AS cos " +
      "FROM cand JOIN n a ON a.vec_id = cand.vec_a JOIN n b ON b.vec_id = cand.vec_b), " +
      "g AS (SELECT label, vec_a, vec_b, cos FROM p2 WHERE NOT isnan(cos) AND cos >= 0.35)"
  }

  /** DuckDB mirror of the cross-split semantic-contamination census:
    * same split hash, same 64 planes / 16×4-bit banding, candidates
    * from test×train bucket agreement, same exact-cosine re-check
    * (NOT isnan guard per cosinePairsCteSql), same (-cos, id)
    * min-struct argmax. */
  private def embedContamSql: String = {
    val splitCase =
      s"CASE WHEN ${hash60Sql("'split:' || CAST(vec_id AS VARCHAR)")} % 100 < 80 THEN 'train' " +
        s"WHEN ${hash60Sql("'split:' || CAST(vec_id AS VARCHAR)")} % 100 < 90 THEN 'valid' " +
        "ELSE 'test' END"
    val bandSelects = (0 until embedBands).map(b =>
      s"SELECT vec_id, split, $b AS band, ${bandBitsSql(b)} AS bits FROM sp")
      .mkString(" UNION ALL ")
    s"WITH sp AS (SELECT vec_id, embedding, $splitCase AS split FROM embeddings), " +
      s"n AS (SELECT vec_id, embedding, sqrt(${dotSql("embedding", "embedding")}) AS nrm " +
      "FROM embeddings), " +
      s"bk AS ($bandSelects), " +
      "cand AS (SELECT DISTINCT x.vec_id AS t_id, y.vec_id AS tr_id FROM bk x JOIN bk y " +
      "ON x.band = y.band AND x.bits = y.bits AND x.split = 'test' AND y.split = 'train'), " +
      "p2 AS (SELECT t_id, tr_id, " +
      s"${dotSql("a.embedding", "b.embedding")} / (a.nrm * b.nrm) AS cos " +
      "FROM cand JOIN n a ON a.vec_id = cand.t_id JOIN n b ON b.vec_id = cand.tr_id), " +
      "g AS (SELECT t_id, tr_id, cos FROM p2 WHERE NOT isnan(cos) AND cos >= 0.35), " +
      "agg AS (SELECT t_id, CAST(COUNT(*) AS BIGINT) AS n_train_matches, " +
      "MIN(struct_pack(nc := -cos, ti := tr_id)) AS m FROM g GROUP BY 1) " +
      "SELECT t_id AS test_vec, n_train_matches, (m).ti AS nearest_train, " +
      s"${r6Sql("-((m).nc)")} AS max_cos FROM agg ORDER BY test_vec"
  }

  /** DuckDB mirror of the full hyperplane-LSH pipeline: same integral-
    * thousandths planes (identical IEEE doubles after the /1000.0), same
    * left-fold dot products, same Hamming<=5 gate and exact re-rank. */
  private def lshOracleSql: String = {
    val sgExpr = (0 until 16).map(k =>
      s"(CASE WHEN ${planeDotSql(k)} > 0 THEN ${1 << k} ELSE 0 END)").mkString(" + ")
    "WITH sg AS (SELECT vec_id, embedding, " + sgExpr + " AS sg FROM embeddings), " +
      "q AS (SELECT embedding AS qv, sg AS qsg FROM sg WHERE vec_id = 0), " +
      "c AS (SELECT s.vec_id, s.embedding, qv FROM sg s CROSS JOIN q " +
      "WHERE s.vec_id <> 0 AND bit_count(xor(CAST(s.sg AS BIGINT), CAST(qsg AS BIGINT))) <= 5), " +
      s"sc AS (SELECT vec_id, ${dotSql("embedding", "qv")} AS dp, " +
      s"sqrt(${dotSql("embedding", "embedding")}) AS ne, sqrt(${dotSql("qv", "qv")}) AS nq FROM c) " +
      "SELECT vec_id, cosine FROM (SELECT vec_id, ((CASE WHEN isnan((dp/(ne*nq))) OR abs((dp/(ne*nq))) >= 9e12 THEN CAST((dp/(ne*nq)) AS DOUBLE) ELSE CAST(floor((dp/(ne*nq)) * 1e6 + 0.5) AS DOUBLE) / 1e6 END)) AS cosine, dp/(ne*nq) AS rawc " +
      "FROM sc ORDER BY rawc DESC, vec_id LIMIT 10) ORDER BY cosine DESC, vec_id"
  }

  /** DuckDB mirror of the batch-ANN pipeline: same 64 planes, same
    * 16x4-bit banding, same equality-join candidates + exact re-rank. */
  private def lshBatchOracleSql: String = {
    val bandSelects = (0 until embedBands).map(b =>
      s"SELECT vec_id, $b AS band, ${bandBitsSql(b)} AS bits FROM embeddings")
      .mkString(" UNION ALL ")
    s"WITH bb AS ($bandSelects), " +
      "qb AS (SELECT vec_id AS qid, band, bits FROM bb WHERE vec_id < 20), " +
      "cb AS (SELECT vec_id, band, bits FROM bb WHERE vec_id >= 20), " +
      "cand AS (SELECT DISTINCT qid, vec_id FROM qb JOIN cb USING (band, bits)), " +
      s"sc AS (SELECT cand.qid, cand.vec_id, " +
      s"${dotSql("c.embedding", "q.embedding")} / " +
      s"(sqrt(${dotSql("c.embedding", "c.embedding")}) * sqrt(${dotSql("q.embedding", "q.embedding")})) AS cos " +
      "FROM cand JOIN embeddings q ON q.vec_id = cand.qid " +
      "JOIN embeddings c ON c.vec_id = cand.vec_id), " +
      "r AS (SELECT qid, vec_id, cos, " +
      "row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rn " +
      "FROM sc WHERE NOT isnan(cos)) " +
      "SELECT qid, CAST(rn AS INT) AS rank, vec_id, ((CASE WHEN isnan((cos)) OR abs((cos)) >= 9e12 THEN CAST((cos) AS DOUBLE) ELSE CAST(floor((cos) * 1e6 + 0.5) AS DOUBLE) / 1e6 END)) AS cosine " +
      "FROM r WHERE rn <= 3 ORDER BY qid, rank"
  }

  val oracle: Map[String, String] = Map(
    "embed_quantize_int8" ->
      // same pure-IEEE half-up (floor(x/scale + 0.5)) and the same
      // left-fold sums; list_sum over a BIGINT list widens -> cast back
      ("WITH b AS (SELECT vec_id, label, embedding, " +
       "GREATEST(list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))), 1e-12) / 127.0 AS scale " +
       "FROM embeddings), " +
       "c AS (SELECT vec_id, label, scale, embedding, " +
       "list_transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) / scale + 0.5) AS BIGINT)) AS codes " +
       "FROM b) " +
       "SELECT vec_id, label, ((CASE WHEN isnan((scale)) OR abs((scale)) >= 9e12 THEN CAST((scale) AS DOUBLE) ELSE CAST(floor((scale) * 1e6 + 0.5) AS DOUBLE) / 1e6 END)) AS scale, " +
       "CAST(list_sum(codes) AS BIGINT) AS code_sum, " +
       "CAST(list_min(codes) AS BIGINT) AS code_min, " +
       "CAST(list_max(codes) AS BIGINT) AS code_max, " +
       "((CASE WHEN isnan((list_sum(list_transform(generate_series(1, 64), i -> " +
       "(CAST(embedding[i] AS DOUBLE) - CAST(codes[i] AS DOUBLE) * scale) * " +
       "(CAST(embedding[i] AS DOUBLE) - CAST(codes[i] AS DOUBLE) * scale))) / 64.0)) OR abs((list_sum(list_transform(generate_series(1, 64), i -> " +
       "(CAST(embedding[i] AS DOUBLE) - CAST(codes[i] AS DOUBLE) * scale) * " +
       "(CAST(embedding[i] AS DOUBLE) - CAST(codes[i] AS DOUBLE) * scale))) / 64.0)) >= 9e12 THEN CAST((list_sum(list_transform(generate_series(1, 64), i -> " +
       "(CAST(embedding[i] AS DOUBLE) - CAST(codes[i] AS DOUBLE) * scale) * " +
       "(CAST(embedding[i] AS DOUBLE) - CAST(codes[i] AS DOUBLE) * scale))) / 64.0) AS DOUBLE) ELSE CAST(floor((list_sum(list_transform(generate_series(1, 64), i -> " +
       "(CAST(embedding[i] AS DOUBLE) - CAST(codes[i] AS DOUBLE) * scale) * " +
       "(CAST(embedding[i] AS DOUBLE) - CAST(codes[i] AS DOUBLE) * scale))) / 64.0) * 1e6 + 0.5) AS DOUBLE) / 1e6 END)) AS mse " +
       "FROM c ORDER BY vec_id"),
    "embed_quantize_perdim" ->
      // per-dim [mn, mx] are exact float selections; scales/codes/mse
      // follow the same fixed IEEE op order as the Spark side: GREATEST
      // span guard, /255, floor(x + 0.5) half-up, mn + code*scale
      // reconstruction, left-fold /64 at round 6
      ("WITH s AS (SELECT i AS pos, MIN(CAST(embedding[i] AS DOUBLE)) AS mn, " +
       "MAX(CAST(embedding[i] AS DOUBLE)) AS mx " +
       "FROM embeddings CROSS JOIN (SELECT unnest(range(1, 65)) AS i) dims GROUP BY 1), " +
       "a AS (SELECT list(mn ORDER BY pos) AS mns, " +
       "list(GREATEST(mx - mn, 1e-12) / 255.0 ORDER BY pos) AS scales FROM s), " +
       "c AS (SELECT vec_id, label, embedding, mns, scales, " +
       "list_transform(generate_series(1, 64), i -> " +
       "CAST(FLOOR((CAST(embedding[i] AS DOUBLE) - mns[i]) / scales[i] + 0.5) AS BIGINT)) AS codes " +
       "FROM embeddings CROSS JOIN a) " +
       "SELECT vec_id, label, CAST(list_sum(codes) AS BIGINT) AS code_sum, " +
       "CAST(list_min(codes) AS BIGINT) AS code_min, " +
       "CAST(list_max(codes) AS BIGINT) AS code_max, " +
       "((CASE WHEN isnan((list_sum(list_transform(generate_series(1, 64), i -> " +
       "(CAST(embedding[i] AS DOUBLE) - (mns[i] + CAST(codes[i] AS DOUBLE) * scales[i])) * " +
       "(CAST(embedding[i] AS DOUBLE) - (mns[i] + CAST(codes[i] AS DOUBLE) * scales[i])))) / 64.0)) OR abs((list_sum(list_transform(generate_series(1, 64), i -> " +
       "(CAST(embedding[i] AS DOUBLE) - (mns[i] + CAST(codes[i] AS DOUBLE) * scales[i])) * " +
       "(CAST(embedding[i] AS DOUBLE) - (mns[i] + CAST(codes[i] AS DOUBLE) * scales[i])))) / 64.0)) >= 9e12 THEN CAST((list_sum(list_transform(generate_series(1, 64), i -> " +
       "(CAST(embedding[i] AS DOUBLE) - (mns[i] + CAST(codes[i] AS DOUBLE) * scales[i])) * " +
       "(CAST(embedding[i] AS DOUBLE) - (mns[i] + CAST(codes[i] AS DOUBLE) * scales[i])))) / 64.0) AS DOUBLE) ELSE CAST(floor((list_sum(list_transform(generate_series(1, 64), i -> " +
       "(CAST(embedding[i] AS DOUBLE) - (mns[i] + CAST(codes[i] AS DOUBLE) * scales[i])) * " +
       "(CAST(embedding[i] AS DOUBLE) - (mns[i] + CAST(codes[i] AS DOUBLE) * scales[i])))) / 64.0) * 1e6 + 0.5) AS DOUBLE) / 1e6 END)) AS mse " +
       "FROM c ORDER BY vec_id"),
    "sim_search_lsh_batch" -> lshBatchOracleSql,
    "sim_search_lsh" -> lshOracleSql,
    "sim_search_mmr" -> mmrSql,
    "dq_embed_contamination" -> embedContamSql,
    "sim_search_topk" ->
      ("WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0), " +
       s"s AS (SELECT vec_id, ${dotSql("embedding", "qv")} AS dp, " +
       s"sqrt(${dotSql("embedding", "embedding")}) AS ne, sqrt(${dotSql("qv", "qv")}) AS nq " +
       "FROM embeddings CROSS JOIN q WHERE vec_id <> 0) " +
       // final ORDER BY on the ROUNDED value + vec_id, mirroring the Spark
       // side exactly (sorting one side rounded and the other raw diverges
       // when two cosines differ only past 6 dp); LIMIT still selects by
       // the raw value inside s via the same deterministic computation.
       "SELECT vec_id, cosine FROM (SELECT vec_id, ((CASE WHEN isnan((dp/(ne*nq))) OR abs((dp/(ne*nq))) >= 9e12 THEN CAST((dp/(ne*nq)) AS DOUBLE) ELSE CAST(floor((dp/(ne*nq)) * 1e6 + 0.5) AS DOUBLE) / 1e6 END)) AS cosine, dp/(ne*nq) AS rawc " +
       "FROM s ORDER BY rawc DESC, vec_id LIMIT 10) ORDER BY cosine DESC, vec_id"),
    "sim_search_filtered" ->
      ("WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0), " +
       s"s AS (SELECT vec_id, label, ${dotSql("embedding", "qv")} AS dp, " +
       s"sqrt(${dotSql("embedding", "embedding")}) AS ne, sqrt(${dotSql("qv", "qv")}) AS nq " +
       "FROM embeddings CROSS JOIN q WHERE vec_id <> 0 AND label IN (1, 2, 3)) " +
       "SELECT vec_id, label, cosine FROM (SELECT vec_id, label, " +
       "((CASE WHEN isnan((dp/(ne*nq))) OR abs((dp/(ne*nq))) >= 9e12 THEN CAST((dp/(ne*nq)) AS DOUBLE) ELSE CAST(floor((dp/(ne*nq)) * 1e6 + 0.5) AS DOUBLE) / 1e6 END)) AS cosine, dp/(ne*nq) AS rawc " +
       "FROM s ORDER BY rawc DESC, vec_id LIMIT 10) ORDER BY cosine DESC, vec_id"),
    "dedup_embed_cosine" ->
      (s"WITH $cosinePairsCteSql " +
       "SELECT label, vec_a, vec_b, ((CASE WHEN isnan((cos)) OR abs((cos)) >= 9e12 THEN CAST((cos) AS DOUBLE) ELSE CAST(floor((cos) * 1e6 + 0.5) AS DOUBLE) / 1e6 END)) AS cosine FROM f " +
       "ORDER BY label, vec_a, vec_b"),
    "dedup_embed_lsh" ->
      (s"WITH $embedBandPairsCteSql " +
       "SELECT label, vec_a, vec_b, ((CASE WHEN isnan((cos)) OR abs((cos)) >= 9e12 THEN CAST((cos) AS DOUBLE) ELSE CAST(floor((cos) * 1e6 + 0.5) AS DOUBLE) / 1e6 END)) AS cosine FROM g " +
       "ORDER BY label, vec_a, vec_b"),
    "dedup_cluster_embed_lsh" ->
      (s"WITH RECURSIVE $embedBandPairsCteSql, " +
       "e2 AS (SELECT vec_a AS u, vec_b AS v FROM g " +
       "UNION ALL SELECT vec_b, vec_a FROM g), " +
       "reach AS (SELECT vec_id AS doc, vec_id AS r FROM embeddings " +
       "UNION SELECT e2.v AS doc, reach.r AS r FROM reach JOIN e2 ON e2.u = reach.doc), " +
       "c AS (SELECT doc, MIN(r) AS cluster_id FROM reach GROUP BY doc), " +
       "s AS (SELECT cluster_id, COUNT(*) AS csize FROM c GROUP BY 1) " +
       "SELECT c.doc AS vec_id, c.cluster_id, s.csize FROM c " +
       "JOIN s USING (cluster_id) ORDER BY vec_id"),
    "dedup_embed_survivor" ->
      (s"WITH RECURSIVE $embedBandPairsCteSql, " +
       "e2 AS (SELECT vec_a AS u, vec_b AS v FROM g " +
       "UNION ALL SELECT vec_b, vec_a FROM g), " +
       "reach AS (SELECT vec_id AS doc, vec_id AS r FROM embeddings " +
       "UNION SELECT e2.v AS doc, reach.r AS r FROM reach JOIN e2 ON e2.u = reach.doc), " +
       "c AS (SELECT doc, MIN(r) AS cluster_id FROM reach GROUP BY doc), " +
       "j AS (SELECT c.cluster_id, n.vec_id, n.nrm FROM c JOIN n ON c.doc = n.vec_id), " +
       "r AS (SELECT *, row_number() OVER (PARTITION BY cluster_id ORDER BY nrm DESC, vec_id) AS rn, " +
       "COUNT(*) OVER (PARTITION BY cluster_id) AS csize FROM j) " +
       "SELECT cluster_id, vec_id AS survivor, ((CASE WHEN isnan((nrm)) OR abs((nrm)) >= 9e12 THEN CAST((nrm) AS DOUBLE) ELSE CAST(floor((nrm) * 1e6 + 0.5) AS DOUBLE) / 1e6 END)) AS norm, csize " +
       "FROM r WHERE rn = 1 ORDER BY cluster_id"),
    "dedup_cluster_embed" ->
      (s"WITH RECURSIVE $cosinePairsCteSql, " +
       "e AS (SELECT vec_a AS u, vec_b AS v FROM f " +
       "UNION ALL SELECT vec_b, vec_a FROM f), " +
       "reach AS (SELECT vec_id AS doc, vec_id AS r FROM embeddings " +
       "UNION SELECT e.v AS doc, reach.r AS r FROM reach JOIN e ON e.u = reach.doc), " +
       "c AS (SELECT doc, MIN(r) AS cluster_id FROM reach GROUP BY doc), " +
       "s AS (SELECT cluster_id, COUNT(*) AS csize FROM c GROUP BY 1) " +
       "SELECT c.doc AS vec_id, c.cluster_id, s.csize FROM c " +
       "JOIN s USING (cluster_id) ORDER BY vec_id"),
    "dedup_threshold_sweep" ->
      // same exact-pair CTEs, identical floor buckets, grid self-join
      // cumulation; SUM comes back HUGEINT — cast
      (s"WITH $cosinePairsCteSql, " +
       "bk AS (SELECT CAST(floor(cos * 20.0) AS INT) AS bucket FROM f), " +
       "bc AS (SELECT bucket, COUNT(*) AS n_bucket FROM bk GROUP BY 1) " +
       "SELECT a.bucket, ((CASE WHEN isnan((CAST(a.bucket AS DOUBLE) / 20.0)) OR abs((CAST(a.bucket AS DOUBLE) / 20.0)) >= 9e12 THEN CAST((CAST(a.bucket AS DOUBLE) / 20.0) AS DOUBLE) ELSE CAST(floor((CAST(a.bucket AS DOUBLE) / 20.0) * 1e6 + 0.5) AS DOUBLE) / 1e6 END)) AS threshold, " +
       "MAX(a.n_bucket) AS n_bucket, CAST(SUM(g.n_bucket) AS BIGINT) AS n_pairs_ge " +
       "FROM bc a JOIN bc g ON g.bucket >= a.bucket GROUP BY 1 ORDER BY 1"),
    "embed_ivf_stats" ->
      // same assignment CTEs, per-cell counts, broadcast totals, the
      // identical integer cross-multiplied hot flag
      (s"WITH e AS (SELECT vec_id, embedding, sqrt(${dotSql("embedding", "embedding")}) AS nrm FROM embeddings), " +
       "c AS (SELECT vec_id AS cid, embedding AS cemb, nrm AS cnrm FROM e WHERE vec_id < 16), " +
       s"a0 AS (SELECT e.vec_id, cid, ${dotSql("embedding", "cemb")}/(nrm*cnrm) AS ccos FROM e CROSS JOIN c), " +
       "a1 AS (SELECT * FROM a0 WHERE NOT isnan(ccos)), " +
       "a AS (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS crn FROM a1), " +
       "cn AS (SELECT cid AS cell, COUNT(*) AS n_vecs FROM a WHERE crn = 1 GROUP BY 1), " +
       "t AS (SELECT CAST(SUM(n_vecs) AS BIGINT) AS total, COUNT(*) AS n_cells FROM cn) " +
       "SELECT cell, n_vecs, ((CASE WHEN isnan((CAST(n_vecs AS DOUBLE) / CAST(total AS DOUBLE))) OR abs((CAST(n_vecs AS DOUBLE) / CAST(total AS DOUBLE))) >= 9e12 THEN CAST((CAST(n_vecs AS DOUBLE) / CAST(total AS DOUBLE)) AS DOUBLE) ELSE CAST(floor((CAST(n_vecs AS DOUBLE) / CAST(total AS DOUBLE)) * 1e6 + 0.5) AS DOUBLE) / 1e6 END)) AS share, " +
       "n_vecs * n_cells > 2 * total AS hot " +
       "FROM cn CROSS JOIN t ORDER BY cell"),
    "sim_recall_eval" ->
      // the sim_search_ivf assignment CTEs generalized to 8 probes, the
      // exact brute-force side, and the per-probe intersection count;
      // identical NaN guards and (cos DESC, vec_id) tie-breaks
      (s"WITH e AS (SELECT vec_id, embedding, sqrt(${dotSql("embedding", "embedding")}) AS nrm FROM embeddings), " +
       "c AS (SELECT vec_id AS cid, embedding AS cemb, nrm AS cnrm FROM e WHERE vec_id < 16), " +
       s"a0 AS (SELECT e.vec_id, cid, ${dotSql("embedding", "cemb")}/(nrm*cnrm) AS ccos FROM e CROSS JOIN c), " +
       "a1 AS (SELECT * FROM a0 WHERE NOT isnan(ccos)), " +
       "a AS (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS crn FROM a1), " +
       "cells AS (SELECT vec_id, cid AS cell FROM a WHERE crn = 1), " +
       "qc AS (SELECT vec_id AS qid, cid AS cell FROM a WHERE vec_id BETWEEN 16 AND 23 AND crn <= 4), " +
       "q AS (SELECT vec_id AS qid, embedding AS qv, nrm AS qnrm FROM e WHERE vec_id BETWEEN 16 AND 23), " +
       "cand AS (SELECT qc.qid, cells.vec_id FROM cells JOIN qc USING (cell) WHERE cells.vec_id <> qc.qid), " +
       s"ac AS (SELECT cand.qid, cand.vec_id, ${dotSql("e.embedding", "qv")}/(e.nrm*qnrm) AS cos " +
       "FROM cand JOIN e ON cand.vec_id = e.vec_id JOIN q ON cand.qid = q.qid), " +
       "ar AS (SELECT qid, vec_id, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rn " +
       "FROM ac WHERE NOT isnan(cos)), " +
       "ann AS (SELECT qid, vec_id FROM ar WHERE rn <= 10), " +
       s"ec AS (SELECT q.qid, e.vec_id, ${dotSql("e.embedding", "qv")}/(e.nrm*qnrm) AS cos " +
       "FROM e CROSS JOIN q WHERE e.vec_id <> q.qid), " +
       "er AS (SELECT qid, vec_id, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rn " +
       "FROM ec WHERE NOT isnan(cos)), " +
       "ext AS (SELECT qid, vec_id FROM er WHERE rn <= 10), " +
       "h AS (SELECT ann.qid, COUNT(*) AS n_hit FROM ann " +
       "JOIN ext ON ann.qid = ext.qid AND ann.vec_id = ext.vec_id GROUP BY 1) " +
       "SELECT q.qid AS vec_id, CAST(COALESCE(n_hit, 0) AS BIGINT) AS n_hit, " +
       "((CASE WHEN isnan((CAST(COALESCE(n_hit, 0) AS DOUBLE)/10.0)) OR abs((CAST(COALESCE(n_hit, 0) AS DOUBLE)/10.0)) >= 9e12 THEN CAST((CAST(COALESCE(n_hit, 0) AS DOUBLE)/10.0) AS DOUBLE) ELSE CAST(floor((CAST(COALESCE(n_hit, 0) AS DOUBLE)/10.0) * 1e6 + 0.5) AS DOUBLE) / 1e6 END)) AS recall " +
       "FROM q LEFT JOIN h ON q.qid = h.qid ORDER BY vec_id"),
    "sim_probe_sweep" ->
      // the sim_recall_eval CTEs with the probe depth as a config axis
      // (unnest([1,2,4,8]) × crn <= np); exact side computed once;
      // identical NaN guards and tie-breaks; the shared recall emission
      (s"WITH e AS (SELECT vec_id, embedding, sqrt(${dotSql("embedding", "embedding")}) AS nrm FROM embeddings), " +
       "c AS (SELECT vec_id AS cid, embedding AS cemb, nrm AS cnrm FROM e WHERE vec_id < 16), " +
       s"a0 AS (SELECT e.vec_id, cid, ${dotSql("embedding", "cemb")}/(nrm*cnrm) AS ccos FROM e CROSS JOIN c), " +
       "a1 AS (SELECT * FROM a0 WHERE NOT isnan(ccos)), " +
       "a AS (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS crn FROM a1), " +
       "cells AS (SELECT vec_id, cid AS cell FROM a WHERE crn = 1), " +
       "qc8 AS (SELECT vec_id AS qid, cid AS cell, crn FROM a WHERE vec_id BETWEEN 16 AND 23 AND crn <= 8), " +
       "np AS (SELECT CAST(unnest([1, 2, 4, 8]) AS INT) AS np), " +
       "qcn AS (SELECT np, qid, cell FROM qc8 CROSS JOIN np WHERE crn <= np), " +
       "q AS (SELECT vec_id AS qid, embedding AS qv, nrm AS qnrm FROM e WHERE vec_id BETWEEN 16 AND 23), " +
       "cand AS (SELECT np, qcn.qid, cells.vec_id FROM cells JOIN qcn USING (cell) WHERE cells.vec_id <> qcn.qid), " +
       s"ac AS (SELECT np, cand.qid, cand.vec_id, ${dotSql("e.embedding", "qv")}/(e.nrm*qnrm) AS cos " +
       "FROM cand JOIN e ON cand.vec_id = e.vec_id JOIN q ON cand.qid = q.qid), " +
       "ar AS (SELECT np, qid, vec_id, row_number() OVER (PARTITION BY np, qid ORDER BY cos DESC, vec_id) AS rn " +
       "FROM ac WHERE NOT isnan(cos)), " +
       "ann AS (SELECT np, qid, vec_id FROM ar WHERE rn <= 10), " +
       s"ec AS (SELECT q.qid, e.vec_id, ${dotSql("e.embedding", "qv")}/(e.nrm*qnrm) AS cos " +
       "FROM e CROSS JOIN q WHERE e.vec_id <> q.qid), " +
       "er AS (SELECT qid, vec_id, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rn " +
       "FROM ec WHERE NOT isnan(cos)), " +
       "ext AS (SELECT qid, vec_id FROM er WHERE rn <= 10), " +
       "h AS (SELECT np, CAST(COUNT(*) AS BIGINT) AS n_hits FROM ann " +
       "JOIN ext ON ann.qid = ext.qid AND ann.vec_id = ext.vec_id GROUP BY 1), " +
       "f AS (SELECT np.np, CAST(COALESCE(n_hits, 0) AS BIGINT) AS n_hits " +
       "FROM np LEFT JOIN h ON np.np = h.np) " +
       s"SELECT np, n_hits, $sweepRecallF AS mean_recall FROM f ORDER BY np"),
    "sim_search_ivf" ->
      (s"WITH e AS (SELECT vec_id, embedding, sqrt(${dotSql("embedding", "embedding")}) AS nrm FROM embeddings), " +
       "c AS (SELECT vec_id AS cid, embedding AS cemb, nrm AS cnrm FROM e WHERE vec_id < 16), " +
       s"a0 AS (SELECT e.vec_id, cid, ${dotSql("embedding", "cemb")}/(nrm*cnrm) AS ccos FROM e CROSS JOIN c), " +
       "a AS (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS crn FROM a0), " +
       "cells AS (SELECT vec_id, cid AS cell FROM a WHERE crn = 1), " +
       "qc AS (SELECT cid AS cell FROM a WHERE vec_id = 0 AND crn <= 4), " +
       "q AS (SELECT embedding AS qv, nrm AS qnrm FROM e WHERE vec_id = 0), " +
       "cand AS (SELECT cells.vec_id AS vec_id FROM cells JOIN qc USING (cell) WHERE cells.vec_id <> 0), " +
       s"sc AS (SELECT e.vec_id, ${dotSql("e.embedding", "qv")}/(e.nrm*qnrm) AS cos " +
       "FROM e JOIN cand USING (vec_id) CROSS JOIN q) " +
       "SELECT vec_id, cosine FROM (SELECT vec_id, ((CASE WHEN isnan((cos)) OR abs((cos)) >= 9e12 THEN CAST((cos) AS DOUBLE) ELSE CAST(floor((cos) * 1e6 + 0.5) AS DOUBLE) / 1e6 END)) AS cosine, cos " +
       "FROM sc ORDER BY cos DESC, vec_id LIMIT 10) ORDER BY cosine DESC, vec_id"),
    "sim_join_label" ->
      ("WITH p AS (SELECT a.label AS label, a.vec_id AS vec_a, b.vec_id AS vec_b, " +
       s"${dotSql("a.embedding", "b.embedding")} / " +
       s"(sqrt(${dotSql("a.embedding", "a.embedding")}) * sqrt(${dotSql("b.embedding", "b.embedding")})) AS cos " +
       "FROM embeddings a JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id), " +
       // NaN guard mirrored from the Spark side (DuckDB sorts NaN largest,
       // so an unfiltered zero-norm pair would win here and diverge)
       "f AS (SELECT * FROM p WHERE NOT isnan(cos)), " +
       "r AS (SELECT *, row_number() OVER (PARTITION BY label ORDER BY cos DESC, vec_a, vec_b) AS rn FROM f) " +
       "SELECT label, vec_a, vec_b, ((CASE WHEN isnan((cos)) OR abs((cos)) >= 9e12 THEN CAST((cos) AS DOUBLE) ELSE CAST(floor((cos) * 1e6 + 0.5) AS DOUBLE) / 1e6 END)) AS cosine FROM r WHERE rn = 1 ORDER BY label"),
    "sim_knn_classify" ->
      ("WITH q AS (SELECT vec_id AS qid, label AS true_label, embedding AS qv " +
       "FROM embeddings WHERE vec_id < 20), " +
       "p AS (SELECT qid, true_label, e.vec_id AS cid, e.label, " +
       s"${dotSql("e.embedding", "qv")} / " +
       s"(sqrt(${dotSql("e.embedding", "e.embedding")}) * sqrt(${dotSql("qv", "qv")})) AS cos " +
       "FROM embeddings e JOIN q ON e.vec_id <> qid), " +
       "nn AS (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rn FROM p), " +
       "votes AS (SELECT qid, true_label, label, COUNT(*) AS votes FROM nn WHERE rn <= 5 GROUP BY 1,2,3), " +
       "maj AS (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY votes DESC, label) AS mr FROM votes) " +
       "SELECT qid AS vec_id, label AS pred_label, true_label FROM maj WHERE mr = 1 ORDER BY vec_id"),
    "sim_hard_negatives" ->
      // same anchor/norm/dot shape as knn; different-label filter in the
      // join, isnan guard before the rank (the cosinePairs rule)
      ("WITH q AS (SELECT vec_id AS qid, label AS q_label, embedding AS qv " +
       "FROM embeddings WHERE vec_id < 8), " +
       "p AS (SELECT qid, q_label, e.vec_id AS cid, e.label, " +
       s"${dotSql("e.embedding", "qv")} / " +
       s"(sqrt(${dotSql("e.embedding", "e.embedding")}) * sqrt(${dotSql("qv", "qv")})) AS cos " +
       "FROM embeddings e JOIN q ON e.label <> q_label), " +
       "r AS (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rn " +
       "FROM p WHERE NOT isnan(cos)) " +
       s"SELECT qid, q_label, CAST(rn AS INT) AS rank, cid AS neg_id, label AS neg_label, " +
       s"${r6Sql("cos")} AS cos FROM r WHERE rn <= 3 ORDER BY qid, rank")
  )
}
