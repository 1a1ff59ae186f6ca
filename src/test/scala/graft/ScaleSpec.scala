package graft

import org.apache.spark.sql.functions._
import graft.operators.Scale

/** Scale operators: semantic equivalence + the plan properties they exist
  * for (skew spread, shuffle elimination). */
class ScaleSpec extends SparkSpec {

  test("saltedJoin is semantically identical to a plain inner join") {
    val li = Tables.lineitem(spark, sf).select("l_orderkey", "l_extendedprice")
    val ord = Tables.orders(spark, sf)
      .select(col("o_orderkey").as("l_orderkey"), col("o_totalprice"))
    val plain = li.join(ord, "l_orderkey")
    val salted = Scale.saltedJoin(li, ord, "l_orderkey", saltFactor = 4)
    assert(salted.count() === plain.count())
    val a = plain.groupBy("l_orderkey").count()
    val b = salted.groupBy("l_orderkey").count()
    assert(a.except(b).count() === 0 && b.except(a).count() === 0)
  }

  test("bucketedJoin plans without a shuffle on either side") {
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val ord = Tables.orders(spark, sf).select("o_orderkey", "o_totalprice")
      val li = Tables.lineitem(spark, sf)
        .select(col("l_orderkey").as("o_orderkey"), col("l_extendedprice"))
      val (joined, _, _) = Scale.bucketedJoin(spark, ord, li, "o_orderkey", 4, "graft_bkt")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketed join must not shuffle:\n$plan")
      // and it is still correct
      val expected = ord.join(li, "o_orderkey").count()
      assert(joined.count() === expected)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
    }
  }

  test("AQE splits a skewed sort-merge join partition at runtime") {
    // One hot key carries 90% of the left side. With salting's sibling —
    // AQE's runtime skew split — the hot reducer partition is divided by
    // advisory size instead of melting one task. Thresholds are shrunk so
    // the fixture-scale skew crosses them; the assertions are (a) the
    // final adaptive plan actually marks the join skew-handled and (b)
    // semantics are unchanged.
    val confs = Seq(
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1.2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "16KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8KB",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val left = spark.range(200000).select(
        when(col("id") % 10 =!= 0, 0L).otherwise(col("id") % 97).as("k"),
        col("id").as("v"))
      val right = spark.range(0, 97).select(col("id").as("k"), (col("id") * 2).as("w"))
      val joined = left.join(right, "k").agg(count(lit(1)).as("n"))
      val n = joined.collect()(0).getLong(0)
      assert(n === 200000L, "every left row matches exactly one right key")
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.toLowerCase.contains("skew"),
        s"final adaptive plan must mark the skewed join as split:\n$plan")
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("join_skew_aqe (declared): the skewed partition actually splits; absent untuned (r14)") {
    // The source_dpp_join lesson: a planner-feature query needs its
    // plan-shape test the same day it lands, or the claim rots
    // invisibly — AQE skew splitting is golden-invisible by design
    // (row-identical output). Positive: the declared query (shrunken
    // thresholds in its newSession clone) must mark the SMJ skew-split
    // in the FINAL adaptive plan. Negative: the identical body on the
    // shared session (default 256 MB threshold — never crossed at
    // fixture scale) must not.
    val df = SparkEntry.queries("join_skew_aqe")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("skew=true"),
      s"final adaptive plan must mark the skewed join as split:\n$plan")
    // negative control (r14 review fix): the control must PLAN the same
    // SMJ — on a default session the 25-row nation dim just broadcasts
    // and 'skew=true' is absent vacuously. Disable broadcast ONLY, keep
    // the DEFAULT skew thresholds (256 MB / factor 5): the same shape
    // sorts-merges but must not split at fixture scale.
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val plain = graft.queries.JoinQueries.skewAqeBody(s2, sf)
    plain.collect()
    val pPlain = plain.queryExecution.executedPlan.toString
    assert(pPlain.contains("SortMergeJoin"),
      s"the control must exercise the SMJ path for the contrast to mean " +
        s"anything:\n$pPlain")
    assert(!pPlain.contains("skew=true"),
      "default thresholds must NOT trigger a skew split at fixture scale " +
        "(the negative control that proves the marker means something)")
  }

  test("globalRank equals a global-window row_number") {
    val cust = Tables.customer(spark, sf).select("c_custkey", "c_acctbal")
    val ranked = Scale.globalRank(cust, 8, "rank", "n",
      col("c_acctbal"), col("c_custkey"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("c_acctbal"), col("c_custkey"))
    val ref = cust.withColumn("rank", row_number().over(w).cast("long"))
      .select("c_custkey", "rank")
    val got = ranked.select("c_custkey", "rank")
    assert(got.except(ref).count() === 0 && ref.except(got).count() === 0)
    assert(ranked.select(max("n")).head.getLong(0) === cust.count())
  }

  test("globalRank: 100k-item dictionary with no single-partition exchange") {
    val items = spark.range(100000)
      .select(format_string("tok_%07d", col("id")).as("item"))
    val ranked = Scale.globalRank(items, 32, "rk", "nn", col("item"))
    val plan = ranked.queryExecution.executedPlan.toString
    assert(!plan.contains("SinglePartition"),
      s"open-vocabulary dictionary encoding must not single-partition:\n$plan")
    // dense, complete, order-respecting ids
    val ids = ranked.select(col("item"), (col("rk") - 1).as("id"))
    assert(ids.agg(min("id"), max("id"), count_distinct(col("id")))
      .head.toSeq === Seq(0L, 99999L, 100000L))
    assert(ids.where(col("item") === "tok_0000000").head.getLong(1) === 0L)
    assert(ids.where(col("item") === "tok_0099999").head.getLong(1) === 99999L)
  }

  test("partitioned sink: o_year predicate prunes partitions on re-read") {
    val out = java.nio.file.Files.createTempDirectory("graft_prune").toString
    graft.queries.ScanQueries.landPartitionedOrders(spark, sf, out)
    val totalYears = spark.read.parquet(out)
      .select("o_year").distinct().count()
    assert(totalYears > 1, "fixture must span multiple years")
    val pruned = spark.read.parquet(out).where(col("o_year") === 1997)
    val scan = pruned.queryExecution.executedPlan.collectLeaves().collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.getOrElse(fail("expected a FileSourceScanExec leaf"))
    assert(scan.partitionFilters.nonEmpty,
      "the o_year predicate must reach the scan as a PartitionFilter")
    val selected = scan.selectedPartitions.partitionCount
    assert(selected === 1 && selected < totalYears,
      s"scan must read 1 of $totalYears year partitions, read $selected")
    // and the pruned read is still correct
    val expected = Tables.orders(spark, sf)
      .where(year(col("o_orderdate")) === 1997).count()
    assert(pruned.count() === expected)
  }

  test("runtime bloom filter prunes the fact side of a selective dim join") {
    // The third pruning tool next to salting and bucketing: with a
    // selective filter on the dim side, Catalyst injects a bloom-filter
    // semi-join filter on the fact side's scan stage — rows that cannot
    // join are dropped BEFORE the shuffle, which at 100 TB is the
    // difference between shuffling the corpus and shuffling the match set.
    val confs = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val li = Tables.lineitem(spark, sf).select("l_orderkey", "l_quantity")
      val sel = Tables.orders(spark, sf)
        .where(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey"), col("o_totalprice"))
      val joined = li.join(sel, li("l_orderkey") === sel("o_orderkey"))
        .agg(count(lit(1)).as("n"))
      val plan = joined.queryExecution.optimizedPlan.toString
      assert(plan.toLowerCase.contains("bloomfilter"),
        s"expected an injected runtime bloom filter on the fact side:\n$plan")
      // and it is still correct
      val expected = li.join(sel.hint("broadcast"),
        li("l_orderkey") === sel("o_orderkey")).count()
      assert(joined.head.getLong(0) === expected)
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("connectedComponents: chain, clique, and singleton components") {
    import spark.implicits._
    // chain 1-2-3-4 (diameter 3 — forces multiple rounds),
    // triangle 5-6-7, isolated node 10; localCap = 0 runs the rounds
    val nodes = Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L, 10L).toDF("id")
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (5L, 6L), (6L, 7L), (5L, 7L))
      .toDF("src", "dst")
    val got = Scale.connectedComponents(nodes, edges, localCap = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      5L -> 5L, 6L -> 5L, 7L -> 5L, 10L -> 10L))
  }

  test("Scale.materialize reliable mode: same results, reliable files, loud guards (r14)") {
    // The r13 verdict's #1: every iterative loop leaned on executor-local
    // localCheckpoint — dies with a lost executor on a real cluster. The
    // seam switches to reliable checkpoint() when a session opts in.
    // Mode is a SESSION conf (newSession clone — runtime confs don't
    // leak, the join_bloom_filtered precedent); the checkpoint dir is
    // context-global but harmless to other suites, which all stay in
    // the default local mode.
    import spark.implicits._
    val nodes = Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L, 10L).toDF("id")
    // (a) reliable mode WITHOUT a checkpoint dir fails loudly — never a
    // silent downgrade to executor-local storage. UNCONDITIONAL (r14
    // review: an if-guard here would let the no-silent-fallback require
    // be deleted unnoticed once anything sets the dir first): this test
    // must stay the repo's ONLY checkpoint-dir setter, and part (a)
    // runs before part (c) sets it (scalatest declaration order).
    val s2 = spark.newSession()
    s2.conf.set("graft.materialize", "reliable")
    assert(spark.sparkContext.getCheckpointDir.isEmpty,
      "another test set the context checkpoint dir first — part (a)'s " +
        "no-silent-fallback guard can no longer be exercised; restructure")
    val ex = intercept[IllegalArgumentException] {
      Scale.materialize(s2.range(3).toDF())
    }
    assert(ex.getMessage.contains("setCheckpointDir"))
    // (b) unknown mode fails loudly, not silently-local
    val s3 = spark.newSession()
    s3.conf.set("graft.materialize", "banana")
    assert(intercept[IllegalArgumentException] {
      Scale.materialize(s3.range(3).toDF())
    }.getMessage.contains("unknown mode"))
    // (c) the reliable path: connectedComponents' distributed rounds
    // (localCap = 0; every round runs through the seam, while the driver
    // path would run none) on the chain+clique+singleton graph from the
    // test above, in the reliable-mode clone — identical labels, and the
    // checkpoint dir actually received RDD checkpoint data
    val dir = java.nio.file.Files.createTempDirectory("graft_reliable_ckp")
    spark.sparkContext.setCheckpointDir(dir.toString)
    val se = s2.createDataFrame(
      Seq((1L, 2L), (2L, 3L), (3L, 4L), (5L, 6L), (6L, 7L), (5L, 7L)))
      .toDF("src", "dst")
    val sn = s2.createDataFrame(Seq(Tuple1(1L), Tuple1(2L), Tuple1(3L),
      Tuple1(4L), Tuple1(5L), Tuple1(6L), Tuple1(7L), Tuple1(10L))).toDF("id")
    val got = Scale.connectedComponents(sn, se, localCap = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      5L -> 5L, 6L -> 5L, 7L -> 5L, 10L -> 10L))
    val landed = java.nio.file.Files.walk(dir).iterator()
    var files = 0
    while (landed.hasNext) { if (landed.next().toFile.isFile) files += 1 }
    assert(files > 0, s"reliable mode must write checkpoint data under $dir")
  }

  test("Scale.materialize scratch mode: durable landing that KEEPS planner statistics (r14)") {
    // A checkpointed frame comes back as a LogicalRDD carrying the
    // PRE-checkpoint plan's size ESTIMATE (measured here — NOT "no
    // stats"; a range(50) twin broadcasts fine because its estimate is
    // exact). The real trap is ESTIMATE vs MEASURED: size-only
    // estimation does not discount a selective filter, so a 50-row
    // frame filtered out of a ~24 MB source keeps a ~24 MB estimate
    // through localCheckpoint and never statically broadcasts, while
    // the scratch-parquet re-read exposes the TRUE landed bytes.
    // Asserted on sparkPlan (pre-AQE): runtime stats can rescue an
    // equi-join later, but static stats drive the non-equi/BNLJ/DPP
    // decisions AQE cannot fix (the r6f fragility).
    val dir = java.nio.file.Files.createTempDirectory("graft_scratch_mat")
    val s2 = spark.newSession()
    s2.conf.set("graft.materialize", "scratch")
    s2.conf.set("graft.materialize.dir", dir.toString)
    // ~160 MB estimate so the probe side can never itself broadcast
    // (only its STATIC plan is ever built — nothing here executes it)
    val big = s2.range(10000000).select(col("id").as("k"), (col("id") * 2).as("v"))
    // ~24 MB estimate (1M rows x 3 longs), 50 true survivors
    val dim0 = s2.range(1000000)
      .select(col("id").as("k"), (col("id") * 2).as("a"), (col("id") * 3).as("b"))
      .where(pmod(col("k"), lit(20000)) === 0)
    val mScratch = Scale.materialize(dim0)
    assert(mScratch.collect().map(_.getLong(0)).toSet ===
      (0L until 1000000L by 20000L).toSet,
      "scratch materialization must round-trip content exactly")
    val pScratch = big.join(mScratch, "k").queryExecution.sparkPlan.toString
    assert(pScratch.contains("BroadcastHashJoin"),
      s"a scratch-materialized 50-row dim must STATICALLY broadcast " +
        s"(measured landed bytes):\n$pScratch")
    val pLocal = big.join(dim0.localCheckpoint(true), "k")
      .queryExecution.sparkPlan.toString
    assert(!pLocal.contains("BroadcastHashJoin"),
      "the localCheckpoint twin must NOT statically broadcast (it keeps " +
        "the un-filtered ~24 MB estimate) — the estimate-vs-measured " +
        "contrast that makes scratch mode worth its write")
    // scratch-mode guard: no dir configured fails loudly
    val s3 = spark.newSession()
    s3.conf.set("graft.materialize", "scratch")
    assert(intercept[IllegalArgumentException] {
      Scale.materialize(s3.range(3).toDF())
    }.getMessage.contains("graft.materialize.dir"))
  }

  test("connectedComponents: long chain converges (worst-case diameter)") {
    // 64-node path graph: min-label propagation would need ~64 rounds;
    // the large-star/small-star rounds must finish in ~log2(64)+c —
    // maxIter = 12 fails loudly if the algorithm degrades to linear —
    // and the guard must trip, loudly, when the rounds run out first
    // (localCap = 0 runs the rounds; the driver path has none).
    import spark.implicits._
    val n = 64
    val nodes = (1L to n.toLong).toDF("id")
    val edges = (1L until n.toLong).map(i => (i, i + 1)).toDF("src", "dst")
    val got = Scale.connectedComponents(nodes, edges, maxIter = 12, localCap = 0)
    assert(got.where(col("cluster") === 1L).count() === n.toLong)
    val ex = intercept[IllegalStateException] {
      Scale.connectedComponents(nodes, edges, maxIter = 3, localCap = 0)
    }
    assert(ex.getMessage.contains("did not converge in 3 rounds"))
  }

  test("connectedComponents: driver path equals the rounds (seeded graphs)") {
    // Both paths must give one result on inputs the caller contract
    // leaves open: a null and a duplicated node id, self-loops, a
    // duplicate edge, null endpoints, and endpoints outside `nodes` (5
    // and 9 bridged only through one — they must not merge). The
    // reference runs the rounds on the graph those cases reduce to:
    // distinct non-null ids, edges with both endpoints in the node set.
    import spark.implicits._
    def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    def check(ids: Seq[Option[Long]], es: Seq[(Option[Long], Option[Long])]): Unit = {
      val nodes = ids.toDF("id")
      val edges = es.toDF("src", "dst")
      val local = Scale.connectedComponents(nodes, edges)
      val dist = Scale.connectedComponents(nodes, edges, localCap = 0)
      assert(local.isLocal && !dist.isLocal, "the two calls must take different paths")
      val inSet = ids.flatten.toSet
      val want = rows(Scale.connectedComponents(inSet.toSeq.toDF("id"),
        es.collect { case (Some(a), Some(b)) if inSet(a) && inSet(b) => (a, b) }
          .toDF("src", "dst"), localCap = 0))
      assert(want.map(_._1) === inSet.toSeq.sorted)
      assert(rows(local) === want, s"driver path vs reduced graph: $es")
      assert(rows(dist) === want, s"rounds vs reduced graph: $es")
    }
    val n = 40
    val ids = (0L until n).map(Option(_)) ++ Seq(None, Some(7L))
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(seed)
      val random = Seq.fill(30)((Option(rnd.nextInt(n).toLong), Option(rnd.nextInt(n).toLong)))
      check(ids, random ++ Seq(random.head, (Some(3L), Some(3L)),
        (Some(5L), Some(n + 10L)), (Some(n + 10L), Some(9L)),
        (None, Some(4L)), (Some(6L), None)))
    }
    check(ids, Seq.empty)
    // a larger hash-derived graph: 500 nodes, 800 edges
    val hashEdges = spark.range(800).select(
        pmod(xxhash64(col("id"), lit(1)), lit(500)).as("src"),
        pmod(xxhash64(col("id"), lit(2)), lit(500)).as("dst"))
      .collect().map(r => (Option(r.getLong(0)), Option(r.getLong(1)))).toSeq
    check((0L until 500L).map(Option(_)), hashEdges)
    // the cap boundary counts mirrored edge rows (two per input edge) and
    // node rows: 3 edges are 6 rows, so 6 stays local and 5 falls back;
    // with 8 node rows a cap of 7 falls back on the node collect alone
    val chain = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("src", "dst")
    val six = (1L to 6L).toDF("id")
    val atCap = Scale.connectedComponents(six, chain, localCap = 6)
    val overCap = Scale.connectedComponents(six, chain, localCap = 5)
    assert(atCap.isLocal && !overCap.isLocal)
    assert(rows(atCap) === rows(overCap))
    assert(rows(atCap) === Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L), (5L, 4L), (6L, 6L)))
    assert(!Scale.connectedComponents((1L to 8L).toDF("id"), chain, localCap = 7).isLocal)
  }

  test("incrementalComponents equals a full rescan (seeded random graph, delta split)") {
    // r10: the contraction theorem behind dedup_cluster_incremental —
    // base components contracted to labels + delta-involving edges must
    // reproduce the FULL graph's components exactly. The seeded random
    // graph contains the subtle case by construction: base–base pairs
    // whose only path runs THROUGH a delta node (stage 1 cannot see
    // them; only the contracted stage can merge their clusters).
    val n = 500
    val nodes = spark.range(n).select(col("id"))
    val edges = spark.range(800).select(
      pmod(xxhash64(col("id"), lit(1)), lit(n)).as("src"),
      pmod(xxhash64(col("id"), lit(2)), lit(n)).as("dst"))
      .where(col("src") =!= col("dst"))
      .localCheckpoint(true)
    // delta = the top fifth of the id space (the watermark-split shape)
    val baseNodes = nodes.where(col("id") < 400)
    val baseEdges = edges.where(col("src") < 400 && col("dst") < 400)
    val deltaEdges = edges.where(col("src") >= 400 || col("dst") >= 400)
    // sanity: the planted graph really exercises the through-delta case
    assert(deltaEdges.count() > 0 && baseEdges.count() > 0)
    val full = Scale.connectedComponents(nodes, edges, localCap = 0)
    val inc = Scale.incrementalComponents(nodes, baseNodes, baseEdges, deltaEdges)
    assert(inc.except(full).count() === 0 && full.except(inc).count() === 0,
      "incremental (contract + delta) must equal the full rescan exactly")
  }

  test("incrementalComponents contract check catches a mis-split caller (debug-gated)") {
    // r12 (r10 ADVICE #3): with -Dgraft.debug.contracts on, a caller
    // that routes a delta-involving edge into baseEdges must be caught
    // loudly; a correctly-split caller must still pass under the same
    // flag; and with the flag off the violating call must NOT throw
    // (zero extra jobs in production plans).
    import spark.implicits._
    val nodes = spark.range(20).select(col("id"))
    val baseNodes = nodes.where(col("id") < 15)
    val goodBase = Seq((1L, 2L), (3L, 4L)).toDF("src", "dst")
    // edge (10, 17): endpoint 17 is NOT a base node — belongs in delta
    val badBase = goodBase.union(Seq((10L, 17L)).toDF("src", "dst"))
    val delta = Seq((15L, 16L)).toDF("src", "dst")
    val prev = sys.props.get("graft.debug.contracts")
    try {
      sys.props("graft.debug.contracts") = "1"
      assert(Scale.contractChecksEnabled)
      val err = intercept[IllegalArgumentException] {
        Scale.incrementalComponents(nodes, baseNodes, badBase, delta).collect()
      }
      assert(err.getMessage.contains("caller contract violated"))
      // the correctly-split caller stays green under the flag
      Scale.incrementalComponents(nodes, baseNodes, goodBase, delta).collect()
      sys.props.remove("graft.debug.contracts")
      assert(!Scale.contractChecksEnabled)
      // flag off: the violating call runs without the check (and the
      // mis-split is genuinely wrong — this documents WHY the check
      // exists rather than asserting a correct result)
      Scale.incrementalComponents(nodes, baseNodes, badBase, delta).collect()
    } finally {
      prev match {
        case Some(v) => sys.props("graft.debug.contracts") = v
        case None => sys.props.remove("graft.debug.contracts")
      }
    }
  }

  test("incrementalComponents fullEdges check catches a DROPPED delta edge (r14, debug-gated)") {
    // The r13 verdict's #5a: the mis-ROUTED edge was already caught; an
    // edge with a non-base endpoint dropped from BOTH sets was invisible
    // (the full edge set never reached the function). With fullEdges
    // handed in under the debug flag, the drop must fail loudly; a
    // complete caller must stay green (including a REVERSED-orientation
    // delta spelling — the check is canonical); and with the flag off
    // the violating call must not throw.
    import spark.implicits._
    val nodes = spark.range(20).select(col("id"))
    val baseNodes = nodes.where(col("id") < 15)
    val base = Seq((1L, 2L), (3L, 4L)).toDF("src", "dst")
    // full graph: base edges + two delta-involving edges
    val full = base.union(Seq((15L, 16L), (10L, 17L)).toDF("src", "dst"))
    val deltaComplete = Seq((16L, 15L), (10L, 17L)).toDF("src", "dst")
    val deltaDropped = Seq((15L, 16L)).toDF("src", "dst") // (10,17) dropped
    val prev = sys.props.get("graft.debug.contracts")
    try {
      sys.props("graft.debug.contracts") = "1"
      val err = intercept[IllegalArgumentException] {
        Scale.incrementalComponents(nodes, baseNodes, base, deltaDropped,
          Some(full)).collect()
      }
      assert(err.getMessage.contains("missing from deltaEdges"))
      // complete caller green — and orientation-free (delta gives 16->15)
      Scale.incrementalComponents(nodes, baseNodes, base, deltaComplete,
        Some(full)).collect()
      sys.props.remove("graft.debug.contracts")
      // flag off: fullEdges ignored, no extra jobs, no throw
      Scale.incrementalComponents(nodes, baseNodes, base, deltaDropped,
        Some(full)).collect()
    } finally {
      prev match {
        case Some(v) => sys.props("graft.debug.contracts") = v
        case None => sys.props.remove("graft.debug.contracts")
      }
    }
  }

  test("incrementalFromLabels resumes from a PLAIN persisted-style label table") {
    // r11: the deployment entry point — the label table arrives as an
    // ordinary DataFrame (here: base CC labels collected and
    // re-parallelized, exactly what a parquet read-back looks like, with
    // no lineage back to the base edges), and the contraction + delta CC
    // must still equal the full rescan. Direct unit coverage of the
    // operator dedup_cluster_persisted wraps.
    import spark.implicits._
    val n = 500
    val nodes = spark.range(n).select(col("id"))
    val edges = spark.range(800).select(
      pmod(xxhash64(col("id"), lit(3)), lit(n)).as("src"),
      pmod(xxhash64(col("id"), lit(4)), lit(n)).as("dst"))
      .where(col("src") =!= col("dst"))
      .localCheckpoint(true)
    val baseNodes = nodes.where(col("id") < 400)
    val baseEdges = edges.where(col("src") < 400 && col("dst") < 400)
    val deltaEdges = edges.where(col("src") >= 400 || col("dst") >= 400)
    val persisted = Scale.connectedComponents(baseNodes, baseEdges)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      .toDF("id", "cluster")
    val full = Scale.connectedComponents(nodes, edges, localCap = 0)
    val inc = Scale.incrementalFromLabels(nodes, persisted, deltaEdges)
    assert(inc.except(full).count() === 0 && full.except(inc).count() === 0,
      "persisted-label resume must equal the full rescan exactly")
  }

  test("sortedRepartition yields range-disjoint sorted partitions") {
    val df = Scale.sortedRepartition(
      Tables.orders(spark, sf).select("o_orderkey"), 4, col("o_orderkey"))
    val perPart = df.select(col("o_orderkey"),
        spark_partition_id().as("pid"))
      .groupBy("pid").agg(min("o_orderkey").as("lo"), max("o_orderkey").as("hi"))
      .orderBy("lo").collect()
    assert(perPart.length <= 4)
    perPart.sliding(2).foreach {
      case Array(a, b) => assert(a.getLong(2) <= b.getLong(1), "ranges must not overlap")
      case _ =>
    }
  }
}
