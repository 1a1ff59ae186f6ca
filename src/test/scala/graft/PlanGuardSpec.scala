package graft

/** Catalog-wide plan contracts. A query can silently lose its scale
  * posture (a hint dropped, a planner change re-broadcasting an unbounded
  * side, a global window reintroduced); these tests pin the constructs
  * that must never (re)appear in any declared plan, and freeze every
  * query's plan shape in `plan_audit.tsv` so any other plan change shows
  * up as a reviewed diff of that table. */
class PlanGuardSpec extends SparkSpec {
  import org.apache.spark.sql.execution.SparkPlan
  import org.apache.spark.sql.execution.WholeStageCodegenExec
  import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
  import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
  import org.apache.spark.sql.execution.joins.CartesianProductExec
  import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
  import org.apache.spark.sql.catalyst.expressions.aggregate.{Partial, PartialMerge}
  import graft.tools.PlanAudit
  import graft.tools.PlanAudit.allNodes
  import org.apache.spark.sql.graft.CacheProbe

  // join_cross is the deliberately-bounded 5x25 Cartesian demo.
  private val cartesianOk = Set("join_cross")

  /** A SinglePartition exchange is scale-safe ONLY when it feeds the final
    * stage of a keyless (scalar) aggregate: the shuffled stream is the
    * map-side partials — one row per upstream partition, bounded at any
    * data size. Anything else funneled to one partition is an OOM at 100x.
    * Matched structurally: the exchange child (unwrapped of codegen) must
    * be a grouping-free aggregate whose expressions are all partial-mode. */
  private def isBoundedScalarAggFeed(e: ShuffleExchangeExec): Boolean = {
    def unwrap(p: SparkPlan): SparkPlan = p match {
      case w: WholeStageCodegenExec => unwrap(w.child)
      case other => other
    }
    unwrap(e.child) match {
      case agg: BaseAggregateExec =>
        agg.groupingExpressions.isEmpty && agg.aggregateExpressions.nonEmpty &&
          agg.aggregateExpressions.forall(ae =>
            ae.mode == Partial || ae.mode == PartialMerge)
      case _ => false
    }
  }

  private def singlePartitionExchanges(plan: SparkPlan): Seq[ShuffleExchangeExec] =
    allNodes(plan).collect {
      case e: ShuffleExchangeExec if e.outputPartitioning == SinglePartition => e
    }

  /** The r6f/r6g trap as a structural rule: a NON-EQUI join over a
    * LogicalRDD-descended (localCheckpoint'd) frame has no stats to
    * size a broadcast from, so size-based BNLJ selection is fragile —
    * one fixture regen flipped dedup_threshold_sweep to CartesianProduct.
    * Every such join must carry an EXPLICIT join-strategy hint. Checked
    * on the optimized logical plan (hints are erased from physical). */
  private def unhintedNonEquiRddJoins(
      lp: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Int = {
    import org.apache.spark.sql.catalyst.expressions.{And, EqualNullSafe, EqualTo, Expression}
    import org.apache.spark.sql.catalyst.plans.logical.{Join => LJoin}
    import org.apache.spark.sql.execution.LogicalRDD
    def conj(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conj(l) ++ conj(r)
      case other => Seq(other)
    }
    lp.collect {
      case j: LJoin =>
        def crossSides(a: Expression, b: Expression): Boolean =
          (a.references.subsetOf(j.left.outputSet) &&
            b.references.subsetOf(j.right.outputSet)) ||
            (a.references.subsetOf(j.right.outputSet) &&
              b.references.subsetOf(j.left.outputSet))
        val hasEqui = j.condition.toSeq.flatMap(conj).exists {
          case EqualTo(a, b) => crossSides(a, b)
          case EqualNullSafe(a, b) => crossSides(a, b)
          case _ => false
        }
        val touchesRdd =
          Seq(j.left, j.right).exists(_.exists(_.isInstanceOf[LogicalRDD]))
        val hinted = j.hint.leftHint.exists(_.strategy.isDefined) ||
          j.hint.rightHint.exists(_.strategy.isDefined)
        if (!hasEqui && touchesRdd && !hinted) 1 else 0
    }.sum
  }

  /** Every declared query planned once: its plan-audit row and its
    * scale-safety offenders, both read off the same plan, and the
    * cache-manager entries its build left behind (`plans` starts on an
    * empty cache, so any growth is the query just built). */
  private lazy val audit: Seq[(String, Seq[String], Option[String])] = {
    var cached = 0
    PlanAudit.plans(spark, sf).map { case (name, planned) =>
      val now = CacheProbe.entries(spark)
      val leak = if (now > cached) Some(s"$name: cache-manager entries $cached -> $now") else None
      cached = now
      val offenders = planned.toOption.toSeq.flatMap { qe =>
        val plan = qe.executedPlan
        val cart =
          if (!cartesianOk(name) && allNodes(plan).exists(_.isInstanceOf[CartesianProductExec]))
            Seq(s"$name: CartesianProduct") else Nil
        val unhinted = unhintedNonEquiRddJoins(qe.optimizedPlan)
        val hintMiss = if (unhinted > 0)
          Seq(s"$name: $unhinted non-equi join(s) over a checkpointed " +
            "frame without an explicit broadcast hint") else Nil
        cart ++ hintMiss ++
          singlePartitionExchanges(plan).filterNot(isBoundedScalarAggFeed)
            .map(e => s"$name: Exchange SinglePartition over [${e.child.nodeName}]")
      }
      (PlanAudit.row(name, planned.map(_.executedPlan)), offenders, leak)
    }.toList
  }

  test("catalog-wide: no CartesianProduct, no unbounded single-partition " +
      "Exchange, hints on non-equi joins of checkpointed frames") {
    val offenders = audit.flatMap(_._2)
    assert(offenders.isEmpty,
      s"scale-unsafe constructs crept back into declared plans:\n${offenders.mkString("\n")}")
  }

  test("catalog-wide: building a declared query caches nothing") {
    // a frame cached at build time is never unpersisted by anyone: it
    // lives until the JVM exits and is swapped into every later plan
    // that contains it
    val leaks = audit.flatMap(_._3)
    assert(leaks.isEmpty, s"declared queries left cached frames behind:\n${leaks.mkString("\n")}")
  }

  test("catalog-wide: every plan shape matches plan_audit.tsv") {
    val url = getClass.getClassLoader.getResource("plan_audit.tsv")
    assert(url != null, "plan_audit.tsv missing — run: sbt 'runMain graft.tools.PlanAudit'")
    val frozen = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(url.toURI)), java.nio.charset.StandardCharsets.UTF_8)
    val fresh = PlanAudit.render(audit.iterator.map(_._1))
    def table(t: String): Seq[Map[String, String]] = {
      val lines = t.linesIterator.map(_.split("\t", -1).toSeq).toSeq
      lines.tail.map(r => lines.head.zip(r).toMap)
    }
    // a planning failure must fail here, never be pinned as the expected row
    val failed = Seq("plan_audit.tsv" -> frozen, "this run" -> fresh).flatMap { case (where, t) =>
      table(t).filter(_("error").nonEmpty).map(r => s"${r("query")}: planning failed in $where (${r("error")})")
    }
    if (failed.nonEmpty) fail(failed.mkString("\n"))
    val was = table(frozen).map(r => r("query") -> r).toMap
    val now = table(fresh).map(r => r("query") -> r).toMap
    val drift =
      (was.keySet -- now.keySet).toSeq.sorted.map(q => s"$q: row no longer produced") ++
      (now.keySet -- was.keySet).toSeq.sorted.map(q => s"$q: new row, not in the table") ++
      (was.keySet intersect now.keySet).toSeq.sorted.flatMap { q =>
        (was(q).keySet ++ now(q).keySet).toSeq.sorted.flatMap { c =>
          val (o, n) = (was(q).getOrElse(c, "<none>"), now(q).getOrElse(c, "<none>"))
          if (o == n) None else Some(s"$q $c: $o -> $n")
        }
      }
    if (drift.nonEmpty) fail("plan shapes drifted from plan_audit.tsv (query column: " +
      "old -> new); if deliberate, regenerate with sbt 'runMain graft.tools.PlanAudit' " +
      s"and review the diff:\n${drift.mkString("\n")}")
    assert(fresh == frozen, "plan_audit.tsv differs from a fresh audit in layout only " +
      "(header order or whitespace); regenerate it")
  }

  test("self-check: the bounded-scalar-agg exception matches real plans") {
    // If a Spark upgrade changed the aggregate node shapes, the exception
    // above could stop matching and the guard would start flagging every
    // legitimate global scalar aggregate (loud) — or, worse, a traversal
    // bug could make singlePartitionExchanges find nothing and the guard
    // silently vacuous. Pin both directions on known plans: dq_checks'
    // conditional-aggregation pass ends in a keyless global aggregate.
    val plan = SparkEntry.queries("dq_checks")(spark, sf)
      .queryExecution.executedPlan
    val sp = singlePartitionExchanges(plan)
    assert(sp.nonEmpty,
      s"traversal found no SinglePartition exchange in dq_checks — matcher vacuous:\n$plan")
    assert(sp.exists(isBoundedScalarAggFeed),
      s"bounded-scalar-agg exception no longer matches dq_checks' global agg:\n$plan")
  }

  test("top-k windows prune via WindowGroupLimit") {
    for (q <- Seq("win_topk_per_group", "sample_cap_per_source")) {
      val plan = SparkEntry.queries(q)(spark, sf)
        .queryExecution.executedPlan.toString
      assert(plan.contains("WindowGroupLimit"),
        s"$q must prune each group to K rows before the window sort:\n$plan")
    }
  }

  test("re-checked LSH pair generators keep their lane decomposition") {
    // r10 (the r7 DPP lesson: a planner-property claim without a
    // plan-shape test rots invisibly): the three re-checked generators
    // route their bucket joins through Scale.lanedBucketJoin — the lane
    // columns must appear in the executed plan's join keys. A silent
    // revert to the plain bucket join would pass every oracle (the
    // laned join is row-identical) while reinstating the one-task
    // hot-bucket quadratic at 100×.
    // r11: the pair-set family (minhashPairsOver) and the band sweep's
    // three regroupings are laned too — pairs/counts are row-identical,
    // so only this plan pin catches a silent revert.
    // r11b: mm_near_dup_phash's banded candidate join is laned AFTER its
    // checkpointed fingerprint frame, so its lanes survive into the
    // final executed plan — pin it with the direct queries.
    for (q <- Seq("dedup_embed_lsh", "dq_embed_contamination",
        "text_dedup_incremental", "text_minhash_lsh", "dedup_minhash_est",
        "text_dedup_funnel", "mm_near_dup_phash")) {
      val plan = SparkEntry.queries(q)(spark, sf)
        .queryExecution.executedPlan.toString
      assert(plan.contains("__lx") && plan.contains("__ly"),
        s"$q bucket join lost its lane decomposition:\n$plan")
    }
    // dedup_est_calibration and text_lsh_band_sweep localCheckpoint their
    // candidate frames — the checkpoint swaps the subtree for a LogicalRDD
    // and ERASES the lane columns from the final executed plan, so the pin
    // must read the GENERATOR frames those queries consume (the shared
    // defs: minhashPairs for the calibration, bandCandidates per config
    // for the sweep).
    {
      val docs = graft.Tables.documents(spark, sf)
      val sigs = graft.queries.TextQueries.minhashSigs(docs)
      val gens =
        ("minhashPairs" -> graft.queries.TextQueries.minhashPairs(spark, sf)) +:
        Seq((16, 2), (8, 4), (4, 8)).map { case (nb, r) =>
          s"bandCandidates($nb,$r)" ->
            graft.queries.TextQueries.bandCandidates(sigs, nb, r)
        }
      for ((nm, df) <- gens) {
        val plan = df.queryExecution.executedPlan.toString
        assert(plan.contains("__lx") && plan.contains("__ly"),
          s"$nm lost its lane decomposition:\n$plan")
      }
    }
  }

  test("topk_global plans as TakeOrderedAndProject (no global sort)") {
    val plan = SparkEntry.queries("topk_global")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("salted self-joins stay sort-merge (no unbounded broadcast build side)") {
    // The pair-enumeration joins carry a merge hint precisely because a
    // size-chosen broadcast of the whole table is the r1 defect; pin it.
    for (q <- Seq("sim_join_label", "dedup_embed_cosine", "text_near_dup_jaccard")) {
      val plan = SparkEntry.queries(q)(spark, sf)
        .queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"),
        s"$q pair join must be sort-merge:\n$plan")
    }
    // r16 (thresholded salting, r15 verdict ask #6): the salted
    // generators now carry a BOUNDED hot-key broadcast (key + __hot flag
    // — the §2.5 design), so "no broadcast at all" is no longer the pin.
    // The r1 defect this test guards is a size-chosen broadcast of the
    // EMBEDDINGS TABLE into the PAIR join; assert instead that the only
    // broadcast joins in the plan are the LeftOuter hot-key flag
    // attaches (__hot), and the pair join itself stays sort-merge
    // (asserted above). Note sparkPlan can't be used here: exchanges are
    // only inserted by the executedPlan preparations.
    val p = SparkEntry.queries("sim_join_label")(spark, sf)
      .queryExecution.executedPlan.toString
    val bhj = p.linesIterator.filter(_.contains("BroadcastHashJoin")).toSeq
    assert(bhj.nonEmpty, s"expected the bounded hot-key flag joins:\n$p")
    assert(bhj.forall(l => l.contains("LeftOuter")),
      s"only the LeftOuter hot-key flag joins may broadcast — an Inner " +
        s"broadcast means the embeddings table got broadcast into the " +
        s"pair join:\n$p")
    assert(p.contains("__hot"), s"hot-key flag missing from the plan:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("win_ntile_pctrank's window is partitioned (two-pass form)") {
    val plan = SparkEntry.queries("win_ntile_pctrank")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("Window"), plan)
    assert(plan.contains("__pid"),
      s"window must partition by the range-partition id:\n$plan")
  }
}
