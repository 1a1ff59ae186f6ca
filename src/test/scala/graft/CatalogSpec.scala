package graft

import org.apache.spark.sql.functions._

/** Every declared query must run at sf0.001; targeted exact assertions on
  * known fixture properties (SURVEY §5.2.2). */
class CatalogSpec extends SparkSpec {

  test("every declared query executes at sf0.001") {
    val failures = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      try { fn(spark, sf).count(); None }
      catch { case e: Throwable => Some(s"$name: ${e.getMessage}") }
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("every oracleSql key has a matching query") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracle without query: $orphans")
  }

  test("every query is either oracled or in the documented no-oracle set") {
    // the catalog contract: each declared key needs BOTH a queries entry
    // and an oracleSql entry, except the three approximate-sketch ops
    // whose spec pins are documented in SURVEY §2.12
    val noOracleByDesign =
      Set("agg_distinct_approx", "agg_quantiles_approx", "agg_sketch_rollup")
    val missing =
      SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet -- noOracleByDesign
    assert(missing.isEmpty,
      s"queries with neither an oracle nor a documented exemption: $missing")
  }

  test("every declared query appears in the SURVEY.md census (r6 verdict: census drift)") {
    // Round 6 shipped five queries absent from SURVEY §2.12 and one
    // absent from the goldens — the gates were green while the docs
    // lied. Make census membership structural: every catalog key must
    // appear (backticked or bare) somewhere in SURVEY.md.
    val survey = java.nio.file.Files.readString(java.nio.file.Path.of("SURVEY.md"))
    // word-boundary match, not contains(): `embed_opq` must not pass
    // merely because `embed_opq_learned` is documented
    val missing = SparkEntry.queries.keySet.filterNot { k =>
      java.util.regex.Pattern
        .compile("(?<![A-Za-z0-9_])" + java.util.regex.Pattern.quote(k) + "(?![A-Za-z0-9_])")
        .matcher(survey).find()
    }
    assert(missing.isEmpty,
      s"queries missing from the SURVEY.md census: ${missing.toSeq.sorted}")
  }

  test("SURVEY §2.12 header counts match the shipped catalog (r9 verdict: header drift)") {
    // r9 shipped a census header two passes stale ("229 declared ...
    // round 8" against a 262-key catalog) — membership was structural
    // (test above) but the bold COUNTS were prose. Parse them.
    val survey = java.nio.file.Files.readString(java.nio.file.Path.of("SURVEY.md"))
    val m = java.util.regex.Pattern
      .compile("\\*\\*(\\d+) declared `queries` keys, (\\d+) with DuckDB oracles\\*\\*")
      .matcher(survey)
    assert(m.find(), "SURVEY §2.12 bold header count line not found")
    val declared = m.group(1).toInt
    val oracled = m.group(2).toInt
    assert(declared === SparkEntry.queries.size,
      s"§2.12 header says $declared declared keys; catalog has ${SparkEntry.queries.size}")
    assert(oracled === SparkEntry.oracleSql.size,
      s"§2.12 header says $oracled oracled keys; catalog has ${SparkEntry.oracleSql.size}")
    // r14 ADVICE: the adjacent "(all N hash-match" parenthetical rotted to
    // 291 while the bold count moved to 292 — parse and pin it too, so the
    // prose can never again imply an oracled query is unverified.
    val p = java.util.regex.Pattern.compile("\\(all (\\d+)\\s+hash-match").matcher(survey)
    assert(p.find(), "SURVEY §2.12 '(all N hash-match' parenthetical not found")
    assert(p.group(1).toInt === SparkEntry.oracleSql.size,
      s"§2.12 parenthetical says all ${p.group(1)} hash-match; catalog has " +
        s"${SparkEntry.oracleSql.size} oracled keys")
  }

  test("entry (flagship) returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("dedup_est_calibration reconciles with dedup_minhash_est; sketch is calibrated") {
    // r10: same pair set, same 32-signature agreement — the calibration
    // buckets must partition dedup_minhash_est's rows exactly, and on
    // populated buckets the sketch must actually BE calibrated
    // (E[agree/32] = J; observed mean |est − exact| ≈ 0.06 — assert a
    // generous 0.15 so fixture drift, not noise, trips it).
    val est = SparkEntry.queries("dedup_minhash_est")(spark, sf).collect()
      .map(_.getInt(2))
    val byAgree = est.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val cal = SparkEntry.queries("dedup_est_calibration")(spark, sf).collect()
    assert(cal.map(_.getLong(2)).sum === est.length.toLong,
      "every candidate pair lands in exactly one agreement bucket")
    cal.foreach { r =>
      val (na, np, mj, me) = (r.getInt(0), r.getLong(2), r.getDouble(3), r.getDouble(4))
      assert(np === byAgree(na), s"bucket $na count")
      assert(mj >= 0.0 && mj <= 1.0, s"bucket $na mean jaccard in range")
      if (np >= 20) assert(me <= 0.15, s"sketch badly calibrated at n_agree=$na: $me")
    }
  }

  test("sample_curriculum phases partition the corpus with ordered quality ranges") {
    // r11: the three phases must (a) partition the doc count with sizes
    // within 1 of each other (the integer position rule's guarantee),
    // (b) carry token mass equal to the corpus total, and (c) be
    // quality-ordered: phase p's minimum quality >= phase p+1's maximum
    // (DESC ordering; equality allowed at a tie boundary).
    val got = SparkEntry.queries("sample_curriculum")(spark, sf).collect()
      .sortBy(_.getInt(0))
    assert(got.map(_.getInt(0)).toSeq === Seq(0, 1, 2))
    val docs = Tables.documents(spark, sf)
    assert(got.map(_.getLong(1)).sum === docs.count(), "phases partition docs")
    val sizes = got.map(_.getLong(1))
    assert(sizes.max - sizes.min <= 1L, s"phase sizes within 1: ${sizes.toSeq}")
    val tot = docs.selectExpr("CAST(size(split(text, ' ')) AS BIGINT) AS n")
      .agg(org.apache.spark.sql.functions.sum("n")).head().getLong(0)
    assert(got.map(_.getLong(2)).sum === tot, "phases carry the corpus token mass")
    for (p <- 0 until 2)
      assert(got(p).getDouble(3) >= got(p + 1).getDouble(4),
        s"phase $p min quality must be >= phase ${p + 1} max quality")
  }

  test("text_tokenizer_fertility reconciles with text_bpe_apply's dictionary") {
    // r11: independent path — fold the ENCODER's emitted dictionary and
    // raw (source, tok) counts in plain Scala (the query goes through a
    // join-aggregate instead); every integer cell must match, and the
    // structural ordering words <= pieces <= chars must hold.
    val dict = SparkEntry.queries("text_bpe_apply")(spark, sf).collect()
      .map(r => r.getString(0) -> r.getInt(3).toLong).toMap
    val wc = Tables.documents(spark, sf)
      .select(col("source"), explode(split(col("text"), " ")).as("tok"))
      .groupBy("source", "tok").agg(count(lit(1)).as("n")).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val exp = wc.groupBy(_._1).view.mapValues { rows =>
      (rows.map(_._3).sum,
        rows.map(r => r._3 * dict.getOrElse(r._2, 1L)).sum,
        rows.map(r => r._3 * r._2.length).sum)
    }.toMap
    val got = SparkEntry.queries("text_tokenizer_fertility")(spark, sf).collect()
    assert(got.length === exp.size)
    got.foreach { r =>
      val (w, p, c) = exp(r.getString(0))
      assert((r.getLong(1), r.getLong(2), r.getLong(3)) === ((w, p, c)),
        s"source ${r.getString(0)} census mismatch")
      assert(w <= p && p <= c, "words <= pieces <= chars")
    }
  }

  test("dedup_cluster_persisted equals dedup_cluster_incremental cell-for-cell") {
    // r11: the persisted-label resume (label table landed + read back +
    // contraction-only) must produce the EXACT clustering of the
    // in-plan incremental query — same watermark, same star edges, same
    // min-label identity; both already oracle against the full-rescan
    // closure, so this pin closes the triangle (persisted == in-plan ==
    // full rescan).
    def rows(q: String) = SparkEntry.queries(q)(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(rows("dedup_cluster_persisted") === rows("dedup_cluster_incremental"))
  }

  test("dedup_cluster_scratch equals dedup_cluster_cc cell-for-cell (r14 seam mode equivalence)") {
    // Both oracle against the same full-rescan closure, so this pin
    // closes the triangle for the materialize seam: scratch-parquet
    // rounds == localCheckpoint rounds == full rescan. A divergence
    // here would mean the materialization MODE leaked into results —
    // the one property the seam must never break.
    def rows(q: String) = SparkEntry.queries(q)(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    val a = rows("dedup_cluster_scratch")
    assert(a.nonEmpty && a === rows("dedup_cluster_cc"))
  }

  test("text_lsh_band_sweep: shipped-config identity and banding monotonicity") {
    // r10: the (8,4) row IS the shipped banding — its candidate count
    // must equal text_minhash_lsh's pair set exactly (one signature
    // family, one bucketing rule). And candidate sets NEST: a 4-row
    // band agreement implies both 2-row halves agree, so candidates,
    // hits, and recall are monotone non-increasing in rows_per_band.
    val sweep = SparkEntry.queries("text_lsh_band_sweep")(spark, sf).collect()
      .map(r => (r.getInt(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .sortBy(_._1)
    assert(sweep.map(_._1).toSeq === Seq(2, 4, 8))
    val nPairs = SparkEntry.queries("text_minhash_lsh")(spark, sf).count()
    assert(sweep(1)._2 === nPairs, "the (8,4) row must be the shipped pair set")
    assert(sweep.map(_._3).distinct.length === 1, "n_true is config-independent")
    assert(sweep(0)._2 >= sweep(1)._2 && sweep(1)._2 >= sweep(2)._2,
      "candidates monotone in rows_per_band (band nesting)")
    assert(sweep(0)._4 >= sweep(1)._4 && sweep(1)._4 >= sweep(2)._4,
      "hits monotone in rows_per_band (band nesting)")
    assert(sweep.forall(r => r._4 <= r._2 && r._4 <= r._3), "hits bounded by both sets")
  }

  test("join_cross is exactly |region| x |nation| = 125") {
    assert(SparkEntry.queries("join_cross")(spark, sf).count() === 125)
  }

  test("agg_pricing_summary group counts sum to the filtered row count") {
    val df = SparkEntry.queries("agg_pricing_summary")(spark, sf)
    val total = df.agg(sum("count_order")).head.getLong(0)
    val expected = Tables.lineitem(spark, sf)
      .where(col("l_shipdate") <= lit("1998-09-01")).count()
    assert(total === expected)
  }

  test("agg_rollup grand total equals ungrouped total") {
    val df = SparkEntry.queries("agg_rollup")(spark, sf)
    val grand = df.where(col("gid") === 3).select("revenue").head.getDouble(0)
    val direct = Tables.orders(spark, sf)
      .join(Tables.customer(spark, sf), col("o_custkey") === col("c_custkey"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).cast("double"))
      .head.getDouble(0)
    assert(grand === direct)
  }

  test("ts_session partitions events: session event counts sum to |events|") {
    val df = SparkEntry.queries("ts_session")(spark, sf)
    val total = df.agg(sum("n_events")).head.getLong(0)
    assert(total === Tables.events(spark, sf).count())
  }

  test("ts_dedup_latest keeps exactly one row per (user, type)") {
    val df = SparkEntry.queries("ts_dedup_latest")(spark, sf)
    assert(df.groupBy("user_id", "event_type").count().where(col("count") > 1).count() === 0)
    val pairs = Tables.events(spark, sf).select("user_id", "event_type").distinct().count()
    assert(df.count() === pairs)
  }

  test("scd2_asof_lookup returns exactly the current version per pre-T key") {
    // UTC-constructed instant: the query's asOf literal parses in the UTC
    // session timezone, while Timestamp.valueOf would use the JVM default
    // tz — spuriously failing on a non-UTC machine
    val t = java.sql.Timestamp.from(java.time.Instant.parse("2024-01-15T12:00:00Z"))
    val df = SparkEntry.queries("scd2_asof_lookup")(spark, sf)
    // one row per (user, type), and exactly the set of keys active before T
    assert(df.groupBy("user_id", "event_type").count().where(col("count") > 1).count() === 0)
    val activeKeys = Tables.events(spark, sf).where(col("ts") <= t)
      .select("user_id", "event_type").distinct().count()
    assert(df.count() === activeKeys)
    // the selected version is the LATEST event at or before T per key
    val latest = Tables.events(spark, sf).where(col("ts") <= t)
      .groupBy("user_id", "event_type")
      .agg(max(struct(col("ts"), col("event_id"))).as("m"))
      .select(col("user_id"), col("event_type"), col("m.event_id").as("event_id"))
    assert(df.select("user_id", "event_type", "event_id")
      .except(latest).count() === 0)
  }

  test("ts_ohlc reconciles: counts cover events, open/close bracket the hour") {
    val df = SparkEntry.queries("ts_ohlc")(spark, sf)
    assert(df.agg(sum("n")).head.getLong(0) === Tables.events(spark, sf).count())
    // high/low bound open and close, and bars exist for every (type, hour)
    assert(df.where(col("open") > col("high") || col("open") < col("low") ||
      col("close") > col("high") || col("close") < col("low")).count() === 0)
    val hours = Tables.events(spark, sf)
      .select(col("event_type"), date_trunc("hour", col("ts"))).distinct().count()
    assert(df.count() === hours)
  }

  test("agg_skew_kurt matches a naive double reference within 1e-6") {
    val rows = SparkEntry.queries("agg_skew_kurt")(spark, sf).collect()
    val data = Tables.lineitem(spark, sf)
      .select(col("l_returnflag"),
        expr("CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT)").as("c"))
      .collect().groupBy(_.getString(0)).view.mapValues(_.map(_.getLong(1))).toMap
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val xs = data(r.getString(0)).map(_.toDouble)
      val n = xs.length.toDouble
      val mu = xs.sum / n
      val m2 = xs.map(x => (x - mu) * (x - mu)).sum / n
      val m3 = xs.map(x => math.pow(x - mu, 3)).sum / n
      val m4 = xs.map(x => math.pow(x - mu, 4)).sum / n
      assert(r.getLong(1) === xs.length.toLong)
      assert(math.abs(r.getDouble(2) - m3 / (m2 * math.sqrt(m2))) < 1e-6,
        s"skewness of ${r.getString(0)}")
      assert(math.abs(r.getDouble(3) - (m4 / (m2 * m2) - 3.0)) < 1e-6,
        s"kurtosis of ${r.getString(0)}")
    }
  }

  test("dedup_minhash_est estimates exact Jaccard within sketch error") {
    // E[agreement/32] = J; with k=32 the per-pair std is ~sqrt(J(1-J)/32)
    // <= 0.09 — the MEAN absolute deviation over the true near-dup pairs
    // must come in well under 2 sigma.
    val est = SparkEntry.queries("dedup_minhash_est")(spark, sf)
      .select("doc_a", "doc_b", "est_jaccard")
    val exact = SparkEntry.queries("text_near_dup_jaccard")(spark, sf)
      .select("doc_a", "doc_b", "jaccard")
    val joined = est.join(exact, Seq("doc_a", "doc_b")).collect()
    assert(joined.length > 10, "expected a meaningful overlap of pairs")
    val mad = joined.map(r => math.abs(r.getDouble(2) - r.getDouble(3))).sum / joined.length
    assert(mad < 0.1, s"mean |est - exact| = $mad")
  }

  test("dq_profile reports the fixture's known column facts") {
    val rows = SparkEntry.queries("dq_profile")(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val nOrders = Tables.orders(spark, sf).count()
    assert(rows("o_orderkey") === ((0L, nOrders)), "o_orderkey is a unique non-null pk")
    assert(rows.values.forall(_._1 === 0L), "fixture has no nulls in orders")
    assert(rows("o_orderstatus")._2 <= 3L && rows("o_orderpriority")._2 <= 5L)
  }

  test("agg_string_concat lists every nation exactly once across regions") {
    val df = SparkEntry.queries("agg_string_concat")(spark, sf)
    assert(df.agg(sum("n_nations")).head.getLong(0) === Tables.nation(spark, sf).count())
    val listed = df.collect().flatMap(_.getString(1).split(",")).toSeq
    assert(listed.distinct.size === listed.size, "a nation appears twice")
  }

  test("pivot_event_matrix row counts reconcile with raw events") {
    val df = SparkEntry.queries("pivot_event_matrix")(spark, sf)
    val pivotTotal = df.select(
      (col("click") + col("error") + col("purchase") + col("signup") + col("view")).as("s"))
      .agg(sum("s")).head.getLong(0)
    assert(pivotTotal === Tables.events(spark, sf).count())
  }

  test("sim_search_topk returns 10 neighbors with cosine in [-1,1], descending") {
    val rows = SparkEntry.queries("sim_search_topk")(spark, sf)
      .select("cosine").collect().map(_.getDouble(0))
    assert(rows.length === 10)
    assert(rows.forall(c => c >= -1.0 && c <= 1.0))
    assert(rows.sliding(2).forall { case Array(a, b) => a >= b; case _ => true })
  }

  test("agg_histogram fractions sum to 1 and counts cover every order") {
    val df = SparkEntry.queries("agg_histogram")(spark, sf)
    assert(df.agg(sum("n")).head.getLong(0) === Tables.orders(spark, sf).count(),
      "histogram must partition the table (no dropped or double-counted rows)")
    val fracSum = df.agg(sum("frac")).head.getDouble(0)
    assert(math.abs(fracSum - 1.0) < 1e-4, s"fractions sum to $fracSum")
  }

  test("ts_ema_smooth: EMA is a convex combination of the trailing counts") {
    val rows = SparkEntry.queries("ts_ema_smooth")(spark, sf)
      .select("event_type", "cnt", "ema").collect()
    assert(rows.nonEmpty)
    // convexity: every EMA lies within [min, max] of its type's counts —
    // the invariant any correctly-normalized weighted average satisfies
    val byType = rows.groupBy(_.getString(0))
    byType.foreach { case (t, rs) =>
      val counts = rs.map(_.getLong(1).toDouble)
      val (lo, hi) = (counts.min, counts.max)
      rs.foreach { r =>
        val e = r.getDouble(2)
        assert(e >= lo - 1e-9 && e <= hi + 1e-9,
          s"$t: ema $e outside count range [$lo, $hi]")
      }
    }
  }

  test("text_unigram_logprob: scores negative, bounded by the rarest/commonest token") {
    val df = SparkEntry.queries("text_unigram_logprob")(spark, sf)
    assert(df.count() === Tables.documents(spark, sf).count())
    val bad = df.where(col("logprob") >= 0.0).count()
    assert(bad === 0L, "every token probability < 1 => every mean log-prob < 0")
  }

  test("text_normalize_dedup_exact is idempotent on survivors") {
    val df = SparkEntry.queries("text_normalize_dedup_exact")(spark, sf)
    // survivors' hashes are unique: dedup(dedup(x)) == dedup(x)
    assert(df.groupBy("h").count().where(col("count") > 1).count() === 0)
  }

  test("scan_parquet preserves all rows and columns") {
    val df = SparkEntry.queries("scan_parquet")(spark, sf)
    assert(df.count() === 6000)
    assert(df.columns.length === 11)
  }

  test("dq_checks reports the known fixture facts (no orphans, dup pks exist)") {
    val m = SparkEntry.queries("dq_checks")(spark, sf)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(m("fk_orphan") === 0L)
    assert(m("null_key") === 0L)
    assert(m("neg_price") === 0L)
    assert(m("dup_pk") > 0L) // (l_orderkey, l_linenumber) is NOT unique — see FIXTURES note
  }

  test("predicate pushdown + column pruning reach the parquet scan (scan_pruned)") {
    val plan = SparkEntry.queries("scan_pruned")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate), IsNotNull(l_extendedprice)"),
      s"no pushed filters in plan:\n$plan")
    assert(plan.contains("ReadSchema") && !plan.contains("l_tax"),
      "scan should not read unprojected columns")
  }

  test("agg_pricing_summary runs inside whole-stage codegen") {
    val df = SparkEntry.queries("agg_pricing_summary")(spark, sf)
    df.collect() // materialize THIS QueryExecution so AQE finalizes it
                 // (count() would build and execute a separate plan)
    val plan = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(plan.contains("codegen id"),
      s"scan..partial-agg should be inside a whole-stage-codegen span:\n$plan")
  }

  test("agg_stats takes the object/sort aggregation path (percentile is not hash-aggregable)") {
    val plan = SparkEntry.queries("agg_stats")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate") || plan.contains("SortAggregate"),
      s"percentile should leave the pure hash-agg path:\n$plan")
  }

  test("join_broadcast_star actually broadcasts the dims") {
    val plan = SparkEntry.queries("join_broadcast_star")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast joins:\n$plan")
  }

  test("fn_pii_mask: total, injective on names, masked, buckets bounded") {
    val src = Tables.customer(spark, sf)
    val out = SparkEntry.queries("fn_pii_mask")(spark, sf)
    assert(out.count() === src.count(), "the policy pass must keep every row")
    // pseudonymization must be a FUNCTION of the name (same name -> same
    // token) and collision-free on the fixture (distinct names -> distinct
    // tokens), or cross-table joins on the token break
    val names = src.select("c_name").distinct().count()
    val tokens = out.select("name_token").distinct().count()
    assert(tokens === names, s"token/name cardinality: $tokens vs $names")
    val leaked = out.join(src, "c_custkey")
      .where(col("name_masked") =!= concat(substring(col("c_name"), 1, 1), lit("***")) ||
        length(col("name_token")) =!= 16)
    assert(leaked.count() === 0, "mask/token shape violated")
    val range = out.agg(min("acctbal_bucket"), max("acctbal_bucket")).head()
    assert(range.getInt(0) >= 0 && range.getInt(1) <= 20,
      s"bucket range ${range.getInt(0)}..${range.getInt(1)} outside the offset domain")
  }

  test("join_full_outer reconciles: sides partition, totals match source") {
    val out = SparkEntry.queries("join_full_outer")(spark, sf)
    val kept = Tables.customer(spark, sf).where(col("c_custkey") % 3 =!= 0).count()
    val droppedWithOrders = Tables.orders(spark, sf)
      .where(col("o_custkey") % 3 === 0).select("o_custkey").distinct().count()
    assert(out.count() === kept + droppedWithOrders)
    val bySide = out.groupBy("side").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySide("orders_only") === droppedWithOrders)
    assert(bySide.getOrElse("both", 0L) + bySide.getOrElse("customer_only", 0L) === kept)
    // every key appears exactly once (full outer on a grouped right side)
    assert(out.select("key").distinct().count() === out.count())
  }

  test("cdc_incremental_agg equals a direct aggregate of the merged state") {
    val incremental = SparkEntry.queries("cdc_incremental_agg")(spark, sf)
    val merged = SparkEntry.queries("cdc_merge_upsert")(spark, sf)
    // recompute from the merged state with the OTHER plan shape: the
    // emitted double prices are exact cents, so the decimal re-cast
    // aggregates exactly
    val direct = merged
      .groupBy((col("key") % 32).as("g"))
      .agg(count(lit(1)).as("n_rows"),
        queries.Qutil.emitD(sum(queries.Qutil.dec2(col("price")))).as("total"))
    assert(incremental.except(direct).count() === 0)
    assert(direct.except(incremental).count() === 0)
    assert(incremental.count() === 32)
  }

  test("ts_holt_forecast equals an independent integer recurrence; forecast is linear") {
    val daily = Tables.events(spark, sf)
      .selectExpr("unix_micros(ts) DIV 86400000000 AS day")
      .groupBy("day").count().orderBy("day").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    var (l, b) = (daily.head._2 * 1000000L, 0L)
    val exp = scala.collection.mutable.Map[Long, (Long, Long, Long)](
      daily.head._1 -> ((l, b, l)))
    daily.tail.foreach { case (day, y) =>
      val f = l + b
      val lN = (y * 1000000L + l + b) / 2L
      b = (lN - l) / 4L + (3L * b) / 4L
      l = lN
      exp(day) = (l, b, f)
    }
    val out = SparkEntry.queries("ts_holt_forecast")(spark, sf).collect()
    val fit = out.filter(_.getString(1) == "fit")
    assert(fit.length === daily.length)
    fit.foreach { r =>
      val (el, eb, ef) = exp(r.getLong(0))
      assert((r.getLong(3), r.getLong(4), r.getLong(5)) === ((el, eb, ef)),
        s"state diverges at day ${r.getLong(0)}")
    }
    // forecasts continue the last level/trend linearly with h
    val fc = out.filter(_.getString(1) == "forecast").sortBy(_.getLong(0))
    assert(fc.length === 3)
    fc.zipWithIndex.foreach { case (r, i) =>
      assert(r.getLong(3) === l && r.getLong(4) === b)
      assert(r.getLong(5) === l + (i + 1) * b)
      assert(r.isNullAt(2), "forecast rows carry no observation")
    }
  }

  test("ts_unique_cumulative: closure, monotonicity, full day coverage") {
    val out = SparkEntry.queries("ts_unique_cumulative")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val ev = Tables.events(spark, sf)
      .selectExpr("user_id", "unix_micros(ts) DIV 86400000000 AS day")
    assert(out.length.toLong === ev.select("day").distinct().count(),
      "every observed day must emit a row")
    val totalUsers = ev.select("user_id").distinct().count()
    assert(out.last._4 === totalUsers, "final running total must close on |users|")
    assert(out.map(_._3).sum === totalUsers, "new_users must partition the user set")
    out.sliding(2).foreach { case Array((_, _, nu2, c1), (_, _, _, c2)) =>
      assert(c2 >= c1, "running total must be nondecreasing"); val _ = nu2
    case _ => }
    out.foreach { case (_, nEv, nu, _) => assert(nu <= nEv,
      "new users cannot exceed the day's events") }
  }

  test("sim_search_filtered is the exact top-10 of the label-restricted scan") {
    val out = SparkEntry.queries("sim_search_filtered")(spark, sf).collect()
    assert(out.length === 10)
    assert(out.forall(r => Set(1, 2, 3)(r.getInt(1))), "predicate must hold")
    // independent recompute: exact cosine over the filtered candidates
    val rows = Tables.embeddings(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(2), r.getSeq[Float](1).toArray))
    val qv = rows.find(_._1 == 0L).get._3.map(_.toDouble)
    def cos(v: Array[Float]): Double = {
      val vd = v.map(_.toDouble)
      val dp = vd.zip(qv).map { case (a, b) => a * b }.sum
      dp / (math.sqrt(vd.map(x => x * x).sum) * math.sqrt(qv.map(x => x * x).sum))
    }
    val expect = rows.filter(r => r._1 != 0L && Set(1, 2, 3)(r._2))
      .map(r => (r._1, cos(r._3)))
      .sortBy { case (id, c) => (-c, id) }.take(10).map(_._1).toSet
    assert(out.map(_.getLong(0)).toSet === expect, "top-10 set diverges")
  }

  test("join_interval_overlap: bucketed join equals a direct interval scan") {
    val out = SparkEntry.queries("join_interval_overlap")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(out.nonEmpty)
    out.foreach { case (_, vs, ve, ps, pe, ov) =>
      assert(vs < ve && ps < pe, "degenerate interval")
      assert(ov === math.min(ve, pe) - math.max(vs, ps), "overlap arithmetic")
      assert(ov > 0, "half-open overlap must be strictly positive")
    }
    // independent recompute: collect sessions per type, nested-loop in memory
    def sess(tp: String): Seq[(Long, Long, Long)] = {
      val evs = Tables.events(spark, sf).where(col("event_type") === tp)
        .selectExpr("user_id", "unix_micros(ts) AS us", "event_id")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .sortBy(e => (e._1, e._2, e._3))
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
      var cur: Option[(Long, Long, Long)] = None  // user, start, last
      evs.foreach { case (u, us, _) =>
        cur match {
          case Some((cu, st, lastUs)) if cu == u && us - lastUs < 1800000000L =>
            cur = Some((cu, st, us))
          case _ =>
            cur.foreach { case (cu, st, l) => out += ((cu, st, l + 1800000000L)) }
            cur = Some((u, us, us))
        }
      }
      cur.foreach { case (cu, st, l) => out += ((cu, st, l + 1800000000L)) }
      out.toSeq
    }
    val vRef = sess("view"); val pRef = sess("purchase")
    val ref = for {
      (vu, vs, ve) <- vRef; (pu, ps, pe) <- pRef
      if vu == pu && vs < pe && ps < ve
    } yield (vu, vs, ve, ps, pe, math.min(ve, pe) - math.max(vs, ps))
    assert(out.toSet === ref.toSet, "overlap pair set diverges from nested-loop reference")
  }

  test("agg_gini matches an in-memory exact rank computation") {
    val cents = Tables.orders(spark, sf)
      .selectExpr("CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS c", "o_orderkey AS k")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .sortBy(identity).map(_._1)
    val n = cents.length.toLong
    val sx = cents.map(BigInt(_)).sum
    val sxr = cents.zipWithIndex.map { case (x, i) => BigInt(i + 1) * x }.sum
    val expGini = (2.0 * sxr.toDouble - (n.toDouble + 1.0) * sx.toDouble) /
      (n.toDouble * sx.toDouble)
    val row = SparkEntry.queries("agg_gini")(spark, sf).head()
    assert(row.getLong(0) === n)
    assert(math.abs(row.getDouble(1) - sx.toDouble / 100.0) < 1e-6)
    assert(math.abs(row.getDouble(2) - expGini) < 1.1e-6, s"gini ${row.getDouble(2)} vs $expGini")
    assert(row.getDouble(2) > 0.0 && row.getDouble(2) < 1.0)
  }

  test("dq_k_anonymity reconciles with direct group counts; monotone in k") {
    val out = SparkEntry.queries("dq_k_anonymity")(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.map(_._1).toSeq === Seq(2, 5, 10))
    val sizes = Tables.customer(spark, sf)
      .selectExpr("c_nationkey",
        "CAST(floor(c_acctbal * 100.0 + 0.5) AS BIGINT) DIV 100000 AS bb", "c_mktsegment")
      .groupBy("c_nationkey", "bb", "c_mktsegment").count()
      .collect().map(_.getLong(3))
    out.foreach { case (k, ng, nsg, nrar) =>
      assert(ng === sizes.length.toLong)
      assert(nsg === sizes.count(_ < k).toLong)
      assert(nrar === sizes.filter(_ < k).sum)
    }
    // larger k can only flag more groups/rows
    assert(out.map(_._3).toSeq === out.map(_._3).sorted)
    assert(out.map(_._4).toSeq === out.map(_._4).sorted)
  }

  test("ts_rolling_corr equals an in-memory windowed Pearson; values in [-1,1]") {
    val grid = Tables.events(spark, sf)
      .where(col("event_type").isin("view", "purchase"))
      .selectExpr("event_type", "unix_micros(date_trunc('hour', ts)) DIV 3600000000 AS hi")
      .groupBy("event_type", "hi").count().collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    // zero-filled span over ALL types' observed hours (hourlyGrid semantics)
    val allHours = Tables.events(spark, sf)
      .selectExpr("unix_micros(date_trunc('hour', ts)) DIV 3600000000 AS hi")
      .agg(min("hi"), max("hi")).head()
    val hours = (allHours.getLong(0) to allHours.getLong(1))
    def series(t: String) = hours.map(h => grid.getOrElse((t, h), 0L))
    val (xs, ys) = (series("view"), series("purchase"))
    val out = SparkEntry.queries("ts_rolling_corr")(spark, sf).collect()
    assert(out.length === hours.length - 23)
    out.foreach { r =>
      val idx = (r.getLong(0) - hours.head).toInt
      val (wx, wy) = (xs.slice(idx - 23, idx + 1), ys.slice(idx - 23, idx + 1))
      val n = 24L
      val (sx, sy) = (wx.sum, wy.sum)
      val (sxx, syy, sxy) = (wx.map(v => v * v).sum, wy.map(v => v * v).sum,
        wx.zip(wy).map { case (a, b) => a * b }.sum)
      val (vx, vy) = (n * sxx - sx * sx, n * syy - sy * sy)
      if (vx > 0 && vy > 0) {
        val exp = (n * sxy - sx * sy).toDouble /
          (math.sqrt(vx.toDouble) * math.sqrt(vy.toDouble))
        assert(!r.isNullAt(1) && math.abs(r.getDouble(1) - exp) < 1.1e-6,
          s"corr at hour ${r.getLong(0)}")
        assert(r.getDouble(1) >= -1.0 && r.getDouble(1) <= 1.0)
      } else assert(r.isNullAt(1), "zero-variance window must emit NULL")
    }
  }

  test("ts_interarrival: totals reconcile and bucket bounds hold") {
    val out = SparkEntry.queries("ts_interarrival")(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val ev = Tables.events(spark, sf)
    val nEvents = ev.count()
    val nUsers = ev.select("user_id").distinct().count()
    // one gap per event beyond each user's first
    assert(out.map(_._2).sum === nEvents - nUsers)
    out.foreach { case (b, _, lo, hi) =>
      assert(lo <= hi)
      // bucket = binary length: values in [2^(b-1), 2^b) — except bucket 1,
      // which also holds gap 0 (bin(0) = "0", length 1)
      val floor = if (b == 1) 0L else 1L << (b - 1)
      assert(lo >= floor && hi < (1L << b), s"bucket $b bounds [$lo, $hi]")
    }
    assert(out.map(_._1).distinct.length === out.length)
  }

  test("join_anti and set_except report planted reconciliation diffs") {
    // Both queries verify 0=0 at every fixture SF (every customer has
    // orders; every customer nation has suppliers — r8 verdict), so the
    // oracle hash proves nothing about their semantics. Plant a scratch
    // sfDir with an orphan customer and a supplier-less nation and run
    // the DECLARED queries against it.
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_planted_sf")
      .toString
    Seq((1L, "Customer#1", 10L), (2L, "Customer#2", 20L),
        (3L, "Customer#orphan", 30L))
      .toDF("c_custkey", "c_name", "c_nationkey")
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")
    Seq((100L, 1L), (101L, 1L), (102L, 2L))
      .toDF("o_orderkey", "o_custkey")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    Seq((7L, 10L), (8L, 30L))
      .toDF("s_suppkey", "s_nationkey")
      .write.mode("overwrite").parquet(s"$dir/supplier.parquet")
    val anti = SparkEntry.queries("join_anti")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(anti.toSeq === Seq((3L, "Customer#orphan")),
      "anti join must surface exactly the order-less customer")
    val except = SparkEntry.queries("set_except")(spark, dir)
      .collect().map(_.getLong(0))
    assert(except.toSeq === Seq(20L),
      "except must surface exactly the supplier-less customer nation")
  }

  test("text_langid_eval reconciles exactly with text_langid's row-level output") {
    val rows = SparkEntry.queries("text_langid")(spark, sf).collect()
      .map(r => (r.getString(1), r.getString(2)))
    val conf = rows.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val byLang = rows.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val byPred = rows.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    def r6(x: Double): Double = math.floor(x * 1e6 + 0.5) / 1e6
    val got = SparkEntry.queries("text_langid_eval")(spark, sf).collect()
    assert(got.map(r => (r.getString(0), r.getString(1))).toSet === conf.keySet)
    got.foreach { r =>
      val k = (r.getString(0), r.getString(1))
      assert(r.getLong(2) === conf(k) && r.getLong(3) === byLang(k._1) &&
        r.getLong(4) === byPred(k._2), s"$k counts")
      assert(r.getDouble(5) === r6(conf(k).toDouble / byLang(k._1).toDouble), s"$k recall")
      assert(r.getDouble(6) === r6(conf(k).toDouble / byPred(k._2).toDouble), s"$k precision")
    }
    // shares close per margin: each actual lang's recall shares sum to 1
    byLang.keys.foreach { l =>
      val tot = got.filter(_.getString(0) == l).map(_.getDouble(5)).sum
      assert(math.abs(tot - 1.0) < 1e-5, s"$l recall closure")
    }
  }

  test("join_asof_nearest picks the closer side, ties backward, same-ts is gap 0") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_planted_asof")
      .toString
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    // user 1: tie at 30 s each way -> backward wins; then a B-only match
    // user 2: forward-only match; user 3: nothing within tolerance;
    // user 4: view at the SAME ts as the purchase -> backward, gap 0
    Seq(
      (1L, ts(0), 10L, "view", 1.0),
      (1L, ts(100), 11L, "view", 1.0),
      (1L, ts(130), 20L, "purchase", 1.0),
      (1L, ts(160), 12L, "view", 1.0),
      (1L, ts(190), 21L, "purchase", 1.0),
      (2L, ts(0), 30L, "purchase", 1.0),
      (2L, ts(60), 40L, "view", 1.0),
      (3L, ts(0), 50L, "purchase", 1.0),
      (3L, ts(7200), 51L, "view", 1.0),
      (4L, ts(500), 60L, "view", 1.0),
      (4L, ts(500), 70L, "purchase", 1.0))
      .toDF("user_id", "ts", "event_id", "event_type", "value")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = SparkEntry.queries("join_asof_nearest")(spark, dir)
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(3)) null else r.getString(3),
        if (r.isNullAt(4)) -1L else r.getLong(4),
        if (r.isNullAt(6)) -1L else r.getLong(6)))
    assert(got.toSeq === Seq(
      (20L, "B", 11L, 30000000L),
      (21L, "B", 12L, 30000000L),
      (30L, "F", 40L, 60000000L),
      (50L, null, -1L, -1L),
      (70L, "B", 60L, 0L)))
  }
}
