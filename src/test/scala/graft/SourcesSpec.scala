package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** CSV/JSON file-source capability (SURVEY §2.1): explicit-schema reads of
  * stringly sources — the Salesforce-export ingest shape. */
class SourcesSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("name", StringType),
    StructField("amount", DoubleType), StructField("created", TimestampType)))

  test("CSV with explicit schema: typed columns, no inference") {
    val dir = java.nio.file.Files.createTempDirectory("graft_csv").toString
    java.nio.file.Files.writeString(java.nio.file.Path.of(dir, "a.csv"),
      "1,alpha,10.5,2024-01-01 10:00:00\n2,beta,-3.25,2024-01-02 11:30:00\n")
    val df = spark.read.schema(schema).csv(dir)
    assert(df.schema === schema)
    val rows = df.orderBy("id").collect()
    assert(rows.length === 2)
    assert(rows(0).getString(1) === "alpha" && rows(1).getDouble(2) === -3.25)
  }

  test("JSON lines with explicit schema + corrupt-record tolerance") {
    val dir = java.nio.file.Files.createTempDirectory("graft_json").toString
    java.nio.file.Files.writeString(java.nio.file.Path.of(dir, "a.json"),
      """{"id": 1, "name": "alpha", "amount": 10.5, "created": "2024-01-01T10:00:00Z"}
        |not json at all
        |{"id": 2, "name": "beta", "amount": -3.25, "created": "2024-01-02T11:30:00Z"}
        |""".stripMargin)
    val df = spark.read.schema(schema).option("mode", "PERMISSIVE").json(dir)
    val good = df.where(col("id").isNotNull).orderBy("id").collect()
    assert(good.length === 2)
    assert(good(1).getString(1) === "beta")
  }

  test("corrupt files in a landing dir are skippable (ignoreCorruptFiles)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_corrupt").toString
    Tables.nation(spark, sf).write.mode("overwrite").parquet(dir)
    java.nio.file.Files.writeString(
      java.nio.file.Path.of(dir, "part-junk.parquet"), "this is not parquet")
    val prev = spark.conf.get("spark.sql.files.ignoreCorruptFiles", "false")
    try {
      spark.conf.set("spark.sql.files.ignoreCorruptFiles", "true")
      val n = spark.read.parquet(dir).count()
      assert(n === 25, "good rows must survive a corrupt sibling file")
    } finally spark.conf.set("spark.sql.files.ignoreCorruptFiles", prev)
  }

  test("ORC source/sink round-trips with predicate pushdown (r3)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_orc").toString
    val orig = Tables.orders(spark, sf)
      .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate")
    orig.write.mode("overwrite").orc(dir)
    val back = spark.read.orc(dir)
    assert(back.count() === orig.count())
    assert(back.schema === orig.schema, "ORC must preserve the schema")
    // values survive the round-trip exactly
    assert(back.exceptAll(orig).count() === 0 && orig.exceptAll(back).count() === 0)
    // and filters reach the ORC reader just like parquet
    val plan = back.where(col("o_orderkey") === 42L)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("o_orderkey"),
      s"ORC scan must receive pushed filters:\n$plan")
  }

  test("source_bucketed_join: the bucketed SMJ subtree is exchange-free") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    import graft.tools.PlanAudit.allNodes
    val df = SparkEntry.queries("source_bucketed_join")(spark, sf)
    val plan = df.queryExecution.executedPlan
    val smjs = allNodes(plan).collect { case j: SortMergeJoinExec => j }
    assert(smjs.nonEmpty, "bucketed landing must plan a sort-merge join")
    val shuffled = smjs.flatMap(j => allNodes(j).collect {
      case e: ShuffleExchangeExec => e })
    assert(shuffled.isEmpty,
      "the bucketed join re-shuffled an input — bucket pruning regressed: " +
        shuffled.map(_.child.nodeName).mkString(", "))
    // and the result is real: priorities present, counts positive
    val rows = df.collect()
    assert(rows.length >= 2)
    assert(rows.forall(_.getLong(1) > 0L))
  }

  test("source_dpp_join: dynamicpruning lands in the fact scan's PartitionFilters") {
    // The one thing the query exists to demonstrate (r6 verdict ask #3):
    // the selective broadcast dim injects a runtime dynamicpruning
    // subquery into the partitioned fact scan — and WITHOUT the
    // selective dim filter Catalyst plans no pruning at all. Same
    // landing + join shape as the declared query, local temp dir.
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.execution.FileSourceScanExec
    import graft.tools.PlanAudit.allNodes
    val dir = java.nio.file.Files.createTempDirectory("graft_dpp_spec").toString
    Tables.orders(spark, sf)
      .selectExpr("o_orderkey", "o_orderpriority AS prio",
        "CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents")
      .write.mode("overwrite").partitionBy("prio").parquet(dir)
    val fact = spark.read.parquet(dir)
    val total = Tables.orders(spark, sf).agg(count(lit(1))).head().getLong(0)
    def dim(selective: Boolean): DataFrame = {
      val g = Tables.orders(spark, sf)
        .groupBy(col("o_orderpriority").as("prio"))
        .agg(count(lit(1)).as("n"))
      (if (selective) g.where(col("n") * 5 > lit(total)) else g).select("prio")
    }
    def factDppFilters(selective: Boolean): Seq[String] = {
      val df = fact.join(broadcast(dim(selective)), "prio")
        .groupBy("prio").agg(count(lit(1)).as("n"))
      allNodes(df.queryExecution.executedPlan)
        .collect { case f: FileSourceScanExec
          if f.relation.location.rootPaths.exists(_.toString.contains("graft_dpp_spec")) => f }
        .flatMap(_.partitionFilters.map(_.toString.toLowerCase))
    }
    val pruned = factDppFilters(selective = true)
    assert(pruned.exists(_.contains("dynamicpruning")),
      s"selective dim filter must inject dynamicpruning into the fact scan's " +
        s"PartitionFilters; got: ${pruned.mkString("; ")}")
    val unpruned = factDppFilters(selective = false)
    assert(!unpruned.exists(_.contains("dynamicpruning")),
      s"without the selective dim filter no pruning should plan; got: " +
        unpruned.mkString("; "))
  }

  test("join_bloom_filtered: might_contain lands in the fact scan; absent without the dim filter") {
    // The one thing the query exists to demonstrate (the source_dpp_join
    // rule): the selective dim predicate makes InjectRuntimeFilter build
    // a bloom_filter_agg scalar subquery and push
    // might_contain(xxhash64(l_orderkey)) into the fact side — and
    // WITHOUT the selective predicate no runtime filter plans at all.
    // Same conf scoping as the declared query (newSession clone).
    val declared = SparkEntry.queries("join_bloom_filtered")(spark, sf)
    val plan = declared.queryExecution.executedPlan.toString.toLowerCase
    assert(plan.contains("might_contain"),
      "the declared query must plan a runtime bloom filter on the fact side")
    assert(plan.contains("bloom_filter_agg"),
      "the creation-side bloom aggregate subquery must be in the plan")
    assert(plan.contains("sortmergejoin") || plan.contains("shuffledhashjoin"),
      "the bloom filter must guard a shuffle join, not a broadcast")
    // counter-case in an identically-configured clone: no selective
    // predicate on the dim side => InjectRuntimeFilter declines
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val noFilter = Tables.lineitem(s2, sf)
      .join(Tables.orders(s2, sf), col("l_orderkey") === col("o_orderkey"))
      .groupBy("l_returnflag").agg(count(lit(1)).as("n_items"))
    assert(!noFilter.queryExecution.executedPlan.toString.toLowerCase.contains("might_contain"),
      "without a selective dim predicate no bloom filter should plan")
    // scoping: the spec session's own conf is untouched by the clones
    assert(spark.conf.get(
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold") != "0",
      "the newSession conf must not leak into the parent session")
  }

  test("source_schema_merge: legacy bucket covers exactly the old generation") {
    val src = Tables.orders(spark, sf)
      .select("o_orderkey", "o_orderpriority").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val evenN = src.count(_._1 % 2 == 0).toLong
    val oddByPrio = src.filter(_._1 % 2 == 1)
      .groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val rows = SparkEntry.queries("source_schema_merge")(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(3)))
      .toMap
    // the merged read nulls the missing column for the whole old
    // generation — nothing leaks into a real priority bucket
    assert(rows("LEGACY")._1 === evenN)
    assert(rows("LEGACY")._2 === evenN, "even keys are distinct by construction")
    oddByPrio.foreach { case (p, n) =>
      assert(rows(p)._1 === n, s"priority $p count")
    }
    assert(rows.keySet === oddByPrio.keySet + "LEGACY")
  }

  test("sink_dynamic_overwrite: other partitions survive, 1997 is revised in place") {
    import org.apache.spark.sql.functions._
    val got = SparkEntry.queries("sink_dynamic_overwrite")(spark, sf).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val src = Tables.orders(spark, sf)
      .groupBy(year(col("o_orderdate")).as("y"))
      .agg(count(lit(1)).as("n"),
        graft.queries.Qutil.sumDec2(col("o_totalprice")).as("s"))
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(got.keySet === src.keySet, "a partition was dropped by the overwrite")
    assert(got.size >= 2, "fixture must span multiple years")
    src.foreach { case (y, (n, s)) =>
      assert(got(y)._1 === n, s"row count of year $y")
      if (y == 1997)
        // ~1/7 of keys got a +3% bump: the re-landed partition must be
        // strictly revised, not the stale original
        assert(got(y)._2 > s, "1997 must carry the revised prices")
      else
        assert(math.abs(got(y)._2 - s) < 1e-6, s"year $y was touched by the re-land")
    }
  }

  test("sink_compaction: fragmented landing collapses to few files, rows preserved") {
    val got = SparkEntry.queries("sink_compaction")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    val out = graft.queries.ScanQueries.scratch("compaction", sf)
    def parquetFiles(sub: String): Int =
      new java.io.File(s"$out/$sub").listFiles()
        .count(f => f.getName.endsWith(".parquet"))
    val (landed, compacted) = (parquetFiles("landed"), parquetFiles("compacted"))
    assert(landed >= 32, s"fragmented landing must be many files, got $landed")
    assert(compacted <= 8 && compacted < landed,
      s"compaction must collapse the file count: $landed -> $compacted")
    val src = Tables.events(spark, sf).groupBy("event_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === src, "compaction must preserve every row")
  }

  test("dedup_cluster_persisted resumes from the landed label table (no base CC in the plan)") {
    // r11 (r10 verdict "missing #1"): the deployment shape's whole point
    // is that today's plan reads yesterday's labels instead of
    // re-clustering the base graph — pin (1) the label table actually
    // lands with the (id, cluster) schema, and (2) the returned plan
    // scans it (the base-graph CC ran as a separate construction-time
    // job; its result enters ONLY through this parquet scan).
    val df = SparkEntry.queries("dedup_cluster_persisted")(spark, sf)
    val labelPath = graft.queries.ScanQueries.scratch("cluster_labels", sf)
    val labels = spark.read.parquet(labelPath)
    assert(labels.columns.toSet === Set("id", "cluster"))
    assert(labels.count() > 0, "base labels must be non-empty")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("cluster_labels"),
      s"plan must scan the persisted label table:\n$plan")
  }

  test("sink_merge_upsert: unaffected partition files survive byte-identical") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft_merge_spec").toString
    val base = graft.queries.CdcQueries.upsertBase(spark, sf)
      .withColumn("g", col("key") % 16)
    base.write.mode("overwrite").partitionBy("g").parquet(dir)
    def snapshot(): Map[String, Seq[(String, Long, Long)]] =
      new java.io.File(dir).listFiles().filter(_.getName.startsWith("g=")).map { p =>
        p.getName -> p.listFiles().filter(_.getName.endsWith(".parquet"))
          .map(f => (f.getName, f.length(), f.lastModified())).sorted.toSeq
      }.toMap
    val before = snapshot()
    assert(before.keySet.size === 16, "base must land all 16 partitions")
    val ch = graft.queries.CdcQueries.upsertChanges(spark, sf)
      .withColumn("g", col("key") % 16).where(col("g").isin(2L, 5L))
    graft.queries.CdcQueries.mergeInto(spark, dir, ch)
    val after = snapshot()
    before.keySet.foreach { p =>
      if (p == "g=2" || p == "g=5")
        assert(before(p) !== after(p), s"$p must be rewritten by the merge")
      else
        assert(before(p) === after(p), s"$p must survive the merge untouched")
    }
    // final state: base with the restricted changes applied (DataFrame recompute)
    val expect = base.join(ch, Seq("key", "g"), "full_outer")
      .where(col("op").isNull || col("op") =!= "D")
      .select(col("key"),
        when(col("op").isin("I", "U"), col("c_price")).otherwise(col("price")).as("price"))
    val got = spark.read.parquet(dir).select("key", "price")
    assert(got.except(expect).count() === 0 && expect.except(got).count() === 0,
      "merged table state diverges from the recompute")
  }

  test("sink_retention_vacuum: keepers survive byte-identical, expired dirs are gone") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft_vacuum_spec").toString
    graft.queries.ScanQueries.landPartitionedOrders(spark, sf, dir)
    def snapshot(): Map[String, Seq[(String, Long, Long)]] =
      new java.io.File(dir).listFiles().filter(_.getName.startsWith("o_year=")).map { p =>
        p.getName -> p.listFiles().filter(_.getName.endsWith(".parquet"))
          .map(f => (f.getName, f.length(), f.lastModified())).sorted.toSeq
      }.toMap
    val before = snapshot()
    val (expired, keepers) = before.keySet.partition(_.drop(7).toInt < 1996)
    assert(expired.nonEmpty && keepers.nonEmpty, "cutoff must split the landed years")
    graft.queries.ScanQueries.vacuumYears(spark, dir, 1996)
    val after = snapshot()
    assert(after.keySet === keepers, "exactly the expired partitions must be gone")
    keepers.foreach { p =>
      assert(before(p) === after(p), s"$p must survive the vacuum untouched")
    }
    // surviving rows == source rows for the kept years
    val survived = spark.read.parquet(dir).count()
    val expect = Tables.orders(spark, sf)
      .where(year(col("o_orderdate")) >= 1996).count()
    assert(survived === expect, "vacuum must keep every row of every kept year")
  }

  test("sink_zorder: file footprints are tight on BOTH dims; a 1-D sort is not") {
    import org.apache.spark.sql.functions._
    // run the declared query once: it lands the z-clustered files
    assert(SparkEntry.queries("sink_zorder")(spark, sf).count() > 0)
    val dir = graft.queries.ScanQueries.scratch("zorder", sf)
    def footprints(path: String): Seq[(Long, Long, Long, Long)] =
      new java.io.File(path).listFiles().filter(_.getName.endsWith(".parquet"))
        .map { f =>
          val r = spark.read.parquet(f.getAbsolutePath)
            .agg(min("cust"), max("cust"), min("day"), max("day")).head()
          (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
        }.toSeq
    val zf = footprints(dir)
    assert(zf.size >= 4, s"z landing should produce multiple files, got ${zf.size}")
    val (minc, maxc) = (zf.map(_._1).min, zf.map(_._2).max)
    val (mind, maxd) = (zf.map(_._3).min, zf.map(_._4).max)
    val custHi = minc + (maxc - minc) / 8
    val dayHi = mind + (maxd - mind) / 8
    // z-clustering: a first-octile predicate on EITHER dim overlaps at
    // most half the files (file rectangles tile the 2-D space)
    val zCust = zf.count(_._1 <= custHi)
    val zDay = zf.count(_._3 <= dayHi)
    assert(zCust <= zf.size / 2, s"cust-octile overlaps $zCust of ${zf.size} z files")
    assert(zDay <= zf.size / 2, s"day-octile overlaps $zDay of ${zf.size} z files")
    // contrast: a day-only sort gives full-width cust ranges per file —
    // the cust predicate can skip (almost) nothing
    val dayDir = java.nio.file.Files.createTempDirectory("graft_daysort").toString
    Tables.orders(spark, sf).selectExpr("o_orderkey AS key", "o_custkey AS cust",
        "unix_micros(CAST(o_orderdate AS TIMESTAMP)) DIV 86400000000 AS day")
      .repartitionByRange(8, col("day")).sortWithinPartitions("day")
      .write.mode("overwrite").parquet(dayDir)
    val df = footprints(dayDir)
    val dayCust = df.count(_._1 <= custHi)
    assert(dayCust >= df.size - 1,
      s"day-sorted landing should NOT prune on cust ($dayCust of ${df.size} overlap)")
    assert(zCust < dayCust, "z-ordering must beat the 1-D sort on the off-dim")
  }

  test("schema inference itself works for stringly CSV (tested capability)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_csv_inf").toString
    java.nio.file.Files.writeString(java.nio.file.Path.of(dir, "a.csv"),
      "id,amount\n1,2.5\n2,3.5\n")
    val df = spark.read.option("header", "true").option("inferSchema", "true").csv(dir)
    assert(df.schema("id").dataType === IntegerType)
    assert(df.schema("amount").dataType === DoubleType)
  }
}
