package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.pipeline.Migrate

/** End-to-end migration pipeline over a deliberately-dirtied stringly
  * staging extract (the reference's actual job shape). */
class PipelineSpec extends SparkSpec {

  private def staging = {
    // stringly extract: every column VARCHAR, plus injected dirty rows
    val base = Tables.events(spark, sf)
      .select(col("event_id").cast("string"), col("ts").cast("string"),
        col("user_id").cast("string"), col("event_type").cast("string"),
        col("value").cast("string"))
    val dirty = spark.createDataFrame(
      java.util.List.of(
        org.apache.spark.sql.Row("not_a_number", "2024-01-05 10:00:00", "1", "click", "1.5"),
        org.apache.spark.sql.Row("999001", "2024-01-05 10:00:00", "1", "NOT_A_TYPE", "1.5"),
        // NULL event_type: isin() evaluates to NULL — the DQ gate must
        // quarantine (NULL predicate = fail), not silently pass
        org.apache.spark.sql.Row("999002", "2024-01-05 10:00:00", "1", null, "1.5")),
      StructType(Seq("event_id", "ts", "user_id", "event_type", "value")
        .map(n => StructField(n, StringType))))
    base.unionByName(dirty)
  }

  test("text_dedup_funnel reconciles against the queries it summarizes") {
    val r = SparkEntry.queries("text_dedup_funnel")(spark, sf).collect()(0)
    val (nDocs, nUniq, nPairs, nMulti, nInMulti, nAfter) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
    assert(nDocs === Tables.documents(spark, sf).count())
    assert(nUniq ===
      SparkEntry.queries("text_normalize_dedup_exact")(spark, sf).count(),
      "exact-unique stage must equal the exact-dedup query's survivors")
    assert(nPairs === SparkEntry.queries("text_minhash_lsh")(spark, sf).count(),
      "candidate stage must equal the LSH pair query")
    assert(nAfter ===
      SparkEntry.queries("text_dedup_cluster_survivor")(spark, sf).count(),
      "final stage must equal the cluster-survivor query")
    // funnel arithmetic: clusters absorb docs; survivors release one each
    assert(nAfter === nDocs - nInMulti + nMulti, "cluster mass balance")
    assert(nUniq <= nDocs && nAfter <= nDocs && nMulti <= nInMulti)
    assert(nMulti === 0L || nInMulti >= 2 * nMulti, "multi clusters have >= 2 docs")
  }

  test("text_dedup_by_source reconciles against the global funnel and corpus") {
    // the per-source grain must roll up exactly to the global report:
    // docs sum to the corpus; near-dup members sum to the funnel's
    // docs-in-multi-clusters (pairs are blocked within source, so every
    // pair member belongs to exactly one source, and pair-membership ==
    // multi-cluster membership by CC construction)
    val rows = SparkEntry.queries("text_dedup_by_source")(spark, sf).collect()
    val funnel = SparkEntry.queries("text_dedup_funnel")(spark, sf).collect()(0)
    assert(rows.map(_.getLong(1)).sum === Tables.documents(spark, sf).count(),
      "per-source docs must sum to the corpus")
    assert(rows.map(_.getLong(4)).sum === funnel.getLong(4),
      "per-source near-dup members must sum to the funnel's docs-in-multi")
    rows.foreach { r =>
      assert(r.getLong(2) <= r.getLong(1), "unique <= docs per source")
      assert(r.getLong(3) === r.getLong(1) - r.getLong(2))
      assert(r.getLong(4) <= r.getLong(1), "near-dup members <= docs per source")
    }
  }

  test("observe piggybacks DQ metrics on the landing pass (no second scan)") {
    // The 100 TB DQ pattern: df.observe attaches aggregate metrics to the
    // SAME physical pass that lands the data — rule counts arrive with the
    // write, instead of dq_checks' separate (if single-scan) query. The
    // numbers must agree with the standalone dq_checks rules.
    val obs = org.apache.spark.sql.Observation("dq_land")
    val li = Tables.lineitem(spark, sf)
    val expected = li.count()
    val out = java.nio.file.Files.createTempDirectory("graft_observe").toString
    li.observe(obs,
        count(lit(1)).as("rows"),
        count(when(col("l_orderkey").isNull, 1)).as("null_key"),
        count(when(col("l_extendedprice") <= 0, 1)).as("neg_price"))
      .write.mode("overwrite").parquet(out)
    val m = obs.get
    assert(m("rows") === expected)
    assert(m("null_key") === 0L)
    assert(m("neg_price") === 0L)
    // the landed data is complete — metrics did not alter the write
    assert(spark.read.parquet(out).count() === expected)
  }

  test("conform casts stringly columns; bad values become NULL (try_cast)") {
    val typed = Migrate.conform(staging, StructType(Seq(
      StructField("event_id", LongType), StructField("ts", TimestampType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType))))
    assert(typed.schema("event_id").dataType === LongType)
    assert(typed.where(col("event_id").isNull).count() === 1)
  }

  test("upsertMerge: incoming wins, survivors keep, inserts land, nulls overwrite") {
    import spark.implicits._
    val target = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("k", "name", "v")
    val incoming = Seq((2L, "B2", 99.0), (4L, "d", 40.0))
      .toDF("k", "name", "v")
      .unionByName(Seq((3L, null.asInstanceOf[String], 33.0)).toDF("k", "name", "v"))
    val merged = Migrate.upsertMerge(target, incoming, Seq("k"))
      .orderBy("k").collect()
    assert(merged.map(_.getLong(0)).toSeq === Seq(1L, 2L, 3L, 4L))
    assert(merged(0).getString(1) === "a", "unmatched target row survives")
    assert(merged(1).getString(1) === "B2" && merged(1).getDouble(2) === 99.0, "incoming wins")
    assert(merged(2).isNullAt(1), "incoming NULL overwrites, not coalesces")
    assert(merged(3).getDouble(2) === 40.0, "new key inserts")
  }

  test("compact rewrites a many-file directory into the target file count") {
    val dir = java.nio.file.Files.createTempDirectory("graft_compact").toString
    Tables.orders(spark, sf).repartition(16).write.mode("overwrite").parquet(dir)
    val before = new java.io.File(dir).listFiles().count(_.getName.endsWith(".parquet"))
    assert(before === 16)
    val out = graft.operators.Scale.compact(spark, dir, rowsPerFile = 1000)
    val after = new java.io.File(out).listFiles().count(_.getName.endsWith(".parquet"))
    assert(after === 2, s"1500 rows at 1000/file -> 2 files, got $after")
    assert(spark.read.parquet(out).count() === Tables.orders(spark, sf).count())
  }

  test("corpus assembly: one survivor per cluster, splits stable, quality maximal") {
    val corpus = graft.pipeline.Corpus.assemble(spark, sf).cache()
    val docs = Tables.documents(spark, sf)

    // exactly one survivor per cluster, and cluster sizes cover the corpus
    assert(corpus.groupBy("cluster_id").count().where(col("count") > 1).count() === 0)
    assert(corpus.agg(sum("cluster_size")).head.getLong(0) === docs.count(),
      "cluster sizes must partition the document set")

    // the survivor is its cluster's best: re-derive quality for all docs,
    // join through the declared clustering query, compare maxima
    val clusters = graft.SparkEntry.queries("dedup_cluster_cc")(spark, sf)
      .select(col("doc_id"), col("cluster_id"))
    val (_, _, _, _, _, score) = graft.queries.Text2Queries.qualityCols(col("text"))
    val best = docs.select(col("doc_id"), score.as("q"))
      .join(clusters, "doc_id")
      .groupBy("cluster_id")
      .agg(graft.queries.Qutil.r6(max("q")).as("maxq"))
    val mismatch = corpus.join(best, "cluster_id")
      .where(col("quality") < col("maxq")).count()
    assert(mismatch === 0, "every survivor carries its cluster's max quality")

    // split assignment matches the declared splitter (hash-stable)
    val expected = graft.queries.SampleQueries.splitCol(col("doc_id"))
    assert(corpus.where(col("split") =!= expected).count() === 0)
    assert(corpus.select("split").distinct().count() === 3)
    corpus.unpersist()
  }

  test("corpus assembly with semantic union: two generators feed one component step") {
    val docs = Tables.documents(spark, sf)
    val corpus = graft.pipeline.Corpus.assemble(spark, sf, semantic = true).cache()

    // still a partition of the corpus: every doc in exactly one cluster
    assert(corpus.groupBy("cluster_id").count().where(col("count") > 1).count() === 0)
    assert(corpus.agg(sum("cluster_size")).head.getLong(0) === docs.count())

    // the union graph can only COARSEN: fewer-or-equal clusters than the
    // text-only assembly (semantic edges merge, never split)
    val textOnly = graft.pipeline.Corpus.assemble(spark, sf).cache()
    assert(corpus.count() <= textOnly.count())

    // independent recompute of the survivor set: union the two DECLARED
    // (oracled) pair queries, cluster with the OTHER CC path
    // (localCap = 0: large-star/small-star rounds instead of the driver
    // union-find), pick survivors with a window argmax instead of the
    // min-struct aggregate — every component differs, the result may not.
    val textPairs = SparkEntry.queries("text_minhash_lsh")(spark, sf)
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
    val embPairs = SparkEntry.queries("dedup_embed_lsh")(spark, sf)
      .select(col("vec_a").as("src"), col("vec_b").as("dst"))
    val cc = graft.operators.Scale.connectedComponents(
      docs.select(col("doc_id").as("id")), textPairs.union(embPairs), localCap = 0)
    val (_, _, _, _, _, score) = graft.queries.Text2Queries.qualityCols(col("text"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("cluster").orderBy(col("q").desc, col("id"))
    val expected = cc
      .join(docs.select(col("doc_id").as("id"), score.as("q")), "id")
      .withColumn("rn", row_number().over(w)).where(col("rn") === 1)
      .select(col("cluster"), col("id")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toSet
    val got = corpus.select(col("cluster_id"), col("doc_id")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toSet
    assert(got === expected,
      "semantic-union survivors must match the independent recompute " +
        s"(star CC + window argmax); diff: ${got.diff(expected).take(5)} / ${expected.diff(got).take(5)}")
    corpus.unpersist(); textOnly.unpersist()
  }

  test("full pipeline: DQ quarantines dirty rows, dedup compacts, SCD2 chains validity") {
    val out = java.nio.file.Files.createTempDirectory("graft_migrate").toString
    val (landed, report) = Migrate.runEventsPipeline(spark, staging, out)

    val rep = report.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rep("null_key") === 1L, "the non-castable event_id row")
    assert(rep("bad_type") === 2L, "the unknown-type row AND the NULL-type row")

    // last-write-wins: one open (valid_to IS NULL) row per (user, type)
    val open = landed.where(col("valid_to").isNull)
    assert(open.groupBy("user_id", "event_type").count()
      .where(col("count") > 1).count() === 0)

    // partition layout exists (land_date directories)
    val dirs = new java.io.File(out).listFiles().filter(_.isDirectory)
      .map(_.getName).filter(_.startsWith("land_date="))
    assert(dirs.nonEmpty)

    // validity chains: valid_from < valid_to wherever closed
    assert(landed.where(col("valid_to").isNotNull &&
      col("valid_from") >= col("valid_to")).count() === 0)
  }

  test("text_dedup_incremental reconciles exactly with the full-batch pair set") {
    // the one-bucket-definition proof: because the incremental query and
    // text_minhash_lsh read the SAME minhashBuckets frame, a delta doc's
    // verdict must be derivable from the full-batch pairs — for a delta
    // doc x, its earlier partners are exactly {a : (a, x) ∈ pairs}
    // (doc_a < doc_b always), split base/prior-delta by the watermark.
    val ids = Tables.documents(spark, sf).select("doc_id").collect().map(_.getLong(0))
    val (mn, mx) = (ids.min, ids.max)
    val wm = mn + ((mx - mn) * 4) / 5
    val pairs = SparkEntry.queries("text_minhash_lsh")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val byDelta = pairs.filter(_._2 > wm).groupBy(_._2)
    val rows = SparkEntry.queries("text_dedup_incremental")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getBoolean(4)))
    assert(rows.map(_._1).toSet === ids.filter(_ > wm).toSet,
      "one verdict row per delta doc")
    rows.foreach { case (x, nb, npd, keep) =>
      val partners = byDelta.getOrElse(x, Array.empty).map(_._1)
      assert(nb === partners.count(_ <= wm).toLong, s"doc $x base matches")
      assert(npd === partners.count(_ > wm).toLong, s"doc $x prior-delta matches")
      assert(keep === partners.isEmpty, s"doc $x verdict")
    }
    // the fixture delta must exercise both outcomes at sf0.01+ (sf0.001
    // has no near-dups in the top fifth — all-keep is the assertion there)
    assert(rows.nonEmpty && rows.exists(_._4), "some delta doc must keep")
  }

  test("dedup_cluster_incremental equals dedup_cluster_cc row-for-row") {
    // r10: both queries oracle against the SAME full-rescan closure, but
    // the DuckDB oracle only runs in driver rounds — this same-JVM pin
    // catches contraction-path drift in every sbt test run. ScaleSpec
    // proves the theorem on adversarial random graphs; this proves the
    // WIRING (watermark split, star-edge stages, expansion) on the
    // fixture.
    val full = SparkEntry.queries("dedup_cluster_cc")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val inc = SparkEntry.queries("dedup_cluster_incremental")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(inc === full, "incremental contraction must equal the full recompute")
  }
}
