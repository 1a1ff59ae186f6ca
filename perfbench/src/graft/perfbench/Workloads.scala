package graft.perfbench

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.{SparkEntry, Tables}
import graft.operators.Scale
import graft.pipeline.{Corpus, Migrate}
import graft.queries._
import graft.tools.Golden

/** One timed unit of work. `run` does the op and returns the work units
  * done; `check` verifies the op's output after the op's timing window
  * closed and throws on a mismatch. */
final case class Op(name: String, group: String, run: () => Double,
    check: () => Unit)

/** A workload is a fixed list of ops, replayed as cycles. `cycle(pass)` is
  * one corpus pass or one epoch of ticks. */
trait Workload {
  /** Cycles run before timing starts, enough for op times to level off. */
  def warmup: Int
  /** About how long one timed cycle takes on a 4-vCPU guest at the commit
    * that defined the benchmark. Sizes the timed phase: `--seconds s` times
    * round(s / cycleSeconds) cycles, at least one, so the timed ops are a
    * fixed list whatever the speed of the program. */
  def cycleSeconds: Double
  /** What one unit of `Op.run`'s result counts, for the throughput unit. */
  def units: String
  def cycle(pass: Int): Seq[Op]
  /** Layer times of the traced run that the ops cannot show on their own. */
  def probes(p: Probe): Map[String, Double] = Map.empty
}

object Workload {
  def noop(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}
import Workload.{median, noop}

/** Catalog queries, one op each, on the fixed catalog tables: the catalog
  * layers' probe in the traced run of `migrate_ticks`. The list names a
  * query of every category object, among them one multi-batch streaming
  * query; the seed shuffles the order of every pass. */
final class Catalog(spark: SparkSession, dir: String, seed: Long,
    recorded: Map[String, String]) {
  // one query per category object: the cheapest at sf0.01, where the
  // catalog is bound by fixed cost anyway, and for StreamQueries the
  // multi-batch streaming query
  val list: Seq[String] = Seq(
    "source_json_infer", "project_case_when", "join_semi", "agg_having",
    "win_topk_per_group", "topk_global", "fn_pii_mask", "ts_esd_outliers",
    "dq_row_hash", "text_stats", "text_zipf_slope", "sim_search_topk",
    "split_train_test", "sim_search_mrl", "graph_degree_hist", "text_bm25",
    "mm_frame_sample", "stream_dedup_multibatch")

  private val fns = SparkEntry.queries
  private val category: Map[String, String] = Catalog.categories.flatMap {
    case (c, qs) => qs.map(_ -> c)
  }.toMap
  require(list.forall(q => fns.contains(q) && category.contains(q)),
    s"unknown catalog queries: ${list.filterNot(fns.contains)}")
  require(Catalog.categories.forall(c => list.exists(category(_) == c._1)),
    "the query list must name a query of every category")

  /** Digest of each query's checked evaluation. */
  val seen = scala.collection.mutable.LinkedHashMap[String, String]()

  def pass(n: Int): Seq[Op] =
    new scala.util.Random(seed * 1000003L + n).shuffle(list).map { q =>
      var df: DataFrame = null
      Op(q, category(q), () => { df = fns(q)(spark, dir); noop(df); 1.0 }, () => {
        val d = Golden.digest(df)
        seen(q) = d
        require(recorded.isEmpty || recorded.get(q).contains(d),
          s"$q: digest $d differs from the recorded ${recorded.get(q)}")
      })
    }
}

object Catalog {
  val categories: Seq[(String, Iterable[String])] = Seq(
    "ScanQueries" -> ScanQueries.queries.keys,
    "FilterQueries" -> FilterQueries.queries.keys,
    "JoinQueries" -> JoinQueries.queries.keys,
    "AggQueries" -> AggQueries.queries.keys,
    "WindowQueries" -> WindowQueries.queries.keys,
    "SortSetQueries" -> SortSetQueries.queries.keys,
    "FnQueries" -> FnQueries.queries.keys,
    "TemporalQueries" -> TemporalQueries.queries.keys,
    "CdcQueries" -> CdcQueries.queries.keys,
    "TextQueries" -> TextQueries.queries.keys,
    "Text2Queries" -> Text2Queries.queries.keys,
    "SimQueries" -> SimQueries.queries.keys,
    "SampleQueries" -> SampleQueries.queries.keys,
    "KmeansQueries" -> KmeansQueries.queries.keys,
    "GraphQueries" -> GraphQueries.queries.keys,
    "RankQueries" -> RankQueries.queries.keys,
    "MmQueries" -> MmQueries.queries.keys,
    "StreamQueries" -> StreamQueries.queries.keys)
}

/** One `Corpus.assemble(semantic = true)` pass per op over the generated
  * crawl. The op collects the survivors (one row per cluster) rather than
  * writing them to the noop sink, so that the check needs no second
  * evaluation of the pass. */
final class CorpusDedup(spark: SparkSession, dir: String) extends Workload {
  val warmup = 3
  val cycleSeconds = 3.3
  val units = "docs"
  private val docs = Tables.documents(spark, dir).count()
  private var digest: String = null

  def cycle(pass: Int): Seq[Op] = {
    var out: DataFrame = null
    var rows: Seq[Row] = null
    Seq(Op("assemble", "Corpus", () => {
      out = Corpus.assemble(spark, dir, semantic = true)
      rows = out.collect().toSeq
      docs.toDouble
    }, () => {
      val covered = rows.map(_.getAs[Long]("cluster_size")).sum
      require(covered == docs, s"clusters cover $covered docs, the corpus has $docs")
      require(rows.map(_.getAs[Long]("cluster_id")).distinct.size == rows.size &&
        rows.map(_.getAs[Long]("doc_id")).distinct.size == rows.size,
        "a cluster has more than one survivor")
      val sorted = rows.sortBy(_.getAs[Long]("cluster_id"))
      val d = Golden.digest(spark.createDataFrame(sorted.asJava, out.schema))
      if (digest == null) digest = d
      require(d == digest, "survivors changed between passes")
    }))
  }

  /** Each prefix of the pass, forced to the noop sink; a stage's time is
    * the difference between its prefix and the one before. */
  override def probes(p: Probe): Map[String, Double] = {
    val runs = (0 until 3).map { _ =>
      val docsDf = Tables.documents(spark, dir)
      val sigs = p.time("minhash_sigs")(noop(TextQueries.minhashSigs(docsDf)))
      val star = p.time("star_edges")(noop(TextQueries.minhashStarEdges(spark, dir)))
      val embed = p.time("embed_pairs")(noop(SimQueries.embedBandPairs(spark, dir)))
      val pairs = Scale.materialize(TextQueries.minhashStarEdges(spark, dir).union(
        SimQueries.embedBandPairs(spark, dir)
          .select(col("a_id").as("doc_a"), col("b_id").as("doc_b"))))
      val edges = pairs.count()
      val cc = p.time("connected_components")(noop(Scale.connectedComponents(
        docsDf.select(col("doc_id").as("id")),
        pairs.select(col("doc_a").as("src"), col("doc_b").as("dst")))))
      val surv = p.time("cluster_survivors")(
        noop(TextQueries.clusterSurvivorsOver(spark, dir, pairs)))
      Map("functions.minhash_sigs_s" -> sigs.s,
        "queries.star_edges_s" -> (star.s - sigs.s),
        "queries.embed_pairs_s" -> embed.s,
        "queries.pair_yield" -> edges.toDouble / docs,
        "operators.cc_s" -> cc.s, "operators.cc_jobs" -> cc.jobs.toDouble,
        "pipeline.survivors_s" -> (surv.s - cc.s))
    }
    runs.head.keys.map(k => k -> median(runs.map(_(k)))).toMap
  }
}

/** One Airflow-style tick of the migration per op: read a stringly CDC
  * extract, conform, DQ gate, dedupLatest, upsertMerge into the current
  * target, land the new target and read it back. A cycle is an epoch of
  * ticks that starts again from the base target, so every epoch does the
  * same work. */
final class MigrateTicks(spark: SparkSession, dir: String, work: String)
    extends Workload {
  val warmup = 2
  val cycleSeconds = 5.0
  val units = "staged rows"

  private val types = Seq("click", "error", "purchase", "signup", "view")
  private val schema = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType)))
  private val cols = schema.fieldNames.toSeq
  private val rules = Seq(
    "null_key" -> col("event_id").isNotNull,
    "null_ts" -> col("ts").isNotNull,
    "bad_type" -> col("event_type").isin(types: _*))

  private val manifest = Files.readString(Paths.get(s"$dir/manifest.json"))
  private def perTick(key: String): Seq[Long] =
    s""""$key":\\s*\\[([0-9,\\s]*)\\]""".r.findFirstMatchIn(manifest).get.group(1)
      .split(",").map(_.trim.toLong).toSeq
  private val dirty = perTick("dirty")
  private val staged = perTick("staged")
  private val ticks = dirty.size
  private def tickPath(t: Int) = s"$dir/tick$t.parquet"
  private val basePath = s"$work/target-base"
  Migrate.land(Migrate.conform(spark.read.parquet(s"$dir/base.parquet"), schema),
    basePath, "event_type")
  private var current = basePath
  // every epoch replays the same ticks from the base, so the target after
  // the last tick is checked once, in the first checked epoch
  private var targetChecked = false

  /** The tick's pipeline up to the merged target, plus its quarantine. */
  private def stages(t: Int) = {
    val (clean, quarantined, _) =
      Migrate.dqGate(Migrate.conform(spark.read.parquet(tickPath(t)), schema), rules)
    val latest = Migrate.dedupLatest(clean, Seq("event_id"), "ts", "value")
    val merged = Migrate.upsertMerge(spark.read.parquet(current), latest, Seq("event_id"))
    (clean, latest, merged, quarantined)
  }

  private def landTick(t: Int, merged: DataFrame): String = {
    val out = s"$work/target-${t % 2}"
    Migrate.land(merged, out, "event_type")
    current = out
    out
  }

  def cycle(pass: Int): Seq[Op] = (0 until ticks).map { t =>
    var quarantined: DataFrame = null
    Op(s"tick$t", "Migrate", () => {
      if (t == 0) current = basePath
      val (_, _, merged, q) = stages(t)
      quarantined = q
      spark.read.parquet(landTick(t, merged)).count()
      staged(t).toDouble
    }, () => {
      val n = quarantined.count()
      require(n == dirty(t), s"tick $t quarantined $n rows, ${dirty(t)} were dirty")
      if (t == ticks - 1 && !targetChecked) { checkTarget(); targetChecked = true }
    })
  }

  /** The landed target must equal last-write-wins over the clean rows of
    * the base and every tick, recomputed here without the pipeline: the
    * latest tick wins, then the latest ts within it. Compared by row count,
    * key count and an xor of row hashes. */
  private def checkTarget(): Unit = {
    val base = spark.read.parquet(s"$dir/base.parquet")
      .withColumn("ts", col("ts").cast(TimestampType)).withColumn("tick", lit(-1))
    val rows = (0 until ticks).map { t =>
      spark.read.parquet(tickPath(t)).selectExpr(
        "try_cast(event_id AS BIGINT) AS event_id", "try_cast(ts AS TIMESTAMP) AS ts",
        "try_cast(user_id AS BIGINT) AS user_id", "event_type",
        "try_cast(value AS DOUBLE) AS value")
        .where(col("event_id").isNotNull && col("ts").isNotNull &&
          col("event_type").isin(types: _*))
        .withColumn("tick", lit(t))
    }.foldLeft(base)(_ unionByName _)
    val expected = rows.groupBy("event_id")
      .agg(max_by(struct(cols.map(col): _*), struct(col("tick"), col("ts"))).as("r"))
      .select(cols.map(c => col(s"r.$c")): _*)
    val got = spark.read.parquet(current).select(cols.map(col): _*)
    // row count, key count and an order-free checksum of the rows; with
    // one row per key on both sides no two rows can cancel in the xor
    def summary(df: DataFrame) = df.agg(count(lit(1)), countDistinct("event_id"),
      bit_xor(xxhash64(cols.map(col): _*))).head().toSeq
    val (want, have) = (summary(expected), summary(got))
    require(want == have, s"target (rows, keys, checksum) $have, recompute $want")
  }

  /** One epoch with every tick split into prefixes forced to the noop sink;
    * a stage's time is the difference between its prefix and the one before. */
  override def probes(p: Probe): Map[String, Double] = {
    current = basePath
    var conformDq, dedup, upsert, land, quarantined, stagedBytes, landedBytes = 0.0
    for (t <- 0 until ticks) {
      val (clean, latest, merged, q) = stages(t)
      val a = p.time("conform_dq")(noop(clean)).s
      val b = p.time("dedup")(noop(latest)).s
      val c = p.time("upsert")(noop(merged)).s
      var out = ""
      val d = p.time("land") { out = landTick(t, merged) }.s
      conformDq += a; dedup += b - a; upsert += c - b; land += d - c
      quarantined += q.count()
      stagedBytes += Files.size(Paths.get(tickPath(t)))
      landedBytes += Probe.bytes(out)
    }
    Map("pipeline.conform_dq_s" -> conformDq / ticks, "pipeline.dedup_s" -> dedup / ticks,
      "pipeline.upsert_s" -> upsert / ticks, "pipeline.land_s" -> land / ticks,
      "pipeline.quarantine_ratio" -> quarantined / staged.sum,
      "pipeline.write_amp" -> landedBytes / stagedBytes)
  }
}
