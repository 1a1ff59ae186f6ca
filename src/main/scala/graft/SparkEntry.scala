package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` carries one entry per implemented operator from SURVEY.md §2;
  * `oracleSql` carries the equivalent DuckDB SQL for every hash-checkable
  * query (approximate ops — agg_distinct_approx, text_minhash_lsh — are
  * declared without an oracle and bounded by unit tests instead). */
object SparkEntry {

  private val categories = Seq(
    ScanQueries.queries, FilterQueries.queries, JoinQueries.queries,
    AggQueries.queries, WindowQueries.queries, SortSetQueries.queries,
    FnQueries.queries, TemporalQueries.queries, CdcQueries.queries,
    TextQueries.queries, Text2Queries.queries, SimQueries.queries,
    SampleQueries.queries, KmeansQueries.queries, GraphQueries.queries,
    RankQueries.queries, MmQueries.queries, StreamQueries.queries)

  private val oracles = Seq(
    ScanQueries.oracle, FilterQueries.oracle, JoinQueries.oracle,
    AggQueries.oracle, WindowQueries.oracle, SortSetQueries.oracle,
    FnQueries.oracle, TemporalQueries.oracle, CdcQueries.oracle,
    TextQueries.oracle, Text2Queries.oracle, SimQueries.oracle,
    SampleQueries.oracle, KmeansQueries.oracle, GraphQueries.oracle,
    RankQueries.oracle, MmQueries.oracle, StreamQueries.oracle)

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    AggQueries.queries("agg_pricing_summary")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. Duplicate keys
    * across category maps would silently shadow under `++` (one query
    * vanishes from the catalog with every gate still green) — fail loudly
    * instead. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = {
    val keys = categories.flatMap(_.keys)
    val dups = keys.groupBy(identity).collect { case (k, vs) if vs.size > 1 => k }
    require(dups.isEmpty, s"duplicate query keys across category maps: $dups")
    categories.reduce(_ ++ _)
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    oracles.reduce(_ ++ _)
}
