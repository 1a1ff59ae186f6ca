package graft.tools

import graft.{SparkEntry, Tables}
import graft.operators.Scale
import graft.queries.{SimQueries, TextQueries}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Targeted timing for optimization work (r15): the SAME methodology as
  * `graft.Bench` in REPS mode (noop sink end-to-end, the Harness session,
  * median of reps 2..N so cold-codegen rep 1 never pollutes the number)
  * on a NAMED SUBSET, so a single change's before/after can be measured
  * in minutes instead of a full-catalog run. A name is a declared query
  * or one of the internal `stages` below.
  *
  *   SPARK_GRAFT_SF_DIR=... sbt 'runMain graft.tools.TimeQ <reps> [name ...]'
  *
  * With no names, times every stage. Prints one
  * `[timeq] name: rep1 rep2 ... -> median(2..N)` line per name.
  * Not a driver surface — Bench stays the contract bench. */
object TimeQ {
  /** The SHARED internal frames of the dedup family (minhash signatures,
    * buckets, pair generators, star edges, CC, embedding band machinery),
    * so "where do the seconds of a 5 s dedup query actually go" is a
    * measurement instead of a guess (guide §1: measure first). */
  val stages: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "docs_scan" -> ((s, d) => Tables.documents(s, d)),
    "minhash_sigs" -> ((s, d) => TextQueries.minhashSigs(Tables.documents(s, d))),
    "minhash_buckets" -> ((s, d) => TextQueries.minhashBuckets(Tables.documents(s, d))),
    "minhash_pairs" -> ((s, d) => TextQueries.minhashPairs(s, d)),
    "minhash_star_edges" -> ((s, d) => TextQueries.minhashStarEdges(s, d)),
    "cc_over_star" -> ((s, d) => {
      val (nodes, edges) = starGraph(s, d)
      Scale.connectedComponents(nodes, edges)
    }),
    // the distributed rounds on the same graph, kept measurable below the cap
    "cc_over_star_dist" -> ((s, d) => {
      val (nodes, edges) = starGraph(s, d)
      Scale.connectedComponents(nodes, edges, localCap = 0)
    }),
    "embed_band_pairs" -> ((s, d) => SimQueries.embedBandPairs(s, d)))

  private def starGraph(s: SparkSession, d: String): (DataFrame, DataFrame) =
    (Tables.documents(s, d).select(col("doc_id").as("id")),
      TextQueries.minhashStarEdges(s, d).select(col("doc_a").as("src"), col("doc_b").as("dst")))

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: TimeQ <reps> [name ...]")
    val reps = args(0).toInt.max(2)
    val queries = SparkEntry.queries
    val named = stages.toMap
    val run = if (args.length == 1) stages
      else args.toSeq.drop(1).map(n => n -> queries.getOrElse(n, named(n)))
    val sfDir = Harness.envSfDir
    val spark = Harness.session()
    Harness.warmUp(spark, sfDir, "timeq")
    run.foreach { case (name, fn) =>
      val ts = Harness.reps(spark, reps)(Harness.exec("timeq", name, fn(spark, sfDir)))
      println(f"[timeq] $name: ${ts.map(t => f"$t%.2f").mkString(" ")} -> ${Harness.median(ts)}%.3f")
    }
    spark.stop()
  }
}
