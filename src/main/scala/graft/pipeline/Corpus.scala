package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.queries.{SampleQueries, SimQueries, TextQueries}

/** The B-mandate twin of Migrate.runEventsPipeline: corpus ASSEMBLY, the
  * job an LLM-training-data pipeline runs over a landed document crawl —
  * composed entirely from the declared operators, so every stage's
  * semantics are already oracle-checked in isolation:
  *
  *   near-dup candidate edges  (TextQueries.minhashStarEdges — banded LSH
  *                              star reduction, linear in bucket size)
  *     -> components           (Scale.connectedComponents — the dedup unit)
  *     -> one survivor/cluster (best shared-quality score, min-struct
  *                              argmax aggregate)
  *     -> split assignment     (SampleQueries.splitCol — hash-stable
  *                              80/10/10, leakage-safe under rebuilds)
  *
  * Scale posture: pair generation and clustering are the only multi-pass
  * stages (bounded by the LSH bucket joins and O(log n) CC rounds); survivor
  * selection is one aggregate; split assignment is map-side. A dedup
  * graph within Scale.connectedComponents' localCap (2^18 mirrored edge
  * rows) is clustered on the driver in zero rounds; a corpus-scale graph
  * exceeds the cap and runs the large-star/small-star rounds. The output
  * is the training corpus manifest: survivors only, each with its
  * cluster id, quality score and split. */
object Corpus {

  /** Assemble the dedup'd, split-assigned corpus manifest from the
    * documents table at `sfDir`. One row per SURVIVING doc. Cluster +
    * survivor selection is TextQueries.clusterSurvivors — the same
    * definition the declared (oracled) query runs.
    *
    * `semantic = true` unions a SECOND candidate source into the dedup
    * graph: the banded embedding pairs (SimQueries.embedBandPairs, the
    * oracled dedup_embed_lsh generator), reading vec_id as the embedded
    * doc's id — the fixture's embeddings cover the id-dense prefix of the
    * corpus, the production shape being an embedding column per doc. A doc
    * pair then dedups if it is a TEXTUAL near-dup (shared MinHash band) OR
    * a SEMANTIC one (shared hyperplane band + cosine >= 0.35); both
    * generators are bucketed equality joins, and the union feeds the SAME
    * component/survivor step — the generator-agnostic clustering contract
    * PipelineSpec proves against an independent recompute. */
  def assemble(spark: SparkSession, sfDir: String,
      semantic: Boolean = false): DataFrame = {
    // star-edge reduction (r10): connectivity-only consumer, so the
    // minhash half feeds Σ|b| star edges, not Σ|b|²/2 pairs — identical
    // components (minhashStarEdges scaladoc). The embed half keeps its
    // pair emission: the exact-cosine re-check is per-edge, star
    // transitivity does not hold there.
    val textPairs = TextQueries.minhashStarEdges(spark, sfDir)
    val pairGraph = if (!semantic) textPairs else textPairs.union(
      SimQueries.embedBandPairs(spark, sfDir)
        .select(col("a_id").as("doc_a"), col("b_id").as("doc_b")))
    val survivors = TextQueries.clusterSurvivorsOver(spark, sfDir, pairGraph)
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"), col("lang"))
    survivors.join(docs, "doc_id")
      .withColumn("split", SampleQueries.splitCol(col("doc_id")))
      .select(col("doc_id"), col("source"), col("lang"), col("cluster_id"),
        col("csize").as("cluster_size"),
        graft.queries.Qutil.r6(col("quality")).as("quality"),
        col("split"))
  }
}
