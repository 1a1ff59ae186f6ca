package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions.col

/** Streaming token-budget admission — the streaming face of the batch
  * sample_token_budget query: docs land incrementally (the Airflow-tick
  * shape) and each SOURCE admits docs until its token budget is spent.
  * State is ONE long per source (tokens spent so far) — constant-size per
  * key, hash-partitioned with the key space like any keyed aggregation.
  *
  * Determinism contract: WITHIN a micro-batch, admission follows the same
  * salted-hash order the batch query sorts by (SampleQueries
  * .budgetOrderKey, stamped by the same shared expression), so a stream
  * delivered in hash order — any batching — reproduces the batch
  * selection exactly, emitted cum_before values included (StreamingSpec).
  * ACROSS differently-ordered deliveries the admitted SET differs (budget
  * admission is inherently order-dependent — first arrivals win); that is
  * the real semantics of incremental quota filling, stated rather than
  * hidden. Unlike first-seen dedup, budget state is NOT replay-idempotent:
  * re-delivering an admitted doc double-spends its tokens, so this stage
  * requires exactly-once upstream delivery (or the dedup processor in
  * front of it). */
object BudgetProcessor {
  /** Candidate doc: id, source, token count, salted order key. */
  case class Doc(doc_id: Long, source: String, n_tok: Int, hk: Long)
  /** Admitted doc with the tokens its source had spent before it —
    * identical columns to the batch query's output. */
  case class Admit(doc_id: Long, source: String, n_tok: Int, cum_before: Long)

  val budget: Long = graft.queries.SampleQueries.tokenBudget

  private[streaming] def fold(key: String, spent: Option[Long],
      rows: Iterator[Doc]): (Option[Long], Iterator[Admit]) = {
    var s = spent.getOrElse(0L)
    val admitted = Seq.newBuilder[Admit]
    // batch-parity order INSIDE the micro-batch: (order key, doc_id)
    rows.toSeq.sortBy(d => (d.hk, d.doc_id)).foreach { d =>
      if (s < budget) {
        admitted += Admit(d.doc_id, d.source, d.n_tok, s)
        s += d.n_tok
      }
    }
    (Some(s), admitted.result().iterator)
  }

  /** Stamp the shared token count + order key onto a (doc_id, source,
    * text) frame — batch or readStream (row-local expressions). */
  def withBudgetCols(docs: DataFrame): Dataset[Doc] = {
    import docs.sparkSession.implicits._
    docs.select(col("doc_id"), col("source"),
      graft.queries.SampleQueries.tokenCount(col("text")).as("n_tok"),
      graft.queries.SampleQueries.budgetOrderKey(col("doc_id")).as("hk")).as[Doc]
  }

  /** Incremental per-source budget admission over a doc stream. */
  def admitStream(docs: DataFrame): Dataset[Admit] = {
    import docs.sparkSession.implicits._
    FoldProcessor.run(withBudgetCols(docs).groupByKey(_.source),
      "spent", Encoders.scalaLong)(fold)
  }
}
