package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions.col

/** Streaming deterministic sample reservoir — the incremental twin of
  * the batch salted-hash samplers (sample_interleave's per-source
  * bottom-k rank): per source, keep the k documents with the SMALLEST
  * (reservoirKey hash, doc_id) pairs seen so far. Unlike a classic
  * random reservoir (order-dependent by construction), the bottom-k-by-
  * hash reservoir is a pure min-k fold — COMMUTATIVE and idempotent per
  * element — so ANY batching or arrival order lands the identical
  * sample, and the stream's final snapshot equals the batch recompute
  * over the same rows (StreamingSpec feeds REVERSED uneven batches and
  * a duplicate replay to pin both properties).
  *
  * The hash column is computed UPSTREAM by the shared
  * SampleQueries.reservoirKey expression (one definition — the
  * processor never re-derives it), so the stream sample and any batch
  * selection keyed on the same salt agree doc-for-doc.
  *
  * Scale posture: state is <= k (hash, id) pairs per source key —
  * bounded by key-space x k, never by stream length; emission after
  * each batch is the <= k-row snapshot tagged with the running n_seen,
  * so an append-sink consumer keeps the max-n rows per source (the
  * HeavyHitterProcessor snapshot contract). */
object ReservoirProcessor {
  case class In(source: String, doc_id: Long, h: Long)
  private[streaming] case class Entry(h: Long, doc_id: Long)
  private[streaming] case class Res(items: Seq[Entry], n: Long)

  /** One reservoir snapshot row; n_seen strictly grows per emission, so
    * the max-n rows per source in an append sink are the current
    * sample. */
  case class Out(source: String, doc_id: Long, h: Long, n_seen: Long)

  private[streaming] def fold(k: Int)(key: String, prior: Option[Res],
      rows: Iterator[In]): (Option[Res], Iterator[Out]) = {
    val prev: Res = prior.getOrElse(Res(Seq.empty, 0L))
    var nSeen = prev.n
    val incoming = rows.map { r => nSeen += 1; Entry(r.h, r.doc_id) }.toSeq
    // min-k fold: distinct guards replay idempotence (a re-delivered
    // doc_id carries the same hash, so it can never displace anything)
    val kept = (prev.items ++ incoming).distinct
      .sortBy(e => (e.h, e.doc_id)).take(k)
    (Some(Res(kept, nSeen)), kept.iterator.map(e => Out(key, e.doc_id, e.h, nSeen)))
  }

  /** Incremental per-source deterministic sample over a document
    * stream; the order key is the SHARED reservoirKey salted hash. */
  def reservoirStream(docs: DataFrame, k: Int): Dataset[Out] = {
    import docs.sparkSession.implicits._
    FoldProcessor.run(
      docs.select(col("source"), col("doc_id"),
          graft.queries.SampleQueries.reservoirKey(col("doc_id")).as("h"))
        .as[In]
        .groupByKey(_.source),
      "res", Encoders.product[Res])(fold(k))
  }
}
