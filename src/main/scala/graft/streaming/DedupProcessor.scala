package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions.col

/** Streaming incremental EXACT dedup — the streaming face of the batch
  * text_normalize_dedup_exact query (r4 verdict ask #2): keyed by the
  * normalized content hash (TextQueries.contentHash, the one shared
  * definition), a doc is emitted iff its content hash has never been seen
  * across any earlier micro-batch. Replay-safe: re-delivering a batch
  * re-finds every hash in state and emits nothing new.
  *
  * Scale posture: state is one boolean per DISTINCT content hash,
  * hash-partitioned by the grouping key like any keyed aggregation — the
  * exact-dedup shape at any corpus size (the state store shards with the
  * key space; RocksDB spills it off-heap). Survivor semantics: FIRST SEEN
  * wins — equal to the batch query's min-doc_id winner whenever arrival
  * order is id-ascending (the land-time incremental case); within a single
  * micro-batch the smallest doc_id wins, so one batch containing a whole
  * replay reproduces the batch result exactly (StreamingSpec proves both).
  */
object DedupProcessor {
  /** One surviving (or candidate) doc: id, language, normalized content
    * hash — the same three columns the batch dedup query emits. */
  case class Doc(doc_id: Long, lang: String, h: String)

  private[streaming] def fold(key: String, seen: Option[Boolean],
      rows: Iterator[Doc]): (Option[Boolean], Iterator[Doc]) =
    if (seen.isDefined) (None, Iterator.empty)
    else {
      // first appearance of this content hash: keep the smallest doc_id in
      // the delivering micro-batch (batch-parity tie-break), mark seen
      (Some(true), Iterator.single(rows.minBy(_.doc_id)))
    }

  /** Stamp the shared normalized content hash onto a (doc_id, lang, text)
    * frame — batch or readStream; the expression is row-local so the same
    * dialect runs on both. */
  def withContentHash(docs: DataFrame): Dataset[Doc] = {
    import docs.sparkSession.implicits._
    docs.select(col("doc_id"), col("lang"),
      graft.queries.TextQueries.contentHash(col("text")).as("h")).as[Doc]
  }

  /** Incremental first-seen dedup over an unbounded (or replayed) doc
    * stream. Works identically on a bounded batch Dataset. */
  def dedupStream(docs: DataFrame): Dataset[Doc] = {
    import docs.sparkSession.implicits._
    FoldProcessor.run(withContentHash(docs).groupByKey(_.h),
      "seen", Encoders.scalaBoolean)(fold)
  }
}
