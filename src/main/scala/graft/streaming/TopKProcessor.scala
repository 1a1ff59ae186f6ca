package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions.col

/** Streaming per-group top-k — the incremental twin of the DECLARED
  * win_topk_per_group (top-3 customers per nation by (c_acctbal DESC,
  * c_custkey ASC)): per nation, keep the k best (acctbal, custkey)
  * rows seen so far. A bounded top-k under a TOTAL order is a pure
  * max-k fold — COMMUTATIVE, and the KEPT SET is idempotent under
  * replay: rows are deduped per custkey keeping the max (bal, name)
  * record ever seen. Note this is a MAX-EVER fold, not latest-wins
  * upsert: a re-delivered row with a LOWER updated balance is
  * intentionally absorbed (state retains the highest version) —
  * latest-wins would break any-order replay parity, which is the
  * contract the spec pins. n_seen is NOT idempotent by design — it
  * counts PROCESSED rows (replays included), an at-least-once
  * delivery audit, not a distinct-row count. This is the
  * ReservoirProcessor contract with the order key flipped from
  * bottom-k-by-hash to top-k-by-value. StreamingSpec feeds REVERSED
  * uneven batches plus a full replay and pins the resolved snapshot
  * EQUAL to the batch window query row-for-row (same JVM, so the
  * double order key compares identically on both paths).
  *
  * Scale posture: state is <= k rows per group key — bounded by
  * key-space x k, never stream length; emission after each batch is
  * the ranked <= k-row snapshot tagged with the running n_seen, so an
  * append-sink consumer keeps the max-n rows per key (the
  * HeavyHitter/Reservoir snapshot contract). */
object TopKProcessor {
  case class In(c_nationkey: Int, c_custkey: Long, c_name: String, c_acctbal: Double)
  private[streaming] case class Item(bal: Double, ck: Long, name: String)
  private[streaming] case class Top(items: Seq[Item], n: Long)

  /** One ranked snapshot row; n_seen strictly grows per emission, so the
    * max-n rows per nation in an append sink are the current top-k. */
  case class Out(c_nationkey: Int, rnk: Int, c_custkey: Long, c_name: String,
    c_acctbal: Double, n_seen: Long)

  private[streaming] def fold(k: Int)(key: Int, prior: Option[Top],
      rows: Iterator[In]): (Option[Top], Iterator[Out]) = {
    val prev: Top = prior.getOrElse(Top(Seq.empty, 0L))
    var nSeen = prev.n
    val incoming = rows.map { r => nSeen += 1; Item(r.c_acctbal, r.c_custkey, r.c_name) }.toSeq
    val kept = (prev.items ++ incoming)
      .groupBy(_.ck).valuesIterator.map(_.maxBy(e => (e.bal, e.name))).toSeq
      .sortBy(e => (-e.bal, e.ck)).take(k)
    (Some(Top(kept, nSeen)), kept.iterator.zipWithIndex.map { case (e, i) =>
      Out(key, i + 1, e.ck, e.name, e.bal, nSeen)
    })
  }

  /** Incremental per-nation top-k over a customer stream — the same
    * order key as the batch win_topk_per_group window. */
  def topkStream(customers: DataFrame, k: Int): Dataset[Out] = {
    import customers.sparkSession.implicits._
    FoldProcessor.run(
      customers.select(col("c_nationkey"), col("c_custkey"), col("c_name"), col("c_acctbal"))
        .as[In]
        .groupByKey(_.c_nationkey),
      "top", Encoders.product[Top])(fold(k))
  }
}
