package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions.col

/** Streaming CDC upsert — the streaming face of the batch
  * cdc_merge_upsert query (the reference's actual job: scheduled
  * incremental loads, /root/reference/README.md:9, run here as
  * micro-batches): keyed by the upsert key, one ValueState holds the
  * latest APPLIED change (seq, cents, alive). Within a batch, changes
  * apply in seq order (sorted); a change whose seq is not beyond the
  * applied one is a NO-OP, so re-delivering any earlier batch changes
  * nothing — replay-safe idempotence, the property a scheduled loader
  * actually needs (StreamingSpec replays batch 1 after the change batch
  * and demands identical final state).
  *
  * Emission contract: one current-state fact per (key, delivering
  * batch); the latest fact per key in an append sink IS the merged
  * table (alive=false marks a delete — the consumer filters, mirroring
  * the batch query's op <> 'D'). Money rides as exact cents (BIGINT) —
  * the engines' shared moneyD currency — so parity with the batch
  * DECIMAL pipeline is integer-exact.
  *
  * Scale posture: state is one fixed-width record per LIVE key,
  * hash-partitioned by the grouping key like any keyed aggregation
  * (RocksDB spills off-heap); each micro-batch touches only its own
  * keys' shards — the incremental-merge shape at any table size. */
object UpsertProcessor {
  /** One CDC change: key, monotone per-key sequence, op (I/U/D), and the
    * new price in exact cents (ignored for D). */
  case class Chg(key: Long, seq: Long, op: String, cents: Long)

  /** Current-state fact: the latest applied change per key. */
  case class Cur(key: Long, seq: Long, cents: Long, alive: Boolean)

  private[streaming] def fold(key: Long, prior: Option[Cur],
      rows: Iterator[Chg]): (Option[Cur], Iterator[Cur]) = {
    var c: Cur = prior.getOrElse(Cur(key, -1L, 0L, alive = false))
    rows.toSeq.sortBy(_.seq).foreach { ch =>
      if (ch.seq > c.seq) c = ch.op match {
        case "D" => Cur(key, ch.seq, 0L, alive = false)
        case _   => Cur(key, ch.seq, ch.cents, alive = true) // I or U
      }
    }
    (Some(c), Iterator.single(c))
  }

  /** Incremental keyed upsert over an unbounded (or replayed) change
    * stream. Works identically on a bounded batch Dataset. */
  def upsertStream(chg: DataFrame): Dataset[Cur] = {
    import chg.sparkSession.implicits._
    FoldProcessor.run(
      chg.select(col("key"), col("seq"), col("op"), col("cents")).as[Chg]
        .groupByKey(_.key),
      "cur", Encoders.product[Cur])(fold)
  }
}
