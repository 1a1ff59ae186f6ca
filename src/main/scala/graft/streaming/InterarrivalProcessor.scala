package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions.col

/** Streaming inter-arrival gaps — the streaming face of the batch
  * ts_interarrival histogram: keyed by user_id, a ValueState holds the
  * user's LAST event (ts_us, event_id); each micro-batch sorts its rows
  * by (ts, event_id) — the batch lag-window order — chains them onto the
  * stored last event, and emits one gap row per consecutive pair. The
  * log2 bucketing and the (bucket, n, min, max) histogram stay with the
  * consumer, exactly like batch (FreshnessProcessor rule: a keyed
  * processor emits per-key facts; cross-key aggregation is downstream).
  *
  * Arrival contract (TransitionProcessor class): cross-batch parity with
  * the batch lag window requires each user's events to arrive
  * time-ascending ACROSS batches — the land-time incremental case;
  * within a batch any order is fine (sorted here). State is one
  * fixed-width record per user, hash-partitioned by the key.
  */
object InterarrivalProcessor {
  case class Ev(user_id: Long, ts: java.sql.Timestamp, event_id: Long)
  case class LastTs(ts_us: Long, event_id: Long)
  case class Gap(user_id: Long, gap_us: Long)

  private[streaming] def fold(key: Long, last: Option[LastTs],
      rows: Iterator[Ev]): (Option[LastTs], Iterator[Gap]) = {
    var prev: LastTs = last.orNull
    val out = Vector.newBuilder[Gap]
    rows.toIndexedSeq.sortBy(e => (Streams.toUs(e.ts), e.event_id)).foreach { e =>
      val us = Streams.toUs(e.ts)
      if (prev != null) out += Gap(key, us - prev.ts_us)
      prev = LastTs(us, e.event_id)
    }
    (Some(prev), out.result().iterator)
  }

  /** Incremental per-user inter-arrival gaps over an unbounded (or
    * replayed) event stream; bucket and histogram downstream exactly
    * like the batch ts_interarrival query. */
  def gapStream(events: DataFrame): Dataset[Gap] = {
    import events.sparkSession.implicits._
    FoldProcessor.run(
      events.select(col("user_id"), col("ts"), col("event_id"))
        .as[Ev]
        .groupByKey(_.user_id),
      "last", Encoders.product[LastTs])(fold)
  }
}
