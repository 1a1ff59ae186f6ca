package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions.col

/** Streaming transition emission — the streaming face of the batch
  * ts_transition_matrix query (r5 verdict "missing" #3): keyed by
  * user_id, a ValueState holds the user's LAST seen event (ts, event_id,
  * type); each micro-batch sorts its rows by (ts, event_id) — the batch
  * query's lag-window order — chains them onto the stored last event,
  * and emits one (from_type, to_type) row per consecutive pair.
  *
  * Arrival contract (same class as DedupProcessor's id-ascending note):
  * cross-batch parity with the batch lag window requires each user's
  * events to arrive time-ascending ACROSS batches — the land-time
  * incremental case; within a batch any order is fine (sorted here).
  * Batch boundaries never matter beyond that: chaining through the
  * stored last event makes the pair stream identical however the sorted
  * feed is sliced (StreamingSpec feeds uneven slices and compares the
  * aggregated matrix to the batch query).
  *
  * Downstream the matrix is the same bounded (type x type) aggregation
  * as batch — this processor only owns the stateful lag. State is one
  * fixed-width record per user, hash-partitioned by the key.
  */
object TransitionProcessor {
  case class Ev(user_id: Long, event_type: String, ts: java.sql.Timestamp,
    event_id: Long)
  case class LastEv(ts_us: Long, event_id: Long, event_type: String)
  case class Trans(from_type: String, to_type: String)

  private[streaming] def fold(key: Long, last: Option[LastEv],
      rows: Iterator[Ev]): (Option[LastEv], Iterator[Trans]) = {
    var prev: LastEv = last.orNull
    val out = Vector.newBuilder[Trans]
    rows.toIndexedSeq.sortBy(e => (Streams.toUs(e.ts), e.event_id)).foreach { e =>
      if (prev != null) out += Trans(prev.event_type, e.event_type)
      prev = LastEv(Streams.toUs(e.ts), e.event_id, e.event_type)
    }
    (Some(prev), out.result().iterator)
  }

  /** Incremental per-user transition pairs over an unbounded (or
    * replayed) event stream; aggregate downstream exactly like batch. */
  def transitionStream(events: DataFrame): Dataset[Trans] = {
    import events.sparkSession.implicits._
    FoldProcessor.run(
      events.select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
        .as[Ev]
        .groupByKey(_.user_id),
      "last", Encoders.product[LastEv])(fold)
  }
}
