package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions.col

/** Streaming per-source freshness monitor — the streaming face of the
  * batch dq_freshness query (round-6 candidate list): keyed by
  * event_type, one ValueState watermark per source folds each
  * micro-batch into (last-seen event time, running count). The fold is
  * COMMUTATIVE (max/count only), so like OhlcProcessor — and unlike
  * DedupProcessor's id-ascending contract — it reproduces the batch
  * result under ANY arrival order and any batching; StreamingSpec feeds
  * reversed uneven batches to prove it.
  *
  * hours_behind is deliberately NOT computed here: it depends on the
  * GLOBAL max across sources, which a keyed processor cannot see (and
  * must not — a cross-key read would serialize the state store). The
  * monitor emits per-source (last_ts, n) facts; the consumer derives
  * lag against whatever clock it trusts (the batch query uses the
  * cross-source max — StreamingSpec reproduces exactly that from the
  * emitted facts and matches dq_freshness row-for-row).
  *
  * Scale posture: state is one fixed-width pair per source — bounded by
  * the source-key space, not the event count — hash-partitioned by the
  * grouping key like any keyed aggregation. */
object FreshnessProcessor {
  case class Ev(event_type: String, ts: java.sql.Timestamp)

  /** Per-source freshness fact: last event time (µs) + running count.
    * n strictly grows per emission, so the max-n row per source in an
    * append sink is the current watermark. */
  case class Fresh(event_type: String, last_us: Long, n: Long)

  private[streaming] def fold(key: String, prior: Option[Fresh],
      rows: Iterator[Ev]): (Option[Fresh], Iterator[Fresh]) = {
    var f: Fresh = prior.orNull
    rows.foreach { e =>
      val tUs = Streams.toUs(e.ts)
      f =
        if (f == null) Fresh(key, tUs, 1L)
        else Fresh(key, math.max(f.last_us, tUs), f.n + 1L)
    }
    (Some(f), Iterator.single(f))
  }

  /** Incremental per-source freshness over an unbounded (or replayed)
    * event stream. Works identically on a bounded batch Dataset. */
  def freshnessStream(events: DataFrame): Dataset[Fresh] = {
    import events.sparkSession.implicits._
    FoldProcessor.run(
      events.select(col("event_type"), col("ts"))
        .as[Ev]
        .groupByKey(_.event_type),
      "fresh", Encoders.product[Fresh])(fold)
  }
}
