package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions.col

/** Streaming incremental OHLC — the streaming face of the batch ts_ohlc
  * query (r5 verdict "missing" #3): keyed by (event_type, hour), one
  * ValueState candle per key folds each micro-batch's rows with the SAME
  * ordering semantics as the batch aggregate's min/max over
  * struct(ts, event_id, value) — open/close are the values of the
  * lexicographically smallest/largest (ts, event_id, value) triple, so
  * stream and batch pick identical rows even under ts ties.
  *
  * The fold is COMMUTATIVE (min/max/count only — no sequence
  * dependence), so unlike DedupProcessor's id-ascending contract this
  * processor reproduces the batch result under ANY arrival order and any
  * batching; StreamingSpec feeds reversed uneven batches to prove it.
  * Each batch that delivers rows for a key emits the UPDATED candle
  * (n strictly grows per emission, so the max-n row per key in an
  * append sink is the final candle).
  *
  * Scale posture: state is one fixed-width candle per (event_type, hour)
  * — bounded by the key space, not the event count — hash-partitioned by
  * the grouping key like any keyed aggregation; RocksDB shards it with
  * the key space.
  */
object OhlcProcessor {
  case class Ev(event_type: String, ts: java.sql.Timestamp, event_id: Long,
    value: Double)

  /** One candle per (event_type, hour): open/close carry their defining
    * (ts, event_id) triple so the min/max fold stays total under ties. */
  case class Candle(event_type: String, hr_us: Long, n: Long,
    o_ts_us: Long, o_id: Long, open: Double,
    c_ts_us: Long, c_id: Long, close: Double,
    low: Double, high: Double)

  private[streaming] def fold(key: (String, Long), prior: Option[Candle],
      rows: Iterator[Ev]): (Option[Candle], Iterator[Candle]) = {
    var c: Candle = prior.orNull
    rows.foreach { e =>
      val tUs = Streams.toUs(e.ts)
      c =
        if (c == null)
          Candle(key._1, key._2, 1L,
            tUs, e.event_id, e.value,
            tUs, e.event_id, e.value,
            e.value, e.value)
        else merge(c, tUs, e)
    }
    (Some(c), Iterator.single(c))
  }

  /** Lexicographic (ts, event_id, value) — the batch query's struct
    * comparison, spelled out. */
  private def lt(aTs: Long, aId: Long, aV: Double,
      bTs: Long, bId: Long, bV: Double): Boolean =
    aTs < bTs || (aTs == bTs && (aId < bId || (aId == bId && aV < bV)))

  private def merge(c: Candle, tUs: Long, e: Ev): Candle = {
    val (oTs, oId, oV) =
      if (lt(tUs, e.event_id, e.value, c.o_ts_us, c.o_id, c.open))
        (tUs, e.event_id, e.value) else (c.o_ts_us, c.o_id, c.open)
    val (cTs, cId, cV) =
      if (lt(c.c_ts_us, c.c_id, c.close, tUs, e.event_id, e.value))
        (tUs, e.event_id, e.value) else (c.c_ts_us, c.c_id, c.close)
    Candle(c.event_type, c.hr_us, c.n + 1,
      oTs, oId, oV, cTs, cId, cV,
      math.min(c.low, e.value), math.max(c.high, e.value))
  }

  private val hourUs = 3600L * 1000000L

  /** Incremental per-hour candles over an unbounded (or replayed) event
    * stream. Works identically on a bounded batch Dataset. */
  def ohlcStream(events: DataFrame): Dataset[Candle] = {
    import events.sparkSession.implicits._
    FoldProcessor.run(
      events.select(col("event_type"), col("ts"), col("event_id"), col("value"))
        .as[Ev]
        .groupByKey(e => (e.event_type, Streams.toUs(e.ts) / hourUs * hourUs)),
      "candle", Encoders.product[Candle])(fold)
  }
}
