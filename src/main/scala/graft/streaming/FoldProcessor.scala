package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder, KeyValueGroupedDataset}
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TimeMode, TimerValues, TTLConfig}
import org.apache.spark.sql.streaming.ValueState

/** The one keyed-fold processor: every streaming operator whose state is a
  * single ValueState per key is a plain `fold` run through this class, so
  * the state handle, the read, the write and the empty-group guard exist
  * once.
  *
  * `fold(key, prior, rows)` gets the key's stored state (`None` on first
  * sight) and the micro-batch's rows for that key (never empty), and
  * returns the next state and the rows to emit. `Some(s)` stores `s`;
  * `None` leaves the stored state untouched (first-seen dedup writes only
  * on first sight). The returned state must be fully computed when `fold`
  * returns — it is written before the output iterator is read — so a fold
  * must not hand back a lazy view over `rows`.
  *
  * The state name and encoder are the checkpoint's schema: a processor
  * keeps both fixed so an existing RocksDB checkpoint still restores.
  * Processors that need timers, `clear()` or ListState (SessionProcessor,
  * LshIndexProcessor, StarEdgeProcessor) stay hand-written. */
class FoldProcessor[K, In, S, Out](name: String, enc: Encoder[S],
    fold: (K, Option[S], Iterator[In]) => (Option[S], Iterator[Out]))
  extends StatefulProcessor[K, In, Out] {

  @transient private var st: ValueState[S] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    st = getHandle.getValueState[S](name, enc, TTLConfig.NONE)

  override def handleInputRows(key: K, rows: Iterator[In],
      timerValues: TimerValues): Iterator[Out] =
    if (!rows.hasNext) Iterator.empty
    else {
      val (next, out) = fold(key, if (st.exists()) Some(st.get()) else None, rows)
      next.foreach(st.update)
      out
    }
}

object FoldProcessor {
  /** Run `fold` over a keyed stream (or a bounded batch Dataset — the
    * result is identical) with one ValueState named `name` per key. */
  def run[K, In, S, Out: Encoder](grouped: KeyValueGroupedDataset[K, In],
      name: String, enc: Encoder[S])(
      fold: (K, Option[S], Iterator[In]) => (Option[S], Iterator[Out])): Dataset[Out] =
    grouped.transformWithState(new FoldProcessor(name, enc, fold),
      TimeMode.None(), OutputMode.Append())
}
