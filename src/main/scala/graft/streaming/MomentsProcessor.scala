package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions.col

/** Streaming per-series moment monitor — the streaming face of the
  * batch anomaly gauges (dq_anomaly_zscore derives mean/variance/z from
  * exactly these three integer moments): keyed by series, one
  * ValueState folds each micro-batch's integer measurements into
  * (n, sum, sum-of-squares). The fold is COMMUTATIVE (three additions),
  * so like DriftProcessor — and unlike the TransitionProcessor-class
  * time-ascending contracts — it reproduces the batch moments under ANY
  * arrival order and any batching; StreamingSpec feeds the
  * dq_anomaly_zscore hourly-count rows as reversed uneven batches and
  * demands exact moment parity plus consumer-derived z equality.
  *
  * The mean/variance/z STATISTICS are deliberately NOT computed here:
  * the keyed-state principle (FreshnessProcessor hours_behind,
  * DriftProcessor psi) — a processor emits per-key integer FACTS; the
  * consumer derives whichever gauge it wants in its own fixed IEEE op
  * order, which is exactly how the batch query computes them from the
  * same integers. Measurements arrive as pre-scaled BIGINTs (counts,
  * cents — scale UPSTREAM with the shared column def per the
  * ReservoirProcessor rule); x*x partials overflow only past ~3e9 in a
  * single measurement (the dq_anomaly_zscore bound, documented there),
  * and the fold uses Math.addExact/multiplyExact so crossing that bound
  * THROWS — the same loud failure mode as the ANSI batch twin — instead
  * of wrapping silently.
  *
  * Scale posture: state is three longs per series — bounded by the key
  * space, not the event count — hash-partitioned by series like any
  * keyed aggregation. */
object MomentsProcessor {
  case class Ev(series: String, x: Long)

  /** Per-series moment fact: observation count + exact integer sum and
    * sum-of-squares. n strictly grows per emission, so the max-n row
    * per series in an append sink is the current moment state. */
  case class Mom(series: String, n: Long, s: Long, ss: Long)

  private[streaming] def fold(key: String, prior: Option[Mom],
      rows: Iterator[Ev]): (Option[Mom], Iterator[Mom]) = {
    var m: Mom = prior.getOrElse(Mom(key, 0L, 0L, 0L))
    rows.foreach { e =>
      // exact-arith adds (r9 advice): the batch twin runs under ANSI and
      // fails LOUDLY on overflow; plain Long + / * would wrap silently
      // past the documented ~3e9 per-measurement bound and diverge
      // quietly instead. Math.*Exact throws the same class of error.
      m = Mom(key, Math.addExact(m.n, 1L), Math.addExact(m.s, e.x),
        Math.addExact(m.ss, Math.multiplyExact(e.x, e.x)))
    }
    (Some(m), Iterator.single(m))
  }

  /** Incremental moment state over an unbounded (or replayed)
    * (series, x) stream. Works identically on a bounded batch
    * Dataset. */
  def momentsStream(rows: DataFrame): Dataset[Mom] = {
    import rows.sparkSession.implicits._
    FoldProcessor.run(
      rows.select(col("series").cast("string").as("series"),
          col("x").cast("long").as("x"))
        .as[Ev]
        .groupByKey(_.series),
      "mom", Encoders.product[Mom])(fold)
  }
}
