package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions.col

/** Streaming drift-histogram monitor — the streaming face of the batch
  * drift family (dq_drift_psi / ks / js / emd all count the SAME
  * (cohort, bucket) rows; CdcQueries.cohortBuckets is the one shared
  * definition). Keyed by bucket, one ValueState pair per bucket folds
  * each micro-batch into (baseline count, current count). The fold is
  * COMMUTATIVE (two additions), so like FreshnessProcessor — and
  * unlike DedupProcessor's id-ascending contract — it reproduces the
  * batch histogram under ANY arrival order and any batching;
  * StreamingSpec feeds reversed uneven batches and demands exact
  * count parity against the batch dq_drift_psi rows.
  *
  * The psi/ks/emd STATISTICS are deliberately NOT computed here: they
  * need every bucket plus the cohort totals, which a keyed processor
  * cannot see (the FreshnessProcessor hours_behind principle — a
  * cross-key read would serialize the state store). The monitor emits
  * per-bucket count facts; the consumer folds whichever gauge it
  * wants over the current histogram (StreamingSpec derives the psi
  * exactly that way and matches the batch emission).
  *
  * Scale posture: state is two longs per bucket — bounded by the grid
  * width, not the event count — hash-partitioned by bucket like any
  * keyed aggregation. */
object DriftProcessor {
  case class Ev(bucket: Int, cohort: Int)

  /** Per-bucket histogram fact: cohort counts + total n. n strictly
    * grows per emission, so the max-n row per bucket in an append sink
    * is the current histogram cell. */
  case class Hist(bucket: Int, base_cnt: Long, cur_cnt: Long, n: Long)

  private[streaming] def fold(key: Int, prior: Option[Hist],
      rows: Iterator[Ev]): (Option[Hist], Iterator[Hist]) = {
    var h: Hist = prior.getOrElse(Hist(key, 0L, 0L, 0L))
    rows.foreach { e =>
      h =
        if (e.cohort == 0) Hist(key, h.base_cnt + 1L, h.cur_cnt, h.n + 1L)
        else Hist(key, h.base_cnt, h.cur_cnt + 1L, h.n + 1L)
    }
    (Some(h), Iterator.single(h))
  }

  /** Incremental drift histogram over an unbounded (or replayed)
    * (bucket, cohort) stream. Works identically on a bounded batch
    * Dataset. */
  def driftStream(rows: DataFrame): Dataset[Hist] = {
    import rows.sparkSession.implicits._
    FoldProcessor.run(
      rows.select(col("bucket").cast("int").as("bucket"),
          col("cohort").cast("int").as("cohort"))
        .as[Ev]
        .groupByKey(_.bucket),
      "hist", Encoders.product[Hist])(fold)
  }
}
