package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._

/** Streaming sequence-completeness monitor (r11, 18th processor) — the
  * incremental face of the batch dq_sequence_gaps census
  * (CdcQueries.sequenceGapCensus): per extraction day, exact row count,
  * exact DISTINCT id count, and the id range, maintained as rows land
  * instead of a daily full rescan.
  *
  * The exact distinct is the interesting part: a per-day id SET is
  * unbounded state, but a monotonically-id'd change feed is DENSE, so
  * ids pack into 63-bit BUCKET BITMAPS (key = (day, id DIV 63), bit =
  * id % 63 — 63 bits, never 64: the portable-shift cap, r6e). Bitmap OR
  * is commutative AND idempotent, and the min/max folds are too, so the
  * resolved census is ARRIVAL-ORDER-FREE with no ordering contract;
  * only the row COUNT is a plain sum (a replayed row is a genuine
  * duplicate row by the batch definition — it must count). State per
  * key is one fixed-size tuple; keys shard on (day, bucket) like any
  * keyed aggregation, and a day's state is span/63 longs — the same
  * asymptotics as the batch groupBy's per-day partials.
  *
  * Emission is the UPSERT shape (the StarEdgeProcessor convention):
  * each batch emits every touched key's new (bitmap, cnt, mn, mx); the
  * consumer resolves with commutative folds — bit_or / max / min / max
  * per key (bitmap and cnt are monotone, so max == latest) — then
  * aggregates days (resolveDaily). The defect columns derive from the
  * emitted facts consumer-side (the FreshnessProcessor rule: a keyed
  * processor must not read cross-key state). */
object SeqGapProcessor {
  case class Ev(day: Long, bucket: Long, event_id: Long)
  /** One upsert row: key (day, bucket)'s state after this batch. */
  case class Cell(day: Long, bucket: Long, bm: Long, cnt: Long, mn: Long, mx: Long)

  private[streaming] def fold(key: String, prior: Option[(Long, Long, Long, Long)],
      rows: Iterator[Ev]): (Option[(Long, Long, Long, Long)], Iterator[Cell]) = {
    var (bm, cnt, mn, mx) = prior.getOrElse((0L, 0L, Long.MaxValue, Long.MinValue))
    var day = 0L
    var bucket = 0L
    rows.foreach { e =>
      day = e.day; bucket = e.bucket
      bm |= 1L << (e.event_id % 63L)
      cnt = Math.addExact(cnt, 1L)
      mn = math.min(mn, e.event_id)
      mx = math.max(mx, e.event_id)
    }
    (Some((bm, cnt, mn, mx)), Iterator.single(Cell(day, bucket, bm, cnt, mn, mx)))
  }

  /** Key an (event_id, ts) stream by (day, id DIV 63) — the same day
    * derivation as the batch census (epoch-µs integer floor division,
    * the dq_freshness rule). */
  def cellStream(ev: DataFrame): Dataset[Cell] = {
    import ev.sparkSession.implicits._
    FoldProcessor.run(
      ev.selectExpr("unix_micros(ts) DIV 86400000000 AS day",
          "event_id DIV 63 AS bucket", "event_id")
        .as[Ev]
        .groupByKey(e => s"${e.day}|${e.bucket}"),
      "st", Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong,
        Encoders.scalaLong, Encoders.scalaLong))(fold)
  }

  /** Resolve the upsert stream to the per-day census: commutative folds
    * per cell (bit_or for the monotone bitmap, max for the monotone
    * count, min/max for the range), then one day-grain aggregate. The
    * emitted columns match the batch sequenceGapCensus' per-day facts
    * (day, n_rows, n_ids, min_id, max_id, n_missing, n_dup_rows); the
    * cross-day overlap column is the consumer's derivation, as in
    * batch. */
  def resolveDaily(cells: DataFrame): DataFrame =
    cells.groupBy("day", "bucket")
      .agg(expr("bit_or(bm)").as("bm"), max("cnt").as("cnt"),
        min("mn").as("mn"), max("mx").as("mx"))
      .groupBy("day")
      .agg(sum("cnt").as("n_rows"),
        sum(expr("bit_count(bm)").cast("long")).as("n_ids"),
        min("mn").as("min_id"), max("mx").as("max_id"))
      .selectExpr("day", "n_rows", "n_ids", "min_id", "max_id",
        "max_id - min_id + 1 - n_ids AS n_missing",
        "n_rows - n_ids AS n_dup_rows")
      .orderBy("day")
}
