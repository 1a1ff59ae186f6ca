package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions.col

/** Streaming Holt linear-trend smoothing — the streaming face of the batch
  * ts_holt_forecast query: keyed by series id (here a constant for the
  * corpus daily-total series, or any per-source key), a ValueState holds
  * (level, trend) in exact integer micro-units and each incoming
  * (day, cnt) observation advances the IDENTICAL recurrence the batch
  * query folds driver-side:
  *   fitted = l + b                      (one-step-ahead forecast)
  *   l'     = (cnt*1e6 + l + b) / 2     (alpha = 1/2, truncating /)
  *   b'     = (l' - l) / 4 + (3*b) / 4  (beta = 1/4, truncating /)
  * Truncating division == Scala Long `/` == Spark DIV == DuckDB `//`
  * (the r6f measurement: none of them floor on negatives).
  *
  * Arrival contract (TransitionProcessor class): cross-batch parity with
  * the batch fold requires each key's observations to arrive
  * day-ascending ACROSS batches — the land-time incremental case; within
  * a batch any order is fine (sorted here). The first observation seeds
  * l = cnt*1e6, b = 0, fitted = l — exactly the batch seed.
  *
  * State is one fixed-width (day, l, b) record per key, hash-partitioned
  * by the key — the shape that holds at any number of series.
  */
object HoltProcessor {
  case class Obs(series: Long, day: Long, cnt: Long)
  case class St(day: Long, l: Long, b: Long)
  case class Fit(series: Long, day: Long, cnt: Long, level_u: Long,
    trend_u: Long, fitted_u: Long)

  private[streaming] def fold(key: Long, prior: Option[St],
      rows: Iterator[Obs]): (Option[St], Iterator[Fit]) = {
    var cur: St = prior.orNull
    val out = Vector.newBuilder[Fit]
    rows.toIndexedSeq.sortBy(_.day).foreach { o =>
      if (cur == null) {
        val l0 = o.cnt * 1000000L
        cur = St(o.day, l0, 0L)
        out += Fit(key, o.day, o.cnt, l0, 0L, l0)
      } else {
        val fitted = cur.l + cur.b
        val lN = (o.cnt * 1000000L + cur.l + cur.b) / 2L
        val bN = (lN - cur.l) / 4L + (3L * cur.b) / 4L
        cur = St(o.day, lN, bN)
        out += Fit(key, o.day, o.cnt, lN, bN, fitted)
      }
    }
    (Some(cur), out.result().iterator)
  }

  /** Incremental Holt fit over a keyed (series, day, cnt) stream. */
  def holtStream(obs: DataFrame): Dataset[Fit] = {
    import obs.sparkSession.implicits._
    FoldProcessor.run(
      obs.select(col("series"), col("day"), col("cnt"))
        .as[Obs]
        .groupByKey(_.series),
      "holt", Encoders.product[St])(fold)
  }
}
