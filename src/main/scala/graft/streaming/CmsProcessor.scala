package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions.col

/** Streaming count-min sketch — the incremental face of the batch
  * text_cms_sketch grid. The grid cell a token lands in is computed
  * UPSTREAM with the shared TextQueries.cmsBucket column definition
  * (the ReservoirProcessor contract: the processor never re-derives a
  * hash the batch side also derives — one definition or they silently
  * drift); the processor itself is the minimal keyed fold: one
  * ValueState[Long] counter per grid cell, incremented per arriving
  * token occurrence.
  *
  * The fold is COMMUTATIVE AND ASSOCIATIVE (pure addition — the very
  * property that makes CMS the distributed frequency sketch), so the
  * final grid is identical under ANY arrival order and any batching;
  * StreamingSpec feeds reversed uneven batches and demands exact cell
  * parity against the batch grid, then derives per-token estimates
  * consumer-side (min over the token's cells — the cross-cell read a
  * keyed processor must not do itself, per the FreshnessProcessor
  * principle) and matches the batch query's emission exactly.
  *
  * Scale posture: state is ONE long per grid cell — bounded by
  * depth×width (256), not by the token stream — hash-partitioned by
  * cell like any keyed aggregation; estimates cost one bounded lookup
  * per probed term. */
object CmsProcessor {
  case class Ev(cell: Int)

  /** Grid-cell count fact: cnt strictly grows per emission, so the
    * max-cnt row per cell in an append sink is the current counter. */
  case class Cell(cell: Int, r: Int, b: Int, cnt: Long)

  private[streaming] def fold(key: Int, prior: Option[Long],
      rows: Iterator[Ev]): (Option[Long], Iterator[Cell]) = {
    var c: Long = prior.getOrElse(0L)
    rows.foreach { _ => c += 1L }
    (Some(c), Iterator.single(Cell(key, key / 64, key % 64, c)))
  }

  /** Incremental CMS over an unbounded (or replayed) cell stream —
    * `cell` must be r·64 + cmsBucket(tok, r), stamped upstream with
    * the shared definition. Works identically on a bounded batch
    * Dataset. */
  def cmsStream(rows: DataFrame): Dataset[Cell] = {
    import rows.sparkSession.implicits._
    FoldProcessor.run(
      rows.select(col("cell").cast("int").as("cell"))
        .as[Ev]
        .groupByKey(_.cell),
      "cnt", Encoders.scalaLong)(fold)
  }
}
