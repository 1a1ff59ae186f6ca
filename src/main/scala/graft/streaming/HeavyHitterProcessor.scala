package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions.{col, explode, split}

/** Streaming per-source heavy hitters — a Misra-Gries frequency sketch
  * per key over an unbounded token stream (the vocabulary monitor a
  * curation pipeline runs beside the batch frequency jobs): at most k
  * counters per source; a token with a counter increments it, a new
  * token takes a free slot, and when the sketch is FULL a new token
  * decrements every counter by one instead (dropping zeros) — the
  * classic deterministic guarantee est >= true - floor(n/k), with every
  * token of true count > n/k guaranteed present.
  *
  * Determinism contract (StreamingSpec): while distinct tokens per
  * source <= k the sketch never evicts and the fold is pure increments —
  * COMMUTATIVE, so any batching/arrival order reproduces the exact
  * batch counts (the FreshnessProcessor class of contract). Past k the
  * estimates become order-dependent LOWER BOUNDS (the sketch property
  * itself stays true under any order — the spec pins it with a forced-
  * eviction run).
  *
  * Scale posture: state is <= k fixed-width counters per source key —
  * bounded by key-space x k, never by stream length; emission after
  * each batch is the <= k-row snapshot tagged with the running n so an
  * append-sink consumer keeps the max-n rows per source. */
object HeavyHitterProcessor {
  case class Tok(source: String, tok: String)

  /** One sketch snapshot row: estimated (lower-bound) count + the
    * running tokens-seen tally. n strictly grows per emission, so the
    * max-n rows per source in an append sink are the current sketch. */
  case class Hit(source: String, tok: String, est: Long, n: Long)

  private[streaming] case class Sketch(counts: Map[String, Long], n: Long)

  private[streaming] def fold(k: Int)(key: String, prior: Option[Sketch],
      rows: Iterator[Tok]): (Option[Sketch], Iterator[Hit]) = {
    var sk: Sketch = prior.getOrElse(Sketch(Map.empty, 0L))
    rows.foreach { t =>
      val m = sk.counts
      val nm = m.get(t.tok) match {
        case Some(c) => m.updated(t.tok, c + 1L)
        case None if m.size < k => m.updated(t.tok, 1L)
        case None => m.collect { case (w, c) if c > 1L => w -> (c - 1L) }
      }
      sk = Sketch(nm, sk.n + 1L)
    }
    (Some(sk), sk.counts.toSeq.sortBy { case (w, c) => (-c, w) }
      .iterator.map { case (w, c) => Hit(key, w, c, sk.n) })
  }

  /** Incremental per-source token heavy hitters over a document stream
    * (whitespace tokens — the same tokenizer as every batch text query). */
  def hitterStream(docs: DataFrame, k: Int): Dataset[Hit] = {
    import docs.sparkSession.implicits._
    FoldProcessor.run(
      docs.select(col("source"), explode(split(col("text"), " ")).as("tok"))
        .as[Tok]
        .groupByKey(_.source),
      "mg", Encoders.product[Sketch])(fold(k))
  }
}
