package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Shared determinism helpers for the declared query catalog (SURVEY.md §7.3).
  *
  * Rules (binding, mirrored in every DuckDB oracle):
  *  - money/qty aggregate: cast to DECIMAL(18,s) BEFORE summing (exactness);
  *    the FINAL emission casts the exact decimal to DOUBLE. Never emit a
  *    DECIMAL output column: the driver hashes the Spark parquet (python
  *    Decimal objects) against DuckDB's fetchdf (float64) and equal values
  *    hash unequal (round-1 VERDICT.md defect #1). Decimal->double is the
  *    correctly-rounded IEEE nearest on both engines (unscaled values here
  *    are far below 2^53), so `CAST(exact_decimal AS DOUBLE)` is
  *    bit-identical across Spark and DuckDB — round 1 proved this via every
  *    green avgDec2 query.
  *  - averages: exact decimal sum -> double -> divide by count -> round 6.
  *    (DuckDB decimal division degrades to double, so a pure-decimal avg
  *    cannot hash-match; this pattern is bit-deterministic on both engines.)
  *  - inherently-double results (stddev, cosine, tf-idf, transcendentals):
  *    the pure-IEEE r6/r3 spelling on both sides (never the engine ROUND
  *    built-in — see r6 below); never emit a raw double aggregate.
  */
object Qutil {
  type Q = (SparkSession, String) => DataFrame

  def dec2(c: Column): Column = c.cast(DecimalType(18, 2))
  def dec6(c: Column): Column = c.cast(DecimalType(18, 6))

  /** Driver-hash-stable emission of an exact decimal column: one IEEE cast,
    * mirrored in the oracle as CAST(x AS DOUBLE). */
  def emitD(c: Column): Column = c.cast(DoubleType)

  /** Exact money sum, emitted as double. The sum itself is decimal (exact,
    * order-independent); only the output representation is IEEE. Oracle
    * mirror: CAST(SUM(CAST(x AS DECIMAL(18,2))) AS DOUBLE). */
  def sumDec2(c: Column): Column = emitD(sum(dec2(c)))

  /** Deterministic average at scale 2 (money/qty): exact decimal sum cast to
    * double, divided by count — identical IEEE ops on Spark and DuckDB. */
  def avgDec2(c: Column): Column =
    r6(sum(dec2(c)).cast(DoubleType) / count(lit(1)))

  /** Same at scale 6 (small magnitudes like discounts). */
  def avgDec6(c: Column): Column =
    r6(sum(dec6(c)).cast(DoubleType) / count(lit(1)))

  /** Display rounding to 6 (r6) / 3 (r3) decimals in PURE IEEE ops —
    * floor(x*1e6+0.5)/1e6 half-up, never the engine ROUND built-in: two
    * engines (or two VERSIONS of one engine) can round the same double
    * differently at a representational 5e-7 boundary (r6 verdict:
    * embed_covariance passed four rounds locally, then one driver-side
    * DuckDB cell landed on a boundary). Each op here (multiply, add,
    * floor, long->double cast, divide) is correctly-rounded IEEE with
    * identical semantics everywhere, so same input bits => same output
    * bits, deterministically. NaN, ±Inf AND huge finites (|x| >= 9e12)
    * pass THROUGH unrounded (the guard): Spark's floor(double) returns
    * BIGINT, which turns NaN into 0 and SATURATES anything past
    * Long.MaxValue/1e6 ≈ 9.22e12 at Long.MaxValue, while DuckDB's floor
    * keeps doubles — the old ROUND passed all of these through
    * identically, so without the guard every converted site had a
    * latent divergence on degenerate ratios (r7 review findings). Above
    * 9e12 the double grid is coarser than 1e-3 anyway — 6-decimal display
    * rounding is meaningless there, and both engines emit the identical
    * raw value. NULL still propagates through the rounding arm. Oracle
    * mirrors use r6Sql/r3Sql below. */
  def rScale(c: Column, pow10: Double): Column = {
    val x = c.cast(DoubleType)
    when(isnan(x) || abs(x) >= lit(9e12), x)
      .otherwise(floor(x * pow10 + 0.5).cast(DoubleType) / pow10)
  }

  def r6(c: Column): Column = rScale(c, 1e6)

  def r3(c: Column): Column = rScale(c, 1e3)

  /** SQL-string mirrors of r6/r3, valid in BOTH dialects — use in shared
    * formula strings and oracle SQL. */
  def r6Sql(e: String): String =
    s"((CASE WHEN isnan(($e)) OR abs(($e)) >= 9e12 THEN CAST(($e) AS DOUBLE) ELSE CAST(floor(($e) * 1e6 + 0.5) AS DOUBLE) / 1e6 END))"

  def r3Sql(e: String): String =
    s"((CASE WHEN isnan(($e)) OR abs(($e)) >= 9e12 THEN CAST(($e) AS DOUBLE) ELSE CAST(floor(($e) * 1e3 + 0.5) AS DOUBLE) / 1e3 END))"

  /** Deterministic money rounding for DERIVED doubles (products like
    * price*(1-disc)). A plain decimal cast diverges between engines at the
    * half-cent boundary (Spark rounds the exact decimal expansion, DuckDB a
    * scaled double), so we define the rounding ourselves in pure IEEE ops —
    * floor(x*100 + 0.5) cents — then rebuild a decimal with an exact
    * decimal multiply (never a decimal division: DuckDB degrades those to
    * double). Oracle mirror:
    * CAST(CAST(FLOOR(x*100+0.5) AS DECIMAL(18,0))*CAST(0.01 AS DECIMAL(3,2)) AS DECIMAL(18,2)) */
  def moneyD(c: Column): Column =
    (floor(c * 100.0 + 0.5).cast(DecimalType(18, 0)) *
      lit(new java.math.BigDecimal("0.01"))).cast(DecimalType(18, 2))

  /** Exact sum of derived money, emitted as double (see emitD). */
  def sumMoneyD(c: Column): Column = emitD(sum(moneyD(c)))

  /** THE portable cross-engine 60-bit hash: top 15 hex chars of sha256,
    * cast through base-16. One definition for every hash-dependent query
    * (MinHash base hash, SimHash token hash, sampling selectors) and its
    * DuckDB mirror below — change BOTH together or the engines silently
    * drift on a subset of queries. 60 bits keeps the value positive and
    * ANSI-overflow-safe in downstream modular arithmetic. */
  def hash60(c: Column): Column =
    // r16: the native fused expression (graft.functions.Hash60) — one
    // SHA-256 digest read directly as the top-60-bit long, replacing the
    // conv(substring(sha2(...))) string churn. Identical bits on every
    // input by construction (ExpressionSpec pins it against this old
    // spelling); the DuckDB mirror below is untouched.
    graft.functions.GraftFunctions.hash60(c)

  /** The r15-and-earlier composed spelling, kept callable for the
    * equality pin (ExpressionSpec) — never used in a query plan. */
  private[graft] def hash60Composed(c: Column): Column =
    conv(substring(sha2(c, 256), 1, 15), 16, 10).cast(LongType)

  /** DuckDB mirror of hash60 for oracle SQL fragments ($e is any SQL
    * string expression, e.g. a column or lambda parameter). */
  def hash60Sql(e: String): String =
    s"CAST('0x' || substring(sha256($e), 1, 15) AS BIGINT)"

  /** Dot product of two float vectors, accumulated in double (left fold) —
    * same shape as the oracle's list_sum(list_transform(...)). Stays inside
    * Catalyst codegen (HOFs, no UDF) so it survives whole-stage codegen and
    * is usable verbatim at 100 TB. */
  /** Bigram shingles of a token array — ONE definition for every
    * bigram-consuming query (text_ngrams, text_near_dup_ngram,
    * text_containment, text_bigram_logprob) and one SQL mirror below, so
    * the shingle a pair generator blocks on can never drift from the one
    * a scorer counts. */
  def bigramsOf(tk: Column): Column =
    zip_with(
      slice(tk, lit(1), size(tk) - 1),
      slice(tk, lit(2), size(tk) - 1),
      (a, b) => concat_ws(" ", a, b))

  /** DuckDB mirror of bigramsOf over a list-column expression `$tk`. */
  def bigramsSqlOf(tk: String): String =
    s"list_transform(generate_series(1, len($tk) - 1), i -> $tk[i] || ' ' || $tk[i+1])"

  /** Trigram shingles of a token array — same shared-definition rule as
    * bigramsOf (text_repetition counts what this emits; any future
    * trigram blocker must block on the identical shingle). */
  def trigramsOf(tk: Column): Column =
    zip_with(
      bigramsOf(slice(tk, lit(1), size(tk) - 1)),
      slice(tk, lit(3), size(tk) - 2),
      (a, b) => concat_ws(" ", a, b))

  /** DuckDB mirror of trigramsOf. */
  def trigramsSqlOf(tk: String): String =
    s"list_transform(generate_series(1, len($tk) - 2), " +
      s"i -> $tk[i] || ' ' || $tk[i+1] || ' ' || $tk[i+2])"

  def dotD(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast(DoubleType) * y.cast(DoubleType)),
      lit(0.0), (acc, v) => acc + v)

  def normD(a: Column): Column = sqrt(dotD(a, a))

  def cosineD(a: Column, b: Column): Column = dotD(a, b) / (normD(a) * normD(b))
}
