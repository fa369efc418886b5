package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.functions.ExactSum

/** Exact-decimal arithmetic helpers for oracle-parity aggregation.
  *
  * Money/quantity columns in the testdata are doubles carrying 2-decimal
  * values. Summing doubles is order-dependent — Spark (partial aggregates
  * across 32 partitions) and the DuckDB oracle accumulate in different
  * orders, so raw double sums differ in the last bits and fail a hash
  * compare. Every aggregate the oracle checks therefore goes through
  * DECIMAL: cast-to-decimal (exact for 2-dp values), aggregate exactly in
  * integer arithmetic, and cast the final scalar back to double (a single
  * deterministic IEEE-754 rounding both engines perform identically).
  *
  * This is also the right call at 100 TB: decimal partial sums cannot lose
  * precision no matter how many executors contribute partial aggregates.
  *
  * The sums run on [[graft.functions.ExactSum]]: a (hi, lo) LONG buffer
  * holding the unscaled sum as a signed 128-bit integer, so the keyed
  * aggregate is a codegen'd HashAggregate with fixed-width buffers and no
  * BigDecimal per row. Range: any sum whose running value stays within its
  * result type, DECIMAL(38) included (|unscaled| <= 10^38 - 1 < 2^127).
  * The result type, the value and the overflow behaviour equal built-in
  * `sum` over the same term: a running partial sum past the result
  * precision raises (ANSI) or yields null, and an empty input yields null.
  */
object Exact {
  /** Cast a 2-decimal-valued double column to an exact decimal. */
  def dec(c: Column, p: Int = 12): Column = c.cast(DecimalType(p, 2))

  /** 1 as DECIMAL(3,2) — matches `CAST(1 AS DECIMAL(3,2))` in oracle SQL. */
  val one: Column = lit(1).cast(DecimalType(3, 2))

  /** Exact sum: a DECIMAL(9..18,s) column sums to DECIMAL(p+10,s), a
    * BIGINT column to DECIMAL(38,0) — `sum(c)`, resp.
    * `sum(CAST(c AS DECIMAL(38,0)))`. */
  def sum(c: Column): Column = ExactSum.exactSum(c)

  /** Exact sum of a * b over BIGINT or DECIMAL(<=18,s) operands, typed as
    * `sum(a * b)` (BIGINT counts as DECIMAL(20,0), so two BIGINTs give
    * DECIMAL(38,0) as `sum(CAST(a AS DECIMAL(38,0)) * b)` does). */
  def sumProduct(a: Column, b: Column): Column = ExactSum.exactSum(a, b)

  /** Exact decimal sum, surfaced as double. */
  def sumD(c: Column, p: Int = 12): Column = sum(dec(c, p)).cast("double")
}
