package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.functions.ExactSum

/** Spark-side exact-arithmetic aggregate helpers, mirrored 1:1 by
  * graft.queries.Sql for the DuckDB oracles.
  *
  * Double summation is order-dependent; Spark's partial aggregation order
  * varies run-to-run, so raw `sum(double)` can never hash-match an oracle.
  * Casting each value to DECIMAL(38,6) makes the sum exact and
  * order-independent in both engines; the final round+cast returns a plain
  * double column for schema parity.
  *
  * Kernel contract: the sums run through [[graft.functions.ExactSum]],
  * whose result equals `sum(CAST(x AS DECIMAL(38,6)))` — type, value,
  * NULL on an all-NULL or empty group, overflow and cast errors — so the
  * SQL mirror keeps the plain cast-and-sum form.
  *  - Fast window: a DOUBLE x with r = x·10⁶, |r| < 2⁴⁰ and
  *    |frac(r) − ½| > 10⁻³ is summed as the long u = floor(r + ½) in
  *    two LONG buffer slots (u >> 20 and u & (2²⁰ − 1)).
  *  - Margin: the multiply's rounding error plus the gap between x and
  *    the decimal the cast parses from `Double.toString(x)` stay below
  *    4·10⁻⁴ there, so both round HALF_UP to the same u.
  *  - Delegation: every other row (NaN/±Inf, |r| ≥ 2⁴⁰, r near a
  *    half-unit, any non-DOUBLE input) goes through the cast into a
  *    DECIMAL slot that starts NULL; the result adds the two parts
  *    under `Sum`'s overflow check.
  */
object Q {
  val Dec: DecimalType = ExactSum.Dec

  /** Exact decimal sum rounded to `scale`, as double. */
  def dsum(c: Column, scale: Int = 2): Column =
    round(ExactSum(c), scale).cast("double")

  /** Exact decimal sum / count, divided in IEEE double, rounded. */
  def davg(c: Column, scale: Int = 6): Column =
    round(ExactSum(c).cast("double") / count(c), scale)

  /** Windowed variant of dsum. */
  def dsumOver(c: Column, w: org.apache.spark.sql.expressions.WindowSpec,
               scale: Int = 2): Column =
    round(ExactSum(c).over(w), scale).cast("double")

  /** ISO-8601 UTC second-resolution formatting (reference F1 semantics,
    * xcube_server/utils.py:86-97). */
  val IsoPattern = "yyyy-MM-dd'T'HH:mm:ss'Z'"
  def iso(c: Column): Column = date_format(c, IsoPattern)
}
