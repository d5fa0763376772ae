package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Cross-engine-stable rounding for hash-compared doubles.
  *
  * Spark's `round(x, 4)` on a double rounds the SHORTEST decimal
  * representation (`BigDecimal.valueOf`, HALF_UP) while DuckDB's rounds
  * the exact binary value — they disagree on every shortest-repr tie
  * (e.g. the double printed "47.25375": Spark → 47.2538, DuckDB →
  * 47.2537, because its binary value is 47.253749999…). Any rational
  * quotient whose reduced denominator is 2^a·5^b can land on such a tie,
  * so `round()` must never appear in an oracle-compared column.
  *
  * [[r4]]/[[r2]] instead compute `floor(x·10^k + 0.5) / 10^k` in plain
  * double arithmetic; the oracle SQL spells the identical formula, so
  * both engines execute the same IEEE operations on the same input and
  * produce bit-identical results — no tie ambiguity by construction.
  */
object Stable {
  def r4(c: Column): Column = floor(c * 10000.0 + 0.5) / 10000.0
  def r2(c: Column): Column = floor(c * 100.0 + 0.5) / 100.0
}
