package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Cross-engine numeric determinism helpers.
  *
  * The correctness gate hash-compares Spark results against DuckDB running
  * equivalent ANSI SQL, so every floating-point value we emit must be
  * bit-identical across both engines. Three rules make that possible:
  *
  *  1. Element-wise double arithmetic (`+ - * /`, `sqrt`, comparisons) is
  *     IEEE-754-deterministic given identical inputs — no rounding needed.
  *  2. Order-dependent aggregates (sum/avg over many doubles) differ between
  *     engines by summation order. We accumulate in DECIMAL (exact integer
  *     arithmetic, order-insensitive) and cast the final value to double.
  *     Caveat (measured, r12): the decimal→double conversion is uniquely
  *     defined only when it is CORRECTLY ROUNDED — Spark's is
  *     (BigDecimal.doubleValue), but DuckDB's native cast two-step-rounds
  *     (int128→double, then the scale divide) and goes off by 1 ulp once
  *     the unscaled value passes 2^53. Plain 2 dp sums stay far below
  *     that at any tested SF; 4 dp PRODUCT moments (Σx², Σxy) do not, so
  *     their oracle casts route DECIMAL→VARCHAR→DOUBLE (DuckDB's strtod
  *     is correctly rounded) — see stats_corr_exact.
  *     Input data is ≤2-decimal so DECIMAL(·,2) is exact.
  *  3. Transcendentals (exp/ln/pow) may differ by 1 ulp between libm and
  *     java.lang.Math. `r6` quantizes via a floor-trick computed in plain
  *     IEEE ops (NOT Spark's `round`, whose BigDecimal/string semantics
  *     differ from DuckDB's binary rounding) so a 1-ulp input wiggle flips
  *     the output with probability ~1e-10.
  */
object Num {
  /** floor(x·10^n + 0.5)/10^n — deterministic cross-engine quantization.
    * DuckDB equivalent: `floor(x * 1eN + 0.5) / 1eN`. */
  private def rN(c: Column, scale: Double): Column = floor(c * scale + lit(0.5)) / scale
  def r1(c: Column): Column = rN(c, 1e1)
  def r2(c: Column): Column = rN(c, 1e2)
  def r6(c: Column): Column = rN(c, 1e6)

  /** Order-insensitive exact sum of a ≤2-decimal double column, emitted as
    * double. DuckDB: `CAST(sum(CAST(x AS DECIMAL(27,2))) AS DOUBLE)`. */
  def dsum(c: Column): Column = sum(c.cast(DecimalType(27, 2))).cast("double")

  /** Order-insensitive exact sum of a ≤6-decimal double column (r6-
    * quantized terms: each double is the nearest-binary of a 6-decimal
    * value, and the decimal cast recovers it exactly in both engines).
    * DuckDB: [[DSUM6_SQL]]. */
  def dsum6(c: Column): Column = sum(c.cast(DecimalType(27, 6))).cast("double")

  /** Exact average of a ≤2-decimal double column, emitted as double.
    * DuckDB: `CAST(sum(CAST(x AS DECIMAL(27,2))) AS DOUBLE) / count(x)`. */
  def davg(c: Column): Column = dsum(c) / count(c)

  /** SQL fragment helpers for oracle strings (keep Spark + DuckDB in sync). */
  val DSUM_SQL: String => String = x => s"CAST(sum(CAST($x AS DECIMAL(27,2))) AS DOUBLE)"
  val DSUM6_SQL: String => String = x => s"CAST(sum(CAST($x AS DECIMAL(27,6))) AS DOUBLE)"
  val R4_SQL: String => String = x => s"floor(($x) * 10000 + 0.5) / 10000"
  val R6_SQL: String => String = x => s"floor(($x) * 1000000 + 0.5) / 1000000"
}
