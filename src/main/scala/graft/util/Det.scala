package graft.util

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** Determinism helpers for oracle-checked outputs (SURVEY §7.3/§7.4).
  *
  * The driver hash-compares our parquet dumps against DuckDB running the
  * `oracleSql` twin on the same files. Floating-point SUMs are
  * order-dependent, and Spark vs DuckDB aggregate in different orders — so
  * any double SUM would hash-mismatch. The fix: accumulate in DECIMAL
  * (exact, order-independent), then cast the final value back to DOUBLE
  * (deterministic nearest-double). Both engines produce bit-identical
  * results.
  */
object Det {
  /** Order-independent sum of a double column:
    * `CAST(SUM(CAST(x AS DECIMAL(18,2))) AS DOUBLE)`.
    *
    * ONLY cast RAW parquet columns to decimal — never computed doubles:
    * Spark rounds via the double's shortest decimal representation
    * (BigDecimal.valueOf) while DuckDB rounds the full binary expansion, so
    * a computed product can land on different cents. For products, cast the
    * raw factors with [[dec]] first and multiply in exact decimal
    * arithmetic ([[sumDec]]).
    */
  def decSum(c: Column): Column =
    sum(c.cast(DecimalType(18, 2))).cast(DoubleType)

  /** Raw column → DECIMAL(18,2) (see caveat on [[decSum]]). */
  def dec(c: Column): Column = c.cast(DecimalType(18, 2))

  /** Sum of an already-exact decimal expression, emitted as double. */
  def sumDec(c: Column): Column = sum(c).cast(DoubleType)

  /** Exact discounted price: dec(price) · (1 − dec(discount)). */
  def discPrice(price: Column, discount: Column): Column =
    dec(price) * (lit(1) - dec(discount))

  def discPriceSql: String =
    "CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))"

  def sumDecSql(expr: String): String = s"CAST(SUM($expr) AS DOUBLE)"

  /** The DuckDB twin of [[decSum]] as a SQL fragment. */
  def decSumSql(expr: String): String =
    s"CAST(SUM(CAST($expr AS DECIMAL(18,2))) AS DOUBLE)"

  /** Bit-exact cross-engine quantization to `n` decimal places:
    * `floor(x*10^n + 0.5)/10^n`. Unlike `round()` (whose rounding path
    * differs between Spark's BigDecimal HALF_UP and DuckDB's C round, up to
    * 1 ulp), this is pure IEEE arithmetic — identical in both engines.
    */
  def qround(c: Column, n: Int): Column = {
    val p = math.pow(10, n)
    floor(c * p + 0.5) / p
  }

  def qroundSql(expr: String, n: Int): String = {
    val p = math.pow(10, n).toLong
    s"FLOOR(($expr) * $p.0 + 0.5) / $p.0"
  }
}
