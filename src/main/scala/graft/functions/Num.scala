package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Cross-engine-stable rounding: `floor(x*10^n + 0.5)/10^n` uses only exactly
  * specified IEEE754 ops, so Spark and DuckDB agree bit-for-bit (unlike each
  * engine's own `round`, whose half-way tie handling differs on shortest-repr
  * boundaries). Used on every double column that the DuckDB oracle hashes.
  */
object Num {
  def r(c: Column, n: Int): Column = {
    val p = math.pow(10, n)
    floor(c * p + 0.5) / p
  }
  def r6(c: Column): Column = r(c, 6)
  def r4(c: Column): Column = r(c, 4)

  def sqlR(x: String, n: Int): String = s"(floor(($x)*1e$n + 0.5)/1e$n)"
  def sqlR6(x: String): String = sqlR(x, 6)
  def sqlR4(x: String): String = sqlR(x, 4)

  /** Order-independent float aggregation: quantize each term to a LONG at
    * 10^-n resolution BEFORE summing, so the group sum is integer arithmetic —
    * associative and commutative — and its value cannot depend on partial-merge
    * order. Plain `sum(double)` over a GROUP BY accumulates partials in
    * shuffle-fetch (Spark) / thread-completion (DuckDB) order, so a sum landing
    * within float-noise of an `r6` boundary flips between runs of the SAME
    * engine on the SAME data (observed: DuckDB on ts_decompose_dim). The
    * caller divides the summed long back by 10^n (exact for |sum| < 2^53) and
    * is responsible for the overflow bound: max|term|·10^n · group-size must
    * stay far below 2^63.
    */
  def fx(c: Column, n: Int): Column = floor(c * math.pow(10, n) + 0.5).cast("long")
  def fx9(c: Column): Column = fx(c, 9)
  /** DuckDB twin of [[fx]]; `sum` of BIGINT yields HUGEINT there, so the
    * un-scaling in the caller must CAST to DOUBLE before dividing.
    */
  def sqlFx(x: String, n: Int): String = s"CAST(floor(($x)*1e$n + 0.5) AS BIGINT)"
  def sqlFx9(x: String): String = sqlFx(x, 9)

  /** Scalar twins of [[fx]] and [[r]] for driver-side and typed-operator
    * code: the same IEEE ops, and the same long that Spark's `floor` of a
    * double returns (so NaN reads 0), hence bit-identical to the Column
    * forms on every input.
    */
  def fx(x: Double, n: Int): Long = math.floor(x * math.pow(10, n) + 0.5).toLong
  def fx9(x: Double): Long = fx(x, 9)
  def r(x: Double, n: Int): Double = fx(x, n) / math.pow(10, n)
  def r6(x: Double): Double = r(x, 6)

  /** Double literal for DuckDB SQL. A bare `6.283185307179586` parses as
    * DECIMAL(16,15) there (decimal arithmetic then overflows / loses double
    * semantics); e-notation forces DOUBLE.
    */
  def sqlD(d: Double): String = {
    val s = d.toString
    if (s.contains('E') || s.contains('e')) s else s + "e0"
  }
}
