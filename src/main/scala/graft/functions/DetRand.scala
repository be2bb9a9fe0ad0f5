package graft.functions

import graft.plans.{DetGauss, DetU01}
import org.apache.spark.sql.Column
import org.apache.spark.sql.graftbridge.Bridge

/** Deterministic, cross-engine pseudo-random columns (SURVEY.md §7.2).
  *
  * The reference draws its generator parameters from `np.random.uniform` /
  * `torch.randn` (/root/reference/utils/data_generators.py:60-101). Oracle-checked
  * queries are re-executed by DuckDB, so engine-native `rand()` is out: instead we
  * use a 2-round LCG (Marsaglia multiplier 69069, mod 2^31) built ONLY from IEEE754
  * ops that are exactly specified (`*`, `+`, `-`, `floor`, `/`): every intermediate
  * stays below 2^53, so Spark and DuckDB compute bit-identical doubles.
  *
  * Gaussians come from Box-Muller over two uniform streams; `log`/`cos` are libm
  * calls (≤1 ulp cross-engine skew), which downstream rounding absorbs — see
  * [[Num.r6]].
  *
  * Keys must satisfy |key| < 2e11 so that key*40503 stays exact.
  */
object DetRand {
  /** Uniform (0,1), bit-identical in Spark and DuckDB ([[sqlU01]]). One
    * Catalyst node ([[graft.plans.DetU01]]) replays the 2-round LCG below
    * over `key` cast to DOUBLE:
    * {{{
    *   fmod(x) = x − floor(x / M)·M,   M = 2^31
    *   seed    = fmod(key·40503 + stream·30011 + 12345)
    *   x       = lcg(lcg(fmod(seed·(69069 + 2·stream))))   lcg(x) = fmod(x·69069 + 12345)
    *   u01     = (x + 0.5) / M
    * }}}
    *
    * The first multiplier is stream-dependent: with a shared multiplier,
    * consecutive streams of the same key stay a constant offset apart through
    * every (affine) LCG round — Box-Muller over such a pair collapses to a 1-D
    * transform and biases the Gaussian mean (caught by GeneratorsSpec's
    * white-noise moments test). Distinct multipliers per stream break the
    * affine relation.
    */
  def u01(key: Column, stream: Int): Column =
    Bridge.column(DetU01(Bridge.expression(key.cast("double")), stream))

  def uniform(key: Column, stream: Int, lo: Double, hi: Double): Column =
    u01(key, stream) * (hi - lo) + lo

  /** Standard normal via Box-Muller, sqrt(−2·ln u1)·cos(2π·u2) with u1, u2
    * the [[u01]] draws of streams 2s and 2s+1 ([[graft.plans.DetGauss]]). */
  def gauss(key: Column, stream: Int): Column =
    Bridge.column(DetGauss(Bridge.expression(key.cast("double")), stream))

  // ---- DuckDB SQL twins (same arithmetic, same op order) ----

  def sqlFmod(x: String): String =
    s"(($x) - floor(($x)/2147483648.0)*2147483648.0)"
  def sqlLcg(x: String): String = sqlFmod(s"($x)*69069.0 + 12345.0")
  def sqlU01(key: String, stream: Int): String = {
    val seed = sqlFmod(s"($key)*40503.0 + $stream.0*30011.0 + 12345.0")
    s"((${sqlLcg(sqlLcg(sqlFmod(s"($seed)*${69069.0 + 2.0 * stream}")))}) + 0.5)/2147483648.0"
  }
  def sqlUniform(key: String, stream: Int, lo: Double, hi: Double): String =
    s"((${sqlU01(key, stream)})*(${Num.sqlD(hi - lo)}) + (${Num.sqlD(lo)}))"
  def sqlGauss(key: String, stream: Int): String =
    s"(sqrt(-2.0*ln(${sqlU01(key, 2 * stream)}))*cos(${Num.sqlD(2.0 * math.Pi)}*(${sqlU01(key, 2 * stream + 1)})))"
}
