package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, DoubleType}

/** [[graft.functions.DetRand]]'s uniform and Gaussian draws as one Catalyst
  * node each, over a DOUBLE key.
  *
  * Composed from Column arithmetic, `fmod(x) = x − floor(x/M)·M` names its
  * argument twice, so one uniform draw held 16 copies of its key expression
  * and one Gaussian 32; a diffusion plan carried thousands of expression
  * nodes through analysis, optimization and codegen source generation. Here
  * the draw is one node, and both its interpreted and its generated path
  * call this object's methods.
  *
  * The values are bit-identical to the composed tree (DetRandSpec compares
  * raw bits under whole-stage codegen, without it, and interpreted): the
  * methods replay its IEEE-754 operations in the same order, `fmod`'s floor
  * goes through a long as Spark's `floor` does, and the transcendental calls
  * are the ones Spark's own expressions make — `StrictMath.log` for `Log`,
  * `Math.sqrt` and `Math.cos` for `Sqrt` and `Cos`. Swapping in `Math.log`
  * changes low bits.
  */
private[graft] object DetDraw {
  val M = 2147483648.0 // 2^31
  val TwoPi: Double = 2.0 * math.Pi

  private def fmod(x: Double): Double = x - math.floor(x / M).toLong.toDouble * M
  private def seedOffset(stream: Int): Double = stream.toDouble * 30011.0
  private def seedMultiplier(stream: Int): Double = 69069.0 + 2.0 * stream

  def u01(key: Double, stream: Int): Double = {
    var x = fmod(key * 40503.0 + seedOffset(stream) + 12345.0)
    x = fmod(x * seedMultiplier(stream))
    x = fmod(x * 69069.0 + 12345.0)
    x = fmod(x * 69069.0 + 12345.0)
    (x + 0.5) / M
  }

  /** Box–Muller over streams 2s and 2s+1. The draw is null where
    * [[gaussIsNull]] holds (Spark's `log` is null there), and this value is
    * meaningless. */
  def gauss(key: Double, stream: Int): Double =
    math.sqrt(-2.0 * StrictMath.log(u01(key, 2 * stream))) *
      math.cos(TwoPi * u01(key, 2 * stream + 1))

  /** Whether [[gauss]]'s first uniform is ≤ 0, where Spark's `log` is null. */
  def gaussIsNull(key: Double, stream: Int): Boolean = u01(key, 2 * stream) <= 0.0

  /** The class generated code calls these methods on. */
  val ClassName: String = getClass.getName.stripSuffix("$")
}

/** A draw over a DOUBLE key; a mis-typed key fails analysis. Nullable like
  * the composed tree, whose `/` and `log` are. */
sealed trait DetDrawExpression extends UnaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == DoubleType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName expects a DOUBLE key, got ${child.dataType.sql}")
}

/** Uniform (0,1) draw of a DOUBLE key on one stream; see [[DetDraw]]. */
case class DetU01(child: Expression, stream: Int) extends DetDrawExpression {
  override def prettyName: String = "graft_det_u01"

  override def nullSafeEval(key: Any): Any = DetDraw.u01(key.asInstanceOf[Double], stream)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, key => s"${DetDraw.ClassName}.u01($key, $stream)")

  override protected def withNewChildInternal(newChild: Expression): DetU01 =
    copy(child = newChild)
}

/** Standard normal draw of a DOUBLE key (Box–Muller over streams 2s and
  * 2s+1); null where Spark's `log` is. See [[DetDraw]]. The generated code
  * sets the null flag and the value without branching on the flag (the
  * value is unused where the flag is set): without the branch,
  * `diff_sample_iterative`'s 50 draws fit one method under HotSpot's
  * 8,000-byte JIT limit (7,793 bytes; 8,143 with it). */
case class DetGauss(child: Expression, stream: Int) extends DetDrawExpression {
  override def prettyName: String = "graft_det_gauss"

  override def nullSafeEval(key: Any): Any = {
    val k = key.asInstanceOf[Double]
    if (DetDraw.gaussIsNull(k, stream)) null else DetDraw.gauss(k, stream)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, key =>
      s"""${ev.isNull} = ${DetDraw.ClassName}.gaussIsNull($key, $stream);
         |${ev.value} = ${DetDraw.ClassName}.gauss($key, $stream);""".stripMargin)

  override protected def withNewChildInternal(newChild: Expression): DetGauss =
    copy(child = newChild)
}
