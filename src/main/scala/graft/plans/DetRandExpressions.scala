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
  * the draw is one node whose generated code is straight-line Java.
  *
  * The values are bit-identical to the composed tree (DetRandSpec compares
  * raw bits under whole-stage codegen, without it, and interpreted): both
  * the interpreted and the generated path replay its IEEE-754 operations in
  * the same order, `fmod`'s floor goes through a long as Spark's `floor`
  * does, and the transcendental calls are the ones Spark's own expressions
  * make — `StrictMath.log` for `Log`, `Math.sqrt` and `Math.cos` for `Sqrt`
  * and `Cos`. Swapping in `Math.log` changes low bits.
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

  /** Box–Muller over streams 2s and 2s+1; null where Spark's `log` is. */
  def gauss(key: Double, stream: Int): Any = {
    val u1 = u01(key, 2 * stream)
    val u2 = u01(key, 2 * stream + 1)
    if (u1 <= 0.0) null
    else math.sqrt(-2.0 * StrictMath.log(u1)) * math.cos(TwoPi * u2)
  }

  def javaDouble(d: Double): String = s"${d}D"

  /** Java statements declaring `out` as [[u01]] of the double `key`: one
    * statement per LCG round, each reducing mod 2^31 as [[fmod]] does. */
  def u01Code(ctx: CodegenContext, key: String, stream: Int, out: String): String = {
    val x = ctx.freshName("x")
    val m = javaDouble(M)
    def round(next: String): String = s"$x = $next; $x = $x - (double) (long) java.lang.Math.floor($x / $m) * $m;"
    s"""
       |double $x;
       |${round(s"$key * 40503.0D + ${javaDouble(seedOffset(stream))} + 12345.0D")}
       |${round(s"$x * ${javaDouble(seedMultiplier(stream))}")}
       |${round(s"$x * 69069.0D + 12345.0D")}
       |${round(s"$x * 69069.0D + 12345.0D")}
       |double $out = ($x + 0.5D) / $m;
     """.stripMargin
  }
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
    nullSafeCodeGen(ctx, ev, key => {
      val u = ctx.freshName("u")
      s"""
         |${DetDraw.u01Code(ctx, key, stream, u)}
         |${ev.value} = $u;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): DetU01 =
    copy(child = newChild)
}

/** Standard normal draw of a DOUBLE key (Box–Muller over streams 2s and
  * 2s+1); null where Spark's `log` is. See [[DetDraw]]. */
case class DetGauss(child: Expression, stream: Int) extends DetDrawExpression {
  override def prettyName: String = "graft_det_gauss"

  override def nullSafeEval(key: Any): Any = DetDraw.gauss(key.asInstanceOf[Double], stream)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, key => {
      val u1 = ctx.freshName("u1")
      val u2 = ctx.freshName("u2")
      s"""
         |${DetDraw.u01Code(ctx, key, 2 * stream, u1)}
         |${DetDraw.u01Code(ctx, key, 2 * stream + 1, u2)}
         |if ($u1 <= 0.0D) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = java.lang.Math.sqrt(-2.0D * java.lang.StrictMath.log($u1))
         |    * java.lang.Math.cos(${DetDraw.javaDouble(DetDraw.TwoPi)} * $u2);
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): DetGauss =
    copy(child = newChild)
}
