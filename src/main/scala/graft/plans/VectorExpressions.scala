package graft.plans

import graft.plans.VectorFunctions.isFloatArray
import graft.plans.VectorKernels.{ClassName => Kernels}
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, IntegerType, LongType}

/** Native Catalyst expression for fused cosine similarity over two
  * ARRAY<DOUBLE> columns (SURVEY.md §7.3 escalation path (b): a custom
  * `Expression` with codegen, preferred over the interpreted higher-order
  * `zip_with`+`aggregate` chain for the ANN hot loop — one pass computes
  * dot, |a|², |b|² together and stays inside WholeStageCodegen).
  *
  * Accumulation order matches the sequential array fold the composed form
  * uses, so results are bit-compatible with the DuckDB oracle's formulation
  * after Num.r6 rounding. Every kernel in this file runs its
  * [[VectorKernels]] method on both the interpreted and the generated path.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def nullSafeEval(a: Any, b: Any): Any =
    VectorKernels.cosine(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"$Kernels.cosine($a, $b)")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Fused squared-L2 distance over two ARRAY<DOUBLE> columns — the k-means /
  * IVF assignment kernel.
  */
case class L2SqDistance(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def nullSafeEval(a: Any, b: Any): Any =
    VectorKernels.l2Sq(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"$Kernels.l2Sq($a, $b)")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Fused fx6 fixed-point squared-L2 over two ARRAY<DOUBLE> columns: each
  * per-dimension squared difference is quantized to integer micros
  * (floor(d²·1e6 + 0.5)) BEFORE accumulating, and the sum is carried as a
  * long — bit-identical to the `aggregate(zip_with(a, b, fx6), 0L, +)`
  * higher-order-function form it replaces (SqOps' asymmetric SQ8 scorer),
  * but as one loop with no per-element lambda dispatch or array allocation.
  */
case class L2SqFx6(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType

  override def nullSafeEval(a: Any, b: Any): Any =
    VectorKernels.l2SqFx6(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"$Kernels.l2SqFx6($a, $b)")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Fused SQ8 quantize→dequantize kernel over a raw ARRAY<FLOAT> (or
  * ARRAY<DOUBLE>) embedding column: per element, code = clamp(⌊(x−mn_d)/Δ_d⌋,
  * 0, 255) and output mn_d + (code+½)·Δ_d — exactly the composed
  * transform(codes(transform(cast)))) chain it replaces, but ONE loop with
  * the per-dimension stats as flat reference arrays. The chain it replaces
  * was the stage-killer: higher-order `transform` lambdas are
  * CodegenFallback, so their presence pushed the ENTIRE scoring stage —
  * including the downstream [[L2SqFx6]] Project — out of WholeStageCodegen
  * (SqSpec asserts the stage now codegens).
  */
case class Sq8Deq(child: Expression, mn: Seq[Double], dl: Seq[Double])
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  private lazy val mnArr: Array[Double] = mn.toArray
  private lazy val dlArr: Array[Double] = dl.toArray
  private lazy val isFloat: Boolean = isFloatArray(child)

  override def nullSafeEval(a: Any): Any =
    VectorKernels.sq8Deq(a.asInstanceOf[ArrayData], isFloat, mnArr, dlArr)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val mnRef = ctx.addReferenceObj("mn", mnArr, "double[]")
    val dlRef = ctx.addReferenceObj("dl", dlArr, "double[]")
    defineCodeGen(ctx, ev, a => s"$Kernels.sq8Deq($a, $isFloat, $mnRef, $dlRef)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Fused product-quantization ENCODE kernel: for each subspace m, the id of
  * the nearest codebook entry to the vector's m-th [[subDim]]-dim slice
  * (squared L2, r6-rounded, (dist, id)-lexicographic tiebreak — the identical
  * argmin the composed array_min-over-literals form computed).
  *
  * Why a custom expression (SURVEY §7.3 escalation (b)): the composed form is
  * M·K separate literal-kernel trees in ONE projection — at 8×16 = 128
  * inlined loops Janino overflows the JVM's 64 KB method limit and the whole
  * stage falls back to interpreted eval. Here the codebook is a single flat
  * reference object and the generated code is one call that stays inside
  * WholeStageCodegen — the shape that matters when the encode pass scans a
  * 100-TB corpus.
  *
  * `entries` must be sorted by (m, c); every subspace must have ≥1 entry.
  */
case class PqCodes(child: Expression, subDim: Int, entries: Seq[(Int, Int, Seq[Double])])
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  @transient private lazy val entryM: Array[Int] = entries.map(_._1).toArray
  @transient private lazy val entryC: Array[Int] = entries.map(_._2).toArray
  @transient private lazy val weights: Array[Double] = entries.flatMap(_._3).toArray
  @transient private lazy val numSub: Int = entries.map(_._1).max + 1

  override def nullSafeEval(a: Any): Any =
    VectorKernels.pqCodes(a.asInstanceOf[ArrayData], subDim, numSub, entryM, entryC, weights)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val mRef = ctx.addReferenceObj("pqEntryM", entryM, "int[]")
    val cRef = ctx.addReferenceObj("pqEntryC", entryC, "int[]")
    val wRef = ctx.addReferenceObj("pqWeights", weights, "double[]")
    defineCodeGen(ctx, ev, a =>
      s"$Kernels.pqCodes($a, $subDim, $numSub, $mRef, $cRef, $wRef)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Fused PQ distance-table kernel: the r6-rounded squared L2 between the
  * vector's m-th slice and EVERY codebook entry, in entry order — the
  * query-side ADC lookup table ([[PqCodes]]' sibling; same flat-codebook
  * reference object, one compact loop instead of M·K literal trees).
  */
case class PqDists(child: Expression, subDim: Int, entries: Seq[(Int, Int, Seq[Double])])
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  @transient private lazy val entryM: Array[Int] = entries.map(_._1).toArray
  @transient private lazy val weights: Array[Double] = entries.flatMap(_._3).toArray

  override def nullSafeEval(a: Any): Any =
    VectorKernels.pqDists(a.asInstanceOf[ArrayData], subDim, entryM, weights)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val mRef = ctx.addReferenceObj("pqEntryM", entryM, "int[]")
    val wRef = ctx.addReferenceObj("pqWeights", weights, "double[]")
    defineCodeGen(ctx, ev, a => s"$Kernels.pqDists($a, $subDim, $mRef, $wRef)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Fused literal-matrix × vector kernel with the repo's fixed-point summation
  * discipline: out(i) = (Σ_j fx9(m(i)(j) · x(j))) / 1e9 — the OPQ rotation
  * applied to every corpus/query vector ([[graft.operators.OpqOps]]). The
  * output keeps the full 1e-9 resolution: rounding rotated coordinates to the
  * r6 grid would put the downstream ADC sums-of-squares EXACTLY on the r6
  * rounding boundary (6-decimal inputs → squares on the 1e-12 grid → sums
  * whose 7th decimal is exactly 5), making the oracle's arbitrary-order SUM
  * flip the floor on ~1% of entries.
  *
  * Why a custom expression (SURVEY §7.3 escalation (b)): composed per-output-
  * dim `aggregate(zip_with(...))` trees would put Dim = 64 literal kernels in
  * one projection — 4× the count that already overflowed Janino's 64 KB limit
  * for [[PqCodes]]. Here the matrix is one flat reference object and the
  * generated code is one call inside WholeStageCodegen. The
  * integer-quantized accumulation makes the result independent of summation
  * order, so the DuckDB oracle's arbitrary-order SUM replays it exactly.
  */
case class MatVecFx(child: Expression, matrix: Seq[Seq[Double]])
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  @transient private lazy val rows: Int = matrix.length
  @transient private lazy val cols: Int = matrix.head.length
  @transient private lazy val weights: Array[Double] = matrix.flatten.toArray

  override def nullSafeEval(a: Any): Any =
    VectorKernels.matVecFx(a.asInstanceOf[ArrayData], rows, cols, weights)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val wRef = ctx.addReferenceObj("mvWeights", weights, "double[]")
    defineCodeGen(ctx, ev, a => s"$Kernels.matVecFx($a, $rows, $cols, $wRef)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Fused binary-quantization sign packing: one 32-bit word of sign bits,
  * bit j = [v[base+j] > thr[base+j]], as a LONG — the [[PqCodes]]-pattern
  * replacement for the 32-term literal CASE fold. The literal tree was
  * CORRECT and codegen'd, but four 32-term trees per BQ plan cost seconds of
  * Catalyst analysis + Janino compilation per query build (measured: 6.1 s
  * plan build vs 3.2 s execution at sf0.01); the thresholds as one reference
  * array compile to one call instead. Same comparison semantics, so
  * results are bit-identical (BqSpec asserts kernel == literal-fold).
  */
case class BqPack(child: Expression, thresholds: Seq[Double], base: Int)
    extends UnaryExpression {

  override def dataType: DataType = LongType

  @transient private lazy val thrArr: Array[Double] = thresholds.toArray
  @transient private lazy val bits: Int = math.min(32, thrArr.length - base)
  @transient private lazy val isFloat: Boolean = isFloatArray(child)

  override def nullSafeEval(a: Any): Any =
    VectorKernels.bqPack(a.asInstanceOf[ArrayData], isFloat, thrArr, base, bits)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val thrRef = ctx.addReferenceObj("bqThr", thrArr, "double[]")
    defineCodeGen(ctx, ev, a => s"$Kernels.bqPack($a, $isFloat, $thrRef, $base, $bits)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object VectorFunctions {
  private[plans] def isFloatArray(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  /** Column wrapper: fused cosine similarity of two ARRAY<DOUBLE> columns. */
  def cosine_sim(a: Column, b: Column): Column =
    Bridge.column(CosineSimilarity(Bridge.expression(a), Bridge.expression(b)))

  /** Column wrapper: fused squared L2 distance of two ARRAY<DOUBLE> columns. */
  def l2_sq(a: Column, b: Column): Column =
    Bridge.column(L2SqDistance(Bridge.expression(a), Bridge.expression(b)))

  /** Column wrapper: fused fx6 fixed-point squared-L2 (long micros sum). */
  def l2_sq_fx6(a: Column, b: Column): Column =
    Bridge.column(L2SqFx6(Bridge.expression(a), Bridge.expression(b)))

  /** Column wrapper: fused SQ8 quantize→dequantize with literal stats. */
  def sq8_deq(v: Column, mn: Seq[Double], dl: Seq[Double]): Column =
    Bridge.column(Sq8Deq(Bridge.expression(v), mn, dl))

  /** Column wrapper: PQ encode — per-subspace nearest-codeword ids.
    * `entries` = (m, c, subDim weights), sorted by (m, c). */
  def pq_codes(v: Column, subDim: Int, entries: Seq[(Int, Int, Seq[Double])]): Column =
    Bridge.column(PqCodes(Bridge.expression(v), subDim, entries.sortBy(t => (t._1, t._2))))

  /** Column wrapper: PQ distance table — r6 L2² to every codebook entry. */
  def pq_dists(v: Column, subDim: Int, entries: Seq[(Int, Int, Seq[Double])]): Column =
    Bridge.column(PqDists(Bridge.expression(v), subDim, entries.sortBy(t => (t._1, t._2))))

  /** Column wrapper: fx9-accumulated literal-matrix rotation of an
    * ARRAY<DOUBLE> column (rows in output order, 1e-9 resolution). */
  def mat_vec_fx(v: Column, matrix: Seq[Seq[Double]]): Column =
    Bridge.column(MatVecFx(Bridge.expression(v), matrix))

  /** Column wrapper: fused BQ sign-bit word pack (bits [base, base+32)). */
  def bq_pack(v: Column, thresholds: Seq[Double], base: Int): Column =
    Bridge.column(BqPack(Bridge.expression(v), thresholds, base))
}
