package graft.plans

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}

/** The arithmetic of the vector kernels in `VectorExpressions`, one method
  * per kernel. Each expression's `nullSafeEval` calls its method, and its
  * `doGenCode` emits one call to the same method (as Spark's expressions call
  * `DateTimeUtils`), so the interpreted and the generated path run the same
  * code and cannot drift apart. Reference data (stats, codebooks, matrices,
  * thresholds) arrives as flat primitive arrays.
  */
object VectorKernels {

  /** The class generated code calls these methods on. */
  val ClassName: String = getClass.getName.stripSuffix("$")

  private def at(v: ArrayData, i: Int, isFloat: Boolean): Double =
    if (isFloat) v.getFloat(i).toDouble else v.getDouble(i)

  /** dot(x, y) / (|x|·|y|) over the common prefix, one sequential pass. */
  def cosine(x: ArrayData, y: ArrayData): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val xv = x.getDouble(i); val yv = y.getDouble(i)
      dot += xv * yv; na += xv * xv; nb += yv * yv
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Squared L2 distance over the common prefix. */
  def l2Sq(x: ArrayData, y: ArrayData): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      val d = x.getDouble(i) - y.getDouble(i)
      acc += d * d
      i += 1
    }
    acc
  }

  /** Squared L2 with each per-dimension square quantized to integer micros
    * (⌊d²·1e6 + ½⌋) before it is summed as a long. */
  def l2SqFx6(x: ArrayData, y: ArrayData): Long = {
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0L
    var i = 0
    while (i < n) {
      val d = x.getDouble(i) - y.getDouble(i)
      acc += math.floor(d * d * 1e6 + 0.5).toLong
      i += 1
    }
    acc
  }

  /** SQ8 quantize→dequantize: code = clamp(⌊(x−mn_d)/Δ_d⌋, 0, 255), output
    * mn_d + (code+½)·Δ_d, over the first min(|v|, |mn|) dimensions. */
  def sq8Deq(v: ArrayData, isFloat: Boolean, mn: Array[Double], dl: Array[Double]): ArrayData = {
    val n = math.min(v.numElements(), mn.length)
    val out = new Array[Double](n)
    var i = 0
    while (i < n) {
      val x = at(v, i, isFloat)
      val m = mn(i); val s = dl(i)
      val code = if (s == 0.0) 0L
        else math.min(math.max(math.floor((x - m) / s).toLong, 0L), 255L)
      out(i) = m + (code + 0.5) * s
      i += 1
    }
    ArrayData.toArrayData(out)
  }

  /** r6-rounded squared L2 between the vector's `m`-th `subDim` slice and
    * codebook entry `e` (weights flat, `subDim` per entry). */
  private def pqDist(v: ArrayData, subDim: Int, m: Int, weights: Array[Double], e: Int): Double = {
    var acc = 0.0
    var j = 0
    while (j < subDim) {
      val d = v.getDouble(m * subDim + j) - weights(e * subDim + j)
      acc += d * d
      j += 1
    }
    math.floor(acc * 1e6 + 0.5) / 1e6
  }

  /** PQ encode: per subspace, the id of the nearest entry; entries sorted by
    * (m, c), so the first strict minimum wins ties. */
  def pqCodes(v: ArrayData, subDim: Int, numSub: Int, entryM: Array[Int], entryC: Array[Int],
              weights: Array[Double]): ArrayData = {
    val out = new Array[Int](numSub)
    val best = Array.fill(numSub)(Double.PositiveInfinity)
    var e = 0
    while (e < entryM.length) {
      val m = entryM(e)
      val r = pqDist(v, subDim, m, weights, e)
      if (r < best(m)) { best(m) = r; out(m) = entryC(e) }
      e += 1
    }
    new GenericArrayData(out)
  }

  /** PQ distance table: the r6 distance to every entry, in entry order. */
  def pqDists(v: ArrayData, subDim: Int, entryM: Array[Int], weights: Array[Double]): ArrayData = {
    val out = new Array[Double](entryM.length)
    var e = 0
    while (e < entryM.length) {
      out(e) = pqDist(v, subDim, entryM(e), weights, e)
      e += 1
    }
    new GenericArrayData(out)
  }

  /** out(i) = (Σ_j ⌊w(i)(j)·v(j)·1e9 + ½⌋) / 1e9 over a row-major matrix. */
  def matVecFx(v: ArrayData, rows: Int, cols: Int, weights: Array[Double]): ArrayData = {
    val out = new Array[Double](rows)
    var i = 0
    while (i < rows) {
      var acc = 0L
      var j = 0
      while (j < cols) {
        acc += math.floor(weights(i * cols + j) * v.getDouble(j) * 1e9 + 0.5).toLong
        j += 1
      }
      out(i) = acc / 1e9
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Sign bits: bit j = [v(base+j) > thr(base+j)] for j < `bits`. */
  def bqPack(v: ArrayData, isFloat: Boolean, thr: Array[Double], base: Int, bits: Int): Long = {
    var acc = 0L
    var j = 0
    while (j < bits) {
      if (at(v, base + j, isFloat) > thr(base + j)) acc |= (1L << j)
      j += 1
    }
    acc
  }
}
