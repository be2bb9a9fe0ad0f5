package graft.plans

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, LongType}

/** Fused forward-rDFT aggregate: per input row (detr, t, n) it accumulates
  * ALL `maxK` bins' fx9-quantized re/im terms into one 2·maxK long buffer.
  * An explode-join form would fan every fact row out 64× through a
  * BroadcastHashJoin before aggregating; at sf10 that join pipeline cost
  * 21 of 27 s, against ~2 s for the trig itself.
  *
  * Bit parity with the composed form (and the DuckDB oracle twin) is exact:
  * every term replays the identical double tree the Catalyst expression
  * built — theta = ((2π · k) · t) / n with the same int→double casts, term =
  * floor(((detr · cos(theta)) · 1e9) + 0.5) as a long — and long addition is
  * order-independent, so bucketing/merge order cannot move the sums
  * (the Num.fx discipline, EventsOps.spectrumOf).
  *
  * Bins k = 1..min(maxK, ceil(n/2)−1), matching the freqs generator's
  * per-series bound; rows with n < 3 contribute nothing (callers filter them
  * anyway, mirroring the old inner join against the n ≥ 3 freqs table). The
  * buffer stays a fixed 2·maxK longs; unused high bins are zero and the
  * caller's explode only reads the valid prefix.
  */
case class DftSumsAgg(
    detr: Expression, t: Expression, n: Expression, maxK: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[Array[Long]] {

  private val TwoPi = 2.0 * math.Pi

  override def children: Seq[Expression] = Seq(detr, t, n)
  // declared input check makes a mis-typed caller (e.g. a LongType t) an
  // analysis-time error instead of an executor ClassCastException
  override def checkInputDataTypes(): TypeCheckResult =
    if (detr.dataType == DoubleType && t.dataType == IntegerType && n.dataType == LongType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects (DOUBLE, INT, BIGINT) inputs, got " +
        s"(${detr.dataType.sql}, ${t.dataType.sql}, ${n.dataType.sql})")
  // null when NO non-null (detr, t, n) triple contributed — matching what the
  // composed sum(fx9(...)) form returned for an all-null group;
  // unreachable from today's callers (detr = value − trend is non-null by
  // construction) but kept parity-exact for reuse on nullable signals
  override def nullable: Boolean = true
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_dft_sums"

  // slot 2·maxK is the seen-row flag; slots 0..2·maxK−1 the (re, im) sums
  override def createAggregationBuffer(): Array[Long] = new Array[Long](2 * maxK + 1)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val d = detr.eval(input); val tv = t.eval(input); val nv = n.eval(input)
    if (d != null && tv != null && nv != null) {
      buf(2 * maxK) = 1L
      val dd = d.asInstanceOf[Double]
      val td = tv.asInstanceOf[Int].toDouble
      val nl = nv.asInstanceOf[Long]
      val nd = nl.toDouble
      // ceil(n/2) − 1 exactly as the freqs generator computes it
      val kMax = math.min(maxK.toLong, math.ceil(nd / 2.0).toLong - 1L).toInt
      var k = 1
      while (k <= kMax) {
        val theta = TwoPi * k.toDouble * td / nd
        buf(2 * (k - 1)) += math.floor(dd * Math.cos(theta) * 1e9 + 0.5).toLong
        buf(2 * (k - 1) + 1) += math.floor(dd * Math.sin(theta) * 1e9 + 0.5).toLong
        k += 1
      }
    }
    buf
  }

  override def merge(b1: Array[Long], b2: Array[Long]): Array[Long] = {
    var i = 0
    while (i < 2 * maxK) { b1(i) += b2(i); i += 1 }
    b1(2 * maxK) |= b2(2 * maxK)
    b1
  }

  override def eval(buf: Array[Long]): Any =
    if (buf(2 * maxK) == 0L) null
    else new GenericArrayData(java.util.Arrays.copyOf(buf, 2 * maxK))

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(buf.length * 8)
    var i = 0
    while (i < buf.length) { bb.putLong(buf(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = ByteBuffer.wrap(bytes)
    val out = new Array[Long](bytes.length / 8)
    var i = 0
    while (i < out.length) { out(i) = bb.getLong(); i += 1 }
    out
  }

  override def withNewMutableAggBufferOffset(off: Int): DftSumsAgg =
    copy(mutableAggBufferOffset = off)
  override def withNewInputAggBufferOffset(off: Int): DftSumsAgg =
    copy(inputAggBufferOffset = off)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): DftSumsAgg =
    copy(detr = c(0), t = c(1), n = c(2))
}

object DftSumsAgg {
  /** Column form: `dftSums(detr, t, n, maxK)` → ARRAY<LONG> of 2·maxK
    * interleaved (re, im) fx9 term sums, index 2(k−1)/2(k−1)+1 for bin k. */
  def dftSums(detr: Column, t: Column, n: Column, maxK: Int): Column =
    Bridge.column(DftSumsAgg(Bridge.expression(detr), Bridge.expression(t),
      Bridge.expression(n), maxK).toAggregateExpression())
}
