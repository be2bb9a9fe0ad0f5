package graft

import graft.operators.{OpqOps, PqOps, Similarity}
import org.apache.spark.sql.functions._

/** OPQ: eigenbasis fit, snake-draft allocation, fused rotation kernel, and
  * the rotated-space ADC pipeline. Structural invariants only — on this
  * near-isotropic corpus 8 power-iteration steps do NOT fully converge, so
  * neither eigenvalue monotonicity nor exact orthogonality is asserted (the
  * r5/r6 lesson: assert what the procedure guarantees, not what sounds
  * plausible).
  */
class OpqSpec extends SparkSpec {

  test("eigenbasis: unit-norm loadings; rank 0 bit-identical to emb_pca_top") {
    val basis = OpqOps.basisFlat(spark, sf).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getDouble(2), r.getDouble(3)))
    assert(basis.length == OpqOps.BasisK * PqOps.Dim)
    // every surfaced eigenvector is unit-norm up to r6 quantization
    for ((p, rows) <- basis.groupBy(_._1)) {
      val nrm = math.sqrt(rows.map(t => t._3 * t._3).sum)
      assert(math.abs(nrm - 1.0) < 1e-3, s"rank $p norm $nrm")
    }
    // the procedure that extracts rank 0 IS pcaTop's: loadings must match
    // bit-for-bit (same covariance, same fx discipline)
    val top = Similarity.pcaTop(spark, sf).orderBy("d")
      .select("loading").collect().map(_.getDouble(0))
    val rank0 = basis.filter(_._1 == 0).sortBy(_._2).map(_._3)
    assert(rank0.toSeq == top.toSeq)
  }

  test("snake-draft allocation is a bijection dealing each subspace SubDim ranks") {
    val dims = (0 until PqOps.Dim).map(OpqOps.allocatedDim)
    assert(dims.toSet == (0 until PqOps.Dim).toSet)
    // each subspace receives exactly one eigenvector per round, so its slots
    // 0..SubDim-1 hold ranks from rounds 0..SubDim-1 in order
    for (p <- 0 until PqOps.Dim) {
      val round = p / PqOps.M
      assert(dims(p) % PqOps.SubDim == round, s"rank $p landed in slot ${dims(p)}")
    }
  }

  test("rotation matrix is near-orthogonal and the fused kernel matches a driver replay") {
    val rot = OpqOps.rotationMatrix(OpqOps.basisFor(spark, sf))
    val n = rot.length
    for (i <- 0 until n) {
      val selfDot = rot(i).zip(rot(i)).map { case (a, b) => a * b }.sum
      assert(math.abs(selfDot - 1.0) < 1e-3, s"row $i self dot $selfDot")
    }
    // non-converged iterates leave residual correlation; bound it loosely
    val worst = (for (i <- 0 until n; j <- i + 1 until n)
      yield math.abs(rot(i).zip(rot(j)).map { case (a, b) => a * b }.sum)).max
    assert(worst < 0.25, s"cross-dot $worst")

    val raw = graft.Tables.embeddings(spark, sf).filter(col("vec_id") < 10)
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val got = OpqOps.rotated(spark, sf).filter(col("vec_id") < 10)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    for ((vid, v) <- raw) {
      val exp = rot.map { row =>
        row.indices.map(j => math.floor(row(j) * v(j) * 1e9 + 0.5).toLong).sum / 1e9
      }
      assert(got(vid) == exp, s"vec $vid")
    }
  }

  test("rotation projection stays inside WholeStageCodegen and compiles") {
    val plan = OpqOps.rotated(spark, sf).queryExecution.executedPlan
    val wscg = Codegen.stages(plan)
    assert(wscg.nonEmpty, plan.toString.take(2000))
    Codegen.compile(wscg)
  }

  test("rotated-space ADC keeps the PQ shape invariants; pooled recall sane") {
    val tk = OpqOps.opqAdcTopK(spark, sf).cache()
    val perQ = tk.groupBy("qid").count().agg(min("count"), max("count")).collect()(0)
    assert(perQ.getLong(0) == PqOps.TopK && perQ.getLong(1) == PqOps.TopK)
    assert(tk.filter(col("qid") === col("neighbor_id")).count() == 0)
    tk.unpersist()

    val r = OpqOps.opqAdcRecall(spark, sf)
    val grand = r.filter(col("qid") === -1).collect()
    assert(grand.length == 1)
    val rec = grand.head.getAs[Double]("recall")
    assert(rec > 0.0 && rec <= 1.0)
  }
}
