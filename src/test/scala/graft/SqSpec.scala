package graft

import graft.operators.{PqOps, SqOps}
import org.apache.spark.sql.functions._

class SqSpec extends SparkSpec {

  test("SQ8 scoring runs the fused kernel inside WholeStageCodegen") {
    val df = SqOps.sq8TopK(spark, sf)
    // drive THIS QueryExecution (count() would build a new one and leave this
    // plan un-finalized, isFinalPlan=false, with no codegen inserted yet)
    df.collect()
    val wscg = Codegen.stages(df.queryExecution.executedPlan)
    assert(wscg.exists(_.toString.contains("l2sqfx6")), df.queryExecution.executedPlan.toString.take(2000))
    // and every codegen stage actually compiles (no silent interpreted fallback)
    Codegen.compile(wscg)
  }

  test("fused Sq8Deq equals the transform-chain dequantization it replaced") {
    // recompute the stats the operator would (raw floats cast to double)
    val rows = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(posexplode(transform(col("embedding"), x => x.cast("double"))))
      .groupBy("pos").agg(min("col").as("mn"), max("col").as("mx")).orderBy("pos").collect()
    val mn = rows.map(_.getDouble(1)).toSeq
    val dl = rows.map(r => (r.getDouble(2) - r.getDouble(1)) / SqOps.Levels).toSeq
    val mnL = typedLit(mn); val dlL = typedLit(dl)
    val hofDeq = {
      val v = transform(col("embedding"), x => x.cast("double"))
      val codes = transform(v, (x, i) => {
        val m = element_at(mnL, i + 1); val s = element_at(dlL, i + 1)
        when(s === 0.0, lit(0L))
          .otherwise(least(greatest(floor((x - m) / s), lit(0L)), lit(SqOps.Levels.toLong)))
      })
      transform(codes, (c, i) =>
        element_at(mnL, i + 1) + (c.cast("double") + lit(0.5)) * element_at(dlL, i + 1))
    }
    val diff = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(graft.plans.VectorFunctions.sq8_deq(col("embedding"), mn, dl).as("a"),
        hofDeq.as("b"))
      .filter(col("a") =!= col("b"))
    assert(diff.count() == 0)
  }

  test("SQ8 distances are a true upper-bounded approximation of exact L2") {
    // mid-rise quantization bounds each per-dim error by Δ/2, so
    // |sdist − exact| ≤ Σ (Δ_d·(|diff| + Δ_d/4)) — rather than replay that
    // bound, assert the cheap structural consequences on the fixture: the
    // approximate self-ordering agrees with exact L2 on a large majority of
    // top-10 lists (recall vs bfL2TopK already oracle-checked), and every
    // sdist is non-negative and finite.
    val bad = SqOps.sq8TopK(spark, sf)
      .filter(col("sdist") < 0.0 || col("sdist").isNull || isnan(col("sdist")))
    assert(bad.count() == 0)
    val recall = SqOps.sq8Recall(spark, sf)
      .filter(col("qid") === -1).collect()(0).getDouble(1)
    assert(recall >= 0.9, s"SQ8 pooled recall unexpectedly low: $recall")
  }

  test("IVF-SQ8 neighbors lie in their query's probed cells") {
    val cells = PqOps.corpusCells(spark, sf).withColumnRenamed("vec_id", "neighbor_id")
    val probed = PqOps.probedCells(spark, sf)
    val escaped = SqOps.ivfSq8TopK(spark, sf)
      .join(cells, "neighbor_id")
      .join(probed.withColumnRenamed("cell", "probed_cell"), Seq("qid"), "left")
      .groupBy("qid", "neighbor_id", "cell")
      .agg(max(when(col("cell") === col("probed_cell"), 1).otherwise(0)).as("in_probed"))
      .filter(col("in_probed") === 0)
    assert(escaped.count() == 0)
  }
}
