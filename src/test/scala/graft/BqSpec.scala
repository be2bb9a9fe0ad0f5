package graft

import graft.operators.BqOps
import org.apache.spark.sql.functions._

class BqSpec extends SparkSpec {

  test("BQ encoding and Hamming scoring stay inside WholeStageCodegen") {
    // the encoder is a literal fold of comparisons and the scorer is
    // xor+popcount on two longs — NO HigherOrderFunction anywhere, so every
    // stage of the scored plan must carry codegen (the property SqSpec had to
    // recover with a fused kernel, free here by construction)
    val df = BqOps.bqTopK(spark, sf)
    df.collect() // finalize THIS QueryExecution (count() builds a new one)
    val plan = df.queryExecution.executedPlan
    val wscg = Codegen.stages(plan)
    assert(wscg.nonEmpty, plan.toString.take(2000))
    assert(wscg.exists(_.toString.contains("bit_count")), plan.toString.take(2000))
    Codegen.compile(wscg) // no silent interpreted fallback
  }

  test("fused BqPack kernel encodes identically to the literal comparison fold") {
    val kernel = BqOps.codes(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val literal = BqOps.codesLiteral(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(kernel == literal && kernel.nonEmpty)
  }

  test("BQ code words are 32-bit and Hamming distances are bounded by Dim") {
    val words = BqOps.codes(spark, sf)
      .filter(col("lo") < 0L || col("lo") > 0xFFFFFFFFL ||
        col("hi") < 0L || col("hi") > 0xFFFFFFFFL)
    assert(words.count() == 0)
    val ham = BqOps.bqTopK(spark, sf)
      .filter(col("hamming") < 0 || col("hamming") > BqOps.Dim)
    assert(ham.count() == 0)
  }

  test("BQ Hamming distance is symmetric across query/corpus roles") {
    // both sides binarize through the same thresholds, so d(a,b) = d(b,a):
    // check on the pairs where both roles appear in the query subset
    val t = BqOps.bqTopK(spark, sf)
      .select(col("qid"), col("neighbor_id").as("nid"), col("hamming"))
      .filter(col("nid") < operators.Similarity.NumQueries)
      .localCheckpoint(true)
    val asym = t.as("x")
      .join(t.as("y"), col("x.qid") === col("y.nid") && col("x.nid") === col("y.qid"))
      .filter(col("x.hamming") =!= col("y.hamming"))
    assert(asym.count() == 0)
  }

  test("BQ pooled recall clears the sanity floor") {
    val recall = BqOps.bqRecall(spark, sf)
      .filter(col("qid") === -1).collect()(0).getDouble(1)
    assert(recall >= 0.15, s"BQ pooled recall unexpectedly low: $recall")
  }
}
