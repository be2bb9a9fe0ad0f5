package graft.operators

import graft.functions.Num._
import graft.sources.Artifacts
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Scalar quantization (SQ8) ANN — the remaining rung of the compression
  * ladder next to [[PqOps]] (PQ/IVF-PQ) and [[OpqOps]] (OPQ): each of the 64
  * dimensions is quantized INDEPENDENTLY to 8 bits against per-dimension
  * [min, max] corpus statistics, so a vector stores 64 B (4× smaller than
  * float32, 8× larger than the M=8 PQ code). SQ trades less compression for
  * much higher fidelity than PQ and needs no codebook training — just one
  * stats pass — which is why vector services default to it when memory allows
  * (the SQ8 index family of the public FAISS library; Johnson, Douze, Jégou,
  * "Billion-scale similarity search with GPUs", 2017). No reference
  * counterpart (north-star op; the reference is a single-node tensor pipeline,
  * /root/reference/models/diffusion_ts_model.py).
  *
  * Search is asymmetric (ADC): the query stays full-precision and is compared
  * against DEQUANTIZED corpus values (mid-rise reconstruction mn + (code+½)·Δ),
  * so the only approximation error is the corpus rounding, not double
  * quantization.
  *
  * Scale shape: the stats pass is one distributed min/max agg (64 rows
  * collected — bounded, the [[PqOps]] literal-folding discipline); quantize +
  * dequantize fold into ONE projection over the corpus scan with the stats as
  * plan literals; the query subset broadcasts and the corpus side never
  * shuffles. Per-pair distances accumulate in fx6 fixed-point (exact BIGINT in
  * both engines, order-independent — the [[PqOps.adcTopKOver]] discipline).
  */
object SqOps {
  import PqOps.emb
  import Similarity.{NumQueries, TopK}

  val Levels = 255 // codes 0..255 → 255 quantization steps across [mn, mx]

  /** Per-dimension (min, Δ) corpus statistics, collected as literals.
    * Δ = (max − min)/255; a constant dimension (Δ = 0) maps to code 0 and
    * reconstructs to mn + Δ/2 = mn exactly.
    */
  private def statsArr(spark: SparkSession, dir: String): (Seq[Double], Seq[Double]) =
    Artifacts.memo("sq8_stats", dir, Artifacts.corpusFingerprint(spark, dir)) {
      val rows = emb(spark, dir)
        .select(posexplode(col("v")))
        .groupBy(col("pos")).agg(min(col("col")).as("mn"), max(col("col")).as("mx"))
        .orderBy("pos").collect()
      (rows.map(_.getDouble(1)).toSeq,
        rows.map(r => (r.getDouble(2) - r.getDouble(1)) / Levels).toSeq)
    }

  /** 8-bit code per element: clamp(⌊(x − mn_d)/Δ_d⌋, 0, 255). The x = mx_d
    * edge lands on 255 via the clamp whichever side of the representable
    * boundary (mx − mn)/Δ falls — both engines run the identical doubles.
    */
  private def codesCol(v: Column, mn: Seq[Double], dl: Seq[Double]): Column = {
    val mnL = typedLit(mn); val dlL = typedLit(dl)
    transform(v, (x, i) => {
      val m = element_at(mnL, i + 1); val s = element_at(dlL, i + 1)
      when(s === 0.0, lit(0L))
        .otherwise(least(greatest(floor((x - m) / s), lit(0L)), lit(Levels.toLong)))
    })
  }

  /** Mid-rise dequantization of a code array: mn_d + (code + ½)·Δ_d. */
  private def deqCol(codes: Column, mn: Seq[Double], dl: Seq[Double]): Column = {
    val mnL = typedLit(mn); val dlL = typedLit(dl)
    transform(codes, (c, i) =>
      element_at(mnL, i + 1) + (c.cast("double") + lit(0.5)) * element_at(dlL, i + 1))
  }

  /** The per-dimension quantizer statistics as a checkable artifact. */
  def stats(spark: SparkSession, dir: String): DataFrame =
    emb(spark, dir)
      .select(posexplode(col("v")))
      .groupBy(col("pos").as("d")).agg(min(col("col")).as("mn"), max(col("col")).as("mx"))

  /** Asymmetric top-k: full-precision queries vs dequantized corpus, L2²
    * accumulated in fx6 fixed-point (order-independent integer sum).
    */
  def sq8TopK(spark: SparkSession, dir: String): DataFrame = {
    val (mn, dl) = statsArr(spark, dir)
    // corpus side reads the RAW float column through the fused Sq8Deq kernel:
    // the HOF transform-cast chain is CodegenFallback and pushed the whole
    // scoring stage out of WholeStageCodegen (SqSpec pins the fixed plan)
    val corp = graft.Tables.embeddings(spark, dir)
      .select(col("vec_id"),
        graft.plans.VectorFunctions.sq8_deq(col("embedding"), mn, dl).as("dq"))
    val q = emb(spark, dir).filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val scored = corp.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("fxsum",
        graft.plans.VectorFunctions.l2_sq_fx6(col("qv"), col("dq")))
    val w = Window.partitionBy("qid").orderBy(asc("fxsum"), asc("vec_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= TopK)
      .select(col("qid"), col("vec_id").as("neighbor_id"), col("rank"),
        (col("fxsum").cast("double") / 1e6).as("sdist"))
  }

  /** Recall@[[TopK]] vs exact L2 — read next to `ann_pq_adc_recall` (8 B) and
    * `ann_pq16_recall` (16 B): SQ8's 64 B/vector buys near-exact ranking.
    */
  def sq8Recall(spark: SparkSession, dir: String): DataFrame =
    Similarity.recallOf(PqOps.bfL2TopK(spark, dir), sq8TopK(spark, dir))

  /** IVF-SQ8: the IVF coarse quantizer prunes the corpus to each query's
    * [[Similarity.NProbe]] nearest cells and the survivors are ranked by the
    * SQ8 asymmetric distance — the middle rung of the IVF compression matrix
    * between IVF-flat (`ann_ivf_np_recall`, raw vectors in-cell) and IVF-PQ
    * (`ann_ivfpq_recall`, 8 B codes): 64 B/vector, near-exact in-cell
    * ranking, 4× less memory than the flat cells. Shares the cached coarse
    * quantizer with every other IVF path, and cell assignment + dequantize
    * fold into ONE literal projection over the single corpus scan.
    */
  def ivfSq8TopK(spark: SparkSession, dir: String): DataFrame = {
    val (mn, dl) = statsArr(spark, dir)
    val cent = PqOps.centroids(spark, dir)
    val e = emb(spark, dir)
    val corp = e.select(col("vec_id"),
      array_min(array(PqOps.cellPairs(cent): _*)).getItem(1).cast("int").as("cell"),
      deqCol(codesCol(col("v"), mn, dl), mn, dl).as("dq"))
    val q = e.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val probes = PqOps.probedCells(spark, dir).join(q, "qid") // NProbe rows/query
    val scored = corp.join(broadcast(probes), "cell")
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("fxsum",
        graft.plans.VectorFunctions.l2_sq_fx6(col("qv"), col("dq")))
    val w = Window.partitionBy("qid").orderBy(asc("fxsum"), asc("vec_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= TopK)
      .select(col("qid"), col("vec_id").as("neighbor_id"), col("rank"),
        (col("fxsum").cast("double") / 1e6).as("sdist"))
  }

  /** Recall@[[TopK]] of IVF-SQ8 vs exact L2 — read next to
    * `ann_ivf_np_recall` (same cells, exact scoring, its ceiling) and
    * `ann_ivfpq_recall` (same cells, 8 B ADC scoring, its cheaper rival).
    */
  def ivfSq8Recall(spark: SparkSession, dir: String): DataFrame =
    Similarity.recallOf(PqOps.bfL2TopK(spark, dir), ivfSq8TopK(spark, dir))

  // ---------------- DuckDB oracle twins ----------------

  private val statsCte =
    s"""stats AS (
       |  SELECT d, min(x) AS mn, (max(x) - min(x)) / $Levels AS dl FROM flat GROUP BY d
       |)""".stripMargin

  /** Dequantized corpus values (vec_id, d, dq) — the CASE guards Δ = 0 the
    * same lazy way the Spark `when` does. */
  private val deqCte =
    s"""deq AS (
       |  SELECT f.vec_id, f.d,
       |         s.mn + (CASE WHEN s.dl = 0 THEN 0
       |                      ELSE least(greatest(floor((f.x - s.mn) / s.dl), 0), $Levels) END
       |                 + 0.5) * s.dl AS dq
       |  FROM flat f JOIN stats s ON s.d = f.d
       |)""".stripMargin

  private val sqTopkCtes =
    s"""sqd AS (
       |  SELECT a.vec_id AS qid, b.vec_id AS vid,
       |         sum(${sqlFx("(a.x - b.dq) * (a.x - b.dq)", 6)}) AS fxsum
       |  FROM flat a JOIN deq b ON b.d = a.d
       |  WHERE a.vec_id < $NumQueries AND b.vec_id <> a.vec_id GROUP BY 1, 2
       |), sq_topk AS (
       |  SELECT qid, vid, rn, CAST(fxsum AS DOUBLE) / 1e6 AS sdist FROM (
       |    SELECT qid, vid, fxsum, row_number() OVER (PARTITION BY qid ORDER BY fxsum, vid) AS rn
       |    FROM sqd)
       |  WHERE rn <= $TopK
       |)""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ann_sq8_stats" -> ((s, d) => stats(s, d).orderBy("d")),
    "ann_sq8_topk" -> ((s, d) => sq8TopK(s, d).orderBy("qid", "rank")),
    "ann_sq8_recall" -> ((s, d) => sq8Recall(s, d).orderBy("qid")),
    "ann_ivfsq8_topk" -> ((s, d) => ivfSq8TopK(s, d).orderBy("qid", "rank")),
    "ann_ivfsq8_recall" -> ((s, d) => ivfSq8Recall(s, d).orderBy("qid"))
  )

  /** Cell-pruned SQ8 scores (qcells → bkt candidates → fx6 L2 over deq). */
  private val sqIvfCtes =
    s"""qcells AS (
       |  SELECT vec_id AS qid, c FROM (
       |    SELECT vec_id, c, row_number() OVER (PARTITION BY vec_id ORDER BY dist, c) AS rn
       |    FROM bdist WHERE vec_id < $NumQueries)
       |  WHERE rn <= ${Similarity.NProbe}
       |), sqd AS (
       |  SELECT q.qid, b.vec_id AS vid,
       |         sum(${sqlFx("(a.x - d.dq) * (a.x - d.dq)", 6)}) AS fxsum
       |  FROM bkt b JOIN qcells q ON q.c = b.c
       |  JOIN deq d ON d.vec_id = b.vec_id
       |  JOIN flat a ON a.vec_id = q.qid AND a.d = d.d
       |  WHERE b.vec_id <> q.qid GROUP BY 1, 2
       |), sq_topk AS (
       |  SELECT qid, vid, rn, CAST(fxsum AS DOUBLE) / 1e6 AS sdist FROM (
       |    SELECT qid, vid, fxsum, row_number() OVER (PARTITION BY qid ORDER BY fxsum, vid) AS rn
       |    FROM sqd)
       |  WHERE rn <= $TopK
       |)""".stripMargin

  def oracles: Map[String, String] = Map(
    "ann_sq8_stats" ->
      s"""WITH ${Similarity.flatSql}
         |SELECT d, min(x) AS mn, max(x) AS mx FROM flat GROUP BY d ORDER BY d""".stripMargin,
    "ann_sq8_topk" ->
      s"""WITH ${Similarity.flatSql},
         |$statsCte,
         |$deqCte,
         |$sqTopkCtes
         |SELECT qid, vid AS neighbor_id, CAST(rn AS INT) AS rank, sdist
         |FROM sq_topk ORDER BY qid, rank""".stripMargin,
    "ann_sq8_recall" ->
      s"""WITH ${Similarity.flatSql},
         |${PqOps.bfL2Ctes},
         |$statsCte,
         |$deqCte,
         |$sqTopkCtes,
         |${PqOps.recallTailSql("sq_topk")}""".stripMargin,
    "ann_ivfsq8_topk" ->
      s"""WITH ${Similarity.flatSql},
         |${Similarity.ivfBucketCtes},
         |$statsCte,
         |$deqCte,
         |$sqIvfCtes
         |SELECT qid, vid AS neighbor_id, CAST(rn AS INT) AS rank, sdist
         |FROM sq_topk ORDER BY qid, rank""".stripMargin,
    "ann_ivfsq8_recall" ->
      s"""WITH ${Similarity.flatSql},
         |${PqOps.bfL2Ctes},
         |${Similarity.ivfBucketCtes},
         |$statsCte,
         |$deqCte,
         |$sqIvfCtes,
         |${PqOps.recallTailSql("sq_topk")}""".stripMargin
  )
}
