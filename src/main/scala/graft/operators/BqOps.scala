package graft.operators

import graft.functions.Num._
import graft.sources.Artifacts
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Binary quantization (BQ) ANN — the 1-bit-per-dimension rung of the
  * compression ladder below [[PqOps]] (4-8 bits/dim equivalent), [[SqOps]]
  * (8 bits/dim) and [[OpqOps]]: each dimension keeps only its sign against the
  * per-dimension corpus mean, so a 64-dim vector stores 8 B (two 32-bit
  * words) and similarity is a Hamming distance — two XORs and two popcounts
  * per pair, the cheapest comparison any index performs (the binary-hashing
  * family: Charikar, STOC 2002; widely deployed as the pre-filter stage of
  * modern vector stores). No reference counterpart (north-star op; the
  * reference is a single-node tensor pipeline,
  * /root/reference/models/diffusion_ts_model.py).
  *
  * Mean-thresholding (rather than sign-at-zero) centers each dimension so
  * both bit values carry information even when a dimension's mass sits off
  * zero — the same stats-pass-as-literals discipline as [[SqOps]].
  *
  * Scale shape: the threshold pass is one distributed agg (64 rows collected
  * as plan literals); encoding folds into ONE projection of plain
  * comparison+literal arithmetic (no higher-order functions — the whole
  * stage stays in WholeStageCodegen); the scored scan reads 16 B/vector and
  * the 100-query code table broadcasts. Hamming ranking is exact integer
  * comparison, so the top-k is deterministic without any fx quantization.
  */
object BqOps {
  import Similarity.{NumQueries, TopK}

  val Dim = 64
  val WordBits = 32

  /** Per-dimension mean thresholds as exact integer means (fx9 sum ÷ count),
    * collected once — bounded (64 rows), the [[PqOps]] literal-fold
    * discipline.
    */
  private def thresholds(spark: SparkSession, dir: String): Seq[Double] =
    Artifacts.memo("bq_stats", dir, Artifacts.corpusFingerprint(spark, dir)) {
      PqOps.emb(spark, dir)
        .select(posexplode(col("v")))
        .groupBy(col("pos"))
        .agg((sum(fx(col("col"), 9)).cast("double") / 1e9 / count(lit(1))).as("mu"))
        .orderBy("pos").collect().map(_.getDouble(1)).toSeq
    }

  /** One 32-bit sign word: Σ_j 2^j · [v[base+j] > μ_{base+j}] — the literal
    * fold of comparisons. Correct and codegen'd, but kept ONLY as the
    * equivalence oracle for the fused kernel (BqSpec): four of these 32-term
    * trees per plan cost seconds of Catalyst analysis + Janino compilation
    * per query BUILD (measured 6.1 s build vs 3.2 s exec at sf0.01) — the
    * same >16-literal-tree trap PqCodes closed for PQ.
    */
  private[graft] def wordColLiteral(v: Column, mu: Seq[Double], base: Int): Column =
    (0 until WordBits).map(j =>
      when(element_at(v, base + j + 1) > mu(base + j), lit(1L << j)).otherwise(lit(0L)))
      .reduce(_ + _)

  /** The binary code table: (vec_id, lo, hi) — 8 B of payload per vector.
    * Encoding runs the fused [[graft.plans.BqPack]] kernel (thresholds as one
    * reference array, compact codegen'd loop). */
  def codes(spark: SparkSession, dir: String): DataFrame = {
    val mu = thresholds(spark, dir)
    PqOps.emb(spark, dir).select(col("vec_id"),
      graft.plans.VectorFunctions.bq_pack(col("v"), mu, 0).as("lo"),
      graft.plans.VectorFunctions.bq_pack(col("v"), mu, WordBits).as("hi"))
  }

  /** [[codes]] in the literal-fold form — BqSpec's kernel-equivalence twin. */
  private[graft] def codesLiteral(spark: SparkSession, dir: String): DataFrame = {
    val mu = thresholds(spark, dir)
    PqOps.emb(spark, dir).select(col("vec_id"),
      wordColLiteral(col("v"), mu, 0).as("lo"),
      wordColLiteral(col("v"), mu, WordBits).as("hi"))
  }

  /** Symmetric Hamming top-k: both sides binarized, distance = popcount of
    * the XORed words. Ties broken by vec_id so the ranking is total.
    */
  def bqTopK(spark: SparkSession, dir: String): DataFrame = {
    val c = codes(spark, dir)
    val q = c.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("qid"), col("lo").as("qlo"), col("hi").as("qhi"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("hamming",
        (bit_count(col("lo").bitwiseXOR(col("qlo"))) +
          bit_count(col("hi").bitwiseXOR(col("qhi")))).cast("int"))
    val w = Window.partitionBy("qid").orderBy(asc("hamming"), asc("vec_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= TopK)
      .select(col("qid"), col("vec_id").as("neighbor_id"), col("rank"), col("hamming"))
  }

  /** Recall@[[TopK]] vs exact cosine — sign bits approximate ANGLE, so the
    * honest baseline is the cosine ground truth (not L2): read next to
    * `ann_pq_adc_recall` (8 B, trained) for the untrained-same-budget point.
    */
  def bqRecall(spark: SparkSession, dir: String): DataFrame =
    Similarity.recallOf(Similarity.bruteForceTopK(spark, dir), bqTopK(spark, dir))

  // ---------------- DuckDB oracle twins ----------------

  private val thrCte =
    s"""thr AS (
       |  SELECT d, CAST(sum(${sqlFx("x", 9)}) AS DOUBLE) / 1e9 / count(*) AS mu
       |  FROM flat GROUP BY d
       |)""".stripMargin

  private val codesCte =
    s"""codes AS MATERIALIZED (
       |  SELECT f.vec_id,
       |         CAST(sum(CASE WHEN f.d < $WordBits AND f.x > t.mu
       |                       THEN (CAST(1 AS BIGINT) << f.d) ELSE 0 END) AS BIGINT) AS lo,
       |         CAST(sum(CASE WHEN f.d >= $WordBits AND f.x > t.mu
       |                       THEN (CAST(1 AS BIGINT) << (f.d - $WordBits)) ELSE 0 END) AS BIGINT) AS hi
       |  FROM flat f JOIN thr t ON t.d = f.d GROUP BY 1
       |)""".stripMargin

  private val bqTopkCtes =
    s"""bqd AS (
       |  SELECT q.vec_id AS qid, c.vec_id AS vid,
       |         CAST(bit_count(xor(q.lo, c.lo)) + bit_count(xor(q.hi, c.hi)) AS INT) AS hamming
       |  FROM codes q JOIN codes c ON c.vec_id <> q.vec_id
       |  WHERE q.vec_id < $NumQueries
       |), bq_topk AS (
       |  SELECT qid, vid, rn, hamming FROM (
       |    SELECT qid, vid, hamming,
       |           row_number() OVER (PARTITION BY qid ORDER BY hamming, vid) AS rn
       |    FROM bqd)
       |  WHERE rn <= $TopK
       |)""".stripMargin

  /** Cosine ground-truth CTE named `bf_topk` so [[PqOps.recallTailSql]]'s
    * hits tail composes unchanged. */
  private val bfCosCtes =
    s"""bfd AS (
       |  SELECT a.vec_id AS qid, b.vec_id AS vid, sum(a.x * b.x) AS dot
       |  FROM flat a JOIN flat b ON b.d = a.d
       |  WHERE a.vec_id < $NumQueries AND b.vec_id <> a.vec_id GROUP BY 1, 2
       |), bf_topk AS (
       |  SELECT qid, vid FROM (
       |    SELECT qid, vid, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vid ASC) AS rn
       |    FROM (SELECT qid, vid, ${sqlR6("dot / (na.nrm * nb.nrm)")} AS cos
       |          FROM bfd JOIN norms na ON na.vec_id = qid JOIN norms nb ON nb.vec_id = vid))
       |  WHERE rn <= $TopK
       |)""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ann_bq_codes" -> ((s, d) => codes(s, d).orderBy("vec_id")),
    "ann_bq_topk" -> ((s, d) => bqTopK(s, d).orderBy("qid", "rank")),
    "ann_bq_recall" -> ((s, d) => bqRecall(s, d).orderBy("qid"))
  )

  def oracles: Map[String, String] = Map(
    "ann_bq_codes" ->
      s"""WITH ${Similarity.flatSql},
         |$thrCte,
         |$codesCte
         |SELECT vec_id, lo, hi FROM codes ORDER BY vec_id""".stripMargin,
    "ann_bq_topk" ->
      s"""WITH ${Similarity.flatSql},
         |$thrCte,
         |$codesCte,
         |$bqTopkCtes
         |SELECT qid, vid AS neighbor_id, CAST(rn AS INT) AS rank, hamming
         |FROM bq_topk ORDER BY qid, rank""".stripMargin,
    "ann_bq_recall" ->
      s"""WITH ${Similarity.flatSql},
         |$bfCosCtes,
         |$thrCte,
         |$codesCte,
         |$bqTopkCtes,
         |${PqOps.recallTailSql("bq_topk")}""".stripMargin
  )
}
