package graft.operators

import graft.Tables
import graft.functions.Num._
import graft.sources.Artifacts
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Optimized product quantization (OPQ): rotate the embedding space before the
  * subspace split so the [[PqOps.M]] product-quantizer subspaces are
  * decorrelated and carry balanced variance (Ge et al., "Optimized Product
  * Quantization", CVPR 2013 — the parametric variant: PCA eigenbasis +
  * eigenvalue allocation). The reference has no ANN surface; this extends the
  * compression ladder the north-star LLM-data pipeline needs
  * (`ann_pq_adc_recall` → `ann_opq_recall` at the same 8 B/vector budget).
  *
  *  - fit: the full [[Similarity.Dim]]-dim eigenbasis by deflated power
  *    iteration on the r6 covariance ([[Similarity.covarianceR6]] — the
  *    distributed part; the 64×64 solve is a driver-side constant-size fold
  *    like the IVF/PQ codebooks). Every mat-vec, norm, and deflation step is
  *    fx9/r6-quantized so the DuckDB oracle replays the identical arithmetic
  *    order-independently; the basis is DEFINED as the fixed-iteration
  *    procedure, deterministic regardless of convergence.
  *  - allocate: eigenvectors (ranked by extraction order = decreasing
  *    eigenvalue) are dealt to the M subspaces snake-draft style (round r
  *    reverses on odd r) — the deterministic, integer-only variant of OPQ's
  *    greedy eigenvalue allocation (greedy-by-product needs float compares a
  *    SQL twin can't replay bit-stably; the snake deal gives the same
  *    per-subspace variance balance on a sorted spectrum).
  *  - rotate: one codegen'd [[graft.plans.MatVecFx]] projection per vector
  *    (fx9-accumulated, r6-rounded), then the stock PQ fit / encode / ADC
  *    pipeline runs unchanged on the rotated frame. Ground truth stays the
  *    exact-L2 top-k on RAW vectors — rotation is orthogonal, so the true
  *    neighbor sets are unchanged and recall deltas are attributable to the
  *    quantizer alone.
  *
  * Scale: the rotation adds one narrow codegen'd projection to the encode
  * scan (no shuffle, no join — the matrix rides the closure); everything
  * downstream keeps PQ's 8 B/vector scan economics. The basis fit is one
  * covariance aggregation whose shuffle volume is #partitions × Dim²
  * regardless of corpus size.
  */
object OpqOps {
  import PqOps.{Codebook, Dim, M, SubDim}
  import Similarity.EigenBasis

  /** Eigenpairs surfaced by `emb_pca_basis` (full [[Dim]] are fit for the
    * rotation; the query shows the informative head of the spectrum). */
  val BasisK = 8

  /** The basis is an index like the IVF quantizer and PQ codebooks: fit once
    * per corpus, refit when the embeddings' listing changes. */
  private[graft] def basisFor(spark: SparkSession, dir: String): EigenBasis =
    Artifacts.memo("opq_basis", dir, Artifacts.corpusFingerprint(spark, dir))(
      Similarity.deflatedBasis(Similarity.covarianceR6(spark, dir)._2, Dim))

  /** Snake-draft eigenvalue allocation: extraction rank p → subspace slot.
    * Round r = p / M deals one eigenvector to every subspace, reversing
    * direction on odd rounds; the rotated dimension index is
    * bucket·SubDim + r (slot r of subspace `bucket`).
    */
  private[graft] def allocatedDim(p: Int): Int = {
    val r = p / M
    val pos = p % M
    val bucket = if (r % 2 == 0) pos else M - 1 - pos
    bucket * SubDim + r
  }

  /** Rotation matrix in output-dimension order: row newd = the loadings of
    * the eigenvector allocated to newd. */
  private[graft] def rotationMatrix(b: EigenBasis): Seq[Seq[Double]] = {
    val rows = new Array[Seq[Double]](Dim)
    for (p <- 0 until Dim) rows(allocatedDim(p)) = b.loadings(p).toSeq
    rows.toSeq
  }

  /** The rotated corpus: (vec_id, v′) with v′ = fx9-accumulated R·v (1e-9
    * resolution — see [[graft.plans.MatVecFx]] on why NOT r6) via one fused
    * codegen'd projection. */
  private[graft] def rotated(spark: SparkSession, dir: String): DataFrame = {
    val rot = rotationMatrix(basisFor(spark, dir))
    Tables.vectors(spark, dir)
      .select(col("vec_id"),
        graft.plans.VectorFunctions.mat_vec_fx(col("v"), rot).as("v"))
  }

  private def fittedOpq(spark: SparkSession, dir: String): Codebook =
    Artifacts.memo("opq_codebook", dir, Artifacts.corpusFingerprint(spark, dir)) {
      val e = rotated(spark, dir).persist()
      try PqOps.lloydPq(e, M)
      finally e.unpersist(blocking = true)
    }

  /** ADC top-k in the rotated space — the stock PQ pipeline over the rotated
    * frame (queries and corpus rotate identically). */
  def opqAdcTopK(spark: SparkSession, dir: String): DataFrame =
    PqOps.adcTopKOver(rotated(spark, dir), fittedOpq(spark, dir), SubDim)

  /** Recall@[[PqOps.TopK]] of rotated-space ADC vs the exact-L2 ground truth
    * on raw vectors — the row to read against `ann_pq_adc_recall` (same
    * 8 B/vector budget, rotation is the only change). */
  def opqAdcRecall(spark: SparkSession, dir: String): DataFrame =
    Similarity.recallOf(PqOps.bfL2TopK(spark, dir), opqAdcTopK(spark, dir))

  /** Dimensionality-reduction rung: dims kept for the PCA-truncated search. */
  val PcaD = 16

  /** PCA-truncated brute-force top-k: vectors projected onto the top
    * [[PcaD]] eigenvectors (the Matryoshka-style dim-reduction axis of the
    * compression ladder — 64→16 dims = 4× scan-width cut with NO codebook,
    * orthogonal to the quantization axes PQ/SQ8/BQ take), then exact L2
    * ranking in the reduced space. Rides the cached full eigenbasis and the
    * fused [[graft.plans.MatVecFx]] kernel; ranking follows the
    * [[PqOps.bfL2TopK]] shape (corpus partitioned, 100 projected queries
    * broadcast, WindowGroupLimit top-k).
    */
  def pcaTopK(spark: SparkSession, dir: String): DataFrame =
    pcaTopKWidth(spark, dir, PqOps.TopK)

  private def pcaTopKWidth(spark: SparkSession, dir: String, k: Int): DataFrame = {
    val mat: Seq[Seq[Double]] =
      (0 until PcaD).map(p => basisFor(spark, dir).loadings(p).toSeq)
    val proj = Tables.vectors(spark, dir).select(col("vec_id"),
      graft.plans.VectorFunctions.mat_vec_fx(col("v"), mat).as("pv"))
    rankReduced(proj, k)
  }

  /** Exact L2 ranking in a reduced space: corpus stays partitioned, the
    * [[Similarity.NumQueries]] reduced queries broadcast, per-query top-k is
    * a WindowGroupLimit — the shared tail of the dim-reduction rungs. */
  private def rankReduced(proj: DataFrame, k: Int): DataFrame = {
    val q = proj.filter(col("vec_id") < Similarity.NumQueries)
      .select(col("vec_id").as("qid"), col("pv").as("qv"))
    val scored = proj.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("dist", r6(graft.plans.VectorFunctions.l2_sq(col("qv"), col("pv"))))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(asc("dist"), asc("vec_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col("qid"), col("vec_id").as("neighbor_id"), col("rank"), col("dist"))
  }

  /** Matryoshka-style PREFIX truncation: keep the embedding's first [[PcaD]]
    * coordinates verbatim and rank by exact L2 in that subspace — no
    * projection, no training, just a narrower scan. This is the rung an
    * MRL-trained model (Kusupati et al., NeurIPS 2022) earns: its head dims
    * are optimized to carry the signal, so prefix recall ≈ PCA recall. On a
    * generic embedding the gap between `ann_prefix_recall` and
    * `ann_pca_recall` (same 16-dim budget, PCA picks the directions) is the
    * measured value of the learned/decorrelated basis — the "is my model
    * Matryoshka" dial. Scale: identical plan to [[pcaTopK]] minus the
    * mat-vec; `slice` keeps the stage in whole-stage codegen.
    */
  def prefixTopK(spark: SparkSession, dir: String): DataFrame = {
    val proj = Tables.vectors(spark, dir)
      .select(col("vec_id"), slice(col("v"), 1, PcaD).as("pv"))
    rankReduced(proj, PqOps.TopK)
  }

  /** Recall@[[PqOps.TopK]] of prefix-16 ranking vs exact 64-dim L2. */
  def prefixRecall(spark: SparkSession, dir: String): DataFrame =
    Similarity.recallOf(PqOps.bfL2TopK(spark, dir), prefixTopK(spark, dir))

  /** PCA shortlist + exact re-rank — the [[PqOps.ivfPqRerankTopK]] two-stage
    * composition on the DIMENSIONALITY axis: the truncated space prunes the
    * corpus to [[PqOps.RerankWidth]] candidates per query (4× narrower
    * scan), then only those fetch raw 64-dim vectors for exact L2. End
    * recall is bounded by shortlist membership, exactly as in IVF-PQ. */
  def pcaRerankTopK(spark: SparkSession, dir: String): DataFrame = {
    val short = pcaTopKWidth(spark, dir, PqOps.RerankWidth)
      .select(col("qid"), col("neighbor_id").as("vec_id"))
    val e = Tables.vectors(spark, dir).select(col("vec_id"), col("v"))
    val q = Tables.vectors(spark, dir).filter(col("vec_id") < Similarity.NumQueries)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val exact = short.join(e, "vec_id").join(broadcast(q), "qid")
      .withColumn("dist", r6(graft.plans.VectorFunctions.l2_sq(col("qv"), col("v"))))
    val rw = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(asc("dist"), asc("vec_id"))
    exact.withColumn("rank", row_number().over(rw)).filter(col("rank") <= PqOps.TopK)
      .select(col("qid"), col("vec_id").as("neighbor_id"), col("rank"), col("dist"))
  }

  /** Recall@[[PqOps.TopK]] of the re-ranked truncated search vs exact L2. */
  def pcaRerankRecall(spark: SparkSession, dir: String): DataFrame =
    Similarity.recallOf(PqOps.bfL2TopK(spark, dir), pcaRerankTopK(spark, dir))

  /** Recall@[[PqOps.TopK]] of the 16-dim truncated ranking vs exact L2 on
    * the raw 64-dim vectors — prices the variance discarded with the 48
    * dropped dimensions, next to the quantization rows at similar budgets. */
  def pcaRecall(spark: SparkSession, dir: String): DataFrame =
    Similarity.recallOf(PqOps.bfL2TopK(spark, dir), pcaTopK(spark, dir))

  /** The head of the spectrum: (p, d, loading, eigenvalue) for the top
    * [[BasisK]] eigenpairs — rank 0 is bit-identical to `emb_pca_top`'s
    * loading column (same procedure, same quantization). */
  def basisFlat(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val b = basisFor(spark, dir)
    (for (p <- 0 until BasisK; d <- 0 until Dim)
      yield (p, d, b.loadings(p)(d), b.values(p)))
      .toDF("p", "d", "loading", "eigenvalue")
  }

  // ---------------- DuckDB oracle twins ----------------

  /** The deflated power iteration as a recursive CTE over single-row list
    * state (v, flattened cov, accumulated loads/vals) — k·(PcaIters+1) steps,
    * every quantization mirrored from [[Similarity.deflatedBasis]]. List literals/state
    * must be CAST to DOUBLE[]: a bare 0.125 types as DECIMAL(4,3) and the
    * UNION ALL would silently quantize the whole recursion to 3 decimals.
    */
  private def eigStateSql(k: Int): String = {
    val n = Dim
    val steps = k * (Similarity.PcaIters + 1)
    val u0 = s"list_transform(range(0, $n), i -> CAST(0.125 AS DOUBLE))"
    val w = s"list_transform(range(0, $n), d1 -> " +
      s"CAST(list_sum(list_transform(range(0, $n), d2 -> " +
      s"CAST(floor(c[d1*$n+d2+1] * v[d2+1] * 1e9 + 0.5) AS BIGINT))) AS DOUBLE) / 1e9)"
    def fxdot(a: String, b: String) =
      s"CAST(list_sum(list_transform(range(0, $n), i -> " +
        s"CAST(floor(($a)[i+1] * ($b)[i+1] * 1e9 + 0.5) AS BIGINT))) AS DOUBLE) / 1e9"
    // single-element-list lambdas as let-bindings: w is computed once per use chain
    val stepV = s"list_transform([$w], w -> list_transform(w, x -> " +
      s"floor(x / greatest(sqrt(${fxdot("w", "w")}), 1e-9) * 1e6 + 0.5) / 1e6))[1]"
    val lam = s"list_transform([$w], w9 -> ${fxdot("v", "w9")})[1]"
    val deflate = s"list_transform([$lam], lam -> list_transform(range(0, ${n * n}), p -> " +
      s"floor((c[p+1] - lam * v[(p//$n)+1] * v[(p%$n)+1]) * 1e9 + 0.5) / 1e9))[1]"
    s"""st AS (
       |  SELECT 0 AS step, 0 AS it, $u0 AS v,
       |         (SELECT list(c ORDER BY d1, d2) FROM cov) AS c,
       |         CAST([] AS DOUBLE[]) AS loads, CAST([] AS DOUBLE[]) AS vals
       |  UNION ALL
       |  SELECT step + 1,
       |         CASE WHEN it < ${Similarity.PcaIters} THEN it + 1 ELSE 0 END,
       |         CASE WHEN it < ${Similarity.PcaIters} THEN $stepV ELSE $u0 END,
       |         CASE WHEN it < ${Similarity.PcaIters} THEN c ELSE $deflate END,
       |         CASE WHEN it < ${Similarity.PcaIters} THEN loads ELSE loads || v END,
       |         CASE WHEN it < ${Similarity.PcaIters} THEN vals ELSE vals || [$lam] END
       |  FROM st WHERE step < $steps
       |), eigf AS MATERIALIZED (
       |  SELECT loads, vals FROM st WHERE step = $steps
       |)""".stripMargin
  }

  /** rot (newd, d, w): the snake-draft allocation of [[allocatedDim]] in SQL;
    * rflat: the fx9-accumulated rotated coordinates, the twin of
    * [[graft.plans.MatVecFx]] over `flat`. */
  private val rotSql: String =
    s"""rot AS (
       |  SELECT (CASE WHEN (p.i // $M) % 2 = 0 THEN p.i % $M
       |               ELSE $M - 1 - (p.i % $M) END) * $SubDim + (p.i // $M) AS newd,
       |         t.i AS d, e.loads[p.i * $Dim + t.i + 1] AS w
       |  FROM range(0, $Dim) p(i), range(0, $Dim) t(i), eigf e
       |), rflat AS MATERIALIZED (
       |  SELECT f.vec_id, r.newd AS d,
       |         CAST(sum(CAST(floor(r.w * f.x * 1e9 + 0.5) AS BIGINT)) AS DOUBLE) / 1e9 AS x
       |  FROM flat f JOIN rot r ON r.d = f.d
       |  GROUP BY 1, 2
       |)""".stripMargin

  /** proj (vec_id, d, x): the top-[[PcaD]] projection — the fx9-accumulated
    * twin of [[graft.plans.MatVecFx]] over the truncated basis. */
  private def pcaProjSql: String =
    s"""proj AS MATERIALIZED (
       |  SELECT f.vec_id, p.i AS d,
       |         CAST(sum(CAST(floor(e.loads[p.i * $Dim + f.d + 1] * f.x * 1e9 + 0.5) AS BIGINT)) AS DOUBLE) / 1e9 AS x
       |  FROM flat f, range(0, $PcaD) p(i), eigf e
       |  GROUP BY 1, 2
       |)""".stripMargin

  private def pcaTopkSql: String =
    s"""pd AS (
       |  SELECT a.vec_id AS qid, b.vec_id AS vid, ${sqlR6("sum(pow(a.x - b.x, 2))")} AS dist
       |  FROM proj a JOIN proj b ON b.d = a.d
       |  WHERE a.vec_id < ${Similarity.NumQueries} AND b.vec_id <> a.vec_id
       |  GROUP BY 1, 2
       |), pca_topk AS (
       |  SELECT qid, vid, rn, dist FROM (
       |    SELECT qid, vid, dist, row_number() OVER (PARTITION BY qid ORDER BY dist, vid) AS rn FROM pd)
       |  WHERE rn <= ${PqOps.TopK}
       |)""".stripMargin

  /** Two-NN intrinsic-dimension estimate (Facco et al., Sci. Rep. 2017)
    * per label — the geometry dial behind every compression decision in
    * this module: how many degrees of freedom the embeddings REALLY use.
    * The MLE is d = n / Σ ln(r₂/r₁) over each point's two nearest
    * neighbors; with the shared brute-force SQUARED distances the ratio
    * log halves, so d = 2n / Σ ln(d₂²/d₁²). An ID far below the ambient
    * 64 says the PCA/PQ rungs have room; per-label rows expose manifolds
    * of different complexity. Exact-rational ratio inputs (r6 distances),
    * fx12-quantized logs, one tiny agg over the top-2 rows of the
    * existing ranking.
    */
  def intrinsicDim(spark: SparkSession, dir: String): DataFrame = {
    val labels = graft.Tables.embeddings(spark, dir)
      .select(col("vec_id").as("qid"), col("label").as("qlabel"))
    val top2 = PqOps.bfL2TopK(spark, dir).filter(col("rank") <= 2)
    val piv = top2.groupBy("qid")
      .agg(max(when(col("rank") === 1, col("dist"))).as("d1"),
        max(when(col("rank") === 2, col("dist"))).as("d2"))
      // d2 > d1 strictly: the Facco MLE is defined over ratios μ = r2/r1 > 1
      // — two-NN TIES (μ = 1, ln 0) are zero-measure on continuous data but
      // REAL on quantized/replicated grids, and a label made entirely of
      // ties sums slr to 0 and divides by zero (the sf10 rehearsal hit it
      // under ANSI mode). Tied points carry no dimension information and are
      // excluded, the paper's own convention.
      .filter(col("d1") > 0.0 && col("d2") > col("d1"))
      // no broadcast hint: labels is vec_id-sized (scales with the corpus)
      // while piv is ≤ NumQueries rows — AQE broadcasts the SMALL side.
      .join(labels, "qid")
      .select(col("qlabel"), fx(log(col("d2") / col("d1")), 12).as("lr"))
    piv.groupBy("qlabel")
      .agg(count(lit(1)).as("n_points"), sum(col("lr")).as("slr"))
      .select(col("qlabel"), col("n_points"),
        r6(lit(2.0) * col("n_points").cast("double") /
          (col("slr").cast("double") / 1e12)).as("id_twonn"))
  }

  def intrinsicDimOracle: String =
    s"""WITH ${Similarity.flatSql},
       |pd AS (
       |  SELECT a.vec_id AS qid, b.vec_id AS vid, ${sqlR6("sum(pow(a.x - b.x, 2))")} AS dist
       |  FROM flat a JOIN flat b ON b.d = a.d
       |  WHERE a.vec_id < ${Similarity.NumQueries} AND b.vec_id <> a.vec_id
       |  GROUP BY 1, 2
       |), top2 AS (
       |  SELECT qid, dist, rn FROM (
       |    SELECT qid, dist, row_number() OVER (PARTITION BY qid ORDER BY dist, vid) AS rn
       |    FROM pd)
       |  WHERE rn <= 2
       |), piv AS (
       |  SELECT qid, max(CASE WHEN rn = 1 THEN dist END) AS d1,
       |         max(CASE WHEN rn = 2 THEN dist END) AS d2
       |  FROM top2 GROUP BY 1
       |), lr AS (
       |  SELECT l.label AS qlabel, ${sqlFx("ln(p.d2/p.d1)", 12)} AS lr
       |  FROM piv p JOIN (SELECT DISTINCT vec_id, label FROM embeddings) l
       |    ON l.vec_id = p.qid
       |  WHERE p.d1 > 0 AND p.d2 > p.d1
       |)
       |SELECT qlabel, count(*) AS n_points,
       |       ${sqlR6("2.0e0*CAST(count(*) AS DOUBLE)/(CAST(sum(lr) AS DOUBLE)/1e12)")} AS id_twonn
       |FROM lr GROUP BY 1 ORDER BY qlabel""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "emb_intrinsic_dim" -> ((s, d) => intrinsicDim(s, d).orderBy("qlabel")),
    "ann_pca_topk" -> ((s, d) => pcaTopK(s, d).orderBy("qid", "rank")),
    "ann_pca_recall" -> ((s, d) => pcaRecall(s, d).orderBy("qid")),
    "ann_pca_rerank_recall" -> ((s, d) => pcaRerankRecall(s, d).orderBy("qid")),
    "ann_prefix_recall" -> ((s, d) => prefixRecall(s, d).orderBy("qid")),
    "emb_pca_basis" -> ((s, d) => basisFlat(s, d).orderBy("p", "d")),
    "ann_opq_topk" -> ((s, d) => opqAdcTopK(s, d).orderBy("qid", "rank")),
    "ann_opq_recall" -> ((s, d) => opqAdcRecall(s, d).orderBy("qid"))
  )

  def oracles: Map[String, String] = Map(
    "emb_intrinsic_dim" -> intrinsicDimOracle,
    "ann_pca_topk" ->
      s"""WITH RECURSIVE ${Similarity.flatSql},
         |${Similarity.covSql},
         |${eigStateSql(PcaD)},
         |$pcaProjSql,
         |$pcaTopkSql
         |SELECT qid, vid AS neighbor_id, CAST(rn AS INT) AS rank, dist
         |FROM pca_topk ORDER BY qid, rank""".stripMargin,
    "ann_prefix_recall" ->
      s"""WITH ${Similarity.flatSql},
         |pd AS (
         |  SELECT a.vec_id AS qid, b.vec_id AS vid, ${sqlR6("sum(pow(a.x - b.x, 2))")} AS dist
         |  FROM flat a JOIN flat b ON b.d = a.d
         |  WHERE a.d < $PcaD AND a.vec_id < ${Similarity.NumQueries} AND b.vec_id <> a.vec_id
         |  GROUP BY 1, 2
         |), pref_topk AS (
         |  SELECT qid, vid FROM (
         |    SELECT qid, vid, row_number() OVER (PARTITION BY qid ORDER BY dist, vid) AS rn FROM pd)
         |  WHERE rn <= ${PqOps.TopK}
         |),
         |${PqOps.bfL2Ctes},
         |${PqOps.recallTailSql("pref_topk")}""".stripMargin,
    "ann_pca_recall" ->
      s"""WITH RECURSIVE ${Similarity.flatSql},
         |${Similarity.covSql},
         |${eigStateSql(PcaD)},
         |$pcaProjSql,
         |$pcaTopkSql,
         |${PqOps.bfL2Ctes},
         |${PqOps.recallTailSql("pca_topk")}""".stripMargin,
    "ann_pca_rerank_recall" ->
      s"""WITH RECURSIVE ${Similarity.flatSql},
         |${Similarity.covSql},
         |${eigStateSql(PcaD)},
         |$pcaProjSql,
         |pd AS (
         |  SELECT a.vec_id AS qid, b.vec_id AS vid, ${sqlR6("sum(pow(a.x - b.x, 2))")} AS dist
         |  FROM proj a JOIN proj b ON b.d = a.d
         |  WHERE a.vec_id < ${Similarity.NumQueries} AND b.vec_id <> a.vec_id
         |  GROUP BY 1, 2
         |), pshort AS (
         |  SELECT qid, vid FROM (
         |    SELECT qid, vid, row_number() OVER (PARTITION BY qid ORDER BY dist, vid) AS rn FROM pd)
         |  WHERE rn <= ${PqOps.RerankWidth}
         |), rrd AS (
         |  SELECT s.qid, s.vid, ${sqlR6("sum(pow(a.x - b.x, 2))")} AS dist
         |  FROM pshort s
         |  JOIN flat a ON a.vec_id = s.qid
         |  JOIN flat b ON b.vec_id = s.vid AND b.d = a.d
         |  GROUP BY 1, 2
         |), prr_topk AS (
         |  SELECT qid, vid FROM (
         |    SELECT qid, vid, row_number() OVER (PARTITION BY qid ORDER BY dist, vid) AS rn FROM rrd)
         |  WHERE rn <= ${PqOps.TopK}
         |),
         |${PqOps.bfL2Ctes},
         |${PqOps.recallTailSql("prr_topk")}""".stripMargin,
    "emb_pca_basis" ->
      s"""WITH RECURSIVE ${Similarity.flatSql},
         |${Similarity.covSql},
         |${eigStateSql(BasisK)}
         |SELECT CAST(p.i AS INT) AS p, CAST(t.i AS INT) AS d,
         |       e.loads[p.i * $Dim + t.i + 1] AS loading, e.vals[p.i + 1] AS eigenvalue
         |FROM range(0, $BasisK) p(i), range(0, $Dim) t(i), eigf e
         |ORDER BY p, d""".stripMargin,
    "ann_opq_topk" ->
      s"""WITH RECURSIVE ${Similarity.flatSql},
         |${Similarity.covSql},
         |${eigStateSql(Dim)},
         |$rotSql,
         |${PqOps.pqChainSqlFor(SubDim, "rflat")},
         |${PqOps.qdtCte},
         |${PqOps.adFullCte}
         |SELECT qid, vid AS neighbor_id, CAST(rn AS INT) AS rank, adist
         |FROM (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY adist, vid) AS rn FROM ad)
         |WHERE rn <= ${PqOps.TopK} ORDER BY qid, rank""".stripMargin,
    "ann_opq_recall" ->
      s"""WITH RECURSIVE ${Similarity.flatSql},
         |${Similarity.covSql},
         |${eigStateSql(Dim)},
         |$rotSql,
         |${PqOps.pqChainSqlFor(SubDim, "rflat")},
         |${PqOps.qdtCte},
         |${PqOps.adFullCte},
         |${PqOps.adTopkSql},
         |${PqOps.bfL2Ctes},
         |${PqOps.recallTailSql("ap_topk")}""".stripMargin
  )
}
