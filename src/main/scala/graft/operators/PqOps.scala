package graft.operators

import graft.Tables
import graft.functions.Num._
import graft.plans.VectorFunctions.l2_sq
import graft.sources.Artifacts
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Product quantization (PQ) + asymmetric distance computation (ADC) — the
  * compression path that makes 100-TB-scale ANN feasible where IVF/LSH alone
  * do not: a [[Dim]]-dim float vector (256 B) compresses to [[M]] 4-bit-ish
  * codes (here one small int per subspace, 8 codes ≈ 8 B — a 32× scan-size
  * reduction), and query-time distances come from a per-query lookup table
  * instead of touching raw vectors (Jégou et al., "Product Quantization for
  * Nearest Neighbor Search", TPAMI 2011).
  *
  *  - fit: each of the [[M]] subspaces (of [[SubDim]] dims) gets its own
  *    k-means codebook ([[K]] codewords, [[Iters]] Lloyd iterations) — ALL
  *    subspaces fit in the SAME distributed aggregation per iteration (the
  *    subspace id is just one more grouping key next to
  *    [[Similarity]]'s single-space quantizer), codebooks fold back into the
  *    plan as literals exactly like the IVF centroids.
  *  - encode: one codegen'd projection per vector — argmin over the literal
  *    (dist, c) pairs per subspace — no join, no shuffle; only (vec_id, code)
  *    rows ever move.
  *  - search (ADC): the query's 128-entry distance table (m × c → partial
  *    L2²) is computed against the literal codebooks and BROADCAST; the
  *    corpus side streams CODES only, and the approximate distance is the sum
  *    of 8 table lookups — at 100 TB this is the difference between scanning
  *    8 B/vector and 256 B/vector, and the shape real ANN services ship
  *    (IVF-PQ) for the billion-vector regime.
  *
  * Determinism: partial distances are r6-rounded (absorbing libm/order ulp),
  * summed via the [[graft.functions.Num.fx]] integer-quantization discipline
  * so the 8-term sum is order-independent, and ranked with the (dist, vid)
  * lexicographic tiebreak — the DuckDB oracle replays the identical fit,
  * encode, and ADC walk.
  */
object PqOps {
  val Dim = 64
  val M = 8
  val SubDim = Dim / M
  val K = 16
  val Iters = 2
  val TopK = 10
  val NumQueries = 100

  private[operators] def emb(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))

  /** Codebook: (subspace m, codeword c, SubDim weights), r6-rounded. */
  private[operators] type Codebook = Seq[(Int, Int, Seq[Double])]

  /** Per-subspace argmin codes as one array column over the vector `v`, via
    * the fused [[graft.plans.PqCodes]] kernel. The first cut composed this
    * from M·K literal array_min trees (the [[Similarity]] assignLit pattern
    * once per subspace): at 128 inlined distance loops Janino overflowed the
    * 64 KB method limit and the whole encode stage fell back to interpreted
    * eval — the custom expression is one compact codegen'd triple loop.
    */
  private[operators] def codesArray(cb: Codebook, subDim: Int = SubDim): Column =
    graft.plans.VectorFunctions.pq_codes(col("v"), subDim, cb)

  /** Lloyd fit of all [[M]] codebooks at once: seed with the first [[K]]
    * vectors' subvectors, then per iteration ONE distributed aggregation
    * (encode inline against the literal codebooks + per-(m, c, sd) mean) and
    * a ≤ M·K·SubDim = 1,024-value collect — the same driver-side
    * literal-folding budget as the IVF quantizer. Codewords that lose every
    * vector simply drop out of the next round's literals (both engines drop
    * them identically).
    */
  private[operators] def lloydPq(e: DataFrame, numSub: Int = M): Codebook = {
    val subDim = Dim / numSub
    var cb: Codebook = e.filter(col("vec_id") < K)
      .select(col("vec_id").cast("int").as("c"), col("v")).collect()
      .flatMap { r =>
        val c = r.getInt(0); val v = r.getSeq[Double](1)
        (0 until numSub).map(m => (m, c, v.slice(m * subDim, (m + 1) * subDim).toSeq))
      }.toSeq.sortBy(t => (t._1, t._2))
    for (_ <- 1 to Iters) {
      cb = e.select(codesArray(cb, subDim).as("codes"), posexplode(col("v")))
        .select(expr(s"pos div $subDim").cast("int").as("m"),
          pmod(col("pos"), lit(subDim)).cast("int").as("sd"),
          col("col").as("x"),
          element_at(col("codes"), expr(s"pos div $subDim").cast("int") + 1).as("c"))
        .groupBy("m", "c", "sd").agg(r6(avg(col("x"))).as("w"))
        .collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getDouble(3)))
        .groupBy(t => (t._1, t._2))
        .map { case ((m, c), rows) => (m, c, rows.sortBy(_._3).map(_._4).toSeq) }
        .toSeq.sortBy(t => (t._1, t._2))
    }
    cb
  }

  /** Codebooks are an index like the IVF quantizer: fit once per corpus and
    * subspace count, refit when the embeddings' listing changes. */
  private def fittedM(spark: SparkSession, dir: String, numSub: Int): Codebook =
    Artifacts.memo("pq_codebook", s"$dir#m=$numSub", Artifacts.corpusFingerprint(spark, dir)) {
      val (e, ids) = graft.functions.Checkpoints.tracked(
        emb(spark, dir).select("vec_id", "v"))
      try lloydPq(e, numSub)
      finally graft.functions.Checkpoints.release(e, ids, blocking = true)
    }

  private def fitted(spark: SparkSession, dir: String): Codebook =
    fittedM(spark, dir, M)

  /** The fitted codebooks, flat: (m, c, sd, w). */
  def codebooksFlat(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    fitted(spark, dir)
      .flatMap { case (m, c, ws) => ws.zipWithIndex.map { case (w, sd) => (m, c, sd, w) } }
      .toDF("m", "c", "sd", "w")
  }

  /** PQ encoding of the whole corpus: (vec_id, m, code) — the 8-codes-per-
    * vector compressed representation, one narrow projection + posexplode.
    */
  def codes(spark: SparkSession, dir: String): DataFrame = {
    val cb = fitted(spark, dir)
    emb(spark, dir)
      .select(col("vec_id"), posexplode(codesArray(cb)))
      .select(col("vec_id"), col("pos").cast("int").as("m"), col("col").as("code"))
  }

  /** ADC top-k: broadcast the 100-query × 128-entry distance table, stream
    * the corpus CODES (never the vectors), sum 8 exact-integer-quantized
    * lookups per (query, vector), rank ascending. The per-(qid, vec_id)
    * partial sums collapse map-side (8 rows → 1), so the shuffle carries one
    * row per scored pair, not per subspace.
    */
  def adcTopK(spark: SparkSession, dir: String): DataFrame =
    adcTopKM(spark, dir, M)

  /** Parameterized operating point: `numSub` subquantizers of Dim/numSub dims
    * each. More subspaces = finer quantization = higher recall at less
    * compression — the trade `ann_pq16_recall` measures against the M=8 row
    * (the same measured-tuning-surface stance as the LSH keyspace ladder).
    */
  def adcTopKM(spark: SparkSession, dir: String, numSub: Int): DataFrame = {
    val subDim = Dim / numSub
    val cb = fittedM(spark, dir, numSub).sortBy(t => (t._1, t._2))
    adcTopKOver(emb(spark, dir), cb, subDim)
  }

  /** ADC top-k over an explicit (vec_id, v) frame — the body shared by the
    * raw operating points and [[OpqOps]]' rotated one. */
  private[operators] def adcTopKOver(e: DataFrame, cb: Codebook, subDim: Int): DataFrame = {
    val dt = e.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("qid"),
        posexplode(graft.plans.VectorFunctions.pq_dists(col("v"), subDim, cb)))
      .select(col("qid"),
        element_at(typedLit(cb.map(_._1)), col("pos") + 1).as("m"),
        element_at(typedLit(cb.map(_._2)), col("pos") + 1).as("code"),
        col("col").as("dist"))
    val corpusCodes = e
      .select(col("vec_id"), posexplode(codesArray(cb, subDim)))
      .select(col("vec_id"), col("pos").cast("int").as("m"), col("col").as("code"))
    val scored = corpusCodes.join(broadcast(dt), Seq("m", "code"))
      .filter(col("vec_id") =!= col("qid"))
      .groupBy("qid", "vec_id")
      .agg((sum(fx(col("dist"), 6)).cast("double") / 1e6).as("adist"))
    val w = Window.partitionBy("qid").orderBy(asc("adist"), asc("vec_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= TopK)
      .select(col("qid"), col("vec_id").as("neighbor_id"), col("rank"), col("adist"))
  }

  /** Second PQ operating point: 16 subquantizers of 4 dims (16 B/vector). */
  val M16 = 16

  /** Exact-L2 ground truth for the ADC ranking (PQ approximates L2², so its
    * honest baseline is the exact L2² top-k, not the cosine one).
    */
  def bfL2TopK(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    val q = e.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val scored = e.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("dist", r6(l2_sq(col("qv"), col("v"))))
    val w = Window.partitionBy("qid").orderBy(asc("dist"), asc("vec_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= TopK)
      .select(col("qid"), col("vec_id").as("neighbor_id"), col("rank"), col("dist"))
  }

  /** Recall@[[TopK]] of the 32×-compressed ADC ranking vs exact L2. */
  def adcRecall(spark: SparkSession, dir: String): DataFrame =
    Similarity.recallOf(bfL2TopK(spark, dir), adcTopK(spark, dir))

  /** Recall at the finer [[M16]] operating point (16 B/vector vs 8). */
  def adc16Recall(spark: SparkSession, dir: String): DataFrame =
    Similarity.recallOf(bfL2TopK(spark, dir), adcTopKM(spark, dir, M16))

  // ---------------- IVF-PQ: coarse cells + compressed-domain scoring ----------------

  /** The shared IVF coarse quantizer (16 centroids, cached per corpus),
    * collected back to literal form for plan folding.
    */
  private[operators] def centroids(spark: SparkSession, dir: String): Seq[(Int, Seq[Double])] =
    Similarity.kmeansCentroidsFlat(spark, dir).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getDouble(2)))
      .groupBy(_._1).map { case (c, rows) => c -> rows.sortBy(_._2).map(_._3).toSeq }
      .toSeq.sortBy(_._1)

  /** (r6 dist, cell) literal pairs — [[Similarity]]'s assignLit building
    * block over the shared quantizer (16 kernels: codegen-safe).
    */
  private[operators] def cellPairs(cent: Seq[(Int, Seq[Double])]): Seq[Column] =
    cent.map { case (c, w) =>
      array(r6(l2_sq(col("v"), typedLit(w))), lit(c.toDouble))
    }

  /** IVF-PQ search — the billion-vector architecture (Jégou et al. §IV):
    * the IVF coarse quantizer prunes the corpus to the query's
    * [[Similarity.NProbe]] nearest cells, and the surviving candidates are
    * ranked by PQ/ADC WITHOUT touching raw vectors. The corpus side carries
    * only (cell, 8 codes) per vector — cell assignment and PQ encode fold
    * into ONE literal projection over the single corpus scan; the query side
    * broadcasts (probed cells + distance table). At 100 TB: candidate volume
    * drops ~cells/nprobe-fold before any scoring, the scored scan reads
    * ~8 B/vector, and nothing but (qid, vec_id, partial-sum) rows ever
    * shuffle.
    */
  /** Corpus-side IVF cell assignment (vec_id, cell) — exposed for the spec's
    * cell-membership invariant. */
  def corpusCells(spark: SparkSession, dir: String): DataFrame = {
    val cent = centroids(spark, dir)
    emb(spark, dir).select(col("vec_id"),
      array_min(array(cellPairs(cent): _*)).getItem(1).cast("int").as("cell"))
  }

  /** Query-side probed cells (qid, cell): the [[Similarity.NProbe]] nearest
    * coarse cells per query. */
  def probedCells(spark: SparkSession, dir: String): DataFrame = {
    val cent = centroids(spark, dir)
    emb(spark, dir).filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("qid"),
        posexplode(slice(array_sort(array(cellPairs(cent): _*)), 1, Similarity.NProbe)))
      .select(col("qid"), col("col").getItem(1).cast("int").as("cell"))
  }

  def ivfPqTopK(spark: SparkSession, dir: String): DataFrame =
    ivfPqTopKWidth(spark, dir, TopK)

  /** Recall@[[TopK]] of IVF-PQ vs exact L2 — read next to `ann_ivf_np_recall`
    * (same cells, exact scoring) and `ann_pq_adc_recall` (full scan, ADC
    * scoring), this row prices the two approximations separately.
    */
  def ivfPqRecall(spark: SparkSession, dir: String): DataFrame =
    Similarity.recallOf(bfL2TopK(spark, dir), ivfPqTopK(spark, dir))

  /** ADC shortlist width for the exact re-rank stage. */
  val RerankWidth = 50

  /** The FULL three-stage production ANN pipeline: IVF cells prune, ADC ranks
    * the survivors in compressed domain, and only the top [[RerankWidth]]
    * shortlist touches raw vectors for an exact re-rank. At 100 TB the raw
    * vector fetch is RerankWidth rows per query instead of a corpus scan —
    * this is why PQ's lossy ordering is acceptable: the re-rank repairs
    * ordering mistakes INSIDE the shortlist, so end recall is bounded by
    * shortlist membership, not by ADC's ranking fidelity.
    */
  def ivfPqRerankTopK(spark: SparkSession, dir: String): DataFrame = {
    val short = ivfPqTopKWidth(spark, dir, RerankWidth)
      .select(col("qid"), col("neighbor_id").as("vec_id"))
    val e = emb(spark, dir).select(col("vec_id"), col("v"))
    val q = emb(spark, dir).filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val exact = short.join(e, "vec_id").join(broadcast(q), "qid")
      .withColumn("dist", r6(l2_sq(col("qv"), col("v"))))
    val rw = Window.partitionBy("qid").orderBy(asc("dist"), asc("vec_id"))
    exact.withColumn("rank", row_number().over(rw)).filter(col("rank") <= TopK)
      .select(col("qid"), col("vec_id").as("neighbor_id"), col("rank"), col("dist"))
  }

  /** [[ivfPqTopK]] with a parameterized cut — shared by search and re-rank. */
  private def ivfPqTopKWidth(spark: SparkSession, dir: String, k: Int): DataFrame = {
    val cent = centroids(spark, dir)
    val cb = fitted(spark, dir).sortBy(t => (t._1, t._2))
    val e = emb(spark, dir).select("vec_id", "v")
    val corpus = e.select(col("vec_id"),
        array_min(array(cellPairs(cent): _*)).getItem(1).cast("int").as("cell"),
        posexplode(graft.plans.VectorFunctions.pq_codes(col("v"), SubDim, cb)))
      .select(col("vec_id"), col("cell"), col("pos").cast("int").as("m"), col("col").as("code"))
    val dt = e.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("qid"),
        posexplode(graft.plans.VectorFunctions.pq_dists(col("v"), SubDim, cb)))
      .select(col("qid"),
        element_at(typedLit(cb.map(_._1)), col("pos") + 1).as("m"),
        element_at(typedLit(cb.map(_._2)), col("pos") + 1).as("code"),
        col("col").as("dist"))
    val scored = corpus.join(broadcast(probedCells(spark, dir)), "cell")
      .filter(col("vec_id") =!= col("qid"))
      .join(broadcast(dt), Seq("qid", "m", "code"))
      .groupBy("qid", "vec_id")
      .agg((sum(fx(col("dist"), 6)).cast("double") / 1e6).as("adist"))
    val w = Window.partitionBy("qid").orderBy(asc("adist"), asc("vec_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col("qid"), col("vec_id").as("neighbor_id"), col("rank"), col("adist"))
  }

  /** Recall@[[TopK]] after the exact re-rank — the end-to-end pipeline
    * number; the gap to `ann_ivfpq_recall` is what RerankWidth raw-vector
    * fetches per query buy back.
    */
  def ivfPqRerankRecall(spark: SparkSession, dir: String): DataFrame =
    Similarity.recallOf(bfL2TopK(spark, dir), ivfPqRerankTopK(spark, dir))

  // ---------------- DuckDB oracle twins ----------------

  /** flat → sflat (subspace view) → pcent0..pcent[[Iters]] → codes — the
    * per-subspace k-means chain; [[Similarity]]'s kmeansSql with the
    * subspace id as one more key everywhere.
    */
  private def pqChainSql: String = pqChainSqlFor(SubDim)

  private[operators] def pqChainSqlFor(subDim: Int, from: String = "flat"): String = {
    val steps = (1 to Iters).map { i =>
      s"""pdist$i AS (
         |  SELECT f.vec_id, f.m, c.c, ${sqlR6("sum(pow(f.x - c.w, 2))")} AS dist
         |  FROM sflat f JOIN pcent${i - 1} c ON c.m = f.m AND c.sd = f.sd
         |  GROUP BY 1, 2, 3
         |), pasg$i AS (
         |  SELECT vec_id, m, c FROM (
         |    SELECT vec_id, m, c, row_number() OVER (PARTITION BY vec_id, m ORDER BY dist, c) AS rn
         |    FROM pdist$i)
         |  WHERE rn = 1
         |), pcent$i AS (
         |  SELECT a.m, a.c, f.sd, ${sqlR6("avg(f.x)")} AS w
         |  FROM pasg$i a JOIN sflat f ON f.vec_id = a.vec_id AND f.m = a.m
         |  GROUP BY 1, 2, 3
         |)""".stripMargin
    }.mkString(",\n")
    s"""sflat AS (
       |  SELECT vec_id, CAST(d // $subDim AS INT) AS m, CAST(d % $subDim AS INT) AS sd, x
       |  FROM $from
       |),
       |pcent0 AS (
       |  SELECT m, CAST(vec_id AS INT) AS c, sd, x AS w FROM sflat WHERE vec_id < $K
       |),
       |$steps,
       |fdist AS (
       |  SELECT f.vec_id, f.m, c.c, ${sqlR6("sum(pow(f.x - c.w, 2))")} AS dist
       |  FROM sflat f JOIN pcent$Iters c ON c.m = f.m AND c.sd = f.sd
       |  GROUP BY 1, 2, 3
       |), pqcodes AS (
       |  SELECT vec_id, m, c AS code FROM (
       |    SELECT vec_id, m, c, row_number() OVER (PARTITION BY vec_id, m ORDER BY dist, c) AS rn
       |    FROM fdist)
       |  WHERE rn = 1
       |)""".stripMargin
  }

  /** Query-side ADC distance table as a CTE (qid, m, code, dist). */
  private[operators] def qdtCte: String =
    s"""qdt AS (
       |  SELECT f.vec_id AS qid, c.m, c.c AS code, ${sqlR6("sum(pow(f.x - c.w, 2))")} AS dist
       |  FROM sflat f JOIN pcent$Iters c ON c.m = f.m AND c.sd = f.sd
       |  WHERE f.vec_id < $NumQueries GROUP BY 1, 2, 3
       |)""".stripMargin

  /** Exact-L2 ground-truth top-k CTEs (bfd → bf_topk). */
  private[operators] def bfL2Ctes: String =
    s"""bfd AS (
       |  SELECT a.vec_id AS qid, b.vec_id AS vid, ${sqlR6("sum(pow(a.x - b.x, 2))")} AS dist
       |  FROM flat a JOIN flat b ON b.d = a.d
       |  WHERE a.vec_id < $NumQueries AND b.vec_id <> a.vec_id GROUP BY 1, 2
       |), bf_topk AS (
       |  SELECT qid, vid FROM (
       |    SELECT qid, vid, row_number() OVER (PARTITION BY qid ORDER BY dist, vid) AS rn FROM bfd)
       |  WHERE rn <= $TopK
       |)""".stripMargin

  /** hits + per-qid/rollup recall tail against `bf_topk`. */
  private[operators] def recallTailSql(apTopk: String): String =
    s"""hits AS (
       |  SELECT b.qid, CASE WHEN p.vid IS NULL THEN 0 ELSE 1 END AS hit
       |  FROM bf_topk b LEFT JOIN $apTopk p ON p.qid = b.qid AND p.vid = b.vid
       |)
       |SELECT coalesce(CAST(qid AS BIGINT), -1) AS qid,
       |       ${sqlR6("avg(hit)")} AS recall,
       |       CAST(sum(hit) AS BIGINT) AS n_matched, count(*) AS n
       |FROM hits GROUP BY ROLLUP (qid) ORDER BY 1""".stripMargin

  /** Full-scan ADC scores (ad: qid, vid, adist). */
  private[operators] def adFullCte: String =
    s"""ad AS (
       |  SELECT t.qid, k.vec_id AS vid,
       |         CAST(sum(${sqlFx("t.dist", 6)}) AS DOUBLE) / 1e6 AS adist
       |  FROM pqcodes k JOIN qdt t ON t.m = k.m AND t.code = k.code
       |  WHERE k.vec_id <> t.qid GROUP BY 1, 2
       |)""".stripMargin

  /** Cell-pruned ADC scores: qcells (nprobe nearest IVF cells per query) →
    * candidates from the shared bkt assignment → ADC sum.
    */
  private def adIvfPqCtes: String =
    s"""qcells AS (
       |  SELECT vec_id AS qid, c FROM (
       |    SELECT vec_id, c, row_number() OVER (PARTITION BY vec_id ORDER BY dist, c) AS rn
       |    FROM bdist WHERE vec_id < $NumQueries)
       |  WHERE rn <= ${Similarity.NProbe}
       |), ad AS (
       |  SELECT q.qid, b.vec_id AS vid,
       |         CAST(sum(${sqlFx("t.dist", 6)}) AS DOUBLE) / 1e6 AS adist
       |  FROM bkt b JOIN qcells q ON q.c = b.c
       |  JOIN pqcodes k ON k.vec_id = b.vec_id
       |  JOIN qdt t ON t.qid = q.qid AND t.m = k.m AND t.code = k.code
       |  WHERE b.vec_id <> q.qid GROUP BY 1, 2
       |)""".stripMargin

  private[operators] val adTopkSql: String =
    s"""ap_topk AS (
       |  SELECT qid, vid FROM (
       |    SELECT qid, vid, row_number() OVER (PARTITION BY qid ORDER BY adist, vid) AS rn FROM ad)
       |  WHERE rn <= $TopK
       |)""".stripMargin

  /** IVF cell-size balance profile — the operational metric an index builder
    * reads BEFORE committing a 100-TB build: a coarse quantizer whose largest
    * cell holds several times its fair share turns nprobe into a lie (hot
    * cells dominate every probe's latency and the biggest cell's partition
    * straggles the build). load_factor = n·K/total, so 1.0 is perfectly
    * balanced and the max row is the straggler multiple. Rides the shared
    * cached quantizer; one narrow groupBy over the literal cell assignment.
    */
  def cellBalance(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy()
    corpusCells(spark, dir)
      .groupBy("cell").agg(count(lit(1)).as("n"))
      .withColumn("total", sum(col("n")).over(w))
      .select(col("cell"), col("n"),
        r6(col("n").cast("double") / col("total").cast("double")).as("share"),
        r6(col("n").cast("double") * Similarity.KMeansK.toDouble /
          col("total").cast("double")).as("load_factor"))
  }

  def cellBalanceOracle: String =
    s"""WITH ${Similarity.flatSql},
       |${Similarity.ivfBucketCtes},
       |cnt AS (SELECT c AS cell, count(*) AS n FROM bkt GROUP BY 1)
       |SELECT cell, n,
       |       ${sqlR6("CAST(n AS DOUBLE) / CAST(sum(n) OVER () AS DOUBLE)")} AS share,
       |       ${sqlR6(s"CAST(n AS DOUBLE) * ${Similarity.KMeansK}.0e0 / CAST(sum(n) OVER () AS DOUBLE)")} AS load_factor
       |FROM cnt ORDER BY cell""".stripMargin

  /** Per-subspace PQ reconstruction distortion — the codebook-quality dial
    * read next to the recall ladder: mean squared quantization error per
    * subquantizer (avg over the corpus of min_c ||x_m − w_{m,c}||²) and each
    * subspace's share of the total error. A subspace carrying several times
    * its fair share is where extra codebook bits buy recall (the allocation
    * signal OPQ's snake-draft uses). Rides the fused [[graft.plans.PqDists]]
    * distance-table kernel — the per-m minimum falls out of the SAME array
    * the ADC queries broadcast; distortions are r6 at the kernel boundary and
    * fx9-summed, so the means and shares are order-independent exact.
    */
  def pqDistortion(spark: SparkSession, dir: String): DataFrame = {
    val cb = fitted(spark, dir)
    val posM = cb.map(_._1) // table position → subspace id (codewords may drop)
    val perVec = emb(spark, dir)
      .select(col("vec_id"),
        posexplode(graft.plans.VectorFunctions.pq_dists(col("v"), SubDim, cb)))
      .select(col("vec_id"),
        element_at(typedLit(posM), col("pos") + 1).as("m"), col("col").as("dist"))
      .groupBy("vec_id", "m").agg(min(col("dist")).as("dist"))
    val per = perVec.groupBy("m")
      .agg(count(lit(1)).as("n"), sum(fx9(col("dist"))).as("s_fx"))
    val tot = per.agg(sum(col("s_fx")).as("tot_fx"))
    per.crossJoin(broadcast(tot))
      .select(col("m"), col("n"),
        r6(col("s_fx").cast("double") / 1e9 / col("n").cast("double")).as("mean_sq_err"),
        r6(col("s_fx").cast("double") / col("tot_fx").cast("double")).as("err_share"))
  }

  def pqDistortionOracle: String =
    s"""WITH ${Similarity.flatSql},
       |$pqChainSql,
       |dst AS (SELECT vec_id, m, min(dist) AS dist FROM fdist GROUP BY 1, 2),
       |per AS (
       |  SELECT m, count(*) AS n, CAST(sum(${sqlFx9("dist")}) AS BIGINT) AS s_fx
       |  FROM dst GROUP BY 1
       |), t AS (SELECT CAST(sum(s_fx) AS BIGINT) AS tot_fx FROM per)
       |SELECT m, n,
       |       ${sqlR6("CAST(s_fx AS DOUBLE)/1e9/CAST(n AS DOUBLE)")} AS mean_sq_err,
       |       ${sqlR6("CAST(s_fx AS DOUBLE)/CAST(tot_fx AS DOUBLE)")} AS err_share
       |FROM per, t ORDER BY m""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "emb_pq_distortion" -> ((s, d) => pqDistortion(s, d).orderBy("m")),
    "emb_cell_balance" -> ((s, d) => cellBalance(s, d).orderBy("cell")),
    "ann_pq_codebooks" -> ((s, d) => codebooksFlat(s, d).orderBy("m", "c", "sd")),
    "ann_pq_codes" -> ((s, d) => codes(s, d).orderBy("vec_id", "m")),
    "ann_pq_topk" -> ((s, d) => adcTopK(s, d).orderBy("qid", "rank")),
    "ann_pq_adc_recall" -> ((s, d) => adcRecall(s, d).orderBy("qid")),
    "ann_pq16_recall" -> ((s, d) => adc16Recall(s, d).orderBy("qid")),
    "ann_ivfpq_topk" -> ((s, d) => ivfPqTopK(s, d).orderBy("qid", "rank")),
    "ann_ivfpq_recall" -> ((s, d) => ivfPqRecall(s, d).orderBy("qid")),
    "ann_ivfpq_rerank_recall" -> ((s, d) => ivfPqRerankRecall(s, d).orderBy("qid"))
  )

  def oracles: Map[String, String] = Map(
    "emb_pq_distortion" -> pqDistortionOracle,
    "emb_cell_balance" -> cellBalanceOracle,
    "ann_pq_codebooks" ->
      s"""WITH ${Similarity.flatSql},
         |$pqChainSql
         |SELECT m, c, sd, w FROM pcent$Iters ORDER BY m, c, sd""".stripMargin,
    "ann_pq_codes" ->
      s"""WITH ${Similarity.flatSql},
         |$pqChainSql
         |SELECT vec_id, m, code FROM pqcodes ORDER BY vec_id, m""".stripMargin,
    "ann_pq_topk" ->
      s"""WITH ${Similarity.flatSql},
         |$pqChainSql,
         |$qdtCte,
         |$adFullCte
         |SELECT qid, vid AS neighbor_id, CAST(rn AS INT) AS rank, adist
         |FROM (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY adist, vid) AS rn FROM ad)
         |WHERE rn <= $TopK ORDER BY qid, rank""".stripMargin,
    "ann_pq_adc_recall" ->
      s"""WITH ${Similarity.flatSql},
         |$pqChainSql,
         |$qdtCte,
         |$adFullCte,
         |$adTopkSql,
         |$bfL2Ctes,
         |${recallTailSql("ap_topk")}""".stripMargin,
    "ann_pq16_recall" ->
      s"""WITH ${Similarity.flatSql},
         |${pqChainSqlFor(Dim / M16)},
         |$qdtCte,
         |$adFullCte,
         |$adTopkSql,
         |$bfL2Ctes,
         |${recallTailSql("ap_topk")}""".stripMargin,
    "ann_ivfpq_topk" ->
      s"""WITH ${Similarity.flatSql},
         |${Similarity.ivfBucketCtes},
         |$pqChainSql,
         |$qdtCte,
         |$adIvfPqCtes
         |SELECT qid, vid AS neighbor_id, CAST(rn AS INT) AS rank, adist
         |FROM (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY adist, vid) AS rn FROM ad)
         |WHERE rn <= $TopK ORDER BY qid, rank""".stripMargin,
    "ann_ivfpq_recall" ->
      s"""WITH ${Similarity.flatSql},
         |${Similarity.ivfBucketCtes},
         |$pqChainSql,
         |$qdtCte,
         |$adIvfPqCtes,
         |$adTopkSql,
         |$bfL2Ctes,
         |${recallTailSql("ap_topk")}""".stripMargin,
    "ann_ivfpq_rerank_recall" ->
      s"""WITH ${Similarity.flatSql},
         |${Similarity.ivfBucketCtes},
         |$pqChainSql,
         |$qdtCte,
         |$adIvfPqCtes,
         |short AS (
         |  SELECT qid, vid FROM (
         |    SELECT qid, vid, row_number() OVER (PARTITION BY qid ORDER BY adist, vid) AS rn FROM ad)
         |  WHERE rn <= $RerankWidth
         |), rrd AS (
         |  SELECT s.qid, s.vid, ${sqlR6("sum(pow(a.x - b.x, 2))")} AS dist
         |  FROM short s
         |  JOIN flat a ON a.vec_id = s.qid
         |  JOIN flat b ON b.vec_id = s.vid AND b.d = a.d
         |  GROUP BY 1, 2
         |), ap_topk AS (
         |  SELECT qid, vid FROM (
         |    SELECT qid, vid, row_number() OVER (PARTITION BY qid ORDER BY dist, vid) AS rn FROM rrd)
         |  WHERE rn <= $TopK
         |),
         |$bfL2Ctes,
         |${recallTailSql("ap_topk")}""".stripMargin
  )
}
