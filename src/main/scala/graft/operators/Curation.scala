package graft.operators

import graft.functions.Num._
import graft.functions.TextDigest
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** End-to-end corpus curation — the flagship composition of the LLM-pipeline
  * operators: quality filter ∘ language-tag agreement ∘ exact-dedup canonical ∘
  * near-duplicate demotion. A user of the individual operators chains exactly
  * these four; registering the composition oracle-checks that they compose
  * (join keys, column names, filter semantics) and not just that each works
  * in isolation.
  *
  * Near-dup demotion uses the pairwise-greedy rule — drop every doc that is
  * the LARGER id of a qualifying LSH pair (Jaccard ≥ [[Dedup.ClusterJaccard]]).
  * A component's minimum id is never the larger side of an intra-component
  * edge, so at least one representative always survives; unlike the full
  * connected-components canonicalization ([[Dedup.duplicateClusters]]) this
  * needs no iteration — one anti-join — at the cost of occasionally keeping
  * two docs whose duplicate link is only transitive. That is the standard
  * production trade-off and it is documented here deliberately.
  *
  * Scale shape: quality and langid are independent narrow projections of the
  * documents scan joined back on doc_id (each prunes to the columns it needs);
  * exact-dedup is a window over the md5 digest; the demotion list is the
  * (tiny) pair table anti-joined in. At 100 TB one would fuse quality+langid
  * into a single projection — they are kept as the registered operators here
  * precisely to exercise composition.
  */
object Curation {
  val QualityMin = 0.8

  def curated(spark: SparkSession, dir: String): DataFrame = {
    val q = TextOps.quality(spark, dir)
      .select("doc_id", "lang", "source", "n_words", "quality_score")
    val l = TextOps.langId(spark, dir).select("doc_id", "matches_tag")
    val ex = Dedup.exact(spark, dir).select("doc_id", "is_dup")
    val demote = Dedup.minhashPairs(spark, dir)
      .filter(col("jaccard") >= Dedup.ClusterJaccard)
      .select(col("doc_b").as("doc_id")).distinct()
    q.join(l, "doc_id").join(ex, "doc_id")
      .join(demote, Seq("doc_id"), "left_anti")
      .filter(col("quality_score") >= QualityMin && col("matches_tag") && !col("is_dup"))
      .select("doc_id", "lang", "source", "n_words", "quality_score")
  }

  /** The training MANIFEST a downstream job actually consumes: curated text
    * metadata joined with each doc's embedding norm and IVF cell (doc_id and
    * vec_id are aligned in the fixtures, as they would be by construction in
    * a pipeline that embeds what it curates). The cell column is what
    * cluster-balanced batch sampling keys on; the norm is the cheap
    * re-normalization check before similarity search. Composition-wise this
    * is the text stack (quality ∘ langid ∘ dedup) MEETING the vector stack
    * (quantizer) in one output — the cross-modal join is on the id, vectors
    * themselves never move.
    */
  def trainingManifest(spark: SparkSession, dir: String): DataFrame = {
    val cells = PqOps.corpusCells(spark, dir)
      .withColumnRenamed("vec_id", "doc_id")
    val norms = graft.Tables.vectors(spark, dir)
      .select(col("vec_id").as("doc_id"),
        r6(sqrt(aggregate(col("v"), lit(0.0), (acc, x) => acc + x * x))).as("emb_norm"))
    curated(spark, dir).join(cells, "doc_id").join(norms, "doc_id")
  }

  /** The curation MONITORING report — the rollup an operator actually reads
    * after a curation run: per (source, lang) grouping-set totals with each
    * gate's failure count and the final admit rate. Where `docs_curated` is
    * the ACTION view (admitted docs only), this keeps every doc and reports
    * why the dropped ones dropped — the dashboard that catches a gate
    * suddenly rejecting a whole source. ROLLUP computes (source, lang),
    * per-source, and grand-total rows in ONE pass over the gate flags
    * (Catalyst Expand + map-side partials); output is bounded by the
    * source × lang vocabulary.
    */
  def curationReport(spark: SparkSession, dir: String): DataFrame = {
    val q = TextOps.quality(spark, dir)
      .select("doc_id", "lang", "source", "quality_score")
    val l = TextOps.langId(spark, dir).select("doc_id", "matches_tag")
    val ex = Dedup.exact(spark, dir).select("doc_id", "is_dup")
    val demote = Dedup.minhashPairs(spark, dir)
      .filter(col("jaccard") >= Dedup.ClusterJaccard)
      .select(col("doc_b").as("doc_id")).distinct()
      .withColumn("demoted", lit(true))
    val flags = q.join(l, "doc_id").join(ex, "doc_id")
      .join(demote, Seq("doc_id"), "left")
      .select(col("source"), col("lang"),
        (col("quality_score") < QualityMin).as("f_quality"),
        (!col("matches_tag")).as("f_lang"),
        col("is_dup").as("f_exact"),
        coalesce(col("demoted"), lit(false)).as("f_neardup"))
      .withColumn("admitted", !col("f_quality") && !col("f_lang") && !col("f_exact") && !col("f_neardup"))
    flags.rollup(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("f_quality").cast("long")).as("n_low_quality"),
        sum(col("f_lang").cast("long")).as("n_lang_mismatch"),
        sum(col("f_exact").cast("long")).as("n_exact_dup"),
        sum(col("f_neardup").cast("long")).as("n_near_dup"),
        sum(col("admitted").cast("long")).as("n_admitted"))
      .withColumn("admit_rate",
        r6(col("n_admitted").cast("double") / col("n_docs").cast("double")))
      .na.fill("ALL", Seq("source", "lang"))
  }

  /** Keywords reported per cluster. */
  val ClusterKeywordsK = 5

  /** Top TF-IDF terms per IVF cell — the "what is each cluster about" labeling
    * pass a topic-exploration or data-audit UI runs after clustering: docs
    * joined to their (cached, shared) coarse-quantizer cell on the aligned
    * id, term frequency aggregated per (cell, word), and idf taken over CELLS
    * as the document unit (cf = number of cells containing the word — the
    * standard cluster-labeling variant, which suppresses corpus-wide
    * boilerplate exactly like document-idf suppresses stopwords). Ranking
    * uses the r6-rounded score with a word tiebreak. Cross-modal shape:
    * vectors never move — only the (vec_id, cell) pairs join the text scan.
    */
  def clusterKeywords(spark: SparkSession, dir: String): DataFrame = {
    val cells = PqOps.corpusCells(spark, dir).withColumnRenamed("vec_id", "doc_id")
    val tf = graft.Tables.documents(spark, dir)
      .select(col("doc_id"), explode(TextDigest.words).as("word"))
      .join(cells, "doc_id")
      .groupBy("cell", "word").agg(count(lit(1)).as("ctw"))
      .localCheckpoint(eager = true) // feeds cf, ncell and the scored join
    val cf = tf.groupBy("word").agg(count(lit(1)).as("cfc"))
    val nc = tf.select("cell").distinct().agg(count(lit(1)).as("ncell"))
    val scored = tf.join(cf, "word").crossJoin(broadcast(nc))
      .withColumn("score",
        r6(col("ctw").cast("double") *
          log(col("ncell").cast("double") / col("cfc").cast("double"))))
    val w = Window.partitionBy("cell").orderBy(desc("score"), asc("word"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= ClusterKeywordsK)
      .select("cell", "rank", "word", "ctw", "cfc", "score")
  }

  def clusterKeywordsOracle: String =
    s"""WITH ${Similarity.flatSql},
       |${Similarity.ivfBucketCtes},
       |cells AS (SELECT vec_id AS doc_id, c AS cell FROM bkt),
       |wds AS (
       |  SELECT doc_id, unnest(${TextDigest.sqlWords()}) AS word FROM documents
       |), tf AS (
       |  SELECT cell, word, count(*) AS ctw
       |  FROM wds JOIN cells USING (doc_id) GROUP BY 1, 2
       |), cf AS (SELECT word, count(*) AS cfc FROM tf GROUP BY 1),
       |nc AS (SELECT count(DISTINCT cell) AS ncell FROM tf),
       |scored AS (
       |  SELECT t.cell, t.word, t.ctw, c.cfc,
       |         ${sqlR6("CAST(t.ctw AS DOUBLE) * ln(CAST(n.ncell AS DOUBLE)/CAST(c.cfc AS DOUBLE))")} AS score
       |  FROM tf t JOIN cf c USING (word), nc n
       |)
       |SELECT cell, rank, word, ctw, cfc, score FROM (
       |  SELECT *, row_number() OVER (PARTITION BY cell ORDER BY score DESC, word) AS rank
       |  FROM scored)
       |WHERE rank <= $ClusterKeywordsK
       |ORDER BY cell, rank""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "docs_cluster_keywords" -> ((s, d) => clusterKeywords(s, d).orderBy("cell", "rank")),
    "docs_curated" -> ((s, d) => curated(s, d).orderBy("doc_id")),
    "docs_curation_report" -> ((s, d) => curationReport(s, d).orderBy("source", "lang")),
    "docs_training_manifest" -> ((s, d) => trainingManifest(s, d).orderBy("doc_id"))
  )

  def oracles: Map[String, String] = Map(
    "docs_cluster_keywords" -> clusterKeywordsOracle,
    "docs_curated" -> (Dedup.minhashPairsSqlChain +
      s""",
         |${TextOps.qualityCteSql("qy")},
         |${TextOps.langMatchCteSql("lg")},
         |exd AS (
         |  SELECT doc_id,
         |         doc_id <> min(doc_id) OVER (PARTITION BY md5(text)) AS is_dup
         |  FROM documents
         |), demote AS (
         |  SELECT DISTINCT doc_b AS doc_id FROM jac WHERE jaccard >= ${sqlD(Dedup.ClusterJaccard)}
         |)
         |SELECT qy.doc_id, qy.lang, qy.source, qy.n_words, qy.quality_score
         |FROM qy
         |JOIN lg USING (doc_id)
         |JOIN exd USING (doc_id)
         |WHERE qy.quality_score >= ${sqlD(QualityMin)}
         |  AND lg.matches_tag AND NOT exd.is_dup
         |  AND qy.doc_id NOT IN (SELECT doc_id FROM demote)
         |ORDER BY qy.doc_id""".stripMargin),
    "docs_curation_report" -> (Dedup.minhashPairsSqlChain +
      s""",
         |${TextOps.qualityCteSql("qy")},
         |${TextOps.langMatchCteSql("lg")},
         |exd AS (
         |  SELECT doc_id,
         |         doc_id <> min(doc_id) OVER (PARTITION BY md5(text)) AS is_dup
         |  FROM documents
         |), demote AS (
         |  SELECT DISTINCT doc_b AS doc_id FROM jac WHERE jaccard >= ${sqlD(Dedup.ClusterJaccard)}
         |), flags AS (
         |  SELECT qy.source, qy.lang,
         |         qy.quality_score < ${sqlD(QualityMin)} AS f_quality,
         |         NOT lg.matches_tag AS f_lang,
         |         exd.is_dup AS f_exact,
         |         qy.doc_id IN (SELECT doc_id FROM demote) AS f_neardup
         |  FROM qy JOIN lg USING (doc_id) JOIN exd USING (doc_id)
         |), marked AS (
         |  SELECT *, NOT f_quality AND NOT f_lang AND NOT f_exact AND NOT f_neardup AS admitted
         |  FROM flags
         |)
         |SELECT coalesce(source, 'ALL') AS source, coalesce(lang, 'ALL') AS lang,
         |       count(*) AS n_docs,
         |       CAST(sum(CASE WHEN f_quality THEN 1 ELSE 0 END) AS BIGINT) AS n_low_quality,
         |       CAST(sum(CASE WHEN f_lang THEN 1 ELSE 0 END) AS BIGINT) AS n_lang_mismatch,
         |       CAST(sum(CASE WHEN f_exact THEN 1 ELSE 0 END) AS BIGINT) AS n_exact_dup,
         |       CAST(sum(CASE WHEN f_neardup THEN 1 ELSE 0 END) AS BIGINT) AS n_near_dup,
         |       CAST(sum(CASE WHEN admitted THEN 1 ELSE 0 END) AS BIGINT) AS n_admitted,
         |       ${sqlR6("CAST(sum(CASE WHEN admitted THEN 1 ELSE 0 END) AS DOUBLE) / count(*)")} AS admit_rate
         |FROM marked GROUP BY ROLLUP (source, lang)
         |ORDER BY source, lang""".stripMargin),
    "docs_training_manifest" -> (Dedup.minhashPairsSqlChain +
      s""",
         |${TextOps.qualityCteSql("qy")},
         |${TextOps.langMatchCteSql("lg")},
         |exd AS (
         |  SELECT doc_id,
         |         doc_id <> min(doc_id) OVER (PARTITION BY md5(text)) AS is_dup
         |  FROM documents
         |), demote AS (
         |  SELECT DISTINCT doc_b AS doc_id FROM jac WHERE jaccard >= ${sqlD(Dedup.ClusterJaccard)}
         |),
         |${Similarity.flatSql},
         |${Similarity.ivfBucketCtes}
         |SELECT qy.doc_id, qy.lang, qy.source, qy.n_words, qy.quality_score,
         |       b.c AS cell, ${sqlR6("n.nrm")} AS emb_norm
         |FROM qy
         |JOIN lg USING (doc_id)
         |JOIN exd USING (doc_id)
         |JOIN bkt b ON b.vec_id = qy.doc_id
         |JOIN norms n ON n.vec_id = qy.doc_id
         |WHERE qy.quality_score >= ${sqlD(QualityMin)}
         |  AND lg.matches_tag AND NOT exd.is_dup
         |  AND qy.doc_id NOT IN (SELECT doc_id FROM demote)
         |ORDER BY qy.doc_id""".stripMargin)
  )
}
