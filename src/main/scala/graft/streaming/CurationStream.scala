package graft.streaming

import graft.operators.{Curation, TextOps}
import graft.functions.Num.sqlD
import graft.functions.TextDigest
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Streaming corpus-curation ingest — the incremental twin of
  * [[graft.operators.Curation.curated]]: documents arrive as files, each
  * micro-batch applies the PER-DOC gates (quality score + language-tag
  * agreement) as pure projections, and exact dedup suppresses replays across
  * micro-batches via `dropDuplicates` state on the content fingerprint.
  *
  * What deliberately stays OUT of the incremental pass: near-duplicate (LSH)
  * demotion. Pair discovery is inherently cross-batch (today's doc can demote
  * one ingested last week), so production splits exactly this way — per-doc
  * gates + exact-fingerprint suppression at ingest, periodic batch LSH
  * compaction behind it ([[graft.operators.Dedup]]). Registering that split
  * here makes the boundary explicit instead of pretending the whole
  * composition streams.
  *
  * State note: the documents table carries no event time, so the fingerprint
  * state is unbounded (`dropDuplicates`, not `dropDuplicatesWithinWatermark`).
  * With ingest timestamps the watermarked form drops in unchanged — proven on
  * events in [[StreamingOps.dedupWithinWatermark]]; the corpus-side contract
  * (suppress exact replays across micro-batches) is what CurationStreamSpec
  * proves.
  */
object CurationStream {

  val docsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** Incremental file source over a fixture dir's documents.parquet. */
  def docsStream(spark: SparkSession, dir: String): DataFrame =
    graft.Tables.stream(spark, dir, "documents", docsSchema)

  /** The per-doc gate + cross-batch exact-dedup pass, written against a plain
    * DataFrame so the same code plans as a batch query (the spec's oracle
    * side) or an incremental streaming query. Gates are ONE narrow projection
    * (the column-level quality/langid builders — no join in the micro-batch
    * path); the only stateful operator is the fingerprint dropDuplicates.
    */
  def curatedIngest(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("lang"), col("source"),
        TextOps.nWordsCol.as("n_words"),
        TextOps.qualityScoreCol.as("quality_score"),
        (TextOps.predLangCol === col("lang")).as("matches_tag"),
        md5(TextDigest.normalized).as("fp"))
      .filter(col("quality_score") >= Curation.QualityMin && col("matches_tag"))
      .select("doc_id", "lang", "source", "n_words", "quality_score", "fp")
      .dropDuplicates("fp")

  /** Driver-visible streaming run of [[curatedIngest]] (the
    * `stream_tumbling_agg` pattern at [[StreamingOps.streamTumbling]]): the
    * documents parquet is consumed INCREMENTALLY by the file source, the
    * per-doc gates run as one projection per micro-batch, fingerprint
    * dedup state suppresses replays, and `Trigger.AvailableNow` drains the
    * backlog into a memory sink returned as a batch frame.
    *
    * Determinism: `dropDuplicates` keeps whichever gate-passing group member
    * reaches the state store first — at scale that race is real and accepted
    * (exact replays carry identical payloads). The registered projection is
    * exactly the columns that are INVARIANT to that race: `fp`, `n_words`,
    * `quality_score` are functions of the (identical) text, and `lang` is
    * pinned by the gate itself — a passer satisfies `lang = predLang(text)`,
    * so every passer in an fp group carries the SAME lang. `doc_id` and
    * `source` are genuinely keeper-dependent and deliberately excluded (the
    * deterministic-keeper form is the batch side's job:
    * [[graft.operators.Dedup]] canonical selection keeps min doc_id).
    */
  def streamCuratedIngest(spark: SparkSession, dir: String): DataFrame =
    StreamingOps.drainToMemory(spark, "stream_curated_sink", "append",
        s"$dir/documents.parquet")(curatedIngest(docsStream(spark, dir)))
      .select("fp", "lang", "n_words", "quality_score")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "stream_curated_ingest" -> ((s, d) => streamCuratedIngest(s, d).orderBy("fp"))
  )

  def oracles: Map[String, String] = Map(
    // batch replay of the gate set: one row per fingerprint among passers —
    // DISTINCT is sound because (lang, n_words, quality_score) are equal
    // across an fp group's passers (see streamCuratedIngest doc)
    "stream_curated_ingest" ->
      s"""WITH ${TextOps.qualityCteSql("qy")},
         |${TextOps.langMatchCteSql("lg")},
         |fps AS (
         |  SELECT doc_id,
         |         md5(${TextDigest.sqlNormalized}) AS fp
         |  FROM documents
         |)
         |SELECT DISTINCT f.fp, qy.lang, qy.n_words, qy.quality_score
         |FROM qy
         |JOIN lg USING (doc_id)
         |JOIN fps f USING (doc_id)
         |WHERE qy.quality_score >= ${sqlD(Curation.QualityMin)} AND lg.matches_tag
         |ORDER BY fp""".stripMargin
  )
}
