package graft

import graft.streaming.CurationStream
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

case class DocRow(doc_id: Long, text: String, lang: String, source: String, n_chars: Long)

/** The streaming corpus-curation ingest: per-doc gates in the micro-batch
  * plus cross-batch exact-dedup state.
  */
class CurationStreamSpec extends SparkSpec {

  // 40 words → quality = 0.25·ln(41) ≈ 0.928, comfortably over the 0.8 gate
  // (23 words would score 0.794 and silently fail it)
  private val goodText =
    ("the table a join and scan of the sort a merge and key of value the row " +
      "a batch and part of data the window a group and filter of the stream " +
      "a spark and query of column").trim

  test("gates filter within a micro-batch and fingerprint state suppresses cross-batch replays") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[DocRow]
    val q = CurationStream.curatedIngest(stream.toDF())
      .writeStream.outputMode("append")
      .format("memory").queryName("curated_out").start()

    // batch 1: a passing doc, a low-quality doc (digits), a wrong-tag doc
    stream.addData(Seq(
      DocRow(1L, goodText, "en", "s0", goodText.length.toLong),
      DocRow(2L, "1 2 3 4 5 6 7 8 9 0 1 2 3 4 5 6 7 8", "en", "s0", 35L),
      DocRow(3L, goodText, "fr", "s0", goodText.length.toLong)))
    q.processAllAvailable()
    // batch 2: doc 1's text replayed under a new id (same fingerprint —
    // suppressed by state), plus a fresh passing doc
    stream.addData(Seq(
      DocRow(4L, goodText, "en", "s1", goodText.length.toLong),
      DocRow(5L, goodText + " window stream spark", "en", "s1", goodText.length + 20L)))
    q.processAllAvailable()
    q.stop()

    val out = spark.table("curated_out").collect()
    assert(out.map(_.getAs[Long]("doc_id")).sorted.toSeq == Seq(1L, 5L),
      out.mkString(", "))
  }

  test("AvailableNow file run equals the batch form of the same gates") {
    val sink = "curated_file_out"
    val q = CurationStream.curatedIngest(CurationStream.docsStream(spark, sf))
      .writeStream.outputMode("append")
      .format("memory").queryName(sink)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)

    val streamed = spark.table(sink)
    val batch = CurationStream.curatedIngest(Tables.documents(spark, sf))
    // dropDuplicates keeps an arbitrary row per fingerprint (first arrival in
    // streaming, partition order in batch), so compare only the columns that
    // are FUNCTIONS of the fingerprint: same fp ⇒ same text ⇒ same n_words /
    // quality, and gate-passers' lang equals pred(text). doc_id and source
    // legitimately differ between representatives. (Collected-set compare:
    // the result is ≤ corpus-size small by construction.)
    def keyed(df: org.apache.spark.sql.DataFrame): Set[(String, String, Long, Double)] =
      df.select("fp", "lang", "n_words", "quality_score").collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    assert(streamed.count() > 0)
    assert(keyed(streamed) == keyed(batch))
  }

  test("a directory-shaped documents table streams the same rows as the single file") {
    // what any engine write (and GenSf1) produces: documents.parquet as a
    // directory of part files
    val dir = java.nio.file.Files.createTempDirectory("graft-docs-dir")
    try {
      Tables.documents(spark, sf).repartition(3)
        .write.parquet(dir.resolve("documents.parquet").toString)
      def rows(fixture: String): Set[(String, String, Long, Double)] =
        CurationStream.streamCuratedIngest(spark, fixture).collect()
          .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
      val fromFile = rows(sf)
      val fromDir = rows(dir.toString)
      assert(fromFile.nonEmpty)
      assert(fromDir == fromFile)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }
}
