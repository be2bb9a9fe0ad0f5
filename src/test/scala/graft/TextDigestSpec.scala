package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.security.MessageDigest
import scala.jdk.CollectionConverters._

import graft.functions.TextDigest._
import graft.operators.Dedup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Md5
import org.apache.spark.sql.functions._

/** The text digest format of [[graft.functions.TextDigest]], checked three
  * ways: against a plain-Scala reference, against the md5 trap in the
  * registered plans, and against copies of the format growing back outside
  * the module. */
class TextDigestSpec extends SparkSpec {
  import spark.implicits._

  // ---- plain-Scala reference: java.security.MessageDigest + Long arithmetic ----

  private def md5Hex(s: String): String =
    MessageDigest.getInstance("MD5").digest(s.getBytes(UTF_8)).map(b => f"${b & 0xff}%02x").mkString

  private def bitsRef(s: String, hex: Int = 7): Long = java.lang.Long.parseLong(md5Hex(s).take(hex), 16)

  // Spark's split is java.lang.String.split with limit -1
  private def wordsRef(text: String): Seq[String] = text.split("\\s+", -1).toSeq

  // Spark's trim strips spaces only
  private def normalizedRef(text: String): String =
    text.toLowerCase.replaceAll("^ +| +$", "").replaceAll("\\s+", " ")

  private def gramRef(hw: Seq[Long], i: Int, n: Int): Long = {
    def at(k: Int): Long = if (k >= 1 && k <= hw.length) hw(k - 1) else 0L
    (2 to n).foldLeft(at(i + 1))((h, j) => (h * 69069L + at(i + j)) % 2147483648L)
  }

  private val Ns = Seq(2, 3, 5)

  /** doc_id, text, fingerprint, hw and one gram array per n in [[Ns]], every
    * position 0..max(#words − n, 0), as the registered queries build them. */
  private def digests(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("text"), md5(normalized).as("fp"), wordDigests().as("hw"))
      .select(col("doc_id") +: col("text") +: col("fp") +: col("hw") +: Ns.map(n =>
        transform(sequence(lit(0), greatest(size(col("hw")) - n, lit(0))),
          i => gram(col("hw"), i, n)).as(s"g$n")): _*)

  private def checkAgainstReference(docs: DataFrame): Int = {
    val rows = digests(docs).collect()
    rows.foreach { r =>
      val text = r.getAs[String]("text")
      val id = r.getAs[Long]("doc_id")
      val hw = wordsRef(text).map(w => bitsRef(w))
      assert(r.getAs[String]("fp") == md5Hex(normalizedRef(text)), s"fingerprint of doc $id")
      assert(r.getSeq[Long](r.fieldIndex("hw")) == hw, s"word digests of doc $id")
      Ns.foreach { n =>
        val want = (0 to math.max(hw.length - n, 0)).map(i => gramRef(hw, i, n))
        assert(r.getSeq[Long](r.fieldIndex(s"g$n")) == want, s"$n-grams of doc $id")
      }
    }
    rows.length
  }

  test("Spark digests equal the plain-Scala reference over the fixture documents") {
    assert(checkAgainstReference(Tables.documents(spark, sf)) > 0)
  }

  test("docs shorter than n words, blank docs and odd whitespace follow the reference") {
    val docs = Seq((1L, "solo"), (2L, "two words"), (3L, ""), (4L, " lead and trail "),
      (5L, "Tab\tand\nnewline  runs"), (6L, "four words right here")).toDF("doc_id", "text")
    assert(checkAgainstReference(docs) == 6)
  }

  test("digest constants match the format's published values") {
    // taken from the registry before the format moved into TextDigest
    val got = Seq("the", "graft", "split:0", "usq:7").map(s =>
      spark.range(1).select(md5Bits(lit(s))).head().getLong(0))
    assert(got == Seq(150749894L, 108642893L, 8457780L, 160533402L))
    assert(got == Seq("the", "graft", "split:0", "usq:7").map(bitsRef(_)))
    val wide = spark.range(1).select(md5Bits(lit("the"), 15)).head().getLong(0)
    assert(wide == bitsRef("the", 15))
    val fp = SparkEntry.queries("text_fingerprint")(spark, sf).filter(col("doc_id") < 3)
      .select("min_shingle_hash").as[Long].collect().toSeq
    assert(fp == Seq(194382954L, 14750821L, 25905167L))
    val chunk = SparkEntry.queries("docs_rag_chunks")(spark, sf).filter(col("doc_id") === 0)
      .select("chunk_digest").as[Long].collect().toSeq
    assert(chunk == Seq(502366495L))
  }

  // ---- the md5 trap: hw is projected once, never inlined into a position lambda ----

  private def md5Nodes(df: DataFrame): Int =
    df.queryExecution.optimizedPlan.collectWithSubqueries { case p =>
      p.expressions.map(_.collect { case m: Md5 => m }.size).sum
    }.sum

  test("word digests stay in their own projection in the optimized plans") {
    assert(md5Nodes(SparkEntry.queries("text_fingerprint")(spark, sf)) == 2)
    // the length filters count words; a filter on `size(hw)` would be
    // pushed below the projection and hash every word again
    assert(md5Nodes(SparkEntry.queries("docs_winnowing")(spark, sf)) == 1)
    assert(md5Nodes(SparkEntry.queries("docs_chunk_dedup")(spark, sf)) == 1)
    assert(md5Nodes(SparkEntry.queries("docs_boilerplate_scrub")(spark, sf)) == 1)
    assert(md5Nodes(Dedup.shinglesOf(Tables.documents(spark, sf))) == 1)
    // the same gram with hw inlined reads md5 once per gram word
    val inlined = Tables.documents(spark, sf).select(
      transform(sequence(lit(0), size(words) - 3), i => gram(wordDigests(), i, 3)).as("g"))
    assert(md5Nodes(inlined) == 3)
  }

  // ---- regrowth guard ----

  test("no copy of the digest format outside TextDigest") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root))
    val patterns = Seq(
      "md5-prefix digest" -> """conv\(substring\(""".r,
      "md5-prefix digest (SQL)" -> """substr\(md5\(""".r,
      "word split (SQL)" -> """regexp_split_to_array""".r,
      "normalized text" -> """trim\(lower\(""".r,
      "word split" -> """(?<![.\w])split\(.*"\\\\s\+"""".r)
    val offenders = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && p.getFileName.toString != "TextDigest.scala")
      .flatMap { p =>
        Files.readAllLines(p).asScala.zipWithIndex.flatMap { case (line, i) =>
          patterns.collect { case (what, re) if re.findFirstIn(line).isDefined =>
            s"$p:${i + 1}: $what" }
        }
      }.toSeq
    assert(offenders.isEmpty,
      s"text digest copies outside graft.functions.TextDigest: ${offenders.mkString("; ")}")
  }
}
