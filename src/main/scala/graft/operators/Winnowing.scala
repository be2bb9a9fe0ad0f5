package graft.operators

import graft.Tables
import graft.functions.Num._
import graft.functions.TextDigest.{gram, sqlGram, sqlWordDigests, wordDigests, words}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Winnowing document fingerprints (Schleimer, Wilkerson & Aiken, SIGMOD
  * 2003) — the local fingerprint-selection algorithm MOSS uses: slide a
  * window of [[WinnowW]] consecutive k-gram hashes over each document and
  * keep each window's minimum (rightmost position on ties). The guarantee
  * that makes it a dedup primitive: any shared substring of length ≥
  * w + k − 1 produces at least one shared fingerprint, while expected
  * density is only 2/(w+1) of positions — a 100-TB corpus stores ~⅓ of its
  * shingles yet cannot miss a long overlap ([[TextOps.fingerprint]] keeps a
  * fixed count per doc and has no such guarantee).
  *
  * Selection is computed WITHOUT expanding windows: a position j is some
  * window's rightmost minimum iff for some offset d ∈ [0, w), the d hashes
  * before j are all ≥ h(j) and the w−1−d after are all > h(j) (ties look
  * right, hence ≥ left / > right), with the window fully inside the doc.
  * That needs only a lag/lead fan of w−1 each — one narrow window pass per
  * doc partition, no position self-join; raw text never shuffles.
  *
  * Reference analogue: none (north-star dedup surface); k-gram hashes are
  * [[graft.functions.TextDigest]] n-gram digests, exact BIGINTs in both
  * engines.
  */
object Winnowing {
  /** k-gram width (words) the hashes cover. */
  val WinnowK = 3
  /** Window width (positions) the minimum is taken over. */
  val WinnowW = 4
  /** Rare-fingerprint blocking cap for candidate pairs: fingerprints present
    * in more than this many docs are boilerplate, not evidence (the
    * [[Dedup]] MaxShingleDf discipline — keeps the pair join linear). */
  val WinnowMaxDf = 8
  /** Candidate pairs must share at least this many distinct fingerprints. */
  val WinnowMinShared = 2

  /** (doc_id, npos, pos, h): one row per k-gram position. `hw` is its own
    * projection before the position transform reads it (the md5 trap, see
    * [[graft.functions.TextDigest]]); the length filter counts words, since
    * a filter on `size(hw)` is pushed below that projection and hashes every
    * word a second time. */
  private def positions(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .filter(size(words) >= WinnowK)
      .select(col("doc_id"), wordDigests().as("hw"))
      .select(col("doc_id"), (size(col("hw")) - WinnowK + 1).as("npos"),
        posexplode(transform(sequence(lit(0), size(col("hw")) - WinnowK),
          i => gram(col("hw"), i, WinnowK))))
      .withColumnsRenamed(Map("pos" -> "pos", "col" -> "h"))

  /** Adds the boolean `sel` column: is this position a winnowing fingerprint. */
  private def selected(df: DataFrame): DataFrame = {
    val byPos = Window.partitionBy("doc_id").orderBy("pos")
    val lags = (1 until WinnowW).map(i => lag(col("h"), i).over(byPos).as(s"lg$i"))
    val leads = (1 until WinnowW).map(i => lead(col("h"), i).over(byPos).as(s"ld$i"))
    val withFan = df.select(col("*") +: (lags ++ leads): _*)
    // Window at offset d covers [pos-d, pos-d+w-1]; valid iff inside [0, npos).
    val sel = (0 until WinnowW).map { d =>
      val inBounds = (col("pos") >= d) && (col("pos") - d + WinnowW <= col("npos"))
      val leftOk = (1 to d).map(i => col(s"lg$i") >= col("h"))
        .foldLeft(lit(true))(_ && _)
      val rightOk = (1 to (WinnowW - 1 - d)).map(i => col(s"ld$i") > col("h"))
        .foldLeft(lit(true))(_ && _)
      inBounds && leftOk && rightOk
    }.reduce(_ || _)
    withFan.withColumn("sel", sel)
  }

  /** Per-doc fingerprint profile: positions, selected count, density — the
    * paper's 2/(w+1) expectation is the health check (uniform hashes → ~0.4
    * at w=4). Docs shorter than one full window keep 0 fingerprints. */
  def winnowProfile(spark: SparkSession, dir: String): DataFrame =
    selected(positions(spark, dir))
      .groupBy("doc_id")
      .agg(max(col("npos")).as("n_positions"),
        sum(when(col("sel"), 1L).otherwise(0L)).as("n_selected"))
      .select(col("doc_id"), col("n_positions"), col("n_selected"),
        r6(col("n_selected").cast("double") / col("n_positions").cast("double"))
          .as("density"))

  /** Candidate near-dup pairs: docs sharing ≥ [[WinnowMinShared]] distinct
    * rare fingerprints (df ≤ [[WinnowMaxDf]]). Same blocked-equi-join shape
    * as [[Dedup.ngramJaccardPairsOf]] but over the ~2.5×-sparser winnowed
    * set — the candidate volume a MOSS-style pipeline actually pays. */
  def winnowPairs(spark: SparkSession, dir: String): DataFrame = {
    val fp = selected(positions(spark, dir))
      .filter(col("sel"))
      .select("doc_id", "h").distinct()
    val rare = fp.groupBy("h").agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df") <= WinnowMaxDf && col("df") >= 2)
    val blocked = fp.join(rare.select("h"), "h")
    blocked.as("a").join(blocked.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= WinnowMinShared)
  }

  // ---------------- DuckDB oracle twins ----------------

  /** CTE chain ending in `sel(doc_id, npos, pos, h, sel)`. */
  private def selSqlChain: String = {
    val lags = (1 until WinnowW).map(i =>
      s"lag(h, $i) OVER (PARTITION BY doc_id ORDER BY pos) AS lg$i").mkString(", ")
    val leads = (1 until WinnowW).map(i =>
      s"lead(h, $i) OVER (PARTITION BY doc_id ORDER BY pos) AS ld$i").mkString(", ")
    val disjuncts = (0 until WinnowW).map { d =>
      val inB = s"pos >= $d AND pos - $d + $WinnowW <= npos"
      val left = (1 to d).map(i => s"lg$i >= h")
      val right = (1 to (WinnowW - 1 - d)).map(i => s"ld$i > h")
      (Seq(inB) ++ left ++ right).mkString("(", " AND ", ")")
    }.mkString(" OR ")
    s"""wh AS (
       |  SELECT doc_id,
       |         ${sqlWordDigests} AS hw
       |  FROM documents
       |), wpos AS (
       |  SELECT doc_id, len(hw) - $WinnowK + 1 AS npos, g.i AS pos,
       |         ${sqlGram("hw", "g.i", WinnowK)} AS h
       |  FROM wh, LATERAL (SELECT unnest(generate_series(0, len(hw) - $WinnowK)) AS i) g
       |  WHERE len(hw) >= $WinnowK
       |), fan AS (
       |  SELECT doc_id, npos, pos, h, $lags, $leads FROM wpos
       |), sel AS (
       |  SELECT doc_id, npos, pos, h, ($disjuncts) AS sel FROM fan
       |)""".stripMargin
  }

  def winnowProfileOracle: String =
    s"""WITH $selSqlChain
       |SELECT doc_id, max(npos)::BIGINT AS n_positions,
       |       sum(CASE WHEN sel THEN 1 ELSE 0 END)::BIGINT AS n_selected,
       |       ${sqlR6("CAST(sum(CASE WHEN sel THEN 1 ELSE 0 END) AS DOUBLE) / max(npos)")} AS density
       |FROM sel GROUP BY 1 ORDER BY doc_id""".stripMargin

  def winnowPairsOracle: String =
    s"""WITH $selSqlChain,
       |fp AS (SELECT DISTINCT doc_id, h FROM sel WHERE sel),
       |rare AS (
       |  SELECT h FROM fp GROUP BY h
       |  HAVING count(DISTINCT doc_id) BETWEEN 2 AND $WinnowMaxDf
       |), blocked AS (SELECT f.doc_id, f.h FROM fp f JOIN rare USING (h))
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
       |FROM blocked a JOIN blocked b ON a.h = b.h AND a.doc_id < b.doc_id
       |GROUP BY 1, 2 HAVING count(*) >= $WinnowMinShared
       |ORDER BY 1, 2""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "docs_winnowing" -> ((s, d) => winnowProfile(s, d).orderBy("doc_id")),
    "dedup_winnow_pairs" -> ((s, d) => winnowPairs(s, d).orderBy("doc_a", "doc_b"))
  )

  def oracles: Map[String, String] = Map(
    "docs_winnowing" -> winnowProfileOracle,
    "dedup_winnow_pairs" -> winnowPairsOracle
  )
}
