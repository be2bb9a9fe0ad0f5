package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Deterministic text digests, bit-identical in Spark and DuckDB (SURVEY.md
  * §7.2): every text, dedup and curation query and its oracle twin hash text
  * through the Column builder and its `sql*` twin here.
  *
  * The format: words are `text` split on `\s+`; the normalized text is
  * lower-cased, space-trimmed, with whitespace runs collapsed to one space;
  * [[md5Bits]] reads the first `hex` hex digits of md5 as a BIGINT — 7 for
  * words (28 bits), at most 15 (60 bits): 16 can exceed 2⁶³ and the cast
  * overflows to NULL. [[gram]] is the n-gram digest at 0-based word position
  * i, the fold h ← (h·69069 + h′) mod 2³¹ ([[step]]) over the n word digests
  * from i + 1; a position past the end reads 0 (Spark's `try_element_at` —
  * a plain index throws under ANSI — and DuckDB's list index give NULL, and
  * both coalesce it). Every intermediate is below 2³¹·69069 + 2²⁸ < 2⁶², so
  * BIGINT arithmetic is exact in both engines; hashing words once and folding
  * integers measured ~8× faster at sf0.1 than hashing n-gram strings.
  *
  * The md5 trap: a Spark lambda that reads [[wordDigests]] per position
  * re-evaluates the whole md5 array per read, O(words²) md5 calls per doc (a
  * 50× query blowup at sf0.1). Project it as its own column first
  * (`select(wordDigests().as("hw"))`) and pass `col("hw")` to [[gram]];
  * CollapseProject keeps an expensive attribute that is read more than once.
  */
object TextDigest {
  /** 2³¹, the modulus of the n-gram fold. */
  val M31 = 2147483648L

  /** The whitespace word split of `text`. */
  val words: Column = split(col("text"), "\\s+")
  def sqlWords(text: String = "text"): String = s"regexp_split_to_array($text, '\\s+')"

  /** `text` lower-cased, trimmed, whitespace runs collapsed to one space. */
  val normalized: Column = regexp_replace(trim(lower(col("text"))), "\\s+", " ")
  val sqlNormalized: String = "regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')"

  /** The first `hex` (≤ 15) hex digits of md5(s) as a BIGINT. */
  def md5Bits(s: Column, hex: Int = 7): Column =
    conv(substring(md5(s), 1, hex), 16, 10).cast("long")
  def sqlMd5Bits(s: String, hex: Int = 7): String =
    s"('0x' || substr(md5($s), 1, $hex))::BIGINT"

  /** Per-word 28-bit digests of a word array. */
  def wordDigests(ws: Column = words): Column = transform(ws, w => md5Bits(w))
  val sqlWordDigests: String = s"list_transform(${sqlWords()}, w -> ${sqlMd5Bits("w")})"

  /** One fold step: (h·69069 + next) mod 2³¹. */
  def step(h: Column, next: Column): Column = (h * 69069L + next) % M31
  def sqlStep(h: String, next: String): String = s"(($h) * 69069 + $next) % $M31"

  private def at(hw: Column, i: Column): Column = coalesce(try_element_at(hw, i), lit(0L))

  /** The n-gram digest at 0-based position `i` of the digest array `hw`. */
  def gram(hw: Column, i: Column, n: Int): Column =
    (2 to n).foldLeft(at(hw, i + 1))((h, j) => step(h, at(hw, i + j)))
  def sqlGram(hw: String, i: String, n: Int): String =
    (2 to n).foldLeft(s"coalesce($hw[$i + 1], 0)")((h, j) => sqlStep(h, s"coalesce($hw[$i + $j], 0)"))
}
