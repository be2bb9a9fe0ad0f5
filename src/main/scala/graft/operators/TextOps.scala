package graft.operators

import graft.Tables
import graft.functions.Num._
import graft.functions.TextDigest.{gram, normalized, sqlGram, sqlNormalized, sqlStep, sqlWordDigests, sqlWords, step, wordDigests, words}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators over the `documents` table (SURVEY.md §7.5; north-star
  * LLM-pipeline ops, no reference counterpart): token counting, quality scoring,
  * n-gram-heuristic language ID, and document fingerprinting.
  *
  * Scale: every query is a single narrow projection + optional hash-agg — no
  * joins, no windows; predicate/column pruning reaches the parquet scan, so at
  * 100 TB these are embarrassingly parallel map-side passes.
  */
object TextOps {

  /** Whole-word stopword hit count (list kept tiny and literal). */
  private def stopHits(ws: Column, stops: Seq[String]): Column =
    size(filter(ws, w => stops.map(s => w === s).reduce(_ || _))).cast("long")

  /** The composite quality score as a bare column over `text` — shared by the
    * batch scorer and the single-projection streaming ingest gate. */
  private[graft] def qualityScoreCol: Column = {
    val nWords = size(words).cast("double")
    val lenC = length(col("text")).cast("double")
    val punct = regexp_count(col("text"), lit("[.,;:!?]")).cast("double") / lenC
    val digit = regexp_count(col("text"), lit("[0-9]")).cast("double") / lenC
    r6(greatest(lit(0.0), least(lit(1.0),
      lit(0.25) * log(lit(1.0) + nWords) - lit(2.0) * punct - lit(2.0) * digit)))
  }

  /** The language-ID argmax as a bare column over `text` — same vote and
    * tiebreak as [[langIdOf]]. */
  private[graft] def predLangCol: Column = {
    val cEn = stopHits(words, Seq("the", "a", "and", "of"))
    val cDe = stopHits(words, Seq("der", "die", "das", "und"))
    val cEs = stopHits(words, Seq("el", "los", "las", "y"))
    val cFr = stopHits(words, Seq("le", "les", "et", "ou"))
    when(cEn + cDe + cEs + cFr === 0, "und")
      .when(cEn >= cDe && cEn >= cEs && cEn >= cFr, "en")
      .when(cDe >= cEs && cDe >= cFr, "de")
      .when(cEs >= cFr, "es")
      .otherwise("fr")
  }

  /** Word count as a bare column over `text`. */
  private[graft] def nWordsCol: Column = size(words).cast("long")

  /** Token counting: whitespace words plus a BPE-ish regex token count. */
  def tokenCounts(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select(
      col("doc_id"),
      size(words).cast("long").as("n_words"),
      regexp_count(col("text"), lit("[a-z]+")).cast("long").as("n_alpha"),
      regexp_count(col("text"), lit("[a-z]+|[0-9]+|[^a-z0-9\\s]")).cast("long").as("n_bpeish"),
      length(col("text")).cast("long").as("len_chars"),
      col("n_chars"))

  /** Quality scoring: length/punctuation/digit/stopword ratios + a composite.
    * The frame-parameterized form works on any docs-shaped input — batch scan
    * or streaming micro-batch ([[graft.streaming.CurationStream]]).
    */
  def qualityOf(in: DataFrame): DataFrame = {
    val nWords = size(words).cast("double")
    val lenC = length(col("text")).cast("double")
    val punct = regexp_count(col("text"), lit("[.,;:!?]")).cast("double") / lenC
    val digit = regexp_count(col("text"), lit("[0-9]")).cast("double") / lenC
    val stopR = stopHits(words, Seq("the", "a", "and", "of")).cast("double") / nWords
    val awl = length(regexp_replace(col("text"), "\\s", "")).cast("double") / nWords
    in.select(
      col("doc_id"), col("lang"), col("source"),
      nWordsCol.as("n_words"),
      r6(awl).as("avg_word_len"),
      r6(punct).as("punct_ratio"),
      r6(digit).as("digit_ratio"),
      r6(stopR).as("stopword_ratio"),
      qualityScoreCol.as("quality_score"))
  }

  def quality(spark: SparkSession, dir: String): DataFrame =
    qualityOf(Tables.documents(spark, dir))

  /** N-gram-heuristic language ID: stopword votes per language, deterministic
    * argmax priority en > de > es > fr, else 'und'. Frame-parameterized like
    * [[qualityOf]].
    */
  def langIdOf(in: DataFrame): DataFrame =
    in.select(col("doc_id"), col("lang"),
        stopHits(words, Seq("the", "a", "and", "of")).as("c_en"),
        stopHits(words, Seq("der", "die", "das", "und")).as("c_de"),
        stopHits(words, Seq("el", "los", "las", "y")).as("c_es"),
        stopHits(words, Seq("le", "les", "et", "ou")).as("c_fr"),
        predLangCol.as("pred_lang"))
      .withColumn("matches_tag", col("pred_lang") === col("lang"))

  def langId(spark: SparkSession, dir: String): DataFrame =
    langIdOf(Tables.documents(spark, dir))

  /** Document fingerprinting: md5 of the normalized text plus the minimum
    * word-3-shingle digest (a 1-permutation minhash / rolling-hash stand-in).
    *
    * The shingle digest is the [[graft.functions.TextDigest]] 3-gram digest
    * (one md5 per word, an integer fold per shingle; `hw` projected first).
    * No explode either — array_min over a transform keeps the whole query
    * one narrow projection, zero shuffle.
    */
  def fingerprint(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), md5(normalized).as("fingerprint"), wordDigests().as("hw"),
        size(words).as("nw"))
      .select(col("doc_id"), col("fingerprint"),
        array_min(transform(sequence(lit(0), greatest(col("nw") - 3, lit(0))),
          i => gram(col("hw"), i, 3))).as("min_shingle_hash"))

  /** Per-(lang, source) corpus aggregates. */
  def corpusStats(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).groupBy("lang", "source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        r6(avg(size(words).cast("double"))).as("avg_words"))

  val TfIdfTopK = 3

  /** Top-[[TfIdfTopK]] terms per document by tf·idf (idf = ln(N/df)) — the
    * keyword-extraction pass of a corpus-analysis pipeline.
    *
    * Shape at scale: explode(words) collapses through a map-side partial
    * count into (doc_id, word, tf); df is one more hash-agg of that table
    * keyed on word (vocabulary-sized, not corpus-sized); the join back is a
    * shuffle on word; the final top-k is a per-doc window. N (corpus size) is
    * a plan-time literal from a 1-value count — the same constant-folding
    * stance as the k-means centroids. Ranking uses the r6-ROUNDED score (with
    * a word tiebreak) so both engines rank identical values — raw tf·idf
    * differs in the last ulp across libm implementations.
    */
  def tfidfTop(spark: SparkSession, dir: String): DataFrame = {
    val nDocs = Tables.documents(spark, dir).count()
    // checkpoint: tf feeds BOTH the df aggregation and the scored join —
    // without it each branch re-runs the corpus-sized explode+count
    // (plan audit showed two identical hashpartitioning(doc_id, word) stages)
    val tf = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(words).as("word"))
      .groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
      .localCheckpoint(eager = true)
    val df = tf.groupBy("word").agg(count(lit(1)).as("df"))
    val scored = tf.join(df, "word")
      .withColumn("tfidf", r6(col("tf") * log(lit(nDocs.toDouble) / col("df"))))
    val w = Window.partitionBy("doc_id").orderBy(desc("tfidf"), asc("word"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= TfIdfTopK)
      .select(col("doc_id"), col("word"), col("tf"), col("df"), col("tfidf"), col("rank"))
  }

  /** Token budget per packed training sequence. */
  val PackBudget = 2048L

  /** Sequence packing: assign documents to fixed-token-budget batches — the
    * batch-construction pass of an LLM training pipeline. Greedy-with-overflow
    * in doc_id order: batch_id = floor(start_offset / budget) where
    * start_offset is the running token count BEFORE the doc, so a doc that
    * straddles a boundary goes to the batch it started in (the usual
    * approximation when exact first-fit isn't worth a serial pass).
    *
    * Packing is per-`source`, and the running sum is BLOCK-PARALLEL:
    * `source` is a ~20-value vocabulary at any scale, so the old per-source
    * window put a whole source's docs in one task; the sum now recombines
    * from monotone doc_id buckets via [[EventsOps.blockedRankPrefix]] —
    * no global total order exists anywhere in the plan, matching how
    * production packing shards.
    */
  def seqPack(spark: SparkSession, dir: String): DataFrame = {
    val proj = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), size(words).cast("long").as("n_tokens"))
    val bkt = EventsOps.longBuckets(proj, col("doc_id"), EventsOps.SeriesBlockRows,
      Some(s"$dir#documents.doc_id"))
    EventsOps.blockedRankPrefix(proj, "source", Seq(col("doc_id")),
        bkt, col("n_tokens"), "_rn", "_cum_before")
      .select(col("doc_id"), col("source"), col("n_tokens"),
        floor(col("_cum_before").cast("double") / PackBudget.toDouble)
          .cast("long").as("batch_id"))
  }

  /** Floor on the shard count for exact packing. */
  val PackShards = 8

  /** Docs per packing shard past the floor: the per-shard serial first-fit
    * walk scans every OPEN bin per doc and bins only accumulate, so shard
    * cost is quadratic in shard SIZE — with a fixed shard count the sf10
    * rehearsal measured the packer at 91× for 100× data. Holding shard size
    * ~constant (shards = max(floor, ⌈docs/5000⌉)) keeps the walk the same
    * cost per shard at any corpus and moves growth into parallelism, which
    * is the knob the docstring always claimed.
    */
  val PackShardDocs = 5000L

  /** Budget for the EXACT packer — deliberately tighter than [[PackBudget]] so
    * the fixture's 10-99-token docs open many bins per shard and the first-fit
    * backfill branch (placing a small doc into an EARLIER bin's remainder) is
    * actually exercised, not vacuous.
    */
  val PackExactBudget = 256L

  /** EXACT first-fit sequence packing — the form an LLM-data pipeline ships
    * token batches with (the window form above is the documented greedy
    * approximation). First-fit is inherently serial per stream, so the
    * corpus is split into max([[PackShards]], ⌈docs/[[PackShardDocs]]⌉)
    * deterministic shards (shard = doc_id mod K) and each shard packs
    * independently in doc_id
    * order: place each doc in the FIRST open bin with enough remaining
    * budget, else open a new bin. Deterministic shard assignment + total
    * order within the shard make the serial walk oracle-checkable (DuckDB
    * recursive CTE re-runs the identical walk).
    *
    * Scale shape: one shuffle on shard, then a single mapPartitions pass per
    * shard holding only the open-bin remainders (one long per bin) — at
    * 100 TB parallelism = shard count (a knob), and no global order exists
    * anywhere in the plan. Shards stay contiguous under sortWithinPartitions
    * even if AQE co-locates several shards in one task, so the walk resets
    * cleanly at each shard boundary.
    */
  def seqPackExact(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val base = Tables.documents(spark, dir)
      .select(col("doc_id"), size(words).cast("long").as("n_tokens"))
    // corpus-adaptive shard count (one bounded driver count — the stats-pass
    // stance): shard SIZE stays ~PackShardDocs at any scale
    val k = math.max(PackShards.toLong,
      (base.count() + PackShardDocs - 1) / PackShardDocs)
    base
      .select(pmod(col("doc_id"), lit(k)).as("shard"),
        col("doc_id"), col("n_tokens"))
      .as[(Long, Long, Long)]
      .repartition(k.toInt, col("shard"))
      .sortWithinPartitions("shard", "doc_id")
      .mapPartitions { it =>
        var curShard = -1L
        var bins = scala.collection.mutable.ArrayBuffer.empty[Long] // remaining budget per open bin
        it.map { case (shard, docId, n) =>
          if (shard != curShard) {
            curShard = shard
            bins = scala.collection.mutable.ArrayBuffer.empty[Long]
          }
          val idx = bins.indexWhere(_ >= n)
          val bin =
            if (idx >= 0) { bins(idx) -= n; idx }
            else { bins += (PackExactBudget - n); bins.length - 1 }
          (docId, shard, n, bin.toLong + 1L)
        }
      }
      .toDF("doc_id", "shard", "n_tokens", "bin_id")
  }

  /** Sketch-based vocabulary profiling: distinct words per source via HLL++
    * — the corpus-analysis twin of EventsOps.dailyUsersSketch (same oracle
    * design: exact count hash-checked, the sketch asserted in-tolerance,
    * because the two engines' HLL implementations differ).
    *
    * The sketch and the exact twin deliberately do NOT share one agg call:
    * mixing `approx_count_distinct` with `countDistinct` makes the distinct
    * rewrite hoist the HLL's PARTIAL aggregation to the (source, word)
    * grouping level, so the first exchange carries the full 1640-register
    * HLL buffer PER DISTINCT WORD (~13 KB/row: the mixed form's plan shows
    * `Results [1642]` at its first Exchange; at corpus scale that is
    * |vocabulary| × 13 KB of shuffle). Instead ONE narrow (source, word) →
    * n_occ pre-aggregation (map-side partials collapse duplicate words
    * before anything moves, 3 long-ish columns per row) feeds both rungs:
    * the exact count is a plain count over the deduped rows, and the HLL
    * runs over each distinct word once — bit-identical to sketching every
    * occurrence, because HLL insertion is idempotent (a word always hashes
    * to the same register/value, and merging takes register max). n_tokens
    * recovers the occurrence total as Σ n_occ. TextSpec asserts exact
    * equality against the single-agg form.
    */
  def vocabSketch(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.EventsOps.{HllRsd, HllTolPct}
    Tables.documents(spark, dir)
      .select(col("source"), explode(words).as("word"))
      .groupBy("source", "word").agg(count(lit(1)).as("n_occ"))
      .groupBy("source")
      .agg(approx_count_distinct(col("word"), HllRsd).as("approx"),
        count(col("word")).as("n_words_exact"),
        sum(col("n_occ")).as("n_tokens"))
      .select(col("source"), col("n_words_exact"), col("n_tokens"),
        (abs(col("approx") - col("n_words_exact")).cast("double") * 100.0 /
          col("n_words_exact").cast("double") <= HllTolPct).as("hll_within_tol"))
  }

  // ---------------- DuckDB oracle twins ----------------

  private def stopHitsSql(stops: Seq[String]): String =
    s"len(list_filter(${sqlWords()}, w -> w IN (${stops.map(s => s"'$s'").mkString(", ")})))::BIGINT"

  /** CTE `<name>(doc_id, lang, source, n_words, quality_score)` — the score
    * arithmetic of [[quality]], shared with the corpus-curation oracle.
    */
  private[graft] def qualityCteSql(name: String): String =
    s"""$name AS (
       |  SELECT doc_id, lang, source, n_words,
       |         ${sqlR6("greatest(0.0e0, least(1.0e0, 0.25e0 * ln(1.0e0 + CAST(n_words AS DOUBLE)) - 2.0e0 * (n_punct / len_c) - 2.0e0 * (n_digit / len_c)))")} AS quality_score
       |  FROM (SELECT doc_id, lang, source,
       |               len(${sqlWords()})::BIGINT AS n_words,
       |               CAST(length(text) AS DOUBLE) AS len_c,
       |               CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS DOUBLE) AS n_punct,
       |               CAST(len(regexp_extract_all(text, '[0-9]')) AS DOUBLE) AS n_digit
       |        FROM documents)
       |)""".stripMargin

  /** CTE `<name>(doc_id, matches_tag)` — the language-ID vote of [[langId]],
    * shared with the corpus-curation oracle.
    */
  private[graft] def langMatchCteSql(name: String): String =
    s"""$name AS (
       |  SELECT doc_id,
       |         (CASE WHEN c_en + c_de + c_es + c_fr = 0 THEN 'und'
       |               WHEN c_en >= c_de AND c_en >= c_es AND c_en >= c_fr THEN 'en'
       |               WHEN c_de >= c_es AND c_de >= c_fr THEN 'de'
       |               WHEN c_es >= c_fr THEN 'es' ELSE 'fr' END) = lang AS matches_tag
       |  FROM (SELECT doc_id, lang,
       |               ${stopHitsSql(Seq("the", "a", "and", "of"))} AS c_en,
       |               ${stopHitsSql(Seq("der", "die", "das", "und"))} AS c_de,
       |               ${stopHitsSql(Seq("el", "los", "las", "y"))} AS c_es,
       |               ${stopHitsSql(Seq("le", "les", "et", "ou"))} AS c_fr
       |        FROM documents)
       |)""".stripMargin

  /** Top candidate merges per BPE's first training step, at word granularity:
    * the [[MergeTopK]] most frequent ADJACENT word pairs over the corpus
    * (Sennrich et al., "Neural Machine Translation of Rare Words with Subword
    * Units", ACL 2016 — the pair-counting pass, iterated there, run once
    * here). Deterministic tiebreak (count desc, then pair lexicographic) so
    * the boundary rank is stable in both engines.
    *
    * Scale: pair extraction is a map-side projection; the pair-count agg
    * collapses map-side onto a vocabulary-squared-bounded keyspace, and the
    * global top-k is TakeOrdered (per-partition heaps + a k-row driver
    * merge), not a global sort.
    */
  val MergeTopK = 20

  def bigramMerges(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select(words.as("ws"))
      .filter(size(col("ws")) >= 2)
      .select(explode(transform(sequence(lit(1), size(col("ws")) - 1),
        i => struct(element_at(col("ws"), i).as("w1"),
          element_at(col("ws"), i + 1).as("w2")))).as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("cnt"))
      .orderBy(desc("cnt"), asc("w1"), asc("w2")).limit(MergeTopK)

  /** One full BPE training iteration — `text_bigram_merges` is the COUNT
    * step; this is the rest of the loop: pick the winning pair (deterministic
    * tiebreak, restricted to a ≠ b so occurrences can never overlap and the
    * greedy-leftmost merge is exact set arithmetic), rewrite the whole corpus
    * with that pair fused into one token, and recount the pair table — the
    * state the next iteration consumes (Sennrich et al., ACL 2016, at word
    * granularity to match the merge-counting twin).
    *
    * Scale shape: apply is two window passes over the SAME (doc_id) shuffle —
    * mark-and-drop consumed positions, then re-derive adjacency over the
    * survivors — so an iteration costs one shuffle plus the count agg; the
    * 1-row winning pair broadcasts. The NULL edges matter: a doc's first
    * token has prv = NULL, and `prv <> a` is NULL there, so the keep filter
    * must short-circuit on IS NULL or the filter silently drops every doc
    * head.
    */
  def bpeApply(spark: SparkSession, dir: String): DataFrame = {
    val wd = Window.partitionBy("doc_id").orderBy("pos")
    val adj = Tables.documents(spark, dir)
      .select(col("doc_id"), posexplode(words).as(Seq("pos", "tok")))
      .withColumn("nxt", lead(col("tok"), 1).over(wd))
      .withColumn("prv", lag(col("tok"), 1).over(wd))
    val top1 = adj.filter(col("nxt").isNotNull && col("tok") =!= col("nxt"))
      .groupBy(col("tok").as("a"), col("nxt").as("b")).agg(count(lit(1)).as("cnt"))
      .orderBy(desc("cnt"), asc("a"), asc("b")).limit(1)
      .select("a", "b")
      .localCheckpoint(true) // 1 row; breaks the self-lineage for the crossJoin
    val applied = adj.crossJoin(broadcast(top1))
      .filter(col("prv").isNull || col("prv") =!= col("a") || col("tok") =!= col("b"))
      .withColumn("tok2",
        when(col("tok") === col("a") && col("nxt") === col("b"),
          concat(col("a"), lit("_"), col("b"))).otherwise(col("tok")))
    val pairs2 = applied
      .withColumn("w2", lead(col("tok2"), 1).over(wd))
      .filter(col("w2").isNotNull)
    pairs2.groupBy(col("tok2").as("w1"), col("w2"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(desc("cnt"), asc("w1"), asc("w2")).limit(MergeTopK)
  }

  def bpeApplyOracle: String =
    s"""WITH w AS (SELECT doc_id, ${sqlWords()} AS ws FROM documents),
       |toks AS (
       |  SELECT doc_id, g.i AS pos, ws[g.i] AS tok
       |  FROM w, LATERAL (SELECT unnest(generate_series(1, len(ws))) AS i) g
       |), adj AS (
       |  SELECT doc_id, pos, tok,
       |         lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt,
       |         lag(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS prv
       |  FROM toks
       |), top1 AS (
       |  SELECT tok AS a, nxt AS b FROM (
       |    SELECT tok, nxt, count(*) AS cnt FROM adj
       |    WHERE nxt IS NOT NULL AND tok <> nxt GROUP BY 1, 2)
       |  ORDER BY cnt DESC, tok, nxt LIMIT 1
       |), app AS (
       |  SELECT x.doc_id, x.pos,
       |         CASE WHEN x.tok = t.a AND x.nxt = t.b THEN x.tok || '_' || t.b
       |              ELSE x.tok END AS tok2
       |  FROM adj x, top1 t
       |  WHERE x.prv IS NULL OR x.prv <> t.a OR x.tok <> t.b
       |), adj2 AS (
       |  SELECT tok2 AS w1, lead(tok2) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
       |  FROM app
       |)
       |SELECT w1, w2, count(*) AS cnt FROM adj2 WHERE w2 IS NOT NULL GROUP BY 1, 2
       |ORDER BY cnt DESC, w1, w2 LIMIT $MergeTopK""".stripMargin

  /** Lexical diversity per doc: type-token ratio and hapax share — the
    * vocabulary-richness gate next to [[quality]]'s surface ratios (a doc
    * with high TTR and high hapax share is word salad; near-zero TTR is a
    * repeated template — both ends get cut in corpus curation).
    *
    * Zero-shuffle: in-doc type and hapax counts come from `aggregate` over
    * the sorted word array (sorted ⇒ equal words adjacent ⇒ one pass counts
    * runs), so this stays a narrow per-row projection — no explode, no
    * (doc_id, word) shuffle, embarrassingly parallel at 100 TB.
    */
  def lexicalDiversity(spark: SparkSession, dir: String): DataFrame = {
    val ws = sort_array(words)
    // runs = #distinct, singles = #runs of length 1 — one fold, state
    // (prev word, run length, types, hapax)
    val folded = aggregate(
      ws,
      // the sentinel contains a space, which no \s+-split token can — a real
      // (even empty) first token always starts a fresh run
      struct(lit(" ").as("prev"), lit(0L).as("run"), lit(0L).as("types"), lit(0L).as("hapax")),
      (acc, w) => struct(
        w.as("prev"),
        when(w === acc.getField("prev"), acc.getField("run") + 1L).otherwise(lit(1L)).as("run"),
        when(w === acc.getField("prev"), acc.getField("types"))
          .otherwise(acc.getField("types") + 1L).as("types"),
        (acc.getField("hapax") +
          when(w === acc.getField("prev"),
            when(acc.getField("run") === 1L, lit(-1L)).otherwise(lit(0L)))
            .otherwise(lit(1L))).as("hapax")),
      acc => struct(acc.getField("types").as("types"), acc.getField("hapax").as("hapax")))
    Tables.documents(spark, dir)
      .select(col("doc_id"), nWordsCol.as("n_words"), folded.as("f"))
      .select(col("doc_id"), col("n_words"),
        col("f.types").as("n_types"), col("f.hapax").as("n_hapax"),
        r6(col("f.types").cast("double") / col("n_words").cast("double")).as("ttr"),
        r6(col("f.hapax").cast("double") / col("f.types").cast("double")).as("hapax_ratio"))
  }

  def lexicalDiversityOracle: String =
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(${sqlWords()}) AS w FROM documents
       |), cnt AS (
       |  SELECT doc_id, w, count(*) AS c FROM tok GROUP BY 1, 2
       |)
       |SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_words, count(*) AS n_types,
       |       CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
       |       ${sqlR6("CAST(count(*) AS DOUBLE) / CAST(sum(c) AS DOUBLE)")} AS ttr,
       |       ${sqlR6("CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE) / CAST(count(*) AS DOUBLE)")} AS hapax_ratio
       |FROM cnt GROUP BY 1 ORDER BY doc_id""".stripMargin

  /** Language-ID confusion matrix — the classifier-evaluation view of
    * [[langId]]: per (tagged lang, predicted lang) cell, the count and its
    * share of the tag's row total, plus the per-tag accuracy (the diagonal
    * share). This is the artifact that turns a heuristic gate into a
    * MEASURED gate — which languages it confuses, and how often — and the
    * general confusion-matrix shape any per-row classifier audit needs.
    * One narrow projection + a languages²-bounded agg; shares are
    * same-operand double divisions r6-rounded.
    */
  def langIdConfusion(spark: SparkSession, dir: String): DataFrame = {
    val pred = langIdOf(Tables.documents(spark, dir)).select(col("lang"), col("pred_lang"))
    val cells = pred.groupBy("lang", "pred_lang").agg(count(lit(1)).as("n"))
    val totals = pred.groupBy("lang").agg(count(lit(1)).as("n_tag"))
    cells.join(broadcast(totals), "lang")
      .select(col("lang"), col("pred_lang"), col("n"), col("n_tag"),
        r6(col("n").cast("double") / col("n_tag").cast("double")).as("share"),
        (col("lang") === col("pred_lang")).as("is_correct"))
  }

  def langIdConfusionOracle: String =
    s"""WITH c AS (
       |  SELECT doc_id, lang,
       |         ${stopHitsSql(Seq("the", "a", "and", "of"))} AS c_en,
       |         ${stopHitsSql(Seq("der", "die", "das", "und"))} AS c_de,
       |         ${stopHitsSql(Seq("el", "los", "las", "y"))} AS c_es,
       |         ${stopHitsSql(Seq("le", "les", "et", "ou"))} AS c_fr
       |  FROM documents
       |), p AS (
       |  SELECT lang,
       |         CASE WHEN c_en + c_de + c_es + c_fr = 0 THEN 'und'
       |              WHEN c_en >= c_de AND c_en >= c_es AND c_en >= c_fr THEN 'en'
       |              WHEN c_de >= c_es AND c_de >= c_fr THEN 'de'
       |              WHEN c_es >= c_fr THEN 'es' ELSE 'fr' END AS pred_lang
       |  FROM c
       |), cells AS (
       |  SELECT lang, pred_lang, count(*) AS n FROM p GROUP BY 1, 2
       |), totals AS (SELECT lang, count(*) AS n_tag FROM p GROUP BY 1)
       |SELECT c.lang, c.pred_lang, c.n, t.n_tag,
       |       ${sqlR6("CAST(c.n AS DOUBLE) / CAST(t.n_tag AS DOUBLE)")} AS share,
       |       c.lang = c.pred_lang AS is_correct
       |FROM cells c JOIN totals t USING (lang)
       |ORDER BY lang, pred_lang""".stripMargin

  /** RAG chunking geometry: [[ChunkWords]]-word windows advancing by
    * [[ChunkStride]] (8-word overlap so a fact spanning a boundary survives
    * in at least one chunk). */
  val ChunkWords = 32
  val ChunkStride = 24

  /** Overlapping-window document chunking — the retrieval-corpus build step
    * (every RAG/embedding pipeline runs exactly this before embedding):
    * each doc explodes into word windows of [[ChunkWords]] advancing by
    * [[ChunkStride]], keeping (doc_id, chunk_idx) identity, the chunk text,
    * its word count, and a 31-bit content digest (the
    * [[graft.functions.TextDigest.step]] fold of its word digests) for
    * downstream chunk-level dedup. The LAST window is the one starting at the
    * largest stride multiple ≤ max(n−chunk, 0): a short tail is absorbed
    * into that final (possibly short) window rather than emitting a sliver
    * chunk. Scale: a narrow per-row explode — no shuffle, no join; output
    * keys (doc_id, chunk_idx) keep chunks of a doc co-partitioned with the
    * doc for the embedding pass that follows.
    */
  def ragChunks(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), words.as("ws"))
      .withColumn("hw", wordDigests(col("ws")))
      .select(col("doc_id"), col("ws"), col("hw"),
        posexplode(sequence(lit(0),
          greatest(size(col("ws")) - ChunkWords, lit(0)), lit(ChunkStride))))
      .withColumnRenamed("pos", "chunk_idx")
      .withColumnRenamed("col", "start_word")
      .select(col("doc_id"), col("chunk_idx"), col("start_word"),
        size(slice(col("ws"), col("start_word") + 1, lit(ChunkWords))).cast("long").as("n_chunk_words"),
        array_join(slice(col("ws"), col("start_word") + 1, lit(ChunkWords)), " ").as("chunk_text"),
        aggregate(slice(col("hw"), col("start_word") + 1, lit(ChunkWords)),
          lit(0L), step).as("chunk_digest"))

  def ragChunksOracle: String =
    s"""WITH base AS (
       |  SELECT doc_id, ${sqlWords()} AS ws,
       |         ${sqlWordDigests} AS hw
       |  FROM documents
       |), st AS (
       |  SELECT doc_id, ws, hw,
       |         unnest(generate_series(0, greatest(len(ws) - $ChunkWords, 0), $ChunkStride)) AS start_word
       |  FROM base
       |)
       |SELECT doc_id, (start_word / $ChunkStride)::INT AS chunk_idx, start_word::INT AS start_word,
       |       len(ws[start_word + 1 : start_word + $ChunkWords])::BIGINT AS n_chunk_words,
       |       array_to_string(ws[start_word + 1 : start_word + $ChunkWords], ' ') AS chunk_text,
       |       CAST(list_reduce(list_prepend(0, hw[start_word + 1 : start_word + $ChunkWords]),
       |                        (acc, h) -> ${sqlStep("acc", "h")}) AS BIGINT) AS chunk_digest
       |FROM st
       |ORDER BY doc_id, chunk_idx""".stripMargin

  /** Collocation reporting floor: pairs below this joint count are noise
    * (PMI's low-count bias is the classic failure of the raw statistic). */
  val PmiMinCount = 5
  val PmiTopK = 50

  /** Top adjacent-word collocations by pointwise mutual information — the
    * phrase-discovery pass (Church & Hanks 1990) a tokenizer-training or
    * phrase-mining pipeline runs before deciding merge candidates:
    * PMI(w1,w2) = ln( P(w1,w2) / (P(w1)·P(w2)) ) over the adjacent-pair
    * space, with marginals taken over the SAME pair relation (left-position
    * and right-position counts), so the three counts and N are one exact
    * BIGINT family. The min-count floor removes PMI's low-frequency bias;
    * ranking uses the r6-rounded score with a (w1, w2) tiebreak so both
    * engines rank identical values.
    *
    * Scale: the pair expansion is narrow (sequence + element_at over the
    * in-row array); everything after is vocabulary²-bounded hash aggs, and
    * the final top-k is a TakeOrdered, never a global sort.
    */
  def pmiCollocations(spark: SparkSession, dir: String): DataFrame = {
    val pairs = Tables.documents(spark, dir).select(words.as("ws"))
      .filter(size(col("ws")) >= 2)
      .select(explode(transform(sequence(lit(1), size(col("ws")) - 1),
        i => struct(element_at(col("ws"), i).as("w1"),
          element_at(col("ws"), i + 1).as("w2")))).as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .localCheckpoint(eager = true) // feeds joint + both marginals + N
    val joint = pairs.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
      .filter(col("c12") >= PmiMinCount)
    val left = pairs.groupBy("w1").agg(count(lit(1)).as("c1"))
    val right = pairs.groupBy("w2").agg(count(lit(1)).as("c2"))
    val tot = pairs.agg(count(lit(1)).as("n"))
    joint.join(left, "w1").join(right, "w2").crossJoin(broadcast(tot))
      .select(col("w1"), col("w2"), col("c12"), col("c1"), col("c2"),
        r6(log(col("c12").cast("double") * col("n").cast("double") /
          (col("c1").cast("double") * col("c2").cast("double")))).as("pmi"))
      .orderBy(desc("pmi"), asc("w1"), asc("w2")).limit(PmiTopK)
  }

  def pmiCollocationsOracle: String =
    s"""WITH w AS (SELECT ${sqlWords()} AS ws FROM documents),
       |pairs AS (
       |  SELECT ws[g.i] AS w1, ws[g.i + 1] AS w2
       |  FROM w, LATERAL (SELECT unnest(generate_series(1, len(ws) - 1)) AS i) g
       |  WHERE len(ws) >= 2
       |), joint AS (
       |  SELECT w1, w2, count(*) AS c12 FROM pairs GROUP BY 1, 2 HAVING count(*) >= $PmiMinCount
       |), lft AS (SELECT w1, count(*) AS c1 FROM pairs GROUP BY 1),
       |rgt AS (SELECT w2, count(*) AS c2 FROM pairs GROUP BY 1),
       |tot AS (SELECT count(*) AS n FROM pairs)
       |SELECT j.w1, j.w2, j.c12, l.c1, r.c2,
       |       ${sqlR6("ln(CAST(j.c12 AS DOUBLE)*CAST(t.n AS DOUBLE)/(CAST(l.c1 AS DOUBLE)*CAST(r.c2 AS DOUBLE)))")} AS pmi
       |FROM joint j JOIN lft l USING (w1) JOIN rgt r USING (w2), tot t
       |ORDER BY pmi DESC, w1, w2 LIMIT $PmiTopK""".stripMargin

  /** Flesch-style readability per document — the sentence-length ×
    * syllable-density readout a corpus-quality gate adds next to
    * [[quality]]'s punctuation/digit ratios. Syllables are approximated by
    * vowel-group runs ([aeiouy]+, the standard cheap proxy) and sentences
    * by terminal-punctuation runs, floored at 1 so the synthetic corpus's
    * punctuation-free docs degrade to the one-sentence reading instead of
    * dividing by zero. Pure per-row regexp counting — no shuffle, columns
    * prune to (doc_id, text) at the scan; the score's absolute value on a
    * synthetic corpus is meaningless, but its ORDERING is exactly the
    * filter signal a length/complexity curriculum consumes.
    */
  def readability(spark: SparkSession, dir: String): DataFrame = {
    val nWords = greatest(size(words).cast("long"), lit(1L))
    val nSent = greatest(regexp_count(col("text"), lit("[.!?]+")).cast("long"), lit(1L))
    val nSyl = greatest(regexp_count(col("text"), lit("[aeiouy]+")).cast("long"), lit(1L))
    Tables.documents(spark, dir).select(
      col("doc_id"), nWords.as("n_words"), nSent.as("n_sentences"),
      nSyl.as("n_syllables"),
      r6(nSyl.cast("double") / nWords.cast("double")).as("syl_per_word"),
      r6(lit(206.835) -
        lit(1.015) * (nWords.cast("double") / nSent.cast("double")) -
        lit(84.6) * (nSyl.cast("double") / nWords.cast("double"))).as("flesch"))
  }

  def readabilityOracle: String = {
    val w = s"greatest(CAST(len(${sqlWords()}) AS BIGINT), 1)"
    val s_ = """greatest(CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT), 1)"""
    val y = """greatest(CAST(len(regexp_extract_all(text, '[aeiouy]+')) AS BIGINT), 1)"""
    s"""SELECT doc_id, $w AS n_words, $s_ AS n_sentences, $y AS n_syllables,
       |       ${sqlR6(s"CAST($y AS DOUBLE)/CAST($w AS DOUBLE)")} AS syl_per_word,
       |       ${sqlR6(s"206.835e0 - 1.015e0*(CAST($w AS DOUBLE)/CAST($s_ AS DOUBLE)) - 84.6e0*(CAST($y AS DOUBLE)/CAST($w AS DOUBLE))")} AS flesch
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  /** Character-distribution entropy per document — the gibberish detector
    * that needs no model: natural text sits in a narrow entropy band,
    * random keyboard noise above it, repeated-character spam below. Each
    * char's share is an exact rational of counts, the −p·ln p terms
    * fx12-quantize before the per-doc integer sum, and the normalized
    * form divides by ln(distinct chars). One explode + (doc, char) hash
    * agg — doc-keyed, no global state.
    */
  def charEntropy(spark: SparkSession, dir: String): DataFrame = {
    val g = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(split(col("text"), "")).as("ch"))
      .filter(length(col("ch")) > 0)
      .groupBy("doc_id", "ch").agg(count(lit(1)).as("c"))
    val wD = Window.partitionBy("doc_id")
    val p = col("c").cast("double") / col("n").cast("double")
    g.withColumn("n", sum(col("c")).over(wD))
      .select(col("doc_id"), col("n"), fx(-p * log(p), 12).as("t"))
      .groupBy("doc_id")
      .agg(max(col("n")).as("n_chars_counted"), count(lit(1)).as("n_distinct_chars"),
        sum(col("t")).as("tfx"))
      .select(col("doc_id"), col("n_chars_counted"), col("n_distinct_chars"),
        r6(col("tfx").cast("double") / 1e12).as("char_entropy"),
        when(col("n_distinct_chars") > 1,
          r6(col("tfx").cast("double") / 1e12 /
            log(col("n_distinct_chars").cast("double")))).as("norm_entropy"))
  }

  def charEntropyOracle: String = {
    val p = "(CAST(c AS DOUBLE)/CAST(n AS DOUBLE))"
    s"""WITH ch AS (
       |  SELECT doc_id, unnest(string_split(text, '')) AS ch FROM documents
       |), g AS (
       |  SELECT doc_id, ch, count(*) AS c FROM ch WHERE length(ch) > 0 GROUP BY 1, 2
       |), t AS (
       |  SELECT doc_id, CAST(sum(c) OVER (PARTITION BY doc_id) AS BIGINT) AS n, c
       |  FROM g
       |), s AS (
       |  SELECT doc_id, max(n) AS n_chars_counted, count(*) AS n_distinct_chars,
       |         CAST(sum(${sqlFx(s"-$p*ln($p)", 12)}) AS BIGINT) AS tfx
       |  FROM t GROUP BY 1
       |)
       |SELECT doc_id, n_chars_counted, n_distinct_chars,
       |       ${sqlR6("CAST(tfx AS DOUBLE)/1e12")} AS char_entropy,
       |       CASE WHEN n_distinct_chars > 1
       |            THEN ${sqlR6("CAST(tfx AS DOUBLE)/1e12/ln(CAST(n_distinct_chars AS DOUBLE))")}
       |       END AS norm_entropy
       |FROM s ORDER BY doc_id""".stripMargin
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_char_entropy" -> ((s, d) => charEntropy(s, d).orderBy("doc_id")),
    "text_readability" -> ((s, d) => readability(s, d).orderBy("doc_id")),
    "text_pmi_collocations" -> ((s, d) => pmiCollocations(s, d)),
    "docs_rag_chunks" -> ((s, d) => ragChunks(s, d).orderBy("doc_id", "chunk_idx")),
    "text_langid_confusion" -> ((s, d) => langIdConfusion(s, d).orderBy("lang", "pred_lang")),
    "text_lexical_diversity" -> ((s, d) => lexicalDiversity(s, d).orderBy("doc_id")),
    "text_bpe_apply" -> ((s, d) => bpeApply(s, d)),
    "text_bigram_merges" -> ((s, d) => bigramMerges(s, d)),
    "text_token_counts" -> ((s, d) => tokenCounts(s, d).orderBy("doc_id")),
    "text_quality" -> ((s, d) => quality(s, d).orderBy("doc_id")),
    "text_langid" -> ((s, d) => langId(s, d).orderBy("doc_id")),
    "text_fingerprint" -> ((s, d) => fingerprint(s, d).orderBy("doc_id")),
    "text_tfidf" -> ((s, d) => tfidfTop(s, d).orderBy("doc_id", "rank")),
    "text_seq_pack" -> ((s, d) => seqPack(s, d).orderBy("doc_id")),
    "text_seq_pack_exact" -> ((s, d) => seqPackExact(s, d).orderBy("doc_id")),
    "text_vocab_hll" -> ((s, d) => vocabSketch(s, d).orderBy("source")),
    "text_corpus_stats" -> ((s, d) => corpusStats(s, d).orderBy("lang", "source"))
  )

  def oracles: Map[String, String] = Map(
    "text_readability" -> readabilityOracle,
    "text_char_entropy" -> charEntropyOracle,
    "text_pmi_collocations" -> pmiCollocationsOracle,
    "docs_rag_chunks" -> ragChunksOracle,
    "text_langid_confusion" -> langIdConfusionOracle,
    "text_lexical_diversity" -> lexicalDiversityOracle,
    "text_bpe_apply" -> bpeApplyOracle,
    "text_bigram_merges" ->
      s"""WITH w AS (SELECT ${sqlWords()} AS ws FROM documents),
         |pairs AS (
         |  SELECT ws[g.i] AS w1, ws[g.i + 1] AS w2
         |  FROM w, LATERAL (SELECT unnest(generate_series(1, len(ws) - 1)) AS i) g
         |  WHERE len(ws) >= 2
         |)
         |SELECT w1, w2, count(*) AS cnt FROM pairs GROUP BY 1, 2
         |ORDER BY cnt DESC, w1, w2 LIMIT $MergeTopK""".stripMargin,
    "text_token_counts" ->
      s"""SELECT doc_id,
         |       len(${sqlWords()})::BIGINT AS n_words,
         |       len(regexp_extract_all(text, '[a-z]+'))::BIGINT AS n_alpha,
         |       len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\\s]'))::BIGINT AS n_bpeish,
         |       length(text)::BIGINT AS len_chars, n_chars
         |FROM documents ORDER BY doc_id""".stripMargin,
    "text_quality" ->
      s"""WITH q AS (
         |  SELECT doc_id, lang, source,
         |         len(${sqlWords()})::BIGINT AS n_words,
         |         CAST(length(text) AS DOUBLE) AS len_c,
         |         CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS DOUBLE) AS n_punct,
         |         CAST(len(regexp_extract_all(text, '[0-9]')) AS DOUBLE) AS n_digit,
         |         CAST(${stopHitsSql(Seq("the", "a", "and", "of"))} AS DOUBLE) AS n_stop,
         |         CAST(length(regexp_replace(text, '\\s', '', 'g')) AS DOUBLE) AS n_nonspace
         |  FROM documents
         |)
         |SELECT doc_id, lang, source, n_words,
         |       ${sqlR6("n_nonspace / CAST(n_words AS DOUBLE)")} AS avg_word_len,
         |       ${sqlR6("n_punct / len_c")} AS punct_ratio,
         |       ${sqlR6("n_digit / len_c")} AS digit_ratio,
         |       ${sqlR6("n_stop / CAST(n_words AS DOUBLE)")} AS stopword_ratio,
         |       ${sqlR6("greatest(0.0e0, least(1.0e0, 0.25e0 * ln(1.0e0 + CAST(n_words AS DOUBLE)) - 2.0e0 * (n_punct / len_c) - 2.0e0 * (n_digit / len_c)))")} AS quality_score
         |FROM q ORDER BY doc_id""".stripMargin,
    "text_langid" ->
      s"""WITH c AS (
         |  SELECT doc_id, lang,
         |         ${stopHitsSql(Seq("the", "a", "and", "of"))} AS c_en,
         |         ${stopHitsSql(Seq("der", "die", "das", "und"))} AS c_de,
         |         ${stopHitsSql(Seq("el", "los", "las", "y"))} AS c_es,
         |         ${stopHitsSql(Seq("le", "les", "et", "ou"))} AS c_fr
         |  FROM documents
         |)
         |SELECT *,
         |       CASE WHEN c_en + c_de + c_es + c_fr = 0 THEN 'und'
         |            WHEN c_en >= c_de AND c_en >= c_es AND c_en >= c_fr THEN 'en'
         |            WHEN c_de >= c_es AND c_de >= c_fr THEN 'de'
         |            WHEN c_es >= c_fr THEN 'es' ELSE 'fr' END AS pred_lang,
         |       (CASE WHEN c_en + c_de + c_es + c_fr = 0 THEN 'und'
         |            WHEN c_en >= c_de AND c_en >= c_es AND c_en >= c_fr THEN 'en'
         |            WHEN c_de >= c_es AND c_de >= c_fr THEN 'de'
         |            WHEN c_es >= c_fr THEN 'es' ELSE 'fr' END) = lang AS matches_tag
         |FROM c ORDER BY doc_id""".stripMargin,
    "text_fingerprint" ->
      s"""WITH h AS (
         |  SELECT doc_id,
         |         md5(${sqlNormalized}) AS fingerprint,
         |         ${sqlWordDigests} AS hw
         |  FROM documents
         |)
         |SELECT doc_id, fingerprint,
         |       list_min(list_transform(generate_series(0, greatest(len(hw) - 3, 0)),
         |         i -> ${sqlGram("hw", "i", 3)})) AS min_shingle_hash
         |FROM h ORDER BY doc_id""".stripMargin,
    "text_corpus_stats" ->
      s"""SELECT lang, source, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars,
         |       ${sqlR6(s"avg(CAST(len(${sqlWords()}) AS DOUBLE))")} AS avg_words
         |FROM documents GROUP BY 1, 2 ORDER BY lang, source""".stripMargin,
    "text_tfidf" ->
      s"""WITH tok AS (
         |  SELECT doc_id, unnest(${sqlWords()}) AS word FROM documents
         |), tfc AS (
         |  SELECT doc_id, word, count(*) AS tf FROM tok GROUP BY 1, 2
         |), dfc AS (
         |  SELECT word, count(*) AS df FROM tfc GROUP BY 1
         |), nd AS (
         |  SELECT count(*) AS n FROM documents
         |), scored AS (
         |  SELECT t.doc_id, t.word, t.tf, d.df,
         |         ${sqlR6("CAST(t.tf AS DOUBLE) * ln(CAST(nd.n AS DOUBLE) / d.df)")} AS tfidf
         |  FROM tfc t JOIN dfc d USING (word) CROSS JOIN nd
         |)
         |SELECT doc_id, word, tf, df, tfidf, CAST(rn AS INT) AS rank
         |FROM (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, word ASC) AS rn
         |      FROM scored)
         |WHERE rn <= $TfIdfTopK ORDER BY doc_id, rank""".stripMargin,
    "text_seq_pack" ->
      s"""WITH toks AS (
         |  SELECT doc_id, source, len(${sqlWords()})::BIGINT AS n_tokens FROM documents
         |), packed AS (
         |  SELECT doc_id, source, n_tokens,
         |         sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
         |                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM toks
         |)
         |SELECT doc_id, source, n_tokens,
         |       CAST(floor(CAST(cum - n_tokens AS DOUBLE) / ${sqlD(PackBudget.toDouble)}) AS BIGINT) AS batch_id
         |FROM packed ORDER BY doc_id""".stripMargin,
    // Recursive CTE replays seqPackExact's serial walk: all shards advance one
    // doc per iteration, each row carrying its shard's open-bin remainders as
    // a BIGINT list. idx = first bin with room (list_filter preserves order,
    // so [1] IS first-fit); NULL idx opens a new bin — identical to the Scala
    // indexWhere branch, all-integer so both engines agree exactly.
    "text_seq_pack_exact" ->
      s"""WITH RECURSIVE nk AS (
         |  SELECT greatest($PackShards, CAST(ceil(count(*) / $PackShardDocs.0e0) AS BIGINT)) AS k
         |  FROM documents
         |), toks AS (
         |  SELECT doc_id % (SELECT k FROM nk) AS shard, doc_id, len(${sqlWords()})::BIGINT AS n_tokens,
         |         row_number() OVER (PARTITION BY doc_id % (SELECT k FROM nk) ORDER BY doc_id) AS seq
         |  FROM documents
         |), walk AS (
         |  SELECT shard, seq, doc_id, n_tokens,
         |         CAST(1 AS BIGINT) AS bin_id,
         |         [$PackExactBudget - n_tokens] AS bins
         |  FROM toks WHERE seq = 1
         |  UNION ALL
         |  SELECT shard, seq, doc_id, n_tokens,
         |         CAST(coalesce(idx, len(bins) + 1) AS BIGINT) AS bin_id,
         |         CASE WHEN idx IS NOT NULL
         |              THEN bins[1:idx-1] || [bins[idx] - n_tokens] || bins[idx+1:len(bins)]
         |              ELSE bins || [$PackExactBudget - n_tokens] END AS bins
         |  FROM (
         |    SELECT t.shard, t.seq, t.doc_id, t.n_tokens, w.bins,
         |           list_filter(generate_series(1, len(w.bins)), i -> w.bins[i] >= t.n_tokens)[1] AS idx
         |    FROM walk w JOIN toks t ON t.shard = w.shard AND t.seq = w.seq + 1
         |  )
         |)
         |SELECT doc_id, shard, n_tokens, bin_id FROM walk ORDER BY doc_id""".stripMargin,
    "text_vocab_hll" ->
      s"""SELECT source, count(DISTINCT word) AS n_words_exact,
         |       count(*) AS n_tokens, true AS hll_within_tol
         |FROM (SELECT source, unnest(${sqlWords()}) AS word FROM documents)
         |GROUP BY 1 ORDER BY source""".stripMargin
  )
}
