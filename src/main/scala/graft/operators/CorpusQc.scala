package graft.operators

import graft.Tables
import graft.functions.{DetRand => R}
import graft.functions.Num._
import graft.functions.TextDigest.{gram, md5Bits, sqlGram, sqlMd5Bits, sqlWordDigests, sqlWords, wordDigests, words}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus quality-control passes an LLM training-data pipeline runs between
  * raw ingest and tokenization (north-star ops, no reference counterpart):
  *
  *  - repetition filters (the Gopher-style "fraction of the doc that is the
  *    same n-gram over and over" heuristics, adapted to word n-grams since the
  *    fixture docs carry no line structure),
  *  - eval-set decontamination (n-gram overlap against a held-out benchmark
  *    set — train docs sharing shingles with eval docs leak test data),
  *  - token-budget mixture sampling (per-source quotas: deterministically
  *    sample each source until its token budget fills — the data-mixing pass
  *    that turns raw source proportions into a training mix).
  *
  * Scale shapes: repetition is explode + two hash-aggs keyed on (doc_id,
  * digest) — counts collapse map-side, raw text never shuffles (grams are
  * [[graft.functions.TextDigest]] n-gram digests, exact BIGINTs in both
  * engines). Decontamination broadcasts the eval side (the
  * benchmark set is small by construction; the 100-TB train side is scanned
  * once, only digests move). Mixture sampling is a per-source window over a
  * deterministic sample key — parallelism = #sources, no global order.
  */
object CorpusQc {
  /** (doc_id, g): one row per n-gram position (positions 0..nw−n; `greatest`
    * guard keeps a too-short doc on one deterministic fake gram instead of a
    * descending sequence — both engines compute the identical value via
    * coalesce(…, 0)).
    *
    * `hw` is its own projection before the position transform reads it
    * (the md5 trap, see [[graft.functions.TextDigest]]).
    */
  private def grams(spark: SparkSession, dir: String, n: Int): DataFrame =
    Tables.documents(spark, dir).select(col("doc_id"), wordDigests().as("hw"))
      .select(col("doc_id"),
        explode(transform(sequence(lit(0), greatest(size(col("hw")) - n, lit(0))),
          i => gram(col("hw"), i, n))).as("g"))

  /** `<name>(doc_id, g)` — one row per n-gram position (NOT distinct). */
  private def gramCteSql(name: String, n: Int): String =
    s"""${name}_h AS (
       |  SELECT doc_id,
       |         ${sqlWordDigests} AS hw
       |  FROM documents
       |), $name AS (
       |  SELECT doc_id,
       |         unnest(list_transform(generate_series(0, greatest(len(hw) - $n, 0)),
       |                               i -> ${sqlGram("hw", "i", n)})) AS g
       |  FROM ${name}_h
       |)""".stripMargin

  // ---------------- repetition filters ----------------

  /** Flag thresholds (on the r6-rounded fractions, so both engines compare
    * identical values): fixture docs average top2 ≈ 0.04 / dup5 ≈ 0, so these
    * mark the repetitive tail, not the bulk.
    */
  val Top2Threshold = 0.1
  val Dup5Threshold = 0.05

  /** Per-doc repetition profile: the most frequent word-2-gram's share of all
    * 2-gram positions (`top_2gram_frac`), the share of 2-gram positions whose
    * gram occurs more than once (`dup_2gram_frac`), and the same duplicate
    * share for 5-grams (`dup_5gram_frac`) — boilerplate and template text
    * score high on 2-grams, copy-paste loops on 5-grams. One explode + count
    * per n; the per-(doc, gram) counts collapse map-side before the per-doc
    * rollup, so shuffle volume is distinct grams per doc, not positions.
    */
  def repetition(spark: SparkSession, dir: String): DataFrame = {
    def profile(n: Int, p: String): DataFrame =
      grams(spark, dir, n)
        .groupBy("doc_id", "g").agg(count(lit(1)).as("cnt"))
        .groupBy("doc_id")
        .agg(sum(col("cnt")).as(s"n_${p}grams"),
          max(col("cnt")).as(s"max_$p"),
          sum(when(col("cnt") > 1, col("cnt")).otherwise(0L)).as(s"dup_$p"))
    val base = Tables.documents(spark, dir).select(col("doc_id"), size(words).cast("long").as("n_words"))
    val top2 = r6(col("max_g2").cast("double") / col("n_g2grams").cast("double"))
    val dup2 = r6(col("dup_g2").cast("double") / col("n_g2grams").cast("double"))
    val dup5 = r6(col("dup_g5").cast("double") / col("n_g5grams").cast("double"))
    base.join(profile(2, "g2"), "doc_id").join(profile(5, "g5"), "doc_id")
      .select(col("doc_id"), col("n_words"),
        top2.as("top_2gram_frac"), dup2.as("dup_2gram_frac"), dup5.as("dup_5gram_frac"),
        (top2 > Top2Threshold || dup5 > Dup5Threshold).as("repetitive"))
  }

  // ---------------- eval-set decontamination ----------------

  /** Shingle width for contamination checks. 4 words: wide enough that random
    * fixture text rarely collides (13-gram is the published convention for
    * natural text; this corpus's ~30-word vocabulary saturates anything
    * wider — n=8 flags only the one literal near-dup), narrow enough that the
    * flagged set is non-trivial at every scale (19/27/2052 docs at
    * sf0.001/0.01/0.1).
    */
  val DecontamN = 4

  /** Every 25th doc_id is the held-out "benchmark" set — deterministic, so
    * the oracle draws the identical split.
    */
  val EvalMod = 25

  /** Train docs sharing ≥1 word-[[DecontamN]]-gram with ANY eval doc, with
    * the contaminated-position count and fraction — the decontamination pass
    * run before training so benchmark text can be dropped or excised.
    *
    * Scale: eval digests are DISTINCT + broadcast (the benchmark set is tiny
    * by construction); the train side streams through one narrow
    * digest-explode and an inner hash join — no shuffle of the corpus, no
    * text movement, output only flagged docs.
    */
  def decontam(spark: SparkSession, dir: String): DataFrame = {
    val g = grams(spark, dir, DecontamN)
    val evalG = g.filter(col("doc_id") % EvalMod === 0).select("g").distinct()
    val trainHits = g.filter(col("doc_id") % EvalMod =!= 0)
      .join(broadcast(evalG), "g")
      .groupBy("doc_id").agg(count(lit(1)).as("n_hit"))
    val trainBase = Tables.documents(spark, dir).filter(col("doc_id") % EvalMod =!= 0)
      .select(col("doc_id"),
        (greatest(size(words) - DecontamN, lit(0)) + 1).cast("long").as("n_shingles"))
    trainBase.join(trainHits, "doc_id")
      .select(col("doc_id"), col("n_shingles"), col("n_hit"),
        r6(col("n_hit").cast("double") / col("n_shingles").cast("double")).as("contam_frac"))
  }

  // ---------------- cross-doc chunk dedup (boilerplate detection) ----------------

  /** Non-overlapping chunk width in words. Chunks (not full docs) are the unit
    * shared boilerplate actually repeats at — headers, footers, license
    * blocks — which doc-level exact/near dedup ([[Dedup]]) cannot see when the
    * surrounding text differs.
    */
  val ChunkWords = 8

  /** A doc more than half made of cross-doc-shared chunks is boilerplate. */
  val SharedFracThreshold = 0.5

  /** Bloom false-positive rate for [[decontamBloom]] (the prefilter is
    * correctness-neutral — false positives are removed by the exact confirm
    * join — so fpp only tunes how much of the train side survives to it). */
  val BloomFpp = 0.03

  /** Bloom-filter decontamination: same result as [[decontam]], computed the
    * way a 100-TB pipeline would — the eval-gram set is folded into a Bloom
    * filter ONCE (driver-side, like Spark's own runtime-filter subquery
    * materialization; the benchmark set is small by construction), and the
    * train side drops ~97% of its gram stream MAP-SIDE through a codegen'd
    * `might_contain` before anything is shuffled into the exact join. The
    * exact broadcast join then removes Bloom false positives, so the output
    * is bit-identical to the exact operator (the oracle IS the exact SQL)
    * while the shuffle/join volume scales with the contaminated sliver, not
    * the corpus. This is Spark's InjectRuntimeFilter pattern made explicit
    * as an operator. The bloom is rebuilt per query (in production it would
    * persist beside the eval set; nothing here caches across fixture edits).
    */
  def decontamBloom(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal => CatalystLiteral}
    import org.apache.spark.sql.graftbridge.Bridge
    val g = grams(spark, dir, DecontamN)
    val evalG = g.filter(col("doc_id") % EvalMod === 0).select("g").distinct()
    val bloomBytes: Array[Byte] = {
      val bf = evalG.stat.bloomFilter("g", expectedNumItems = 300000L, fpp = BloomFpp)
      val bos = new java.io.ByteArrayOutputStream()
      bf.writeTo(bos)
      bos.toByteArray
    }
    val mightContain = Bridge.column(BloomFilterMightContain(
      CatalystLiteral.create(bloomBytes, org.apache.spark.sql.types.BinaryType),
      Bridge.expression(col("g"))))
    val trainHits = g.filter(col("doc_id") % EvalMod =!= 0)
      .filter(mightContain)                       // map-side bloom prune
      .join(broadcast(evalG), "g")                // exact confirm: FPs drop here
      .groupBy("doc_id").agg(count(lit(1)).as("n_hit"))
    val trainBase = Tables.documents(spark, dir).filter(col("doc_id") % EvalMod =!= 0)
      .select(col("doc_id"),
        (greatest(size(words) - DecontamN, lit(0)) + 1).cast("long").as("n_shingles"))
    trainBase.join(trainHits, "doc_id")
      .select(col("doc_id"), col("n_shingles"), col("n_hit"),
        r6(col("n_hit").cast("double") / col("n_shingles").cast("double")).as("contam_frac"))
  }

  /** (doc_id, g): digest per non-overlapping [[ChunkWords]]-word chunk (docs
    * shorter than one chunk emit none); `hw` is projected first, as in
    * [[grams]], and the length filter counts words: a filter on `size(hw)`
    * is pushed below that projection and hashes every word a second time.
    */
  private def chunks(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).filter(size(words) >= ChunkWords)
      .select(col("doc_id"), wordDigests().as("hw"))
      .select(col("doc_id"),
        explode(transform(
          sequence(lit(0), floor(size(col("hw")) / lit(ChunkWords.toDouble)).cast("int") - 1),
          c => gram(col("hw"), c * ChunkWords, ChunkWords))).as("g"))

  /** Per-doc cross-doc chunk-sharing profile: of the doc's chunks, how many
    * also occur in at least one OTHER doc (`n_shared_chunks`, by digest), the
    * shared fraction, and the boilerplate flag. The CCNet-style
    * paragraph-dedup pass (Wenzek et al., LREC 2020) re-expressed over word
    * chunks, since fixture docs carry no line structure.
    *
    * A chunk is shared when its digest's rows span more than one doc
    * (min doc_id ≠ max doc_id over the digest), so the chunks are derived
    * once: a count-and-join-back form reads them, and hashes every word,
    * twice. Scale: only (doc_id, 31-bit digest) rows shuffle — once by
    * digest for the window, once by doc; raw text never moves.
    */
  def chunkDedup(spark: SparkSession, dir: String): DataFrame = {
    val byDigest = Window.partitionBy("g")
    val frac = r6(col("n_shared_chunks").cast("double") / col("n_chunks").cast("double"))
    chunks(spark, dir)
      .select(col("doc_id"),
        (min(col("doc_id")).over(byDigest) =!= max(col("doc_id")).over(byDigest)).as("shared"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("shared"), 1L).otherwise(0L)).as("n_shared_chunks"))
      .select(col("doc_id"), col("n_chunks"), col("n_shared_chunks"),
        frac.as("shared_frac"), (frac > SharedFracThreshold).as("boilerplate"))
  }

  /** A chunk digest seen in at least this many docs is boilerplate for the
    * scrub pass. */
  val ScrubMinDocs = 2

  /** Boilerplate SCRUB — the action form of [[chunkDedup]]'s report: every
    * cross-doc duplicated chunk (digest in ≥ [[ScrubMinDocs]] docs) is
    * dropped from all but the digest's FIRST doc (min doc_id — the same
    * keep-first rule as the exact-dedup canonical), and each doc reports its
    * surviving token budget. The CCNet paragraph-dedup write path: what the
    * training pipeline feeds the tokenizer after the shared headers/footers
    * are removed. Within-doc repeats of a kept digest survive in the keeper
    * doc by design (intra-doc repetition is `text_repetition`'s gate, not
    * this one's).
    *
    * One min window over the digest decides each chunk: with
    * [[ScrubMinDocs]] = 2, "the digest spans ≥ 2 docs and this is not its
    * first doc" is exactly `doc_id > keeper`, since a doc_id above the
    * digest's minimum is a second doc. The chunks are derived once, as in
    * [[chunkDedup]], so every word is hashed once. Scale: digests shuffle
    * once by digest and once by doc; text never moves.
    */
  def boilerplateScrub(spark: SparkSession, dir: String): DataFrame = {
    require(ScrubMinDocs == 2, "the keeper window below encodes ScrubMinDocs = 2")
    val keeper = min(col("doc_id")).over(Window.partitionBy("g"))
    val perDoc = chunks(spark, dir)
      .select(col("doc_id"), (col("doc_id") > keeper).as("dropped"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("dropped"), 1L).otherwise(0L)).as("n_dropped"))
    Tables.documents(spark, dir).select(col("doc_id"), size(words).cast("long").as("n_words"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_words"),
        coalesce(col("n_chunks"), lit(0L)).as("n_chunks"),
        coalesce(col("n_dropped"), lit(0L)).as("n_dropped"),
        (col("n_words") - coalesce(col("n_dropped"), lit(0L)) * ChunkWords).as("kept_words"),
        r6(coalesce(col("n_dropped"), lit(0L)).cast("double") * ChunkWords /
          col("n_words").cast("double")).as("scrub_frac"))
  }

  def boilerplateScrubOracle: String =
    s"""WITH ch_h AS (
       |  SELECT doc_id,
       |         ${sqlWordDigests} AS hw
       |  FROM documents
       |), ch AS (
       |  SELECT doc_id,
       |         unnest(list_transform(
       |           generate_series(0, CAST(floor(len(hw) / ${ChunkWords.toDouble}) AS INT) - 1),
       |           c -> ${sqlGram("hw", s"c * $ChunkWords", ChunkWords)})) AS g
       |  FROM ch_h WHERE len(hw) >= $ChunkWords
       |), stats AS (
       |  SELECT g, count(DISTINCT doc_id) AS n_docs, min(doc_id) AS keeper FROM ch GROUP BY 1
       |), per AS (
       |  SELECT ch.doc_id, count(*) AS n_chunks,
       |         CAST(sum(CASE WHEN s.n_docs >= $ScrubMinDocs AND ch.doc_id > s.keeper
       |                       THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped
       |  FROM ch JOIN stats s USING (g) GROUP BY 1
       |)
       |SELECT d.doc_id, CAST(len(${sqlWords("d.text")}) AS BIGINT) AS n_words,
       |       coalesce(p.n_chunks, 0) AS n_chunks,
       |       coalesce(p.n_dropped, 0) AS n_dropped,
       |       CAST(len(${sqlWords("d.text")}) - coalesce(p.n_dropped, 0)*$ChunkWords AS BIGINT) AS kept_words,
       |       ${sqlR6(s"CAST(coalesce(p.n_dropped, 0)*$ChunkWords AS DOUBLE) / CAST(len(${sqlWords("d.text")}) AS DOUBLE)")} AS scrub_frac
       |FROM documents d LEFT JOIN per p ON p.doc_id = d.doc_id
       |ORDER BY d.doc_id""".stripMargin

  // ---------------- unigram-LM negative log-likelihood (perplexity filter) ----------------

  /** Per-doc mean unigram negative log-likelihood — the corpus-LM perplexity
    * filter (the CCNet quality gate, with the corpus's own unigram model
    * standing in for the external KenLM): score(doc) = −Σ ln p(w) / n, with
    * p(w) the word's corpus frequency. Low-probability word salad scores
    * high; template text scores low. `above_mean` flags docs above the corpus
    * mean score — the half a perplexity-bucketed mixture would downsample.
    *
    * Determinism: each word's nll is quantized to fx9 BEFORE summing, so the
    * per-doc sums are exact BIGINTs in both engines (the one ln() per DISTINCT
    * word is the only float op); the mean comparison is pure integer
    * arithmetic — fx6(avg)·n_docs vs Σ fx6(avg).
    *
    * Scale: the vocab count collapses map-side (vocabulary ≪ corpus);
    * re-scoring joins tokens against the broadcast vocab; the global
    * mean is a broadcast single-row agg — no collect, no global sort.
    */
  def unigramNll(spark: SparkSession, dir: String): DataFrame = {
    val tok = Tables.documents(spark, dir).select(col("doc_id"), explode(words).as("w"))
    val vocab = tok.groupBy("w").agg(count(lit(1)).as("cnt"))
    val tot = vocab.agg(sum(col("cnt")).as("tot"))
    val perDoc = tok.join(broadcast(vocab), "w").crossJoin(broadcast(tot))
      .select(col("doc_id"),
        fx9(-log(col("cnt").cast("double") / col("tot").cast("double"))).as("nll_fx"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum(col("nll_fx")).as("sfx"))
      .select(col("doc_id"), col("n_tokens"),
        r6(col("sfx").cast("double") / 1e9 / col("n_tokens").cast("double")).as("avg_nll"))
    val thr = perDoc.agg(sum(fx(col("avg_nll"), 6)).as("thr_fx"),
      count(lit(1)).as("n_docs"))
    perDoc.crossJoin(broadcast(thr))
      .select(col("doc_id"), col("n_tokens"), col("avg_nll"),
        (fx(col("avg_nll"), 6) * col("n_docs") > col("thr_fx")).as("above_mean"))
  }

  // ---------------- bigram-LM negative log-likelihood ----------------

  /** Add-k smoothing constant for the bigram model. */
  val BigramK = 0.5

  /** Per-doc mean bigram negative log-likelihood — the unigram gate
    * ([[unigramNll]]) upgraded to a first-order model: score(doc) =
    * −Σ ln p(w_i | w_{i−1}) / (n−1) with add-k smoothed conditionals
    * p(w2|w1) = (c(w1,w2)+k)/(c(w1)+k·V). Word salad that passes the unigram
    * gate (common words in nonsense order) scores high here — the reason
    * CCNet-class filters use an n-gram LM, not frequencies. Same determinism
    * discipline: one ln per DISTINCT (observed) bigram, fx9-quantized before
    * the per-doc integer sum.
    *
    * Scale: bigram and unigram count tables are vocabulary-bounded and
    * broadcast; the corpus side is one adjacent-pair projection + two
    * broadcast joins — text never shuffles.
    */
  def bigramNll(spark: SparkSession, dir: String): DataFrame = {
    val pairs = Tables.documents(spark, dir).select(col("doc_id"), words.as("ws"))
      .filter(size(col("ws")) >= 2)
      .select(col("doc_id"),
        explode(transform(sequence(lit(1), size(col("ws")) - 1),
          i => struct(element_at(col("ws"), i).as("w1"),
            element_at(col("ws"), i + 1).as("w2")))).as("p"))
      .select(col("doc_id"), col("p.w1").as("w1"), col("p.w2").as("w2"))
    val uni = Tables.documents(spark, dir).select(explode(words).as("w1"))
      .groupBy("w1").agg(count(lit(1)).as("c1"))
    val vocabN = uni.agg(count(lit(1)).as("v"))
    val bi = pairs.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    pairs
      .join(broadcast(bi), Seq("w1", "w2"))
      .join(broadcast(uni), Seq("w1"))
      .crossJoin(broadcast(vocabN))
      .select(col("doc_id"),
        fx9(-log((col("c12").cast("double") + lit(BigramK)) /
          (col("c1").cast("double") + lit(BigramK) * col("v").cast("double")))).as("nll_fx"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum(col("nll_fx")).as("sfx"))
      .select(col("doc_id"), col("n_bigrams"),
        r6(col("sfx").cast("double") / 1e9 / col("n_bigrams").cast("double")).as("avg_nll2"))
  }

  /** Bigram weight in the interpolated model; 1−λ goes to the unigram. */
  val InterpLambda = 0.7

  /** Per-doc NLL under a λ-INTERPOLATED bigram/unigram LM — the smoothing
    * every deployed n-gram scorer actually uses (Jelinek–Mercer):
    * p(w2|w1) = λ·c12/c1 + (1−λ)·c2/T, so rare continuations fall back to
    * the unigram instead of being crushed by add-k mass, and the score
    * stops depending on the vocabulary-size constant. Read next to
    * `text_bigram_nll`: a doc whose interp score is much better than its
    * add-k score is one the smoothing choice was mis-ranking. Same
    * determinism (interp probability is exact-rational-built, one ln per
    * token fx9-quantized pre-sum) and same scale shape (count tables
    * broadcast, text never shuffles).
    */
  def interpNll(spark: SparkSession, dir: String): DataFrame = {
    val pairs = Tables.documents(spark, dir).select(col("doc_id"), words.as("ws"))
      .filter(size(col("ws")) >= 2)
      .select(col("doc_id"),
        explode(transform(sequence(lit(1), size(col("ws")) - 1),
          i => struct(element_at(col("ws"), i).as("w1"),
            element_at(col("ws"), i + 1).as("w2")))).as("p"))
      .select(col("doc_id"), col("p.w1").as("w1"), col("p.w2").as("w2"))
    val uni = Tables.documents(spark, dir).select(explode(words).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
    val tot = uni.agg(sum(col("c")).as("tot"))
    val bi = pairs.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    val p = lit(InterpLambda) * col("c12").cast("double") / col("c1").cast("double") +
      lit(1.0 - InterpLambda) * col("c2").cast("double") / col("tot").cast("double")
    pairs
      .join(broadcast(bi), Seq("w1", "w2"))
      .join(broadcast(uni.select(col("w").as("w1"), col("c").as("c1"))), "w1")
      .join(broadcast(uni.select(col("w").as("w2"), col("c").as("c2"))), "w2")
      .crossJoin(broadcast(tot))
      .select(col("doc_id"), fx9(-log(p)).as("nll_fx"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum(col("nll_fx")).as("sfx"))
      .select(col("doc_id"), col("n_bigrams"),
        r6(col("sfx").cast("double") / 1e9 / col("n_bigrams").cast("double"))
          .as("avg_nll_interp"))
  }

  def interpNllOracle: String = {
    val p = s"(${sqlD(InterpLambda)}*CAST(b.c12 AS DOUBLE)/CAST(u1.c AS DOUBLE) + ${sqlD(1.0 - InterpLambda)}*CAST(u2.c AS DOUBLE)/CAST(t.tot AS DOUBLE))"
    s"""WITH w AS (SELECT doc_id, ${sqlWords()} AS ws FROM documents),
       |pairs AS (
       |  SELECT doc_id, ws[g.i] AS w1, ws[g.i + 1] AS w2
       |  FROM w, LATERAL (SELECT unnest(generate_series(1, len(ws) - 1)) AS i) g
       |  WHERE len(ws) >= 2
       |), uni AS MATERIALIZED (
       |  SELECT w, count(*) AS c FROM (
       |    SELECT unnest(${sqlWords()}) AS w FROM documents)
       |  GROUP BY 1
       |), tot AS (SELECT CAST(sum(c) AS BIGINT) AS tot FROM uni),
       |bi AS (SELECT w1, w2, count(*) AS c12 FROM pairs GROUP BY 1, 2),
       |scored AS (
       |  SELECT p.doc_id, ${sqlFx(s"-ln($p)", 9)} AS nll_fx
       |  FROM pairs p
       |  JOIN bi b ON b.w1 = p.w1 AND b.w2 = p.w2
       |  JOIN uni u1 ON u1.w = p.w1
       |  JOIN uni u2 ON u2.w = p.w2
       |  CROSS JOIN tot t
       |)
       |SELECT doc_id, count(*) AS n_bigrams,
       |       ${sqlR6("CAST(sum(nll_fx) AS DOUBLE) / 1e9 / count(*)")} AS avg_nll_interp
       |FROM scored GROUP BY 1 ORDER BY doc_id""".stripMargin
  }

  /** Perplexity-filter threshold grid for the what-if sweep (the observed
    * interp-NLL range is ≈3.3–3.7 on this corpus at every scale). */
  val NllSweepGrid = Seq(3.35, 3.40, 3.45, 3.50, 3.60)

  /** Perplexity-filter what-if sweep — for each NLL cutoff in
    * [[NllSweepGrid]]: how many docs and tokens survive "drop everything
    * the LM finds too surprising", and the mean quality score of the
    * survivors. The same knob-costing pattern as `dedup_policy_sweep`,
    * applied to the CCNet-style LM gate: the curation owner reads this
    * table to pick the cutoff BEFORE burning a full pipeline run. One
    * interp-NLL pass (corpus-bounded broadcast joins), one grid explode,
    * one hash agg — the grid is literal so no data-derived threshold ever
    * sits on a rounding boundary.
    */
  def nllFilterSweep(spark: SparkSession, dir: String): DataFrame = {
    val scored = interpNll(spark, dir)
      .join(Tables.documents(spark, dir)
        .select(col("doc_id"), TextOps.qualityScoreCol.as("q"),
          TextOps.nWordsCol.as("n_tokens")), "doc_id")
    val grid = NllSweepGrid.map(t => lit(t))
    scored
      .select(col("avg_nll_interp"), col("q"), col("n_tokens"),
        explode(array(grid: _*)).as("threshold"))
      .withColumn("keep", (col("avg_nll_interp") <= col("threshold")).cast("long"))
      .groupBy("threshold")
      .agg(count(lit(1)).as("n_docs"), sum(col("keep")).as("n_kept"),
        sum(col("keep") * col("n_tokens")).as("tokens_kept"),
        sum(when(col("keep") === 1L, fx9(col("q")))).as("qfx"))
      .select(col("threshold"), col("n_kept"),
        r6(col("n_kept").cast("double") / col("n_docs").cast("double")).as("share_kept"),
        col("tokens_kept"),
        when(col("n_kept") > 0,
          r6(col("qfx").cast("double") / 1e9 / col("n_kept").cast("double")))
          .as("mean_quality_kept"))
  }

  def nllFilterSweepOracle: String = {
    val grid = NllSweepGrid.map(t => s"(${sqlD(t)})").mkString(", ")
    s"""WITH w AS (SELECT doc_id, ${sqlWords()} AS ws FROM documents),
       |pairs AS (
       |  SELECT doc_id, ws[g.i] AS w1, ws[g.i + 1] AS w2
       |  FROM w, LATERAL (SELECT unnest(generate_series(1, len(ws) - 1)) AS i) g
       |  WHERE len(ws) >= 2
       |), uni AS MATERIALIZED (
       |  SELECT w, count(*) AS c FROM (
       |    SELECT unnest(${sqlWords()}) AS w FROM documents)
       |  GROUP BY 1
       |), tot AS (SELECT CAST(sum(c) AS BIGINT) AS tot FROM uni),
       |bi AS (SELECT w1, w2, count(*) AS c12 FROM pairs GROUP BY 1, 2),
       |scored AS (
       |  SELECT p.doc_id,
       |         ${sqlFx(s"-ln(${sqlD(InterpLambda)}*CAST(b.c12 AS DOUBLE)/CAST(u1.c AS DOUBLE) + ${sqlD(1.0 - InterpLambda)}*CAST(u2.c AS DOUBLE)/CAST(t.tot AS DOUBLE))", 9)} AS nll_fx
       |  FROM pairs p
       |  JOIN bi b ON b.w1 = p.w1 AND b.w2 = p.w2
       |  JOIN uni u1 ON u1.w = p.w1
       |  JOIN uni u2 ON u2.w = p.w2
       |  CROSS JOIN tot t
       |), nll AS MATERIALIZED (
       |  SELECT doc_id, ${sqlR6("CAST(sum(nll_fx) AS DOUBLE) / 1e9 / count(*)")} AS avg_nll_interp
       |  FROM scored GROUP BY 1
       |), ${TextOps.qualityCteSql("qual")},
       |docsc AS (
       |  SELECT n.doc_id, n.avg_nll_interp, q.quality_score AS q, q.n_words AS n_tokens
       |  FROM nll n JOIN qual q USING (doc_id)
       |), sweep AS (
       |  SELECT g.threshold, d.avg_nll_interp, d.q, d.n_tokens,
       |         CASE WHEN d.avg_nll_interp <= g.threshold THEN 1 ELSE 0 END AS keep
       |  FROM docsc d CROSS JOIN (VALUES $grid) g(threshold)
       |)
       |SELECT threshold, CAST(sum(keep) AS BIGINT) AS n_kept,
       |       ${sqlR6("CAST(sum(keep) AS DOUBLE)/CAST(count(*) AS DOUBLE)")} AS share_kept,
       |       CAST(sum(keep*n_tokens) AS BIGINT) AS tokens_kept,
       |       CASE WHEN sum(keep) > 0
       |            THEN ${sqlR6(s"CAST(sum(CASE WHEN keep = 1 THEN ${sqlFx9("q")} END) AS DOUBLE)/1e9/CAST(sum(keep) AS DOUBLE)")}
       |       END AS mean_quality_kept
       |FROM sweep GROUP BY 1 ORDER BY threshold""".stripMargin
  }

  /** Heaps'-law fit across sources — V = K·Nᵝ relating vocabulary size to
    * token count: the growth law that predicts how much NEW vocabulary the
    * next crawl batch brings (β near 0.5 is natural text; β → 1 means
    * unbounded novelty, usually IDs/noise leaking through tokenization).
    * Each source contributes one exact (tokens, distinct-words) point;
    * the log-log OLS over the handful of points uses fx6-quantized logs
    * (fx12 here would overflow the BIGINT x·y cross product)
    * so the slope/intercept are order-insensitive. Two corpus-bounded
    * aggs; the regression runs on a |sources|-row relation.
    */
  def heapsLaw(spark: SparkSession, dir: String): DataFrame = {
    val pts = Tables.documents(spark, dir)
      .select(col("source"), explode(words).as("w"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_tokens"), countDistinct(col("w")).as("n_vocab"))
      .select(col("source"), col("n_tokens"), col("n_vocab"),
        fx(log(col("n_tokens").cast("double")), 6).as("x"),
        fx(log(col("n_vocab").cast("double")), 6).as("y"))
    val wAll = Window.partitionBy()
    val nD = col("m").cast("double")
    val beta = (nD * col("sxy").cast("double") - col("sx").cast("double") *
      col("sy").cast("double")) /
      (nD * col("sxx").cast("double") - col("sx").cast("double") *
        col("sx").cast("double"))
    val t = pts
      .withColumn("m", count(lit(1)).over(wAll))
      .withColumn("sx", sum(col("x")).over(wAll))
      .withColumn("sy", sum(col("y")).over(wAll))
      .withColumn("sxy", sum(col("x") * col("y")).over(wAll))
      .withColumn("sxx", sum(col("x") * col("x")).over(wAll))
    t.select(col("source"), col("n_tokens"), col("n_vocab"),
      r6(beta).as("beta"),
      r6(exp((col("sy").cast("double") / 1e6 -
        beta * (col("sx").cast("double") / 1e6)) / nD)).as("k"))
  }

  def heapsLawOracle: String = {
    val nD = "CAST(m AS DOUBLE)"
    val beta = s"(($nD*CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE))/($nD*CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE)))"
    s"""WITH tok AS (
       |  SELECT source, unnest(${sqlWords()}) AS w FROM documents
       |), pts AS (
       |  SELECT source, count(*) AS n_tokens, count(DISTINCT w) AS n_vocab,
       |         ${sqlFx("ln(CAST(count(*) AS DOUBLE))", 6)} AS x,
       |         ${sqlFx("ln(CAST(count(DISTINCT w) AS DOUBLE))", 6)} AS y
       |  FROM tok GROUP BY 1
       |), t AS (
       |  SELECT *, count(*) OVER () AS m,
       |         CAST(sum(x) OVER () AS BIGINT) AS sx, CAST(sum(y) OVER () AS BIGINT) AS sy,
       |         CAST(sum(x*y) OVER () AS BIGINT) AS sxy, CAST(sum(x*x) OVER () AS BIGINT) AS sxx
       |  FROM pts
       |)
       |SELECT source, n_tokens, n_vocab, ${sqlR6(beta)} AS beta,
       |       ${sqlR6(s"exp((CAST(sy AS DOUBLE)/1e6 - $beta*(CAST(sx AS DOUBLE)/1e6))/$nD)")} AS k
       |FROM t ORDER BY source""".stripMargin
  }

  // ---------------- hash-stable train/val/test split ----------------

  /** Split percentages: doc bucket = md5("split:" + doc_id) mod 100 →
    * [0, 98) train, 98 val, 99 test. */
  val TrainPct = 98

  /** Deterministic content-keyed train/val/test split — the property that
    * matters is STABILITY: a doc's membership depends only on its own id
    * (one md5, no ordering, no corpus statistics), so re-running the split
    * after the corpus GROWS never moves an old doc between splits — the
    * failure mode (val examples silently drifting into train across
    * re-ingests) that random or rank-based splits suffer. The registered
    * rollup is per (source, split) doc and token counts; membership itself
    * is a pure projection any downstream query can re-derive.
    *
    * Scale: one narrow projection + a map-side-collapsing agg; no shuffle of
    * text, output bounded by sources × 3.
    */
  def docSplit(spark: SparkSession, dir: String): DataFrame = {
    val bucket = pmod(
      md5Bits(concat(lit("split:"), col("doc_id").cast("string"))), lit(100L))
    val split = when(bucket < TrainPct, "train")
      .when(bucket === TrainPct, "val").otherwise("test")
    Tables.documents(spark, dir)
      .select(col("source"), split.as("split"), size(words).cast("long").as("n_tokens"))
      .groupBy("source", "split")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
  }

  // ---------------- token-budget mixture sampling ----------------

  /** Base token budget; source k's budget is Base·(1 + k mod 3) — a
    * deterministic stand-in for the per-source mixture weights a data-mixing
    * config would carry.
    */
  val MixBaseBudget = 300L

  /** Sample-key buckets for the blocked running sums below: the u01 key is
    * uniform in [0,1) by construction, so fixed-width buckets balance with
    * no stats scan. */
  private val MixBuckets = 512L

  /** Deterministic token-budget sampling per source: order each source's docs
    * by a cross-engine sample key (u01 of doc_id — the same LCG stream
    * discipline as the generators), then keep docs while the running token
    * count BEFORE the doc is inside the source's budget (so the first doc
    * always lands, and the doc that crosses the line is kept — budgets are
    * soft floors, the packing convention). Block-parallel: the
    * per-source running sum recombines from monotone sample-key buckets via
    * [[EventsOps.blockedRankPrefix]], so no task sorts a whole source even
    * though `source` is a ~20-value vocabulary at any scale (the extended
    * vocab sweep caught the old single-window form).
    */
  def mixtureSample(spark: SparkSession, dir: String): DataFrame = {
    val srcIdx = substring(col("source"), 4, 8).cast("long")
    val u = R.u01(col("doc_id").cast("double"), 41)
    val proj = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), size(words).cast("long").as("n_tokens"),
        (lit(MixBaseBudget) * (lit(1L) + pmod(srcIdx, lit(3L)))).as("budget_tokens"),
        u.as("u"))
    val bkt = least(floor(col("u") * MixBuckets), lit(MixBuckets - 1L)).cast("long")
    EventsOps.blockedRankPrefix(proj, "source", Seq(col("u"), col("doc_id")),
        bkt, col("n_tokens"), "_rn", "cum_before")
      .filter(col("cum_before") < col("budget_tokens"))
      .select(col("doc_id"), col("source"), col("n_tokens"), col("budget_tokens"),
        col("_rn").cast("int").as("pick_order"), col("cum_before"))
  }

  // ---------------- PII / sensitive-term scrubbing ----------------

  /** Structured-PII regexes (email, IPv4, phone). RE2/Java-common subset
    * only: character classes, bounded repeats, `\b` ASCII word boundaries —
    * no lookarounds (absent from RE2, so DuckDB could not replay them).
    * This synthetic fixture contains no structured PII, so these columns
    * measure 0 here — the non-degenerate leg is the lexicon below; the regex
    * legs keep the real pattern surface in the operator and the oracle.
    */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Re = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"

  /** Sensitive-term denylist (the lexicon leg — business terms standing in
    * for names/addresses in this fixture's vocabulary). */
  val ScrubLexicon: Seq[String] = Seq("customer", "value", "key")
  private val LexiconRe = s"\\b(${ScrubLexicon.mkString("|")})\\b"

  /** PII/sensitive-term scrub — the redaction pass run before a corpus is
    * released for training: per doc, match counts for each pattern class and
    * the post-redaction character length (every match replaced by the fixed
    * `<pii>` token, so the length delta audits exactly what left the text).
    * Only docs with ≥1 hit are emitted — the action view, like
    * [[decontam]]. One projection over the text scan: counts come from
    * `regexp_extract_all` + size, the redacted length from one
    * `regexp_replace`; nothing shuffles but the flagged sliver.
    */
  def piiScrub(spark: SparkSession, dir: String): DataFrame = {
    val nLex = size(regexp_extract_all(col("text"), lit(LexiconRe), lit(0))).cast("long")
    val nEmail = size(regexp_extract_all(col("text"), lit(EmailRe), lit(0))).cast("long")
    val nIp = size(regexp_extract_all(col("text"), lit(Ipv4Re), lit(0))).cast("long")
    val redacted = regexp_replace(
      regexp_replace(regexp_replace(col("text"), EmailRe, "<pii>"), Ipv4Re, "<pii>"),
      LexiconRe, "<pii>")
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), length(col("text")).cast("long").as("n_chars"),
        nLex.as("n_lexicon"), nEmail.as("n_email"), nIp.as("n_ipv4"),
        length(redacted).cast("long").as("n_chars_redacted"))
      .filter(col("n_lexicon") + col("n_email") + col("n_ipv4") > 0)
  }

  def piiScrubOracle: String =
    s"""SELECT doc_id, source, length(text)::BIGINT AS n_chars,
       |       len(regexp_extract_all(text, '$EmailRe'))::BIGINT AS n_email,
       |       len(regexp_extract_all(text, '$Ipv4Re'))::BIGINT AS n_ipv4,
       |       len(regexp_extract_all(text, '$LexiconRe'))::BIGINT AS n_lexicon,
       |       length(regexp_replace(regexp_replace(regexp_replace(text,
       |         '$EmailRe', '<pii>', 'g'), '$Ipv4Re', '<pii>', 'g'),
       |         '$LexiconRe', '<pii>', 'g'))::BIGINT AS n_chars_redacted
       |FROM documents
       |WHERE len(regexp_extract_all(text, '$LexiconRe'))
       |    + len(regexp_extract_all(text, '$EmailRe'))
       |    + len(regexp_extract_all(text, '$Ipv4Re')) > 0
       |ORDER BY doc_id""".stripMargin

  // ---------------- length-curriculum phases ----------------

  /** Number of curriculum phases the token budget is split into. */
  val CurriculumPhases = 3

  /** Sequence-length curriculum assignment — the "short sequences first"
    * schedule: within each source, docs ordered by token count (doc_id
    * tiebreak) are split into [[CurriculumPhases]] phases of equal TOKEN
    * mass (not doc count): phase = 1 + ⌊P·cum_before/T⌋, so each phase's
    * token budget fills before the next opens. Registered output is the
    * per-(source, phase) roster — doc/token counts and the length band —
    * which is what a training scheduler consumes; membership itself is a
    * pure windowed projection any pass can re-derive.
    *
    * Scale: one narrow projection + a BLOCK-PARALLEL per-source running sum
    * ([[EventsOps.blockedRankPrefix]] over monotone token-count buckets —
    * `source` is a ~20-value vocabulary at any scale, so the r10
    * single-window form sorted a whole source's docs in one task; the
    * per-source token total folds over the same tiny bucket-stats table) +
    * a map-side-collapsing rollup. The integer-division trap applies: Spark
    * Column `/` is double division, so the phase formula is
    * floor(double)·cast — exact while P·T < 2^53.
    */
  def curriculum(spark: SparkSession, dir: String): DataFrame = {
    val proj = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), size(words).cast("long").as("n_tokens"))
    val bkt = EventsOps.longBuckets(proj, col("n_tokens"), EventsOps.SeriesBlockRows,
      Some(s"$dir#documents.n_tokens"))
    EventsOps.blockedRankPrefix(proj, "source", Seq(col("n_tokens"), col("doc_id")),
        bkt, col("n_tokens"), "_rn", "cum_before", Some("total"))
      .withColumn("phase",
        least(lit(1L) + floor(col("cum_before").cast("double") * CurriculumPhases /
          col("total").cast("double")).cast("long"), lit(CurriculumPhases.toLong)))
      .groupBy("source", "phase")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"),
        min(col("n_tokens")).as("min_len"), max(col("n_tokens")).as("max_len"))
  }

  def curriculumOracle: String =
    s"""WITH base AS (
       |  SELECT doc_id, source,
       |         len(${sqlWords()})::BIGINT AS n_tokens
       |  FROM documents
       |), win AS (
       |  SELECT doc_id, source, n_tokens,
       |         CAST(coalesce(sum(n_tokens) OVER (PARTITION BY source ORDER BY n_tokens, doc_id
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before,
       |         CAST(sum(n_tokens) OVER (PARTITION BY source) AS BIGINT) AS total
       |  FROM base
       |), ph AS (
       |  SELECT source, n_tokens,
       |         least(1 + CAST(floor(CAST(cum_before AS DOUBLE) * $CurriculumPhases / CAST(total AS DOUBLE)) AS BIGINT), $CurriculumPhases) AS phase
       |  FROM win
       |)
       |SELECT source, phase, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       |       min(n_tokens) AS min_len, max(n_tokens) AS max_len
       |FROM ph GROUP BY 1, 2 ORDER BY source, phase""".stripMargin

  // ---------------- DuckDB oracle twins ----------------

  /** Histogram ladder: power-of-two length buckets up to 2^[[HistMaxBucket]]. */
  val HistMaxBucket = 14

  private def bucketLadder(n: Column): Column =
    (HistMaxBucket to 2 by -1).foldLeft(when(n >= (1L << HistMaxBucket) * 2, HistMaxBucket + 1)) {
      (acc, k) => acc.when(n >= (1L << k), k)
    }.otherwise(lit(1))

  private def bucketLadderSql(n: String): String = {
    val whens = (HistMaxBucket to 2 by -1)
      .map(k => s"WHEN $n >= ${1L << k} THEN $k")
      .mkString(" ")
    s"(CASE WHEN $n >= ${(1L << HistMaxBucket) * 2} THEN ${HistMaxBucket + 1} $whens ELSE 1 END)"
  }

  /** Document-length profile — the histogram a curation pass reads to set
    * truncation/packing thresholds: per (source, power-of-two word-count
    * bucket), document and token counts plus each bucket's share of its
    * source. Text lengths are power-law-ish, so buckets are log-spaced; the
    * bucket id comes from an integer CASE ladder, not floor(log2(n)) — libm
    * log at an exact power boundary is the kind of 1-ulp cross-engine skew
    * the ladder makes impossible. One scan, counts collapse map-side, text
    * never shuffles.
    */
  def lengthHist(spark: SparkSession, dir: String): DataFrame = {
    val n = size(words).cast("long")
    val wSrc = Window.partitionBy("source")
    Tables.documents(spark, dir)
      .select(col("source"), bucketLadder(n).as("bucket"), n.as("n_words"))
      .groupBy("source", "bucket")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_words")).as("n_tokens"))
      .withColumn("src_docs", sum(col("n_docs")).over(wSrc))
      .select(col("source"), col("bucket"), col("n_docs"), col("n_tokens"),
        r6(col("n_docs").cast("double") / col("src_docs").cast("double")).as("share"))
  }

  def lengthHistOracle: String =
    s"""WITH b AS (
       |  SELECT source,
       |         ${bucketLadderSql(s"len(${sqlWords()})")} AS bucket,
       |         len(${sqlWords()})::BIGINT AS n_words
       |  FROM documents
       |), g AS (
       |  SELECT source, bucket, count(*) AS n_docs, CAST(sum(n_words) AS BIGINT) AS n_tokens
       |  FROM b GROUP BY 1, 2
       |)
       |SELECT source, bucket, n_docs, n_tokens,
       |       ${sqlR6("CAST(n_docs AS DOUBLE) / CAST(sum(n_docs) OVER (PARTITION BY source) AS DOUBLE)")} AS share
       |FROM g ORDER BY source, bucket""".stripMargin

  /** Source-mixture entropy — the one-number diagnostic of how concentrated
    * the training mix is: per-source token shares p_s and their Shannon
    * terms −p·log₂p, plus an ALL row whose h_bits is the mixture entropy
    * (log₂#sources when perfectly balanced, → 0 as one source dominates).
    * The entropy sum runs over fx9-quantized terms so the ALL row cannot
    * depend on partial-merge order; the per-source pass is one narrow agg
    * and the rollup touches #sources rows.
    */
  def mixEntropy(spark: SparkSession, dir: String): DataFrame = {
    val per = Tables.documents(spark, dir)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum(size(words).cast("long")).as("n_tokens"))
      .withColumn("total", sum(col("n_tokens")).over(Window.partitionBy()))
      .withColumn("p", col("n_tokens").cast("double") / col("total").cast("double"))
      .withColumn("term", -col("p") * log2(col("p")))
      .localCheckpoint(true) // ≤ #sources rows; reused by both output legs
    val perOut = per.select(col("source"), col("n_docs"), col("n_tokens"),
      r6(col("p")).as("share"), r6(col("term")).as("h_bits"))
    val allOut = per
      .agg(sum(col("n_docs")).as("n_docs"), sum(col("n_tokens")).as("n_tokens"),
        (sum(fx9(col("term"))).cast("double") / 1e9).as("h"))
      .select(lit("ALL").as("source"), col("n_docs"), col("n_tokens"),
        lit(1.0).as("share"), r6(col("h")).as("h_bits"))
    perOut.unionByName(allOut)
  }

  def mixEntropyOracle: String =
    s"""WITH per AS (
       |  SELECT source, count(*) AS n_docs,
       |         CAST(sum(len(${sqlWords()})::BIGINT) AS BIGINT) AS n_tokens
       |  FROM documents GROUP BY 1
       |), t AS (
       |  SELECT *, CAST(n_tokens AS DOUBLE) / CAST(sum(n_tokens) OVER () AS DOUBLE) AS p
       |  FROM per
       |), u AS (SELECT *, -p * log2(p) AS term FROM t)
       |SELECT source, n_docs, n_tokens, ${sqlR6("p")} AS share, ${sqlR6("term")} AS h_bits
       |FROM u
       |UNION ALL
       |SELECT 'ALL', CAST(sum(n_docs) AS BIGINT), CAST(sum(n_tokens) AS BIGINT), 1.0e0,
       |       ${sqlR6(s"CAST(sum(${sqlFx9("term")}) AS DOUBLE) / 1e9")}
       |FROM u
       |ORDER BY source""".stripMargin

  // ---------------- per-source unigram-distribution divergence ----------------

  /** Per-source distribution drift over TEXT — the lexical twin of
    * `emb_drift`: KL(P_source ‖ P_corpus) over unigram distributions, the
    * standard "did this source's language shift away from the mixture"
    * monitor a corpus pipeline alarms on. One divergence number per source,
    * plus the vocabulary/token mass it was computed from.
    *
    * Determinism: each (source, word) contributes p·ln(p/q) with p, q exact
    * double ratios of BIGINT counts; the one ln() per pair is fx9-quantized
    * BEFORE the per-source integer sum (the [[unigramNll]] discipline), so
    * aggregation order cannot perturb the r6 output.
    *
    * Scale: both count tables collapse map-side (vocabulary ≪ corpus); the
    * per-source totals and the corpus total are tiny broadcast joins — the
    * only vocab-sized shuffle is the (source, word) group itself. Raw text
    * never moves.
    */
  def sourceDivergence(spark: SparkSession, dir: String): DataFrame = {
    val tok = Tables.documents(spark, dir).select(col("source"), explode(words).as("w"))
    val srcCnt = tok.groupBy("source", "w").agg(count(lit(1)).as("c_sw"))
    val srcTot = srcCnt.groupBy("source").agg(sum(col("c_sw")).as("tot_s"))
    val wCnt = srcCnt.groupBy("w").agg(sum(col("c_sw")).as("c_w"))
    val tot = wCnt.agg(sum(col("c_w")).as("tot"))
    val p = col("c_sw").cast("double") / col("tot_s").cast("double")
    val q = col("c_w").cast("double") / col("tot").cast("double")
    srcCnt
      .join(broadcast(srcTot), "source")
      .join(broadcast(wCnt), "w")
      .crossJoin(broadcast(tot))
      .select(col("source"), col("tot_s"), fx9(p * log(p / q)).as("kfx"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_vocab"), max(col("tot_s")).as("n_tokens"),
        r6(sum(col("kfx")).cast("double") / 1e9).as("kl_nats"))
  }

  def sourceDivergenceOracle: String =
    s"""WITH tok AS (
       |  SELECT source, unnest(${sqlWords()}) AS w FROM documents
       |), sc AS (
       |  SELECT source, w, count(*) AS c_sw FROM tok GROUP BY 1, 2
       |), st AS (
       |  SELECT source, CAST(sum(c_sw) AS BIGINT) AS tot_s FROM sc GROUP BY 1
       |), wc AS (
       |  SELECT w, CAST(sum(c_sw) AS BIGINT) AS c_w FROM sc GROUP BY 1
       |), t AS (SELECT CAST(sum(c_w) AS BIGINT) AS tot FROM wc),
       |terms AS (
       |  SELECT sc.source, st.tot_s,
       |         ${sqlFx9("(CAST(sc.c_sw AS DOUBLE)/CAST(st.tot_s AS DOUBLE)) * ln((CAST(sc.c_sw AS DOUBLE)/CAST(st.tot_s AS DOUBLE)) / (CAST(wc.c_w AS DOUBLE)/CAST(t.tot AS DOUBLE)))")} AS kfx
       |  FROM sc JOIN st USING (source) JOIN wc USING (w) CROSS JOIN t
       |)
       |SELECT source, count(*) AS n_vocab, max(tot_s) AS n_tokens,
       |       ${sqlR6("CAST(sum(kfx) AS DOUBLE) / 1e9")} AS kl_nats
       |FROM terms GROUP BY 1 ORDER BY source""".stripMargin

  // ---------------- Zipf rank-frequency fit ----------------

  /** Top-N word ranks the Zipf regression runs over. */
  val ZipfTopN = 100

  /** Zipf rank-frequency fit per source: OLS slope/intercept of ln(freq) on
    * ln(rank) over the top-[[ZipfTopN]] words. Natural text sits near slope
    * −1; templated or synthetic text flattens — a one-number corpus
    * health check next to [[mixEntropy]].
    *
    * Determinism: both ln() values are fx6-quantized per (source, word); the
    * five OLS sums are then EXACT BIGINT arithmetic (bounds: |x|≤ln(100)·1e6,
    * |y|≤ln(corpus)·1e6, so n·Σxy and Σx·Σy stay ≤ ~5·10¹⁷ ≪ 2⁶³), and both
    * engines cast the same exact integers to double for the two final
    * divisions. Rank ties break on the word itself.
    *
    * Scale: the count table collapses map-side; the top-N filter is a
    * WindowGroupLimit (per-partition heaps, no global sort); the regression
    * is a 5-sum aggregate per source.
    */
  def zipfFit(spark: SparkSession, dir: String): DataFrame = {
    val cnt = Tables.documents(spark, dir).select(col("source"), explode(words).as("w"))
      .groupBy("source", "w").agg(count(lit(1)).as("c"))
    val byFreq = Window.partitionBy("source").orderBy(desc("c"), asc("w"))
    val top = cnt.withColumn("rnk", row_number().over(byFreq))
      .filter(col("rnk") <= ZipfTopN)
      .select(col("source"),
        fx(log(col("rnk").cast("double")), 6).as("xi"),
        fx(log(col("c").cast("double")), 6).as("yi"))
    val n = count(lit(1))
    val den = (n * sum(col("xi") * col("xi")) - sum(col("xi")) * sum(col("xi"))).cast("double")
    val slope = (n * sum(col("xi") * col("yi")) - sum(col("xi")) * sum(col("yi"))).cast("double") / den
    val intercept = (sum(col("yi")).cast("double") / 1e6 -
      slope * (sum(col("xi")).cast("double") / 1e6)) / n.cast("double")
    top.groupBy("source")
      .agg(n.as("n_top"), r6(slope).as("slope"), r6(intercept).as("intercept"))
  }

  def zipfFitOracle: String =
    s"""WITH cnt AS (
       |  SELECT source, w, count(*) AS c
       |  FROM (SELECT source, unnest(${sqlWords()}) AS w FROM documents)
       |  GROUP BY 1, 2
       |), ranked AS (
       |  SELECT source,
       |         ${sqlFx("ln(CAST(row_number() OVER (PARTITION BY source ORDER BY c DESC, w ASC) AS DOUBLE))", 6)} AS xi,
       |         ${sqlFx("ln(CAST(c AS DOUBLE))", 6)} AS yi,
       |         row_number() OVER (PARTITION BY source ORDER BY c DESC, w ASC) AS rnk
       |  FROM cnt
       |), top AS (SELECT * FROM ranked WHERE rnk <= $ZipfTopN),
       |s AS (
       |  SELECT source, count(*) AS n,
       |         CAST(sum(xi) AS BIGINT) AS sx, CAST(sum(yi) AS BIGINT) AS sy,
       |         CAST(sum(xi*yi) AS BIGINT) AS sxy, CAST(sum(xi*xi) AS BIGINT) AS sxx
       |  FROM top GROUP BY 1
       |)
       |SELECT source, n AS n_top,
       |       ${sqlR6("CAST(n*sxy - sx*sy AS DOUBLE) / CAST(n*sxx - sx*sx AS DOUBLE)")} AS slope,
       |       ${sqlR6("(CAST(sy AS DOUBLE)/1e6 - (CAST(n*sxy - sx*sy AS DOUBLE) / CAST(n*sxx - sx*sx AS DOUBLE)) * (CAST(sx AS DOUBLE)/1e6)) / CAST(n AS DOUBLE)")} AS intercept
       |FROM s ORDER BY source""".stripMargin

  /** Quality-score bin × exact-duplicate confound matrix — the sanity check
    * a curation review runs BEFORE trusting "dedup removes junk": per
    * fixed quality band (the r6 score floor-binned into tenths — fixed
    * bins, deliberately NOT rank deciles, so no global sort exists at any
    * scale), how many docs are exact duplicates. A dup_rate that falls as
    * quality rises means the two gates are redundant; flat means they cut
    * independent slices. Dup flag is the one-shuffle md5-digest window
    * (`dedup_exact`'s discipline: raw text never shuffles); per-bin mean
    * quality fx9-quantizes before the order-insensitive sum.
    */
  def qualityDupMatrix(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"), TextOps.qualityScoreCol.as("q"))
      .withColumn("is_dup",
        (count(lit(1)).over(Window.partitionBy(md5(col("text")))) > 1).cast("long"))
    d.select(least(floor(col("q") * 10).cast("long"), lit(9L)).as("q_bin"),
        col("is_dup"), fx9(col("q")).as("qfx"))
      .groupBy("q_bin")
      .agg(count(lit(1)).as("n_docs"), sum(col("is_dup")).as("n_dup"),
        sum(col("qfx")).as("qsum"))
      .select(col("q_bin"), col("n_docs"), col("n_dup"),
        r6(col("n_dup").cast("double") / col("n_docs").cast("double")).as("dup_rate"),
        r6(col("qsum").cast("double") / 1e9 / col("n_docs").cast("double")).as("mean_quality"))
  }

  def qualityDupMatrixOracle: String =
    s"""WITH ${TextOps.qualityCteSql("q")},
       |dupf AS (
       |  SELECT doc_id, (count(*) OVER (PARTITION BY md5(text)) > 1) AS is_dup
       |  FROM documents
       |), j AS (
       |  SELECT least(CAST(floor(q.quality_score*10) AS BIGINT), 9) AS q_bin,
       |         CASE WHEN d.is_dup THEN 1 ELSE 0 END AS is_dup,
       |         ${sqlFx9("q.quality_score")} AS qfx
       |  FROM q JOIN dupf d USING (doc_id)
       |)
       |SELECT q_bin, count(*) AS n_docs, CAST(sum(is_dup) AS BIGINT) AS n_dup,
       |       ${sqlR6("CAST(sum(is_dup) AS DOUBLE)/CAST(count(*) AS DOUBLE)")} AS dup_rate,
       |       ${sqlR6("CAST(sum(qfx) AS DOUBLE)/1e9/CAST(count(*) AS DOUBLE)")} AS mean_quality
       |FROM j GROUP BY 1 ORDER BY q_bin""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "docs_quality_dup_matrix" -> ((s, d) => qualityDupMatrix(s, d).orderBy("q_bin")),
    "text_interp_nll" -> ((s, d) => interpNll(s, d).orderBy("doc_id")),
    "docs_nll_filter_sweep" -> ((s, d) => nllFilterSweep(s, d).orderBy("threshold")),
    "text_heaps_law" -> ((s, d) => heapsLaw(s, d).orderBy("source")),
    "docs_source_divergence" -> ((s, d) => sourceDivergence(s, d).orderBy("source")),
    "text_zipf_fit" -> ((s, d) => zipfFit(s, d).orderBy("source")),
    "docs_length_hist" -> ((s, d) => lengthHist(s, d).orderBy("source", "bucket")),
    "docs_mix_entropy" -> ((s, d) => mixEntropy(s, d).orderBy("source")),
    "text_repetition" -> ((s, d) => repetition(s, d).orderBy("doc_id")),
    "docs_decontam" -> ((s, d) => decontam(s, d).orderBy("doc_id")),
    "docs_decontam_bloom" -> ((s, d) => decontamBloom(s, d).orderBy("doc_id")),
    "docs_chunk_dedup" -> ((s, d) => chunkDedup(s, d).orderBy("doc_id")),
    "docs_boilerplate_scrub" -> ((s, d) => boilerplateScrub(s, d).orderBy("doc_id")),
    "text_unigram_nll" -> ((s, d) => unigramNll(s, d).orderBy("doc_id")),
    "text_bigram_nll" -> ((s, d) => bigramNll(s, d).orderBy("doc_id")),
    "docs_split_stable" -> ((s, d) => docSplit(s, d).orderBy("source", "split")),
    "docs_mixture_sample" -> ((s, d) => mixtureSample(s, d).orderBy("source", "pick_order")),
    "docs_pii_scrub" -> ((s, d) => piiScrub(s, d).orderBy("doc_id")),
    "docs_curriculum" -> ((s, d) => curriculum(s, d).orderBy("source", "phase"))
  )

  private def decontamOracle: String =
    s"""WITH ${gramCteSql("grams", DecontamN)},
       |ev AS (SELECT DISTINCT g FROM grams WHERE doc_id % $EvalMod = 0),
       |hits AS (
       |  SELECT t.doc_id, count(*) AS n_hit
       |  FROM grams t JOIN ev USING (g)
       |  WHERE t.doc_id % $EvalMod <> 0 GROUP BY 1
       |)
       |SELECT d.doc_id,
       |       (greatest(len(${sqlWords("d.text")}) - $DecontamN, 0) + 1)::BIGINT AS n_shingles,
       |       h.n_hit,
       |       ${sqlR6(s"CAST(h.n_hit AS DOUBLE) / (greatest(len(${sqlWords("d.text")}) - $DecontamN, 0) + 1)")} AS contam_frac
       |FROM documents d JOIN hits h ON h.doc_id = d.doc_id
       |ORDER BY d.doc_id""".stripMargin

  def oracles: Map[String, String] = Map(
    "docs_quality_dup_matrix" -> qualityDupMatrixOracle,
    "text_interp_nll" -> interpNllOracle,
    "docs_nll_filter_sweep" -> nllFilterSweepOracle,
    "text_heaps_law" -> heapsLawOracle,
    "docs_source_divergence" -> sourceDivergenceOracle,
    "text_zipf_fit" -> zipfFitOracle,
    "docs_length_hist" -> lengthHistOracle,
    "docs_mix_entropy" -> mixEntropyOracle,
    "text_repetition" ->
      s"""WITH ${gramCteSql("g2", 2)},
         |${gramCteSql("g5", 5)},
         |c2 AS (SELECT doc_id, g, count(*) AS cnt FROM g2 GROUP BY 1, 2),
         |c5 AS (SELECT doc_id, g, count(*) AS cnt FROM g5 GROUP BY 1, 2),
         |p2 AS (
         |  SELECT doc_id, sum(cnt) AS n2, max(cnt) AS max2,
         |         sum(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) AS dup2
         |  FROM c2 GROUP BY 1
         |), p5 AS (
         |  SELECT doc_id, sum(cnt) AS n5,
         |         sum(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) AS dup5
         |  FROM c5 GROUP BY 1
         |)
         |SELECT d.doc_id, len(${sqlWords("d.text")})::BIGINT AS n_words,
         |       ${sqlR6("CAST(p2.max2 AS DOUBLE) / p2.n2")} AS top_2gram_frac,
         |       ${sqlR6("CAST(p2.dup2 AS DOUBLE) / p2.n2")} AS dup_2gram_frac,
         |       ${sqlR6("CAST(p5.dup5 AS DOUBLE) / p5.n5")} AS dup_5gram_frac,
         |       (${sqlR6("CAST(p2.max2 AS DOUBLE) / p2.n2")} > ${sqlD(Top2Threshold)}
         |        OR ${sqlR6("CAST(p5.dup5 AS DOUBLE) / p5.n5")} > ${sqlD(Dup5Threshold)}) AS repetitive
         |FROM documents d JOIN p2 ON p2.doc_id = d.doc_id JOIN p5 ON p5.doc_id = d.doc_id
         |ORDER BY d.doc_id""".stripMargin,
    "docs_decontam" -> decontamOracle,
    "docs_boilerplate_scrub" -> boilerplateScrubOracle,
    // The bloom variant is DEFINED to produce the exact operator's output
    // (the bloom only pre-filters; false positives die in the confirm join),
    // so its oracle is the identical exact SQL — any bloom-induced deviation
    // is a hash mismatch.
    "docs_decontam_bloom" -> decontamOracle,
    "docs_chunk_dedup" ->
      s"""WITH ch_h AS (
         |  SELECT doc_id,
         |         ${sqlWordDigests} AS hw
         |  FROM documents
         |), ch AS (
         |  SELECT doc_id,
         |         unnest(list_transform(
         |           generate_series(0, CAST(floor(len(hw) / ${ChunkWords.toDouble}) AS INT) - 1),
         |           c -> ${sqlGram("hw", s"c * $ChunkWords", ChunkWords)})) AS g
         |  FROM ch_h WHERE len(hw) >= $ChunkWords
         |), shared AS (
         |  SELECT g, count(DISTINCT doc_id) AS n_docs FROM ch GROUP BY 1
         |), agg AS (
         |  SELECT ch.doc_id, count(*) AS n_chunks,
         |         CAST(sum(CASE WHEN s.n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared_chunks
         |  FROM ch JOIN shared s USING (g) GROUP BY 1
         |)
         |SELECT doc_id, n_chunks, n_shared_chunks,
         |       ${sqlR6("CAST(n_shared_chunks AS DOUBLE) / n_chunks")} AS shared_frac,
         |       ${sqlR6("CAST(n_shared_chunks AS DOUBLE) / n_chunks")} > ${sqlD(SharedFracThreshold)} AS boilerplate
         |FROM agg ORDER BY doc_id""".stripMargin,
    "text_unigram_nll" ->
      s"""WITH tok AS (
         |  SELECT doc_id, unnest(${sqlWords()}) AS w FROM documents
         |), vocab AS (
         |  SELECT w, count(*) AS cnt FROM tok GROUP BY 1
         |), tot AS (SELECT sum(cnt) AS tot FROM vocab),
         |perdoc AS (
         |  SELECT doc_id, count(*) AS n_tokens,
         |         sum(${sqlFx("-ln(CAST(v.cnt AS DOUBLE) / t.tot)", 9)}) AS sfx
         |  FROM tok JOIN vocab v USING (w) CROSS JOIN tot t GROUP BY 1
         |), res AS (
         |  SELECT doc_id, n_tokens,
         |         ${sqlR6("CAST(sfx AS DOUBLE) / 1e9 / n_tokens")} AS avg_nll
         |  FROM perdoc
         |), thr AS (
         |  SELECT sum(${sqlFx("avg_nll", 6)}) AS thr_fx, count(*) AS n_docs FROM res
         |)
         |SELECT doc_id, n_tokens, avg_nll,
         |       ${sqlFx("avg_nll", 6)} * t.n_docs > t.thr_fx AS above_mean
         |FROM res CROSS JOIN thr t ORDER BY doc_id""".stripMargin,
    "text_bigram_nll" ->
      s"""WITH w AS (SELECT doc_id, ${sqlWords()} AS ws FROM documents),
         |pairs AS (
         |  SELECT doc_id, ws[g.i] AS w1, ws[g.i + 1] AS w2
         |  FROM w, LATERAL (SELECT unnest(generate_series(1, len(ws) - 1)) AS i) g
         |  WHERE len(ws) >= 2
         |), uni AS (
         |  SELECT w1, count(*) AS c1 FROM (
         |    SELECT unnest(${sqlWords()}) AS w1 FROM documents)
         |  GROUP BY 1
         |), vocab AS (SELECT count(*) AS v FROM uni),
         |bi AS (SELECT w1, w2, count(*) AS c12 FROM pairs GROUP BY 1, 2),
         |scored AS (
         |  SELECT p.doc_id,
         |         ${sqlFx(s"-ln((CAST(b.c12 AS DOUBLE) + ${sqlD(BigramK)}) / (CAST(u.c1 AS DOUBLE) + ${sqlD(BigramK)} * CAST(vb.v AS DOUBLE)))", 9)} AS nll_fx
         |  FROM pairs p
         |  JOIN bi b ON b.w1 = p.w1 AND b.w2 = p.w2
         |  JOIN uni u ON u.w1 = p.w1
         |  CROSS JOIN vocab vb
         |)
         |SELECT doc_id, count(*) AS n_bigrams,
         |       ${sqlR6("CAST(sum(nll_fx) AS DOUBLE) / 1e9 / count(*)")} AS avg_nll2
         |FROM scored GROUP BY 1 ORDER BY doc_id""".stripMargin,
    "docs_split_stable" ->
      s"""WITH b AS (
         |  SELECT source,
         |         CASE WHEN h < $TrainPct THEN 'train'
         |              WHEN h = $TrainPct THEN 'val' ELSE 'test' END AS split,
         |         len(${sqlWords()})::BIGINT AS n_tokens
         |  FROM (SELECT source, text,
         |               ${sqlMd5Bits("'split:' || doc_id::VARCHAR")} % 100 AS h
         |        FROM documents)
         |)
         |SELECT source, split, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS n_tokens
         |FROM b GROUP BY 1, 2 ORDER BY source, split""".stripMargin,
    "docs_mixture_sample" ->
      s"""WITH base AS (
         |  SELECT doc_id, source,
         |         len(${sqlWords()})::BIGINT AS n_tokens,
         |         $MixBaseBudget * (1 + (substr(source, 4)::BIGINT % 3)) AS budget_tokens,
         |         ${R.sqlU01("CAST(doc_id AS DOUBLE)", 41)} AS u
         |  FROM documents
         |), win AS (
         |  SELECT doc_id, source, n_tokens, budget_tokens,
         |         CAST(coalesce(sum(n_tokens) OVER (PARTITION BY source ORDER BY u, doc_id
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before,
         |         CAST(row_number() OVER (PARTITION BY source ORDER BY u, doc_id) AS INT) AS pick_order
         |  FROM base
         |)
         |SELECT doc_id, source, n_tokens, budget_tokens, pick_order, cum_before
         |FROM win WHERE cum_before < budget_tokens
         |ORDER BY source, pick_order""".stripMargin,
    "docs_pii_scrub" -> piiScrubOracle,
    "docs_curriculum" -> curriculumOracle
  )
}
