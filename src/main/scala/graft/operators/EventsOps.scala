package graft.operators

import graft.Tables
import graft.functions.Num._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Time-series operators over the driver `events` table — the engine's flagship
  * `decompose()` pipeline (SURVEY.md §7.4, W4-W9), treating each `event_type` as one
  * series ordered by `(ts, event_id)`.
  *
  * Mirrors the decomposition semantics of the reference model
  * (/root/reference/models/diffusion_ts_model.py:200-290): low-frequency trend,
  * top-K DFT seasonality on the detrended signal, residual as the rest
  * (/root/reference/utils/visualisation.py:117).
  *
  * Scale notes (100 TB thinking):
  *  - the per-series `row_number` and moving-average trend are BLOCK-parallel
  *    (monotone time buckets + prefix-offset recombination; halo'd t-chunks for
  *    the rows-frame): parallelism = #series × #blocks, so even a 5-value
  *    event_type key never puts a whole series in one task (see [[series]] /
  *    [[trendedOf]] — the r9 per-key window forms were the registry's last
  *    fact-scale single-task plans, VERDICT r9).
  *  - the DFT is the O(N·K) explode+groupBy form: rows fan out K-fold
  *    (`maxFreq`=64 caps the fan-out) and collapse through a partial-aggregating
  *    hash agg, so shuffle volume is #series × K, not N × K.
  */
object EventsOps {
  val TopK = 4      // config.json:21 (top_k)
  val HalfWin = 8   // centered moving-average half-window (W8-lite trend)
  val MaxFreq = 64  // cap on scanned DFT bins — bounds the explode fan-out (§7.6.1)

  /** Target rows per time-bucket for the blocked [[series]] row numbering —
    * parallelism of the per-(key, bucket) local sort scales as totalRows/this,
    * so no task ever sorts more than ~a bucket of one key. */
  val SeriesBlockRows = 262144L
  /** Hard cap on bucket count (keeps the per-key offset table tiny). */
  val SeriesMaxBlocks = 1 << 20

  /** t-block width for the blocked [[trendedOf]] moving average: each
    * (key, t/TrendBlock) chunk computes its trend locally from its own rows
    * plus a ±[[HalfWin]] halo replicated from the neighbor blocks. */
  val TrendBlock = 65536

  // ---- blocked order-statistic machinery (VERDICT r9 #1) ----
  //
  // A `row_number()/ntile()/rolling over (partition by <vocabulary key>
  // order by …)` window sorts a whole series in ONE task: with key =
  // event_type (5 values) that is 20% of the fact table per task at ANY
  // scale — the registry's last fact-scale single-task plan class
  // (PlanHygieneSpec now bans the shape structurally). These helpers
  // decompose such windows into bucket-parallel forms with IDENTICAL
  // output:
  //   * [[blockedRank]] — global per-key rank via monotone buckets of the
  //     leading order column + prefix-offset recombination;
  //   * [[haloBlocks]] — bounded rows-frames over a dense 0-based `t` via
  //     fixed-width t-chunks with replicated edge halos.
  // Bucket BALANCE only affects parallelism, never correctness: a fully
  // concentrated distribution degrades to the old one-task plan, a ~uniform
  // one (event time; the fixture value columns) splits evenly. The
  // production upgrade for hostile value distributions is quantile-derived
  // bucket boundaries (the ZOrder rank-bucket stance) — same recombination.

  /** Global 1-based rank of `orderCols` within `key`, block-parallel.
    * `bucket` must be a MONOTONE non-decreasing function of the leading
    * order column (so global (order) ≡ (bucket, order), and tied leading
    * values never straddle buckets): per-(key, bucket) counts roll into
    * exclusive prefix offsets through a window over the tiny counts table,
    * and rank = offset + local row_number. Adds `rnName`; keeps all input
    * columns. The offsets join is AQE-broadcast (keys × buckets rows).
    */
  private[graft] def blockedRank(df: DataFrame, key: String, orderCols: Seq[Column],
                                 bucket: Column, rnName: String): DataFrame = {
    val base = df.withColumn("_bkt", bucket)
    val counts = base.groupBy(col(key), col("_bkt")).count()
    val wOff = Window.partitionBy(key).orderBy("_bkt")
      .rowsBetween(Window.unboundedPreceding, -1)
    val off = counts
      .withColumn("_off", coalesce(sum("count").over(wOff), lit(0L)))
      .drop("count")
    val wIn = Window.partitionBy(col(key), col("_bkt")).orderBy(orderCols: _*)
    base.join(off, Seq(key, "_bkt"))
      .withColumn(rnName, col("_off") + row_number().over(wIn))
      .drop("_bkt", "_off")
  }

  /** [[blockedRank]] generalized to RUNNING SUMS: global 1-based rank plus
    * the exclusive prefix sum of `value` within `key` under the
    * (orderCols) total order, block-parallel — per-(key, bucket) partial
    * counts AND sums roll into exclusive offsets through one window over
    * the tiny stats table, and each row recombines offset + its bucket-local
    * running value. Long-sum arithmetic is order-independent, so the result
    * is bit-identical to the single-window form at any bucketing. Same
    * monotone-bucket contract as [[blockedRank]]. Adds `rnName` (long),
    * `cumName` (exclusive prefix sum, long) and — when `totName` is set —
    * the per-key total of `value`. This is what keeps token-budget passes
    * (curriculum phases, mixture sampling, sequence packing) from sorting a
    * whole vocabulary key's docs in one task (the r11 vocab-sweep catch).
    */
  private[graft] def blockedRankPrefix(df: DataFrame, key: String,
      orderCols: Seq[Column], bucket: Column, value: Column,
      rnName: String, cumName: String, totName: Option[String] = None): DataFrame = {
    val base = df.withColumn("_bkt", bucket).withColumn("_v", value)
    val stats = base.groupBy(col(key), col("_bkt"))
      .agg(count(lit(1)).as("_c"), sum(col("_v")).as("_s"))
    val wOff = Window.partitionBy(key).orderBy("_bkt")
      .rowsBetween(Window.unboundedPreceding, -1)
    val off = stats
      .withColumn("_offc", coalesce(sum("_c").over(wOff), lit(0L)))
      .withColumn("_offs", coalesce(sum("_s").over(wOff), lit(0L)))
    // per-key totals fold over the same tiny stats table — never the fact rows
    val withTot = totName.fold(off)(tn =>
      off.join(stats.groupBy(col(key)).agg(sum(col("_s")).as(tn)), Seq(key)))
    val wIn = Window.partitionBy(col(key), col("_bkt")).orderBy(orderCols: _*)
    base.join(withTot.drop("_c", "_s"), Seq(key, "_bkt"))
      .withColumn(rnName, col("_offc") + row_number().over(wIn))
      .withColumn(cumName, col("_offs") +
        coalesce(sum(col("_v")).over(wIn.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .drop("_bkt", "_v", "_offc", "_offs")
  }

  /** (min, max, count) of the order column for the bucket builders below,
    * memoized per caller-supplied key (dir + column label; plan objects do
    * not hash stably). Bucket boundaries only need to be a monotone function
    * of the order column, which any (mn, width > 0) gives, so the entry keeps
    * no content stamp: a stale one shifts bucket balance, never results.
    * Without the memo every blocked-rank query pays its own eager stats scan
    * of the fact table.
    */
  private def bucketStats(df: DataFrame, c: Column,
                          cacheKey: Option[String]): org.apache.spark.sql.Row = {
    def scan = df.agg(min(c).as("mn"), max(c).as("mx"), count(lit(1)).as("cnt")).head()
    cacheKey.fold(scan)(k => graft.sources.Artifacts.memo("bucket_stats", k)(scan))
  }

  /** Monotone equal-width buckets of a long column, sized for ~`blockRows`
    * rows per bucket under a uniform spread (one tiny stats action per
    * (dir, column) when `cacheKey` is set — see [[bucketStats]]; the
    * literals fold into the plan, the IVF-centroid stance). */
  private[graft] def longBuckets(df: DataFrame, c: Column, blockRows: Long,
                                 cacheKey: Option[String] = None): Column = {
    val s = bucketStats(df, c, cacheKey)
    if (s.isNullAt(0)) lit(0L)
    else {
      val (mn, mx, cnt) = (s.getLong(0), s.getLong(1), s.getLong(2))
      val nBlocks = math.max(1L, math.min(SeriesMaxBlocks.toLong, cnt / blockRows + 1))
      val width = math.max(1L, (mx - mn) / nBlocks + 1)
      ((c - lit(mn)) / lit(width)).cast("long") // exact: spans < 2^53
    }
  }

  /** Monotone equal-width buckets of a double column (same contract). */
  private[graft] def doubleBuckets(df: DataFrame, c: Column, blockRows: Long,
                                   cacheKey: Option[String] = None): Column = {
    val s = bucketStats(df, c, cacheKey)
    if (s.isNullAt(0) || s.getDouble(0) == s.getDouble(1)) lit(0L)
    else {
      val (mn, mx, cnt) = (s.getDouble(0), s.getDouble(1), s.getLong(2))
      val nBlocks = math.max(1L, math.min(SeriesMaxBlocks.toLong, cnt / blockRows + 1))
      val width = (mx - mn) / nBlocks.toDouble
      least(floor((c - lit(mn)) / lit(width)), lit(nBlocks - 1)).cast("long")
    }
  }

  /** Per-series long view: (<key>, value, t) with t = dense rank of
    * (ts, event_id) within the key — block-parallel via [[blockedRank]] over
    * monotone TIME buckets (events arrive ~uniform in time, so buckets stay
    * balanced). Bit-identical to the r9 single-window form
    * (TsDiagnosticsSpec forces many buckets and asserts exact equality).
    *
    * `key = "user_id"` still yields sf-scaling cardinality; the blocking is
    * then a cheap no-op refinement (each (user, bucket) cell is small).
    */
  def series(spark: SparkSession, dir: String, key: String = "event_type",
             blockRows: Long = SeriesBlockRows): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col(key), col("ts"), col("event_id"), col("value"))
    blockedRank(ev, key, Seq(col("ts"), col("event_id")),
      longBuckets(ev, unix_micros(col("ts")), blockRows,
        Some(s"$dir#events.ts_micros")), "rn")
      .withColumn("t", (col("rn") - 1).cast("int"))
      .select(col(key), col("value"), col("t"))
  }

  /** Bounded [lo, hi] rows-frame over a DENSE per-key `t` (0..n−1),
    * block-parallel: splits each series into `block`-wide t-chunks and
    * replicates the ≤max(−lo, hi) edge rows any neighbor's frame reaches
    * into that neighbor as halo rows. Returns the augmented frame (extra
    * `_tblk`/`_halo` columns) plus the per-chunk WindowSpec; the caller
    * applies its frame aggregates over the spec, then [[unHalo]]s. The
    * range-frame over a haloed chunk contains exactly the rows the
    * whole-series rows-frame contained (dense t makes ROWS ≡ RANGE), in the
    * same ascending-t order, so float accumulation is bit-identical. Series
    * shorter than `block` land in one chunk with empty halos — the
    * single-window plan, unchanged.
    */
  private[graft] def haloBlocks(df: DataFrame, key: String, lo: Int, hi: Int,
      block: Int): (DataFrame, org.apache.spark.sql.expressions.WindowSpec) = {
    require(lo <= hi && block >= math.max(-lo, hi),
      s"halo block $block narrower than frame [$lo, $hi]")
    // ONE generator pass, not a 3-way union: the input is typically an
    // expensive rank window, and each union branch would re-execute it
    // (ReusedExchange shares only the shuffle write, not the sort+window
    // compute). Each row emits its own (chunk, halo=false) entry plus
    // conditional halo entries into the neighbor chunks its edge position
    // makes reachable; `concat` of `when`-typed arrays keeps the stage
    // inside whole-stage codegen (a higher-order `filter` lambda would not).
    val blk = (col("t") / block).cast("long")
    val entry = "struct<b:bigint,h:boolean>"
    def one(b: Column, h: Boolean) = array(struct(b.as("b"), lit(h).as("h")))
    val none = array().cast(s"array<$entry>")
    val up = // rows a LATER chunk's frame reaches back into (lo < 0)
      if (lo >= 0) none
      else when(col("t") % block >= block + lo, one(blk + 1, h = true)).otherwise(none)
    val down = // rows an EARLIER chunk's frame reaches forward into (hi > 0)
      if (hi <= 0) none
      else when(col("t") % block < hi && blk > 0, one(blk - 1, h = true)).otherwise(none)
    val aug = df
      .select(col("*"), explode(concat(one(blk, h = false), up, down)).as("_e"))
      .withColumn("_tblk", col("_e.b")).withColumn("_halo", col("_e.h"))
      .drop("_e")
    val w = Window.partitionBy(col(key), col("_tblk")).orderBy("t")
      .rangeBetween(lo, hi)
    (aug, w)
  }

  /** Drops [[haloBlocks]]' replicated rows and bookkeeping columns. */
  private[graft] def unHalo(df: DataFrame): DataFrame =
    df.filter(!col("_halo")).drop("_tblk", "_halo")

  /** value + series length + centered-moving-average trend + detrended
    * remainder, over ANY long frame (key, t, value) with t DENSE per key
    * (0..n−1 — what [[series]] and every generator grid emit) — the events
    * path and the multivariate dim path share this. Block-parallel via
    * [[haloBlocks]]; n (series length) comes from a groupBy join rather
    * than an unordered whole-partition window — the count table is one row
    * per key and AQE broadcasts it, where the old `count over (partition by
    * key)` was itself a one-task-per-key shuffle of the full frame.
    */
  private[graft] def trendedOf(df: DataFrame, key: String,
                               block: Int = TrendBlock): DataFrame = {
    val n = df.groupBy(key).agg(count(lit(1)).as("n"))
    val (aug, wt) = haloBlocks(df, key, -HalfWin, HalfWin, block)
    unHalo(aug.withColumn("trend", avg("value").over(wt)))
      .join(n, Seq(key))
      .withColumn("detr", col("value") - col("trend"))
  }

  def trended(spark: SparkSession, dir: String, key: String = "event_type"): DataFrame =
    trendedOf(series(spark, dir, key), key)

  /** O(N·K) explicit rDFT of the detrended signal: bins k = 1..min(MaxFreq, ceil(n/2)-1).
    * re/im rounded to 6dp before anything ranks or reconstructs from them, so the
    * DuckDB oracle sees identical inputs (SURVEY.md §7.6.2).
    *
    * Series with n < 3 events have no valid bin (upper bound < 1) and are
    * dropped — Spark's sequence(1, 0) would emit a bogus DESCENDING [1, 0]
    * whereas DuckDB's generate_series(1, 0) is empty, so the guard is also an
    * oracle-parity requirement for tiny series under high-cardinality keys.
    */
  private[graft] def spectrumOf(tr: DataFrame, key: String): DataFrame = {
    // fx9 long terms: max|detr·cos| ≈ 486 at sf0.1 → ≤ 4.9e11/term × n ≈ 2e4
    // rows/series → |sum| ≤ 1e16, ~900× under 2^63. The quantization (5e-10 a
    // term) is invisible at the 6dp output contract; what it buys is a group
    // sum that is INTEGER, hence identical under any partial-merge order in
    // both engines (see Num.fx — plain double sums flipped an r6 boundary
    // run-to-run inside DuckDB itself).
    //
    // One fused [[graft.plans.DftSumsAgg]] pass accumulates all MaxFreq bins
    // per input row — the r9 explode-join form fanned every fact row out 64×
    // through a BroadcastHashJoin before aggregating, and the sf10 profile
    // put 21 of the DFT's 27 s in that 640 M-row join pipeline (trig ~2 s).
    // The kernel replays the identical double trees (theta association order,
    // fx9 floors), so the long sums — and therefore the oracle hashes — are
    // bit-identical.
    val sums = tr.filter(col("n") >= 3)
      .groupBy(col(key))
      .agg(graft.plans.DftSumsAgg.dftSums(col("detr"), col("t"), col("n"), MaxFreq).as("_s"),
        first(col("n")).as("n"))
    sums
      .withColumn("k", explode(sequence(lit(1),
        least(lit(MaxFreq), (ceil(col("n") / 2) - 1).cast("int")))))
      .select(col(key), col("k"),
        r6(element_at(col("_s"), col("k") * 2 - 1).cast("double") / 1e9).as("re"),
        r6(-(element_at(col("_s"), col("k") * 2).cast("double") / 1e9)).as("im"),
        col("n"))
      .withColumn("amplitude", r6(sqrt(col("re") * col("re") + col("im") * col("im"))))
  }

  def spectrum(spark: SparkSession, dir: String, key: String = "event_type"): DataFrame =
    spectrumOf(trended(spark, dir, key), key)

  /** Top-K strongest bins per series (W3); deterministic tiebreak on k. */
  private def topBinsOf(spec: DataFrame, k: Int, key: String): DataFrame = {
    val w = Window.partitionBy(key).orderBy(desc("amplitude"), asc("k"))
    spec.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .drop("rn")
  }

  def topBins(spark: SparkSession, dir: String, k: Int = TopK,
              key: String = "event_type"): DataFrame =
    topBinsOf(spectrum(spark, dir, key), k, key)

  /** Flagship decompose over ANY long frame (key, t, value):
    * (<key>, t, value, trend, seasonality, residual), unordered.
    *
    * `trended` feeds three consumers (spectrum, the seasonality time grid, and
    * the final join), so it is localCheckpoint'd ONCE per call — without it the
    * input scan, the per-series row_number window, and the DFT fan-out all run
    * twice per query (VERDICT r1 "what's wrong #1"). Callers that wrap this
    * (decomposeMse) inherit the same single materialization.
    */
  def decomposeOf(df: DataFrame, key: String): DataFrame = {
    val tr = trendedOf(df, key).localCheckpoint(eager = true)
    // inverse rDFT over the kept bins only — as a MAP, not a fan-out: the r9
    // form joined every (series, t) row against its K=4 kept bins (4× row
    // explosion), re-aggregated by (key, t), then joined the 10 M-group
    // result back onto `tr` — two fact-scale shuffles and a fact⋈fact SMJ
    // per query. The kept bins instead pivot to ONE row per series (≤TopK
    // bins each; rank order is topBinsOf's (amplitude desc, k asc), though
    // the term SUM makes the order immaterial), the join is 1:1 on the
    // series key, and the seasonality is a per-row expression summing the
    // same fx9 long terms the old group-sum added — bit-identical output,
    // zero fact-scale shuffles. No broadcast hint on the pivot: it is one
    // row PER SERIES and callers key by user_id/series_id where series count
    // scales with the base table (the VERDICT r8 class); AQE broadcasts it
    // when it is actually small.
    val wTop = Window.partitionBy(col(key)).orderBy(desc("amplitude"), asc("k"))
    val aggs = (1 to TopK).flatMap { i =>
      Seq(max(when(col("_i") === i, col("k"))).as(s"_k$i"),
        max(when(col("_i") === i, col("re"))).as(s"_re$i"),
        max(when(col("_i") === i, col("im"))).as(s"_im$i"))
    }
    val piv = spectrumOf(tr, key)
      .withColumn("_i", row_number().over(wTop))
      .filter(col("_i") <= TopK)
      .groupBy(col(key)).agg(aggs.head, aggs.tail: _*)
    def term(i: Int): Column = {
      val theta = lit(2.0 * math.Pi) * col(s"_k$i") * col("t") / col("n")
      // absent bins (series with < TopK valid bins) are null → contribute 0,
      // exactly as their absent rows contributed nothing to the old group-sum
      coalesce(fx9((lit(2.0) / col("n")) *
        (col(s"_re$i") * cos(theta) - col(s"_im$i") * sin(theta))), lit(0L))
    }
    val seas = r6((1 to TopK).map(term).reduce(_ + _).cast("double") / 1e9)
    tr.join(piv, Seq(key))
      .withColumn("seasonality", seas)
      .select(col(key), col("t"),
        r6(col("value")).as("value"),
        r6(col("trend")).as("trend"),
        col("seasonality"),
        r6(col("value") - col("trend") - col("seasonality")).as("residual"))
  }

  def decompose(spark: SparkSession, dir: String, key: String = "event_type"): DataFrame =
    decomposeOf(series(spark, dir, key), key).orderBy(key, "t")

  /** W9 over the multivariate generated dataset (SURVEY §1.3; reference
    * (batch, seq_len, input_dim) contract, diffusion_ts_model.py:480): each
    * (series_id, dim_id) decomposes independently — the pair packs into one
    * integer key through the shared single-key machinery, then unpacks.
    */
  val DimD = 3
  def decomposeDim(spark: SparkSession): DataFrame = {
    val mv = Generators.multivariate(spark, "mixed", 50, 64, DimD)
      .select((col("series_id") * DimD + col("dim_id")).as("skey"), col("t"), col("value"))
    decomposeOf(mv, "skey")
      .select(floor(col("skey") / DimD).cast("long").as("series_id"),
        (col("skey") % DimD).cast("int").as("dim_id"), col("t"),
        col("value"), col("trend"), col("seasonality"), col("residual"))
      .orderBy("series_id", "dim_id", "t")
  }

  /** Per-series reconstruction MSE of value vs trend+seasonality (A3 over W9). */
  def decomposeMse(spark: SparkSession, dir: String): DataFrame =
    decompose(spark, dir)
      .groupBy("event_type")
      // fx7, not fx9: squared residuals reach (2·486)² ≈ 9.4e5 worst-case, so
      // 1e7 scaling bounds the long sum at ~2e17 for 2e4-row series (190×
      // headroom) where 1e9 would leave only ~2×.
      .agg(r6((sum(fx(pow(col("value") - col("trend") - col("seasonality"), 2), 7)).cast("double") / 1e7) / count(lit(1))).as("mse"),
        count(lit(1)).as("n"))
      .orderBy("event_type")

  /** Seasonal/trend strength per series (Wang–Smith–Hyndman STL diagnostics):
    * F_seasonal = max(0, 1 − Var(R)/Var(S+R)), F_trend = max(0, 1 −
    * Var(R)/Var(T+R)) over the [[decompose]] components — the one-number
    * "is this series worth a seasonal model" gate on top of W9.
    *
    * Determinism: the components are already r6-quantized, and each variance
    * is computed from EXACT integer sums (fx7 for squares — the
    * [[decomposeMse]] overflow headroom analysis — fx9 for the mean) so
    * aggregation order cannot move the ratio; both engines then run the same
    * double arithmetic on the same exact integers.
    */
  def seasonalStrength(spark: SparkSession, dir: String): DataFrame = {
    def s2(x: Column) = sum(fx(x * x, 7)).cast("double") / 1e7
    def s1(x: Column) = sum(fx9(x)).cast("double") / 1e9
    val n = count(lit(1)).cast("double")
    def vr(x: Column) = (s2(x) - s1(x) * s1(x) / n) / n
    val r = col("residual")
    val sr = col("seasonality") + col("residual")
    val tr = col("trend") + col("residual")
    decompose(spark, dir)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        r6(greatest(lit(0.0), lit(1.0) - vr(r) / vr(sr))).as("f_seasonal"),
        r6(greatest(lit(0.0), lit(1.0) - vr(r) / vr(tr))).as("f_trend"))
      .orderBy("event_type")
  }

  /** Stride downsampling of a series (W10 — utils/visualisation.py:76). */
  def stride(spark: SparkSession, dir: String, s: Int = 5,
             key: String = "event_type"): DataFrame =
    series(spark, dir, key).filter(col("t") % s === 0)
      .select(col(key), col("t"), r6(col("value")).as("value"))
      .orderBy(key, "t")

  /** Skew-safe two-phase aggregation: events concentrate on 5 event_types, so
    * a direct groupBy lands ~20% of ALL rows on single reducers at any scale.
    * Salting splits each hot key into `buckets` sub-keys for the first
    * (partial) aggregation, then a second, tiny aggregation over ≤ 5×buckets
    * partial rows recombines exact results — counts/sums/min/max compose, the
    * mean derives from recombined micros. The identity result is the oracle:
    * DuckDB computes the direct one-phase aggregate.
    */
  def saltedAgg(spark: SparkSession, dir: String, buckets: Int = 16): DataFrame = {
    val partial = Tables.events(spark, dir)
      .withColumn("salt", pmod(col("event_id"), lit(buckets)))
      .groupBy("event_type", "salt")
      .agg(count(lit(1)).as("n"),
        sum(floor(col("value") * 1e6 + 0.5).cast("long")).as("sv"),
        min(col("value")).as("mn"), max(col("value")).as("mx"))
    partial.groupBy("event_type")
      .agg(sum(col("n")).as("n_events"),
        r6(sum(col("sv")).cast("double") / 1e6).as("sum_value"),
        r6(sum(col("sv")).cast("double") / 1e6 / sum(col("n"))).as("avg_value"),
        r6(min(col("mn"))).as("min_value"),
        r6(max(col("mx"))).as("max_value"))
  }

  def saltedAggOracle: String =
    s"""SELECT event_type, count(*) AS n_events,
       |       ${sqlR6("CAST(sum(CAST(floor(value*1e6 + 0.5) AS BIGINT)) AS DOUBLE)/1e6")} AS sum_value,
       |       ${sqlR6("CAST(sum(CAST(floor(value*1e6 + 0.5) AS BIGINT)) AS DOUBLE)/1e6/count(*)")} AS avg_value,
       |       ${sqlR6("min(value)")} AS min_value, ${sqlR6("max(value)")} AS max_value
       |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin

  /** Per-stratum sampling rates for [[stratifiedSample]] — downsample the
    * high-volume strata hard, keep the rare/valuable ones (the usual shape of
    * a training-data curation pass).
    */
  val SampleRates: Seq[(String, Double)] = Seq(
    "click" -> 0.5, "view" -> 0.1, "error" -> 1.0, "signup" -> 0.9, "purchase" -> 0.25)
  private val SampleStream = 7

  private def sampleRate = SampleRates.tail.foldLeft(
    when(col("event_type") === SampleRates.head._1, lit(SampleRates.head._2))) {
    case (acc, (k, r)) => acc.when(col("event_type") === k, lit(r))
  }.otherwise(lit(0.0))

  /** Deterministic stratified sampling: keep a row iff u01(event_id) < its
    * stratum's rate. The draw is the engine's cross-engine LCG keyed on
    * event_id, so the sample is reproducible run-to-run and engine-to-engine —
    * no `rand()`, no seed plumbing, and re-running a 100-TB curation pass
    * selects the identical rows. Pure map-side filter: no shuffle at all until
    * the (tiny) per-stratum audit aggregate.
    */
  def stratifiedSample(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .filter(graft.functions.DetRand.u01(col("event_id"), SampleStream) < sampleRate)

  /** Registered audit form: per-stratum kept/total counts and achieved rate —
    * the full sampled row set is what a pipeline would write out, the audit is
    * what it would verify (hash-checking the counts checks the exact member
    * selection too: any membership drift shifts a count).
    */
  def stratifiedSampleAudit(spark: SparkSession, dir: String): DataFrame = {
    val kept = (graft.functions.DetRand.u01(col("event_id"), SampleStream) < sampleRate).cast("long")
    Tables.events(spark, dir)
      .select(col("event_type"), kept.as("kept"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_total"), sum(col("kept")).as("n_sampled"))
      .withColumn("target_rate", sampleRate)
      .withColumn("achieved_rate", r6(col("n_sampled").cast("double") / col("n_total")))
  }

  def stratifiedSampleOracle: String = {
    val rateSql = "CASE " + SampleRates.map { case (k, r) =>
      s"WHEN event_type = '$k' THEN ${sqlD(r)}"
    }.mkString(" ") + " ELSE 0.0e0 END"
    val u = graft.functions.DetRand.sqlU01("event_id", SampleStream)
    s"""SELECT event_type, count(*) AS n_total,
       |       CAST(sum(CASE WHEN ($u) < ($rateSql) THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
       |       $rateSql AS target_rate,
       |       ${sqlR6(s"CAST(sum(CASE WHEN ($u) < ($rateSql) THEN 1 ELSE 0 END) AS DOUBLE) / count(*)")} AS achieved_rate
       |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin
  }

  /** Simulated late-arrival slice for [[mvMerge]]: every 10th event (by id)
    * arrives in the delta batch, touching most (type, date) groups. */
  private val MvDeltaMod = 10
  private val MvDeltaRem = 7

  /** Incremental materialized-view maintenance: the per-(event_type, date)
    * daily rollup maintained as BASE PARTIALS + DELTA PARTIALS merged by the
    * aggregate's own monoid — count adds, micros-sums add, min/max fold —
    * with the average derived once from the merged sums. This is the
    * incremental-ETL contract at 100 TB: the base partials are the STORED
    * view (history is never rescanned), only the delta batch scans new data,
    * and merge cost is proportional to the touched groups, not the history.
    * Everything non-mergeable (the average) is derived FROM mergeable state,
    * never maintained directly — the same algebra that makes the HLL
    * sketches unionable (`events_hll_union`). The oracle recomputes the
    * rollup flat from the raw table: if the merge algebra dropped or
    * double-counted anything, the hash mismatches.
    */
  /** The MV's partial-aggregate state for one input slice (mergeable monoid
    * columns only). Shared by the batch [[mvMerge]] and the streaming
    * foreachBatch maintenance ([[graft.streaming.StreamingOps.streamMvMerge]]). */
  private[graft] def mvPartials(df: DataFrame): DataFrame =
    df.withColumn("event_date", to_date(col("ts")))
      .groupBy("event_type", "event_date")
      .agg(count(lit(1)).as("n"),
        sum(floor(col("value") * 1e6 + 0.5).cast("long")).as("sum_mi"),
        min(col("value")).as("mn"), max(col("value")).as("mx"))

  /** Merge a union of partial-state frames by the aggregate monoid. */
  private[graft] def mvCombine(parts: DataFrame): DataFrame =
    parts.groupBy("event_type", "event_date")
      .agg(sum(col("n")).as("n"), sum(col("sum_mi")).as("sum_mi"),
        min(col("mn")).as("mn"), max(col("mx")).as("mx"))

  /** Derive the user-facing view from merged state (the non-mergeable average
    * computed once, never maintained). */
  private[graft] def mvFinish(merged: DataFrame): DataFrame =
    merged.select(col("event_type"), col("event_date"),
      col("n").as("n_events"),
      (col("sum_mi").cast("double") / 1e6).as("sum_value"),
      col("mn").as("min_value"), col("mx").as("max_value"),
      r6(col("sum_mi").cast("double") / 1e6 / col("n").cast("double")).as("avg_value"))

  def mvMerge(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val base = mvPartials(ev.filter(col("event_id") % MvDeltaMod =!= MvDeltaRem))
    val delta = mvPartials(ev.filter(col("event_id") % MvDeltaMod === MvDeltaRem))
    mvFinish(mvCombine(base.unionByName(delta)))
  }

  def mvMergeOracle: String = {
    val es = "(CAST(sum(CAST(floor((value)*1e6 + 0.5) AS BIGINT)) AS DOUBLE)/1e6)"
    s"""SELECT event_type, CAST(ts AS DATE) AS event_date,
       |       count(*) AS n_events,
       |       $es AS sum_value,
       |       min(value) AS min_value, max(value) AS max_value,
       |       ${sqlR6(s"$es / count(*)")} AS avg_value
       |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  }

  /** Feature-hashing width (2^4 buckets). */
  val HashDim = 16

  /** The hashing trick (Weinberger et al., ICML 2009) — fixed-width feature
    * vectors from unbounded categorical vocabularies, with no dictionary to
    * build, ship, or keep consistent across training runs: each event's
    * categorical feature (event_type × value decile-bucket) hashes to one of
    * [[HashDim]] buckets with a ±1 sign from an independent hash bit (the
    * sign makes collisions cancel in expectation instead of biasing up),
    * and per-user vectors are the signed counts. Everything is exact
    * integer arithmetic over md5-derived digests, so the vectors are
    * bit-identical in the oracle; the output is the per-user wide vector
    * via a pivot over the explicit 0..15 bucket list. At 100 TB this is the
    * encoder that needs NO fitted state at all — the scale story IS the
    * operator.
    */
  def featureHash(spark: SparkSession, dir: String): DataFrame = {
    val feat = concat(col("event_type"), lit("#"),
      floor(col("value")).cast("long").cast("string"))
    val h = conv(substring(md5(feat), 1, 7), 16, 10).cast("long")
    val bucket = (h % HashDim).cast("int")
    // sign bit from the hash's next bit up — shiftright, NOT `/` (double div)
    val sign = when(shiftright(h, 4) % 2L === 0L, 1L).otherwise(-1L)
    val buckets = (0 until HashDim).map(_.toString)
    Tables.events(spark, dir)
      .select(col("user_id"), bucket.as("j"), sign.as("s"))
      .groupBy("user_id")
      .pivot("j", buckets)
      .agg(coalesce(sum(col("s")), lit(0L)))
      .na.fill(0L)
      .select(col("user_id") +: buckets.map(b => col(b).as(s"f$b")): _*)
  }

  def featureHashOracle: String = {
    val cols = (0 until HashDim).map(j =>
      s"CAST(coalesce(sum(CASE WHEN j = $j THEN s END), 0) AS BIGINT) AS f$j").mkString(",\n       |       ")
    s"""WITH q AS (
       |  SELECT user_id,
       |         CAST(('0x' || substr(md5(event_type || '#' || CAST(CAST(floor(value) AS BIGINT) AS VARCHAR)), 1, 7))::BIGINT % $HashDim AS INT) AS j,
       |         CASE WHEN (('0x' || substr(md5(event_type || '#' || CAST(CAST(floor(value) AS BIGINT) AS VARCHAR)), 1, 7))::BIGINT >> 4) % 2 = 0 THEN 1 ELSE -1 END AS s
       |  FROM events
       |)
       |SELECT user_id,
       |       $cols
       |FROM q GROUP BY 1 ORDER BY user_id""".stripMargin
  }

  /** k-anonymity threshold for the release audit. */
  val KAnonK = 5

  /** k-anonymity audit — the check a data-governance pass runs before
    * releasing a grouped extract: over the quasi-identifier
    * (event_type, day, hour), how small do groups get, and how many ROWS sit
    * in groups below k = [[KAnonK]] (each such row is re-identifiable to
    * within its group). Output is one summary row per event_type: min group
    * size, group count, below-k group count, rows at risk and their share —
    * the numbers that decide whether the extract needs coarser buckets
    * before it leaves the platform. Two hash-aggs (cells, then per-type
    * rollup), output bounded by the type vocabulary.
    */
  def kAnonymity(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_type"), to_date(col("ts")).as("d"), hour(col("ts")).as("h"))
      .groupBy("event_type", "d", "h")
      .agg(count(lit(1)).as("gsz"))
      .groupBy("event_type")
      .agg(min(col("gsz")).as("min_group"),
        count(lit(1)).as("n_groups"),
        sum(when(col("gsz") < KAnonK, 1L).otherwise(0L)).as("n_groups_below_k"),
        sum(when(col("gsz") < KAnonK, col("gsz")).otherwise(0L)).as("n_rows_at_risk"),
        r6(sum(when(col("gsz") < KAnonK, col("gsz")).otherwise(0L)).cast("double") /
          sum(col("gsz")).cast("double")).as("share_at_risk"))

  def kAnonymityOracle: String =
    s"""WITH cells AS (
       |  SELECT event_type, CAST(ts AS DATE) AS d, CAST(hour(ts) AS INT) AS h,
       |         count(*) AS gsz
       |  FROM events GROUP BY 1, 2, 3
       |)
       |SELECT event_type,
       |       CAST(min(gsz) AS BIGINT) AS min_group,
       |       count(*) AS n_groups,
       |       CAST(sum(CASE WHEN gsz < $KAnonK THEN 1 ELSE 0 END) AS BIGINT) AS n_groups_below_k,
       |       CAST(sum(CASE WHEN gsz < $KAnonK THEN gsz ELSE 0 END) AS BIGINT) AS n_rows_at_risk,
       |       ${sqlR6(s"CAST(sum(CASE WHEN gsz < $KAnonK THEN gsz ELSE 0 END) AS DOUBLE) / CAST(sum(gsz) AS DOUBLE)")} AS share_at_risk
       |FROM cells GROUP BY 1 ORDER BY 1""".stripMargin

  /** DP release budget: Laplace scale b = Δ/ε with sensitivity 1. */
  val DpEpsilon = 1.0
  private val DpStream = 41

  /** Differentially-private count release — ε = [[DpEpsilon]] Laplace
    * mechanism over the per-(type, day) counts (sensitivity 1: one event
    * moves one count by one). Noise comes from the engine's deterministic
    * cross-engine PRNG via the inverse CDF −b·sign(u−½)·ln(1−2|u−½|), keyed
    * on the GROUP identity (28-bit type digest ⊕ day index), so the release
    * is reproducible run-to-run — which is exactly what a production DP
    * release needs: re-running the pipeline must NOT spend fresh ε on fresh
    * noise for the same cell. The true count rides along for the oracle
    * check and the noise-magnitude audit; an actual release drops it.
    * One aggregation, map-side noise arithmetic; ln's sub-ulp engine skew is
    * absorbed by r6 (the Box-Muller precedent).
    */
  def dpCounts(spark: SparkSession, dir: String): DataFrame = {
    val keyC = (conv(substring(md5(col("event_type")), 1, 7), 16, 10).cast("long") * 100L +
      dayofmonth(col("d")).cast("long")).cast("double")
    val u = graft.functions.DetRand.u01(keyC, DpStream)
    val b = 1.0 / DpEpsilon
    val noise = -lit(b) * signum(u - 0.5) * log(lit(1.0) - lit(2.0) * abs(u - 0.5))
    Tables.events(spark, dir)
      .withColumn("d", to_date(col("ts")))
      .groupBy("event_type", "d")
      .agg(count(lit(1)).as("true_n"))
      .select(col("event_type"), col("d").as("event_date"), col("true_n"),
        r6(noise).as("noise"),
        r6(col("true_n").cast("double") + noise).as("released_n"))
  }

  def dpCountsOracle: String = {
    val key = "CAST(('0x' || substr(md5(event_type), 1, 7))::BIGINT * 100 + CAST(day(d) AS BIGINT) AS DOUBLE)"
    val u = graft.functions.DetRand.sqlU01(key, DpStream)
    val b = 1.0 / DpEpsilon
    val noise = s"(-${sqlD(b)} * sign(($u) - 0.5) * ln(1.0 - 2.0 * abs(($u) - 0.5)))"
    s"""WITH g AS (
       |  SELECT event_type, CAST(ts AS DATE) AS d, count(*) AS true_n
       |  FROM events GROUP BY 1, 2
       |)
       |SELECT event_type, d AS event_date, true_n,
       |       ${sqlR6(noise)} AS noise,
       |       ${sqlR6(s"CAST(true_n AS DOUBLE) + $noise")} AS released_n
       |FROM g ORDER BY event_type, event_date""".stripMargin
  }

  /** Point-in-time lag features — the feature-generation pass that turns an
    * event stream into training rows without temporal leakage: at each event,
    * ONLY strictly-preceding history of the same user is visible (lag and
    * PRECEDING-bounded frames; an unbounded or current-row-inclusive frame
    * would leak the label row into its own features). Features: previous
    * value, whole seconds since the previous event, trailing-1-hour event
    * count and exact-micros value sum (range frame on the epoch-seconds
    * key, 3600 PRECEDING to 1 PRECEDING). Everything is integer arithmetic
    * or lag-copied values — no rounding needed anywhere. Scale: all four
    * features ride ONE window partitioning (user, ordered by ts,event_id),
    * so the query costs a single per-user shuffle regardless of feature
    * count.
    */
  def lagFeatures(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("sec", "event_id")
    val wRange = Window.partitionBy("user_id").orderBy("sec")
      .rangeBetween(-3600L, -1L)
    Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"),
        unix_timestamp(col("ts")).as("sec"),
        floor(col("value") * 1e6 + 0.5).cast("long").as("x_mi"))
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"),
        lag(col("value"), 1).over(w).as("prev_value"),
        (col("sec") - lag(col("sec"), 1).over(w)).as("secs_since_prev"),
        count(lit(1)).over(wRange).as("n_prev_1h"),
        (coalesce(sum(col("x_mi")).over(wRange), lit(0L)).cast("double") / 1e6)
          .as("sum_prev_1h"))
  }

  def lagFeaturesOracle: String =
    s"""WITH e AS (
       |  SELECT event_id, user_id, event_type, value,
       |         CAST(floor(epoch(ts)) AS BIGINT) AS sec,
       |         CAST(floor(value*1e6 + 0.5) AS BIGINT) AS x_mi
       |  FROM events
       |)
       |SELECT event_id, user_id, event_type, value,
       |       lag(value, 1) OVER wo AS prev_value,
       |       sec - lag(sec, 1) OVER wo AS secs_since_prev,
       |       count(*) OVER wr AS n_prev_1h,
       |       CAST(coalesce(sum(x_mi) OVER wr, 0) AS DOUBLE)/1e6 AS sum_prev_1h
       |FROM e
       |WINDOW wo AS (PARTITION BY user_id ORDER BY sec, event_id),
       |       wr AS (PARTITION BY user_id ORDER BY sec
       |              RANGE BETWEEN 3600 PRECEDING AND 1 PRECEDING)
       |ORDER BY event_id""".stripMargin

  /** A/B-test readout — the experimentation primitive run on every metrics
    * pipeline: users split into two variants (deterministic user_id parity —
    * the hash-bucket assignment every experiment platform uses), and per
    * event_type the readout reports each arm's n/mean/sample-variance, the
    * WELCH t statistic with its Satterthwaite degrees of freedom (unequal
    * variances assumed — the safe default), and the sample-ratio-mismatch
    * chi-square ((n_a−n_b)²/(n_a+n_b) against the 50/50 design) that must be
    * checked BEFORE reading the t statistic at all — a skewed split means
    * broken assignment, not a treatment effect. Exactness: values quantize
    * to fx3 integers so Σx and Σx² are exact BIGINTs (squares stay ≪ 2⁶³ at
    * every scale); every derived double is the same-operand expression in
    * both engines, r6-rounded. One scan, one (type × variant) agg, one
    * types-bounded pivot join.
    */
  def abTest(spark: SparkSession, dir: String): DataFrame = {
    val xMi = floor(col("value") * 1e3 + 0.5).cast("long")
    val arms = Tables.events(spark, dir)
      .select(col("event_type"), (col("user_id") % 2 === 0L).as("is_a"), xMi.as("x"))
      .groupBy("event_type", "is_a")
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("x") * col("x")).as("sxx"))
    def arm(flag: Boolean, suffix: String): DataFrame =
      arms.filter(col("is_a") === flag)
        .select(col("event_type"), col("n").as(s"n_$suffix"),
          col("sx").as(s"sx_$suffix"), col("sxx").as(s"sxx_$suffix"))
    def mean(s: String) = col(s"sx_$s").cast("double") / 1e3 / col(s"n_$s").cast("double")
    // sample variance from exact sums: (Σx² − (Σx)²/n) / (n−1), in value units
    def vr(s: String) =
      (col(s"sxx_$s").cast("double") / 1e6 -
        (col(s"sx_$s").cast("double") / 1e3) * (col(s"sx_$s").cast("double") / 1e3) /
          col(s"n_$s").cast("double")) / (col(s"n_$s") - 1L).cast("double")
    val se2a = vr("a") / col("n_a").cast("double")
    val se2b = vr("b") / col("n_b").cast("double")
    val dn = (col("n_a") - col("n_b")).cast("double")
    arm(true, "a").join(arm(false, "b"), "event_type")
      .select(col("event_type"), col("n_a"), col("n_b"),
        r6(mean("a")).as("mean_a"), r6(mean("b")).as("mean_b"),
        r6(vr("a")).as("var_a"), r6(vr("b")).as("var_b"),
        r6((mean("a") - mean("b")) / sqrt(se2a + se2b)).as("welch_t"),
        r6(pow(se2a + se2b, 2.0) /
          (pow(se2a, 2.0) / (col("n_a") - 1L).cast("double") +
            pow(se2b, 2.0) / (col("n_b") - 1L).cast("double"))).as("welch_df"),
        r6(dn * dn / (col("n_a") + col("n_b")).cast("double")).as("srm_chi2"))
  }

  def abTestOracle: String = {
    def mean(s: String) = s"(CAST(sx_$s AS DOUBLE)/1e3/CAST(n_$s AS DOUBLE))"
    def vr(s: String) =
      s"((CAST(sxx_$s AS DOUBLE)/1e6 - (CAST(sx_$s AS DOUBLE)/1e3)*(CAST(sx_$s AS DOUBLE)/1e3)/CAST(n_$s AS DOUBLE)) / CAST(n_$s - 1 AS DOUBLE))"
    val se2a = s"(${vr("a")}/CAST(n_a AS DOUBLE))"
    val se2b = s"(${vr("b")}/CAST(n_b AS DOUBLE))"
    s"""WITH q AS (
       |  SELECT event_type, (user_id % 2 = 0) AS is_a,
       |         CAST(floor(value*1e3 + 0.5) AS BIGINT) AS x
       |  FROM events
       |), arms AS (
       |  SELECT event_type, is_a, count(*) AS n,
       |         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(x*x) AS BIGINT) AS sxx
       |  FROM q GROUP BY 1, 2
       |), w AS (
       |  SELECT a.event_type,
       |         a.n AS n_a, a.sx AS sx_a, a.sxx AS sxx_a,
       |         b.n AS n_b, b.sx AS sx_b, b.sxx AS sxx_b
       |  FROM arms a JOIN arms b ON a.event_type = b.event_type
       |  WHERE a.is_a AND NOT b.is_a
       |)
       |SELECT event_type, n_a, n_b,
       |       ${sqlR6(mean("a"))} AS mean_a, ${sqlR6(mean("b"))} AS mean_b,
       |       ${sqlR6(vr("a"))} AS var_a, ${sqlR6(vr("b"))} AS var_b,
       |       ${sqlR6(s"(${mean("a")} - ${mean("b")}) / sqrt($se2a + $se2b)")} AS welch_t,
       |       ${sqlR6(s"power($se2a + $se2b, 2.0) / (power($se2a, 2.0)/CAST(n_a - 1 AS DOUBLE) + power($se2b, 2.0)/CAST(n_b - 1 AS DOUBLE))")} AS welch_df,
       |       ${sqlR6("CAST(n_a - n_b AS DOUBLE) * CAST(n_a - n_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE)")} AS srm_chi2
       |FROM w ORDER BY event_type""".stripMargin
  }

  /** CMS geometry for the join-size estimate: d hash rows × w buckets. */
  val CmsRows: Seq[Long] = Seq(2654435761L, 2246822519L, 3266489917L, 668265263L)
  val CmsWidth = 256

  /** Sketch-based join-size estimation — what a cost-based optimizer does
    * BEFORE committing to a join strategy: |A ⋈ B| on a key equals the inner
    * product of the two sides' key-frequency vectors, and the count-min
    * estimate of that inner product is min over hash rows i of
    * Σ_j cmsA[i][j]·cmsB[i][j] (Cormode & Muthukrishnan 2005, §4.2) — an
    * upper bound that never under-estimates. Each side's sketch is one
    * groupBy over (row, bucket) — O(d·w) state, mergeable like every sketch
    * here — so the estimate costs two narrow scans and a d·w-sized join,
    * never a shuffle of either side. The output row carries the estimate
    * next to the EXACT join size (computed without expanding the join:
    * per-key counts joined and Σ cntA·cntB — itself the decomposition that
    * makes join-size exact computation feasible) so the over-estimation
    * ratio is hash-checked, not trusted. All arithmetic is exact BIGINT:
    * hashes are (k·a mod 2³¹) mod w with literal odd multipliers, products
    * bounded far below 2⁶³.
    */
  def joinSizeCms(spark: SparkSession, dir: String): DataFrame = {
    val M31 = 2147483648L
    def sketch(df: DataFrame, key: Column): DataFrame = {
      val rows = CmsRows.zipWithIndex.map { case (a, i) =>
        struct(lit(i).as("i"), ((key * a) % M31 % CmsWidth).cast("int").as("j"))
      }
      df.select(explode(array(rows: _*)).as("rb"))
        .groupBy(col("rb.i").as("i"), col("rb.j").as("j"))
        .agg(count(lit(1)).as("cnt"))
    }
    val a = sketch(Tables.events(spark, dir), col("user_id"))
      .withColumnRenamed("cnt", "ca")
    val b = sketch(Tables.orders(spark, dir), col("o_custkey"))
      .withColumnRenamed("cnt", "cb")
    val est = a.join(b, Seq("i", "j"))
      .groupBy("i").agg(sum(col("ca") * col("cb")).as("row_est"))
      .agg(min(col("row_est")).as("cms_estimate"))
    val exact = Tables.events(spark, dir).groupBy(col("user_id").as("k"))
      .agg(count(lit(1)).as("na"))
      .join(Tables.orders(spark, dir).groupBy(col("o_custkey").as("k"))
        .agg(count(lit(1)).as("nb")), "k")
      .agg(sum(col("na") * col("nb")).as("exact_join_size"))
    est.crossJoin(exact)
      .select(col("cms_estimate"), col("exact_join_size"),
        r6(col("cms_estimate").cast("double") / col("exact_join_size").cast("double"))
          .as("over_ratio"))
  }

  def joinSizeCmsOracle: String = {
    val rowSel = CmsRows.zipWithIndex.map { case (a, i) =>
      s"SELECT $i AS i, CAST((k * $a) % 2147483648 % $CmsWidth AS INT) AS j, cnt FROM keyed"
    }.mkString("\n  UNION ALL\n  ")
    s"""WITH ekeys AS (SELECT user_id AS k, count(*) AS cnt FROM events GROUP BY 1),
       |okeys AS (SELECT o_custkey AS k, count(*) AS cnt FROM orders GROUP BY 1),
       |ea AS (
       |  WITH keyed AS (SELECT * FROM ekeys)
       |  SELECT i, j, CAST(sum(cnt) AS BIGINT) AS ca FROM (
       |  $rowSel
       |  ) GROUP BY 1, 2
       |), ob AS (
       |  WITH keyed AS (SELECT * FROM okeys)
       |  SELECT i, j, CAST(sum(cnt) AS BIGINT) AS cb FROM (
       |  $rowSel
       |  ) GROUP BY 1, 2
       |), est AS (
       |  SELECT CAST(min(row_est) AS BIGINT) AS cms_estimate FROM (
       |    SELECT a.i, CAST(sum(a.ca * b.cb) AS BIGINT) AS row_est
       |    FROM ea a JOIN ob b ON a.i = b.i AND a.j = b.j GROUP BY 1)
       |), ex AS (
       |  SELECT CAST(sum(e.cnt * o.cnt) AS BIGINT) AS exact_join_size
       |  FROM ekeys e JOIN okeys o ON e.k = o.k
       |)
       |SELECT est.cms_estimate, ex.exact_join_size,
       |       ${sqlR6("CAST(est.cms_estimate AS DOUBLE) / CAST(ex.exact_join_size AS DOUBLE)")} AS over_ratio
       |FROM est CROSS JOIN ex""".stripMargin
  }

  /** Target-encoding smoothing pseudo-count. */
  val TeSmooth = 10.0

  /** Leakage-safe target encoding — the categorical-feature encoder every
    * tabular ML pipeline runs, with the one property that separates it from
    * a plain group mean: each row's OWN value is excluded (leave-one-out),
    * because a feature that contains its own label leaks the target into
    * training. Two encodings per row: the raw LOO mean (Σ−x)/(n−1) and the
    * smoothed form ((Σ−x) + m·prior)/(n−1+m) shrinking rare categories
    * toward the global prior (m = [[TeSmooth]]). All sums are exact integer
    * micros, so the divisions see identical operands in both engines; a
    * singleton category's raw LOO is undefined and falls back to the global
    * LOO mean. Plan shape: one tiny per-category aggregate + one 1-row
    * global aggregate, both broadcast back over the fact scan — the encode
    * itself is map-side arithmetic, no fact shuffle.
    */
  def targetEncode(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_id"), col("event_type"), col("value"),
        floor(col("value") * 1e6 + 0.5).cast("long").as("x_mi"))
    val cat = ev.groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(col("x_mi")).as("sum_mi"))
    val glob = ev.agg(count(lit(1)).as("gn"), sum(col("x_mi")).as("gsum_mi"))
    val prior = col("gsum_mi").cast("double") / 1e6 / col("gn").cast("double")
    val looNum = (col("sum_mi") - col("x_mi")).cast("double") / 1e6
    val looGlobal = (col("gsum_mi") - col("x_mi")).cast("double") / 1e6 /
      (col("gn") - 1L).cast("double")
    ev.join(broadcast(cat), "event_type")
      .crossJoin(broadcast(glob))
      .select(col("event_id"), col("event_type"), col("value"),
        r6(when(col("n") > 1L, looNum / (col("n") - 1L).cast("double"))
          .otherwise(looGlobal)).as("te_loo"),
        r6((looNum + lit(TeSmooth) * prior) /
          ((col("n") - 1L).cast("double") + TeSmooth)).as("te_smooth"))
  }

  def targetEncodeOracle: String = {
    val prior = "(CAST(g.gsum_mi AS DOUBLE)/1e6/CAST(g.gn AS DOUBLE))"
    val looNum = "(CAST(c.sum_mi - e.x_mi AS DOUBLE)/1e6)"
    val looGlobal = "(CAST(g.gsum_mi - e.x_mi AS DOUBLE)/1e6/CAST(g.gn - 1 AS DOUBLE))"
    s"""WITH e AS (
       |  SELECT event_id, event_type, value,
       |         CAST(floor(value*1e6 + 0.5) AS BIGINT) AS x_mi
       |  FROM events
       |), c AS (
       |  SELECT event_type, count(*) AS n,
       |         CAST(sum(x_mi) AS BIGINT) AS sum_mi
       |  FROM e GROUP BY 1
       |), g AS (
       |  SELECT count(*) AS gn, CAST(sum(x_mi) AS BIGINT) AS gsum_mi FROM e
       |)
       |SELECT e.event_id, e.event_type, e.value,
       |       ${sqlR6(s"CASE WHEN c.n > 1 THEN $looNum / CAST(c.n - 1 AS DOUBLE) ELSE $looGlobal END")} AS te_loo,
       |       ${sqlR6(s"($looNum + ${sqlD(TeSmooth)} * $prior) / (CAST(c.n - 1 AS DOUBLE) + ${sqlD(TeSmooth)})")} AS te_smooth
       |FROM e JOIN c USING (event_type) CROSS JOIN g
       |ORDER BY event_id""".stripMargin
  }

  /** Low-volume alarm threshold: a day below this share of its trailing mean
    * is flagged. */
  val FreshLowShare = 0.5

  /** Data-observability monitor — freshness and volume-completeness per
    * series, the checks a pipeline runs BEFORE trusting a partition enough
    * to train on it: per (event_type, day) the row count, the trailing mean
    * over up to 7 PRECEDING days (the current day excluded — an incident
    * must not drag its own baseline down), a low-volume flag at
    * [[FreshLowShare]]× that mean, and per-type freshness lag (hours between
    * the type's last event and the corpus's last event). Arithmetic is exact
    * BIGINT counts + same-operand double divisions; lag is integer epoch
    * subtraction. Shape: one daily-grid agg, a 7-row window per series, and
    * two tiny max-aggs — output bounded by types × days.
    */
  def freshness(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val daily = ev.withColumn("event_date", to_date(col("ts")))
      .groupBy("event_type", "event_date")
      .agg(count(lit(1)).as("n_events"), max(col("ts")).as("day_max_ts"))
    val w = Window.partitionBy("event_type").orderBy("event_date")
      .rowsBetween(-7, -1)
    val lastByType = daily.groupBy("event_type").agg(max(col("day_max_ts")).as("type_last_ts"))
    val lastGlobal = lastByType.agg(max(col("type_last_ts")).as("global_last_ts"))
    daily
      .withColumn("trail_sum", sum(col("n_events")).over(w))
      .withColumn("trail_days", count(col("n_events")).over(w))
      .join(broadcast(lastByType), "event_type")
      .crossJoin(broadcast(lastGlobal))
      .select(col("event_type"), col("event_date"), col("n_events"),
        r6(col("trail_sum").cast("double") / col("trail_days").cast("double")).as("trailing_avg"),
        (col("trail_days") > 0L &&
          col("n_events").cast("double") <
            lit(FreshLowShare) * (col("trail_sum").cast("double") / col("trail_days").cast("double")))
          .as("low_volume"),
        // whole hours: unix_timestamp floors to seconds; Column `/` on longs
        // is double division, so the integer div is an explicit floor
        floor((unix_timestamp(col("global_last_ts")) - unix_timestamp(col("type_last_ts")))
          .cast("double") / 3600.0).cast("long").as("type_lag_hours"))
  }

  def freshnessOracle: String = {
    val avg = "(CAST(trail_sum AS DOUBLE) / CAST(trail_days AS DOUBLE))"
    s"""WITH daily AS (
       |  SELECT event_type, CAST(ts AS DATE) AS event_date,
       |         count(*) AS n_events, max(ts) AS day_max_ts
       |  FROM events GROUP BY 1, 2
       |), trailed AS (
       |  SELECT event_type, event_date, n_events, day_max_ts,
       |         CAST(sum(n_events) OVER w AS BIGINT) AS trail_sum,
       |         count(n_events) OVER w AS trail_days
       |  FROM daily
       |  WINDOW w AS (PARTITION BY event_type ORDER BY event_date
       |               ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
       |), bytype AS (
       |  SELECT event_type, max(day_max_ts) AS type_last_ts FROM daily GROUP BY 1
       |), gmax AS (SELECT max(type_last_ts) AS global_last_ts FROM bytype)
       |SELECT t.event_type, t.event_date, t.n_events,
       |       ${sqlR6(avg)} AS trailing_avg,
       |       (t.trail_days > 0 AND CAST(t.n_events AS DOUBLE) < ${sqlD(FreshLowShare)} * $avg) AS low_volume,
       |       CAST(floor((floor(epoch(g.global_last_ts)) - floor(epoch(b.type_last_ts))) / 3600.0) AS BIGINT) AS type_lag_hours
       |FROM trailed t JOIN bytype b USING (event_type) CROSS JOIN gmax g
       |ORDER BY event_type, event_date""".stripMargin
  }

  /** PSI cohort split: reference = first half of the fixture month. */
  val PsiCutoff = "2024-01-16"
  val PsiBins = 10

  /** Population-stability-index drift monitor — the standard ML feature-drift
    * metric (banking scorecard lineage; >0.25 ≈ retrain): per event_type,
    * bin the CURRENT cohort's values by the REFERENCE cohort's decile
    * boundaries and report per-bin (p_ref, p_cur) with the PSI term
    * (p_cur−p_ref)·ln(p_cur/p_ref). The value-distribution twin of
    * `emb_drift` (embedding SMD) and `docs_source_divergence` (lexical KL).
    * Mechanics: reference deciles come from a block-parallel [[blockedRank]]
    * over value buckets (exact integer rank formula ⌈i·n/10⌉ = (i·n+9) div
    * 10, identical in both engines; r10 — the per-type rank window this used
    * before sorted a whole cohort type in one task); the ≤9 boundary VALUES
    * per type collapse to a sorted array and broadcast, so binning both
    * cohorts is one map-side array scan — no per-row join, no global sort;
    * the only shuffles are the bucket-local rank and the bins×types-bounded
    * count aggs. Counts are Laplace-smoothed ((n+0.5)/(N+5), exact double
    * arithmetic) so empty bins stay finite; the ln term is r9-quantized,
    * absorbing libm skew.
    */
  def psiDrift(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_type"), col("ts"), col("event_id"), col("value"))
    val ref = ev.filter(col("ts") < lit(PsiCutoff).cast("timestamp"))
    val cur = ev.filter(col("ts") >= lit(PsiCutoff).cast("timestamp"))
    val nRef = ref.groupBy("event_type").agg(count(lit(1)).as("n"))
    val ranked = blockedRank(ref, "event_type", Seq(col("value"), col("event_id")),
        doubleBuckets(ref, col("value"), SeriesBlockRows,
          Some(s"$dir#events.value@psi_ref")), "rn")
      .join(broadcast(nRef), "event_type")
    // ⌈i·n/10⌉ = (i·n+9) div 10; Column `/` is double division, so the div is
    // floor(double) — exact here since i·n+9 < 2^53 and non-integer quotients
    // sit ≥ 0.1 from the floor boundary
    val bounds = ranked.filter(
        (1 until PsiBins).map(i => col("rn") ===
          floor((lit(i.toDouble) * col("n").cast("double") + (PsiBins - 1)) / PsiBins).cast("long"))
          .reduce(_ || _))
      .select(col("event_type"), col("value").as("b")).distinct()
    val barr = bounds.groupBy("event_type")
      .agg(sort_array(collect_list(col("b"))).as("bs"))
    def binned(df: DataFrame, out: String): DataFrame =
      df.join(broadcast(barr), "event_type")
        .select(col("event_type"),
          (size(filter(col("bs"), bv => col("value") > bv)) + 1).as("bin"))
        .groupBy("event_type", "bin").agg(count(lit(1)).as(out))
    val tot = ref.groupBy("event_type").agg(count(lit(1)).as("t_ref"))
      .join(cur.groupBy("event_type").agg(count(lit(1)).as("t_cur")), "event_type")
    val grid = barr.select(col("event_type"),
      explode(sequence(lit(1), lit(PsiBins))).as("bin"))
    val pRef = (col("n_ref").cast("double") + 0.5) / (col("t_ref").cast("double") + 5.0)
    val pCur = (col("n_cur").cast("double") + 0.5) / (col("t_cur").cast("double") + 5.0)
    grid
      .join(binned(ref, "n_ref"), Seq("event_type", "bin"), "left")
      .join(binned(cur, "n_cur"), Seq("event_type", "bin"), "left")
      .join(broadcast(tot), "event_type")
      .na.fill(0L, Seq("n_ref", "n_cur"))
      .select(col("event_type"), col("bin"),
        col("n_ref"), col("n_cur"),
        r6(pRef).as("p_ref"), r6(pCur).as("p_cur"),
        graft.functions.Num.r((pCur - pRef) * log(pCur / pRef), 9).as("psi_term"))
  }

  def psiDriftOracle: String = {
    val rnIn = (1 until PsiBins).map(i => s"($i*n + ${PsiBins - 1})//$PsiBins").mkString(", ")
    val pRef = "((n_ref + 0.5)/(t_ref + 5.0))"
    val pCur = "((n_cur + 0.5)/(t_cur + 5.0))"
    s"""WITH ref AS (SELECT event_type, event_id, value FROM events WHERE ts < TIMESTAMP '$PsiCutoff'),
       |cur AS (SELECT event_type, event_id, value FROM events WHERE ts >= TIMESTAMP '$PsiCutoff'),
       |ranked AS (
       |  SELECT event_type, value,
       |         row_number() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn,
       |         count(*) OVER (PARTITION BY event_type) AS n
       |  FROM ref
       |), bounds AS (
       |  SELECT DISTINCT event_type, value AS b FROM ranked WHERE rn IN ($rnIn)
       |), barr AS (
       |  SELECT event_type, list_sort(list(b)) AS bs FROM bounds GROUP BY 1
       |), rcnt AS (
       |  SELECT r.event_type, len(list_filter(a.bs, x -> r.value > x)) + 1 AS bin, count(*) AS n
       |  FROM ref r JOIN barr a USING (event_type) GROUP BY 1, 2
       |), ccnt AS (
       |  SELECT c.event_type, len(list_filter(a.bs, x -> c.value > x)) + 1 AS bin, count(*) AS n
       |  FROM cur c JOIN barr a USING (event_type) GROUP BY 1, 2
       |), tot AS (
       |  SELECT r.event_type, r.t_ref, c.t_cur FROM
       |    (SELECT event_type, count(*) AS t_ref FROM ref GROUP BY 1) r
       |    JOIN (SELECT event_type, count(*) AS t_cur FROM cur GROUP BY 1) c USING (event_type)
       |), grid AS (
       |  SELECT event_type, unnest(generate_series(1, $PsiBins)) AS bin FROM barr
       |), j AS (
       |  SELECT g.event_type, CAST(g.bin AS INT) AS bin,
       |         coalesce(rc.n, 0) AS n_ref, coalesce(cc.n, 0) AS n_cur,
       |         t.t_ref, t.t_cur
       |  FROM grid g
       |  LEFT JOIN rcnt rc ON rc.event_type = g.event_type AND rc.bin = g.bin
       |  LEFT JOIN ccnt cc ON cc.event_type = g.event_type AND cc.bin = g.bin
       |  JOIN tot t ON t.event_type = g.event_type
       |)
       |SELECT event_type, bin, n_ref, n_cur,
       |       ${sqlR6(pRef)} AS p_ref, ${sqlR6(pCur)} AS p_cur,
       |       ${graft.functions.Num.sqlR(s"($pCur - $pRef) * ln($pCur / $pRef)", 9)} AS psi_term
       |FROM j ORDER BY event_type, bin""".stripMargin
  }

  /** Weighted-sample size and draw stream. */
  val WSampleK = 200
  private val WSampleStream = 29

  /** Weighted sampling without replacement (Efraimidis–Spirakis 2006, the
    * exponential-jumps A-ES form): each row draws a deterministic uniform u
    * keyed on event_id and ranks by −ln(u)/w — the [[WSampleK]] SMALLEST keys
    * are the sample, which is distributed exactly like sequential weighted
    * draws without replacement with weight w = max(|value|, 0.001). Shape at
    * scale: the key is map-side arithmetic, and the global top-K plans as
    * TakeOrderedAndProject — per-partition size-K heaps merged at the driver,
    * NO shuffle of the corpus; this is the importance-weighted curation draw
    * ("sample documents proportional to quality") that a per-row `rand()`
    * cannot reproduce and a sort-the-world approach cannot afford. The key is
    * fx9-quantized to BIGINT (the [[graft.operators.CorpusQc.unigramNll]]
    * discipline) so both engines rank identical integers; event_id breaks
    * ties totally.
    */
  def weightedSample(spark: SparkSession, dir: String): DataFrame = {
    val w = greatest(abs(col("value")), lit(0.001))
    val u = graft.functions.DetRand.u01(col("event_id"), WSampleStream)
    val keyMi = floor((-log(u) / w) * 1e9 + 0.5).cast("long")
    Tables.events(spark, dir)
      .select(col("event_id"), col("event_type"), col("value"),
        r6(w).as("weight"), keyMi.as("key_mi"))
      .orderBy(asc("key_mi"), asc("event_id"))
      .limit(WSampleK)
  }

  def weightedSampleOracle: String = {
    val u = graft.functions.DetRand.sqlU01("event_id", WSampleStream)
    val w = "greatest(abs(value), 0.001e0)"
    s"""SELECT event_id, event_type, value, ${sqlR6(w)} AS weight,
       |       CAST(floor((-ln($u) / ($w)) * 1e9 + 0.5) AS BIGINT) AS key_mi
       |FROM events
       |ORDER BY key_mi, event_id LIMIT $WSampleK""".stripMargin
  }

  /** Exact per-key value quantiles via the built-in `percentile` aggregate —
    * the SMALL-SCALE twin: it buffers each group's values in the aggregation
    * buffer, so memory grows with group size. Kept registered as the
    * readability/parity form for bounded per-key groups; the scale path is
    * [[valueQuantilesScalable]] (sort-based, spill-safe — same results).
    * `percentile` uses the same linear interpolation as DuckDB's
    * quantile_cont, so it is oracle-checkable.
    */
  def valueQuantiles(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir).groupBy("event_type")
      .agg(
        r6(percentile(col("value"), lit(0.25))).as("q25"),
        r6(percentile(col("value"), lit(0.5))).as("q50"),
        r6(percentile(col("value"), lit(0.75))).as("q75"),
        r6(percentile(col("value"), lit(0.99))).as("q99"),
        count(lit(1)).as("n"))

  def valueQuantilesOracle: String =
    s"""SELECT event_type,
       |       ${sqlR6("quantile_cont(value, 0.25e0)")} AS q25,
       |       ${sqlR6("quantile_cont(value, 0.5e0)")} AS q50,
       |       ${sqlR6("quantile_cont(value, 0.75e0)")} AS q75,
       |       ${sqlR6("quantile_cont(value, 0.99e0)")} AS q99,
       |       count(*) AS n
       |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin

  private val Quantiles = Seq(0.25 -> "q25", 0.5 -> "q50", 0.75 -> "q75", 0.99 -> "q99")

  /** Scale-safe per-key quantiles: sort-based rank selection — the 100-TB
    * form of [[valueQuantiles]] (VERDICT r2 "what's wrong #2": exact
    * `percentile` materializes one value array per group, a scale-killer when
    * a group is ~20% of the table).
    *
    * Shape: per-key counts (tiny, broadcast back) → block-parallel
    * [[blockedRank]] over value buckets (r10: the per-key row_number window
    * this used before was itself a one-task-per-key sort) → keep only the
    * ≤ 8 rank-boundary rows per key → tiny final agg interpolating lo/hi
    * neighbors (quantile_cont semantics, pos = (n−1)·q). No whole-key sort,
    * no unbounded per-group aggregation buffer anywhere in the plan — while
    * the result is still EXACT (identical to the percentile twin), so the
    * oracle stays a hash-match, not a tolerance check.
    */
  def valueQuantilesScalable(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir).select("event_type", "value")
    val counts = ev.groupBy("event_type").agg(count(lit(1)).as("n"))
    // blockedRank, not a per-type row_number window: the rank recombines
    // from monotone VALUE buckets, so no task sorts a whole type (the same
    // r10 pattern as `series`; with only `value` ordering, rank assignment
    // among ties is arbitrary in both engines and boundary extraction below
    // is tie-insensitive — min over equal values)
    val ranked = blockedRank(ev, "event_type", Seq(col("value")),
        doubleBuckets(ev, col("value"), SeriesBlockRows,
          Some(s"$dir#events.value")), "rn")
      .join(broadcast(counts), "event_type")
    def pos(q: Double) = (col("n") - 1).cast("double") * q + 1.0
    val boundary = Quantiles.map { case (q, _) =>
      col("rn") === floor(pos(q)) || col("rn") === ceil(pos(q))
    }.reduce(_ || _)
    val aggs = Quantiles.map { case (q, name) =>
      val p = pos(q)
      val vlo = min(when(col("rn") === floor(p), col("value")))
      val vhi = min(when(col("rn") === ceil(p), col("value")))
      r6(vlo + (p - floor(p).cast("double")) * (vhi - vlo)).as(name)
    }
    ranked.filter(boundary)
      .groupBy("event_type", "n")
      .agg(aggs.head, aggs.tail: _*)
      .select(col("event_type"), col("q25"), col("q50"), col("q75"), col("q99"), col("n"))
  }

  def valueQuantilesScalableOracle: String = {
    def posSql(q: Double) = s"(CAST(n - 1 AS DOUBLE) * ${sqlD(q)} + 1.0e0)"
    val boundary = Quantiles.map { case (q, _) =>
      s"rn = floor(${posSql(q)}) OR rn = ceil(${posSql(q)})"
    }.mkString(" OR ")
    val aggSelects = Quantiles.map { case (q, name) =>
      val p = posSql(q)
      val vlo = s"min(CASE WHEN rn = floor($p) THEN value END)"
      val vhi = s"min(CASE WHEN rn = ceil($p) THEN value END)"
      s"${sqlR6(s"$vlo + ($p - floor($p)) * ($vhi - $vlo)")} AS $name"
    }.mkString(",\n       |       ")
    s"""WITH counts AS (
       |  SELECT event_type, count(*) AS n FROM events GROUP BY 1
       |), ranked AS (
       |  SELECT e.event_type, e.value, c.n,
       |         row_number() OVER (PARTITION BY e.event_type ORDER BY e.value) AS rn
       |  FROM events e JOIN counts c USING (event_type)
       |)
       |SELECT event_type,
       |       $aggSelects,
       |       n
       |FROM ranked
       |WHERE $boundary
       |GROUP BY event_type, n ORDER BY event_type""".stripMargin
  }

  /** Ordered funnel: per user, earliest signup → earliest click AT OR AFTER
    * the signup → earliest purchase at or after that click. Stages that never
    * happen (in order) stay null, so the row set doubles as per-stage
    * conversion counts.
    *
    * Scale: each stage is one filtered groupBy(user_id) — after the first
    * aggregation every stage join is user_id-co-partitioned, so the funnel
    * adds joins but no new shuffle pattern; event_type reaches the scan as a
    * pushed filter per stage.
    */
  def funnel(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir).select("user_id", "event_type", "ts")
    val s = ev.filter(col("event_type") === "signup")
      .groupBy("user_id").agg(min(col("ts")).as("t_signup"))
    val c = ev.filter(col("event_type") === "click")
      .join(s, "user_id").filter(col("ts") >= col("t_signup"))
      .groupBy("user_id").agg(min(col("ts")).as("t_click"))
    val p = ev.filter(col("event_type") === "purchase")
      .join(c, "user_id").filter(col("ts") >= col("t_click"))
      .groupBy("user_id").agg(min(col("ts")).as("t_purchase"))
    s.join(c, Seq("user_id"), "left").join(p, Seq("user_id"), "left")
      .select(col("user_id"), col("t_signup"), col("t_click"), col("t_purchase"))
  }

  def funnelOracle: String =
    s"""WITH s AS (
       |  SELECT user_id, min(ts) AS t_signup FROM events WHERE event_type = 'signup' GROUP BY 1
       |), c AS (
       |  SELECT e.user_id, min(e.ts) AS t_click
       |  FROM events e JOIN s ON s.user_id = e.user_id
       |  WHERE e.event_type = 'click' AND e.ts >= s.t_signup GROUP BY 1
       |), p AS (
       |  SELECT e.user_id, min(e.ts) AS t_purchase
       |  FROM events e JOIN c ON c.user_id = e.user_id
       |  WHERE e.event_type = 'purchase' AND e.ts >= c.t_click GROUP BY 1
       |)
       |SELECT s.user_id, s.t_signup, c.t_click, p.t_purchase
       |FROM s LEFT JOIN c ON c.user_id = s.user_id LEFT JOIN p ON p.user_id = s.user_id
       |ORDER BY s.user_id""".stripMargin

  /** Conversion window for the bounded funnel (minutes per stage). */
  val FunnelWindowMin = 60

  /** Funnel with a conversion-window bound: each stage must land within
    * [[FunnelWindowMin]] minutes of the previous one (the standard
    * attribution-window semantics [[funnel]] leaves unbounded — an unbounded
    * funnel credits a purchase months after the click). Same join/aggregate
    * shape and scale story as [[funnel]]; the bound is one extra predicate on
    * each stage join, evaluated as exact micros timestamp arithmetic in both
    * engines.
    */
  def funnelWindowed(spark: SparkSession, dir: String): DataFrame = {
    val win = expr(s"INTERVAL $FunnelWindowMin MINUTES")
    val ev = Tables.events(spark, dir).select("user_id", "event_type", "ts")
    val s = ev.filter(col("event_type") === "signup")
      .groupBy("user_id").agg(min(col("ts")).as("t_signup"))
    val c = ev.filter(col("event_type") === "click")
      .join(s, "user_id")
      .filter(col("ts") >= col("t_signup") && col("ts") <= col("t_signup") + win)
      .groupBy("user_id").agg(min(col("ts")).as("t_click"))
    val p = ev.filter(col("event_type") === "purchase")
      .join(c, "user_id")
      .filter(col("ts") >= col("t_click") && col("ts") <= col("t_click") + win)
      .groupBy("user_id").agg(min(col("ts")).as("t_purchase"))
    s.join(c, Seq("user_id"), "left").join(p, Seq("user_id"), "left")
      .select(col("user_id"), col("t_signup"), col("t_click"), col("t_purchase"))
  }

  def funnelWindowedOracle: String =
    s"""WITH s AS (
       |  SELECT user_id, min(ts) AS t_signup FROM events WHERE event_type = 'signup' GROUP BY 1
       |), c AS (
       |  SELECT e.user_id, min(e.ts) AS t_click
       |  FROM events e JOIN s ON s.user_id = e.user_id
       |  WHERE e.event_type = 'click' AND e.ts >= s.t_signup
       |    AND e.ts <= s.t_signup + INTERVAL $FunnelWindowMin MINUTE
       |  GROUP BY 1
       |), p AS (
       |  SELECT e.user_id, min(e.ts) AS t_purchase
       |  FROM events e JOIN c ON c.user_id = e.user_id
       |  WHERE e.event_type = 'purchase' AND e.ts >= c.t_click
       |    AND e.ts <= c.t_click + INTERVAL $FunnelWindowMin MINUTE
       |  GROUP BY 1
       |)
       |SELECT s.user_id, s.t_signup, c.t_click, p.t_purchase
       |FROM s LEFT JOIN c ON c.user_id = s.user_id LEFT JOIN p ON p.user_id = s.user_id
       |ORDER BY s.user_id""".stripMargin

  val AnomalyWin = 16   // trailing window length (rows)
  val AnomalyMinN = 8   // minimum trailing rows before scoring
  val AnomalyZ = 3.0    // |z| threshold

  /** Rolling-window anomaly detection: per-series trailing mean/std over the
    * previous [[AnomalyWin]] observations (EXCLUDING the current row — the
    * score must not see the value it judges), z-score with the engine's ε
    * guard, flag at |z| > [[AnomalyZ]]. Rows with fewer than [[AnomalyMinN]]
    * predecessors emit a null z (warm-up). The flag compares the ROUNDED z so
    * both engines evaluate the identical boundary.
    *
    * Scale: block-parallel like the decompose chain — [[blockedRank]] gives
    * each row its dense per-type position, [[haloBlocks]] chunks the
    * trailing frame, so no task holds a whole event_type's rows even though
    * the key has 5 values at any scale.
    */
  def rollingAnomaly(spark: SparkSession, dir: String,
                     blockRows: Long = SeriesBlockRows,
                     block: Int = TrendBlock): DataFrame = {
    val z = (col("value") - col("mu")) / (col("sigma") + lit(1e-8))
    val ev = Tables.events(spark, dir)
      .select(col("event_type"), col("ts"), col("event_id"), col("value"))
    val ranked = blockedRank(ev, "event_type", Seq(col("ts"), col("event_id")),
        longBuckets(ev, unix_micros(col("ts")), blockRows,
          Some(s"$dir#events.ts_micros")), "rn")
      .withColumn("t", col("rn") - 1).drop("rn", "ts")
    val (aug, wTrail) = haloBlocks(ranked, "event_type", -AnomalyWin, -1, block)
    unHalo(aug
      .withColumn("mu", avg(col("value")).over(wTrail))
      .withColumn("sigma", stddev_samp(col("value")).over(wTrail))
      .withColumn("n_trail", count(col("value")).over(wTrail)))
      .select(col("event_type"), col("event_id"), r6(col("value")).as("value"),
        when(col("n_trail") >= AnomalyMinN, r6(z)).as("z"))
      .withColumn("is_anomaly", coalesce(abs(col("z")) > AnomalyZ, lit(false)))
  }

  def rollingAnomalyOracle: String =
    s"""WITH trail AS (
       |  SELECT event_type, event_id, value,
       |         avg(value) OVER w AS mu,
       |         stddev_samp(value) OVER w AS sigma,
       |         count(value) OVER w AS n_trail
       |  FROM events
       |  WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
       |               ROWS BETWEEN $AnomalyWin PRECEDING AND 1 PRECEDING)
       |)
       |SELECT event_type, event_id, ${sqlR6("value")} AS value,
       |       CASE WHEN n_trail >= $AnomalyMinN
       |            THEN ${sqlR6("(value - mu) / (sigma + 1.0e-8)")} END AS z,
       |       coalesce(abs(CASE WHEN n_trail >= $AnomalyMinN
       |                         THEN ${sqlR6("(value - mu) / (sigma + 1.0e-8)")} END) > ${sqlD(AnomalyZ)},
       |                false) AS is_anomaly
       |FROM trail ORDER BY event_type, event_id""".stripMargin

  /** Relative standard deviation handed to HLL++, and the tolerance the
    * registered check asserts. rsd 0.01 puts small-cardinality groups in the
    * sketch's near-exact sparse mode, so 2% holds with wide margin.
    */
  val HllRsd = 0.01
  val HllTolPct = 2.0

  /** Sketch-based corpus profiling: distinct users per day via HLL++
    * (`approx_count_distinct`) — at 100 TB distinct-count questions are
    * sketch territory: the sketch is a few KB per group, map-side combinable,
    * one shuffle of sketches instead of an expand + exact distinct over every
    * (day, user) pair.
    *
    * Oracle design: HLL sketches are implementation-defined (DuckDB's
    * approx_count_distinct is a DIFFERENT sketch), so the estimate itself
    * can't hash-match across engines. The registered row instead carries the
    * EXACT count (hash-checked) plus `hll_within_tol` — the property a
    * profiling user actually relies on — which the oracle asserts literally
    * TRUE: if the sketch ever drifted past tolerance, Spark would emit false
    * and the gate would fail. The exact twin exists only to power the check;
    * the 100-TB pipeline runs the sketch alone.
    */
  def dailyUsersSketch(spark: SparkSession, dir: String): DataFrame =
    // two-step, not a mixed distinct aggregate: countDistinct next to plain
    // aggs plans an Expand (2× the fact rows through a spilling partial map —
    // the sf100 rehearsal read 12× for 10× data). Collapsing to (day, user)
    // pairs first is one map-combinable shuffle; the day-level rollup then
    // counts rows for the exact twin and feeds the SAME user values to the
    // sketch — HLL register updates are idempotent, so the estimate off the
    // deduplicated pairs is bit-identical to the estimate off raw events.
    Tables.events(spark, dir)
      .groupBy(to_date(col("ts")).as("event_date"), col("user_id"))
      .agg(count(lit(1)).as("c"))
      .groupBy("event_date")
      // count the non-null user groups, not all groups: a NULL user_id forms
      // its own (day, NULL) pair here, but count(DISTINCT user_id) — both the
      // old form and the oracle — ignores nulls, as approx_count_distinct
      // still does; counting it would silently skew hll_within_tol on
      // nullable inputs (ADVICE r10). n_events keeps every row either way.
      .agg(approx_count_distinct(col("user_id"), HllRsd).as("approx"),
        count(col("user_id")).as("n_users_exact"),
        sum(col("c")).as("n_events"))
      .select(col("event_date"), col("n_users_exact"), col("n_events"),
        (abs(col("approx") - col("n_users_exact")).cast("double") * 100.0 /
          col("n_users_exact").cast("double") <= HllTolPct).as("hll_within_tol"))

  def dailyUsersSketchOracle: String =
    s"""SELECT CAST(ts AS DATE) AS event_date, count(DISTINCT user_id) AS n_users_exact,
       |       count(*) AS n_events, true AS hll_within_tol
       |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  /** Sketch MERGEABILITY made explicit — the property that makes sketches the
    * 100-TB structure: per-event_type DataSketches HLL sketches are built in
    * one grouped aggregation, then UNIONED (`hll_union_agg`) into the global
    * distinct-users estimate WITHOUT rescanning events. Because users appear
    * under several types, the true global count is far below the per-type
    * sum — a re-aggregation no exact per-group count can serve, but a
    * sketch union answers from #groups × few-KB of state. This is how
    * per-partition / per-day / per-shard profiles roll up to fleet totals
    * (exact twin only powers the in-tolerance gate, per
    * [[dailyUsersSketch]]'s oracle design).
    */
  def hllUnion(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val per = ev.groupBy("event_type")
      .agg(hll_sketch_agg(col("user_id")).as("sk"),
        countDistinct(col("user_id")).as("n_users_exact"))
      .localCheckpoint(true) // <= #types rows; reused by both output legs
    val tol = (sk: Column, exact: Column) =>
      abs(sk - exact).cast("double") * 100.0 / exact.cast("double") <= HllTolPct
    val perOut = per.select(col("event_type"), col("n_users_exact"),
      tol(hll_sketch_estimate(col("sk")), col("n_users_exact")).as("hll_within_tol"))
    val globalOut = per.agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("approx"))
      .crossJoin(ev.agg(countDistinct(col("user_id")).as("n_users_exact")))
      .select(lit("ALL").as("event_type"), col("n_users_exact"),
        tol(col("approx"), col("n_users_exact")).as("hll_within_tol"))
    perOut.unionByName(globalOut)
  }

  def hllUnionOracle: String =
    """SELECT event_type, count(DISTINCT user_id) AS n_users_exact, true AS hll_within_tol
      |FROM events GROUP BY 1
      |UNION ALL
      |SELECT 'ALL', count(DISTINCT user_id), true FROM events
      |ORDER BY event_type""".stripMargin

  /** Intersection tolerance (%): inclusion-exclusion SUBTRACTS estimates, so
    * the relative error of the difference is larger than any single sketch's —
    * the gate is deliberately wider than [[HllTolPct]]. */
  val HllIntersectTolPct = 15.0

  /** Sketch set-INTERSECTION — the audience-overlap question ("how many users
    * both browse and buy?") answered from sketches alone via
    * inclusion-exclusion: |A∩B| ≈ est(A) + est(B) − est(A∪B), where all three
    * sketches build in ONE conditional-aggregation scan (the union sketch
    * ingests both slices directly). HLL supports union natively but not
    * intersection; this identity is how sketch stores serve overlap at 100 TB
    * without a distinct-pair shuffle. Exact twins power the in-tolerance gate
    * only (the [[dailyUsersSketch]] oracle design) — and the exact overlap
    * itself comes from the same identity over exact counts, so the output
    * carries no order-dependent float at all.
    */
  def hllIntersect(spark: SparkSession, dir: String): DataFrame = {
    val sliced = Tables.events(spark, dir)
      .filter(col("event_type").isin("view", "purchase"))
    sliced.agg(
        hll_sketch_agg(when(col("event_type") === "view", col("user_id"))).as("ska"),
        hll_sketch_agg(when(col("event_type") === "purchase", col("user_id"))).as("skb"),
        hll_sketch_agg(col("user_id")).as("sku"),
        countDistinct(when(col("event_type") === "view", col("user_id"))).as("n_view_exact"),
        countDistinct(when(col("event_type") === "purchase", col("user_id"))).as("n_purchase_exact"),
        countDistinct(col("user_id")).as("n_union_exact"))
      .select(
        col("n_view_exact"), col("n_purchase_exact"),
        (col("n_view_exact") + col("n_purchase_exact") - col("n_union_exact")).as("n_both_exact"),
        ((abs(hll_sketch_estimate(col("ska")) + hll_sketch_estimate(col("skb")) -
          hll_sketch_estimate(col("sku")) -
          (col("n_view_exact") + col("n_purchase_exact") - col("n_union_exact"))).cast("double") * 100.0 /
          (col("n_view_exact") + col("n_purchase_exact") - col("n_union_exact")).cast("double"))
          <= HllIntersectTolPct).as("intersect_within_tol"))
  }

  def hllIntersectOracle: String =
    """SELECT count(DISTINCT CASE WHEN event_type = 'view' THEN user_id END) AS n_view_exact,
      |       count(DISTINCT CASE WHEN event_type = 'purchase' THEN user_id END) AS n_purchase_exact,
      |       count(DISTINCT CASE WHEN event_type = 'view' THEN user_id END)
      |         + count(DISTINCT CASE WHEN event_type = 'purchase' THEN user_id END)
      |         - count(DISTINCT user_id) AS n_both_exact,
      |       true AS intersect_within_tol
      |FROM events WHERE event_type IN ('view', 'purchase')""".stripMargin

  /** EWMA smoothing constant and truncation depth. */
  val EwmaAlpha = 0.3
  val EwmaK = 8

  /** Truncated exponentially-weighted moving average per user — the
    * smoothing pass next to the plain trailing window of `ts_rolling_anomaly`:
    * weights α(1−α)^j over the last [[EwmaK]] positions, renormalized over
    * the lags that EXIST so the series head is unbiased instead of
    * zero-padded. The recursive EWMA is inherently sequential; the truncated
    * form (the tail weight (1−α)^K ≈ 0.058 is the documented approximation)
    * is a fixed fan of lag() columns — pure window arithmetic, no
    * per-partition state, which is what makes it embarrassingly parallel
    * per key at scale.
    *
    * Determinism: each weighted term is fx9-quantized before the literal-fold
    * sum, and the weight normalizer is a sum of the same plan-time literal
    * doubles in a fixed fold order in both engines.
    */
  def ewma(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val weights = (0 until EwmaK).map(j => EwmaAlpha * math.pow(1 - EwmaAlpha, j))
    val lagged = (0 until EwmaK).foldLeft(
      Tables.events(spark, dir).select(col("user_id"), col("ts"), col("event_id"), col("value"))) {
      (df, j) => df.withColumn(s"l$j", lag(col("value"), j).over(w))
    }
    val num = (0 until EwmaK).map(j =>
      when(col(s"l$j").isNotNull, fx(col(s"l$j") * weights(j), 9)).otherwise(lit(0L)))
      .reduce(_ + _)
    val den = (0 until EwmaK).map(j =>
      when(col(s"l$j").isNotNull, lit(weights(j))).otherwise(lit(0.0)))
      .reduce(_ + _)
    lagged.select(col("user_id"), col("ts"), col("event_id"), col("value"),
      r6(num.cast("double") / 1e9 / den).as("ewma"))
  }

  /** Brown's double exponential smoothing (linear-trend forecasting) — the
    * next rung after [[ewma]] on the classical smoothing ladder: S₂ = EWMA of
    * S₁, level = 2S₁−S₂, trend = α/(1−α)·(S₁−S₂), one-step forecast =
    * level + trend. The sequential recursion parallelizes the same way the
    * single EWMA did, but one level deeper: expanding EWMA∘EWMA gives the
    * closed-form second-order kernel w₂(m) = (m+1)·α²(1−α)^m over RAW
    * history — so BOTH smoothers are direct weighted sums over one shared
    * K-lag fan (no nesting at runtime, no sequential scan), truncated at
    * [[EwmaK]] lags and head-renormalized over the available weights exactly
    * like the first-order kernel. Per-term fx9 quantization keeps both sums
    * engine-exact; one window partitioning serves every output column.
    */
  def holt(spark: SparkSession, dir: String): DataFrame = {
    val a = EwmaAlpha
    val w1 = (0 until EwmaK).map(j => a * math.pow(1 - a, j))
    val w2 = (0 until EwmaK).map(m => (m + 1) * a * a * math.pow(1 - a, m))
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val lagged = (0 until EwmaK).foldLeft(
      Tables.events(spark, dir).select(col("user_id"), col("ts"), col("event_id"), col("value"))) {
      (df, j) => df.withColumn(s"l$j", lag(col("value"), j).over(w))
    }
    def smooth(ws: Seq[Double]): Column = {
      val num = (0 until EwmaK).map(j =>
        when(col(s"l$j").isNotNull, fx(col(s"l$j") * ws(j), 9)).otherwise(lit(0L)))
        .reduce(_ + _)
      val den = (0 until EwmaK).map(j =>
        when(col(s"l$j").isNotNull, lit(ws(j))).otherwise(lit(0.0)))
        .reduce(_ + _)
      num.cast("double") / 1e9 / den
    }
    val s1 = smooth(w1)
    val s2 = smooth(w2)
    lagged.select(col("user_id"), col("ts"), col("event_id"), col("value"),
      r6(s1).as("s1"), r6(s2).as("s2"),
      r6(lit(2.0) * s1 - s2).as("level"),
      r6(lit(a / (1 - a)) * (s1 - s2)).as("trend"),
      r6(lit(2.0) * s1 - s2 + lit(a / (1 - a)) * (s1 - s2)).as("forecast_1"))
  }

  def holtOracle: String = {
    val a = EwmaAlpha
    val w1 = (0 until EwmaK).map(j => a * math.pow(1 - a, j))
    val w2 = (0 until EwmaK).map(m => (m + 1) * a * a * math.pow(1 - a, m))
    def d(x: Double) = graft.functions.Num.sqlD(x)
    val lags = (0 until EwmaK).map(j =>
      s"lag(value, $j) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS l$j").mkString(", ")
    def smooth(ws: Seq[Double]): String = {
      val num = (0 until EwmaK).map(j =>
        s"(CASE WHEN l$j IS NOT NULL THEN ${sqlFx(s"l$j * ${d(ws(j))}", 9)} ELSE 0 END)").mkString(" + ")
      val den = (0 until EwmaK).map(j =>
        s"(CASE WHEN l$j IS NOT NULL THEN ${d(ws(j))} ELSE 0.0e0 END)").mkString(" + ")
      s"(CAST($num AS DOUBLE) / 1e9 / ($den))"
    }
    val s1 = smooth(w1)
    val s2 = smooth(w2)
    val k = d(a / (1 - a))
    s"""WITH l AS (
       |  SELECT user_id, ts, event_id, value,
       |         $lags
       |  FROM events
       |)
       |SELECT user_id, ts, event_id, value,
       |       ${sqlR6(s1)} AS s1, ${sqlR6(s2)} AS s2,
       |       ${sqlR6(s"2.0 * $s1 - $s2")} AS level,
       |       ${sqlR6(s"$k * ($s1 - $s2)")} AS trend,
       |       ${sqlR6(s"2.0 * $s1 - $s2 + $k * ($s1 - $s2)")} AS forecast_1
       |FROM l ORDER BY user_id, ts, event_id""".stripMargin
  }

  def ewmaOracle: String = {
    val weights = (0 until EwmaK).map(j => EwmaAlpha * math.pow(1 - EwmaAlpha, j))
    val lags = (0 until EwmaK).map(j =>
      s"lag(value, $j) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS l$j").mkString(", ")
    def d(x: Double) = graft.functions.Num.sqlD(x)
    val num = (0 until EwmaK).map(j =>
      s"(CASE WHEN l$j IS NOT NULL THEN ${sqlFx(s"l$j * ${d(weights(j))}", 9)} ELSE 0 END)").mkString(" + ")
    val den = (0 until EwmaK).map(j =>
      s"(CASE WHEN l$j IS NOT NULL THEN ${d(weights(j))} ELSE 0.0e0 END)").mkString(" + ")
    s"""WITH l AS (
       |  SELECT user_id, ts, event_id, value,
       |         $lags
       |  FROM events
       |)
       |SELECT user_id, ts, event_id, value,
       |       ${sqlR6(s"CAST($num AS DOUBLE) / 1e9 / ($den)")} AS ewma
       |FROM l ORDER BY user_id, ts, event_id""".stripMargin
  }

  /** ACF depth: sample autocorrelation at lags 1..[[AcfK]]. */
  val AcfK = 6

  /** Per-series sample autocorrelation function — the first diagnostic a
    * time-series pipeline computes (is there serial structure worth a
    * seasonal model? how fast does it decay?): r_k = Σ(x_t−μ)(x_{t−k}−μ) /
    * Σ(x_t−μ)², lags 1..[[AcfK]] in ONE pass.
    *
    * Scale shape: the per-key mean is an unordered frame over the same
    * hash-partitioning the lag fan and the final groupBy reuse, so the whole
    * statistic costs ONE shuffle on user_id; all [[AcfK]] numerators are
    * sibling aggregates of a single scan, not K self-joins. Determinism: μ is
    * an exact integer mean (fx9 sum ÷ count), every deviation product is
    * fx6-quantized before summing, so partial-merge order cannot move the
    * ratio (the [[graft.functions.Num.fx]] discipline).
    */
  def autocorr(spark: SparkSession, dir: String): DataFrame =
    autocorrOf(Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("value")))

  /** Frame-parameterized form of [[autocorr]] over any (user_id, ts,
    * event_id, value) input — the synthetic-series boundary spec drives it.
    */
  def autocorrOf(in: DataFrame): DataFrame = {
    val wOrd = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val wAll = Window.partitionBy("user_id")
    val base = in
      .withColumn("mu",
        sum(fx(col("value"), 9)).over(wAll).cast("double") / 1e9 / count(lit(1)).over(wAll))
    val lagged = (1 to AcfK).foldLeft(base)((df, k) =>
      df.withColumn(s"l$k", lag(col("value"), k).over(wOrd)))
    val dev = col("value") - col("mu")
    val aggs =
      sum(fx(dev * dev, 6)).as("den") +:
        (1 to AcfK).map(k =>
          sum(when(col(s"l$k").isNotNull, fx(dev * (col(s"l$k") - col("mu")), 6))
            .otherwise(lit(0L))).as(s"num$k"))
    val acfCols = (1 to AcfK).map(k =>
      r6(col(s"num$k").cast("double") / col("den").cast("double")).as(s"acf_$k"))
    val allAggs = count(lit(1)).as("n") +: aggs
    lagged.groupBy("user_id")
      .agg(allAggs.head, allAggs.tail: _*)
      .select(col("user_id") +: col("n") +: acfCols: _*)
  }

  def autocorrOracle: String = {
    val lags = (1 to AcfK).map(k =>
      s"lag(e.value, $k) OVER (PARTITION BY e.user_id ORDER BY e.ts, e.event_id) AS l$k").mkString(", ")
    val nums = (1 to AcfK).map(k =>
      s"sum(CASE WHEN l$k IS NOT NULL THEN ${sqlFx(s"(value - mu) * (l$k - mu)", 6)} ELSE 0 END) AS num$k")
      .mkString(",\n       |         ")
    val accs = (1 to AcfK).map(k =>
      s"${sqlR6(s"CAST(num$k AS DOUBLE) / CAST(den AS DOUBLE)")} AS acf_$k")
      .mkString(",\n       |       ")
    s"""WITH m AS (
       |  SELECT user_id, CAST(sum(${sqlFx("value", 9)}) AS DOUBLE) / 1e9 / count(*) AS mu
       |  FROM events GROUP BY 1
       |), l AS (
       |  SELECT e.user_id, e.value, m.mu, $lags
       |  FROM events e JOIN m ON m.user_id = e.user_id
       |), a AS (
       |  SELECT user_id, count(*) AS n,
       |         sum(${sqlFx("(value - mu) * (value - mu)", 6)}) AS den,
       |         $nums
       |  FROM l GROUP BY 1
       |)
       |SELECT user_id, n,
       |       $accs
       |FROM a ORDER BY user_id""".stripMargin
  }

  /** CUSUM mean-shift changepoint per series: S_t = Σ_{i≤t}(x_i − μ) peaks at
    * the instant the running mean departs from the global one, so argmax|S_t|
    * is the classic single-changepoint estimator (Page, Biometrika 1954).
    * Reported per user: the peak position, its |CUSUM| magnitude, and the
    * fraction of the series before it.
    *
    * Scale shape: one shuffle on user_id covers the exact mean (unordered
    * frame), the cumulative sum (ordered frame), and the deterministic argmax
    * (a WindowGroupLimit rank-1 filter, per-partition 1-row heap — no second
    * aggregation). The cumulative sum runs entirely in fx6 integers, so the
    * peak choice is exact arithmetic, not float comparison: ties broken by
    * earliest (ts, event_id).
    */
  def changepoint(spark: SparkSession, dir: String): DataFrame =
    changepointOf(Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("value")))

  /** Frame-parameterized form of [[changepoint]] — the known-shift boundary
    * spec drives it with a synthetic step series.
    */
  def changepointOf(in: DataFrame): DataFrame = {
    val wAll = Window.partitionBy("user_id")
    val wCum = Window.partitionBy("user_id").orderBy("ts", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val base = in
      .withColumn("mu",
        sum(fx(col("value"), 9)).over(wAll).cast("double") / 1e9 / count(lit(1)).over(wAll))
      .withColumn("n", count(lit(1)).over(wAll))
      .withColumn("pos", row_number().over(Window.partitionBy("user_id").orderBy("ts", "event_id")))
      .withColumn("cus", sum(fx(col("value") - col("mu"), 6)).over(wCum))
    val wPick = Window.partitionBy("user_id")
      .orderBy(abs(col("cus")).desc, col("ts").asc, col("event_id").asc)
    base.withColumn("rk", row_number().over(wPick)).filter(col("rk") === 1)
      .select(col("user_id"), col("n"), col("event_id").as("cp_event_id"),
        col("ts").as("cp_ts"),
        r6(abs(col("cus")).cast("double") / 1e6).as("cusum_peak"),
        r6(col("pos").cast("double") / col("n").cast("double")).as("frac_before"))
  }

  def changepointOracle: String =
    s"""WITH m AS (
       |  SELECT user_id, CAST(sum(${sqlFx("value", 9)}) AS DOUBLE) / 1e9 / count(*) AS mu,
       |         count(*) AS n
       |  FROM events GROUP BY 1
       |), c AS (
       |  SELECT e.user_id, m.n, e.event_id, e.ts,
       |         row_number() OVER (PARTITION BY e.user_id ORDER BY e.ts, e.event_id) AS pos,
       |         sum(${sqlFx("e.value - m.mu", 6)})
       |           OVER (PARTITION BY e.user_id ORDER BY e.ts, e.event_id
       |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cus
       |  FROM events e JOIN m ON m.user_id = e.user_id
       |), p AS (
       |  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY abs(cus) DESC, ts, event_id) AS rk
       |  FROM c
       |)
       |SELECT user_id, n, event_id AS cp_event_id, ts AS cp_ts,
       |       ${sqlR6("CAST(abs(cus) AS DOUBLE) / 1e6")} AS cusum_peak,
       |       ${sqlR6("CAST(pos AS DOUBLE) / CAST(n AS DOUBLE)")} AS frac_before
       |FROM p WHERE rk = 1 ORDER BY user_id""".stripMargin

  /** Join-key skew profile — the diagnostic read BEFORE deciding whether a
    * join needs salting (`events_skew_salted_join`) or AQE skew handling:
    * per-key event counts summarized as mean, max, exact p99 and the skew
    * factor max/mean. The p99 is computed the scalable way: per-key counts
    * collapse to (count-value, #keys) pairs first, so the only global window
    * runs over DISTINCT count values (bounded by max events-per-key), never
    * over the keys themselves — at 100 TB the keys side stays a hash agg.
    */
  def keySkew(spark: SparkSession, dir: String): DataFrame = {
    val per = Tables.events(spark, dir).groupBy("user_id").agg(count(lit(1)).as("c"))
    val stats = per
      .agg(count(lit(1)).as("n_keys"), sum(col("c")).as("n_events"), max(col("c")).as("max_c"))
      .localCheckpoint(true) // 1 row, reused by the p99 leg and the output
    val wc = Window.orderBy("c").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val p99 = per.groupBy("c").agg(count(lit(1)).as("k"))
      .withColumn("cum", sum(col("k")).over(wc))
      .crossJoin(stats.select(col("n_keys").as("nk")))
      .filter(col("cum") >= ceil(col("nk").cast("double") * lit(0.99)))
      .agg(min(col("c")).as("p99_c"))
    stats.crossJoin(p99).select(
      col("n_keys"), col("n_events"), col("max_c"), col("p99_c"),
      r6(col("n_events").cast("double") / col("n_keys").cast("double")).as("mean_c"),
      r6(col("max_c").cast("double") /
        (col("n_events").cast("double") / col("n_keys").cast("double"))).as("skew_factor"))
  }

  def keySkewOracle: String =
    s"""WITH per AS (SELECT user_id, count(*) AS c FROM events GROUP BY 1),
       |s AS (
       |  SELECT count(*) AS n_keys, CAST(sum(c) AS BIGINT) AS n_events, max(c) AS max_c
       |  FROM per
       |), cum AS (
       |  SELECT c, sum(k) OVER (ORDER BY c ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM (SELECT c, count(*) AS k FROM per GROUP BY 1)
       |), p AS (
       |  SELECT min(c) AS p99_c FROM cum, s
       |  WHERE cum >= ceil(CAST(n_keys AS DOUBLE) * 0.99e0)
       |)
       |SELECT n_keys, n_events, max_c, p99_c,
       |       ${sqlR6("CAST(n_events AS DOUBLE) / CAST(n_keys AS DOUBLE)")} AS mean_c,
       |       ${sqlR6("CAST(max_c AS DOUBLE) / (CAST(n_events AS DOUBLE) / CAST(n_keys AS DOUBLE))")} AS skew_factor
       |FROM s, p""".stripMargin

  /** Per-user event-type transition matrix — the Markov-chain profile of the
    * event log (the next-event-prediction baseline and the funnel
    * generalization): counts of consecutive (prev_type → type) pairs across
    * all users, with the row-normalized transition probability. One lag
    * window over the natural per-user ordering + one hash agg on the
    * |types|² keyspace; output is constant in corpus size.
    */
  def typeTransitions(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val pairs = Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .filter(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col("event_type").as("next_type"))
      .agg(count(lit(1)).as("n"))
    val wRow = Window.partitionBy("prev_type")
    pairs.withColumn("row_total", sum(col("n")).over(wRow))
      .select(col("prev_type"), col("next_type"), col("n"),
        r6(col("n").cast("double") / col("row_total").cast("double")).as("p"))
  }

  def typeTransitionsOracle: String =
    s"""WITH l AS (
       |  SELECT event_type AS next_type,
       |         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
       |  FROM events
       |), c AS (
       |  SELECT prev_type, next_type, count(*) AS n FROM l
       |  WHERE prev_type IS NOT NULL GROUP BY 1, 2
       |)
       |SELECT prev_type, next_type, n,
       |       ${sqlR6("CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY prev_type)")} AS p
       |FROM c ORDER BY prev_type, next_type""".stripMargin

  /** Power-iteration count for the stationary distribution (fixed unroll —
    * each step is one broadcast join + agg in Spark and one CTE in the
    * oracle, the pagerank pattern on the 5-state chain). */
  val StationaryIters = 4

  /** Stationary distribution of the event-type Markov chain — the long-run
    * "where do users spend their time" readout derived from
    * `events_type_transitions`: π ← π·P iterated [[StationaryIters]] times
    * from uniform. Same determinism discipline as pagerank: transition
    * probabilities are the r6-rounded matrix, each π·p term fx12-quantizes
    * before the order-insensitive sum, and π r9-rounds before reuse. The
    * state vector broadcasts; every iteration is a states²-sized join — at
    * any scale this is a driver-trivial computation whose INPUT matrix is
    * the distributed aggregation.
    */
  def markovStationary(spark: SparkSession, dir: String): DataFrame = {
    val trans = typeTransitions(spark, dir)
      .select(col("prev_type"), col("next_type"), col("p"))
      .localCheckpoint(true) // scanned once per unrolled iteration
    val wAll = Window.partitionBy()
    var pi = trans.select(col("prev_type").as("state")).distinct()
      .withColumn("pi", r(lit(1.0) / count(lit(1)).over(wAll).cast("double"), 9))
    for (_ <- 1 to StationaryIters) {
      pi = trans.join(broadcast(pi), col("prev_type") === col("state"))
        .select(col("next_type"),
          floor(col("pi") * col("p") * 1e12 + 0.5).cast("long").as("c"))
        .groupBy("next_type").agg(sum(col("c")).as("s"))
        .select(col("next_type").as("state"),
          r(col("s").cast("double") / 1e12, 9).as("pi"))
    }
    pi.select(col("state"), r6(col("pi")).as("pi"))
  }

  /** Shared CTE chain: transition matrix `t` + the unrolled power iteration
    * ending at `pi$StationaryIters` — the common prefix of the stationary
    * and entropy-rate oracles. `t` is MATERIALIZED because every unrolled
    * step (and the entropy tail) references it. */
  private def markovCtes: String = {
    val steps = (1 to StationaryIters).map { i =>
      s"""pi$i AS (
         |  SELECT t.next_type AS state,
         |         ${sqlR(s"CAST(sum(CAST(floor(p.pi * t.p * 1e12 + 0.5) AS BIGINT)) AS DOUBLE)/1e12", 9)} AS pi
         |  FROM t JOIN pi${i - 1} p ON p.state = t.prev_type
         |  GROUP BY 1
         |)""".stripMargin
    }.mkString(",\n")
    s"""l AS (
       |  SELECT event_type AS next_type,
       |         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
       |  FROM events
       |), c AS (
       |  SELECT prev_type, next_type, count(*) AS n FROM l
       |  WHERE prev_type IS NOT NULL GROUP BY 1, 2
       |), t AS MATERIALIZED (
       |  SELECT prev_type, next_type,
       |         ${sqlR6("CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY prev_type)")} AS p
       |  FROM c
       |), pi0 AS (
       |  SELECT prev_type AS state, ${sqlR("1.0e0 / CAST(count(*) OVER () AS DOUBLE)", 9)} AS pi
       |  FROM (SELECT DISTINCT prev_type FROM c)
       |),
       |$steps""".stripMargin
  }

  def markovStationaryOracle: String =
    s"""WITH $markovCtes
       |SELECT state, ${sqlR6("pi")} AS pi FROM pi$StationaryIters ORDER BY state""".stripMargin

  /** Entropy rate of the event-type Markov chain — the predictability dial
    * of user behavior: H = Σ_i π_i · H_i with per-state conditional entropy
    * H_i = −Σ_j p_ij ln p_ij, composed from the SAME r6-rounded transition
    * matrix and stationary π as `events_type_transitions` /
    * `events_markov_stationary` (low H = rigid habitual flows, ln|S| =
    * uniform chaos — the number a personalization team tracks over
    * releases). Determinism: each −p ln p and π·H_i term fx12-quantizes
    * before its order-insensitive integer sum; ln sees bit-identical
    * r6-rounded inputs in both engines. Plan: the transitions agg is the
    * only data-sized work; entropy runs on the states² relation.
    */
  def markovEntropy(spark: SparkSession, dir: String): DataFrame = {
    val trans = typeTransitions(spark, dir)
      .select(col("prev_type"), col("next_type"), col("p"))
    val pi = markovStationary(spark, dir)
    val ent = trans
      .join(broadcast(pi), col("prev_type") === col("state"))
      .groupBy("prev_type")
      .agg(max(col("pi")).as("pi"),
        (sum(fx(-col("p") * log(col("p")), 12)).cast("double") / 1e12).as("h_state"))
    val wAll = Window.partitionBy()
    ent
      .withColumn("h_rate",
        sum(fx(col("pi") * col("h_state"), 12)).over(wAll).cast("double") / 1e12)
      .select(col("prev_type"), col("pi"),
        r6(col("h_state")).as("h_state"), r6(col("h_rate")).as("h_rate"))
  }

  def markovEntropyOracle: String =
    s"""WITH $markovCtes,
       |stat AS (
       |  SELECT state, ${sqlR6("pi")} AS pi FROM pi$StationaryIters
       |), ent AS (
       |  SELECT t.prev_type, max(s.pi) AS pi,
       |         CAST(sum(${sqlFx("-(t.p)*ln(t.p)", 12)}) AS DOUBLE)/1e12 AS h_state
       |  FROM t JOIN stat s ON s.state = t.prev_type
       |  GROUP BY 1
       |)
       |SELECT prev_type, pi, ${sqlR6("h_state")} AS h_state,
       |       ${sqlR6("CAST(sum(" + sqlFx("pi*h_state", 12) + ") OVER () AS DOUBLE)/1e12")} AS h_rate
       |FROM ent ORDER BY prev_type""".stripMargin

  /** Shortlist size for the sequential-pattern readout. */
  val SeqPatTopK = 30

  /** Top event-type trigrams in per-user stream order — one-level
    * sequential-pattern mining (the "view → click → purchase vs
    * view → click → view" readout a journey analysis starts from, and the
    * n=3 generalization of `events_type_transitions`). Two leads in one
    * window pass partitioned by user, a hash agg on the ≤ |types|³ key
    * space, and a TakeOrdered top-[[SeqPatTopK]] with full-pattern
    * tiebreak; the share denominator is the exact trigram total via a
    * window over the tiny aggregated relation.
    */
  def seqPatterns(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val tri = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type").as("t1"), col("ts"), col("event_id"))
      .withColumn("t2", lead(col("t1"), 1).over(w))
      .withColumn("t3", lead(col("t1"), 2).over(w))
      .filter(col("t3").isNotNull)
      .groupBy("t1", "t2", "t3").agg(count(lit(1)).as("n"))
    val wAll = Window.partitionBy()
    tri
      .withColumn("share", r6(col("n").cast("double") /
        sum(col("n")).over(wAll).cast("double")))
      .orderBy(desc("n"), col("t1"), col("t2"), col("t3"))
      .limit(SeqPatTopK)
  }

  def seqPatternsOracle: String =
    s"""WITH s AS (
       |  SELECT event_type AS t1,
       |         lead(event_type, 1) OVER w AS t2,
       |         lead(event_type, 2) OVER w AS t3
       |  FROM events
       |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
       |), tri AS (
       |  SELECT t1, t2, t3, count(*) AS n FROM s
       |  WHERE t3 IS NOT NULL GROUP BY 1, 2, 3
       |)
       |SELECT t1, t2, t3, n,
       |       ${sqlR6("CAST(n AS DOUBLE)/CAST(sum(n) OVER () AS DOUBLE)")} AS share
       |FROM tri ORDER BY n DESC, t1, t2, t3 LIMIT $SeqPatTopK""".stripMargin

  /** Velocity rule: flag when a user fires ≥ this many events inside one
    * trailing hour. */
  val VelocityWindowS = 3600L
  val VelocityThreshold = 5L

  /** Velocity (burst) detection per user — the fraud/abuse rule engine's
    * first primitive: the TIME-based trailing count (events in the last
    * 3600 SECONDS, not the last N rows) via a RANGE window frame over epoch
    * seconds, which row-based rolling features (`events_lag_features`)
    * cannot express when sampling is irregular. Reported per user as the
    * peak burst and how many events sat inside a flagged burst; only users
    * who ever breach [[VelocityThreshold]] appear. Exact integer counting —
    * ties at the same second enter the frame together in both engines.
    * Plan: one window pass partitioned by user, then a per-user agg — no
    * global state, parallelism = users.
    */
  def velocityFlags(spark: SparkSession, dir: String): DataFrame =
    velocityFlagsOf(Tables.events(spark, dir))

  /** Frame-parameterized core of [[velocityFlags]] — input needs
    * (user_id, ts). */
  private[graft] def velocityFlagsOf(ev: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("s"))
      .rangeBetween(-(VelocityWindowS - 1), 0)
    ev
      .select(col("user_id"), unix_timestamp(col("ts")).as("s"))
      .withColumn("burst", count(lit(1)).over(w))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"), max(col("burst")).as("max_burst"),
        sum(when(col("burst") >= VelocityThreshold, 1L).otherwise(0L))
          .as("n_burst_events"))
      .filter(col("max_burst") >= VelocityThreshold)
  }

  def velocityFlagsOracle: String =
    s"""WITH ev AS (
       |  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS s FROM events
       |), b AS (
       |  SELECT user_id,
       |         count(*) OVER (PARTITION BY user_id ORDER BY s
       |                        RANGE BETWEEN ${VelocityWindowS - 1} PRECEDING AND CURRENT ROW) AS burst
       |  FROM ev
       |)
       |SELECT user_id, count(*) AS n_events,
       |       CAST(max(burst) AS BIGINT) AS max_burst,
       |       CAST(sum(CASE WHEN burst >= $VelocityThreshold THEN 1 ELSE 0 END) AS BIGINT) AS n_burst_events
       |FROM b GROUP BY 1 HAVING max(burst) >= $VelocityThreshold
       |ORDER BY user_id""".stripMargin

  /** Seasonal lag (in per-user event positions) for the forecast benchmark. */
  val ForecastSeason = 24

  /** Forecast-baseline evaluation — the pass a forecasting pipeline runs to
    * decide whether a model beats the free baselines: per user, the seasonal
    * naive forecast (value [[ForecastSeason]] positions back) and the lag-1
    * naive are scored with MAE, and their ratio is MASE (Hyndman & Koehler,
    * "Another look at measures of forecast accuracy", 2006 — MASE < 1 means
    * the seasonal pattern is real). Everything downstream of the two lags is
    * exact: per-term fx6 absolute errors integer-sum in any order, and MASE
    * is a ratio of those integer sums.
    *
    * Scale: one window over the natural per-user ordering (the same shuffle
    * every per-key op pays), then a map-side-collapsing agg; output is one
    * row per user.
    */
  def forecastEval(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      .withColumn("lag_s", lag(col("value"), ForecastSeason).over(w))
      .withColumn("lag_1", lag(col("value"), 1).over(w))
      .filter(col("lag_s").isNotNull)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_eval"),
        sum(fx(abs(col("value") - col("lag_s")), 6)).as("sae_fx"),
        sum(fx(abs(col("value") - col("lag_1")), 6)).as("snaive_fx"))
      .select(col("user_id"), col("n_eval"),
        r6(col("sae_fx").cast("double") / 1e6 / col("n_eval").cast("double")).as("mae_seasonal"),
        r6(col("snaive_fx").cast("double") / 1e6 / col("n_eval").cast("double")).as("mae_naive1"),
        r6(col("sae_fx").cast("double") /
          greatest(col("snaive_fx"), lit(1L)).cast("double")).as("mase"))
  }

  def forecastEvalOracle: String =
    s"""WITH l AS (
       |  SELECT user_id, value,
       |         lag(value, $ForecastSeason) OVER w AS lag_s,
       |         lag(value, 1) OVER w AS lag_1
       |  FROM events
       |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
       |)
       |SELECT user_id, count(*) AS n_eval,
       |       ${sqlR6(s"CAST(sum(${sqlFx("abs(value - lag_s)", 6)}) AS DOUBLE) / 1e6 / count(*)")} AS mae_seasonal,
       |       ${sqlR6(s"CAST(sum(${sqlFx("abs(value - lag_1)", 6)}) AS DOUBLE) / 1e6 / count(*)")} AS mae_naive1,
       |       ${sqlR6(s"CAST(sum(${sqlFx("abs(value - lag_s)", 6)}) AS DOUBLE) / CAST(greatest(sum(${sqlFx("abs(value - lag_1)", 6)}), 1) AS DOUBLE)")} AS mase
       |FROM l WHERE lag_s IS NOT NULL
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Retention cohorts — the canonical product-analytics rollup: users are
    * cohorted by FIRST-seen date, and retention at day offset k is the share
    * of that cohort active k days later. The two-sided derivation (first-seen
    * per user, then activity re-joined on user) is the shape that makes this
    * a distributed-join problem rather than a window: cohorting needs the
    * global min per user, activity is the full log.
    *
    * Scale: first-seen is one map-side-collapsing groupBy(user); the
    * activity join shuffles on user_id — the log's natural key; output is
    * |cohorts| × |offsets|, constant in corpus size. Exact BIGINT counts and
    * an r6 ratio keep the hash stable.
    */
  def retentionCohorts(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), to_date(col("ts")).as("d")).distinct()
    val first = ev.groupBy("user_id").agg(min(col("d")).as("cohort_date"))
    val sizes = first.groupBy("cohort_date").agg(count(lit(1)).as("cohort_size"))
    ev.join(first, "user_id")
      .withColumn("day_offset", datediff(col("d"), col("cohort_date")).cast("long"))
      .groupBy("cohort_date", "day_offset")
      .agg(countDistinct(col("user_id")).as("n_active"))
      .join(sizes, "cohort_date")
      .select(col("cohort_date"), col("day_offset"), col("n_active"), col("cohort_size"),
        r6(col("n_active").cast("double") / col("cohort_size").cast("double")).as("retention"))
  }

  def retentionCohortsOracle: String =
    s"""WITH ev AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
       |f AS (SELECT user_id, min(d) AS cohort_date FROM ev GROUP BY 1),
       |sz AS (SELECT cohort_date, count(*) AS cohort_size FROM f GROUP BY 1),
       |act AS (
       |  SELECT f.cohort_date, CAST(e.d - f.cohort_date AS BIGINT) AS day_offset,
       |         count(DISTINCT e.user_id) AS n_active
       |  FROM ev e JOIN f USING (user_id) GROUP BY 1, 2
       |)
       |SELECT a.cohort_date, a.day_offset, a.n_active, sz.cohort_size,
       |       ${sqlR6("CAST(a.n_active AS DOUBLE) / sz.cohort_size")} AS retention
       |FROM act a JOIN sz USING (cohort_date)
       |ORDER BY cohort_date, day_offset""".stripMargin

  /** Exponential-decay fit over the retention curve — the one-number
    * summary a growth team carries between releases: per cohort, OLS of
    * ln(retention) on day offset (offsets ≥ 1, the day-0 anchor is 1.0 by
    * construction) gives the decay slope, and half-life = −ln2/slope turns
    * it into "days until half the cohort is gone". Exactness: retention is
    * the exact rational n_active/cohort_size (identical IEEE division both
    * engines), its ln fx12-quantizes so all four regression sums are
    * BIGINTs; the slope is one double expression. Cohorts with < 3 usable
    * offsets or non-negative slope carry no half-life. Runs on
    * [[retentionCohorts]]'s |cohorts|×|offsets| output — free at any scale.
    */
  def retentionHalflife(spark: SparkSession, dir: String): DataFrame = {
    val pts = retentionCohorts(spark, dir)
      .filter(col("day_offset") >= 1 && col("n_active") > 0)
      .select(col("cohort_date"), col("day_offset").as("x"),
        fx(log(col("n_active").cast("double") / col("cohort_size").cast("double")), 12)
          .as("yq"))
    val g = pts.groupBy("cohort_date")
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("yq")).as("sy"),
        sum(col("x") * col("yq")).as("sxy"), sum(col("x") * col("x")).as("sxx"))
      .filter(col("n") >= 3 && col("n") * col("sxx") - col("sx") * col("sx") > 0L)
    val slope = (col("n").cast("double") * col("sxy").cast("double") -
      col("sx").cast("double") * col("sy").cast("double")) /
      ((col("n").cast("double") * col("sxx").cast("double") -
        col("sx").cast("double") * col("sx").cast("double")) * 1e12)
    g.select(col("cohort_date"), col("n").as("n_offsets"),
      r(slope, 9).as("decay_slope"),
      when(slope < 0, r6(lit(-math.log(2.0)) / slope)).as("half_life_days"))
  }

  def retentionHalflifeOracle: String = {
    val slope = "((CAST(n AS DOUBLE)*CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE)) / ((CAST(n AS DOUBLE)*CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE))*1e12))"
    s"""WITH ev AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
       |f AS (SELECT user_id, min(d) AS cohort_date FROM ev GROUP BY 1),
       |sz AS (SELECT cohort_date, count(*) AS cohort_size FROM f GROUP BY 1),
       |act AS (
       |  SELECT f.cohort_date, CAST(e.d - f.cohort_date AS BIGINT) AS x,
       |         count(DISTINCT e.user_id) AS n_active
       |  FROM ev e JOIN f USING (user_id) GROUP BY 1, 2
       |), pts AS (
       |  SELECT a.cohort_date, a.x,
       |         ${sqlFx("ln(CAST(a.n_active AS DOUBLE)/CAST(sz.cohort_size AS DOUBLE))", 12)} AS yq
       |  FROM act a JOIN sz USING (cohort_date)
       |  WHERE a.x >= 1 AND a.n_active > 0
       |), g AS (
       |  SELECT cohort_date, count(*) AS n,
       |         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(yq) AS BIGINT) AS sy,
       |         CAST(sum(x*yq) AS BIGINT) AS sxy, CAST(sum(x*x) AS BIGINT) AS sxx
       |  FROM pts GROUP BY 1
       |  HAVING count(*) >= 3
       |     AND count(*)*CAST(sum(x*x) AS BIGINT) - CAST(sum(x) AS BIGINT)*CAST(sum(x) AS BIGINT) > 0
       |)
       |SELECT cohort_date, n AS n_offsets,
       |       ${sqlR(slope, 9)} AS decay_slope,
       |       CASE WHEN $slope < 0 THEN ${sqlR6(s"${sqlD(-math.log(2.0))}/$slope")} END AS half_life_days
       |FROM g ORDER BY cohort_date""".stripMargin
  }

  /** SLO error budget (5% error share) and the Google-SRE two-window page
    * thresholds: page when the 1h burn exceeds 14.4× budget AND the 6h
    * burn confirms at 6×. */
  val SloErrBudget = 0.05
  val Burn1hPage = 14.4
  val Burn6hPage = 6.0

  /** Multi-window error-budget burn rate — the SRE alerting arithmetic
    * run as a batch readout: per minute, error-rate over trailing 1h and
    * 6h RANGE windows divided by the [[SloErrBudget]] budget, rolled up
    * per hour (max burn per window + how many minutes met the two-window
    * page condition). The events scan collapses map-side to a per-MINUTE
    * relation first; the trailing windows then run over minutes — a
    * relation bounded by the calendar, not the corpus, which is what makes
    * the one global ordered window safe at any scale. Exact integer
    * counting; burns are single divisions of exact rationals.
    */
  def burnRate(spark: SparkSession, dir: String): DataFrame = {
    val m = Tables.events(spark, dir)
      .select(floor(unix_timestamp(col("ts")).cast("double") / 60.0).cast("long").as("m"),
        when(col("event_type") === "error", 1L).otherwise(0L).as("e"))
      .groupBy("m").agg(count(lit(1)).as("tot"), sum(col("e")).as("errs"))
    val w1 = Window.orderBy("m").rangeBetween(-59, 0)
    val w6 = Window.orderBy("m").rangeBetween(-359, 0)
    val burn1 = col("e1").cast("double") / col("t1").cast("double") / SloErrBudget
    val burn6 = col("e6").cast("double") / col("t6").cast("double") / SloErrBudget
    m.withColumn("t1", sum(col("tot")).over(w1))
      .withColumn("e1", sum(col("errs")).over(w1))
      .withColumn("t6", sum(col("tot")).over(w6))
      .withColumn("e6", sum(col("errs")).over(w6))
      .select(floor(col("m").cast("double") / 60.0).cast("long").as("h"),
        fx(burn1, 6).as("b1"), fx(burn6, 6).as("b6"),
        when(burn1 > Burn1hPage && burn6 > Burn6hPage, 1L).otherwise(0L).as("pg"))
      .groupBy("h")
      .agg(count(lit(1)).as("n_minutes"),
        r6(max(col("b1")).cast("double") / 1e6).as("max_burn_1h"),
        r6(max(col("b6")).cast("double") / 1e6).as("max_burn_6h"),
        sum(col("pg")).as("n_page_minutes"))
      .select(date_add(lit("1970-01-01").cast("date"),
          floor(col("h").cast("double") / 24.0).cast("int")).as("day"),
        (col("h") % 24).as("hour"), col("n_minutes"),
        col("max_burn_1h"), col("max_burn_6h"), col("n_page_minutes"))
  }

  def burnRateOracle: String = {
    val burn1 = s"(CAST(e1 AS DOUBLE)/CAST(t1 AS DOUBLE)/${sqlD(SloErrBudget)})"
    val burn6 = s"(CAST(e6 AS DOUBLE)/CAST(t6 AS DOUBLE)/${sqlD(SloErrBudget)})"
    s"""WITH m AS (
       |  SELECT CAST(floor(floor(epoch(ts))/60.0) AS BIGINT) AS m,
       |         count(*) AS tot,
       |         CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS errs
       |  FROM events GROUP BY 1
       |), tw AS (
       |  SELECT m,
       |         CAST(sum(tot) OVER w1 AS BIGINT) AS t1, CAST(sum(errs) OVER w1 AS BIGINT) AS e1,
       |         CAST(sum(tot) OVER w6 AS BIGINT) AS t6, CAST(sum(errs) OVER w6 AS BIGINT) AS e6
       |  FROM m
       |  WINDOW w1 AS (ORDER BY m RANGE BETWEEN 59 PRECEDING AND CURRENT ROW),
       |         w6 AS (ORDER BY m RANGE BETWEEN 359 PRECEDING AND CURRENT ROW)
       |), hr AS (
       |  SELECT CAST(floor(CAST(m AS DOUBLE)/60.0) AS BIGINT) AS h,
       |         ${sqlFx(burn1, 6)} AS b1, ${sqlFx(burn6, 6)} AS b6,
       |         CASE WHEN $burn1 > ${sqlD(Burn1hPage)} AND $burn6 > ${sqlD(Burn6hPage)} THEN 1 ELSE 0 END AS pg
       |  FROM tw
       |)
       |SELECT DATE '1970-01-01' + CAST(floor(CAST(h AS DOUBLE)/24.0) AS INTEGER) AS day,
       |       h % 24 AS hour, count(*) AS n_minutes,
       |       ${sqlR6("CAST(max(b1) AS DOUBLE)/1e6")} AS max_burn_1h,
       |       ${sqlR6("CAST(max(b6) AS DOUBLE)/1e6")} AS max_burn_6h,
       |       CAST(sum(pg) AS BIGINT) AS n_page_minutes
       |FROM hr GROUP BY 1, 2 ORDER BY day, hour""".stripMargin
  }

  /** Haar decomposition depth — levels 1..4 (pair scale up to 16-sample
    * blocks), chosen so the smallest fixture's ~50-event users still fill
    * every level. */
  val HaarLevels = 4

  /** Haar wavelet energy by level — the multiresolution twin of the DFT
    * spectrum (`ts_spectrum`): per user, the orthonormal-Haar detail energy
    * at dyadic scales 2¹..2^[[HaarLevels]], as raw energy and as a share of
    * the total detail energy. A share profile tilted to level 1 is
    * high-frequency jitter; tilted to level 4 is slow drift — the dial that
    * picks smoothing windows. The trick that keeps it EXACT and
    * non-recursive: the unnormalized detail at level l is a ±1-signed block
    * sum of the raw cents (sign = first vs second half of each 2^l block),
    * so every d is a BIGINT, energy_l = Σd²/2^l is a dyadic-exact double,
    * and no level depends on another's output. One events scan exploded
    * ×[[HaarLevels]], windows partitioned by (user, level, block) — the
    * same full-parallel shape as `ts_hurst`.
    */
  def haarEnergy(spark: SparkSession, dir: String): DataFrame = {
    val wRn = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val base = Tables.events(spark, dir)
      .select(col("user_id"),
        floor(col("value") * 1e2 + 0.5).cast("long").as("c"),
        row_number().over(wRn).cast("long").as("rn"))
    val ex = base
      .select(col("user_id"), col("c"), col("rn"),
        explode(array((1 to HaarLevels).map(l => lit(l.toLong)): _*)).as("lvl"))
      .withColumn("bs", pow(lit(2.0), col("lvl").cast("double")).cast("long"))
      .withColumn("blk", floor((col("rn") - 1) / col("bs")).cast("long"))
      .withColumn("sgn",
        when((col("rn") - 1) % col("bs") < col("bs") / 2, 1L).otherwise(-1L))
    val wBlk = Window.partitionBy("user_id", "lvl", "blk")
    val lvls = ex
      .withColumn("cnt", count(lit(1)).over(wBlk))
      .filter(col("cnt") === col("bs"))
      .groupBy("user_id", "lvl", "blk", "bs")
      .agg(sum(col("c") * col("sgn")).as("d"))
      .groupBy("user_id", "lvl", "bs")
      .agg(count(lit(1)).as("n_blocks"), sum(col("d") * col("d")).as("dsq"))
      .select(col("user_id"), col("lvl"), col("n_blocks"),
        (col("dsq").cast("double") / col("bs").cast("double") / 1e4).as("energy"))
    val wU = Window.partitionBy("user_id")
    lvls
      .withColumn("tot", sum(fx(col("energy"), 6)).over(wU))
      .select(col("user_id"), col("lvl"), col("n_blocks"), r6(col("energy")).as("energy"),
        r6(fx(col("energy"), 6).cast("double") / col("tot").cast("double")).as("share"))
  }

  def haarEnergyOracle: String = {
    val sizes = (1 to HaarLevels).map(l => s"($l)").mkString(", ")
    s"""WITH base AS MATERIALIZED (
       |  SELECT user_id, CAST(floor(value*1e2 + 0.5) AS BIGINT) AS c,
       |         CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS rn
       |  FROM events
       |), ex AS (
       |  SELECT b.user_id, b.c, b.rn, CAST(nv.lvl AS BIGINT) AS lvl,
       |         CAST(power(2.0, nv.lvl) AS BIGINT) AS bs
       |  FROM base b CROSS JOIN (VALUES $sizes) nv(lvl)
       |), st AS (
       |  SELECT user_id, lvl, bs,
       |         CAST(floor(CAST(rn - 1 AS DOUBLE)/CAST(bs AS DOUBLE)) AS BIGINT) AS blk,
       |         CASE WHEN (rn - 1) % bs < bs // 2 THEN c ELSE -c END AS sc,
       |         count(*) OVER (PARTITION BY user_id, lvl,
       |           CAST(floor(CAST(rn - 1 AS DOUBLE)/CAST(bs AS DOUBLE)) AS BIGINT)) AS cnt
       |  FROM ex
       |), blocks AS (
       |  SELECT user_id, lvl, bs, blk, CAST(sum(sc) AS BIGINT) AS d
       |  FROM st WHERE cnt = bs GROUP BY 1, 2, 3, 4
       |), lvls AS (
       |  SELECT user_id, lvl, count(*) AS n_blocks,
       |         CAST(sum(d*d) AS DOUBLE)/CAST(max(bs) AS DOUBLE)/1e4 AS energy
       |  FROM blocks GROUP BY 1, 2
       |), tot AS (
       |  SELECT *, CAST(sum(${sqlFx("energy", 6)}) OVER (PARTITION BY user_id) AS BIGINT) AS t
       |  FROM lvls
       |)
       |SELECT user_id, lvl, n_blocks, ${sqlR6("energy")} AS energy,
       |       ${sqlR6(s"CAST(${sqlFx("energy", 6)} AS DOUBLE)/CAST(t AS DOUBLE)")} AS share
       |FROM tot ORDER BY user_id, lvl""".stripMargin
  }

  /** Chi-square 95% critical value at df = [[AcfK]] (6). */
  val LjungBoxCrit05 = 12.592

  /** Ljung–Box portmanteau test per user — turns the ACF diagnostic
    * (`ts_autocorr`) into a DECISION: Q = n(n+2)·Σ_k r_k²/(n−k) over lags
    * 1..[[AcfK]], compared against the χ²₆ 95% critical value; a user
    * whose Q clears it has real serial structure (model it), below it the
    * series is white-ish (don't). Derived entirely from the r6-rounded
    * ACF values — bit-identical inputs in both engines — with the six
    * terms summed in one fixed-order projection. Adds one tiny projection
    * on top of the shared one-shuffle ACF pass.
    */
  def ljungBox(spark: SparkSession, dir: String): DataFrame = {
    val a = autocorr(spark, dir)
    val nD = col("n").cast("double")
    val q = (1 to AcfK).map(k =>
      col(s"acf_$k") * col(s"acf_$k") / (nD - k.toDouble)).reduce(_ + _) *
      nD * (nD + 2.0)
    a.filter(col("n") > (AcfK + 1).toLong)
      .select(col("user_id"), col("n").as("n_obs"), r6(q).as("q_stat"),
        (q > LjungBoxCrit05).as("serial_correlated"))
  }

  def ljungBoxOracle: String = {
    val nD = "CAST(n AS DOUBLE)"
    val q = "(" + (1 to AcfK).map(k =>
      s"acf_$k*acf_$k/($nD - ${k.toDouble}e0)").mkString(" + ") +
      s")*$nD*($nD + 2.0e0)"
    s"""WITH acf AS (
       |${autocorrOracle}
       |)
       |SELECT user_id, n AS n_obs, ${sqlR6(q)} AS q_stat,
       |       ($q > ${sqlD(LjungBoxCrit05)}) AS serial_correlated
       |FROM acf WHERE n > ${AcfK + 1} ORDER BY user_id""".stripMargin
  }

  /** Per-user behavioral entropy — how PREDICTABLE each user's event-type
    * mix is: Shannon entropy of the user's type distribution plus its
    * normalized form H/ln(n_types) ∈ [0,1] (1 = uniform explorer, 0 =
    * single-type habit). The per-user twin of the chain-level
    * `events_markov_entropy`, and the usual feature a churn model ingests.
    * Shares are exact rationals; each −p·ln p term fx12-quantizes before
    * the order-insensitive per-user sum. One (user, type) hash agg, one
    * user-partitioned window — parallelism = users.
    */
  def userEntropy(spark: SparkSession, dir: String): DataFrame = {
    val g = Tables.events(spark, dir)
      .groupBy("user_id", "event_type").agg(count(lit(1)).as("c"))
    val wU = Window.partitionBy("user_id")
    val p = col("c").cast("double") / col("n").cast("double")
    g.withColumn("n", sum(col("c")).over(wU))
      .select(col("user_id"), col("n"), fx(-p * log(p), 12).as("t"))
      .groupBy("user_id")
      .agg(max(col("n")).as("n_events"), count(lit(1)).as("n_types"),
        sum(col("t")).as("tfx"))
      .select(col("user_id"), col("n_events"), col("n_types"),
        r6(col("tfx").cast("double") / 1e12).as("entropy"),
        when(col("n_types") > 1,
          r6(col("tfx").cast("double") / 1e12 /
            log(col("n_types").cast("double")))).as("norm_entropy"))
  }

  def userEntropyOracle: String = {
    val p = "(CAST(c AS DOUBLE)/CAST(n AS DOUBLE))"
    s"""WITH g AS (
       |  SELECT user_id, event_type, count(*) AS c FROM events GROUP BY 1, 2
       |), t AS (
       |  SELECT user_id, CAST(sum(c) OVER (PARTITION BY user_id) AS BIGINT) AS n, c
       |  FROM g
       |), s AS (
       |  SELECT user_id, max(n) AS n_events, count(*) AS n_types,
       |         CAST(sum(${sqlFx(s"-$p*ln($p)", 12)}) AS BIGINT) AS tfx
       |  FROM t GROUP BY 1
       |)
       |SELECT user_id, n_events, n_types,
       |       ${sqlR6("CAST(tfx AS DOUBLE)/1e12")} AS entropy,
       |       CASE WHEN n_types > 1
       |            THEN ${sqlR6("CAST(tfx AS DOUBLE)/1e12/ln(CAST(n_types AS DOUBLE))")}
       |       END AS norm_entropy
       |FROM s ORDER BY user_id""".stripMargin
  }

  /** CV below which a user's inter-event cadence is suspiciously regular
    * (cron-like) and the minimum gaps for the stat to mean anything. */
  val CadenceBotCv = 0.1
  val CadenceMinGaps = 10L

  /** Inter-event cadence regularity per user — the bot screen that
    * complements the burst detector ([[velocityFlags]]): a human's
    * inter-event gaps are ragged (coefficient of variation near or above
    * 1), a scheduler's are metronomic (CV → 0). Gaps are exact integer
    * seconds from one lag pass; mean/sd from BIGINT moments (gap ≤ ~10⁶ s,
    * squares ≤ 10¹², ×10⁴ gaps ≪ 2⁶³); users with fewer than
    * [[CadenceMinGaps]] gaps are excluded rather than reported on noise.
    */
  def cadenceCv(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val g = Tables.events(spark, dir)
      .select(col("user_id"), unix_timestamp(col("ts")).as("s"), col("ts"), col("event_id"))
      .withColumn("gap", col("s") - lag(col("s"), 1).over(w))
      .filter(col("gap").isNotNull)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_gaps"), sum(col("gap")).as("sg"),
        sum(col("gap") * col("gap")).as("sgg"))
      .filter(col("n_gaps") >= CadenceMinGaps && col("sg") > 0L)
    val mean = col("sg").cast("double") / col("n_gaps").cast("double")
    val variance = (col("sgg").cast("double") -
      col("sg").cast("double") * col("sg").cast("double") / col("n_gaps").cast("double")) /
      (col("n_gaps") - 1L).cast("double")
    g.select(col("user_id"), col("n_gaps"),
      r6(mean).as("mean_gap_s"), r6(sqrt(variance)).as("sd_gap_s"),
      r6(sqrt(variance) / mean).as("cv"),
      (sqrt(variance) / mean < CadenceBotCv).as("bot_like"))
  }

  def cadenceCvOracle: String = {
    val mean = "(CAST(sg AS DOUBLE)/CAST(n_gaps AS DOUBLE))"
    val vr = "((CAST(sgg AS DOUBLE) - CAST(sg AS DOUBLE)*CAST(sg AS DOUBLE)/CAST(n_gaps AS DOUBLE))/CAST(n_gaps - 1 AS DOUBLE))"
    s"""WITH base AS (
       |  SELECT user_id,
       |         CAST(floor(epoch(ts)) AS BIGINT)
       |           - lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER w AS gap
       |  FROM events
       |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
       |), g AS (
       |  SELECT user_id, count(*) AS n_gaps,
       |         CAST(sum(gap) AS BIGINT) AS sg, CAST(sum(gap*gap) AS BIGINT) AS sgg
       |  FROM base WHERE gap IS NOT NULL GROUP BY 1
       |  HAVING count(*) >= $CadenceMinGaps AND sum(gap) > 0
       |)
       |SELECT user_id, n_gaps, ${sqlR6(mean)} AS mean_gap_s,
       |       ${sqlR6(s"sqrt($vr)")} AS sd_gap_s,
       |       ${sqlR6(s"sqrt($vr)/$mean")} AS cv,
       |       (sqrt($vr)/$mean < ${sqlD(CadenceBotCv)}) AS bot_like
       |FROM g ORDER BY user_id""".stripMargin
  }

  /** Out-of-order ingestion audit — how badly event timestamps regress
    * against ARRIVAL order (event_id, the ingestion sequence): per user
    * stream, an event is late if its ts is behind the running max of
    * everything that arrived before it, and its lateness is that
    * regression in seconds — exactly the quantity a streaming watermark
    * must cover, measured from the batch log. Daily rollup: late share,
    * max and mean lateness. One window pass partitioned by user (running
    * max over arrival order), then a per-day agg; all integer seconds.
    */
  def outOfOrderAudit(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"),
        unix_timestamp(col("ts")).as("s"), to_date(col("ts")).as("day"))
      .withColumn("prior_max", max(col("s")).over(w))
      .select(col("day"),
        when(col("prior_max") > col("s"), col("prior_max") - col("s"))
          .otherwise(0L).as("late_s"))
      .groupBy("day")
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("late_s") > 0, 1L).otherwise(0L)).as("n_late"),
        max(col("late_s")).as("max_lateness_s"),
        sum(col("late_s")).as("late_sum"))
      .select(col("day"), col("n_events"), col("n_late"),
        r6(col("n_late").cast("double") / col("n_events").cast("double")).as("late_frac"),
        col("max_lateness_s"),
        when(col("n_late") > 0,
          r6(col("late_sum").cast("double") / col("n_late").cast("double")))
          .as("mean_lateness_s"))
  }

  def outOfOrderAuditOracle: String =
    s"""WITH ev AS (
       |  SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS s,
       |         CAST(ts AS DATE) AS day
       |  FROM events
       |), l AS (
       |  SELECT day,
       |         CASE WHEN max(s) OVER (PARTITION BY user_id ORDER BY event_id
       |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) > s
       |              THEN max(s) OVER (PARTITION BY user_id ORDER BY event_id
       |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) - s
       |              ELSE 0 END AS late_s
       |  FROM ev
       |)
       |SELECT day, count(*) AS n_events,
       |       CAST(sum(CASE WHEN late_s > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
       |       ${sqlR6("CAST(sum(CASE WHEN late_s > 0 THEN 1 ELSE 0 END) AS DOUBLE)/CAST(count(*) AS DOUBLE)")} AS late_frac,
       |       CAST(max(late_s) AS BIGINT) AS max_lateness_s,
       |       CASE WHEN sum(CASE WHEN late_s > 0 THEN 1 ELSE 0 END) > 0
       |            THEN ${sqlR6("CAST(sum(late_s) AS DOUBLE)/CAST(sum(CASE WHEN late_s > 0 THEN 1 ELSE 0 END) AS DOUBLE)")}
       |       END AS mean_lateness_s
       |FROM l GROUP BY 1 ORDER BY day""".stripMargin

  /** Salt fan-out for [[saltedJoin]] and the events-per-user threshold above
    * which a user counts as heavy (fixture median is 66, p90 ≈ 78 at every
    * sf, so 75 splits the population meaningfully at all three scales).
    */
  val JoinSalts = 8
  val HeavyUserN = 75L

  /** Skew-salted large×large join — the JOIN twin of [[saltedAgg]]. Enriches
    * each event with its user's profile (here: per-user event count) when the
    * profile side is TOO BIG TO BROADCAST (billions of users at 100 TB) and
    * the fact side is skewed on the join key, so a plain shuffle join sends
    * every hot user's events to one task.
    *
    * The remedy is the classic salt/replicate decomposition: the fact side
    * gets a deterministic salt in [0, S) (pmod of event_id — NOT rand(), so
    * runs are replayable and the oracle can ignore the salt entirely), the
    * profile side is replicated S-fold with every salt value, and the join key
    * becomes (user_id, salt) — each hot user's rows now spread over S tasks,
    * at the cost of S× the profile side's shuffle volume. The `shuffle_hash`
    * hint pins the shuffled-join shape the salt exists to fix (at fixture
    * scale Spark would otherwise just broadcast the profile and the salt
    * would be load-bearing only in the plan we're NOT testing); AQE's
    * runtime skew-join split is the automatic alternative for sort-merge
    * plans, but salting is the portable form that also covers aggregations
    * ([[saltedAgg]]) and works under any join strategy.
    *
    * The salt never reaches the output: results are aggregated per
    * event_type, integer-sum arithmetic throughout, so the oracle is the
    * UNSALTED plain join — salting must be a pure execution-layout choice.
    */
  def saltedJoin(spark: SparkSession, dir: String, salts: Int = JoinSalts,
      heavyN: Long = HeavyUserN): DataFrame = {
    val ev = Tables.events(spark, dir).select("event_id", "user_id", "event_type")
    val profile = ev.groupBy("user_id").agg(count(lit(1)).as("user_n"))
    val replicated = profile.withColumn("salt",
      explode(array((0 until salts).map(lit(_)): _*)))
    val salted = ev.withColumn("salt", pmod(col("event_id"), lit(salts.toLong)).cast("int"))
    salted.join(replicated.hint("shuffle_hash"), Seq("user_id", "salt"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        sum(col("user_n")).as("sum_user_n"),
        r6(sum(col("user_n")).cast("double") / count(lit(1))).as("avg_user_n"),
        sum(when(col("user_n") >= heavyN, 1L).otherwise(0L)).as("n_heavy"))
  }

  def saltedJoinOracle: String =
    s"""WITH profile AS (SELECT user_id, count(*) AS user_n FROM events GROUP BY 1)
       |SELECT e.event_type, count(*) AS n_events,
       |       CAST(sum(p.user_n) AS BIGINT) AS sum_user_n,
       |       ${sqlR6("CAST(sum(p.user_n) AS DOUBLE)/count(*)")} AS avg_user_n,
       |       CAST(sum(CASE WHEN p.user_n >= $HeavyUserN THEN 1 ELSE 0 END) AS BIGINT) AS n_heavy
       |FROM events e JOIN profile p USING (user_id)
       |GROUP BY 1 ORDER BY event_type""".stripMargin

  /** Count-min-sketch point-count estimates over the event_type vocabulary —
    * the third sketch next to HLL (distinct counts) and approx_percentile
    * (quantiles): CMS answers "how many of THIS key" from a few-KB
    * mergeable array without a per-key hash table, the structure a 100-TB
    * frequency-monitoring pass keeps per partition and merges once.
    *
    * eps 1e-3 → width 2,000 counters per row, so a 5-key vocabulary is
    * collision-free in practice and the estimate lands inside the same 2%
    * tolerance the HLL rows use. The single-row sketch binary is collected
    * to the driver and probed there (point queries are driver-side by
    * nature); the probe vocabulary is the exact aggregate's own keys — a
    * ≤ #event_types-row fold, same bounded-literal idiom as the centroid
    * and schedule folds. Oracle design follows [[dailyUsersSketch]]: the
    * engine-specific estimate can't hash-match, so the row carries the
    * exact count plus an in-tolerance boolean the oracle asserts true.
    */
  def typeCountsCms(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, dir)
    val skBytes = ev
      .agg(count_min_sketch(col("event_type"), lit(0.001d), lit(0.99d), lit(42)).as("sk"))
      .head().getAs[Array[Byte]](0)
    val cms = org.apache.spark.util.sketch.CountMinSketch.readFrom(
      new java.io.ByteArrayInputStream(skBytes))
    val exact = ev.groupBy("event_type").agg(count(lit(1)).as("n_exact"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    exact.toSeq.sortBy(_._1)
      .map { case (t, n) =>
        val est = cms.estimateCount(t)
        (t, n, math.abs(est - n).toDouble * 100.0 / n.toDouble <= HllTolPct)
      }
      .toDF("event_type", "n_exact", "cms_within_tol")
  }

  def typeCountsCmsOracle: String =
    """SELECT event_type, count(*) AS n_exact, true AS cms_within_tol
      |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin

  /** The event_type domain the quality audit enforces (same vocabulary the
    * stratified sampler and pivot use).
    */
  val TypeDomain: Seq[String] = SampleRates.map(_._1).sorted

  /** Data-quality audit — the profile-the-table pass a production ingest runs
    * before anything downstream trusts the data: every check is a conditional
    * sum in ONE aggregate over the table (partial aggs collapse map-side to a
    * single row per partition; the duplicate-key check rides countDistinct's
    * expand in the same job), then the single wide row is melted to
    * (check_name, n) rows with `unpivot` — a report shape that unions across
    * tables/days. Checks: row count, null keys, duplicate primary keys,
    * event_type outside the declared domain, timestamps outside the sane
    * range, non-finite values.
    */
  def qualityReport(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val domain = TypeDomain.map(lit(_))
    val wide = ev.agg(
      count(lit(1)).as("n_rows"),
      sum(when(col("user_id").isNull, 1L).otherwise(0L)).as("n_null_user"),
      (count(lit(1)) - countDistinct(col("event_id"))).as("n_dup_event_id"),
      sum(when(!col("event_type").isin(domain: _*), 1L).otherwise(0L)).as("n_bad_type"),
      sum(when(year(col("ts")) < 2020 || year(col("ts")) >= 2035, 1L).otherwise(0L))
        .as("n_ts_out_of_range"),
      sum(when(col("value").isNull || isnan(col("value")), 1L).otherwise(0L))
        .as("n_nonfinite_value"))
    val checks = Seq("n_rows", "n_null_user", "n_dup_event_id", "n_bad_type",
      "n_ts_out_of_range", "n_nonfinite_value")
    wide.unpivot(Array.empty[Column], checks.map(col).toArray, "check_name", "n")
  }

  def qualityReportOracle: String = {
    val domainSql = TypeDomain.mkString("('", "', '", "')")
    s"""WITH a AS (
       |  SELECT count(*) AS n_rows,
       |         CAST(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_user,
       |         count(*) - count(DISTINCT event_id) AS n_dup_event_id,
       |         CAST(sum(CASE WHEN event_type NOT IN $domainSql THEN 1 ELSE 0 END) AS BIGINT) AS n_bad_type,
       |         CAST(sum(CASE WHEN year(ts) < 2020 OR year(ts) >= 2035 THEN 1 ELSE 0 END) AS BIGINT) AS n_ts_out_of_range,
       |         CAST(sum(CASE WHEN value IS NULL OR isnan(value) THEN 1 ELSE 0 END) AS BIGINT) AS n_nonfinite_value
       |  FROM events
       |)
       |SELECT 'n_rows' AS check_name, n_rows AS n FROM a
       |UNION ALL SELECT 'n_null_user', n_null_user FROM a
       |UNION ALL SELECT 'n_dup_event_id', n_dup_event_id FROM a
       |UNION ALL SELECT 'n_bad_type', n_bad_type FROM a
       |UNION ALL SELECT 'n_ts_out_of_range', n_ts_out_of_range FROM a
       |UNION ALL SELECT 'n_nonfinite_value', n_nonfinite_value FROM a
       |ORDER BY check_name""".stripMargin
  }

  /** approx_percentile accuracy: rank error ≤ n/accuracy = n·1e-4 rows. */
  val PctSketchAccuracy = 10000

  /** Bracket half-width in QUANTILE space for the sketch check. It must
    * cover two effects: the sketch's rank error (≤ 1e-4 of n) and the
    * discreteness gap — approx_percentile returns an ACTUAL element while
    * `percentile` interpolates, so even a perfect sketch can sit one rank
    * below the interpolated bound (that off-by-one is what a q±1e-4 bracket
    * tripped on). 0.01 ≥ one rank for every fixture group (n ≥ a few
    * hundred) while still pinning the estimate to within 1% of the target
    * quantile — drift past that fails the gate.
    */
  val PctSketchTolQ = 0.01

  /** Sketch-based quantiles: `approx_percentile` (Greenwald-Khanna style
    * summary — mergeable, bounded memory) next to the exact forms
    * ([[valueQuantiles]] buffers per group, [[valueQuantilesScalable]]
    * sorts). At 100 TB the sketch is the only per-pass option when keys are
    * many and re-sorting per query is too dear.
    *
    * Oracle design (the HLL pattern adapted to quantiles): the sketch's
    * guarantee is on RANK, so the check brackets each estimate between the
    * exact quantiles at q ± [[PctSketchTolQ]] — computable in both engines —
    * and the row carries the exact q50/q99 (hash-checked) plus the bracket
    * booleans the oracle asserts literally true.
    */
  def valueQuantilesSketch(spark: SparkSession, dir: String): DataFrame = {
    def bracket(q: Double, est: Column): Column =
      est >= percentile(col("value"), lit(math.max(0.0, q - PctSketchTolQ))) &&
        est <= percentile(col("value"), lit(math.min(1.0, q + PctSketchTolQ)))
    Tables.events(spark, dir).groupBy("event_type")
      .agg(
        r6(percentile(col("value"), lit(0.5))).as("q50"),
        r6(percentile(col("value"), lit(0.99))).as("q99"),
        bracket(0.5, percentile_approx(col("value"), lit(0.5), lit(PctSketchAccuracy)))
          .as("q50_within_tol"),
        bracket(0.99, percentile_approx(col("value"), lit(0.99), lit(PctSketchAccuracy)))
          .as("q99_within_tol"),
        count(lit(1)).as("n"))
  }

  def valueQuantilesSketchOracle: String =
    s"""SELECT event_type,
       |       ${sqlR6("quantile_cont(value, 0.5e0)")} AS q50,
       |       ${sqlR6("quantile_cont(value, 0.99e0)")} AS q99,
       |       true AS q50_within_tol, true AS q99_within_tol,
       |       count(*) AS n
       |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin

  /** MAD outlier multiplier: 3σ-equivalent under normality (1.4826·MAD ≈ σ). */
  val MadK: Double = 3.0 * 1.4826

  /** Robust anomaly summary per series: median + MAD (median absolute
    * deviation) and the count of |x − med| > [[MadK]]·MAD outliers — the
    * robust twin of `ts_rolling_anomaly`'s mean/std z-scores (mean and std
    * are themselves dragged by the outliers they're meant to flag; the
    * median pair is breakdown-point-0.5). Flags ~5% of these heavy-tailed
    * fixtures where a clean Gaussian would flag ~0.3%.
    *
    * Two exact percentile passes (per-type buffering — the exact-twin caveat
    * shared with `ts_value_quantiles`; the scalable path is the rank-based
    * or sketch variant), each reduced to a 5-row broadcast.
    */
  def madAnomaly(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val med = ev.groupBy("event_type").agg(percentile(col("value"), lit(0.5)).as("med"))
    val mad = ev.join(broadcast(med), "event_type")
      .select(col("event_type"), abs(col("value") - col("med")).as("d"))
      .groupBy("event_type").agg(percentile(col("d"), lit(0.5)).as("mad"))
    ev.join(broadcast(med), "event_type").join(broadcast(mad), "event_type")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        r6(max(col("med"))).as("med"),
        r6(max(col("mad"))).as("mad"),
        sum(when(abs(col("value") - col("med")) > lit(MadK) * col("mad"), 1L)
          .otherwise(0L)).as("n_anomalies"))
  }

  def madAnomalyOracle: String =
    s"""WITH med AS (
       |  SELECT event_type, quantile_cont(value, 0.5e0) AS med FROM events GROUP BY 1
       |), mad AS (
       |  SELECT e.event_type, quantile_cont(abs(e.value - m.med), 0.5e0) AS mad
       |  FROM events e JOIN med m USING (event_type) GROUP BY 1
       |)
       |SELECT e.event_type, count(*) AS n,
       |       ${sqlR6("max(m.med)")} AS med, ${sqlR6("max(d.mad)")} AS mad,
       |       CAST(sum(CASE WHEN abs(e.value - m.med) > ${sqlD(MadK)} * d.mad
       |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalies
       |FROM events e JOIN med m USING (event_type) JOIN mad d USING (event_type)
       |GROUP BY 1 ORDER BY event_type""".stripMargin

  /** Equal-count decile binning per event_type — the feature-engineering
    * discretizer (rank-based binning is what a trainer wants when the raw
    * value distribution is skewed): ntile(10) over (value, event_id), then
    * per-bin count/bounds/mean. The deterministic tiebreak makes the binning
    * total-ordered, so both engines assign identical bins.
    *
    * EXACT and block-parallel (r10): ntile is pure rank arithmetic, so the
    * per-type ntile window (one whole-type sort per task) collapses onto
    * [[blockedRank]] + the standard bucket closed form — with n rows and b
    * buckets, q = n div b and r = n mod b, buckets 1..r hold q+1 rows and
    * the rest q (what Spark's NTile and DuckDB's ntile both implement), so
    *   decile(rn) = ⌈rn/(q+1)⌉            for rn ≤ r·(q+1)
    *              = r + ⌈(rn−r·(q+1))/q⌉  otherwise.
    * At 100 TB bin EDGES from a quantile sketch replace true ntile.
    */
  def valueDeciles(spark: SparkSession, dir: String,
                   blockRows: Long = SeriesBlockRows): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_type"), col("event_id"), col("value"))
    val nTab = ev.groupBy("event_type").agg(count(lit(1)).as("n"))
    val q = floor(col("n") / 10).cast("long")
    val r = col("n") % 10
    val decile = when(col("rn") <= r * (q + 1), ceil(col("rn") / (q + 1)))
      .otherwise(r + ceil((col("rn") - r * (q + 1)) / greatest(q, lit(1L))))
    blockedRank(ev, "event_type", Seq(col("value"), col("event_id")),
        doubleBuckets(ev, col("value"), blockRows,
          Some(s"$dir#events.value")), "rn")
      .join(broadcast(nTab), "event_type")
      .withColumn("decile", decile.cast("int"))
      .groupBy("event_type", "decile")
      .agg(count(lit(1)).as("n"),
        r6(min(col("value"))).as("lo"),
        r6(max(col("value"))).as("hi"),
        r6(sum(fx(col("value"), 6)).cast("double") / 1e6 / count(lit(1))).as("mean_value"))
  }

  def valueDecilesOracle: String =
    s"""WITH b AS (
       |  SELECT event_type, value,
       |         ntile(10) OVER (PARTITION BY event_type ORDER BY value, event_id) AS decile
       |  FROM events
       |)
       |SELECT event_type, CAST(decile AS INT) AS decile, count(*) AS n,
       |       ${sqlR6("min(value)")} AS lo, ${sqlR6("max(value)")} AS hi,
       |       ${sqlR6(s"CAST(sum(${sqlFx("value", 6)}) AS DOUBLE) / 1e6 / count(*)")} AS mean_value
       |FROM b GROUP BY 1, 2 ORDER BY event_type, decile""".stripMargin

  /** Tumbling-window aggregate over event time (§7.5 streaming-shaped, batch form). */
  def tumbling(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(window(col("ts"), "1 hour").getField("start").as("ws"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        r6(sum(col("value"))).as("sum_value"),
        r6(avg(col("value"))).as("avg_value"))
      .orderBy("ws", "event_type")

  // ---- DuckDB oracle twins ----

  private def seriesSql: String = seriesSqlK("event_type")
  private def seriesSqlK(key: String): String =
    s"""WITH series AS (
      |  SELECT $key, value,
      |         CAST(row_number() OVER (PARTITION BY $key ORDER BY ts, event_id) - 1 AS INT) AS t,
      |         count(*) OVER (PARTITION BY $key) AS n
      |  FROM events
      |)""".stripMargin

  /** CTE tails over an existing `series(<key>, t, value, n)` CTE, so the same
    * chain runs against the events table or the multivariate generated frame.
    */
  private def trendedTail(key: String): String =
    s""", trended AS (
      |  SELECT *, avg(value) OVER (PARTITION BY $key ORDER BY t ROWS BETWEEN 8 PRECEDING AND 8 FOLLOWING) AS trend
      |  FROM series
      |), detr_t AS (
      |  SELECT *, value - trend AS detr FROM trended
      |)""".stripMargin

  private def spectrumTail(key: String): String = trendedTail(key) +
    s""", freqs AS (
       |  SELECT $key, CAST(g.k AS INT) AS k
       |  FROM (SELECT DISTINCT $key, n FROM series) s,
       |       LATERAL (SELECT unnest(generate_series(1, CAST(least($MaxFreq, CAST(ceil(n/2.0e0) AS BIGINT) - 1) AS BIGINT))) AS k) g
       |), spectrum AS (
       |  SELECT d.$key, f.k,
       |         ${sqlR6(s"CAST(sum(${sqlFx9(s"d.detr * cos(${sqlD(2.0 * math.Pi)} * f.k * d.t / d.n)")}) AS DOUBLE)/1e9")} AS re,
       |         ${sqlR6(s"-(CAST(sum(${sqlFx9(s"d.detr * sin(${sqlD(2.0 * math.Pi)} * f.k * d.t / d.n)")}) AS DOUBLE)/1e9)")} AS im,
       |         max(d.n) AS n
       |  FROM detr_t d JOIN freqs f USING ($key)
       |  GROUP BY d.$key, f.k
       |), spectrum_a AS (
       |  SELECT *, ${sqlR6("sqrt(re*re + im*im)")} AS amplitude FROM spectrum
       |)""".stripMargin

  /** spectrum tails + top-K + seasonality + full decomposition, ending in CTE
    * `dec(<key>, t, value, trend, seasonality, residual)`. private[operators]
    * so Diffusion's notebook-twin oracle composes the SAME chain over a
    * noised generated frame.
    */
  private[operators] def decomposeCtes(key: String): String = spectrumTail(key) +
    s""", top AS (
       |  SELECT $key, k, re, im
       |  FROM (SELECT *, row_number() OVER (PARTITION BY $key ORDER BY amplitude DESC, k ASC) AS rn FROM spectrum_a)
       |  WHERE rn <= $TopK
       |), seas AS (
       |  SELECT d.$key, d.t,
       |         ${sqlR6(s"CAST(sum(${sqlFx9(s"(2.0e0/d.n) * (b.re * cos(${sqlD(2.0 * math.Pi)} * b.k * d.t / d.n) - b.im * sin(${sqlD(2.0 * math.Pi)} * b.k * d.t / d.n))")}) AS DOUBLE)/1e9")} AS seasonality
       |  FROM (SELECT $key, t, n FROM detr_t) d JOIN top b USING ($key)
       |  GROUP BY d.$key, d.t
       |), dec AS (
       |  SELECT d.$key, d.t, ${sqlR6("d.value")} AS value, ${sqlR6("d.trend")} AS trend,
       |         s.seasonality, ${sqlR6("d.value - d.trend - s.seasonality")} AS residual
       |  FROM detr_t d JOIN seas s ON d.$key = s.$key AND d.t = s.t
       |)""".stripMargin

  def spectrumOracle: String = spectrumOracleK("event_type")
  def spectrumOracleK(key: String): String = seriesSqlK(key) + spectrumTail(key) +
    s" SELECT $key, k, re, im, amplitude FROM spectrum_a ORDER BY $key, k"

  def topBinsOracle: String = topBinsOracleK("event_type")
  def topBinsOracleK(key: String): String = seriesSqlK(key) + spectrumTail(key) +
    s""" SELECT $key, k, re, im, amplitude
       | FROM (SELECT *, row_number() OVER (PARTITION BY $key ORDER BY amplitude DESC, k ASC) AS rn FROM spectrum_a)
       | WHERE rn <= $TopK ORDER BY $key, k""".stripMargin

  def decomposeOracle: String = decomposeOracleK("event_type")
  def decomposeOracleK(key: String): String = seriesSqlK(key) + decomposeCtes(key) +
    s" SELECT * FROM dec ORDER BY 1, 2"

  def seasonalStrengthOracle: String = {
    def vr(x: String) =
      s"((CAST(sum(${sqlFx(s"($x)*($x)", 7)}) AS DOUBLE)/1e7 - " +
        s"(CAST(sum(${sqlFx9(x)}) AS DOUBLE)/1e9) * (CAST(sum(${sqlFx9(x)}) AS DOUBLE)/1e9) / CAST(count(*) AS DOUBLE)) " +
        s"/ CAST(count(*) AS DOUBLE))"
    seriesSqlK("event_type") + decomposeCtes("event_type") +
      s""" SELECT event_type, count(*) AS n,
         | ${sqlR6(s"greatest(0.0e0, 1.0e0 - ${vr("residual")} / ${vr("seasonality + residual")})")} AS f_seasonal,
         | ${sqlR6(s"greatest(0.0e0, 1.0e0 - ${vr("residual")} / ${vr("trend + residual")})")} AS f_trend
         | FROM dec GROUP BY 1 ORDER BY 1""".stripMargin
  }

  def decomposeMseOracle: String = seriesSqlK("event_type") + decomposeCtes("event_type") +
    s""" SELECT event_type, ${sqlR6(s"(CAST(sum(${sqlFx("pow(value - trend - seasonality, 2)", 7)}) AS DOUBLE)/1e7)/count(*)")} AS mse, count(*) AS n
       | FROM dec GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Multivariate decompose oracle: same tails over a generated (series_id,
    * dim_id)-packed series base instead of the events table.
    */
  def decomposeDimOracle: String =
    s"""WITH mv AS (${Generators.multivariateSqlCore("mixed", 50, 64, DimD)}),
       |series AS (
       |  SELECT series_id * $DimD + dim_id AS skey, t, value,
       |         count(*) OVER (PARTITION BY series_id, dim_id) AS n
       |  FROM mv
       |)${decomposeCtes("skey")}
       | SELECT CAST(floor(skey / $DimD) AS BIGINT) AS series_id,
       |        CAST(skey % $DimD AS INT) AS dim_id, t, value, trend, seasonality, residual
       | FROM dec ORDER BY 1, 2, 3""".stripMargin

  def strideOracle: String = strideOracleK("event_type")
  def strideOracleK(key: String): String = seriesSqlK(key) +
    s" SELECT $key, t, ${sqlR6("value")} AS value FROM series WHERE t % 5 = 0 ORDER BY $key, t"

  def tumblingOracle: String =
    s"""SELECT date_trunc('hour', ts) AS ws, event_type, count(*) AS n_events,
       |       ${sqlR6("sum(value)")} AS sum_value, ${sqlR6("avg(value)")} AS avg_value
       |FROM events GROUP BY 1, 2 ORDER BY ws, event_type""".stripMargin

  /** Heavy per-series queries default to the sf-scaling `user_id` key (15 →
    * 1,500 series across sf0.001 → sf0.1): window + DFT parallelism then grows
    * with the data instead of pinning at the 5 distinct event_types
    * (VERDICT r1 "what's wrong #1b"). `ts_decompose`/`ts_decompose_mse` stay
    * event_type-keyed as the parity queries with the reference's few-series
    * decomposition shape (models/diffusion_ts_model.py:200-290).
    */
  // ---------------- lead-lag cross-correlation ----------------

  /** Max lag (hours) the cross-correlation scans, each side of 0. */
  val XcorrMaxLag = 3

  /** Lead-lag cross-correlation between event-type activity series — the
    * "does browsing lead buying, and by how many hours?" diagnostic: for
    * every type pair (a < b) and lag L ∈ [−[[XcorrMaxLag]], +[[XcorrMaxLag]]],
    * the Pearson correlation of a's hourly event count at hour h with b's at
    * h+L, over the DENSE hour spine (missing hours are genuine zeros —
    * joining only observed hours would silently misalign the shift). A
    * positive best lag means a leads b. `is_best` marks each pair's
    * max-correlation lag (earliest lag on ties).
    *
    * Determinism: counts are integers, so all five Pearson sums are exact
    * BIGINTs; the two sqrt/divide ops at the end are identical expressions
    * in both engines and r6 absorbs their ≤1-ulp skew.
    *
    * Scale: the raw scan collapses to (#types × #hours) counts map-side;
    * the spine densify, the 7-lag fan and the pair join all run on that
    * aggregate, so their cost is independent of event volume.
    */
  def crossCorr(spark: SparkSession, dir: String): DataFrame = {
    val hour = floor(unix_timestamp(col("ts")).cast("double") / 3600.0).cast("long")
    val counts = Tables.events(spark, dir)
      .select(col("event_type"), hour.as("h"))
      .groupBy("event_type", "h").agg(count(lit(1)).as("c"))
    val span = counts.agg(min(col("h")).as("h0"), max(col("h")).as("h1"))
    val spine = span.select(explode(sequence(col("h0"), col("h1"))).as("h"))
    val types = counts.select("event_type").distinct()
    val dense = types.crossJoin(spine)
      .join(counts, Seq("event_type", "h"), "left")
      .select(col("event_type"), col("h"), coalesce(col("c"), lit(0L)).as("c"))
      .localCheckpoint(true) // #types × #hours rows; probed 7 × #pairs times
    val lags = explode(lit((-XcorrMaxLag to XcorrMaxLag).toArray)).as("lag")
    val a = dense.toDF("ta", "h", "x")
    val b = dense.toDF("tb", "hb", "y")
    val aligned = a.select(col("*"), lags)
      .join(b, col("tb") > col("ta") && col("hb") === col("h") + col("lag"))
    val n = count(lit(1))
    val den = sqrt((n * sum(col("x") * col("x")) - sum(col("x")) * sum(col("x"))).cast("double")) *
      sqrt((n * sum(col("y") * col("y")) - sum(col("y")) * sum(col("y"))).cast("double"))
    val corr = (n * sum(col("x") * col("y")) - sum(col("x")) * sum(col("y"))).cast("double") / den
    val byPair = Window.partitionBy("ta", "tb")
      .orderBy(desc("xcorr"), asc("lag"))
    aligned.groupBy(col("ta"), col("tb"), col("lag"))
      .agg(n.as("n_hours"), r6(corr).as("xcorr"))
      .withColumn("is_best", row_number().over(byPair) === 1)
  }

  def crossCorrOracle: String = {
    val hexpr = "CAST(floor(floor(epoch(ts)) / 3600) AS BIGINT)"
    s"""WITH counts AS (
       |  SELECT event_type, $hexpr AS h, count(*) AS c FROM events GROUP BY 1, 2
       |), span AS (SELECT min(h) AS h0, max(h) AS h1 FROM counts),
       |spine AS (SELECT unnest(generate_series(h0, h1)) AS h FROM span),
       |types AS (SELECT DISTINCT event_type FROM counts),
       |dense AS (
       |  SELECT t.event_type, s.h, coalesce(c.c, 0)::BIGINT AS c
       |  FROM types t CROSS JOIN spine s
       |  LEFT JOIN counts c ON c.event_type = t.event_type AND c.h = s.h
       |), lags AS (SELECT unnest(generate_series(-$XcorrMaxLag, $XcorrMaxLag)) AS lag),
       |aligned AS (
       |  SELECT a.event_type AS ta, b.event_type AS tb, l.lag, a.c AS x, b.c AS y
       |  FROM dense a CROSS JOIN lags l
       |  JOIN dense b ON b.event_type > a.event_type AND b.h = a.h + l.lag
       |), g AS (
       |  SELECT ta, tb, lag, count(*) AS n,
       |         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
       |         CAST(sum(x*y) AS BIGINT) AS sxy,
       |         CAST(sum(x*x) AS BIGINT) AS sxx, CAST(sum(y*y) AS BIGINT) AS syy
       |  FROM aligned GROUP BY 1, 2, 3
       |), scored AS (
       |  SELECT ta, tb, lag, n AS n_hours,
       |         ${sqlR6("CAST(n*sxy - sx*sy AS DOUBLE) / (sqrt(CAST(n*sxx - sx*sx AS DOUBLE)) * sqrt(CAST(n*syy - sy*sy AS DOUBLE)))")} AS xcorr
       |  FROM g
       |)
       |SELECT ta, tb, lag, n_hours, xcorr,
       |       row_number() OVER (PARTITION BY ta, tb ORDER BY xcorr DESC, lag ASC) = 1 AS is_best
       |FROM scored ORDER BY ta, tb, lag""".stripMargin
  }

  // ---------------- local-DP frequency estimation ----------------

  /** Probability the true category is reported (generalized randomized
    * response keep-probability). */
  val LdpKeepP = 0.75
  /** PRNG streams for the keep-draw and the replacement-draw. */
  val LdpStream1 = 63
  val LdpStream2 = 64

  /** Local-DP frequency estimation via generalized randomized response
    * (Warner 1965 / GRR): each event reports its true type with probability
    * p = [[LdpKeepP]] and a uniform draw from the k-type vocabulary
    * otherwise, so the collector never sees a trustworthy individual record;
    * the per-type count is then debiased by ĉ = (obs − n(1−p)/k)/p (from
    * E[obs] = c·p + n(1−p)/k). The LOCAL-model twin of the central-DP
    * [[dpCounts]]: noise enters per record before collection, not per
    * released cell after. `eps_ln` is the mechanism's ε =
    * ln((p + (1−p)/k)/((1−p)/k)).
    *
    * Determinism: both draws come from the cross-engine LCG keyed on
    * event_id, so the perturbed stream — and therefore the estimate — is
    * bit-identical in both engines (re-running the release must not spend
    * fresh randomness, the [[dpCounts]] stance).
    *
    * Scale: the vocabulary index is a ≤k-row broadcast both ways; the
    * perturbation is one map-side projection; only (type, count) rows
    * shuffle.
    */
  def ldpFreq(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val vocab = ev.select("event_type").distinct()
      .withColumn("idx", row_number().over(Window.orderBy("event_type")).cast("long") - 1L)
      .withColumn("k", count(lit(1)).over(Window.partitionBy()).cast("long"))
      .localCheckpoint(true) // ≤ #types rows; broadcast into both joins
    val u1 = graft.functions.DetRand.u01(col("event_id").cast("double"), LdpStream1)
    val u2 = graft.functions.DetRand.u01(col("event_id").cast("double"), LdpStream2)
    val reported = ev.join(broadcast(vocab), "event_type")
      .select(col("event_id"), col("k"),
        when(u1 < LdpKeepP, col("idx"))
          .otherwise(floor(u2 * col("k").cast("double")).cast("long")).as("ridx"))
    val obs = reported.groupBy("ridx").agg(count(lit(1)).as("obs_n"), max(col("k")).as("k"))
      .join(broadcast(vocab.select("event_type", "idx")), col("ridx") === col("idx"))
    val truth = ev.groupBy("event_type").agg(count(lit(1)).as("true_n"))
    val nTot = ev.agg(count(lit(1)).as("n_tot"))
    val q = (lit(1.0) - LdpKeepP) / col("k").cast("double")
    obs.join(truth, "event_type").crossJoin(broadcast(nTot))
      .select(col("event_type"), col("true_n"), col("obs_n"),
        r6((col("obs_n").cast("double") - col("n_tot").cast("double") * q) / LdpKeepP).as("est_n"),
        r6(log((lit(LdpKeepP) + q) / q)).as("eps_ln"))
  }

  def ldpFreqOracle: String = {
    val u1 = graft.functions.DetRand.sqlU01("CAST(event_id AS DOUBLE)", LdpStream1)
    val u2 = graft.functions.DetRand.sqlU01("CAST(event_id AS DOUBLE)", LdpStream2)
    val p = sqlD(LdpKeepP)
    s"""WITH vocab AS (
       |  SELECT event_type, CAST(row_number() OVER (ORDER BY event_type) AS BIGINT) - 1 AS idx,
       |         CAST(count(*) OVER () AS BIGINT) AS k
       |  FROM (SELECT DISTINCT event_type FROM events)
       |), reported AS (
       |  SELECT CASE WHEN ($u1) < $p THEN v.idx
       |              ELSE CAST(floor(($u2) * CAST(v.k AS DOUBLE)) AS BIGINT) END AS ridx,
       |         v.k
       |  FROM events e JOIN vocab v USING (event_type)
       |), obs AS (
       |  SELECT ridx, count(*) AS obs_n, max(k) AS k FROM reported GROUP BY 1
       |), truth AS (SELECT event_type, count(*) AS true_n FROM events GROUP BY 1),
       |ntot AS (SELECT count(*) AS n_tot FROM events)
       |SELECT v.event_type, t.true_n, o.obs_n,
       |       ${sqlR6(s"(CAST(o.obs_n AS DOUBLE) - CAST(n.n_tot AS DOUBLE) * (1.0 - $p) / CAST(o.k AS DOUBLE)) / $p")} AS est_n,
       |       ${sqlR6(s"ln(($p + (1.0 - $p) / CAST(o.k AS DOUBLE)) / ((1.0 - $p) / CAST(o.k AS DOUBLE)))")} AS eps_ln
       |FROM obs o JOIN vocab v ON v.idx = o.ridx JOIN truth t ON t.event_type = v.event_type
       |CROSS JOIN ntot n
       |ORDER BY v.event_type""".stripMargin
  }

  // ---------------- trailing-window active users from mergeable sketches ----------------

  /** Trailing window width in days (WAU = 7-day active users). */
  val WauWindowDays = 7

  /** Rolling 7-day active users from per-day HLL sketches — the sliding
    * twin of [[hllUnion]]'s static merge, and the reason sketches (not
    * exact sets) are the 100-TB structure: each day folds its users into
    * ONE fixed-size sketch map-side, and every trailing window is a union
    * of ≤[[WauWindowDays]] sketches on the ≤#days aggregate — the raw
    * stream is scanned once, while the exact computation must re-deduplicate
    * every window's users. The oracle pattern is [[dailyUsersSketch]]'s:
    * the exact twin is hash-checked, the estimate passes an in-tolerance
    * boolean gate.
    *
    * The exact twin here shrinks to distinct (user, day) BEFORE the
    * window fan-out, so even the verification leg never multiplies the
    * event stream by the window width.
    */
  def wauSketch(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir).select(to_date(col("ts")).as("d"), col("user_id"))
    val perDay = ev.groupBy("d").agg(hll_sketch_agg(col("user_id")).as("sk"))
      .localCheckpoint(true) // ≤ #days rows; self-joined below
    val est = perDay.toDF("d", "sk").as("a")
      .join(perDay.toDF("db", "skb").as("b"),
        datediff(col("d"), col("db")).between(0, WauWindowDays - 1))
      .groupBy("d")
      .agg(count(lit(1)).as("n_days_window"),
        hll_sketch_estimate(hll_union_agg(col("skb"))).as("wau_est"))
    val userDay = ev.distinct()
    val exact = userDay.toDF("du", "user_id")
      .join(perDay.select(col("d")), datediff(col("d"), col("du")).between(0, WauWindowDays - 1))
      .groupBy("d").agg(countDistinct(col("user_id")).as("wau_exact"))
    est.join(exact, "d")
      .select(col("d").as("event_date"), col("n_days_window"), col("wau_exact"),
        (abs(col("wau_est") - col("wau_exact")).cast("double") * 100.0 /
          col("wau_exact").cast("double") <= HllTolPct).as("hll_within_tol"))
  }

  def wauSketchOracle: String =
    s"""WITH ud AS (
       |  SELECT DISTINCT CAST(ts AS DATE) AS du, user_id FROM events
       |), days AS (SELECT DISTINCT du AS d FROM ud)
       |SELECT d AS event_date,
       |       CAST((SELECT count(*) FROM days b WHERE CAST(days.d - b.d AS BIGINT) BETWEEN 0 AND ${WauWindowDays - 1}) AS BIGINT) AS n_days_window,
       |       (SELECT count(DISTINCT u.user_id) FROM ud u
       |        WHERE CAST(days.d - u.du AS BIGINT) BETWEEN 0 AND ${WauWindowDays - 1}) AS wau_exact,
       |       true AS hll_within_tol
       |FROM days ORDER BY event_date""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ts_spectrum" -> ((s, d) => spectrum(s, d, "user_id").orderBy("user_id", "k")
      .select("user_id", "k", "re", "im", "amplitude")),
    "ts_topk_bins" -> ((s, d) => topBins(s, d, TopK, "user_id").orderBy("user_id", "k")
      .select("user_id", "k", "re", "im", "amplitude")),
    "ts_decompose" -> ((s, d) => decompose(s, d)),
    "ts_decompose_by_user" -> ((s, d) => decompose(s, d, "user_id")),
    "ts_decompose_dim" -> ((s, _) => decomposeDim(s)),
    "ts_decompose_mse" -> ((s, d) => decomposeMse(s, d)),
    "ts_seasonal_strength" -> ((s, d) => seasonalStrength(s, d)),
    "ts_stride" -> ((s, d) => stride(s, d, 5, "user_id")),
    "ts_skew_salted_agg" -> ((s, d) => saltedAgg(s, d).orderBy("event_type")),
    "events_skew_salted_join" -> ((s, d) => saltedJoin(s, d).orderBy("event_type")),
    "events_type_counts_cms" -> ((s, d) => typeCountsCms(s, d).orderBy("event_type")),
    "events_quality_report" -> ((s, d) => qualityReport(s, d).orderBy("check_name")),
    "ts_value_quantiles" -> ((s, d) => valueQuantiles(s, d).orderBy("event_type")),
    "events_value_deciles" -> ((s, d) => valueDeciles(s, d).orderBy("event_type", "decile")),
    "ts_mad_anomaly" -> ((s, d) => madAnomaly(s, d).orderBy("event_type")),
    "ts_value_quantiles_scalable" -> ((s, d) => valueQuantilesScalable(s, d).orderBy("event_type")),
    "events_stratified_sample" -> ((s, d) => stratifiedSampleAudit(s, d).orderBy("event_type")),
    "events_weighted_sample" -> ((s, d) => weightedSample(s, d)),
    "events_mv_merge" -> ((s, d) => mvMerge(s, d).orderBy("event_type", "event_date")),
    "events_psi_drift" -> ((s, d) => psiDrift(s, d).orderBy("event_type", "bin")),
    "events_target_encode" -> ((s, d) => targetEncode(s, d).orderBy("event_id")),
    "events_join_size_cms" -> ((s, d) => joinSizeCms(s, d)),
    "events_abtest" -> ((s, d) => abTest(s, d).orderBy("event_type")),
    "events_lag_features" -> ((s, d) => lagFeatures(s, d).orderBy("event_id")),
    "events_kanon" -> ((s, d) => kAnonymity(s, d).orderBy("event_type")),
    "events_feature_hash" -> ((s, d) => featureHash(s, d).orderBy("user_id")),
    "events_dp_counts" -> ((s, d) => dpCounts(s, d).orderBy("event_type", "event_date")),
    "events_freshness" -> ((s, d) => freshness(s, d).orderBy("event_type", "event_date")),
    "ts_rolling_anomaly" -> ((s, d) => rollingAnomaly(s, d).orderBy("event_type", "event_id")),
    "events_funnel" -> ((s, d) => funnel(s, d).orderBy("user_id")),
    "events_funnel_windowed" -> ((s, d) => funnelWindowed(s, d).orderBy("user_id")),
    "events_daily_users_hll" -> ((s, d) => dailyUsersSketch(s, d).orderBy("event_date")),
    "events_hll_union" -> ((s, d) => hllUnion(s, d).orderBy("event_type")),
    "events_type_overlap_hll" -> ((s, d) => hllIntersect(s, d)),
    "events_retention_cohorts" -> ((s, d) => retentionCohorts(s, d).orderBy("cohort_date", "day_offset")),
    "ts_forecast_eval" -> ((s, d) => forecastEval(s, d).orderBy("user_id")),
    "ts_ewma" -> ((s, d) => ewma(s, d).orderBy("user_id", "ts", "event_id")),
    "ts_holt" -> ((s, d) => holt(s, d).orderBy("user_id", "ts", "event_id")),
    "ts_autocorr" -> ((s, d) => autocorr(s, d).orderBy("user_id")),
    "ts_changepoint" -> ((s, d) => changepoint(s, d).orderBy("user_id")),
    "events_key_skew" -> ((s, d) => keySkew(s, d)),
    "events_type_transitions" -> ((s, d) => typeTransitions(s, d).orderBy("prev_type", "next_type")),
    "events_markov_stationary" -> ((s, d) => markovStationary(s, d).orderBy("state")),
    "events_markov_entropy" -> ((s, d) => markovEntropy(s, d).orderBy("prev_type")),
    "events_velocity_flags" -> ((s, d) => velocityFlags(s, d).orderBy("user_id")),
    "events_retention_halflife" -> ((s, d) => retentionHalflife(s, d).orderBy("cohort_date")),
    "events_burn_rate" -> ((s, d) => burnRate(s, d).orderBy("day", "hour")),
    "events_ooo_audit" -> ((s, d) => outOfOrderAudit(s, d).orderBy("day")),
    "events_user_entropy" -> ((s, d) => userEntropy(s, d).orderBy("user_id")),
    "ts_haar_energy" -> ((s, d) => haarEnergy(s, d).orderBy("user_id", "lvl")),
    "ts_ljung_box" -> ((s, d) => ljungBox(s, d).orderBy("user_id")),
    "events_cadence_cv" -> ((s, d) => cadenceCv(s, d).orderBy("user_id")),
    "events_seq_patterns" -> ((s, d) =>
      seqPatterns(s, d).orderBy(desc("n"), col("t1"), col("t2"), col("t3"))),
    "ts_value_quantiles_sketch" -> ((s, d) => valueQuantilesSketch(s, d).orderBy("event_type")),
    "ts_tumbling_agg" -> ((s, d) => tumbling(s, d)),
    "ts_cross_corr" -> ((s, d) => crossCorr(s, d).orderBy("ta", "tb", "lag")),
    "events_ldp_freq" -> ((s, d) => ldpFreq(s, d).orderBy("event_type")),
    "events_wau_hll" -> ((s, d) => wauSketch(s, d).orderBy("event_date"))
  )

  def oracles: Map[String, String] = Map(
    "ts_spectrum" -> spectrumOracleK("user_id"),
    "ts_topk_bins" -> topBinsOracleK("user_id"),
    "ts_decompose" -> decomposeOracle,
    "ts_decompose_by_user" -> decomposeOracleK("user_id"),
    "ts_decompose_dim" -> decomposeDimOracle,
    "ts_decompose_mse" -> decomposeMseOracle,
    "ts_seasonal_strength" -> seasonalStrengthOracle,
    "ts_stride" -> strideOracleK("user_id"),
    "ts_skew_salted_agg" -> saltedAggOracle,
    "events_skew_salted_join" -> saltedJoinOracle,
    "events_type_counts_cms" -> typeCountsCmsOracle,
    "events_quality_report" -> qualityReportOracle,
    "ts_value_quantiles" -> valueQuantilesOracle,
    "events_value_deciles" -> valueDecilesOracle,
    "ts_mad_anomaly" -> madAnomalyOracle,
    "ts_value_quantiles_scalable" -> valueQuantilesScalableOracle,
    "events_stratified_sample" -> stratifiedSampleOracle,
    "events_weighted_sample" -> weightedSampleOracle,
    "events_mv_merge" -> mvMergeOracle,
    "events_psi_drift" -> psiDriftOracle,
    "events_target_encode" -> targetEncodeOracle,
    "events_join_size_cms" -> joinSizeCmsOracle,
    "events_abtest" -> abTestOracle,
    "events_lag_features" -> lagFeaturesOracle,
    "events_kanon" -> kAnonymityOracle,
    "events_feature_hash" -> featureHashOracle,
    "events_dp_counts" -> dpCountsOracle,
    "events_freshness" -> freshnessOracle,
    "ts_rolling_anomaly" -> rollingAnomalyOracle,
    "events_funnel" -> funnelOracle,
    "events_funnel_windowed" -> funnelWindowedOracle,
    "events_daily_users_hll" -> dailyUsersSketchOracle,
    "events_hll_union" -> hllUnionOracle,
    "events_type_overlap_hll" -> hllIntersectOracle,
    "events_retention_cohorts" -> retentionCohortsOracle,
    "ts_forecast_eval" -> forecastEvalOracle,
    "ts_ewma" -> ewmaOracle,
    "ts_holt" -> holtOracle,
    "ts_autocorr" -> autocorrOracle,
    "ts_changepoint" -> changepointOracle,
    "events_key_skew" -> keySkewOracle,
    "events_type_transitions" -> typeTransitionsOracle,
    "events_markov_stationary" -> markovStationaryOracle,
    "events_markov_entropy" -> markovEntropyOracle,
    "events_velocity_flags" -> velocityFlagsOracle,
    "events_retention_halflife" -> retentionHalflifeOracle,
    "events_burn_rate" -> burnRateOracle,
    "events_ooo_audit" -> outOfOrderAuditOracle,
    "events_user_entropy" -> userEntropyOracle,
    "ts_haar_energy" -> haarEnergyOracle,
    "ts_ljung_box" -> ljungBoxOracle,
    "events_cadence_cv" -> cadenceCvOracle,
    "events_seq_patterns" -> seqPatternsOracle,
    "ts_value_quantiles_sketch" -> valueQuantilesSketchOracle,
    "ts_tumbling_agg" -> tumblingOracle,
    "ts_cross_corr" -> crossCorrOracle,
    "events_ldp_freq" -> ldpFreqOracle,
    "events_wau_hll" -> wauSketchOracle
  )
}
