package graft.sources

import graft.Tables
import graft.functions.Num._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Z-ordered (Morton-interleaved) layout — the MULTI-dimensional file-skipping
  * shape that completes the pre-organized-storage set: [[Bucketed]] co-locates
  * joins, [[Partitioned]] prunes directories, [[RangeLayout]] makes ONE
  * column's footer stats tight, and z-ordering makes the stats of SEVERAL
  * columns simultaneously tight by sorting on the bit-interleave of their
  * quantized ranks. A file then covers a small RECTANGLE in (user, time)
  * space instead of a thin full-width stripe, so a scan filtered on both
  * dimensions skips every file whose bounding box misses the query box —
  * the mechanism behind Delta/Iceberg `OPTIMIZE ZORDER BY`.
  *
  * Each dimension is quantized to equal-cardinality RANKS derived from its
  * own quantiles (one stats pass, boundaries folded into the key as plan
  * literals — the same constant-folding stance as the IVF centroids). That
  * is what production z-ordering does, and it is load-bearing twice over:
  * (a) balance — a fixed grid (a `user mod 16` / fixed-epoch-origin
  * form) silently collapses under skew, piling 90% of rows into a few key
  * cells, while rank buckets hold ~1/16 of the rows each under ANY
  * distribution; (b) monotonicity — `mod` ALIASES distant values into the
  * same bucket (user 3 and user 515 were indistinguishable to the key), so
  * file boxes in value space stay full-width and nothing skips. ZOrderSpec
  * measures exactly this on a deliberately skewed user distribution, with
  * the fixed-grid key [[fixedGridKey]] as the comparator.
  *
  * The z-key is pure layout: it never appears in results, and the registered
  * query's oracle recomputes the same aggregate from the RAW events table.
  * ZOrderSpec also quantifies the uniform-fixture win: for a (user-range ∧
  * time-range) predicate, strictly fewer z-ordered files intersect the query
  * box than ts-range-sorted files (whose user bounds are all full-width).
  *
  * At 100 TB the knobs change, not the shape: more bits per dimension, file
  * count from a size target, approximate quantiles (the stats pass here uses
  * exact ones; `approxQuantile`'s relativeError knob is the scale path), and
  * composition with date partitioning (partition coarse, z-order within).
  */
object ZOrder {
  val NumFiles = 8

  /** Bits per dimension in the Morton key. 4+4 matters here: the top
    * log2(NumFiles) bits of the key decide the file splits, and with too many
    * bits on one dimension those top bits are all that dimension's — the
    * "z-order" degenerates to a 1-D sort at file granularity (the first cut
    * used 8 day-bits and produced exactly that: file splits on day bits only,
    * no user segmentation, measured worse than the plain range layout). With
    * 4 bits each the key's high bits ALTERNATE (day₃ user₃ day₂ user₂ …), so
    * 8 files split day in half, user in half, day in quarters — genuine
    * rectangles. Rank quantization makes the balance hold per BUCKET too.
    */
  val Bits = 4

  def location(spark: SparkSession) =
    new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), "graft_events_zorder")

  /** Spread a 4-bit value's bits to even positions of an 8-bit value (the
    * classic magic-number dilation), all exact integer ops.
    */
  private def spread4(c: Column): Column = {
    val m1 = (c.bitwiseOR(shiftleft(c, 2))).bitwiseAND(lit(0x33L))
    (m1.bitwiseOR(shiftleft(m1, 1))).bitwiseAND(lit(0x55L))
  }

  /** The pure bit-interleave of two 4-bit bucket indices: first dimension on
    * even bit positions, second on odd (property-tested in isolation).
    */
  private[graft] def mortonInterleave(b0: Column, b1: Column): Column =
    spread4(b0).bitwiseOR(shiftleft(spread4(b1), 1))

  /** Equal-cardinality rank bucket: index = #boundaries STRICTLY below the
    * value, with the 2^Bits−1 interior quantile boundaries folded as
    * literals. Monotone in the value (no aliasing) and balanced under any
    * distribution. Strict comparison matters: it pins the minimum value to
    * rank 0, so a dimension whose query boxes start at the low end (user 0-3
    * here) stays aligned with the power-of-two bit boundaries of the Morton
    * key — `≤` shifted every rank up by one and the fixture box straddled
    * the quarter boundary (381 vs 250 must-open rows).
    */
  private[graft] def rankBucket(c: Column, bounds: Seq[Double]): Column =
    bounds.map(b => when(c > lit(b), lit(1L)).otherwise(lit(0L))).reduceLeft(_ + _)

  /** Past this many rows the stats pass switches from exact quantiles
    * (deterministic boundaries — what ZOrderSpec's must-open-rows assertions
    * need at fixture scale) to Greenwald-Khanna with a small relativeError:
    * relativeError=0.0 forces the EXACT algorithm, whose cost grows with
    * distinct-value count and was part of the sf1 write's super-linear bill.
    * Rank buckets with 2^Bits = 16 cells only need boundaries good to a
    * fraction of a 1/16 bucket; ε=0.002 keeps any boundary within ~3% of a
    * bucket width (balance noise, invisible to skipping) and costs half the
    * GK sketch of ε=0.001, whose stats pass took 9.2 s of a 22 s sf10
    * write.
    */
  val ExactQuantileMaxRows = 200000L
  val StatsEpsilon = 0.002

  /** Write-parallelism floor at scale: below ~a byte-target of data the
    * byte-derived file count is 1-2 and the range write runs in single-digit
    * tasks regardless of row count (the sf10 profile: 10 s of the 22 s write
    * in 8 tasks on 32 cores). One extra file per ~256k rows, capped at 32,
    * cuts more, smaller files once rows justify it — strictly better
    * box-skipping, negligible footer overhead at these sizes — and is
    * irrelevant at real scale where bytes/byteTarget dominates. Fixture
    * layouts unchanged (floor reaches [[NumFiles]] = 8 only past ~1.8M rows;
    * the sf0.1 fixture has 100k).
    */
  private[graft] def parallelismFloor(rows: Long): Int =
    math.min(32L, rows / 262144L + 1).toInt

  /** One stats pass: the interior quantile boundaries of both dimensions
    * (a bounded 2×15-double collect, like the IVF centroid fold).
    */
  private def dimBounds(df: DataFrame, relativeError: Double): (Seq[Double], Seq[Double]) = {
    val probs = (1 until (1 << Bits)).map(_.toDouble / (1 << Bits)).toArray
    val qs = df
      .select(col("user_id").cast("double").as("u"),
        unix_micros(col("ts")).cast("double").as("t"))
      .stat.approxQuantile(Array("u", "t"), probs, relativeError)
    (qs(0).toSeq, qs(1).toSeq)
  }

  /** Write `df` z-ordered on (user_id, ts) into `location`: rank-quantize
    * both dimensions from their own stats, Morton-interleave, range-cut into
    * `nFiles` equal-frequency chunks, sort within. Cuts are on the zkey
    * ALONE so every file covers whole key cells and its bounding box stays
    * cell-aligned — adding a tiebreak column to the cut was measured to
    * widen boxes (files straddle cells mid-cut: 375 vs 250 must-open rows
    * on the fixture box). Rank balance already caps a cell at ~1/256 of the
    * rows; if a table ever concentrated past that, the fix is more Bits,
    * not a looser cut.
    */
  private[graft] def zOrderTo(df: DataFrame, location: String, nFiles: Int): Unit = {
    val rows = df.count()
    val err = if (rows <= ExactQuantileMaxRows) 0.0 else StatsEpsilon
    val (uBounds, tBounds) = dimBounds(df, err)
    df.withColumn("zkey", mortonInterleave(
        rankBucket(col("user_id").cast("double"), uBounds),
        rankBucket(unix_micros(col("ts")).cast("double"), tBounds)))
      .repartitionByRange(math.max(nFiles, parallelismFloor(rows)), col("zkey"))
      .sortWithinPartitions("zkey", "event_id")
      .drop("zkey")
      .write.mode("overwrite").parquet(location)
  }

  private def writeZOrdered(spark: SparkSession, dir: String): Unit = {
    // file count = max(demo floor, byte target): the fixed 8-file form is the
    // fixture's box-skipping demo; past ~8 byte-targets of data the count
    // grows with volume so files stay right-sized (and with it, write
    // parallelism — 8 tasks for 10× data was part of the sf1 22×)
    val nFiles = math.max(NumFiles,
      (FileSizing.bytesAt(spark, s"$dir/events.parquet") /
        FileSizing.TargetFileBytes).toInt)
    zOrderTo(Tables.events(spark, dir), location(spark).toString, nFiles)
  }

  def ensureZOrdered(spark: SparkSession, dir: String): Unit =
    Artifacts.memo("layout", location(spark).toString, dir)(writeZOrdered(spark, dir))

  /** A FIXED-GRID key (user mod 16, 2-day bucket from a constant epoch
    * origin), ZOrderSpec's degenerate comparator: under a
    * skewed or shifted distribution `mod` aliases distant users into one
    * bucket and the constant origin wastes bucket range, so file boxes stay
    * near-full-width and the layout stops skipping. Not used by any layout.
    */
  private[graft] def fixedGridKey: Column = {
    val epochDayOrigin = 19723L // epoch day of 2024-01-01
    val bUser = pmod(col("user_id"), lit(1L << Bits))
    val day = floor(unix_micros(col("ts")) / lit(86400000000L)).cast("long") - epochDayOrigin
    val bDay = pmod(floor(day / 2).cast("long"), lit(1L << Bits))
    mortonInterleave(bUser, bDay)
  }

  /** Per-file bounding boxes over BOTH predicate dimensions. */
  def fileStats(spark: SparkSession, dir: String): DataFrame = {
    ensureZOrdered(spark, dir)
    Tables.parquet(spark, location(spark).toString)
      .select(input_file_name().as("file"), col("user_id"), col("ts"))
      .groupBy("file")
      .agg(count(lit(1)).as("n_rows"),
        min(col("user_id")).as("min_user"), max(col("user_id")).as("max_user"),
        min(col("ts")).as("min_ts"), max(col("ts")).as("max_ts"))
  }

  /** The 2-D query-box predicate the spec and the registered query share: a
    * low-user slice over the first week — selective on BOTH interleaved
    * dimensions, so files outside either half of the key space skip.
    */
  val FromUser = 0L
  val ToUser = 3L
  val FromTs = "2024-01-01 00:00:00"
  val ToTs = "2024-01-09 00:00:00"

  private def boxFilter(df: DataFrame): DataFrame =
    df.filter(col("user_id") >= FromUser && col("user_id") <= ToUser &&
      col("ts") >= lit(FromTs).cast("timestamp") && col("ts") < lit(ToTs).cast("timestamp"))

  /** Aggregate over the 2-D box off the z-ordered layout; the oracle
    * recomputes it from the raw table — the layout is execution detail.
    */
  def zorderBoxAgg(spark: SparkSession, dir: String): DataFrame = {
    ensureZOrdered(spark, dir)
    boxFilter(Tables.parquet(spark, location(spark).toString))
      .groupBy("user_id", "event_type")
      .agg(count(lit(1)).as("n_events"),
        r6(sum(floor(col("value") * 1e6 + 0.5).cast("long")).cast("double") / 1e6).as("sum_value"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "events_zorder_scan" -> ((s, d) =>
      zorderBoxAgg(s, d).orderBy("user_id", "event_type"))
  )

  def oracles: Map[String, String] = Map(
    "events_zorder_scan" ->
      s"""SELECT user_id, event_type, count(*) AS n_events,
         |       ${sqlR6("CAST(sum(CAST(floor(value * 1e6 + 0.5) AS BIGINT)) AS DOUBLE) / 1e6")} AS sum_value
         |FROM events
         |WHERE user_id >= $FromUser AND user_id <= $ToUser
         |  AND ts >= TIMESTAMP '$FromTs' AND ts < TIMESTAMP '$ToTs'
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  )
}
