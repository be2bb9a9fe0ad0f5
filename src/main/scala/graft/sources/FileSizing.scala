package graft.sources

import org.apache.spark.sql.SparkSession

/** Byte-targeted output sizing for the layout-writing maintenance ops
  * (compaction, z-order, backfill). A real compactor sizes files against a
  * BYTE target (~128 MB-1 GB), not a row count, because row width varies per
  * table and the costs being managed (footer/open overhead, listing
  * pressure, scan parallelism) are byte-shaped.
  *
  * The driver fixtures are tiny (events sf0.1 ≈ 2 MB), so a pure byte target
  * would collapse every demo layout to ONE file and the specs/oracles would
  * stop exercising real multi-file layouts. The fixture keeps its row-target
  * form; the byte target takes over as a CEILING on chunk count as data
  * grows: chunks = min(rows/rowTarget, max(bytes/byteTarget, MaxDemoChunks)).
  * At fixture scale rows/rowTarget ≤ MaxDemoChunks and nothing changes; past
  * it the chunk count grows with BYTES, never with rows/rowTarget — the sf1
  * rehearsal measured the unbounded row form at 22× cost for 10× data
  * (7500 two-thousand-row tasks), which is exactly the small-file disease
  * compaction exists to cure.
  */
object FileSizing {

  /** Bytes-per-file target (96 MiB). */
  val TargetFileBytes: Long = 96L << 20

  /** Most chunks the fixture-scale row form may cut before the byte ceiling
    * takes over. Large enough that every sf ≤ 0.1 demo keeps today's exact
    * layout (events sf0.1: 50 row-target chunks), small enough that chunk
    * count stops tracking row count right after.
    */
  val MaxDemoChunks = 64L

  /** Total bytes under `location` (file or directory), via the location's own
    * FileSystem so non-local paths size correctly.
    */
  def bytesAt(spark: SparkSession, location: String): Long = {
    val p = new org.apache.hadoop.fs.Path(location)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    try fs.getContentSummary(p).getLength
    catch { case _: java.io.FileNotFoundException => 0L }
  }

  /** Output chunk count for a rewrite of `rows` rows / `bytes` source bytes:
    * row-targeted at fixture scale, byte-ceilinged at real scale.
    *
    * Between ~[[MaxDemoChunks]]·rowTarget rows and the first byte-target
    * multiple past it, the count pins at [[MaxDemoChunks]], so per-file rows
    * CAN exceed rowTarget there — CompactionSpec's row-band assertion is a
    * fixture-scale contract only; past that plateau the byte target governs
    * (the production invariant is bytes-per-file, asserted by the
    * byte-ceiling spec case, not rows-per-file).
    */
  def boundedChunks(rows: Long, bytes: Long, rowTarget: Long): Int = {
    val byRows = math.max(1L, (rows + rowTarget - 1) / rowTarget)
    val byBytes = math.max(1L, (bytes + TargetFileBytes - 1) / TargetFileBytes)
    math.min(byRows, math.max(byBytes, MaxDemoChunks)).toInt
  }

  /** AQE `coalescePartitions.initialPartitionNum` derived from the INPUT:
    * ~8 MB of source parquet per initial shuffle partition (≈ 40–80 MB
    * decompressed rows — reducer sorts stay in memory), clamped to
    * [cpus, 8·cpus]. A fixed 8·cpus width fixed the sf100 spill cliff
    * (lineitem_leadtime_sla 134 → 54 s) but taxed every sub-second sf0.1
    * query ~0.1–0.4 s in map-side bucket + AQE stage overhead; deriving
    * the width from fixture bytes keeps both regimes on their right setting. Unknown/unsizable locations (remote FS without
    * content summary) assume BIG — the scale-safe direction. Runs before
    * any SparkSession exists, so it sizes through a bare Hadoop conf.
    */
  def initialShufflePartitions(location: String, cpus: Int): Int = {
    val bytes =
      try {
        val p = new org.apache.hadoop.fs.Path(location)
        p.getFileSystem(new org.apache.hadoop.conf.Configuration())
          .getContentSummary(p).getLength
      } catch { case scala.util.control.NonFatal(_) => Long.MaxValue }
    math.max(cpus.toLong, math.min(cpus.toLong * 8, bytes / (8L << 20))).toInt
  }

  /** Shuffle width — which for a stateful streaming query IS the state-store
    * count, fixed at query start and NOT AQE-coalescible — for the eager
    * micro-batch runners, derived from the stream's source bytes the same way
    * [[initialShufflePartitions]] derives the batch AQE width. Unlike the
    * batch form there is no `cpus` floor: each state-store partition pays
    * per-micro-batch provider/commit overhead that AQE can never coalesce
    * away, and on a tiny fixture 32 stores of ~60 rows each cost more than
    * one store of 2 k rows does (with one store per core, the stream_*
    * queries ran faster on 8 cores than on 32). ~8 MB of source per store
    * keeps per-store state small at scale; the 8·cpus cap and the assume-BIG fallback on unsizable
    * locations are shared with the batch form. A location that sizes to 0
    * bytes ([[bytesAt]] reads a missing path as 0) is unsizable too: the
    * stream may be fed after it starts, and its store count cannot change.
    */
  def streamShufflePartitions(spark: SparkSession, location: String, cpus: Int): Int = {
    val bytes =
      try bytesAt(spark, location)
      catch { case scala.util.control.NonFatal(_) => Long.MaxValue }
    val sized = if (bytes > 0) bytes else Long.MaxValue
    math.max(1L, math.min(cpus.toLong * 8, sized / (8L << 20))).toInt
  }
}
