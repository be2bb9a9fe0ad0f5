package graft.sources

import graft.Tables
import graft.functions.Num._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Small-file compaction — the table-maintenance pass every long-lived
  * 100-TB table needs: streaming ingest and wide writes leave each date
  * partition fragmented into many task-sized files, and scan cost grows with
  * file COUNT (open/footer/seek per file, listing pressure on the metastore)
  * long before it grows with bytes. Compaction rewrites each partition's
  * fragments into one right-sized file without changing a single row.
  *
  * Here: the fragmented layout writes the events table date-partitioned from
  * [[FragmentTasks]] user-hashed tasks, so every date directory holds one
  * file per task (the classic ingest pattern — dates × writers files). The
  * compacted layout re-reads it and compacts to a file-SIZE target, not a
  * file count: one stats pass sizes the table, then
  * `repartitionByRange(ceil(rows / target), event_date, event_id)` cuts it
  * into equal-frequency chunks in (date, id) order before the same
  * partitioned write. Every task holds ~target rows, so every output file
  * is bounded by the target band regardless of how hot a date is — a date
  * with 10× the target rows gets ~10 parallel tasks and ~10 right-sized
  * files (the r6 one-task-per-date form made exactly that date a one-task
  * straggler writing one multi-GB file). Range order keeps same-date rows
  * contiguous, so per-date file counts stay ~ceil(date_rows / target); a
  * chunk straddling a date boundary writes one smaller file on each side,
  * which only UNDERSHOOTS the band. Both layouts are write-once per
  * (location, source) like the other pre-organized shapes; CompactionSpec
  * asserts the size band, the hot-date split, and row preservation, and the
  * registered query's oracle recomputes the same aggregate from the RAW
  * table — proving the rewrite is pure layout, never semantics.
  *
  * At 100 TB the remaining knob changes are trivial: the target counts
  * BYTES from the file listing instead of rows (same one stats pass), and
  * scheduling rewrites by partition age instead of rewriting everything.
  */
object Compaction {
  val FragmentTasks = 8

  /** Target rows per compacted file — the row-count stand-in for the ~1 GB
    * byte target a production compactor sizes against.
    */
  val TargetFileRows = 2000L

  /** Upper band multiplier the spec asserts: range chunks are equal-frequency
    * up to sampling error, so no file should exceed target × band.
    */
  val SizeBand = 1.6

  def fragmentedLocation(spark: SparkSession) =
    new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), "graft_events_fragmented")

  def compactedLocation(spark: SparkSession) =
    new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), "graft_events_compacted")

  private def writeFragmented(spark: SparkSession, dir: String): Unit =
    Tables.events(spark, dir)
      .withColumn("event_date", to_date(col("ts")))
      .repartition(FragmentTasks, col("user_id"))
      .write.partitionBy("event_date")
      .mode("overwrite").parquet(fragmentedLocation(spark).toString)

  /** The size-targeted compaction pass itself, reusable at any target: one
    * count + one listing as the stats pass, then equal-frequency range chunks
    * in (event_date, event_id) order so files are right-sized AND same-date
    * rows stay contiguous. Chunk count is row-targeted at fixture scale and
    * BYTE-ceilinged past it ([[FileSizing.boundedChunks]]) — the unbounded
    * row form cut rows/target tasks and went 22× for 10× data at the sf1
    * rehearsal; with the ceiling, task/file count tracks data VOLUME.
    */
  private[graft] def compactTo(frag: DataFrame, location: String, targetRows: Long,
                               sourceBytes: Long): Unit = {
    val total = frag.count()
    val nChunks = FileSizing.boundedChunks(total, sourceBytes, targetRows)
    frag.repartitionByRange(nChunks, col("event_date"), col("event_id"))
      .write.partitionBy("event_date")
      .mode("overwrite").parquet(location)
  }

  private def writeCompacted(spark: SparkSession): Unit = {
    val fragLoc = fragmentedLocation(spark).toString
    compactTo(spark.read.parquet(fragLoc), compactedLocation(spark).toString,
      TargetFileRows, FileSizing.bytesAt(spark, fragLoc))
  }

  private def ensureLayouts(spark: SparkSession, dir: String): Unit = {
    Artifacts.memo("layout", fragmentedLocation(spark).toString, dir)(writeFragmented(spark, dir))
    Artifacts.memo("layout", compactedLocation(spark).toString, dir)(writeCompacted(spark))
  }

  /** (layout, event_date, n_files, n_rows) — the before/after evidence. */
  def fileStats(spark: SparkSession, dir: String): DataFrame = {
    ensureLayouts(spark, dir)
    def statsOf(name: String, location: String): DataFrame =
      spark.read.parquet(location)
        .select(col("event_date"), input_file_name().as("f"))
        .groupBy(col("event_date"))
        .agg(countDistinct(col("f")).as("n_files"), count(lit(1)).as("n_rows"))
        .withColumn("layout", lit(name))
    statsOf("fragmented", fragmentedLocation(spark).toString)
      .unionByName(statsOf("compacted", compactedLocation(spark).toString))
      .select("layout", "event_date", "n_files", "n_rows")
  }

  /** (event_date, file, n_rows) over a compacted location — the per-FILE
    * evidence the size-band assertions read (file name projected BEFORE the
    * aggregate; `input_file_name()` can't sit inside one).
    */
  private[graft] def perFileRows(spark: SparkSession, location: String): DataFrame =
    spark.read.parquet(location)
      .select(col("event_date"), input_file_name().as("f"))
      .groupBy("event_date", "f")
      .agg(count(lit(1)).as("n_rows"))

  /** Daily aggregate off the COMPACTED layout; the oracle recomputes it from
    * the raw events table, so equality proves compaction preserved content.
    */
  def compactedDailyAgg(spark: SparkSession, dir: String): DataFrame = {
    ensureLayouts(spark, dir)
    spark.read.parquet(compactedLocation(spark).toString)
      .groupBy("event_date", "event_type")
      .agg(count(lit(1)).as("n_events"),
        r6(sum(floor(col("value") * 1e6 + 0.5).cast("long")).cast("double") / 1e6).as("sum_value"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "events_compacted_scan" -> ((s, d) =>
      compactedDailyAgg(s, d).orderBy("event_date", "event_type"))
  )

  def oracles: Map[String, String] = Map(
    "events_compacted_scan" ->
      s"""SELECT CAST(ts AS DATE) AS event_date, event_type, count(*) AS n_events,
         |       ${sqlR6("CAST(sum(CAST(floor(value * 1e6 + 0.5) AS BIGINT)) AS DOUBLE) / 1e6")} AS sum_value
         |FROM events
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  )
}
