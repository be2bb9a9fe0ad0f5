package graft.sources

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Range-partitioned, intra-file-sorted time layout — the third
  * pre-organized-storage shape next to [[Bucketed]] (join co-location) and
  * [[Partitioned]] (directory pruning): `repartitionByRange(ts)` splits the
  * table into files covering DISJOINT time ranges and `sortWithinPartitions`
  * orders rows inside each, so every parquet row group's (min, max) ts
  * statistics are tight. A time-predicate scan then skips whole files and
  * row groups from footer metadata alone — the mechanism that makes
  * "last week over 100 TB of history" read ~1/52 of the bytes without any
  * directory scheme, and the 1-D special case of what z-ordering does for
  * multi-column predicates.
  *
  * Directory partitioning and range layout compose in production (partition
  * by coarse date, range-sort within); they're separated here so each
  * mechanism is proven in isolation. RangeLayoutSpec asserts the structural
  * contract: ≥ 2 files, pairwise-disjoint [min, max] ts ranges, zero rows
  * lost, and sortedness within files — the properties footer-based skipping
  * relies on. Write-once per (location, source dir) via the same guarded
  * cache as [[Partitioned]].
  */
object RangeLayout {
  /** Target file count: at 100 TB this is (table size / target file size)
    * and comes from a size estimate, not a constant; 8 keeps the fixture
    * layout inspectable.
    */
  val NumFiles = 8

  def location(spark: SparkSession) =
    new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), "graft_events_by_ts_range")

  private def writeRangeSorted(spark: SparkSession, dir: String): Unit =
    Tables.events(spark, dir)
      .repartitionByRange(NumFiles, col("ts"))
      .sortWithinPartitions("ts", "event_id")
      .write.mode("overwrite").parquet(location(spark).toString)

  def ensureRangeSorted(spark: SparkSession, dir: String): Unit =
    Artifacts.memo("layout", location(spark).toString, dir)(writeRangeSorted(spark, dir))

  /** Read-back with file provenance, for asserting the layout contract. */
  def fileStats(spark: SparkSession, dir: String): DataFrame = {
    ensureRangeSorted(spark, dir)
    Tables.parquet(spark, location(spark).toString)
      .groupBy(input_file_name().as("file"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("ts")).as("min_ts"), max(col("ts")).as("max_ts"))
  }
}
