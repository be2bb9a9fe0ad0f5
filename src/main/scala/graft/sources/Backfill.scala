package graft.sources

import graft.Tables
import graft.functions.Num._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Partition backfill via DYNAMIC partition overwrite — the idempotent
  * correction pass every date-partitioned table needs: upstream re-delivers
  * one day's data (late events, a bugfix recompute), and the writer must
  * replace exactly that day's partition without touching — or even listing —
  * the others. Spark's static overwrite mode would TRUNCATE THE WHOLE TABLE
  * first; `partitionOverwriteMode=dynamic` scopes the overwrite to the
  * partitions present in the incoming frame, which is what makes daily
  * backfill O(one day) instead of O(table). BackfillSpec asserts the
  * untouched-partition guarantee at the file level.
  *
  * The demo correction re-delivers [[BackfillDate]] with `value` doubled; the
  * registered query aggregates the corrected layout per day and the oracle
  * replays the correction arithmetically off the raw table — the layout
  * mechanics must be semantically invisible.
  */
object Backfill {
  val BackfillDate = "2024-01-10"

  def location(spark: SparkSession) =
    new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), "graft_events_backfilled")

  private def withDate(df: DataFrame): DataFrame =
    df.withColumn("event_date", to_date(col("ts")))

  private def writeAndBackfill(spark: SparkSession, dir: String): Unit = {
    val loc = location(spark).toString
    val ev = withDate(Tables.events(spark, dir))
    // pre-chunk the initial full write in (date, id) range order — the bare
    // partitionBy write makes EVERY task emit one file per date it holds
    // (tasks × dates small files, the sf1 rehearsal's 16× cost for 10× data);
    // range chunks keep same-date rows contiguous so per-date file count
    // stays ~date_rows/chunk, byte-ceilinged like the compactor's
    val nChunks = FileSizing.boundedChunks(ev.count(),
      FileSizing.bytesAt(spark, s"$dir/events.parquet"), Compaction.TargetFileRows)
    ev.repartitionByRange(nChunks, col("event_date"), col("event_id"))
      .write.partitionBy("event_date").mode("overwrite").parquet(loc)
    val corrected = ev.filter(col("event_date") === lit(BackfillDate).cast("date"))
      .withColumn("value", col("value") * 2.0)
    val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try corrected.write.partitionBy("event_date").mode("overwrite").parquet(loc)
    finally prev match {
      case Some(v) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
      case None => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    }
  }

  def ensure(spark: SparkSession, dir: String): Unit =
    Artifacts.memo("layout", location(spark).toString, dir)(writeAndBackfill(spark, dir))

  def backfilledDailyAgg(spark: SparkSession, dir: String): DataFrame = {
    ensure(spark, dir)
    Tables.parquet(spark, location(spark).toString)
      .groupBy("event_date")
      .agg(count(lit(1)).as("n_events"),
        r6(sum(floor(col("value") * 1e6 + 0.5).cast("long")).cast("double") / 1e6).as("sum_value"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "events_backfill_scan" -> ((s, d) => backfilledDailyAgg(s, d).orderBy("event_date"))
  )

  def oracles: Map[String, String] = Map(
    "events_backfill_scan" ->
      s"""SELECT CAST(ts AS DATE) AS event_date, count(*) AS n_events,
         |       ${sqlR6(s"CAST(sum(CAST(floor((CASE WHEN CAST(ts AS DATE) = DATE '$BackfillDate' THEN value * 2 ELSE value END) * 1e6 + 0.5) AS BIGINT)) AS DOUBLE) / 1e6")} AS sum_value
         |FROM events GROUP BY 1 ORDER BY 1""".stripMargin
  )
}
