package graft.sources

import graft.Tables
import graft.functions.Num._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Schema evolution on a file-based table — the ingest reality every
  * long-lived dataset hits: files written before a column existed sit next to
  * files written after, and the reader must present ONE union schema with
  * NULLs for the pre-evolution rows instead of failing or silently dropping
  * the column.
  *
  * Two generations of the events table are materialized under one location:
  * generation 1 (even event_ids) with the original narrow schema, generation
  * 2 (odd event_ids) adding a `k` column promoted out of the props JSON bag
  * (the schema-on-read field of `events_props_json`, hardened into a real
  * column — the usual evolution step once a property proves stable). The
  * registered query reads the location with `mergeSchema` and aggregates per
  * type: generation-1 rows surface `k` as NULL and are COUNTED, because
  * distinguishing "absent by schema" from data is the operator's semantics.
  *
  * Scale: schema merging reads FOOTERS, not data — cost is per-file metadata,
  * and the per-generation writes/reads stay full parallel scans. The write
  * happens once per (location, source dir) via [[Artifacts.memo]]; sums use exact
  * integer micros so generation interleaving cannot perturb the hash.
  */
object SchemaEvolution {

  def location(spark: SparkSession) =
    new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), "graft_events_evolved")

  private def writeGenerations(spark: SparkSession, dir: String): Unit = {
    val loc = location(spark).toString
    val ev = Tables.events(spark, dir)
    // wipe any stale layout so gen dirs never mix across source dirs
    val p = location(spark)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
    ev.filter(col("event_id") % 2 === 0)
      .select("event_id", "ts", "user_id", "event_type", "value")
      .write.mode("overwrite").parquet(s"$loc/gen=1")
    ev.filter(col("event_id") % 2 === 1)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .write.mode("overwrite").parquet(s"$loc/gen=2")
  }

  private def ensure(spark: SparkSession, dir: String): Unit =
    Artifacts.memo("layout", location(spark).toString, dir)(writeGenerations(spark, dir))

  /** The merged read, exposed for the spec to assert the union schema. It
    * infers on every call, and is the one layout read that does not go
    * through `Tables.parquet`: merging the generations' footers into one
    * schema is what the query demonstrates. */
  def mergedRead(spark: SparkSession): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(location(spark).toString)

  def evolvedStats(spark: SparkSession, dir: String): DataFrame = {
    ensure(spark, dir)
    mergedRead(spark)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("gen") === 1, 1L).otherwise(0L)).as("n_gen1"),
        count(col("k")).as("n_k_present"),
        sum(when(col("gen") === 2 && col("k").isNull, 1L).otherwise(0L)).as("n_k_malformed"),
        sum(coalesce(col("k"), lit(0L))).as("sum_k"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "events_schema_evolution" -> ((s, d) => evolvedStats(s, d).orderBy("event_type"))
  )

  def oracles: Map[String, String] = Map(
    // the oracle replays the generation split straight off the raw table:
    // even ids never carry k (pre-evolution files), odd ids carry the JSON
    // extraction with its NULLs (malformed/missing keys survive evolution)
    "events_schema_evolution" ->
      s"""WITH g AS (
         |  SELECT event_type, event_id % 2 = 0 AS gen1,
         |         CASE WHEN event_id % 2 = 1
         |              THEN CAST(json_extract_string(props, '$$.k') AS BIGINT) END AS k
         |  FROM events
         |)
         |SELECT event_type, count(*) AS n_rows,
         |       CAST(sum(CASE WHEN gen1 THEN 1 ELSE 0 END) AS BIGINT) AS n_gen1,
         |       CAST(count(k) AS BIGINT) AS n_k_present,
         |       CAST(sum(CASE WHEN NOT gen1 AND k IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_k_malformed,
         |       CAST(sum(coalesce(k, 0)) AS BIGINT) AS sum_k
         |FROM g GROUP BY 1 ORDER BY 1""".stripMargin
  )
}
