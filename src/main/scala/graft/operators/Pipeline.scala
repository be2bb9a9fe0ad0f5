package graft.operators

import graft.functions.{DetRand => R}
import graft.functions.Num._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

/** End-to-end pipeline parity with the reference's flagship entry point
  * (SURVEY.md §3.1: config → generate → split → noise → per-epoch losses →
  * best-epoch checkpoint → sink), minus learning. Covers G12 (config source),
  * G13 (checkpoint sink/source), S3 (deterministic shuffle), S7 (train/val
  * split), I2/I3 (epoch loop with captured per-epoch metrics), A6/A7, U3
  * (pluggable loss registry).
  *
  * Each epoch's metrics are independent given the epoch index, so the Spark
  * side may run them as a driver loop (I3 literal) while the oracle expresses
  * the whole history as one epochs × data join — the same collapse used for
  * reverse diffusion.
  */
object Pipeline {
  /** G12: the reference's config schema (config.json:1-23) as a case class. */
  case class GraftConfig(
      function_type: String = "linear_sum",
      n_train: Long = 200,
      n_val: Long = 50,
      seq_len: Int = 64,
      epochs: Int = 5,
      timesteps: Int = 500,
      beta_schedule: String = "linear",
      loss_type: String = "mse")

  /** G12: JSON config file → case class via the Spark JSON source.
    * multiLine: config files are pretty-printed objects (config.json:1-23),
    * not line-delimited JSON.
    */
  def loadConfig(spark: SparkSession, path: String): GraftConfig = {
    import spark.implicits._
    val enc = implicitly[org.apache.spark.sql.Encoder[GraftConfig]]
    // explicit schema: JSON inference types every number BIGINT, which won't
    // down-cast into the case class's Int fields
    spark.read.option("multiLine", true).schema(enc.schema).json(path)
      .as[GraftConfig].collect()(0)
  }

  /** U3: pluggable loss registry — a named (pred, target) => aggregate Column. */
  val lossRegistry: Map[String, (Column, Column) => Column] = Map(
    "mse" -> ((p, t) => avg(pow(p - t, 2))),
    "mae" -> ((p, t) => avg(abs(p - t))),
    "huber1" -> ((p, t) =>
      avg(when(abs(p - t) <= 1.0, lit(0.5) * pow(p - t, 2))
        .otherwise(abs(p - t) - lit(0.5)))))

  private val cfg = GraftConfig() // fixture config for the registered queries

  /** S7: train/val split by disjoint id ranges (test_training.py:81-95). */
  def split(spark: SparkSession): DataFrame =
    Generators.dataset(spark, cfg.function_type, cfg.n_train + cfg.n_val, cfg.seq_len)
      .withColumn("split", when(col("series_id") < cfg.n_train, "train").otherwise("val"))

  /** S3: deterministic batch shuffling — u01-keyed sort standing in for
    * DataLoader(shuffle=True), then fixed-size batch ids.
    */
  def shuffleBatches(spark: SparkSession, batchSize: Int = 32): DataFrame = {
    val w = Window.orderBy(R.u01(col("series_id").cast("double"), 19), col("series_id"))
    split(spark).select("series_id").distinct()
      .withColumn("rn", row_number().over(w))
      .select(col("series_id"),
        (((col("rn") - 1) / batchSize).cast("int")).as("batch_id"),
        ((col("rn") - 1) % batchSize).cast("long").as("pos_in_batch"))
  }

  /** A1/A2 explicit: per-series moments of the un-normalized noisy signal. */
  def seriesStats(spark: SparkSession): DataFrame =
    Generators.dataset(spark, cfg.function_type, 100, cfg.seq_len, normalize = false)
      .groupBy("series_id")
      .agg(r6(avg(col("value"))).as("mean"),
        r6(stddev_samp(col("value"))).as("std_samp"),
        r6(min(col("value"))).as("min"),
        r6(max(col("value"))).as("max"))

  /** Per-epoch q_sample loss for one split; epoch enters the timestep draw and
    * the noise key, mirroring fresh randomness per epoch.
    */
  private def epochLoss(df: DataFrame, lossName: String): Column =
    lossRegistry(lossName)(col("xt"), col("value"))

  private def noised(spark: SparkSession, epochs: Int): DataFrame = {
    val sched = Diffusion.schedule(spark, cfg.timesteps, cfg.beta_schedule)
    val epochsDf = spark.range(0, epochs, 1, 1).select(col("id").cast("int").as("epoch"))
    split(spark)
      .crossJoin(broadcast(epochsDf))
      .withColumn("step",
        floor(R.u01(col("series_id").cast("double") * 1000 + col("epoch"), 13) * cfg.timesteps).cast("int"))
      .join(broadcast(sched), "step")
      .withColumn("noise",
        R.gauss((col("series_id").cast("double") * cfg.seq_len + col("t")) * 100 + col("epoch"), 11))
      .withColumn("xt", col("sqrt_ac") * col("value") + col("sqrt_omac") * col("noise"))
  }

  /** I3 as a driver loop: per-epoch train/val losses, I2-style captured into one
    * metrics frame (equivalent to the single-join form the oracle uses).
    */
  def epochMetrics(spark: SparkSession): DataFrame = {
    val all = noised(spark, cfg.epochs).localCheckpoint(true)
    val frames = (0 until cfg.epochs).map { e =>
      all.filter(col("epoch") === e)
        .groupBy("epoch", "split")
        .agg(r6(epochLoss(all, cfg.loss_type)).as("loss"))
    }
    // log-scale curve column, mirroring the reference's loss plot
    // (test_training.py:181-182 plots log10(loss))
    frames.reduce(_ union _)
      .withColumn("log10_loss", r6(log10(col("loss"))))
  }

  /** A7 + G13: pick the best epoch by val loss, sink it as a checkpoint parquet
    * (state = config ⊕ best metrics), read it back and return it.
    */
  def bestCheckpointRoundtrip(spark: SparkSession): DataFrame = {
    val best = epochMetrics(spark)
      .filter(col("split") === "val")
      .orderBy(col("loss"), col("epoch"))
      .limit(1)
      .select(col("epoch").as("best_epoch"), col("loss").as("val_loss"))
      .withColumn("function_type", lit(cfg.function_type))
      .withColumn("timesteps", lit(cfg.timesteps))
    // the returned frame reads the checkpoint lazily, so the directory lives
    // until the JVM exits; Spark's helper deletes it then
    val dir = Bridge.tempDir("graft_ckpt").getAbsolutePath
    best.write.mode("overwrite").parquet(dir) // G13 sink
    // G13 source, read with the writer's schema: the path is new on every
    // call, so inferring it would start a job each time
    spark.read.schema(Bridge.nullable(best.schema)).parquet(dir)
  }

  /** Custom-loss query through the registry (U3). */
  def lossByName(spark: SparkSession, name: String): DataFrame =
    Metrics.lossInput(spark)
      .agg(r6(lossRegistry(name)(col("pred"), col("target"))).as("loss"))
      .select(lit(name).as("loss_type"), col("loss"))

  // ---------------- DuckDB oracle twins ----------------

  private def splitSql: String =
    s"""split_t AS (
       |  SELECT *, CASE WHEN series_id < ${cfg.n_train} THEN 'train' ELSE 'val' END AS split
       |  FROM (${Generators.datasetSqlCore(cfg.function_type, cfg.n_train + cfg.n_val, cfg.seq_len)})
       |)""".stripMargin

  private def noisedSql: String = {
    val sd = "CAST(series_id AS DOUBLE)"
    s"""WITH $splitSql,
       |${Diffusion.schedSql(cfg.timesteps, cfg.beta_schedule)},
       |ep AS (SELECT CAST(i AS INT) AS epoch FROM range(0, ${cfg.epochs}) r(i)),
       |stepped AS (
       |  SELECT s.*, ep.epoch,
       |         CAST(floor((${R.sqlU01(s"($sd * 1000 + epoch)", 13)}) * ${cfg.timesteps}) AS INT) AS step
       |  FROM split_t s CROSS JOIN ep
       |), noised_t AS (
       |  SELECT st.*, c.sqrt_ac * st.value + c.sqrt_omac *
       |         (${R.sqlGauss(s"(($sd * ${cfg.seq_len} + t) * 100 + epoch)", 11)}) AS xt
       |  FROM stepped st JOIN sched c USING (step)
       |)""".stripMargin
  }

  private def epochMetricsSql: String = noisedSql +
    s""", em AS (
       |  SELECT epoch, split, ${sqlR6("avg(pow(xt - value, 2))")} AS loss
       |  FROM noised_t GROUP BY epoch, split
       |)
       | SELECT epoch, split, loss, ${sqlR6("log10(loss)")} AS log10_loss
       | FROM em ORDER BY epoch, split""".stripMargin

  private def bestCheckpointSql: String = noisedSql +
    s""", em AS (
       |  SELECT epoch, split, ${sqlR6("avg(pow(xt - value, 2))")} AS loss
       |  FROM noised_t GROUP BY epoch, split
       |)
       |SELECT epoch AS best_epoch, loss AS val_loss,
       |       '${cfg.function_type}' AS function_type, ${cfg.timesteps} AS timesteps
       |FROM em WHERE split = 'val' ORDER BY loss, epoch LIMIT 1""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "pipeline_split_counts" -> ((s, _) =>
      split(s).groupBy("split").agg(
        countDistinct(col("series_id")).as("n_series"),
        count(lit(1)).as("n_rows"),
        r6(avg(col("value"))).as("mean_value")).orderBy("split")),
    "pipeline_shuffle_batches" -> ((s, _) => shuffleBatches(s).orderBy("series_id")),
    "pipeline_series_stats" -> ((s, _) => seriesStats(s).orderBy("series_id")),
    "pipeline_epoch_metrics" -> ((s, _) => epochMetrics(s).orderBy("epoch", "split")),
    "pipeline_best_checkpoint" -> ((s, _) => bestCheckpointRoundtrip(s)),
    "loss_custom_mae" -> ((s, _) => lossByName(s, "mae")),
    "loss_custom_huber" -> ((s, _) => lossByName(s, "huber1"))
  )

  def oracles: Map[String, String] = Map(
    "pipeline_split_counts" ->
      s"""WITH $splitSql
         |SELECT split, count(DISTINCT series_id) AS n_series, count(*) AS n_rows,
         |       ${sqlR6("avg(value)")} AS mean_value
         |FROM split_t GROUP BY split ORDER BY split""".stripMargin,
    "pipeline_shuffle_batches" ->
      s"""WITH ids AS (
         |  SELECT CAST(i AS BIGINT) AS series_id FROM range(0, ${cfg.n_train + cfg.n_val}) r(i)
         |), shuffled AS (
         |  SELECT series_id,
         |         row_number() OVER (ORDER BY (${R.sqlU01("CAST(series_id AS DOUBLE)", 19)}), series_id) AS rn
         |  FROM ids
         |)
         |SELECT series_id, CAST(floor((rn - 1) / 32) AS INT) AS batch_id,
         |       CAST((rn - 1) % 32 AS BIGINT) AS pos_in_batch
         |FROM shuffled ORDER BY series_id""".stripMargin,
    "pipeline_series_stats" ->
      s"""WITH noisy AS (
  |  ${Generators.datasetSqlCore(cfg.function_type, 100, cfg.seq_len).replace(
          "SELECT series_id, t, " + sqlR6("(noisy - mu) / (sigma + 1e-8)") + " AS value",
          "SELECT series_id, t, " + sqlR6("noisy") + " AS value")}
         |)
         |SELECT series_id, ${sqlR6("avg(value)")} AS mean, ${sqlR6("stddev_samp(value)")} AS std_samp,
         |       ${sqlR6("min(value)")} AS min, ${sqlR6("max(value)")} AS max
         |FROM noisy GROUP BY series_id ORDER BY series_id""".stripMargin,
    "pipeline_epoch_metrics" -> epochMetricsSql,
    "pipeline_best_checkpoint" -> bestCheckpointSql,
    "loss_custom_mae" -> (Metrics.lossInputSql +
      s" SELECT 'mae' AS loss_type, ${sqlR6("avg(abs(pred - target))")} AS loss FROM pt"),
    "loss_custom_huber" -> (Metrics.lossInputSql +
      s""" SELECT 'huber1' AS loss_type,
         | ${sqlR6("avg(CASE WHEN abs(pred - target) <= 1.0e0 THEN 0.5e0 * pow(pred - target, 2) ELSE abs(pred - target) - 0.5e0 END)")} AS loss
         | FROM pt""".stripMargin)
  )
}
