package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Loaders for the driver test tables (/root/repo/FIXTURES.md §3). Reading through
  * `spark.read.parquet` keeps filter pushdown + column pruning available to every
  * downstream operator.
  */
object Tables {
  def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** events.parquet has shipped with `ts` as TIMESTAMP(NANOS) in some fixture
    * generations and TIMESTAMP(MICROS) in others. Spark 4's parquet reader
    * rejects the NANOS form at schema-conversion time, so that form is read
    * as raw INT64 nanos via an explicit schema and truncated to micros with
    * exact integer division (matching DuckDB's own nanos→micros truncation);
    * the MICROS form reads natively. The unit is detected ONCE per dir from
    * the footer (whether a native schema read succeeds) and memoized — a
    * wrong guess here would silently collapse every timestamp into 1970, so
    * detection must come from the file, not from an assumption.
    */
  val eventsRawSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", LongType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  private def eventsNativeSchema(tsType: DataType): StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", tsType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** `ts`'s inferable Spark type per dir: TimestampType (MICROS, UTC-adjusted),
    * TimestampNTZType (MICROS, isAdjustedToUTC=false — what pandas/pyarrow
    * writers emit), or None when the footer carries NANOS (schema inference
    * throws and the raw-INT64 path applies). Probed once per dir. */
  private def nativeTsType(spark: SparkSession, dir: String): Option[DataType] =
    graft.sources.Artifacts.memo("events_ts_type", dir) {
      try {
        spark.read.parquet(s"$dir/events.parquet").schema("ts").dataType match {
          case t @ (TimestampType | TimestampNTZType) => Some(t)
          case _ => None
        }
      } catch { case scala.util.control.NonFatal(_) => None }
    }

  /** NTZ micros cast to TimestampType is the identity wall-clock mapping under
    * the UTC session timezone every graft session pins — the same naive
    * reading DuckDB's oracle applies to the file. */
  def events(spark: SparkSession, dir: String): DataFrame =
    nativeTsType(spark, dir) match {
      case Some(t) =>
        spark.read.schema(eventsNativeSchema(t)).parquet(s"$dir/events.parquet")
          .withColumn("ts", col("ts").cast(TimestampType))
      case None =>
        spark.read.schema(eventsRawSchema).parquet(s"$dir/events.parquet")
          .withColumn("ts", timestamp_micros(expr("ts div 1000")))
    }

  /** Streaming twin of [[events]]: same unit detection (via the batch footer
    * probe), planned as an incremental file source. The file stream source
    * requires a directory base path: when `events.parquet` is itself a
    * directory (the normal shape of any engine-written / lakehouse table —
    * the sf1 rehearsal fixture exposed that the glob form silently lists
    * ZERO files there), it is watched directly; when it is a single file
    * (the driver fixtures), the sf dir is watched with a glob filter
    * selecting only that file.
    */
  def eventsStream(spark: SparkSession, dir: String): DataFrame = {
    // probe through Hadoop's FileSystem, not java.io.File: a non-local dir
    // (HDFS/S3 URI) is invisible to File.isDirectory, which would silently
    // fall back to the glob form and list zero files — the exact failure
    // this dir probe exists to prevent.
    val probe = new org.apache.hadoop.fs.Path(s"$dir/events.parquet")
    val fs = probe.getFileSystem(spark.sessionState.newHadoopConf())
    val isDir =
      try fs.getFileStatus(probe).isDirectory
      catch { case _: java.io.FileNotFoundException => false }
    val base = if (isDir) s"$dir/events.parquet" else dir
    def src(schema: StructType): DataFrame = {
      val r = spark.readStream.schema(schema)
      (if (isDir) r else r.option("pathGlobFilter", "events.parquet")).parquet(base)
    }
    nativeTsType(spark, dir) match {
      case Some(t) =>
        src(eventsNativeSchema(t))
          .withColumn("ts", col("ts").cast(TimestampType))
      case None =>
        src(eventsRawSchema)
          .withColumn("ts", timestamp_micros(expr("ts div 1000")))
    }
  }

  def documents(spark: SparkSession, dir: String): DataFrame = t(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = t(spark, dir, "embeddings")
  /** The embeddings as `(vec_id, label, v)`, with `v` the vector cast to
    * array<double>: the form every vector operator computes on. */
  def vectors(spark: SparkSession, dir: String): DataFrame =
    embeddings(spark, dir).select(col("vec_id"), col("label"),
      transform(col("embedding"), x => x.cast("double")).as("v"))
  def lineitem(spark: SparkSession, dir: String): DataFrame = t(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = t(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = t(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = t(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = t(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame = t(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = t(spark, dir, "region")
}
