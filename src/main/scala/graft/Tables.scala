package graft

import graft.sources.Artifacts
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Loaders for the driver test tables (FIXTURES.md §3) and graft's own
  * parquet layouts. Reading through `spark.read.parquet` keeps filter
  * pushdown and column pruning available to every downstream operator.
  *
  * Every table is opened by [[parquet]], which gives the reader a memoized
  * schema. Inferring a parquet schema starts a Spark job that reads a
  * footer, on every read; with the schema given, opening a table while a
  * query is being built starts no job. `events` has a schema of its own.
  */
object Tables {
  /** Session confs whose values change what parquet schema inference
    * returns; they are part of the schema's stamp. */
  private val InferenceConfs = Seq(
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.legacy.parquet.nanosAsLong")

  /** The parquet file or directory at `path`, read with the schema stored in
    * `Artifacts.memo("table_schema", path, stamp)`. The stamp is the path's
    * listing fingerprint plus the session's [[InferenceConfs]], so a
    * rewritten or grown table, or a flipped conf, infers again. A miss
    * returns the inferred frame itself and stores its schema; a hit starts
    * no job.
    */
  def parquet(spark: SparkSession, path: String): DataFrame = {
    val stamp = (Artifacts.listingFingerprint(spark, path) +:
      InferenceConfs.map(k => s"$k=${spark.conf.getOption(k).getOrElse("")}")).mkString(";")
    var inferred: Option[DataFrame] = None
    val schema = Artifacts.memo("table_schema", path, stamp) {
      val df = spark.read.parquet(path)
      inferred = Some(df)
      df.schema
    }
    inferred.getOrElse(spark.read.schema(schema).parquet(path))
  }

  def t(spark: SparkSession, dir: String, name: String): DataFrame =
    parquet(spark, s"$dir/$name.parquet")

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
    Artifacts.memo("events_ts_type", dir) {
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

  /** An incremental file source over table `name` of a fixture dir. The
    * file stream source needs a directory base path: when `<name>.parquet`
    * is itself a directory (the shape of any engine-written or lakehouse
    * table, and of `GenSf1`'s fixtures) it is watched directly, because a
    * glob filter matches leaf file names only and would list ZERO files
    * there; when it is a single file (the sf test fixtures), the fixture dir
    * is watched with a glob filter selecting only that file. The probe goes
    * through Hadoop's FileSystem, not java.io.File, which cannot see a
    * non-local (HDFS/S3) directory and would pick the glob form.
    */
  def stream(spark: SparkSession, dir: String, name: String, schema: StructType): DataFrame = {
    val table = s"$dir/$name.parquet"
    val path = new org.apache.hadoop.fs.Path(table)
    val isDir =
      try path.getFileSystem(spark.sessionState.newHadoopConf()).getFileStatus(path).isDirectory
      catch { case _: java.io.FileNotFoundException => false }
    val r = spark.readStream.schema(schema)
    if (isDir) r.parquet(table)
    else r.option("pathGlobFilter", s"$name.parquet").parquet(dir)
  }

  /** Streaming twin of [[events]]: same unit detection (via the batch footer
    * probe), planned as an incremental file source ([[stream]]). */
  def eventsStream(spark: SparkSession, dir: String): DataFrame =
    nativeTsType(spark, dir) match {
      case Some(t) =>
        stream(spark, dir, "events", eventsNativeSchema(t))
          .withColumn("ts", col("ts").cast(TimestampType))
      case None =>
        stream(spark, dir, "events", eventsRawSchema)
          .withColumn("ts", timestamp_micros(expr("ts div 1000")))
    }

  /** Fits the schema of every fixture table: the nine read through [[t]]
    * and the events `ts` unit probe. */
  def fitSchemas(spark: SparkSession, dir: String): Unit = {
    Seq("documents", "embeddings", "lineitem", "orders", "customer", "supplier", "part",
      "nation", "region").foreach(t(spark, dir, _))
    events(spark, dir)
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
