package graft

import graft.sources.{Compaction, FileSizing}
import org.apache.spark.sql.functions._

class CompactionSpec extends SparkSpec {

  test("compaction: fragments collapse into size-banded files, rows preserved") {
    val stats = Compaction.fileStats(spark, sf).cache()
    val frag = stats.filter(col("layout") === "fragmented")
    val comp = stats.filter(col("layout") === "compacted")

    // the fragmented layout actually exhibits the small-files problem
    assert(frag.filter(col("n_files") > 1).count() > 0,
      "fragmented layout produced no multi-file dates")

    // registered layout: every file inside the size band (equal-frequency
    // range chunks can only undershoot at date boundaries, never overshoot
    // past sampling error)
    val band = (Compaction.TargetFileRows * Compaction.SizeBand).toLong
    val maxFile = Compaction.perFileRows(spark, Compaction.compactedLocation(spark).toString)
      .agg(max("n_rows")).collect()(0).getLong(0)
    assert(maxFile <= band, s"file of $maxFile rows exceeds the $band-row band")

    // same dates, same per-date row counts — layout changed, content didn't
    val drift = frag.select(col("event_date"), col("n_rows").as("frag_rows"))
      .join(comp.select(col("event_date"), col("n_rows").as("comp_rows")),
        Seq("event_date"), "full")
      .filter(col("frag_rows").isNull || col("comp_rows").isNull ||
        col("frag_rows") =!= col("comp_rows"))
    assert(drift.count() == 0)

    // and the total matches the source table
    val total = comp.agg(sum("n_rows")).collect()(0).getLong(0)
    assert(total == Tables.events(spark, sf).count())
    stats.unpersist()
  }

  test("compaction: a hot date splits into multiple banded files (no straggler)") {
    // re-compact the same fragments at a target far below the per-date row
    // count, so EVERY fixture date is "hot" relative to the target — the
    // shape a skewed production partition has
    val target = 20L
    val loc = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), "graft_events_compacted_small").toString
    Compaction.compactTo(
      spark.read.parquet(Compaction.fragmentedLocation(spark).toString), loc, target,
      FileSizing.bytesAt(spark, Compaction.fragmentedLocation(spark).toString))
    val files = Compaction.perFileRows(spark, loc).cache()

    // band holds at this target too …
    val band = (target * Compaction.SizeBand).toLong
    val maxFile = files.agg(max("n_rows")).collect()(0).getLong(0)
    assert(maxFile <= band, s"file of $maxFile rows exceeds the $band-row band")

    // … every chunk materialized (no task absorbed several targets' worth) …
    val totalRows = files.agg(sum("n_rows")).collect()(0).getLong(0)
    val nFiles = files.count()
    assert(nFiles >= (totalRows + target - 1) / target,
      s"$nFiles files for $totalRows rows — chunks merged past the target")

    // … so by pigeonhole every over-band date has ≥2 parallel files; assert
    // it directly on at least one date to keep the claim non-vacuous
    val split = files.groupBy("event_date")
      .agg(sum("n_rows").as("rows"), count(lit(1)).as("nf"))
      .filter(col("rows") > band && col("nf") >= 2)
    assert(split.count() > 0, "no over-band date shows a multi-file split")

    // and the rewrite is still pure layout
    assert(totalRows == Tables.events(spark, sf).count())
    files.unpersist()
  }

  test("byte ceiling governs chunk count past the demo plateau") {
    // the three boundedChunks regimes, pinned as a unit contract: the
    // fixture row form below the plateau, the MaxDemoChunks plateau where
    // rows alone would explode the count, the byte branch past it (the
    // production invariant — bytes-per-file, not rows-per-file)
    val bt = FileSizing.TargetFileBytes
    assert(FileSizing.boundedChunks(1000, 10 * bt, 100) == 10)
    assert(FileSizing.boundedChunks(100L * 1000000, 10 * bt, 1000) ==
      FileSizing.MaxDemoChunks)
    assert(FileSizing.boundedChunks(100L * 1000000, 100 * bt, 1000) == 100)

    // e2e: drive the real compaction write through the byte branch (the
    // sourceBytes stat is a parameter, so the branch is reachable at fixture
    // scale) — the layout must cut byte-target chunks, not the 64 plateau
    val frag = Tables.events(spark, sf).withColumn("event_date", to_date(col("ts")))
    val loc = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), "graft_bytegov_test").toString
    Compaction.compactTo(frag, loc, 1L, 100 * bt)
    val nFiles = spark.read.parquet(loc)
      .select(input_file_name().as("f")).distinct().count()
    assert(nFiles >= 100, s"byte ceiling not engaged: $nFiles files")
  }

  test("stream width: a tiny source gets one store, a missing one assumes BIG") {
    assert(FileSizing.streamShufflePartitions(spark, s"$sf/events.parquet", 4) == 1)
    val missing = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), "graft_no_such_source").toString
    assert(FileSizing.bytesAt(spark, missing) == 0L)
    assert(FileSizing.streamShufflePartitions(spark, missing, 4) == 32)
  }
}
