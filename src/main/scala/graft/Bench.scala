package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, sum, xxhash64}
import org.apache.spark.sql.types.DecimalType
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.Locale
import scala.jdk.CollectionConverters._

/** Benchmark main: runs every registered query against SPARK_GRAFT_SF_DIR and
  * emits the full ms-rounded JSON result line followed by an ULTRA-SHORT
  * `{"metric":"total","value":N}` line as the LAST stdout line, both also
  * persisted to SPARK_GRAFT_BENCH_OUT (default BENCH_local.json) — so a
  * truncated stdout tail (a tail capture that cuts the long line mid-way)
  * can never lose the run's perf signal.
  *
  * Host contention only ever adds time, and it lands as stalls scattered
  * across trivial queries. Each query therefore runs TWICE and records the
  * MIN, and the JSON carries /proc/loadavg (start/end) plus total JVM GC
  * time as evidence for adjudicating a distorted run.
  *
  * Each run computes the query's [[digest]] rather than count(): under
  * count() Catalyst prunes every computed column that doesn't affect
  * cardinality (signals, noise, window math), so count()-timing understates
  * real cost. xxhash64 over all output columns makes every cell get computed
  * while still reducing to a single row — and the final per-query orderBy
  * (needed only for the correctness dump) is eliminated under the aggregate,
  * so bench measures compute, not presentation sorts. The digests go into
  * the JSON, so two runs' values can be compared query by query, and a
  * query whose runs disagree (e.g. a memo hit that differs from the miss)
  * counts as a `DigestMismatch` error.
  */
object Bench {
  /** A query's value digest, `rows:sum`: the row count plus the exact sum of
    * xxhash64 over all columns as decimal(38,0), which cannot overflow (a
    * BIGINT sum of the hashes overflows 2^63 under ANSI mode) and does not
    * depend on row order, partitioning or merge order. */
  def digest(df: DataFrame): String = {
    val r = df.agg(count(lit(1)),
      sum(xxhash64(df.columns.toIndexedSeq.map(col): _*).cast(DecimalType(38, 0))))
      .collect().head
    s"${r.getLong(0)}:${Option(r.get(1)).getOrElse("null")}"
  }

  private def loadavg: String =
    try Files.readString(Paths.get("/proc/loadavg")).trim.split(" ").take(3).mkString(" ")
    catch { case _: Throwable => "n/a" }

  private def gcMillis: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(b.getCollectionTime, 0L)).sum

  /** Hypervisor steal ticks (field 9 of /proc/stat's cpu line): a VM-level
    * freeze stalls wall-clock while loadavg stays low — steal is the one
    * counter that names it. Such a freeze shows as alphabetically-contiguous
    * blocks of 100x-slowed trivial queries with load < 2 throughout, so the
    * artifact carries the evidence.
    */
  private def stealTicks: Long =
    try Files.readString(Paths.get("/proc/stat")).linesIterator
      .find(_.startsWith("cpu "))
      .map(_.trim.split("\\s+").drop(1).map(_.toLong))
      .filter(_.length >= 8).map(_(7)).getOrElse(0L)
    catch { case _: Throwable => 0L }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_local.json")
    // clamp to >=1 and survive a malformed value: a crash here (or runs=0 making
    // dts.min throw) would lose the round's whole perf signal
    val runs = math.max(1,
      try sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "2").toInt
      catch { case _: NumberFormatException => 2 })
    val spark = LocalSession.builder(cpus.toInt)
      // AQE sizes shuffles from THIS width down: 32 fixed partitions made
      // every sf100 reducer sort ~19M rows and spill (lineitem_leadtime_sla
      // read 18× for 10× data), while a fixed 8×cpus taxed every sub-second
      // sf0.1 query — so the width derives from the fixture's byte size (see
      // FileSizing.initialShufflePartitions)
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        graft.sources.FileSizing.initialShufflePartitions(sfDir, cpus.toInt))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val loadStart = loadavg
    val gcStart = gcMillis
    val stealStart = stealTicks
    // optional comma-separated query filter for local single-query iteration;
    // the driver never sets it, so round benches always cover the registry
    val only: Option[Set[String]] =
      sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").toSet)
    // warm up codegen/IO paths so the first measured query doesn't absorb
    // session bring-up
    spark.range(1000000).selectExpr("sum(id)").collect()
    // A shared artifact is built once, before any sweep, as an explicitly
    // timed pseudo-query: otherwise whichever consumer ran first would absorb
    // the build and every later one ride free. Timed OUTSIDE sweep() so a
    // steal-retry keeps the real build time (an in-sweep line would read ~0
    // whenever the retry fired, because the kept second sweep only sees a
    // memo hit); one sample, not min-of-runs, for the same reason. The lines
    // are appended to the selected sweep's results below, so the total still
    // includes the builds. Skipped under SPARK_GRAFT_BENCH_ONLY (filtered
    // local iteration shouldn't pay unconditional builds).
    val artifactErrors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    def artifact(name: String)(build: => Any): Option[(String, Double)] =
      if (only.isEmpty) {
        val t0 = System.nanoTime()
        try build
        catch { case e: Throwable => artifactErrors(name) = e.getClass.getSimpleName }
        Some(name -> (System.nanoTime() - t0) / 1e9)
      } else None
    // The ten table-schema fits, timed before the warm-up read below, which
    // would otherwise fit lineitem's schema
    val schemaLine = artifact("tables__schema_artifact")(Tables.fitSchemas(spark, sfDir))
    Tables.lineitem(spark, sfDir).count()
    // a query that throws would otherwise time near-zero and FLATTER the
    // total: record the exception class per query so the JSON carries an
    // "errors" count and a failing total can't look healthy.
    // Correctness gating catches the breakage separately; this makes the perf
    // artifact self-auditing the way the steal/gc fields are.
    // Both samples of a query run back-to-back, so the second one runs warm
    // (JIT, parquet footer and file caches) and min-of-runs sees it. A host
    // stall that taxes both adjacent samples is bounded by the sweep-level
    // steal-retry guard below, and a stall invisible to the steal counter
    // only ever makes the recorded number worse, never better.
    def sweep(errors: scala.collection.mutable.Map[String, String],
        digests: scala.collection.mutable.Map[String, String]): Seq[(String, Double)] = {
      val regAsc = SparkEntry.queries.toSeq.sortBy(_._1)
        .filter(kv => only.forall(_.contains(kv._1)))
      val best = scala.collection.mutable.LinkedHashMap(
        regAsc.map { case (n, _) => n -> Double.MaxValue }: _*)
      def timeOne(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Unit = {
        val t0 = System.nanoTime()
        try {
          val d = digest(fn(spark, sfDir))
          if (digests.getOrElseUpdate(name, d) != d) errors(name) = "DigestMismatch"
        } catch { case e: Throwable => errors(name) = e.getClass.getSimpleName }
        val dt = (System.nanoTime() - t0) / 1e9
        // release blocks pinned by intra-query localCheckpoints so storage
        // pressure from one query can't tax the next — session-scoped
        // artifacts (Pinned) are exempt, they exist to be reused
        graft.sources.Pinned.releaseUnpinned(spark, blocking = true)
        // MIN across runs: contention stalls only ever ADD time, so the min
        // is the best estimate of the code's true cost on this host
        if (dt < best(name)) best(name) = dt
      }
      for ((name, fn) <- regAsc; _ <- 1 to runs) timeOne(name, fn)
      best.toSeq
    }
    // Steal-retry guard: when a sweep absorbs more than 5,000 steal ticks
    // (≈ 50 cpu-seconds stolen), run ONE more full sweep and keep whichever
    // saw less steal, so a hypervisor-frozen run can't become the recorded
    // number while a genuinely busy host still terminates.
    val maxSteal = 5000L
    // The dedup shingle artifact (Dedup.docShingles: warehouse parquet +
    // pinned localCheckpoint) is shared by every dedup_* consumer.
    val shingleLine = artifact("dedup__shingle_artifact")(
      graft.operators.Dedup.docShingles(spark, sfDir))
    var errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    var digests = scala.collection.mutable.LinkedHashMap.empty[String, String]
    var sweepSteal = stealTicks
    var results = sweep(errors, digests)
    sweepSteal = stealTicks - sweepSteal
    var retried = false
    if (sweepSteal > maxSteal) {
      retried = true
      val errors2 = scala.collection.mutable.LinkedHashMap.empty[String, String]
      val digests2 = scala.collection.mutable.LinkedHashMap.empty[String, String]
      var steal2 = stealTicks
      val results2 = sweep(errors2, digests2)
      steal2 = stealTicks - steal2
      if (steal2 < sweepSteal) {
        results = results2; errors = errors2; digests = digests2; sweepSteal = steal2
      }
    }
    // the artifact build lines ride whichever sweep was kept (see above)
    results = results ++ schemaLine ++ shingleLine
    errors ++= artifactErrors
    def ms(v: Double): String = "%.3f".formatLocal(Locale.ROOT, v)
    val qs = results.map { case (k, v) => s"\"$k\":${ms(v)}" }.mkString("{", ",", "}")
    val total = results.map(_._2).sum
    val gcSec = (gcMillis - gcStart) / 1e3
    // steal is in USER_HZ (100/s) per-cpu-summed; report raw tick delta
    val stealDelta = stealTicks - stealStart
    def obj(m: scala.collection.Map[String, String]): String =
      m.map { case (k, v) => s"\"$k\":\"$v\"" }.mkString("{", ",", "}")
    val full = s"""{"metric":"total","value":${ms(total)},"unit":"sec","queries":$qs,"sf":"$sfDir"""" +
      s""","runs":$runs,"agg":"min","loadavg_start":"$loadStart","loadavg_end":"$loadavg"""" +
      s""","gc_sec":${ms(gcSec)},"steal_ticks":$stealDelta""" +
      s""","sweep_steal_ticks":$sweepSteal,"steal_retried":$retried""" +
      s""","harness":"back_to_back"""" +
      s""","errors":${errors.size},"query_errors":${obj(errors)}""" +
      s""","digests":${obj(digests)}}"""
    val short = s"""{"metric":"total","value":${ms(total)}}"""
    try Files.writeString(Paths.get(outPath), full + "\n" + short + "\n")
    catch { case _: Throwable => () }
    spark.stop()
    println(full)
    println(short)
  }
}
