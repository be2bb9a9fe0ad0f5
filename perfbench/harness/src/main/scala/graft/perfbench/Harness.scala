package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, sum, xxhash64}
import org.apache.spark.sql.types.DecimalType

import graft.SparkEntry

/** One benchmark run in one JVM, driven by `perfbench/run.py`.
  *
  * 1. Set-up, timed from JVM start: session bring-up, a fixed warm-up query
  *    plus fixture probe, then the workload's artifact pre-builds, each
  *    builder call timed on its own. The JVM, the warehouse and the fixture
  *    copy are fresh, so every JVM-global memo and WriteOnce layout is cold.
  * 2. A verification pass, untimed, that also warms the query paths up:
  *    every query built once, its result written to parquet for the oracle
  *    compare and its digest kept as the reference.
  * 3. The timed section: one client thread runs the workload's queries in a
  *    closed loop, whole passes in a seed-permuted order: one warm-up pass
  *    (the JIT is still compiling after the verification pass), then
  *    measured passes until `seconds` have passed and at least three ran.
  *    A fixed calibration kernel (Calibrate) runs before every measured pass
  *    and after the last one, in `calibrate` spans outside the passes, so
  *    the host's speed during the run is known.
  *
  * With `trace` on, a SparkListener and a StreamingQueryListener are attached
  * and every job is tagged with the id of the span it ran under; each
  * pre-build's builder is then called a second time (a memo hit launches
  * fewer jobs than the cold call), and the timed section runs at least four
  * passes,
  * alternating untraced and traced ones, so the tracing overhead is measured
  * in the same run. Without it no listener or tag is added. Results go to
  * `<out>/result.json` and `<out>/spans.jsonl`.
  */
object Harness {

  final case class Args(
      workload: String, seed: Long, seconds: Double, trace: Boolean, cores: Int,
      fixture: String, warehouse: String, out: String,
      queries: Seq[String], prebuilds: Seq[(String, String)])

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def list(k: String) = m.get(k).filter(_.nonEmpty).map(_.split(",").toSeq).getOrElse(Nil)
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      m("cores").toInt, m("fixture"), m("warehouse"), m("out"), list("queries"),
      list("prebuilds").map { p => val Array(n, q) = p.split("="); n -> q })
  }

  /** The query's digest: row count plus an exact, order-independent sum of
    * a 64-bit hash over all columns. */
  def digest(df: DataFrame): DataFrame =
    df.agg(count(lit(1)).as("n"),
      sum(xxhash64(df.columns.toIndexedSeq.map(col): _*).cast(DecimalType(38, 0))).as("h"))

  def digestString(d: DataFrame): String = {
    val r = d.collect().head
    s"${r.getLong(0)}:${Option(r.get(1)).getOrElse("null")}"
  }

  private def readProc(path: String): String =
    try Files.readString(Paths.get(path)) catch { case _: Throwable => "" }

  /** Hypervisor steal, in USER_HZ ticks summed over cpus (/proc/stat). */
  def stealTicks: Long =
    readProc("/proc/stat").linesIterator.find(_.startsWith("cpu "))
      .map(_.trim.split("\\s+")).filter(_.length > 8).map(_(8).toLong).getOrElse(0L)

  /** Cpus the host reports in /proc/stat, over which steal ticks are summed. */
  def hostCpus: Int =
    readProc("/proc/stat").linesIterator.count(l => l.startsWith("cpu") && l.length > 3 && l(3).isDigit)

  def loadavg: Double =
    readProc("/proc/loadavg").split(" ").headOption.flatMap(_.toDoubleOption).getOrElse(-1.0)

  def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(b.getCollectionTime, 0L)).sum / 1e3

  def processCpuSeconds: Double =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  /** Resident-set high-water mark of this JVM in MB (VmHWM). */
  def peakRssMb: Double =
    readProc("/proc/self/status").linesIterator.find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)

  /** Heap still reachable after a full collection: what the session keeps
    * (memos, pinned artifacts, cached plans and blocks) once the work is done. */
  def liveHeapMb: Double = {
    System.gc()
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def session(a: Args): SparkSession =
    SparkSession.builder()
      .master(s"local[${a.cores}]")
      .config("spark.sql.shuffle.partitions", a.cores)
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        graft.sources.FileSizing.initialShufflePartitions(a.fixture, a.cores))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", a.warehouse)
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .getOrCreate()

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val registry = SparkEntry.queries
    val missing = (a.queries ++ a.prebuilds.map(_._2).filter(_ != "docShingles"))
      .filterNot(registry.contains)
    require(missing.isEmpty, s"not in the registry: ${missing.mkString(",")}")
    val dir = a.fixture
    val trace = new Trace(ManagementFactory.getRuntimeMXBean.getStartTime)
    val stats = new Stats
    val run = trace.open("run", 0, atJvmStart = true)

    // 1. set-up, from JVM start
    val setup = trace.open("setup", run.id, atJvmStart = true)
    val s = trace.open("session", setup.id)
    val spark = session(a)
    spark.sparkContext.setLogLevel("WARN")
    trace.close(s)
    val listeners = if (a.trace) Some(new Listeners(spark, stats)) else None
    listeners.foreach(_.resume())
    def tagged[T](span: Span)(body: => T): T =
      if (a.trace) Tags.under(spark, span.id)(body) else body
    val w = trace.open("warmup", setup.id)
    tagged(w) {
      spark.range(1000000).selectExpr("sum(id)").collect()
      graft.Tables.lineitem(spark, dir).count()
      graft.Tables.events(spark, dir).count()
    }
    trace.close(w)
    // the builder call is the artifact fit; the result itself is not run
    val builds = a.prebuilds.map { case (name, q) =>
      val sp = trace.open(s"artifact:$name", setup.id)
      tagged(sp)(builder(spark, dir, q))
      trace.close(sp)
      name -> sp
    }
    trace.close(setup)
    val setupEndSteal = stealTicks
    // traced runs call each builder again: a memo hit skips the fit's jobs
    val repeats = if (!a.trace) Nil else a.prebuilds.map { case (name, q) =>
      val sp = trace.open(s"artifact_repeat:$name", run.id)
      tagged(sp)(builder(spark, dir, q))
      trace.close(sp)
      name -> sp.id
    }
    listeners.foreach(_.pause())
    val setupJson = Json.obj(
      "setup_s" -> setup.seconds, "session_s" -> s.seconds, "warmup_s" -> w.seconds,
      "end_steal_ticks" -> setupEndSteal,
      "artifacts" -> Json.raw(Json.obj(builds.map { case (n, sp) => n -> sp.seconds }: _*)),
      "artifact_spans" -> Json.raw(Json.obj(builds.map { case (n, sp) => n -> sp.id }: _*)),
      "repeat_spans" -> Json.raw(Json.obj(repeats: _*)))
    val rng = new scala.util.Random(a.seed)

    // 2. verification pass: parquet for the oracle + reference digest, from
    // one builder call; the digest collect compiles the timed passes' plans
    val reference = mutable.LinkedHashMap.empty[String, String]
    val verify = trace.open("verify", run.id)
    for (q <- rng.shuffle(a.queries)) {
      reference(q) =
        try {
          val df = registry(q)(spark, dir)
          df.coalesce(1).write.mode("overwrite").parquet(s"${a.out}/results/$q")
          digestString(digest(df))
        } catch { case e: Throwable => s"error:${e.getClass.getSimpleName}: ${e.getMessage}".take(300) }
      Release.all(spark)
    }
    trace.close(verify)
    Calibrate.warm(a.cores)

    // 3. timed section: closed loop of whole passes
    val execs = mutable.ArrayBuffer.empty[String]
    val passes = mutable.ArrayBuffer.empty[String]
    val calibration = mutable.ArrayBuffer.empty[Calibrate.Reading]
    val gc0 = gcSeconds; val steal0 = stealTicks
    val timed = trace.open("timed", run.id)
    var deadline = Long.MaxValue
    // pass 0 is the warm-up, checked but not measured; traced runs then
    // alternate untraced and traced passes in ABBA order, so drift does not
    // land on one side of the overhead ratio
    val minPasses = 1 + (if (a.trace) 4 else 3)
    while (passes.size < minPasses || System.nanoTime() < deadline) {
      val measured = passes.size - 1
      if (measured >= 0) {
        val c = trace.open("calibrate", timed.id)
        calibration += Calibrate.run(a.cores)
        trace.close(c)
      }
      if (measured == 0) deadline = System.nanoTime() + (a.seconds * 1e9).toLong
      val traced = a.trace && (measured % 4 == 1 || measured % 4 == 2)
      listeners.foreach(l => if (traced) l.resume() else l.pause())
      val pass = trace.open("pass", timed.id)
      val passCpu0 = processCpuSeconds
      val passSteal0 = stealTicks
      for (q <- rng.shuffle(a.queries)) {
        val qs = trace.open(s"query:$q", pass.id)
        val qSteal0 = stealTicks
        val rec = Exec.run(spark, registry(q), dir, trace, qs, traced)
        val qSteal = stealTicks - qSteal0
        trace.close(qs)
        execs += Json.obj("pass" -> passes.size, "warmup" -> (measured < 0), "query" -> q,
          "module" -> Modules.of(q), "traced" -> traced, "span" -> qs.id,
          "build_s" -> rec.build.seconds, "exec_s" -> rec.exec.seconds,
          "steal_s" -> qSteal / 100.0,
          "ok" -> (rec.digest == reference(q)), "digest" -> rec.digest)
      }
      trace.close(pass)
      passes += Json.obj("span" -> pass.id, "traced" -> traced, "warmup" -> (measured < 0),
        "wall_s" -> pass.seconds, "cpu_s" -> (processCpuSeconds - passCpu0),
        "steal_s" -> (stealTicks - passSteal0) / 100.0)
    }
    listeners.foreach(_.pause())
    val c = trace.open("calibrate", timed.id)
    calibration += Calibrate.run(a.cores)
    trace.close(c)
    trace.close(timed)
    val gc = gcSeconds - gc0; val steal = stealTicks - steal0
    trace.close(run)
    val liveHeap = liveHeapMb

    val result = Json.obj(
      "workload" -> a.workload, "seed" -> a.seed, "cores" -> a.cores, "host_cpus" -> hostCpus,
      "timed_gc_s" -> gc,
      "steal_ticks" -> steal, "loadavg" -> loadavg, "jvm_gc_s" -> gcSeconds,
      "peak_rss_mb" -> peakRssMb, "live_heap_mb" -> liveHeap,
      "calibration_wall_s" -> calibration.map(_.wallS).toSeq,
      "calibration_cpu_s" -> calibration.map(_.cpuS).toSeq,
      "setup" -> Json.raw(setupJson),
      "passes" -> Json.raw(passes.mkString("[", ",", "]")),
      "reference" -> Json.raw(Json.obj(reference.toSeq: _*)),
      "execs" -> Json.raw(execs.mkString("[", ",\n", "]")),
      "listener" -> Json.raw(if (a.trace) stats.json else "null"))
    Files.writeString(Paths.get(a.out, "spans.jsonl"), trace.jsonl)
    Files.writeString(Paths.get(a.out, "oracle_sql.json"),
      Json.obj(a.queries.map(q => q -> SparkEntry.oracleSql.getOrElse(q, "")): _*))
    Files.writeString(Paths.get(a.out, "result.json"), result)
    spark.stop()
    sys.exit(0)
  }

  /** A pre-build's builder: the shingle artifact, or a registry entry whose
    * builder fits the shared state while it builds the plan (the SQ8
    * statistics are fitted inside `ann_sq8_topk`'s builder). */
  def builder(spark: SparkSession, dir: String, q: String): DataFrame =
    if (q == "docShingles") graft.operators.Dedup.docShingles(spark, dir)
    else SparkEntry.queries(q)(spark, dir)
}
