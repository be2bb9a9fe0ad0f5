package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.perfbench.SparkInternals

/** One query execution: build (the registry builder, including any eager
  * jobs it fires), exec (the digest collect), release (drop the blocks the
  * query left behind). Traced executions also record plan phases, codegen
  * compilations, scanned files and released checkpoint blocks. */
object Exec {
  final case class Record(digest: String, build: Span, exec: Span)

  def run(spark: SparkSession, fn: (SparkSession, String) => DataFrame, dir: String,
          trace: Trace, query: Span, traced: Boolean): Record = {
    def tagged[T](s: Span)(body: => T): T = if (traced) Tags.under(spark, s.id)(body) else body
    val codegen0 = if (traced) SparkInternals.codegenCompiles else 0L
    val build = trace.open("build", query.id)
    var df: DataFrame = null
    var digestDf: DataFrame = null
    var result =
      try { df = tagged(build)(fn(spark, dir)); "" }
      catch { case e: Throwable => s"error:${e.getClass.getSimpleName}" }
    trace.close(build)
    val exec = trace.open("exec", query.id)
    if (df != null) result =
      try { digestDf = Harness.digest(df); tagged(exec)(Harness.digestString(digestDf)) }
      catch { case e: Throwable => s"error:${e.getClass.getSimpleName}" }
    trace.close(exec)
    val release = trace.open("release", query.id)
    val (rdds, mb) = Release.all(spark, measure = traced)
    trace.close(release)
    if (traced) {
      val phases = Seq(df, digestDf).filter(_ != null).flatMap(_.queryExecution.tracker.phases)
      for (p <- Seq("analysis", "optimization", "planning"))
        query.attrs(s"${p}_s") = phases.filter(_._1 == p).map(_._2.durationMs).sum / 1e3
      query.attrs("codegen_compiles") = SparkInternals.codegenCompiles - codegen0
      val plan = if (digestDf == null) Nil else nodes(digestDf.queryExecution.executedPlan)
      def metric(name: String) = plan.flatMap(_.metrics.get(name)).map(_.value).sum
      query.attrs("files_read") = metric("numFiles")
      query.attrs("scan_mb") = metric("filesSize") / 1048576.0
      query.attrs("checkpoint_rdds") = rdds
      query.attrs("checkpoint_mb") = mb
    }
    Record(result, build, exec)
  }

  /** Every physical node, looking through adaptive wrappers and stages. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }
}

/** Between-query storage hygiene, as in graft's own mains: unpersist every
  * persistent RDD a query left behind except the session's pinned artifacts. */
object Release {
  def all(spark: SparkSession, measure: Boolean = false): (Int, Double) = {
    val sc = spark.sparkContext
    val rdds = sc.getPersistentRDDs.values.filterNot(r => graft.sources.Pinned.contains(r.id)).toSeq
    val mb =
      if (!measure || rdds.isEmpty) 0.0
      else {
        val ids = rdds.map(_.id).toSet
        sc.getRDDStorageInfo.filter(i => ids(i.id)).map(i => i.memSize + i.diskSize).sum / 1048576.0
      }
    rdds.foreach(_.unpersist(blocking = true))
    (rdds.size, mb)
  }
}
