package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, count, lit, sum, xxhash64}
import org.apache.spark.sql.types.DecimalType

/** Spark's compiled-class cache holds graft's working set: once the queries
  * of the time-series pipeline and the corpus-pair workload have run,
  * running them again compiles nothing. With Spark's default cache of 100
  * classes the second round recompiled most of its ~200 classes.
  *
  * The streaming queries (`stream_tumbling_agg`, `stream_curated_ingest`)
  * execute on a session cloned at stream start. Under Spark's per-session
  * artifact isolation that clone's tasks would load generated classes
  * through a class loader of their own, which is part of the cache key, and
  * each run would compile its classes again; graft's streaming runs turn
  * isolation off for the clone, so they repeat without compiling too. */
class CodegenCacheSpec extends SparkSpec {

  private val workload = Seq("diff_qsample", "ts_decompose", "stream_tumbling_agg",
    "dedup_ngram_jaccard", "ann_sq8_recall", "stream_curated_ingest")

  /** Row count plus an order-independent hash sum over every column. */
  private def digest(df: DataFrame): String = {
    val r = df.agg(count(lit(1)),
      sum(xxhash64(df.columns.toIndexedSeq.map(col): _*).cast(DecimalType(38, 0)))).collect().head
    s"${r.get(0)}:${r.get(1)}"
  }

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  test("the session sizes the codegen cache to the graft constant") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ==
      plans.GraftExtensions.CodegenCacheEntries.toString)
  }

  test("a second round of the benchmark queries compiles no generated class") {
    def round(): Seq[(String, String, Long)] = workload.map { q =>
      val before = compiles
      val d = digest(SparkEntry.queries(q)(spark, sf))
      (q, d, compiles - before)
    }
    val first = round()
    val second = round()
    assert(second.map(_._2) == first.map(_._2))
    val recompiled = second.filter(_._3 > 0)
    assert(recompiled.isEmpty,
      s"classes compiled again: ${recompiled.map(r => s"${r._1}=${r._3}").mkString(", ")}")
  }
}
