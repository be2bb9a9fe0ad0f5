package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators._
import graft.streaming.{CurationStream, StatefulOps, StreamingOps, TwsOps}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each operator module contributes a `queries` map (Spark implementation) and an
  * `oracles` map (equivalent DuckDB SQL over the same parquet tables, used by the
  * driver's correctness gate). Keys must match pairwise; column names and rounding
  * are aligned between the two (see graft.functions.Num).
  */
object SparkEntry {

  private val modules: Seq[(Map[String, (SparkSession, String) => DataFrame], Map[String, String])] =
    Seq(
      (EventsOps.queries, EventsOps.oracles),
      (Generators.queries, Generators.oracles),
      (Diffusion.queries, Diffusion.oracles),
      (Metrics.queries, Metrics.oracles),
      (Reshape.queries, Reshape.oracles),
      (TextOps.queries, TextOps.oracles),
      (Dedup.queries, Dedup.oracles),
      (Similarity.queries, Similarity.oracles),
      (Relational.queries, Relational.oracles),
      (Pipeline.queries, Pipeline.oracles),
      (Multimodal.queries, Multimodal.oracles),
      (TrendFit.queries, TrendFit.oracles),
      (StreamingOps.queries, StreamingOps.oracles),
      (CurationStream.queries, CurationStream.oracles),
      (Curation.queries, Curation.oracles),
      (CorpusQc.queries, CorpusQc.oracles),
      (Winnowing.queries, Winnowing.oracles),
      (PqOps.queries, PqOps.oracles),
      (OpqOps.queries, OpqOps.oracles),
      (SqOps.queries, SqOps.oracles),
      (BqOps.queries, BqOps.oracles),
      (graft.sources.Bucketed.queries, graft.sources.Bucketed.oracles),
      (graft.sources.Partitioned.queries, graft.sources.Partitioned.oracles),
      (graft.sources.Compaction.queries, graft.sources.Compaction.oracles),
      (graft.sources.SchemaEvolution.queries, graft.sources.SchemaEvolution.oracles),
      (graft.sources.Backfill.queries, graft.sources.Backfill.oracles),
      (graft.sources.ZOrder.queries, graft.sources.ZOrder.oracles),
      (StatsOps.queries, StatsOps.oracles),
      (EvalOps.queries, EvalOps.oracles),
      (TypedOps.queries, TypedOps.oracles),
      (StatefulOps.queries, StatefulOps.oracles),
      (TwsOps.queries, TwsOps.oracles)
    )

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    EventsOps.decompose(spark, "/root/testdata/sf0.001")

  /** Joins the modules' maps, failing on a name two modules both define
    * (`++` would silently keep the later one). */
  private[graft] def joined[V](maps: Seq[Map[String, V]], what: String): Map[String, V] =
    maps.foldLeft(Map.empty[String, V]) { (acc, m) =>
      m.keys.find(acc.contains).foreach(k =>
        throw new IllegalStateException(s"duplicate $what name: $k"))
      acc ++ m
    }

  /** One entry per implemented operator from SURVEY.md §2. */
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    joined(modules.map(_._1), "query")

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. */
  val oracleSql: Map[String, String] = joined(modules.map(_._2), "oracle")

  (queries.keySet diff oracleSql.keySet).headOption.foreach(k =>
    throw new IllegalStateException(s"query without an oracle: $k"))
  (oracleSql.keySet diff queries.keySet).headOption.foreach(k =>
    throw new IllegalStateException(s"oracle without a query: $k"))
}
