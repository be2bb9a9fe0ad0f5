package graft.perfbench

import graft.operators._
import graft.sources._
import graft.streaming._

/** The operator module each registry entry comes from, for per-module
  * build and exec times. Mirrors the module list graft.SparkEntry joins. */
object Modules {
  private lazy val byQuery: Map[String, String] = Seq(
    "EventsOps" -> EventsOps.queries, "Generators" -> Generators.queries,
    "Diffusion" -> Diffusion.queries, "Metrics" -> Metrics.queries,
    "Reshape" -> Reshape.queries, "TextOps" -> TextOps.queries,
    "Dedup" -> Dedup.queries, "Similarity" -> Similarity.queries,
    "Relational" -> Relational.queries, "Pipeline" -> Pipeline.queries,
    "Multimodal" -> Multimodal.queries, "TrendFit" -> TrendFit.queries,
    "StreamingOps" -> StreamingOps.queries, "CurationStream" -> CurationStream.queries,
    "Curation" -> Curation.queries, "CorpusQc" -> CorpusQc.queries,
    "Winnowing" -> Winnowing.queries, "PqOps" -> PqOps.queries,
    "OpqOps" -> OpqOps.queries, "SqOps" -> SqOps.queries, "BqOps" -> BqOps.queries,
    "Bucketed" -> Bucketed.queries, "Partitioned" -> Partitioned.queries,
    "Compaction" -> Compaction.queries, "SchemaEvolution" -> SchemaEvolution.queries,
    "Backfill" -> Backfill.queries, "ZOrder" -> ZOrder.queries,
    "StatsOps" -> StatsOps.queries, "EvalOps" -> EvalOps.queries,
    "TypedOps" -> TypedOps.queries, "StatefulOps" -> StatefulOps.queries,
    "TwsOps" -> TwsOps.queries,
  ).flatMap { case (m, qs) => qs.keys.map(_ -> m) }.toMap

  def of(query: String): String = byQuery.getOrElse(query, "unknown")
}
