package graft.sources

import org.apache.spark.sql.SparkSession

/** RDD ids of deliberately SESSION-scoped cached artifacts (the dedup shingle
  * table's checkpointed read is the canonical case): the harness mains
  * unpersist every persistent RDD between queries so one query's intra-query
  * localCheckpoints can't tax the next with storage pressure, but a
  * cross-query artifact exists precisely to be reused across queries — the
  * blanket unpersist silently re-materialized it once per consumer (~1–3 s
  * per dedup pair query at sf0.1, more at sf10). [[releaseUnpinned]] is that
  * between-query loop; the pinning site is responsible for unpinning +
  * unpersisting when it supersedes an artifact.
  */
object Pinned {
  private val ids = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
  def pin(id: Int): Unit = ids.add(id)
  def unpin(id: Int): Unit = ids.remove(id)
  def contains(id: Int): Boolean = ids.contains(id)

  /** Unpersist every persistent RDD that is not pinned. `blocking` waits for
    * the blocks to be freed, so a timed caller does not bill the next query
    * for the previous one's cleanup. */
  def releaseUnpinned(spark: SparkSession, blocking: Boolean): Unit =
    spark.sparkContext.getPersistentRDDs.values
      .filterNot(r => contains(r.id))
      .foreach(_.unpersist(blocking))
}
