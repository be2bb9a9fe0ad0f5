package graft.functions

import org.apache.spark.sql.DataFrame

/** Eager `localCheckpoint` that reports WHICH RDD ids it pinned, so iterative
  * callers can later unpersist exactly their own superseded snapshots.
  *
  * Ownership is NOT a before/after diff of the context-global
  * persistent-RDD set: anything persisted by unrelated code inside that
  * window (another query's localCheckpoint under concurrent suites) would be
  * mis-attributed and later dropped, and a localCheckpointed RDD with
  * dropped blocks is unrecomputable. Ownership is instead derived from the
  * returned frame ITSELF: the persisted ids are exactly
  * the persistent RDDs reachable in `cp.rdd`'s dependency lineage (the local
  * checkpoint persists the frame's own materialized RDD, so it — and nothing
  * owned by anyone else — is an ancestor of the frame returned). No global
  * diff, no race.
  */
object Checkpoints {
  /** Checkpoint eagerly; return the frame plus the RDD ids it persisted. */
  def tracked(df: DataFrame): (DataFrame, Set[Int]) = {
    val cp = df.localCheckpoint(eager = true)
    val sc = cp.sparkSession.sparkContext
    val persisted = sc.getPersistentRDDs.keySet.toSet
    val seen = scala.collection.mutable.Set.empty[Int]
    val stack = scala.collection.mutable.Stack[org.apache.spark.rdd.RDD[_]](cp.rdd)
    while (stack.nonEmpty) {
      val r = stack.pop()
      if (seen.add(r.id)) r.dependencies.foreach(d => stack.push(d.rdd))
    }
    (cp, seen.toSet.intersect(persisted))
  }

  /** Unpersist exactly the given ids (missing ids are already gone: no-op). */
  def release(df: DataFrame, ids: Set[Int], blocking: Boolean = false): Unit = {
    val persisted = df.sparkSession.sparkContext.getPersistentRDDs
    ids.foreach(id => persisted.get(id).foreach(_.unpersist(blocking)))
  }
}
