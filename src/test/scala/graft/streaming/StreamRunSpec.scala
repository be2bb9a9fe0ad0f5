package graft.streaming

import graft.SparkSpec
import org.apache.spark.graftbridge.ShutdownDeletes

/** What a graft streaming run leaves behind in the caller's session and on
  * disk. */
class StreamRunSpec extends SparkSpec {

  private val widthKey = "spark.sql.shuffle.partitions"
  private val runKeys = StreamingOps.RunConfs.map(_._1)

  /** The caller's explicit setting of each key, None when unset. */
  private def explicit(keys: Seq[String]): Seq[Option[String]] = {
    val set = spark.conf.getAll
    keys.map(set.get)
  }

  test("a streaming run leaves unset keys unset and the caller's width as it was") {
    assert(spark.conf.getAll.contains(widthKey))
    val before = explicit(widthKey +: runKeys)
    assert(before.tail.forall(_.isEmpty))
    assert(StreamingOps.streamTumbling(spark, sf).count() > 0)
    assert(explicit(widthKey +: runKeys) == before)
  }

  test("a width the caller never set is unset again, not pinned to its default") {
    val callerWidth = spark.conf.get(widthKey)
    spark.conf.unset(widthKey)
    try {
      StreamingOps.withStreamWidth(spark, s"$sf/events.parquet")(())
      assert(explicit(Seq(widthKey)) == Seq(None))
    } finally spark.conf.set(widthKey, callerWidth)
  }

  test("inside a run the clone's constants are set; a value the caller set wins and survives") {
    val (isolation, manager) = (runKeys(0), runKeys(1))
    val callerManager =
      "org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager"
    spark.conf.set(manager, callerManager)
    try {
      val inside = StreamingOps.withStreamWidth(spark, s"$sf/events.parquet")(
        explicit(Seq(isolation, manager)))
      assert(inside == Seq(Some("false"), Some(callerManager)))
      assert(explicit(Seq(isolation, manager)) == Seq(None, Some(callerManager)))
    } finally spark.conf.unset(manager)
  }

  test("a run whose body throws still restores the caller's session") {
    val before = explicit(widthKey +: runKeys)
    var inside = Seq.empty[Option[String]]
    val thrown = intercept[IllegalStateException] {
      StreamingOps.withStreamWidth(spark, s"$sf/events.parquet") {
        inside = explicit(widthKey +: runKeys)
        throw new IllegalStateException("stream failed")
      }
    }
    assert(thrown.getMessage == "stream failed")
    assert(inside.head != before.head && inside.tail.forall(_.nonEmpty))
    assert(explicit(widthKey +: runKeys) == before)
  }

  test("stream_mv_merge's state directory is deleted when the JVM exits") {
    val files = StreamingOps.streamMvMerge(spark, sf).inputFiles
    assert(files.nonEmpty)
    val dirs = files.map(f => new java.io.File(new java.net.URI(f)).getParentFile.getParentFile)
      .distinct
    assert(dirs.length == 1)
    assert(dirs.head.getName.startsWith("graft_mv"))
    assert(ShutdownDeletes.registered(dirs.head.getCanonicalFile))
  }
}
