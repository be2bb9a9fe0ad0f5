package graft

import graft.streaming.StreamingOps
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.sql.Timestamp

case class Ev(event_id: Long, ts: Timestamp, user_id: Long, event_type: String, value: Double)

class StreamingSpec extends SparkSpec {

  private def mkEvents: Seq[Ev] = {
    val base = Timestamp.valueOf("2024-01-01 00:00:00").getTime
    (0 until 500).map { i =>
      Ev(i, new Timestamp(base + i.toLong * 97 * 1000), i % 7,
        Seq("click", "view", "purchase")(i % 3), (i % 100) / 10.0)
    }
  }

  test("foreachBatch MV maintenance accumulates across micro-batches to the flat rollup") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val events = mkEvents
    val stream = MemoryStream[Ev]
    val tmp = java.nio.file.Files.createTempDirectory("graft_mv_spec_").toFile.getAbsolutePath
    val cur = new java.util.concurrent.atomic.AtomicReference[StreamingOps.MvGeneration](null)
    val q = stream.toDF().writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
        StreamingOps.mvMergeBatch(df, id, tmp, cur)
      }.start()
    val chunks = events.grouped(200).toSeq
    stream.addData(chunks.head)
    q.processAllAvailable()
    // after batch 1 the state covers ONLY batch 1 rows
    val mid = graft.operators.EventsOps.mvFinish(cur.get.read(spark))
      .agg(sum("n_events")).collect().head.getLong(0)
    assert(mid == chunks.head.size)
    chunks.tail.foreach { c => stream.addData(c); q.processAllAvailable() }
    q.stop()
    // final state equals the flat one-shot rollup of all rows
    val streamed = graft.operators.EventsOps.mvFinish(cur.get.read(spark))
      .collect().map(_.toSeq).toSet
    val flat = graft.operators.EventsOps.mvFinish(
      graft.operators.EventsOps.mvCombine(
        graft.operators.EventsOps.mvPartials(events.toDF())))
      .collect().map(_.toSeq).toSet
    assert(streamed == flat)
  }

  test("streaming tumbling aggregate equals the batch plan on the same rows") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val events = mkEvents

    val stream = MemoryStream[Ev]
    val query = StreamingOps.tumblingCounts(stream.toDF())
      .writeStream.outputMode("complete")
      .format("memory").queryName("tumbling_out").start()
    stream.addData(events)
    query.processAllAvailable()
    query.stop()

    // round the double sum: streaming's incremental state accumulates in a
    // different order than the batch hash-agg
    val streamed = spark.table("tumbling_out")
      .select(col("ws"), col("event_type"), col("n_events"), round(col("sum_value"), 6))
      .collect().map(_.toSeq).toSet
    val batch = StreamingOps.tumblingCounts(events.toDF())
      .select(col("ws"), col("event_type"), col("n_events"), round(col("sum_value"), 6))
      .collect().map(_.toSeq).toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("stream-static join probes the static dim each micro-batch and accumulates") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dim = (0L to 6L).map(k => (k, if (k % 2 == 0) "SEG_A" else "SEG_B"))
      .toDF("c_custkey", "c_mktsegment")
    val stream = MemoryStream[Ev]
    val agg = stream.toDF()
      .join(broadcast(dim), col("user_id") === col("c_custkey"))
      .groupBy("c_mktsegment", "event_type")
      .agg(count(lit(1)).as("n_events"))
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName("enrich_out").start()
    val events = mkEvents
    // two micro-batches: the second must re-probe the static build side and
    // fold into the first batch's aggregation state
    for (chunk <- events.grouped(250)) {
      stream.addData(chunk)
      q.processAllAvailable()
    }
    q.stop()
    val streamed = spark.table("enrich_out").collect().map(_.toSeq).toSet
    val batch = events.toDF()
      .join(broadcast(dim), col("user_id") === col("c_custkey"))
      .groupBy("c_mktsegment", "event_type")
      .agg(count(lit(1)).as("n_events"))
      .collect().map(_.toSeq).toSet
    assert(streamed == batch && streamed.nonEmpty)
  }

  test("foreachBatch runs a periodic side-effect per micro-batch (I5)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Ev]
    val batchCounts = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val q = stream.toDF().writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        batchCounts.add(df.count()) // stand-in for the reference's every-10-epochs visualization hook
        ()
      }.start()
    for (chunk <- mkEvents.grouped(200)) {
      stream.addData(chunk)
      q.processAllAvailable()
    }
    q.stop()
    val counts = batchCounts.toArray(Array.empty[java.lang.Long]).map(_.toLong)
    assert(counts.sum == 500 && counts.length >= 3)
  }

  test("session windows merge events within the 30-minute gap") {
    import spark.implicits._
    val out = StreamingOps.sessionCounts(mkEvents.toDF())
    // events are 97s apart per user (7 users → 679s gaps per user < 30 min):
    // every user collapses into a single session holding all their events
    val perUser = out.groupBy("user_id").agg(count(lit(1)).as("n_sessions"),
      sum("n_events").as("total"))
    assert(perUser.filter(col("n_sessions") =!= 1).count() == 0)
    assert(perUser.agg(sum("total")).collect()(0).getLong(0) == 500)
  }

  test("late rows beyond the watermark are dropped and the drop is OBSERVABLE in progress metrics") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = Timestamp.valueOf("2024-01-01 00:00:00").getTime
    def ev(id: Long, hour: Long) =
      Ev(id, new Timestamp(base + hour * 3600000L), 1L, "click", 1.0)
    val stream = MemoryStream[Ev]
    val q = StreamingOps.tumblingCounts(stream.toDF()) // 2h watermark inside
      .writeStream.outputMode("update").format("memory").queryName("late_out").start()
    stream.addData(ev(1, 10)) // after this batch the watermark sits at 08:00
    q.processAllAvailable()
    stream.addData(ev(2, 0)) // 8h late → must be dropped, not aggregated
    q.processAllAvailable()
    q.stop()
    // the drop is not silent: ops teams watch numRowsDroppedByWatermark, and
    // an engine that aggregated the row instead would corrupt closed windows
    val dropped = q.recentProgress
      .flatMap(_.stateOperators.map(_.numRowsDroppedByWatermark)).sum
    assert(dropped == 1L, s"expected exactly the late row dropped, got $dropped")
    assert(spark.table("late_out")
      .filter(col("ws") === new Timestamp(base)).count() == 0)
  }

  test("left-outer interval join emits null-padded purchases once the watermark passes") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = Timestamp.valueOf("2024-01-01 00:00:00").getTime
    def ev(id: Long, user: Long, minute: Long, typ: String) =
      Ev(id, new Timestamp(base + minute * 60000L), user, typ, 1.0)
    val clicks = MemoryStream[Ev]
    val purchases = MemoryStream[Ev]
    val q = StreamingOps.streamIntervalJoinLeft(clicks.toDF(), purchases.toDF())
      .writeStream.outputMode("append").format("memory").queryName("left_join_out").start()
    // user 1: click 10 min before the purchase → inner match, emits promptly.
    // user 2: purchase with NO click — its null-padded row may only emit
    // once the CLICK watermark proves no match can still arrive.
    clicks.addData(ev(1, 1, 50, "click"))
    purchases.addData(ev(100, 1, 60, "purchase"), ev(101, 2, 60, "purchase"))
    q.processAllAvailable()
    val early = spark.table("left_join_out")
      .filter(col("purchase_id") === 101).count()
    assert(early == 0, "null-padded row must NOT emit before the watermark verdict")
    // advance the click watermark far past purchase@60 + 60min window + 1h delay
    clicks.addData(ev(2, 3, 600, "click"))
    purchases.addData(ev(102, 3, 600, "purchase"))
    q.processAllAvailable()
    q.stop()
    val out = spark.table("left_join_out")
    val matched = out.filter(col("purchase_id") === 100).collect()
    assert(matched.length == 1 && matched(0).getLong(2) == 1L)
    val padded = out.filter(col("purchase_id") === 101).collect()
    assert(padded.length == 1 && padded(0).isNullAt(2),
      "unmatched purchase must emit exactly once with a null click_id")
  }

  test("session_window boundary is INCLUSIVE: exactly prev + gap merges, one past it breaks") {
    import spark.implicits._
    val base = Timestamp.valueOf("2024-01-01 00:00:00").getTime
    def ev(id: Long, sec: Long) = Ev(id, new Timestamp(base + sec * 1000L), 1L, "click", 1.0)
    // 1799s → 3599s is EXACTLY 30 min: the windows [1799, 3599) and
    // [3599, 5399) touch, and the built-in MERGES touching windows — the same
    // inclusive rule as Relational.sessionize/StatefulOps. 3599s → 5400s is
    // one second past the gap and breaks. (A first draft asserted the strict
    // reading — merge only on overlap — and this spec refuted it; the oracle
    // encodes what the engine does, not what the docs might suggest.)
    val out = StreamingOps.sessionCounts(
      Seq(ev(0, 0), ev(1, 1799), ev(2, 3599), ev(3, 5400)).toDF())
      .orderBy("session_start").collect()
    assert(out.length == 2)
    assert(out(0).getLong(3) == 3 && out(1).getLong(3) == 1)
    // end = last event + gap
    assert(out(0).getTimestamp(1).getTime == base + (3599L + 1800L) * 1000L)
    assert(out(1).getTimestamp(0).getTime == base + 5400L * 1000L)
  }

  test("dropDuplicatesWithinWatermark suppresses replays across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val events = mkEvents
    val stream = MemoryStream[Ev]
    val q = StreamingOps.dedupWithinWatermark(stream.toDF())
      .writeStream.outputMode("append")
      .format("memory").queryName("dedup_out").start()
    // batch 1: first 300 events; batch 2: events 200-499 — 100 event_ids
    // (200-299) are redelivered in the second micro-batch and must be dropped
    stream.addData(events.take(300))
    q.processAllAvailable()
    stream.addData(events.drop(200))
    q.processAllAvailable()
    q.stop()
    val out = spark.table("dedup_out")
    assert(out.count() == 500)
    assert(out.select("event_id").distinct().count() == 500)
  }

  test("stream-stream interval join matches in-window clicks across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = Timestamp.valueOf("2024-01-01 00:00:00").getTime
    def ev(id: Long, user: Long, minute: Long, typ: String) =
      Ev(id, new Timestamp(base + minute * 60000L), user, typ, 1.0)

    val clicks = MemoryStream[Ev]
    val purchases = MemoryStream[Ev]
    val q = StreamingOps.streamIntervalJoin(clicks.toDF(), purchases.toDF())
      .writeStream.outputMode("append")
      .format("memory").queryName("ssjoin_out").start()

    // batch 1: clicks only — one 50 min before the purchase (in window), one
    // 90 min before (out), one in-window but for ANOTHER user
    clicks.addData(Seq(ev(1, 7, 50, "click"), ev(2, 7, 10, "click"), ev(3, 8, 60, "click")))
    q.processAllAvailable()
    // batch 2: user 7 purchase at minute 100 — the join must reach BACK into
    // click state buffered from the earlier micro-batch
    purchases.addData(Seq(ev(100, 7, 100, "purchase")))
    q.processAllAvailable()
    // batch 3: a click arriving AFTER the purchase row was processed still
    // matches (purchase state is buffered too — the join is symmetric)
    clicks.addData(Seq(ev(4, 7, 95, "click")))
    q.processAllAvailable()
    q.stop()

    val rows = spark.table("ssjoin_out").collect()
      .map(r => (r.getLong(1), r.getLong(2))).sorted // (purchase_id, click_id)
    assert(rows.toSeq == Seq((100L, 1L), (100L, 4L)),
      s"expected clicks 1 and 4 to match purchase 100, got ${rows.mkString(",")}")
  }

  test("sliding windows place every event in exactly window/slide = 4 windows") {
    val ev = graft.Tables.events(spark, "/root/testdata/sf0.001")
    val total = ev.count()
    val windowed = StreamingOps.slidingCounts(ev)
      .agg(sum("n_events")).collect()(0).getLong(0)
    assert(windowed == 4 * total)
  }
}
