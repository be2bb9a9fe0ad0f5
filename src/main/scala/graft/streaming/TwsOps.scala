package graft.streaming

import graft.functions.Num
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, ListState, MapState, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

/** Per-user running aggregate held as a typed ValueState. */
case class RunningAgg(n: Long, value_micros: Long)

/** One output row per (user, micro-batch): totals INCLUDING all prior batches. */
case class UserRunning(user_id: Long, n_events: Long, value_micros: Long)

/** `transformWithState` — Spark 4's arbitrary-state processor API (the
  * successor of flatMapGroupsWithState used by [[StatefulOps]]): explicit
  * named state (`ValueState`/`ListState`/`MapState`), TTL, timers, and the
  * RocksDB state store. Demonstrated as a per-user running aggregate whose
  * `RunningAgg` survives across micro-batches (TwsSpec drives two
  * MemoryStream batches and asserts the totals accumulate).
  *
  * Scale: state per key is two longs in RocksDB — the store spills to disk,
  * so total state is bounded by disk not heap; TTL (here NONE) is the
  * eviction contract for unbounded key spaces.
  */
class RunningStatsProcessor extends StatefulProcessor[Long, WmEvent, UserRunning] {
  @transient private var agg: ValueState[RunningAgg] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    agg = getHandle.getValueState[RunningAgg]("agg", Encoders.product[RunningAgg], TTLConfig.NONE)

  override def handleInputRows(user: Long, rows: Iterator[WmEvent],
      timerValues: TimerValues): Iterator[UserRunning] = {
    val prev = if (agg.exists()) agg.get() else RunningAgg(0L, 0L)
    var n = prev.n
    var micros = prev.value_micros
    rows.foreach { e =>
      n += 1L
      micros += Num.fx(e.value, 6) // exact money-sum pattern
    }
    agg.update(RunningAgg(n, micros))
    Iterator.single(UserRunning(user, n, micros))
  }
}

/** One buffered event in the last-K ListState. */
case class RecentEvent(ts_us: Long, event_id: Long, value: Double)

/** One row of a user's current last-K context (rank 1 = most recent). */
case class UserRecent(user_id: Long, recency_rank: Int, event_id: Long,
    ts_us: Long, value: Double)

/** `ListState` demonstration: keep each user's K most recent events — the
  * "recent-context" feature a training-data pipeline joins onto every
  * example (last-N interactions per user). State per key is EXACTLY K rows:
  * each batch merges the buffered K with the new arrivals, re-sorts by
  * (ts, event_id) descending and keeps K, so out-of-order arrivals are
  * handled and state never grows past K regardless of history length.
  */
class LastKProcessor(k: Int) extends StatefulProcessor[Long, WmEvent, UserRecent] {
  @transient private var recent: ListState[RecentEvent] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    recent = getHandle.getListState[RecentEvent](
      "recent", Encoders.product[RecentEvent], TTLConfig.NONE)

  override def handleInputRows(user: Long, rows: Iterator[WmEvent],
      timerValues: TimerValues): Iterator[UserRecent] = {
    val merged = (recent.get().toSeq ++
      rows.map(e => RecentEvent(e.ts_us, e.event_id, e.value)))
      .sortBy(r => (-r.ts_us, -r.event_id)).take(k)
    recent.put(merged.toArray)
    merged.iterator.zipWithIndex.map { case (r, i) =>
      UserRecent(user, i + 1, r.event_id, r.ts_us, r.value)
    }
  }
}

/** One row of a user's per-event_type running counts. */
case class UserTypeCount(user_id: Long, event_type: String, n_events: Long)

/** Event row keyed for the MapState processor (needs the type column). */
case class TypedEvent(user_id: Long, event_type: String)

/** `MapState` demonstration — the third state primitive next to ValueState
  * ([[RunningStatsProcessor]]) and ListState ([[LastKProcessor]]): per-user
  * running counts keyed by event_type, updated point-wise. The point of
  * MapState over a ValueState holding a Map is UPDATE GRANULARITY: only the
  * touched (type → count) entries are written to RocksDB per batch, not the
  * whole map — the difference between O(types-touched) and O(types-known)
  * state I/O per key per batch.
  */
class TypeCountsProcessor extends StatefulProcessor[Long, TypedEvent, UserTypeCount] {
  @transient private var counts: MapState[String, Long] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    counts = getHandle.getMapState[String, Long](
      "counts", Encoders.STRING, Encoders.scalaLong, TTLConfig.NONE)

  override def handleInputRows(user: Long, rows: Iterator[TypedEvent],
      timerValues: TimerValues): Iterator[UserTypeCount] = {
    val touched = scala.collection.mutable.LinkedHashSet.empty[String]
    rows.foreach { e =>
      val prev = if (counts.containsKey(e.event_type)) counts.getValue(e.event_type) else 0L
      counts.updateValue(e.event_type, prev + 1L)
      touched += e.event_type
    }
    touched.iterator.map(t => UserTypeCount(user, t, counts.getValue(t)))
  }
}

/** Timer-driven TWS sessionizer — the fourth transformWithState facility
  * after the three state primitives: per-key EVENT-TIME TIMERS
  * (`registerTimer` / `handleExpiredTimer`). Session semantics are
  * bit-identical to [[StatefulOps]]'s flatMapGroupsWithState handler — both
  * run the shared [[StatefulOps.walk]] — but idle sessions close through an
  * explicitly managed timer instead of GroupStateTimeout: exactly one timer
  * is armed per key (previous ones deleted on re-arm — TWS allows many
  * timers per key, GroupStateTimeout allowed one, so single-deadline
  * semantics must now be enforced by the processor), anchored at
  * last-event + gap and clamped past the current watermark (a late but
  * admissible event would otherwise ask for a timer at or before the
  * watermark, which Spark rejects). A fired close leaves the same
  * n = 0 sentinel carrying the seq counter for one further gap so session
  * numbering survives a timeout close; the sentinel's own expiry evicts it.
  *
  * `withTimers` = false under a batch plan (TimeMode.None — registering a
  * timer there is rejected, and the walk sees each user's full history in
  * one call anyway), mirroring StatefulOps' `withTimeout` flag.
  */
class TimedSessionProcessor(withTimers: Boolean)
    extends StatefulProcessor[Long, WmEvent, ClosedSession] {
  private val gapMs = (StatefulOps.GapMinutes * 60000.0).toLong
  @transient private var open: ValueState[OpenSession] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    open = getHandle.getValueState[OpenSession](
      "open", Encoders.product[OpenSession], TTLConfig.NONE)

  private def rearm(deadlineMs: Long): Unit = {
    getHandle.listTimers().foreach(t => getHandle.deleteTimer(t.asInstanceOf[Long]))
    getHandle.registerTimer(deadlineMs)
  }

  override def handleInputRows(user: Long, rows: Iterator[WmEvent],
      timerValues: TimerValues): Iterator[ClosedSession] = {
    val prior = if (open.exists()) Some(open.get()) else None
    val (closed, tail) = StatefulOps.walk(user, prior, rows)
    tail match {
      case Some(s) =>
        open.update(s)
        if (withTimers) rearm(math.max(
          s.last_us / 1000L + gapMs, timerValues.getCurrentWatermarkInMs() + 1L))
      case None => open.clear()
    }
    closed.iterator
  }

  override def handleExpiredTimer(user: Long, timerValues: TimerValues,
      expiredTimerInfo: ExpiredTimerInfo): Iterator[ClosedSession] = {
    val s = if (open.exists()) open.get() else null
    if (s == null) Iterator.empty
    else if (s.n > 0L) {
      // close the idle session; linger the seq-carrying sentinel one further
      // gap past the watermark (same bounded-memory numbering tradeoff as
      // StatefulOps' timeout branch)
      open.update(s.copy(n = 0L))
      rearm(timerValues.getCurrentWatermarkInMs() + gapMs)
      Iterator.single(ClosedSession(user, s.session_seq, s.n, s.start_us, s.last_us,
        s.value_micros))
    } else {
      open.clear()
      Iterator.empty
    }
  }
}

object TwsOps {
  /** K for the last-K recent-context buffer. */
  val RecentK = 3
  /** Running per-user stats over a (possibly streaming) events frame. */
  def runningUserStats(events: DataFrame): Dataset[UserRunning] = {
    import events.sparkSession.implicits._
    events.select(col("user_id"), col("event_id"), col("ts"),
      unix_micros(col("ts")).as("ts_us"), col("value"))
      .as[WmEvent]
      .groupByKey(_.user_id)
      .transformWithState(new RunningStatsProcessor, TimeMode.None(), OutputMode.Update())
  }

  /** Deterministic BATCH form of the same StatefulProcessor — the
    * events_closed_sessions pattern applied to transformWithState: Spark runs
    * the processor over the finite events table with empty initial state, so
    * each user's handleInputRows sees the full history in one call and the
    * emitted row is the user's final running total. This makes the newest
    * state API oracle-checkable (a plain per-user aggregate in DuckDB)
    * instead of spec-only; cross-batch accumulation is proven by TwsSpec's
    * MemoryStream run of the identical processor. Money sums ride the exact
    * BIGINT-micros path and convert to rounded DOUBLE only at the edge.
    */
  def runningUserStatsBatch(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Num._
    ensureStateStoreCoordinator(spark)
    runningUserStats(graft.Tables.events(spark, dir)).toDF()
      .select(col("user_id"), col("n_events"), col("value_micros"),
        r6(col("value_micros").cast("double") / 1e6).as("total_value"))
  }

  /** Batch plans of stateful operators still read through StateStoreRDD,
    * whose executor tasks look up the driver's StateStoreCoordinator RPC
    * endpoint — but only a STREAMING query start registers it, so the first
    * stateful batch query in a fresh session dies with
    * RpcEndpointNotFoundException. Touch StreamingQueryManager's lazy
    * `stateStoreCoordinator` (private[sql], hence public in bytecode) so the
    * endpoint exists before the job runs. Idempotent: the lazy val caches.
    */
  private def ensureStateStoreCoordinator(spark: SparkSession): Unit =
    spark.streams.getClass.getMethod("stateStoreCoordinator").invoke(spark.streams)

  /** Last-K events per user through the ListState processor. */
  def userRecent(events: DataFrame): Dataset[UserRecent] = {
    import events.sparkSession.implicits._
    events.select(col("user_id"), col("event_id"), col("ts"),
      unix_micros(col("ts")).as("ts_us"), col("value"))
      .as[WmEvent]
      .groupByKey(_.user_id)
      .transformWithState(new LastKProcessor(RecentK), TimeMode.None(), OutputMode.Update())
  }

  /** Batch form of the ListState last-K (same determinism argument as
    * [[runningUserStatsBatch]]): one call per user over the full history →
    * the emitted rows ARE the final last-K, oracle = a per-user descending
    * row_number window. TwsSpec proves the cross-batch merge (including
    * out-of-order arrivals) on MemoryStream.
    */
  def userRecentBatch(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Num._
    ensureStateStoreCoordinator(spark)
    userRecent(graft.Tables.events(spark, dir)).toDF()
      .select(col("user_id"), col("recency_rank"), col("event_id"),
        timestamp_micros(col("ts_us")).as("ts"), r6(col("value")).as("value"))
  }

  /** Per-(user, event_type) running counts through the MapState processor. */
  def userTypeCounts(events: DataFrame): Dataset[UserTypeCount] = {
    import events.sparkSession.implicits._
    events.select(col("user_id"), col("event_type"))
      .as[TypedEvent]
      .groupByKey(_.user_id)
      .transformWithState(new TypeCountsProcessor, TimeMode.None(), OutputMode.Update())
  }

  /** Batch form of the MapState counts (full history in one call → final
    * counts per touched type); oracle = a plain two-key aggregate.
    */
  def userTypeCountsBatch(spark: SparkSession, dir: String): DataFrame = {
    ensureStateStoreCoordinator(spark)
    userTypeCounts(graft.Tables.events(spark, dir)).toDF()
  }

  /** Streaming form of the timer-driven sessionizer: watermarked input,
    * TimeMode.EventTime, per-key timers close idle sessions.
    */
  def timedSessions(events: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    val ds = events.withWatermark("ts", "2 hours")
      .select(col("user_id"), col("event_id"), col("ts"),
        unix_micros(col("ts")).as("ts_us"), col("value"))
      .as[WmEvent]
    StatefulOps.toStats(ds.groupByKey(_.user_id)
      .transformWithState(new TimedSessionProcessor(withTimers = true),
        TimeMode.EventTime(), OutputMode.Append())
      .toDF())
  }

  /** Batch form (TimeMode.None, timers off): the walk sees each user's full
    * history in one call and emits every closed session — each user's final,
    * still-open one is not emitted — so the oracle is the same session SQL
    * as `events_closed_sessions`. TwsSpec proves the timer path (idle-close
    * across watermark advances, seq continuation after a timeout) on
    * MemoryStream.
    */
  def timedSessionsBatch(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    ensureStateStoreCoordinator(spark)
    val ds = graft.Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("ts"),
        unix_micros(col("ts")).as("ts_us"), col("value"))
      .as[WmEvent]
    StatefulOps.toStats(ds.groupByKey(_.user_id)
      .transformWithState(new TimedSessionProcessor(withTimers = false),
        TimeMode.None(), OutputMode.Append())
      .toDF())
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "events_running_user_stats" -> ((s, d) =>
      runningUserStatsBatch(s, d).orderBy("user_id")),
    "events_user_recent" -> ((s, d) =>
      userRecentBatch(s, d).orderBy("user_id", "recency_rank")),
    "events_user_type_counts" -> ((s, d) =>
      userTypeCountsBatch(s, d).orderBy("user_id", "event_type")),
    "events_tws_sessions" -> ((s, d) =>
      timedSessionsBatch(s, d).orderBy("user_id", "session_seq"))
  )

  def oracles: Map[String, String] = {
    import graft.functions.Num._
    Map(
      "events_running_user_stats" ->
        s"""SELECT user_id, count(*) AS n_events,
           |       CAST(sum(CAST(floor(value * 1e6 + 0.5) AS BIGINT)) AS BIGINT) AS value_micros,
           |       ${sqlR6("CAST(sum(CAST(floor(value * 1e6 + 0.5) AS BIGINT)) AS DOUBLE) / 1e6")} AS total_value
           |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
      "events_user_recent" ->
        s"""SELECT user_id, CAST(rn AS INT) AS recency_rank, event_id, ts,
           |       ${sqlR6("value")} AS value
           |FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
           |      FROM events)
           |WHERE rn <= $RecentK ORDER BY user_id, recency_rank""".stripMargin,
      "events_user_type_counts" ->
        """SELECT user_id, event_type, count(*) AS n_events
          |FROM events GROUP BY 1, 2 ORDER BY user_id, event_type""".stripMargin,
      // identical session semantics to events_closed_sessions — both
      // sessionizers run StatefulOps.walk — so the oracle is shared
      "events_tws_sessions" -> StatefulOps.oracles("events_closed_sessions")
    )
  }
}
