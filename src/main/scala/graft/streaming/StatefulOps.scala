package graft.streaming

import graft.Tables
import graft.functions.Num._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Event row feeding the stateful sessionizer: the watermark column `ts`
  * travels alongside its exact-micros twin `ts_us` (the walk uses only
  * `ts_us`; `ts` exists so the streaming plan keeps its event-time column).
  */
case class WmEvent(user_id: Long, event_id: Long, ts: java.sql.Timestamp,
    ts_us: Long, value: Double)

/** The open session carried as GroupState between micro-batches. */
case class OpenSession(session_seq: Long, n: Long, start_us: Long,
    last_us: Long, value_micros: Long)

/** A closed session as emitted by the handler (micros form; converted to
  * TIMESTAMP / rounded DOUBLE at the DataFrame edge).
  */
case class ClosedSession(user_id: Long, session_seq: Long, n_events: Long,
    start_us: Long, end_us: Long, value_micros: Long)

/** `flatMapGroupsWithState` — the custom-state Structured Streaming surface
  * (SURVEY §2.7 / the prompt's `KeyValueGroupedDataset` state API): a
  * per-user gap sessionizer whose open session lives in GroupState across
  * micro-batches and is emitted when a later event (or an event-time timeout)
  * closes it.
  *
  * The SAME handler runs in three modes:
  *  - streaming with EventTimeTimeout (file source, AvailableNow) — sessions
  *    idle past the gap close via timeout once the watermark passes them;
  *  - streaming across micro-batches — a session spanning a batch boundary is
  *    continued from state, not split (StatefulSpec proves this);
  *  - batch (NoTimeout) — Spark runs stateful ops on finite Datasets with
  *    empty state; the handler sees each user's full history in one call and
  *    emits every CLOSED session, i.e. all but the user's final one (which in
  *    a stream would still be open). That deterministic form is the
  *    registered, DuckDB-oracled query `events_closed_sessions`.
  *
  * Session arithmetic is bit-identical to TypedOps/Relational.sessionize:
  * cast-to-double-seconds gap, exact BIGINT micros money sum.
  *
  * Scale: state is ONE OpenSession per active user key (five longs). The
  * event-time timeout closes idle sessions and leaves a zero-event sentinel
  * carrying the seq counter for one further gap (so session numbering stays
  * monotonic per user across timeouts), after which a second timeout evicts
  * it — the watermark bounds state exactly as it bounds windowed aggregates.
  */
object StatefulOps {
  val GapMinutes = 30.0

  /** Closed sessions emitted by walking `incoming` from `prior` state; the
    * still-open tail session is returned separately (None when no events).
    * Shared with [[TimedSessionProcessor]] so the flatMapGroupsWithState and
    * transformWithState sessionizers are arithmetic-identical by construction.
    */
  private[streaming] def walk(uid: Long, prior: Option[OpenSession], incoming: Iterator[WmEvent])
      : (Vector[ClosedSession], Option[OpenSession]) = {
    val rows = incoming.toArray.sortBy(e => (e.ts_us, e.event_id))
    var open = prior
    var out = Vector.empty[ClosedSession]
    rows.foreach { e =>
      open match {
        // n == 0 is the already-closed SENTINEL a timeout leaves behind to
        // carry the seq counter: never merge into it, never re-emit it
        case Some(s) if s.n > 0 &&
            (e.ts_us.toDouble / 1e6 - s.last_us.toDouble / 1e6) / 60.0 <= GapMinutes =>
          open = Some(s.copy(n = s.n + 1, last_us = e.ts_us,
            value_micros = s.value_micros + fx(e.value, 6)))
        case _ =>
          open.filter(_.n > 0).foreach { s =>
            out :+= ClosedSession(uid, s.session_seq, s.n, s.start_us, s.last_us, s.value_micros)
          }
          val seq = open.map(_.session_seq + 1).getOrElse(1L)
          open = Some(OpenSession(seq, 1L, e.ts_us, e.ts_us,
            fx(e.value, 6)))
      }
    }
    (out, open)
  }

  /** The GroupState handler; `withTimeout` = false under a batch plan (where
    * timeouts can never fire and registering one is rejected).
    */
  private def handler(withTimeout: Boolean)(
      uid: Long, it: Iterator[WmEvent], state: GroupState[OpenSession]): Iterator[ClosedSession] = {
    if (state.hasTimedOut) {
      val s = state.get
      if (s.n > 0) {
        // close the idle session, but LINGER a sentinel (n = 0) carrying the
        // seq counter so the user's next session continues numbering instead
        // of restarting at 1 and colliding with an already-emitted
        // (user_id, session_seq) key. The linger deadline anchors
        // to the WATERMARK at close time (one further gap past it), not the
        // session's own last event: the watermark has already overtaken
        // last_us + gap when this fires, so a last_us-anchored deadline would
        // be instantly expired and evicted by the very next no-data batch.
        // State stays bounded; only a user idle one gap past the close's
        // watermark restarts numbering (documented bounded-memory tradeoff).
        state.update(s.copy(n = 0L))
        state.setTimeoutTimestamp(
          state.getCurrentWatermarkMs() + (GapMinutes * 60000L).toLong)
        Iterator.single(ClosedSession(uid, s.session_seq, s.n, s.start_us, s.last_us, s.value_micros))
      } else {
        state.remove()
        Iterator.empty
      }
    } else {
      val (closed, open) = walk(uid, state.getOption, it)
      open match {
        case Some(s) =>
          state.update(s)
          // deadline clamped to watermark + 1: a late-but-admissible event
          // (inside the 2-hour watermark delay but older than watermark − gap)
          // would otherwise produce a timestamp ≤ watermark, which Spark
          // rejects with IllegalArgumentException at runtime
          if (withTimeout)
            state.setTimeoutTimestamp(math.max(
              s.last_us / 1000L + (GapMinutes * 60000L).toLong,
              state.getCurrentWatermarkMs() + 1L))
        case None => state.remove()
      }
      closed.iterator
    }
  }

  private def asEvents(events: DataFrame): DataFrame =
    events.select(col("user_id"), col("event_id"), col("ts"),
      unix_micros(col("ts")).as("ts_us"), col("value"))

  private[streaming] def toStats(closed: DataFrame): DataFrame =
    closed.select(
      col("user_id"), col("session_seq"), col("n_events"),
      timestamp_micros(col("start_us")).as("session_start"),
      timestamp_micros(col("end_us")).as("session_end"),
      r6((col("end_us") - col("start_us")).cast("double") / 1e6).as("duration_sec"),
      r6(col("value_micros").cast("double") / 1e6).as("session_value"))

  /** Streaming form: watermarked input, EventTimeTimeout closes idle sessions. */
  def statefulSessions(events: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    val ds = asEvents(events.withWatermark("ts", "2 hours")).as[WmEvent]
    toStats(ds.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(
        handler(withTimeout = true))
      .toDF())
  }

  /** Batch form of the same handler (deterministic: emits every session but
    * each user's final, still-open one).
    */
  def closedSessions(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ds = asEvents(Tables.events(spark, dir)).as[WmEvent]
    toStats(ds.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(
        handler(withTimeout = false))
      .toDF())
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "events_closed_sessions" -> ((s, d) =>
      closedSessions(s, d).orderBy("user_id", "session_seq"))
  )

  def oracles: Map[String, String] = Map(
    // the sessionize derivation, keeping only sessions BEFORE each user's
    // last (the handler's still-open tail session is not emitted)
    "events_closed_sessions" ->
      s"""WITH g AS (
         |  SELECT user_id, event_id, ts, value,
         |         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
         |  FROM events
         |), marked AS (
         |  SELECT *, CASE WHEN prev_ts IS NULL
         |                   OR (epoch(ts) - epoch(prev_ts)) / 60.0e0 > 30.0e0 THEN 1 ELSE 0 END AS new_session
         |  FROM g
         |), sess AS (
         |  SELECT *, CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
         |  FROM marked
         |), agg AS (
         |  SELECT user_id, session_seq, count(*) AS n_events,
         |         min(ts) AS session_start, max(ts) AS session_end,
         |         ${sqlR6("CAST(epoch_us(max(ts)) - epoch_us(min(ts)) AS DOUBLE)/1e6")} AS duration_sec,
         |         ${sqlR6("CAST(sum(CAST(floor(value*1e6 + 0.5) AS BIGINT)) AS DOUBLE)/1e6")} AS session_value
         |  FROM sess GROUP BY 1, 2
         |)
         |SELECT * FROM agg
         |QUALIFY session_seq < max(session_seq) OVER (PARTITION BY user_id)
         |ORDER BY user_id, session_seq""".stripMargin
  )
}
