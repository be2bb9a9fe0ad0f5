package graft.operators

import graft.Tables
import graft.functions.Num._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Input row for the typed sessionizer: timestamps travel as exact epoch
  * micros (TIMESTAMP is micros internally; `unix_micros` is lossless, unlike
  * java.sql.Timestamp's millis getTime).
  */
case class SessEvent(user_id: Long, event_id: Long, ts_us: Long, value: Double)

/** One emitted session: bounds as micros, value as exact summed micros —
  * converted back to TIMESTAMP / rounded DOUBLE only at the DataFrame edge.
  */
case class SessStat(user_id: Long, session_seq: Long, n_events: Long,
    start_us: Long, end_us: Long, value_micros: Long)

/** Typed `Dataset[T]` surface: `groupByKey` + `flatMapGroups` over
  * case-class rows — the imperative per-group escape hatch for logic that is
  * awkward as window algebra (here: gap sessionization with per-session
  * emission, the same state walk a streaming `flatMapGroupsWithState` handler
  * would run; reference analogue is the per-series Python loop at
  * /root/reference/utils/data_generators.py:58-108, re-expressed per GROUP
  * rather than per row).
  *
  * Scale contract: ONE shuffle on user_id (same as the window form), but the
  * group must fit in memory — fine for per-user event counts, and
  * `Relational.sessionize` remains the unbounded-safe window twin computing
  * identical sessions (TypedSpec asserts agreement; both are oracle-checked).
  */
object TypedOps {
  val GapMinutes = 30.0

  def sessionStatsTyped(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("ts_us"), col("value"))
      .as[SessEvent]
    val stats = ev.groupByKey(_.user_id).flatMapGroups { (uid, it) =>
      // flatMapGroups gives NO intra-group order: sort by (ts, event_id),
      // the same total order every other sessionizer in the engine uses
      val rows = it.toArray.sortBy(e => (e.ts_us, e.event_id))
      val out = scala.collection.mutable.ArrayBuffer.empty[SessStat]
      var seq = 0L; var n = 0L; var startUs = 0L; var endUs = 0L; var micros = 0L
      var prevUs = Long.MinValue
      def flush(): Unit = if (n > 0) out += SessStat(uid, seq, n, startUs, endUs, micros)
      rows.foreach { e =>
        // gap in minutes, computed EXACTLY like the batch/window form:
        // cast-to-double seconds first, then subtract (mirrors DuckDB epoch())
        val newSession = prevUs == Long.MinValue ||
          (e.ts_us.toDouble / 1e6 - prevUs.toDouble / 1e6) / 60.0 > GapMinutes
        if (newSession) { flush(); seq += 1L; n = 0L; micros = 0L; startUs = e.ts_us }
        n += 1L
        endUs = e.ts_us
        // exact money-sum pattern: per-row micros as BIGINT (Relational.exactSum)
        micros += fx(e.value, 6)
        prevUs = e.ts_us
      }
      flush()
      out
    }
    stats.toDF().select(
      col("user_id"), col("session_seq"), col("n_events"),
      timestamp_micros(col("start_us")).as("session_start"),
      timestamp_micros(col("end_us")).as("session_end"),
      r6((col("end_us") - col("start_us")).cast("double") / 1e6).as("duration_sec"),
      r6(col("value_micros").cast("double") / 1e6).as("session_value"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "events_session_stats_typed" -> ((s, d) =>
      sessionStatsTyped(s, d).orderBy("user_id", "session_seq"))
  )

  def oracles: Map[String, String] = Map(
    // same session derivation as events_sessionize; duration via exact
    // micros difference (epoch_us) — NOT epoch() subtraction, whose two
    // per-operand double roundings at ~1.7e9 s can shift the diff by ~5e-7 s
    // and flip the micro-resolution rounding
    "events_session_stats_typed" ->
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
         |)
         |SELECT user_id, session_seq, count(*) AS n_events,
         |       min(ts) AS session_start, max(ts) AS session_end,
         |       ${sqlR6("CAST(epoch_us(max(ts)) - epoch_us(min(ts)) AS DOUBLE)/1e6")} AS duration_sec,
         |       ${sqlR6("CAST(sum(CAST(floor(value*1e6 + 0.5) AS BIGINT)) AS DOUBLE)/1e6")} AS session_value
         |FROM sess GROUP BY 1, 2 ORDER BY user_id, session_seq""".stripMargin
  )
}
