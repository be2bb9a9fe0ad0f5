package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType
import graft.Tables
import graft.functions.Num.{r6, sqlR6}

/** Structured Streaming wrappers over the batch aggregation operators
  * (SURVEY.md §7.5 — streaming is an extension, not reference parity: all
  * reference inputs are finite tensors).
  *
  * The transforms are written against a plain DataFrame so the SAME code path
  * serves `spark.read` (batch) and `spark.readStream` (incremental): Spark
  * plans them as batch aggs or stateful streaming aggs respectively. Tested via
  * MemoryStream in StreamingSpec — the batch result is the oracle.
  *
  * Scale: tumbling windows + watermark bound state linearly in (#keys ×
  * #open windows); session windows merge state per key. Both shuffle on
  * (window, key) — the natural streaming partitioning.
  */
object StreamingOps {

  /** Runs one of graft's eager streaming executions (`body` starts it and
    * waits for it) with the conf its cloned session should see, then
    * restores the caller's values; a key the caller never set is unset again.
    *
    *  - `spark.sql.shuffle.partitions` is the state-store count, pinned at
    *    stream start and outside AQE's reach, so it is derived from the
    *    stream's SOURCE size instead of the session's batch width (see
    *    [[graft.sources.FileSizing.streamShufflePartitions]]). Every stateful
    *    operator here (exact aggregation, watermark dedup) is
    *    partitioning-invariant; only where state rows land changes.
    *  - The run clones the session at `start()`. Under per-session artifact
    *    isolation the clone's tasks load generated classes through a class
    *    loader of their own, which is part of the codegen cache key, so every
    *    run recompiled classes whose source had not changed. The setting is
    *    read only when a session is created: turning it off here changes the
    *    discarded clone, not the caller's session. graft adds no session
    *    artifacts.
    *  - The checkpoint manager is [[LocalCheckpointFileManager]]. Without
    *    native Hadoop, Spark's default manager forks a `readlink` for every
    *    `FileContext` rename and a `chmod` for every file and directory it
    *    creates; this one renames through `FileSystem.rename` and creates
    *    through `java.nio`, so its checkpoint writes fork no process. These
    *    runs pass no `checkpointLocation`, so each checkpoints to a fresh
    *    local temporary directory, where a rename is atomic.
    *
    * For the last two keys a value the caller set explicitly wins.
    */
  private[streaming] def withStreamWidth[T](spark: SparkSession, sourcePath: String)(body: => T): T = {
    val conf = spark.conf
    val explicit = conf.getAll // the keys the caller set, not the defaults
    val width = "spark.sql.shuffle.partitions" -> graft.sources.FileSizing
      .streamShufflePartitions(spark, sourcePath, spark.sparkContext.defaultParallelism).toString
    val run = width +: RunConfs.filterNot { case (k, _) => explicit.contains(k) }
    run.foreach { case (k, v) => conf.set(k, v) }
    try body
    finally run.foreach { case (k, _) => explicit.get(k).fold(conf.unset(k))(conf.set(k, _)) }
  }

  /** The constants [[withStreamWidth]] adds for the run's clone. */
  private[streaming] val RunConfs: Seq[(String, String)] = Seq(
    "spark.sql.artifact.isolation.enabled" -> "false",
    "spark.sql.streaming.checkpointFileManagerClass" ->
      classOf[LocalCheckpointFileManager].getName)

  /** Drains `stream` under `Trigger.AvailableNow` into the memory sink
    * `sink` (replacing any earlier run's table) and returns the sink as a
    * batch frame. `sourcePath` sizes the state stores. */
  private[streaming] def drainToMemory(spark: SparkSession, sink: String, mode: String,
      sourcePath: String)(stream: DataFrame): DataFrame = {
    spark.catalog.dropTempView(sink)
    withStreamWidth(spark, sourcePath) {
      stream.writeStream.format("memory").queryName(sink).outputMode(mode)
        .trigger(Trigger.AvailableNow()).start().awaitTermination()
    }
    spark.table(sink)
  }

  /** Tumbling 1-hour aggregate; on a stream, late data beyond 2h is dropped. */
  def tumblingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .select(col("w.start").as("ws"), col("event_type"), col("n_events"), col("sum_value"))

  /** Sliding 1-hour window every 15 minutes. */
  def slidingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("w.start").as("ws"), col("event_type"), col("n_events"))

  /** Session windows with a 30-minute gap, per user — the BUILT-IN
    * `session_window` operator (merging interval state under streaming, a
    * plain aggregation under batch). Boundary semantics are spec-asserted,
    * not assumed: each event spans [ts, ts + gap) and windows merge when they
    * overlap OR TOUCH, so an event arriving at exactly `prev + gap` still
    * MERGES — the same inclusive `gap <= 30 min` rule as
    * `Relational.sessionize`/[[StatefulOps]] (a first draft asserted the
    * strict reading and the spec refuted it). `session_end` is
    * `last event + gap`, not the last event itself.
    */
  def sessionCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("w.start").as("session_start"), col("w.end").as("session_end"),
        col("user_id"), col("n_events"))

  /** Streaming exact dedup: one row per event_id, with state bounded by the
    * watermark horizon (`dropDuplicatesWithinWatermark`) — the streaming twin
    * of Dedup's exact dedup. At ingest scale full-history dedup state is
    * unkeepable; the contract a pipeline actually needs is "replays and
    * redeliveries arrive within bounded lateness", which is exactly what the
    * watermark bound expresses: a duplicate inside the horizon is dropped,
    * state for ids older than the watermark is evicted. StreamingSpec proves
    * cross-micro-batch suppression (the batch oracle is plain
    * dropDuplicates on the same rows).
    */
  def dedupWithinWatermark(events: DataFrame): DataFrame =
    events.withWatermark("ts", "2 hours")
      .dropDuplicatesWithinWatermark("event_id")

  /** Stream-stream interval join — the streaming twin of the batch
    * `events_interval_join`: each purchase matched with the same user's
    * clicks in the preceding 60 minutes, where BOTH inputs are unbounded
    * streams. This is the one join class where the engine must buffer both
    * sides as state; the two watermarks plus the time-range predicate are
    * what make that state BOUNDED — Spark derives that click state older
    * than (purchase watermark − 60 min) can never match again and evicts it.
    * Without the range condition on event time the state would grow forever;
    * with it, steady-state size is (events within the watermark horizon),
    * independent of stream age. StreamingSpec proves in/out-of-window
    * matching across micro-batches; batch agreement with the naive
    * inequality join is the registered `events_interval_join` oracle.
    */
  def streamIntervalJoin(clicks: DataFrame, purchases: DataFrame): DataFrame = {
    val c = clicks.withWatermark("ts", "1 hour")
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
        col("ts").as("click_ts"))
    val p = purchases.withWatermark("ts", "1 hour")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        col("ts").as("purchase_ts"))
    // Half-open [p-60min, p): the SAME predicate as the batch twin
    // `events_interval_join` (Relational.intervalJoin) — BETWEEN's inclusive
    // upper bound would match a click at exactly the purchase timestamp in
    // streaming but not batch, silently diverging at the boundary.
    c.join(p, expr(
      """c_user = p_user AND
        |click_ts >= purchase_ts - INTERVAL 60 MINUTES AND
        |click_ts < purchase_ts""".stripMargin))
      .select(col("p_user").as("user_id"), col("purchase_id"), col("click_id"),
        col("purchase_ts"), col("click_ts"))
  }

  /** LEFT OUTER stream-stream interval join — the semantics [[streamIntervalJoin]]
    * cannot give: every purchase must appear even when NO click preceded it.
    * Under streaming this is the join class with DELAYED emission: an inner
    * match emits as soon as both rows meet, but a null-padded row can only be
    * emitted once the click watermark has passed the end of the purchase's
    * match window — before that, a matching click could still arrive. State
    * stays bounded exactly as in the inner form; what the outer type adds is
    * the watermark-gated "no match ever" verdict (StreamingSpec drives the
    * late emission across micro-batches). In batch the same code path is a
    * plain left join, the registered `events_interval_left_join`.
    */
  def streamIntervalJoinLeft(clicks: DataFrame, purchases: DataFrame): DataFrame = {
    val c = clicks.withWatermark("ts", "1 hour")
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
        col("ts").as("click_ts"))
    val p = purchases.withWatermark("ts", "1 hour")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        col("ts").as("purchase_ts"))
    p.join(c, expr(
      """c_user = p_user AND
        |click_ts >= purchase_ts - INTERVAL 60 MINUTES AND
        |click_ts < purchase_ts""".stripMargin), "leftOuter")
      .select(col("p_user").as("user_id"), col("purchase_id"), col("click_id"),
        col("purchase_ts"), col("click_ts"))
  }

  /** Driver-visible streaming run (I5 as a query, not just a spec): the events
    * parquet is consumed INCREMENTALLY — `readStream` file source, stateful
    * tumbling aggregation, `Trigger.AvailableNow` draining the backlog in
    * bounded micro-batches — and the final state lands in a memory sink that
    * this function returns as a batch frame. The oracle is the same SQL as the
    * batch tumbling aggregate: streaming and batch must agree on finite input.
    *
    * The memory sink (complete mode) is the verification surface only — it
    * materializes on the driver. The production shape at scale is the same
    * plan in append mode + watermark against a durable sink (kafka/parquet),
    * where state is bounded by (#keys × #open windows) and nothing collects.
    */
  def streamTumbling(spark: SparkSession, dir: String): DataFrame =
    drainToMemory(spark, "stream_tumbling_sink", "complete", s"$dir/events.parquet")(
      tumblingCounts(Tables.eventsStream(spark, dir)))
      .select(col("ws"), col("event_type"), col("n_events"),
        r6(col("sum_value")).as("sum_value"),
        r6(col("sum_value") / col("n_events")).as("avg_value"))

  /** Trending report size per window. */
  val TrendingTopK = 3

  /** Streaming per-window trending top-k — the "what's trending this hour"
    * readout: the event stream drains incrementally (readStream +
    * AvailableNow) into the stateful tumbling (window, type) counts, and the
    * RANKING runs as a batch pass over the drained state — the standard
    * two-stage shape, because a rank inside a streaming aggregation would
    * need the whole window's final counts before emission anyway (in
    * production the second stage is the downstream job reading the sink
    * table each trigger). Ranking by exact counts with a type tiebreak, so
    * the report is deterministic.
    */
  def streamTopkTrending(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("ws").orderBy(desc("n_events"), asc("event_type"))
    drainToMemory(spark, "stream_trending_sink", "complete", s"$dir/events.parquet")(
      tumblingCounts(Tables.eventsStream(spark, dir)))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= TrendingTopK)
      .select(col("ws"), col("rank"), col("event_type"), col("n_events"))
  }

  /** Driver-visible run of [[dedupWithinWatermark]] — a REAL incremental
    * execution (the engine rejects `dropDuplicatesWithinWatermark` under a
    * batch plan), fed a DELIBERATE redelivery: a second file source re-streams
    * every 10th event, so suppression is observable in the output row count —
    * the memory sink must hold exactly the original id set or the oracle's
    * rows_match fails. Both sources drain under AvailableNow in one
    * micro-batch, so the 2-hour watermark cannot evict state between an
    * original and its replay (cross-batch eviction timing is StreamingSpec's
    * concern). Projected to the dedup key: the survivor ROW per key is
    * first-seen, which across two racing sources is nondeterministic.
    */
  def streamDedupReplay(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.eventsStream(spark, dir)
    val replay = Tables.eventsStream(spark, dir).filter(col("event_id") % 10 === 0)
    drainToMemory(spark, "stream_dedup_sink", "append", s"$dir/events.parquet")(
      dedupWithinWatermark(ev.unionByName(replay)).select("event_id"))
  }

  /** Stream-static join + aggregation: the event stream enriched against the
    * STATIC customer dimension (market segment by key), then aggregated per
    * (segment, type). The stream-static join is its own streaming join class —
    * unlike stream-stream it needs NO join state at all: the static side is a
    * broadcast build, each micro-batch probes it map-side, and only the
    * aggregation keeps state (#segments × #types rows). That is the 100-TB
    * ingest-enrichment shape: dimension lookups never shuffle the stream.
    *
    * Run incrementally (readStream + AvailableNow, memory sink in complete
    * mode as the verification surface); the oracle is the batch join — the
    * same plan under `spark.read` — which streaming must agree with on
    * finite input.
    */
  def streamStaticEnrich(spark: SparkSession, dir: String): DataFrame = {
    val dim = Tables.customer(spark, dir).select("c_custkey", "c_mktsegment")
    val agg = Tables.eventsStream(spark, dir)
      .join(broadcast(dim), col("user_id") === col("c_custkey"))
      .groupBy("c_mktsegment", "event_type")
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
    drainToMemory(spark, "stream_enrich_sink", "complete", s"$dir/events.parquet")(agg)
      .select(col("c_mktsegment"), col("event_type"), col("n_events"),
        r6(col("sum_value")).as("sum_value"))
  }

  /** Streaming materialized-view maintenance — the foreachBatch MERGE-sink
    * pattern every incremental lakehouse pipeline runs (a Delta MERGE INTO
    * with the transaction log replaced by ping-pong state dirs): each
    * micro-batch collapses to its partial aggregates ([[graft.operators.EventsOps.mvPartials]],
    * the SAME monoid as the batch `events_mv_merge`), merges them with the
    * persisted MV state, and writes the next state generation — alternating
    * A/B paths because overwriting the path being read is illegal without a
    * txn log. History is never rescanned: batch N touches only its own rows
    * plus the (groups-sized) state table. The returned frame is the final
    * state's user view; the oracle is the flat full-table rollup, so a
    * dropped or double-merged batch is a hash mismatch. StreamingSpec drives
    * the cross-batch accumulation over a MemoryStream; this registered run
    * drains the events parquet under AvailableNow.
    */
  def streamMvMerge(spark: SparkSession, dir: String): DataFrame = {
    // the returned frame reads the final state lazily, so the directory
    // lives until the JVM exits; Spark's helper deletes it then
    val tmp = Bridge.tempDir("graft_mv").getAbsolutePath
    val cur = new java.util.concurrent.atomic.AtomicReference[MvGeneration](null)
    withStreamWidth(spark, s"$dir/events.parquet") {
      val q = Tables.eventsStream(spark, dir).writeStream
        .foreachBatch { (batch: DataFrame, id: Long) =>
          mvMergeBatch(batch, id, tmp, cur)
        }
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    // a source that listed zero files would leave cur null — fail loudly
    // naming the cause rather than NPE-ing inside the parquet reader
    require(cur.get != null,
      s"streamMvMerge: the events stream under $dir produced no micro-batches")
    graft.operators.EventsOps.mvFinish(cur.get.read(spark))
  }

  /** A persisted MV state generation: its path and the schema it was written
    * with. Every generation is a new write, so it is read back with that
    * schema instead of inferring one (a job per read). */
  private[graft] final case class MvGeneration(path: String, schema: StructType) {
    def read(spark: SparkSession): DataFrame = spark.read.schema(schema).parquet(path)
  }

  /** One maintenance step: merge a micro-batch's partials into the persisted
    * state and advance the state generation. Factored out so StreamingSpec
    * can drive it through MemoryStream batches. */
  private[graft] def mvMergeBatch(
      batch: DataFrame, id: Long, tmp: String,
      cur: java.util.concurrent.atomic.AtomicReference[MvGeneration]): Unit = {
    val spark = batch.sparkSession
    val parts = graft.operators.EventsOps.mvPartials(batch)
    val merged = Option(cur.get) match {
      case Some(prev) =>
        graft.operators.EventsOps.mvCombine(prev.read(spark).unionByName(parts))
      case None => graft.operators.EventsOps.mvCombine(parts)
    }
    val next = s"$tmp/state_${id % 2}"
    merged.write.mode("overwrite").parquet(next)
    cur.set(MvGeneration(next, Bridge.nullable(merged.schema)))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "stream_mv_merge" -> ((s, d) => streamMvMerge(s, d).orderBy("event_type", "event_date")),
    "stream_topk_trending" -> ((s, d) => streamTopkTrending(s, d).orderBy("ws", "rank")),
    "stream_tumbling_agg" -> ((s, d) => streamTumbling(s, d).orderBy("ws", "event_type")),
    "stream_static_enrich" -> ((s, d) =>
      streamStaticEnrich(s, d).orderBy("c_mktsegment", "event_type")),
    // the sliding-window transform run in BATCH mode over the same events
    // parquet (withWatermark is a no-op under a batch plan, so this is
    // literally the streaming code path, driver-oracle-checked; the
    // incremental run of the same transform is covered by StreamingSpec)
    "events_sliding_agg" -> ((s, d) =>
      slidingCounts(Tables.events(s, d)).orderBy("ws", "event_type")),
    // the built-in session_window transform under a batch plan (the same code
    // path an incremental run takes; merging-state behaviour is covered by
    // StreamingSpec) — previously spec-only, now oracle-checked
    "events_session_window" -> ((s, d) =>
      sessionCounts(Tables.events(s, d)).orderBy("user_id", "session_start")),
    "stream_dedup_replay" -> ((s, d) => streamDedupReplay(s, d).orderBy("event_id")),
    // the left-outer join transform under a batch plan (same code path the
    // incremental run takes; watermark-gated null emission is StreamingSpec's)
    "events_interval_left_join" -> ((s, d) => {
      val ev = Tables.events(s, d)
      streamIntervalJoinLeft(
        ev.filter(col("event_type") === "click"),
        ev.filter(col("event_type") === "purchase"))
        .orderBy("purchase_id", "click_id")
    })
  )

  def oracles: Map[String, String] = Map(
    // streaming maintenance must land on the same answer as the flat rollup
    "stream_mv_merge" -> graft.operators.EventsOps.mvMergeOracle,
    "stream_static_enrich" ->
      s"""SELECT c.c_mktsegment, e.event_type, count(*) AS n_events,
         |       ${sqlR6("sum(e.value)")} AS sum_value
         |FROM events e JOIN customer c ON e.user_id = c.c_custkey
         |GROUP BY 1, 2 ORDER BY c_mktsegment, event_type""".stripMargin,
    "stream_topk_trending" ->
      s"""WITH g AS (
         |  SELECT date_trunc('hour', ts) AS ws, event_type, count(*) AS n_events
         |  FROM events GROUP BY 1, 2
         |)
         |SELECT ws, CAST(rank AS INT) AS rank, event_type, n_events
         |FROM (SELECT *, row_number() OVER (PARTITION BY ws ORDER BY n_events DESC, event_type ASC) AS rank
         |      FROM g)
         |WHERE rank <= $TrendingTopK ORDER BY ws, rank""".stripMargin,
    "stream_tumbling_agg" ->
      s"""SELECT date_trunc('hour', ts) AS ws, event_type, count(*) AS n_events,
         |       ${sqlR6("sum(value)")} AS sum_value, ${sqlR6("sum(value) / count(*)")} AS avg_value
         |FROM events GROUP BY 1, 2 ORDER BY ws, event_type""".stripMargin,
    // each event lands in exactly windowDuration/slideDuration = 4 windows,
    // whose starts are the last 15-min boundary at or before ts minus
    // 0..3 slides — Spark's window() alignment is epoch-based, as is the
    // floor(epoch/900) arithmetic here (epoch·1e6 < 2^53, exact in double)
    "events_sliding_agg" ->
      """SELECT make_timestamp(CAST((floor(epoch(ts) / 900) * 900 - i.i * 900) * 1000000 AS BIGINT)) AS ws,
        |       event_type, count(*) AS n_events
        |FROM events CROSS JOIN range(0, 4) i(i)
        |GROUP BY 1, 2 ORDER BY ws, event_type""".stripMargin,
    // islands walk with the built-in's INCLUSIVE boundary (spec-asserted:
    // touching windows merge, so only diff > gap breaks) and end = last + gap
    "events_session_window" ->
      """WITH g AS (
        |  SELECT user_id, ts,
        |         lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
        |  FROM events
        |), marked AS (
        |  SELECT *, CASE WHEN prev_ts IS NULL
        |                   OR epoch(ts) - epoch(prev_ts) > 1800.0e0 THEN 1 ELSE 0 END AS brk
        |  FROM g
        |), sess AS (
        |  SELECT user_id, ts,
        |         sum(brk) OVER (PARTITION BY user_id ORDER BY ts
        |                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM marked
        |)
        |SELECT min(ts) AS session_start, max(ts) + INTERVAL 30 MINUTE AS session_end,
        |       user_id, count(*) AS n_events
        |FROM sess GROUP BY user_id, sid ORDER BY user_id, session_start""".stripMargin,
    // the replayed 10% must collapse back to the original unique id set
    "stream_dedup_replay" ->
      """SELECT DISTINCT event_id FROM events ORDER BY event_id""".stripMargin,
    "events_interval_left_join" ->
      """SELECT p.user_id, p.event_id AS purchase_id, c.event_id AS click_id,
        |       p.ts AS purchase_ts, c.ts AS click_ts
        |FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase') p
        |LEFT JOIN (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click') c
        |  ON c.user_id = p.user_id
        | AND c.ts >= p.ts - INTERVAL 60 MINUTE AND c.ts < p.ts
        |ORDER BY purchase_id, click_id""".stripMargin
  )
}
