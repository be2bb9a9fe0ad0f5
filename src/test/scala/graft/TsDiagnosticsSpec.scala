package graft

import graft.operators.EventsOps
import org.apache.spark.sql.functions._

/** Boundary specs for the time-series diagnostics, on SYNTHETIC series where
  * the right answer is known in closed form (the session_window lesson: pin
  * semantics with a constructed input, never only with the fixture, whose
  * gaps may never exercise the boundary).
  */
class TsDiagnosticsSpec extends SparkSpec {
  import spark.implicits._

  private def series(vals: Seq[Double], user: Long = 1L) =
    vals.zipWithIndex.map { case (v, i) =>
      (user, java.sql.Timestamp.valueOf(f"2024-01-01 00:${i / 60}%02d:${i % 60}%02d"), i.toLong, v)
    }.toDF("user_id", "ts", "event_id", "value")

  test("CUSUM changepoint lands on a known mean shift") {
    // 40 points at 0 then 40 at 10: |CUSUM| peaks exactly at the last
    // pre-shift point (position 40, fraction 0.5)
    val df = EventsOps.changepointOf(series(Seq.fill(40)(0.0) ++ Seq.fill(40)(10.0)))
    val r = df.collect()(0)
    assert(r.getAs[Long]("cp_event_id") == 39L, r.toString)
    assert(math.abs(r.getAs[Double]("frac_before") - 0.5) < 1e-9)
  }

  test("changepoint peak magnitude equals the closed form n1·n2·Δ/n") {
    // peak |CUSUM| for a clean step = n1·(μ − lo) = n1·n2·Δ/n = 40·40·10/80
    val df = EventsOps.changepointOf(series(Seq.fill(40)(0.0) ++ Seq.fill(40)(10.0)))
    assert(math.abs(df.collect()(0).getAs[Double]("cusum_peak") - 200.0) < 1e-6)
  }

  test("ACF of an alternating series is -1 at odd lags, +1 at even lags") {
    val df = EventsOps.autocorrOf(series(Seq.tabulate(64)(i => if (i % 2 == 0) 1.0 else -1.0)))
    val r = df.collect()(0)
    // finite-sample ACF of ±1 alternation: r_k = ±(n−k)/n (denominator keeps
    // all n terms) — so assert sign and magnitude within the 6/64 ≈ 0.094 bound
    for (k <- 1 to EventsOps.AcfK) {
      val v = r.getAs[Double](s"acf_$k")
      val expectedSign = if (k % 2 == 1) -1.0 else 1.0
      assert(v * expectedSign > 0.85, s"acf_$k = $v")
      assert(math.abs(v) <= 1.0 + 1e-9)
    }
  }

  test("ACF values on the fixture stay within [-1, 1]") {
    val bad = EventsOps.autocorr(spark, sf).filter(
      (1 to EventsOps.AcfK).map(k => abs(col(s"acf_$k")) > 1.0 + 1e-9).reduce(_ || _))
    assert(bad.count() == 0)
  }

  // ---- blocked decompose windows (VERDICT r9 #1): the fixtures fit in one
  // block at test scale, so these force MANY blocks and assert exact equality
  // against the direct whole-series window forms the r9 code used.

  test("blocked trend equals the whole-series rows-frame, many blocks + halos") {
    import org.apache.spark.sql.expressions.Window
    // two series of co-prime lengths with an irregular signal; block=16 with
    // HalfWin=8 puts EVERY row within a halo or adjacent to one
    val df = (Seq.tabulate(203)(i => ("a", i, math.sin(i * 0.37) * 100 + i % 7)) ++
      Seq.tabulate(97)(i => ("b", i, math.cos(i * 0.53) * 50 - i % 5)))
      .toDF("k", "t", "value")
    val blocked = EventsOps.trendedOf(df, "k", block = 16)
      .select("k", "t", "value", "n", "trend", "detr")
    val w = Window.partitionBy("k").orderBy("t")
      .rowsBetween(-EventsOps.HalfWin, EventsOps.HalfWin)
    val direct = df
      .withColumn("n", count(lit(1)).over(Window.partitionBy("k")))
      .withColumn("trend", avg("value").over(w))
      .withColumn("detr", col("value") - col("trend"))
      .select("k", "t", "value", "n", "trend", "detr")
    // exact (bit-level) equality: same frame contents in the same order
    assert(blocked.exceptAll(direct).count() == 0)
    assert(direct.exceptAll(blocked).count() == 0)
    assert(blocked.count() == 300)
  }

  test("blocked series t equals the whole-series row_number, many time buckets") {
    import org.apache.spark.sql.expressions.Window
    // blockRows=50 over the sf0.001 events (~1000 rows) forces ~21 time
    // buckets, so ranks recombine across buckets through the offset table
    // and n sums the per-bucket counts
    val blocked = EventsOps.series(spark, sf, "event_type", blockRows = 50L)
    val w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    val direct = graft.Tables.events(spark, sf)
      .select(col("event_type"), col("ts"), col("event_id"), col("value"))
      .withColumn("t", (row_number().over(w) - 1).cast("int"))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("event_type")))
      .select("event_type", "value", "t", "n")
    assert(blocked.exceptAll(direct).count() == 0)
    assert(direct.exceptAll(blocked).count() == 0)
  }

  test("blockedRank over value buckets equals the direct rank window, ties included") {
    import org.apache.spark.sql.expressions.Window
    // blockRows=50 forces ~21 value buckets on the sf0.001 events; the
    // (value, event_id) tiebreak makes the rank total, so every row's rank
    // must match the single-window form exactly
    val ev = graft.Tables.events(spark, sf)
      .select(col("event_type"), col("event_id"), col("value"))
    val blocked = EventsOps.blockedRank(ev, "event_type",
      Seq(col("value"), col("event_id")),
      EventsOps.doubleBuckets(ev, col("value"), 50L), "rn")
    val direct = ev.withColumn("rn", row_number().over(
      Window.partitionBy("event_type").orderBy("value", "event_id")).cast("long"))
    assert(blocked.exceptAll(direct).count() == 0)
    assert(direct.exceptAll(blocked).count() == 0)
  }

  test("blocked ntile closed form equals Spark's ntile, many value buckets") {
    import org.apache.spark.sql.expressions.Window
    val blocked = EventsOps.valueDeciles(spark, sf, blockRows = 50L)
    val w = Window.partitionBy("event_type").orderBy("value", "event_id")
    val direct = graft.Tables.events(spark, sf)
      .withColumn("decile", ntile(10).over(w))
      .groupBy("event_type", "decile")
      .agg(count(lit(1)).as("n"),
        graft.functions.Num.r6(min(col("value"))).as("lo"),
        graft.functions.Num.r6(max(col("value"))).as("hi"),
        graft.functions.Num.r6(sum(graft.functions.Num.fx(col("value"), 6)).cast("double") / 1e6 / count(lit(1))).as("mean_value"))
    assert(blocked.exceptAll(direct).count() == 0)
    assert(direct.exceptAll(blocked).count() == 0)
  }

  test("blocked rolling anomaly equals the direct trailing window, many blocks") {
    import org.apache.spark.sql.expressions.Window
    // blockRows=50 multiplies time buckets; block=64 chunks the trailing
    // frame so nearly every row's 16-row frame crosses a halo
    val blocked = EventsOps.rollingAnomaly(spark, sf, blockRows = 50L, block = 64)
    val wTrail = Window.partitionBy("event_type").orderBy("ts", "event_id")
      .rowsBetween(-EventsOps.AnomalyWin, -1)
    val z = (col("value") - col("mu")) / (col("sigma") + lit(1e-8))
    val direct = graft.Tables.events(spark, sf)
      .select(col("event_type"), col("ts"), col("event_id"), col("value"))
      .withColumn("mu", avg(col("value")).over(wTrail))
      .withColumn("sigma", stddev_samp(col("value")).over(wTrail))
      .withColumn("n_trail", count(col("value")).over(wTrail))
      .select(col("event_type"), col("event_id"),
        graft.functions.Num.r6(col("value")).as("value"),
        when(col("n_trail") >= EventsOps.AnomalyMinN, graft.functions.Num.r6(z)).as("z"))
      .withColumn("is_anomaly", coalesce(abs(col("z")) > EventsOps.AnomalyZ, lit(false)))
    assert(blocked.exceptAll(direct).count() == 0)
    assert(direct.exceptAll(blocked).count() == 0)
  }

  test("trended reads the series length off the rank's counts: two events scans, not four") {
    // the rank's own counts table carries n, so no second copy of the rank
    // plan is built just to count its rows
    val df = EventsOps.trended(spark, sf)
    df.collect()
    def scans(p: org.apache.spark.sql.execution.SparkPlan): Seq[String] =
      p.collect { case f: org.apache.spark.sql.execution.FileSourceScanExec => f.relation.location.rootPaths.mkString }
        .filter(_.contains("events.parquet")) ++
        p.collect { case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => q }.flatMap(q => scans(q.plan))
    val plan = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    assert(scans(plan).size == 2, plan.toString.take(4000))
  }

  test("n and trend from the rank's counts equal the separate count, with a null-ts event") {
    // a null ts has a null time bucket, so the row gets no rank: it must not
    // count towards n either
    val dir = java.nio.file.Files.createTempDirectory("graft-ts-null").toString
    try {
      val ev = graft.Tables.events(spark, sf)
      val extra = ev.limit(3).withColumn("ts", lit(null).cast("timestamp"))
        .withColumn("event_id", col("event_id") + 1000000000L)
      ev.unionByName(extra).write.parquet(s"$dir/events.parquet")
      val viaCounts = EventsOps.trended(spark, dir)
      val separate = EventsOps.trendedOf(EventsOps.series(spark, dir).drop("n"), "event_type")
      assert(viaCounts.columns.toSeq == Seq("event_type", "value", "t", "trend", "n", "detr"))
      assert(separate.columns.toSeq == viaCounts.columns.toSeq)
      assert(viaCounts.exceptAll(separate).count() == 0)
      assert(separate.exceptAll(viaCounts).count() == 0)
      assert(viaCounts.count() == ev.count())
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("blocked trend window partitions by (key, block), never key alone") {
    // the plan-shape half of the r9 fix: the executed plan's windows/sorts
    // must partition on the bucket/chunk columns so no task ever holds a
    // whole series (the structural registry-wide ban is PlanHygieneSpec's)
    val plan = EventsOps.trended(spark, sf).queryExecution.executedPlan.toString
    assert(plan.contains("_bkt"), plan.take(2000))
    assert(plan.contains("_tblk"), plan.take(2000))
  }
}
