package graft.operators

import graft.functions.{DetRand => R}
import graft.functions.Num._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** DDPM-style diffusion operators re-expressed relationally (SURVEY.md §2 P2-P5,
  * W1-W2, J1-J3, I1-I2; reference /root/reference/models/diffusion_ts_model.py:580-772).
  *
  * The schedule is a tiny `timesteps`-row table (the reference's precomputed
  * buffers, diffusion_ts_model.py:592-608); every per-row lookup (`extract`,
  * :70-74) becomes a broadcast equi-join on `step` — no shuffle of the data side.
  * Cumulative products (W1) use the exp-sum-of-logs window since alpha ∈ (0,1).
  *
  * Scale: data frames partition by series; the schedule (≤500 rows) broadcasts.
  * The closed-form sampler collapses the reference's 500 sequential passes
  * (diffusion_ts_model.py:765) into ONE scan: with the zero-noise predictor the
  * per-step affine maps compose, so x_final is a single weighted sum over
  * (cell × step) — no iteration, no lineage growth, embarrassingly parallel.
  * The iterative sampler (I1) is kept for predictor-pluggability and uses
  * driver-collected scalar coefficients, one projection step per timestep.
  */
object Diffusion {
  val T = 500 // config.json:16
  val BetaStart = 1e-4
  val BetaEnd = 0.02 // diffusion_ts_model.py:77
  val CosS = 0.008   // diffusion_ts_model.py:82

  /** Schedule table from an ARBITRARY beta expression over the (double) step —
    * U2 at full generality, the engine twin of the reference's documented
    * subclassable schedule extension point
    * (/root/reference/README.md:300-312). A `Column => Column` parameter (the
    * same shape as the U1 custom-decay callable) keeps user schedules inside
    * Catalyst — pure column arithmetic, no UDF, constant-folded like the
    * built-ins. Columns: step, beta, alpha, ac (= ᾱ), ac_prev, posterior_var,
    * sqrt_ac, sqrt_omac. Unrounded — query wrappers round at the edge.
    */
  def scheduleFrom(spark: SparkSession, timesteps: Int, beta: Column => Column): DataFrame = {
    // single partition: ≤500 rows, and every window below is a global orderBy
    val base = spark.range(0, timesteps, 1, 1).select(col("id").cast("int").as("step"))
    val wCum = Window.orderBy("step").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    base
      .withColumn("beta", beta(col("step").cast("double")))
      .withColumn("alpha", lit(1.0) - col("beta"))
      .withColumn("ac", exp(sum(log(col("alpha"))).over(wCum)))
      .withColumn("ac_prev", lag(col("ac"), 1, 1.0).over(Window.orderBy("step")))
      .withColumn("posterior_var", col("beta") * (lit(1.0) - col("ac_prev")) / (lit(1.0) - col("ac")))
      .withColumn("sqrt_ac", sqrt(col("ac")))
      .withColumn("sqrt_omac", sqrt(lit(1.0) - col("ac")))
  }

  /** The built-in schedule kinds (config.json:17), routed through
    * [[scheduleFrom]] so built-ins and user schedules share one code path.
    */
  def schedule(spark: SparkSession, timesteps: Int = T, kind: String = "linear"): DataFrame =
    scheduleFrom(spark, timesteps, betaFor(timesteps, kind))

  private def betaFor(timesteps: Int, kind: String): Column => Column = kind match {
    case "linear" => stepD =>
      lit(BetaStart) + lit(BetaEnd - BetaStart) * (stepD / lit((timesteps - 1).toDouble))
    case "cosine" => stepD =>
      def f(x: Column): Column =
        pow(cos(((x / lit(timesteps.toDouble) + lit(CosS)) / lit(1.0 + CosS)) * lit(math.Pi * 0.5)), 2.0)
      greatest(least(lit(1.0) - f(stepD + 1.0) / f(stepD), lit(0.9999)), lit(1e-4))
    case other => throw new IllegalArgumentException(s"unknown schedule: $other")
  }

  /** Demo non-builtin schedule for the registered U2 query: quadratic warmup
    * beta(s) = BetaStart + (BetaEnd − BetaStart)·(s/(T−1))² — not one of the
    * reference's kinds, exercising the arbitrary-expression path end to end.
    */
  def quadraticBeta(timesteps: Int): Column => Column = stepD =>
    lit(BetaStart) + lit(BetaEnd - BetaStart) * pow(stepD / lit((timesteps - 1).toDouble), 2.0)

  /** x0 fixture: a generated dataset with a per-series random timestep (I4). */
  private[operators] val N = 50L
  private[operators] val L = 64

  private def withStep(df: DataFrame): DataFrame =
    df.withColumn("step", floor(R.u01(col("series_id").cast("double"), 13) * T).cast("int"))

  private def cell: Column = col("series_id").cast("double") * L + col("t")

  /** Fixed timestep and series count for [[forwardInspect]] — the notebook's
    * `t=10` probe over a small sine batch. */
  val InspectStep = 10
  val InspectN = 8L

  /** §3.3 notebook twin — the tutorial's single-forward inspection at a
    * FIXED timestep (tutorial.ipynb cells 4-7; utils/visualisation.py:97-150):
    * a synthetic sine dataset forward-noised at step [[InspectStep]] through
    * the cosine schedule (q_sample with a constant t instead of the per-row
    * draw), then the decomposition triple + residual read off the NOISED
    * series — "what the model sees at t=10". Pure composition of the P2/J1
    * forward noising and the W9 decompose chain, registered under its own
    * name so the notebook's probe has a query and an oracle of its own.
    */
  def forwardInspect(spark: SparkSession): DataFrame = {
    val x0 = Generators.dataset(spark, "sine", InspectN, L)
    val coef = schedule(spark, T, "cosine")
      .filter(col("step") === InspectStep)
      .select("sqrt_ac", "sqrt_omac")
    val noised = x0.crossJoin(broadcast(coef))
      .withColumn("noise", R.gauss(cell, 21))
      .select(col("series_id"), col("t"),
        (col("sqrt_ac") * col("value") + col("sqrt_omac") * col("noise")).as("value"))
    EventsOps.decomposeOf(noised, "series_id").orderBy("series_id", "t")
  }

  /** P2+J1: forward noising x_t = √ᾱ·x0 + √(1-ᾱ)·ε via broadcast schedule join. */
  def qSample(spark: SparkSession, kind: String = "linear"): DataFrame = {
    val x0 = withStep(Generators.dataset(spark, "linear_sum", N, L))
    x0.join(broadcast(schedule(spark, T, kind)), "step")
      .withColumn("noise", R.gauss(cell, 11))
      .withColumn("xt", col("sqrt_ac") * col("value") + col("sqrt_omac") * col("noise"))
  }

  /** P3: recover x0 from x_t and the (true) noise. */
  def predictStart(spark: SparkSession): DataFrame =
    qSample(spark)
      .withColumn("x0_hat", (col("xt") - col("sqrt_omac") * col("noise")) / col("sqrt_ac"))

  /** P4: one reverse step. x0_hat from P3, fresh z, posterior mean + σ·z (t>0). */
  def pSampleStep(spark: SparkSession): DataFrame =
    predictStart(spark)
      .withColumn("z", R.gauss(cell, 12))
      .withColumn("mean",
        (sqrt(col("alpha")) * (lit(1.0) - col("ac_prev")) * col("xt") +
          sqrt(col("ac_prev")) * (lit(1.0) - col("alpha")) * col("x0_hat")) / (lit(1.0) - col("ac")))
      .withColumn("x_prev",
        when(col("step") > 0, col("mean") + sqrt(col("posterior_var")) * col("z"))
          .otherwise(col("x0_hat")))

  /** Per-step affine coefficients for the zero-noise-predictor sampler:
    * x_{t-1} = g_t·x_t + h_t·c + sv_t·z_t for t ≥ 1 (c = an optional constant
    * drift added to the predicted x̂₀ — zero for unconditional sampling, the
    * class-embedding drift under guidance), final division by √ᾱ₀ at t = 0.
    */
  private def stepCoefs(spark: SparkSession, timesteps: Int,
                        kind: String = "linear"): DataFrame = {
    val sched = schedule(spark, timesteps, kind)
    val g = (sqrt(col("alpha")) * (lit(1.0) - col("ac_prev")) +
      sqrt(col("ac_prev")) * (lit(1.0) - col("alpha")) / sqrt(col("ac"))) / (lit(1.0) - col("ac"))
    val wPrev = Window.orderBy("step").rowsBetween(Window.unboundedPreceding, -1)
    sched.filter(col("step") >= 1)
      .withColumn("g", g)
      .withColumn("h", sqrt(col("ac_prev")) * (lit(1.0) - col("alpha")) / (lit(1.0) - col("ac")))
      .withColumn("sv", sqrt(col("posterior_var")))
      .withColumn("p_prev", exp(coalesce(sum(log(col("g"))).over(wPrev), lit(0.0))))
      .withColumn("p_cum", exp(sum(log(col("g"))).over(
        Window.orderBy("step").rowsBetween(Window.unboundedPreceding, Window.currentRow))))
  }

  /** Closed-form reverse diffusion, unrounded: (series_id, t, raw). Wrappers
    * round at the edge ([[sampleClosedForm]]) or transform first
    * ([[sampleCond]], [[sampleInpaint]]).
    */
  private def closedFormRaw(spark: SparkSession, n: Long, seqLen: Int,
                            timesteps: Int, kind: String): DataFrame = {
    val coefs = stepCoefs(spark, timesteps, kind)
    val lastP = coefs.orderBy(desc("step")).limit(1).select(col("p_cum").as("p_total"))
    val alpha0 = schedule(spark, timesteps, kind).filter(col("step") === 0)
      .select(sqrt(col("ac")).as("sqrt_ac0"))
    val cells = Generators.grid(spark, n, seqLen)
      .withColumn("x_init", R.gauss(col("series_id").cast("double") * seqLen + col("t"), 0))
    val zKey = (col("series_id").cast("double") * seqLen + col("t")) * timesteps + col("step")
    val noiseSum = cells
      .crossJoin(broadcast(coefs.select("step", "p_prev", "sv")))
      .withColumn("z", R.gauss(zKey, 14))
      .groupBy("series_id", "t")
      .agg(sum(col("p_prev") * col("sv") * col("z")).as("zsum"))
    cells.join(noiseSum, Seq("series_id", "t"))
      .crossJoin(broadcast(lastP))
      .crossJoin(broadcast(alpha0))
      .select(col("series_id"), col("t"),
        ((col("p_total") * col("x_init") + col("zsum")) / col("sqrt_ac0")).as("raw"))
  }

  /** I1 collapsed: full reverse diffusion in one scan (see class doc). The
    * schedule kind is a parameter — the reference samples under whichever
    * schedule was trained (config.json:17; README.md:330-333 recommends
    * cosine), so the engine exposes both, each with its own oracle.
    */
  def sampleClosedForm(spark: SparkSession, n: Long = 20, seqLen: Int = L,
                       timesteps: Int = T, kind: String = "linear"): DataFrame =
    closedFormRaw(spark, n, seqLen, timesteps, kind)
      .select(col("series_id"), col("t"), r6(col("raw")).as("value"))

  /** Mask-conditioned (forecast/imputation) sampling — the reference's
    * inpainting use case (diffusion_ts_model.py:482,493-500; README.md:247-279):
    * observed cells are pinned to the conditioning series at every reverse
    * step, unobserved cells are filled by the reverse process. Because the
    * zero-noise-predictor step is cell-local affine, pinning observed cells
    * never perturbs unobserved ones, so the collapse algebra holds per cell:
    * observed → y, unobserved → closed-form sample.
    */
  def sampleInpaint(spark: SparkSession, n: Long = 20, seqLen: Int = L,
                    timesteps: Int = T, kind: String = "linear"): DataFrame = {
    val c = col("series_id").cast("double") * seqLen + col("t")
    val y = Generators.dataset(spark, "sine", n, seqLen)
      .withColumn("observed", R.u01(c, 18) > 0.5)
    val cf = closedFormRaw(spark, n, seqLen, timesteps, kind)
    y.join(cf, Seq("series_id", "t"))
      .select(col("series_id"), col("t"), col("observed"),
        when(col("observed"), col("value")).otherwise(r6(col("raw"))).as("value"))
  }

  /** Forecast horizon (trailing positions) for [[forecastRollout]]. */
  val ForecastH = 16

  /** Multi-step-ahead forecast rollout — the README.md:247-279 use case
    * composed end-to-end: the mask is the CONTIGUOUS TAIL (history observed,
    * last [[ForecastH]] positions masked — forecasting is inpainting with a
    * one-sided mask), the reverse process fills the horizon, and the rollout
    * is scored against the generator's true continuation per LEAD TIME — the
    * h-step-ahead MAE/RMSE curve a forecasting evaluation reports (the
    * ts_forecast_eval readout applied to the diffusion sampler). Per-term fx6
    * errors integer-sum in any order; output is `horizon` rows regardless of
    * corpus size.
    */
  def forecastRollout(spark: SparkSession, n: Long = 20, seqLen: Int = L,
                      timesteps: Int = T, horizon: Int = ForecastH): DataFrame = {
    val y = Generators.dataset(spark, "sine", n, seqLen)
    val cf = closedFormRaw(spark, n, seqLen, timesteps, "linear")
    y.join(cf, Seq("series_id", "t"))
      .filter(col("t") >= seqLen - horizon) // the masked future
      .withColumn("yhat", r6(col("raw")))
      .withColumn("lead", (col("t") - (seqLen - horizon) + 1).cast("int"))
      .groupBy("lead")
      .agg(count(lit(1)).as("n_series"),
        sum(fx(abs(col("yhat") - col("value")), 6)).as("sae_fx"),
        sum(fx((col("yhat") - col("value")) * (col("yhat") - col("value")), 6)).as("sse_fx"))
      .select(col("lead"), col("n_series"),
        r6(col("sae_fx").cast("double") / 1e6 / col("n_series").cast("double")).as("mae"),
        r6(sqrt(col("sse_fx").cast("double") / 1e6 / col("n_series").cast("double"))).as("rmse"))
  }

  /** Classifier-free-guided conditional sampling
    * (diffusion_ts_model.py:872-915, null-class init :185-187): the per-class
    * drift c (mean of the J2 class embedding) shifts the predicted x̂₀ each
    * step; under the affine collapse a constant x̂₀-drift contributes
    * c·Σₜ(P_{t-1}·h_t)/√ᾱ₀, so guided = uncond + w·(cond − uncond)
    * = raw + w·c·H in ONE scan — no second sampling pass per branch. w = 0
    * reproduces force_uncond; the null class (label 4) has its own drift row.
    */
  def sampleCond(spark: SparkSession, n: Long = 20, seqLen: Int = L,
                 timesteps: Int = T, guidanceW: Double = 2.0): DataFrame = {
    val coefs = stepCoefs(spark, timesteps)
    val hTotal = coefs.agg(sum(col("p_prev") * col("h")).as("hsum"))
    val alpha0 = schedule(spark, timesteps).filter(col("step") === 0)
      .select(sqrt(col("ac")).as("sqrt_ac0"))
    val labels = spark.range(0, n, 1, 1).select(col("id").as("series_id"))
      .withColumn("label", floor(R.u01(col("series_id").cast("double"), 12) * 4.0).cast("int"))
    val drift = spark.range(0, 5, 1, 1).select(col("id").cast("int").as("label"))
      .crossJoin(broadcast(spark.range(0, 8, 1, 1).select(col("id").cast("int").as("j"))))
      .withColumn("emb", r6(R.u01(col("label").cast("double") * 8 + col("j"), 16) * 2.0 - 1.0))
      .groupBy("label").agg(r6(avg(col("emb"))).as("drift"))
    closedFormRaw(spark, n, seqLen, timesteps, "linear")
      .join(broadcast(labels), "series_id")
      .join(broadcast(drift), "label")
      .crossJoin(broadcast(hTotal))
      .crossJoin(broadcast(alpha0))
      .select(col("series_id"), col("t"), col("label"),
        r6(col("raw") + lit(guidanceW) * col("drift") * col("hsum") / col("sqrt_ac0")).as("value"))
  }

  /** I2: intermediate states of the reverse diffusion at strided capture steps
    * (visualize_diffusion_process semantics, utils/visualisation.py:74-76 +
    * W10 stride), via the same closed-form collapse: the state after applying
    * step τ is A(τ) = (P_{T-1}·x_init + Σ_{t≥τ} P_{t-1}·sv_t·z_t) / P_{τ-1},
    * so one cumulative window over the (cell × step) noise table yields every
    * capture at once — no sequential re-execution per snapshot. Noise keys
    * match [[sampleClosedForm]], so trajectories are consistent with the final
    * sample.
    */
  def sampleTrajectory(spark: SparkSession, n: Long = 20, seqLen: Int = L,
                       timesteps: Int = T,
                       captures: Seq[Int] = Seq(1, 100, 200, 300, 400)): DataFrame = {
    val coefs = stepCoefs(spark, timesteps)
    val lastP = coefs.orderBy(desc("step")).limit(1).select(col("p_cum").as("p_total"))
    val cells = Generators.grid(spark, n, seqLen)
      .withColumn("x_init", R.gauss(col("series_id").cast("double") * seqLen + col("t"), 0))
    val zKey = (col("series_id").cast("double") * seqLen + col("t")) * timesteps + col("step")
    val wCum = Window.partitionBy("series_id", "t").orderBy("step")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy("series_id", "t")
    cells
      .crossJoin(broadcast(coefs.select("step", "p_prev", "sv")))
      .withColumn("zc", col("p_prev") * col("sv") * R.gauss(zKey, 14))
      .withColumn("cum", sum(col("zc")).over(wCum))
      .withColumn("total", sum(col("zc")).over(wAll))
      .filter(col("step").isin(captures: _*))
      .crossJoin(broadcast(lastP))
      .select(col("series_id"), col("t"), col("step"),
        r6((col("p_total") * col("x_init") + col("total") - (col("cum") - col("zc"))) / col("p_prev"))
          .as("value"))
  }

  /** I1 literal: sequential reverse loop with driver-collected scalar
    * schedule, one projection step per timestep. Same noise keying as the
    * closed form, so both agree to fp tolerance — the closed-form SQL is its
    * oracle.
    *
    * The 50 steps collapse into ONE projection, without the lineage-cutting
    * `localCheckpoint`s a deep plan would usually want: with one expression
    * node per Gaussian draw the projection stays in whole-stage codegen,
    * and with each draw one call into `DetDraw` its generated method is
    * 7,793 bytes of bytecode, under HotSpot's 8,000-byte JIT limit. The
    * method grows with `timesteps`: a much longer schedule wants the
    * one-pass step-loop expression instead.
    */
  def sampleIterative(spark: SparkSession, n: Long = 20, seqLen: Int = L,
                      timesteps: Int = 50, kind: String = "linear"): DataFrame = {
    val sc = stepCoefs(spark, timesteps, kind)
      .select("step", "g", "sv").collect()
      .map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2)))
      .sortBy(-_._1)
    val sqrtAc0 = schedule(spark, timesteps, kind).filter(col("step") === 0)
      .select(sqrt(col("ac"))).head.getDouble(0)
    var x = Generators.grid(spark, n, seqLen)
      .withColumn("x", R.gauss(col("series_id").cast("double") * seqLen + col("t"), 0))
    val zKeyBase = col("series_id").cast("double") * seqLen + col("t")
    for ((step, g, sv) <- sc)
      x = x.withColumn("x", lit(g) * col("x") + lit(sv) * R.gauss(zKeyBase * timesteps + step, 14))
    x.select(col("series_id"), col("t"), r6(col("x") / lit(sqrtAc0)).as("value"))
  }

  /** P9: random mask + last-observation-carried-forward imputation. */
  def maskImputeLocf(spark: SparkSession): DataFrame = {
    val w = Window.partitionBy("series_id").orderBy("t")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Generators.dataset(spark, "sine", 20, L)
      .withColumn("observed", R.u01(cell, 15) > 0.2)
      .withColumn("masked", when(col("observed"), col("value")))
      .withColumn("imputed", coalesce(last(col("masked"), ignoreNulls = true).over(w), lit(0.0)))
      .select(col("series_id"), col("t"), col("observed"), r6(col("imputed")).as("imputed"))
  }

  /** A8: patch observed iff ANY element observed (diffusion_ts_model.py:495). */
  def maskPatchAny(spark: SparkSession, patchSize: Int = 4): DataFrame =
    Generators.dataset(spark, "sine", 20, L)
      .withColumn("observed", R.u01(cell, 15) > 0.2)
      .withColumn("patch_id", (col("t") / patchSize).cast("int"))
      .groupBy("series_id", "patch_id")
      .agg(bool_or(col("observed")).as("patch_observed"),
        count(lit(1)).as("n"),
        sum(when(col("observed"), 1).otherwise(0)).as("n_observed"))

  /** J2: class-embedding dimension table (labels 0..3 + null-class 4, dim 8)
    * broadcast-joined to the labeled series (diffusion_ts_model.py:152-198).
    */
  def classEmbedLookup(spark: SparkSession): DataFrame = {
    val labels = spark.range(0, 200, 1, 1).select(col("id").as("series_id"))
      .withColumn("label", floor(R.u01(col("series_id").cast("double"), 12) * 4.0).cast("int"))
    val dim = spark.range(0, 5, 1, 1).select(col("id").cast("int").as("label"))
      .crossJoin(broadcast(spark.range(0, 8, 1, 1).select(col("id").cast("int").as("j"))))
      .withColumn("emb", r6(R.u01(col("label").cast("double") * 8 + col("j"), 16) * 2.0 - 1.0))
    labels.join(broadcast(dim), "label")
      .select("series_id", "label", "j", "emb")
  }

  /** J3: label → function-family name via a literal dimension table. */
  def labelFamilyMap(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val names = Seq((0, "sine"), (1, "cosine"), (2, "mixed"), (3, "exponential_decay"))
      .toDF("label", "family")
    spark.range(0, 200, 1, 1).select(col("id").as("series_id"))
      .withColumn("label", floor(R.u01(col("series_id").cast("double"), 12) * 4.0).cast("int"))
      .groupBy("label").agg(count(lit(1)).as("n_series"))
      .join(broadcast(names), "label")
      .select("label", "family", "n_series")
  }

  // ---------------- DuckDB oracle twins ----------------

  /** Schedule chain as CTEs ending in `sched`. "quadratic" is the demo
    * non-builtin schedule of [[quadraticBeta]].
    */
  def schedSql(timesteps: Int, kind: String): String = {
    val betaExpr = kind match {
      case "linear" =>
        s"(${sqlD(BetaStart)} + ${sqlD(BetaEnd - BetaStart)} * (CAST(step AS DOUBLE) / ${sqlD((timesteps - 1).toDouble)}))"
      case "cosine" =>
        def f(x: String) =
          s"pow(cos((((($x) / ${sqlD(timesteps.toDouble)}) + ${sqlD(CosS)}) / ${sqlD(1.0 + CosS)}) * ${sqlD(math.Pi * 0.5)}), 2.0e0)"
        s"greatest(least(1.0e0 - ${f("CAST(step AS DOUBLE) + 1.0e0")} / ${f("CAST(step AS DOUBLE)")}, 0.9999e0), 1.0e-4)"
      case "quadratic" =>
        s"(${sqlD(BetaStart)} + ${sqlD(BetaEnd - BetaStart)} * pow(CAST(step AS DOUBLE) / ${sqlD((timesteps - 1).toDouble)}, 2.0e0))"
    }
    s"""sched0 AS (
       |  SELECT CAST(i AS INT) AS step, $betaExpr AS beta
       |  FROM range(0, $timesteps) r(i)
       |), sched1 AS (
       |  SELECT step, beta, 1.0e0 - beta AS alpha FROM sched0
       |), sched2 AS (
       |  SELECT *, exp(sum(ln(alpha)) OVER (ORDER BY step ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS ac
       |  FROM sched1
       |), sched3 AS (
       |  SELECT *, coalesce(lag(ac) OVER (ORDER BY step), 1.0e0) AS ac_prev FROM sched2
       |), sched AS (
       |  SELECT *, beta * (1.0e0 - ac_prev) / (1.0e0 - ac) AS posterior_var,
       |         sqrt(ac) AS sqrt_ac, sqrt(1.0e0 - ac) AS sqrt_omac
       |  FROM sched3
       |)""".stripMargin
  }

  private def scheduleOracle(kind: String): String =
    s"""WITH ${schedSql(T, kind)}
       |SELECT step, ${sqlR6("beta")} AS beta, ${sqlR6("alpha")} AS alpha, ${sqlR6("ac")} AS ac,
       |       ${sqlR6("ac_prev")} AS ac_prev, ${sqlR6("posterior_var")} AS posterior_var,
       |       ${sqlR6("sqrt_ac")} AS sqrt_ac, ${sqlR6("sqrt_omac")} AS sqrt_omac
       |FROM sched ORDER BY step""".stripMargin

  private def sd = "CAST(series_id AS DOUBLE)"
  private def cellSql = s"($sd * $L + t)"

  /** x0 + step + schedule join + noise, ending in CTE `qs`. */
  private def qSampleSql: String =
    s"""WITH x0 AS (${Generators.datasetSqlCore("linear_sum", N, L)}),
       |${schedSql(T, "linear")},
       |stepped AS (
       |  SELECT x0.*, CAST(floor((${R.sqlU01(sd, 13)}) * $T) AS INT) AS step FROM x0
       |), qs AS (
       |  SELECT s.series_id, s.t, s.step, s.value,
       |         c.alpha, c.ac, c.ac_prev, c.posterior_var, c.sqrt_ac, c.sqrt_omac,
       |         ${R.sqlGauss(cellSql, 11)} AS noise,
       |         c.sqrt_ac * s.value + c.sqrt_omac * (${R.sqlGauss(cellSql, 11)}) AS xt
       |  FROM stepped s JOIN sched c USING (step)
       |)""".stripMargin

  /** Mirror of [[forwardInspect]]: sine core → fixed-step noising as the
    * `series(key, t, value, n)` CTE → the SHARED decompose chain. */
  private def forwardInspectOracle: String =
    s"""WITH x0c AS (${Generators.datasetSqlCore("sine", InspectN, L)}),
       |${schedSql(T, "cosine")},
       |coef AS (SELECT sqrt_ac, sqrt_omac FROM sched WHERE step = $InspectStep),
       |series AS (
       |  SELECT series_id, t,
       |         c.sqrt_ac * x.value + c.sqrt_omac * (${R.sqlGauss(cellSql, 21)}) AS value,
       |         count(*) OVER (PARTITION BY series_id) AS n
       |  FROM x0c x CROSS JOIN coef c
       |)${EventsOps.decomposeCtes("series_id")}
       | SELECT * FROM dec ORDER BY 1, 2""".stripMargin

  private def qSampleOracle: String = qSampleSql +
    s""" SELECT series_id, t, step, ${sqlR6("xt")} AS xt
       | FROM qs ORDER BY series_id, t""".stripMargin

  private def predictStartOracle: String = qSampleSql +
    s""" SELECT series_id, t, step, ${sqlR6("(xt - sqrt_omac * noise) / sqrt_ac")} AS x0_hat
       | FROM qs ORDER BY series_id, t""".stripMargin

  private def pSampleStepOracle: String = qSampleSql +
    s""", ps AS (
       |  SELECT *, (xt - sqrt_omac * noise) / sqrt_ac AS x0_hat, ${R.sqlGauss(cellSql, 12)} AS z
       |  FROM qs
       |), pm AS (
       |  SELECT *, (sqrt(alpha) * (1.0e0 - ac_prev) * xt + sqrt(ac_prev) * (1.0e0 - alpha) * x0_hat) / (1.0e0 - ac) AS mean
       |  FROM ps
       |)
       |SELECT series_id, t, step,
       |       ${sqlR6("CASE WHEN step > 0 THEN mean + sqrt(posterior_var) * z ELSE x0_hat END")} AS x_prev
       |FROM pm ORDER BY series_id, t""".stripMargin

  /** The closed-form collapse as CTEs ending in `cf(series_id, t, raw)` —
    * shared by the closed-form, iterative, cosine, inpaint, and guided
    * oracles.
    */
  private def closedFormCtes(n: Long, seqLen: Int, timesteps: Int, kind: String): String = {
    val zKey = s"(($sd * $seqLen + t) * $timesteps + step)"
    s"""${schedSql(timesteps, kind)},
       |coefs AS (
       |  SELECT step,
       |         (sqrt(alpha) * (1.0e0 - ac_prev) + sqrt(ac_prev) * (1.0e0 - alpha) / sqrt(ac)) / (1.0e0 - ac) AS g,
       |         sqrt(ac_prev) * (1.0e0 - alpha) / (1.0e0 - ac) AS h,
       |         sqrt(posterior_var) AS sv
       |  FROM sched WHERE step >= 1
       |), coefs2 AS (
       |  SELECT step, sv, h,
       |         exp(coalesce(sum(ln(g)) OVER (ORDER BY step ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0.0e0)) AS p_prev,
       |         exp(sum(ln(g)) OVER (ORDER BY step ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS p_cum
       |  FROM coefs
       |), ptotal AS (
       |  SELECT p_cum AS p_total FROM coefs2 ORDER BY step DESC LIMIT 1
       |), ac0 AS (
       |  SELECT sqrt_ac AS sqrt_ac0 FROM sched WHERE step = 0
       |), cells AS (
       |  SELECT CAST(s.i AS BIGINT) AS series_id, CAST(g.j AS INT) AS t,
       |         ${R.sqlGauss(s"(CAST(s.i AS DOUBLE) * $seqLen + g.j)", 0)} AS x_init
       |  FROM range(0, $n) s(i) CROSS JOIN range(0, $seqLen) g(j)
       |), zsum_t AS (
       |  SELECT series_id, t, sum(p_prev * sv * (${R.sqlGauss(zKey, 14)})) AS zsum
       |  FROM cells CROSS JOIN coefs2
       |  GROUP BY series_id, t
       |), cf AS (
       |  SELECT c.series_id, c.t, (p.p_total * c.x_init + z.zsum) / a.sqrt_ac0 AS raw
       |  FROM cells c JOIN zsum_t z USING (series_id, t) CROSS JOIN ptotal p CROSS JOIN ac0 a
       |)""".stripMargin
  }

  /** Closed-form sampler SQL, parameterized so it also oracles the iterative
    * and cosine-schedule queries.
    */
  def sampleClosedFormSql(n: Long, seqLen: Int, timesteps: Int,
                          kind: String = "linear"): String =
    s"""WITH ${closedFormCtes(n, seqLen, timesteps, kind)}
       |SELECT series_id, t, ${sqlR6("raw")} AS value
       |FROM cf ORDER BY series_id, t""".stripMargin

  private def sampleInpaintSql(n: Long, seqLen: Int, timesteps: Int): String =
    s"""WITH ${closedFormCtes(n, seqLen, timesteps, "linear")},
       |ds AS (${Generators.datasetSqlCore("sine", n, seqLen)}),
       |m AS (
       |  SELECT series_id, t, value, (${R.sqlU01(s"($sd * $seqLen + t)", 18)}) > 0.5e0 AS observed
       |  FROM ds
       |)
       |SELECT m.series_id, m.t, m.observed,
       |       CASE WHEN m.observed THEN m.value ELSE ${sqlR6("cf.raw")} END AS value
       |FROM m JOIN cf USING (series_id, t)
       |ORDER BY series_id, t""".stripMargin

  private def forecastRolloutSql(n: Long, seqLen: Int, timesteps: Int,
                                 horizon: Int): String =
    s"""WITH ${closedFormCtes(n, seqLen, timesteps, "linear")},
       |ds AS (${Generators.datasetSqlCore("sine", n, seqLen)}),
       |fut AS (
       |  SELECT ds.series_id, ds.t, ds.value, ${sqlR6("cf.raw")} AS yhat,
       |         CAST(ds.t - ${seqLen - horizon} + 1 AS INT) AS lead
       |  FROM ds JOIN cf USING (series_id, t)
       |  WHERE ds.t >= ${seqLen - horizon}
       |)
       |SELECT lead, count(*) AS n_series,
       |       ${sqlR6(s"CAST(sum(${sqlFx("abs(yhat - value)", 6)}) AS DOUBLE) / 1e6 / count(*)")} AS mae,
       |       ${sqlR6(s"sqrt(CAST(sum(${sqlFx("(yhat - value)*(yhat - value)", 6)}) AS DOUBLE) / 1e6 / count(*))")} AS rmse
       |FROM fut GROUP BY 1 ORDER BY 1""".stripMargin

  private def sampleCondSql(n: Long, seqLen: Int, timesteps: Int, w: Double): String =
    s"""WITH ${closedFormCtes(n, seqLen, timesteps, "linear")},
       |htotal AS (
       |  SELECT sum(p_prev * h) AS hsum FROM coefs2
       |), labels AS (
       |  SELECT CAST(i AS BIGINT) AS series_id,
       |         CAST(floor((${R.sqlU01("CAST(i AS DOUBLE)", 12)}) * 4.0e0) AS INT) AS label
       |  FROM range(0, $n) r(i)
       |), drift AS (
       |  SELECT CAST(l.i AS INT) AS label,
       |         ${sqlR6(s"avg(${sqlR6(s"(${R.sqlU01("(CAST(l.i AS DOUBLE) * 8 + d.j)", 16)}) * 2.0e0 - 1.0e0")})")} AS drift
       |  FROM range(0, 5) l(i) CROSS JOIN range(0, 8) d(j)
       |  GROUP BY 1
       |)
       |SELECT cf.series_id, cf.t, lb.label,
       |       ${sqlR6(s"cf.raw + ${sqlD(w)} * dr.drift * h.hsum / a.sqrt_ac0")} AS value
       |FROM cf
       |JOIN labels lb USING (series_id)
       |JOIN drift dr ON dr.label = lb.label
       |CROSS JOIN htotal h CROSS JOIN ac0 a
       |ORDER BY series_id, t""".stripMargin

  /** Trajectory SQL twin: same cumulative-window collapse. */
  def sampleTrajectorySql(n: Long, seqLen: Int, timesteps: Int, captures: Seq[Int]): String = {
    val zKey = s"(($sd * $seqLen + t) * $timesteps + step)"
    s"""WITH ${schedSql(timesteps, "linear")},
       |coefs AS (
       |  SELECT step,
       |         (sqrt(alpha) * (1.0e0 - ac_prev) + sqrt(ac_prev) * (1.0e0 - alpha) / sqrt(ac)) / (1.0e0 - ac) AS g,
       |         sqrt(posterior_var) AS sv
       |  FROM sched WHERE step >= 1
       |), coefs2 AS (
       |  SELECT step, sv,
       |         exp(coalesce(sum(ln(g)) OVER (ORDER BY step ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0.0e0)) AS p_prev,
       |         exp(sum(ln(g)) OVER (ORDER BY step ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS p_cum
       |  FROM coefs
       |), ptotal AS (
       |  SELECT p_cum AS p_total FROM coefs2 ORDER BY step DESC LIMIT 1
       |), cells AS (
       |  SELECT CAST(s.i AS BIGINT) AS series_id, CAST(g.j AS INT) AS t,
       |         ${R.sqlGauss(s"(CAST(s.i AS DOUBLE) * $seqLen + g.j)", 0)} AS x_init
       |  FROM range(0, $n) s(i) CROSS JOIN range(0, $seqLen) g(j)
       |), zc_t AS (
       |  SELECT c.series_id, c.t, c.x_init, k.step, k.p_prev,
       |         k.p_prev * k.sv * (${R.sqlGauss(zKey, 14)}) AS zc
       |  FROM cells c CROSS JOIN coefs2 k
       |), cum_t AS (
       |  SELECT *,
       |         sum(zc) OVER (PARTITION BY series_id, t ORDER BY step ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
       |         sum(zc) OVER (PARTITION BY series_id, t) AS total
       |  FROM zc_t
       |)
       |SELECT c.series_id, c.t, c.step,
       |       ${sqlR6("(p.p_total * c.x_init + c.total - (c.cum - c.zc)) / c.p_prev")} AS value
       |FROM cum_t c CROSS JOIN ptotal p
       |WHERE c.step IN (${captures.mkString(", ")})
       |ORDER BY series_id, t, step""".stripMargin
  }

  private def maskBaseSql: String =
    s"""WITH ds AS (${Generators.datasetSqlCore("sine", 20, L)}),
       |m AS (
       |  SELECT series_id, t, value, (${R.sqlU01(cellSql, 15)}) > 0.2e0 AS observed
       |  FROM ds
       |)""".stripMargin

  private def maskImputeLocfOracle: String = maskBaseSql +
    s""" SELECT series_id, t, observed,
       |       ${sqlR6("coalesce(last_value(CASE WHEN observed THEN value END IGNORE NULLS) OVER (PARTITION BY series_id ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0.0e0)")} AS imputed
       | FROM m ORDER BY series_id, t""".stripMargin

  private def maskPatchAnyOracle: String = maskBaseSql +
    s""" SELECT series_id, CAST(floor(t / 4) AS INT) AS patch_id, bool_or(observed) AS patch_observed,
       |        count(*) AS n, CAST(sum(CASE WHEN observed THEN 1 ELSE 0 END) AS BIGINT) AS n_observed
       | FROM m GROUP BY 1, 2 ORDER BY series_id, patch_id""".stripMargin

  private def classEmbedOracle: String =
    s"""WITH labels AS (
       |  SELECT CAST(i AS BIGINT) AS series_id,
       |         CAST(floor((${R.sqlU01("CAST(i AS DOUBLE)", 12)}) * 4.0e0) AS INT) AS label
       |  FROM range(0, 200) r(i)
       |), dim AS (
       |  SELECT CAST(l.i AS INT) AS label, CAST(d.j AS INT) AS j,
       |         ${sqlR6(s"(${R.sqlU01("(CAST(l.i AS DOUBLE) * 8 + d.j)", 16)}) * 2.0e0 - 1.0e0")} AS emb
       |  FROM range(0, 5) l(i) CROSS JOIN range(0, 8) d(j)
       |)
       |SELECT series_id, labels.label, j, emb
       |FROM labels JOIN dim ON labels.label = dim.label
       |ORDER BY series_id, j""".stripMargin

  private def labelFamilyMapOracle: String =
    s"""WITH labels AS (
       |  SELECT CAST(i AS BIGINT) AS series_id,
       |         CAST(floor((${R.sqlU01("CAST(i AS DOUBLE)", 12)}) * 4.0e0) AS INT) AS label
       |  FROM range(0, 200) r(i)
       |)
       |SELECT label,
       |       CASE label WHEN 0 THEN 'sine' WHEN 1 THEN 'cosine' WHEN 2 THEN 'mixed'
       |            ELSE 'exponential_decay' END AS family,
       |       count(*) AS n_series
       |FROM labels GROUP BY 1, 2 ORDER BY label""".stripMargin

  private def schedRounded(df: DataFrame): DataFrame =
    df.select(col("step"), r6(col("beta")).as("beta"), r6(col("alpha")).as("alpha"),
        r6(col("ac")).as("ac"), r6(col("ac_prev")).as("ac_prev"),
        r6(col("posterior_var")).as("posterior_var"),
        r6(col("sqrt_ac")).as("sqrt_ac"), r6(col("sqrt_omac")).as("sqrt_omac"))
      .orderBy("step")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "diff_schedule_linear" -> ((s, _) => schedRounded(schedule(s, T, "linear"))),
    "diff_schedule_cosine" -> ((s, _) => schedRounded(schedule(s, T, "cosine"))),
    "diff_schedule_custom" -> ((s, _) => schedRounded(scheduleFrom(s, T, quadraticBeta(T)))),
    "diff_forward_inspect" -> ((s, _) => forwardInspect(s)),
    "diff_qsample" -> ((s, _) => qSample(s)
      .select(col("series_id"), col("t"), col("step"), r6(col("xt")).as("xt"))
      .orderBy("series_id", "t")),
    "diff_predict_start" -> ((s, _) => predictStart(s)
      .select(col("series_id"), col("t"), col("step"), r6(col("x0_hat")).as("x0_hat"))
      .orderBy("series_id", "t")),
    "diff_psample_step" -> ((s, _) => pSampleStep(s)
      .select(col("series_id"), col("t"), col("step"), r6(col("x_prev")).as("x_prev"))
      .orderBy("series_id", "t")),
    "diff_sample_closedform" -> ((s, _) => sampleClosedForm(s).orderBy("series_id", "t")),
    "diff_sample_closedform_cosine" -> ((s, _) =>
      sampleClosedForm(s, kind = "cosine").orderBy("series_id", "t")),
    "diff_sample_inpaint" -> ((s, _) => sampleInpaint(s).orderBy("series_id", "t")),
    "diff_forecast_rollout" -> ((s, _) => forecastRollout(s).orderBy("lead")),
    "diff_sample_cond" -> ((s, _) => sampleCond(s).orderBy("series_id", "t")),
    "diff_sample_trajectory" -> ((s, _) => sampleTrajectory(s).orderBy("series_id", "t", "step")),
    "diff_sample_iterative" -> ((s, _) => sampleIterative(s).orderBy("series_id", "t")),
    "mask_impute_locf" -> ((s, _) => maskImputeLocf(s).orderBy("series_id", "t")),
    "mask_patch_any" -> ((s, _) => maskPatchAny(s).orderBy("series_id", "patch_id")),
    "class_embed_lookup" -> ((s, _) => classEmbedLookup(s).orderBy("series_id", "j")),
    "label_family_map" -> ((s, _) => labelFamilyMap(s).orderBy("label"))
  )

  def oracles: Map[String, String] = Map(
    "diff_schedule_linear" -> scheduleOracle("linear"),
    "diff_schedule_cosine" -> scheduleOracle("cosine"),
    "diff_schedule_custom" -> scheduleOracle("quadratic"),
    "diff_forward_inspect" -> forwardInspectOracle,
    "diff_qsample" -> qSampleOracle,
    "diff_predict_start" -> predictStartOracle,
    "diff_psample_step" -> pSampleStepOracle,
    "diff_sample_closedform" -> sampleClosedFormSql(20, L, T),
    "diff_sample_closedform_cosine" -> sampleClosedFormSql(20, L, T, "cosine"),
    "diff_sample_inpaint" -> sampleInpaintSql(20, L, T),
    "diff_forecast_rollout" -> forecastRolloutSql(20, L, T, ForecastH),
    "diff_sample_cond" -> sampleCondSql(20, L, T, 2.0),
    "diff_sample_trajectory" -> sampleTrajectorySql(20, L, T, Seq(1, 100, 200, 300, 400)),
    "diff_sample_iterative" -> sampleClosedFormSql(20, L, 50),
    "mask_impute_locf" -> maskImputeLocfOracle,
    "mask_patch_any" -> maskPatchAnyOracle,
    "class_embed_lookup" -> classEmbedOracle,
    "label_family_map" -> labelFamilyMapOracle
  )
}
