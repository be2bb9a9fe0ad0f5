package graft

import graft.functions.DetRand
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.functions._

/** DetRand's fused draws ([[graft.plans.DetU01]], [[graft.plans.DetGauss]])
  * against the Column tree they replace, kept here as the reference. Values
  * are compared as raw IEEE-754 bits under every evaluation path Spark can
  * take: whole-stage codegen, per-expression codegen, interpreted, and
  * constant folding of a literal key.
  */
class DetRandSpec extends SparkSpec {
  import spark.implicits._

  /** The composed Column form of the draws, operation for operation. */
  private object Composed {
    val M = 2147483648.0
    def fmod(x: Column): Column = x - floor(x / M).cast("double") * M
    def lcg(x: Column): Column = fmod(x * 69069.0 + 12345.0)
    def u01(key: Column, stream: Int): Column = {
      val seed = fmod(key * 40503.0 + stream.toDouble * 30011.0 + 12345.0)
      (lcg(lcg(fmod(seed * (69069.0 + 2.0 * stream)))) + 0.5) / M
    }
    def gauss(key: Column, stream: Int): Column = {
      val u1 = u01(key, 2 * stream)
      val u2 = u01(key, 2 * stream + 1)
      sqrt(lit(-2.0) * log(u1)) * cos(lit(2.0 * math.Pi) * u2)
    }
  }

  // every stream `src/main` draws on: u01 streams go up to 64 (LDP noise),
  // Gaussian streams up to 21 (forward inspection), which read u01 streams
  // 2s and 2s+1
  private val U01Streams = 0 to 65
  private val GaussStreams = 0 to 32

  /** 0, small and large integers of both signs, fractional keys, keys up to
    * the |key| < 2e11 limit and around multiples of 2^31. */
  private val keyGrid: Seq[Double] = {
    val rnd = new scala.util.Random(7)
    val ints = (-64 to 256).map(_.toDouble)
    val fractional = Seq(0.5, -0.5, 0.25, -0.75, 1e-9, -1e-9, 0.1, 12345.678, -98765.4321) ++
      (0 until 40).map(i => i * 0.37 - 7.1)
    val nearLimit = (0 until 40).flatMap { i =>
      val k = 2e11 - 1 - i * 1234567.891
      Seq(k, -k, math.floor(k))
    }
    val pow31 = (1 to 20).flatMap { i =>
      val m = i * 2147483648.0
      Seq(m, m - 1, m + 1, -m, m / 40503.0)
    }
    val random = Seq.fill(200)((rnd.nextDouble() * 2 - 1) * 2e11) ++ Seq.fill(100)(rnd.nextInt(100000).toDouble)
    (ints ++ fractional ++ nearLimit ++ pow31 ++ random).distinct
  }

  private val draws: Seq[(String, Int)] =
    U01Streams.map(("u01", _)) ++ GaussStreams.map(("gauss", _))

  private def fused(kind: String, key: Column, s: Int): Column =
    if (kind == "u01") DetRand.u01(key, s) else DetRand.gauss(key, s)
  private def composed(kind: String, key: Column, s: Int): Column =
    if (kind == "u01") Composed.u01(key, s) else Composed.gauss(key, s)

  /** (kind, stream, key, value) of every draw over `keys.k`, keyed by
    * (kind, stream, raw bits of the key), as raw value bits (None for null). */
  private def evaluate(keys: DataFrame, form: (String, Column, Int) => Column,
                       streams: Seq[(String, Int)] = draws): Map[(String, Int, Long), Option[Long]] = {
    val df = streams.map { case (kind, s) =>
      keys.select(lit(kind), lit(s), col("k").cast("double"), form(kind, col("k"), s))
    }.reduce(_ unionAll _)
    val rows = df.collect()
    assert(rows.length == keys.count() * streams.size)
    rows.map(r => (r.getString(0), r.getInt(1), java.lang.Double.doubleToRawLongBits(r.getDouble(2))) -> bits(r.get(3)))
      .toMap
  }

  private def bits(v: Any): Option[Long] =
    Option(v).map(d => java.lang.Double.doubleToRawLongBits(d.asInstanceOf[Double]))

  private def doubleKeys: DataFrame = spark.sparkContext.parallelize(keyGrid, 4).toDF("k")
  private def longKeys: DataFrame =
    spark.sparkContext.parallelize(keyGrid.filter(k => k == math.floor(k)).map(_.toLong), 4).toDF("k")

  /** The composed tree's values, evaluated once (under whole-stage codegen). */
  private lazy val reference = withConf("spark.sql.codegen.wholeStage" -> "true",
    "spark.sql.codegen.factoryMode" -> "FALLBACK")(evaluate(doubleKeys, composed))

  private def assertMatches(got: Map[(String, Int, Long), Option[Long]],
                            ref: Map[(String, Int, Long), Option[Long]]): Unit = {
    assert(got.keySet == ref.keySet)
    val bad = got.collect { case (k @ (kind, s, key), v) if v != ref(k) =>
      s"$kind(k=${java.lang.Double.longBitsToDouble(key)}, s=$s): fused=$v ref=${ref(k)}"
    }
    assert(bad.isEmpty, bad.take(10).mkString("\n"))
  }

  test("fused draws equal the composed tree bit for bit under whole-stage codegen") {
    withConf("spark.sql.codegen.wholeStage" -> "true") {
      assertMatches(evaluate(doubleKeys, fused), reference)
      // a LONG key reaches the draw through the same cast as the composed
      // tree's implicit one
      val some = draws.filter(_._2 % 7 == 0)
      assertMatches(evaluate(longKeys, fused, some), evaluate(longKeys, composed, some))
      // the fused nodes run inside generated stage code, not as a fallback
      val df = doubleKeys.select(DetRand.u01(col("k"), 3), DetRand.gauss(col("k"), 5))
      df.collect()
      val wscg = Codegen.stages(df.queryExecution.executedPlan)
      assert(wscg.exists(w => w.toString.contains("graft_det_gauss") && w.toString.contains("graft_det_u01")),
        df.queryExecution.executedPlan.toString)
      Codegen.compile(wscg)
    }
  }

  test("fused draws equal the composed tree bit for bit without whole-stage codegen") {
    withConf("spark.sql.codegen.wholeStage" -> "false") {
      assertMatches(evaluate(doubleKeys, fused), reference)
    }
  }

  test("fused draws equal the composed tree bit for bit when interpreted") {
    withConf("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
      assertMatches(evaluate(doubleKeys, fused), reference)
    }
  }

  test("literal keys fold to the composed tree's constants") {
    val keys = Seq(0.0, 1.0, -1.0, 0.5, -0.75, 12345.678, 1.999999e11, -1.999999e11, 4294967296.0)
    for ((kind, s) <- draws) {
      val cols = keys.zipWithIndex.flatMap { case (k, i) =>
        Seq(fused(kind, lit(k), s).as(s"fused$i"), composed(kind, lit(k), s).as(s"ref$i"))
      }
      val df = spark.range(1).select(cols: _*)
      // constant folding evaluated the fused nodes: none is left to execute
      assert(!df.queryExecution.optimizedPlan.toString.contains("graft_det"),
        df.queryExecution.optimizedPlan.toString.take(1000))
      val r = df.collect()(0)
      keys.indices.foreach { i =>
        assert(bits(r.get(2 * i)) == bits(r.get(2 * i + 1)),
          s"$kind(k=${keys(i)}, s=$s): fused=${r.get(2 * i)} ref=${r.get(2 * i + 1)}")
      }
    }
  }

  test("a null key draws null, and nullability matches the composed tree") {
    val keys = Seq(Some(3.0), None).toDF("k")
    val nonNull = spark.range(3).select(col("id").as("k"))
    for (s <- Seq(0, 7, 21)) {
      val r = keys.orderBy(col("k").asc_nulls_last)
        .select(DetRand.u01(col("k"), s), DetRand.gauss(col("k"), s)).collect()
      assert(!r(0).isNullAt(0) && !r(0).isNullAt(1))
      assert(r(1).isNullAt(0) && r(1).isNullAt(1))
      for (df <- Seq(keys, nonNull)) {
        val f = df.select(DetRand.u01(col("k"), s), Composed.u01(col("k"), s),
          DetRand.gauss(col("k"), s), Composed.gauss(col("k"), s)).schema.fields
        assert(f(0).nullable == f(1).nullable, s"u01 nullability over ${df.schema}")
        assert(f(2).nullable == f(3).nullable, s"gauss nullability over ${df.schema}")
      }
    }
  }

  private def exprNodes(plan: LogicalPlan): Int =
    plan.map(_.expressions.map(_.collect { case e => e }.size).sum).sum

  test("diff_qsample's analyzed plan stays small") {
    // the composed draws put 4,654 expression nodes in this plan; one node
    // per draw leaves a few hundred
    val df = SparkEntry.queries("diff_qsample")(spark, sf)
    val analyzed = exprNodes(df.queryExecution.analyzed)
    assert(analyzed < 1000, s"analyzed plan has $analyzed expression nodes")
  }
}
