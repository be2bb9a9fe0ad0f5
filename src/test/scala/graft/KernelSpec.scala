package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import graft.functions.DetRand
import graft.plans.VectorFunctions._
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** graft's ten Catalyst kernels (the eight in `VectorExpressions`, the two
  * draws in `DetRandExpressions`) give the same raw bits under whole-stage
  * codegen, per-expression codegen and interpreted evaluation, each stage
  * compiles with codegen fallback off, and no generated-code string in
  * `graft.plans` carries arithmetic of its own: generated code only calls
  * the Scala method `nullSafeEval` runs.
  */
class KernelSpec extends SparkSpec {

  private val Dim = 64
  private val SubDim = 8

  /** sf0.001 vectors as `v` (ARRAY<DOUBLE>) and `f` (the raw ARRAY<FLOAT>),
    * their 3-element prefixes, a DOUBLE key, and one all-null row. Read once
    * into an RDD-backed frame: the `transform` cast is a codegen fallback
    * and must not share a stage with the kernels, and a local relation
    * would be folded at optimization time. */
  private lazy val input: DataFrame = {
    val vecs = Tables.embeddings(spark, sf).select(col("vec_id").as("id"),
      transform(col("embedding"), _.cast("double")).as("v"), col("embedding").as("f"))
    val nulls = spark.range(1).select(lit(-1L).as("id"),
      lit(null).cast("array<double>").as("v"), lit(null).cast("array<float>").as("f"))
    vecs.unionByName(nulls)
      .select(col("*"), slice(col("v"), 1, 3).as("vShort"), slice(col("f"), 1, 3).as("fShort"),
        when(col("id") >= 0, col("id").cast("double") * 7919.5 - 1e6).as("key"))
      .localCheckpoint()
  }

  // reference data: per-dimension stats with one zero step, a 4-entry
  // codebook per subspace, a 5 × Dim matrix and per-dimension thresholds
  private val mn = (0 until Dim).map(j => -0.6 + 0.01 * j)
  private val dl = (0 until Dim).map(j => if (j == 3) 0.0 else (1.2 + 0.05 * (j % 5)) / 255)
  private val entries = for (m <- 0 until Dim / SubDim; c <- 0 until 4)
    yield (m, c, (0 until SubDim).map(j => math.sin(m * 31 + c * 7 + j) * 0.5))
  private val matrix = (0 until 5).map(i => (0 until Dim).map(j => math.cos(i * 1.7 + j * 0.3) / 8))
  private val thresholds = (0 until Dim).map(j => 0.02 * (j % 7) - 0.06)

  /** Each kernel's name in the plan, and the columns that exercise it. */
  private val kernels: Seq[(String, Seq[Column])] = Seq(
    "cosinesimilarity" -> Seq(cosine_sim(col("v"), reverse(col("v"))), cosine_sim(col("v"), col("vShort"))),
    "l2sqdistance" -> Seq(l2_sq(col("v"), reverse(col("v"))), l2_sq(col("vShort"), col("v"))),
    "l2sqfx6" -> Seq(l2_sq_fx6(col("v"), reverse(col("v"))), l2_sq_fx6(col("v"), col("vShort"))),
    "sq8deq" -> Seq(sq8_deq(col("v"), mn, dl), sq8_deq(col("f"), mn, dl), sq8_deq(col("fShort"), mn, dl)),
    "pqcodes" -> Seq(pq_codes(col("v"), SubDim, entries)),
    "pqdists" -> Seq(pq_dists(col("v"), SubDim, entries)),
    "matvecfx" -> Seq(mat_vec_fx(col("v"), matrix)),
    "bqpack" -> Seq(bq_pack(col("v"), thresholds, 0), bq_pack(col("f"), thresholds, 32),
      bq_pack(col("f"), thresholds.take(40), 16)),
    "graft_det_u01" -> Seq(DetRand.u01(col("key"), 0), DetRand.u01(col("key"), 64)),
    "graft_det_gauss" -> Seq(DetRand.gauss(col("key"), 0), DetRand.gauss(col("key"), 21)))

  /** A value with every double as its raw IEEE-754 bits. */
  private def bits(v: Any): Any = v match {
    case d: Double => java.lang.Double.doubleToRawLongBits(d)
    case s: scala.collection.Seq[_] => s.map(bits)
    case other => other
  }

  private def evaluate(cols: Seq[Column]): Map[Long, Seq[Any]] =
    input.select(col("id") +: cols: _*).collect()
      .map((r: Row) => r.getLong(0) -> (1 until r.length).map(i => bits(r.get(i)))).toMap

  private val Modes = Seq(
    "whole-stage codegen" -> Seq("spark.sql.codegen.wholeStage" -> "true",
      "spark.sql.codegen.fallback" -> "false"),
    "per-expression codegen" -> Seq("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY"),
    "interpreted" -> Seq("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"))

  for ((name, cols) <- kernels) test(s"$name: same bits under every evaluation path") {
    val byMode = Modes.map { case (mode, conf) => mode -> withConf(conf: _*)(evaluate(cols)) }
    val (_, ref) = byMode.head
    assert(ref.size == input.count() && ref(-1L).forall(_ == null), s"null row: ${ref(-1L)}")
    byMode.tail.foreach { case (mode, got) =>
      val bad = ref.keys.toSeq.sorted.filter(id => got(id) != ref(id))
      assert(bad.isEmpty, s"$mode differs from whole-stage codegen on ids ${bad.take(5).mkString(", ")}")
    }
  }

  for ((name, cols) <- kernels) test(s"$name: its stage compiles, with codegen fallback off") {
    withConf(Modes.head._2: _*) {
      val df = input.select(col("id") +: cols: _*)
      df.collect()
      val plan = df.queryExecution.executedPlan
      val wscg = Codegen.stages(plan)
      assert(wscg.exists(_.toString.contains(name)), plan.toString.take(2000))
      Codegen.compile(wscg)
    }
  }

  // ---- regrowth guard ----

  /** The contents of every string literal in Scala source, comments
    * skipped; an interpolated string's `${...}` is kept as text. */
  private def stringLiterals(src: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    var i = 0
    def at(s: String) = src.startsWith(s, i)
    while (i < src.length) {
      if (at("//")) i = src.indexOf('\n', i) match { case -1 => src.length; case j => j }
      else if (at("/*")) i = src.indexOf("*/", i + 2) + 2
      else if (at("\"\"\"")) {
        val end = src.indexOf("\"\"\"", i + 3)
        out += src.substring(i + 3, end); i = end + 3
      } else if (at("\"")) {
        var j = i + 1
        while (src(j) != '"') j += (if (src(j) == '\\') 2 else 1)
        out += src.substring(i + 1, j); i = j + 1
      } else if (at("'") && i + 2 < src.length && src(i + 2) == '\'') i += 3
      else i += 1
    }
    out.result()
  }

  private val Arithmetic = Seq(
    "loop" -> """\b(for|while|do)\s*[({]""".r,
    "java.lang.Math call" -> """\b(java\.lang\.)?(Strict)?Math\.\w+""".r)

  private def offenders(src: String): Seq[String] =
    stringLiterals(src).flatMap(s => Arithmetic.collect { case (what, re) if re.findFirstIn(s).isDefined =>
      s"$what in ${s.trim.linesIterator.next().take(80)}" })

  test("the guard flags a generated-code template") {
    val template = "override def doGenCode(ctx: CodegenContext, ev: ExprCode) = // \"not a string\"\n" +
      "  nullSafeCodeGen(ctx, ev, (a, b) => s\"\"\"\n" +
      "    |for (int $i = 0; $i < $n; $i++) { $acc += $a.getDouble($i); }\n" +
      "    |${ev.value} = java.lang.Math.sqrt($acc);\"\"\".stripMargin)\n" +
      "val x = '\"'; val y = s\"${Kernels}.l2Sq($a, $b)\""
    assert(stringLiterals(template).size == 2)
    assert(offenders(template).map(_.takeWhile(_ != ' ')) == Seq("loop", "java.lang.Math"))
  }

  test("no generated-code string in graft.plans carries its own arithmetic") {
    val dir = Paths.get("src/main/scala/graft/plans")
    assert(Files.isDirectory(dir))
    val files = Files.list(dir).iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
    assert(files.map(_.getFileName.toString).contains("VectorExpressions.scala"))
    val found = files.flatMap((p: Path) => offenders(Files.readString(p)).map(o => s"${p.getFileName}: $o"))
    assert(found.isEmpty, found.mkString("\n"))
  }
}
