package graft

import java.lang.Double.doubleToRawLongBits
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import graft.functions.Num
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The rounding format of [[graft.functions.Num]]: its scalar twins give the
  * Column forms' values bit for bit, and no copy of them grows back. */
class NumSpec extends SparkSpec {
  import spark.implicits._

  private val inputs = Seq(0.0, -0.0, 0.35, 0.1234565, -0.1234565, 5e-7, -5e-7, 1.0 / 3,
    -2.0 / 3, 123456.789, -987654.321, 1e13, -1e13, Double.MinPositiveValue,
    Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity)

  test("scalar fx and r equal the Column forms, interpreted and generated") {
    // a local relation is folded by the interpreter; the repartition keeps
    // the projection in a generated stage
    val frames: Seq[DataFrame] = Seq(inputs.toDF("x"), inputs.toDF("x").repartition(1))
    for (df <- frames; n <- Seq(2, 6, 9)) {
      df.select(col("x"), Num.fx(col("x"), n), Num.r(col("x"), n)).collect().foreach { row =>
        val x = row.getDouble(0)
        assert(row.getLong(1) == Num.fx(x, n), s"fx($x, $n)")
        assert(doubleToRawLongBits(row.getDouble(2)) == doubleToRawLongBits(Num.r(x, n)),
          s"r($x, $n): ${row.getDouble(2)} vs ${Num.r(x, n)}")
      }
    }
    assert(Num.r6(0.35) == 0.35 && Num.fx9(-5e-7) == -500L)
  }

  test("no copy of the scalar rounding outside Num and graft.plans") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root))
    val copy = """(math|Math|StrictMath)\.floor\(.*\+\s*0\.5\)""".r
    val offenders = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && p.getFileName.toString != "Num.scala" &&
        !p.startsWith(root.resolve("graft/plans")))
      .flatMap { p =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if copy.findFirstIn(line).isDefined => s"$p:${i + 1}"
        }
      }.toSeq
    assert(offenders.isEmpty,
      s"scalar rounding copies outside graft.functions.Num: ${offenders.mkString("; ")}")
  }
}
