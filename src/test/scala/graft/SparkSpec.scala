package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for the whole forked test JVM. */
object TestSession {
  lazy val spark: SparkSession = {
    // no fixture-sized initialPartitionNum: an explicit initial width would
    // override the shuffle width that specs set at run time
    val s = LocalSession.builder(4).appName("graft-test").getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSession.spark
  val sf: String = "/root/testdata/sf0.001"

  /** Runs `body` with the given session confs, then restores them. */
  def withConf[T](kv: (String, String)*)(body: => T): T = {
    val old = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}

/** Whole-stage codegen checks for plan assertions. */
object Codegen {
  import org.apache.spark.sql.execution.{SparkPlan, WholeStageCodegenExec}
  import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
  import org.apache.spark.sql.catalyst.expressions.codegen.{ByteCodeStats, CodeGenerator}
  import org.apache.spark.sql.internal.SQLConf

  /** Every codegen stage of an executed plan. Under AQE the stages sit
    * inside `QueryStageExec` leaves, which a plain `collect` never enters;
    * the plan is final only after `collect()` on the same DataFrame
    * (`count()` builds a new QueryExecution). */
  def stages(plan: SparkPlan): Seq[WholeStageCodegenExec] = plan match {
    case a: AdaptiveSparkPlanExec => stages(a.executedPlan)
    case p =>
      p.collect { case w: WholeStageCodegenExec => w } ++
        p.collect { case q: QueryStageExec => q }.flatMap(q => stages(q.plan))
  }

  /** Compiles each stage's generated source with Janino, as execution does.
    * Throws on a compile error, and fails a stage whose largest method is
    * over the huge-method limit: on either, execution would run the stage
    * interpreted without saying so. */
  def compile(stages: Seq[WholeStageCodegenExec]): Seq[ByteCodeStats] = stages.map { w =>
    val (_, stats) = CodeGenerator.compile(w.doCodeGen()._2)
    assert(stats.maxMethodCodeSize <= SQLConf.get.hugeMethodLimit,
      s"${w.simpleString(200)}: a ${stats.maxMethodCodeSize}-byte method falls back to interpreted")
    stats
  }
}

/** The Spark jobs a piece of driver code starts. */
object Jobs {
  import java.util.concurrent.ConcurrentLinkedQueue
  import scala.jdk.CollectionConverters._
  import org.apache.spark.graftbridge.ListenerBus
  import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

  /** Jobs started while `body` runs. */
  def during(spark: SparkSession)(body: => Any): Seq[SparkListenerJobStart] = {
    val jobs = new ConcurrentLinkedQueue[SparkListenerJobStart]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.add(e)
    }
    ListenerBus.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try { body; ListenerBus.drain(spark.sparkContext) }
    finally spark.sparkContext.removeSparkListener(listener)
    jobs.asScala.toSeq
  }

  /** A parquet schema-inference job: `DataFrameReader.parquet` itself starts
    * it (the top frame of its stage's call site), outside any SQL execution.
    * A read's scan jobs start from an action, inside an execution. */
  def isSchemaInference(job: SparkListenerJobStart): Boolean =
    job.properties.getProperty("spark.sql.execution.id") == null &&
      job.stageInfos.exists(_.details.linesIterator.nextOption()
        .exists(_.contains("DataFrameReader.parquet(")))
}
