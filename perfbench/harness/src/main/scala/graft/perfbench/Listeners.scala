package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.perfbench.SparkInternals

/** Listener readings, keyed by the span id a job was tagged with (0 for an
  * untagged job). Shared by every session of the run. */
final class Stats {
  private val counters = mutable.Map.empty[Int, mutable.Map[String, Double]]
  private val skews = mutable.Map.empty[Int, mutable.ArrayBuffer[Double]]
  private val stageSpan = mutable.Map.empty[Int, Int]
  private val stageTasks = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  private val stream = mutable.Map.empty[String, Double].withDefaultValue(0.0)

  private def add(span: Int, k: String, v: Double): Unit =
    counters.getOrElseUpdate(span, mutable.Map.empty[String, Double].withDefaultValue(0.0))(k) += v

  def job(span: Int, stageIds: Seq[Int]): Unit = synchronized {
    add(span, "jobs", 1)
    stageIds.foreach(stageSpan(_) = span)
  }

  def task(stageId: Int, m: org.apache.spark.executor.TaskMetrics): Unit = synchronized {
    val span = stageSpan.getOrElse(stageId, 0)
    if (m != null) {
      add(span, "tasks", 1)
      add(span, "task_run_s", m.executorRunTime / 1e3)
      add(span, "task_cpu_s", m.executorCpuTime / 1e9)
      add(span, "task_gc_s", m.jvmGCTime / 1e3)
      add(span, "shuffle_write_b", m.shuffleWriteMetrics.bytesWritten.toDouble)
      add(span, "shuffle_read_b", m.shuffleReadMetrics.totalBytesRead.toDouble)
      add(span, "fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
      add(span, "spill_memory_b", m.memoryBytesSpilled.toDouble)
      add(span, "spill_disk_b", m.diskBytesSpilled.toDouble)
      add(span, "input_b", m.inputMetrics.bytesRead.toDouble)
      add(span, "input_rows", m.inputMetrics.recordsRead.toDouble)
      add(span, "output_b", m.outputMetrics.bytesWritten.toDouble)
      add(span, "output_rows", m.outputMetrics.recordsWritten.toDouble)
      stageTasks.getOrElseUpdate(stageId, mutable.ArrayBuffer.empty[Long]) += m.executorRunTime
    }
  }

  def stage(info: StageInfo): Unit = synchronized {
    val span = stageSpan.getOrElse(info.stageId, 0)
    add(span, "stages", 1)
    if (info.numTasks == 1) add(span, "single_task_stages", 1)
    stageTasks.remove(info.stageId).filter(_.size >= 2).foreach { ts =>
      val sorted = ts.sorted
      val median = sorted(sorted.size / 2).toDouble
      if (median > 0) skews.getOrElseUpdate(span, mutable.ArrayBuffer.empty[Double]) += sorted.last / median
    }
  }

  def progress(p: org.apache.spark.sql.streaming.StreamingQueryProgress): Unit = synchronized {
    stream("batches") += 1
    stream("input_rows") += p.numInputRows.toDouble
    stream("batch_s") += p.batchDuration / 1e3
    stream("state_rows") += p.stateOperators.map(_.numRowsTotal).sum.toDouble
  }

  def json: String = synchronized {
    val spans = counters.toSeq.sortBy(_._1).map { case (span, c) =>
      span.toString -> Json.raw(Json.obj(c.toSeq.sortBy(_._1) ++
        Seq("skews" -> skews.getOrElse(span, Nil).toSeq): _*))
    }
    Json.obj("spans" -> Json.raw(Json.obj(spans: _*)),
      "streaming" -> Json.raw(Json.obj(stream.toSeq.sortBy(_._1): _*)))
  }
}

/** The bench-registered SparkListener and StreamingQueryListener of one
  * session. `pause` removes both from the buses, `resume` adds them back. */
final class Listeners(spark: SparkSession, stats: Stats) {
  private var on = false

  private val jobs = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val tags = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
        .toSeq.flatMap(_.split(",")).filter(_.startsWith(Tags.prefix))
      stats.job(tags.map(_.stripPrefix(Tags.prefix).toInt).maxOption.getOrElse(0), e.stageIds)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = stats.task(e.stageId, e.taskMetrics)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stats.stage(e.stageInfo)
  }

  private val streams = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      stats.progress(e.progress)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def resume(): Unit = if (!on) {
    spark.sparkContext.addSparkListener(jobs)
    spark.streams.addListener(streams)
    on = true
  }

  def pause(): Unit = if (on) {
    drain()
    spark.sparkContext.removeSparkListener(jobs)
    spark.streams.removeListener(streams)
    on = false
  }

  def drain(): Unit = SparkInternals.drain(spark.sparkContext)
}
