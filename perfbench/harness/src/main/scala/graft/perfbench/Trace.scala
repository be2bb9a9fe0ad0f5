package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** A timed interval of the harness's own work. Spans nest through `parent`;
  * `attrs` carries per-span readings (plan phases, codegen, files, ...). */
final class Span(val id: Int, val name: String, val parent: Int, val start: Long) {
  var end: Long = -1L
  val attrs = mutable.LinkedHashMap.empty[String, Any]
  def seconds: Double = (end - start) / 1e9
}

/** In-memory span recorder. Times are nanoTime; `origin` is the JVM start
  * mapped onto the nanoTime axis, so the first set-up starts at JVM start. */
final class Trace(jvmStartMillis: Long) {
  val origin: Long = System.nanoTime() - (System.currentTimeMillis() - jvmStartMillis) * 1000000L
  val spans = mutable.ArrayBuffer.empty[Span]

  def open(name: String, parent: Int, atJvmStart: Boolean = false): Span = {
    val s = new Span(spans.size + 1, name, parent, if (atJvmStart) origin else System.nanoTime())
    spans += s
    s
  }

  def close(s: Span): Unit = s.end = System.nanoTime()

  def jsonl: String = spans.map { s =>
    Json.obj(Seq[(String, Any)]("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
      "start_s" -> (s.start - origin) / 1e9, "end_s" -> (s.end - origin) / 1e9) ++ s.attrs: _*)
  }.mkString("", "\n", "\n")
}

/** Job tags: every job started under `under` carries the span's id. */
object Tags {
  val prefix = "perfbench-span-"
  def under[T](spark: SparkSession, spanId: Int)(body: => T): T = {
    val sc = spark.sparkContext
    sc.addJobTag(prefix + spanId)
    try body finally sc.removeJobTag(prefix + spanId)
  }
}
