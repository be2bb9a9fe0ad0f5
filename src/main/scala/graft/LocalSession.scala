package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft session is configured. Every main and the test
  * session start from [[builder]] and add only what they alone need (an app
  * name, a fixture-sized initial shuffle width), so the fixed confs cannot
  * drift between them:
  *   - `local[cpus]` with `cpus` shuffle partitions;
  *   - the UTC session time zone, which [[Tables.events]]' NTZ → timestamp
  *     cast and every oracle's timestamp arithmetic assume;
  *   - no UI;
  *   - [[graft.plans.GraftExtensions]], which also sizes the codegen cache.
  */
object LocalSession {
  def builder(cpus: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
}
