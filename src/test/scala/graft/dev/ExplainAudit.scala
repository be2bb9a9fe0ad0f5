package graft

/** Dev main: prints the formatted physical plan of each named registry query
  * (`Test/runMain graft.ExplainAudit tpch_q1 ts_decompose_dim ...`).
  *
  * Ids that depend on what ran earlier in the JVM are masked ([[masked]]), so
  * two commits' dumps of the same queries diff clean unless a plan changed. */
object ExplainAudit {
  /** `plan` with session-order ids replaced by `<n>`: expression ids (`#12`),
    * RDD ids (`MapPartitionsRDD[7]`), exchange plan ids (`[plan_id=3]`),
    * lambda variable numbers (`lambda x_4#..`), the source line of an RDD's
    * call site (`at Dedup.scala:120`) and JVM lambda class names
    * (`Multimodal$$$Lambda$59/0x7f82@249676e4`). */
  def masked(plan: String): String = plan
    .replaceAll("#\\d+", "#<n>")
    .replaceAll("RDD\\[\\d+\\]", "RDD[<n>]")
    .replaceAll("plan_id=\\d+", "plan_id=<n>")
    .replaceAll("lambda (\\w+)_\\d+#", "lambda $1_<n>#")
    .replaceAll("\\.scala:\\d+", ".scala:<n>")
    .replaceAll("\\$Lambda\\S*?@[0-9a-f]+", "\\$Lambda<n>")

  def main(args: Array[String]): Unit = {
    val spark = LocalSession.builder(4).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // dir from SPARK_GRAFT_SF_DIR (args stay query names), default sf0.01
    val sf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val names = if (args.nonEmpty) args.toSeq else Seq(
      "tpch_q1", "tpch_q5", "diff_sample_cond", "diff_sample_inpaint",
      "ts_decompose_dim", "media_features", "dedup_minhash_sig", "gen_parity",
      "events_user_similarity_blocked", "events_calibration",
      "diff_forecast_rollout", "media_gif_frames")
    // SPARK_GRAFT_EXPLAIN_DIR: write each plan to <dir>/<name>.txt as well as
    // stdout (the sbt-shell pane truncates long multi-plan dumps)
    val outDir = sys.env.get("SPARK_GRAFT_EXPLAIN_DIR")
    outDir.foreach(d => java.nio.file.Files.createDirectories(java.nio.file.Paths.get(d)))
    names.foreach { n =>
      // registry names are [a-z0-9_]; reject anything else so a stray arg
      // can't path-escape SPARK_GRAFT_EXPLAIN_DIR
      require(n.matches("[A-Za-z0-9_]+"), s"bad query name: $n")
      println(s"========== $n ==========")
      val plan = masked(SparkEntry.queries(n)(spark, sf).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
      println(plan)
      outDir.foreach(d => java.nio.file.Files.writeString(
        java.nio.file.Paths.get(d, s"$n.txt"), plan))
    }
    spark.stop()
  }
}
