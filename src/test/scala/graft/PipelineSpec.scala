package graft

import graft.operators.{Generators, Pipeline}
import org.apache.spark.graftbridge.ShutdownDeletes
import org.apache.spark.sql.functions._

class PipelineSpec extends SparkSpec {

  test("G12: JSON config loads into the case class via the Spark JSON source") {
    val dir = java.nio.file.Files.createTempDirectory("graft_cfg")
    val f = dir.resolve("config.json")
    java.nio.file.Files.writeString(f,
      """{"function_type": "sine", "n_train": 123, "n_val": 7, "seq_len": 32,
        | "epochs": 2, "timesteps": 50, "beta_schedule": "cosine", "loss_type": "mse"}""".stripMargin)
    val cfg = Pipeline.loadConfig(spark, f.toString)
    assert(cfg == Pipeline.GraftConfig("sine", 123, 7, 32, 2, 50, "cosine", "mse"))
  }

  test("U1: custom decay callable reshapes the envelope, pure-column") {
    import org.apache.spark.sql.Column
    val gaussian: Column => Column = t => exp(lit(-0.5) * t * t)
    val base = Generators.grid(spark, 3, 64)
      .withColumn("frac", col("t").cast("double") * lit(1.0 / 63))
    val custom = base.withColumn("v", Generators.signal("custom_decay", Some(gaussian)))
    val default = base.withColumn("v", Generators.signal("custom_decay", None))
    // same phases/freqs, different envelope → values differ but both bounded by the envelope
    val joined = custom.select(col("series_id"), col("t"), col("time"), col("v").as("vc"))
      .join(default.select(col("series_id"), col("t"), col("v").as("vd")), Seq("series_id", "t"))
    assert(joined.filter(col("vc") =!= col("vd")).count() > 0)
    val worst = joined
      .withColumn("env", exp(lit(-0.5) * col("time") * col("time")) * 1.3)
      .filter(abs(col("vc")) > col("env") + 1e-9).count()
    assert(worst == 0, "custom envelope not respected")
  }

  test("best checkpoint picks the epoch with the minimum val loss") {
    val metrics = Pipeline.epochMetrics(spark).filter(col("split") === "val").collect()
      .map(r => (r.getInt(0), r.getDouble(2))).toMap
    val best = Pipeline.bestCheckpointRoundtrip(spark).collect()(0)
    val bestEpoch = best.getInt(0)
    assert(metrics(bestEpoch) == metrics.values.min)
  }

  test("G13: the checkpoint is written under a directory deleted when the JVM exits") {
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def stray(): Set[String] = tmp.list().toSet.filter(_.startsWith("graft_ckpt_"))
    val before = stray()
    val files = Pipeline.bestCheckpointRoundtrip(spark).inputFiles
    assert(stray() -- before == Set.empty)
    val dirs = files.map(f => new java.io.File(new java.net.URI(f)).getParentFile).distinct
    assert(dirs.length == 1)
    assert(ShutdownDeletes.registered(dirs.head.getCanonicalFile))
  }
}
