package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.sources.Pinned
import org.apache.spark.sql.functions.col

/** The one session recipe ([[LocalSession]]), the between-query release
  * ([[Pinned.releaseUnpinned]]) and the bench value digest ([[Bench.digest]])
  * that the mains share. */
class LocalSessionSpec extends SparkSpec {

  test("every session in the source tree is built by LocalSession") {
    // spelled in two parts so this file does not match itself
    val needle = Seq("SparkSession", "builder").mkString(".")
    val offenders = Seq("src/main/scala", "src/test/scala").map(Paths.get(_)).flatMap { root =>
      assert(Files.isDirectory(root))
      Files.walk(root).iterator().asScala
        .filter(p => p.toString.endsWith(".scala") && p.getFileName.toString != "LocalSession.scala")
        .filter(p => new String(Files.readAllBytes(p), "UTF-8").contains(needle))
        .map(_.toString).toSeq
    }
    assert(offenders.isEmpty,
      s"session built outside LocalSession (use LocalSession.builder): ${offenders.mkString("; ")}")
  }

  test("the test session carries the fixed confs and no initial shuffle width") {
    val conf = spark.conf
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
    assert(conf.get("spark.sql.shuffle.partitions") == "4")
    assert(conf.get("spark.sql.extensions") == "graft.plans.GraftExtensions")
    assert(spark.sparkContext.master == "local[4]")
    // an explicit initial width would override the width a spec sets at run time
    assert(conf.getOption("spark.sql.adaptive.coalescePartitions.initialPartitionNum").isEmpty)
  }

  test("releaseUnpinned unpersists every RDD except the pinned ones") {
    val kept = spark.range(10).rdd.cache()
    val dropped = spark.range(10).rdd.cache()
    kept.count(); dropped.count()
    Pinned.pin(kept.id)
    try {
      Pinned.releaseUnpinned(spark, blocking = true)
      val live = spark.sparkContext.getPersistentRDDs.keySet
      assert(live.contains(kept.id))
      assert(!live.contains(dropped.id))
    } finally {
      Pinned.unpin(kept.id)
      kept.unpersist(blocking = true)
    }
  }

  test("Bench.digest ignores row order and partitioning but sees one changed cell") {
    import spark.implicits._
    val rows = (0 until 200).map(i => (i.toLong, s"k${i % 7}", i * 0.5))
    val one = rows.toDF("id", "k", "x").repartition(1)
    val seven = rows.reverse.toDF("id", "k", "x").repartition(7, col("k"))
    assert(Bench.digest(one) == Bench.digest(seven))
    assert(Bench.digest(one).startsWith("200:"))
    val changed = rows.updated(42, (42L, "k0", 21.25)).toDF("id", "k", "x")
    assert(Bench.digest(changed) != Bench.digest(one))
  }
}
