package graft

import graft.operators.Dedup
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev profiler: phase split of the minhashPairs chain — the component the
  * r11 CurProfile run showed dominates docs_curation_report's 12.7× sf100
  * decade ratio (warm minhash_pairs 17.0 s at sf10 → 279.8 s at sf100 =
  * 16.5× for 10× docs, while every other curation gate scaled ≤ 4×).
  * Splits: shingle-memo hit, the per-query re-checkpoint, band signatures,
  * candidate self-join, Jaccard verification joins. Not part of the shipped
  * surface; fixture dir from args(0) like the other dev mains.
  */
object DedupProfile {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        graft.sources.FileSizing.initialShufflePartitions(dir, 32))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    def time[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime; val r = f
      println(f"DEDUPPROF $label%-24s ${(System.nanoTime - t0) / 1e9}%8.1f s"); r
    }
    // hash cast to double before the sum: a BIGINT sum of xxhash64 values
    // overflows 2^63 under ANSI mode (same hazard Bench documents)
    def drain(df: DataFrame, c: String): Unit =
      df.agg(count(lit(1)), sum(xxhash64(col(c)).cast("double"))).collect()

    // cold: artifact write (layout memo) + memo checkpoint
    val sh = time("shingles.cold")(Dedup.minhashPairs(spark, dir))
    // the full query, warm memo — the number the decade ratio is built on
    time("pairs.full_warm")(drain(Dedup.minhashPairs(spark, dir), "jaccard"))
    // phase splits over the memoized frame (graft-internal accessors)
    val memo = time("shingles.memo_hit") {
      val f = Dedup.docShingles(spark, dir); f.count(); f
    }
    val rechk = time("rechk(localCheckpoint)")(memo.localCheckpoint(true))
    val cands = time("cands(bands+selfjoin)") {
      val c = Dedup.minhashCandidatesOf(rechk).localCheckpoint(true)
      println(s"DEDUPPROF n_cands ${c.count()}")
      c
    }
    time("verify(jaccard joins)")(drain(Dedup.withJaccard(rechk, cands), "jaccard"))
    // same verification but against the memo frame directly (no re-checkpoint)
    time("verify.no_rechk")(drain(Dedup.withJaccard(memo, cands), "jaccard"))
    rechk.unpersist(); cands.unpersist()
    spark.stop()
  }
}
