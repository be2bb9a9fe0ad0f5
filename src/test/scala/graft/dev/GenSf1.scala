package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale-rehearsal fixture: N key-offset replicas of the driver's sf0.1
  * tables, written under a repo-local dir (the driver fixtures are
  * read-only). Usage: `runMain graft.GenSf1 /root/testdata/sf0.1 tmp/sf1 [N]`
  * — N defaults to [[Replicas]] (10 → sf1); N = 100 builds sf10. Key strides
  * were sized for the sf0.1 maxima, so they hold for any N ≤ ~1000.
  *
  * Replication preserves every per-replica distribution (so plan shapes and
  * selectivities match the real fixture) while keeping REFERENTIAL
  * INTEGRITY inside each replica: every foreign key is offset by the same
  * replica stride as its dimension. Two deliberate perturbations keep the
  * scale-up honest rather than degenerate:
  *
  *   - `documents.text` gets a per-replica suffix on every word for
  *     replicas > 0 — otherwise all 10 replicas are byte-identical and every
  *     dedup query faces a corpus that is 90% duplicates by construction
  *     (candidate pairs then grow quadratically from the DATA, telling us
  *     nothing about the PLAN). With disjoint per-replica vocabularies the
  *     intra-replica dup structure replicates and cross-replica collisions
  *     vanish — duplicate density stays constant as size grows, which is
  *     the regime the banding machinery is designed for.
  *   - `embeddings.embedding` gets a deterministic per-(replica, dim) jitter
  *     for replicas > 0, for the same reason: identical vectors across
  *     replicas would make every ANN/semantic-dedup neighborhood a 10-way
  *     tie instead of a 10×-larger index.
  *
  * region/nation stay single-copy: they are genuinely fixed-cardinality
  * dimensions (a 10× TPC-H world still has 25 nations).
  */
object GenSf1 {
  val Replicas = 10

  private def replicate(df: DataFrame, reps: Int)(offset: (DataFrame, Int) => DataFrame): DataFrame =
    (0 until reps).map(r => offset(df, r)).reduce(_ unionByName _)

  def main(args: Array[String]): Unit = {
    val Array(srcDir, outDir) = args.take(2)
    val replicas = args.drop(2).headOption.map(_.toInt).getOrElse(Replicas)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val spark = LocalSession.builder(cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def write(name: String, df: DataFrame): Unit = {
      df.write.mode("overwrite").parquet(s"$outDir/$name.parquet")
      println(s"[gensf1] wrote $name")
    }

    // fixed-cardinality dims: pass through
    write("region", Tables.t(spark, srcDir, "region"))
    write("nation", Tables.t(spark, srcDir, "nation"))

    // key strides, all well past the sf0.1 maxima (orderkey 149,999;
    // custkey 14,999; suppkey 999; partkey 19,999; event_id 99,999;
    // user_id 1,499; doc_id 4,999; vec_id 1,999)
    val OK = 1000000L; val CK = 100000L; val SK = 10000L; val PK = 100000L
    val EV = 1000000L; val UK = 10000L; val DK = 100000L; val VK = 100000L

    // c_name: overlay a FIXED-WIDTH 3-digit replica tag over the first three
    // digits of the 9-digit number in "Customer#%09d" for r > 0. Fixed width
    // matters: a single-digit overlay makes 2-digit replicas (r ≥ 10)
    // one char LONGER, so replica 1 and replicas 10-19 share 16-char
    // prefixes and co-block — the sf10 rehearsal measured
    // customers_fuzzy_match at 195 s purely from that fixture artifact.
    // With a zero-padded tag all names keep their length, the tag sits
    // INSIDE the 16-char block key (replicas never co-block, r ≤ 999), and
    // each replica reproduces sf0.1's ~100-name block layout exactly.
    write("customer", replicate(Tables.customer(spark, srcDir), replicas) { (df, r) =>
      val named = if (r == 0) df
      else df.withColumn("c_name", concat(
        substring(col("c_name"), 1, 9), format_string("%03d", lit(r)),
        substring(col("c_name"), 13, 1000)))
      named.withColumn("c_custkey", col("c_custkey") + lit(r * CK))
    })
    write("supplier", replicate(Tables.t(spark, srcDir, "supplier"), replicas) { (df, r) =>
      df.withColumn("s_suppkey", col("s_suppkey") + lit(r * SK))
    })
    write("part", replicate(Tables.t(spark, srcDir, "part"), replicas) { (df, r) =>
      df.withColumn("p_partkey", col("p_partkey") + lit(r * PK))
    })
    write("orders", replicate(Tables.orders(spark, srcDir), replicas) { (df, r) =>
      df.withColumn("o_orderkey", col("o_orderkey") + lit(r * OK))
        .withColumn("o_custkey", col("o_custkey") + lit(r * CK))
    })
    write("lineitem", replicate(Tables.lineitem(spark, srcDir), replicas) { (df, r) =>
      df.withColumn("l_orderkey", col("l_orderkey") + lit(r * OK))
        .withColumn("l_partkey", col("l_partkey") + lit(r * PK))
        .withColumn("l_suppkey", col("l_suppkey") + lit(r * SK))
    })
    write("events", replicate(Tables.events(spark, srcDir), replicas) { (df, r) =>
      df.withColumn("event_id", col("event_id") + lit(r * EV))
        .withColumn("user_id", col("user_id") + lit(r * UK))
    })
    write("documents", replicate(Tables.documents(spark, srcDir), replicas) { (df, r) =>
      val txt = if (r == 0) col("text")
      else regexp_replace(col("text"), "(\\S+)", s"$$1x$r")
      // n_chars from the REPLACED column, not the unresolved expression:
      // re-using `txt` after the text withColumn would re-resolve col("text")
      // against the already-suffixed text and apply the suffix twice, so
      // n_chars = length(text) + n_words·(1+len(r)) — breaking the
      // n_chars == length(text) invariant the documents queries rely on.
      df.withColumn("doc_id", col("doc_id") + lit(r * DK))
        .withColumn("text", txt)
        .withColumn("n_chars", length(col("text")))
    })
    write("embeddings", replicate(Tables.embeddings(spark, srcDir), replicas) { (df, r) =>
      val emb = if (r == 0) col("embedding")
      else transform(col("embedding"), (x, i) =>
        (x + (pmod(col("vec_id") * 31 + i * 7 + lit(r), lit(97)).cast("float") - lit(48.0f)) / lit(480.0f)))
      df.withColumn("vec_id", col("vec_id") + lit(r * VK))
        .withColumn("embedding", emb)
    })
    spark.stop()
  }
}
