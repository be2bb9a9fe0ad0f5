package graft

import graft.operators._
import org.apache.spark.sql.functions._

class DecomposeSpec extends SparkSpec {
  test("entry returns decomposition rows on sf0.001") {
    val df = SparkEntry.entry(spark)
    assert(df.count() > 0)
    assert(df.columns.toSet ==
      Set("event_type", "t", "value", "trend", "seasonality", "residual"))
  }

  test("decomposition identity: value = trend + seasonality + residual (±2e-6)") {
    val bad = EventsOps.decompose(spark, sf)
      .filter(abs(col("value") - col("trend") - col("seasonality") - col("residual")) > 2e-6)
      .count()
    assert(bad == 0)
  }

  test("DFT localizes a pure sinusoid in the right bin") {
    import spark.implicits._
    val n = 128
    val freq = 4
    val df = (0 until n).map(t => (1L, t, math.sin(2 * math.Pi * freq * t / n)))
      .toDF("series_id", "t", "detr")
    val bins = spark.range(1, n / 2).select(col("id").cast("int").as("k"))
    val theta = lit(2.0 * math.Pi) * col("k") * col("t") / lit(n.toDouble)
    val top = df.crossJoin(bins)
      .groupBy("k")
      .agg(sqrt(pow(sum(col("detr") * cos(theta)), 2) + pow(sum(col("detr") * sin(theta)), 2)).as("amp"))
      .orderBy(desc("amp")).limit(1).collect()(0)
    assert(top.getInt(0) == freq)
  }

  test("top-K bins returns exactly K per series") {
    val counts = EventsOps.topBins(spark, sf).groupBy("event_type").count().collect()
    assert(counts.nonEmpty && counts.forall(_.getLong(1) == EventsOps.TopK))
  }
}

class GeneratorsSpec extends SparkSpec {
  test("z-scored series have mean ~0 and sample std ~1") {
    val stats = Generators.dataset(spark, "sine", 50, 128)
      .groupBy("series_id")
      .agg(avg("value").as("mu"), stddev_samp(col("value")).as("sd"))
      .agg(max(abs(col("mu"))).as("worst_mu"), max(abs(col("sd") - 1.0)).as("worst_sd"))
      .collect()(0)
    assert(stats.getDouble(0) < 1e-6, s"mean drift ${stats.getDouble(0)}")
    assert(stats.getDouble(1) < 1e-3, s"std drift ${stats.getDouble(1)}")
  }

  test("labeled generator labels are in 0..3 with all families present") {
    val labels = Generators.labeled(spark, 200, 16)
      .select("label").distinct().collect().map(_.getInt(0)).sorted
    assert(labels.sameElements(Array(0, 1, 2, 3)))
  }

  test("deterministic PRNG: same key+stream → same value, distinct streams differ") {
    import graft.functions.DetRand
    val r = spark.range(100)
      .select(DetRand.u01(col("id").cast("double"), 0).as("a"),
        DetRand.u01(col("id").cast("double"), 0).as("b"),
        DetRand.u01(col("id").cast("double"), 1).as("c"))
      .agg(sum(when(col("a") === col("b"), 0).otherwise(1)).as("mismatch"),
        sum(when(col("a") === col("c"), 1).otherwise(0)).as("collide"),
        avg("a").as("mean")).collect()(0)
    assert(r.getLong(0) == 0)
    assert(r.getLong(1) == 0)
    assert(math.abs(r.getDouble(2) - 0.5) < 0.1)
  }

  test("white noise is standard-normal-ish") {
    val m = Generators.whiteNoise(spark, 100, 256)
      .agg(avg("value").as("mu"), stddev_samp(col("value")).as("sd")).collect()(0)
    assert(math.abs(m.getDouble(0)) < 0.02)
    assert(math.abs(m.getDouble(1) - 1.0) < 0.02)
  }
}

class DiffusionSpec extends SparkSpec {
  test("schedule: alpha_cumprod strictly decreasing, prev is lagged with pad 1.0") {
    val rows = Diffusion.schedule(spark, 100, "cosine")
      .orderBy("step").select("ac", "ac_prev").collect()
    assert(rows(0).getDouble(1) == 1.0)
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(b.getDouble(0) < a.getDouble(0))
      assert(b.getDouble(1) == a.getDouble(0))
    }
  }

  test("q_sample then predict_start recovers x0 (P2 ∘ P3 = id)") {
    val bad = Diffusion.predictStart(spark)
      .filter(abs(col("x0_hat") - col("value")) > 1e-8).count()
    assert(bad == 0)
  }

  test("iterative sampler matches closed form at T=50") {
    val it = Diffusion.sampleIterative(spark, 10, 32, 50).withColumnRenamed("value", "vi")
    val cf = Diffusion.sampleClosedForm(spark, 10, 32, 50).withColumnRenamed("value", "vc")
    val worst = it.join(cf, Seq("series_id", "t"))
      .agg(max(abs(col("vi") - col("vc")))).collect()(0).getDouble(0)
    assert(worst < 1e-5, s"iterative vs closed form drift $worst")
  }

  test("LOCF imputation: observed rows keep their value") {
    val bad = Diffusion.maskImputeLocf(spark)
      .join(Generators.dataset(spark, "sine", 20, 64), Seq("series_id", "t"))
      .filter(col("observed") && abs(col("imputed") - col("value")) > 1e-9)
      .count()
    assert(bad == 0)
  }

  test("inpaint: observed cells pinned to the conditioning series, unobserved = closed form") {
    val inp = Diffusion.sampleInpaint(spark).withColumnRenamed("value", "vi")
    val y = Generators.dataset(spark, "sine", 20, 64).withColumnRenamed("value", "vy")
    val cf = Diffusion.sampleClosedForm(spark).withColumnRenamed("value", "vc")
    val joined = inp.join(y, Seq("series_id", "t")).join(cf, Seq("series_id", "t")).cache()
    assert(joined.filter(col("observed") && col("vi") =!= col("vy")).count() == 0)
    assert(joined.filter(!col("observed") && col("vi") =!= col("vc")).count() == 0)
    val nObs = joined.filter(col("observed")).count()
    assert(nObs > 0 && nObs < joined.count()) // mask is non-trivial both ways
    joined.unpersist()
  }

  test("guided sampling: w=0 reproduces the unconditional sample (force_uncond)") {
    val uncond = Diffusion.sampleCond(spark, guidanceW = 0.0).withColumnRenamed("value", "v0")
    val cf = Diffusion.sampleClosedForm(spark).withColumnRenamed("value", "vc")
    val worst = uncond.join(cf, Seq("series_id", "t"))
      .agg(max(abs(col("v0") - col("vc")))).collect()(0).getDouble(0)
    assert(worst <= 1e-6, s"force_uncond drift $worst")
  }

  test("guided sampling: guidance shifts every cell of a series by the same class drift") {
    val byLabel = Diffusion.sampleCond(spark, guidanceW = 2.0).withColumnRenamed("value", "vg")
      .join(Diffusion.sampleCond(spark, guidanceW = 0.0).withColumnRenamed("value", "v0")
          .drop("label"),
        Seq("series_id", "t"))
      .groupBy("label")
      .agg((max(col("vg") - col("v0")) - min(col("vg") - col("v0"))).as("spread"))
      .collect()
    assert(byLabel.nonEmpty)
    byLabel.foreach(r => assert(math.abs(r.getDouble(1)) < 3e-6))
  }

  test("cosine-schedule closed form differs from linear but shares the noise keying") {
    val cos = Diffusion.sampleClosedForm(spark, kind = "cosine").withColumnRenamed("value", "vc")
    val lin = Diffusion.sampleClosedForm(spark).withColumnRenamed("value", "vl")
    val j = cos.join(lin, Seq("series_id", "t")).cache()
    assert(j.count() == 20 * 64)
    assert(j.filter(col("vc") =!= col("vl")).count() > 0)
    j.unpersist()
  }

  test("U2: arbitrary beta expression — quadratic warmup hits the linear endpoints, differs between") {
    val T = Diffusion.T
    val rows = Diffusion.scheduleFrom(spark, T, Diffusion.quadraticBeta(T))
      .select("step", "beta").collect().sortBy(_.getInt(0)).map(_.getDouble(1))
    assert(rows.length == T)
    assert(math.abs(rows.head - Diffusion.BetaStart) < 1e-12)
    assert(math.abs(rows.last - Diffusion.BetaEnd) < 1e-12)
    // strictly increasing, and strictly below the linear ramp away from endpoints
    assert(rows.sliding(2).forall { case Array(a, b) => b > a })
    val mid = rows(T / 2)
    val linMid = Diffusion.BetaStart + (Diffusion.BetaEnd - Diffusion.BetaStart) * ((T / 2).toDouble / (T - 1))
    assert(mid < linMid)
  }
}

class MultivariateSpec extends SparkSpec {
  test("multivariate generator: d dims per series, dims are distinct streams") {
    val mv = Generators.multivariate(spark).cache()
    val dims = mv.select("dim_id").distinct().collect().map(_.getInt(0)).sorted
    assert(dims.sameElements(Array(0, 1, 2)))
    // distinct param streams: dim 0 and dim 1 of the same series differ
    val same = mv.filter(col("dim_id") === 0).withColumnRenamed("value", "v0")
      .join(mv.filter(col("dim_id") === 1).withColumnRenamed("value", "v1"),
        Seq("series_id", "t"))
      .filter(col("v0") === col("v1")).count()
    assert(same == 0)
    mv.unpersist()
  }

  test("dim decompose: identity holds per (series, dim)") {
    val bad = EventsOps.decomposeDim(spark)
      .filter(abs(col("value") - col("trend") - col("seasonality") - col("residual")) > 2e-6)
      .count()
    assert(bad == 0)
  }
}

class ReshapeSpec extends SparkSpec {
  test("patchify ∘ unpatchify = identity") {
    val original = Generators.dataset(spark, "mixed", 20, 64)
    val roundtrip = Reshape.roundtrip(spark)
    assert(roundtrip.count() == original.count())
    val diff = roundtrip.withColumnRenamed("value", "rt")
      .join(original, Seq("series_id", "t"))
      .filter(col("rt") =!= col("value")).count()
    assert(diff == 0)
  }
}

class DedupSpec extends SparkSpec {
  test("exact dedup: identical texts collapse to one canonical id") {
    import spark.implicits._
    // synthesize dups inline: 6 docs, 2 groups of identical text + 2 singletons
    val df = Seq(
      (1L, "a b c"), (2L, "a b c"), (3L, "a b c"),
      (4L, "x y z"), (5L, "x y z"), (6L, "unique text")
    ).toDF("doc_id", "text")
    val w = org.apache.spark.sql.expressions.Window.partitionBy(md5(col("text")))
    val out = df.select(col("doc_id"), min(col("doc_id")).over(w).as("canonical_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(out(2L) == 1L && out(3L) == 1L && out(5L) == 4L && out(6L) == 6L)
  }

  test("minhash produces 4 band keys per document") {
    val counts = Dedup.minhashBands(spark, sf).groupBy("doc_id").count()
      .agg(min("count"), max("count")).collect()(0)
    assert(counts.getLong(0) == 4 && counts.getLong(1) == 4)
  }

  test("jaccard pairs are within [0,1] and ordered doc_a < doc_b") {
    val rows = Dedup.ngramJaccardPairs(spark, sf).collect()
    rows.foreach { r =>
      assert(r.getLong(0) < r.getLong(1))
      val j = r.getDouble(2)
      assert(j >= Dedup.JaccardThreshold && j <= 1.0)
    }
  }

  test("simhash fingerprints fit the declared SimBits width") {
    val mm = Dedup.simhash(spark, sf).agg(min("simhash"), max("simhash")).collect()(0)
    assert(mm.getLong(0) >= 0 && mm.getLong(1) < (1L << Dedup.SimBits))
  }

  test("simhash blocking finds identical-text pairs and nothing beyond HammingMax") {
    import spark.implicits._
    // two byte-identical docs (hamming 0 — must surface through the blocks)
    // among unrelated ones; with the 60-bit fingerprint unrelated docs sit
    // near hamming 30 and must NOT appear
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"),
      (3L, "one two three four five six seven"),
      (4L, "red orange yellow green blue indigo violet")).toDF("doc_id", "text")
    // identical docs → identical token sets → identical fingerprints: assert
    // through the REAL pair path on a synthetic corpus written as documents
    val tmp = java.nio.file.Files.createTempDirectory("simhash_spec").toString
    docs.withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val pairs = Dedup.simhashPairs(spark, tmp).collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 2L)))
    assert(pairs.forall(_.getInt(2) <= Dedup.HammingMax))
  }

  test("duplicate clusters: edge endpoints share a cluster, cluster_id is the component min") {
    val clusters = Dedup.duplicateClusters(spark, sf).cache()
    val pairs = Dedup.minhashPairs(spark, sf)
      .filter(col("jaccard") >= Dedup.ClusterJaccard)
      .select("doc_a", "doc_b")
    // every edge is intra-cluster
    val ca = clusters.select(col("doc_id").as("doc_a"), col("cluster_id").as("cl_a"))
    val cb = clusters.select(col("doc_id").as("doc_b"), col("cluster_id").as("cl_b"))
    assert(pairs.join(ca, "doc_a").join(cb, "doc_b")
      .filter(col("cl_a") =!= col("cl_b")).count() == 0)
    // canonical id is a member, and the minimum member, of its own cluster
    val byCluster = clusters.groupBy("cluster_id")
      .agg(min("doc_id").as("mn"), count(lit(1)).as("n"))
    assert(byCluster.filter(col("cluster_id") =!= col("mn")).count() == 0)
    // cluster_size column agrees with the actual member count
    assert(clusters.join(byCluster, "cluster_id")
      .filter(col("cluster_size") =!= col("n")).count() == 0)
    clusters.unpersist()
  }

  test("band-bucket guard: a degenerate boilerplate bucket cannot go quadratic") {
    import spark.implicits._
    // 300 copies of the same boilerplate land every band in one 300-doc bucket
    // (C(300,2) = 44,850 candidate pairs without the guard); two genuine
    // near-dups live in small buckets and must still be found.
    val boiler = (0L until 300L).map(i => (i, "alpha beta gamma delta epsilon zeta eta theta"))
    val nearDup = Seq(
      (1000L, "one two three four five six seven eight nine ten"),
      (1001L, "one two three four five six seven eight nine eleven"))
    val docs = (boiler ++ nearDup).toDF("doc_id", "text")
    val pairs = Dedup.minhashPairsOf(Dedup.shinglesOf(docs)).collect()
    assert(pairs.length == 1) // only the near-dup pair; boilerplate suppressed
    assert(pairs(0).getLong(0) == 1000L && pairs(0).getLong(1) == 1001L)
  }
}

class SimilaritySpec extends SparkSpec {
  test("brute-force top-k: k neighbors per query, cosine within [-1,1], self excluded") {
    val df = Similarity.bruteForceTopK(spark, sf).cache()
    val perQ = df.groupBy("qid").count().agg(min("count"), max("count")).collect()(0)
    assert(perQ.getLong(0) == Similarity.TopK && perQ.getLong(1) == Similarity.TopK)
    assert(df.filter(col("cos") > 1.0001 || col("cos") < -1.0001).count() == 0)
    assert(df.filter(col("qid") === col("neighbor_id")).count() == 0)
    df.unpersist()
  }

  test("LSH buckets are 8-bit and LSH hits are a subset of brute-force candidates' buckets") {
    val b = Similarity.buckets(spark, sf).agg(min("bucket"), max("bucket")).collect()(0)
    assert(b.getLong(0) >= 0 && b.getLong(1) < 256)
  }

  test("LSH top-1 neighbor shares the query's bucket") {
    val buckets = Similarity.buckets(spark, sf)
    val top = Similarity.lshTopK(spark, sf).filter(col("rank") === 1)
    val joined = top.join(buckets.withColumnRenamed("vec_id", "neighbor_id")
      .withColumnRenamed("bucket", "nb"), "neighbor_id")
    assert(joined.filter(col("bucket") =!= col("nb")).count() == 0)
  }

  test("dimension stats cover every embedding dim with the full vector count") {
    val stats = Similarity.dimStats(spark, sf).cache()
    val nVecs = graft.Tables.embeddings(spark, sf).count()
    assert(stats.count() == Similarity.Dim)
    assert(stats.filter(col("n") =!= nVecs).count() == 0)
    assert(stats.filter(col("std_samp") <= 0.0).count() == 0)
    assert(stats.filter(col("min_x") > col("mean") || col("mean") > col("max_x")).count() == 0)
    stats.unpersist()
  }

  test("applied whitening yields mean ~0 and std ~1 per dimension") {
    val w = Similarity.whitenedCheck(spark, sf).collect()
    assert(w.length == Similarity.Dim)
    w.foreach { r =>
      // the stats are r6-rounded before whitening, so the residual mean is
      // bounded by rounding/std, not by float noise alone
      assert(math.abs(r.getAs[Double]("mean_w")) < 1e-5)
      assert(math.abs(r.getAs[Double]("std_w") - 1.0) < 1e-3)
    }
  }

  test("nprobe sweep recall is monotone non-decreasing in probe width") {
    val rows = Similarity.ivfRecallSweep(spark, sf)
      .collect().sortBy(_.getAs[Int]("nprobe")).map(_.getAs[Double]("recall"))
    assert(rows.length == Similarity.NProbe)
    assert(rows.sliding(2).forall { case Array(a, b) => b >= a })
  }

  test("widening the probe set never hurts: multiprobe/nprobe recall >= single-bucket recall") {
    def total(df: org.apache.spark.sql.DataFrame): Double =
      df.filter(col("qid") === -1).collect()(0).getAs[Double]("recall")
    // multiprobe candidates are a superset of the single bucket's (and
    // radius 2 a superset of radius 1), nprobe cells a superset of the
    // nearest cell's — so pooled recall is monotone at every widening
    val r1 = total(Similarity.lshMultiprobeRecall(spark, sf))
    assert(r1 >= total(Similarity.lshRecall(spark, sf)))
    assert(total(Similarity.lshMultiprobe2Recall(spark, sf)) >= r1)
    assert(total(Similarity.ivfNprobeRecall(spark, sf)) >= total(Similarity.ivfRecall(spark, sf)))
  }

  test("recall@k: per-qid rows denominate by TopK and the grand row is their pooled average") {
    val r = Similarity.lshRecall(spark, sf).cache()
    val perQ = r.filter(col("qid") >= 0)
    assert(perQ.filter(col("n") =!= Similarity.TopK).count() == 0)
    assert(r.filter(col("recall") < 0.0 || col("recall") > 1.0).count() == 0)
    assert(r.filter(col("n_matched") > col("n")).count() == 0)
    val Array(totMatched, totN) = perQ.agg(sum("n_matched"), sum("n")).collect()(0)
      .toSeq.map(_.asInstanceOf[Long]).toArray
    val grand = r.filter(col("qid") === -1).collect()
    assert(grand.length == 1)
    assert(math.abs(grand.head.getAs[Double]("recall") - totMatched.toDouble / totN) < 1e-6)
    r.unpersist()
  }

  test("MMR greedy breaks ties by (score desc, rel desc, vid asc), with -0.0 equal to 0.0") {
    import Similarity.{MmrCandidate, MmrPick}
    // 2-d vectors whose cosines are exact: p·(3,4) = 0.6, p·(-4,3) = -0.8,
    // (3,4)·(-4,3) = 0, (-1,0)·(-4,3) = 0.8, (-1,0)·(3,4) = -0.6
    val p = Array(1.0, 0.0)
    def c(vid: Long, rel: Double, v: Array[Double]) = MmrCandidate(0L, vid, rel, v)
    val shortlist = Vector(
      c(4, 0.0, Array(-1.0, 0.0)), c(7, 0.85, Array(3.0, 4.0)), c(8, 0.9, p),
      c(1, 0.25, Array(-4.0, 3.0)), c(3, -0.0, Array(-1.0, 0.0)), c(2, 0.9, p))
    val expected = Seq(
      // 2 and 8 tie on score 0.7·0.9 and on rel: the lower vid first
      MmrPick(0L, 1, 2, 0.9, 0.0, 0.63),
      // 7 (0.7·0.85 − 0.3·0.6) and 1 (0.7·0.25 − 0.3·(−0.8)) both score 0.415:
      // the higher rel wins over the lower vid
      MmrPick(0L, 2, 7, 0.85, 0.6, 0.415),
      MmrPick(0L, 3, 8, 0.9, 1.0, 0.33),
      // 3 (rel -0.0) and 4 (rel 0.0) share a vector, so both score 0.18 and
      // their rels compare equal: the lower vid, 3, comes first
      MmrPick(0L, 4, 3, -0.0, -0.6, 0.18),
      // 4 now has maxsim 1.0 (score -0.3); 1 has maxsim 0.8 (score -0.065)
      MmrPick(0L, 5, 1, 0.25, 0.8, -0.065))
    val picks = Similarity.mmrGreedy(shortlist)
    assert(picks == expected)
    assert(picks.map(_.neighbor_id) == Seq(2L, 7L, 8L, 3L, 1L))
  }
}

class AggregateSpec extends SparkSpec {
  test("rollup: grand total equals the sum of region subtotals") {
    val rows = Relational.revenueRollup(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2))).toSeq
    val grand = rows.filter(r => r._1 == "ALL" && r._2 == "ALL")
    val regionSub = rows.filter(r => r._1 != "ALL" && r._2 == "ALL")
    assert(grand.size == 1)
    assert(math.abs(grand.head._3 - regionSub.map(_._3).sum) < 1e-4)
  }

  test("salted two-phase aggregation equals the direct one-phase aggregate") {
    import org.apache.spark.sql.functions._
    val direct = graft.Tables.events(spark, sf).groupBy("event_type")
      .agg(count(lit(1)).as("n_direct"))
    val bad = EventsOps.saltedAgg(spark, sf).join(direct, "event_type")
      .filter(col("n_events") =!= col("n_direct")).count()
    assert(bad == 0)
  }

  test("skew-salted join shuffles on the salted key, not broadcast, and matches the plain join") {
    import org.apache.spark.sql.functions._
    // plan shape: the shuffle_hash hint must hold (broadcast would make the
    // salt decorative at fixture scale), and the join key must carry the salt
    val plan = EventsOps.saltedJoin(spark, sf).queryExecution.executedPlan.toString
    assert(plan.contains("ShuffledHashJoin"), s"expected shuffled hash join:\n$plan")
    assert(!plan.contains("BroadcastHashJoin"), s"profile side must not broadcast:\n$plan")
    assert(plan.contains("salt"), s"join key must include the salt:\n$plan")
    // semantics: salting is pure execution layout — results equal the unsalted join
    val ev = graft.Tables.events(spark, sf).select("user_id", "event_type")
    val profile = ev.groupBy("user_id").agg(count(lit(1)).as("user_n"))
    val direct = ev.join(profile, "user_id").groupBy("event_type")
      .agg(count(lit(1)).as("n_direct"), sum(col("user_n")).as("sum_direct"))
    val bad = EventsOps.saltedJoin(spark, sf).join(direct, "event_type")
      .filter(col("n_events") =!= col("n_direct") || col("sum_user_n") =!= col("sum_direct"))
      .count()
    assert(bad == 0)
  }

  test("count-min-sketch type counts are exact-in-tolerance at fixture scale") {
    val rows = EventsOps.typeCountsCms(spark, sf).collect()
    assert(rows.length == 5)
    assert(rows.forall(_.getBoolean(2)), rows.mkString(","))
  }

  test("Observation collects audit metrics during the main action, no second scan") {
    import org.apache.spark.sql.functions._
    // the complement of events_quality_report's dedicated audit pass: observe()
    // piggybacks the metrics on whatever action the job already runs, so at
    // 100 TB the audit costs zero extra scans — the accumulator-backed twin of
    // the quality checks, asserted here against direct recomputation
    val obs = org.apache.spark.sql.Observation("audit")
    val ev = graft.Tables.events(spark, sf)
    val n = ev.observe(obs, count(lit(1)).as("n_rows"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("n_purchase"))
      .count()
    val m = obs.get
    assert(m("n_rows") == n)
    assert(m("n_purchase") == ev.filter(col("event_type") === "purchase").count())
  }

  test("per-key quantiles are monotone") {
    import org.apache.spark.sql.functions._
    val bad = EventsOps.valueQuantiles(spark, sf)
      .filter(col("q25") > col("q50") || col("q50") > col("q75") || col("q75") > col("q99"))
      .count()
    assert(bad == 0)
  }

  test("funnel stages are ordered and monotonically shrinking") {
    import org.apache.spark.sql.functions._
    val f = EventsOps.funnel(spark, sf).cache()
    // stage timestamps are ordered where present
    assert(f.filter(col("t_click") < col("t_signup")).count() == 0)
    assert(f.filter(col("t_purchase") < col("t_click")).count() == 0)
    // a later stage implies the earlier one
    assert(f.filter(col("t_purchase").isNotNull && col("t_click").isNull).count() == 0)
    // counts shrink down the funnel
    val Array(nS, nC, nP) = f.agg(count("t_signup"), count("t_click"), count("t_purchase"))
      .collect()(0).toSeq.map(_.asInstanceOf[Long]).toArray
    assert(nS >= nC && nC >= nP && nS > 0)
    f.unpersist()
  }

  test("rolling anomaly: warm-up rows are unscored and flags are rare") {
    import org.apache.spark.sql.functions._
    val a = EventsOps.rollingAnomaly(spark, sf).cache()
    val n = a.count()
    // exactly AnomalyMinN unscored warm-up rows per series
    val nTypes = a.select("event_type").distinct().count()
    assert(a.filter(col("z").isNull).count() == nTypes * EventsOps.AnomalyMinN)
    // a 3-sigma flag should be rare — under 5% of rows (the 16-sample
    // trailing std is noisy, so the rate sits well above the Gaussian 0.27%)
    assert(a.filter(col("is_anomaly")).count() < n / 20)
    // null z never flags
    assert(a.filter(col("z").isNull && col("is_anomaly")).count() == 0)
    a.unpersist()
  }

  test("stratified sample: audit counts equal the sampled row set, rates land near target") {
    import org.apache.spark.sql.functions._
    val audit = EventsOps.stratifiedSampleAudit(spark, sf).cache()
    val actual = EventsOps.stratifiedSample(spark, sf)
      .groupBy("event_type").agg(count(lit(1)).as("n_actual"))
    assert(audit.join(actual, "event_type")
      .filter(col("n_sampled") =!= col("n_actual")).count() == 0)
    assert(audit.filter(abs(col("achieved_rate") - col("target_rate")) > 0.15).count() == 0)
    audit.unpersist()
  }

  test("scalable rank-based quantiles equal the exact percentile form") {
    import org.apache.spark.sql.functions._
    val exact = EventsOps.valueQuantiles(spark, sf)
    val scalable = EventsOps.valueQuantilesScalable(spark, sf)
      .withColumnRenamed("q25", "s25").withColumnRenamed("q50", "s50")
      .withColumnRenamed("q75", "s75").withColumnRenamed("q99", "s99")
      .withColumnRenamed("n", "sn")
    val j = exact.join(scalable, "event_type").cache()
    assert(j.count() == exact.count())
    val bad = j.filter(
      abs(col("q25") - col("s25")) > 1e-9 || abs(col("q50") - col("s50")) > 1e-9 ||
      abs(col("q75") - col("s75")) > 1e-9 || abs(col("q99") - col("s99")) > 1e-9 ||
      col("n") =!= col("sn")).count()
    assert(bad == 0)
    j.unpersist()
  }
}

class MultimodalSpec extends SparkSpec {
  test("media feature extraction is deterministic and shuffle-free on payloads") {
    val a = Multimodal.extractFeatures(spark).collect().sortBy(_.getLong(0))
    val b = Multimodal.extractFeatures(spark).collect().sortBy(_.getLong(0))
    assert(a.length == 64)
    assert(a.zip(b).forall { case (x, y) => x == y })
  }

  test("frame sampling yields strided frames for video rows only") {
    val frames = Multimodal.frameSample(spark).collect()
    assert(frames.nonEmpty)
    assert(frames.forall(_.getLong(0) % 3 == 2)) // only video ids
    assert(frames.forall(_.getInt(1) % 4 == 0))  // stride 4
  }

  test("ImageIoDecoder runs a real PNG codec and recovers the exact LCG pixels") {
    // the codec round-trip is lossless, so the pixel-domain stats from the
    // REAL javax.imageio decode must equal the byte-domain stats computed
    // straight off the generator stream for the same (id, length)
    val real = Multimodal.pngFeatures(spark).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(real.size == Multimodal.PngN)
    val n = Multimodal.PngW * Multimodal.PngH
    (0L until Multimodal.PngN).foreach { id =>
      var x = (id * 40503 + 12345) % 2147483648L
      var sum = 0L; var mx = 0; var ck = 0L
      var i = 0
      while (i < n) {
        x = (x * 69069 + 12345) % 2147483648L
        val b = ((x >>> 8) & 255L).toInt
        sum += b; if (b > mx) mx = b; ck += (i + 1).toLong * b
        i += 1
      }
      val r = real(id)
      assert(r.getInt(2) == n)
      assert(math.abs(r.getDouble(3) - sum.toDouble / n) < 1e-12)
      assert(r.getInt(4) == mx)
      assert(r.getLong(5) == ck)
    }
  }

  test("WavDecoder runs a real WAV codec and recovers the exact LCG samples") {
    // 8-bit unsigned PCM is lossless through javax.sound.sampled, so the
    // decoded sample stats must equal the generator-stream stats per clip
    val real = Multimodal.wavFeatures(spark).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(real.size == Multimodal.WavN)
    val n = Multimodal.WavSamples
    (0L until Multimodal.WavN).foreach { id =>
      var x = (id * 40503 + 12345) % 2147483648L
      var sum = 0L; var mx = 0; var ck = 0L
      var i = 0
      while (i < n) {
        x = (x * 69069 + 12345) % 2147483648L
        val b = ((x >>> 8) & 255L).toInt
        sum += b; if (b > mx) mx = b; ck += (i + 1).toLong * b
        i += 1
      }
      val r = real(id)
      assert(r.getInt(2) == n)
      assert(math.abs(r.getDouble(3) - sum.toDouble / n) < 1e-12)
      assert(r.getInt(4) == mx)
      assert(r.getLong(5) == ck)
    }
  }

  test("GIF container round-trip recovers exact per-frame LCG pixels") {
    val got = Multimodal.gifFrameStats(spark).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r).toMap
    assert(got.size == Multimodal.GifN * Multimodal.GifFrames)
    val perFrame = Multimodal.GifW * Multimodal.GifH
    (0L until Multimodal.GifN).foreach { id =>
      var x = (id * 40503 + 12345) % 2147483648L
      (0 until Multimodal.GifFrames).foreach { f =>
        var sum = 0L; var mx = 0; var ck = 0L
        var j = 0
        while (j < perFrame) {
          x = (x * 69069 + 12345) % 2147483648L
          val b = ((x >>> 8) & 255L).toInt
          sum += b; if (b > mx) mx = b; ck += (j + 1).toLong * b
          j += 1
        }
        val r = got((id, f))
        assert(r.getInt(2) == perFrame)
        assert(r.getInt(4) == mx)
        assert(r.getLong(5) == ck, s"clip $id frame $f checksum")
      }
    }
  }

  test("WavDecoder fails loudly on non-audio payloads") {
    val ex = intercept[org.apache.spark.SparkException] {
      import spark.implicits._
      Multimodal.mediaTable(spark, 4).as[Multimodal.MediaRow]
        .mapPartitions(_.map(Multimodal.WavDecoder.decode)).toDF().collect()
    }
    assert(ex.getMessage != null)
  }

  test("perceptual-hash dedup recovers exactly the planted near-dup image pairs") {
    // fixture: ids >= PhashBase are perturbed re-posts of id - PhashBase
    // (every 97th pixel inverted pre-encode), so the expected pair set is
    // exactly {(b, b + PhashBase)}: planted pairs keep Hamming ≤ PhashHamMax
    // while independent LCG images center at 32 of 64 bits
    val got = Multimodal.phashDedup(spark).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val expected = (0L until Multimodal.PhashBase).map(b => (b, b + Multimodal.PhashBase)).toSet
    assert(got.map(t => (t._1, t._2)).toSet == expected,
      s"pairs: ${got.sortBy(_._1).mkString(", ")}")
    assert(got.forall(_._3 <= Multimodal.PhashHamMax))
    // candidates come from a band-key equi-join, never a cartesian pass
    val plan = Multimodal.phashDedup(spark).queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"))
  }

  test("both MediaDecoder implementations run through the same pipeline shape") {
    val byByte = Multimodal.extractFeatures(spark, 16, Multimodal.ByteStatsDecoder)
    assert(byByte.count() == 16)
    // ImageIoDecoder fails LOUDLY on non-image payloads instead of degrading
    val ex = intercept[org.apache.spark.SparkException] {
      Multimodal.extractFeatures(spark, 4, Multimodal.ImageIoDecoder).collect()
    }
    assert(ex.getMessage != null)
  }
}

class BucketedSpec extends SparkSpec {
  test("bucketed join is exchange-free and matches the direct join") {
    import org.apache.spark.sql.functions._
    val agg = graft.sources.Bucketed.bucketedJoinAgg(spark, sf).cache()
    // the join over the two bucketed tables plans with NO shuffle exchange.
    // Broadcast joins are shuffle-free regardless of bucketing, so disable
    // autoBroadcast while inspecting the plan: the assertion only proves the
    // bucket layout works if the planner is forced onto the SortMergeJoin
    // path (at sf0.001 both sides are far below the 10MB broadcast threshold).
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val plan =
      try {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        graft.sources.Bucketed.bucketedJoin(spark)
          .queryExecution.executedPlan.toString
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
    assert(plan.contains("SortMergeJoin"), s"expected bucketed SMJ path:\n$plan")
    assert(!plan.contains("Exchange hashpartitioning"), s"unexpected shuffle:\n$plan")
    // and the result matches the straight (shuffling) computation
    val ev = graft.Tables.events(spark, sf)
    val direct = ev.groupBy("user_id", "event_type").agg(count(lit(1)).as("n"))
      .groupBy("event_type").agg(count(lit(1)).as("n_direct"))
    val bad = agg.join(direct, "event_type")
      .filter(col("n_user_types") =!= col("n_direct")).count()
    assert(bad == 0)
    agg.unpersist()
  }
}

class TextSpec extends SparkSpec {
  test("fingerprint digests stay in the 31-bit combine range and are deterministic") {
    val a = TextOps.fingerprint(spark, sf).collect().sortBy(_.getLong(0))
    assert(a.nonEmpty)
    a.foreach { r =>
      val h = r.getAs[Long]("min_shingle_hash")
      assert(h >= 0L && h < 2147483648L)
      assert(r.getAs[String]("fingerprint").length == 32)
    }
    val b = TextOps.fingerprint(spark, sf).collect().sortBy(_.getLong(0))
    assert(a.zip(b).forall { case (x, y) => x == y })
  }

  test("curation composes its filters: every kept doc passes all four gates") {
    val c = Curation.curated(spark, sf).cache()
    assert(c.filter(col("quality_score") < Curation.QualityMin).count() == 0)
    // language gate: every kept doc_id has matches_tag in the langid output
    val lg = TextOps.langId(spark, sf).select("doc_id", "matches_tag")
    assert(c.join(lg, "doc_id").filter(!col("matches_tag")).count() == 0)
    // demotion gate: no kept doc is the larger side of a qualifying pair
    val demoted = Dedup.minhashPairs(spark, sf)
      .filter(col("jaccard") >= Dedup.ClusterJaccard)
      .select(col("doc_b").as("doc_id"))
    assert(c.join(demoted, "doc_id").count() == 0)
    c.unpersist()
  }

  test("sequence packing: batches respect the budget up to one straddling doc") {
    val p = TextOps.seqPack(spark, sf).cache()
    // token mass is preserved
    val total = p.agg(sum("n_tokens")).collect()(0).getLong(0)
    val perBatch = p.groupBy("source", "batch_id").agg(
      sum("n_tokens").as("batch_tokens"),
      max(struct(col("doc_id"), col("n_tokens"))).as("last"))
    assert(perBatch.agg(sum("batch_tokens")).collect()(0).getLong(0) == total)
    // greedy-with-overflow invariant: a batch minus its LAST doc fits the
    // budget (only the straddling doc may overflow)
    val over = perBatch
      .filter(col("batch_tokens") - col("last.n_tokens") >= TextOps.PackBudget)
      .count()
    assert(over == 0)
    // batch ids start at 0 per source and are dense
    val ids = p.groupBy("source").agg(min("batch_id").as("mn"), max("batch_id").as("mx"),
      countDistinct("batch_id").as("nd"))
    assert(ids.filter(col("mn") =!= 0 || col("nd") =!= col("mx") + 1).count() == 0)
    p.unpersist()
  }

  test("vocab sketch over the deduped (source, word) table equals the single-agg distinct form") {
    // the r12 rewrite pre-aggregates word occurrences before the HLL/exact
    // rungs; HLL insertion is idempotent, so sketching each distinct word
    // once must be BIT-identical to sketching every occurrence
    import graft.operators.EventsOps.{HllRsd, HllTolPct}
    val got = TextOps.vocabSketch(spark, sf).collect()
      .map(_.toSeq).sortBy(_.head.toString)
    val naive = Tables.documents(spark, sf)
      .select(col("source"), explode(split(col("text"), "\\s+")).as("word"))
      .groupBy("source")
      .agg(approx_count_distinct(col("word"), HllRsd).as("approx"),
        countDistinct(col("word")).as("n_words_exact"),
        count(lit(1)).as("n_tokens"))
      .select(col("source"), col("n_words_exact"), col("n_tokens"),
        (abs(col("approx") - col("n_words_exact")).cast("double") * 100.0 /
          col("n_words_exact").cast("double") <= HllTolPct).as("hll_within_tol"))
      .collect().map(_.toSeq).sortBy(_.head.toString)
    assert(got.length == naive.length)
    assert(got.zip(naive).forall { case (a, b) => a == b })
  }

  test("tf-idf: at most top-k rows per doc, ranked by non-increasing score") {
    val t = TextOps.tfidfTop(spark, sf).cache()
    val perDoc = t.groupBy("doc_id").count()
    assert(perDoc.filter(col("count") > TextOps.TfIdfTopK).count() == 0)
    assert(t.filter(col("tfidf") < 0.0).count() == 0)
    // within a doc, rank order matches score order
    val w = org.apache.spark.sql.expressions.Window.partitionBy("doc_id").orderBy("rank")
    val bad = t.withColumn("prev", lag(col("tfidf"), 1).over(w))
      .filter(col("prev").isNotNull && col("prev") < col("tfidf")).count()
    assert(bad == 0)
    t.unpersist()
  }
}

class PqSpec extends SparkSpec {
  import graft.operators.PqOps

  test("PQ encode: M valid codes per vector, equal to a driver-side argmin replay") {
    val cb = PqOps.codebooksFlat(spark, sf).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getDouble(3)))
      .groupBy(t => (t._1, t._2))
      .map { case ((m, c), rows) => (m, c, rows.sortBy(_._3).map(_._4)) }
      .toSeq.sortBy(t => (t._1, t._2))
    val codes = PqOps.codes(spark, sf)
    val nVecs = graft.Tables.embeddings(spark, sf).count()
    assert(codes.count() == nVecs * PqOps.M)

    // driver-side replay of the fused kernel on a sample
    val sample = graft.Tables.embeddings(spark, sf)
      .filter(col("vec_id") < 40)
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
    val got = codes.filter(col("vec_id") < 40).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getInt(2)).toMap
    for ((vid, v) <- sample; m <- 0 until PqOps.M) {
      val best = cb.filter(_._1 == m).map { case (_, c, w) =>
        val d = (0 until PqOps.SubDim).map { j =>
          val t = v(m * PqOps.SubDim + j) - w(j); t * t
        }.sum
        (math.floor(d * 1e6 + 0.5) / 1e6, c)
      }.min
      assert(got((vid, m)) == best._2, s"vec $vid subspace $m")
    }
  }

  test("ADC top-k: k ascending-distance neighbors per query, self excluded, recall consistent") {
    val tk = PqOps.adcTopK(spark, sf).cache()
    val perQ = tk.groupBy("qid").count().agg(min("count"), max("count")).collect()(0)
    assert(perQ.getLong(0) == PqOps.TopK && perQ.getLong(1) == PqOps.TopK)
    assert(tk.filter(col("qid") === col("neighbor_id")).count() == 0)
    // within each qid the rank order follows ascending adist
    val bad = tk.withColumn("prev",
        lag("adist", 1).over(org.apache.spark.sql.expressions.Window
          .partitionBy("qid").orderBy("rank")))
      .filter(col("prev").isNotNull && col("prev") > col("adist")).count()
    assert(bad == 0)
    tk.unpersist()

    val r = PqOps.adcRecall(spark, sf).cache()
    val grand = r.filter(col("qid") === -1).collect()
    assert(grand.length == 1)
    val rec = grand.head.getAs[Double]("recall")
    assert(rec > 0.0 && rec <= 1.0)
    assert(r.filter(col("qid") >= 0).filter(col("n") =!= PqOps.TopK).count() == 0)
    r.unpersist()
  }

  test("PQ encode stays inside WholeStageCodegen (no Janino-overflow fallback)") {
    val plan = PqOps.codes(spark, sf).queryExecution.executedPlan
    val wscg = Codegen.stages(plan)
    // the encode Generate must sit INSIDE a codegen stage, and that stage
    // must actually compile
    assert(wscg.exists(_.exists(_.isInstanceOf[org.apache.spark.sql.execution.GenerateExec])),
      plan.toString.take(2000))
    Codegen.compile(wscg)
  }
}

class IvfPqSpec extends SparkSpec {
  import graft.operators.PqOps

  test("every IVF-PQ neighbor lies in one of its query's probed cells") {
    // NOTE recall is deliberately NOT asserted monotone vs the full-scan ADC
    // pass: pruning cells removes ADC false-positives too, so the pruned
    // recall can exceed the full-scan one (observed at sf0.001: 0.277 vs
    // 0.273). The structural invariant is cell membership.
    val cells = PqOps.corpusCells(spark, sf).withColumnRenamed("vec_id", "neighbor_id")
    val probed = PqOps.probedCells(spark, sf)
    val escaped = PqOps.ivfPqTopK(spark, sf)
      .join(cells, "neighbor_id")
      .join(probed.withColumnRenamed("cell", "probed_cell"),
        Seq("qid"), "left")
      .groupBy("qid", "neighbor_id", "cell")
      .agg(max(when(col("cell") === col("probed_cell"), 1).otherwise(0)).as("in_probed"))
      .filter(col("in_probed") === 0)
    assert(escaped.count() == 0)
  }

  test("IVF-PQ top-k ranks ascending within each query and excludes self") {
    val tk = PqOps.ivfPqTopK(spark, sf).cache()
    assert(tk.filter(col("qid") === col("neighbor_id")).count() == 0)
    val bad = tk.withColumn("prev",
        lag("adist", 1).over(org.apache.spark.sql.expressions.Window
          .partitionBy("qid").orderBy("rank")))
      .filter(col("prev").isNotNull && col("prev") > col("adist")).count()
    assert(bad == 0)
    tk.unpersist()
  }
}

class BloomDecontamSpec extends SparkSpec {
  import graft.operators.CorpusQc

  test("bloom decontam ≡ exact decontam row-for-row") {
    val exact = CorpusQc.decontam(spark, sf)
    val bloom = CorpusQc.decontamBloom(spark, sf)
    assert(exact.exceptAll(bloom).count() == 0)
    assert(bloom.exceptAll(exact).count() == 0)
  }

  test("the bloom prefilter is actually planned (might_contain before the confirm join)") {
    val plan = CorpusQc.decontamBloom(spark, sf).queryExecution.executedPlan.toString
    assert(plan.contains("might_contain"), s"no bloom prefilter in plan:\n$plan")
  }
}

class SemanticDedupSpec extends SparkSpec {
  import graft.operators.Similarity

  test("semantic dedup: keeper precedes its dropped vector in the cell ordering") {
    val sd = Similarity.semanticDedup(spark, sf).cache()
    // keeper of a dropped vector must (a) differ from it, (b) share its cell,
    // (c) sort strictly earlier on (cdist, vec_id) — the survivor is the one
    // nearer its centroid
    val dropped = sd.filter(!col("keep"))
      .select(col("vec_id").as("did"), col("cell").as("dcell"),
        col("cdist").as("ddist"), col("keeper"))
    val bad = dropped.join(sd.select(col("vec_id").as("keeper"),
        col("cell").as("kcell"), col("cdist").as("kdist")), "keeper")
      .filter(col("keeper") === col("did") || col("kcell") =!= col("dcell") ||
        col("kdist") > col("ddist") ||
        (col("kdist") === col("ddist") && col("keeper") >= col("did")))
    assert(bad.count() == 0)
    // kept vectors point at themselves with an empty neighborhood flag count
    assert(sd.filter(col("keep") && (col("keeper") =!= col("vec_id"))).count() == 0)
    sd.unpersist()
  }
}

class MipsSpec extends SparkSpec {
  import graft.operators.Similarity

  test("MIPS→NNS reduction: augmented-L2 ranking equals dot-product ranking") {
    import org.apache.spark.sql.expressions.Window
    // corpus vectors gain dimension sqrt(M² − ‖x‖²), queries gain 0; then
    // ‖q̃ − x̃‖² = ‖q‖² + M² − 2·q·x is monotone DECREASING in q·x, so the
    // augmented L2 top-k must equal the dot-product top-k (Shrivastava & Li
    // 2014). Proven here on the real corpus, not asserted.
    val e = graft.Tables.embeddings(spark, sf)
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
    val dot = (a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =>
      aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)
    val withNorm = e.withColumn("sq", dot(col("v"), col("v")))
    val m2 = withNorm.agg(max(col("sq"))).collect().head.getDouble(0)
    val aug = withNorm.withColumn("va",
      concat(col("v"), array(sqrt(lit(m2) - col("sq")))))
    val q = aug.filter(col("vec_id") < 50)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val pairs = aug.crossJoin(broadcast(q)).filter(col("vec_id") =!= col("qid"))
      // query augmentation dim is 0, so the augmented L2 only needs the
      // corpus-side extra coordinate: ‖q−x‖² + (m2 − ‖x‖²)
      .withColumn("d_aug",
        aggregate(zip_with(col("qv"), col("v"), (x, y) => (x - y) * (x - y)),
          lit(0.0), (acc, x) => acc + x) + (lit(m2) - col("sq")))
      .withColumn("dotpx", dot(col("qv"), col("v")))
    val byDot = pairs.withColumn("rk", row_number().over(
        Window.partitionBy("qid").orderBy(desc("dotpx"), asc("vec_id"))))
      .filter(col("rk") <= 5).select("qid", "vec_id")
    val byAug = pairs.withColumn("rk", row_number().over(
        Window.partitionBy("qid").orderBy(asc("d_aug"), asc("vec_id"))))
      .filter(col("rk") <= 5).select("qid", "vec_id")
    assert(byDot.exceptAll(byAug).count() == 0)
    assert(byAug.exceptAll(byDot).count() == 0)
  }
}
