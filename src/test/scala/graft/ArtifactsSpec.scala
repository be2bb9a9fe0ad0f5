package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import graft.operators.{Dedup, Similarity}
import graft.sources.{Artifacts, Pinned}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** `Artifacts.memo`: hits skip the build, a stamp change refits, a failed
  * build stores nothing, and builds lock per key only. The Spark cases check
  * the two memos with input-dependent stamps end to end: the IVF quantizer
  * refits when its embeddings are rewritten, and the shingle frame follows a
  * dir switch without leaking a pinned copy. */
class ArtifactsSpec extends SparkSpec {

  private val kinds = new AtomicInteger
  /** A kind no other case uses, so cases never share entries. */
  private def freshKind(): String = s"spec${kinds.incrementAndGet()}"

  test("a hit does not call build") {
    val kind = freshKind()
    val builds = new AtomicInteger
    assert(Artifacts.memo(kind, "k") { builds.incrementAndGet(); "v" } == "v")
    assert(Artifacts.memo(kind, "k") { builds.incrementAndGet(); "w" } == "v")
    assert(builds.get == 1)
  }

  test("a changed stamp rebuilds and replaces the entry") {
    val kind = freshKind()
    assert(Artifacts.memo(kind, "k", "s1")(1) == 1)
    assert(Artifacts.memo(kind, "k", "s1")(2) == 1)
    assert(Artifacts.memo(kind, "k", "s2")(3) == 3)
    assert(Artifacts.memo(kind, "k", "s2")(4) == 3)
    assert(Artifacts.memo(kind, "k", "s1")(5) == 5)
  }

  test("a build that throws leaves no entry, and the next call retries") {
    val kind = freshKind()
    intercept[IllegalStateException](
      Artifacts.memo[Int](kind, "k")(throw new IllegalStateException("fit failed")))
    assert(Artifacts.memo(kind, "k")(7) == 7)
    assert(Artifacts.memo(kind, "k")(8) == 7)
  }

  test("a releasable entry is released when replaced and rebuilt when no longer live") {
    val kind = freshKind()
    final class Held(val n: Int) extends Artifacts.Releasable {
      @volatile var live = true
      @volatile var released = false
      def release(): Unit = released = true
    }
    val a = Artifacts.memo(kind, "k", "s1")(new Held(1))
    val b = Artifacts.memo(kind, "k", "s2")(new Held(2))
    assert(a.released && !b.released)
    b.live = false
    val c = Artifacts.memo(kind, "k", "s2")(new Held(3))
    assert(c.n == 3 && b.released)
    assert(Artifacts.memo(kind, "k", "s2")(new Held(4)) eq c)
  }

  test("two threads on one key build once") {
    val kind = freshKind()
    val builds = new AtomicInteger
    val gate = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val calls = Seq.fill(2)(Future {
        gate.await()
        Artifacts.memo(kind, "k") { builds.incrementAndGet(); Thread.sleep(200); new Object }
      })
      gate.countDown()
      val got = Await.result(Future.sequence(calls), 30.seconds)
      assert(builds.get == 1)
      assert(got.head eq got(1))
    } finally pool.shutdownNow()
  }

  test("a build blocked on a latch for key A does not block key B") {
    val kind = freshKind()
    val started = new CountDownLatch(1)
    val unblock = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val a = Future(Artifacts.memo(kind, "A") { started.countDown(); unblock.await(); "a" })
      assert(started.await(30, TimeUnit.SECONDS))
      val b = Future(Artifacts.memo(kind, "B")("b"))
      assert(Await.result(b, 30.seconds) == "b")
      assert(!a.isCompleted)
      unblock.countDown()
      assert(Await.result(a, 30.seconds) == "a")
    } finally pool.shutdownNow()
  }

  test("rewriting a corpus's embeddings refits the IVF quantizer") {
    val tmp = Files.createTempDirectory("graft-artifacts")
    val copy = Files.createDirectories(tmp.resolve("copy"))
    val embeddings = copy.resolve("embeddings.parquet")
    Files.copy(Paths.get(s"$sf/embeddings.parquet"), embeddings)
    def centroids(dir: Path): Seq[(Int, Int, Double)] =
      Similarity.kmeansCentroidsFlat(spark, dir.toString).collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getDouble(2))).toSeq.sorted

    val before = centroids(copy)
    // keep the seed vectors (vec_id < k) so both fits start from the same
    // centroids; drop a third of the rest
    val fresh = tmp.resolve("fresh")
    spark.read.parquet(s"$sf/embeddings.parquet")
      .filter(col("vec_id") < Similarity.KMeansK || col("vec_id") % 3 =!= 1)
      .write.parquet(fresh.resolve("embeddings.parquet").toString)
    Files.delete(embeddings)
    Files.createDirectories(embeddings)
    Files.list(fresh.resolve("embeddings.parquet")).iterator().asScala
      .foreach(f => Files.copy(f, embeddings.resolve(f.getFileName)))

    val after = centroids(copy)
    assert(after != before)
    assert(after == centroids(fresh))
  }

  private def rows(df: DataFrame): Seq[(Long, Long)] =
    df.select(col("doc_id").cast("long"), col("base").cast("long")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted

  test("switching the shingle dir A → B → A serves each dir's rows and keeps one pinned frame") {
    val other = Files.createTempDirectory("graft-shingles").toString
    Tables.documents(spark, sf).filter(col("doc_id") % 2 === 0)
      .write.parquet(s"$other/documents.parquet")
    for (dir <- Seq(sf, other, sf))
      assert(rows(Dedup.docShingles(spark, dir)) == rows(Dedup.shinglesOf(Tables.documents(spark, dir))),
        s"shingles of $dir")
    val pinned = spark.sparkContext.getPersistentRDDs.values.count(r => Pinned.contains(r.id))
    assert(pinned == 1)
    assert(Jobs.during(spark)(Dedup.docShingles(spark, sf)).isEmpty)
  }

  test("no memo map outside Artifacts and Pinned") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root))
    val allowed = Set("Artifacts.scala", "Pinned.scala")
    val patterns = Seq("new java.util.concurrent.ConcurrentHashMap", "new ConcurrentHashMap",
      ".computeIfAbsent(", ".compute(")
    val offenders = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && !allowed(p.getFileName.toString))
      .flatMap { p =>
        val text = new String(Files.readAllBytes(p), "UTF-8")
        patterns.filter(text.contains).map(pat => s"$p: $pat")
      }.toSeq
    assert(offenders.isEmpty,
      s"memo machinery outside Artifacts (use Artifacts.memo): ${offenders.mkString("; ")}")
  }
}
