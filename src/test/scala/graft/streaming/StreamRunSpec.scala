package graft.streaming

import java.io.File
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import graft.SparkSpec
import org.apache.commons.io.FileUtils
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, FSDataOutputStream, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.graftbridge.ShutdownDeletes
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** A raw local file system under a scheme of its own that records the
  * creates and mkdirs reaching it: the proof that a non-`file` path takes
  * the inherited Hadoop path of [[LocalCheckpointFileManager]]. */
class RecordingLocalFs extends RawLocalFileSystem {
  override def getUri: URI = URI.create(s"${RecordingLocalFs.Scheme}:///")
  override def getScheme: String = RecordingLocalFs.Scheme
  override def create(f: Path, overwrite: Boolean, bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable): FSDataOutputStream = {
    RecordingLocalFs.calls.add(s"create ${f.getName}")
    super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    RecordingLocalFs.calls.add(s"mkdirs ${f.getName}")
    super.mkdirs(f, permission)
  }
}

object RecordingLocalFs {
  val Scheme = "graftrecording"
  val calls = new ConcurrentLinkedQueue[String]()
}

/** What a graft streaming run leaves behind in the caller's session and on
  * disk, and the contract of its checkpoint manager. */
class StreamRunSpec extends SparkSpec {

  private val widthKey = "spark.sql.shuffle.partitions"
  private val runKeys = StreamingOps.RunConfs.map(_._1)

  /** The caller's explicit setting of each key, None when unset. */
  private def explicit(keys: Seq[String]): Seq[Option[String]] = {
    val set = spark.conf.getAll
    keys.map(set.get)
  }

  test("a streaming run leaves unset keys unset and the caller's width as it was") {
    assert(spark.conf.getAll.contains(widthKey))
    val before = explicit(widthKey +: runKeys)
    assert(before.tail.forall(_.isEmpty))
    assert(StreamingOps.streamTumbling(spark, sf).count() > 0)
    assert(explicit(widthKey +: runKeys) == before)
  }

  test("a width the caller never set is unset again, not pinned to its default") {
    val callerWidth = spark.conf.get(widthKey)
    spark.conf.unset(widthKey)
    try {
      StreamingOps.withStreamWidth(spark, s"$sf/events.parquet")(())
      assert(explicit(Seq(widthKey)) == Seq(None))
    } finally spark.conf.set(widthKey, callerWidth)
  }

  test("inside a run the clone's constants are set; a value the caller set wins and survives") {
    val (isolation, manager) = (runKeys(0), runKeys(1))
    val callerManager =
      "org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager"
    spark.conf.set(manager, callerManager)
    try {
      val inside = StreamingOps.withStreamWidth(spark, s"$sf/events.parquet")(
        explicit(Seq(isolation, manager)))
      assert(inside == Seq(Some("false"), Some(callerManager)))
      assert(explicit(Seq(isolation, manager)) == Seq(None, Some(callerManager)))
    } finally spark.conf.unset(manager)
  }

  test("a run whose body throws still restores the caller's session") {
    val before = explicit(widthKey +: runKeys)
    var inside = Seq.empty[Option[String]]
    val thrown = intercept[IllegalStateException] {
      StreamingOps.withStreamWidth(spark, s"$sf/events.parquet") {
        inside = explicit(widthKey +: runKeys)
        throw new IllegalStateException("stream failed")
      }
    }
    assert(thrown.getMessage == "stream failed")
    assert(inside.head != before.head && inside.tail.forall(_.nonEmpty))
    assert(explicit(widthKey +: runKeys) == before)
  }

  test("stream_mv_merge's state directory is deleted when the JVM exits") {
    val files = StreamingOps.streamMvMerge(spark, sf).inputFiles
    assert(files.nonEmpty)
    val dirs = files.map(f => new java.io.File(new java.net.URI(f)).getParentFile.getParentFile)
      .distinct
    assert(dirs.length == 1)
    assert(dirs.head.getName.startsWith("graft_mv"))
    assert(ShutdownDeletes.registered(dirs.head.getCanonicalFile))
  }

  private def withTempDir[T](prefix: String)(body: File => T): T = {
    val dir = Files.createTempDirectory(prefix).toFile
    try body(dir) finally FileUtils.deleteDirectory(dir)
  }

  private def manager(dir: File, conf: Configuration = new Configuration()) =
    new LocalCheckpointFileManager(new Path(dir.toURI), conf)

  private def write(fm: LocalCheckpointFileManager, p: Path, text: String,
      overwrite: Boolean = false) = {
    val out = fm.createAtomic(p, overwrite)
    out.write(text.getBytes(UTF_8))
    out
  }

  private def read(fm: LocalCheckpointFileManager, p: Path): String = {
    val in = fm.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  test("a createAtomic file is invisible at its target until close") {
    withTempDir("graft-cfm") { dir =>
      val fm = manager(dir)
      val target = new Path(new Path(dir.toURI), "offsets/0")
      val out = write(fm, target, "v1")
      out.flush()
      assert(!fm.exists(target))
      val parent = new File(dir, "offsets")
      assert(parent.list().toSeq.map(_.startsWith(".0.")) == Seq(true))
      out.close()
      assert(read(fm, target) == "v1")
      // no temporary file left, and no Hadoop .crc sidecar
      assert(parent.list().toSeq == Seq("0"))
    }
  }

  test("cancel deletes the temporary file and leaves no target") {
    withTempDir("graft-cfm") { dir =>
      val fm = manager(dir)
      val target = new Path(new Path(dir.toURI), "state/1.delta")
      val out = write(fm, target, "partial")
      out.cancel()
      assert(!fm.exists(target))
      assert(new File(dir, "state").list().isEmpty)
    }
  }

  test("overwrite semantics: refused without overwriteIfPossible, replaced with it") {
    withTempDir("graft-cfm") { dir =>
      // the class path's own `file:` file system (Hive's ProxyLocalFileSystem,
      // whose rename refuses an existing target), not one picked for the test
      val conf = new Configuration()
      assert(conf.get("fs.file.impl") == null)
      val root = new Path(dir.toURI)
      assert(root.getFileSystem(conf).getClass ==
        org.apache.hadoop.fs.FileSystem.get(new java.net.URI("file:///"), new Configuration()).getClass)
      val fm = manager(dir, conf)
      val target = new Path(root, "commits/0")
      write(fm, target, "first").close()
      val refused = write(fm, target, "second")
      intercept[FileAlreadyExistsException](refused.close())
      assert(read(fm, target) == "first")
      write(fm, target, "third", overwrite = true).close()
      assert(read(fm, target) == "third")
      // neither the refused nor the replacing write leaves a temporary file
      assert(new File(dir, "commits").list().toSeq == Seq("0"))
    }
  }

  test("nested mkdirs creates every level and is idempotent") {
    withTempDir("graft-cfm") { dir =>
      val fm = manager(dir)
      val nested = new Path(new Path(dir.toURI), "state/0/1")
      fm.mkdirs(nested)
      fm.mkdirs(nested)
      assert(new File(dir, "state/0/1").isDirectory)
      assert(fm.exists(nested))
    }
  }

  test("a path of another scheme takes the inherited Hadoop path") {
    withTempDir("graft-cfm") { dir =>
      val conf = new Configuration()
      conf.set(s"fs.${RecordingLocalFs.Scheme}.impl", classOf[RecordingLocalFs].getName)
      conf.setBoolean(s"fs.${RecordingLocalFs.Scheme}.impl.disable.cache", true)
      val root = new Path(s"${RecordingLocalFs.Scheme}://${dir.getAbsolutePath}")
      val fm = new LocalCheckpointFileManager(root, conf)
      RecordingLocalFs.calls.clear()
      fm.mkdirs(new Path(root, "sources"))
      val target = new Path(root, "offsets/0")
      fm.createAtomic(target, false).close()
      assert(fm.exists(target))
      val calls = RecordingLocalFs.calls.asScala.toSeq
      assert(calls.contains("mkdirs sources"), calls)
      assert(calls.exists(_.startsWith("create .0.")), calls)
    }
  }

  test("stateful aggregation and dropDuplicates reload their state across micro-batches") {
    withTempDir("graft-state-reload") { dir =>
      val src = new File(dir, "src").getPath
      // three files whose keys and values overlap, one file per micro-batch
      (0 until 3).foreach { i =>
        spark.range(i * 40L, i * 40L + 60)
          .select((col("id") % 7).as("k"), (col("id") % 50).as("v"))
          .coalesce(1).write.mode("append").parquet(src)
      }
      val batch = spark.read.parquet(src)
      val agg: DataFrame => DataFrame =
        _.groupBy("k").agg(count(lit(1)).as("n"), sum("v").as("s"))
      val dedup: DataFrame => DataFrame = _.dropDuplicates("v")

      def drain(name: String, mode: String, query: DataFrame => DataFrame): DataFrame = {
        val ckpt = new File(dir, s"ckpt_$name")
        spark.catalog.dropTempView(name)
        val q = StreamingOps.withStreamWidth(spark, src) {
          val q = query(spark.readStream.schema(batch.schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
            .writeStream.format("memory").queryName(name).outputMode(mode)
            .option("checkpointLocation", ckpt.getPath)
            .trigger(Trigger.AvailableNow()).start()
          q.awaitTermination()
          q
        }
        assert(q.lastProgress.batchId >= 2)
        val written = FileUtils.listFiles(ckpt, null, true).asScala.map(_.getName).toSeq
        assert(written.count(_.endsWith(".delta")) >= 3, written)
        // every checkpoint file came through the java.nio create: no Hadoop
        // `.<name>.crc` sidecar (`<name>.crc` is Spark's own checksum file)
        assert(!written.exists(n => n.startsWith(".") && n.endsWith(".crc")), written)
        spark.table(name)
      }

      // keep no state version in memory, so each batch loads the previous
      // one from the delta files the manager wrote
      val retain = "spark.sql.streaming.maxBatchesToRetainInMemory"
      spark.conf.set(retain, "0")
      try {
        val streamed = drain("state_reload_agg", "complete", agg)
        assert(streamed.orderBy("k").collect().toSeq == agg(batch).orderBy("k").collect().toSeq)
        val distinct = drain("state_reload_dedup", "append", dedup).select("v")
        assert(distinct.orderBy("v").collect().toSeq ==
          batch.select("v").distinct().orderBy("v").collect().toSeq)
      } finally spark.conf.unset(retain)
    }
  }

  test("streaming runs fork no process from a checkpoint manager") {
    import jdk.jfr.Recording
    import jdk.jfr.consumer.{RecordedEvent, RecordingFile}
    val file = Files.createTempFile("graft-forks", ".jfr")
    val rec = new Recording()
    try {
      rec.enable("jdk.ProcessStart").withStackTrace()
      rec.start()
      assert(StreamingOps.streamTumbling(spark, sf).count() > 0)
      assert(CurationStream.streamCuratedIngest(spark, sf).count() > 0)
      // one fork of our own shows that the recording sees process starts
      new ProcessBuilder("true").start().waitFor()
      rec.stop()
      rec.dump(file)
      val events = RecordingFile.readAllEvents(file).asScala.toSeq
      def frames(e: RecordedEvent) =
        Option(e.getStackTrace).toSeq.flatMap(_.getFrames.asScala)
          .map(f => s"${f.getMethod.getType.getName}.${f.getMethod.getName}")
      assert(events.exists(_.getString("command") == "true"))
      // filtered by stack: Spark's artifact cleaner may fork an `rm -rf` for
      // a cloned session at any time, and that is not a checkpoint write
      val viaManager = (f: String) => f.contains("CheckpointFileManager")
      val fromManager = events.filter(frames(_).exists(viaManager))
      assert(fromManager.isEmpty, fromManager.map { e =>
        val fs = frames(e)
        (e.getString("command") +: fs.take(8) :+ s"... ${fs.find(viaManager).get}")
          .mkString("\n  ")
      }.mkString("\n"))
    } finally {
      rec.close()
      Files.deleteIfExists(file)
    }
  }
}
