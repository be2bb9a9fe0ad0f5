package graft.sources

import org.apache.spark.sql.SparkSession

/** The one memo for everything graft fits or writes once per input and then
  * reuses across queries: the IVF quantizer, PQ/OPQ codebooks, the OPQ basis,
  * SQ8/BQ statistics, bucket statistics, table schemas, the events footer
  * probe, the pre-organized layouts and the dedup shingle table.
  *
  * An entry is `kind/key` → (stamp, value). A call whose stamp differs from
  * the stored one rebuilds and replaces the entry, so a stamp that tracks the
  * input (a listing fingerprint, a source dir) turns an input change into a
  * refit. The build runs under a lock object held for that one key, never
  * inside a `ConcurrentHashMap` remapping function: builds are Spark jobs and
  * file reads, and a remapping function holds the map's bin lock, which
  * blocks unrelated keys that share the bin. Concurrent first calls for one
  * key build once; different keys never wait for each other. The entry is
  * stored only after `build` returns, so a failed build leaves nothing behind
  * and the next call retries.
  */
object Artifacts {
  private final case class Entry(stamp: String, value: Any)
  private val entries = new java.util.concurrent.ConcurrentHashMap[String, Entry]()
  private val locks = new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** A memoized value that holds resources, such as pinned blocks. A hit
    * that is no longer `live` rebuilds, and a replaced entry is `release`d
    * before its rebuild. */
  trait Releasable {
    def live: Boolean
    def release(): Unit
  }

  /** `build`'s value for `kind/key`, reused while the stored stamp equals
    * `stamp`. */
  def memo[T](kind: String, key: String, stamp: String = "")(build: => T): T = {
    val k = s"$kind/$key"
    locks.computeIfAbsent(k, _ => new Object).synchronized {
      val prev = entries.get(k)
      val usable = prev != null && prev.stamp == stamp && (prev.value match {
        case r: Releasable => r.live
        case _ => true
      })
      if (usable) prev.value.asInstanceOf[T]
      else {
        if (prev != null) {
          entries.remove(k)
          prev.value match { case r: Releasable => r.release(); case _ => }
        }
        val v = build
        entries.put(k, Entry(stamp, v))
        v
      }
    }
  }

  /** Stamp for the files at `path`: an MD5 over (path, length, mtime) of the
    * file, or of every file under the directory, listed recursively so a
    * partitioned layout's part files count. It reads metadata only, and
    * suffices because parquet parts are immutable once written: a rewrite
    * shows up as new, renamed or re-lengthed parts. A missing path stamps as
    * an empty listing, so the caller's read reports it. */
  def listingFingerprint(spark: SparkSession, path: String): String = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // listStatus, not listFiles: a located status loads each file's owner
    // and permission, which the local file system forks a process for when
    // libhadoop is absent
    def files(st: org.apache.hadoop.fs.FileStatus): Seq[org.apache.hadoop.fs.FileStatus] =
      if (st.isDirectory) fs.listStatus(st.getPath).toSeq.flatMap(files) else Seq(st)
    val parts =
      try files(fs.getFileStatus(root)).sortBy(_.getPath.toString)
      catch { case _: java.io.FileNotFoundException => Nil }
    val md = java.security.MessageDigest.getInstance("MD5")
    md.update(s"n=${parts.size};".getBytes("UTF-8"))
    parts.foreach { s =>
      md.update(s"${s.getPath};${s.getLen};${s.getModificationTime};".getBytes("UTF-8"))
    }
    md.digest().map("%02x".format(_)).mkString
  }

  /** Stamp for fits over `dir`'s embeddings. */
  def corpusFingerprint(spark: SparkSession, dir: String): String =
    listingFingerprint(spark, s"$dir/embeddings.parquet")
}
