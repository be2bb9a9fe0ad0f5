package graft.sources

import org.apache.spark.sql.SparkSession

/** The one memo for everything graft fits or writes once per input and then
  * reuses across queries: the IVF quantizer, PQ/OPQ codebooks, the OPQ basis,
  * SQ8/BQ statistics, bucket statistics, the events footer probe, the
  * pre-organized layouts and the dedup shingle table.
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

  /** Stamp for fits over `dir`'s embeddings: an MD5 over (path, length,
    * mtime) of every part file of `embeddings.parquet`. It reads metadata
    * only, and suffices because parquet parts are immutable once written: a
    * rewrite shows up as new, renamed or re-lengthed parts. */
  def corpusFingerprint(spark: SparkSession, dir: String): String = {
    val path = new org.apache.hadoop.fs.Path(s"$dir/embeddings.parquet")
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val st = fs.getFileStatus(path)
    val parts =
      if (st.isDirectory) fs.listStatus(path).toSeq.sortBy(_.getPath.toString)
      else Seq(st)
    val md = java.security.MessageDigest.getInstance("MD5")
    md.update(s"n=${parts.size};".getBytes("UTF-8"))
    parts.foreach { s =>
      md.update(s"${s.getPath};${s.getLen};${s.getModificationTime};".getBytes("UTF-8"))
    }
    md.digest().map("%02x".format(_)).mkString
  }
}
