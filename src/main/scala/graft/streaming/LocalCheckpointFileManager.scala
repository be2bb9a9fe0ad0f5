package graft.streaming

import java.io.BufferedOutputStream
import java.nio.file.{Files, Paths, StandardCopyOption, Path => NioPath}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, FSDataOutputStream, Path}
import org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager

/** The checkpoint manager of graft's streaming runs (set by
  * [[StreamingOps.withStreamWidth]]): Spark's `FileSystem`-based manager with
  * file creation, directory creation and the atomic publish on `file:` paths
  * done through `java.nio`.
  *
  * Without native Hadoop, `RawLocalFileSystem` sets every file and directory
  * permission it creates by forking `chmod`: the offset, commit and source
  * logs, the state schema and operator metadata, and the state store's delta
  * files cost one `stream_tumbling_agg` drain 25 processes. `java.nio` creates
  * the same files with the process umask and forks none.
  *
  * The publish is `Files.move(ATOMIC_MOVE)`, which replaces an existing
  * target: the inherited `FileSystem.rename` on `file:` (Hive's
  * `ProxyLocalFileSystem` on Spark's class path) refuses one, and Spark's
  * best-effort overwrite then keeps the old content and the temporary file.
  * A refused publish (target exists, `overwriteIfPossible` false) deletes
  * its temporary file and throws `FileAlreadyExistsException`. Every other
  * operation, and every other scheme, stays on the inherited Hadoop path.
  *
  * Files written here have no Hadoop `.crc` sidecar. That is safe: each
  * graft drain checkpoints to a fresh temporary directory, so no sidecar of
  * an older write sits beside them, and `ChecksumFileSystem.open` reads a
  * file without verification when its `.crc` is absent. (Spark's own
  * `<name>.crc` checksum files for state are written through this manager
  * like any other file.)
  */
class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends FileSystemBasedCheckpointFileManager(path, hadoopConf) {

  override def createTempFile(path: Path): FSDataOutputStream = local(path) match {
    case Some(p) =>
      Files.createDirectories(p.getParent)
      new FSDataOutputStream(new BufferedOutputStream(Files.newOutputStream(p)), null)
    case None => super.createTempFile(path)
  }

  override def renameTempFile(srcPath: Path, dstPath: Path, overwriteIfPossible: Boolean): Unit =
    (local(srcPath), local(dstPath)) match {
      case (Some(src), Some(dst)) =>
        if (!overwriteIfPossible && Files.exists(dst)) {
          Files.deleteIfExists(src)
          throw new FileAlreadyExistsException(s"Failed to rename $srcPath to $dstPath: destination exists")
        }
        Files.move(src, dst, StandardCopyOption.ATOMIC_MOVE)
      case _ => super.renameTempFile(srcPath, dstPath, overwriteIfPossible)
    }

  override def mkdirs(path: Path): Unit = local(path) match {
    case Some(p) => Files.createDirectories(p)
    case None => super.mkdirs(path)
  }

  private def local(path: Path): Option[NioPath] = {
    val uri = fs.makeQualified(path).toUri
    if (uri.getScheme == "file") Some(Paths.get(uri)) else None
  }
}
