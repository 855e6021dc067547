package graft.streaming

import java.io.{BufferedOutputStream, FileOutputStream}
import java.nio.file.{Files, LinkOption, Paths, StandardCopyOption, Path => JPath}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataOutputStream, FileAlreadyExistsException, Path}
import org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager

/** Checkpoint file manager that writes local checkpoints through
  * `java.nio` instead of Hadoop's local file system. Without the native
  * Hadoop library every create, mkdir and rename on `file:` forks a
  * `chmod` or `stat` process (34–61 ms per small file against 0.2 ms for
  * write + fsync + rename), and a micro-batch writes several such files:
  * offset log, commit log, one state changelog per partition.
  *
  * Same contract as the inherited manager: temp files are fsync'ed on
  * close, an overwriting rename is an atomic move, and a no-overwrite
  * rename onto an existing file throws Hadoop's
  * `FileAlreadyExistsException` (how `HDFSMetadataLog` detects a
  * concurrent writer). Overwrite and delete also drop a stale
  * `.<name>.crc` sibling, which would fail a checksummed read of the new
  * bytes. Any other scheme (HDFS, S3) takes the inherited code.
  */
class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends FileContextBasedCheckpointFileManager(path, hadoopConf) {

  /** The local file behind `p`, or None when `p` is not on `file:`
    * (a scheme-less path resolves against this manager's file system).
    */
  private[graft] def localFile(p: Path): Option[JPath] = {
    val uri = fc.makeQualified(p).toUri
    if (uri.getScheme == "file") Some(Paths.get(uri.getPath)) else None
  }

  private def crcOf(f: JPath): JPath = f.resolveSibling(s".${f.getFileName}.crc")

  override def createTempFile(p: Path): FSDataOutputStream = localFile(p) match {
    case Some(f) =>
      val fos = new FileOutputStream(f.toFile)
      new FSDataOutputStream(new BufferedOutputStream(fos, 1 << 16) {
        override def close(): Unit = { flush(); fos.getFD.sync(); super.close() }
      }, null)
    case None => super.createTempFile(p)
  }

  override def renameTempFile(src: Path, dst: Path, overwriteIfPossible: Boolean): Unit =
    (localFile(src), localFile(dst)) match {
      case (Some(s), Some(d)) if overwriteIfPossible =>
        Files.deleteIfExists(crcOf(d))
        Files.move(s, d, StandardCopyOption.ATOMIC_MOVE)
      case (Some(s), Some(d)) =>
        try Files.createLink(d, s)
        catch {
          case _: java.nio.file.FileAlreadyExistsException =>
            throw new FileAlreadyExistsException(s"$dst already exists")
        } finally Files.deleteIfExists(s)
      case _ => super.renameTempFile(src, dst, overwriteIfPossible)
    }

  override def mkdirs(p: Path): Unit = localFile(p) match {
    case Some(f) => Files.createDirectories(f)
    case None => super.mkdirs(p)
  }

  override def exists(p: Path): Boolean = localFile(p) match {
    case Some(f) => Files.exists(f)
    case None => super.exists(p)
  }

  override def delete(p: Path): Unit = localFile(p) match {
    case Some(f) =>
      if (Files.isDirectory(f, LinkOption.NOFOLLOW_LINKS)) {
        val walk = Files.walk(f)
        try walk.sorted(java.util.Comparator.reverseOrder[JPath]())
          .forEach(x => Files.deleteIfExists(x))
        finally walk.close()
      } else Files.deleteIfExists(f)
      Files.deleteIfExists(crcOf(f))
    case None => super.delete(p)
  }
}
