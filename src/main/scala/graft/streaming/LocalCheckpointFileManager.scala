package graft.streaming

import java.io.BufferedOutputStream
import java.nio.channels.{Channels, FileChannel}
import java.nio.file.{Files, Paths, StandardCopyOption, StandardOpenOption, Path => NioPath}
import java.util.UUID

import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileSystem, Path}
import org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/** Spark's FileContext checkpoint manager with a fork-free atomic
  * write for `file:` paths. [[createAtomic]] is the call a micro-batch
  * makes for every checkpoint file it writes: offsets, commits, state
  * deltas and snapshots, RocksDB changelogs and zips.
  *
  * Without the native Hadoop library, the local FileContext path
  * forks `chmod` when it creates the temp file and `readlink` when it
  * renames it (`RawLocalFileSystem` shells out for both). Here the
  * temp file is written and fsynced through java.nio next to the
  * target, then published:
  *
  *  - overwrite off: hard-linked onto the target. `Files.createLink`
  *    fails atomically when the target exists, and that surfaces as
  *    Hadoop's `FileAlreadyExistsException`, as on the rename path,
  *    so two writers of one batch id still conflict.
  *  - overwrite on: the target's `.crc` is removed (a stale checksum
  *    would fail `open`), then the temp file is moved over the target
  *    atomically.
  *
  * No `.crc` is written, as with Spark's own temp files (checksums
  * disabled). Every other call, and every other scheme, is Spark's.
  */
class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends FileContextBasedCheckpointFileManager(path, hadoopConf) {

  override def createAtomic(
      path: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream =
    localFile(path) match {
      case Some(target) =>
        LocalCheckpointFileManager.AtomicLocalStream(path, target, overwriteIfPossible)
      case None => super.createAtomic(path, overwriteIfPossible)
    }

  private def localFile(p: Path): Option[NioPath] = {
    val uri = p.toUri
    val scheme = Option(uri.getScheme)
      .getOrElse(FileSystem.getDefaultUri(hadoopConf).getScheme)
    if (scheme == "file") Some(Paths.get(uri.getPath)) else None
  }
}

object LocalCheckpointFileManager {

  private object AtomicLocalStream {
    def apply(finalPath: Path, target: NioPath, overwrite: Boolean): AtomicLocalStream = {
      Files.createDirectories(target.getParent)
      val temp = target.resolveSibling(s".${target.getFileName}.${UUID.randomUUID}.tmp")
      val channel = FileChannel.open(temp,
        StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE)
      new AtomicLocalStream(finalPath, target, overwrite, temp, channel)
    }
  }

  private final class AtomicLocalStream(
      finalPath: Path, target: NioPath, overwrite: Boolean,
      temp: NioPath, channel: FileChannel)
      extends CancellableFSDataOutputStream(
        new BufferedOutputStream(Channels.newOutputStream(channel))) {

    private var terminated = false

    override def close(): Unit = synchronized {
      if (!terminated) {
        terminated = true
        try {
          flush()
          channel.force(true)
          super.close()
          publish()
        } catch { case NonFatal(e) => deleteTemp(); throw e }
      }
    }

    override def cancel(): Unit = synchronized {
      if (!terminated) {
        terminated = true
        try underlyingStream.close() catch { case NonFatal(_) => }
        deleteTemp()
      }
    }

    private def publish(): Unit =
      if (overwrite) {
        Files.deleteIfExists(target.resolveSibling(s".${target.getFileName}.crc"))
        Files.move(temp, target, StandardCopyOption.ATOMIC_MOVE)
      } else {
        try Files.createLink(target, temp)
        catch { case _: java.nio.file.FileAlreadyExistsException =>
          throw new FileAlreadyExistsException(s"$finalPath already exists")
        }
        deleteTemp()
      }

    private def deleteTemp(): Unit =
      try Files.deleteIfExists(temp) catch { case NonFatal(_) => }
  }
}
