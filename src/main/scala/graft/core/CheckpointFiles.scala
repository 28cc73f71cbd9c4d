package graft.core

import java.io.{BufferedOutputStream, FileNotFoundException}
import java.nio.ByteBuffer
import java.nio.channels.FileChannel
import java.nio.file.{Files, NoSuchFileException, Path => JPath, StandardCopyOption, StandardOpenOption}
import java.nio.file.attribute.BasicFileAttributes
import java.util.UUID

import scala.jdk.CollectionConverters._
import scala.util.Using

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{BufferedFSInputStream, FileAlreadyExistsException, FileStatus, FileSystem, FSDataInputStream, FSInputStream, Path, PathFilter, UnsupportedFileSystemException}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/** The streaming checkpoint-file manager of [[Tables.localSession]]
  * (`spark.sql.streaming.checkpointFileManagerClass`): offset log, commit
  * log and state-store files. A `file:` path is served by
  * [[NioCheckpointFileManager]]; any other scheme by the manager Spark
  * would have picked (FileContext, else FileSystem). */
class CheckpointFiles(path: Path, hadoopConf: Configuration) extends CheckpointFileManager {

  val underlying: CheckpointFileManager =
    if (Option(path.toUri.getScheme).getOrElse(FileSystem.getDefaultUri(hadoopConf).getScheme) == "file")
      new NioCheckpointFileManager(path)
    else
      try new FileContextBasedCheckpointFileManager(path, hadoopConf)
      catch { case _: UnsupportedFileSystemException =>
        new FileSystemBasedCheckpointFileManager(path, hadoopConf)
      }

  def createAtomic(p: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream =
    underlying.createAtomic(p, overwriteIfPossible)
  def open(p: Path): FSDataInputStream = underlying.open(p)
  def list(p: Path, filter: PathFilter): Array[FileStatus] = underlying.list(p, filter)
  def mkdirs(p: Path): Unit = underlying.mkdirs(p)
  def exists(p: Path): Boolean = underlying.exists(p)
  def delete(p: Path): Unit = underlying.delete(p)
  def isLocal: Boolean = underlying.isLocal
  def createCheckpointDirectory(): Path = underlying.createCheckpointDirectory()
  override def close(): Unit = underlying.close()
}

/** Checkpoint files on the local filesystem through `java.nio` alone.
  *
  * Hadoop's local filesystem, without its native library, runs `chmod`
  * and `stat` as child processes for every create, rename and status
  * call — about 30 ms per checkpoint write through Spark's FileContext
  * manager. Here a write is a temp file in the target's directory
  * (`.<name>.<uuid>.tmp`, which no batch-file listing parses), published
  * on close by an atomic rename (overwrite) or by a hard link that fails
  * if the target exists (no overwrite), then the temp is removed. Like
  * Hadoop's local filesystem, it does not fsync. Deleting or replacing a
  * file also drops the `.<name>.crc` checksum Hadoop may have left beside
  * it, so a checkpoint stays readable by Spark's own manager. */
class NioCheckpointFileManager(root: Path) extends CheckpointFileManager {
  import NioCheckpointFileManager._

  def createAtomic(p: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream = {
    val target = local(p)
    Files.createDirectories(target.getParent)
    val temp = target.resolveSibling(s".${target.getFileName}.${UUID.randomUUID()}.tmp")
    new AtomicOutput(target, temp, overwriteIfPossible)
  }

  def open(p: Path): FSDataInputStream = {
    val channel =
      try FileChannel.open(local(p))
      catch { case _: NoSuchFileException => throw new FileNotFoundException(p.toString) }
    new FSDataInputStream(new BufferedFSInputStream(new ChannelInput(channel), 1 << 16))
  }

  def list(p: Path, filter: PathFilter): Array[FileStatus] = {
    val dir = local(p)
    if (!Files.exists(dir)) throw new FileNotFoundException(p.toString)
    Using.resource(Files.newDirectoryStream(dir)) { entries =>
      entries.asScala.map(e => status(new Path(p, e.getFileName.toString), e))
        .filter(s => filter.accept(s.getPath)).toArray
    }
  }

  def mkdirs(p: Path): Unit = Files.createDirectories(local(p))

  def exists(p: Path): Boolean = Files.exists(local(p))

  def delete(p: Path): Unit = {
    val target = local(p)
    if (Files.isDirectory(target)) deleteTree(target)
    else Files.deleteIfExists(target)
    Files.deleteIfExists(crc(target))
  }

  def isLocal: Boolean = true

  def createCheckpointDirectory(): Path = {
    val dir = Files.createDirectories(local(root)).toAbsolutePath
    new Path("file", null, dir.toString)
  }
}

object NioCheckpointFileManager {

  private def local(p: Path): JPath = JPath.of(p.toUri.getPath)

  /** Deletes `dir` and everything under it; a missing `dir` is a no-op. */
  def deleteTree(dir: JPath): Unit =
    if (Files.exists(dir))
      Using.resource(Files.walk(dir)) { _.iterator.asScala.toSeq.reverse.foreach(Files.delete) }

  /** Hadoop's checksum file beside `file`. */
  private def crc(file: JPath): JPath = file.resolveSibling(s".${file.getFileName}.crc")

  private def status(p: Path, file: JPath): FileStatus = {
    val a = Files.readAttributes(file, classOf[BasicFileAttributes])
    new FileStatus(a.size, a.isDirectory, 1, 0, a.lastModifiedTime.toMillis, p)
  }

  /** Writes `temp`; `close` publishes it as `target`, `cancel` drops it. */
  private final class AtomicOutput(target: JPath, temp: JPath, overwrite: Boolean)
      extends CancellableFSDataOutputStream(new BufferedOutputStream(
        Files.newOutputStream(temp, StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE))) {
    private var done = false

    override def close(): Unit = synchronized {
      if (!done) {
        done = true
        try {
          underlyingStream.close()
          if (overwrite) {
            Files.deleteIfExists(crc(target))
            Files.move(temp, target, StandardCopyOption.ATOMIC_MOVE)
          } else {
            try Files.createLink(target, temp)
            catch { case _: java.nio.file.FileAlreadyExistsException =>
              throw new FileAlreadyExistsException(s"$target already exists")
            }
          }
        } finally Files.deleteIfExists(temp)
      }
    }

    override def cancel(): Unit = synchronized {
      if (!done) {
        done = true
        try underlyingStream.close() finally Files.deleteIfExists(temp)
      }
    }
  }

  /** A seekable read of one file channel. */
  private final class ChannelInput(channel: FileChannel) extends FSInputStream {
    override def read(): Int = {
      val one = ByteBuffer.allocate(1)
      if (channel.read(one) <= 0) -1 else one.get(0) & 0xff
    }
    override def read(b: Array[Byte], off: Int, len: Int): Int =
      if (len == 0) 0 else channel.read(ByteBuffer.wrap(b, off, len))
    override def seek(pos: Long): Unit = channel.position(pos)
    override def getPos: Long = channel.position()
    override def seekToNewSource(targetPos: Long): Boolean = false
    override def close(): Unit = channel.close()
  }
}
