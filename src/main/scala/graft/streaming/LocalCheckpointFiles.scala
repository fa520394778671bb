package graft.streaming

import java.io.{BufferedOutputStream, ByteArrayOutputStream, DataOutputStream,
  FileNotFoundException, FilterOutputStream}
import java.nio.channels.{Channels, FileChannel}
import java.nio.file.{Files, NoSuchFileException, Paths, StandardCopyOption,
  StandardOpenOption, Path => JPath}
import java.nio.file.attribute.BasicFileAttributes
import java.util.UUID
import java.util.zip.CRC32

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFileSystem, FSDataInputStream,
  FileAlreadyExistsException, FileStatus, FileSystem, Path, PathFilter,
  Syncable, UnsupportedFileSystemException}
import org.apache.spark.TaskContext
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.checkpointing.{
  CheckpointFileManager, FileContextBasedCheckpointFileManager,
  FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/** Spark's checkpoint file manager for `file:` paths, through `java.nio`.
  *
  * Spark's default manager goes through Hadoop's `FileContext` over
  * `RawLocalFileSystem`, which without Hadoop's native library forks a
  * `readlink` per rename and a `chmod` per created file or directory:
  * with RocksDB changelog checkpointing that fixed per-file cost was
  * most of every trigger's state commit. This manager starts no process.
  * A write goes to a dot-hidden temp file beside its target (Spark's
  * `.<name>.<uuid>.tmp` naming, so every log's file filter skips it) and
  * `close` publishes it atomically: a rename when overwriting is
  * allowed, else a hard link, whose "target exists" is one atomic
  * `EEXIST` surfacing as Hadoop's `FileAlreadyExistsException` (what
  * `HDFSMetadataLog`'s concurrent-writer check relies on). `cancel` or a
  * failed `close` removes the temp and publishes nothing. Each file also
  * gets the Hadoop `.crc` sidecar that Spark's manager writes beside it
  * (and, like Spark's manager, does not verify on read), and a delete
  * removes it: the files on disk are those Spark's manager writes, so a
  * checkpoint resumes under either manager, and a checksum-verifying
  * Hadoop reader never meets a stale sidecar. No call starts a process.
  *
  * Any other scheme goes to Spark's own choice, `FileContext` with the
  * `FileSystem` fallback. Spark's checkpoint checksums
  * (`ChecksumCheckpointFileManager`) wrap this manager as they wrap
  * Spark's. Spark instantiates it by name from
  * `spark.sql.streaming.checkpointFileManagerClass`; [[install]] sets
  * that key, and `GraftSession.local` sets it on every builder. */
class LocalCheckpointFiles(path: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {

  private[graft] val impl: CheckpointFileManager =
    if (LocalCheckpointFiles.isLocal(path, hadoopConf))
      new LocalCheckpointFiles.NioFiles(path, hadoopConf)
    else
      try new FileContextBasedCheckpointFileManager(path, hadoopConf)
      catch { case _: UnsupportedFileSystemException =>
        new FileSystemBasedCheckpointFileManager(path, hadoopConf)
      }

  override def createAtomic(p: Path, overwriteIfPossible: Boolean)
      : CancellableFSDataOutputStream = impl.createAtomic(p, overwriteIfPossible)
  override def open(p: Path): FSDataInputStream = impl.open(p)
  override def list(p: Path, filter: PathFilter): Array[FileStatus] =
    impl.list(p, filter)
  override def mkdirs(p: Path): Unit = impl.mkdirs(p)
  override def exists(p: Path): Boolean = impl.exists(p)
  override def delete(p: Path): Unit = impl.delete(p)
  override def isLocal: Boolean = impl.isLocal
  override def createCheckpointDirectory(): Path = impl.createCheckpointDirectory()
  override def close(): Unit = impl.close()
}

object LocalCheckpointFiles {
  /** Spark's key naming the checkpoint file manager class. */
  val ConfKey = "spark.sql.streaming.checkpointFileManagerClass"

  /** Points the session's checkpoint files at this manager, unless the
    * session or its Hadoop conf already names one: a caller's own setting
    * wins. Streaming entry points call it before a query can start, since
    * `start()` clones the session conf. */
  def install(spark: SparkSession): Unit =
    if (spark.conf.getOption(ConfKey).isEmpty &&
        spark.sparkContext.hadoopConfiguration.get(ConfKey) == null)
      spark.conf.set(ConfKey, classOf[LocalCheckpointFiles].getName)

  private def isLocal(path: Path, conf: Configuration): Boolean =
    Option(path.toUri.getScheme)
      .getOrElse(FileSystem.getDefaultUri(conf).getScheme) == "file"

  /** The `java.nio` manager behind a `file:` root. */
  private final class NioFiles(root: Path, conf: Configuration)
      extends CheckpointFileManager {
    // Hadoop's checksummed local file system: its delete removes a file's
    // `.crc` too; reads go to the raw one beneath, unverified as with
    // Spark's manager. Neither starts a process.
    private lazy val local = FileSystem.getLocal(conf)

    private def file(p: Path): JPath = Paths.get(p.toUri.getPath).toAbsolutePath
    private def qualified(f: JPath): Path = new Path("file", null, f.toString)

    override def createAtomic(p: Path, overwriteIfPossible: Boolean)
        : CancellableFSDataOutputStream = {
      val target = file(p)
      if (!Files.isDirectory(target.getParent))
        Files.createDirectories(target.getParent)
      val tid =
        Option(TaskContext.get()).fold("")(t => s".TID${t.taskAttemptId()}")
      val temp = target.resolveSibling(
        s".${target.getFileName}.${UUID.randomUUID}$tid.tmp")
      val ch = FileChannel.open(temp,
        StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE)
      new Publish(new TempOut(ch, local.getBytesPerSum), temp, target,
        overwriteIfPossible)
    }

    override def open(p: Path): FSDataInputStream = local.getRaw.open(p)

    override def list(p: Path, filter: PathFilter): Array[FileStatus] = {
      val dir = file(p)
      val entries =
        if (Files.isDirectory(dir)) {
          val ds = Files.newDirectoryStream(dir)
          try ds.iterator.asScala.toArray finally ds.close()
        } else if (Files.exists(dir)) Array(dir)
        else throw new FileNotFoundException(s"$p does not exist")
      entries.iterator.map(f => (f, qualified(f)))
        .filter { case (_, q) =>
          !ChecksumFileSystem.isChecksumFile(q) && filter.accept(q) }
        .flatMap { case (f, q) =>
          // a file removed between listing and stat is not listed
          try {
            val a = Files.readAttributes(f, classOf[BasicFileAttributes])
            Some(new FileStatus(a.size, a.isDirectory, 1,
              local.getDefaultBlockSize(q), a.lastModifiedTime.toMillis, q))
          } catch { case _: NoSuchFileException => None }
        }.toArray
    }

    override def mkdirs(p: Path): Unit = Files.createDirectories(file(p))
    override def exists(p: Path): Boolean = Files.exists(file(p))
    override def delete(p: Path): Unit = local.delete(p, true)
    override def isLocal: Boolean = true
    override def createCheckpointDirectory(): Path =
      qualified(Files.createDirectories(file(root)))
  }

  /** Hadoop's checksum sidecar of `f`: `.<name>.crc` beside it. */
  private def crcOf(f: JPath): JPath = f.resolveSibling(s".${f.getFileName}.crc")

  private def quietly(f: => Unit): Unit = try f catch { case NonFatal(_) => }

  /** The temp file's stream, buffered. It also builds the file's Hadoop
    * `.crc` sidecar (the `crc\0` magic, the chunk size, then the CRC32 of
    * each `bytesPerSum`-byte chunk), as Spark's manager writes it. `hsync`
    * forces the bytes to disk as Hadoop's local stream does. */
  private final class TempOut(ch: FileChannel, bytesPerSum: Int)
      extends FilterOutputStream(
        new BufferedOutputStream(Channels.newOutputStream(ch), 64 * 1024))
      with Syncable {
    private val sums = new ByteArrayOutputStream()
    private val sumsOut = new DataOutputStream(sums)
    private val crc = new CRC32()
    private var inChunk = 0
    sumsOut.write(Array[Byte]('c', 'r', 'c', 0))
    sumsOut.writeInt(bytesPerSum)

    private def endChunk(): Unit = {
      sumsOut.writeInt(crc.getValue.toInt)
      crc.reset()
      inChunk = 0
    }
    override def write(b: Int): Unit = {
      out.write(b)
      crc.update(b)
      inChunk += 1
      if (inChunk == bytesPerSum) endChunk()
    }
    override def write(b: Array[Byte], off: Int, len: Int): Unit = {
      out.write(b, off, len)
      var o = off
      while (o < off + len) {
        val n = math.min(off + len - o, bytesPerSum - inChunk)
        crc.update(b, o, n)
        o += n
        inChunk += n
        if (inChunk == bytesPerSum) endChunk()
      }
    }
    /** The sidecar's bytes, once every byte is written. */
    def checksums: Array[Byte] = {
      if (inChunk > 0) endChunk()
      sums.toByteArray
    }
    override def hflush(): Unit = flush()
    override def hsync(): Unit = { flush(); ch.force(true) }
  }

  /** A write to `temp`, published at `target` by `close`. The data file
    * is published first and atomically; its sidecar follows, and an
    * overwrite removes the old sidecar before replacing the data, so a
    * crash in between leaves a file without a sidecar, never one whose
    * sidecar does not match. */
  private final class Publish(data: TempOut, temp: JPath, target: JPath,
      overwrite: Boolean) extends CancellableFSDataOutputStream(data) {
    private var terminated = false

    override def close(): Unit = synchronized {
      if (!terminated) {
        terminated = true
        val tempCrc = crcOf(temp)
        try {
          data.close()
          Files.write(tempCrc, data.checksums,
            StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE)
          if (overwrite) {
            Files.deleteIfExists(crcOf(target))
            Files.move(temp, target, StandardCopyOption.ATOMIC_MOVE)
          } else try Files.createLink(target, temp) catch {
            case _: java.nio.file.FileAlreadyExistsException =>
              throw new FileAlreadyExistsException(s"$target already exists")
          }
          Files.move(tempCrc, crcOf(target), StandardCopyOption.ATOMIC_MOVE)
        } finally {
          quietly(Files.deleteIfExists(temp))
          quietly(Files.deleteIfExists(tempCrc))
        }
      }
    }

    override def cancel(): Unit = synchronized {
      if (!terminated) {
        terminated = true
        try quietly(data.close())
        finally quietly(Files.deleteIfExists(temp))
      }
    }
  }
}
