package graft.streaming

import java.io.{EOFException, FileNotFoundException, FileOutputStream, RandomAccessFile}
import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.commons.io.FileUtils
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{BufferedFSInputStream, FileAlreadyExistsException, FileStatus, FSDataInputStream, Path, PathFilter}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/** java.nio [[CheckpointFileManager]] for local-filesystem checkpoint
  * trees (guide §1/§6: the bounded streaming drives spend a measured
  * ~40 ms in walCommit and ~40 ms in commitOffsets PER MICRO-BATCH even
  * with the checkpoint scratch on tmpfs — the cost is the Hadoop
  * FileContext layer (path resolution, AbstractFileSystem instantiation,
  * checksum bookkeeping) wrapped around every tiny WAL and state-delta
  * write, not the medium). This manager keeps the exact atomic-rename
  * contract of the default (`.name.uuid.tmp` + ATOMIC_MOVE, hadoop
  * FileAlreadyExistsException when `overwriteIfPossible = false` and the
  * destination exists — HDFSMetadataLog turns that into its concurrent-
  * writer check) but goes straight through java.nio.
  *
  * Scope: LOCAL paths only. For any non-local scheme (a cluster pointing
  * checkpoints at HDFS/object storage) every call delegates to Spark's
  * default FileContext-based manager, so enabling this class globally is
  * safe — it is an I/O fast path, not a semantics change.
  */
class LocalCheckpointFileManager(root: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {

  private val scheme = root.toUri.getScheme
  private val local = scheme == null || scheme == "file"
  // Non-local fallback, constructed lazily so purely-local sessions
  // never touch the FileContext layer at all.
  private lazy val fallback = new FileContextBasedCheckpointFileManager(root, hadoopConf)

  private def toNio(p: Path): java.nio.file.Path = Paths.get(p.toUri.getPath)

  override def isLocal: Boolean = if (local) true else fallback.isLocal

  override def createCheckpointDirectory(): Path = {
    if (!local) return fallback.createCheckpointDirectory()
    Files.createDirectories(toNio(root))
    root
  }

  override def mkdirs(path: Path): Unit = {
    if (!local) { fallback.mkdirs(path); return }
    Files.createDirectories(toNio(path))
  }

  override def exists(path: Path): Boolean =
    if (!local) fallback.exists(path) else Files.exists(toNio(path))

  override def delete(path: Path): Unit = {
    if (!local) { fallback.delete(path); return }
    FileUtils.deleteQuietly(toNio(path).toFile)
  }

  override def list(path: Path, filter: PathFilter): Array[FileStatus] = {
    if (!local) return fallback.list(path, filter)
    val dir = toNio(path).toFile
    val entries = dir.listFiles()
    if (entries == null) {
      if (!dir.exists()) throw new FileNotFoundException(s"$path does not exist")
      return Array.empty
    }
    entries.iterator.flatMap { f =>
      val p = new Path(path, f.getName)
      if (filter.accept(p))
        Some(new FileStatus(f.length(), f.isDirectory, 1, 33554432L, f.lastModified(), p))
      else None
    }.toArray
  }

  override def open(path: Path): FSDataInputStream = {
    if (!local) return fallback.open(path)
    // RandomAccessFile throws java.io.FileNotFoundException directly,
    // which is what metadata-log and state-store readers catch.
    val raf = new RandomAccessFile(toNio(path).toFile, "r")
    new FSDataInputStream(new BufferedFSInputStream(
      new LocalCheckpointFileManager.RafInputStream(raf), 16384))
  }

  override def createAtomic(path: Path,
      overwriteIfPossible: Boolean): CancellableFSDataOutputStream = {
    if (!local) return fallback.createAtomic(path, overwriteIfPossible)
    val dst = toNio(path)
    val tmp = dst.resolveSibling(
      s".${path.getName}.${java.util.UUID.randomUUID}.tmp")
    val fout = new FileOutputStream(tmp.toFile)
    new CancellableFSDataOutputStream(fout) {
      @volatile private var terminated = false
      override def close(): Unit = synchronized {
        if (terminated) return
        terminated = true
        fout.close()
        // POSIX rename(2) (what ATOMIC_MOVE maps to) replaces silently,
        // so the no-overwrite contract needs an explicit existence
        // check — the same check-then-rename Hadoop's local FileContext
        // performs for Options.Rename.NONE.
        if (!overwriteIfPossible && Files.exists(dst)) {
          Files.deleteIfExists(tmp)
          throw new FileAlreadyExistsException(
            s"Failed to rename temp file $tmp to $path because file exists")
        }
        Files.move(tmp, dst, StandardCopyOption.ATOMIC_MOVE,
          StandardCopyOption.REPLACE_EXISTING)
      }
      override def cancel(): Unit = synchronized {
        if (terminated) return
        terminated = true
        try fout.close() finally { Files.deleteIfExists(tmp); () }
      }
    }
  }
}

object LocalCheckpointFileManager {
  val ConfKey = "spark.sql.streaming.checkpointFileManagerClass"

  /** Point the session's streaming checkpoints at this manager unless
    * the deployment already chose one explicitly. Called by
    * [[StreamRunner.start]] — idempotent, never overrides. */
  def install(spark: org.apache.spark.sql.SparkSession): Unit =
    if (spark.conf.getOption(ConfKey).isEmpty)
      spark.conf.set(ConfKey, classOf[LocalCheckpointFileManager].getName)

  /** Sequential-plus-seek input over a RandomAccessFile with the
    * Seekable/PositionedReadable surface FSDataInputStream demands. */
  private final class RafInputStream(raf: RandomAccessFile)
      extends org.apache.hadoop.fs.FSInputStream {
    override def read(): Int = raf.read()
    override def read(b: Array[Byte], off: Int, len: Int): Int =
      raf.read(b, off, len)
    override def skip(n: Long): Long = {
      val p = raf.getFilePointer
      val np = math.min(raf.length(), math.max(p, p + n))
      raf.seek(np); np - p
    }
    override def available(): Int =
      math.min(Int.MaxValue.toLong, raf.length() - raf.getFilePointer).toInt
    override def close(): Unit = raf.close()
    override def seek(pos: Long): Unit = raf.seek(pos)
    override def getPos: Long = raf.getFilePointer
    override def seekToNewSource(targetPos: Long): Boolean = false
    override def read(position: Long, buffer: Array[Byte], offset: Int,
        length: Int): Int = synchronized {
      val cur = raf.getFilePointer
      try { raf.seek(position); raf.read(buffer, offset, length) }
      finally raf.seek(cur)
    }
    override def readFully(position: Long, buffer: Array[Byte], offset: Int,
        length: Int): Unit = {
      var done = 0
      while (done < length) {
        val n = read(position + done, buffer, offset + done, length - done)
        if (n < 0) throw new EOFException("reached end of file")
        done += n
      }
    }
    override def readFully(position: Long, buffer: Array[Byte]): Unit =
      readFully(position, buffer, 0, buffer.length)
  }
}
