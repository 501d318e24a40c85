package graft.streaming

import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFileSystem, FSDataOutputStream, Path}
import org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager

/** Spark's `FileSystem` checkpoint manager, with the three calls that
  * create something on a local (`file:`) path made through java.nio.
  *
  * Hadoop's local file system sets the permission of every file it
  * creates (and of the checksum sidecar it writes next to it) and of every
  * directory it makes; without the native Hadoop library each set forks
  * `chmod`, a few ms each, and a stateful replay creates about forty
  * checkpoint files and directories (offset and commit logs, metadata,
  * state schema, state-store directories and deltas). Here `mkdirs` is
  * `Files.createDirectories`, a temp file is a plain `Files.newOutputStream`
  * with no sidecar, and the rename that publishes it is an atomic
  * `Files.move`. `createAtomic`, `open`, `list`, `exists` and `delete` stay
  * the superclass's: they create nothing, and reading through the checksum
  * file system skips verification for a file with no sidecar.
  *
  * A path of any other scheme goes to the superclass unchanged. Spark
  * builds the manager by reflection from
  * `spark.sql.streaming.checkpointFileManagerClass`, which
  * `StreamingOps.drain` sets for every query.
  */
class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends FileSystemBasedCheckpointFileManager(path, hadoopConf) {

  private val local = fs.getUri.getScheme == "file"

  private def nio(p: Path): java.nio.file.Path = Paths.get(fs.makeQualified(p).toUri)

  override def mkdirs(p: Path): Unit =
    if (local) Files.createDirectories(nio(p)) else super.mkdirs(p)

  override def createTempFile(p: Path): FSDataOutputStream =
    if (!local) super.createTempFile(p)
    else {
      val f = nio(p)
      Files.createDirectories(f.getParent)
      new FSDataOutputStream(new java.io.BufferedOutputStream(Files.newOutputStream(f)), null)
    }

  /** An existing destination with `overwriteIfPossible = false` goes to the
    * superclass, which fails as it always has. Otherwise the destination's
    * checksum sidecar, left by a checkpoint written through Hadoop (an
    * older run, or a state delta being overwritten), is removed first:
    * a new file under a stale sidecar would fail verification on read,
    * while a file with no sidecar is read unverified. */
  override def renameTempFile(src: Path, dst: Path, overwriteIfPossible: Boolean): Unit =
    if (!local || (!overwriteIfPossible && Files.exists(nio(dst))))
      super.renameTempFile(src, dst, overwriteIfPossible)
    else {
      fs match {
        case c: ChecksumFileSystem => Files.deleteIfExists(nio(c.getChecksumFile(dst)))
        case _ =>
      }
      Files.move(nio(src), nio(dst), StandardCopyOption.ATOMIC_MOVE)
    }
}
