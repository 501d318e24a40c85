package graft.streaming

import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataOutputStream, FileAlreadyExistsException, FileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.scalatest.funsuite.AnyFunSuite

/** The checkpoint manager on its own, without a stream: the superclass's
  * contract on a local path, and full delegation on any other scheme. */
class LocalCheckpointFileManagerSpec extends AnyFunSuite {

  private def withDir(body: java.nio.file.Path => Unit): Unit = {
    val dir = Files.createTempDirectory("graft-ckpt-fm")
    try body(dir) finally graft.operators.deleteRecursively(dir)
  }

  private def write(fm: LocalCheckpointFileManager, p: Path, text: String, overwrite: Boolean): Unit = {
    val out = fm.createAtomic(p, overwrite)
    out.write(text.getBytes(UTF_8))
    out.close()
  }

  private def names(dir: java.nio.file.Path): Set[String] = {
    import scala.jdk.CollectionConverters._
    Files.list(dir).iterator().asScala.map(_.getFileName.toString).toSet
  }

  test("a local path: createAtomic publishes the file with no sidecar and no temp file left") { withDir { dir =>
    val fm = new LocalCheckpointFileManager(new Path(dir.toUri), new Configuration())
    val p = new Path(dir.resolve("offsets/0").toUri)
    fm.mkdirs(p.getParent)
    write(fm, p, "v1", overwrite = false)
    assert(Files.readString(Paths.get(p.toUri)) == "v1")
    assert(names(dir.resolve("offsets")) == Set("0"))
    assert(fm.exists(p) && fm.list(p.getParent).map(_.getPath.getName).toSeq == Seq("0"))
    val in = fm.open(p)
    try assert(new String(in.readAllBytes(), UTF_8) == "v1") finally in.close()
  }}

  test("createAtomic with overwriteIfPossible = false onto an existing file fails and keeps the file") { withDir { dir =>
    val fm = new LocalCheckpointFileManager(new Path(dir.toUri), new Configuration())
    val p = new Path(dir.resolve("commit").toUri)
    write(fm, p, "first", overwrite = false)
    intercept[FileAlreadyExistsException](write(fm, p, "second", overwrite = false))
    assert(Files.readString(Paths.get(p.toUri)) == "first")
  }}

  test("an overwrite replaces a file Hadoop wrote and drops its stale sidecar") { withDir { dir =>
    val conf = new Configuration()
    val p = new Path(dir.resolve("1.delta").toUri)
    val local = FileSystem.getLocal(conf)
    val old = local.create(p, true)
    old.write("old delta".getBytes(UTF_8))
    old.close()
    assert(names(dir) == Set("1.delta", ".1.delta.crc"))
    write(new LocalCheckpointFileManager(new Path(dir.toUri), conf), p, "new delta", overwrite = true)
    assert(names(dir) == Set("1.delta"))
    // read through the checksum file system: no sidecar, so no ChecksumException
    val in = local.open(p)
    try assert(new String(in.readAllBytes(), UTF_8) == "new delta") finally in.close()
  }}

  test("a non-file scheme goes to the superclass's FileSystem calls") { withDir { dir =>
    val conf = new Configuration()
    conf.set("fs.rec.impl", classOf[RecordingFileSystem].getName)
    conf.setBoolean("fs.rec.impl.disable.cache", true)
    val base = new Path(s"rec://${dir.toUri.getPath}")
    val fm = new LocalCheckpointFileManager(base, conf)
    val p = new Path(base, "sub/0")
    RecordingFileSystem.calls.clear()
    fm.mkdirs(p.getParent)
    write(fm, p, "v1", overwrite = false)
    assert(RecordingFileSystem.calls.toSeq == Seq("mkdirs", "create", "rename"))
    assert(Files.readString(dir.resolve("sub/0")) == "v1")
  }}
}

/** A raw local file system under the `rec` scheme that records the calls
  * that create something. */
class RecordingFileSystem extends RawLocalFileSystem {
  import RecordingFileSystem.calls
  override def getUri: URI = URI.create("rec:///")
  override def mkdirs(p: Path, permission: FsPermission): Boolean = {
    calls += "mkdirs"; super.mkdirs(p, permission)
  }
  override def create(p: Path, overwrite: Boolean, bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable): FSDataOutputStream = {
    calls += "create"; super.create(p, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    calls += "rename"; super.rename(src, dst)
  }
}

object RecordingFileSystem {
  val calls = scala.collection.mutable.ArrayBuffer.empty[String]
}
