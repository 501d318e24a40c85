package graft.catalog

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Source-scan guard for the fixed costs of a catalog command.
  *
  * On the local file system without the native Hadoop library, reading a
  * file's permission, owner or group forks `ls -ld`. Hadoop's recursive
  * file iterator and located-status listing read all three for every entry
  * they return, so discovery and every fixture read forked one process per
  * file: `graft.operators.leafFiles` lists without them. And the full
  * `spark.catalog.refreshTable` re-resolves the table through the
  * metastore, which a partition command needs only when a cached plan over
  * the table must be recached. Each scan fails on a new use outside these
  * rules; an allowlist entry carries its reason.
  */
class CatalogCostGuardSpec extends AnyFunSuite {
  private val refreshAllowed = Map(
    "src/main/scala/graft/catalog/GraftCatalog.scala" ->
      "alterPartitions: the branch taken when cached data exists, which must be recached")

  /** One matching code line: its file, 1-based number, text and the line
    * before it. */
  private final case class Hit(file: String, n: Int, line: String, prev: String) {
    override def toString = s"$file:$n: ${line.trim}"
  }

  /** Every code line under `root` that matches `pattern`; lines that open
    * with a comment are skipped. */
  private def scan(root: String, pattern: scala.util.matching.Regex): Seq[Hit] = {
    val dir = Paths.get(root)
    assert(Files.isDirectory(dir), s"run from the repo root: $dir")
    Files.walk(dir).iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq.flatMap { f =>
      val lines = Files.readAllLines(f).asScala.toIndexedSeq
      lines.indices.collect {
        case i if !Seq("//", "/*", "*").exists(lines(i).trim.startsWith) &&
            pattern.findFirstIn(lines(i)).isDefined =>
          Hit(f.toString, i + 1, lines(i), if (i > 0) lines(i - 1) else "")
      }
    }
  }

  test("src/main lists files only through leafFiles") {
    val hits = scan("src/main/scala", """\blistFiles\(|\blistLocatedStatus\(|\bLocatedFileStatus\b""".r)
      .map(_.toString)
    assert(hits.isEmpty, "a listing that reads each entry's permissions (one forked `ls -ld` " +
      "per entry on a local FS); use graft.operators.leafFiles")
  }

  test("graft.catalog runs the full spark.catalog.refreshTable only when data is cached") {
    val hits = scan("src/main/scala/graft/catalog", """spark\.catalog\.refreshTable\b""".r)
    val unlisted = (hits.map(_.file).toSet -- refreshAllowed.keySet).toSeq.sorted
    assert(unlisted.isEmpty, "spark.catalog.refreshTable outside the allowlist")
    val stale = (refreshAllowed.keySet -- hits.map(_.file)).toSeq.sorted
    assert(stale.isEmpty, "allowlist entries with no match")
    // the allowed call is the `else` of an `if (…cacheManager.isEmpty)`
    val outside = hits.filterNot(h =>
      h.line.trim.startsWith("else") && h.prev.contains("cacheManager.isEmpty")).map(_.toString)
    assert(outside.isEmpty, "spark.catalog.refreshTable outside the cached-data branch")
  }
}
