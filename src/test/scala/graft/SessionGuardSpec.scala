package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source-scan guard for session wiring.
  *
  * A session is built in one place, [[Sessions.local]], and a builder
  * that needs conf of its own runs on `operators.scoped(s, conf*)`; a
  * catalog is registered only through `operators.graftCatalog`. Each copy
  * of that wiring at a call site drifted on its own before (a default, a
  * forgotten conf, a registration left on the caller's session, which
  * JobRunner's async jobs share). This scan fails on a new copy outside
  * the allowlists below, each entry with its reason.
  */
class SessionGuardSpec extends AnyFunSuite {
  private val builderAllowed = Map(
    "src/main/scala/graft/Sessions.scala" -> "the local-session factory itself")
  private val catalogConfAllowed = Map(
    "src/main/scala/graft/operators/package.scala" -> "graftCatalog: the one registration")
  private val callerConfAllowed = Map(
    "src/main/scala/graft/operators/Dedup.scala" ->
      "eager save/restore blocks whose frames are built on the caller's session",
    "src/main/scala/graft/operators/package.scala" ->
      "events(): nanosAsLong is read at scan planning, on the session that executes")

  private def scan(roots: Seq[String], pattern: scala.util.matching.Regex): Set[String] = {
    import scala.jdk.CollectionConverters._
    roots.flatMap { r =>
      val root = java.nio.file.Paths.get(r)
      assert(java.nio.file.Files.isDirectory(root), s"run from the repo root: $root")
      java.nio.file.Files.walk(root).iterator().asScala
        .filter(_.toString.endsWith(".scala")).toSeq
        .filter(f => pattern.findFirstIn(java.nio.file.Files.readString(f)).isDefined)
        .map(_.toString)
    }.toSet
  }

  private def check(found: Set[String], allowed: Map[String, String], what: String): Unit = {
    val unlisted = found -- allowed.keySet
    assert(unlisted.isEmpty,
      s"$what outside the allowlist:\n" + unlisted.toSeq.sorted.mkString("\n"))
    val stale = allowed.keySet -- found
    assert(stale.isEmpty, "allowlist entries with no match:\n" + stale.toSeq.sorted.mkString("\n"))
  }

  test("sessions are built only in Sessions.scala") {
    check(scan(Seq("src/main/scala", "src/test/scala"), """SparkSession\s*\.\s*builder""".r),
      builderAllowed, "a session builder")
  }

  test("src/main sets spark.sql.catalog.* conf only through graftCatalog") {
    check(scan(Seq("src/main/scala"), """"spark\.sql\.catalog\.""".r),
      catalogConfAllowed, "a catalog conf key")
  }

  test("operators set conf on the caller's session only in the allowlisted files") {
    check(scan(Seq("src/main/scala/graft/operators"), """\b(s|spark)\.conf\.set\(""".r),
      callerConfAllowed, "conf.set on the caller's session")
  }
}
