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
  *
  * Every engine session shares the executor's classloader
  * ([[Sessions.sharedClassloader]]): `Sessions.local` builds with artifact
  * isolation off and `scoped` sets it off, so a bare `newSession()` would
  * again recompile every task class it runs. With isolation off, an
  * artifact added to one session is visible to every session, so the
  * engine adds none.
  */
class SessionGuardSpec extends AnyFunSuite {
  private val builderAllowed = Map(
    "src/main/scala/graft/Sessions.scala" -> "the local-session factory itself")
  private val catalogConfAllowed = Map(
    "src/main/scala/graft/operators/package.scala" -> "graftCatalog: the one registration")
  private val callerConfAllowed = Map(
    "src/main/scala/graft/operators/package.scala" ->
      "events(): nanosAsLong is read at scan planning, on the session that executes")

  private val newSessionAllowed = Map(
    "src/main/scala/graft/operators/package.scala" ->
      "scoped: the one new session, with the shared classloader set")
  private val artifactAllowed = Map.empty[String, String]

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

  test("src/main starts a new session only in scoped") {
    check(scan(Seq("src/main/scala"), """\.newSession\(\)""".r),
      newSessionAllowed, "a bare newSession()")
  }

  test("src/main adds no artifact: no addArtifact, ADD JAR or addJar") {
    check(scan(Seq("src/main/scala"), """(?i)addArtifacts?\(|\bADD\s+JARS?\b|addJars?\(""".r),
      artifactAllowed, "an added artifact")
  }
}
