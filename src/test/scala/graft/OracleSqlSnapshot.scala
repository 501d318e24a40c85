package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

/** The pinned digest of every oracle in [[SparkEntry.oracleSql]]: one
  * `<sha256>  <name>` line per entry, sorted by name, in [[path]].
  *
  * The digest is taken over the SQL with each whitespace run outside a
  * quoted literal (`'…'` or `"…"`) collapsed to one space, so an oracle
  * may be re-indented or assembled from shared fragments, but any change
  * to what DuckDB runs changes its line.
  *
  * Regenerate after changing an oracle on purpose: [[command]]. */
object OracleSqlSnapshot {
  val path = "src/test/resources/oracle_sql.sha256"
  val command = """sbt "Test/runMain graft.OracleSqlSnapshot""""

  def normalized(sql: String): String = {
    val out = new StringBuilder
    var quote = 0.toChar
    var gap = false
    for (c <- sql) {
      if (quote == 0 && c.isWhitespace) gap = true
      else {
        if (gap && out.nonEmpty) out += ' '
        gap = false
        if (quote == 0 && (c == '\'' || c == '"')) quote = c
        else if (c == quote) quote = 0.toChar
        out += c
      }
    }
    out.toString
  }

  def digest(sql: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(normalized(sql).getBytes(UTF_8)).map(b => f"${b & 0xff}%02x").mkString

  def current: Map[String, String] =
    SparkEntry.oracleSql.map { case (name, sql) => name -> digest(sql) }

  def pinned: Map[String, String] =
    Files.readAllLines(Paths.get(path), UTF_8).toArray(Array.empty[String]).toSeq
      .filter(_.nonEmpty).map { line =>
        val Array(hash, name) = line.split("  ", 2)
        name -> hash
      }.toMap

  def main(args: Array[String]): Unit = {
    val lines = current.toSeq.sortBy(_._1).map { case (name, hash) => s"$hash  $name" }
    Files.writeString(Paths.get(path), lines.mkString("", "\n", "\n"), UTF_8)
    println(s"[oracle-sql] wrote ${lines.size} digests to $path")
  }
}
