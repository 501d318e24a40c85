package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source-scan guard for the V2 catalog's per-table state.
  *
  * Every contract a catalog table declares lives in ONE record
  * (`graft.sources.TableMeta`), replaced whole on CREATE, CTAS, DROP,
  * RENAME, evict and restart. A process-global map keyed by table key
  * beside it is how those lifecycle steps drifted apart before: each
  * step listed its maps by hand and each list missed a different one.
  * This scan fails on any `TrieMap` keyed by a `String` (or a tuple
  * starting with one) declared under `graft/sources` that is not in the
  * allowlist below, each entry with the reason it is not a table
  * contract. A new per-table contract becomes a `TableMeta` field.
  */
class SourcesMapGuardSpec extends AnyFunSuite {
  private val allowed: Map[String, String] = Map(
    "TableMeta.scala:byKey" -> "the one table-contract registry itself",
    "MemTable.scala:store" -> "the committed snapshots (row data, not contracts)",
    "MemTable.scala:history" -> "retained snapshot versions (row data)",
    "MemTable.scala:declaredParts" -> "partition catalog objects, keyed per partition value",
    "MemTable.scala:committedEpochs" -> "streaming sink epoch ledger (write state)",
    "MemTable.scala:lastCommitShape" -> "observability of the last commit (probes only)",
    "MemTable.scala:runtimePrunes" -> "observability of the last runtime filter (probes only)",
    "DurableSpill.scala:roots" -> "catalog name → warehouse root (per catalog, not per table)",
    "DurableSpill.scala:groupTallies" -> "local-mode read tallies keyed by spill dir (probes only)",
    "DurableSpill.scala:pageTallies" -> "local-mode read tallies keyed by spill dir (probes only)",
    "DurableSpill.scala:bloomTallies" -> "local-mode read tallies keyed by spill dir (probes only)",
    "DigestSink.scala:committed" -> "the digest sink's committed state (write state)",
    "DigestSink.scala:epochs" -> "the digest sink's streaming epoch ledger (write state)",
    "GeneratedColumnEval.scala:cache" -> "compiled expressions keyed by (schema, sql), not by table",
    "GraftSparkCatalog.scala:namespaces" -> "namespace properties (per namespace, not per table)")

  private val decl =
    ("""\bval\s+(\w+)\s*(?::[^=]*)?=\s*(?:new\s+)?""" +
      """(?:scala\.collection\.concurrent\.)?TrieMap(?:\.empty)?\s*\[\s*\(?\s*String\b""").r

  test("graft/sources declares no string-keyed TrieMap outside the allowlist") {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala/graft/sources")
    assert(java.nio.file.Files.isDirectory(root), s"run from the repo root: $root")
    val found = java.nio.file.Files.list(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
      .flatMap { f =>
        decl.findAllMatchIn(java.nio.file.Files.readString(f))
          .map(m => s"${f.getFileName}:${m.group(1)}")
      }.toSet
    val unlisted = found -- allowed.keySet
    assert(unlisted.isEmpty,
      "new string-keyed TrieMap under graft/sources — a per-table contract " +
        "belongs in TableMeta; anything else needs an allowlist reason:\n" +
        unlisted.toSeq.sorted.mkString("\n"))
    val stale = allowed.keySet -- found
    assert(stale.isEmpty, "allowlist entries with no declaration:\n" +
      stale.toSeq.sorted.mkString("\n"))
  }
}
