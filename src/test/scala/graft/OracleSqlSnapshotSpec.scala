package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the text of every DuckDB oracle ([[OracleSqlSnapshot]]): an oracle
  * assembled from shared fragments must stay token-identical to the SQL it
  * replaced. Needs no Spark session. */
class OracleSqlSnapshotSpec extends AnyFunSuite {
  test("every oracle's SQL matches its pinned digest") {
    val (now, pinned) = (OracleSqlSnapshot.current, OracleSqlSnapshot.pinned)
    val changed = (now.keySet ++ pinned.keySet).toSeq.sorted.flatMap { name =>
      (pinned.get(name), now.get(name)) match {
        case (Some(a), Some(b)) if a == b => None
        case (None, Some(_)) => Some(s"$name: new oracle, no pinned digest")
        case (Some(_), None) => Some(s"$name: pinned, but the registry has no oracle")
        case _ => Some(s"$name: SQL changed")
      }
    }
    assert(changed.isEmpty,
      changed.mkString("oracle SQL differs from the pinned digest:\n", "\n",
        s"\nIf the change is intended, regenerate with: ${OracleSqlSnapshot.command}\n" +
          "and say so in CHANGES.md."))
  }

  test("whitespace collapses outside quoted literals only") {
    import OracleSqlSnapshot.normalized
    assert(normalized("SELECT  a,\n\t b  FROM t ") == "SELECT a, b FROM t")
    assert(normalized("SELECT 'a  b',  \"c\n d\"") == "SELECT 'a  b', \"c\n d\"")
    assert(normalized("SELECT 'it''s  x'  AS y") == "SELECT 'it''s  x' AS y")
  }
}
