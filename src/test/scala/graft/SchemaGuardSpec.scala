package graft

import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Output-schema regression guard (VERDICT r8 item 2).
  *
  * Round 8's only two driver hash failures (q110, q116) were queries whose
  * OUTPUT carried a raw DecimalType column: Spark's parquet DECIMAL and
  * DuckDB's DECIMAL canonicalize differently in the driver's hash (trailing
  * zeros / type rendering), so bit-identical values still hash-mismatch.
  * The repo-wide discipline is integer cents (`(x*100)::long`, q42/q83) or
  * `.cast("double")` (q1) at the OUTPUT boundary — DECIMAL arithmetic
  * inside a plan is fine and encouraged for exactness.
  *
  * This spec walks every registry entry's resolved output schema at
  * sf0.001 (analysis only for lazy plans; eager builds are memoized
  * per-JVM) and fails on any top-level or nested DecimalType, making the
  * bug class unreintroducible.
  */
class SchemaGuardSpec extends AnyFunSuite with LocalSpark {

  private val sfDir = "/root/testdata/sf0.001"

  private def decimalPaths(dt: DataType, path: String): Seq[String] = dt match {
    case _: DecimalType     => Seq(path)
    case s: StructType      => s.fields.flatMap(f => decimalPaths(f.dataType, s"$path.${f.name}")).toSeq
    case a: ArrayType       => decimalPaths(a.elementType, s"$path[]")
    case m: MapType         => decimalPaths(m.keyType, s"$path{k}") ++ decimalPaths(m.valueType, s"$path{v}")
    case _                  => Seq.empty
  }

  test("no registry query emits a DecimalType column — outputs are cents/double by contract") {
    spark.sparkContext.setLogLevel("WARN")
    val offenders = SparkEntry.registry.flatMap { q =>
      val schema = q.build(spark, sfDir).schema
      schema.fields.flatMap(f => decimalPaths(f.dataType, f.name))
        .map(p => s"${q.name}: $p")
    }
    assert(offenders.isEmpty,
      s"raw DECIMAL at the output boundary (driver-hash hazard):\n  ${offenders.mkString("\n  ")}")
  }
}
