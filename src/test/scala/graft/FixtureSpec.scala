package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.LogicalTypeAnnotation
import org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit

/** Fixture-drift canary (VERDICT r7 item 5).
  *
  * The driver regenerates `/root/testdata` between rounds; round 7's
  * regeneration silently switched `events.ts` from physical timestamp[ns]
  * to timestamp[us] and broke 54 registry entries with nothing pointing at
  * the cause. This spec pins the PHYSICAL parquet type (footer-level, not
  * the Spark-decoded type) of every load-bearing column, so the next
  * generation change fails ONE obvious, named test instead.
  *
  * Expectation recorded 2026-08-13: events.ts / l_shipdate / o_orderdate
  * are int64 TIMESTAMP(isAdjustedToUTC=false, unit=MICROS) — i.e.
  * timestamp[us]; `operators.events()` also still accepts the older
  * timestamp[ns] generation by branching on the loaded schema.
  */
class FixtureSpec extends AnyFunSuite {
  private val sfDir = "/root/testdata/sf0.001"

  private val tsMicrosNaive: LogicalTypeAnnotation =
    LogicalTypeAnnotation.timestampType(/* isAdjustedToUTC = */ false, TimeUnit.MICROS)
  private val utf8: LogicalTypeAnnotation = LogicalTypeAnnotation.stringType()

  /** (primitive type name, logical annotation) straight from the footer. */
  private def footerTypes(table: String): Map[String, (String, Option[LogicalTypeAnnotation])] = {
    val in = HadoopInputFile.fromPath(new Path(s"$sfDir/$table.parquet"), new Configuration())
    val reader = ParquetFileReader.open(in)
    try {
      import scala.jdk.CollectionConverters._
      reader.getFooter.getFileMetaData.getSchema.getFields.asScala.map { f =>
        val prim = if (f.isPrimitive) f.asPrimitiveType().getPrimitiveTypeName.name() else "GROUP"
        f.getName -> (prim, Option(f.getLogicalTypeAnnotation))
      }.toMap
    } finally reader.close()
  }

  private def assertCol(
      table: String,
      col: String,
      primitive: String,
      logical: Option[LogicalTypeAnnotation]): Unit = {
    val types = footerTypes(table)
    val actual = types.getOrElse(
      col, fail(s"$table.parquet: column '$col' missing — fixture generation changed"))
    assert(actual._1 == primitive && actual._2 == logical,
      s"$table.$col physical type drifted: expected ($primitive, $logical), " +
        s"got $actual — driver regenerated the fixtures with a new schema; " +
        s"audit every reader of this column (r7 precedent: events.ts ns→us broke 54 entries)")
  }

  test("events.ts is physical int64 timestamp[us] (naive)") {
    assertCol("events", "ts", "INT64", Some(tsMicrosNaive))
  }

  test("events non-ts columns hold their physical types") {
    assertCol("events", "event_id", "INT64", None)
    assertCol("events", "user_id", "INT64", None)
    assertCol("events", "event_type", "BINARY", Some(utf8))
    assertCol("events", "value", "DOUBLE", None)
    assertCol("events", "props", "BINARY", Some(utf8))
  }

  test("lineitem/orders timestamp columns are timestamp[us] (naive)") {
    assertCol("lineitem", "l_shipdate", "INT64", Some(tsMicrosNaive))
    assertCol("orders", "o_orderdate", "INT64", Some(tsMicrosNaive))
  }

  test("key/measure columns of the relational tables hold their physical types") {
    assertCol("lineitem", "l_orderkey", "INT64", None)
    assertCol("lineitem", "l_linenumber", "INT32", None)
    assertCol("lineitem", "l_quantity", "DOUBLE", None)
    assertCol("orders", "o_orderkey", "INT64", None)
    assertCol("orders", "o_totalprice", "DOUBLE", None)
    assertCol("customer", "c_custkey", "INT64", None)
    assertCol("customer", "c_nationkey", "INT32", None)
    assertCol("supplier", "s_suppkey", "INT64", None)
    assertCol("part", "p_partkey", "INT64", None)
    assertCol("part", "p_size", "INT32", None)
    assertCol("nation", "n_nationkey", "INT32", None)
    assertCol("region", "r_regionkey", "INT32", None)
  }

  test("documents/embeddings pipeline tables hold their physical types") {
    assertCol("documents", "doc_id", "INT64", None)
    assertCol("documents", "text", "BINARY", Some(utf8))
    assertCol("documents", "lang", "BINARY", Some(utf8))
    assertCol("documents", "source", "BINARY", Some(utf8))
    assertCol("documents", "n_chars", "INT64", None)
    assertCol("embeddings", "vec_id", "INT64", None)
    assertCol("embeddings", "label", "INT32", None)
    // embedding is a LIST group (list<float>), not a primitive
    assertCol("embeddings", "embedding", "GROUP", Some(LogicalTypeAnnotation.listType()))
  }
}
