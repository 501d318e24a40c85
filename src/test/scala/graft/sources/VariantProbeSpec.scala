package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import graft.LocalSpark
import graft.operators.{graftCatalog, runTag, scoped}

/** Exploration probe for the DSv2 variant-extraction pushdown contract
  * (SupportsPushDownVariantExtractions, Spark 4.1): what extractions the
  * rule offers, what read schema follows acceptance, and what value shape
  * the reader must serve. Keep: it documents the measured contract the
  * MemTable implementation relies on, and fails loudly on a Spark
  * upgrade that changes it. */
class VariantProbeSpec extends AnyFunSuite with LocalSpark {

  private val variantPushdown = "spark.sql.variant.pushVariantIntoScan" -> "true"

  test("probe: variant column round-trips through MemTable and extraction pushes to the scan") {
    val s2 = scoped(spark, graftCatalog("graft_var") :+ variantPushdown: _*)
    val t = s"graft_var.ns.vprobe_${runTag()}"
    s2.sql(s"CREATE TABLE $t (k BIGINT, status STRING, v VARIANT) PARTITIONED BY (status)")
    s2.sql(s"""INSERT INTO $t SELECT 1L, 'A',
      parse_json('{"a": 7, "b": {"c": "x"}}')""")
    s2.sql(s"""INSERT INTO $t SELECT 2L, 'B', parse_json('{"a": 9}')""")
    val df = s2.sql(
      s"SELECT k, variant_get(v, '$$.a', 'bigint') AS a FROM $t ORDER BY k")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("pushedVariantExtractions="),
      s"extraction should be pushed to the scan\n$plan")
    assert(!plan.contains("variant_get"),
      s"no engine-side variant_get should remain\n$plan")
    val rows = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(rows == Seq((1L, 7L), (2L, 9L)))
    // nested path + string target + NULL variant row in one projection
    s2.sql(s"INSERT INTO $t SELECT 3L, 'A', CAST(NULL AS VARIANT)")
    val df2 = s2.sql(
      s"""SELECT k, variant_get(v, '$$.b.c', 'string') AS c,
                 variant_get(v, '$$.a', 'bigint') AS a
          FROM $t ORDER BY k""")
    assert(df2.queryExecution.executedPlan.toString
      .contains("pushedVariantExtractions="))
    val rows2 = df2.collect()
      .map(r => (r.getLong(0), r.getString(1), if (r.isNullAt(2)) -1L else r.getLong(2)))
      .toSeq
    assert(rows2 == Seq((1L, "x", 7L), (2L, null, 9L), (3L, null, -1L)))
    // a filter ON an extracted path composes with the pushdown
    val df3 = s2.sql(
      s"SELECT k FROM $t WHERE variant_get(v, '$$.a', 'bigint') > 8")
    assert(df3.collect().map(_.getLong(0)).toSeq == Seq(2L))
  }

  test("variant survives the durable spill: evict, restore, file-backed read, task-side extraction") {
    val warehouse = java.nio.file.Files.createTempDirectory("graft_vdur").toString
    val s2 = scoped(spark, graftCatalog("graft_vdur", Some(warehouse)) :+ variantPushdown: _*)
    val name = s"vdur_${runTag()}"
    val t = s"graft_vdur.ns.$name"
    val key = s"cat!graft_vdur!ns!$name"
    s2.sql(s"CREATE TABLE $t (k BIGINT, status STRING, v VARIANT) PARTITIONED BY (status)")
    s2.sql(s"""INSERT INTO $t SELECT 1L, 'A', parse_json('{"a": 7}')""")
    s2.sql(s"INSERT INTO $t SELECT 2L, 'B', CAST(NULL AS VARIANT)")
    graft.sources.MemTable.evict(key)
    // plain read of the restored table is FILE-BACKED — with shredding
    // OFF first, pinning the no-extraction path in isolation (ANY
    // variant reference, even to_json, otherwise pushes a whole-$
    // extraction)
    s2.conf.set("spark.sql.variant.pushVariantIntoScan", "false")
    val raw = s2.sql(s"SELECT k, to_json(v) AS j FROM $t ORDER BY k")
    assert(raw.queryExecution.executedPlan.toString.contains("fileBacked="),
      raw.queryExecution.executedPlan.toString)
    assert(raw.collect().map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, """{"a":7}"""), (2L, null)))
    // extraction pushdown on a restored snapshot STAYS file-backed: the
    // shippable specs rebuild the VariantGet evaluators inside the task
    s2.conf.set("spark.sql.variant.pushVariantIntoScan", "true")
    val ex = s2.sql(s"SELECT k, variant_get(v, '$$.a', 'bigint') AS a FROM $t ORDER BY k")
    val exDesc = ex.queryExecution.executedPlan.toString
    assert(exDesc.contains("fileBacked=") &&
      exDesc.contains("pushedVariantExtractions="), exDesc)
    assert(ex.collect().map(r =>
      (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))).toSeq ==
      Seq((1L, 7L), (2L, -1L)))
    // and the driver-side lazy cache stayed empty across both reads
    graft.sources.MemTable.store(key).parts match {
      case lp: graft.sources.LazyParts => assert(lp.materializedCount == 0)
      case other => fail(s"expected a LazyParts snapshot, got $other")
    }
    s2.sql(s"DROP TABLE $t")
  }
}
