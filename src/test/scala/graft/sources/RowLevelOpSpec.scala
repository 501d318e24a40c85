package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, RowLevelOperation}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.scalatest.funsuite.AnyFunSuite
import graft.LocalSpark
import graft.operators.{graftCatalog, scoped}

/** Contract pins for the group-based row-level operation surface
  * (SupportsRowLevelOperations on MemTable, q279/q280):
  *
  *  - group-granular replace: a partition the operation scan never
  *    planned carries over UNTOUCHED (same Vector instance) — the commit
  *    swaps exactly the scanned groups, it does not rebuild the table;
  *  - optimistic concurrency: a rewrite whose base snapshot moved under
  *    its feet REJECTS the publish (CommitConflictException) instead of
  *    silently dropping the concurrent writer's commit;
  *  - SQL surfaces work end to end (UPDATE / MERGE INTO on tiny frames,
  *    value-checked here; the registry entries hash the sf-scale runs).
  */
class RowLevelOpSpec extends AnyFunSuite with LocalSpark {

  private def catSession(): SparkSession = scoped(spark, graftCatalog("graft_cat"): _*)

  test("pruned UPDATE rewrites only the matching partition; others carry by reference") {
    val s2 = catSession()
    val name = s"rlo_prune_${System.nanoTime()}"
    val tbl = s"graft_cat.spec.$name"
    val key = s"cat!graft_cat!spec!$name"
    s2.range(9)
      .select(col("id").as("k"), (col("id") % 3).cast("string").as("p"),
        (col("id") * 10).as("v"))
      .writeTo(tbl).partitionedBy(col("p")).create()
    val before = MemTable.store(key).parts
    s2.sql(s"UPDATE $tbl SET v = v + 1 WHERE p = '1'")
    val after = MemTable.store(key).parts
    // untouched groups: SAME Vector instances (carried, not rebuilt)
    assert(after("0") eq before("0"), "partition 0 must carry by reference")
    assert(after("2") eq before("2"), "partition 2 must carry by reference")
    // the scanned group was replaced with updated rows
    assert(after("1").map(r => r(2).asInstanceOf[Long]).sorted ==
      Vector(11L, 41L, 71L))
    assert(s2.sql(s"SELECT sum(v) FROM $tbl").collect()(0).getLong(0) ==
      (0 until 9).map(_ * 10L).sum + 3)
    s2.sql(s"DROP TABLE $tbl")
  }

  test("row-level rewrite based on a stale snapshot rejects the publish") {
    val s2 = catSession()
    val name = s"rlo_conflict_${System.nanoTime()}"
    val tbl = s"graft_cat.spec.$name"
    val key = s"cat!graft_cat!spec!$name"
    s2.range(4)
      .select(col("id").as("k"), (col("id") % 2).cast("string").as("p"),
        (col("id") * 10).as("v"))
      .writeTo(tbl).partitionedBy(col("p")).create()
    // the rewrite starts: operation pins the base version and scans
    val op = new MemRowLevelOperation(key, "p",
      RowLevelOperation.Command.UPDATE)
    val scan = op.newScanBuilder(CaseInsensitiveStringMap.empty()).build()
    scan.toBatch.planInputPartitions() // records scannedGroups
    // a concurrent commit moves the snapshot under the rewrite's feet
    s2.sql(s"DELETE FROM $tbl WHERE k = 0")
    // the rewrite's commit must now REJECT, leaving the delete intact
    val write = op.newWriteBuilder(new LogicalWriteInfo {
      override def queryId(): String = "spec"
      override def schema(): org.apache.spark.sql.types.StructType =
        MemTable.store(key).schema
      override def options(): CaseInsensitiveStringMap =
        CaseInsensitiveStringMap.empty()
    }).build().toBatch
    val msg = MemPartMessage(Map("0" -> Vector(Array[Any](99L, "0", 990L))))
    intercept[MemTable.CommitConflictException] {
      write.commit(Array(msg))
    }
    assert(s2.sql(s"SELECT count(*) FROM $tbl").collect()(0).getLong(0) == 3L,
      "rejected rewrite must leave the concurrent commit's state intact")
    s2.sql(s"DROP TABLE $tbl")
  }

  test("MERGE INTO: all three WHEN branches, value-checked") {
    val s2 = catSession()
    import s2.implicits._
    val name = s"rlo_merge_${System.nanoTime()}"
    val tbl = s"graft_cat.spec.$name"
    Seq((1L, "a", 10L), (2L, "a", 20L), (3L, "b", 30L))
      .toDF("k", "p", "v").writeTo(tbl).partitionedBy(col("p")).create()
    Seq((2L, 5L), (9L, 90L)).toDF("k", "v").createOrReplaceTempView("rlo_src")
    s2.sql(
      s"""MERGE INTO $tbl t USING rlo_src s ON t.k = s.k
          WHEN MATCHED THEN UPDATE SET v = t.v + s.v
          WHEN NOT MATCHED THEN INSERT (k, p, v) VALUES (s.k, 'n', s.v)
          WHEN NOT MATCHED BY SOURCE AND t.v < 15 THEN DELETE""")
    val got = s2.sql(s"SELECT k, p, v FROM $tbl ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    // k=1 deleted (not matched by source, v<15); k=2 updated 20+5;
    // k=3 survives (v=30 >= 15); k=9 inserted into partition n
    assert(got == Seq((2L, "a", 25L), (3L, "b", 30L), (9L, "n", 90L)), got)
    s2.sql(s"DROP TABLE $tbl")
  }

  test("VERSION AS OF: snapshots immutable, missing version errors cleanly") {
    val s2 = catSession()
    import s2.implicits._
    val name = s"rlo_tt_${System.nanoTime()}"
    val tbl = s"graft_cat.spec.$name"
    Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("k", "p", "v")
      .writeTo(tbl).partitionedBy(col("p")).create() // v1
    s2.sql(s"DELETE FROM $tbl WHERE p = 'a'")          // v2
    s2.sql(s"UPDATE $tbl SET v = v + 1 WHERE k = 2")   // v3
    assert(s2.sql(s"SELECT count(*) FROM $tbl VERSION AS OF 1")
      .collect()(0).getLong(0) == 2L)
    assert(s2.sql(s"SELECT v FROM $tbl VERSION AS OF 2 WHERE k = 2")
      .collect()(0).getLong(0) == 20L)
    assert(s2.sql(s"SELECT v FROM $tbl WHERE k = 2")
      .collect()(0).getLong(0) == 21L)
    val e = intercept[Exception] {
      s2.sql(s"SELECT * FROM $tbl VERSION AS OF 99").collect()
    }
    assert(e.getMessage.contains("no snapshot version 99"), e.getMessage)
    s2.sql(s"DROP TABLE $tbl")
  }

  test("ALTER TABLE ADD COLUMNS: schema-per-snapshot — VERSION AS OF pre-alter serves the old schema") {
    val s2 = catSession()
    import s2.implicits._
    val name = s"rlo_evo_${System.nanoTime()}"
    val tbl = s"graft_cat.spec.$name"
    Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("k", "p", "v")
      .writeTo(tbl).partitionedBy(col("p")).create()       // v1: (k, p, v)
    s2.sql(s"ALTER TABLE $tbl ADD COLUMNS (w BIGINT)")       // v2: (k, p, v, w)
    s2.sql(s"INSERT INTO $tbl VALUES (3, 'a', 30, 300)")     // v3: appends
    // head: widened schema, old rows NULL-padded, insert appended
    val head = s2.sql(s"SELECT k, w FROM $tbl ORDER BY k").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))).toSeq
    assert(head == Seq((1L, -1L), (2L, -1L), (3L, 300L)), head)
    // pre-alter snapshot still serves the OLD 3-column schema
    val v1 = s2.sql(s"SELECT * FROM $tbl VERSION AS OF 1")
    assert(v1.schema.fieldNames.toSeq == Seq("k", "p", "v"), v1.schema)
    assert(v1.count() == 2L)
    // DROP COLUMN (supported since r12's q310): schema AND rows narrow in
    // one publish; the dropped data stays readable via time travel
    s2.sql(s"ALTER TABLE $tbl DROP COLUMN v")
    assert(s2.table(tbl).schema.fieldNames.toSeq == Seq("k", "p", "w"))
    assert(s2.sql(s"SELECT sum(v) FROM $tbl VERSION AS OF 1").head().getLong(0) == 30L)
    // a genuinely unsupported ALTER still refuses loudly
    val e = intercept[Exception] {
      s2.sql(s"ALTER TABLE $tbl ALTER COLUMN k TYPE STRING")
    }
    assert(e.getMessage.contains("unsupported ALTER"), e.getMessage)
    s2.sql(s"DROP TABLE $tbl")
  }

  test("RENAME TO moves the snapshot, partition column, and version history") {
    val s2 = catSession()
    import s2.implicits._
    val a = s"rlo_rnA_${System.nanoTime()}"
    val b = s"rlo_rnB_${System.nanoTime()}"
    Seq((1L, "x", 5L)).toDF("k", "p", "v")
      .writeTo(s"graft_cat.spec.$a").partitionedBy(col("p")).create()
    s2.sql(s"ALTER TABLE graft_cat.spec.$a RENAME TO spec.$b")
    assert(s2.sql(s"SELECT v FROM graft_cat.spec.$b").collect()(0).getLong(0) == 5L)
    // history traveled with the rename
    assert(s2.sql(s"SELECT count(*) FROM graft_cat.spec.$b VERSION AS OF 1")
      .collect()(0).getLong(0) == 1L)
    intercept[Exception] { s2.sql(s"SELECT * FROM graft_cat.spec.$a").collect() }
    s2.sql(s"DROP TABLE graft_cat.spec.$b")
  }

  test("row-level discipline routing: deltaIdCol plans WriteDelta, plain tables ReplaceData") {
    val s2 = catSession()
    import s2.implicits._
    val g = s"rlo_cow_${System.nanoTime()}"
    val d = s"rlo_mor_${System.nanoTime()}"
    Seq((1L, "a", 10L)).toDF("k", "p", "v")
      .writeTo(s"graft_cat.spec.$g").partitionedBy(col("p")).create()
    Seq((1L, "a", 10L)).toDF("k", "p", "v")
      .writeTo(s"graft_cat.spec.$d").partitionedBy(col("p"))
      .tableProperty("deltaIdCol", "k").create()
    def planOf(tbl: String): String =
      s2.sql(s"EXPLAIN UPDATE graft_cat.spec.$tbl SET v = v + 1 WHERE k = 1")
        .collect()(0).getString(0)
    assert(planOf(g).contains("ReplaceData"), planOf(g))
    assert(!planOf(g).contains("WriteDelta"))
    assert(planOf(d).contains("WriteDelta"), planOf(d))
    assert(!planOf(d).contains("ReplaceData"))
    s2.sql(s"DROP TABLE graft_cat.spec.$g")
    s2.sql(s"DROP TABLE graft_cat.spec.$d")
  }

  test("delta writes: partition-moving update, per-row delete, stale-base rejection") {
    val s2 = catSession()
    import s2.implicits._
    val name = s"rlo_dlt_${System.nanoTime()}"
    val tbl = s"graft_cat.spec.$name"
    val key = s"cat!graft_cat!spec!$name"
    Seq((1L, "a", 10L), (2L, "a", 20L), (3L, "b", 30L))
      .toDF("k", "p", "v").writeTo(tbl).partitionedBy(col("p"))
      .tableProperty("deltaIdCol", "k").create()
    s2.sql(s"UPDATE $tbl SET p = 'c', v = v + 1 WHERE k = 2") // moves group
    val parts = MemTable.store(key).parts
    assert(parts("a").map(_(0)) == Vector(1L) &&
      parts("c").map(r => (r(0), r(2))) == Vector((2L, 21L)), parts)
    s2.sql(s"DELETE FROM $tbl WHERE k % 3 = 0") // untranslatable -> delta
    assert(s2.sql(s"SELECT count(*) FROM $tbl").collect()(0).getLong(0) == 2L)
    // stale-base rejection on the delta commit path
    val op = new MemDeltaRowLevelOperation(key, "p", "k",
      RowLevelOperation.Command.DELETE)
    s2.sql(s"DELETE FROM $tbl WHERE k = 1") // moves the version under op
    val write = op.newWriteBuilder(new LogicalWriteInfo {
      override def queryId(): String = "spec"
      override def schema(): org.apache.spark.sql.types.StructType =
        new org.apache.spark.sql.types.StructType()
      override def rowIdSchema(): java.util.Optional[org.apache.spark.sql.types.StructType] =
        java.util.Optional.of(new org.apache.spark.sql.types.StructType()
          .add("k", org.apache.spark.sql.types.LongType, false))
      override def options(): CaseInsensitiveStringMap =
        CaseInsensitiveStringMap.empty()
    }).build().toBatch
    intercept[MemTable.CommitConflictException] {
      write.commit(Array(MemDeltaMessage(Vector(("a", 2L)), Vector.empty, Vector.empty)))
    }
    s2.sql(s"DROP TABLE $tbl")
  }

  test("partition DDL contracts: duplicate ADD and missing RENAME error; TRUNCATE keeps the object") {
    val s2 = catSession()
    import s2.implicits._
    val name = s"rlo_pdl_${System.nanoTime()}"
    val tbl = s"graft_cat.spec.$name"
    Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("k", "p", "v")
      .writeTo(tbl).partitionedBy(col("p")).create()
    // ADD over a populated value refuses (partition objects are unique)
    intercept[Exception] { s2.sql(s"ALTER TABLE $tbl ADD PARTITION (p = 'a')") }
    // but IF NOT EXISTS passes through quietly
    s2.sql(s"ALTER TABLE $tbl ADD IF NOT EXISTS PARTITION (p = 'a')")
    // RENAME of a missing partition errors; to an existing one errors
    intercept[Exception] {
      s2.sql(s"ALTER TABLE $tbl PARTITION (p = 'zz') RENAME TO PARTITION (p = 'q')")
    }
    intercept[Exception] {
      s2.sql(s"ALTER TABLE $tbl PARTITION (p = 'a') RENAME TO PARTITION (p = 'b')")
    }
    // TRUNCATE drops rows, keeps the catalog object
    s2.sql(s"TRUNCATE TABLE $tbl PARTITION (p = 'a')")
    val parts = s2.sql(s"SHOW PARTITIONS $tbl").collect().map(_.getString(0)).toSeq
    assert(parts == Seq("p=a", "p=b"), parts)
    assert(s2.sql(s"SELECT count(*) FROM $tbl").collect()(0).getLong(0) == 1L)
    // DROP removes the object too
    s2.sql(s"ALTER TABLE $tbl DROP PARTITION (p = 'a')")
    assert(s2.sql(s"SHOW PARTITIONS $tbl").collect().map(_.getString(0)).toSeq
      == Seq("p=b"))
    s2.sql(s"DROP TABLE $tbl")
  }

  test("DROP TABLE purges history, declared partitions, and pinned time-travel entries") {
    val s2 = catSession()
    import s2.implicits._
    val name = s"rlo_drop_${System.nanoTime()}"
    val tbl = s"graft_cat.spec.$name"
    val key = s"cat!graft_cat!spec!$name"
    Seq((1L, "a", 10L)).toDF("k", "p", "v")
      .writeTo(tbl).partitionedBy(col("p")).create()           // v1
    s2.sql(s"UPDATE $tbl SET v = v + 1 WHERE k = 1")            // v2
    s2.sql(s"ALTER TABLE $tbl ADD PARTITION (p = 'declared')")
    // pin v1 (creates the key!@v1 cache entry)
    assert(s2.sql(s"SELECT v FROM $tbl VERSION AS OF 1").collect()(0).getLong(0) == 10L)
    s2.sql(s"DROP TABLE $tbl")
    assert(!MemTable.history.keys.exists(_._1 == key), "history must be purged")
    assert(!MemTable.declaredParts.keys.exists(_._1 == key), "declaredParts must be purged")
    assert(!MemTable.store.keys.exists(_.startsWith(s"$key!@v")), "pins must be purged")
    // a recreated table under the same identifier starts from scratch
    Seq((9L, "z", 90L)).toDF("k", "p", "v")
      .writeTo(tbl).partitionedBy(col("p")).create()
    val e = intercept[Exception] {
      s2.sql(s"SELECT * FROM $tbl VERSION AS OF 2").collect()
    }
    assert(e.getMessage.contains("no snapshot version 2"), e.getMessage)
    assert(s2.sql(s"SHOW PARTITIONS $tbl").collect().map(_.getString(0)).toSeq
      == Seq("p=z"))
    // previously declared value is addable again (no ghost declaration)
    s2.sql(s"ALTER TABLE $tbl ADD PARTITION (p = 'declared')")
    s2.sql(s"DROP TABLE $tbl")
  }

  test("RENAME TO migrates declared partitions and drops stale pins") {
    val s2 = catSession()
    import s2.implicits._
    val a = s"rlo_rnP_${System.nanoTime()}"
    val b = s"rlo_rnQ_${System.nanoTime()}"
    val keyA = s"cat!graft_cat!spec!$a"
    Seq((1L, "x", 5L)).toDF("k", "p", "v")
      .writeTo(s"graft_cat.spec.$a").partitionedBy(col("p")).create()
    s2.sql(s"ALTER TABLE graft_cat.spec.$a ADD PARTITION (p = 'empty')")
    assert(s2.sql(s"SELECT v FROM graft_cat.spec.$a VERSION AS OF 1")
      .collect()(0).getLong(0) == 5L) // creates a pin under the old key
    s2.sql(s"ALTER TABLE graft_cat.spec.$a RENAME TO spec.$b")
    assert(s2.sql(s"SHOW PARTITIONS graft_cat.spec.$b")
      .collect().map(_.getString(0)).toSeq == Seq("p=empty", "p=x"))
    assert(!MemTable.declaredParts.keys.exists(_._1 == keyA))
    assert(!MemTable.store.keys.exists(_.startsWith(s"$keyA!@v")))
    // pinned reads re-resolve from the MIGRATED history under the new name
    assert(s2.sql(s"SELECT count(*) FROM graft_cat.spec.$b VERSION AS OF 1")
      .collect()(0).getLong(0) == 1L)
    s2.sql(s"DROP TABLE graft_cat.spec.$b")
  }

  test("time-travel tables are read-only: no SupportsWrite, BATCH_READ only") {
    val s2 = catSession()
    import s2.implicits._
    val name = s"rlo_ttro_${System.nanoTime()}"
    val tbl = s"graft_cat.spec.$name"
    Seq((1L, "a", 10L)).toDF("k", "p", "v")
      .writeTo(tbl).partitionedBy(col("p")).create()
    val cat = s2.sessionState.catalogManager.catalog("graft_cat")
      .asInstanceOf[GraftSparkCatalog]
    val ident = org.apache.spark.sql.connector.catalog.Identifier
      .of(Array("spec"), name)
    val pinned = cat.loadTable(ident, "1")
    assert(!pinned.isInstanceOf[org.apache.spark.sql.connector.catalog.SupportsWrite])
    assert(!pinned.isInstanceOf[org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations])
    assert(pinned.capabilities().size() == 1 &&
      pinned.capabilities().contains(
        org.apache.spark.sql.connector.catalog.TableCapability.BATCH_READ))
    // the read path through the pinned table still serves the snapshot
    assert(s2.sql(s"SELECT v FROM $tbl VERSION AS OF 1").collect()(0).getLong(0) == 10L)
    s2.sql(s"DROP TABLE $tbl")
  }

  test("delta write with NULL partition value raises a clean error naming the column") {
    val s2 = catSession()
    import s2.implicits._
    val name = s"rlo_nullp_${System.nanoTime()}"
    val tbl = s"graft_cat.spec.$name"
    Seq((1L, "a", 10L)).toDF("k", "p", "v")
      .writeTo(tbl).partitionedBy(col("p"))
      .tableProperty("deltaIdCol", "k").create()
    Seq((7L, 70L)).toDF("k", "v").createOrReplaceTempView("rlo_null_src")
    val e = intercept[Exception] {
      s2.sql(
        s"""MERGE INTO $tbl t USING rlo_null_src s ON t.k = s.k
            WHEN NOT MATCHED THEN INSERT (k, p, v)
              VALUES (s.k, CAST(NULL AS STRING), s.v)""")
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(e).exists(c => c.isInstanceOf[IllegalArgumentException] &&
      c.getMessage.contains("partition column 'p'")),
      causes(e).map(_.toString).mkString(" | "))
    // the failed commit must not have published anything
    assert(s2.sql(s"SELECT count(*) FROM $tbl").collect()(0).getLong(0) == 1L)
    // the DELTA path (WriteDelta update arrival with a NULL partition)
    val e2 = intercept[Exception] {
      s2.sql(s"UPDATE $tbl SET p = CAST(NULL AS STRING) WHERE k = 1")
    }
    assert(causes(e2).exists(c => c.isInstanceOf[IllegalArgumentException] &&
      c.getMessage.contains("partition column 'p'")),
      causes(e2).map(_.toString).mkString(" | "))
    assert(s2.sql(s"SELECT p FROM $tbl WHERE k = 1").collect()(0).getString(0) == "a")
    s2.sql(s"DROP TABLE $tbl")
  }
}
