package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.LocalSpark
import graft.operators.{graftCatalog, scoped}

/** Contract pins for durable catalog persistence ([[DurableSpill]]) and
  * TIMESTAMP AS OF resolution:
  *
  *  - a table written through a warehouse-configured catalog survives
  *    [[MemTable.evict]] (the restart simulation): head state, VERSION
  *    AS OF a pre-restart version, declared partitions, and per-version
  *    schemas all restore lazily from the parquet+manifest spill;
  *  - history truncation at [[MemTable.historyDepth]] prunes the version
  *    directory on disk in the same publish, and a restore serves only
  *    the retained window;
  *  - TIMESTAMP AS OF resolves the latest commit ≤ the instant; an
  *    instant before the earliest retained commit errors cleanly.
  */
class DurableCatalogSpec extends AnyFunSuite with LocalSpark {

  private lazy val warehouse =
    java.nio.file.Files.createTempDirectory("graft_dur_spec").toString

  private def catSession(): SparkSession =
    scoped(spark, graftCatalog("graft_dur", Some(warehouse)): _*)

  private def tsOf(key: String, version: Long): String = {
    val micros = MemTable.history((key, version)).tsMicros
    java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")
      .withZone(java.time.ZoneOffset.UTC)
      .format(java.time.Instant.ofEpochSecond(micros / 1000000L,
        (micros % 1000000L) * 1000L))
  }

  test("restart round trip: head, pre-restart VERSION AS OF, declared partitions, schemas") {
    val s2 = catSession()
    import s2.implicits._
    val name = s"dur_rt_${System.nanoTime()}"
    val tbl = s"graft_dur.spec.$name"
    val key = s"cat!graft_dur!spec!$name"
    Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "a", 30L)).toDF("k", "p", "v")
      .writeTo(tbl).partitionedBy(col("p")).create()        // v1
    s2.sql(s"DELETE FROM $tbl WHERE p = 'b'")                 // v2
    s2.sql(s"UPDATE $tbl SET v = v + 1 WHERE k = 3")          // v3
    s2.sql(s"ALTER TABLE $tbl ADD COLUMNS (w BIGINT)")        // v4 (schema evo)
    s2.sql(s"ALTER TABLE $tbl ADD PARTITION (p = 'declared')")
    val preTs = tsOf(key, 2L)

    MemTable.evict(key) // "process restart"
    assert(!MemTable.store.contains(key) && !MemTable.history.keys.exists(_._1 == key))

    // head restored from disk: post-update values, widened schema
    val head = s2.sql(s"SELECT k, v, w FROM $tbl ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.isNullAt(2))).toSeq
    assert(head == Seq((1L, 10L, true), (3L, 31L, true)), head)
    // pre-restart VERSION AS OF serves the old rows AND the old schema
    val v1 = s2.sql(s"SELECT * FROM $tbl VERSION AS OF 1")
    assert(v1.schema.fieldNames.toSeq == Seq("k", "p", "v"))
    assert(v1.count() == 3L)
    // declared partition survived the restart
    assert(s2.sql(s"SHOW PARTITIONS $tbl").collect().map(_.getString(0)).toSeq
      == Seq("p=a", "p=declared"))
    // TIMESTAMP AS OF a pre-restart commit instant resolves to v2
    MemTable.evict(key)
    val atV2 = s2.sql(s"SELECT k, v FROM $tbl TIMESTAMP AS OF '$preTs' ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(atV2 == Seq((1L, 10L), (3L, 30L)), atV2)
    s2.sql(s"DROP TABLE $tbl")
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(warehouse, key.replaceAll("[^A-Za-z0-9_.-]", "_"))),
      "DROP must remove the durable spill")
  }

  test("SHOW TABLES lists spilled-but-not-loaded tables") {
    val s2 = catSession()
    import s2.implicits._
    val name = s"dur_ls_${System.nanoTime()}"
    val key = s"cat!graft_dur!spec!$name"
    Seq((1L, "a", 10L)).toDF("k", "p", "v")
      .writeTo(s"graft_dur.spec.$name").partitionedBy(col("p")).create()
    MemTable.evict(key)
    val listed = s2.sql("SHOW TABLES IN graft_dur.spec")
      .collect().map(_.getString(1)).toSeq
    assert(listed.contains(name), listed)
    s2.sql(s"DROP TABLE graft_dur.spec.$name")
  }

  test("history truncation at historyDepth prunes disk and bounds the restore") {
    catSession() // ensures the graft_dur root is registered
    val name = s"dur_trunc_${System.nanoTime()}"
    val key = s"cat!graft_dur!spec!$name"
    val schema = new org.apache.spark.sql.types.StructType()
      .add("k", org.apache.spark.sql.types.LongType)
      .add("p", org.apache.spark.sql.types.StringType)
    TableMeta.put(key, TableMeta(partCol = "p"))
    val total = MemTable.historyDepth + 6
    MemTable.store.synchronized {
      (1 to total).foreach { v =>
        MemTable.publish(key,
          MemTable.Snapshot(schema, Map("a" -> Vector(Array[Any](v.toLong, "a"))), v.toLong))
      }
    }
    val dir = java.nio.file.Paths.get(warehouse, key.replaceAll("[^A-Za-z0-9_.-]", "_"))
    assert(!java.nio.file.Files.exists(dir.resolve("v1")), "expired v1 must be pruned on disk")
    assert(!java.nio.file.Files.exists(dir.resolve(s"v${total - MemTable.historyDepth}")))
    assert(java.nio.file.Files.exists(dir.resolve(s"v${total - MemTable.historyDepth + 1}")))
    MemTable.evict(key)
    DurableSpill.ensureLoaded(key)
    val restored = MemTable.history.keys.collect { case (`key`, v) => v }.toSeq.sorted
    assert(restored.size == MemTable.historyDepth &&
      restored.head == total - MemTable.historyDepth + 1 && restored.last == total,
      restored.mkString(","))
    assert(MemTable.store(key).version == total.toLong)
    // cleanup
    DurableSpill.onDrop(key)
    MemTable.evict(key)
  }

  test("TIMESTAMP AS OF before the earliest retained commit errors cleanly") {
    val s2 = catSession()
    import s2.implicits._
    val name = s"dur_ts_${System.nanoTime()}"
    val tbl = s"graft_dur.spec.$name"
    Seq((1L, "a", 10L)).toDF("k", "p", "v")
      .writeTo(tbl).partitionedBy(col("p")).create()
    val e = intercept[Exception] {
      s2.sql(s"SELECT * FROM $tbl TIMESTAMP AS OF '1999-01-01 00:00:00'").collect()
    }
    assert(e.getMessage.contains("no snapshot committed at or before"), e.getMessage)
    // commit timestamps are strictly monotone per table
    val key = s"cat!graft_dur!spec!$name"
    s2.sql(s"UPDATE $tbl SET v = v + 1 WHERE k = 1")
    val ts = MemTable.history.toSeq.collect { case ((`key`, v), s) => (v, s.tsMicros) }
      .sortBy(_._1).map(_._2)
    assert(ts == ts.sorted && ts.distinct == ts, ts.mkString(","))
    s2.sql(s"DROP TABLE $tbl")
  }

  test("streaming read refuses non-append commits in the consumed range") {
    val s2 = scoped(spark, graftCatalog("graft_cat"): _*)
    import s2.implicits._
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.{OutputMode, Trigger}
    val name = s"dur_st_${System.nanoTime()}"
    val tbl = s"graft_cat.spec.$name"
    val ckpt = java.nio.file.Files.createTempDirectory("graft_st_ckpt").toString
    Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("k", "p", "v")
      .writeTo(tbl).partitionedBy(col("p")).create()
    def drain(i: Int): Unit = {
      val q = s2.readStream.table(tbl)
        .groupBy("p").agg(count(lit(1)).as("n"))
        .writeStream.format("memory").queryName(s"dur_st_sink_$i")
        .outputMode(OutputMode.Complete())
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    drain(1) // consumes v1
    s2.sql(s"DELETE FROM $tbl WHERE p = 'a'") // v2: NON-append
    s2.sql(s"INSERT INTO $tbl VALUES (3, 'b', 30)") // v3
    val e = intercept[Exception] { drain(2) }
    def causes(t: Throwable): Seq[String] =
      if (t == null) Nil else t.getMessage +: causes(t.getCause)
    assert(causes(e).exists(m => m != null && m.contains("non-append change")),
      causes(e).mkString(" | "))
    s2.sql(s"DROP TABLE $tbl")
  }

  test("identity watermark continues across a restart (derived from restored data)") {
    val s2 = catSession()
    val name = s"dur_idn_${System.nanoTime()}"
    val tbl = s"graft_dur.spec.$name"
    val key = s"cat!graft_dur!spec!$name"
    s2.sql(
      s"""CREATE TABLE $tbl (
            k BIGINT GENERATED ALWAYS AS IDENTITY (START WITH 10 INCREMENT BY 5),
            p STRING, v BIGINT) PARTITIONED BY (p)""")
    s2.sql(s"INSERT INTO $tbl (p, v) VALUES ('a', 1), ('a', 2)") // k = 10, 15
    MemTable.evict(key) // restart: identity spec restores from the manifest
    s2.sql(s"INSERT INTO $tbl (p, v) VALUES ('a', 3)") // k = 20, not 10
    val ks = s2.sql(s"SELECT k FROM $tbl ORDER BY k").collect().map(_.getLong(0)).toSeq
    assert(ks == Seq(10L, 15L, 20L), ks)
    s2.sql(s"DROP TABLE $tbl")
  }

  test("streaming a restored table stays file-backed: manifest counts plan, file ranges serve, driver cache stays empty") {
    val s2 = catSession()
    import s2.implicits._
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.{OutputMode, Trigger}
    val name = s"dur_stfb_${System.nanoTime()}"
    val tbl = s"graft_dur.spec.$name"
    val key = s"cat!graft_dur!spec!$name"
    val ckpt = java.nio.file.Files.createTempDirectory("graft_stfb_ckpt").toString
    Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("k", "p", "v")
      .writeTo(tbl).partitionedBy(col("p")).create()      // v1
    s2.sql(s"INSERT INTO $tbl VALUES (3, 'a', 30), (4, 'c', 40)") // v2
    MemTable.evict(key) // restart: the stream must drain from the spill
    val q = s2.readStream.table(tbl)
      .groupBy("p").agg(sum("v").as("sv"))
      .writeStream.format("memory").queryName(s"dur_stfb_sink")
      .outputMode(OutputMode.Complete())
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = s2.sql("SELECT p, sv FROM dur_stfb_sink ORDER BY p").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == Seq(("a", 40L), ("b", 20L), ("c", 40L)))
    // the drain planned from MANIFEST counts and served FILE ranges:
    // no version's partitions were materialized into the driver
    Seq(1L, 2L).foreach { v =>
      MemTable.history((key, v)).parts match {
        case lp: LazyParts => assert(lp.materializedCount == 0,
          s"version $v materialized ${lp.materializedCount} partitions")
        case other => fail(s"expected LazyParts at v$v, got $other")
      }
    }
    s2.sql(s"DROP TABLE $tbl")
  }

  test("row-granular admission over a restored table plans mid-commit batches from manifest counts, file-backed") {
    val s2 = catSession()
    import s2.implicits._
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.{OutputMode, Trigger}
    val name = s"dur_strr_${System.nanoTime()}"
    val tbl = s"graft_dur.spec.$name"
    val key = s"cat!graft_dur!spec!$name"
    val ckpt = java.nio.file.Files.createTempDirectory("graft_strr_ckpt").toString
    Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "a", 30L)).toDF("k", "p", "v")
      .writeTo(tbl).partitionedBy(col("p")).create()      // v1: 3 rows
    s2.sql(s"INSERT INTO $tbl VALUES (4, 'c', 40), (5, 'a', 50)") // v2: 2 rows
    MemTable.evict(key) // restart
    // budget 2/trigger over 5 rows: batches [2,2,1] — the second CROSSES
    // the v1/v2 commit boundary mid-increment, all planned from counts
    val q = s2.readStream.option("maxRowsPerTrigger", "2").table(tbl)
      .groupBy().agg(sum("v").as("sv"), count(lit(1)).as("n"))
      .writeStream.format("memory").queryName("dur_strr_sink")
      .outputMode(OutputMode.Complete())
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val row = s2.sql("SELECT sv, n FROM dur_strr_sink").head()
    assert((row.getLong(0), row.getLong(1)) == (150L, 5L))
    Seq(1L, 2L).foreach { v =>
      MemTable.history((key, v)).parts match {
        case lp: LazyParts => assert(lp.materializedCount == 0,
          s"version $v materialized ${lp.materializedCount} partitions")
        case other => fail(s"expected LazyParts at v$v, got $other")
      }
    }
    s2.sql(s"DROP TABLE $tbl")
  }

  test("a row-granular streaming batch decodes only its row window's groups (VERDICT r13 item 2 done-criterion)") {
    val s2 = catSession()
    import s2.implicits._
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.{OutputMode, Trigger}
    val name = s"dur_strg_${System.nanoTime()}"
    val tbl = s"graft_dur.spec.$name"
    val key = s"cat!graft_dur!spec!$name"
    val ckpt = java.nio.file.Files.createTempDirectory("graft_strg_ckpt").toString
    val prevRg = DurableSpill.spillRowGroupBytes
    DurableSpill.spillRowGroupBytes = 2L << 10 // ~190-row groups
    try {
      (1L to 600L).map(i => (i, "a", i)).toDF("k", "p", "v")
        .coalesce(1).writeTo(tbl).partitionedBy(col("p")).create() // v1
      (601L to 900L).map(i => (i, "a", i)).toDF("k", "p", "v")
        .coalesce(1).writeTo(tbl).append()                          // v2
    } finally DurableSpill.spillRowGroupBytes = prevRg
    MemTable.evict(key) // restart
    val tKey = DurableSpill.tallyKeyOf(key)
    DurableSpill.groupTallies.remove(tKey)
    // 100-row batches over 900 rows: every batch is a row WINDOW of a
    // multi-group version file — the task must decode only the groups
    // its window overlaps, never the whole file
    val q = s2.readStream.option("maxRowsPerTrigger", "100").table(tbl)
      .groupBy().agg(sum("v").as("sv"), count(lit(1)).as("n"))
      .writeStream.format("memory").queryName("dur_strg_sink")
      .outputMode(OutputMode.Complete())
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val row = s2.sql("SELECT sv, n FROM dur_strg_sink").head()
    assert((row.getLong(0), row.getLong(1)) == (405450L, 900L))
    val (read, skipped) = DurableSpill.groupTallies.get(tKey)
      .map(t => (t._1.get, t._2.get)).getOrElse((0L, 0L))
    assert(read >= 1, "no file-backed group decoded — not file-backed?")
    assert(skipped >= 1,
      s"row-windowed batches decoded every group (read=$read skipped=$skipped)")
    s2.sql(s"DROP TABLE $tbl")
  }

  test("extended pushdown stays file-backed after a restore: accepted filters run in the task, three-valued") {
    val s2 = catSession()
    val name = s"dur_fbf_${System.nanoTime()}"
    val tbl = s"graft_dur.spec.$name"
    val key = s"cat!graft_dur!spec!$name"
    s2.sql(s"""CREATE TABLE $tbl (k BIGINT, p STRING, cents BIGINT)
               PARTITIONED BY (p) TBLPROPERTIES ('extendedPushdown'='true')""")
    s2.sql(s"INSERT INTO $tbl VALUES (1,'a',100),(2,'a',NULL),(3,'b',300),(4,'b',NULL)")
    MemTable.evict(key) // restart
    // a disjunctive NOT shape (no rescuing IsNotNull inference): the
    // compiled three-valued filter must EXCLUDE the NULL rows, and the
    // plan must stay file-backed — the filter ships to the task
    val df = s2.sql(s"SELECT k FROM $tbl WHERE cents != 100 OR k > 9")
    val desc = df.queryExecution.executedPlan.toString
    assert(desc.contains("fileBacked="), desc)
    // the accepted filter is dropped from Spark's plan, so the scan must
    // self-describe it (plan-audit observability, r14)
    assert(desc.contains("pushedRowFilters="), desc)
    assert(df.collect().map(_.getLong(0)).sorted.toSeq == Seq(3L))
    s2.sql(s"DROP TABLE $tbl")
  }

  test("partition pruning survives the restore (restored partCol drives planning)") {
    val s2 = catSession()
    import s2.implicits._
    import org.apache.spark.sql.functions._
    val name = s"dur_prune_${System.nanoTime()}"
    val tbl = s"graft_dur.spec.$name"
    val key = s"cat!graft_dur!spec!$name"
    Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L)).toDF("k", "p", "v")
      .writeTo(tbl).partitionedBy(col("p")).create()
    MemTable.evict(key) // restart
    val df = s2.sql(s"SELECT v FROM $tbl WHERE p = 'b'")
    assert(df.collect().map(_.getLong(0)).toSeq == Seq(20L))
    // the scan planned ONE of three partitions — pruning, not read-and-drop
    val desc = df.queryExecution.executedPlan.toString
    assert(desc.contains("planned=1") && desc.contains("parts=3"), desc)
    s2.sql(s"DROP TABLE $tbl")
  }

  test("selective spill read: row ranges, stats pruning, and projection decode only what they must") {
    val s2 = catSession()
    import s2.implicits._
    val name = s"dur_rg_${System.nanoTime()}"
    val tbl = s"graft_dur.spec.$name"
    val key = s"cat!graft_dur!spec!$name"
    val prevRg = DurableSpill.spillRowGroupBytes
    DurableSpill.spillRowGroupBytes = 2L << 10 // multi-group at 2000 rows
    try {
      (1L to 2000L).map(i => (i, "a", i * 10L)).toDF("k", "p", "v")
        .coalesce(1).sortWithinPartitions("k")
        .writeTo(tbl).partitionedBy(col("p"))
        .tableProperty("sortedBy", "k").create()
    } finally DurableSpill.spillRowGroupBytes = prevRg
    MemTable.evict(key) // restart
    DurableSpill.ensureLoaded(key)
    val (path, schema) = MemTable.store(key).parts match {
      case lp: LazyParts =>
        (lp.fileInfo.values.head.path, MemTable.store(key).schema)
      case other => fail(s"restore was not file-backed: $other")
    }
    val tKey = DurableSpill.tallyKeyOf(key)
    def tallies(): (Long, Long) = DurableSpill.groupTallies.get(tKey)
      .map(t => (t._1.get, t._2.get)).getOrElse((0L, 0L))

    // (a) a row RANGE near the tail decodes only its overlapping groups
    DurableSpill.groupTallies.remove(tKey)
    val ranged = DurableSpill.readRowsSelective(path, schema, None, Nil,
      skip = 1500L, takeN = 100L)
    assert(ranged.map(_(0).asInstanceOf[Long]) == (1501L to 1600L).toVector)
    val (rRange, sRange) = tallies()
    assert(rRange >= 1 && sRange >= 1 && rRange < rRange + sRange,
      s"range read decoded $rRange of ${rRange + sRange} groups")

    // (b) stats pruning: k <= 10 drops every group whose min exceeds it;
    // surviving groups still return ALL their rows (the row filter is
    // the task's job — pruning may only remove provably-empty groups)
    DurableSpill.groupTallies.remove(tKey)
    val pruned = DurableSpill.readRowsSelective(path, schema,
      Some(Set("k")), Seq(StatsPred("k", "le", longs = Seq(10L))), 0L, -1L)
    val ks = pruned.map(_(0).asInstanceOf[Long])
    assert((1L to 10L).forall(ks.contains), "a matching row was lost")
    assert(ks.size < 2000, "stats pruning removed no group")
    val (rP, sP) = tallies()
    assert(sP >= 1 && rP >= 1, s"read=$rP skipped=$sP")

    // (c) projection: un-wanted slots stay null, wanted values exact
    assert(pruned.forall(r => r(1) == null && r(2) == null),
      "un-projected columns were decoded")

    // (d) count-only (no columns wanted): zero groups decoded, row
    // multiplicity from block metadata alone
    DurableSpill.groupTallies.remove(tKey)
    val counted = DurableSpill.readRowsSelective(path, schema,
      Some(Set.empty), Nil, 0L, -1L)
    assert(counted.size == 2000 && counted.forall(_.forall(_ == null)))
    val (rC, sC) = tallies()
    assert(rC == 0 && sC >= 1, s"count-only decoded $rC groups")
    s2.sql(s"DROP TABLE $tbl")
  }

  test("string stats pruning compares in UTF-8 binary order (non-BMP rows never lost)") {
    val s2 = catSession()
    import s2.implicits._
    val name = s"dur_rgs_${System.nanoTime()}"
    val tbl = s"graft_dur.spec.$name"
    val key = s"cat!graft_dur!spec!$name"
    // U+FFFF sorts ABOVE U+10000 in UTF-16 code units but BELOW it in
    // UTF-8 bytes (Spark's order) — a UTF-16 comparison against the
    // chunk max would judge the tail group's range as entirely below
    // the bound and WRONGLY drop the U+10000 row
    val special = Seq("￿", "𐀀") // U+FFFF, U+10000
    val rows = (1L to 600L).map(i => (i, "a", f"a$i%04d")) ++
      special.zipWithIndex.map { case (v, i) => (601L + i, "a", v) }
    val prevRg = DurableSpill.spillRowGroupBytes
    DurableSpill.spillRowGroupBytes = 2L << 10
    try rows.toDF("k", "p", "s")
      .coalesce(1).writeTo(tbl).partitionedBy(col("p"))
      .tableProperty("sortedBy", "s").create()
    finally DurableSpill.spillRowGroupBytes = prevRg
    MemTable.evict(key)
    DurableSpill.ensureLoaded(key)
    val (path, schema) = MemTable.store(key).parts match {
      case lp: LazyParts =>
        (lp.fileInfo.values.head.path, MemTable.store(key).schema)
      case other => fail(s"restore was not file-backed: $other")
    }
    val tKey = DurableSpill.tallyKeyOf(key)
    DurableSpill.groupTallies.remove(tKey)
    val kept = DurableSpill.readRowsSelective(path, schema, Some(Set("s")),
      Seq(StatsPred("s", "ge", strs = Seq("￿"))), 0L, -1L)
    val ss = kept.map(_(2).asInstanceOf[String])
    special.foreach(v =>
      assert(ss.contains(v), s"pruning lost U+${v.codePointAt(0)}%X"))
    val skipped = DurableSpill.groupTallies.get(tKey).map(_._2.get).getOrElse(0L)
    assert(skipped >= 1, "no group skipped — the pin proved nothing")
    s2.sql(s"DROP TABLE $tbl")
  }

  test("stats-pruning differential: 60 seeded conjuncts over NULL-bearing data never change the filtered rows") {
    val s2 = catSession()
    import s2.implicits._
    val name = s"dur_rgd_${System.nanoTime()}"
    val tbl = s"graft_dur.spec.$name"
    val key = s"cat!graft_dur!spec!$name"
    // NULL-bearing long AND string columns; sortedBy k puts the null
    // keys first, so the leading groups are null-heavy — exactly where
    // a two-valued canDrop would go wrong
    val rows = (1L to 800L).map { i =>
      val k: java.lang.Long = if (i % 7 == 0) null else java.lang.Long.valueOf(i)
      val sv: String = if (i % 11 == 0) null else f"s$i%04d"
      (i, "a", k, sv)
    }
    val prevRg = DurableSpill.spillRowGroupBytes
    DurableSpill.spillRowGroupBytes = 2L << 10
    try rows.toDF("id", "p", "k", "s")
      .coalesce(1).writeTo(tbl).partitionedBy(col("p"))
      .tableProperty("sortedBy", "k").create()
    finally DurableSpill.spillRowGroupBytes = prevRg
    MemTable.evict(key)
    DurableSpill.ensureLoaded(key)
    val (path, schema) = MemTable.store(key).parts match {
      case lp: LazyParts =>
        (lp.fileInfo.values.head.path, MemTable.store(key).schema)
      case other => fail(s"restore was not file-backed: $other")
    }
    // pruning may only remove rows the conjunct's TRUE-only filter
    // would have removed anyway — mirror the filter semantics here
    def matches(p: StatsPred)(r: Array[Any]): Boolean = {
      val v = r(schema.fieldIndex(p.col))
      p.op match {
        case "isnull"  => v == null
        case "notnull" => v != null
        case _ if v == null => false // UNKNOWN = no-match
        case "eq" =>
          if (p.longs.nonEmpty) p.longs.contains(v.asInstanceOf[Long])
          else p.strs.exists(x => MemTable.cmpString(v.asInstanceOf[String], x) == 0)
        case op =>
          val c =
            if (p.longs.nonEmpty)
              java.lang.Long.compare(v.asInstanceOf[Long], p.longs.head)
            else MemTable.cmpString(v.asInstanceOf[String], p.strs.head)
          op match {
            case "gt" => c > 0
            case "ge" => c >= 0
            case "lt" => c < 0
            case "le" => c <= 0
          }
      }
    }
    val rnd = new scala.util.Random(42)
    val full = DurableSpill.readRowsSelective(path, schema, None, Nil, 0L, -1L)
    val tKey = DurableSpill.tallyKeyOf(key)
    DurableSpill.groupTallies.remove(tKey)
    (1 to 60).foreach { trial =>
      val col0 = if (rnd.nextBoolean()) "k" else "s"
      val op = Seq("eq", "gt", "ge", "lt", "le", "isnull", "notnull")(rnd.nextInt(7))
      def lv = rnd.nextLong(900L) + 1L
      def sv0 = f"s${rnd.nextLong(900L) + 1L}%04d"
      val pred =
        if (op == "isnull" || op == "notnull") StatsPred(col0, op)
        else if (op == "eq" && rnd.nextBoolean()) // IN-shaped multi-value
          (if (col0 == "k") StatsPred(col0, op, longs = Seq.fill(3)(lv))
           else StatsPred(col0, op, strs = Seq.fill(3)(sv0)))
        else if (col0 == "k") StatsPred(col0, op, longs = Seq(lv))
        else StatsPred(col0, op, strs = Seq(sv0))
      val expect = full.filter(matches(pred)).map(_(0).asInstanceOf[Long])
      val got = DurableSpill
        .readRowsSelective(path, schema, None, Seq(pred), 0L, -1L)
        .filter(matches(pred)).map(_(0).asInstanceOf[Long])
      assert(got == expect,
        s"trial $trial $pred: pruning changed the filtered rows " +
          s"(${expect.size} -> ${got.size})")
    }
    val skipped = DurableSpill.groupTallies.get(tKey).map(_._2.get).getOrElse(0L)
    assert(skipped >= 1, "60 conjuncts skipped nothing — differential vacuous")
    s2.sql(s"DROP TABLE $tbl")
  }

  test("CTAS keeps extendedPushdown and it survives the restart (staged-create property parity)") {
    // every declared table contract, one table each: the record a CTAS or
    // CREATE registers comes back WHOLE from the manifest after a restart
    // (evict + ensureLoaded), and RENAME carries it whole to the new key
    val s2 = catSession()
    import s2.implicits._
    val rows = Seq((1L, "a", 100L), (2L, "a", 200L), (3L, "b", 300L))
    val ctas: Seq[(String, Map[String, String], TableMeta => Boolean)] = Seq(
      ("sortedBy", Map("sortedBy" -> "cents"), _.sortedBy.contains("cents")),
      ("extendedPushdown", Map("extendedPushdown" -> "true"), _.extendedPushdown),
      ("writeDistribution", Map("writeDistribution" -> "clustered"), _.clustered),
      ("deltaIdCol", Map("deltaIdCol" -> "k"), _.deltaIdCol == "k"),
      ("spill layout", Map("spillRowGroupBytes" -> "4096", "spillPageRows" -> "2",
        "spillBloomFilterColumns" -> "cents"),
        _.spill == SpillLayout(Some(4096L), Some(2), Seq("cents"))))
    val ddl: Seq[(String, String, TableMeta => Boolean)] = Seq(
      ("identity", "k BIGINT GENERATED ALWAYS AS IDENTITY (START WITH 10 INCREMENT BY 5), " +
        "p STRING, cents BIGINT", _.identity.contains(IdentitySpec("k", 10L, 5L, false))),
      ("CHECK", "k BIGINT, p STRING, cents BIGINT, CONSTRAINT pos CHECK (cents > 0)",
        _.checks.map(_._1) == Seq("pos")),
      ("generated", "k BIGINT, p STRING, cents BIGINT, " +
        "dollars BIGINT GENERATED ALWAYS AS (cents DIV 100)",
        _.generated.map(_._1) == Seq("dollars")))
    def roundTrip(contract: String, create: String => Unit,
        declared: TableMeta => Boolean): String = {
      val name = s"dur_ctr_${System.nanoTime()}"
      val key = s"cat!graft_dur!spec!$name"
      create(s"graft_dur.spec.$name")
      val before = TableMeta.of(key)
      assert(declared(before) && before.partCol == "p", s"$contract not registered: $before")
      MemTable.evict(key) // restart — the record must come back from the manifest
      assert(TableMeta.of(key) == TableMeta(), s"evict kept $contract")
      DurableSpill.ensureLoaded(key)
      assert(TableMeta.of(key) == before, s"restore changed $contract")
      s2.sql(s"ALTER TABLE graft_dur.spec.$name RENAME TO spec.${name}_r")
      assert(TableMeta.of(key) == TableMeta() && TableMeta.of(s"${key}_r") == before,
        s"RENAME did not move $contract")
      s"graft_dur.spec.${name}_r"
    }
    val tables = ctas.map { case (c, props, declared) =>
      c -> roundTrip(c, tbl => props.foldLeft(
        rows.toDF("k", "p", "cents").writeTo(tbl).partitionedBy(col("p")))(
        (w, kv) => w.tableProperty(kv._1, kv._2)).create(), declared)
    } ++ ddl.map { case (c, cols, declared) =>
      c -> roundTrip(c, tbl =>
        s2.sql(s"CREATE TABLE $tbl ($cols) PARTITIONED BY (p)"), declared)
    }
    // and the restored extendedPushdown acceptance actually runs:
    // NULL-free differential
    val got = s2.sql(s"SELECT k FROM ${tables.toMap.apply("extendedPushdown")} WHERE cents > 150")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(got == Seq(2L, 3L))
    tables.foreach { case (_, tbl) => s2.sql(s"DROP TABLE $tbl") }
  }

  test("staged creates never spill: a committed and an aborted CTAS leave no staging dir, tally or entry") {
    val s2 = catSession()
    import s2.implicits._
    import scala.jdk.CollectionConverters._
    def leftovers(key: String): Seq[String] = {
      val staging = s"staging!$key!"
      val dirPrefix = staging.replaceAll("[^A-Za-z0-9_.-]", "_")
      val ls = java.nio.file.Files.list(java.nio.file.Paths.get(warehouse))
      val dirs = try ls.iterator().asScala.map(_.getFileName.toString).toSeq finally ls.close()
      (dirs ++ DurableSpill.groupTallies.keys ++ DurableSpill.pageTallies.keys ++
        DurableSpill.bloomTallies.keys).filter(_.startsWith(dirPrefix)) ++
        (MemTable.store.keys ++ MemTable.lastCommitShape.keys ++
          MemTable.history.keys.map(_._1)).filter(_.startsWith(staging))
    }
    val name = s"dur_stg_${System.nanoTime()}"
    val key = s"cat!graft_dur!spec!$name"
    Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("k", "p", "v")
      .writeTo(s"graft_dur.spec.$name").partitionedBy(col("p")).create()
    assert(s2.sql(s"SELECT count(*) FROM graft_dur.spec.$name").head().getLong(0) == 2L)
    assert(leftovers(key).isEmpty, s"committed CTAS left: ${leftovers(key)}")
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(warehouse,
      key.replaceAll("[^A-Za-z0-9_.-]", "_"), "_manifest.json")))
    // aborted: the staged write commits its batch, then the stage aborts
    val cat = s2.sessionState.catalogManager.catalog("graft_dur")
      .asInstanceOf[GraftSparkCatalog]
    val ident = org.apache.spark.sql.connector.catalog.Identifier
      .of(Array("spec"), s"${name}_ab")
    val stagedSchema = new org.apache.spark.sql.types.StructType()
      .add("k", org.apache.spark.sql.types.LongType)
      .add("p", org.apache.spark.sql.types.StringType)
    val staged = cat.stageCreate(ident, stagedSchema,
      Array(org.apache.spark.sql.connector.expressions.Expressions.identity("p")),
      new java.util.HashMap[String, String]())
    staged.asInstanceOf[org.apache.spark.sql.connector.catalog.SupportsWrite]
      .newWriteBuilder(new org.apache.spark.sql.connector.write.LogicalWriteInfo {
        override def queryId(): String = "spec"
        override def schema(): org.apache.spark.sql.types.StructType = stagedSchema
        override def options(): org.apache.spark.sql.util.CaseInsensitiveStringMap =
          org.apache.spark.sql.util.CaseInsensitiveStringMap.empty()
      }).build().toBatch
      .commit(Array(MemPartMessage(Map("a" -> Vector(Array[Any](1L, "a"))))))
    staged.abortStagedChanges()
    assert(leftovers(s"${key}_ab").isEmpty, s"aborted CTAS left: ${leftovers(s"${key}_ab")}")
    assert(!cat.tableExists(ident))
    s2.sql(s"DROP TABLE graft_dur.spec.$name")
  }

  test("a table in a namespace named staging is durable: it spills, restores and is listed") {
    val s2 = catSession()
    import s2.implicits._
    val name = s"dur_stgns_${System.nanoTime()}"
    val tbl = s"graft_dur.staging.$name"
    val key = s"cat!graft_dur!staging!$name"
    Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("k", "p", "v")
      .writeTo(tbl).partitionedBy(col("p")).create()        // v1, staged
    s2.sql(s"INSERT INTO $tbl VALUES (3, 'a', 30)")         // v2
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(warehouse,
      key.replaceAll("[^A-Za-z0-9_.-]", "_"), "_manifest.json")))
    MemTable.evict(key) // restart
    assert(!MemTable.store.contains(key))
    val rows = s2.sql(s"SELECT k, v FROM $tbl ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(rows == Seq((1L, 10L), (2L, 20L), (3L, 30L)), rows)
    assert(s2.sql(s"SELECT count(*) FROM $tbl VERSION AS OF 1").head().getLong(0) == 2L)
    assert(s2.sql("SHOW NAMESPACES IN graft_dur").collect().map(_.getString(0))
      .contains("staging"))
    s2.sql(s"DROP TABLE $tbl")
  }

  test("a manifest in the earlier JSON format (no writeDistribution field) restores every contract") {
    catSession() // ensures the graft_dur root is registered
    val name = s"dur_oldmf_${System.nanoTime()}"
    val key = s"cat!graft_dur!spec!$name"
    val dir = java.nio.file.Paths.get(warehouse, key.replaceAll("[^A-Za-z0-9_.-]", "_"))
    val schema = new org.apache.spark.sql.types.StructType()
      .add("k", org.apache.spark.sql.types.LongType, nullable = false)
      .add("p", org.apache.spark.sql.types.StringType)
      .add("cents", org.apache.spark.sql.types.LongType)
      .add("id", org.apache.spark.sql.types.LongType)
    java.nio.file.Files.createDirectories(dir.resolve("v1"))
    java.nio.file.Files.writeString(dir.resolve("v1/meta.json"),
      s"""{"version":1,"tsMicros":1,"schemaJson":${
        org.json4s.jackson.JsonMethods.compact(org.json4s.JString(schema.json))},"parts":[]}""")
    java.nio.file.Files.writeString(dir.resolve("_manifest.json"),
      s"""{"key":"$key","current":1,"versions":[1],"partCol":"p","deltaIdCol":"k",""" +
        """"declaredParts":{},"identityCol":"id:10:5:false",""" +
        """"checkConstraints":[["pos","cents > 0"]],"generatedCols":[],""" +
        """"sortedBy":"cents","extendedPushdown":true,"spillRowGroupBytes":4096,""" +
        """"spillPageRows":2,"spillBloomCols":["cents"]}""")
    DurableSpill.ensureLoaded(key)
    assert(TableMeta.of(key) == TableMeta("p", "k",
      Some(IdentitySpec("id", 10L, 5L, false)), Seq(("pos", "cents > 0")), Nil,
      Some("cents"), extendedPushdown = true, clustered = false,
      SpillLayout(Some(4096L), Some(2), Seq("cents"))))
    assert(MemTable.store(key).schema == schema)
    DurableSpill.onDrop(key)
    MemTable.evict(key)
  }

  test("a filtered streaming read of an extendedPushdown table filters exactly (NULL excluded)") {
    // Today Spark keeps the WHERE engine-side for micro-batch reads; if
    // an upgrade starts pushing filters into the streaming ScanBuilder,
    // the stream planner must enforce them (it currently does not see
    // rowFns) — this differential flips loudly in that world instead of
    // letting accepted-but-unenforced filters serve extra rows silently
    val s2 = catSession()
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.{OutputMode, Trigger}
    val name = s"dur_sfil_${System.nanoTime()}"
    val tbl = s"graft_dur.spec.$name"
    val key = s"cat!graft_dur!spec!$name"
    val ckpt = java.nio.file.Files.createTempDirectory("graft_sfil_ckpt").toString
    s2.sql(s"""CREATE TABLE $tbl (k BIGINT, p STRING, cents BIGINT)
               PARTITIONED BY (p) TBLPROPERTIES ('extendedPushdown'='true')""")
    s2.sql(s"INSERT INTO $tbl VALUES (1,'a',100),(2,'a',200),(3,'b',300),(4,'b',NULL)")
    MemTable.evict(key) // restored + file-backed, the hardest variant
    val q = s2.readStream.table(tbl)
      .where("cents > 150") // NULL row must be excluded (three-valued)
      .groupBy().agg(sum("k").as("sk"), count(lit(1)).as("n"))
      .writeStream.format("memory").queryName(s"sink_$name")
      .outputMode(OutputMode.Complete())
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val row = s2.sql(s"SELECT sk, n FROM sink_$name").head()
    assert((row.getLong(0), row.getLong(1)) == (5L, 2L),
      s"filtered stream served (${row.getLong(0)}, ${row.getLong(1)}) — " +
        "accepted-but-unenforced filter?")
    s2.sql(s"DROP TABLE $tbl")
  }

  test("pushed aggregates over a restored table answer from manifest counts + footer stats (zero rows touched)") {
    val s2 = catSession()
    val name = s"dur_magg_${System.nanoTime()}"
    val tbl = s"graft_dur.spec.$name"
    val key = s"cat!graft_dur!spec!$name"
    s2.sql(s"""CREATE TABLE $tbl (k BIGINT, status STRING, cents BIGINT)
               PARTITIONED BY (status)""")
    s2.sql(s"""INSERT INTO $tbl VALUES
      (1,'a',100),(2,'a',NULL),(3,'a',-5),(4,'b',NULL),(5,'b',NULL)""")
    MemTable.evict(key) // restart
    val tKey = DurableSpill.tallyKeyOf(key)
    DurableSpill.groupTallies.remove(tKey)
    val df = s2.sql(
      s"""SELECT status, count(*) AS n, min(cents) AS mn, max(cents) AS mx
          FROM $tbl GROUP BY status ORDER BY status""")
    assert(df.queryExecution.executedPlan.toString.contains("pushedAggregates="),
      df.queryExecution.executedPlan.toString)
    val rows = df.collect().map(r => (r.getString(0), r.getLong(1),
      if (r.isNullAt(2)) None else Some(r.getLong(2)),
      if (r.isNullAt(3)) None else Some(r.getLong(3)))).toSeq
    // NULL skipped in bounds (min -5, never 0-coerced); all-NULL → NULL
    assert(rows == Seq(("a", 3L, Some(-5L), Some(100L)),
      ("b", 2L, None, None)), rows)
    // global shape too
    val g = s2.sql(s"SELECT count(*), min(cents), max(cents) FROM $tbl").head()
    assert((g.getLong(0), g.getLong(1), g.getLong(2)) == (5L, -5L, 100L))
    // ZERO rows touched: no driver materialization, no data-page reads
    MemTable.store(key).parts match {
      case lp: LazyParts => assert(lp.materializedCount == 0,
        s"pushed aggregate materialized ${lp.materializedCount} partitions")
      case other => fail(s"expected LazyParts, got $other")
    }
    assert(DurableSpill.groupTallies.get(tKey).isEmpty,
      "a metadata-served aggregate decoded data pages")
    s2.sql(s"DROP TABLE $tbl")
  }

  test("SUM / top-N / LIMIT on a restored table refuse pushdown and run engine-side over the file-backed scan") {
    val s2 = catSession()
    val name = s"dur_mref_${System.nanoTime()}"
    val tbl = s"graft_dur.spec.$name"
    val key = s"cat!graft_dur!spec!$name"
    s2.sql(s"""CREATE TABLE $tbl (k BIGINT, status STRING, cents BIGINT)
               PARTITIONED BY (status)""")
    s2.sql(s"""INSERT INTO $tbl VALUES
      (1,'a',100),(2,'a',NULL),(3,'a',-5),(4,'b',NULL),(5,'b',NULL)""")
    MemTable.evict(key) // restart
    // SUM needs row data → the pushdown refuses and the ENGINE aggregates
    // over the file-backed scan (executors decode only `cents`)
    val sm = s2.sql(s"SELECT status, sum(cents) AS sm FROM $tbl GROUP BY status ORDER BY status")
    val smDesc = sm.queryExecution.executedPlan.toString
    assert(!smDesc.contains("pushedAggregates="), smDesc)
    assert(smDesc.contains("fileBacked="), smDesc)
    val smRows = sm.collect().map(r => (r.getString(0),
      if (r.isNullAt(1)) None else Some(r.getLong(1)))).toSeq
    assert(smRows == Seq(("a", Some(95L)), ("b", None)), smRows)
    // top-N refuses too: Spark plans TakeOrderedAndProject over the
    // file-backed scan; before r14 this rehydrated the table driver-side
    val tn = s2.sql(s"SELECT k FROM $tbl ORDER BY cents DESC NULLS LAST LIMIT 2")
    val tnDesc = tn.queryExecution.executedPlan.toString
    assert(!tnDesc.contains("pushedTopN"), tnDesc)
    assert(tnDesc.contains("fileBacked="), tnDesc)
    assert(tn.collect().map(_.getLong(0)).toSeq == Seq(1L, 3L))
    val lm = s2.sql(s"SELECT k FROM $tbl LIMIT 5")
    val lmDesc = lm.queryExecution.executedPlan.toString
    assert(!lmDesc.contains("pushedLimit"), lmDesc)
    assert(lm.count() == 5)
    // and through it all the driver's lazy cache stayed EMPTY
    MemTable.store(key).parts match {
      case lp: LazyParts => assert(lp.materializedCount == 0,
        s"refused pushdowns still materialized ${lp.materializedCount}")
      case other => fail(s"expected LazyParts, got $other")
    }
    s2.sql(s"DROP TABLE $tbl")
  }

  test("pre-r13 single-file spill fails loudly instead of restoring empty") {
    val s2 = catSession()
    import s2.implicits._
    val name = s"dur_legacy_${System.nanoTime()}"
    val tbl = s"graft_dur.spec.$name"
    val key = s"cat!graft_dur!spec!$name"
    Seq((1L, "a", 10L)).toDF("k", "p", "v")
      .writeTo(tbl).partitionedBy(col("p")).create()
    MemTable.evict(key)
    // doctor the spill into the pre-r13 layout: strip the parts list
    // from one version meta and plant its single-file rows.parquet
    val dir = java.nio.file.Paths.get(warehouse, DurableSpill.tallyKeyOf(key))
    val v1 = {
      import scala.jdk.CollectionConverters._
      val s = java.nio.file.Files.list(dir)
      try s.iterator().asScala.filter(_.getFileName.toString.startsWith("v"))
        .toSeq.maxBy(_.getFileName.toString.stripPrefix("v").toLong)
      finally s.close()
    }
    val meta = v1.resolve("meta.json")
    implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
    val m = org.json4s.jackson.Serialization.read[DurableVersionMeta](
      new String(java.nio.file.Files.readAllBytes(meta), "UTF-8"))
    java.nio.file.Files.write(meta, org.json4s.jackson.Serialization
      .write(m.copy(parts = Nil)).getBytes("UTF-8"))
    java.nio.file.Files.write(v1.resolve("rows.parquet"), Array.empty[Byte])
    val e = intercept[RuntimeException](DurableSpill.ensureLoaded(key))
    assert(e.getMessage.contains("pre-r13"), e.getMessage)
    // clean up so later suites' SHOW TABLES don't trip on the doctored spill
    DurableSpill.onDrop(key)
  }

  test("page-level pruning: the column index drops pages inside a surviving row group (rows never lost)") {
    val s2 = catSession()
    import s2.implicits._
    val name = s"dur_pg_${System.nanoTime()}"
    val tbl = s"graft_dur.spec.$name"
    val key = s"cat!graft_dur!spec!$name"
    // ONE row group (default 128 MiB target), MANY pages (50 rows each,
    // declared per table) — the layout where group-granular skipping is
    // powerless and only the column index can save the decode
    (1L to 2000L).map(i => (i, "a", i * 10L)).toDF("k", "p", "v")
      .coalesce(1).sortWithinPartitions("k")
      .writeTo(tbl).partitionedBy(col("p"))
      .tableProperty("sortedBy", "k")
      .tableProperty("spillPageRows", "50").create()
    MemTable.evict(key) // restart
    DurableSpill.ensureLoaded(key)
    val (path, schema) = MemTable.store(key).parts match {
      case lp: LazyParts =>
        (lp.fileInfo.values.head.path, MemTable.store(key).schema)
      case other => fail(s"restore was not file-backed: $other")
    }
    val tKey = DurableSpill.tallyKeyOf(key)
    def groups(): (Long, Long) = DurableSpill.groupTallies.get(tKey)
      .map(t => (t._1.get, t._2.get)).getOrElse((0L, 0L))
    def pages(): (Long, Long) = DurableSpill.pageTallies.get(tKey)
      .map(t => (t._1.get, t._2.get)).getOrElse((0L, 0L))

    // (a) an unfiltered full read engages NO page filtering at all
    DurableSpill.groupTallies.remove(tKey)
    DurableSpill.pageTallies.remove(tKey)
    val full = DurableSpill.readRowsSelective(path, schema, None, Nil, 0L, -1L)
    assert(full.size == 2000)
    assert(groups() == ((1L, 0L)), s"layout not single-group: ${groups()}")
    assert(DurableSpill.pageTallies.get(tKey).isEmpty,
      "a full read paid the page-filter machinery")

    // (b) a selective predicate inside the one surviving group decodes
    // only its matching pages — and loses no matching row
    DurableSpill.groupTallies.remove(tKey)
    DurableSpill.pageTallies.remove(tKey)
    val pruned = DurableSpill.readRowsSelective(path, schema, Some(Set("k")),
      Seq(StatsPred("k", "le", longs = Seq(100L))), 0L, -1L)
    val ks = pruned.map(_(0).asInstanceOf[Long])
    assert((1L to 100L).forall(ks.contains), "page pruning lost a matching row")
    assert(groups()._1 == 1L, s"group tallies off: ${groups()}")
    val (pr, ps) = pages()
    assert(pr >= 1 && ps >= 1,
      s"page tier did not engage: read=$pr skipped=$ps")
    assert(ks.size < 2000, "page pruning removed nothing")

    // (c) a streaming ROW RANGE prunes pages too (not just whole groups)
    DurableSpill.pageTallies.remove(tKey)
    val ranged = DurableSpill.readRowsSelective(path, schema, None, Nil,
      skip = 1500L, takeN = 100L)
    assert(ranged.map(_(0).asInstanceOf[Long]) == (1501L to 1600L).toVector)
    val (rr2, rs2) = pages()
    assert(rr2 >= 1 && rs2 >= 1,
      s"row-range page pruning did not engage: read=$rr2 skipped=$rs2")
    s2.sql(s"DROP TABLE $tbl")
  }

  test("dictionary filtering drops a group the min/max cannot (needle inside the bounds, absent from the dictionary)") {
    val s2 = catSession()
    import s2.implicits._
    val name = s"dur_dict_${System.nanoTime()}"
    val tbl = s"graft_dur.spec.$name"
    val key = s"cat!graft_dur!spec!$name"
    // s alternates 'aa'/'zz': chunk bounds [aa, zz] CONTAIN 'mm', so
    // statistics keep the group — only the dictionary can prove absence
    (1L to 500L).map(i => (i, "a", if (i % 2 == 0) "aa" else "zz"))
      .toDF("k", "p", "s").coalesce(1)
      .writeTo(tbl).partitionedBy(col("p")).create()
    MemTable.evict(key) // restart
    DurableSpill.ensureLoaded(key)
    val (path, schema) = MemTable.store(key).parts match {
      case lp: LazyParts =>
        (lp.fileInfo.values.head.path, MemTable.store(key).schema)
      case other => fail(s"restore was not file-backed: $other")
    }
    val tKey = DurableSpill.tallyKeyOf(key)
    def groups(): (Long, Long) = DurableSpill.groupTallies.get(tKey)
      .map(t => (t._1.get, t._2.get)).getOrElse((0L, 0L))
    // needle probe: zero groups decoded, zero rows served
    DurableSpill.groupTallies.remove(tKey)
    val missed = DurableSpill.readRowsSelective(path, schema, Some(Set("s")),
      Seq(StatsPred("s", "eq", strs = Seq("mm"))), 0L, -1L)
    assert(missed.isEmpty, s"dictionary-missed probe served ${missed.size} rows")
    assert(groups() == ((0L, 1L)),
      s"dictionary did not drop the group: ${groups()}")
    // IN with one present value must NOT drop (conservative)
    DurableSpill.groupTallies.remove(tKey)
    val hit = DurableSpill.readRowsSelective(path, schema, Some(Set("s")),
      Seq(StatsPred("s", "eq", strs = Seq("mm", "zz"))), 0L, -1L)
    assert(hit.size == 500, "a present dictionary value was dropped")
    assert(groups()._1 == 1L, s"hit probe skipped the group: ${groups()}")
    // long dictionaries too: v cycles {7, 9}; eq 8 inside [7, 9]
    val name2 = s"dur_dictl_${System.nanoTime()}"
    val tbl2 = s"graft_dur.spec.$name2"
    val key2 = s"cat!graft_dur!spec!$name2"
    (1L to 500L).map(i => (i, "a", if (i % 2 == 0) 7L else 9L))
      .toDF("k", "p", "v").coalesce(1)
      .writeTo(tbl2).partitionedBy(col("p")).create()
    MemTable.evict(key2)
    DurableSpill.ensureLoaded(key2)
    val (path2, schema2) = MemTable.store(key2).parts match {
      case lp: LazyParts =>
        (lp.fileInfo.values.head.path, MemTable.store(key2).schema)
      case other => fail(s"restore was not file-backed: $other")
    }
    val tKey2 = DurableSpill.tallyKeyOf(key2)
    DurableSpill.groupTallies.remove(tKey2)
    val missedL = DurableSpill.readRowsSelective(path2, schema2, Some(Set("v")),
      Seq(StatsPred("v", "eq", longs = Seq(8L))), 0L, -1L)
    assert(missedL.isEmpty && DurableSpill.groupTallies.get(tKey2)
      .exists(t => t._1.get == 0L && t._2.get == 1L),
      "long dictionary did not drop the 8-needle group")
    s2.sql(s"DROP TABLE $tbl")
    s2.sql(s"DROP TABLE $tbl2")
  }

  test("page-pruning differential: seeded conjuncts over NULL-bearing multi-page groups never change the filtered rows") {
    val s2 = catSession()
    import s2.implicits._
    val name = s"dur_pgd_${System.nanoTime()}"
    val tbl = s"graft_dur.spec.$name"
    val key = s"cat!graft_dur!spec!$name"
    // one group, ~20 pages of 40 rows; NULL-bearing long AND string
    // columns sorted by k so leading pages are null-heavy — the
    // page-level analog of the r14 chunk differential
    val rows = (1L to 800L).map { i =>
      val k: java.lang.Long = if (i % 7 == 0) null else java.lang.Long.valueOf(i)
      val sv: String = if (i % 11 == 0) null else f"s$i%04d"
      (i, "a", k, sv)
    }
    rows.toDF("id", "p", "k", "s")
      .coalesce(1).writeTo(tbl).partitionedBy(col("p"))
      .tableProperty("sortedBy", "k")
      .tableProperty("spillPageRows", "40").create()
    MemTable.evict(key)
    DurableSpill.ensureLoaded(key)
    val (path, schema) = MemTable.store(key).parts match {
      case lp: LazyParts =>
        (lp.fileInfo.values.head.path, MemTable.store(key).schema)
      case other => fail(s"restore was not file-backed: $other")
    }
    def matches(p: StatsPred)(r: Array[Any]): Boolean = {
      val v = r(schema.fieldIndex(p.col))
      p.op match {
        case "isnull"  => v == null
        case "notnull" => v != null
        case _ if v == null => false
        case "eq" =>
          if (p.longs.nonEmpty) p.longs.contains(v.asInstanceOf[Long])
          else p.strs.exists(x => MemTable.cmpString(v.asInstanceOf[String], x) == 0)
        case op =>
          val c =
            if (p.longs.nonEmpty)
              java.lang.Long.compare(v.asInstanceOf[Long], p.longs.head)
            else MemTable.cmpString(v.asInstanceOf[String], p.strs.head)
          op match {
            case "gt" => c > 0
            case "ge" => c >= 0
            case "lt" => c < 0
            case "le" => c <= 0
          }
      }
    }
    val rnd = new scala.util.Random(271828)
    val full = DurableSpill.readRowsSelective(path, schema, None, Nil, 0L, -1L)
    val tKey = DurableSpill.tallyKeyOf(key)
    DurableSpill.pageTallies.remove(tKey)
    (1 to 60).foreach { trial =>
      val col0 = if (rnd.nextBoolean()) "k" else "s"
      val op = Seq("eq", "gt", "ge", "lt", "le", "isnull", "notnull")(rnd.nextInt(7))
      def lv = rnd.nextLong(900L) + 1L
      def sv0 = f"s${rnd.nextLong(900L) + 1L}%04d"
      val pred =
        if (op == "isnull" || op == "notnull") StatsPred(col0, op)
        else if (op == "eq" && rnd.nextBoolean())
          (if (col0 == "k") StatsPred(col0, op, longs = Seq.fill(3)(lv))
           else StatsPred(col0, op, strs = Seq.fill(3)(sv0)))
        else if (col0 == "k") StatsPred(col0, op, longs = Seq(lv))
        else StatsPred(col0, op, strs = Seq(sv0))
      val expect = full.filter(matches(pred)).map(_(0).asInstanceOf[Long])
      val got = DurableSpill
        .readRowsSelective(path, schema, None, Seq(pred), 0L, -1L)
        .filter(matches(pred)).map(_(0).asInstanceOf[Long])
      assert(got == expect,
        s"trial $trial $pred: page pruning changed the filtered rows " +
          s"(${expect.size} -> ${got.size})")
    }
    val skipped = DurableSpill.pageTallies.get(tKey).map(_._2.get).getOrElse(0L)
    assert(skipped >= 1, "60 conjuncts skipped no page — differential vacuous")
    s2.sql(s"DROP TABLE $tbl")
  }

  test("pushed string MIN/MAX over a restored table serves exact footer values (>64-byte, non-BMP, all-NULL pinned)") {
    val s2 = catSession()
    val name = s"dur_smm_${System.nanoTime()}"
    val tbl = s"graft_dur.spec.$name"
    val key = s"cat!graft_dur!spec!$name"
    // values longer than the 64-byte column-index truncation: if chunk
    // statistics ever start truncating too (a parquet default change),
    // the served min/max would be a prefix and this differential flips.
    // U+FFFF vs U+10000 pins the merge order: UTF-8 binary (F0 > EF),
    // not UTF-16 code units (where U+FFFF would wrongly win the max).
    val pad = "x" * 80
    val loVal = s"aa$pad"
    val bmpHi = "￿" + pad          // EF BF BF ...
    val astral = new String(Character.toChars(0x10000)) + pad // F0 90 80 80 ...
    s2.sql(s"""CREATE TABLE $tbl (k BIGINT, p STRING, sv STRING)
               PARTITIONED BY (p)""")
    val lit = (s: String) => "'" + s + "'"
    s2.sql(s"""INSERT INTO $tbl VALUES
      (1, 'a', ${lit(loVal)}), (2, 'a', ${lit(bmpHi)}),
      (3, 'b', ${lit(astral)}), (4, 'b', ${lit("mm" + pad)}),
      (5, 'c', NULL), (6, 'c', NULL)""")
    MemTable.evict(key) // restart
    val tKey = DurableSpill.tallyKeyOf(key)
    DurableSpill.groupTallies.remove(tKey)
    val df = s2.sql(
      s"""SELECT p, count(*) AS n, min(sv) AS lo, max(sv) AS hi
          FROM $tbl GROUP BY p ORDER BY p""")
    assert(df.queryExecution.executedPlan.toString.contains("pushedAggregates="),
      df.queryExecution.executedPlan.toString)
    val rows = df.collect().map(r => (r.getString(0), r.getLong(1),
      Option(r.getString(2)), Option(r.getString(3)))).toSeq
    assert(rows == Seq(
      ("a", 2L, Some(loVal), Some(bmpHi)),
      ("b", 2L, Some("mm" + pad), Some(astral)),
      ("c", 2L, None, None)), rows)
    // the global merge picks the astral max ACROSS files (binary order)
    val g = s2.sql(s"SELECT min(sv), max(sv), count(*) FROM $tbl").head()
    assert((g.getString(0), g.getString(1), g.getLong(2)) ==
      ((loVal, astral, 6L)))
    // served from footers alone: zero data pages, zero driver partitions
    assert(DurableSpill.groupTallies.get(tKey).isEmpty,
      "a footer-served string aggregate decoded data pages")
    MemTable.store(key).parts match {
      case lp: LazyParts => assert(lp.materializedCount == 0)
      case other => fail(s"expected LazyParts, got $other")
    }
    s2.sql(s"DROP TABLE $tbl")
  }

  test("bloom-filter columns: an in-bounds absent equality skips the group; present values never drop") {
    val s2 = catSession()
    import s2.implicits._
    val name = s"dur_blm_${System.nanoTime()}"
    val tbl = s"graft_dur.spec.$name"
    val key = s"cat!graft_dur!spec!$name"
    // uk all-even: an odd needle sits inside [min, max] (stats keep),
    // inside every page's bounds (pages keep), and the column spills
    // WITHOUT a dictionary — only the bloom filter can prove absence
    (1L to 500L).map(i => (i, "a", i * 2, s"u$i")).toDF("k", "p", "uk", "sv")
      .coalesce(1).writeTo(tbl).partitionedBy(col("p"))
      .tableProperty("spillBloomFilterColumns", "uk,sv").create()
    MemTable.evict(key)
    DurableSpill.ensureLoaded(key)
    assert(TableMeta.of(key).spill.bloomCols == Seq("uk", "sv"),
      "bloom columns did not survive the restart (manifest parity)")
    val (path, schema) = MemTable.store(key).parts match {
      case lp: LazyParts =>
        (lp.fileInfo.values.head.path, MemTable.store(key).schema)
      case other => fail(s"restore was not file-backed: $other")
    }
    // the write honored the pairing: no dictionary pages on a bloom col
    locally {
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(path),
          new org.apache.hadoop.conf.Configuration()))
      try {
        import scala.jdk.CollectionConverters._
        val cc = r.getRowGroups.asScala.head.getColumns.asScala
          .find(_.getPath.asScala.toSeq == Seq("uk")).get
        assert(cc.getEncodingStats == null ||
          !cc.getEncodingStats.hasDictionaryPages,
          "bloom column still wrote a dictionary")
        assert(r.readBloomFilter(cc) != null, "no bloom filter written")
      } finally r.close()
    }
    val tKey = DurableSpill.tallyKeyOf(key)
    def groups(): (Long, Long) = DurableSpill.groupTallies.get(tKey)
      .map(t => (t._1.get, t._2.get)).getOrElse((0L, 0L))
    def blooms(): Long =
      DurableSpill.bloomTallies.get(tKey).map(_.get).getOrElse(0L)
    def clear(): Unit = {
      DurableSpill.groupTallies.remove(tKey)
      DurableSpill.bloomTallies.remove(tKey)
    }
    // long needle 401: absent, in bounds → bloom skips the group
    clear()
    val missL = DurableSpill.readRowsSelective(path, schema, Some(Set("uk")),
      Seq(StatsPred("uk", "eq", longs = Seq(401L))), 0L, -1L)
    assert(missL.isEmpty && groups() == ((0L, 1L)) && blooms() == 1L,
      s"long needle: rows=${missL.size} groups=${groups()} blooms=${blooms()}")
    // string needle 'u1x': absent, inside [u1, u99] binary bounds
    clear()
    val missS = DurableSpill.readRowsSelective(path, schema, Some(Set("sv")),
      Seq(StatsPred("sv", "eq", strs = Seq("u1x"))), 0L, -1L)
    assert(missS.isEmpty && groups() == ((0L, 1L)) && blooms() == 1L,
      s"string needle: rows=${missS.size} groups=${groups()} blooms=${blooms()}")
    // present value: the probe must NOT drop (no false negatives)
    clear()
    val hit = DurableSpill.readRowsSelective(path, schema, Some(Set("uk")),
      Seq(StatsPred("uk", "eq", longs = Seq(2L))), 0L, -1L)
    assert(hit.size == 500 && groups()._1 == 1L && blooms() == 0L,
      s"present value dropped: rows=${hit.size} groups=${groups()}")
    // IN with one present value keeps the group too
    clear()
    val hitIn = DurableSpill.readRowsSelective(path, schema, Some(Set("uk")),
      Seq(StatsPred("uk", "eq", longs = Seq(401L, 2L))), 0L, -1L)
    assert(hitIn.size == 500 && groups()._1 == 1L,
      "IN with a present member was dropped")
    s2.sql(s"DROP TABLE $tbl")
  }

  test("early-terminated file-backed scans close their streams (LIMIT leaks nothing)") {
    val s2 = catSession()
    import s2.implicits._
    val name = s"dur_lim_${System.nanoTime()}"
    val tbl = s"graft_dur.spec.$name"
    val key = s"cat!graft_dur!spec!$name"
    (1L to 2000L).map(i => (i, "a", i * 10L)).toDF("k", "p", "v")
      .coalesce(1).writeTo(tbl).partitionedBy(col("p"))
      .tableProperty("spillPageRows", "50").create()
    MemTable.evict(key)
    // LIMIT refuses pushdown on a restored table → CollectLimit stops the
    // task early, mid-iterator; the reader's close hook must release the
    // parquet stream. 40 early-terminated scans: a leak would hold 40
    // open file handles (and on some platforms exhaust them loudly).
    (1 to 40).foreach { _ =>
      assert(s2.sql(s"SELECT k FROM $tbl LIMIT 3").collect().length == 3)
    }
    s2.sql(s"DROP TABLE $tbl")
  }
}
