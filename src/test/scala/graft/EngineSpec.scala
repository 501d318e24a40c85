package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.cli.{Commands, GraftEngine}

/** E2E engine tests: catalog/partition surface (A9-A14), crawler lifecycle
  * (A15), job runner (A16, A5-A8) and the CLI exit-code contract (A23) —
  * mirroring the reference's test_crawler.py exit-code assertions with a
  * temp local-fs warehouse standing in for the mocked Glue backend.
  */
class EngineSpec extends AnyFunSuite with LocalSpark {

  private val tmp = Files.createTempDirectory("graft_test").toString

  override protected def sessionConf = Seq("spark.sql.warehouse.dir" -> s"$tmp/warehouse")

  lazy val engine = new GraftEngine(spark)

  private val sfDir = "/root/testdata/sf0.001"
  private lazy val partedDir = {
    // partitioned parquet layout: year=YYYY/month=MM from events
    val dir = s"$tmp/events_parted"
    val ev = graft.operators.events(spark, sfDir)
      .withColumn("year", year(col("ts")).cast("string"))
      .withColumn("month", lpad(month(col("ts")).cast("string"), 2, "0"))
    ev.write.partitionBy("year", "month").mode("overwrite").parquet(dir)
    dir
  }

  private def run(args: String*): (Int, Seq[String]) = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val code = Commands.main(engine, args, out += _)
    (code, out.toSeq)
  }

  /** Run `body`, then give `key` back its old value, or unset it again. */
  private def restoring(key: String)(body: => Unit): Unit = {
    val prev = spark.conf.getAll.get(key)
    try body finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** `body`'s result and the number of Spark jobs it started. The listener
    * counts this thread's jobs only (async runs from other tests may still
    * be going); a sentinel job drains the bus, whose events arrive in
    * order. */
  private def jobsStartedBy[T](body: => T): (T, Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val tag = "graft.test.jobCount"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val drained = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(tag))) match {
          case Some("sentinel") => drained.countDown()
          case Some(_) => jobs.incrementAndGet()
          case None => ()
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(tag, "body")
      val out = try body finally sc.setLocalProperty(tag, null)
      sc.setLocalProperty(tag, "sentinel")
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(tag, null)
      assert(drained.await(60, java.util.concurrent.TimeUnit.SECONDS), "listener bus not drained")
      (out, jobs.get)
    } finally sc.removeSparkListener(listener)
  }

  override def beforeAll(): Unit = {
    super.beforeAll()
    // external partitioned table over the layout, no partitions registered yet
    spark.sql("CREATE DATABASE IF NOT EXISTS datalake")
    val ev = spark.read.parquet(partedDir)
    val dataDdl = org.apache.spark.sql.types.StructType(
      ev.schema.filterNot(f => Seq("year", "month").contains(f.name))).toDDL
    spark.sql(
      s"""CREATE TABLE datalake.usage ($dataDdl, year STRING, month STRING)
         |USING parquet PARTITIONED BY (year, month) LOCATION '$partedDir'""".stripMargin)
    spark.sql(s"CREATE TABLE datalake.hive_t (v BIGINT, year STRING, month STRING) " +
      s"USING parquet PARTITIONED BY (year, month) LOCATION '$tmp/hive_table'")
    spark.sql(s"CREATE TABLE datalake.pos_t (v BIGINT, partition_0 STRING, partition_1 STRING) " +
      s"USING parquet PARTITIONED BY (partition_0, partition_1) LOCATION '$tmp/pos_table'")
    // jobs: one fast, one failing, one slow
    engine.jobs.register(engine.jobs.JobSpec("quick_job",
      (s, p) => s.range(p.getOrElse("n", "10").toLong).toDF()))
    engine.jobs.register(engine.jobs.JobSpec("failing_job",
      (s, _) => s.range(1).selectExpr("no_such_column")))
    engine.jobs.register(engine.jobs.JobSpec("slow_job",
      (s, _) => { Thread.sleep(2500); s.range(1).toDF() }, maxConcurrentRuns = 1))
    // crawler over the partitioned layout
    engine.crawlers.register(engine.crawlers.CrawlerSpec(
      "events_crawler", partedDir, "parquet", "datalake", "crawled_events"))
  }

  // ---- catalog / partitions (A9-A14) ----

  test("A13 bulk discovery: skip-and-continue + per-dir outcomes") {
    val outcomes = engine.catalog.addPartitionsByLocation("datalake", "usage", partedDir)
    val added = outcomes.count(_._2 == engine.catalog.Added)
    assert(added > 0)
    // _SUCCESS marker at the root has no year= segment → Skipped, not fatal
    assert(outcomes.exists(_._2 == engine.catalog.Skipped))
    // idempotent second pass: everything already exists
    val second = engine.catalog.addPartitionsByLocation("datalake", "usage", partedDir)
    assert(second.count(_._2 == engine.catalog.AlreadyExists) == added)
  }

  test("A9 listPartitions: width agg + sort by location") {
    engine.catalog.addPartitionsByLocation("datalake", "usage", partedDir)
    val listing = engine.catalog.listPartitions("datalake", "usage")
    assert(listing.partitionKeys == Seq("year", "month"))
    assert(listing.data.nonEmpty)
    assert(listing.data == listing.data.sortBy(_.last)) // sorted by location
    // width: at least the label length, at least the longest value
    assert(listing.maxLengths.head >= "year".length)
    assert(listing.maxLengths.head >= listing.data.map(_.head.length).max)
  }

  test("A10 any-column glob filter") {
    val listing = engine.catalog.listPartitions("datalake", "usage")
    val filtered = engine.catalog.filterPartitions(listing, Some("01"))
    assert(filtered.nonEmpty)
    assert(filtered.forall(row => row.exists(_ == "01")))
    assert(engine.catalog.filterPartitions(listing, Some("*2024*")).nonEmpty)
  }

  test("A12 addPartition: Hive dialect location derivation + already-exists warning") {
    engine.catalog.addPartition("datalake", "hive_t", Map("year" -> "2030", "month" -> "12"))
    val listing = engine.catalog.listPartitions("datalake", "hive_t")
    assert(listing.data.head.last.endsWith("hive_table/year=2030/month=12"))
    assertThrows[PartitionAlreadyExists] {
      engine.catalog.addPartition("datalake", "hive_t", Map("year" -> "2030", "month" -> "12"))
    }
  }

  test("A12 addPartition: positional partition_* dialect") {
    engine.catalog.addPartition("datalake", "pos_t",
      Map("partition_0" -> "2031", "partition_1" -> "07"))
    val listing = engine.catalog.listPartitions("datalake", "pos_t")
    // positional dialect: values only, no k= prefix (gluettalax.py:463-465)
    assert(listing.data.head.last.endsWith("pos_table/2031/07"))
  }

  test("A11 partition-arg validation errors") {
    assertThrows[InvalidOption] { // wrong arity
      engine.catalog.addPartition("datalake", "hive_t", Map("year" -> "1999"))
    }
    assertThrows[InvalidOption] { // wrong key names
      engine.catalog.addPartition("datalake", "hive_t", Map("y" -> "1999", "m" -> "01"))
    }
  }

  test("A14 deletePartition + PartitionNotFound") {
    engine.catalog.addPartition("datalake", "hive_t", Map("year" -> "2040", "month" -> "01"))
    engine.catalog.deletePartition("datalake", "hive_t", Map("year" -> "2040", "month" -> "01"))
    assertThrows[PartitionNotFound] {
      engine.catalog.deletePartition("datalake", "hive_t", Map("year" -> "2040", "month" -> "01"))
    }
  }

  test("TableNotFound is typed") {
    assertThrows[TableNotFound] {
      engine.catalog.listPartitions("datalake", "nope")
    }
  }

  test("A12/A14 partition values with quotes/backslashes are escaped, not injected") {
    val spec = Map("year" -> "20'30", "month" -> "0\\1")
    engine.catalog.addPartition("datalake", "hive_t", spec)
    val listing = engine.catalog.listPartitions("datalake", "hive_t")
    assert(listing.data.exists(r => r.head == "20'30" && r(1) == "0\\1"))
    engine.catalog.deletePartition("datalake", "hive_t", spec)
    assertThrows[PartitionNotFound] {
      engine.catalog.deletePartition("datalake", "hive_t", spec)
    }
  }

  // ---- partition writes: the catalog calls give what ALTER TABLE gave ----

  /** One empty file in each of `dirs` under `root` (discovery reads names
    * only); returns the root. */
  private def layout(root: String, dirs: String*): String = {
    dirs.foreach { d =>
      val dir = java.nio.file.Paths.get(root, d)
      Files.createDirectories(dir)
      Files.write(dir.resolve("part-0"), Array.emptyByteArray)
    }
    root
  }

  /** A table's partition rows, the temp dir shown as `<tmp>`. */
  private def partitionRows(table: String): Seq[Seq[String]] =
    engine.catalog.listPartitions("datalake", table).data.map(_.map(_.replace(tmp, "<tmp>")))

  test("A13 discovery parity: stored, duplicate, malformed and quoted dirs keep their report lines") {
    spark.sql(s"CREATE TABLE datalake.disc_t (v BIGINT, year STRING, month STRING) " +
      s"USING parquet PARTITIONED BY (year, month) LOCATION '$tmp/disc_table'")
    val root = layout(s"$tmp/disc_layout", "", "_staging", "x/year=2020/month=02",
      "year=20'30/month=0\\1", "year=2020/month=01", "year=2020/month=02", "year=2021",
      "year=2021/day=3/month=4")
    engine.catalog.addPartition("datalake", "disc_t", Map("year" -> "2020", "month" -> "01"),
      Some(s"$root/year=2020/month=01/"))
    val (code, out) = run("add_partitions", "datalake", "disc_t", root)
    assert(code == 0, out)
    assert(out.map(_.replace(tmp, "<tmp>")) == Seq(
      "Skip file:<tmp>/disc_layout",
      "Skip file:<tmp>/disc_layout/_staging",
      "Partition [file:<tmp>/disc_layout/x/year=2020/month=02] added",
      "Partition [file:<tmp>/disc_layout/year=20'30/month=0\\1] added",
      "Partition [file:<tmp>/disc_layout/year=2020/month=01] already exists",
      "Partition [file:<tmp>/disc_layout/year=2020/month=02] already exists",
      "Skip file:<tmp>/disc_layout/year=2021",
      "Skip file:<tmp>/disc_layout/year=2021/day=3/month=4"))
    assert(partitionRows("disc_t") == Seq(
      Seq("2020", "02", "file:<tmp>/disc_layout/x/year=2020/month=02"),
      Seq("20'30", "0\\1", "file:<tmp>/disc_layout/year=20'30/month=0%5C1"),
      Seq("2020", "01", "file:<tmp>/disc_layout/year=2020/month=01")))
    // an INT key: dir `01` is the stored `1`, and `02` then `2` is one partition
    spark.sql(s"CREATE TABLE datalake.disc_int_t (v BIGINT, k INT) " +
      s"USING parquet PARTITIONED BY (k) LOCATION '$tmp/disc_int_table'")
    engine.catalog.addPartition("datalake", "disc_int_t", Map("k" -> "1"))
    val intRoot = layout(s"$tmp/disc_int_layout", "k=01", "k=1", "k=02", "k=2")
    val (intCode, intOut) = run("add_partitions", "datalake", "disc_int_t", intRoot)
    assert(intCode == 0, intOut)
    assert(intOut.map(_.replace(tmp, "<tmp>")) == Seq(
      "Partition [file:<tmp>/disc_int_layout/k=01] already exists",
      "Partition [file:<tmp>/disc_int_layout/k=02] added",
      "Partition [file:<tmp>/disc_int_layout/k=1] already exists",
      "Partition [file:<tmp>/disc_int_layout/k=2] already exists"))
    assert(partitionRows("disc_int_t") == Seq(
      Seq("1", "file://<tmp>/disc_int_table/k=1"),
      Seq("2", "file:<tmp>/disc_int_layout/k=02")))
  }

  test("A13 discovery fallback: a chunk that meets stored partitions is redone one at a time") {
    spark.sql(s"CREATE TABLE datalake.disc_stale_t (v BIGINT, year STRING, month STRING) " +
      s"USING parquet PARTITIONED BY (year, month) LOCATION '$tmp/disc_stale_table'")
    val root = layout(s"$tmp/disc_stale", "year=2020/month=01", "year=2020/month=02", "_staging")
    assert(run("add_partitions", "datalake", "disc_stale_t", root)._1 == 0)
    layout(root, "year=2020/month=03", "x/year=2020/month=03")
    // a stale listing (no partition stored): the one chunk holds the two
    // stored specs and a new one, so the catalog refuses it whole
    val report = engine.catalog.discoverPartitions("datalake", "disc_stale_t", root, _ => Nil)
    assert(report.map { case (dir, o) => dir.replace(tmp, "<tmp>") -> o.toString } == Seq(
      "file:<tmp>/disc_stale/_staging" -> "Skipped",
      "file:<tmp>/disc_stale/x/year=2020/month=03" -> "Added",
      "file:<tmp>/disc_stale/year=2020/month=01" -> "AlreadyExists",
      "file:<tmp>/disc_stale/year=2020/month=02" -> "AlreadyExists",
      "file:<tmp>/disc_stale/year=2020/month=03" -> "AlreadyExists"))
    assert(partitionRows("disc_stale_t") == Seq(
      Seq("2020", "03", "file:<tmp>/disc_stale/x/year=2020/month=03"),
      Seq("2020", "01", "file:<tmp>/disc_stale/year=2020/month=01"),
      Seq("2020", "02", "file:<tmp>/disc_stale/year=2020/month=02")))
  }

  test("A12/A14 partition writes leave table stats as ALTER TABLE did") {
    import org.apache.spark.sql.catalyst.TableIdentifier
    val dir = s"$tmp/stats_table"
    spark.range(5).write.parquet(s"$dir/year=2020")
    spark.range(7).write.parquet(s"$tmp/stats_extra/year=2022")
    spark.sql(s"CREATE TABLE datalake.stats_t (id BIGINT, year STRING) " +
      s"USING parquet PARTITIONED BY (year) LOCATION '$dir'")
    engine.catalog.addPartition("datalake", "stats_t", Map("year" -> "2020"))
    def stats() = spark.sessionState.catalog
      .getTableMetadata(TableIdentifier("stats_t", Some("datalake"))).stats
      .map(s => (s.sizeInBytes.toLong, s.rowCount.map(_.toLong)))
    def analyze() = { spark.sql("ANALYZE TABLE datalake.stats_t COMPUTE STATISTICS"); stats() }
    val analyzed = analyze()
    assert(analyzed.exists(_._2.contains(5L)), analyzed)
    val size = analyzed.get._1
    val extra = java.nio.file.Files.list(java.nio.file.Paths.get(s"$tmp/stats_extra/year=2022"))
      .toArray.map(_.asInstanceOf[java.nio.file.Path])
      .filter(_.getFileName.toString.endsWith(".parquet")).map(Files.size).sum
    // without size auto-update, a write drops the stats
    engine.catalog.addPartition("datalake", "stats_t", Map("year" -> "2021"))
    val added = stats()
    analyze()
    engine.catalog.deletePartition("datalake", "stats_t", Map("year" -> "2021"))
    val dropped = stats()
    // with it: an empty new partition changes nothing, a non-empty one adds
    // its files' size, and a drop recomputes the size
    var auto = Seq.empty[Option[(Long, Option[Long])]]
    restoring("spark.sql.statistics.size.autoUpdate.enabled") {
      spark.conf.set("spark.sql.statistics.size.autoUpdate.enabled", "true")
      analyze()
      engine.catalog.addPartition("datalake", "stats_t", Map("year" -> "2021"))
      auto :+= stats()
      engine.catalog.addPartition("datalake", "stats_t", Map("year" -> "2022"),
        Some(s"$tmp/stats_extra/year=2022"))
      auto :+= stats()
      engine.catalog.deletePartition("datalake", "stats_t", Map("year" -> "2022"))
      auto :+= stats()
    }
    assert((added, dropped, auto) == ((None, None, Seq(
      Some((size, Some(5L))), Some((size + extra, None)), Some((size, None))))), (size, extra))
  }

  test("A12/A14 a cached spark.table sees the added and the dropped partition") {
    val dir = s"$tmp/cache_table"
    spark.range(3).write.parquet(s"$dir/year=2020")
    spark.range(4).write.parquet(s"$dir/year=2021")
    spark.sql(s"CREATE TABLE datalake.cache_t (id BIGINT, year STRING) " +
      s"USING parquet PARTITIONED BY (year) LOCATION '$dir'")
    engine.catalog.addPartition("datalake", "cache_t", Map("year" -> "2020"))
    spark.table("datalake.cache_t").cache()
    assert(spark.table("datalake.cache_t").count() == 3)
    engine.catalog.addPartition("datalake", "cache_t", Map("year" -> "2021"))
    assert(spark.table("datalake.cache_t").count() == 7)
    engine.catalog.deletePartition("datalake", "cache_t", Map("year" -> "2020"))
    assert(spark.table("datalake.cache_t").count() == 4)
    assert(spark.catalog.isCached("datalake.cache_t"))
    spark.catalog.uncacheTable("datalake.cache_t")
  }

  test("A12-A14 partition writes on a view exit 1") {
    spark.sql("CREATE VIEW datalake.usage_v AS SELECT year, month FROM datalake.usage")
    for (argv <- Seq(
        Seq("add_partition", "datalake", "usage_v", "--year=2030", "--month=01"),
        Seq("add_partition", "datalake", "usage_v"),
        Seq("del_partition", "datalake", "usage_v", "--year=2030", "--month=01"),
        Seq("del_partition", "datalake", "usage_v"),
        Seq("add_partitions", "datalake", "usage_v", partedDir))) {
      val (code, out) = run(argv: _*)
      assert(code == 1, argv.mkString(" ") + ": " + out.mkString(" | "))
    }
  }

  // ---- crawler (A15) ----

  test("A15 crawler: sync run infers schema, registers table, recovers partitions") {
    assert(engine.crawlers.isReady("events_crawler"))
    val started = engine.crawlers.run("events_crawler", timeoutSec = 120)
    assert(started)
    assert(engine.crawlers.isReady("events_crawler"))
    val crawled = spark.table("datalake.crawled_events")
    assert(crawled.count() == 1000)
    assert(crawled.schema.fieldNames.contains("year")) // partition col inferred
    val parts = spark.sql("SHOW PARTITIONS datalake.crawled_events").count()
    assert(parts > 0)
  }

  test("A15 crawler: unknown name is typed") {
    assertThrows[CrawlerNotFound] { engine.crawlers.run("nope") }
  }

  test("A15 crawler: sync run surfaces crawl failure instead of silent success") {
    engine.crawlers.register(engine.crawlers.CrawlerSpec(
      "broken_crawler", s"$tmp/does_not_exist", "parquet", "datalake", "broken_t"))
    assertThrows[Throwable] { engine.crawlers.run("broken_crawler", timeoutSec = 60) }
    assert(engine.crawlers.lastError("broken_crawler").isDefined)
    assert(engine.crawlers.isReady("broken_crawler")) // state machine recovered
  }

  test("A15 crawler: a sync run awaits the crawl itself, its failure every time, its timeout typed") {
    engine.crawlers.register(engine.crawlers.CrawlerSpec(
      "broken_crawler_20", s"$tmp/does_not_exist", "parquet", "datalake", "broken_t20"))
    for (i <- 1 to 20) {
      val e = intercept[Throwable] { engine.crawlers.run("broken_crawler_20", timeoutSec = 60) }
      assert(e.getMessage.contains("does_not_exist"), s"run $i: $e")
      assert(engine.crawlers.isReady("broken_crawler_20"), s"run $i")
    }
    engine.crawlers.register(engine.crawlers.CrawlerSpec(
      "timeout_crawler", partedDir, "parquet", "datalake", "timeout_crawled"))
    assertThrows[CrawlerTimeout] { engine.crawlers.run("timeout_crawler", timeoutSec = 0) }
    // the crawl goes on; a sync run skips its start and awaits it (or,
    // when it is over already, crawls again)
    engine.crawlers.run("timeout_crawler", timeoutSec = 120)
    assert(engine.crawlers.isReady("timeout_crawler"))
    assert(spark.table("datalake.timeout_crawled").count() == 1000)
  }

  test("source formats: crawler infers CSV and JSON-lines layouts too") {
    // SURVEY §2 Layer B scans: csv with inferSchema + json-lines. Convert a
    // slice of the parquet fixture, crawl each, compare the registered
    // tables' contents against the source of truth.
    val src = spark.read.parquet(s"$sfDir/nation.parquet")
    src.coalesce(1).write.mode("overwrite")
      .option("header", "true").csv(s"$tmp/nation_csv")
    src.coalesce(1).write.mode("overwrite").json(s"$tmp/nation_json")
    engine.crawlers.register(engine.crawlers.CrawlerSpec(
      "csv_crawler", s"$tmp/nation_csv", "csv", "datalake", "nation_csv",
      Map("header" -> "true", "inferSchema" -> "true")))
    engine.crawlers.register(engine.crawlers.CrawlerSpec(
      "json_crawler", s"$tmp/nation_json", "json", "datalake", "nation_json"))
    engine.crawlers.run("csv_crawler", timeoutSec = 120)
    engine.crawlers.run("json_crawler", timeoutSec = 120)
    assert(spark.table("datalake.nation_csv").count() == 25)
    assert(spark.table("datalake.nation_json").count() == 25)
    val jsonNames = spark.table("datalake.nation_json")
      .select("n_name").collect().map(_.getString(0)).toSet
    assert(jsonNames == src.select("n_name").collect().map(_.getString(0)).toSet)
  }

  test("crawler store round-trips reader options and hostile characters") {
    val store = java.nio.file.Paths.get(tmp, "crawlers_rt.tsv")
    val e1 = new GraftEngine(spark, Some(store))
    e1.defineCrawler(e1.crawlers.CrawlerSpec(
      "csv_opts", s"$tmp/nation_csv", "csv", "datalake", "nation_csv_rt",
      Map("header" -> "true", "inferSchema" -> "true", "sep" -> "\t", "quote" -> "'")))
    val e2 = new GraftEngine(spark, Some(store)) // fresh engine, same store
    val restored = e2.crawlers.list().find(_.name == "csv_opts").get
    assert(restored.options == Map(
      "header" -> "true", "inferSchema" -> "true", "sep" -> "\t", "quote" -> "'"))
    assert(restored.path == s"$tmp/nation_csv" && restored.format == "csv")
  }

  test("Observation API: run metrics ride the job's single pass (no second scan)") {
    // the run-ledger analog of Glue job metrics: counters computed inside
    // the same action that produces the result, the way a 100 TB job must
    // collect its stats (a separate count() would double the scan)
    val obs = new org.apache.spark.sql.Observation("q1_metrics")
    val df = graft.operators.Relational.q1.build(spark, sfDir)
      .observe(obs, count(lit(1)).as("out_rows"), sum(col("count_order")).as("in_rows"))
    val n = df.count()
    assert(obs.get("out_rows").asInstanceOf[Long] == n)
    assert(obs.get("in_rows").asInstanceOf[Long] > n) // aggregated down
  }

  test("crawler store: legacy (pre-v2, unencoded) lines restore verbatim") {
    // a store written by the previous format: raw TSV, no v2 marker, with
    // '%' and '+' in fields — URL-decoding these must NOT happen ('%' would
    // throw in the engine constructor, '+' would silently become a space)
    val store = java.nio.file.Paths.get(tmp, "crawlers_legacy.tsv")
    java.nio.file.Files.writeString(store,
      "pct%20name\t/data/a+b/100%\tcsv\tdatalake\tt_legacy\tsep=|\n")
    val e = new GraftEngine(spark, Some(store))
    val restored = e.crawlers.list().find(_.name == "pct%20name").get
    assert(restored.path == "/data/a+b/100%")
    assert(restored.options == Map("sep" -> "|"))
    // a v2 line appended to the same store still decodes
    e.defineCrawler(e.crawlers.CrawlerSpec(
      "enc name", "/data/x y", "csv", "datalake", "t_v2", Map("quote" -> "'")))
    val e2 = new GraftEngine(spark, Some(store))
    assert(e2.crawlers.list().exists(c => c.name == "enc name" && c.path == "/data/x y"))
    assert(e2.crawlers.list().exists(_.name == "pct%20name"))
  }

  test("crawl root URI dialect: above-root k=v segments never become partition keys") {
    // a data column `v` whose name also appears as a k=v directory ABOVE the
    // crawl root; the crawl is registered with a file:// URI while
    // inputFiles come back as file:/ — the prefix match must still anchor
    val root = s"$tmp/v=7/evp3"
    spark.range(10).toDF("v")
      .withColumn("year", (col("v") % 2).cast("string"))
      .write.partitionBy("year").mode("overwrite").parquet(root)
    engine.crawlers.register(engine.crawlers.CrawlerSpec(
      "dialect_crawler", "file://" + root, "parquet", "datalake", "dialect_t"))
    engine.crawlers.run("dialect_crawler", timeoutSec = 120)
    val meta = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier("dialect_t", Some("datalake")))
    assert(meta.partitionColumnNames == Seq("year"))
    assert(spark.table("datalake.dialect_t").count() == 10)
  }

  test("partitioned scan prunes partitions (filter reaches PartitionFilters)") {
    val typeDir = s"$tmp/events_by_type"
    graft.operators.events(spark, sfDir)
      .write.partitionBy("event_type").mode("overwrite").parquet(typeDir)
    engine.crawlers.register(engine.crawlers.CrawlerSpec(
      "type_crawler", typeDir, "parquet", "datalake", "usage_by_type"))
    engine.crawlers.run("type_crawler", timeoutSec = 120)
    val q = spark.table("datalake.usage_by_type").filter(col("event_type") === "click")
    val physical = q.queryExecution.executedPlan.toString
    assert(physical.contains("PartitionFilters: [isnotnull(event_type"),
      s"expected partition pruning in plan:\n$physical")
    assert(q.count() > 0)
    assert(q.count() < spark.table("datalake.usage_by_type").count())
  }

  // ---- jobs (A16, A5-A8) ----

  test("A3/A5 names-mode listing == full-mode listing's names (reference full=False)") {
    assert(engine.crawlers.listNames() === engine.crawlers.list().map(_.name))
    assert(engine.jobs.listJobNames() === engine.jobs.listJobs().map(_.name))
    assert(engine.jobs.listJobNames().contains("quick_job"))
  }

  test("A16 runJob sync returns success bool and ledgers SUCCEEDED") {
    assert(engine.jobs.runJob("quick_job", Map("n" -> "5")))
    val runs = engine.jobs.listRuns("quick_job")
    assert(runs.filter(col("state") === "SUCCEEDED").count() >= 1)
  }

  test("A16 failing job: sync false + FAILED in ledger") {
    assert(!engine.jobs.runJob("failing_job"))
    val runs = engine.jobs.listRuns("failing_job", includeSucceeded = false)
    assert(runs.filter(col("state") === "FAILED").count() >= 1)
  }

  test("A16 unknown job is typed") {
    assertThrows[JobNotFound] { engine.jobs.runJob("nope") }
  }

  /** Poll the ledger until no run of `name` is RUNNING (bounded). Fixed
    * sleeps flaked under machine load: a 2.5 s slow_job can outlive a 3 s
    * drain when the box is contended, and the NEXT slow_job test then dies
    * on the concurrency cap instead of its own assertion. */
  private def drainJob(name: String, maxMs: Long = 30000): Unit = {
    val deadline = System.currentTimeMillis() + maxMs
    while (engine.jobs.listRuns(name).filter(col("state") === "RUNNING")
        .count() > 0 && System.currentTimeMillis() < deadline)
      Thread.sleep(100)
    assert(System.currentTimeMillis() < deadline, s"$name did not drain in ${maxMs}ms")
  }

  test("A16 concurrency cap") {
    engine.jobs.runJob("slow_job", async = true)
    assertThrows[JobConcurrentRunsExceeded] { engine.jobs.runJob("slow_job") }
    drainJob("slow_job")
  }

  test("A16 sync timeout raises JobTimeout (run keeps going)") {
    assertThrows[JobTimeout] {
      engine.jobs.runJob("slow_job", timeoutSec = Some(1))
    }
    drainJob("slow_job")
  }

  test("M5 streaming job runs through the M3 job runner (sync + ledger)") {
    // SURVEY §7 M5: streams are orchestrated through the job runner, so the
    // run/poll/timeout semantics of A15/A16 apply to streaming too. The job
    // starts an AvailableNow file-source stream, drains it to a memory
    // sink, and returns the sink for the runner's action.
    engine.jobs.register(engine.jobs.JobSpec("streaming_tumbling", (s, _) => {
      val src = s.readStream
        .schema(graft.operators.events(s, sfDir).schema)
        .parquet(partedDir)
      val q = graft.streaming.Streams.tumblingCounts(src)
        .writeStream.format("memory").queryName("job_stream_sink")
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.table("job_stream_sink")
    }, timeoutMinutes = 2))
    assert(engine.jobs.runJob("streaming_tumbling"))
    val runs = engine.jobs.listRuns("streaming_tumbling")
    assert(runs.filter(col("state") === "SUCCEEDED").count() == 1)
  }

  test("A7/A8 listRuns ordering + top-1-per-group") {
    engine.jobs.runJob("quick_job")
    engine.jobs.runJob("quick_job")
    val runs = engine.jobs.listRuns("quick_job", lines = Some(2)).collect()
    assert(runs.length == 2)
    val latest = engine.jobs.printJobRuns(None, None).collect()
    // one row per job that has runs (job_name is col 4 in display order)
    assert(latest.map(_.getString(4)).distinct.length == latest.length)
    // display schema mirrors the reference row (gluettalax.py:330)
    assert(engine.jobs.printJobRuns(None, None).columns.toSeq ==
      Seq("state", "cap", "execution_time", "started_on", "job_name", "arguments"))
  }

  test("A8 list_runs CLI golden format: Status/Cap header + capacity column") {
    engine.jobs.runJob("quick_job", Map("n" -> "4"))
    val (code, out) = run("list_runs", "quick_job", "--lines=1")
    assert(code == 0)
    assert(out.head == "%10s %4s %-10s  %-19s   %s %s".format(
      "Status", "Cap", "Exec time", "Start time", "Name and arguments", ""))
    val dataRow = out.drop(2).head
    assert(dataRow.trim.startsWith("SUCCEEDED"))
    // Cap column renders the spec's allocatedCapacity (default 2) right-aligned
    assert(dataRow.contains("SUCCEEDED    2 "))
    assert(dataRow.contains("quick_job --n 4"))
  }

  test("A1/A7/A8 listings are answered on the driver: collecting them starts no Spark job") {
    engine.jobs.runJob("quick_job")
    for ((what, df) <- Seq[(String, () => org.apache.spark.sql.DataFrame)](
        "listTables" -> (() => engine.catalog.listTables()),
        "listTables pushed" -> (() => engine.catalog.listTables(Some("hive*"))),
        "listTables residual" -> (() => engine.catalog.listTables(Some("?os_t"))),
        "listRuns" -> (() => engine.jobs.listRuns("quick_job", Some(2))),
        "printJobRuns named" -> (() => engine.jobs.printJobRuns(Some("quick_job"), Some(2))),
        "printJobRuns all" -> (() => engine.jobs.printJobRuns(None, Some(2))))) {
      val (rows, jobs) = jobsStartedBy(df().collect())
      assert(rows.nonEmpty && jobs == 0, s"$what: ${rows.length} rows, $jobs jobs")
    }
  }

  test("A1/A7/A8 listing order equals Spark's: started_on ties, names beyond the BMP") {
    // runs recorded with chosen start times into a runner of their own
    val jr = new graft.jobs.JobRunner(spark)
    val (yen, smile) = ("j￥", "j😀") // U+FFE5, U+1F600
    Seq("tie_b", "tie_a", yen, smile).foreach(n =>
      jr.register(jr.JobSpec(n, (s, _) => s.range(1).toDF())))
    val t0 = 1700000000000L
    Seq("tie_a" -> 0, "tie_a" -> 0, "tie_b" -> 0, "tie_a" -> -1000, "tie_b" -> 0, "tie_a" -> 0,
        smile -> 5, yen -> 5, "tie_b" -> 500, "tie_a" -> 0).zipWithIndex.foreach {
      case ((n, dt), i) =>
        jr.record(jr.JobRun(i + 1L, n, jr.Succeeded, new java.sql.Timestamp(t0 + dt), None,
          0, Map("r" -> (i + 1).toString), 2, None))
    }
    def runIds(df: org.apache.spark.sql.DataFrame) =
      df.select("run_id").collect().map(_.getLong(0)).toSeq
    def display(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => s"${r.getString(4)} ${r.getString(3)} ${r.getString(5)}").toSeq
    // names: U+FFE5 is 3 UTF-8 bytes (EF BF A5) and sorts before the 4-byte
    // U+1F600 (F0 …), though its UTF-16 unit 0xFFE5 is above 0xD83D
    Seq("zz_￥", "zz_😀", "zz_a").foreach(t =>
      spark.sql(s"CREATE OR REPLACE TEMP VIEW `$t` AS SELECT 1 AS v"))
    val names = engine.catalog.listTables(Some("zz_*")).collect()
      .map(r => s"${r.getString(0)}.${r.getString(1)}").toSeq
    val at = "2023-11-14T22:13:20"
    assert(runIds(jr.listRuns("tie_a")) == Seq(10, 6, 2, 1, 4))
    assert(runIds(jr.listRuns("tie_a", Some(2))) == Seq(10, 6))
    assert(display(jr.printJobRuns(None)) ==
      Seq(s"$yen $at --r 8", s"$smile $at --r 7", s"tie_a $at --r 10", s"tie_b $at --r 9"))
    assert(display(jr.printJobRuns(None, Some(2))) == Seq(s"$yen $at --r 8", s"$smile $at --r 7",
      s"tie_a $at --r 10", s"tie_a $at --r 6", s"tie_b $at --r 9", s"tie_b $at --r 5"))
    assert(display(jr.printJobRuns(Some("tie_b"), Some(2))) ==
      Seq(s"tie_b $at --r 9", s"tie_b $at --r 5"))
    assert(names == Seq(".zz_a", ".zz_￥", ".zz_😀")) // temp views: no database, listed once
  }

  test("q190 and q245 leave the caller's conf and temp views as they found them") {
    val s = spark.newSession()
    def state() = (s.conf.getAll,
      s.catalog.listTables().collect().filter(_.isTemporary).map(_.name).toSet)
    for (q <- Seq(operators.Sources.q190, operators.Relational.q245)) {
      val before = state()
      q.build(s, sfDir).collect()
      assert(state() == before, q.name)
    }
  }

  test("A16 run_job CLI: --timeout is a reserved poll param, not a job arg") {
    // sync run with --timeout=1 on a slow job exits via JobTimeout (exit 1)…
    val (code, _) = run("run_job", "slow_job", "--timeout=1", "--delay=1")
    assert(code == 1)
    drainJob("slow_job")
    // …and neither reserved param leaked into the run's arguments
    val args = engine.jobs.listRuns("slow_job").orderBy(desc("run_id"))
      .select("arguments").collect().head.getString(0)
    assert(!args.contains("timeout") && !args.contains("delay"))
  }

  // ---- CLI exit-code contract (A23), mirroring test_crawler.py ----

  test("no args → help, exit 2") {
    val (code, out) = run()
    assert(code == 2)
    assert(out.exists(_.contains("usage: graft")))
  }

  test("help → 0; help with command → 0") {
    assert(run("help")._1 == 0)
    assert(run("-h")._1 == 0)
    val (c, out) = run("help", "list_partitions")
    assert(c == 0 && out.exists(_.contains("<db> <table>")))
  }

  test("list commands → 0, with and without glob") {
    assert(run("list_tables")._1 == 0)
    assert(run("lst", "usag*")._1 == 0)
    assert(run("list_crawlers")._1 == 0)
    assert(run("list_jobs", "quick*", "--noheaders")._1 == 0)
    assert(run("list_partitions", "datalake", "usage")._1 == 0)
    assert(run("lsp", "datalake", "usage", "*2024*", "--noheaders")._1 == 0)
    // the glob must actually FILTER through the CLI path (A2/A17), not just
    // exit 0: every printed job row starts with the pattern's prefix
    val (cj, jobs) = run("list_jobs", "quick*", "--noheaders")
    assert(cj == 0 && jobs.nonEmpty && jobs.forall(_.startsWith("quick")), jobs)
    val (cn, none) = run("list_jobs", "zzz*", "--noheaders")
    assert(cn == 0 && none.isEmpty, none)
  }

  test("unknown command → 1") {
    assert(run("frobnicate")._1 == 1)
  }

  test("registry consistency: query and artifact names unique, disjoint, and convention-clean") {
    val qNames = SparkEntry.registry.map(_.name)
    assert(qNames.distinct.size == qNames.size, "duplicate query names")
    val aNames = SparkEntry.artifacts.map(_._1)
    assert(aNames.distinct.size == aNames.size, "duplicate artifact names")
    assert(aNames.forall(_.startsWith("x_")), "artifact lines must be x_-prefixed")
    assert(qNames.forall(!_.startsWith("x_")), "query names must not collide with artifact prefix")
    assert((qNames.toSet & aNames.toSet).isEmpty)
    // every oracle key refers to a registered query
    assert(SparkEntry.oracleSql.keySet.subsetOf(qNames.toSet))
  }

  test("A2/§4 glob pushdown: catalog-dialect patterns prune during the listing; fnmatch stays the contract") {
    // '*'-only patterns are handed to the session catalog's listing call
    // (pruned during the scan); '?'/'[seq]' are not expressible there and
    // keep the full listing + residual filter — all three classes must
    // return exactly the fnmatch answer
    def names(p: String) = engine.catalog.listTables(Some(p))
      .select("table_name").collect().map(_.getString(0)).toSet
    assert(names("hive*") == Set("hive_t"))
    assert(names("?os_t") == Set("pos_t"))
    assert(names("[hp]*_t") == Set("hive_t", "pos_t"))
    // and the exact fnmatch predicate sits INSIDE the listing DataFrame
    // (below the collect), never applied client-side on materialized rows
    val plan = engine.catalog.listTables(Some("hive*"))
      .queryExecution.analyzed.toString
    assert(plan.toUpperCase.contains("RLIKE"), plan)
  }

  test("A2/§4 pushdown decision: only regex-safe-literal patterns are pushed (ADVICE r6)") {
    // The catalog listing treats the pattern as a regex ('*'→'.*'): a
    // pushed pattern with any other metachar would under-match — prune
    // names the fnmatch contract keeps — and the residual filter can't
    // restore pruned rows. Pin the decision both ways.
    val pushable = Seq("hive*", "*", "a_b*", "t.2024*", "a-b*", "Abc123*")
    val unpushable = Seq("?os_t", "[hp]*_t", "a|b*", "a+b*", "a(b*", "a)b*",
      "a{b*", "a}b*", "a^b*", "a$b*", "a\\b*")
    pushable.foreach(p =>
      assert(engine.catalog.catalogPushable(p), s"$p should push down"))
    unpushable.foreach(p =>
      assert(!engine.catalog.catalogPushable(p), s"$p must NOT push down"))
    // behavioral: a regex-metachar pattern still returns the exact fnmatch
    // answer via the unfiltered listing + residual ('+' is literal in
    // fnmatch; as a pushed regex 'hive+*' would mean 'hiv' + 1+ 'e's and
    // 'a{b*' would be an invalid regex yielding an EMPTY listing)
    def names(p: String) = engine.catalog.listTables(Some(p))
      .select("table_name").collect().map(_.getString(0)).toSet
    assert(names("hive+*") == Set.empty)
    assert(names("a{b*") == Set.empty)
    assert(names("hive_t") == Set("hive_t")) // no wildcard at all: pushable literal
  }

  test("async crawler run → 0") {
    assert(run("run_crawler", "events_crawler", "--async")._1 == 0)
    // bounded poll, not a fixed sleep — see drainJob
    val deadline = System.currentTimeMillis() + 30000
    while (!engine.crawlers.isReady("events_crawler")
        && System.currentTimeMillis() < deadline)
      Thread.sleep(100)
    assert(engine.crawlers.isReady("events_crawler"), "crawler did not drain")
  }

  test("add_partition already exists → warning, exit 0") {
    run("add_partition", "datalake", "hive_t", "--year=2050", "--month=01")
    val (code, out) = run("addp", "datalake", "hive_t", "--year=2050", "--month=01")
    assert(code == 0)
    assert(out.exists(_.contains("already exists")))
  }

  test("del_partition missing → exit 1") {
    assert(run("rmp", "datalake", "hive_t", "--year=1900", "--month=01")._1 == 1)
  }

  test("run_job: success → 0, failure → 1 (deliberate fix of reference bug)") {
    assert(run("run_job", "quick_job", "--n=3")._1 == 0)
    assert(run("runj", "failing_job")._1 == 1)
  }

  test("explain_job: plan digest without execution, verbose plan on demand, unknown job → 1") {
    engine.jobs.register(engine.jobs.JobSpec("explainable_job",
      (s, p) => graft.operators.Relational.q6.build(s, sfDir)))
    val (code, out) = run("explain_job", "explainable_job")
    assert(code == 0, out.mkString("\n"))
    assert(out.exists(_.startsWith("job: explainable_job")), out.mkString("\n"))
    val digest = out.find(_.startsWith("scans=")).get
    assert(digest.contains("broadcast_joins=1"), digest) // q6's pinned plan fact
    val (vc, vout) = run("exp", "explainable_job", "--verbose")
    assert(vc == 0 && vout.exists(_.contains("BroadcastHashJoin")), vout.take(5).mkString("\n"))
    assert(run("explain_job", "no_such_job")._1 == 1)
  }

  test("invalid option → exit 1") {
    assert(run("list_partitions")._1 == 1) // missing required positionals
    spark.sql(s"CREATE TABLE datalake.flat_t (v BIGINT) USING parquet LOCATION '$tmp/flat_table'")
    spark.sql(s"CREATE TABLE datalake.bad_int_t (v BIGINT, k INT) " +
      s"USING parquet PARTITIONED BY (k) LOCATION '$tmp/bad_int_table'")
    val missing = s"$tmp/no_such_layout"
    val badInt = layout(s"$tmp/bad_int_layout", "k=5", "k=abc")
    // malformed values name the flag, table or path instead of escaping main
    for ((argv, named) <- Seq(
        Seq("run_crawler", "any_crawler", "--timeout=abc") -> "--timeout",
        Seq("run_job", "any_job", "--timeout=abc") -> "--timeout",
        Seq("list_runs", "--lines=abc") -> "--lines",
        Seq("list_runs", "--lines=-1") -> "--lines",
        Seq("list_runs", "quick_job", "--lines=-1") -> "--lines",
        Seq("add_partitions", "datalake", "flat_t", partedDir) -> "datalake.flat_t",
        Seq("add_partitions", "datalake", "usage", missing) -> missing,
        // a value that does not cast to its INT key
        Seq("add_partition", "datalake", "bad_int_t", "--k=abc") -> "CAST_INVALID_INPUT",
        Seq("add_partitions", "datalake", "bad_int_t", badInt) -> "CAST_INVALID_INPUT")) {
      val (code, out) = run(argv: _*)
      assert(code == 1, argv.mkString(" "))
      assert(out.exists(_.contains(named)), out.mkString("\n"))
    }
    assert(partitionRows("bad_int_t") == Nil)
  }

  test("fixture schema memo: inferred once, keyed by file status and parquet confs, fresh frames") {
    import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
    import graft.operators.table
    val nanos = "spark.sql.legacy.parquet.nanosAsLong"
    val ntz = "spark.sql.parquet.inferTimestampNTZ.enabled"
    // (a) every fixture, both with and without events()'s nanosAsLong
    val fixtures = new java.io.File(sfDir).list().filter(_.endsWith(".parquet"))
      .map(_.stripSuffix(".parquet")).sorted.toSeq
    assert(fixtures.contains("events") && fixtures.size >= 10)
    restoring(nanos) {
      for (nanosAsLong <- Seq(false, true); t <- fixtures) {
        if (nanosAsLong) spark.conf.set(nanos, "true") else spark.conf.unset(nanos)
        assert(table(spark, sfDir, t).schema ==
          spark.read.parquet(s"$sfDir/$t.parquet").schema, s"$t (nanosAsLong=$nanosAsLong)")
      }
    }
    // (b) a warm read starts no Spark job; a bare read does
    val first = table(spark, sfDir, "orders")
    assert(jobsStartedBy(spark.read.parquet(s"$sfDir/orders.parquet"))._2 >= 1)
    val (second, warmJobs) = jobsStartedBy(table(spark, sfDir, "orders"))
    assert(warmJobs == 0)
    // a fresh frame per call: a self-join of two reads resolves
    assert(first.queryExecution.analyzed.output.map(_.exprId).toSet
      .intersect(second.queryExecution.analyzed.output.map(_.exprId).toSet).isEmpty)
    assert(first.as("a").join(second.as("b"), col("a.o_orderkey") === col("b.o_orderkey"))
      .count() == first.count())
    // (c) an inferTimestampNTZ flip infers afresh, and back
    assert(table(spark, sfDir, "orders").schema("o_orderdate").dataType == TimestampNTZType)
    restoring(ntz) {
      spark.conf.set(ntz, "false")
      assert(table(spark, sfDir, "orders").schema("o_orderdate").dataType == TimestampType)
    }
    assert(table(spark, sfDir, "orders").schema("o_orderdate").dataType == TimestampNTZType)
    // (d) a rewritten file shows its new column on the next read
    val dir = s"$tmp/schema_memo"
    spark.range(3).write.mode("overwrite").parquet(s"$dir/t.parquet")
    assert(table(spark, dir, "t").columns.toSeq == Seq("id"))
    spark.range(3).withColumn("extra", col("id") * 2)
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    assert(table(spark, dir, "t").columns.toSeq == Seq("id", "extra"))
    assert(table(spark, dir, "t").agg(sum("extra")).head().getLong(0) == 6L)
  }

  test("d5 embedding near-dup: keeper precedes doc, sim within cosine bounds") {
    val rows = graft.operators.Dedup.d5.build(spark, sfDir)
      .select("doc_id", "keep_id", "max_sim").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(1) < r.getLong(0)) // keeper = min id among neighbors
      assert(r.getDouble(2) <= 1.0001 && r.getDouble(2) >= 0.35)
    }
  }

  test("SupportsDeleteV2: supported predicates delete source-side; unsupported ones REFUSE") {
    import org.apache.spark.sql.functions._
    val s2 = operators.scoped(spark, operators.graftCatalog("graft_cat"): _*)
    val tbl = s"graft_cat.spec.del_${System.nanoTime()}"
    s2.range(10)
      .select(col("id").as("k"), (col("id") % 2).cast("string").as("p"),
        (col("id") * 100).as("v"))
      .writeTo(tbl).partitionedBy(col("p")).create()
    // translatable compound predicate: applied in the source, rows gone
    s2.sql(s"DELETE FROM $tbl WHERE k < 3 OR v >= 800")
    assert(s2.sql(s"SELECT count(*) FROM $tbl").collect()(0).getLong(0) == 5L)
    // untranslatable predicate (expression over a column): canDeleteWhere
    // refuses the metadata path, and — now that the table implements
    // SupportsRowLevelOperations (r11) — Spark falls back to the
    // group-based REWRITE instead of erroring (the Delta/Iceberg posture:
    // log-only delete when the predicate translates, rewrite when not).
    // Remaining rows are k ∈ {3,4,5,6,7}; the rewrite removes 4 and 6.
    s2.sql(s"DELETE FROM $tbl WHERE k % 2 = 0")
    assert(s2.sql(s"SELECT count(*) FROM $tbl").collect()(0).getLong(0) == 3L,
      "untranslatable DELETE must fall back to the row-level rewrite")
    assert(s2.sql(s"SELECT min(k), max(k) FROM $tbl").collect()(0) match {
      case r => r.getLong(0) == 3L && r.getLong(1) == 7L
    })
    // TRUNCATE rides the same contract's default (ALWAYS_TRUE delete)
    s2.sql(s"TRUNCATE TABLE $tbl")
    assert(s2.sql(s"SELECT count(*) FROM $tbl").collect()(0).getLong(0) == 0L)
    s2.sql(s"DROP TABLE $tbl")
  }

  test("KNOWN SPARK 4.1 BUG (pinned): TVF body ORDER BY…LIMIT hoists above the LATERAL correlation") {
    // q284 deliberately excludes ORDER BY…LIMIT from its TVF body because
    // Spark 4.1's function inliner hoists the body LIMIT above the lateral
    // correlation: `LATERAL topv(g)` returns the GLOBAL top row filtered by
    // the correlation instead of each invocation's own top row. This test
    // asserts TODAY'S WRONG behavior so a Spark upgrade that fixes the
    // inliner flips it LOUDLY — the signal to unlock body-LIMIT TVFs in
    // q284 (VERDICT r11 item 6). Correct semantics would be one row per
    // group: (1, 20), (2, 40).
    val s2 = spark.newSession()
    import s2.implicits._
    Seq((1L, 10L), (1L, 20L), (2L, 30L), (2L, 40L))
      .toDF("g", "v").createOrReplaceTempView("tvf_lim_src")
    s2.sql(
      """CREATE TEMPORARY FUNCTION topv(k BIGINT) RETURNS TABLE (v BIGINT)
         RETURN SELECT v FROM tvf_lim_src WHERE g = k ORDER BY v DESC LIMIT 1""")
    val got = s2.sql(
      """SELECT s.g, f.v FROM (SELECT DISTINCT g FROM tvf_lim_src) s,
         LATERAL topv(s.g) f ORDER BY s.g, f.v""")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val correct = Seq((1L, 20L), (2L, 40L))
    assert(got != correct,
      s"Spark's TVF inliner now scopes body LIMIT per-invocation ($got) — " +
        "the upstream bug is FIXED: unlock ORDER BY…LIMIT bodies in q284 " +
        "and retire this pin")
    // today's measured wrong shape (Spark 4.1.2, local[4]): the hoisted
    // LIMIT 1 truncates the UNCORRELATED source before the per-invocation
    // ORDER BY even applies — the surviving row is the source's FIRST row
    // (1, 10), not even the global top — and only the g=1 invocation
    // matches it. Both symptoms (scope hoist + dropped sort) must vanish
    // together for the fix signal above to fire.
    assert(got == Seq((1L, 10L)), s"unexpected bug shape: $got")
  }
}
