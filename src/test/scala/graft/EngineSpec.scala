package graft

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.cli.{Commands, GraftEngine}

/** E2E engine tests: catalog/partition surface (A9-A14), crawler lifecycle
  * (A15), job runner (A16, A5-A8) and the CLI exit-code contract (A23) —
  * mirroring the reference's test_crawler.py exit-code assertions with a
  * temp local-fs warehouse standing in for the mocked Glue backend.
  */
class EngineSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val tmp = Files.createTempDirectory("graft_test").toString

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.warehouse.dir", s"$tmp/warehouse")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

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

  override def beforeAll(): Unit = {
    super.beforeAll()
    spark.sparkContext.setLogLevel("WARN")
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
    // malformed numeric values name the flag instead of escaping main
    for ((argv, flag) <- Seq(
        Seq("run_crawler", "any_crawler", "--timeout=abc") -> "--timeout",
        Seq("run_job", "any_job", "--timeout=abc") -> "--timeout",
        Seq("list_runs", "--lines=abc") -> "--lines")) {
      val (code, out) = run(argv: _*)
      assert(code == 1, argv.mkString(" "))
      assert(out.exists(_.contains(flag)), out.mkString("\n"))
    }
  }

  test("fixture schema memo: inferred once, keyed by file status and parquet confs, fresh frames") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
    import graft.operators.table
    val sc = spark.sparkContext
    val nanos = "spark.sql.legacy.parquet.nanosAsLong"
    val ntz = "spark.sql.parquet.inferTimestampNTZ.enabled"
    def restoring(key: String)(body: => Unit): Unit = {
      val prev = spark.conf.getAll.get(key)
      try body finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    }
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
    // (b) a warm read starts no Spark job; a bare read does (the listener
    // sees this thread's jobs only: async runs from other tests may still
    // be going). A sentinel job drains the bus: events arrive in order.
    val tag = "graft.test.schemaMemo"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    var drained = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(tag))) match {
          case Some("sentinel") => drained.countDown()
          case Some(_) => jobs.incrementAndGet()
          case None => ()
        }
    }
    def jobsStartedBy[T](body: => T): (T, Int) = {
      jobs.set(0)
      sc.setLocalProperty(tag, "read")
      val out = try body finally sc.setLocalProperty(tag, null)
      drained = new java.util.concurrent.CountDownLatch(1)
      sc.setLocalProperty(tag, "sentinel")
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(tag, null)
      assert(drained.await(60, java.util.concurrent.TimeUnit.SECONDS), "listener bus not drained")
      (out, jobs.get)
    }
    val first = table(spark, sfDir, "orders")
    sc.addSparkListener(listener)
    try {
      assert(jobsStartedBy(spark.read.parquet(s"$sfDir/orders.parquet"))._2 >= 1)
      val (second, warmJobs) = jobsStartedBy(table(spark, sfDir, "orders"))
      assert(warmJobs == 0)
      // a fresh frame per call: a self-join of two reads resolves
      assert(first.queryExecution.analyzed.output.map(_.exprId).toSet
        .intersect(second.queryExecution.analyzed.output.map(_.exprId).toSet).isEmpty)
      assert(first.as("a").join(second.as("b"), col("a.o_orderkey") === col("b.o_orderkey"))
        .count() == first.count())
    } finally sc.removeSparkListener(listener)
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
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.catalog.graft_cat", "graft.sources.GraftSparkCatalog")
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
  override def afterAll(): Unit = {
    try spark.stop() finally super.afterAll()
  }
}
