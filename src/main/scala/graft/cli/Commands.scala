package graft.cli

import org.apache.spark.sql.SparkSession
import graft._
import graft.catalog.{Crawlers, GraftCatalog}
import graft.jobs.JobRunner
import graft.functions.Functions.{formatTime, globToRegex}
import ArgParser.parseArgs

/** Engine facade: one SparkSession + the catalog/crawler/job surfaces.
  * `crawlerStore` (set when a persistent warehouse is configured) makes
  * crawler definitions durable across engine instances, the way the
  * reference's crawlers pre-exist in the Glue backend. */
final class GraftEngine(val spark: SparkSession,
    val crawlerStore: Option[java.nio.file.Path] = None) {
  val catalog = new GraftCatalog(spark)
  val crawlers = new Crawlers(spark)
  val jobs = new JobRunner(spark)

  // Store fields are URL-encoded so values containing tab/newline/'=' can't
  // corrupt the TSV; reader options travel as a sixth `k=v&k=v` field.
  private def enc(s: String) = java.net.URLEncoder.encode(s, "UTF-8")
  private def dec(s: String) = java.net.URLDecoder.decode(s, "UTF-8")

  // restore persisted crawler definitions
  // (TSV: [v2] name path format db table options) — later lines win
  // (register replaces the spec), matching append-on-redefine below.
  // Lines written by the current format lead with a "v2" marker field and
  // are URL-decoded; lines without it predate the encoding and must be
  // taken verbatim — decoding them would corrupt '+' to ' ' and throw on a
  // literal '%' (ADVICE r2), killing the engine constructor.
  crawlerStore.filter(java.nio.file.Files.exists(_)).foreach { p =>
    scala.jdk.CollectionConverters.IteratorHasAsScala(
      java.nio.file.Files.lines(p).iterator()).asScala
      .map(_.split('\t'))
      .foreach { raw =>
        val v2 = raw.headOption.contains("v2")
        val f = if (v2) raw.drop(1) else raw
        def field(s: String) = if (v2) dec(s) else s
        if (f.length >= 5) {
          val options =
            if (f.length >= 6 && f(5).nonEmpty)
              f(5).split('&').filter(_.nonEmpty).map { kv =>
                val Array(k, v) = kv.split("=", 2)
                field(k) -> field(v)
              }.toMap
            else Map.empty[String, String]
          crawlers.register(crawlers.CrawlerSpec(
            field(f(0)), field(f(1)), field(f(2)), field(f(3)), field(f(4)), options))
        }
      }
  }

  /** Register a crawler and, when a store is configured, persist it
    * (including reader options — a csv crawler with header/inferSchema must
    * behave identically after an engine restart). */
  def defineCrawler(spec: Crawlers#CrawlerSpec): Unit = {
    crawlers.register(crawlers.CrawlerSpec(
      spec.name, spec.path, spec.format, spec.database, spec.table, spec.options))
    crawlerStore.foreach { p =>
      val opts = spec.options.toSeq.sortBy(_._1)
        .map { case (k, v) => s"${enc(k)}=${enc(v)}" }.mkString("&")
      val line = ("v2" +: (Seq(spec.name, spec.path, spec.format, spec.database, spec.table)
        .map(enc) :+ opts)).mkString("\t") + "\n"
      java.nio.file.Files.writeString(p, line,
        java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.APPEND)
    }
  }
}

/** Command registry and dispatch — the reference's @cmd/@alias/@usage
  * machinery (A21-A23, gluettalax.py:517-563, 803-862) as a plain Scala
  * registry. Same command names, aliases, usage grammar, help rendering and
  * exit-code contract: no args → help + exit 2; GraftWarning → print +
  * exit 0; GraftException → print + exit 1; engine (Spark) errors → exit 1.
  */
object Commands {

  final case class Command(
      name: String,
      aliases: Seq[String],
      usage: String,
      doc: String,
      handler: (GraftEngine, Seq[String], String => Unit) => Unit)

  /** An integer option value; a malformed one is an InvalidOption naming
    * the flag, so the command exits 1 instead of leaking a
    * NumberFormatException past [[main]]. */
  private def intOpt(flag: String, v: Any): Int =
    v.toString.toIntOption.getOrElse(
      throw InvalidOption(s"invalid value for --$flag: $v"))

  private def globKeep(pattern: Option[String], value: String): Boolean =
    pattern.filter(_.nonEmpty).forall(p =>
      ("^" + globToRegex(p) + "$").r.matches(value))

  val all: Seq[Command] = Seq(
    Command("list_tables", Seq("lst"), "[pattern] [--noheaders]",
      "List tables. Example: list_tables 'test*' --noheaders",
      (e, argv, out) => {
        val r = parseArgs(argv, "[pattern] [--noheaders]", Map("op_noheaders" -> false))
        val pattern = r.positional1
        if (r.kargs("op_noheaders") == false) {
          out(f"${"Database"}%-40s Name"); out("-" * 70)
        }
        e.catalog.listTables(pattern).collect().foreach { row =>
          out(f"${row.getString(0)}%-40s ${row.getString(1)}")
        }
      }),

    Command("list_crawlers", Seq("lsc"), "[pattern] [--noheaders]",
      "List crawlers. Example: list_crawlers 'test*' --noheaders",
      (e, argv, out) => {
        val r = parseArgs(argv, "[pattern] [--noheaders]", Map("op_noheaders" -> false))
        if (r.kargs("op_noheaders") == false) {
          out(f"${"Name"}%-40s ${"Status"}%-10s "); out("-" * 70)
        }
        e.crawlers.list().filter(c => globKeep(r.positional1, c.name)).foreach { c =>
          val state = if (e.crawlers.isReady(c.name)) "READY" else "RUNNING"
          val elapsed = // conditional projection, gluettalax.py:654-657
            if (state == "RUNNING") formatTime(e.crawlers.crawlElapsedMs(c.name) / 1000)
            else ""
          out(f"${c.name}%-40s $state%-10s $elapsed")
        }
      }),

    Command("list_jobs", Seq("lsj"), "[pattern] [--noheaders]",
      "List jobs. Example: list_jobs 'test*'",
      (e, argv, out) => {
        val r = parseArgs(argv, "[pattern] [--noheaders]", Map("op_noheaders" -> false))
        if (r.kargs("op_noheaders") == false) {
          out(f"${"Name"}%-40s ${"Capacity"}%-8s  ${"Max concurrent"}%-10s"); out("-" * 70)
        }
        e.jobs.listJobs().filter(j => globKeep(r.positional1, j.name)).foreach { j =>
          out(f"${j.name}%-40s ${j.allocatedCapacity}%-8s  ${j.maxConcurrentRuns}%-10s")
        }
      }),

    Command("add_crawler", Seq("addc"), "<crawler_name> <path> <db> <table> [--format=fmt] [--option1=value...]",
      "Define a crawler over a path (persisted when a warehouse is configured); extra --k=v become reader options.",
      (e, argv, out) => {
        val r = parseArgs(argv, "<crawler_name> <path> <db> <table> [--format=fmt] [--option1=value...]",
          Map("format" -> "parquet"))
        val List(name, path, db, table) = r.positionals.take(4)
        val options = (r.kargs - "format").collect {
          case (k, v) if v != null => k -> v.toString
        }
        e.defineCrawler(e.crawlers.CrawlerSpec(
          name.get, path.get, r.kargs("format").toString, db.get, table.get, options))
        out(s"Crawler ${name.get} added")
      }),

    Command("run_crawler", Seq("runc"), "<crawler_name> [--async] [--timeout=seconds]",
      "Run a crawler. If not async, wait until execution is finished.",
      (e, argv, out) => {
        val r = parseArgs(argv, "<crawler_name> [--async] [--timeout=seconds]",
          Map("op_async" -> false, "timeout" -> 600))
        val timeout = intOpt("timeout", r.kargs("timeout"))
        e.crawlers.run(r.positional1.get, async = r.kargs("op_async") == true,
          timeoutSec = timeout)
      }),

    Command("list_runs", Seq("lsr"), "[job_name] [--lines=num] [--noheaders]",
      "Print job run history. Example: list_runs my_batch_job --lines 10",
      (e, argv, out) => {
        val r = parseArgs(argv, "[job_name] [--lines=num] [--noheaders]",
          Map("lines" -> null, "op_noheaders" -> false))
        val lines = Option(r.kargs("lines")).map(intOpt("lines", _))
        // reference row format (gluettalax.py:330):
        //   '{JobRunState:>10} {AllocatedCapacity:>4} {ExecutionTime:10}  {StartedOn:19}   {JobName} {Arguments}'
        val fmt = "%10s %4s %-10s  %-19s   %s %s"
        if (r.kargs("op_noheaders") == false) {
          out(fmt.format("Status", "Cap", "Exec time", "Start time", "Name and arguments", ""))
          out("-" * 70)
        }
        // the reference swallows IOError (broken pipe) at the print sink
        // (gluettalax.py:353-354) so `... | head` doesn't surface an error
        try e.jobs.printJobRuns(r.positional1, lines).collect().foreach { row =>
          out(fmt.format(row.getString(0), row.getInt(1).toString, row.getString(2),
            row.getString(3), row.getString(4), row.getString(5)))
        } catch { case _: java.io.IOException => () }
      }),

    Command("run_job", Seq("runj"), "<job_name> [--async] [--param1=value...]",
      "Run a job. If not async, wait until execution is finished.",
      (e, argv, out) => {
        val r = parseArgs(argv, "<job_name> [--async] [--param1=value...]",
          Map("op_async" -> false))
        // `timeout` and `delay` are RESERVED: the reference binds them to
        // run_job's named params (gluettalax.py:290-291 `run_job(name, delay=,
        // timeout=, **kargs)`), so they bound the sync poll loop and must NOT
        // be forwarded to the job as arguments. `delay` is the reference's
        // poll-sleep; our sync wait is event-driven (Await), so it is accepted
        // for CLI compatibility and has no further effect.
        val timeoutSec = Option(r.kargs.getOrElse("timeout", null)).map(intOpt("timeout", _))
        val params = (r.kargs - "op_async" - "timeout" - "delay").collect {
          case (k, v) if v != null => k -> v.toString
        }
        val name = r.positional1.get
        val ok = e.jobs.runJob(name, params, async = r.kargs("op_async") == true,
          timeoutSec = timeoutSec)
        // deliberate fix of the reference's `return 0 if ... else 0` bug
        // (gluettalax.py:720): a FAILED sync run exits 1
        if (!ok) throw JobFailed(s"Job $name failed")
      }),

    Command("list_partitions", Seq("lsp"), "<db> <table> [pattern] [--noheaders]",
      "List the partitions in a table. Example: list_partitions datalake usage",
      (e, argv, out) => {
        val r = parseArgs(argv, "<db> <table> [pattern] [--noheaders]",
          Map("op_noheaders" -> false))
        val List(db, table, pattern) = r.positionals.take(3)
        val listing = e.catalog.listPartitions(db.get, table.get)
        val fmt = listing.maxLengths.map(w => s"%-${w}s").mkString("  ") + "  %s"
        if (r.kargs("op_noheaders") == false && listing.partitionKeys.nonEmpty) {
          out(fmt.format(listing.partitionKeys :+ "Location": _*)); out("-" * 70)
        }
        e.catalog.filterPartitions(listing, pattern).foreach { row =>
          out(fmt.format(row: _*))
        }
      }),

    Command("add_partition", Seq("addp"), "<db> <table> [--partition1=value...] [--location=path]",
      "Create a new partition. Example: add_partition datalake usage --year=2019 --month=09",
      (e, argv, out) => {
        val r = parseArgs(argv, "<db> <table> [--partition1=value...] [--location=path]")
        val List(db, table) = r.positionals.take(2)
        val location = r.kargs.get("location").map(_.toString)
        val kargs = (r.kargs - "location").map { case (k, v) => k -> v.toString }
        e.catalog.addPartition(db.get, table.get, kargs, location)
        out("Partition added")
      }),

    Command("add_partitions", Seq(), "<db> <table> [path]",
      "Create partitions discovered under a location. Example: add_partitions datalake usage /data/usage/year=2020/month=10",
      (e, argv, out) => {
        val r = parseArgs(argv, "<db> <table> [path]")
        val List(db, table, path) = r.positionals.take(3)
        e.catalog.addPartitionsByLocation(db.get, table.get, path.get).foreach {
          case (dir, e.catalog.Added)         => out(s"Partition [$dir] added")
          case (dir, e.catalog.AlreadyExists) => out(s"Partition [$dir] already exists")
          case (dir, e.catalog.Skipped)       => out(s"Skip $dir")
        }
      }),

    Command("del_partition", Seq("rmp"), "<db> <table> [--partition1=value...]",
      "Delete a partition. Example: del_partition datalake usage --year=2019 --month=09",
      (e, argv, out) => {
        val r = parseArgs(argv, "<db> <table> [--partition1=value...]")
        val List(db, table) = r.positionals.take(2)
        val kargs = r.kargs.map { case (k, v) => k -> v.toString }
        e.catalog.deletePartition(db.get, table.get, kargs)
        out("Partition deleted")
      }),

    Command("explain_job", Seq("exp"), "<job_name> [--verbose] [--param1=value...]",
      "Show a job's physical plan digest (scans, exchanges, joins) without running it.",
      (e, argv, out) => {
        val r = parseArgs(argv, "<job_name> [--verbose] [--param1=value...]",
          Map("op_verbose" -> false))
        val params = (r.kargs - "op_verbose").collect {
          case (k, v) if v != null => k -> v.toString
        }
        val spec = e.jobs.getJob(r.positional1.get)
        val df = spec.query(e.spark, params)
        // digest from the FORMATTED explain (robust under AQE, whose
        // adaptive root hides the inner operators from tree traversal):
        // the scale-relevant plan facts the operator docs pin — what gets
        // scanned, what shuffles, what broadcasts, what sorts
        val planText = df.queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        val nodes = planText.linesIterator
          .flatMap("""^[\s*+-]*\((\d+)\) ([A-Za-z]+)""".r.findFirstMatchIn(_))
          .map(_.group(2)).toSeq
        def n(pred: String => Boolean) = nodes.count(pred)
        out(s"job: ${spec.name}")
        out(s"scans=${n(_.contains("Scan"))} " +
          s"exchanges=${n(_.contains("Exchange"))} " +
          s"broadcast_joins=${n(_.contains("BroadcastHashJoin"))} " +
          s"sortmerge_joins=${n(_.contains("SortMergeJoin"))} " +
          s"sorts=${n(_ == "Sort")} windows=${n(_.contains("Window"))}")
        if (r.kargs("op_verbose") == true) planText.linesIterator.foreach(out)
      }),

    Command("help", Seq("-h"), "[command]",
      "Display information about commands.",
      (e, argv, out) => {
        val r = parseArgs(argv, "[command]")
        r.positional1 match {
          case Some(c) =>
            val cmd = lookup(c)
            out(s"usage: graft ${cmd.name} ${cmd.usage} ${cmd.doc}")
          case None =>
            out("usage: graft <command> [parameters]"); out("")
            out("Commands:")
            all.sortBy(_.name).foreach { c =>
              out(s" ${c.name} ${c.usage} ${c.doc}"); out("")
            }
            out("Command aliases:")
            all.filter(c => c.aliases.nonEmpty && c.name != "help").foreach { c =>
              out(s" ${c.aliases.sorted.mkString(" ")} -> ${c.name}")
            }
        }
      }))

  /** A21: name-or-alias lookup (gluettalax.py:832-836). */
  def lookup(cmd: String): Command =
    all.find(c => c.name == cmd || c.aliases.contains(cmd))
      .getOrElse(throw GraftCommandNotFound(
        s"""Invalid command "$cmd"; use "help" for a list."""))

  /** A23: dispatch with the exit-code contract (gluettalax.py:839-857). */
  def main(engine: GraftEngine, argv: Seq[String], out: String => Unit = println): Int = {
    if (argv.isEmpty) {
      lookup("help").handler(engine, Seq("help"), out)
      return 2
    }
    try {
      val cmd = lookup(argv.head)
      cmd.handler(engine, argv, out)
      0
    } catch {
      case w: GraftWarning   => out(w.getMessage); 0
      case x: GraftException => out(x.getMessage); 1
      case x: Exception with org.apache.spark.SparkThrowable => out(x.getMessage); 1
    }
  }
}

/** CLI entry point: builds a local engine, registers the engine's named
  * queries as jobs (the Glue-job analog), dispatches, exits with the
  * reference's code contract. */
object Main {
  def main(args: Array[String]): Unit = {
    // GRAFT_WAREHOUSE=<dir> → Hive metastore (embedded Derby) under the
    // dir, so tables/partitions registered by one CLI invocation are
    // visible to the next — the durable-catalog behavior of the reference's
    // Glue backend. Unset → session-scoped in-memory catalog.
    val warehouse = sys.env.get("GRAFT_WAREHOUSE")
    val spark = Sessions.local(Sessions.cores, warehouse.toSeq.flatMap(dir => Seq(
      "spark.sql.warehouse.dir" -> s"$dir/warehouse",
      "javax.jdo.option.ConnectionURL" -> s"jdbc:derby:;databaseName=$dir/metastore_db;create=true",
      "spark.sql.catalogImplementation" -> "hive")): _*)
    val code =
      try {
        val engine =
          new GraftEngine(spark, warehouse.map(d => java.nio.file.Paths.get(d, "crawlers.tsv")))
        val defaultDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
        graft.SparkEntry.registry.foreach { q =>
          engine.jobs.register(engine.jobs.JobSpec(q.name,
            (s, params) => q.build(s, params.getOrElse("dir", defaultDir))))
        }
        Commands.main(engine, args.toSeq)
      } finally spark.stop()
    sys.exit(code)
  }
}
