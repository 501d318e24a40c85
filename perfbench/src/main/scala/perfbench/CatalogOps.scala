package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import scala.collection.mutable
import scala.util.Random
import org.apache.spark.metrics.source.HiveCatalogMetrics
import org.apache.spark.sql.functions.col
import graft.cli.{Commands, GraftEngine}

/** A seeded script of CLI commands sent through `Commands.main` against a
  * Hive metastore on embedded Derby. Each pass generates a Hive-style
  * `year=/month=/day=` layout (with malformed dirs), crawls part of it into
  * a new table, discovers the rest with `add_partitions`, then mixes
  * partition writes, listings and a partition-pruned `run_job`. Every
  * command's output is checked against a model of the generated layout. */
final class CatalogOps(c: Ctx) extends Workload(c) {
  import ctx._

  final case class Part(y: Int, m: Int, d: Int) {
    def path: String = s"year=$y/month=$m/day=$d"
    def values: Seq[String] = Seq(y.toString, m.toString, d.toString)
  }

  val rowsPerFile = 5
  val crawled = 3
  /** Partitions found by each of a pass's two discoveries: two sizes, so
    * the per-partition cost of discovery shows in one run. */
  val discovered = Seq(8, 16)
  val nominalPassS = 10.0

  private val engine = new GraftEngine(spark, Some(work.resolve("crawlers.tsv")))
  engine.jobs.register(engine.jobs.JobSpec("pruned_read", (s, p) => jobQuery(
    tracer.span("query:pruned_read", "operators")(s.table(p("table"))
      .where(col("year") === p("year").toInt && col("month") === p("month").toInt)))))

  /** Per table: its partitions and the rows each holds. */
  private val tables = mutable.LinkedHashMap.empty[String, mutable.Map[Part, Int]]
  private val prunedReads = mutable.LinkedHashSet.empty[(String, Int, Int)]
  private var runs = 0
  private var seedFile: Path = _

  def prepare(): Unit = {
    spark.sql("CREATE DATABASE IF NOT EXISTS bench")
    val dir = work.resolve("seedfile")
    spark.range(rowsPerFile).selectExpr("id", "id * 1.5 AS value")
      .coalesce(1).write.mode("overwrite").parquet(dir.toString)
    val files = Files.list(dir)
    try seedFile = files.filter(_.toString.endsWith(".parquet")).findFirst().get()
    finally files.close()
  }

  private def put(dir: Path): Unit = {
    Files.createDirectories(dir)
    Files.copy(seedFile, dir.resolve("part-00000.parquet"), StandardCopyOption.REPLACE_EXISTING)
  }

  /** Run one CLI command; returns its exit code and output lines. */
  private def cli(argv: String*): (Int, Seq[String]) = {
    val out = mutable.ArrayBuffer.empty[String]
    val t0 = System.nanoTime()
    val code = tracer.span(s"cli:${argv.head}", "cli")(
      Commands.main(engine, argv, (s: String) => out += s))
    cliMs.getOrElseUpdate(argv.head, mutable.ArrayBuffer.empty) += (System.nanoTime() - t0) / 1e6
    (code, out.toSeq)
  }

  private def expectCode(name: String, got: Int, out: Seq[String]): Option[String] =
    if (got == 0) None else Some(s"$name: exit $got: ${out.take(3).mkString(" | ")}")

  /** Glob to regex for the patterns this script generates (`*`, `?`,
    * `[..]` over digits), written independently of the engine's translator. */
  private def globMatches(glob: String, v: String): Boolean =
    v.matches(glob.flatMap {
      case '*' => ".*"
      case '?' => "."
      case ch if ch.isLetterOrDigit || ch == '[' || ch == ']' || ch == '-' => ch.toString
      case ch => "\\" + ch
    })

  /** A short pass: the crawl, one discovery and each other command once. */
  def warm(): Seq[String] =
    pass(-1, new Random(0)).distinctBy(_.name).flatMap(op =>
      try op.run() catch { case e: Throwable => Some(s"${op.name} (warm pass): $e") })

  def pass(k: Int, rng: Random): IndexedSeq[Op] = {
    val tag = if (k < 0) "w" else s"p$k"
    val table = s"sales_$tag"
    val root = work.resolve("layout").resolve(tag)
    val crawlRoot = root.resolve("crawl")
    // distinct partitions over two years; the first few are crawled
    val all = rng.shuffle(for (y <- Seq(2023, 2024); m <- 1 to 12; d <- 1 to 28) yield Part(y, m, d))
    val (seeded, rest) = all.splitAt(crawled)
    val fresh = Seq(rest.take(discovered(0)), rest.slice(discovered(0), discovered.sum))
    val spareIt = rest.drop(discovered.sum).iterator
    val discoverRoots = Seq("a", "b").map(root.resolve)
    seeded.foreach(p => put(crawlRoot.resolve(p.path)))
    fresh.zip(discoverRoots).foreach { case (ps, r) => ps.foreach(p => put(r.resolve(p.path))) }
    put(discoverRoots(0).resolve(seeded.head.path)) // already registered by the crawl
    val malformed = Seq(Seq("_staging"), Seq(s"year=2025/month=${1 + rng.nextInt(12)}",
      s"year=2025/day=${1 + rng.nextInt(28)}/month=${1 + rng.nextInt(12)}"))
    malformed.zip(discoverRoots).foreach { case (ds, r) => ds.foreach(d => put(r.resolve(d))) }
    val model = mutable.Map.empty[Part, Int]

    def discover(i: Int) = Op("add_partitions", () => {
      val calls0 = HiveCatalogMetrics.METRIC_HIVE_CLIENT_CALLS.getCount
      val t0 = System.nanoTime()
      val (code, out) = cli("add_partitions", "bench", table, discoverRoots(i).toString)
      discovery += ((fresh(i).size, HiveCatalogMetrics.METRIC_HIVE_CLIENT_CALLS.getCount - calls0,
        (System.nanoTime() - t0) / 1e9))
      fresh(i).foreach(p => model(p) = rowsPerFile)
      val got = (out.count(_.endsWith("] added")), out.count(_.endsWith("] already exists")),
        out.count(_.startsWith("Skip ")))
      val want = (fresh(i).size, if (i == 0) 1 else 0, malformed(i).size)
      expectCode("add_partitions", code, out).orElse(
        if (got == want) None else Some(s"add_partitions: (added, exists, skipped) $got, expected $want"))
    })

    val crawlOps = IndexedSeq(
      Op("add_crawler", () => {
        val (code, out) = cli("add_crawler", s"crawl_$tag", crawlRoot.toString, "bench", table)
        expectCode("add_crawler", code, out)
      }),
      Op("run_crawler", () => {
        val (code, out) = cli("run_crawler", s"crawl_$tag")
        seeded.foreach(p => model(p) = rowsPerFile)
        tables(table) = model
        expectCode("run_crawler", code, out)
      }),
      discover(0), discover(1))

    def listPartitions(glob: String) = () => {
      val (code, out) = cli("list_partitions", "bench", table, glob, "--noheaders")
      val got = out.map(_.trim.split("\\s+").toSeq).map(r => (r.take(3), r.last)).toSet
      val want = model.keys.filter(_.values.exists(globMatches(glob, _))).map(_.values).toSet
      val locOk = got.forall { case (vs, loc) =>
        loc.stripSuffix("/").endsWith(s"year=${vs(0)}/month=${vs(1)}/day=${vs(2)}") }
      expectCode("list_partitions", code, out).orElse(
        if (got.map(_._1) == want && got.size == out.size && locOk) None
        else Some(s"list_partitions '$glob': ${got.size} rows, expected ${want.size}"))
    }
    val addPartition = () => {
      val p = spareIt.next()
      val (code, out) = cli("add_partition", "bench", table,
        s"--year=${p.y}", s"--month=${p.m}", s"--day=${p.d}")
      model(p) = 0 // a new partition's directory holds no files
      expectCode("add_partition", code, out)
    }
    val delPartition = () => {
      val keys = model.keys.toSeq.sortBy(_.path)
      val p = keys(rng.nextInt(keys.size))
      val (code, out) = cli("del_partition", "bench", table,
        s"--year=${p.y}", s"--month=${p.m}", s"--day=${p.d}")
      model -= p
      expectCode("del_partition", code, out)
    }
    val listTables = () => {
      val (code, out) = cli("list_tables", "sales_*", "--noheaders")
      val got = out.map(_.trim.split("\\s+").toSeq).toSet
      val want = tables.keys.map(t => Seq("bench", t)).toSet
      expectCode("list_tables", code, out).orElse(
        if (got == want && out.size == want.size) None
        else Some(s"list_tables: ${out.size} tables, expected ${want.size}"))
    }
    val runJob = () => {
      val parts = model.keys.toSeq.sortBy(_.path)
      val p = parts(rng.nextInt(parts.size))
      val (code, out) = cli("run_job", "pruned_read", s"--table=bench.$table",
        s"--year=${p.y}", s"--month=${p.m}")
      runs += 1
      prunedReads += ((table, p.y, p.m))
      expectCode("run_job", code, out)
    }
    val listRuns = () => {
      val (code, out) = cli("list_runs", "pruned_read", "--lines=3", "--noheaders")
      val want = math.min(3, runs)
      expectCode("list_runs", code, out).orElse(
        if (out.size == want && out.forall(_.trim.startsWith("SUCCEEDED"))) None
        else Some(s"list_runs: ${out.size} lines, expected $want SUCCEEDED"))
    }
    // a final list_runs, so that at least one listing follows a run
    val mixed = rng.shuffle(
      Seq.fill(3)(Seq("1?", "*5", "202[34]", "2", "*")).flatten
        .map(g => Op("list_partitions", listPartitions(g))) ++
      Seq.fill(6)(Op("add_partition", addPartition)) ++
      Seq.fill(6)(Op("del_partition", delPartition)) ++
      Seq.fill(4)(Op("list_tables", listTables)) ++
      Seq.fill(4)(Op("run_job", runJob)) ++
      Seq.fill(3)(Op("list_runs", listRuns)))
    crawlOps ++ mixed :+ Op("list_runs", listRuns)
  }

  /** Each pruned read, repeated once the stream is over against the final
    * layout model (partition writes after a read change its result). */
  override def finish(): Seq[String] = prunedReads.toSeq.flatMap { case (t, y, m) =>
    val got = spark.table(s"bench.$t").where(col("year") === y && col("month") === m).count()
    val want = tables(t).collect { case (p, rows) if p.y == y && p.m == m => rows.toLong }.sum
    if (got == want) None else Some(s"run_job pruned_read $t $y/$m: $got rows, expected $want")
  }
}
