package graft.catalog

import java.util.concurrent.atomic.AtomicReference
import scala.concurrent.{Await, ExecutionContext, Future, Promise, TimeoutException}
import scala.concurrent.duration._
import org.apache.spark.sql.SparkSession
import graft._

/** Crawler registry & runner — the reference's Crawler lifecycle (A3/A4/A15,
  * gluettalax.py:184-224) restated as schema inference + table registration.
  *
  * "Running a crawler" natively means: infer the schema by reading the
  * target path, register/refresh the table in the catalog, and recover
  * partitions from the directory layout (Spark's FileIndex does the
  * reference's S3-listing work). The observable contract is preserved:
  * READY/RUNNING states, start silently skipped when already RUNNING
  * (gluettalax.py:216-217), async returns immediately, sync awaits the
  * crawl with a timeout → CrawlerTimeout, unknown name → CrawlerNotFound.
  */
final class Crawlers(spark: SparkSession) {

  /** What a crawler crawls: a path in a format, into a target table.
    * `options` are reader options (e.g. csv header/inferSchema), inherited
    * by the registered table. */
  final case class CrawlerSpec(
      name: String,
      path: String,
      format: String,
      database: String,
      table: String,
      options: Map[String, String] = Map.empty)

  sealed trait State
  case object Ready extends State
  case object Running extends State

  /** `crawl` is the latest crawl: RUNNING until it completes, which it
    * does only after `lastError` is recorded. */
  private final case class Entry(spec: CrawlerSpec,
      crawl: AtomicReference[Future[Unit]], lastStartedMs: AtomicReference[Option[Long]],
      lastError: AtomicReference[Option[Throwable]])

  private val registry = new java.util.concurrent.ConcurrentHashMap[String, Entry]()
  private implicit val ec: ExecutionContext = ExecutionContext.global

  val DefaultDelaySec = 10   // reference DEFAULT_CRAWLER_DELAY (gluettalax.py:81)
  val DefaultTimeoutSec = 600 // reference DEFAULT_CRAWLER_TIMEOUT (gluettalax.py:82)

  /** Register or update a crawler spec. Re-registering preserves the live
    * state machine (a concurrent crawl keeps its RUNNING guard — replacing
    * the state atomics would let a second crawl race the first through the
    * DROP/CREATE of the same table). */
  def register(spec: CrawlerSpec): Unit =
    registry.compute(spec.name, (_, old) =>
      if (old == null)
        Entry(spec, new AtomicReference(Future.unit), new AtomicReference(None),
          new AtomicReference(None))
      else old.copy(spec = spec))

  def list(): Seq[CrawlerSpec] = {
    import scala.jdk.CollectionConverters._
    registry.values().asScala.map(_.spec).toSeq.sortBy(_.name)
  }

  /** The reference's `list_crawlers()` DEFAULT (full=False) mode: names
    * only (gluettalax.py:279-287). `list()` above is its full=True mode —
    * the typed CrawlerSpec stands in for the boto3 dict. */
  def listNames(): Seq[String] = list().map(_.name)

  private def entry(name: String): Entry = {
    val e = registry.get(name)
    if (e == null) throw CrawlerNotFound(s"Crawler $name not found")
    e
  }

  def state(name: String): State =
    if (entry(name).crawl.get().isCompleted) Ready else Running
  def isReady(name: String): Boolean = state(name) == Ready

  /** Elapsed ms of the current crawl, 0 when READY — the reference's
    * CrawlElapsedTime display input (gluettalax.py:656). */
  def crawlElapsedMs(name: String): Long = {
    val e = entry(name)
    if (!e.crawl.get().isCompleted)
      e.lastStartedMs.get().map(t => System.currentTimeMillis() - t).getOrElse(0L)
    else 0L
  }

  /** The crawl itself: infer schema (incl. Hive-style partition columns
    * from the directory layout), register the external table with its
    * partitioning, and recover partitions — the reference's crawler job
    * (schema inference + partition discovery) done by Spark's FileIndex.
    * Runs on the calling thread (driven by `run` via a Future). */
  import graft.functions.Functions.sqlLit

  private def crawl(spec: CrawlerSpec): Unit = {
    val df = spark.read.format(spec.format).options(spec.options)
      .load(spec.path) // schema inference
    // partition keys, in directory order, from any one leaf path — looking
    // only BELOW the crawl root (a k=v segment in the path above the root
    // is not a partition of this table). Both sides go through
    // Path(...).toUri so dialect differences ('file:///x' vs 'file:/x' vs
    // bare '/x') can't defeat the prefix match and leak above-root
    // k=v segments in as partition keys.
    val rootHp = new org.apache.hadoop.fs.Path(spec.path)
    val rootPath = rootHp.getFileSystem(spark.sessionState.newHadoopConf())
      .makeQualified(rootHp).toUri.getPath.stripSuffix("/")
    val partKeys = df.inputFiles.headOption.toSeq.flatMap { f =>
      val fPath = new org.apache.hadoop.fs.Path(f).toUri.getPath
      val below =
        if (fPath.startsWith(rootPath + "/")) fPath.substring(rootPath.length)
        else fPath
      "([^/=]+)=[^/]*/".r.findAllMatchIn(below).map(_.group(1)).toSeq
    }.distinct.filter(k => df.schema.fieldNames.contains(k))
    val dataDdl = org.apache.spark.sql.types.StructType(
      df.schema.filterNot(f => partKeys.contains(f.name))).toDDL
    val partDdl = partKeys.map(k => s"`$k` ${df.schema(k).dataType.sql}")
    spark.sql(s"CREATE DATABASE IF NOT EXISTS `${spec.database}`")
    spark.sql(s"DROP TABLE IF EXISTS `${spec.database}`.`${spec.table}`")
    val cols = (dataDdl +: partDdl).mkString(", ")
    val partClause =
      if (partKeys.nonEmpty) s"PARTITIONED BY (${partKeys.map(k => s"`$k`").mkString(", ")})"
      else ""
    val optClause =
      if (spec.options.isEmpty) ""
      else spec.options.map { case (k, v) => s"'${sqlLit(k)}' '${sqlLit(v)}'" }
        .mkString("OPTIONS (", ", ", ")")
    spark.sql(
      s"""CREATE TABLE `${spec.database}`.`${spec.table}` ($cols)
         |USING ${spec.format} $optClause $partClause LOCATION '${sqlLit(spec.path)}'""".stripMargin)
    if (partKeys.nonEmpty)
      spark.catalog.recoverPartitions(s"${spec.database}.${spec.table}")
  }

  /** A15: run semantics (gluettalax.py:205-224). Returns true if a crawl was
    * started (false when skipped because already RUNNING). A sync caller
    * awaits the crawl it started, or the one in flight when it skipped, and
    * gets that crawl's failure. */
  def run(name: String, async: Boolean = false,
      timeoutSec: Int = DefaultTimeoutSec, rerun: Boolean = false): Boolean = {
    val e = entry(name)
    if (rerun) await(name, e.crawl.get(), timeoutSec)
    val prev = e.crawl.get()
    val next = Promise[Unit]()
    val started = prev.isCompleted && e.crawl.compareAndSet(prev, next.future)
    if (started) {
      e.lastStartedMs.set(Some(System.currentTimeMillis()))
      e.lastError.set(None)
      next.completeWith(Future(crawl(e.spec)).andThen { case r =>
        r.failed.foreach(t => e.lastError.set(Some(t)))
      })
    } // else silently skip start when already RUNNING
    if (!async) {
      val awaited = if (started) next.future else e.crawl.get()
      await(name, awaited, timeoutSec)
      // surface crawl failure to the synchronous caller (the reference's
      // boto errors unwind to the CLI's exit-1 ladder; ours do too)
      awaited.value.foreach(_.get)
    }
    started
  }

  /** Last failure of a crawler's most recent run, if any (async callers
    * poll this alongside isReady). */
  def lastError(name: String): Option[Throwable] = entry(name).lastError.get()

  private def await(name: String, crawl: Future[Unit], timeoutSec: Int): Unit =
    try Await.ready(crawl, timeoutSec.seconds)
    catch {
      case _: TimeoutException => throw CrawlerTimeout(s"Crawler $name timeout")
    }
}
