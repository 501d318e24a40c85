package perfbench

import java.nio.file.Path
import scala.collection.mutable
import scala.util.Random
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import graft.SparkEntry
import graft.operators._

/** One timed operation. `run` returns None when the op succeeded and its
  * output checked out, or Some(reason). A thrown exception is a failure. */
final case class Op(name: String, run: () => Option[String])

/** Shared state of one benchmark process. */
final class Ctx(val spark: SparkSession, val fixtures: String, val work: Path,
    val tracer: Tracer, val expected: Map[String, (Long, String)]) {
  /** Row count and column list seen per entry, written for the expected-output file. */
  val observed = mutable.LinkedHashMap.empty[String, (Long, String)]
  /** Entries whose full result was dumped for the DuckDB compare. */
  val dumped = mutable.LinkedHashSet.empty[String]
  /** Per-op attribution the traced run resolves once the listener bus drains. */
  val buildWindows = mutable.ArrayBuffer.empty[(String, Long, Long)] // family, start, end (ns)
  var planChars = 0L
  var exprNodes = 0L
  var plannerNs = 0L
  /** Query fns run by JobRunner: the enclosing span (runJob or the run_job
    * command) and the query fn's own start and end (ns). */
  val jobQueries = mutable.ArrayBuffer.empty[(Int, Long, Long)]
  val artifactMs = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
  val cliMs = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
  val discovery = mutable.ArrayBuffer.empty[(Int, Long, Double)] // partitions, hive calls, seconds

  /** Wrap a JobRunner query fn so a traced run knows its window. */
  def jobQuery(body: => DataFrame): DataFrame =
    if (!tracer.on) body
    else {
      val parent = tracer.current
      val t0 = System.nanoTime()
      val df = body
      jobQueries.synchronized { jobQueries += ((parent, t0, System.nanoTime())) }
      df
    }

  /** Check a result's shape against the expected-output file and record it. */
  def checkShape(name: String, rows: Long, columns: String): Option[String] = {
    observed.getOrElseUpdate(name, (rows, columns))
    expected.get(name) match {
      case None => Some(s"$name: no expected output recorded")
      case Some((r, c)) if r != rows || c != columns =>
        Some(s"$name: got $rows rows [$columns], expected $r rows [$c]")
      case _ => None
    }
  }
}

/** The registry entries, with the operator family (source file) of each. */
object Registry {
  val families: Seq[(String, Seq[GraftQuery])] = Seq(
    "Relational" -> Relational.all, "TpcH" -> TpcH.all, "Scalar" -> Scalar.all,
    "EventWindows" -> EventWindows.all, "Sampling" -> Sampling.all, "Dedup" -> Dedup.all,
    "Similarity" -> Similarity.all, "TextAnalysis" -> TextAnalysis.all,
    "Multimodal" -> Multimodal.all, "StreamingOps" -> StreamingOps.all,
    "Sources" -> Sources.all, "Warehouse" -> Warehouse.all)
  val family: Map[String, String] =
    families.flatMap { case (f, qs) => qs.map(_.name -> f) }.toMap
  val query: Map[String, GraftQuery] = SparkEntry.registry.map(q => q.name -> q).toMap
}

abstract class Workload(val ctx: Ctx) {
  import ctx._

  /** Repeatable state set-up: builds fresh state each call. */
  def prepare(): Unit
  /** Untimed warm pass: each op's first run in the JVM (JIT, codegen
    * cache, trained models), dumping results for the output checks;
    * returns failures. */
  def warm(): Seq[String]
  /** The ops of pass `k`, in the order the seed gives them. */
  def pass(k: Int, rng: Random): IndexedSeq[Op]
  /** Seconds one pass takes on a 4-core host, which sizes the stream. */
  def nominalPassS: Double
  /** Checks that run after the stream, untimed; returns failures. */
  def finish(): Seq[String] = Nil

  protected def columns(df: DataFrame): String = df.schema.fieldNames.mkString(",")

  protected val artifact = SparkEntry.artifacts.toMap

  /** Evict and rebuild shared artifacts (`SparkEntry.artifacts`). */
  protected def rebuild(names: Seq[String]): Unit = names.foreach { name =>
    SparkEntry.evictArtifact(name, fixtures)
    artifact(name)(spark, fixtures)
  }

  /** An op that evicts a shared artifact and rebuilds it, timed as an
    * artifacts span. */
  protected def artifactOp(name: String): Op = Op(name, () => {
    SparkEntry.evictArtifact(name, fixtures)
    val t0 = System.nanoTime()
    tracer.span(s"artifact:$name", "artifacts")(artifact(name)(spark, fixtures))
    artifactMs.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += (System.nanoTime() - t0) / 1e6
    None
  })

  /** `GraftQuery.build`, traced as an operators (or streaming) span, then
    * in a traced run the physical plan, forced and walked as a planner span. */
  protected def build(name: String): DataFrame = {
    val q = Registry.query(name)
    val fam = Registry.family(name)
    val layer = if (fam == "StreamingOps") "streaming" else "operators"
    val t0 = System.nanoTime()
    val df = tracer.span(s"build:$name", layer)(q.build(spark, fixtures))
    if (tracer.on) {
      buildWindows.synchronized { buildWindows += ((fam, t0, System.nanoTime())) }
      val p0 = System.nanoTime()
      val plan = tracer.span(s"executedPlan:$name", "planner")(df.queryExecution.executedPlan)
      plannerNs += System.nanoTime() - p0
      planChars += plan.toString.length
      val physical = plan match {
        case a: AdaptiveSparkPlanExec => a.inputPlan
        case p => p
      }
      exprNodes += physical.collect { case n: SparkPlan =>
        n.expressions.map(_.collect { case e => e }.size).sum }.sum
    }
    df
  }

  /** An op that builds an entry and collects its result, checking the
    * result's row count and columns; the first result of each entry is
    * kept for the DuckDB compare. */
  protected def entryOp(name: String): Op = Op(name, () =>
    tracer.span(name, "op") {
      val df = build(name)
      val rows = tracer.span(s"action:$name", "exec")(df.collect())
      collected.getOrElseUpdate(name, (df.schema, rows))
      checkShape(name, rows.length, columns(df))
    })

  private val collected =
    mutable.LinkedHashMap.empty[String, (org.apache.spark.sql.types.StructType, Array[Row])]

  /** Write the results the timed ops collected, for each entry that has a
    * DuckDB oracle and was not dumped in the warm pass. */
  protected def dumpCollected(): Seq[String] = collected.toSeq.flatMap { case (name, (schema, rows)) =>
    if (Registry.query(name).oracle.isEmpty || dumped(name)) None
    else dump(name, spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema))
  }

  /** Run each entry once, dumping its result when it has a DuckDB oracle
    * and checking its row count and columns. */
  protected def warmEntries(names: Seq[String]): Seq[String] = names.flatMap { name =>
    try {
      val df = Registry.query(name).build(spark, fixtures)
      if (Registry.query(name).oracle.isDefined) dump(name, df)
      else checkShape(name, df.count(), columns(df))
    } catch { case e: Throwable => Some(s"$name (warm pass): $e") }
    finally spark.catalog.clearCache()
  }

  /** Write `df` for the DuckDB compare. */
  private def dump(name: String, df: DataFrame): Option[String] = {
    val out = work.resolve("dump").resolve(name).toString
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    try df.coalesce(1).write.mode("overwrite").parquet(out)
    finally spark.conf.unset("spark.sql.parquet.outputTimestampType")
    dumped += name
    checkShape(name, spark.read.parquet(out).count(), columns(df))
  }
}

/** A rebuild of the replay spool, then TPC-H and warehouse entries and a
  * Structured Streaming replay (`Trigger.AvailableNow` over that spool),
  * each submitted through `JobRunner.runJob` (sync). */
final class WarehouseSql(c: Ctx) extends Workload(c) {
  import ctx._
  val spool = "x_spool_events5dup"
  // an odd number of ops per pass keeps the median op inside one op's
  // latencies rather than between two
  val entries = Seq("q262_tpch_q3", "q264_tpch_q5", "q181_order_total_reconciliation",
    "st9_stream_dedup_ttl")
  val nominalPassS = 2.5
  private val runner = new graft.jobs.JobRunner(spark)
  entries.foreach { name =>
    runner.register(runner.JobSpec(name, (_, _) => jobQuery(build(name))))
  }

  /** Resolve the fixture tables' schemas and rebuild the replay spool. */
  def prepare(): Unit = {
    Seq("lineitem", "orders", "customer", "part", "supplier", "nation", "region", "events")
      .foreach(t => spark.read.parquet(s"$fixtures/$t.parquet").schema)
    rebuild(Seq(spool))
  }

  def warm(): Seq[String] = warmEntries(entries)

  def pass(k: Int, rng: Random): IndexedSeq[Op] = artifactOp(spool) +: rng.shuffle(entries).map {
    name => Op(name, () => {
      val ok = tracer.span(s"runJob:$name", "jobs")(
        runner.runJob(name, Map("dir" -> fixtures)))
      if (ok) None else Some(s"$name: runJob returned false")
    })
  }.toIndexedSeq
}

/** Trained ANN models rebuilt as timed ops, then similarity and text
  * entries, each built and collected. Not in BENCHMARK.json: s8 and its
  * PQ codebooks cost 25-30 s of driver time a run, more than the
  * benchmark's run budget allows; run it by hand. */
final class LlmPipeline(c: Ctx) extends Workload(c) {
  import ctx._
  // the PQ codebooks first: s8 reads them
  val models = Seq("x_ann_pq_train", "x_ann_pca_train")
  val entries = Seq("s8_pq_adc_topk", "s6_quantized_cosine", "t24_dup_ngram_fraction")
  val nominalPassS = 16.0

  /** Rebuild the unit-vector spool the models train on. */
  def prepare(): Unit = rebuild(Seq("x_ann_unit_spool"))

  /** Train the models and run the entries once, but s8: it takes about
    * 12 s warm or cold, and its timed run's own result is checked. */
  def warm(): Seq[String] = {
    models.foreach(m => artifact(m)(spark, fixtures))
    warmEntries(entries.filterNot(_ == "s8_pq_adc_topk"))
  }

  override def finish(): Seq[String] = dumpCollected()

  def pass(k: Int, rng: Random): IndexedSeq[Op] =
    (models.map(artifactOp) ++ rng.shuffle(entries).map(entryOp)).toIndexedSeq
}
