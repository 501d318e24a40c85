package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.util.Random
import org.apache.spark.metrics.source.{CodegenMetrics, HiveCatalogMetrics}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** One benchmark process: one workload, one seed.
  *
  *   perfbench.Harness <workload> <seed> <seconds> <trace 0|1> <cores>
  *     <fixtures dir> <work dir> <expected.tsv>
  *
  * Sets up (session, then the workload's state three times), runs the op
  * stream closed-loop with one client thread, checks outputs, and writes `result.json`, `observed.tsv` and, traced, `spans.jsonl` to the
  * work dir. A traced run runs the stream twice, untraced then traced, so
  * the difference is the tracing overhead. */
object Harness {
  final case class OpRun(name: String, nth: Int, ms: Double, cpuNs: Long,
      failure: Option[String])

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def processCpuNs(): Long = osBean.getProcessCpuTime

  /** Busy core-seconds of the whole host from /proc/stat (user, nice,
    * system, irq, softirq, steal; USER_HZ = 100). */
  def hostBusyS(): Double = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try {
      val f = src.getLines().next().trim.split("\\s+").drop(1).map(_.toDouble)
      (f.take(3).sum + f.slice(5, 8).sum) / 100.0
    } finally src.close()
  }

  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Nearest-rank percentile. */
  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(p / 100.0 * s.size).toInt - 1)))
    }

  /** The highest of these percentiles with at least ten ops beyond it;
    * 100 when there are fewer than forty ops, where the tail is taken as
    * the slowest op's median instead (p50 would repeat `op_p50_ms`). */
  def tailPercentile(n: Int): Double =
    Seq(99.0, 95.0, 90.0, 75.0).find(p => n * (100 - p) / 100 >= 10).getOrElse(100.0)

  private def union(iv: Seq[(Double, Double)]): List[(Double, Double)] =
    iv.filter(x => x._2 > x._1).sortBy(_._1).foldLeft(List.empty[(Double, Double)]) {
      case ((ps, pe) :: t, (s, e)) if s <= pe => (ps, math.max(pe, e)) :: t
      case (acc, x) => x :: acc
    }.reverse

  private def covered(w: (Double, Double), iv: Seq[(Double, Double)]): Double =
    iv.map { case (s, e) => math.max(0.0, math.min(e, w._2) - math.max(s, w._1)) }.sum

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, coresS, fixtures, workS, expectedS) = args
    val (seed, seconds, traced, cores) = (seedS.toLong, secondsS.toDouble, traceS == "1", coresS.toInt)
    val work = Paths.get(workS)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime

    val builder = SparkSession.builder().master(s"local[$cores]").appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
    if (workload == "catalog_ops")
      builder.config("spark.sql.catalogImplementation", "hive")
        .config("javax.jdo.option.ConnectionURL",
          s"jdbc:derby:;databaseName=${work.resolve("metastore_db")};create=true")
        .config("spark.hadoop.hive.exec.scratchdir", work.resolve("hive-scratch").toString)
        .config("spark.hadoop.hive.exec.local.scratchdir", work.resolve("hive-local").toString)
        .config("spark.hadoop.hive.downloaded.resources.dir", work.resolve("hive-res").toString)
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.catalog.databaseExists("default") // metastore start-up belongs to set-up
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    val expected = scala.io.Source.fromFile(expectedS).getLines().filter(_.nonEmpty).map { l =>
      val Array(n, r, c) = l.split("\t", 3)
      n -> (r.toLong, c)
    }.toMap
    val tracer = new Tracer(false)
    val ctx = new Ctx(spark, fixtures, work, tracer, expected)
    val w: Workload = workload match {
      case "warehouse_sql" => new WarehouseSql(ctx)
      case "llm_pipeline"  => new LlmPipeline(ctx)
      case "catalog_ops"   => new CatalogOps(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    def secs(body: => Unit): Double = {
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }
    val prepareS = (1 to 3).map(_ => secs(w.prepare()))
    var warmFailures = Seq.empty[String]
    val warmS = secs { warmFailures = w.warm() }
    spark.catalog.clearCache()
    ctx.cliMs.clear(); ctx.discovery.clear(); ctx.artifactMs.clear()
    val setupS = sessionS + median(prepareS) + warmS

    // A traced run attaches its listeners before the stream and traces the
    // same stream an untraced run times.
    val tel = new Telemetry
    if (traced) {
      spark.sparkContext.addSparkListener(tel)
      spark.listenerManager.register(tel)
      CodegenFallbacks.install()
      tel.drain(spark)
      tel.clear()
    }
    val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val classes0 = CodegenMetrics.METRIC_GENERATED_CLASS_BYTECODE_SIZE.getCount
    val compileNs0 = CodeGenerator.compileTime
    val fallbacks0 = CodegenFallbacks.count.get
    val hive0 = Seq(HiveCatalogMetrics.METRIC_HIVE_CLIENT_CALLS,
      HiveCatalogMetrics.METRIC_PARTITIONS_FETCHED, HiveCatalogMetrics.METRIC_FILES_DISCOVERED,
      HiveCatalogMetrics.METRIC_FILE_CACHE_HITS).map(_.getCount)

    val passes = math.max(1, math.round(seconds / w.nominalPassS).toInt)
    val rng = new Random(seed)
    val (cpu0, busy0) = (processCpuNs(), hostBusyS())
    tracer.on = traced
    val ops = (0 until passes).flatMap { k =>
      val seen = mutable.Map.empty[String, Int].withDefaultValue(0)
      w.pass(k, rng).map { op =>
        seen(op.name) += 1
        val c0 = processCpuNs()
        val t0 = System.nanoTime()
        val failure = try op.run() catch { case e: Throwable => Some(s"${op.name}: $e") }
        val run = OpRun(op.name, seen(op.name), (System.nanoTime() - t0) / 1e6,
          processCpuNs() - c0, failure)
        spark.catalog.clearCache()
        run
      }
    }
    tracer.on = false
    val foreignS = math.max(0.0, (hostBusyS() - busy0) - (processCpuNs() - cpu0) / 1e9)
    val rssMb = peakRssMb()

    // one pass of the stream, from each op's median over the passes (an op
    // is its name and which occurrence of that name in the pass it is), so
    // a burst on the host during one op does not move the run's figure
    val byOp = ops.groupBy(o => (o.name, o.nth)).values.toSeq
    def perPass(f: Seq[OpRun] => Seq[Double]): Double = byOp.map(r => median(f(r))).sum
    val lat = ops.map(_.ms)
    val tailP = tailPercentile(ops.size)
    val tail =
      if (tailP < 100) percentile(lat, tailP)
      else ops.groupBy(_.name).values.map(r => median(r.map(_.ms))).max
    val e2e = mutable.LinkedHashMap(
      "setup_s" -> setupS,
      "wall_s" -> perPass(r => r.map(_.ms / 1e3)),
      "cpu_s" -> perPass(r => r.map(_.cpuNs / 1e9)),
      "op_p50_ms" -> percentile(lat, 50), "op_tail_ms" -> tail,
      "peak_rss_mb" -> rssMb)

    val layers = mutable.LinkedHashMap.empty[String, Double]
    val counts = mutable.LinkedHashMap.empty[String, Double]
    if (traced) {
      tel.drain(spark)
      val hive = Seq(HiveCatalogMetrics.METRIC_HIVE_CLIENT_CALLS,
        HiveCatalogMetrics.METRIC_PARTITIONS_FETCHED, HiveCatalogMetrics.METRIC_FILES_DISCOVERED,
        HiveCatalogMetrics.METRIC_FILE_CACHE_HITS).map(_.getCount).zip(hive0).map(x => x._1 - x._2)

      val offsetMs = System.currentTimeMillis() - System.nanoTime() / 1e6
      def ms(ns: Long): Double = ns / 1e6 + offsetMs
      val p = passes.toDouble
      val sqlWin = union(tel.sqlExecs.toSeq.map(e => (e.start.toDouble, e.end.toDouble)))
      val taskWin = union(tel.tasks.toSeq.map(t => (t.launch.toDouble, t.finish.toDouble)))

      // graft.jobs: runJob (or run_job) wall minus its query fn and action
      val spanById = tracer.spans.map(s => s.id -> s).toMap
      val overheads = ctx.jobQueries.toSeq.flatMap { case (parent, q0, q1) =>
        spanById.get(parent).map { ps =>
          val actions = sqlWin.flatMap { case (s, e) =>
            val (a, b) = (math.max(s, ms(q1)), math.min(e, ms(ps.end)))
            if (b > a) Some((a, b)) else None
          }
          actions.foreach { case (a, b) =>
            tracer.add(parent, "action", "exec", ((a - offsetMs) * 1e6).toLong,
              ((b - offsetMs) * 1e6).toLong)
          }
          ps.ms - (q1 - q0) / 1e6 - actions.map(x => x._2 - x._1).sum
        }
      }
      layers("jobs.overhead_ms") = median(overheads)
      // graft.cli
      Seq("add_partitions", "add_partition", "del_partition", "list_partitions",
          "list_tables", "add_crawler", "run_crawler", "run_job", "list_runs").foreach { c =>
        layers(s"cli.$c.p50_ms") = median(ctx.cliMs.getOrElse(c, Nil).toSeq)
      }
      // graft.catalog
      layers("catalog.hive_client_calls") = hive(0) / p
      layers("catalog.partitions_fetched") = hive(1) / p
      layers("catalog.files_discovered") = hive(2) / p
      layers("catalog.file_cache_hit_ratio") =
        if (hive(2) + hive(3) > 0) hive(3).toDouble / (hive(2) + hive(3)) else 0.0
      val disc = ctx.discovery.toSeq
      layers("catalog.partitions_per_s") =
        if (disc.nonEmpty) disc.map(_._1).sum / disc.map(_._3).sum else 0.0
      layers("catalog.discovery_calls_per_partition") =
        if (disc.nonEmpty) disc.map(_._2).sum.toDouble / disc.map(_._1).sum else 0.0
      // graft.operators
      Registry.families.foreach { case (f, _) =>
        layers(s"operators.$f.build_ms") =
          ctx.buildWindows.filter(_._1 == f).map(x => (x._3 - x._2) / 1e6).sum / p
      }
      val buildWin = ctx.buildWindows.toSeq.map(x => (ms(x._2), ms(x._3)))
      layers("operators.build_jobs") =
        tel.jobStarts.count(t => buildWin.exists(b => t >= b._1 - 1 && t <= b._2 + 1)) / p
      Seq("x_spool_events5dup", "x_ann_pq_train", "x_ann_pca_train")
        .foreach(a => layers(s"artifacts.$a.build_ms") =
          median(ctx.artifactMs.getOrElse(a, Nil).toSeq))
      // planner
      layers("planner.ms") = ctx.plannerNs / 1e6 / p
      layers("planner.analysis_ms") = tel.phaseMs("analysis") / p
      layers("planner.optimization_ms") = tel.phaseMs("optimization") / p
      layers("planner.planning_ms") = tel.phaseMs("planning") / p
      layers("planner.plan_chars") = ctx.planChars / p
      layers("planner.expr_nodes") = ctx.exprNodes / p
      // codegen
      val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
      val classes = CodegenMetrics.METRIC_GENERATED_CLASS_BYTECODE_SIZE.getCount - classes0
      layers("codegen.compiles") = compiles / p
      layers("codegen.compile_ms") = (CodeGenerator.compileTime - compileNs0) / 1e6 / p
      layers("codegen.class_bytes") =
        classes * CodegenMetrics.METRIC_GENERATED_CLASS_BYTECODE_SIZE.getSnapshot.getMean / p
      layers("codegen.fallbacks") = (CodegenFallbacks.count.get - fallbacks0) / p
      // exec
      val tasks = tel.tasks.toSeq
      val actionMs = sqlWin.map(x => x._2 - x._1).sum
      layers("exec.jobs") = tel.jobStarts.size / p
      layers("exec.stages") = tel.stages.size / p
      layers("exec.tasks") = tasks.size / p
      layers("exec.single_task_stages") = tel.stages.count(_ == 1) / p
      layers("exec.run_ms") = tasks.map(_.runMs).sum / p
      layers("exec.cpu_ms") = tasks.map(_.cpuNs).sum / 1e6 / p
      layers("exec.gc_ms") = tasks.map(_.gcMs).sum / p
      layers("exec.sched_delay_ms") = tasks.map(_.schedMs).sum / p
      layers("exec.shuffle_read_bytes") = tasks.map(_.shuffleRead).sum / p
      layers("exec.shuffle_write_bytes") = tasks.map(_.shuffleWrite).sum / p
      layers("exec.spill_bytes") = tasks.map(_.spill).sum / p
      layers("exec.input_bytes") = tasks.map(_.input).sum / p
      layers("exec.output_bytes") = tasks.map(_.output).sum / p
      layers("exec.busy_ratio") =
        if (actionMs > 0) tasks.map(_.runMs).sum / (actionMs * cores) else 0.0
      layers("exec.driver_gap_ms") = sqlWin.map(w => (w._2 - w._1) - covered(w, taskWin)).sum / p
      // graft.streaming
      val b = tel.batches.toSeq
      layers("stream.batches") = b.size / p
      layers("stream.input_rows") = b.map(_.inputRows).sum / p
      layers("stream.add_batch_ms") = b.map(_.addBatchMs).sum / p
      layers("stream.wal_commit_ms") = b.map(_.walCommitMs).sum / p
      layers("stream.commit_offsets_ms") = b.map(_.commitOffsetsMs).sum / p
      layers("stream.query_planning_ms") = b.map(_.queryPlanningMs).sum / p
      layers("stream.get_batch_ms") = b.map(_.getBatchMs).sum / p
      layers("stream.state_rows") = b.map(_.stateRows).sum / p
      layers("stream.state_mem_bytes") = b.map(_.stateMemBytes).sum / p
      val trig = b.map(_.triggerMs.toDouble)
      layers("stream.batch_p50_ms") = percentile(trig, 50)
      layers("stream.batch_tail_ms") = percentile(trig, tailPercentile(trig.size))
      // graft.sources: what Main keeps under GRAFT_WAREHOUSE
      layers("storage.warehouse_bytes") =
        Seq("warehouse", "metastore_db", "crawlers.tsv").map(d => dirBytes(work.resolve(d))).sum
      // self time of each layer's spans
      val self = tracer.selfMs
      Seq("op", "jobs", "cli", "operators", "streaming", "artifacts", "planner", "exec")
        .foreach(l => layers(s"self.${l}_ms") = self.getOrElse(l, 0.0) / p)
      tracer.write(work.resolve("spans.jsonl"))

      Seq("exec.jobs", "exec.tasks", "operators.build_jobs", "catalog.hive_client_calls",
        "stream.batches", "stream.input_rows").foreach(k => counts(k) = layers(k))
    }
    val finishFailures = try w.finish() catch { case e: Throwable => Seq(s"finish: $e") }
    val failures = warmFailures ++ ops.flatMap(_.failure) ++ finishFailures

    Files.write(work.resolve("observed.tsv"), ctx.observed.map { case (n, (r, c)) =>
      s"$n\t$r\t$c" }.mkString("", "\n", "\n").getBytes("UTF-8"))
    def obj(m: collection.Map[String, Double]): String =
      m.map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }.mkString("{", ",", "}")
    val oracle = ctx.dumped.toSeq.flatMap(n => Registry.query(n).oracle.map(sql => n -> sql))
    val json = Seq(
      s""""workload":${Json.str(workload)}""",
      s""""passes":$passes""",
      s""""attempted":${ops.size}""",
      s""""failed":${ops.count(_.failure.isDefined)}""",
      s""""failures":${failures.map(Json.str).mkString("[", ",", "]")}""",
      s""""tail_percentile":${Json.num(tailP)}""",
      s""""stream_ops":${ops.size}""",
      s""""op_ms":${ops.map(o => s"[${Json.str(o.name)},${Json.num(o.ms)}]").mkString("[", ",", "]")}""",
      s""""op_counts":${obj(ops.groupBy(_.name).map { case (n, r) => n -> r.size.toDouble })}""",
      s""""end_to_end":${obj(e2e)}""",
      s""""per_layer":${obj(layers ++ Map("host.foreign_core_s" -> foreignS))}""",
      s""""counts":${obj(counts)}""",
      s""""discovery":${ctx.discovery.map { case (n, calls, s) =>
        s"[$n,$calls,${Json.num(s)}]" }.mkString("[", ",", "]")}""",
      s""""setup_parts":${obj(mutable.LinkedHashMap("session_s" -> sessionS,
        "prepare_median_s" -> median(prepareS), "warm_s" -> warmS))}""",
      s""""oracle":${oracle.map { case (n, s) => s"${Json.str(n)}:${Json.str(s.trim)}" }
        .mkString("{", ",", "}")}""").mkString("{", ",", "}")
    Files.write(work.resolve("result.json"), json.getBytes("UTF-8"))
    spark.stop()
  }

  def dirBytes(p: Path): Double =
    if (!Files.exists(p)) 0.0
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum().toDouble
      finally s.close()
    }
}
