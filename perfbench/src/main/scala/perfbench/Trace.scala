package perfbench

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent

/** One traced call: `layer` names the repo module the call enters. Times
  * are `System.nanoTime`; `parent` is 0 for an op's root span. */
final case class Span(id: Int, parent: Int, name: String, layer: String, start: Long, end: Long) {
  def ms: Double = (end - start) / 1e6
}

/** In-memory span recorder. Ops run one at a time (one client thread, and
  * JobRunner's job thread only while the client waits on it), so a single
  * stack of open spans gives every span its parent. Disabled, `span` is a
  * plain call. */
final class Tracer(var on: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var nextId = 0

  /** The innermost open span, 0 when none is open. */
  def current: Int = synchronized(stack.headOption.getOrElse(0))

  def span[T](name: String, layer: String)(body: => T): T =
    if (!on) body
    else {
      val (id, parent) = synchronized {
        nextId += 1
        val p = stack.headOption.getOrElse(0)
        stack = nextId :: stack
        (nextId, p)
      }
      val start = System.nanoTime()
      try body
      finally {
        val end = System.nanoTime()
        synchronized {
          stack = stack.filterNot(_ == id)
          spans += Span(id, parent, name, layer, start, end)
        }
      }
    }

  /** Add a span measured from outside (the action inside `runJob`, read
    * from Spark's SQL execution events). */
  def add(parent: Int, name: String, layer: String, start: Long, end: Long): Unit =
    synchronized {
      nextId += 1
      spans += Span(nextId, parent, name, layer, start, end)
    }

  /** Self time per layer: a span's duration minus the part its children
    * cover (children of one parent run one after another, so their
    * durations add). */
  def selfMs: Map[String, Double] = synchronized {
    val childMs = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.ms).sum }
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map(s => math.max(0.0, s.ms - childMs.getOrElse(s.id, 0.0))).sum
    }
  }

  def write(path: java.nio.file.Path): Unit = synchronized {
    val lines = spans.sortBy(_.start).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},""" +
        s""""layer":"${s.layer}","start_ns":${s.start},"end_ns":${s.end}}"""
    }
    java.nio.file.Files.write(path, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}

/** What Spark's listener bus reports about the run: jobs, stages, tasks,
  * SQL executions (with their planning phases) and streaming progress.
  * Attached only to traced runs. Event times are epoch milliseconds. */
final class Telemetry extends SparkListener
    with org.apache.spark.sql.util.QueryExecutionListener {
  final case class Task(launch: Long, finish: Long, runMs: Long, cpuNs: Long, gcMs: Long,
      schedMs: Long, shuffleRead: Long, shuffleWrite: Long, spill: Long,
      input: Long, output: Long)
  final case class SqlExec(start: Long, end: Long)
  final case class Batch(triggerMs: Long, addBatchMs: Long, walCommitMs: Long,
      commitOffsetsMs: Long, queryPlanningMs: Long, getBatchMs: Long, inputRows: Long,
      stateRows: Long, stateMemBytes: Long)

  val jobStarts = mutable.ArrayBuffer.empty[Long]
  val stages = mutable.ArrayBuffer.empty[Int] // task count of each completed stage
  val tasks = mutable.ArrayBuffer.empty[Task]
  val sqlExecs = mutable.ArrayBuffer.empty[SqlExec]
  val batches = mutable.ArrayBuffer.empty[Batch]
  /** Analysis, optimization and planning ms summed over finished actions. */
  val phaseMs = mutable.Map.empty[String, Long].withDefaultValue(0L)
  private val sqlStart = mutable.Map.empty[Long, Long]
  private val sentinelStages = mutable.Set.empty[Int]
  private var sentinelJob = -1
  private var sentinel = new CountDownLatch(1)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    if (Option(e.properties).exists(_.getProperty(Telemetry.SentinelKey) != null)) {
      sentinelJob = e.jobId
      sentinelStages ++= e.stageIds
    } else jobStarts += e.time
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    if (e.jobId == sentinelJob) sentinel.countDown()
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    if (!sentinelStages(e.stageInfo.stageId)) stages += e.stageInfo.numTasks
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val i = e.taskInfo
    if (m != null && i != null && !sentinelStages(e.stageId)) {
      val sched = i.duration - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - (if (i.gettingResult) i.finishTime - i.gettingResultTime else 0L)
      tasks += Task(i.launchTime, i.finishTime, m.executorRunTime, m.executorCpuTime,
        m.jvmGCTime, math.max(0L, sched),
        m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
        m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled,
        m.inputMetrics.bytesRead, m.outputMetrics.bytesWritten)
    }
  }

  override def onOtherEvent(event: SparkListenerEvent): Unit = synchronized {
    event match {
      case e: SparkListenerSQLExecutionStart => sqlStart(e.executionId) = e.time
      case e: SparkListenerSQLExecutionEnd =>
        sqlExecs += SqlExec(sqlStart.getOrElse(e.executionId, e.time), e.time)
      case e: QueryProgressEvent =>
        val p = e.progress
        def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
        batches += Batch(d("triggerExecution"), d("addBatch"), d("walCommit"),
          d("commitOffsets"), d("queryPlanning"), d("getBatch"), p.numInputRows,
          p.stateOperators.map(_.numRowsTotal).sum, p.stateOperators.map(_.memoryUsedBytes).sum)
      case _ =>
    }
  }

  private def phases(qe: org.apache.spark.sql.execution.QueryExecution): Unit = synchronized {
    qe.tracker.phases.foreach { case (k, v) => phaseMs(k) += v.durationMs }
  }
  override def onSuccess(funcName: String, qe: org.apache.spark.sql.execution.QueryExecution,
      durationNs: Long): Unit = phases(qe)
  override def onFailure(funcName: String, qe: org.apache.spark.sql.execution.QueryExecution,
      exception: Exception): Unit = phases(qe)

  /** Wait until every event posted before this call has been delivered:
    * run one tagged job and wait for its end event, which the bus delivers
    * after all earlier events. */
  def drain(spark: org.apache.spark.sql.SparkSession): Unit = {
    synchronized { sentinel = new CountDownLatch(1) }
    val sc = spark.sparkContext
    sc.setLocalProperty(Telemetry.SentinelKey, "1")
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(Telemetry.SentinelKey, null)
    sentinel.await(60, TimeUnit.SECONDS)
  }

  def clear(): Unit = synchronized {
    jobStarts.clear(); stages.clear(); tasks.clear(); sqlExecs.clear(); batches.clear()
    phaseMs.clear()
  }
}

object Telemetry {
  val SentinelKey = "perfbench.sentinel"
}

/** Counts whole-stage codegen fallbacks: Spark logs a warning from
  * WholeStageCodegenExec when a generated class fails to compile (e.g.
  * "Code grows beyond 64 KB") and it runs the plan without codegen. */
object CodegenFallbacks {
  val count = new AtomicLong(0)

  def install(): Unit = {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val cfg = ctx.getConfiguration
    val appender = new AbstractAppender("perfbench-codegen-fallbacks", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getMessage.getFormattedMessage.contains("Whole-stage codegen disabled"))
          count.incrementAndGet()
    }
    appender.start()
    val name = "org.apache.spark.sql.execution.WholeStageCodegenExec"
    val lc = new LoggerConfig(name, Level.WARN, true)
    lc.addAppender(appender, Level.WARN, null)
    cfg.addLogger(name, lc)
    ctx.updateLoggers()
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else BigDecimal(v).bigDecimal.toPlainString
}
