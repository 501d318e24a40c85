package graft.jobs

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future, TimeoutException}
import scala.concurrent.duration._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft._
import graft.functions.Functions.{format_time, utf8Order}

/** Job registry, runner and run ledger — the reference's Job lifecycle
  * (A5-A8, A16; gluettalax.py:227-354) with the remote Glue cluster replaced
  * by in-process execution of a named DataFrame query.
  *
  * Observable contract preserved: JobNotFound on unknown names, per-job
  * MaxConcurrentRuns → JobConcurrentRunsExceeded, sync run waits with a
  * timeout → JobTimeout (the run itself keeps going, as in the reference),
  * async returns immediately, run states RUNNING → SUCCEEDED/FAILED in an
  * append-only ledger, and run_job returns the success boolean.
  * Deliberate deviation (SURVEY §3.2): job *failure* maps to exit 1 at the
  * CLI — the reference's `return 0 if ... else 0` always-0 is a bug we fix.
  */
final class JobRunner(spark: SparkSession) {

  /** A named, parameterized query — the engine's "Glue job". `timeoutMinutes`
    * mirrors the job-level Timeout default (gluettalax.py:238-239). */
  final case class JobSpec(
      name: String,
      query: (SparkSession, Map[String, String]) => DataFrame,
      timeoutMinutes: Int = 10,
      maxConcurrentRuns: Int = 1,
      allocatedCapacity: Int = 2)

  final case class JobRun(
      runId: Long,
      jobName: String,
      state: String, // RUNNING | SUCCEEDED | FAILED
      startedOn: java.sql.Timestamp,
      completedOn: Option[java.sql.Timestamp],
      executionTimeSec: Long,
      arguments: Map[String, String],
      allocatedCapacity: Int,
      error: Option[String])

  val Succeeded = "SUCCEEDED"
  val Failed = "FAILED"
  val RunningState = "RUNNING"

  private val registry = mutable.LinkedHashMap.empty[String, JobSpec]
  private val inFlight = mutable.Map.empty[String, AtomicInteger]
  private val ledger = mutable.ArrayBuffer.empty[JobRun]
  private val nextRunId = new AtomicLong(0)
  private implicit val ec: ExecutionContext = ExecutionContext.global

  def register(spec: JobSpec): Unit = synchronized {
    registry.put(spec.name, spec)
    inFlight.getOrElseUpdate(spec.name, new AtomicInteger(0))
  }

  /** A5: job registry scan — the reference's `list_jobs(full=True)`
    * (gluettalax.py:294-302), with the typed JobSpec as the dict. */
  def listJobs(): Seq[JobSpec] = synchronized { registry.values.toSeq }

  /** `list_jobs()` default (full=False) mode: names only. */
  def listJobNames(): Seq[String] = listJobs().map(_.name)

  def getJob(name: String): JobSpec = synchronized {
    registry.getOrElse(name, throw JobNotFound(s"Job $name not found"))
  }

  /** Insert or replace a ledger row (by run id). Package-visible so a test
    * can record runs with chosen start times. */
  private[graft] def record(run: JobRun): Unit = synchronized {
    ledger.indexWhere(_.runId == run.runId) match {
      case -1 => ledger += run
      case i  => ledger(i) = run
    }
  }

  /** A16: run a job. Sync waits for SUCCEEDED/FAILED with a wall-clock
    * timeout; async returns true immediately after the start. */
  def runJob(name: String, params: Map[String, String] = Map.empty,
      async: Boolean = false, timeoutSec: Option[Int] = None): Boolean = {
    val spec = getJob(name)
    val counter = synchronized(inFlight(name))
    if (counter.incrementAndGet() > spec.maxConcurrentRuns) {
      counter.decrementAndGet()
      throw JobConcurrentRunsExceeded(s"Too many concurrent runs of job $name")
    }
    val runId = nextRunId.incrementAndGet()
    val startedAt = System.currentTimeMillis()
    val base = JobRun(runId, name, RunningState,
      new java.sql.Timestamp(startedAt), None, 0, params, spec.allocatedCapacity, None)
    record(base)
    val fut: Future[Unit] = Future {
      // the action: execute the named query's plan (count() forces a full
      // scan-to-result execution without collecting rows to the driver)
      spec.query(spark, params).count()
      ()
    }
    // ledger write is part of the awaited chain — a sync caller observes the
    // final state as soon as runJob returns (no callback race)
    val done = fut.andThen { case result =>
      counter.decrementAndGet()
      val doneAt = System.currentTimeMillis()
      val secs = (doneAt - startedAt) / 1000
      result match {
        case scala.util.Success(_) =>
          record(base.copy(state = Succeeded,
            completedOn = Some(new java.sql.Timestamp(doneAt)), executionTimeSec = secs))
        case scala.util.Failure(e) =>
          record(base.copy(state = Failed,
            completedOn = Some(new java.sql.Timestamp(doneAt)), executionTimeSec = secs,
            error = Some(e.getMessage)))
      }
    }
    if (async) true
    else {
      val limit = timeoutSec.getOrElse(spec.timeoutMinutes * 60)
      try {
        Await.ready(done, limit.seconds)
        done.value.exists(_.isSuccess)
      } catch {
        case _: TimeoutException => throw JobTimeout(s"Job $name timeout")
      }
    }
  }

  /** The run ledger as a DataFrame (schema-stable, for list_runs and
    * observability joins). */
  def runsDF(): DataFrame = toDF(synchronized(ledger.toList))

  /** Runs as a local relation: a projection or filter on it folds into it,
    * so `collect()` starts no Spark job. */
  private def toDF(runs: Seq[JobRun]): DataFrame = {
    import spark.implicits._
    val rows = runs.map { r =>
      (r.runId, r.jobName, r.state, r.startedOn, r.completedOn.orNull,
        r.executionTimeSec,
        r.arguments.toSeq.sorted.map { case (k, v) => s"--$k $v" }.mkString(" "),
        r.allocatedCapacity)
    }
    rows.toDF("run_id", "job_name", "state", "started_on", "completed_on",
      "execution_time_sec", "arguments", "allocated_capacity")
  }

  /** `started_on` descending, then `run_id` descending. */
  private val newestFirst: Ordering[JobRun] =
    Ordering.by((r: JobRun) => (r.startedOn.getTime, r.runId)).reverse

  /** The newest `lines` of `runs`, all when unset. */
  private def newest(runs: Seq[JobRun], lines: Option[Int]): Seq[JobRun] = {
    val sorted = runs.sorted(newestFirst)
    lines.fold(sorted)(sorted.take)
  }

  /** A negative line count is an InvalidOption, whether or not any run
    * exists. */
  private def checked(lines: Option[Int]): Option[Int] = {
    lines.filter(_ < 0).foreach(n => throw InvalidOption(s"invalid value for --lines: $n"))
    lines
  }

  private def runsOf(name: String, includeSucceeded: Boolean): Seq[JobRun] = {
    getJob(name)
    synchronized(ledger.toList)
      .filter(r => r.jobName == name && (includeSucceeded || r.state != Succeeded))
  }

  /** A7: runs of one job, optionally excluding SUCCEEDED, newest first,
    * limited (the reference's early pagination break). The ledger is on
    * the driver, so the filter, sort and limit run there. */
  def listRuns(name: String, lines: Option[Int] = None,
      includeSucceeded: Boolean = true): DataFrame =
    toDF(newest(runsOf(name, includeSucceeded), checked(lines)))

  /** A8: when no job name is given — the most recent `lines` runs of EVERY
    * job (top-k per group, default 1), with the reference's derived display
    * columns: human execution time, ISO-truncated start, flattened args.
    * Rows come by job name in Spark's string order, then newest first. The
    * Catalyst form of this (a row_number window) is q17. */
  def printJobRuns(name: Option[String], lines: Option[Int] = None): DataFrame = {
    val k = checked(lines)
    val runs = name match {
      case Some(n) => newest(runsOf(n, includeSucceeded = true), k)
      case None =>
        synchronized(ledger.toList).groupBy(_.jobName).values
          .flatMap(newest(_, k.orElse(Some(1)))).toSeq
    }
    // column order mirrors the reference display row (gluettalax.py:330):
    // Status, Cap (AllocatedCapacity), Exec time, Start time, Name, Arguments
    val byName = Ordering.by((r: JobRun) => r.jobName)(utf8Order)
    toDF(runs.sorted(byName.orElse(newestFirst))).select(
      col("state"),
      col("allocated_capacity").as("cap"),
      format_time(col("execution_time_sec")).as("execution_time"),
      date_format(col("started_on"), "yyyy-MM-dd'T'HH:mm:ss").as("started_on"),
      col("job_name"), col("arguments"))
  }
}
