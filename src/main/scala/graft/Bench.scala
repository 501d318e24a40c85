package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    // Host-load sentinel (VERDICT r8 item 3): r8's driver bench read 329 s
    // on co-tenant load vs ~120 s idle, identical code. Recording the
    // 1-minute loadavg at start and end makes an inflated sample
    // self-labeling instead of a forensic exercise.
    def loadavg(): Double =
      java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage
    // Clean-by-construction capture (VERDICT r12 item 3): two rounds
    // running, the committed round artifact was captured at loadavg
    // 3.5–3.9 and could only self-disqualify. Before measuring anything,
    // wait — bounded — for the host to quiesce: up to 2 × 60 s sleeps
    // while the 1-minute loadavg is ≥ 2 (the judge's suggested bound —
    // small enough that an external run timeout cannot be blown). A host
    // that never quiesces still gets measured (and still self-labels
    // dirty); a host that was momentarily busy yields a usable
    // round-over-round artifact instead of a labeled write-off. Opt out
    // with SPARK_GRAFT_NO_QUIESCE=1 (targeted iteration runs shouldn't
    // sleep).
    if (!sys.env.contains("SPARK_GRAFT_NO_QUIESCE")) {
      var waited = 0
      while (loadavg() >= 2.0 && waited < 2) {
        System.err.println(
          f"# bench: loadavg ${loadavg()}%.2f >= 2, waiting 60s for quiesce " +
            s"(${waited + 1}/2)")
        Thread.sleep(60000)
        waited += 1
      }
    }
    val loadStart = loadavg()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // JVM/codegen warmup so the first measured query isn't charged for it
    try SparkEntry.entry(spark).count() catch { case _: Throwable => () }
    // exercise the core execution machinery (shuffle, window, join, agg
    // codegen) on 1000 synthetic rows: engine init otherwise lands on the
    // first measured line (the artifact pre-pass), not the work it names
    try {
      import org.apache.spark.sql.functions._
      val w = org.apache.spark.sql.expressions.Window.partitionBy("k").orderBy("n")
      val r = spark.range(1000).select(col("id"), pmod(col("id"), lit(7)).as("k"))
      r.groupBy("k").agg(count(lit(1)).as("n"))
        .withColumn("rn", row_number().over(w))
        .join(r, "k").count()
    } catch { case _: Throwable => () }
    // Warm the shared fixture tables once before any timing: the first
    // query to touch a table otherwise pays its cold scan (page-cache fill,
    // footer decode, reader JIT) — round 5 charged ~2.9s of exactly this to
    // m1, the alphabetically-first documents+embeddings reader. One
    // disclosed warm pass makes per-query numbers attributable to plans.
    // (a ns-generation events fixture only loads under the legacy conf
    // every events() reader sets; it's a no-op for the us generation)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // every fixture table in the sf dir (ADVICE r6: a hardcoded list missed
    // customer, so its first reader still paid the cold scan)
    val tables = Option(new java.io.File(sfDir).list()).getOrElse(Array.empty)
      .filter(_.endsWith(".parquet")).sorted
    tables.foreach { t =>
      try operators.table(spark, sfDir, t.stripSuffix(".parquet")).count()
      catch { case _: Throwable => () }
    }
    // optional comma-separated filter for targeted perf iteration
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim).toSet)
    // Shared-artifact pre-pass: build every spool / trained model ONCE,
    // timed, each reported as its own x_* line in the output. Without this
    // the min-of-2 policy charged the build to nobody (the first run of
    // the building query was discarded) — VERDICT r6 item 2. Skipped under
    // a filter unless explicitly selected, so targeted runs still see
    // first-consumer-builds semantics.
    // Artifact-plan JIT warmup at sf0.001 (disclosed, untimed): each build
    // runs exactly ONCE timed, so unlike queries (min-of-2) a build line
    // would otherwise be charged its whole-stage-codegen compile storm
    // (the d6 contraction alone is ~20 generated classes, ~5s measured)
    // rather than its work. Same builders, smallest fixture; spools and
    // model caches are keyed by sf dir, so nothing precomputes the
    // measured sf's artifacts.
    val warmSf = "/root/testdata/sf0.001"
    if (new java.io.File(warmSf).isDirectory)
      SparkEntry.artifacts
        .filter { case (name, _) => only.forall(_.contains(name)) }
        .foreach { case (_, build) =>
          try build(spark, warmSf) catch { case _: Throwable => () } }
    spark.catalog.clearCache()
    // Mid-run contamination sampling (VERDICT r13 item 1b): a co-tenant
    // that arrives after a clean start must label the artifact (r13's
    // committed bench started at 0.975 and degraded mid-flight — nothing
    // in the artifact said so). Loadavg alone cannot discriminate here:
    // the bench's OWN local[32] work drives the 1-minute loadavg past
    // any idle threshold (a first cut labeled an idle-host run dirty at
    // "3.92"). Instead measure FOREIGN CPU directly: between entries,
    // delta(/proc/stat busy jiffies across all cpus) minus delta(this
    // JVM's process CPU) = core-seconds someone else burned. An idle
    // host's background hum is a few percent of one core; a real
    // co-tenant (another build, another bench) burns whole cores.
    def procCpuSec(): Double =
      java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
        case b: com.sun.management.OperatingSystemMXBean =>
          b.getProcessCpuTime / 1e9
        case _ => -1.0
      }
    def busyCoreSec(): Double = try {
      val l = scala.io.Source.fromFile("/proc/stat").getLines().next()
      val f = l.trim.split("\\s+").drop(1).map(_.toDouble)
      // user+nice+system+irq+softirq+steal (skip idle f(3) and iowait
      // f(4)); USER_HZ = 100 on linux
      (f.take(3).sum + f.drop(5).take(3).sum) / 100.0
    } catch { case _: Throwable => -1.0 }
    val (cpu0, busy0, wall0) = (procCpuSec(), busyCoreSec(), System.nanoTime())
    var foreignMaxRate = 0.0 // worst foreign cores observed in one interval
    var lastCpu = cpu0; var lastBusy = busy0; var lastWall = wall0
    def sampleMid(): Unit =
      if (lastCpu >= 0 && lastBusy >= 0) {
        val (c, b, w) = (procCpuSec(), busyCoreSec(), System.nanoTime())
        val dt = (w - lastWall) / 1e9
        if (dt > 0.5) { // skip sub-second intervals: jiffy granularity noise
          val foreign = math.max(0.0, (b - lastBusy) - (c - lastCpu))
          foreignMaxRate = math.max(foreignMaxRate, foreign / dt)
          lastCpu = c; lastBusy = b; lastWall = w
        }
      }
    val artifactTimes = SparkEntry.artifacts
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (name, build) =>
        val t0 = System.nanoTime()
        val ok = try { build(spark, sfDir); true } catch {
          case e: Throwable =>
            System.err.println(s"[bench] $name failed: $e"); false
        }
        sampleMid()
        name -> (if (ok) (System.nanoTime() - t0) / 1e9 else -1.0)
      }
    spark.catalog.clearCache()
    // two timed runs per query, report the min successful time (steady
    // state, not scheduler/GC noise); a query with no successful run
    // reports -1 so breakage is visible instead of looking fast
    val queryResults = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (name, fn) =>
      val times = (1 to 2).flatMap { _ =>
        val t0 = System.nanoTime()
        val ok = try { fn(spark, sfDir).count(); true } catch {
          case e: Throwable =>
            System.err.println(s"[bench] $name failed: $e"); false
        }
        if (ok) Some((System.nanoTime() - t0) / 1e9) else None
      }
      // Several queries cache intermediate state (d2/d6/s7/s8/s9 model
      // frames). Left alone, 108 queries x 2 runs accumulate all of it in
      // storage memory and LATER queries pay the GC bill — the round-4
      // driver run showed q31 at 6.15s in the full session vs 1.4s
      // isolated. Clearing between queries (not between a query's two
      // runs) keeps each query's warm-cache second run intact while
      // bounding session-wide growth.
      spark.catalog.clearCache()
      sampleMid()
      name -> (if (times.nonEmpty) times.min else -1.0)
    }
    val results = (artifactTimes ++ queryResults).toMap
    val total = if (results.nonEmpty) results.values.filter(_ >= 0).sum else 0.0
    // Per-query regression gate (VERDICT r9 item 6): compare against the
    // committed sf0.1 time ledger (BENCH_LEDGER.json, regenerated each
    // round from a clean full run). A query is flagged when it runs
    // > 1.5x its ledger time AND the excess is over 0.3s (sub-second
    // entries jitter by scheduler noise, not plan regressions). The gate
    // only speaks when the sample is clean — loadavg_start < 2 — so a
    // co-tenant-poisoned run can't cry wolf (the r8 329s confusion, made
    // mechanically self-adjudicating).
    val regressionTag: String = {
      val ledgerFile = new java.io.File("BENCH_LEDGER.json")
      if (!ledgerFile.isFile || !sfDir.endsWith("sf0.1")) ""
      else {
        val txt = scala.io.Source.fromFile(ledgerFile)
        val ledger = try {
          // Scope the parse to the "times" object (ADVICE r10): the flat
          // regex also ingested numeric _meta fields (cpus, round,
          // loadavg_start) as ledger entries, and would misparse if the
          // file's documented evolution ever nests further structure.
          val whole = txt.mkString
          val start = whole.indexOf("\"times\"")
          val body =
            if (start < 0) ""
            else {
              val open = whole.indexOf('{', start)
              val close = whole.indexOf('}', open)
              if (open < 0 || close < 0) "" else whole.substring(open + 1, close)
            }
          """"([^"]+)"\s*:\s*([0-9.]+)""".r
            .findAllMatchIn(body)
            .map(m => m.group(1) -> m.group(2).toDouble).toMap
        } finally txt.close()
        // entries absent from the ledger are UNGATED — surface the count
        // regardless of load, so a grown registry can't silently outrun
        // its own gate
        val unledgered = results.keysIterator.count(!ledger.contains(_))
        val unledgeredTag =
          if (unledgered == 0) "" else s""""n_unledgered":$unledgered,"""
        // the TIME comparison only speaks on a clean sample (loadStart<2)
        if (loadStart >= 2.0) unledgeredTag
        else {
          def over(name: String, t: Double): Boolean =
            t > 0 && ledger.get(name).exists(l => t > l * 1.5 && t - l > 0.3)
          val candidates = results.toSeq.filter { case (n, t) => over(n, t) }
          // Self-confirming gate (VERDICT r10 item 4): a transient
          // scheduler/GC spike during the two timed runs flags an entry a
          // clean host can't reproduce (r10 flagged t61 at 2.63s; an idle
          // re-measure read 0.70s). Before emitting a flag, re-run the
          // flagged entry once more (min-of-3 on flags only) — a poisoned
          // sample self-silences, a real plan regression reproduces.
          // Artifact (x_*) builds re-measure too (VERDICT r13 item 1a):
          // their memo is EVICTED first, so the rebuild pays first-build
          // cost exactly like the flagged line did.
          // VERDICT r14 item 1: a confirmation taken UNDER the same
          // contamination that produced the flag only echoes it (r14's 70
          // noise flags). So (a) before the confirmation pass, wait —
          // bounded, like the start quiesce — for the measured foreign-CPU
          // rate to subside below the half-core gate, and (b) measure the
          // foreign rate DURING each confirming re-measure and annotate
          // any surviving flag with it ("name:t/l@fN.N"), so a
          // dirty-confirmation flag is machine-distinguishable from a
          // reproduced plan regression.
          def foreignRateNow(windowMs: Int): Double = {
            val (c0, b0) = (procCpuSec(), busyCoreSec())
            if (c0 < 0 || b0 < 0) return -1.0
            Thread.sleep(windowMs)
            math.max(0.0, (busyCoreSec() - b0) - (procCpuSec() - c0)) /
              (windowMs / 1000.0)
          }
          if (candidates.nonEmpty) {
            var waited = 0
            while (waited < 2 && foreignRateNow(2000) >= 0.5) {
              System.err.println(
                s"# bench: foreign CPU >= 0.5 cores before flag confirmation, " +
                  s"waiting 30s (${waited + 1}/2)")
              Thread.sleep(30000)
              waited += 1
            }
          }
          val regressed = candidates.flatMap { case (name, t) =>
            val (fc0, fb0, fw0) = (procCpuSec(), busyCoreSec(), System.nanoTime())
            val confirmed = SparkEntry.queries.get(name) match {
              case Some(fn) =>
                val t0 = System.nanoTime()
                val t3 = try { fn(spark, sfDir).count()
                  (System.nanoTime() - t0) / 1e9
                } catch { case _: Throwable => t }
                spark.catalog.clearCache()
                math.min(t, t3)
              case None => SparkEntry.artifacts.find(_._1 == name) match {
                case Some((_, build)) =>
                  SparkEntry.evictArtifact(name, sfDir)
                  val t0 = System.nanoTime()
                  val t3 = try { build(spark, sfDir)
                    (System.nanoTime() - t0) / 1e9
                  } catch { case _: Throwable => t }
                  spark.catalog.clearCache()
                  math.min(t, t3)
                case None => t
              }
            }
            val fdt = (System.nanoTime() - fw0) / 1e9
            val confirmForeign =
              if (fc0 < 0 || fb0 < 0 || fdt <= 0) -1.0
              else math.max(0.0,
                (busyCoreSec() - fb0) - (procCpuSec() - fc0)) / fdt
            if (over(name, confirmed))
              Some(name -> (confirmed, ledger(name), confirmForeign))
            else None
          }.sortBy(-_._2._1)
          val nDirtyConfirms = regressed.count(_._2._3 >= 0.5)
          val dirtyConfirmTag =
            if (nDirtyConfirms == 0) ""
            else s""""n_dirty_confirms":$nDirtyConfirms,"""
          if (regressed.isEmpty) s"""$unledgeredTag"n_regressed":0,"""
          else {
            val shown = regressed.take(10).map { case (n, (t, l, fr)) =>
              "\"" + n + ":" + f"$t%.2f" + "/" + f"$l%.2f" +
                (if (fr >= 0.5) f"@f$fr%.1f" else "") + "\""
            }.mkString("[", ",", "]")
            s"""$unledgeredTag$dirtyConfirmTag"n_regressed":${regressed.size},"regressed":$shown,"""
          }
        }
      }
    }
    // The harness captures only a bounded tail of stdout (2000 chars observed
    // in round 1, where the full-precision 63-query line overflowed and failed
    // to parse). Emit 3-decimal values and, if the line still wouldn't fit
    // alongside sbt's trailing [success] banner, keep only the slowest
    // queries in the map; "n_queries" always records full coverage and
    // "value" is always the total over ALL queries.
    def fmt(v: Double): String = if (v < 0) "-1" else f"$v%.3f"
    def line(entries: Seq[(String, Double)]): String = {
      val qs = entries.sortBy(_._1).map { case (k, v) => "\"" + k + "\":" + fmt(v) }
        .mkString("{", ",", "}")
      // "filtered":true whenever SPARK_GRAFT_ONLY restricted the run, so a
      // stray env var can't masquerade as full coverage (ADVICE r2).
      // n_queries counts REAL queries; the x_* shared-artifact builds are
      // extra map entries counted by n_artifacts and included in "value",
      // so the total accounts for every job the suite runs.
      val filteredTag = if (only.isDefined) """"filtered":true,""" else ""
      // NON-FINAL label (VERDICT r11 item 4): a sample taken on a busy
      // host (loadavg_start >= 2 — the same threshold that silences the
      // regression gate) is self-labeling as contaminated, so a committed
      // tally carrying one reads as "re-run me on an idle box" instead of
      // masquerading as a clean measurement (r11 shipped a 5.39s t45 an
      // idle host measures at ~1.0s, and nothing in the artifact said so).
      // dirty_mid (VERDICT r13 item 1b): foreign CPU ≥ half a core
      // sustained over some between-entries interval labels the artifact
      // as mid-run contaminated, with the worst observed foreign-core
      // rate and the whole-run foreign total — the r13 failure mode
      // (clean start, noisy flight) becomes self-labeling like start
      // contamination is, without mislabeling the bench's own load.
      val foreignTotal =
        if (cpu0 < 0 || busy0 < 0) -1.0
        else math.max(0.0,
          (busyCoreSec() - busy0) - (procCpuSec() - cpu0))
      // ADVICE r14: many sub-0.5s entries coalesce into one long sample
      // interval, averaging a short co-tenant burst below the half-core
      // rate gate — so the WHOLE-RUN foreign total also gates (a few
      // core-minutes of someone else's CPU is contamination even if no
      // single interval crossed 0.5 cores)
      val dirtyTag =
        if (loadStart >= 2.0) """"dirty_host":true,"gate_silenced":true,"""
        else if (foreignMaxRate >= 0.5 || foreignTotal >= 120.0)
          f""""dirty_mid":true,"max_foreign_cores":$foreignMaxRate%.2f,""" +
            f""""foreign_core_sec":$foreignTotal%.1f,"""
        else ""
      // Failures must be LOUD in the artifact (VERDICT r7 item 4): "value"
      // excludes failed entries, so without this list a wiped suite still
      // yields a plausible-looking total. Bounded so the line stays parseable.
      val failedNames = results.toSeq.filter(_._2 < 0).map(_._1).sorted
      val failedTag =
        if (failedNames.isEmpty) ""
        else {
          val shown = failedNames.take(10).map("\"" + _ + "\"").mkString("[", ",", "]")
          s""""n_failed":${failedNames.size},"failed":$shown,"""
        }
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec",$filteredTag$dirtyTag$failedTag$regressionTag"n_queries":${queryResults.size},"n_artifacts":${artifactTimes.size},"loadavg_start":${fmt(loadStart)},"loadavg_end":${fmt(loadavg())},"queries":$qs,"sf":"$sfDir"}"""
    }
    // full per-query detail for humans, one line each (may scroll off the tail)
    results.toSeq.sortBy(_._1).foreach { case (k, v) => println(s"# bench $k ${fmt(v)}") }
    val budget = 1600
    var entries = results.toSeq
    var out = line(entries)
    while (out.length > budget && entries.nonEmpty) {
      entries = entries.sortBy(-_._2).dropRight(math.max(1, entries.size / 8))
      out = line(entries)
    }
    println(out)
    spark.stop()
  }
}
