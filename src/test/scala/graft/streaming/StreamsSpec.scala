package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite
import graft.LocalSpark
import Streams._

/** Streaming semantics tests per SURVEY.md §5.4: MemoryStream input →
  * processAllAvailable → assert sink contents (windows, watermark-dropped
  * late rows, stateful dedup, custom session state).
  */
class StreamsSpec extends AnyFunSuite with LocalSpark {

  private def ts(minute: Int): Timestamp = Timestamp.valueOf(f"2024-01-01 ${minute / 60}%02d:${minute % 60}%02d:00")

  private def ev(id: Long, minute: Int, user: Long = 1, typ: String = "view", v: Double = 1.0) =
    Event(id, ts(minute), user, typ, v)

  test("tumbling windows aggregate incrementally across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = tumblingCounts(input.toDF()).writeStream
      .format("memory").queryName("tumbling").outputMode(OutputMode.Complete()).start()
    input.addData(ev(1, 0), ev(2, 5), ev(3, 12))
    q.processAllAvailable()
    input.addData(ev(4, 7, typ = "click"))
    q.processAllAvailable()
    val rows = spark.table("tumbling").collect()
      .map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2))).toSet
    q.stop()
    assert(rows == Set(
      ("2024-01-01 00:00:00.0", "view", 2L),
      ("2024-01-01 00:00:00.0", "click", 1L),
      ("2024-01-01 00:10:00.0", "view", 1L)))
  }

  test("watermark drops late data in append mode") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = tumblingCounts(input.toDF()).writeStream
      .format("memory").queryName("late").outputMode(OutputMode.Append()).start()
    // batch 1: fill window [00:00,00:10) then advance event time to 00:40
    // → watermark moves to 00:30, closing that window
    input.addData(ev(1, 0), ev(2, 5), ev(3, 40))
    q.processAllAvailable()
    // batch 2: a late event for the closed window — must be dropped
    input.addData(ev(4, 1))
    q.processAllAvailable()
    // batch 3: advance far enough to also close [00:40,00:50)
    input.addData(ev(5, 120))
    q.processAllAvailable()
    val rows = spark.table("late").collect()
      .map(r => (r.getTimestamp(0).toString, r.getLong(2))).toSet
    q.stop()
    // the 00:00 window emitted exactly 2 (late row 4 dropped)
    assert(rows.contains(("2024-01-01 00:00:00.0", 2L)))
    assert(!rows.contains(("2024-01-01 00:00:00.0", 3L)))
  }

  test("stateful dedup collapses duplicate event ids") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = dedupEvents(input.toDF()).writeStream
      .format("memory").queryName("dedup").outputMode(OutputMode.Append()).start()
    input.addData(ev(1, 0), ev(1, 0), ev(2, 1))
    q.processAllAvailable()
    input.addData(ev(2, 1), ev(3, 2)) // cross-batch duplicate
    q.processAllAvailable()
    val n = spark.table("dedup").count()
    q.stop()
    assert(n == 3)
  }

  test("session windows merge events within the gap") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = sessionCounts(input.toDF()).writeStream
      .format("memory").queryName("sessions").outputMode(OutputMode.Complete()).start()
    // user 1: events at 00:00, 00:10, 00:20 → one session;
    // then 01:30 → a second session. user 2: one event.
    input.addData(ev(1, 0), ev(2, 10), ev(3, 20), ev(4, 90), ev(5, 0, user = 2))
    q.processAllAvailable()
    val rows = spark.table("sessions").collect()
      .map(r => (r.getLong(1), r.getTimestamp(0).toString, r.getLong(2))).toSet
    q.stop()
    assert(rows == Set(
      (1L, "2024-01-01 00:00:00.0", 3L),
      (1L, "2024-01-01 01:30:00.0", 1L),
      (2L, "2024-01-01 00:00:00.0", 1L)))
  }

  test("stream-static broadcast join enriches events") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val customer = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
    val input = MemoryStream[Event]
    val q = enrichWithCustomer(input.toDF(), customer).writeStream
      .format("memory").queryName("enriched").outputMode(OutputMode.Append()).start()
    input.addData(ev(1, 0, user = 3), ev(2, 1, user = 999999))
    q.processAllAvailable()
    val rows = spark.table("enriched").collect()
      .map(r => (r.getLong(0), Option(r.getString(4)))).toMap
    q.stop()
    assert(rows(1L).isDefined)    // matched a real customer
    assert(rows(2L).isEmpty)      // left outer: unmatched user keeps null
  }

  test("custom sessionizer accumulates per-user state across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = sessionizeWithState(input.toDS()).writeStream
      .format("memory").queryName("state_sessions").outputMode(OutputMode.Append()).start()
    input.addData(ev(1, 0, user = 1), ev(2, 1, user = 1), ev(3, 0, user = 2))
    q.processAllAvailable()
    input.addData(ev(4, 2, user = 1))
    q.processAllAvailable()
    val rows = spark.table("state_sessions").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    q.stop()
    // user 1: 2 events in batch 1, 3 cumulative after batch 2; user 2: 1
    assert(rows.contains((1L, 2L, false)))
    assert(rows.contains((1L, 3L, false)))
    assert(rows.contains((2L, 1L, false)))
  }

  test("chained windowed aggregations emit the daily rollup only after both stages close") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val chained = input.toDF()
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_hourly"))
      .groupBy(window(window_time(col("window")), "1 day"), col("event_type"))
      .agg(sum(col("n_hourly")).as("n_daily"), max(col("n_hourly")).as("peak_hour"))
    val q = chained.writeStream.format("memory").queryName("chained")
      .outputMode(OutputMode.Append()).start()
    // hour 0: 3 views; hour 1: 1 view — nothing can emit yet
    input.addData(ev(1, 0), ev(2, 5), ev(3, 12), ev(4, 65))
    q.processAllAvailable()
    assert(spark.table("chained").isEmpty, "emitted before the watermark closed either stage")
    // far-future row closes day 0 through BOTH stages
    input.addData(Event(99, Timestamp.valueOf("2024-01-03 00:00:00"), 1, "flush", 0.0))
    q.processAllAvailable()
    val rows = spark.table("chained").collect()
      .map(r => (r.getString(1), r.getLong(2), r.getLong(3))).toSet
    q.stop()
    assert(rows == Set(("view", 4L, 3L)), s"got $rows")
  }

  // --- the AvailableNow drain every streaming replay goes through ---

  private val partsKey = "spark.sql.shuffle.partitions"
  private val noDataKey = "spark.sql.streaming.noDataMicroBatches.enabled"

  /** A parquet stream over four fresh events plus a checkpoint path. */
  private def fileStream(): (org.apache.spark.sql.DataFrame, String) = {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-drain")
    val src = root.resolve("src").toString
    Seq(ev(1, 0), ev(2, 5, typ = "click"), ev(3, 12), ev(4, 20))
      .toDF().write.parquet(src)
    val schema = spark.read.parquet(src).schema
    (spark.readStream.schema(schema).parquet(src), root.resolve("ckpt").toString)
  }

  test("drain: per-query conf reaches the stream, never the caller's session") {
    import graft.operators.StreamingOps.{drain, shufflePartitions}
    val (src, ckpt) = fileStream()
    val seen = scala.collection.mutable.ListBuffer.empty[(String, String)]
    val q = drain(src.groupBy("event_type").count(), ckpt, shufflePartitions(3))(
      _.outputMode(OutputMode.Complete())
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.collect() // a stateful batch must run for its state to commit
          seen.synchronized {
            seen += (b.sparkSession.conf.get(partsKey) -> spark.conf.get(partsKey))
          }
          ()
        }.start())
    assert(!q.isActive && q.exception.isEmpty)
    assert(q.lastProgress.stateOperators.head.numShufflePartitions == 3)
    // the stream's own session runs at 3; the caller's stays at 4 while the
    // batches run and after the drain returns
    assert(seen.synchronized(seen.toList).nonEmpty)
    assert(seen.synchronized(seen.toList).forall(_ == ("3" -> "4")), seen)
    assert(spark.conf.get(partsKey) == "4")
  }

  test("drain: a failing stream surfaces its error and still restores the caller's conf") {
    import graft.operators.StreamingOps.{drain, noDataBatches, shufflePartitions}
    val (src, ckpt) = fileStream()
    assert(!spark.conf.getAll.contains(noDataKey))
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      drain(src, ckpt, shufflePartitions(3), noDataBatches(false))(
        _.foreachBatch { (_: org.apache.spark.sql.DataFrame, _: Long) =>
          throw new IllegalStateException("sink refused the batch")
        }.start())
    }
    assert(err.getMessage.contains("sink refused the batch"), err.getMessage)
    assert(spark.conf.get(partsKey) == "4")
    assert(!spark.conf.getAll.contains(noDataKey), "a key unset before the drain must be unset again")
  }

  test("drainToLocal: returns the sink content and leaves no temp view behind") {
    import graft.operators.StreamingOps.{drainToLocal, shufflePartitions}
    import org.apache.spark.sql.functions._
    def views() = spark.catalog.listTables().collect().filter(_.isTemporary).map(_.name).toSet
    val before = views()
    val (src, ckpt) = fileStream()
    val (q, out) = drainToLocal(src.groupBy("event_type").count(),
      OutputMode.Complete(), ckpt, shufflePartitions(3))
    assert(q.recentProgress.map(_.numInputRows).sum == 4)
    assert(out.collect().map(r => r.getString(0) -> r.getLong(1)).toSet ==
      Set("view" -> 3L, "click" -> 1L))
    assert(views() == before)
    // a failed drain drops its sink view too
    val (src2, ckpt2) = fileStream()
    val boom = udf((t: String) => { if (t == "click") sys.error("bad row"); t })
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      drainToLocal(src2.select(boom(col("event_type")).as("t")),
        OutputMode.Append(), ckpt2)
    }
    assert(views() == before)
  }

  // --- the fixed cost a replay pays besides its work: compiles and forks ---

  /** perfbench's in-repo copy of the sf0.01 fixture tables. */
  private val sfDir = "perfbench/fixtures/sf0.01"
  private val st9 = graft.operators.StreamingOps.st9

  /** `body`'s result and the classes Spark's code generator compiled meanwhile. */
  private def compiles[T](body: => T): (T, Long) = {
    import org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    val c0 = METRIC_COMPILATION_TIME.getCount
    val out = body
    (out, METRIC_COMPILATION_TIME.getCount - c0)
  }

  /** Every file under `dir`, as paths relative to it. */
  private def filesUnder(dir: String): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get(dir)
    java.nio.file.Files.walk(root).iterator().asScala
      .filter(java.nio.file.Files.isRegularFile(_)).map(root.relativize(_).toString).toSeq.sorted
  }

  test("a replay run twice compiles no class the second time, on a caller session with artifact isolation on") {
    // a session the engine did not build, with Spark 4.1's default: the
    // stream's clone of it must still share the executor's classloader
    val caller = spark.newSession()
    caller.conf.set("spark.sql.artifact.isolation.enabled", "true")
    val (first, _) = compiles(st9.build(caller, sfDir).collect().toSeq)
    val (second, n) = compiles(st9.build(caller, sfDir).collect().toSeq)
    assert(second == first)
    assert(n == 0, s"the second st9 replay compiled $n classes")
  }

  test("a replay forks no process") {
    st9.build(spark, sfDir).collect() // the first run builds the spool, whose parquet committer forks
    val (_, forks) = graft.Forks.counted(st9.build(spark, sfDir).collect())
    assert(forks == 0)
  }

  test("a replay's checkpoint holds no checksum sidecar and no temp file") {
    import graft.operators.StreamingOps.{drainToLocal, shufflePartitions}
    val (src, ckpt) = fileStream()
    drainToLocal(src.groupBy("event_type").count(), OutputMode.Complete(), ckpt, shufflePartitions(2))
    val files = filesUnder(ckpt)
    assert(files.exists(_.startsWith("state/")) && files.contains("commits/0"), files)
    val stray = files.filter { f =>
      val name = f.split('/').last
      (name.startsWith(".") && name.endsWith(".crc")) || name.endsWith(".tmp")
    }
    assert(stray.isEmpty, files)
  }

  test("a checkpoint written through Hadoop's checksum file system restarts under the local manager") {
    import graft.operators.StreamingOps.{drainToLocal, shufflePartitions}
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-restart")
    val src = root.resolve("src").toString
    val ckpt = root.resolve("ckpt").toString
    Seq(ev(1, 0), ev(2, 5, typ = "click")).toDF().write.parquet(src)
    val schema = spark.read.parquet(src).schema
    def counts() = spark.readStream.schema(schema).parquet(src).groupBy("event_type").count()
    val hadoopManager = "spark.sql.streaming.checkpointFileManagerClass" ->
      "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager"
    drainToLocal(counts(), OutputMode.Complete(), ckpt, shufflePartitions(2), hadoopManager)
    assert(filesUnder(ckpt).contains("commits/.0.crc"))
    // Without its commit, batch 0 runs again on restart: its state deltas
    // and its commit are rewritten over the sidecars the first run left.
    java.nio.file.Files.delete(java.nio.file.Paths.get(ckpt, "commits", "0"))
    Seq(ev(3, 12), ev(4, 20)).toDF().write.mode("append").parquet(src)
    val (q, out) = drainToLocal(counts(), OutputMode.Complete(), ckpt, shufflePartitions(2))
    assert(q.recentProgress.map(_.batchId).toSeq == Seq(0L, 1L))
    assert(out.collect().map(r => r.getString(0) -> r.getLong(1)).toSet ==
      Set("view" -> 3L, "click" -> 1L))
    // every file reads back through Hadoop's checksum verification
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    filesUnder(ckpt).filterNot(_.split('/').last.endsWith(".crc")).foreach { f =>
      val in = fs.open(new org.apache.hadoop.fs.Path(s"$ckpt/$f"))
      try in.readAllBytes() finally in.close()
    }
    graft.operators.deleteRecursively(root)
  }
}
