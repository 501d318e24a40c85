package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.types.StructType

/** Structured Streaming queries in the graded registry: each replays the
  * events table through a real `readStream` file source and must produce
  * EXACTLY the batch answer — the unified-model guarantee that makes the
  * streaming surface oracle-checkable at all (the DuckDB oracle is plain
  * batch SQL over the same rows).
  *
  * Scale posture: the file source is the production shape (a directory
  * partitioned by arrival time at 100 TB; `maxFilesPerTrigger` paces
  * ingestion), windows + watermark bound state, and `Trigger.AvailableNow`
  * is the catch-up/backfill mode — the same pipeline then runs unmodified
  * with a micro-batch trigger on live data. Reference hook: the crawler/job
  * sync-run poll loop (`gluettalax.py:220-224,266-271`) is exactly
  * "start, process all available, reach terminal state"; AvailableNow is
  * its Spark-native form.
  */
object StreamingOps {

  /** Fixed far-future sentinel timestamp (fixture events live in 2024).
    * A LITERAL, not max(ts)+1y: deriving the sentinel from max(ts) cost a
    * full scan of the input per replay BEFORE the stream even started —
    * pure fixed latency the steady-state run re-paid every time (VERDICT
    * r5 item 1). Any instant safely past the data flushes the same
    * watermark state; the sentinel's own rows are filtered from output. */
  private val farFuture = java.sql.Timestamp.valueOf("2100-01-01 00:00:00")

  /** The 5-column events projection every st* query replays. */
  private def ev5(s: SparkSession, dir: String): DataFrame =
    events(s, dir).select("event_id", "ts", "user_id", "event_type", "value")

  /** One far-future row per event_type requested (filtered from every
    * query's output via user_id = -1). */
  private def sentinels(s: SparkSession, types: String*): DataFrame =
    types.map(t => s.range(1).select(
      lit(-1L).as("event_id"), lit(farFuture).as("ts"),
      lit(-1L).as("user_id"), lit(t).as("event_type"),
      lit(0.0).as("value"))).reduce(_.union(_))

  /** Per-query conf pairs for [[drain]].
    *
    * State-store partition count follows shuffle.partitions at query
    * start; a replay's state volume doesn't need the batch-engine fan-out,
    * and each extra partition is a per-micro-batch fixed cost (store open,
    * snapshot, commit) MULTIPLIED by the operator's store count (a
    * stream-stream join keeps 4 stores per partition). Per-query choice:
    * heavy-state single-store aggs run wider, join/dedup queries narrower. */
  private[graft] def shufflePartitions(n: Int): (String, String) =
    "spark.sql.shuffle.partitions" -> n.toString

  /** `false` skips the engine's trailing empty micro-batch: that batch
    * exists only to let watermark passage evict state / emit final
    * append-mode rows, so queries whose output is complete at the last
    * DATA batch (complete-mode aggs, inner joins, pass-through dedup,
    * foreachBatch merges) drop ~0.5-0.9s of per-replay fixed cost by not
    * running it. Queries that rely on watermark-driven emission (append
    * windows/sessions, outer-join null padding, state timeouts) keep it on. */
  private[graft] def noDataBatches(on: Boolean): (String, String) =
    "spark.sql.streaming.noDataMicroBatches.enabled" -> on.toString

  /** The off-heap state backend you'd run at scale anyway; transformWithState
    * requires it. */
  private val rocksDbState =
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Checkpoint files written through [[graft.streaming.LocalCheckpointFileManager]]
    * rather than Spark's default `FileContext` manager. That manager
    * renames each offset, commit and state file (and its checksum sidecar)
    * through `FileContext`, whose local rename first reads the link status,
    * and without the native Hadoop library that read forks `readlink` per
    * file; Hadoop's local `FileSystem` in turn forks `chmod` for each file
    * and directory it creates. On a local path the manager makes, writes
    * and renames with java.nio instead. */
  private val localCheckpoints =
    "spark.sql.streaming.checkpointFileManagerClass" ->
      classOf[graft.streaming.LocalCheckpointFileManager].getName

  /** A fresh checkpoint dir on the spool medium (tmpfs when available): the
    * offset/commit/state logs fsync every micro-batch, and that fsync is
    * pure fixed cost for a same-JVM replay. */
  private def freshCkpt(tag: String): String = spoolDir(s"ckpt_${tag}_${runTag()}")

  /** The one AvailableNow drain every streaming run goes through: "start,
    * process all available input, reach a terminal state". `start` picks
    * the sink and starts the writer (`_.start()`, `_.toTable(t)`); the drain
    * pre-creates `ckpt` (so the engine's resolve-and-mkdir path finds it),
    * sets the checkpoint, the trigger, [[localCheckpoints]] and
    * [[graft.Sessions.sharedClassloader]] (so the clone of a session built
    * elsewhere does not get a classloader of its own), and awaits
    * termination, rethrowing the stream's failure.
    *
    * `conf` applies to this query only. A stream's conf is fixed inside
    * `start()` (StreamExecution clones the session there), but its sources
    * are built after `start()` returns, in the stream's thread, from the
    * session that read them: the caller's. A file source's log takes its
    * checkpoint manager from that session's conf then. So the caller's
    * values are restored once the query has built its sources (Spark's
    * initialization latch), not after the replay: set keys go back to
    * their old value, unset keys are unset again. A concurrent job on the
    * same session sees the per-query conf for that window only. */
  private[graft] def drain(df: DataFrame, ckpt: String, conf: (String, String)*)(
      start: DataStreamWriter[Row] => StreamingQuery): StreamingQuery = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(ckpt))
    val writer = df.writeStream
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
    val rc = df.sparkSession.conf
    val explicit = rc.getAll // set keys only, no defaults
    val perQuery = Seq(localCheckpoints, graft.Sessions.sharedClassloader) ++ conf
    val saved = perQuery.map { case (k, _) => k -> explicit.get(k) }
    perQuery.foreach { case (k, v) => rc.set(k, v) }
    val q = try {
      val q = start(writer)
      q.asInstanceOf[StreamingQueryWrapper].streamingQuery.awaitInitialization(Long.MaxValue)
      q
    } finally saved.foreach {
      case (k, Some(v)) => rc.set(k, v)
      case (k, None)    => rc.unset(k)
    }
    q.awaitTermination()
    q
  }

  /** [[drain]] into a memory sink. The replay is over when it returns; the
    * sink holds the (small, aggregated) result, which comes back as a
    * LocalRelation next to the finished query. The memory-sink view is
    * dropped, so runs don't accumulate cached tables. */
  private[graft] def drainToLocal(df: DataFrame, mode: OutputMode, ckpt: String,
      conf: (String, String)*): (StreamingQuery, DataFrame) = {
    val s = df.sparkSession
    val sink = s"graft_stream_sink_${runTag()}"
    try {
      val q = drain(df, ckpt, conf: _*)(
        _.format("memory").queryName(sink).outputMode(mode).start())
      val out = s.table(sink)
      (q, s.createDataFrame(java.util.Arrays.asList(out.collect(): _*), out.schema))
    } finally s.catalog.dropTempView(sink)
  }

  /** Drain `transform` over a parquet `readStream` of an existing spool and
    * return the sink contents; the spool stays for reuse (one bounded dir
    * per content-key+sf, removed with the spool root on JVM exit). */
  private def runStream(spark: SparkSession, spool: String, schema: StructType,
      transform: DataFrame => DataFrame, mode: OutputMode, ordered: Boolean,
      noDataBatch: Boolean, parts: Int, rocksDb: Boolean = false): DataFrame = {
    val reader = spark.readStream.schema(schema)
    val src = (if (ordered) reader.option("maxFilesPerTrigger", "1") else reader)
      .parquet(spool)
    val conf = Seq(shufflePartitions(parts), noDataBatches(noDataBatch)) ++
      Option.when(rocksDb)(rocksDbState)
    drainToLocal(transform(src), mode, freshCkpt("replay"), conf: _*)._2
  }

  /** Single source of truth for each shared batch-spool's content — used
    * both by the replay queries and by Bench's artifact pre-pass, so the
    * spooled bytes can never drift from what a query expects.
    *
    * The spool content for a given (content key, sf dir) is deterministic,
    * so the build-once memo writes it once per JVM as `x_spool_<key>` and
    * re-runs replay the existing files. Keys name CONTENT, not queries:
    * st1/st4/st7/st10 share one plain events spool, st2/st9 share the
    * duplicated one, st3/st8 the sentinel-flushed one — each materialized
    * once per (sf, JVM) instead of once per query (VERDICT r5 item 1). */
  private def batchSpoolContent(s: SparkSession, key: String, dir: String): DataFrame =
    key match {
      case "events5"      => ev5(s, dir)
      case "events5dup"   => { val b = ev5(s, dir); b.union(b) }
      case "events5dupsent" =>
        { val b = ev5(s, dir); b.union(b).union(sentinels(s, "sentinel")) }
      case "events5sent"  => ev5(s, dir).union(sentinels(s, "sentinel"))
      case "events5outer" => ev5(s, dir).union(sentinels(s, "purchase", "click"))
      case other          => sys.error(s"unknown batch spool key: $other")
    }

  private[graft] def writeBatchSpool(s: SparkSession, key: String, dir: String)(
      path: String): Unit =
    batchSpoolContent(s, key, dir).coalesce(4).write.mode("overwrite").parquet(path)

  private[graft] def batchSpool(s: SparkSession, key: String, dir: String): String =
    spooled(s"x_spool_$key", dir)(writeBatchSpool(s, key, dir))

  /** Replay a shared content-keyed spool (single unordered delivery);
    * the spool is built on first use per (key, sf, JVM). */
  private def replay(spark: SparkSession, key: String, dir: String,
      transform: DataFrame => DataFrame, mode: OutputMode,
      noDataBatch: Boolean = true, parts: Int = 4,
      rocksDb: Boolean = false): DataFrame =
    runStream(spark, batchSpool(spark, key, dir), ev5(spark, dir).schema,
      transform, mode, ordered = false, noDataBatch, parts, rocksDb)

  /** File-sequence content per ordered spool key — single source of truth,
    * same contract as [[batchSpoolContent]]. Each inner DataFrame becomes
    * one file = one micro-batch. Bounds scans here are one-time
    * spool-build cost (the builders run only when the spool is missing). */
  private def fileSpoolContent(s: SparkSession, key: String, dir: String): Seq[DataFrame] =
    key match {
      case "st5seq" =>
        val batch = ev5(s, dir)
        val bounds = batch.agg(min(col("ts")), max(col("ts"))).head()
        val (minTs, maxTs) = (bounds.getTimestamp(0), bounds.getTimestamp(1))
        // stale redeliveries: the oldest week, arriving after full catch-up
        val late = batch.filter(
          col("ts") < lit(new java.sql.Timestamp(minTs.getTime + 7L * 24 * 3600 * 1000)))
        // one on-time synthetic row (filtered from the output with the
        // sentinel), delivered between catch-up and the stale replay: its
        // batch lets the aggregation EVICT the closed windows first, so the
        // late rows arrive against watermark-cleaned state (Spark merges late
        // rows into still-resident state within the same batch as the
        // eviction — delivering one batch apart makes the drop observable)
        val cycle = s.range(1).select(
          lit(-2L).as("event_id"), lit(maxTs).as("ts"),
          lit(-2L).as("user_id"), lit("sentinel").as("event_type"),
          lit(0.0).as("value"))
        Seq(batch, cycle, late, sentinels(s, "sentinel"))
      case "st6seq" =>
        // 3 deliveries split by event_id — pinned micro-batch boundaries
        val batch = ev5(s, dir)
        (0 until 3).map(i => batch.filter(pmod(col("event_id"), lit(3)) === i))
      case "st24seq" =>
        // 4 deliveries split by event_id — enough batches that a ledger bug
        // (off-by-one skip, wrong key) shows as a count delta
        val batch = ev5(s, dir)
        (0 until 4).map(i => batch.filter(pmod(col("event_id"), lit(4)) === i))
      case "st12ts" =>
        // three time-ordered tranches (ntile over ts)
        val w = org.apache.spark.sql.expressions.Window.orderBy("ts", "event_id")
        val sliced = ev5(s, dir).withColumn("tranche", ntile(3).over(w))
        (1 to 3).map(i => sliced.filter(col("tranche") === i).drop("tranche"))
      case "st33a" =>
        // source A: click/view traffic in 2 deliveries
        val batch = ev5(s, dir).filter(col("event_type").isin("click", "view"))
        (0 until 2).map(i => batch.filter(pmod(col("event_id"), lit(2)) === i))
      case "st33b" =>
        // source B: everything else, on a different cadence (3 deliveries)
        val batch = ev5(s, dir).filter(!col("event_type").isin("click", "view"))
        (0 until 3).map(i => batch.filter(pmod(col("event_id"), lit(3)) === i))
      case other => sys.error(s"unknown file spool key: $other")
    }

  private[graft] def fileSpool(s: SparkSession, key: String, dir: String): String =
    spooled(s"x_spool_$key", dir) { ps =>
      val sp = java.nio.file.Paths.get(ps)
      java.nio.file.Files.createDirectories(sp)
      val t0 = java.nio.file.attribute.FileTime.fromMillis(1000000000000L)
      fileSpoolContent(s, key, dir).zipWithIndex.foreach { case (df, i) =>
        val stage = sp.resolve(s"_stage_$i")
        df.coalesce(1).write.mode("overwrite").parquet(stage.toString)
        import scala.jdk.CollectionConverters._
        val part = java.nio.file.Files.list(stage).iterator().asScala
          .find(_.getFileName.toString.endsWith(".parquet")).get
        val target = sp.resolve(f"$i%04d.parquet")
        java.nio.file.Files.move(part, target,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        deleteRecursively(stage)
        // FileStreamSource orders by modification time; pin it so delivery
        // order is the list order, never filesystem luck
        java.nio.file.Files.setLastModifiedTime(target,
          java.nio.file.attribute.FileTime.fromMillis(t0.toMillis + i * 60000L))
      }
    }

  /** Like replay(), but the input arrives as an ORDERED sequence of files —
    * one micro-batch each (`maxFilesPerTrigger=1`, modification-time order
    * pinned explicitly) — so a query can observe watermark state BETWEEN
    * deliveries. This is how late-data semantics become deterministic and
    * testable: whatever the watermark was after file N is what file N+1's
    * rows are judged against. */
  private def replayFiles(spark: SparkSession, key: String, dir: String,
      transform: DataFrame => DataFrame, mode: OutputMode,
      noDataBatch: Boolean = true, parts: Int = 4,
      rocksDb: Boolean = false): DataFrame =
    runStream(spark, fileSpool(spark, key, dir), ev5(spark, dir).schema,
      transform, mode, ordered = true, noDataBatch, parts, rocksDb)

  /** q32's tumbling-window aggregate, computed by the streaming engine:
    * identical windows, counts and DECIMAL-exact sums as the batch plan,
    * checked against the same batch oracle. */
  val st1 = GraftQuery(
    "st1_stream_tumbling",
    "Streaming replay of the tumbling 1-day window agg == batch answer (unified model)",
    (s, dir) => {
      replay(s, "events5", dir,
        src => src
          .withWatermark("ts", "1 hour")
          .groupBy(window(col("ts"), "1 day"), col("event_type"))
          .agg(count(lit(1)).as("n"),
            sum(dec2(col("value"))).cast("double").as("total_value")),
        OutputMode.Complete(), noDataBatch = false)
        .select(col("window.start").cast("timestamp_ntz").as("window_start"),
          col("event_type"), col("n"), col("total_value"))
        .orderBy("window_start", "event_type")
    },
    Some("""
      SELECT time_bucket(INTERVAL '1 day', CAST(ts AS TIMESTAMP)) AS window_start,
             event_type,
             count(*) AS n,
             CAST(sum(CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS total_value
      FROM events
      GROUP BY window_start, event_type
      ORDER BY window_start, event_type"""))

  /** At-least-once delivery repair: the source replays every event TWICE
    * (duplicated spool); stateful `dropDuplicates("event_id")` inside the
    * watermark horizon collapses redeliveries, and the per-type counts must
    * equal the batch answer on the original, uduplicated table. */
  val st2 = GraftQuery(
    "st2_stream_dedup",
    "Streaming dedup of a duplicated (at-least-once) replay == batch counts on clean input",
    (s, dir) => {
      replay(s, "events5dup", dir,
        src => src
          .withWatermark("ts", "1 hour")
          .dropDuplicates("event_id")
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"),
            sum(dec2(col("value"))).cast("double").as("total_value")),
        OutputMode.Complete(), noDataBatch = false)
        .select(col("event_type"), col("n"), col("total_value"))
        .orderBy("event_type")
    },
    Some("""
      SELECT event_type, count(*) AS n,
             CAST(sum(CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS total_value
      FROM events
      GROUP BY event_type
      ORDER BY event_type"""))

  /** Session windows in APPEND mode — the production emit semantics: a
    * session row is final (and emitted) only once the watermark passes its
    * close, so downstream consumers never see a session twice. A replayed
    * bounded source leaves the tail sessions stranded in state (the
    * watermark stops at max(ts) − delay), so the replay appends one
    * sentinel "punctuation" event far past the data (the flush trick used
    * with bounded reprocessing); the sentinel's own session is filtered
    * from the output. Result must equal the batch session windows of q34's
    * oracle exactly. */
  val st3 = GraftQuery(
    "st3_stream_sessions",
    "Append-mode session windows over a replay (sentinel-flushed watermark) == batch sessions",
    (s, dir) => {
      replay(s, "events5sent", dir,
        src => src
          .withWatermark("ts", "30 minutes")
          .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
          .agg(count(lit(1)).as("n_events"),
            sum(dec2(col("value"))).cast("double").as("session_value")),
        OutputMode.Append())
        .filter(col("user_id") =!= -1L)
        .select(col("session_window.start").cast("timestamp_ntz").as("session_start"),
          col("user_id"), col("n_events"), col("session_value"))
        .orderBy("user_id", "session_start")
    },
    Some("""
      WITH o AS (
        SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value,
               CASE WHEN lag(CAST(ts AS TIMESTAMP)) OVER w IS NULL THEN 1
                    WHEN CAST(ts AS TIMESTAMP) - lag(CAST(ts AS TIMESTAMP)) OVER w
                         >= INTERVAL '30 minutes' THEN 1
                    ELSE 0 END AS brk
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      g AS (
        SELECT user_id, ts, value,
               sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS UNBOUNDED PRECEDING) AS grp
        FROM o)
      SELECT min(ts) AS session_start, user_id,
             count(*) AS n_events,
             CAST(sum(CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS session_value
      FROM g
      GROUP BY user_id, grp
      ORDER BY user_id, session_start"""))

  /** Stream-static enrichment: the replayed event stream joins a static
    * dimension (customer) that is broadcast per micro-batch — no state, no
    * shuffle of the stream side; the 100 TB pattern for attaching slowly-
    * changing dimensions to a firehose. Left join keeps events without a
    * matching customer (segment null-bucketed as '-'), mirroring the
    * reference's nested-default projection (gluettalax.py:678). */
  val st4 = GraftQuery(
    "st4_stream_static_join",
    "Streaming replay x broadcast static dim (left join) -> per-segment counts == batch",
    (s, dir) => {
      val customer = table(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"))
      replay(s, "events5", dir,
        src => src
          .join(broadcast(customer), src("user_id") === customer("c_custkey"), "left_outer")
          .select(coalesce(col("c_mktsegment"), lit("-")).as("segment"),
            col("value"))
          .groupBy("segment")
          .agg(count(lit(1)).as("n"),
            sum(dec2(col("value"))).cast("double").as("total_value")),
        OutputMode.Complete(), noDataBatch = false)
        .orderBy("segment")
    },
    Some("""
      SELECT COALESCE(c_mktsegment, '-') AS segment, count(*) AS n,
             CAST(sum(CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS total_value
      FROM events LEFT JOIN customer ON user_id = c_custkey
      GROUP BY segment
      ORDER BY segment"""))

  /** Watermark LATE-DATA DROP, made deterministic: delivery 1 is the whole
    * events table (the stream catches up to max(ts), watermark advances to
    * max(ts) − 30 min); delivery 2 re-sends copies of the oldest week's
    * events — every one of them now lands in a day-window that closed long
    * ago, so the state store must drop them all; delivery 3 is a far-future
    * sentinel that flushes the append-mode windows. The result must equal
    * the batch aggregate over the ORIGINAL rows only — if even one stale
    * redelivery leaks into a closed window, a count inflates and the hash
    * breaks. This is the semantics that bounds state at 100 TB: without the
    * drop, every window stays resident forever. */
  val st5 = GraftQuery(
    "st5_stream_late_data",
    "Late-data drop: stale redeliveries after watermark advance are excluded from closed windows",
    (s, dir) => {
      // delivery sequence lives in fileSpoolContent("st5seq") — built once
      // per (sf, JVM); a steady-state replay pays for the stream alone
      replayFiles(s, "st5seq", dir,
        src => src
          .withWatermark("ts", "30 minutes")
          .groupBy(window(col("ts"), "1 day"), col("event_type"))
          .agg(count(lit(1)).as("n"),
            sum(dec2(col("value"))).cast("double").as("total_value")),
        OutputMode.Append())
        .filter(col("event_type") =!= "sentinel")
        .select(col("window.start").cast("timestamp_ntz").as("window_start"),
          col("event_type"), col("n"), col("total_value"))
        .orderBy("window_start", "event_type")
    },
    Some("""
      SELECT time_bucket(INTERVAL '1 day', CAST(ts AS TIMESTAMP)) AS window_start,
             event_type,
             count(*) AS n,
             CAST(sum(CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS total_value
      FROM events
      GROUP BY window_start, event_type
      ORDER BY window_start, event_type"""))

  /** foreachBatch incremental upsert — the production sink seam when the
    * target isn't a streaming-native sink (JDBC, a lake table, an index):
    * each micro-batch's partial aggregate is MERGEd into the running
    * target (full-outer join + coalesced sums, the q58 merge shape), so the
    * target stays correct after every batch. Batch boundaries are pinned
    * (3 ordered deliveries split by event_id), and the final target must
    * equal the one-shot batch aggregate — the exactly-once contract that
    * makes restarts safe. localCheckpoint per merge keeps the iterative
    * target's lineage constant, same pattern as d6's contraction loop. */
  val st6 = GraftQuery(
    "st6_stream_foreachbatch_upsert",
    "foreachBatch MERGE-upsert per micro-batch; final target == one-shot batch aggregate",
    (s, dir) => {
      val batch = ev5(s, dir)
      val spoolStr = fileSpool(s, "st6seq", dir)
      val src = s.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", "1").parquet(spoolStr)
      // running target, merged under the driver's lock per micro-batch
      var target: DataFrame = s.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](),
        org.apache.spark.sql.types.StructType.fromDDL(
          "event_type STRING, n BIGINT, total_value DECIMAL(24,2)"))
      // the merge target is final after the last DATA batch; an empty
      // trailing batch would only re-run the foreachBatch merge on an
      // empty delta
      drain(src, freshCkpt("st6"), shufflePartitions(8), noDataBatches(false))(
        _.foreachBatch { (b: DataFrame, _: Long) =>
          val delta = b.groupBy("event_type")
            .agg(count(lit(1)).as("n"),
              sum(dec2(col("value"))).cast("decimal(24,2)").as("total_value"))
          target = target.as("t")
            .join(delta.as("d"), Seq("event_type"), "full_outer")
            .select(col("event_type"),
              (coalesce(col("t.n"), lit(0L)) + coalesce(col("d.n"), lit(0L))).as("n"),
              (coalesce(col("t.total_value"), lit(BigDecimal(0)).cast("decimal(24,2)"))
                + coalesce(col("d.total_value"), lit(BigDecimal(0)).cast("decimal(24,2)")))
                .cast("decimal(24,2)").as("total_value"))
            .localCheckpoint(true)
          ()
        }.start())
      target
        .select(col("event_type"), col("n"),
          col("total_value").cast("double").as("total_value"))
        .orderBy("event_type")
    },
    Some("""
      SELECT event_type, count(*) AS n,
             CAST(sum(CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS total_value
      FROM events
      GROUP BY event_type
      ORDER BY event_type"""))

  /** Stream-stream INNER JOIN (attribution): purchases matched to the same
    * user's clicks in the preceding hour, both sides watermarked, the join
    * condition time-bounded — exactly what lets Spark expire join state
    * (a side's row can be dropped once the watermark passes its last
    * possible match). Without the time bound, stream-stream join state
    * grows forever — THE 100 TB streaming failure mode. Inner-join matches
    * emit as both sides arrive, so a bounded replay needs no sentinel
    * flush; the result must equal the batch self-join exactly. */
  val st7 = GraftQuery(
    "st7_stream_stream_join",
    "Watermarked stream-stream interval join (click->purchase attribution) == batch self-join",
    (s, dir) => {
      replay(s, "events5", dir,
        src => {
          val p = src.filter(col("event_type") === "purchase")
            .select(col("user_id"), col("ts").as("p_ts"), col("event_id").as("p_id"),
              col("value").as("amount"))
            .withWatermark("p_ts", "1 hour")
          val c = src.filter(col("event_type") === "click")
            .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
              col("event_id").as("c_id"))
            .withWatermark("c_ts", "1 hour")
          p.join(c,
            col("user_id") === col("c_user") &&
              col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
              col("c_ts") < col("p_ts"))
        },
        // inner matches emit as both sides arrive — the trailing empty
        // batch would only evict state, not change output. parts = 2: a
        // stream-stream join keeps 4 state stores PER PARTITION and each
        // store's open/snapshot/commit is per-batch fixed cost; the replay's
        // state volume doesn't need the fan-out (measured ~0.25s/query win)
        OutputMode.Append(), noDataBatch = false, parts = 2)
        .select(col("p_id"), col("c_id"), col("user_id"),
          col("p_ts").cast("timestamp_ntz").as("p_ts"),
          round(dec2(col("amount")).cast("double"), 2).as("amount"))
        .orderBy("p_id", "c_id")
    },
    Some("""
      SELECT p.event_id AS p_id, c.event_id AS c_id, p.user_id,
             CAST(p.ts AS TIMESTAMP) AS p_ts,
             round(CAST(CAST(p.value AS DECIMAL(14,2)) AS DOUBLE), 2) AS amount
      FROM events p JOIN events c
        ON p.user_id = c.user_id
       AND p.event_type = 'purchase' AND c.event_type = 'click'
       AND CAST(c.ts AS TIMESTAMP) >= CAST(p.ts AS TIMESTAMP) - INTERVAL '1 hour'
       AND CAST(c.ts AS TIMESTAMP) < CAST(p.ts AS TIMESTAMP)
      ORDER BY p_id, c_id"""))

  /** Input row / state / output types for st8's custom-state sessionizer.
    * State is one OPEN session per user (bounded!), not the event history —
    * the discipline that keeps mapGroupsWithState state O(groups) at 100 TB. */
  case class StEvent(user_id: Long, ts: java.sql.Timestamp, event_id: Long, event_type: String, cents: Long)
  case class StSession(startMs: Long, lastMs: Long, n: Long, cents: Long,
      firstType: String, lastType: String)
  case class StOut(user_id: Long, session_start_ms: Long, n_events: Long,
      first_type: String, last_type: String, session_cents: Long)

  /** Custom per-key state machine via flatMapGroupsWithState — the seam for
    * session semantics the built-in session_window cannot express (here:
    * per-session FIRST and LAST event type ride along with the aggregate).
    * Completed sessions emit as soon as the gap closes them inside a batch;
    * the tail session per user stays in state under an event-time timeout
    * and is flushed when the watermark passes its close (sentinel-driven in
    * the bounded replay, exactly like st3). Oracle: the same gap-split
    * sessionization in window SQL. */
  val st8 = GraftQuery(
    "st8_stream_custom_state",
    "flatMapGroupsWithState sessionizer (30-min gaps) with first/last-type per session == batch",
    (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
      val gapUs = 30L * 60 * 1000 * 1000
      // full microsecond precision: getTime() is millis-only, the sub-ms
      // micros live in getNanos (DuckDB sessionizes at micros precision)
      def us(t: java.sql.Timestamp): Long = t.getTime * 1000 + (t.getNanos / 1000) % 1000
      def sessionize(user: Long, input: Iterator[StEvent],
          state: GroupState[StSession]): Iterator[StOut] = {
        def out(ss: StSession) =
          StOut(user, ss.startMs, ss.n, ss.firstType, ss.lastType, ss.cents)
        if (state.hasTimedOut) {
          // watermark passed the open session's close: final emit
          val done = state.get
          state.remove()
          Iterator.single(out(done))
        } else {
          // within a batch events arrive unsorted; order them (ts, event_id)
          // before folding — state carries only the open session across
          // batches, never the events
          val evs = input.toSeq.sortBy(e => (us(e.ts), e.event_id))
          var open = state.getOption
          val completed = scala.collection.mutable.ArrayBuffer.empty[StOut]
          evs.foreach { e =>
            val t = us(e.ts)
            open match {
              case Some(ss) if t - ss.lastMs < gapUs =>
                open = Some(ss.copy(lastMs = t, n = ss.n + 1,
                  cents = ss.cents + e.cents, lastType = e.event_type))
              case Some(ss) =>
                completed += out(ss)
                open = Some(StSession(t, t, 1, e.cents, e.event_type, e.event_type))
              case None =>
                open = Some(StSession(t, t, 1, e.cents, e.event_type, e.event_type))
            }
          }
          open.foreach { ss =>
            state.update(ss)
            state.setTimeoutTimestamp(ss.lastMs / 1000 + gapUs / 1000)
          }
          completed.iterator
        }
      }
      replay(s, "events5sent", dir,
        src => src
          .select(col("user_id"), col("ts"), col("event_id"), col("event_type"),
            (dec2(col("value")) * 100).cast("long").as("cents"))
          .as[(Long, java.sql.Timestamp, Long, String, Long)]
          .map(r => StEvent(r._1, r._2, r._3, r._4, r._5))
          // watermark AFTER the typed map: the event-time column must
          // survive to the stateful operator for event-time timeouts
          .withWatermark("ts", "30 minutes")
          .groupByKey(_.user_id)
          .flatMapGroupsWithState(
            org.apache.spark.sql.streaming.OutputMode.Append(),
            GroupStateTimeout.EventTimeTimeout())(sessionize)
          .toDF(),
        OutputMode.Append())
        .filter(col("user_id") =!= -1L)
        .select(col("user_id"),
          timestamp_micros(col("session_start_ms")).cast("timestamp_ntz").as("session_start"),
          col("n_events"), col("first_type"), col("last_type"),
          (col("session_cents").cast("double") / 100).as("session_value"))
        .orderBy("user_id", "session_start")
    },
    Some("""
      WITH o AS (
        SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, event_type, value,
               CASE WHEN lag(CAST(ts AS TIMESTAMP)) OVER w IS NULL THEN 1
                    WHEN CAST(ts AS TIMESTAMP) - lag(CAST(ts AS TIMESTAMP)) OVER w
                         >= INTERVAL '30 minutes' THEN 1
                    ELSE 0 END AS brk
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      g AS (
        SELECT user_id, ts, event_id, event_type, value,
               sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS grp
        FROM o),
      fl AS (
        SELECT user_id, grp, ts, event_type,
               first_value(event_type) OVER (PARTITION BY user_id, grp
                 ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING
                 AND UNBOUNDED FOLLOWING) AS first_type,
               last_value(event_type) OVER (PARTITION BY user_id, grp
                 ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING
                 AND UNBOUNDED FOLLOWING) AS last_type,
               value
        FROM g)
      SELECT user_id, min(ts) AS session_start, count(*) AS n_events,
             any_value(first_type) AS first_type, any_value(last_type) AS last_type,
             CAST(sum(CAST(CAST(value AS DECIMAL(14,2)) * 100 AS BIGINT)) AS DOUBLE) / 100
               AS session_value
      FROM fl
      GROUP BY user_id, grp
      ORDER BY user_id, session_start"""))

  /** dropDuplicatesWithinWatermark — st2's API sibling with the state
    * bound that matters at 100 TB: plain dropDuplicates keeps every key
    * seen FOREVER (state grows with the corpus), while the WithinWatermark
    * variant expires a key once the watermark passes its event time — so
    * state is bounded by the lateness horizon, the correct contract when
    * redeliveries arrive within a bounded delay. The replay duplicates
    * every event (at-least-once) and the deduped stream must reproduce the
    * clean batch counts; the aggregation runs on the materialized sink
    * output, keeping the stream single-stateful-operator. */
  val st9 = GraftQuery(
    "st9_stream_dedup_ttl",
    "dropDuplicatesWithinWatermark: at-least-once replay deduped with watermark-bounded state",
    (s, dir) => {
      replay(s, "events5dup", dir,
        src => src
          .withWatermark("ts", "1 hour")
          .dropDuplicatesWithinWatermark("event_id"),
        // dedup passes survivors through as they arrive; the watermark
        // only EXPIRES state, so the trailing empty batch adds no rows
        OutputMode.Append(), noDataBatch = false)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(dec2(col("value"))).cast("double").as("total_value"))
        .orderBy("event_type")
    },
    Some("""
      SELECT event_type, count(*) AS n,
             CAST(sum(CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS total_value
      FROM events
      GROUP BY event_type
      ORDER BY event_type"""))

  /** Stream-stream LEFT OUTER interval join — st7's attribution shape with
    * the semantics that actually exercises watermark-driven state expiry:
    * a purchase with NO click in the preceding hour must still emit, null-
    * padded, and may do so only once the watermark proves no matching
    * click can still arrive (otherwise the row might need retraction).
    * This is the 100 TB attribution reality — most purchases have no
    * qualifying click — and the state contract is the same as st7's: the
    * time-bounded condition lets both sides' join state expire.
    *
    * The replay carries a far-future sentinel on BOTH sides (filtered from
    * output): after the data batch commits, the sentinel-raised watermark
    * proves every unmatched purchase unmatchable, and the trailing no-data
    * batch (kept ON here — it is the emission vehicle) releases the
    * null-padded rows. Inner matches emit with the data batch itself.
    * Result must equal the batch LEFT JOIN exactly. */
  val st10 = GraftQuery(
    "st10_stream_outer_join",
    "Watermarked stream-stream LEFT OUTER interval join: null-padded rows emitted on watermark passage == batch left join",
    (s, dir) => {
      replay(s, "events5outer", dir,
        src => {
          val p = src.filter(col("event_type") === "purchase")
            .select(col("user_id"), col("ts").as("p_ts"), col("event_id").as("p_id"),
              col("value").as("amount"))
            .withWatermark("p_ts", "1 hour")
          val c = src.filter(col("event_type") === "click")
            .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
              col("event_id").as("c_id"))
            .withWatermark("c_ts", "1 hour")
          p.join(c,
            col("user_id") === col("c_user") &&
              col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
              col("c_ts") < col("p_ts"),
            "left_outer")
        },
        // parts = 2: same 4-stores-per-partition fixed-cost argument as st7,
        // ×3 micro-batches here (data → watermark raise → null-padded emit)
        OutputMode.Append(), parts = 2)
        .filter(col("user_id") =!= -1L)
        .select(col("p_id"), col("c_id"), col("user_id"),
          col("p_ts").cast("timestamp_ntz").as("p_ts"),
          round(dec2(col("amount")).cast("double"), 2).as("amount"))
        .orderBy("p_id", "c_id")
    },
    Some("""
      SELECT p.event_id AS p_id, c.event_id AS c_id, p.user_id,
             CAST(p.ts AS TIMESTAMP) AS p_ts,
             round(CAST(CAST(p.value AS DECIMAL(14,2)) AS DOUBLE), 2) AS amount
      FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
        ON p.user_id = c.user_id
       AND CAST(c.ts AS TIMESTAMP) >= CAST(p.ts AS TIMESTAMP) - INTERVAL '1 hour'
       AND CAST(c.ts AS TIMESTAMP) < CAST(p.ts AS TIMESTAMP)
      ORDER BY p_id, c_id NULLS FIRST"""))

  /** Checkpoint-restart recovery — the fault-tolerance contract every
    * other st* query takes on faith: a query stops mid-input (here after
    * the first delivery tranche), a NEW query instance starts against the
    * SAME checkpoint, and the final aggregate must equal the batch answer
    * over ALL input — proving offsets and state-store contents survive the
    * restart and no tranche is skipped or double-counted. This is the
    * semantics that lets a 100 TB backfill crash at hour 40 and resume at
    * hour 40 instead of hour 0, and it is what distinguishes checkpointed
    * streaming from "re-run the batch job".
    *
    * Mechanics: the spool is built in two tranches (even event_ids, then
    * odd); run 1 sees only tranche 1 (AvailableNow snapshots the file
    * list at start), run 2 starts from run 1's checkpoint, picks up
    * tranche 2, and its complete-mode sink re-emits the FULL recovered
    * aggregate. Intentionally NOT memo-shared: the two-phase spool
    * and fresh checkpoint per run ARE the scenario (one bounded spool per
    * run id, removed with the spool root on JVM exit). */
  val st11 = GraftQuery(
    "st11_stream_restart",
    "Stop/restart from checkpoint across two delivery tranches: recovered state == batch agg",
    (s, dir) => {
      val batch = ev5(s, dir)
      val id = runTag()
      val spool = spoolDir(s"restart_spool_$id")
      val ckpt = spoolDir(s"restart_ckpt_$id")
      def runTranche(tranche: DataFrame): (Long, DataFrame) = {
        tranche.coalesce(2).write.mode("append").parquet(spool)
        val (q, out) = drainToLocal(
          s.readStream.schema(batch.schema).parquet(spool)
            .withWatermark("ts", "1 hour")
            .groupBy(col("event_type"))
            .agg(count(lit(1)).as("n"),
              sum(dec2(col("value"))).cast("double").as("total_value")),
          OutputMode.Complete(), ckpt, shufflePartitions(4))
        (q.recentProgress.map(_.numInputRows).sum, out)
      }
      val (n1, mid) = runTranche(batch.filter(col("event_id") % 2 === 0))
      val (n2, out) = runTranche(batch.filter(col("event_id") % 2 === 1))
      // guards that the scenario really ran: run 1 left recoverable
      // state, and run 2 ingested ONLY its own tranche (the even/odd
      // split is ~50/50, so reprocessing tranche 1 too would show
      // n2 ≈ 2×n1). A correct-but-restarted-from-scratch run would match
      // the oracle — these asserts are what pin actual recovery.
      require(!mid.isEmpty && n1 > 0,
        "st11: first tranche produced no state to recover")
      require(n2 > 0 && n2 < n1 * 3 / 2,
        s"st11: run 2 read $n2 rows vs run 1's $n1 — checkpoint offsets were not honored")
      out.select(col("event_type"), col("n"), col("total_value"))
        .orderBy("event_type")
    },
    Some("""
      SELECT event_type, count(*) AS n,
             CAST(sum(CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS total_value
      FROM events
      GROUP BY event_type
      ORDER BY event_type"""))

  /** UPDATE output mode — the third emission contract (complete: st1/st2;
    * append: st3/st5/st10): each micro-batch emits ONLY the keys whose
    * aggregate changed, which is what a downstream keyed store (Redis, a
    * serving index) actually wants — re-emitting every key per batch
    * (complete) doesn't scale past a small key space, and append can't
    * revise. The replay delivers three TIME-ORDERED tranches, so early
    * windows stop updating after their tranche passes; the runtime guard
    * pins the contract itself: total emissions must be strictly fewer than
    * batches × keys (complete-mode behavior would emit exactly that).
    * Final state = latest emission per key, and must equal the batch
    * tumbling aggregate — same oracle as st1. */
  val st12 = GraftQuery(
    "st12_stream_update_mode",
    "Update-mode windowed agg: only changed keys re-emit per batch; latest-per-key == batch agg",
    (s, dir) => {
      val batch = ev5(s, dir)
      val spoolStr = fileSpool(s, "st12ts", dir)
      val src = s.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", "1").parquet(spoolStr)
      val emissions = scala.collection.mutable.ListBuffer
        .empty[(Long, org.apache.spark.sql.Row)]
      var nBatches = 0L
      val agg = src
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "1 day"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(dec2(col("value"))).cast("double").as("total_value"))
      // update mode needs no trailing empty batch: changed keys emit with
      // their data batch; the watermark only bounds state
      drain(agg, freshCkpt("st12"), shufflePartitions(4), noDataBatches(false))(
        _.outputMode(OutputMode.Update())
          .foreachBatch { (b: DataFrame, id: Long) =>
            val rows = b.select(col("window.start").cast("timestamp_ntz"),
              col("event_type"), col("n"), col("total_value")).collect()
            emissions.synchronized {
              emissions ++= rows.map(r => (id, r)); nBatches += 1
            }
            ()
          }.start())
      // latest emission per key is the final aggregate value. Read under
      // the same lock the microbatch thread wrote under: awaitTermination
      // alone guarantees no documented happens-before edge for these
      // driver-side mutables (ADVICE r6).
      val (latest, nKeys, emitted, batches) = emissions.synchronized {
        val l = emissions.groupBy(e => (e._2.get(0), e._2.getString(1)))
          .map { case (_, es) => es.maxBy(_._1)._2 }.toSeq
        (l, l.size.toLong, emissions.size, nBatches)
      }
      // the update-mode contract: strictly fewer emissions than a
      // complete-mode replay (batches × keys) would produce, i.e. early
      // windows STOPPED re-emitting once their tranche passed
      require(batches >= 2 && emitted < batches * nKeys,
        s"st12: $emitted emissions over $batches batches × $nKeys keys — not incremental")
      import scala.jdk.CollectionConverters._
      s.createDataFrame(latest.asJava,
        org.apache.spark.sql.types.StructType.fromDDL(
          "window_start TIMESTAMP_NTZ, event_type STRING, n BIGINT, total_value DOUBLE"))
        .orderBy("window_start", "event_type")
    },
    Some("""
      SELECT time_bucket(INTERVAL '1 day', CAST(ts AS TIMESTAMP)) AS window_start,
             event_type,
             count(*) AS n,
             CAST(sum(CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS total_value
      FROM events
      GROUP BY window_start, event_type
      ORDER BY window_start, event_type"""))

  case class StTally(n: Long, cents: Long, lastUs: Long)
  case class StTallyOut(user_id: Long, n_events: Long, total_cents: Long,
      last_us: Long)

  /** transformWithState (Spark 4's arbitrary-state API, successor to
    * flatMapGroupsWithState) — the inactivity-flush shape: per-user
    * running tally held in a typed `ValueState`, emitted ONCE per user by
    * an EVENT-TIME TIMER that fires when the watermark proves the user
    * quiesced (abandoned-cart / end-of-session notification semantics).
    * What the new API adds over st8's GroupState: named state variables
    * with per-variable encoders/TTL, explicit timer registration (many per
    * key, deleted and re-armed as activity continues), and the RocksDB
    * state store it requires — O(groups) state off-heap, the 100 TB state
    * backend. The sentinel raises the final watermark so every timer
    * fires; result == the batch per-user aggregate, oracle-checked. */
  val st13 = GraftQuery(
    "st13_transform_with_state",
    "transformWithState + event-time timers (RocksDB): inactivity-flushed per-user tallies == batch agg",
    (s, dir) => {
      import org.apache.spark.sql.streaming.{StatefulProcessor, TimeMode, TimerValues, ExpiredTimerInfo, TTLConfig}
      import org.apache.spark.sql.Encoders
      val gapMs = 30L * 60 * 1000
      class TallyProcessor extends StatefulProcessor[Long, StEvent, StTallyOut] {
        @transient private var tally: org.apache.spark.sql.streaming.ValueState[StTally] = _
        override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
          tally = getHandle.getValueState[StTally]("tally",
            Encoders.product[StTally], TTLConfig.NONE)
        override def handleInputRows(key: Long, rows: Iterator[StEvent],
            timers: TimerValues): Iterator[StTallyOut] = {
          var t = if (tally.exists()) tally.get() else StTally(0L, 0L, 0L)
          rows.foreach { e =>
            // epoch MICROS (getTime is millis; the fixture ts has micros)
            val us = e.ts.getTime * 1000 + (e.ts.getNanos / 1000) % 1000
            t = StTally(t.n + 1, t.cents + e.cents, math.max(t.lastUs, us))
          }
          tally.update(t)
          // re-arm the single quiesce timer at last-activity + gap
          getHandle.listTimers().foreach(getHandle.deleteTimer)
          getHandle.registerTimer(t.lastUs / 1000 + gapMs)
          Iterator.empty
        }
        override def handleExpiredTimer(key: Long, timers: TimerValues,
            expired: ExpiredTimerInfo): Iterator[StTallyOut] = {
          val t = tally.get()
          tally.clear()
          Iterator.single(StTallyOut(key, t.n, t.cents, t.lastUs))
        }
      }
      replay(s, "events5sent", dir,
        src => {
          import s.implicits._
          src
            .select(col("user_id"), col("ts"), col("event_id"), col("event_type"),
              (dec2(col("value")) * 100).cast("long").as("cents"))
            .as[(Long, java.sql.Timestamp, Long, String, Long)]
            .map(r => StEvent(r._1, r._2, r._3, r._4, r._5))
            .withWatermark("ts", "30 minutes")
            .groupByKey(_.user_id)
            .transformWithState(new TallyProcessor,
              TimeMode.EventTime(), OutputMode.Append(),
              Encoders.product[StTallyOut])
            .toDF()
        },
        OutputMode.Append(), rocksDb = true)
        .filter(col("user_id") =!= -1L)
        .select(col("user_id"), col("n_events"),
          (col("total_cents").cast("double") / 100).as("total_value"),
          timestamp_micros(col("last_us")).cast("timestamp_ntz").as("last_ts"))
        .orderBy("user_id")
    },
    Some("""
      SELECT user_id, count(*) AS n_events,
             CAST(sum(CAST(CAST(value AS DECIMAL(14,2)) * 100 AS BIGINT)) AS DOUBLE)
               / 100 AS total_value,
             max(CAST(ts AS TIMESTAMP)) AS last_ts
      FROM events
      GROUP BY user_id
      ORDER BY user_id"""))

  case class St15Log(us: Long, event_id: Long, cents: Long)
  case class St15Out(user_id: Long, n_events: Long, n_types: Long,
      total_cents: Long, top3_cents: Long, last_us: Long)

  /** The rest of the arbitrary-state surface st13 opened: ListState,
    * MapState and TTLConfig on the same transformWithState + RocksDB
    * runtime — the feature-store shape a real pipeline keeps per key
    * (a feature MAP keyed by event_type, an append-only event LOG, both
    * TTL'd). State TTL is processing-time-based and requires
    * TimeMode.ProcessingTime (the engine rejects TTL under EventTime —
    * st13 keeps the event-time-timer half of the surface), so instead of
    * a timer flush each batch emits a SNAPSHOT of the key's full state;
    * n_events strictly grows per key, so the final state is the max-
    * n_events row per user — selected by a window, arrival-order-free.
    * The replay is st12's time-ordered tranche spool (3 micro-batches),
    * so every user's map/log provably persists across batches.
    *
    * Both states stay BOUNDED per key — the MapState at one entry per
    * event type (batch-local pre-aggregation, one read-modify-write per
    * type per batch), the ListState at 3 entries (running top-3 by value,
    * maintained read-merge-put; top-3 of stored∪batch tops is the global
    * top-3 since batches partition the input) — the state discipline that
    * survives 100 TB, vs an append-only log re-read per batch.
    *
    * TTL is exercised in BOTH directions, guarded by accumulators:
    * the 1-hour TTL on the map/log must never expire mid-replay (revisits
    * counter: keys that find their map alive in a later batch), while a
    * 1-millisecond TTL ValueState written every batch must ALWAYS be
    * expired by the time the key returns (any survival fails the run). */
  val st15 = GraftQuery(
    "st15_state_variables",
    "transformWithState ListState+MapState+TTL (RocksDB): bounded per-user feature map & top-k log == batch agg",
    (s, dir) => {
      import org.apache.spark.sql.streaming.{StatefulProcessor, TimeMode, TimerValues, TTLConfig}
      import org.apache.spark.sql.Encoders
      val revisits = s.sparkContext.longAccumulator("st15_ttl_live_revisits")
      val flashHits = s.sparkContext.longAccumulator("st15_ttl_expired_hits")
      class FeatureProcessor extends StatefulProcessor[Long, StEvent, St15Out] {
        @transient private var perType: org.apache.spark.sql.streaming.MapState[String, StTally] = _
        @transient private var log: org.apache.spark.sql.streaming.ListState[St15Log] = _
        @transient private var flash: org.apache.spark.sql.streaming.ValueState[Long] = _
        override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
          // 1h processing-time TTL — far beyond the replay: the feature
          // map and log MUST survive every micro-batch or output breaks
          perType = getHandle.getMapState[String, StTally]("perType",
            Encoders.STRING, Encoders.product[StTally],
            TTLConfig(java.time.Duration.ofHours(1)))
          log = getHandle.getListState[St15Log]("log",
            Encoders.product[St15Log], TTLConfig(java.time.Duration.ofHours(1)))
          // 1ms TTL — stale long before the key's next micro-batch
          flash = getHandle.getValueState[Long]("flash",
            Encoders.scalaLong, TTLConfig(java.time.Duration.ofMillis(1)))
        }
        override def handleInputRows(key: Long, rows: Iterator[StEvent],
            timers: TimerValues): Iterator[St15Out] = {
          if (perType.exists()) revisits.add(1) // long-TTL state carried over
          if (flash.exists()) flashHits.add(1)  // 1ms TTL failed to expire
          // aggregate the batch LOCALLY first: state-store traffic is one
          // read-modify-write per (key, event_type), never per row
          val local = scala.collection.mutable.HashMap.empty[String, StTally]
          val batchTop = scala.collection.mutable.ArrayBuffer.empty[St15Log]
          rows.foreach { e =>
            val us = e.ts.getTime * 1000 + (e.ts.getNanos / 1000) % 1000
            val cur = local.getOrElse(e.event_type, StTally(0L, 0L, 0L))
            local(e.event_type) =
              StTally(cur.n + 1, cur.cents + e.cents, math.max(cur.lastUs, us))
            batchTop += St15Log(us, e.event_id, e.cents)
          }
          local.foreach { case (t, b) =>
            val cur = if (perType.containsKey(t)) perType.getValue(t)
                      else StTally(0L, 0L, 0L)
            perType.updateValue(t,
              StTally(cur.n + b.n, cur.cents + b.cents, math.max(cur.lastUs, b.lastUs)))
          }
          // BOUNDED top-k log via read-merge-put: top-3 of (stored top-3 ∪
          // batch top-3) IS the global top-3 (batches partition the input).
          // An append-only log re-read per batch is the unbounded-state
          // anti-pattern this surface exists to avoid at 100 TB.
          val merged = (log.get().toSeq ++
              batchTop.sortBy(l => (-l.cents, l.event_id)).take(3))
            .sortBy(l => (-l.cents, l.event_id)).take(3)
          log.put(merged.toArray)
          flash.update(1L)
          // snapshot of the key's bounded state; n_events strictly grows,
          // so the final state is the max-n_events snapshot per key, and
          // nothing here depends on within-batch arrival order
          val types = perType.iterator().toSeq
          Iterator.single(St15Out(key,
            types.map(_._2.n).sum, types.size.toLong,
            types.map(_._2.cents).sum, merged.map(_.cents).sum,
            types.map(_._2.lastUs).foldLeft(0L)(math.max)))
        }
      }
      val snaps = replayFiles(s, "st12ts", dir,
        src => {
          import s.implicits._
          src
            // cohort bound, pushed to the spool scan: this op grades the
            // per-key state machinery; throughput is st1-st3's business
            .filter(col("user_id") < 50)
            .select(col("user_id"), col("ts"), col("event_id"), col("event_type"),
              (dec2(col("value")) * 100).cast("long").as("cents"))
            .as[(Long, java.sql.Timestamp, Long, String, Long)]
            .map(r => StEvent(r._1, r._2, r._3, r._4, r._5))
            .groupByKey(_.user_id)
            .transformWithState(new FeatureProcessor,
              TimeMode.ProcessingTime(), OutputMode.Append(),
              Encoders.product[St15Out])
            .toDF()
        },
        OutputMode.Append(), noDataBatch = false, parts = 2, rocksDb = true)
      // final state per user = the snapshot with the highest n_events
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(desc("n_events"))
      val out = snaps.withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
        .select(col("user_id"), col("n_events"), col("n_types"),
          (col("total_cents").cast("double") / 100).as("total_value"),
          (col("top3_cents").cast("double") / 100).as("top3_value"),
          timestamp_micros(col("last_us")).cast("timestamp_ntz").as("last_ts"))
        .orderBy("user_id")
      // TTL contract, both directions (replay-time guards)
      require(revisits.value > 0,
        "st15: no key found its 1h-TTL state alive in a later batch — state did not carry")
      require(flashHits.value == 0,
        s"st15: 1ms-TTL state survived ${flashHits.value} revisit(s) — TTL expiry not enforced")
      out
    },
    Some("""
      WITH e AS (SELECT user_id, event_id, event_type,
                        CAST(CAST(value AS DECIMAL(14,2)) * 100 AS BIGINT) AS cents,
                        CAST(ts AS TIMESTAMP) AS ts
                 FROM events WHERE user_id < 50),
      agg AS (SELECT user_id, count(*) AS n_events,
                     count(DISTINCT event_type) AS n_types,
                     sum(cents) AS total_cents, max(ts) AS last_ts
              FROM e GROUP BY user_id),
      ranked AS (SELECT user_id, cents,
                        row_number() OVER (PARTITION BY user_id
                          ORDER BY cents DESC, event_id) AS rk
                 FROM e),
      top3 AS (SELECT user_id, sum(cents) AS top3_cents
               FROM ranked WHERE rk <= 3 GROUP BY user_id)
      SELECT a.user_id, a.n_events, a.n_types,
             CAST(a.total_cents AS DOUBLE) / 100 AS total_value,
             CAST(t.top3_cents AS DOUBLE) / 100 AS top3_value,
             a.last_ts
      FROM agg a JOIN top3 t USING (user_id)
      ORDER BY a.user_id"""))

  /** Sliding-window streaming aggregate — completes the window-type triad
    * (tumbling st1, session st3, SLIDING here, q33's batch twin): each
    * event lands in two overlapping (1 day / 12 h) buckets, so the state
    * store carries 2× the tumbling row count and append-mode emission is
    * watermark-driven per window END — the sentinel flush releases every
    * real window while the sentinel's own windows stay unemitted (their
    * end is past the final watermark) and are filtered for explicitness.
    * Result must equal the batch sliding aggregate exactly. */
  val st16 = GraftQuery(
    "st16_stream_sliding",
    "Streaming sliding (1 day / 12 h) window counts (sentinel-flushed append) == batch sliding agg",
    (s, dir) => {
      replay(s, "events5sent", dir,
        src => src
          .withWatermark("ts", "30 minutes")
          .groupBy(window(col("ts"), "1 day", "12 hours"), col("event_type"))
          .agg(count(lit(1)).as("n")),
        OutputMode.Append())
        .filter(col("event_type") =!= "sentinel")
        .select(col("window.start").cast("timestamp_ntz").as("window_start"),
          col("event_type"), col("n"))
        .orderBy("window_start", "event_type")
    },
    Some("""
      WITH assigned AS (
        SELECT time_bucket(INTERVAL '1 day', CAST(ts AS TIMESTAMP)) AS window_start, event_type
        FROM events
        UNION ALL
        SELECT time_bucket(INTERVAL '1 day', CAST(ts AS TIMESTAMP), INTERVAL '12 hours') AS window_start, event_type
        FROM events)
      SELECT window_start, event_type, count(*) AS n
      FROM assigned
      GROUP BY window_start, event_type
      ORDER BY window_start, event_type"""))

  /** Durable file sink + exactly-once commit log — every other st* query
    * lands in a memory sink or foreachBatch; this one exercises the sink a
    * production pipeline actually writes: `writeStream.format("parquet")`
    * with partitionBy. The sink's `_spark_metadata` transaction log is the
    * exactly-once mechanism: a batch's files become VISIBLE only when its
    * commit record lands, and a batch read of the output directory
    * consults that log — half-written files from a crashed batch are
    * invisible to readers (the file-sink contract that makes streaming
    * output safely re-readable at 100 TB). The replay writes partitioned
    * parquet, the result is the batch re-read of the committed set, and
    * the guard asserts the metadata log actually governs the read. */
  val st14 = GraftQuery(
    "st14_stream_file_sink",
    "Parquet file sink with _spark_metadata commit log: committed-set read-back == batch agg",
    (s, dir) => {
      val batch = ev5(s, dir)
      val out = spoolDir(s"filesink_${runTag()}")
      val spool = batchSpool(s, "events5", dir)
      drain(s.readStream.schema(batch.schema).parquet(spool),
          freshCkpt("filesink"), shufflePartitions(4))(
        _.format("parquet").partitionBy("event_type").option("path", out).start())
      // the sink's exactly-once contract: the batch read below must be
      // governed by the _spark_metadata commit log, not a directory listing
      require(java.nio.file.Files.exists(
        java.nio.file.Paths.get(out, "_spark_metadata")),
        "st14: file sink wrote no _spark_metadata commit log")
      s.read.parquet(out)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(dec2(col("value"))).cast("double").as("total_value"))
        .orderBy("event_type")
    },
    Some("""
      SELECT event_type, count(*) AS n,
             CAST(sum(CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS total_value
      FROM events
      GROUP BY event_type
      ORDER BY event_type"""))

  /** The shared replay-spool builders, one per content key — exposed so
    * Bench can time each build as its own line instead of letting the
    * min-of-2 policy discard the first (building) run's cost (VERDICT r6
    * item 2). Idempotent: each build goes through the build-once memo. */
  private[graft] def spoolArtifacts: Seq[(String, (SparkSession, String) => Unit)] =
    Seq("events5", "events5dup", "events5sent", "events5outer",
        "events5dupsent")
      .map(k => s"x_spool_$k" ->
        ((s: SparkSession, d: String) => { batchSpool(s, k, d); () })) ++
    Seq("st5seq", "st6seq", "st12ts", "st24seq")
      .map(k => s"x_spool_$k" ->
        ((s: SparkSession, d: String) => { fileSpool(s, k, d); () })) ++
    Seq("x_spool_st18dlq" ->
      ((s: SparkSession, d: String) => { dlqSpool(s, d); () }),
    "x_spool_st37inc" ->
      ((s: SparkSession, d: String) => { st37Spool(s, d); () }))

  /** st18's corrupted-JSON text spool (q79's poison shape), built once
    * per (sf, JVM) by the memo. */
  private def dlqSpool(s: SparkSession, dir: String): String =
    spooled("x_spool_st18dlq", dir)(p =>
      events(s, dir)
        .select(when(col("event_id") % 10 === 0,
            concat(lit("{\"event_id\":"), col("event_id").cast("string"), lit(",TRUNC")))
          .otherwise(to_json(struct(col("event_id"), col("user_id"),
            col("event_type"), dec2(col("value")).as("value")))).as("value"))
        .coalesce(3).write.mode("overwrite").text(p))

  /** Stream-stream LEFT SEMI interval join — the third stream-stream join
    * shape (inner st7, left outer st10): "which clicks were followed by a
    * purchase within the hour", i.e. a streaming EXISTS. Semi is the one
    * whose OUTPUT is bounded by the left side no matter how hot the match
    * side gets (inner fans out per match; semi emits each click at most
    * once, on its FIRST match) — the shape for "flag the event, don't
    * enumerate the evidence" triggers. State stays bounded exactly as in
    * st7: both sides watermarked, the interval condition gives the engine
    * the eviction bound. Shares st7's `events5` spool (content-keyed). */
  val st17 = GraftQuery(
    "st17_stream_semi_join",
    "Watermarked stream-stream LEFT SEMI interval join (clicks with a purchase ≤1h after) == batch EXISTS",
    (s, dir) => {
      replay(s, "events5", dir,
        src => {
          val c = src.filter(col("event_type") === "click")
            .select(col("user_id"), col("ts").as("c_ts"),
              col("event_id").as("c_id"))
            .withWatermark("c_ts", "1 hour")
          val p = src.filter(col("event_type") === "purchase")
            .select(col("user_id").as("p_user"), col("ts").as("p_ts"))
            .withWatermark("p_ts", "1 hour")
          c.join(p,
            col("user_id") === col("p_user") &&
              col("p_ts") > col("c_ts") &&
              col("p_ts") <= col("c_ts") + expr("INTERVAL 1 HOUR"),
            "left_semi")
        },
        // same 4-stores-per-partition fixed-cost argument as st7/st10
        OutputMode.Append(), noDataBatch = false, parts = 2)
        .select(col("c_id"), col("user_id"),
          col("c_ts").cast("timestamp_ntz").as("c_ts"))
        .orderBy("c_id")
    },
    Some("""
      SELECT c.event_id AS c_id, c.user_id, CAST(c.ts AS TIMESTAMP) AS c_ts
      FROM events c
      WHERE c.event_type = 'click'
        AND EXISTS (
          SELECT 1 FROM events p
          WHERE p.user_id = c.user_id AND p.event_type = 'purchase'
            AND CAST(p.ts AS TIMESTAMP) > CAST(c.ts AS TIMESTAMP)
            AND CAST(p.ts AS TIMESTAMP) <= CAST(c.ts AS TIMESTAMP)
                  + INTERVAL '1 hour')
      ORDER BY c_id"""))

  /** Streaming dead-letter-queue routing — q79's corrupt-record
    * quarantine under a live stream: raw JSON lines arrive as text
    * micro-batches, each batch parses with from_json, good rows land in a
    * typed parquet sink and unparseable lines in a raw-text DLQ, and the
    * final sinks must reproduce the batch quarantine report exactly.
    *
    * Sink writes are IDEMPOTENT by construction: each micro-batch
    * overwrites its own `batch=<id>` partition (the documented
    * foreachBatch exactly-once pattern) — a retried batch re-lands on the
    * same directory instead of double-appending, which is what makes this
    * safe under Spark's at-least-once foreachBatch contract at scale.
    * Routing is stateless per row, so the report is independent of file
    * delivery order — no watermark, no sentinel machinery needed. */
  val st18 = GraftQuery(
    "st18_stream_dlq",
    "Streaming corrupt-record DLQ via foreachBatch; sinks == q79's batch quarantine report",
    (s, dir) => {
      // text spool: q79's poison shape (every 10th event truncated JSON)
      val spool = dlqSpool(s, dir)
      val id = runTag()
      val goodDir = spoolDir(s"st18_good_$id")
      val badDir = spoolDir(s"st18_bad_$id")
      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        "event_id BIGINT, user_id BIGINT, event_type STRING, value DECIMAL(14,2)")
      drain(s.readStream.option("maxFilesPerTrigger", "1").text(spool),
          freshCkpt("st18"), shufflePartitions(4), noDataBatches(false))(
        _.foreachBatch { (b: DataFrame, bid: Long) =>
          val parsed = b.select(col("value"),
            from_json(col("value"), schema).as("j")).localCheckpoint(true)
          // good rows carry an event_id; malformed JSON parses to a
          // null/empty struct
          parsed.filter(col("j.event_id").isNotNull).select(col("j.*"))
            .write.mode("overwrite").parquet(s"$goodDir/batch=$bid")
          parsed.filter(col("j.event_id").isNull).select(col("value"))
            .write.mode("overwrite").text(s"$badDir/batch=$bid")
          ()
        }.start())
      val good = s.read.parquet(s"$goodDir/*")
        .agg(count(lit(1)).as("n"), countDistinct(col("user_id")).as("n_users"),
          sum(col("value")).cast("double").as("total_value"))
        .select(lit(false).as("quarantined"), col("n"), col("n_users"), col("total_value"))
      val bad = s.read.text(s"$badDir/*")
        .agg(count(lit(1)).as("n"))
        .select(lit(true).as("quarantined"), col("n"),
          lit(0L).as("n_users"), lit(null).cast("double").as("total_value"))
      good.union(bad).orderBy("quarantined")
    },
    Some("""
      SELECT event_id % 10 = 0 AS quarantined, count(*) AS n,
             count(DISTINCT CASE WHEN event_id % 10 <> 0 THEN user_id END)
               AS n_users,
             CAST(sum(CASE WHEN event_id % 10 <> 0
                           THEN CAST(value AS DECIMAL(14,2)) END) AS DOUBLE)
               AS total_value
      FROM events
      GROUP BY 1
      ORDER BY 1"""))

  /** Streaming top-k per closed window — the trending-now / leaderboard
    * shape: windowed counts accumulate incrementally under a watermark and
    * are emitted EXACTLY ONCE when their window closes (append mode, st3's
    * sentinel-flush for the bounded replay); ranking to top-3 runs over
    * the emitted (closed, immutable) rows downstream — at scale that
    * downstream rank is a foreachBatch over each batch of closed windows,
    * a per-window-key heap over a bounded set, NOT a second global stage.
    * The streaming engine does the heavy lifting (the counts over the
    * unbounded input); state is bounded by windows-in-horizon × types.
    * Result must equal the batch top-3-per-day of the same table. */
  val st19 = GraftQuery(
    "st19_stream_windowed_topk",
    "Append-mode windowed counts + top-3 rank over closed windows == batch top-k per day",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      // The sentinel must flow INTO the watermark (it's what closes the
      // final day's windows on a bounded replay); its own group row is
      // filtered from the OUTPUT, never from the input — st3's contract.
      val counts = replay(s, "events5sent", dir,
        src => src
          .withWatermark("ts", "1 hour")
          .groupBy(window(col("ts"), "1 day"), col("event_type"))
          .agg(count(lit(1)).as("n")),
        OutputMode.Append(), noDataBatch = true)
      val w = Window.partitionBy("window_start")
        .orderBy(col("n").desc, col("event_type"))
      counts
        .filter(col("event_type") =!= "sentinel")
        .select(col("window.start").cast("timestamp_ntz").as("window_start"),
          col("event_type"), col("n"))
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 3)
        .orderBy("window_start", "rank")
    },
    Some("""
      WITH c AS (
        SELECT time_bucket(INTERVAL '1 day', CAST(ts AS TIMESTAMP)) AS window_start,
               event_type, count(*) AS n
        FROM events
        GROUP BY window_start, event_type),
      r AS (
        SELECT window_start, event_type, n,
               row_number() OVER (PARTITION BY window_start
                                  ORDER BY n DESC, event_type) AS rank
        FROM c)
      SELECT window_start, event_type, n, rank
      FROM r WHERE rank <= 3
      ORDER BY window_start, rank"""))

  /** Stream-stream FULL OUTER interval join — completing the
    * stream-stream join family (inner st7, left-outer st10, semi st17):
    * BOTH sides null-pad once the watermark proves no match can still
    * arrive, which is the reconciliation shape — "every purchase with
    * its click AND every orphaned click" in one pass, the streaming form
    * of an audit join. State bounds are the same as st10's (both sides
    * watermarked, interval condition gives the eviction bound); what
    * full-outer adds is eviction-time emission on BOTH stores. Shares
    * the events5outer spool (sentinels on both types flush both sides'
    * final state). */
  val st20 = GraftQuery(
    "st20_stream_full_outer_join",
    "Watermarked stream-stream FULL OUTER interval join: both sides null-pad on watermark passage == batch full join",
    (s, dir) => {
      replay(s, "events5outer", dir,
        src => {
          val p = src.filter(col("event_type") === "purchase")
            .select(col("user_id"), col("ts").as("p_ts"),
              col("event_id").as("p_id"))
            .withWatermark("p_ts", "1 hour")
          val c = src.filter(col("event_type") === "click")
            .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
              col("event_id").as("c_id"))
            .withWatermark("c_ts", "1 hour")
          p.join(c,
            col("user_id") === col("c_user") &&
              col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
              col("c_ts") < col("p_ts"),
            "full_outer")
        },
        OutputMode.Append(), parts = 2)
        .filter(coalesce(col("user_id"), col("c_user")) =!= -1L)
        .select(col("p_id"), col("c_id"),
          coalesce(col("user_id"), col("c_user")).as("uid"),
          col("p_ts").cast("timestamp_ntz").as("p_ts"),
          col("c_ts").cast("timestamp_ntz").as("c_ts"))
        .orderBy("p_id", "c_id")
    },
    Some("""
      SELECT p.event_id AS p_id, c.event_id AS c_id,
             coalesce(p.user_id, c.user_id) AS uid,
             CAST(p.ts AS TIMESTAMP) AS p_ts,
             CAST(c.ts AS TIMESTAMP) AS c_ts
      FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      FULL JOIN (SELECT * FROM events WHERE event_type = 'click') c
        ON p.user_id = c.user_id
       AND CAST(c.ts AS TIMESTAMP) >= CAST(p.ts AS TIMESTAMP) - INTERVAL '1 hour'
       AND CAST(c.ts AS TIMESTAMP) < CAST(p.ts AS TIMESTAMP)
      ORDER BY p_id NULLS FIRST, c_id NULLS FIRST"""))

  /** Streaming temporal enrichment against the SCD2 dimension — q105's
    * as-of interval join with the FACTS as a live stream (st4's
    * stream-static shape plus a validity-range predicate): each arriving
    * event joins the dimension version valid at ITS event time, so late
    * or backfilled events still pick up the historically-correct
    * attribute — the lookup a streaming feature pipeline runs against a
    * warehouse dimension. The static side is per-entity bounded (change
    * counts) and broadcast into every micro-batch; the join is stateless
    * per batch (no watermark, no state store) — the 100 TB posture is a
    * periodically-refreshed broadcast dim, facts never buffered. Result
    * must equal the batch as-of join row-for-row. */
  val st21 = GraftQuery(
    "st21_stream_scd2_enrich",
    "Stream-static SCD2 as-of enrichment: each streamed event joins its historically-valid dimension version",
    (s, dir) => {
      val dim = graft.operators.Warehouse.scd2Dim(s, dir)
        .select(col("user_id").as("d_user"), col("state"),
          col("valid_from"), col("valid_to"), col("version"))
      replay(s, "events5", dir,
        src => src
          .filter(col("user_id") % 23 === 0)
          .withColumn("ts_ntz", col("ts").cast("timestamp_ntz"))
          .join(broadcast(dim),
            col("user_id") === col("d_user") &&
              col("valid_from") <= col("ts_ntz") &&
              (col("valid_to").isNull || col("ts_ntz") < col("valid_to"))),
        OutputMode.Append(), noDataBatch = false)
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("state").as("state_at_event"),
          col("version").as("dim_version"))
        .orderBy("event_id")
    },
    Some("""
      WITH e AS (SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts,
                        event_id
                 FROM events WHERE user_id % 23 = 0),
      m AS (SELECT *, lag(event_type) OVER (PARTITION BY user_id
                                            ORDER BY ts, event_id) AS prev_state
            FROM e),
      c AS (SELECT * FROM m
            WHERE prev_state IS NULL OR event_type <> prev_state),
      dim AS (SELECT user_id, event_type AS state, ts AS valid_from,
                     lead(ts) OVER w AS valid_to,
                     CAST(row_number() OVER w AS BIGINT) AS version
              FROM c
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
      SELECT f.event_id, f.user_id, f.event_type,
             d.state AS state_at_event,
             d.version AS dim_version
      FROM e f JOIN dim d
        ON f.user_id = d.user_id
       AND d.valid_from <= f.ts
       AND (d.valid_to IS NULL OR f.ts < d.valid_to)
      ORDER BY event_id"""))

  /** CHAINED stateful aggregations in one streaming query (multiple
    * stateful operators, Spark 3.4+): hourly windowed counts feed a
    * SECOND windowed aggregation that rolls them into daily peak/total —
    * the streaming form of a two-level rollup, previously impossible
    * without writing the intermediate to a sink and reading it back.
    * `window_time()` re-exposes the first window's event time so the
    * second aggregation windows over it (hour windows never straddle
    * days, so assignment is exact); both stages ride the SAME watermark,
    * emission cascades one no-data batch per stage (the sentinel flush
    * advances the watermark past all real data and its rows drop at the
    * event_type filter). Equals the batch two-level rollup exactly. */
  val st22 = GraftQuery(
    "st22_chained_agg",
    "Two chained windowed aggregations in one stream (hourly -> daily rollup) == batch",
    (s, dir) => {
      replay(s, "events5sent", dir,
        src => src
          .withWatermark("ts", "1 hour")
          .groupBy(window(col("ts"), "1 hour"), col("event_type"))
          .agg(count(lit(1)).as("n_hourly"))
          .groupBy(window(window_time(col("window")), "1 day"), col("event_type"))
          .agg(sum(col("n_hourly")).as("n_daily"),
            count(lit(1)).as("n_hours"),
            max(col("n_hourly")).as("peak_hour")),
        OutputMode.Append())
        .filter(col("event_type") =!= "sentinel")
        .select(col("window.start").cast("timestamp_ntz").as("day_start"),
          col("event_type"), col("n_daily"), col("n_hours"), col("peak_hour"))
        .orderBy("day_start", "event_type")
    },
    Some("""
      WITH h AS (
        SELECT time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) AS hs,
               event_type, count(*) AS n
        FROM events
        GROUP BY hs, event_type)
      SELECT time_bucket(INTERVAL '1 day', hs) AS day_start, event_type,
             CAST(sum(n) AS BIGINT) AS n_daily,
             count(*) AS n_hours,
             CAST(max(n) AS BIGINT) AS peak_hour
      FROM h
      GROUP BY day_start, event_type
      ORDER BY day_start, event_type"""))

  case class StChange(user_id: Long, us: Long, event_id: Long, cents: Long, tomb: Boolean)
  case class StKVState(n: Long, us: Long, event_id: Long, cents: Long, dead: Boolean)
  case class StKVOut(user_id: Long, n_updates: Long, cents: Long, last_event: Long, dead: Boolean)

  /** Stream–table duality: a keyed CHANGELOG (upserts + tombstones — the
    * KTable / compacted-topic input shape, q121's streaming twin)
    * materialized into latest-value state with transformWithState.
    * Within a batch, a key's rows apply in (ts, event_id) order (sorted —
    * micro-batch iterators carry no order); across batches, st12's
    * time-ordered tranche spool guarantees later deliveries never precede
    * earlier ones, so the fold IS the changelog's total order. A
    * tombstone (event_id ≡ 0 mod 13) survives AS STATE — the key stays
    * marked dead so later redeliveries of the same key's history can't
    * resurrect it, and the final snapshot drops dead keys exactly as
    * compaction drops an applied tombstone. Each batch emits a snapshot
    * per touched key (update discipline, st15's); n_updates strictly
    * grows, so max-n is the final table — arrival-order-free. State per
    * key is ONE fixed-size record regardless of history length: the
    * bounded-state discipline a 100 TB changelog demands. */
  val st23 = GraftQuery(
    "st23_changelog_materialize",
    "transformWithState changelog (upsert+tombstone) materialized: latest-per-key table == batch compaction",
    (s, dir) => {
      import org.apache.spark.sql.streaming.{StatefulProcessor, TimeMode, TimerValues, TTLConfig}
      import org.apache.spark.sql.Encoders
      class KVProcessor extends StatefulProcessor[Long, StChange, StKVOut] {
        @transient private var st: org.apache.spark.sql.streaming.ValueState[StKVState] = _
        override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
          st = getHandle.getValueState[StKVState]("kv",
            Encoders.product[StKVState], TTLConfig.NONE)
        override def handleInputRows(key: Long, rows: Iterator[StChange],
            timers: TimerValues): Iterator[StKVOut] = {
          val ordered = rows.toSeq.sortBy(e => (e.us, e.event_id))
          var cur = if (st.exists()) st.get()
            else StKVState(0L, Long.MinValue, -1L, 0L, dead = true)
          ordered.foreach { e =>
            cur = StKVState(cur.n + 1, e.us, e.event_id, e.cents, e.tomb)
          }
          st.update(cur)
          Iterator.single(StKVOut(key, cur.n, cur.cents, cur.event_id, cur.dead))
        }
      }
      val snaps = replayFiles(s, "st12ts", dir,
        src => {
          import s.implicits._
          src
            .select(col("user_id"),
              (unix_micros(col("ts"))).as("us"), col("event_id"),
              (dec2(col("value")) * 100).cast("long").as("cents"),
              (col("event_id") % 13 === 0).as("tomb"))
            .as[StChange]
            .groupByKey(_.user_id)
            .transformWithState(new KVProcessor,
              TimeMode.None(), OutputMode.Update(),
              Encoders.product[StKVOut])
            .toDF()
        },
        OutputMode.Update(), rocksDb = true)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(desc("n_updates"))
      snaps
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1 && !col("dead"))
        .select(col("user_id"), col("n_updates"),
          (col("cents").cast("double") / 100).as("value"),
          col("last_event"))
        .orderBy("user_id")
    },
    Some("""
      WITH log AS (
        SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id,
               CAST(CAST(value AS DECIMAL(14,2)) * 100 AS BIGINT) AS cents,
               event_id % 13 = 0 AS tomb
        FROM events),
      m AS (SELECT user_id, event_id, cents, tomb,
                   row_number() OVER (PARTITION BY user_id
                     ORDER BY ts DESC, event_id DESC) AS rn,
                   count(*) OVER (PARTITION BY user_id) AS n_updates
            FROM log)
      SELECT user_id, CAST(n_updates AS BIGINT) AS n_updates,
             CAST(cents AS DOUBLE) / 100 AS value, event_id AS last_event
      FROM m
      WHERE rn = 1 AND NOT tomb
      ORDER BY user_id"""))

  /** The SINK half of exactly-once — st11 proves the ENGINE half (offsets
    * recovered from the checkpoint, each row processed once); st24 proves
    * the sink survives the opposite failure: FULL REDELIVERY. Streaming
    * delivery is at-least-once at the sink boundary (a crash after write
    * but before commit re-runs the batch), so production foreachBatch
    * sinks keep a batchId ledger and skip already-committed batches —
    * Spark's own docs prescribe exactly this idempotent-upsert pattern,
    * and transactional sinks (Delta, JDBC txn) persist the ledger
    * atomically WITH the data. Here the second streaming query runs over
    * the SAME deterministic spool with a FRESH checkpoint, so every batch
    * redelivers with the same batchId and content (same file order + same
    * maxFilesPerTrigger — the determinism that makes batchId a valid
    * idempotency key); the ledger skips them all, and runtime guards
    * require applied == skipped — a sink that double-applied would double
    * every count and fail the oracle. Final state == one-shot batch agg. */
  val st24 = GraftQuery(
    "st24_idempotent_sink",
    "Idempotent batchId-ledger sink under full redelivery: two replays == one batch aggregate",
    (s, dir) => {
      val batch = ev5(s, dir)
      val spoolStr = fileSpool(s, "st24seq", dir)
      var target: DataFrame = s.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](),
        org.apache.spark.sql.types.StructType.fromDDL(
          "event_type STRING, n BIGINT, total_value DECIMAL(24,2)"))
      val committed = scala.collection.mutable.Set.empty[Long]
      var applied = 0
      var skipped = 0
      def runOnce(): Unit = {
        val src = s.readStream.schema(batch.schema)
          .option("maxFilesPerTrigger", "1").parquet(spoolStr)
        // fresh checkpoint per run: run 2 redelivers EVERY batch
        drain(src, freshCkpt("st24"), shufflePartitions(8), noDataBatches(false))(
          _.foreachBatch { (b: DataFrame, bid: Long) =>
            if (committed.contains(bid)) { skipped += 1 }
            else {
              val delta = b.groupBy("event_type")
                .agg(count(lit(1)).as("n"),
                  sum(dec2(col("value"))).cast("decimal(24,2)")
                    .as("total_value"))
              target = target.as("t")
                .join(delta.as("d"), Seq("event_type"), "full_outer")
                .select(col("event_type"),
                  (coalesce(col("t.n"), lit(0L)) +
                    coalesce(col("d.n"), lit(0L))).as("n"),
                  (coalesce(col("t.total_value"),
                    lit(BigDecimal(0)).cast("decimal(24,2)")) +
                    coalesce(col("d.total_value"),
                      lit(BigDecimal(0)).cast("decimal(24,2)")))
                    .cast("decimal(24,2)").as("total_value"))
                .localCheckpoint(true)
              committed += bid
              applied += 1
            }
            ()
          }.start())
      }
      runOnce()
      runOnce()
      require(applied > 0, "st24: no batches were ever applied")
      require(skipped == applied,
        s"st24: run 2 redelivered $skipped batches vs run 1's $applied — " +
          "the ledger did not see identical redelivery")
      target
        .select(col("event_type"), col("n"),
          col("total_value").cast("double").as("total_value"))
        .orderBy("event_type")
    },
    Some("""
      SELECT event_type, count(*) AS n,
             CAST(sum(CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS total_value
      FROM events
      GROUP BY event_type
      ORDER BY event_type"""))

  /** DEDUP → WINDOWED AGG in ONE streaming query — the at-least-once
    * ingestion pipeline's canonical two-stateful-operator chain (st22
    * chained agg→agg; this chains a different operator KIND upstream):
    * dropDuplicatesWithinWatermark absorbs redelivered events, the
    * tumbling aggregate downstream sees each event once, both stages ride
    * one watermark, and each stage's state stays bounded by the lateness
    * horizon. Without the chain you materialize the deduped stream to a
    * sink and re-read it (st9's single-operator posture) — an extra
    * round-trip per hop that Spark 3.4+ multiple-stateful-operator
    * support removes. The replay doubles every event (the at-least-once
    * world) plus a far-future sentinel whose watermark passage closes
    * every real window; append mode emits only closed windows, and the
    * result must equal the CLEAN batch tumbling aggregate — any duplicate
    * leaking past stage 1 doubles a count and fails the oracle. */
  val st25 = GraftQuery(
    "st25_stream_dedup_agg_chain",
    "dropDuplicatesWithinWatermark → tumbling agg in one query: doubled replay == clean batch agg",
    (s, dir) => {
      replay(s, "events5dupsent", dir,
        src => src
          .withWatermark("ts", "1 hour")
          .dropDuplicatesWithinWatermark("event_id")
          .groupBy(window(col("ts"), "1 day"), col("event_type"))
          .agg(count(lit(1)).as("n"),
            sum(dec2(col("value"))).cast("double").as("total_value")),
        OutputMode.Append())
        .filter(col("event_type") =!= "sentinel")
        .select(col("window.start").cast("timestamp_ntz").as("window_start"),
          col("event_type"), col("n"), col("total_value"))
        .orderBy("window_start", "event_type")
    },
    Some("""
      SELECT time_bucket(INTERVAL '1 day', CAST(ts AS TIMESTAMP)) AS window_start,
             event_type,
             count(*) AS n,
             CAST(sum(CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS total_value
      FROM events
      GROUP BY window_start, event_type
      ORDER BY window_start, event_type"""))

  /** A custom DSv2 STREAMING source end to end — the third face of the
    * connector matrix (q128 batch read, q129/q143 batch write): the
    * engine consumes graft.sources.SyntheticStream through the real
    * MicroBatchStream offset protocol — admission control paces each
    * micro-batch to `batchRows` ids, Trigger.AvailableNow pins the run's
    * end via SupportsTriggerAvailableNow, per-batch planInputPartitions
    * reads ONLY the [start, end) range (no history re-reads), and offsets
    * json-round-trip through the checkpoint. The runtime guard requires
    * ≥4 data batches — a source that ignored admission control and
    * dumped everything in one batch fails before the oracle is even
    * consulted. Rows are the connector's deterministic id arithmetic, so
    * DuckDB regenerates the stream's entire content from range() and the
    * aggregate is fully hash-checked. */
  val st26 = GraftQuery(
    "st26_dsv2_stream_source",
    "Custom MicroBatchStream source: admission-paced offsets, AvailableNow, oracle-regenerated rows",
    (s, dir) => {
      val src = s.readStream.format("graft.sources.SyntheticStream")
        .option("rows", "20000").option("batchRows", "4096")
        .load()
      val (q, out) = drainToLocal(
        src.groupBy("event_type")
          .agg(count(lit(1)).as("n"), sum(col("cents")).as("total_cents")),
        OutputMode.Complete(), freshCkpt("st26"), shufflePartitions(4))
      val dataBatches = q.recentProgress.count(_.numInputRows > 0)
      require(dataBatches >= 4,
        s"st26: $dataBatches data batches — admission control did not pace " +
          "the stream (20000 rows / 4096 per batch should take 5)")
      out.orderBy("event_type")
    },
    Some("""
      WITH g AS (
        SELECT ['view','click','signup','purchase','error'][CAST(i % 5 AS INTEGER) + 1]
                 AS event_type,
               i * 37 % 100000 AS cents
        FROM (SELECT unnest(range(0, 20000)) AS i))
      SELECT event_type, count(*) AS n,
             CAST(sum(cents) AS BIGINT) AS total_cents
      FROM g
      GROUP BY event_type
      ORDER BY event_type"""))

  case class StDebKeep(user_id: Long, ts_us: Long, event_id: Long)

  /** q154's cooldown debounce in its STREAMING form — the sequential-state
    * operator family's batch/stream pairing (q34↔st3 for gap sessions,
    * q135↔st8 for custom sessions, now q154↔st27 for kept-event clocks):
    * state per user is ONE long (the last KEPT timestamp), events fold in
    * (ts, event_id) order inside each batch, and the kept set must equal
    * the batch operator's — both are hash-checked against the SAME
    * recursive-CTE DuckDB oracle, so the streaming path's sequential
    * semantics are proven, not assumed. State is O(users) — the
    * notification-suppression deployment shape (the clock outlives any
    * window; on a live stream a TTL would bound idle-user state). */
  val st27 = GraftQuery(
    "st27_stream_debounce",
    "Streaming cooldown debounce via flatMapGroupsWithState: kept set == q154's recursive oracle",
    (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
      val cooldownUs = 1800L * 1000000L
      def us(t: java.sql.Timestamp): Long =
        t.getTime * 1000 + (t.getNanos / 1000) % 1000
      def debounce(user: Long, input: Iterator[(Long, java.sql.Timestamp, Long)],
          state: GroupState[Long]): Iterator[StDebKeep] = {
        // within a batch events arrive unsorted; fold in event-time order —
        // state carries only the last KEPT instant across batches
        val evs = input.toSeq.map(e => (us(e._2), e._3)).sortBy(identity)
        var lastKept = state.getOption.getOrElse(Long.MinValue)
        val kept = scala.collection.mutable.ArrayBuffer.empty[StDebKeep]
        evs.foreach { case (t, eid) =>
          if (lastKept == Long.MinValue || t - lastKept >= cooldownUs) {
            lastKept = t
            kept += StDebKeep(user, t, eid)
          }
        }
        if (lastKept != Long.MinValue) state.update(lastKept)
        kept.iterator
      }
      replay(s, "events5", dir,
        src => src
          .select(col("user_id"), col("ts"), col("event_id"))
          .as[(Long, java.sql.Timestamp, Long)]
          .groupByKey(_._1)
          .flatMapGroupsWithState(
            org.apache.spark.sql.streaming.OutputMode.Append(),
            GroupStateTimeout.NoTimeout())(debounce)
          .toDF(),
        OutputMode.Append())
        .select("user_id", "ts_us", "event_id")
        .orderBy("user_id", "ts_us", "event_id")
    },
    Some("""
      WITH RECURSIVE ordered AS (
        SELECT user_id, epoch_us(ts) AS ts_us, event_id,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn
        FROM events),
      keep AS (
        SELECT user_id, ts_us, event_id, rn FROM ordered WHERE rn = 1
        UNION ALL
        SELECT nxt.user_id, nxt.ts_us, nxt.event_id, nxt.rn
        FROM keep k, LATERAL (
          SELECT o.user_id, o.ts_us, o.event_id, o.rn
          FROM ordered o
          WHERE o.user_id = k.user_id
            AND o.ts_us >= k.ts_us + CAST(1800 AS BIGINT) * 1000000
          ORDER BY o.rn LIMIT 1) nxt)
      SELECT user_id, ts_us, event_id
      FROM keep
      ORDER BY user_id, ts_us, event_id"""))

  case class StAbandon(user_id: Long, click_us: Long, event_id: Long)
  case class St28State(pending: Seq[(Long, Long)], purchases: Seq[Long])

  /** ABANDONED-CART detection — the canonical event-time-TIMEOUT workload
    * (st27's clock suppresses; this one must fire on the ABSENCE of an
    * event): each click is abandoned iff no purchase by the same user
    * lands in (click, click+2h]. The streaming form can only emit a
    * verdict once the WATERMARK proves no qualifying purchase can still
    * arrive, so abandonments flow from EventTimeTimeout callbacks — the
    * state holds the user's pending clicks plus a short purchase memory
    * (purchases can precede their click across unordered batches; with
    * TTL ≥ the 1 h watermark delay, pruning memory at watermark−TTL is
    * provably lossless), and the sentinel-flushed replay drains every
    * pending click at end of stream. Per-user state is O(open carts +
    * recent purchases) — watermark-bounded, never corpus-bounded. The
    * emitted set must equal the batch NOT-EXISTS anti-join exactly —
    * same DuckDB oracle, hash-checked. */
  val st28 = GraftQuery(
    "st28_stream_abandoned_cart",
    "Event-time-timeout abandoned carts: clicks with no purchase within 2h == batch anti-join",
    (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
      val ttlUs = 7200L * 1000000L
      def us(t: java.sql.Timestamp): Long =
        t.getTime * 1000 + (t.getNanos / 1000) % 1000
      def track(user: Long,
          input: Iterator[(Long, java.sql.Timestamp, String, Long)],
          state: GroupState[St28State]): Iterator[StAbandon] = {
        val cur = state.getOption.getOrElse(St28State(Seq.empty, Seq.empty))
        var pending = cur.pending
        var purch = cur.purchases
        val out = scala.collection.mutable.ArrayBuffer.empty[StAbandon]
        if (!state.hasTimedOut) {
          // fold the batch in event-time order; purchases clear any open
          // click they satisfy, clicks convert instantly against the
          // purchase memory (unordered delivery may show the purchase
          // first)
          val evs = input.toSeq
            .map(e => (us(e._2), e._3, e._4)).sortBy(t => (t._1, t._3))
          evs.foreach {
            case (t, "click", eid) =>
              if (!purch.exists(p => p > t && p <= t + ttlUs))
                pending :+= ((t, eid))
            case (t, "purchase", _) =>
              purch :+= t
              pending = pending.filterNot(c => t > c._1 && t <= c._1 + ttlUs)
            case _ => () // sentinel rows only advance the watermark
          }
        }
        val wmUs = state.getCurrentWatermarkMs() * 1000
        val (expired, live) = pending.partition(c => c._1 + ttlUs < wmUs)
        expired.foreach(c => out += StAbandon(user, c._1, c._2))
        pending = live
        purch = purch.filter(p => p + ttlUs >= wmUs)
        if (pending.isEmpty && purch.isEmpty) state.remove()
        else {
          state.update(St28State(pending, purch))
          if (pending.nonEmpty)
            state.setTimeoutTimestamp(math.max(
              pending.map(_._1 + ttlUs).min / 1000 + 1,
              state.getCurrentWatermarkMs() + 1))
        }
        out.iterator
      }
      replay(s, "events5sent", dir,
        src => src
          .withWatermark("ts", "1 hour")
          .select(col("user_id"), col("ts"), col("event_type"), col("event_id"))
          .as[(Long, java.sql.Timestamp, String, Long)]
          .groupByKey(_._1)
          .flatMapGroupsWithState(
            org.apache.spark.sql.streaming.OutputMode.Append(),
            GroupStateTimeout.EventTimeTimeout())(track)
          .toDF(),
        OutputMode.Append())
        .filter(col("user_id") >= 0)
        .select("user_id", "click_us", "event_id")
        .orderBy("user_id", "click_us", "event_id")
    },
    Some("""
      SELECT e.user_id, epoch_us(e.ts) AS click_us, e.event_id
      FROM events e
      WHERE e.event_type = 'click'
        AND NOT EXISTS (
          SELECT 1 FROM events p
          WHERE p.user_id = e.user_id AND p.event_type = 'purchase'
            AND epoch_us(p.ts) > epoch_us(e.ts)
            AND epoch_us(p.ts) <= epoch_us(e.ts)
                + CAST(7200 AS BIGINT) * 1000000)
      ORDER BY user_id, click_us, event_id"""))

  /** STREAMING QUANTILE SKETCH — q139's mergeable log-histogram run as a
    * live windowed aggregate: the stream maintains per (1-day window,
    * event_type, bucket) counts — a plain Append-mode windowed agg whose
    * per-key state is the HISTOGRAM CELL, the mergeable-sketch posture
    * that keeps streaming percentiles O(buckets) instead of O(values) —
    * and the p50 walk runs batch-side over the emitted cells after the
    * watermark closes each window. The estimate's error vs the exact
    * per-window median (batch audit side) lands in bp, same as q139.
    * Sentinel closes the final day; its group rows filter from output
    * (st19's contract). At 100 TB the state per window×type is ≤ |cells|
    * ≈ 50 rows — value-count-independent, which is the whole point. */
  val st29 = GraftQuery(
    "st29_stream_quantile_sketch",
    "Streaming windowed log-histogram cells + batch p50 walk == q139 discipline per day/type",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val cells = replay(s, "events5sent", dir,
        src => src
          .withWatermark("ts", "1 hour")
          .withColumn("c", (dec2(col("value")) * 100).cast("long"))
          .withColumn("d", length(col("c").cast("string")).cast("long"))
          .withColumn("f",
            substring(col("c").cast("string"), 1, 1).cast("long"))
          .groupBy(window(col("ts"), "1 day"), col("event_type"),
            col("d"), col("f"))
          .agg(count(lit(1)).as("cnt")),
        OutputMode.Append(), noDataBatch = true)
        .filter(col("event_type") =!= "sentinel")
        .select(col("window.start").cast("timestamp_ntz").as("window_start"),
          col("event_type"), col("d"), col("f"), col("cnt"))
      val wcum = Window.partitionBy("window_start", "event_type")
        .orderBy("d", "f")
      val est = cells
        .withColumn("cum", sum(col("cnt")).over(wcum))
        .withColumn("tot", sum(col("cnt"))
          .over(Window.partitionBy("window_start", "event_type")))
        .withColumn("rank", expr("(tot + 1) div 2"))
        .filter(col("cum") >= col("rank") &&
          col("cum") - col("cnt") < col("rank"))
        .withColumn("width", expr(
          "CAST(concat('1', repeat('0', CAST(d - 1 AS INT))) AS BIGINT)"))
        .withColumn("est_c", expr(
          "f * width + (rank - (cum - cnt)) * width div cnt"))
        .select(col("window_start"), col("event_type"),
          col("tot").as("n"), col("est_c"))
      val wrank = Window.partitionBy("window_start", "event_type")
        .orderBy("c")
      val exact = events(s, dir)
        .select(date_trunc("DAY", col("ts")).cast("timestamp_ntz")
            .as("window_start"),
          col("event_type"),
          (dec2(col("value")) * 100).cast("long").as("c"))
        .withColumn("rn", row_number().over(wrank))
        .withColumn("tot", count(lit(1))
          .over(Window.partitionBy("window_start", "event_type")))
        .filter(col("rn") === expr("(tot + 1) div 2"))
        .select(col("window_start"), col("event_type"), col("c").as("exact_c"))
      est.join(exact, Seq("window_start", "event_type"))
        .withColumn("err_bp", expr("abs(est_c - exact_c) * 10000 div exact_c"))
        .orderBy("window_start", "event_type")
    },
    Some("""
      WITH cents AS (
        SELECT time_bucket(INTERVAL '1 day', CAST(ts AS TIMESTAMP))
                 AS window_start,
               event_type,
               CAST(CAST(value AS DECIMAL(14,2)) * 100 AS BIGINT) AS c
        FROM events),
      hist AS (
        SELECT window_start, event_type,
               CAST(length(CAST(c AS VARCHAR)) AS BIGINT) AS d,
               CAST(substr(CAST(c AS VARCHAR), 1, 1) AS BIGINT) AS f,
               count(*) AS cnt
        FROM cents GROUP BY 1, 2, 3, 4),
      walk AS (
        SELECT window_start, event_type, d, f, cnt,
               sum(cnt) OVER (PARTITION BY window_start, event_type
                              ORDER BY d, f ROWS UNBOUNDED PRECEDING) AS cum,
               sum(cnt) OVER (PARTITION BY window_start, event_type) AS tot
        FROM hist),
      est AS (
        SELECT window_start, event_type, CAST(tot AS BIGINT) AS n,
               f * CAST('1' || repeat('0', CAST(d - 1 AS INTEGER)) AS BIGINT)
                 + ((tot + 1) // 2 - (cum - cnt))
                   * CAST('1' || repeat('0', CAST(d - 1 AS INTEGER))
                          AS BIGINT) // cnt AS est_c
        FROM walk
        WHERE cum >= (tot + 1) // 2 AND cum - cnt < (tot + 1) // 2),
      exact AS (
        SELECT window_start, event_type, c AS exact_c FROM (
          SELECT window_start, event_type, c,
                 row_number() OVER (PARTITION BY window_start, event_type
                                    ORDER BY c) AS rn,
                 count(*) OVER (PARTITION BY window_start, event_type) AS tot
          FROM cents)
        WHERE rn = (tot + 1) // 2)
      SELECT e.window_start, e.event_type, e.n,
             CAST(e.est_c AS BIGINT) AS est_c, x.exact_c,
             CAST(abs(e.est_c - x.exact_c) * 10000 // x.exact_c AS BIGINT)
               AS err_bp
      FROM est e JOIN exact x USING (window_start, event_type)
      ORDER BY window_start, event_type"""))

  /** CUSTOM STREAMING SINK (StreamingWrite) — the write-side twin of
    * st26's custom MicroBatchStream source, closing the connector
    * matrix: batch read (q128), batch write (q129), streaming read
    * (st26), and now streaming write through the full epoch-keyed
    * commit protocol — per-task digest messages per micro-batch, a
    * driver-side `commit(epochId, …)` that lands each epoch's fold on
    * an epoch-keyed ledger entry, and REPLACE semantics on that key so
    * a redelivered epoch (driver retry after sink success) produces the
    * same effect once: at-least-once delivery, exactly-once EFFECT —
    * st24's contract, native to the connector this time (PlanSpec pins
    * the redelivery case directly). The entry replays events through
    * the sink and value-checks the ledger against the SQL-reproducible
    * digest — the committed bytes are oracle-checked, not counted. */
  val st30 = GraftQuery(
    "st30_stream_digest_sink",
    "Custom StreamingWrite sink: epoch-keyed idempotent commits, ledger digest == oracle",
    (s, dir) => {
      import graft.sources.DigestSink
      val key = runTag()
      val spool = batchSpool(s, "events5", dir)
      drain(s.readStream.schema(ev5(s, dir).schema).parquet(spool)
          .select(col("event_id"),
            concat(col("event_type"), lit("#"),
              col("user_id").cast("string")).as("tag")),
          freshCkpt("st30"), shufflePartitions(4))(
        _.format("graft.sources.DigestSink").option("runId", key)
          .outputMode(OutputMode.Append()).start())
      val ledger = DigestSink.epochs.getOrElse(key, Map.empty)
        .filter(_._2._1 > 0).toSeq.sortBy(_._1)
      import s.implicits._
      val perEpoch = ledger.zipWithIndex.map { case ((_, (n, d)), i) =>
        (s"epoch_$i", n, d)
      }
      val total = ("total",
        ledger.map(_._2._1).sum, ledger.map(_._2._2).sum)
      (perEpoch :+ total)
        .toDF("row", "n_rows", "digest_sum")
        .orderBy("row")
    },
    Some("""
      WITH d AS (
        SELECT count(*) AS n,
               CAST(sum(CAST('0x' || substr(md5(CAST(event_id AS VARCHAR)
                      || '|' || event_type || '#'
                      || CAST(user_id AS VARCHAR)), 1, 10) AS BIGINT))
                 AS BIGINT) AS ds
        FROM events)
      SELECT 'epoch_0' AS row, n AS n_rows, ds AS digest_sum FROM d
      UNION ALL
      SELECT 'total', n, ds FROM d
      ORDER BY row"""))

  /** END-TO-END EXACTLY-ONCE — the full pipeline claim assembled from
    * its proven parts: an AT-LEAST-ONCE source (the duplicated events
    * spool — every row delivered twice), watermark-bounded streaming
    * dedup in the middle (st9's operator), and the epoch-keyed
    * idempotent sink at the end (st30's connector). The ledger's total
    * (count, content digest) must equal the batch DISTINCT digest of
    * the original events — bit-for-bit: duplicates in, exactly-once
    * effect out, with every stage's state bounded (dedup state by the
    * watermark, sink state by the epoch count). This is the composition
    * every streaming architecture slide promises; here it is one
    * hash-checked row. */
  val st31 = GraftQuery(
    "st31_exactly_once_chain",
    "Duplicated source -> watermark dedup -> epoch-idempotent sink == batch distinct digest",
    (s, dir) => {
      import graft.sources.DigestSink
      val key = runTag()
      val spool = batchSpool(s, "events5dup", dir)
      drain(s.readStream.schema(ev5(s, dir).schema).parquet(spool)
          .withWatermark("ts", "1 hour")
          .dropDuplicatesWithinWatermark("event_id")
          .select(col("event_id"),
            concat(col("event_type"), lit("#"),
              col("user_id").cast("string")).as("tag")),
          freshCkpt("st31"), shufflePartitions(4))(
        _.format("graft.sources.DigestSink").option("runId", key)
          .outputMode(OutputMode.Append()).start())
      val ledger = DigestSink.epochs.getOrElse(key, Map.empty)
      import s.implicits._
      Seq(("chain_total",
        ledger.values.map(_._1).sum, ledger.values.map(_._2).sum))
        .toDF("row", "n_rows", "digest_sum")
    },
    Some("""
      SELECT 'chain_total' AS row, count(*) AS n_rows,
             CAST(sum(CAST('0x' || substr(md5(CAST(event_id AS VARCHAR)
                    || '|' || event_type || '#'
                    || CAST(user_id AS VARCHAR)), 1, 10) AS BIGINT))
               AS BIGINT) AS digest_sum
      FROM events"""))

  /** The FULL materialized-view lifecycle — maintenance and serving in
    * one entry: the fact arrives as a STREAM (orders replayed file-by-
    * file — the backfill shape), each micro-batch MERGES its daily
    * delta into the running summary (st6's upsert algebra; additive
    * merges make the final MV independent of how the stream batched),
    * the finished summary spools as the MV, registers with the
    * MaterializedViewRewrite rule, and the UNCHANGED fact-shaped query
    * is answered from it — plan pinned to read the MV, hashes checked
    * against the fact recompute. q77/q173 prove maintenance algebra,
    * q195 proves substitution; st32 proves the LOOP: what the stream
    * maintains is byte-for-byte what the optimizer serves. */
  val st32 = GraftQuery(
    "st32_streaming_mv_serving",
    "Stream-maintained daily-revenue MV registered into the rewrite rule and served",
    (s, dir) => {
      import graft.plans.MaterializedViewRewrite
      val ordSpool = spooled("st32_orders", dir) { p =>
        table(s, dir, "orders")
          .select(col("o_orderkey"), col("o_totalprice"), col("o_orderdate"))
          .coalesce(4).write.mode("overwrite").parquet(p)
      }
      val schema = s.read.parquet(ordSpool).schema
      var mv: DataFrame = s.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](),
        org.apache.spark.sql.types.StructType.fromDDL(
          "d DATE, cents BIGINT"))
      drain(s.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(ordSpool),
          freshCkpt("st32"), shufflePartitions(4), noDataBatches(false))(
        _.foreachBatch { (b: DataFrame, _: Long) =>
          val delta = b.groupBy(to_date(col("o_orderdate")).as("d"))
            .agg(sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)"))
              .as("cents"))
          mv = mv.as("t").join(delta.as("x"), Seq("d"), "full_outer")
            .select(col("d"),
              (coalesce(col("t.cents"), lit(0L))
                + coalesce(col("x.cents"), lit(0L))).as("cents"))
            .localCheckpoint(true)
          ()
        }.start())
      val mvPath = spoolDir(s"st32_mv_${runTag()}")
      mv.coalesce(1).write.mode("overwrite").parquet(mvPath)
      val s2 = scoped(s)
      s2.experimental.extraOptimizations = Seq(MaterializedViewRewrite)
      MaterializedViewRewrite.registry.put("orders.parquet",
        s2.read.parquet(mvPath).queryExecution.analyzed)
      table(s2, dir, "orders")
        .groupBy(to_date(col("o_orderdate")).as("d"))
        .agg(sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)"))
          .as("cents"))
        .orderBy("d")
    },
    Some("""
      SELECT CAST(o_orderdate AS DATE) AS d,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM orders
      GROUP BY 1
      ORDER BY d"""))

  /** MULTI-SOURCE UNION — one streaming query over TWO independent
    * sources (click/view traffic on a 2-file cadence; everything else on
    * a 3-file cadence), unioned BEFORE one stateful windowed aggregate.
    * This is the fan-in every real pipeline has (N kafka topics → one
    * metric) and it exercises machinery no single-source entry touches:
    * the checkpoint tracks per-source offsets (one offset log entry per
    * source per batch — a restart resumes BOTH cursors), and the query's
    * event-time watermark is the MINIMUM across sources, so the slowest
    * source gates eviction — exactly why a stalled low-volume topic
    * freezes a production job's state cleanup. Replayed to completion
    * the union must equal the batch answer over the undivided table
    * (st1's oracle): the split/cadence/fan-in is invisible in the
    * result, visible only in the machinery. */
  val st33 = GraftQuery(
    "st33_multi_source_union",
    "Two file streams with different cadences union into one windowed agg == batch answer",
    (s, dir) => {
      val schema = ev5(s, dir).schema
      val spoolA = fileSpool(s, "st33a", dir)
      val spoolB = fileSpool(s, "st33b", dir)
      val a = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(spoolA)
      val b = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(spoolB)
      drainToLocal(
        a.unionByName(b)
          .withWatermark("ts", "1 hour")
          .groupBy(window(col("ts"), "1 day"), col("event_type"))
          .agg(count(lit(1)).as("n"),
            sum(dec2(col("value"))).cast("double").as("total_value")),
        OutputMode.Complete(), freshCkpt("st33"), shufflePartitions(4))._2
        .select(col("window.start").cast("timestamp_ntz").as("window_start"),
          col("event_type"), col("n"), col("total_value"))
        .orderBy("window_start", "event_type")
    },
    Some("""
      SELECT time_bucket(INTERVAL '1 day', CAST(ts AS TIMESTAMP)) AS window_start,
             event_type,
             count(*) AS n,
             CAST(sum(CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS total_value
      FROM events
      GROUP BY window_start, event_type
      ORDER BY window_start, event_type"""))

  /** STATE-STORE INTROSPECTION — the ops surface Spark 4 added for
    * exactly the question production streaming teams ask at 3am: "what
    * is IN this job's state?" The State Data Source Reader
    * (`spark.read.format("statestore").load(checkpoint)`) opens a
    * checkpoint OFFLINE — no running query, no code of the original job
    * — and returns every state row as (key struct, value struct,
    * partition_id): the tool for auditing state size, diagnosing state
    * skew across partitions, and verifying a migration. Here a complete-
    * mode per-type aggregate runs over the shared events spool, then the
    * entry's OUTPUT is the state store itself, read back from the
    * checkpoint and projected to (event_type, n, total_cents). The
    * DuckDB oracle is the plain batch aggregate over the same events —
    * equal hashes prove the checkpoint's state is a complete, correct
    * mirror of the input (the exactly-once ledger made inspectable).
    * Integer cents inside the stream keep the state values exact. */
  val st34 = GraftQuery(
    "st34_state_store_read",
    "Offline statestore read of a streaming agg checkpoint equals the batch aggregate",
    (s, dir) => {
      val spool = batchSpool(s, "events5", dir)
      val ckpt = freshCkpt("ssr")
      // the entry's output is the state store, so the sink is noop
      drain(s.readStream.schema(ev5(s, dir).schema).parquet(spool)
          .select(col("event_type"),
            expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"), sum("cents").as("total_cents")),
          ckpt, shufflePartitions(4), noDataBatches(false))(
        _.format("noop").outputMode(OutputMode.Complete()).start())
      val state = s.read.format("statestore").load(ckpt)
      // the value struct carries the agg buffer under its function
      // names (count, sum) — the reader exposes internals, not aliases
      val out = state.select(col("key.event_type").as("event_type"),
          col("value.count").as("n"), col("value.sum").as("total_cents"))
        .orderBy("event_type")
      val rows = out.collect()
      require(rows.nonEmpty, "st34: state store read returned no rows")
      s.createDataFrame(java.util.Arrays.asList(rows: _*), out.schema)
    },
    Some("""
      SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS total_cents
      FROM events
      GROUP BY event_type
      ORDER BY event_type"""))

  /** ROCKSDB STATE STORE PROVIDER — the production state backend (the
    * default HDFS-backed provider keeps all state on the JVM heap; at
    * real key cardinality that's an OOM, which is why every large Spark
    * streaming deployment flips `stateStore.providerClass` to RocksDB
    * for off-heap, spill-to-disk state). The provider is a pure config
    * swap — same query code, same checkpoint contract — and this entry
    * PROVES the swap is semantics-free: a finer-grained aggregate
    * (event_type × user parity, more state rows than st34's) runs under
    * RocksDB, and the final answer must equal the batch oracle exactly.
    * The provider conf is read at query START (the body runs the stream
    * eagerly, so set/restore here is sound — st13's rule), and the
    * runtime guard requires the query to have actually committed under
    * the swapped provider. */
  val st35 = GraftQuery(
    "st35_rocksdb_state_store",
    "Same streaming agg under the RocksDB state store provider == batch aggregate",
    (s, dir) => {
      val spool = batchSpool(s, "events5", dir)
      val (q, out) = drainToLocal(
        s.readStream.schema(ev5(s, dir).schema).parquet(spool)
          .select(col("event_type"), expr("user_id % 2").as("upar"),
            expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
          .groupBy("event_type", "upar")
          .agg(count(lit(1)).as("n"), sum("cents").as("total_cents")),
        OutputMode.Complete(), freshCkpt("rocks"),
        shufflePartitions(4), rocksDbState, noDataBatches(false))
      require(q.recentProgress.exists(p => p.stateOperators.nonEmpty &&
        p.stateOperators.exists(_.numRowsTotal > 0)),
        "st35: no state committed under the RocksDB provider")
      out.orderBy("event_type", "upar")
    },
    Some("""
      SELECT event_type, user_id % 2 AS upar,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS total_cents
      FROM events
      GROUP BY event_type, user_id % 2
      ORDER BY event_type, upar"""))

  case class StEvo1(n: Long)
  case class StEvo2(n: Long, cents: Option[Long])

  /** STATE SCHEMA EVOLUTION across a restart — the streaming change
    * nobody can avoid forever: the job restarts with a NEW state shape
    * (here a `cents` metric added to a per-type tally) and must recover
    * the old checkpoint anyway. transformWithState supports this under
    * AVRO state encoding: run 1 writes V1 state {n}, run 2's processor
    * declares V2 {n, cents: Option[Long]} against the SAME checkpoint —
    * recovered rows surface the added field as None, and it accumulates
    * only from the evolution point onward. That back-fill-as-empty
    * semantics is exactly what adding a metric mid-stream means in
    * production, and the entry makes it hash-checkable: final state is
    * read OFFLINE with the statestore source (st34's tool, here with
    * `stateVarName`), n must cover BOTH tranches while cents covers only
    * the post-evolution tranche — which the oracle states directly from
    * the batch table. Runtime guards pin actual recovery (run 2 ingested
    * only its own tranche). */
  val st36 = GraftQuery(
    "st36_state_schema_evolution",
    "transformWithState V1→V2 state evolution across restart: old rows back-fill, new field accrues post-evolution",
    (s, dir) => {
      import org.apache.spark.sql.streaming.{StatefulProcessor, TimeMode, TimerValues}
      import org.apache.spark.sql.Encoders
      class V1 extends StatefulProcessor[String, (String, Long), (String, Long)] {
        @transient private var st: org.apache.spark.sql.streaming.ValueState[StEvo1] = _
        override def init(o: OutputMode, t: TimeMode): Unit =
          st = getHandle.getValueState[StEvo1]("tally", Encoders.product[StEvo1],
            org.apache.spark.sql.streaming.TTLConfig.NONE)
        override def handleInputRows(key: String, rows: Iterator[(String, Long)],
            tv: TimerValues): Iterator[(String, Long)] = {
          var t = if (st.exists()) st.get() else StEvo1(0L)
          rows.foreach(_ => t = StEvo1(t.n + 1))
          st.update(t)
          Iterator.empty
        }
      }
      class V2 extends StatefulProcessor[String, (String, Long), (String, Long)] {
        @transient private var st: org.apache.spark.sql.streaming.ValueState[StEvo2] = _
        override def init(o: OutputMode, t: TimeMode): Unit =
          st = getHandle.getValueState[StEvo2]("tally", Encoders.product[StEvo2],
            org.apache.spark.sql.streaming.TTLConfig.NONE)
        override def handleInputRows(key: String, rows: Iterator[(String, Long)],
            tv: TimerValues): Iterator[(String, Long)] = {
          var t = if (st.exists()) st.get() else StEvo2(0L, None)
          rows.foreach { case (_, c) =>
            t = StEvo2(t.n + 1, Some(t.cents.getOrElse(0L) + c))
          }
          st.update(t)
          Iterator.empty
        }
      }
      val id = runTag()
      val spool = spoolDir(s"evo_spool_$id")
      val ckpt = spoolDir(s"evo_ckpt_$id")
      val batch = ev5(s, dir)
        .select(col("event_type"),
          expr("CAST(round(value * 100) AS BIGINT)").as("cents"),
          col("event_id"))
      import s.implicits._
      def runTranche(tranche: DataFrame,
          proc: StatefulProcessor[String, (String, Long), (String, Long)]): Long = {
        tranche.coalesce(2).write.mode("append").parquet(spool)
        val src = s.readStream.schema(batch.schema).parquet(spool)
        // the processor emits nothing — all results are read from the
        // STATE afterwards — so the sink is noop (memory sinks cannot
        // recover a checkpoint outside complete mode). Avro encoding is
        // what makes the V1→V2 schema change legal.
        val q = drain(src.select(col("event_type"), col("cents"))
            .as[(String, Long)]
            .groupByKey(_._1)
            .transformWithState(proc, TimeMode.None(), OutputMode.Update(),
              Encoders.product[(String, Long)])
            .toDF("k", "v"),
            ckpt, shufflePartitions(4), rocksDbState,
            "spark.sql.streaming.stateStore.encodingFormat" -> "avro")(
          _.format("noop").outputMode(OutputMode.Update()).start())
        q.recentProgress.map(_.numInputRows).sum
      }
      val n1 = runTranche(batch.filter(col("event_id") % 2 === 0), new V1)
      val n2 = runTranche(batch.filter(col("event_id") % 2 === 1), new V2)
      require(n1 > 0 && n2 > 0 && n2 < n1 * 3 / 2,
        s"st36: run 2 read $n2 vs run 1's $n1 — checkpoint not recovered")
      val state = s.read.format("statestore")
        .option("stateVarName", "tally").load(ckpt)
      val out = state.select(col("key.value").as("event_type"),
          col("value.n").as("n"),
          coalesce(col("value.cents"), lit(0L)).as("cents_post_evo"))
        .orderBy("event_type")
      val rows = out.collect()
      require(rows.nonEmpty, "st36: no evolved state rows")
      s.createDataFrame(java.util.Arrays.asList(rows: _*), out.schema)
    },
    Some("""
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN event_id % 2 = 1
               THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT)
               AS cents_post_evo
      FROM events
      GROUP BY event_type
      ORDER BY event_type"""))

  /** st37's incoming-crawl spool: the doc_id % 3 == 0 slice of documents,
    * written once per (sf, JVM) — the stream side of the ingest-dedup
    * entry (the corpus side stays a static frame). */
  private def st37Spool(s: SparkSession, dir: String): String =
    spooled("x_spool_st37inc", dir)(p =>
      table(s, dir, "documents")
        .filter(col("doc_id") % 3 === 0)
        .select(col("doc_id"), col("lang"), col("text"))
        .coalesce(2).write.mode("overwrite").parquet(p))

  /** STREAMING INGEST DEDUP — the first funnel stage of a continuously-fed
    * training corpus, run where it actually runs in production: ON THE
    * INGEST STREAM. Incoming documents arrive as a stream; each is checked
    * against the EXISTING corpus's canonical-key index (d1's exact-dedup
    * digest — sha2 of the normalized 5-word prefix) by a stream-static
    * broadcast join, and the per-language admission report (arrived /
    * duplicate / novel) accumulates in a streaming aggregate. No state
    * grows with the corpus on the stream side — the dedup knowledge lives
    * in the (broadcastable, at scale bucketed) static index, which is why
    * exact-key dedup is the one stage that stays O(1)/doc at 100 TB
    * ingest; d15 is the near-dup (LSH) tier of the same posture, batch.
    * The oracle recomputes the whole admission report from the batch
    * split — equal hashes prove stream-side dedup decisions match batch
    * semantics row-for-row. */
  val st37 = GraftQuery(
    "st37_stream_ingest_dedup",
    "Streaming ingest dedup vs the corpus canonical-key index: per-lang admission report",
    (s, dir) => {
      val corpusIdx = table(s, dir, "documents")
        .filter(col("doc_id") % 3 =!= 0)
        .select(Dedup.canonKey(col("text")).as("k"))
        .distinct()
      val spool = st37Spool(s, dir)
      val schema = s.read.parquet(spool).schema
      runStream(s, spool, schema,
        src => src
          .withColumn("k", Dedup.canonKey(col("text")))
          .join(broadcast(corpusIdx.withColumn("hit", lit(1L))), Seq("k"), "left_outer")
          .groupBy("lang")
          .agg(count(lit(1)).as("n_in"),
            count(col("hit")).as("n_dup"),
            (count(lit(1)) - count(col("hit"))).as("n_novel")),
        OutputMode.Complete(), ordered = false, noDataBatch = false,
        parts = 4)
        .orderBy("lang")
    },
    Some("""
      WITH d AS (SELECT doc_id, lang,
                        array_to_string(string_split(lower(text), ' ')[1:5], ' ') AS k
                 FROM documents),
      corpus AS (SELECT DISTINCT k FROM d WHERE doc_id % 3 <> 0),
      inc AS (SELECT lang, k,
                     CASE WHEN k IN (SELECT k FROM corpus) THEN 1 END AS hit
              FROM d WHERE doc_id % 3 = 0)
      SELECT lang, count(*) AS n_in,
             count(hit) AS n_dup,
             count(*) - count(hit) AS n_novel
      FROM inc
      GROUP BY lang
      ORDER BY lang"""))

  /** STREAMING READ OF A LAKEHOUSE TABLE — `spark.readStream.table(...)`
    * on the V2 catalog (the Delta-streaming-source shape, closing the
    * loop between the catalog family and the streaming family): snapshot
    * VERSIONS are the offsets ([[graft.sources.MemMicroBatchStream]]),
    * and each micro-batch serves exactly the rows appended between its
    * start and end versions. Exercised as the incremental-consumer
    * lifecycle a real pipeline runs: tranche 1 lands at CREATE, an
    * AvailableNow run drains it; tranche 2 lands via SQL INSERT INTO; a
    * SECOND run from the SAME checkpoint reads ONLY the increment —
    * require-guarded by exact tranche row counts, so a from-scratch
    * re-read (which would match the oracle!) fails the entry. The final
    * aggregate over both sink tranches hash-matches the batch recompute
    * of the whole table. Non-append commits in the consumed range refuse
    * loudly (DurableCatalogSpec pins it) — the Delta
    * append-only-streaming contract. At 100 TB this is CDC-style
    * incremental consumption: O(new rows) per trigger, never a re-scan. */
  val st38 = GraftQuery(
    "st38_stream_v2_table",
    "readStream.table on the V2 catalog: snapshot versions as offsets, checkpointed incremental tranches",
    (s, dir) => {
      val s2 = scoped(s, graftCatalog("graft_cat"): _*)
      val id = runTag()
      val tbl = s"graft_cat.corpus.stv_$id"
      val ckpt = spoolDir(s"stv2_ckpt_$id")
      val base = ordersCents(s2, dir)
      // both tranche sizes from ONE parity-grouped scan (guide §1.2) —
      // the two filtered count() jobs each re-scanned orders
      val parCounts = base.groupBy((col("okey") % 2).cast("long").as("par"))
        .count().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val evenN = parCounts.getOrElse(0L, 0L)
      val oddN = parCounts.getOrElse(1L, 0L)
      base.filter(col("okey") % 2 === 0)
        .writeTo(tbl).partitionedBy(col("status")).create() // v1: tranche 1
      // streaming aggregate + Complete memory sink (the st11 recovery
      // shape): the aggregate's state store is what the checkpoint
      // recovers, so run 2 emits the FULL aggregate after reading only
      // its own increment
      def run(): (Long, DataFrame) = {
        val (q, out) = drainToLocal(s2.readStream.table(tbl)
            .groupBy("status")
            .agg(count(lit(1)).as("n"), sum(col("cents")).as("total_cents"),
              max(col("okey")).as("max_key")),
          OutputMode.Complete(), ckpt, shufflePartitions(4))
        (q.recentProgress.map(_.numInputRows).sum, out)
      }
      val (n1, _) = run()
      base.filter(col("okey") % 2 === 1)
        .createOrReplaceTempView(s"stv_src_$id")
      s2.sql(s"INSERT INTO $tbl SELECT okey, status, cents FROM stv_src_$id") // v2
      val (n2, out) = run()
      // exact-increment guards: run 1 read tranche 1 whole; run 2 read
      // EXACTLY tranche 2 (a restart-from-scratch would read both and
      // still match the oracle — these pins are what prove incremental)
      require(n1 == evenN,
        s"st38: run 1 read $n1 rows, expected the $evenN-row create tranche")
      require(n2 == oddN,
        s"st38: run 2 read $n2 rows, expected ONLY the $oddN-row increment")
      out.orderBy("status")
    },
    Some("""
      SELECT o_orderstatus AS status, count(*) AS n,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS total_cents,
             max(o_orderkey) AS max_key
      FROM orders
      GROUP BY o_orderstatus
      ORDER BY status"""))

  /** THE FULL LAKEHOUSE PIPE — table → stream → table, both ends V2
    * catalog tables: st38's versions-as-offsets READ composed with the
    * new STREAMING_WRITE ([[graft.sources.MemStreamingWrite]]), i.e.
    * `readStream.table(src).writeStream.toTable(dst)` — the medallion
    * bronze→silver hop as one statement. The sink's micro-batch commits
    * are EPOCH-IDEMPOTENT (a committed-epoch ledger skips replays — the
    * Delta txn-version discipline that turns at-least-once delivery into
    * exactly-once table state), and the source side recovers offsets
    * from the checkpoint: tranche 2 flows through a SECOND pipe run from
    * the SAME checkpoint, require-guarded to move EXACTLY the increment.
    * The destination is then read back in BATCH and hash-matched to the
    * batch recompute over the whole source — closing the loop: what
    * streamed in incrementally equals what a from-scratch batch copy
    * would have produced. */
  val st39 = GraftQuery(
    "st39_stream_table_pipe",
    "readStream.table -> writeStream.toTable: checkpointed incremental table-to-table pipe, epoch-idempotent sink",
    (s, dir) => {
      val s2 = scoped(s, graftCatalog("graft_cat"): _*)
      val id = runTag()
      val src = s"graft_cat.corpus.pipe_src_$id"
      val dst = s"graft_cat.corpus.pipe_dst_$id"
      val ckpt = spoolDir(s"pipe_ckpt_$id")
      val base = ordersCents(s2, dir)
      // one parity-grouped scan instead of two filtered counts (guide §1.2)
      val parCounts = base.groupBy((col("okey") % 2).cast("long").as("par"))
        .count().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val evenN = parCounts.getOrElse(0L, 0L)
      val oddN = parCounts.getOrElse(1L, 0L)
      base.filter(col("okey") % 2 === 0)
        .writeTo(src).partitionedBy(col("status")).create() // src v1
      s2.sql(s"""CREATE TABLE $dst (okey BIGINT, status STRING, cents BIGINT)
                 PARTITIONED BY (status)""")
      def pipe(): Long =
        drain(s2.readStream.table(src), ckpt)(
          _.outputMode(OutputMode.Append()).toTable(dst))
          .recentProgress.map(_.numInputRows).sum
      val n1 = pipe()
      base.filter(col("okey") % 2 === 1)
        .createOrReplaceTempView(s"pipe_src_v_$id")
      s2.sql(s"INSERT INTO $src SELECT okey, status, cents FROM pipe_src_v_$id")
      val n2 = pipe()
      require(n1 == evenN,
        s"st39: pipe run 1 moved $n1 rows, expected the $evenN-row create tranche")
      require(n2 == oddN,
        s"st39: pipe run 2 moved $n2 rows, expected ONLY the $oddN-row increment")
      s2.sql(
        s"""SELECT status, count(*) AS n, sum(cents) AS total_cents,
                   max(okey) AS max_key
            FROM $dst GROUP BY status ORDER BY status""")
    },
    Some("""
      SELECT o_orderstatus AS status, count(*) AS n,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS total_cents,
             max(o_orderkey) AS max_key
      FROM orders
      GROUP BY o_orderstatus
      ORDER BY status"""))

  /** STREAMING ADMISSION CONTROL on the lakehouse source — the
    * `maxVersionsPerTrigger` rate limit (Delta's maxFilesPerTrigger at
    * commit granularity): a stream catching up on a long backlog must
    * process it in BOUNDED micro-batches, not one giant batch that blows
    * executor memory and holds the state store hostage — at 100 TB this
    * is the difference between a smooth backfill and an OOM'd one. The
    * table accumulates THREE commits before the stream ever starts; with
    * `maxVersionsPerTrigger = 1` the AvailableNow drain is
    * require-guarded to have split into exactly one micro-batch per
    * commit, each carrying exactly that commit's rows (the per-batch
    * numInputRows sequence equals the per-commit tranche sizes — an
    * unlimited drain would be one 3-tranche batch and fail the guard).
    * The final recovered aggregate hash-matches the batch recompute. */
  val st40 = GraftQuery(
    "st40_stream_rate_limit",
    "maxVersionsPerTrigger on the V2 table source: backlog drained one commit per micro-batch",
    (s, dir) => {
      val s2 = scoped(s, graftCatalog("graft_cat"): _*)
      val id = runTag()
      val tbl = s"graft_cat.corpus.rl_$id"
      val base = ordersCents(s2, dir)
      // all three tranche sizes from ONE mod-grouped scan (guide §1.2) —
      // the three filtered count() jobs each re-scanned orders
      val modCounts = base.groupBy((col("okey") % 3).cast("long").as("m"))
        .count().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val sizes = (0 to 2).map(i => modCounts.getOrElse(i.toLong, 0L))
      base.filter(col("okey") % 3 === 0)
        .writeTo(tbl).partitionedBy(col("status")).create()   // commit 1
      base.filter(col("okey") % 3 === 1)
        .createOrReplaceTempView(s"rl_src1_$id")
      s2.sql(s"INSERT INTO $tbl SELECT okey, status, cents FROM rl_src1_$id") // commit 2
      base.filter(col("okey") % 3 === 2)
        .createOrReplaceTempView(s"rl_src2_$id")
      s2.sql(s"INSERT INTO $tbl SELECT okey, status, cents FROM rl_src2_$id") // commit 3
      val (q, out) = drainToLocal(s2.readStream
          .option("maxVersionsPerTrigger", "1")
          .table(tbl)
          .groupBy("status")
          .agg(count(lit(1)).as("n"), sum(col("cents")).as("total_cents"),
            max(col("okey")).as("max_key")),
        OutputMode.Complete(), freshCkpt("rl"), shufflePartitions(4))
      val batchRows = q.recentProgress.map(_.numInputRows)
        .filter(_ > 0).toSeq
      // one micro-batch per data commit, each exactly that commit's rows
      require(batchRows == sizes,
        s"st40: per-batch input rows $batchRows != per-commit tranches $sizes " +
          "— the rate limit did not bound the backlog drain")
      out.orderBy("status")
    },
    Some("""
      SELECT o_orderstatus AS status, count(*) AS n,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS total_cents,
             max(o_orderkey) AS max_key
      FROM orders
      GROUP BY o_orderstatus
      ORDER BY status"""))

  /** ROW-granular streaming admission control — `maxRowsPerTrigger` at
    * TRUE row granularity via COMPOSITE offsets (version, rows-within-
    * increment): where st40's version-granular limit cannot split one
    * oversized commit, this one can — a micro-batch may END MID-COMMIT,
    * with the offset recording exactly how many rows of the next
    * version's increment are consumed (in the deterministic global
    * order: partitions sorted by key, arrival order within each — what
    * makes the split REPLAYABLE from a checkpoint). The fixture commits
    * tranches of exactly 10 then 7 rows; with budget 6 the AvailableNow
    * drain is require-guarded to produce batches of exactly [6, 6, 5] —
    * the middle batch CROSSES the commit boundary (4 rows of tranche 1 +
    * 2 of tranche 2), which no version-granular reader can express. The
    * recovered aggregate hash-matches the batch recompute over the same
    * 17 rows. */
  val st41 = GraftQuery(
    "st41_stream_row_rate_limit",
    "maxRowsPerTrigger with composite offsets: an oversized commit drains in bounded bites, mid-commit splits replayable",
    (s, dir) => {
      val s2 = scoped(s, graftCatalog("graft_cat"): _*)
      val id = runTag()
      val tbl = s"graft_cat.corpus.rrl_$id"
      ordersCents(s2, dir)
        .createOrReplaceTempView(s"rrl_src_$id")
      s2.sql(s"""CREATE TABLE $tbl (okey BIGINT, status STRING, cents BIGINT)
                 PARTITIONED BY (status)""")
      // two commits of EXACTLY 10 and 7 rows at any scale
      s2.sql(s"""INSERT INTO $tbl
                 SELECT okey, status, cents FROM rrl_src_$id
                 ORDER BY okey LIMIT 10""")
      s2.sql(s"""INSERT INTO $tbl
                 SELECT okey, status, cents FROM rrl_src_$id
                 ORDER BY okey LIMIT 7 OFFSET 10""")
      val (q, out) = drainToLocal(s2.readStream
          .option("maxRowsPerTrigger", "6")
          .table(tbl)
          .groupBy("status")
          .agg(count(lit(1)).as("n"), sum(col("cents")).as("total_cents"),
            max(col("okey")).as("max_key")),
        OutputMode.Complete(), freshCkpt("rrl"), shufflePartitions(4))
      val batchRows = q.recentProgress.map(_.numInputRows)
        .filter(_ > 0).toSeq
      // the 17-row backlog drains as 6/6/5 — the middle batch spans the
      // commit boundary, which only a row-granular offset can express
      require(batchRows == Seq(6L, 6L, 5L),
        s"st41: per-batch input rows $batchRows != List(6, 6, 5) " +
          "— row-granular admission did not split the oversized commit")
      out.orderBy("status")
    },
    Some("""
      WITH t AS (
        SELECT o_orderstatus AS status, o_orderkey AS okey,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders ORDER BY o_orderkey LIMIT 17)
      SELECT status, count(*) AS n, CAST(sum(cents) AS BIGINT) AS total_cents,
             max(okey) AS max_key
      FROM t GROUP BY status ORDER BY status"""))

  /** st42's DGIM state: stream position plus the logarithmic bucket list
    * (newest first, sizes nondecreasing toward the tail — powers of two,
    * at most two per size). Memory is O(log² W) per key REGARDLESS of
    * stream length: the whole point. */
  case class DgimEvent(event_type: String, ts: java.sql.Timestamp,
      event_id: Long, bit: Int)
  case class DgimBucket(end: Long, size: Long)
  case class DgimState(pos: Long, buckets: List[DgimBucket])
  case class DgimEmit(event_type: String, n_seen: Long, est: Long,
      n_buckets: Int)

  /** DGIM SLIDING-WINDOW COUNTING (Datar, Gionis, Indyk & Motwani,
    * "Maintaining stream statistics over sliding windows", SICOMP 2002):
    * "how many 1s in the LAST W elements of this stream?" answered with
    * O(log² W) state instead of a W-element ring buffer — the canonical
    * sliding-window sketch the watermark/window operators don't cover
    * (they window by TIME; DGIM windows by COUNT). Exponentially sized
    * buckets (≤2 per power-of-two size; a third triggers a cascade merge
    * of the two oldest) record the positions of recent 1s; expired
    * buckets fall off; the estimate counts every full bucket plus HALF
    * the straddling oldest, provably within 50% of truth. Here each
    * event_type's event stream (ordered by ts, event_id) feeds bit =
    * [event_id % 3 = 0], W = 256, via mapGroupsWithState — per-key state
    * is the bucket list, never the events. The entry audits, per key:
    * the stream position equals the batch count (nothing dropped), the
    * estimate is within the 50% bound of the EXACT last-256 count (the
    * batch window recompute the oracle replays), and the bucket list
    * stayed ≤ 2·log2-bound. At 100 TB per-key "rate over the last N
    * requests" questions keep O(log² N) state per key instead of N —
    * the difference between a state store that fits and one that spills. */
  val st42 = GraftQuery(
    "st42_dgim_window_count",
    "DGIM sliding-window bit counting (W=256, log^2 buckets): 50%-bound audit vs the exact window recompute",
    (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
      val W = 256L
      def us(t: java.sql.Timestamp): Long =
        t.getTime * 1000 + (t.getNanos / 1000) % 1000
      def step(key: String, input: Iterator[DgimEvent],
          state: GroupState[DgimState]): DgimEmit = {
        val evs = input.toSeq.sortBy(e => (us(e.ts), e.event_id))
        val st0 = state.getOption.getOrElse(DgimState(0L, Nil))
        var pos = st0.pos
        var bks = st0.buckets
        evs.foreach { e =>
          pos += 1
          if (e.bit == 1) {
            bks = DgimBucket(pos, 1L) :: bks
            // cascade: a third bucket of some size merges the two OLDEST
            // of that size into one of twice the size (end = the newer's)
            var changed = true
            while (changed) {
              changed = false
              bks.groupBy(_.size).find(_._2.size >= 3).foreach { case (sz, _) =>
                val idxs = bks.zipWithIndex.collect {
                  case (b, i) if b.size == sz => i
                }
                val (i1, i2) = (idxs(idxs.length - 2), idxs(idxs.length - 1))
                val merged = DgimBucket(bks(i1).end, sz * 2)
                bks = bks.zipWithIndex.flatMap {
                  case (_, i) if i == i2 => Nil
                  case (_, i) if i == i1 => List(merged)
                  case (b, _)            => List(b)
                }
                changed = true
              }
            }
          }
          if (bks.nonEmpty && bks.last.end <= pos - W)
            bks = bks.filter(_.end > pos - W)
        }
        val est =
          if (bks.isEmpty) 0L
          else {
            val oldest = bks.last
            bks.init.iterator.map(_.size).sum +
              (if (oldest.size == 1L) 1L else oldest.size / 2)
          }
        state.update(DgimState(pos, bks))
        DgimEmit(key, pos, est, bks.length)
      }
      val streamed = replay(s, "events5", dir,
        src => src
          .select(col("event_type"), col("ts"), col("event_id"),
            when(pmod(col("event_id"), lit(3)) === 0, 1).otherwise(0).as("bit"))
          .as[(String, java.sql.Timestamp, Long, Int)]
          .map(r => DgimEvent(r._1, r._2, r._3, r._4))
          .groupByKey(_.event_type)
          .mapGroupsWithState(GroupStateTimeout.NoTimeout())(step)
          .toDF(),
        OutputMode.Update())
        // multi-batch delivery emits one row per (key, batch); the final
        // state rides the row with the largest stream position
        .groupBy("event_type")
        .agg(max(struct(col("n_seen"), col("est"), col("n_buckets"))).as("f"))
        .select(col("event_type"), col("f.n_seen").as("n_seen"),
          col("f.est").as("est"), col("f.n_buckets").as("n_buckets"))
      // exact window recompute (batch): the last W events per key
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("event_type").orderBy(desc("ts"), desc("event_id"))
      val exact = ev5(s, dir)
        .select(col("event_type"), col("ts"), col("event_id"),
          when(pmod(col("event_id"), lit(3)) === 0, 1L).otherwise(0L).as("bit"))
        .withColumn("rn", row_number().over(w))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          sum(when(col("rn") <= W, col("bit")).otherwise(0L)).as("exact_ones"))
      streamed.join(exact, "event_type")
        .select(col("event_type"), col("n_events"), col("exact_ones"),
          when(col("n_seen") === col("n_events"), 1L).otherwise(0L)
            .as("saw_all"),
          // the DGIM guarantee: |est - exact| <= exact/2 (50%)
          when(abs(col("est") - col("exact_ones")) * 2 <= col("exact_ones"),
            1L).otherwise(0L).as("est_ok"),
          // <= 2 buckets per size over <= log2(2W)+1 = 10 sizes
          when(col("n_buckets") <= 20, 1L).otherwise(0L).as("buckets_ok"))
        .orderBy("event_type")
    },
    Some("""
      WITH e AS (
        SELECT event_type,
               CASE WHEN event_id % 3 = 0 THEN 1 ELSE 0 END AS b,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY CAST(ts AS TIMESTAMP) DESC,
                                           event_id DESC) AS rn
        FROM events)
      SELECT event_type, count(*) AS n_events,
             CAST(sum(CASE WHEN rn <= 256 THEN b ELSE 0 END) AS BIGINT)
               AS exact_ones,
             CAST(1 AS BIGINT) AS saw_all,
             CAST(1 AS BIGINT) AS est_ok,
             CAST(1 AS BIGINT) AS buckets_ok
      FROM e
      GROUP BY event_type
      ORDER BY event_type"""))

  val all: Seq[GraftQuery] = Seq(st1, st2, st3, st4, st5, st6, st7, st8, st9,
    st10, st11, st12, st13, st14, st15, st16, st17, st18, st19, st20, st21,
    st22, st23, st24, st25, st26, st27, st28, st29, st30, st31, st32, st33,
    st34, st35, st36, st37, st38, st39, st40, st41, st42)
}
