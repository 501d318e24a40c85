package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

package object operators {

  /** One named engine query: the unit of the driver's correctness contract.
    * `build` is the Spark-native implementation; `oracle` the equivalent
    * DuckDB SQL (None for non-SQL-expressible ops → driver falls back to a
    * rows-only check).
    */
  final case class GraftQuery(
      name: String,
      doc: String,
      build: (SparkSession, String) => DataFrame,
      oracle: Option[String])

  /** Read one driver test table (TESTDATA.md layout) from the given sf dir. */
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def deleteRecursively(root: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    if (java.nio.file.Files.exists(root)) {
      val all = java.nio.file.Files.walk(root).iterator().asScala.toSeq
      all.sortBy(-_.getNameCount)
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  /** Scratch directory for queries that spool data into another format
    * before reading it back (Sources, streaming replays). One FIXED dir per
    * caller-chosen name — re-runs overwrite instead of accumulating copies
    * (ADVICE r2) — and the whole root is removed on JVM exit. */
  def spoolDir(name: String): String =
    spoolRoot.resolve(name).toString

  // The build-once memo. Every shared artifact (`x_*` name) and every
  // per-sf spool a query body reuses is built at most once per (name, sf
  // dir, JVM) through `spooled` or `memoized`; `evict` restores
  // FIRST-BUILD semantics for Bench's flagged-artifact re-measure (VERDICT
  // r13 item 1). Builds of one key serialize on a per-key lock (JobRunner's
  // async jobs share a session). A build may read another memo: the
  // dependencies are acyclic (pq9 → coarse → unit spool), so the locks
  // cannot deadlock.
  private val memoLocks = new java.util.concurrent.ConcurrentHashMap[String, AnyRef]()
  private val memoValues = new java.util.concurrent.ConcurrentHashMap[String, AnyRef]()

  private def withMemoLock[T](key: String)(body: => T): T =
    memoLocks.computeIfAbsent(key, _ => new AnyRef).synchronized(body)

  /** The memo key of (name, dir), also its spool's directory name: a
    * readable `name_<mangled dir>` plus a digest of the RAW dir, since
    * mangling alone maps `/a/sf0.1` and `/a_sf0.1` to one name. */
  def memoKey(name: String, dir: String): String = {
    val digest = java.security.MessageDigest.getInstance("SHA-256")
      .digest(dir.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    s"${name}_${dir.replaceAll("[^A-Za-z0-9.]", "_")}_" +
      java.util.HexFormat.of().formatHex(digest, 0, 4)
  }

  /** The spool of (name, dir), written by `write(path)` unless its
    * `_SUCCESS` marker exists. After `write` returns the memo creates the
    * marker if the writer did not (multi-part or hand-staged spools), so a
    * crash mid-build rebuilds instead of serving a partial spool. */
  def spooled(name: String, dir: String)(write: String => Unit): String = {
    val key = memoKey(name, dir)
    val spool = spoolRoot.resolve(key)
    val marker = spool.resolve("_SUCCESS")
    withMemoLock(key) {
      if (!java.nio.file.Files.exists(marker)) {
        write(spool.toString)
        if (!java.nio.file.Files.exists(marker))
          java.nio.file.Files.createFile(
            java.nio.file.Files.createDirectories(spool).resolve("_SUCCESS"))
      }
    }
    spool.toString
  }

  /** The driver-side value of (name, dir) — a trained model — built on
    * first use and stored only once `build` returns. */
  def memoized[T](name: String, dir: String)(build: => T): T = {
    val key = memoKey(name, dir)
    withMemoLock(key) {
      if (!memoValues.containsKey(key)) memoValues.put(key, build.asInstanceOf[AnyRef])
      memoValues.get(key).asInstanceOf[T]
    }
  }

  /** Drop both forms of the (name, dir) memo. */
  def evict(name: String, dir: String): Unit = {
    val key = memoKey(name, dir)
    withMemoLock(key) {
      memoValues.remove(key)
      deleteRecursively(spoolRoot.resolve(key))
    }
  }

  private lazy val spoolRoot: java.nio.file.Path = {
    // Prefer tmpfs (/dev/shm) when present: spools and streaming
    // checkpoints are ephemeral by construction (removed on JVM exit), and
    // the streaming micro-batch commit path fsyncs its offset/state logs —
    // on a disk-backed /tmp that fsync is a fixed per-batch cost the replay
    // doesn't need to pay. Production pipelines put checkpoints on durable
    // storage; a same-JVM replay keeps the same code path, faster medium.
    val shm = java.nio.file.Paths.get("/dev/shm")
    val base =
      if (java.nio.file.Files.isWritable(shm)) shm
      else java.nio.file.Paths.get(sys.props.getOrElse("java.io.tmpdir", "/tmp"))
    val root = base.resolve("graft_spool")
    java.nio.file.Files.createDirectories(root)
    Runtime.getRuntime.addShutdownHook(
      new Thread(() => deleteRecursively(root)))
    root
  }

  /** Exact fixed-point views of the 2-decimal money columns. Aggregating in
    * DECIMAL instead of double makes results independent of float summation
    * order — identical across Spark partitions/shuffles and the DuckDB
    * oracle. */
  def dec2(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    c.cast("decimal(14,2)")
  def dec4(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    c.cast("decimal(4,2)")

  /** The `events` table with `ts` normalized to Spark's session-zoned
    * microsecond TimestampType, whatever physical type the fixture
    * generation stored. Driver fixtures have shipped two generations:
    *
    *   - timestamp[ns]: Spark reads it only as a nano-epoch long via the
    *     legacy conf; floor-divide to micros (the same truncation DuckDB
    *     applies casting TIMESTAMP_NS → TIMESTAMP, keeping oracles equal).
    *   - timestamp[us] (isAdjustedToUTC=false): Spark reads TIMESTAMP_NTZ;
    *     cast to TimestampType, which under the UTC session timezone every
    *     comparing entry point sets preserves the stored micros exactly —
    *     matching DuckDB's naive TIMESTAMP read of the same file.
    *
    * Branching on the LOADED schema (not a fixed assumption) keeps every
    * events consumer working across driver-side fixture regenerations.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    // No-op for non-ns files; lets a ns-generation fixture load as long.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = table(spark, dir, "events")
    raw.schema("ts").dataType match {
      case LongType         => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType    => raw
      case other =>
        throw new IllegalStateException(
          s"events.ts: unexpected physical type $other — fixture generation changed again?")
    }
  }
}
