package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

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

  /** Read one fixture table (TESTDATA.md layout) from the given sf dir.
    * The only fixture reader: a bare `spark.read.parquet` infers the file's
    * schema with a Spark job of its own before the query's action, and
    * here that inference runs once per [[fixtureSchema]] key; every read
    * passes its result as a user-specified schema. Each call still builds
    * a fresh DataFrame (fresh attribute ids), so two reads of one table in
    * a self-join stay unambiguous. */
  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    spark.read.schema(fixtureSchema(spark, path)).parquet(path)
  }

  /** The schema `spark.read.parquet(path)` infers, built once per (path,
    * length and modification time of every leaf file, every set
    * `spark.sql.parquet.*` / `spark.sql.legacy.parquet.*` conf): a
    * rewritten file, `events()`'s `nanosAsLong` or an `inferTimestampNTZ`
    * flip infers afresh. A missing path lists no files, and the inference
    * then fails as the bare read did (a failed build is not stored). */
  private def fixtureSchema(spark: SparkSession, path: String): StructType = {
    val p = new org.apache.hadoop.fs.Path(path)
    val files =
      try leafFiles(p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
        .map(f => s"${f.getPath}:${f.getLen}:${f.getModificationTime}").sorted
      catch { case _: java.io.FileNotFoundException => Nil }
    val confs = spark.conf.getAll.toSeq.sorted.collect {
      case (k, v) if k.startsWith("spark.sql.parquet.") ||
          k.startsWith("spark.sql.legacy.parquet.") => s"$k=$v"
    }
    memoized("schema", (path +: (files ++ confs)).mkString("|"))(
      spark.read.parquet(path).schema)
  }

  /** DuckDB oracle text: the L2 norm, in DOUBLE, of the float list `v`. */
  def sqlNorm(v: String): String =
    s"sqrt(list_aggregate(list_transform($v, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))"

  /** DuckDB oracle text: the dot product, in DOUBLE, of the float lists
    * `a` and `b` (`p` names the zipped pair in the lambda). */
  def sqlDot(a: String, b: String, p: String): String =
    s"list_aggregate(list_transform(list_zip($a, $b), $p -> CAST($p[1] AS DOUBLE) * CAST($p[2] AS DOUBLE)), 'sum')"

  /** `orders` as (okey, status, cents), plus any `extra` columns: the
    * frame the lakehouse entries load into their catalog tables. */
  def ordersCents(s: SparkSession, dir: String, extra: Column*): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    table(s, dir, "orders").select(Seq(col("o_orderkey").as("okey"),
      col("o_orderstatus").as("status"),
      expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents")) ++ extra: _*)
  }

  /** `s.newSession()` with `conf` set: the one way a builder gets a
    * session of its own, for conf, temp views, functions or optimizer
    * rules. The caller's session, which JobRunner's async jobs share, is
    * left as it was. The new session starts from the SparkContext's conf,
    * not from conf set on `s` at runtime, and shares the executor's
    * classloader ([[graft.Sessions.sharedClassloader]]) even when `s` was
    * built elsewhere. */
  def scoped(s: SparkSession, conf: (String, String)*): SparkSession = {
    val s2 = s.newSession()
    (graft.Sessions.sharedClassloader +: conf).foreach { case (k, v) => s2.conf.set(k, v) }
    s2
  }

  /** The conf pairs that register [[graft.sources.GraftSparkCatalog]] as
    * catalog `name`, spilling to `warehouse` when one is given. */
  def graftCatalog(name: String, warehouse: Option[String] = None): Seq[(String, String)] =
    (s"spark.sql.catalog.$name" -> "graft.sources.GraftSparkCatalog") +:
      warehouse.map(s"spark.sql.catalog.$name.warehouse" -> _).toSeq

  private val runSeq = new java.util.concurrent.atomic.AtomicLong(0)

  /** A name suffix unique ACROSS JVMs, not just within one: pid + counter.
    * Two concurrent Verify/Bench processes share the spool root (tmpfs),
    * and a bare per-JVM counter made both claim `ckpt_1` — the second then
    * died on "does not support recovering from checkpoint location". Run
    * checkpoints, spools and catalog tables are never meant to be shared
    * between runs (each replay is a fresh query). */
  def runTag(): String = s"${ProcessHandle.current().pid()}_${runSeq.incrementAndGet()}"

  /** Every file under `root`, or `root` itself when it is a file, found by
    * walking `listStatus`; a missing root throws FileNotFoundException.
    * The statuses are the plain ones `listStatus` returns. Hadoop's
    * recursive file iterator instead builds a located status per entry,
    * which reads the entry's permission, owner and group, and on the local
    * file system without the native Hadoop library each such read forks
    * `ls -ld`. */
  def leafFiles(fs: org.apache.hadoop.fs.FileSystem, root: org.apache.hadoop.fs.Path)
      : Seq[org.apache.hadoop.fs.FileStatus] =
    fs.listStatus(root).toSeq.flatMap(s => if (s.isDirectory) leafFiles(fs, s.getPath) else Seq(s))

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

  // The build-once memo. Every shared artifact (`x_*` name), every
  // per-sf spool a query body reuses and every fixture schema `table`
  // reads with is built at most once per (name, sf dir, JVM) through
  // `spooled` or `memoized`; `evict` restores FIRST-BUILD semantics for
  // Bench's flagged-artifact re-measure (VERDICT r13 item 1). Builds of
  // one key serialize on a per-key lock (JobRunner's async jobs share a
  // session). A build may read another memo: the dependencies are acyclic
  // (pq9 → coarse → unit spool → fixture schema), so the locks cannot
  // deadlock.
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
