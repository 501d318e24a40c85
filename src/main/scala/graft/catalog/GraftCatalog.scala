package graft.catalog

import java.io.FileNotFoundException
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, GraftCatalogBridge, SparkSession}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchPartitionException, NoSuchPartitionsException, NoSuchTableException, PartitionsAlreadyExistException}
import org.apache.spark.sql.catalyst.catalog.{CatalogStatistics, CatalogTable, CatalogTablePartition, CatalogUtils}
import org.apache.spark.sql.catalyst.catalog.CatalogTypes.TablePartitionSpec
import org.apache.spark.sql.catalyst.util.CharVarcharUtils
import org.apache.spark.sql.classic.ClassicConversions.castToImpl
import org.apache.spark.sql.execution.command.{CommandUtils, DDLUtils}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import graft._
import graft.functions.Functions.{globMatch, utf8Order}
import graft.operators.{deleteRecursively, leafFiles}

/** Partition listing result — the reference's `Partitions` namedtuple
  * (gluettalax.py:371): key names, per-column display widths (max value
  * length, seeded with the label length), and rows of values + location,
  * sorted by location. */
final case class PartitionListing(
    partitionKeys: Seq[String],
    maxLengths: Seq[Int],
    data: Seq[Seq[String]])

/** The engine's catalog & partition-metadata surface — the reference's
  * Layer A core (SURVEY.md §2 A1/A2, A9-A14) restated on Spark's session
  * catalog instead of the Glue API.
  *
  * Scale note: everything here is metadata-plane — catalog calls and
  * directory listings, never row data, and no command goes through SQL
  * text or starts a Spark job. A partition command reads the table once
  * and then calls the external catalog (the metastore) directly, running
  * the session catalog's spec checks itself: the session catalog would
  * re-read the table, and ask whether its database and the table exist,
  * before each call. A partition write otherwise makes the steps of
  * `ALTER TABLE … ADD|DROP PARTITION`; bulk discovery lists the stored
  * partitions once and creates the new ones in chunks of
  * `spark.sql.addPartitionInBatch.size`, one metastore call each (the
  * reference's BatchCreatePartition). `list_partitions` still fetches
  * every partition and glob-filters on the client.
  */
final class GraftCatalog(spark: SparkSession) {

  private def tableId(db: String, table: String) = TableIdentifier(table, Some(db))

  private def sessionCatalog = spark.sessionState.catalog

  private def external = sessionCatalog.externalCatalog

  /** A pattern is handed to the session catalog's own listing ONLY when
    * every non-`*` character is a regex-safe literal. The catalog dialect
    * (`StringUtils.filterPattern`) treats the pattern as a REGEX with
    * `*`→`.*`: any other metachar (`+` `(` `)` `{` `^` `$` `\` …) would
    * prune names the fnmatch contract keeps — e.g. `a+b*` as a regex
    * misses table `a+b_x` — and an INVALID regex silently yields an empty
    * listing; the residual filter can only prune, never restore (ADVICE
    * r6). Over-matching is safe (the residual fnmatch filter prunes the
    * extras), which is why `.` — any-char in regex, literal in fnmatch —
    * and the dialect's case-insensitivity are fine; under-matching is the
    * only unsafe direction. */
  private[graft] def catalogPushable(p: String): Boolean =
    p.forall(c => c.isLetterOrDigit || c == '_' || c == '*' || c == '.' || c == '-')

  /** A1/A2: all tables of all databases, optionally glob-filtered on the
    * table name (fnmatch dialect).
    *
    * Glob PUSHDOWN (SURVEY §4): when the pattern is expressible in the
    * catalog's listing dialect it is handed to `listTables(db, pattern)`,
    * so the catalog prunes DURING the scan — at warehouse scale that is
    * the difference between one filtered metastore call and paginating
    * every table name to the client (which is what the reference does,
    * gluettalax.py:654,678,742,799). The catalog dialect matches a
    * superset (it is case-insensitive), so the exact case-sensitive
    * fnmatch predicate always remains as a residual DataFrame filter —
    * pushdown prunes, the contract stays fnmatch.
    *
    * The rows are sorted on the driver, in Spark's string order, before
    * they become a local relation: the filter folds into it, so `collect()`
    * starts no Spark job. */
  def listTables(pattern: Option[String] = None): DataFrame = {
    import spark.implicits._
    val pat = pattern.filter(_.nonEmpty)
    val pushed = pat.filter(catalogPushable)
    val glob = pushed.getOrElse("*")
    // a local temp view belongs to no database: listed once, with an empty
    // database name, as SHOW TABLES reports it
    val rows = sessionCatalog.listDatabases().flatMap { db =>
      sessionCatalog.listTables(db, glob, includeLocalTempViews = false)
        .map(ti => (ti.database.getOrElse(db), ti.table))
    } ++ sessionCatalog.listLocalTempViews(glob).map(ti => ("", ti.table))
    val df = rows.sorted(Ordering.Tuple2(utf8Order, utf8Order))
      .toDF("database_name", "table_name")
    pat.map(p => df.filter(globMatch(col("table_name"), p))).getOrElse(df)
  }

  /** Table metadata or the reference's typed error (gluettalax.py:379-381
    * → TableNotFound). It is `getTableMetadata`'s result (catalog name
    * attached, char/varchar read as string) in one metastore call: the
    * session catalog first asks whether the database and the table exist.
    * A failed read is redone through the session catalog, so a missing
    * database keeps the session catalog's own error. */
  private def getTable(db: String, table: String): CatalogTable =
    try {
      val id = sessionCatalog.qualifyIdentifier(tableId(db, table))
      val t = external.getTable(id.database.get, id.table)
      t.copy(identifier = t.identifier.copy(catalog = t.identifier.catalog.orElse(id.catalog)),
        schema = CharVarcharUtils.replaceCharVarcharWithStringInSchema(t.schema))
    } catch {
      case _: NoSuchTableException | _: NoSuchNamespaceException =>
        try sessionCatalog.getTableMetadata(tableId(db, table))
        catch { case _: NoSuchTableException => throw TableNotFound(s"Table $table not found") }
    }

  /** Every stored partition of a table read with [[getTable]]. */
  private def storedPartitions(meta: CatalogTable): Seq[CatalogTablePartition] =
    external.listPartitions(meta.database, meta.identifier.table)

  /** A9: list partitions with the width aggregate and sort-by-location
    * (gluettalax.py:374-395). */
  def listPartitions(db: String, table: String): PartitionListing = {
    val meta = getTable(db, table)
    val keys = meta.partitionColumnNames
    if (keys.isEmpty) return PartitionListing(Nil, Nil, Nil)
    val rows = storedPartitions(meta).map { p =>
      keys.map(k => p.spec.getOrElse(k, "")) :+
        p.storage.locationUri.map(_.toString).getOrElse("-")
    }
    // the A9 dataflow: project values+location → max(length) per column
    // (seeded with label length) → sort by location
    val sorted = rows.sortBy(_.last)
    val lengths = keys.zipWithIndex.map { case (k, i) =>
      (k.length +: sorted.map(_(i).length)).max
    }
    PartitionListing(keys, lengths, sorted)
  }

  /** A10: the any-column-matches glob row filter (gluettalax.py:742). */
  def filterPartitions(listing: PartitionListing, pattern: Option[String]): Seq[Seq[String]] =
    pattern.filter(_.nonEmpty) match {
      case None => listing.data
      case Some(p) =>
        val re = ("^" + graft.functions.Functions.globToRegex(p) + "$").r
        listing.data.filter(row => row.exists(v => re.matches(v)))
    }

  /** A11: validate CLI partition kwargs against the table's partition keys;
    * returns values in key order (gluettalax.py:357-368). */
  def getPartitionValues(kargs: Map[String, String], partitionKeys: Seq[String]): Seq[String] = {
    if (kargs.size != partitionKeys.size)
      throw InvalidOption(
        s"${partitionKeys.size} partitions required (" +
          partitionKeys.map(k => s"--$k=XXX").mkString(" ") + ")")
    partitionKeys.map(k =>
      kargs.getOrElse(k, throw InvalidOption(s"missing --$k argument")))
  }

  /** Metadata of a table that partition writes can target: a table
    * without partition keys (a view included) is an InvalidOption naming
    * it. */
  private def partitionedTable(db: String, table: String): CatalogTable = {
    val meta = getTable(db, table)
    if (meta.partitionColumnNames.isEmpty)
      throw InvalidOption(s"Table $db.$table is not partitioned")
    meta
  }

  /** A spec as `ALTER TABLE … PARTITION (…)` resolves it: key names to the
    * table's own, each value cast to its key's type and back to a string
    * (`01` for an INT key is stored as `1`). */
  private def normalized(meta: CatalogTable, spec: TablePartitionSpec): TablePartitionSpec =
    GraftCatalogBridge.normalizePartitionSpec(spark, meta, spec)

  /** A new partition inheriting the table's storage format, at `location`.
    * A location with no scheme is resolved against the table's location
    * and qualified, as the session catalog's `createPartitions` does
    * (`/data/x` is stored as `file:/data/x`). */
  private def partition(meta: CatalogTable, spec: TablePartitionSpec, location: String) = {
    val uri = CatalogUtils.stringToURI(location)
    val qualified = if (uri.isAbsolute) uri else CatalogUtils.makeQualifiedPath(
      CatalogUtils.stringToURI(new Path(new Path(meta.location), new Path(uri)).toString),
      spark.sessionState.newHadoopConf())
    CatalogTablePartition(spec, meta.storage.copy(locationUri = Some(qualified)))
  }

  /** Store `parts` in one metastore call, after the session catalog's spec
    * checks. Each missing `file:` directory is made first ([[makeLocalDir]]);
    * if the call fails, the topmost level made here is removed again. */
  private def createPartitions(meta: CatalogTable, parts: Seq[CatalogTablePartition]): Unit = {
    GraftCatalogBridge.requireValidPartitionSpecs(meta, parts.map(_.spec), exact = true)
    val made = parts.flatMap(_.storage.locationUri).flatMap(makeLocalDir)
    try external.createPartitions(meta.database, meta.identifier.table, parts, ignoreIfExists = false)
    catch { case e: Throwable => made.foreach(deleteRecursively); throw e }
  }

  /** Make a missing `file:` partition directory with java.nio, each new
    * level given the permissions of the level above it, as the metastore's
    * inherit-perms step gives them. The metastore then finds the directory
    * and skips its own mkdir, which on the local file system without the
    * native Hadoop library forks `chmod`, `chgrp` and `ls -ld`. Returns the
    * topmost level made: none when nothing was missing, or when java.nio
    * could not make it (the metastore then tries, and reports its own
    * error). */
  private def makeLocalDir(uri: java.net.URI): Option[java.nio.file.Path] =
    if (uri.getScheme != "file") None
    else {
      val dir = Paths.get(uri.getPath)
      val missing = Iterator.iterate(dir)(_.getParent).takeWhile(Files.notExists(_)).toSeq
      missing.lastOption.flatMap { top =>
        try {
          Files.createDirectories(dir)
          val perms = Files.getPosixFilePermissions(top.getParent)
          missing.foreach(Files.setPosixFilePermissions(_, perms))
          Some(top)
        } catch { case _: java.io.IOException => deleteRecursively(top); None }
      }
    }

  /** One partition write, with the steps `ALTER TABLE … ADD|DROP PARTITION`
    * runs (Spark's AlterTableAddPartitionCommand and
    * AlterTableDropPartitionCommand) but made on the session catalog
    * directly, with no SQL text to build, parse and analyze: verify the
    * table, write, refresh its cached relation, update its size stats.
    * `write` returns the partitions it created (none for a drop); an add
    * that created none stops there, as a failed ALTER TABLE does. */
  private def alterPartitions(meta: CatalogTable, add: Boolean)(
      write: => Seq[CatalogTablePartition]): Unit = {
    DDLUtils.verifyAlterTableType(sessionCatalog, meta, isView = false)
    DDLUtils.verifyPartitionProviderIsHive(spark, meta,
      s"ALTER TABLE ${if (add) "ADD" else "DROP"} PARTITION")
    val added = write
    if (add && added.isEmpty) return
    // with no cached data, dropping the table's cached relation is enough:
    // the next read builds a new one, whose file index lists afresh
    if (spark.sharedState.cacheManager.isEmpty) sessionCatalog.refreshTable(meta.identifier)
    else spark.catalog.refreshTable(meta.identifier.quotedString)
    val session = castToImpl(spark)
    if (add && meta.stats.nonEmpty && session.sessionState.conf.autoSizeUpdateEnabled) {
      // an add grows the stored size by the new partitions' files only
      val addedSize = CommandUtils.calculateMultipleLocationSizes(session, meta.identifier,
        added.map(_.storage.locationUri)).sum
      if (addedSize > 0) {
        sessionCatalog.alterTableStats(meta.identifier,
          Some(CatalogStatistics(sizeInBytes = meta.stats.get.sizeInBytes + addedSize)))
        sessionCatalog.alterPartitions(meta.identifier, added)
      }
    } else CommandUtils.updateTableStats(session, meta)
  }

  /** A12: add one partition. Location defaults to the table location plus
    * either the Hive-style `k1=v1/k2=v2/` path or — when every key is named
    * `partition_*` — the positional `v1/v2/` dialect (gluettalax.py:460-469,
    * trailing-slash handling per changelog.txt:83-89). AlreadyExists
    * surfaces as the exit-0 warning. */
  def addPartition(db: String, table: String, kargs: Map[String, String],
      location: Option[String] = None): Unit = {
    val meta = partitionedTable(db, table)
    val keys = meta.partitionColumnNames
    val values = getPartitionValues(kargs, keys)
    val loc = location.getOrElse {
      val tableLocation0 = meta.location.toString
      val tableLocation =
        if (tableLocation0.endsWith("/")) tableLocation0 else tableLocation0 + "/"
      val path =
        if (kargs.keys.forall(_.startsWith("partition_")))
          values.mkString("/") + "/" // non-Hive positional dialect
        else
          keys.map(k => s"$k=${kargs(k)}").mkString("/") + "/"
      tableLocation + path
    }
    try alterPartitions(meta, add = true) {
      val part = partition(meta, normalized(meta, keys.zip(values).toMap), loc)
      createPartitions(meta, Seq(part))
      Seq(part)
    } catch {
      case _: PartitionsAlreadyExistException =>
        throw PartitionAlreadyExists(s"Partition [${values.mkString(", ")}] already exists")
    }
  }

  /** A14: drop one partition; missing → typed error (gluettalax.py:485-497). */
  def deletePartition(db: String, table: String, kargs: Map[String, String]): Unit = {
    val meta = partitionedTable(db, table)
    val values = getPartitionValues(kargs, meta.partitionColumnNames)
    try alterPartitions(meta, add = false) {
      val spec = normalized(meta, meta.partitionColumnNames.zip(values).toMap)
      GraftCatalogBridge.requireValidPartitionSpecs(meta, Seq(spec), exact = false)
      external.dropPartitions(meta.database, meta.identifier.table, Seq(spec),
        ignoreIfNotExists = false, purge = false, retainData = false)
      Nil
    } catch {
      case _: NoSuchPartitionException | _: NoSuchPartitionsException =>
        throw PartitionNotFound(s"Partition [${values.mkString(", ")}] not found")
    }
  }

  /** Per-directory outcome of bulk discovery. */
  sealed trait DiscoveryOutcome
  case object Added extends DiscoveryOutcome
  case object AlreadyExists extends DiscoveryOutcome
  case object Skipped extends DiscoveryOutcome

  /** A13: bulk partition discovery from a directory layout
    * (gluettalax.py:398-441): list files under the prefix → distinct sorted
    * dirnames → anchor on the first `<key0>=` segment → parse `k=v` pairs
    * positionally → SKIP malformed dirs (per-dir skip-and-continue, fixing
    * the reference's crash-on-no-match, SURVEY §7 known-hard (e)) → create
    * each partition, tolerating already-exists per dir.
    *
    * ≈ `MSCK REPAIR TABLE`, but with the reference's exact semantics and a
    * per-directory outcome report. */
  def addPartitionsByLocation(db: String, table: String, location: String)
      : Seq[(String, DiscoveryOutcome)] =
    discoverPartitions(db, table, location, storedPartitions)

  /** Discovery with the stored-partition listing as a parameter, so a test
    * can hand it a stale one. One listing classifies every parsed dir: a
    * spec already stored, or met in an earlier dir of this run, exists. The
    * rest are created in chunks of `spark.sql.addPartitionInBatch.size`,
    * one atomic metastore call each. A chunk that meets a partition the
    * listing missed (a concurrent add) is redone one partition at a time,
    * so each dir still gets its own outcome. */
  private[graft] def discoverPartitions(db: String, table: String, location: String,
      stored: CatalogTable => Seq[CatalogTablePartition]): Seq[(String, DiscoveryOutcome)] = {
    val meta = partitionedTable(db, table)
    val keys = meta.partitionColumnNames
    val hadoopPath = new Path(location)
    val fs = hadoopPath.getFileSystem(spark.sessionState.newHadoopConf())
    val files =
      try leafFiles(fs, hadoopPath).map(_.getPath.toString)
      catch { case _: FileNotFoundException => throw InvalidOption(s"Path $location not found") }
    val dirs = files.map(f => f.substring(0, f.lastIndexOf('/'))).distinct.sorted
    val specs = dirs.map { dir =>
      val parts = dir.split('/')
      val anchored = parts.indexWhere(_.startsWith(keys.head + "="))
      val segs = if (anchored < 0) Array.empty[String] else parts.drop(anchored)
      val values = keys.zipWithIndex.flatMap { case (k, i) =>
        if (i < segs.length && segs(i).startsWith(k + "="))
          Some(k -> segs(i).split("=", 2)(1))
        else None
      }
      dir -> Option.when(values.size == keys.size)(normalized(meta, values.toMap))
    }
    val seen = mutable.Set(stored(meta).map(_.spec): _*)
    val fresh = specs.collect {
      case (dir, Some(spec)) if seen.add(spec) => dir -> partition(meta, spec, dir + "/")
    }
    val added = mutable.Map.empty[String, CatalogTablePartition]
    def create(batch: Seq[(String, CatalogTablePartition)]): Unit = {
      createPartitions(meta, batch.map(_._2))
      added ++= batch
    }
    alterPartitions(meta, add = true) {
      fresh.grouped(spark.sessionState.conf.getConf(SQLConf.ADD_PARTITION_BATCH_SIZE)).foreach { chunk =>
        try create(chunk)
        catch {
          case _: PartitionsAlreadyExistException =>
            chunk.foreach { p =>
              try create(Seq(p)) catch { case _: PartitionsAlreadyExistException => () }
            }
        }
      }
      added.values.toSeq
    }
    specs.map {
      case (dir, None) => dir -> Skipped
      case (dir, Some(_)) => dir -> (if (added.contains(dir)) Added else AlreadyExists)
    }
  }
}
