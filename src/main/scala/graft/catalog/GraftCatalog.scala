package graft.catalog

import java.io.FileNotFoundException
import scala.collection.mutable
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, GraftCatalogBridge, SparkSession}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.catalyst.analysis.{NoSuchPartitionException, NoSuchPartitionsException, NoSuchTableException, PartitionsAlreadyExistException}
import org.apache.spark.sql.catalyst.catalog.{CatalogStatistics, CatalogTable, CatalogTablePartition, CatalogUtils}
import org.apache.spark.sql.catalyst.catalog.CatalogTypes.TablePartitionSpec
import org.apache.spark.sql.classic.ClassicConversions.castToImpl
import org.apache.spark.sql.execution.command.{CommandUtils, DDLUtils}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import graft._
import graft.functions.Functions.{globMatch, utf8Order}

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
  * text or starts a Spark job. A partition write is the session-catalog
  * calls `ALTER TABLE … ADD|DROP PARTITION` makes; bulk discovery lists the
  * stored partitions once and creates the new ones in chunks of
  * `spark.sql.addPartitionInBatch.size`, one metastore call each (the
  * reference's BatchCreatePartition). `list_partitions` still fetches
  * every partition and glob-filters on the client.
  */
final class GraftCatalog(spark: SparkSession) {

  private def tableId(db: String, table: String) = TableIdentifier(table, Some(db))

  private def sessionCatalog = spark.sessionState.catalog

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
    val rows = sessionCatalog.listDatabases().flatMap { db =>
      val listed = pushed match {
        case Some(p) => sessionCatalog.listTables(db, p)
        case None => sessionCatalog.listTables(db)
      }
      listed.map(ti => (ti.database.getOrElse(db), ti.table))
    }
    val df = rows.sorted(Ordering.Tuple2(utf8Order, utf8Order))
      .toDF("database_name", "table_name")
    pat.map(p => df.filter(globMatch(col("table_name"), p))).getOrElse(df)
  }

  /** Table metadata or the reference's typed error
    * (gluettalax.py:379-381 → TableNotFound). */
  private def getTable(db: String, table: String) =
    try sessionCatalog.getTableMetadata(tableId(db, table))
    catch {
      case _: NoSuchTableException => throw TableNotFound(s"Table $table not found")
    }

  /** A9: list partitions with the width aggregate and sort-by-location
    * (gluettalax.py:374-395). */
  def listPartitions(db: String, table: String): PartitionListing = {
    val meta = getTable(db, table)
    val keys = meta.partitionColumnNames
    if (keys.isEmpty) return PartitionListing(Nil, Nil, Nil)
    val parts = sessionCatalog.listPartitions(tableId(db, table))
    val rows = parts.map { p =>
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

  /** A new partition inheriting the table's storage format, at `location`. */
  private def partition(meta: CatalogTable, spec: TablePartitionSpec, location: String) =
    CatalogTablePartition(spec,
      meta.storage.copy(locationUri = Some(CatalogUtils.stringToURI(location))))

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
    spark.catalog.refreshTable(meta.identifier.quotedString)
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
      sessionCatalog.createPartitions(meta.identifier, Seq(part), ignoreIfExists = false)
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
      sessionCatalog.dropPartitions(meta.identifier,
        Seq(normalized(meta, meta.partitionColumnNames.zip(values).toMap)),
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
    discoverPartitions(db, table, location, sessionCatalog.listPartitions(_))

  /** Discovery with the stored-partition listing as a parameter, so a test
    * can hand it a stale one. One listing classifies every parsed dir: a
    * spec already stored, or met in an earlier dir of this run, exists. The
    * rest are created in chunks of `spark.sql.addPartitionInBatch.size`,
    * one atomic metastore call each. A chunk that meets a partition the
    * listing missed (a concurrent add) is redone one partition at a time,
    * so each dir still gets its own outcome. */
  private[graft] def discoverPartitions(db: String, table: String, location: String,
      stored: TableIdentifier => Seq[CatalogTablePartition]): Seq[(String, DiscoveryOutcome)] = {
    val meta = partitionedTable(db, table)
    val keys = meta.partitionColumnNames
    val hadoopPath = new Path(location)
    val fs = hadoopPath.getFileSystem(spark.sessionState.newHadoopConf())
    val files = mutable.ArrayBuffer.empty[String]
    try {
      val it = fs.listFiles(hadoopPath, true)
      while (it.hasNext) files += it.next().getPath.toString
    } catch {
      case _: FileNotFoundException => throw InvalidOption(s"Path $location not found")
    }
    val dirs = files.map(f => f.substring(0, f.lastIndexOf('/'))).distinct.sorted.toSeq
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
    val seen = mutable.Set(stored(meta.identifier).map(_.spec): _*)
    val fresh = specs.collect {
      case (dir, Some(spec)) if seen.add(spec) => dir -> partition(meta, spec, dir + "/")
    }
    val added = mutable.Map.empty[String, CatalogTablePartition]
    def create(batch: Seq[(String, CatalogTablePartition)]): Unit = {
      sessionCatalog.createPartitions(meta.identifier, batch.map(_._2), ignoreIfExists = false)
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
