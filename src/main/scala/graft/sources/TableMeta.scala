package graft.sources

import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.StructType

/** An identity column: connector-assigned sequence values, filled at
  * commit for NULL arrivals ([[MemTable.fillIdentity]]); GENERATED ALWAYS
  * (`allowExplicit = false`) REJECTS non-null arrivals at commit, since
  * Spark's analyzer does not enforce it for V2 connectors. */
private[graft] case class IdentitySpec(col: String, start: Long, step: Long,
    allowExplicit: Boolean)

/** The durable spill's per-table write layout
  * (TBLPROPERTIES('spillRowGroupBytes'/'spillPageRows'/
  * 'spillBloomFilterColumns')): row-group byte target, page row-count
  * limit (what gives one row group MANY pages, the unit of column-index
  * skipping), and the columns that spill with a parquet bloom filter. */
private[graft] case class SpillLayout(rowGroupBytes: Option[Long] = None,
    pageRows: Option[Int] = None, bloomCols: Seq[String] = Nil)

/** Every contract one catalog table declared, as ONE immutable record —
  * the Glue `get_table` shape (partition keys, storage descriptor and
  * parameters in one dict, gluettalax.py:379,407-411). Built only by
  * [[TableMeta.parse]], held in one process-wide map keyed like
  * [[MemTable.store]], and always replaced whole, so CREATE, CTAS, DROP,
  * RENAME, evict and restart cannot disagree about which contracts a
  * table carries. A new per-table contract is a field here, parsed in
  * `parse` and carried by [[DurableManifest]].
  *
  *  - `partCol`: the partition column (PARTITIONED BY).
  *  - `deltaIdCol`: TBLPROPERTIES('deltaIdCol') — row-level operations
  *    take the delta (merge-on-read) path; the column is stored
  *    non-nullable ([[stored]]).
  *  - `checks`: enforced CHECK constraints (name, predicate SQL) in
  *    declaration order, read back by [[MemTableImpl.constraints]].
  *  - `generated`: `GENERATED ALWAYS AS (expr)` columns (name, expression
  *    SQL) in schema order, synthesized/validated at commit
  *    ([[MemTable.fillGenerated]]).
  *  - `sortedBy`: TBLPROPERTIES('sortedBy') — [[MemTable.publish]] keeps
  *    every partition ordered by it, and scans report the ordering.
  *  - `extendedPushdown`: TBLPROPERTIES('extendedPushdown'='true') — the
  *    scan accepts and enforces ALL compilable v1 filters source-side
  *    (also the precondition for DSv2 join pushdown).
  *  - `clustered`: TBLPROPERTIES('writeDistribution'='clustered') — the
  *    Write declares RequiresDistributionAndOrdering, so each task writes
  *    exactly one partition group (Iceberg's write-distribution mode).
  *  - `spill`: the durable spill's write layout. */
private[graft] case class TableMeta(
    partCol: String = "",
    deltaIdCol: String = "",
    identity: Option[IdentitySpec] = None,
    checks: Seq[(String, String)] = Nil,
    generated: Seq[(String, String)] = Nil,
    sortedBy: Option[String] = None,
    extendedPushdown: Boolean = false,
    clustered: Boolean = false,
    spill: SpillLayout = SpillLayout()) {

  /** The schema as stored: row-ID attributes must be NON-NULL (Spark's
    * WriteDelta analyzer contract), which also makes INSERTs enforce it. */
  def stored(schema: StructType): StructType =
    if (deltaIdCol.isEmpty) schema
    else StructType(schema.fields.map(f =>
      if (f.name == deltaIdCol) f.copy(nullable = false) else f))

  /** Declared properties served back through Table.properties (SHOW
    * TBLPROPERTIES / SHOW CREATE TABLE / DESCRIBE EXTENDED). */
  def properties: Map[String, String] =
    sortedBy.map("sortedBy" -> _).toMap ++
      (if (extendedPushdown) Map("extendedPushdown" -> "true") else Map.empty) ++
      (if (clustered) Map("writeDistribution" -> "clustered") else Map.empty) ++
      (if (deltaIdCol.nonEmpty) Map("deltaIdCol" -> deltaIdCol) else Map.empty)

  /** ALTER TABLE … RENAME/DROP COLUMN guard: rows are positional, so a
    * column that anchors a declared contract refuses rather than
    * silently detaching from it. `verb` names the DDL in the message. */
  def requireUnanchored(col: String, verb: String): Unit = {
    require(col != partCol, s"graft catalog: cannot $verb the partition column")
    require(!sortedBy.contains(col) && deltaIdCol != col &&
      !identity.exists(_.col == col) && !generated.exists(_._1 == col),
      s"graft catalog: column $col anchors a declared table contract " +
        "(sortedBy/deltaIdCol/identity/generated) — drop the contract first")
    require(!generated.exists(g => TableMeta.exprReferences(g._2, col)),
      s"graft catalog: column $col is referenced by a generation expression")
    require(!checks.exists(c => TableMeta.exprReferences(c._2, col)),
      s"graft catalog: column $col is referenced by a CHECK constraint " +
        "— drop the constraint first")
  }
}

private[graft] object TableMeta {
  /** table key → its record, shared by every catalog instance in the
    * process (Spark may instantiate the catalog more than once; an
    * instance-scoped map would reload tables without their contracts). */
  private val byKey = new scala.collection.concurrent.TrieMap[String, TableMeta]

  /** The record of a table key; keys without one (non-catalog runIds,
    * dropped tables) read as the empty record. */
  def of(key: String): TableMeta = byKey.getOrElse(key, TableMeta())
  def put(key: String, meta: TableMeta): Unit = byKey.put(key, meta)
  def forget(key: String): Unit = byKey.remove(key)
  /** `to` takes `from`'s record whole (or none) — RENAME, and the staged
    * commit that replaces the real key's contracts with the staged ones. */
  def move(from: String, to: String): Unit = byKey.remove(from) match {
    case Some(m) => byKey.put(to, m)
    case None    => byKey.remove(to)
  }
  /** Replace a table's record with `f` of it (ALTER … ADD/DROP CONSTRAINT). */
  def update(key: String)(f: TableMeta => TableMeta): Unit =
    byKey.put(key, f(of(key)))

  /** THE parse of a table definition — shared by CREATE and every staged
    * create (CTAS / RTAS / CREATE OR REPLACE), so both honor the same
    * properties. Validates at declaration: a CREATE this engine cannot
    * honor fails at CREATE, not at the first insert or commit. Identity
    * and CHECK constraints arrive outside the schema and properties (the
    * Column[] and TableInfo create variants capture them). */
  def parse(schema: StructType, partitions: Array[Transform],
      properties: java.util.Map[String, String],
      identity: Option[IdentitySpec] = None,
      checks: Seq[(String, String)] = Nil): TableMeta = {
    val pc = partitions.headOption
      .map(_.references().head.fieldNames().head).getOrElse("")
    def prop(name: String): Option[String] =
      Option(properties.get(name)).filter(_.nonEmpty)
    def column(name: String, c: String): String = {
      require(schema.fieldNames.contains(c),
        s"graft catalog: $name '$c' not in schema")
      c
    }
    identity.foreach(i => require(i.col != pc,
      "graft catalog: the identity column cannot be the partition column"))
    // GENERATED ALWAYS AS (expr): the analyzer validated the expression
    // and left its SQL in the column metadata; compile it NOW so an
    // expression this engine cannot evaluate refuses at CREATE
    import org.apache.spark.sql.catalyst.util.GeneratedColumn
    val gens = schema.fields.toSeq.flatMap(f =>
      GeneratedColumn.getGenerationExpression(f).map(sql => (f.name, sql)))
    gens.foreach { case (c, sql) =>
      require(c != pc,
        "graft catalog: a generated column cannot be the partition column")
      GeneratedColumnEval.compile(schema, sql,
        schema(schema.fieldIndex(c)).dataType, c)
    }
    val deltaIdCol = prop("deltaIdCol").map(column("deltaIdCol", _)).getOrElse("")
    val sortedBy = prop("sortedBy").map(column("sortedBy", _))
    def positive(name: String): Option[Long] = prop(name).map { s =>
      val v = try s.toLong catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"graft catalog: $name must be a positive integer, got '$s'")
      }
      require(v > 0, s"graft catalog: $name must be positive, got $v")
      v
    }
    val spill = SpillLayout(positive("spillRowGroupBytes"),
      positive("spillPageRows").map(_.toInt),
      Option(properties.get("spillBloomFilterColumns")).toSeq
        .flatMap(_.split(",").map(_.trim).filter(_.nonEmpty))
        .map(column("spillBloomFilterColumns", _)))
    val clustered = Option(properties.get("writeDistribution")) match {
      case Some("clustered") =>
        require(pc.nonEmpty,
          "graft catalog: writeDistribution=clustered requires PARTITIONED BY")
        true
      case Some(other) => throw new IllegalArgumentException(
        s"graft catalog: unsupported writeDistribution '$other' (only: clustered)")
      case None => false
    }
    TableMeta(pc, deltaIdCol, identity, checks, gens, sortedBy,
      Option(properties.get("extendedPushdown")).exists(_.equalsIgnoreCase("true")),
      clustered, spill)
  }

  /** Does a stored expression SQL (generation expression, CHECK
    * predicate) reference column `col`? Parsed, not substring-matched —
    * `okey` in an expression must not pin down a column named `k` — and
    * CASE-INSENSITIVE, matching Spark's default resolver (ADVICE r13:
    * `CHECK (Cents >= 0)` must block a rename of `cents`). An
    * unparseable expression falls back to the conservative substring
    * check (refusing a rename is recoverable; silently detaching a
    * contract is not). */
  private def exprReferences(sql: String, col: String): Boolean =
    try {
      org.apache.spark.sql.catalyst.parser.CatalystSqlParser
        .parseExpression(sql).collect {
          case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
            a.nameParts.last
        }.exists(_.equalsIgnoreCase(col))
    } catch {
      case scala.util.control.NonFatal(_) =>
        sql.toLowerCase(java.util.Locale.ROOT)
          .contains(col.toLowerCase(java.util.Locale.ROOT))
    }
}
