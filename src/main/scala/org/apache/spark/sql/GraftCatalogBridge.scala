package org.apache.spark.sql

import org.apache.spark.sql.catalyst.catalog.CatalogTable
import org.apache.spark.sql.catalyst.catalog.CatalogTypes.TablePartitionSpec
import org.apache.spark.sql.errors.QueryCompilationErrors

/** What the session catalog does to a partition spec, for partition writes
  * made on its external catalog directly (Spark keeps `PartitioningUtils`,
  * its error factory and the session catalog's checks private[sql]). */
object GraftCatalogBridge {

  /** The partition-spec resolution `ALTER TABLE … PARTITION (…)` applies:
    * key names to the table's own, each value cast to its key's type and
    * back to a string. */
  def normalizePartitionSpec(spark: SparkSession, table: CatalogTable,
      spec: TablePartitionSpec): TablePartitionSpec =
    util.PartitioningUtils.normalizePartitionSpec(spec, table.partitionSchema,
      table.identifier.quotedString, spark.sessionState.conf.resolver)

  /** The spec checks the session catalog makes before a partition write
    * reaches its external catalog: every partition key named (`exact`, an
    * add) or only partition keys named (a drop), then no empty value. */
  def requireValidPartitionSpecs(table: CatalogTable, specs: Seq[TablePartitionSpec],
      exact: Boolean): Unit = {
    val keys = table.partitionColumnNames
    specs.foreach { s =>
      if (exact)
        util.PartitioningUtils.requireExactMatchedPartitionSpec(table.identifier.toString, s, keys)
      else if (!s.keys.forall(keys.contains))
        throw QueryCompilationErrors.invalidPartitionSpecError(
          s"The spec (${s.keys.mkString(", ")}) must be contained within the partition spec " +
            s"(${keys.mkString(", ")}) defined in table '${table.identifier}'")
    }
    specs.foreach { s =>
      if (s.values.exists(v => v != null && v.isEmpty))
        throw QueryCompilationErrors.invalidPartitionSpecError(
          s"The spec (${s.map(p => p._1 + "=" + p._2).mkString("[", ", ", "]")}) " +
            "contains an empty partition column value")
    }
  }
}
