package org.apache.spark.sql

import org.apache.spark.sql.catalyst.catalog.CatalogTable
import org.apache.spark.sql.catalyst.catalog.CatalogTypes.TablePartitionSpec

/** The partition-spec resolution `ALTER TABLE … PARTITION (…)` applies
  * (Spark keeps `PartitioningUtils` private[sql]), for partition writes
  * made on the session catalog directly: key names to the table's own,
  * each value cast to its key's type and back to a string. */
object GraftCatalogBridge {
  def normalizePartitionSpec(spark: SparkSession, table: CatalogTable,
      spec: TablePartitionSpec): TablePartitionSpec =
    util.PartitioningUtils.normalizePartitionSpec(spec, table.partitionSchema,
      table.identifier.quotedString, spark.sessionState.conf.resolver)
}
