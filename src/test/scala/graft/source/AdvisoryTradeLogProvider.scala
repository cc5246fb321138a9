package graft.source

import java.util

import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** A read-only `graft-tradelog` whose scans use the advisory builder the
  * row-level operations use: pushed filters skip blocks, and every filter
  * stays with Spark as a residual `Filter`. It is the "before" side of
  * the exact row filter in specs and in [[SliceReadBench]]; load it with
  * `spark.read.format(classOf[AdvisoryTradeLogProvider].getName)`. */
final class AdvisoryTradeLogProvider extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    new TradeLogProvider().inferSchema(options)

  override def getTable(tableSchema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val path = properties.get("path")
    new Table with SupportsRead {
      override def name(): String = s"graft-tradelog (advisory) `$path`"
      override def schema(): StructType = tableSchema
      override def capabilities(): util.Set[TableCapability] =
        util.EnumSet.of(TableCapability.BATCH_READ)
      override def newScanBuilder(options: CaseInsensitiveStringMap)
          : ScanBuilder =
        new TradeLogScanBuilder(path, tableSchema, options,
          exactRows = false)
    }
  }
}
