package graft.sharing.catalog

import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Expression, V2ExpressionUtils}
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.connector.read.{Batch, Scan, Statistics, SupportsReportStatistics, SupportsRuntimeV2Filtering}
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan
import org.apache.spark.sql.internal.connector.SupportsMetadata
import org.apache.spark.sql.types.StructType

/** The scan of every snapshot read: Spark's `ParquetScan` over the
  * shared files, made runtime-filterable.
  *
  * Spark's v2 `FileScan` does not implement `SupportsRuntimeV2Filtering`,
  * so the optimizer's `PartitionPruning` rule would never plant a dynamic
  * pruning (DPP) filter on a bare one. This wrapper forwards everything
  * else (schema, batch, statistics and the formatted-plan metadata) and
  * advertises the partition columns the scan reads as filterable. When
  * the join's build side materializes, each runtime predicate is turned
  * into a Catalyst partition filter and added to the delegate's
  * `partitionFilters`, so `FileScan.partitions` prunes through
  * `fileIndex.listFiles`: the index that turns the `k=v` path segments
  * into the rows the scan returns also decides which files a runtime
  * filter keeps, with Spark's semantics for every partition type (a
  * NULL partition never satisfies an `IN`). A predicate that does not
  * convert, or names no partition column, is skipped, which keeps files:
  * the join still filters rows, so keeping too much is always correct.
  */
final class GraftScan(initial: ParquetScan) extends Scan
  with SupportsRuntimeV2Filtering with SupportsReportStatistics
  with SupportsMetadata {

  @volatile private var current: ParquetScan = initial

  override def readSchema(): StructType = current.readSchema()
  override def description(): String = current.description()
  override def toBatch: Batch = current.toBatch
  override def estimateStatistics(): Statistics = current.estimateStatistics()
  override def getMetaData(): Map[String, String] = current.getMetaData()

  /** Only the partition columns the scan reads: `PartitionPruning`
    * resolves these against the scan's output, so an unread one would
    * fail the query. */
  override def filterAttributes(): Array[NamedReference] =
    initial.readPartitionSchema.fieldNames.map(Expressions.column)

  override def filter(predicates: Array[Predicate]): Unit = {
    val partitionSchema = initial.fileIndex.partitionSchema
    val converted = predicates.toSeq.flatMap(V2ExpressionUtils.toCatalyst)
      .map(_.transform {
        case a: UnresolvedAttribute if a.nameParts.length == 1 =>
          partitionSchema.find(_.name.equalsIgnoreCase(a.name))
            .fold[Expression](a)(f => AttributeReference(f.name, f.dataType)())
      })
      .filter(_.resolved)
    current = current.copy(partitionFilters = current.partitionFilters ++ converted)
  }
}
