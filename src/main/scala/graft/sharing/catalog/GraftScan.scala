package graft.sharing.catalog

import java.util
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Expression, V2ExpressionUtils}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.connector.read.{Batch, Scan, ScanBuilder, Statistics, SupportsPushDownRequiredColumns, SupportsReportStatistics, SupportsRuntimeV2Filtering}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.{ParquetScan, ParquetScanBuilder, ParquetTable}
import org.apache.spark.sql.internal.connector.{SupportsMetadata, SupportsPushDownCatalystFilters}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.sharing.{DeltaSharingClient, FileAction, TableRef}
import graft.sharing.fs.SignedHttpFileSystem
import graft.sharing.fs.SignedHttpFileSystem.{Listing, RefreshSpec}

/** The scan of every connector read: Spark's `ParquetScan` over the
  * shared files, made runtime-filterable. Built only through
  * [[GraftScan.table]].
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
final class GraftScan private[catalog] (initial: ParquetScan) extends Scan
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

object GraftScan {

  /** The one way a file listing becomes a scan: the snapshot read, the
    * change feed and every CDF micro-batch plan through it. Each file
    * becomes a `graftshare://` path under one synthetic base, its `extra`
    * segments after the table's partition values
    * ([[SignedHttpFileSystem.encodeAll]]). When the client's profile was
    * read from a file, every path carries a [[RefreshSpec]] naming
    * `listing` and the URL's expiry, so a URL that expires before its
    * task reads it is re-listed on the executor. The result is Spark's
    * parquet table over the paths — `schema` types the data columns and
    * every segment, `options` are the caller's, plus the `basePath` — and
    * every scan of it is a [[GraftScan]]. */
  def table(client: DeltaSharingClient, ref: TableRef, name: String,
      schema: StructType, partitionColumns: Seq[String], listing: Listing,
      files: Seq[(FileAction, Seq[(String, String)])],
      options: util.Map[String, String] = util.Map.of()): ListingTable = {
    val spark = SparkSession.active
    SignedHttpFileSystem.register(spark.sparkContext.hadoopConfiguration)
    val (paths, base) = SignedHttpFileSystem.encodeAll(partitionColumns,
      files, f => client.profile.path.map(RefreshSpec(_, ref.share,
        ref.schema, ref.name, f.id, listing, f.expirationTimestamp)))
    val opts = new util.HashMap[String, String](options)
    opts.put("basePath", base)
    new ListingTable(ParquetTable(name, spark,
      new CaseInsensitiveStringMap(opts), paths, Some(schema),
      classOf[ParquetFileFormat]))
  }
}

/** Spark's parquet table over one listing's paths, read-only, whose
  * every scan is a [[GraftScan]]. */
final class ListingTable private[catalog] (parquet: ParquetTable)
  extends Table with SupportsRead {
  override def name(): String = parquet.name
  override def schema(): StructType = parquet.schema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : ListingScanBuilder =
    new ListingScanBuilder(parquet.newScanBuilder(options))
}

/** Spark's parquet scan builder — column pruning, partition and data
  * filters as Spark pushes them — building a [[GraftScan]]. */
final class ListingScanBuilder private[catalog] (delegate: ParquetScanBuilder)
  extends ScanBuilder with SupportsPushDownCatalystFilters
  with SupportsPushDownRequiredColumns {
  override def pushFilters(filters: Seq[Expression]): Seq[Expression] =
    delegate.pushFilters(filters)
  override def pushedFilters: Array[Predicate] = delegate.pushedFilters
  override def pruneColumns(schema: StructType): Unit =
    delegate.pruneColumns(schema)
  override def build(): GraftScan = new GraftScan(delegate.build())
}
