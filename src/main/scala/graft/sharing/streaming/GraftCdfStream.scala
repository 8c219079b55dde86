package graft.sharing.streaming

import java.util
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, SupportsTriggerAvailableNow}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.sharing._
import graft.sharing.catalog.{GraftScan, SharingProvider}
import graft.sharing.fs.SignedHttpFileSystem.Listing

/** Structured Streaming source that TAILS a shared table's change data
  * feed — the capability the reference stubs outright (its CDF endpoint
  * is a `todo!()`, reference src/client/mod.rs:384-386) and that batch
  * `GraftSharing.readChanges` only covers for a fixed version range.
  *
  * Spark-first design:
  *  - **Offsets are table versions** (the natural CDF cursor): each
  *    micro-batch covers `(startVersion, endVersion]`, discovered via the
  *    `Delta-Table-Version` header — one cheap HEAD-shaped request per
  *    trigger, no file listing until a batch is planned.
  *  - **No custom reader**: the changed files become `graftshare://`
  *    paths whose hive-style segments carry the table's own partition
  *    values PLUS `_change_type`/`_commit_version`/`_commit_timestamp`,
  *    and each batch is planned as a [[graft.sharing.catalog.GraftScan]]
  *    by `GraftScan.table`, like every connector read — the CDF
  *    metadata columns materialize through ordinary partition discovery,
  *    typed by the declared schema, vectorized end to end, and a URL
  *    that expires before its task reads it is re-listed. A 1000-file
  *    commit plans 1000+ parallel splits; nothing but the version cursor
  *    is driver-state.
  *  - **Restart safety for free**: versions are monotone and the offset
  *    log persists `{"version":N}`, so checkpoint recovery replays
  *    exactly the unprocessed versions (exactly-once downstream with an
  *    idempotent/transactional sink, same as any file source).
  *
  * Entry point: `GraftSharing.readChangesStream(spark, profilePath, ref,
  * startingVersion)` or
  * `spark.readStream.format("graft-sharing-cdf").option("path",
  * "<profile>#<share>.<schema>.<table>").option("startingVersion", n)`.
  */
final class GraftCdfStreamProvider extends SharingProvider {

  override def shortName(): String = "graft-sharing-cdf"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    GraftCdfStream.cdfSchema(connect(options, None)._3)

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val options = new CaseInsensitiveStringMap(properties)
    val (client, ref, metadata) = connect(options, None, consume = true)
    // start bound: a version, or an ISO-8601 timestamp the server
    // resolves to the earliest version committed at/after it (one
    // metadata probe at stream start; the checkpointed cursor then owns
    // progress — recovery never re-resolves the timestamp, so a log
    // truncation between restarts cannot silently shift the start)
    val byVersion = Option(options.get("startingVersion")).map(_.toLong)
    val byTime = Option(options.get("startingTimestamp"))
    val startingVersion = (byVersion, byTime) match {
      case (Some(_), Some(_)) => throw DeltaSharingException.parseSecurable(
        "startingVersion and startingTimestamp are mutually exclusive")
      case (Some(v), None) => v
      case (None, Some(ts)) => client.getTableVersion(ref, Some(ts))
      case (None, None) => throw DeltaSharingException.parseSecurable(
        "graft-sharing-cdf requires option startingVersion or startingTimestamp")
    }
    new GraftCdfStreamTable(client, ref, metadata, startingVersion)
  }
}

object GraftCdfStream {
  val ChangeTypeCol = "_change_type"
  val VersionCol = "_commit_version"
  val TimestampCol = "_commit_timestamp"

  /** Streamed schema: the files' data columns first, then the table's
    * own partition columns, then the CDF metadata columns — matching the
    * path-segment order below, because a V2 file scan emits
    * readDataSchema ++ readPartitionSchema. */
  def cdfSchema(metadata: Metadata): StructType = {
    val full = DeltaSchema.fromSchemaString(metadata.schemaString)
    val partSet = metadata.partitionColumns.toSet
    val dataFields = full.fields.filterNot(f => partSet(f.name))
    val partFields = metadata.partitionColumns.map(full.apply)
    StructType(dataFields.toSeq ++ partFields ++ Seq(
      StructField(ChangeTypeCol, StringType, nullable = false),
      StructField(VersionCol, LongType, nullable = false),
      StructField(TimestampCol, LongType, nullable = true)))
  }

  /** A change listing's files, each with the CDF columns as path
    * segments after the table's partition values (a missing timestamp ⇒
    * NULL), typed by [[cdfSchema]] in the scan. */
  def changeFiles(changes: Seq[Actions.ChangeAction])
      : Seq[(FileAction, Seq[(String, String)])] =
    changes.map(c => c.file -> Seq(ChangeTypeCol -> c.changeType,
      VersionCol -> c.version.toString,
      TimestampCol -> c.timestamp.fold("")(_.toString)))
}

final class GraftCdfStreamTable(client: DeltaSharingClient, ref: TableRef,
    metadata: Metadata, startingVersion: Long) extends Table with SupportsRead {

  private val schema0 = GraftCdfStream.cdfSchema(metadata)

  override def name(): String = s"$ref@changes"
  override def schema(): StructType = schema0
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.MICRO_BATCH_READ).asJava

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => new Scan {
      override def readSchema(): StructType = schema0
      override def description(): String = s"GraftCdfScan $ref"
      override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
        new GraftCdfMicroBatchStream(client, ref, metadata, startingVersion)
    }
}

/** `{"version":N}` — the committed table version this cursor has fully
  * consumed. */
final case class VersionOffset(version: Long) extends Offset {
  override def json: String = s"""{"version":$version}"""
}

final class GraftCdfMicroBatchStream(client: DeltaSharingClient,
    ref: TableRef, metadata: Metadata, startingVersion: Long)
  extends MicroBatchStream with SupportsTriggerAvailableNow {

  // Trigger.AvailableNow pins the target version once at query start so
  // the run terminates even while the table keeps committing.
  @volatile private var availableNowTarget: Option[Long] = None
  // The factory for the most recently planned batch. planInputPartitions
  // always runs before createReaderFactory within a micro-batch plan
  // (the exec node builds its partition list first).
  @volatile private var plannedFactory: Option[PartitionReaderFactory] = None

  private def currentVersion(): Long = client.getTableVersion(ref)

  override def initialOffset(): Offset = VersionOffset(startingVersion - 1)

  override def latestOffset(): Offset =
    VersionOffset(availableNowTarget.getOrElse(currentVersion()))

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTarget = Some(currentVersion())

  /** Admission control (inherited via SupportsTriggerAvailableNow): CDF
    * versions are consumed whole — no sub-version rate limiting. */
  override def latestOffset(start: Offset,
      limit: org.apache.spark.sql.connector.read.streaming.ReadLimit): Offset =
    latestOffset()

  override def deserializeOffset(json: String): Offset = {
    val m = """\{\s*"version"\s*:\s*(-?\d+)\s*\}""".r
    json.trim match {
      case m(v) => VersionOffset(v.toLong)
      case other => throw DeltaSharingException.parseResponse(
        s"malformed CDF stream offset: $other")
    }
  }

  /** For batches with zero partitions (version advanced by a
    * metadata-only commit, or an empty offset range): the exec still
    * instantiates a reader factory for its RDD, so hand it one that can
    * never legitimately be asked for a reader. */
  private object EmptyBatchFactory extends PartitionReaderFactory {
    override def createReader(p: InputPartition)
        : org.apache.spark.sql.connector.read.PartitionReader[
            org.apache.spark.sql.catalyst.InternalRow] =
      throw new IllegalStateException(
        "reader requested for an empty CDF micro-batch")
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val from = start.asInstanceOf[VersionOffset].version + 1
    val to = end.asInstanceOf[VersionOffset].version
    if (from > to) { plannedFactory = Some(EmptyBatchFactory); return Array.empty }
    val (_, meta, changes) = client.getTableChanges(ref, from, Some(to))
    // Schema drift guard: a running stream plans every batch against the
    // schema captured at query start — if the server now declares a
    // different schema (or partitioning) for this range, planning with
    // the stale one would silently misread columns. Fail loudly with the
    // typed error; a RESTART re-infers the new schema and resumes from
    // the checkpointed version cursor (old files read newly-added
    // columns as NULL through ordinary parquet evolution — certified by
    // StreamingCdfSpec's restart-under-schema-change test).
    val declared = DeltaSchema.fromSchemaString(meta.schemaString)
    val expected = DeltaSchema.fromSchemaString(metadata.schemaString)
    // Read-compatible re-serializations (metadata/comment churn, nullable
    // tightening) must NOT kill a healthy stream — only structural drift
    // or nullability widening does (DeltaSchema.readCompatible).
    if (!DeltaSchema.readCompatible(expected, declared) ||
        meta.partitionColumns != metadata.partitionColumns)
      throw DeltaSharingException.schemaChanged(
        s"$ref schema changed under a running CDF stream (versions " +
          s"[$from,$to]): expected ${expected.simpleString}, server now " +
          s"declares ${declared.simpleString}. Restart the query to adopt " +
          "the new schema; the checkpoint cursor is preserved.")
    if (changes.isEmpty) { plannedFactory = Some(EmptyBatchFactory); return Array.empty }

    val batch = GraftScan.table(client, ref, s"$ref@changes[$from,$to]",
      GraftCdfStream.cdfSchema(metadata), metadata.partitionColumns,
      Listing.of(changes), GraftCdfStream.changeFiles(changes))
      .newScanBuilder(CaseInsensitiveStringMap.empty()).build().toBatch
    plannedFactory = Some(batch.createReaderFactory())
    batch.planInputPartitions()
  }

  override def createReaderFactory(): PartitionReaderFactory =
    plannedFactory.getOrElse(throw new IllegalStateException(
      "createReaderFactory before planInputPartitions"))

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}
