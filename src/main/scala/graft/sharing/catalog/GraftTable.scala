package graft.sharing.catalog

import java.util
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, Literal}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference, Transform}
import org.apache.spark.sql.connector.expressions.aggregate.{AggregateFunc, Aggregation, Count, CountStar, Max, Min}
import org.apache.spark.sql.connector.read.{LocalScan, Scan, ScanBuilder, SupportsPushDownAggregates, SupportsPushDownLimit, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.graftshim.V2Relation

import org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.sharing._
import graft.sharing.fs.SignedHttpFileSystem.Listing

/** DSv2 table over a shared Delta table (reference
  * src/datasource/table.rs:144-218), the one relation of every snapshot
  * read: catalog SQL, the format reader and `GraftSharing.readTable`.
  * Read-only batch scans; `versionAsOf` pins every server query to a
  * past version (SQL `VERSION AS OF` routes here through GraftCatalog).
  * `hints` and `limitHint` are `readTable`'s explicit seeds, merged into
  * each scan's listing (see [[GraftScanBuilder]]). */
final class GraftTable private[sharing] (client: DeltaSharingClient,
    ref: TableRef, metadata: Metadata, versionAsOf: Option[Long] = None,
    hints: Seq[Filter] = Nil, limitHint: Option[Long] = None)
  extends Table with SupportsRead {

  private val fullSchema: StructType =
    V2Relation.nullable(DeltaSchema.fromSchemaString(metadata.schemaString))

  override def name(): String =
    versionAsOf.fold(ref.toString)(v => s"$ref@v$v")
  override def schema(): StructType = fullSchema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava

  override def partitioning(): Array[Transform] =
    metadata.partitionColumns.map(c => Expressions.identity(c)).toArray

  override def properties(): util.Map[String, String] =
    (metadata.configuration ++
      metadata.version.map("delta.version" -> _) ++
      metadata.size.map(s => "delta.sizeInBytes" -> s.toString) ++
      metadata.numFiles.map(n => "delta.numFiles" -> n.toString)).asJava

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftScanBuilder(client, ref, metadata, fullSchema, options,
      versionAsOf, hints, limitHint)
}

/** Pushdown negotiation (reference src/datasource/table.rs:174-213):
  *
  *  - filters: recorded and reported fully-residual (the reference's
  *    Inexact semantics, table.rs:207 — Spark keeps every filter above
  *    the scan, so best-effort server pruning can never drop rows);
  *  - columns: delegated (vectorized reader prunes parquet columns);
  *  - limit: forwarded as `limitHint`, reported PARTIAL (`pushLimit`
  *    returns false) so Spark keeps the global limit, mirroring
  *    table.rs:127-137 + scan.rs:80;
  *  - seeds: `readTable`'s explicit `seedFilters` and `seedLimit` join
  *    the pushed filters and limit in the same hint and the same stats
  *    skipping. They are hints only — never replayed into the parquet
  *    scan, never enforced — and while either is present no aggregate is
  *    answered from stats, since the listing may omit files.
  *
  * The server `query` POST is deferred to `build()`, AFTER Spark has
  * pushed filters, limit, and columns — so the single request carries
  * BOTH `jsonPredicateHints` and `limitHint` (pushing filters eagerly
  * would fire the POST before `pushLimit` runs, and the limit hint would
  * never reach the server). Hints also drive driver-side stats skipping
  * ([[StatsPruning]]: dropping files whose min/max envelope excludes a
  * hinted filter — purely an optimization, the residual filter still
  * runs), so wire hint and skipping never drift apart. When the client's
  * profile was read from a file, each path carries a refresh spec, so a
  * URL that expires before its task reads it is re-listed on the
  * executor. The recorded filters are then replayed into
  * Spark's own ParquetScanBuilder, which still prunes hive-style
  * partition directories locally and pushes data filters into the
  * parquet reader — trustworthy local pruning on top of the hint.
  *
  * The scan itself IS Spark's ParquetScan over `graftshare://` paths that
  * embed the signed URLs (+ hive-style partition-value segments), so
  * execution gets whole-stage codegen, vectorized decode, and
  * one-or-more splits per file — not the reference's single-partition
  * scan (scan.rs:77). It is built by `GraftScan.table`, the one path of
  * every connector read, so it is a [[GraftScan]], partitioned or not,
  * and a runtime (DPP) filter prunes through Spark's own file index,
  * with Spark's semantics.
  */
final class GraftScanBuilder private[sharing] (client: DeltaSharingClient,
    ref: TableRef, metadata: Metadata, fullSchema: StructType,
    options: CaseInsensitiveStringMap, versionAsOf: Option[Long],
    seedFilters: Seq[Filter], seedLimit: Option[Long])
  extends ScanBuilder
  with SupportsPushDownCatalystFilters
  with SupportsPushDownRequiredColumns
  with SupportsPushDownLimit
  with SupportsPushDownAggregates {

  private val spark = SparkSession.active
  private var requiredSchema: Option[StructType] = None
  private var catalystFilters: Seq[Expression] = Seq.empty
  private var limitHint: Option[Long] = None
  private var delegate: Option[ListingScanBuilder] = None

  /** Fire the (single) query POST with the seeds and every pushed hint,
    * skip files by stats, then build the delegating scan builder over
    * the listing and replay recorded pushdowns. */
  private def freshDelegate(): ListingScanBuilder = {
    val ops = (seedFilters.flatMap(PredicateHints.fromFilter(_, fullSchema)) ++
      catalystFilters.flatMap(PredicateHints.fromCatalyst(_, fullSchema)))
      .distinct
    val (_, meta, listed) = client.getTableData(ref,
      PredicateHints.toHintJson(ops), (seedLimit ++ limitHint).minOption,
      versionAsOf)
    val files = StatsPruning.prune(listed, ops)
    val b = GraftScan.table(client, ref, ref.toString, fullSchema,
      meta.partitionColumns, Listing.Snapshot(versionAsOf),
      files.map(_ -> Nil), options).newScanBuilder(options)
    requiredSchema.foreach(b.pruneColumns)
    if (catalystFilters.nonEmpty) b.pushFilters(catalystFilters)
    delegate = Some(b)
    b
  }

  /** Inexact pushdown: record the filters for the hint, return ALL of
    * them as residuals. No server round-trip yet. */
  override def pushFilters(filters: Seq[Expression]): Seq[Expression] = {
    catalystFilters = filters
    delegate = None
    filters
  }

  override def pushedFilters: Array[org.apache.spark.sql.connector.expressions.filter.Predicate] =
    delegate.map(_.pushedFilters).getOrElse(Array.empty)

  override def pruneColumns(schema: StructType): Unit = {
    requiredSchema = Some(schema)
    delegate.foreach(_.pruneColumns(schema))
  }

  /** PARTIAL limit: hint only; Spark keeps the global limit. */
  override def pushLimit(limit: Int): Boolean = {
    limitHint = Some(limit.toLong)
    delegate = None
    false
  }

  // ---- Metadata-only COUNT pushdown ---------------------------------
  //
  // COUNT(*) / COUNT(col) — optionally grouped by partition columns —
  // is answered ENTIRELY from the file listing when every listed file
  // carries Delta `stats.numRecords`: the scan becomes a driver-local
  // row set (LocalTableScanExec) and ZERO parquet bytes are read. At
  // 100 TB this turns the most common cardinality probe ("how many rows
  // does this share have / per partition?") from a full-table network
  // read into one metadata POST. The reference cannot do this: it
  // parses stats and discards them (src/client/action.rs:180-183) and
  // reports Statistics::new_unknown (src/datasource/scan.rs:154-156).
  //
  // Exactness preconditions (any failure ⇒ refuse, normal scan):
  //  - no residual filters, no limit hint and no seeds (Spark only
  //    offers the aggregate when nothing sits between Aggregate and the
  //    scan, but the guard is kept local so the pushdown can never
  //    silently ignore a recorded filter; a seeded scan lists only the
  //    files its hints keep, so stats of the full listing would answer
  //    for files it does not read);
  //  - group-by columns are top-level partition columns (their exact
  //    values travel as per-file partitionValues — empty string ⇒ NULL,
  //    the rule the scan path applies through the hive default-partition
  //    segment of SignedHttpFileSystem.encodeAll);
  //  - COUNT(*) sums numRecords; COUNT(col) needs per-file
  //    nullCount[col] (data column: numRecords − nullCount; partition
  //    column: 0 when the file's value is NULL, else numRecords);
  //    DISTINCT never pushes.
  // Deletion vectors cannot undermine numRecords here: DV-bearing
  // shares are rejected at metadata time (Actions.scala reader-feature
  // gate), so listed files are plain parquet with exact counts.
  private var pushedAggScan: Option[GraftLocalScan] = None
  private var aggPlanCache: Option[(Aggregation, Option[GraftLocalScan])] = None

  private def plannedAgg(agg: Aggregation): Option[GraftLocalScan] = {
    if (!aggPlanCache.exists(_._1 eq agg))
      aggPlanCache = Some(agg -> planAggregation(agg))
    aggPlanCache.get._2
  }

  /** Complete pushdown only: the scan rows ARE the final aggregate
    * results (no partial-agg re-combination above). */
  override def supportCompletePushDown(agg: Aggregation): Boolean =
    plannedAgg(agg).isDefined

  override def pushAggregation(agg: Aggregation): Boolean = {
    pushedAggScan = plannedAgg(agg)
    pushedAggScan.isDefined
  }

  /** Case-insensitively resolve a single-part field reference to its
    * canonical schema name. */
  private def canonical(name: String): Option[StructField] =
    fullSchema.fields.find(_.name.equalsIgnoreCase(name))

  private def planAggregation(agg: Aggregation): Option[GraftLocalScan] = {
    if (catalystFilters.nonEmpty || limitHint.nonEmpty ||
        seedFilters.nonEmpty || seedLimit.nonEmpty) return None
    val partLower = metadata.partitionColumns.map(_.toLowerCase).toSet

    // group-by: single-part references to partition columns only
    val groupFields: Seq[Option[StructField]] =
      agg.groupByExpressions.toSeq.map {
        case f: NamedReference if f.fieldNames.length == 1 =>
          canonical(f.fieldNames()(0))
            .filter(sf => partLower(sf.name.toLowerCase))
        case _ => None
      }
    if (groupFields.exists(_.isEmpty)) return None
    val groupCols = groupFields.flatten

    if (agg.aggregateExpressions.isEmpty) return None

    // control-flow sentinel: any stat that cannot support an EXACT
    // answer aborts planning (caught below => normal scan)
    final case class Refuse() extends Exception

    // MIN/MAX are exact only where Delta stats are TIGHT and the string
    // rendering is order-unambiguous: integral/floating/decimal/date.
    // Strings are truncatable in real writers and timestamps have
    // format drift -- both refused for data columns. Partition-column
    // MIN/MAX additionally allow strings/booleans (partitionValues are
    // exact values, never truncated stats).
    def minMaxSafe(dt: org.apache.spark.sql.types.DataType,
        isPart: Boolean): Boolean = {
      import org.apache.spark.sql.types._
      dt match {
        case ByteType | ShortType | IntegerType | LongType | FloatType |
             DoubleType | DateType => true
        case _: DecimalType => true
        case StringType | BooleanType => isPart
        case _ => false
      }
    }

    val tz = Option(spark.sessionState.conf.sessionLocalTimeZone)
    def typedValue(raw: String, dt: org.apache.spark.sql.types.DataType)
        : Any = {
      // a Catalyst cast of the raw string, which agrees with the scan's
      // partition discovery on Delta's canonical value strings; a
      // malformed value throws (ANSI) or nulls -- both refuse
      val v = Cast(Literal(UTF8String.fromString(raw),
        org.apache.spark.sql.types.StringType), dt, tz)
        .eval(InternalRow.empty)
      if (v == null) throw Refuse() else v
    }
    def cmpAny(a: Any, b: Any): Int =
      a.asInstanceOf[Comparable[Any]].compareTo(b)

    def resolveCol(e: org.apache.spark.sql.connector.expressions.Expression)
        : StructField = e match {
      case nr: NamedReference if nr.fieldNames.length == 1 =>
        canonical(nr.fieldNames()(0)).getOrElse(throw Refuse())
      case _ => throw Refuse()
    }

    try {
      // result schema first -- refuses unsupported functions before any
      // network traffic
      val aggFields = agg.aggregateExpressions.toSeq.zipWithIndex.map {
        case (_: CountStar, i) =>
          StructField(s"agg_$i", LongType, nullable = false)
        case (c: Count, i) if !c.isDistinct =>
          resolveCol(c.column)
          StructField(s"agg_$i", LongType, nullable = false)
        case (m: Min, i) =>
          val sf = resolveCol(m.column)
          if (!minMaxSafe(sf.dataType, partLower(sf.name.toLowerCase)))
            throw Refuse()
          StructField(s"agg_$i", sf.dataType, nullable = true)
        case (m: Max, i) =>
          val sf = resolveCol(m.column)
          if (!minMaxSafe(sf.dataType, partLower(sf.name.toLowerCase)))
            throw Refuse()
          StructField(s"agg_$i", sf.dataType, nullable = true)
        case _ => throw Refuse()
      }

      // one metadata POST -- no hints (no filters recorded), no limit
      val (_, meta, files) = client.getTableData(ref, None, None, versionAsOf)
      if (meta.partitionColumns.map(_.toLowerCase).toSet != partLower)
        return None // metadata drift vs the table handle: refuse
      val withStats: Seq[(FileAction, StatsPruning.FileStats)] = files.map {
        f => f -> f.stats.flatMap(StatsPruning.parse).getOrElse(throw Refuse())
      }
      if (withStats.exists(_._2.numRecords.isEmpty)) throw Refuse()

      def fileCount(f: FileAction, st: StatsPruning.FileStats,
          sfOpt: Option[StructField]): Long = sfOpt match {
        case None => st.numRecords.get // COUNT(*)
        case Some(sf) if partLower(sf.name.toLowerCase) =>
          if (f.partitionValues.getOrElse(sf.name, "").isEmpty) 0L
          else st.numRecords.get
        case Some(sf) =>
          st.numRecords.get -
            st.nullCount.getOrElse(sf.name, throw Refuse())
      }
      // per-file MIN/MAX contribution: None = file contributes no rows
      // for this column (empty file or provably all-NULL); a file with
      // live rows but no tight envelope refuses the whole pushdown
      def fileMinMax(f: FileAction, st: StatsPruning.FileStats,
          sf: StructField, wantMin: Boolean): Option[Any] = {
        val n = st.numRecords.get
        if (n == 0L) None
        else if (partLower(sf.name.toLowerCase)) {
          val raw = f.partitionValues.getOrElse(sf.name, "")
          if (raw.isEmpty) None else Some(typedValue(raw, sf.dataType))
        } else {
          val env = if (wantMin) st.minValues.get(sf.name)
            else st.maxValues.get(sf.name)
          env match {
            case Some(s) => Some(typedValue(s, sf.dataType))
            case None =>
              if (st.nullCount.get(sf.name).contains(n)) None // all NULL
              else throw Refuse()
          }
        }
      }
      def evalFunc(func: AggregateFunc,
          gfiles: Seq[(FileAction, StatsPruning.FileStats)]): Any =
        func match {
          case _: CountStar =>
            gfiles.map { case (f, st) => fileCount(f, st, None) }.sum
          case c: Count =>
            val sf = resolveCol(c.column)
            gfiles.map { case (f, st) => fileCount(f, st, Some(sf)) }.sum
          case m: Min =>
            val sf = resolveCol(m.column)
            gfiles.flatMap { case (f, st) =>
              fileMinMax(f, st, sf, wantMin = true) }
              .reduceOption((a, b) => if (cmpAny(a, b) <= 0) a else b)
              .orNull
          case m: Max =>
            val sf = resolveCol(m.column)
            gfiles.flatMap { case (f, st) =>
              fileMinMax(f, st, sf, wantMin = false) }
              .reduceOption((a, b) => if (cmpAny(a, b) >= 0) a else b)
              .orNull
          case _ => throw Refuse()
        }

      // typed group value via the same cast (empty => NULL, as the
      // scan reads it)
      def groupValue(raw: String, sf: StructField): Any =
        if (raw.isEmpty) null else typedValue(raw, sf.dataType)

      val groups = withStats
        .groupBy { case (f, _) =>
          groupCols.map(sf => f.partitionValues.getOrElse(sf.name, "")) }
        .toSeq.sortBy(_._1.mkString(" ")) // deterministic row order
      val rows = groups.map { case (rawVals, gfiles) =>
        val aggVals = agg.aggregateExpressions.toSeq.map(evalFunc(_, gfiles))
        val groupVals = rawVals.zip(groupCols).map {
          case (raw, sf) => groupValue(raw, sf) }
        InternalRow.fromSeq(groupVals ++ aggVals)
      }
      // a GLOBAL aggregate over an empty file list still yields ONE row
      // (counts 0, min/max NULL -- complete pushdown leaves no Aggregate
      // above to do it)
      val finalRows =
        if (rows.isEmpty && groupCols.isEmpty)
          Seq(InternalRow.fromSeq(aggFields.map(f =>
            if (!f.nullable) 0L else null)))
        else rows
      val schema = StructType(
        groupCols.map(sf =>
          StructField(sf.name, sf.dataType, nullable = true)) ++ aggFields)
      Some(new GraftLocalScan(schema, finalRows.toArray,
        s"GraftMetadataAgg(files=${withStats.size}, groups=${finalRows.size})"))
    } catch { case _: Exception => None } // refusal is always safe
  }

  /** The metadata-only aggregate when one was pushed, else the
    * delegate's [[GraftScan]], partitioned or not. */
  override def build(): Scan =
    pushedAggScan.getOrElse(delegate.getOrElse(freshDelegate()).build())
}

/** Driver-local scan carrying pre-computed aggregate rows — planned by
  * [[GraftScanBuilder.pushAggregation]] from file-listing metadata
  * (`stats.numRecords` + partitionValues); Spark executes it as
  * LocalTableScanExec, so a pushed COUNT reads zero parquet bytes. */
final class GraftLocalScan(schema: StructType, rowsArr: Array[InternalRow],
    desc: String) extends LocalScan {
  override def readSchema(): StructType = schema
  override def rows(): Array[InternalRow] = rowsArr
  override def description(): String = desc
}
