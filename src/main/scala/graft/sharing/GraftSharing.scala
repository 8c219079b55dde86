package graft.sharing

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftshim.V2Relation
import org.apache.spark.sql.sources.Filter

import graft.sharing.catalog.{GraftScan, GraftTable}
import graft.sharing.fs.SignedHttpFileSystem.Listing
import graft.sharing.streaming.GraftCdfStream

/** Connection-string entry point:
  * `GraftSharing.read(spark, "<profile-path>#<share>.<schema>.<table>")`
  * (reference src/datasource/table.rs:93-103).
  *
  * Execution model (SURVEY §3.2, Spark-first). Every read is one DSv2
  * relation whose scan is a [[graft.sharing.catalog.GraftScan]], built
  * from a file listing by the one function `GraftScan.table`:
  *  - driver: a snapshot read ([[readTable]]) is a [[GraftTable]], whose
  *    scan builder makes the REST file listing (with predicate/limit
  *    hints) when a query over the frame is planned — so each query newly
  *    planned over an unpinned frame sees the table's current version; a
  *    change feed ([[readChanges]]) lists when it is called, and each
  *    micro-batch of [[readChangesStream]] when it is planned;
  *  - each file becomes a self-contained `graftshare://` path — Spark
  *    plans one or more file partitions per file (NOT the reference's
  *    all-files-in-one-partition scan, src/datasource/scan.rs:77);
  *  - executors: Spark's vectorized parquet reader over HTTP Range
  *    reads; projection/filter pushdown reach the parquet scan natively;
  *    with a client built by `Profile.fromPath`, a URL that expires
  *    before its task reads it is re-listed from the same snapshot or
  *    change range, for snapshots and change feeds alike;
  *  - partition values (strings outside the files) ride in each path as
  *    hive-style `k=v` segments (empty string ⇒ NULL,
  *    src/datasource/scan.rs:191-229), so Spark's partition discovery
  *    types them from the table schema and a whole listing is ONE
  *    parquet scan — the change feed's CDF columns ride the same way
  *    ([[graft.sharing.fs.SignedHttpFileSystem.encodeAll]]).
  */
object GraftSharing {

  /** Parse `<profile>#<share>.<schema>.<table>`. */
  def parseConnection(connStr: String): (String, TableRef) =
    connStr.split("#") match {
      case Array(profilePath, fqn) => (profilePath, TableRef.parse(fqn))
      case _ => throw DeltaSharingException.parseSecurable(
        "connection string must be <profile-path>#<share>.<schema>.<table>")
    }

  def read(spark: SparkSession, connStr: String): DataFrame =
    spark.read.format("graft-sharing").load(connStr)

  /** Read a shared table as a DSv2 relation over [[GraftTable]]. The
    * table's metadata is fetched now, for the frame's schema; the file
    * listing happens when a query over the frame is planned, once per
    * planned query. `filters` become best-effort server hints and
    * driver-side stats skipping, merged with whatever filters the query
    * pushes: they may skip files in which no row matches, but they are no
    * row filter (Inexact semantics: the caller must still apply them).
    * `limitHint` is forwarded but not enforced. While
    * either is given, COUNT/MIN/MAX are never answered from file stats.
    * `versionAsOf` pins the read to a past table version (Delta Sharing
    * time travel — the snapshot the server reconstructs from its change
    * log). */
  def readTable(spark: SparkSession, client: DeltaSharingClient,
      table: TableRef, filters: Seq[Filter] = Seq.empty,
      limitHint: Option[Long] = None,
      versionAsOf: Option[Long] = None): DataFrame =
    V2Relation.frame(spark, new GraftTable(client, table,
      client.getTableMetadata(table, versionAsOf)._2, versionAsOf,
      filters, limitHint))

  /** Read the change data feed between versions as a DataFrame with
    * `_change_type` / `_commit_version` / `_commit_timestamp` metadata
    * columns after the table's columns — CDC-consumer shape. The three
    * columns ride in each change file's path next to its partition
    * values, so the whole feed is ONE parquet scan whatever the number
    * of versions. */
  def readChanges(spark: SparkSession, client: DeltaSharingClient,
      table: TableRef, startingVersion: Long,
      endingVersion: Option[Long] = None): DataFrame =
    changesFrame(spark, client, table,
      client.getTableChanges(table, startingVersion, endingVersion),
      s"[$startingVersion, ${endingVersion.getOrElse("∞")}]")

  /** [[readChanges]] with the start bound given as an ISO-8601
    * timestamp (protocol `startingTimestamp`): the server resolves it
    * to the earliest version committed at or after it. */
  def readChangesByTimestamp(spark: SparkSession,
      client: DeltaSharingClient, table: TableRef,
      startingTimestamp: String,
      endingVersion: Option[Long] = None): DataFrame =
    changesFrame(spark, client, table,
      client.getTableChangesByTimestamp(table, startingTimestamp,
        endingVersion),
      s"[$startingTimestamp, ${endingVersion.getOrElse("∞")}]")

  private def changesFrame(spark: SparkSession, client: DeltaSharingClient,
      table: TableRef, fetched: (Protocol, Metadata, Seq[Actions.ChangeAction]),
      bounds: String): DataFrame = {
    val (_, metadata, changes) = fetched
    if (changes.isEmpty)
      throw DeltaSharingException.other(s"no changes for $table in $bounds")
    val columns = DeltaSchema.fromSchemaString(metadata.schemaString)
      .fieldNames.toSeq ++ Seq(GraftCdfStream.ChangeTypeCol,
        GraftCdfStream.VersionCol, GraftCdfStream.TimestampCol)
    V2Relation.frame(spark, GraftScan.table(client, table,
        s"$table@changes$bounds", GraftCdfStream.cdfSchema(metadata),
        metadata.partitionColumns, Listing.of(changes),
        GraftCdfStream.changeFiles(changes)))
      .select(columns.map(col): _*)
  }

  /** Tail the change data feed as a STREAM: each micro-batch covers the
    * newly committed versions `(cursor, latest]`, with the same
    * `_change_type`/`_commit_version`/`_commit_timestamp` columns as
    * [[readChanges]]. Offsets are table versions, checkpoint-recoverable;
    * files are scanned by Spark's vectorized parquet reader (see
    * [[graft.sharing.streaming.GraftCdfStreamProvider]]). */
  def readChangesStream(spark: SparkSession, profilePath: String,
      table: TableRef, startingVersion: Long): DataFrame =
    spark.readStream
      .format("graft-sharing-cdf")
      .option("path", s"$profilePath#${table.share}.${table.schema}.${table.name}")
      .option("startingVersion", startingVersion.toString)
      .load()

  /** Reconstruct a table snapshot by applying a change feed onto a base:
    * per commit version (ascending), added rows union in and removed
    * rows fall out (multiset semantics: duplicate rows are removed once
    * per removal, matching file-level CDF).
    *
    * CONSTANT plan depth, independent of the version count. The naive
    * per-version `unionAll`/`exceptAll` fold (kept below as
    * [[applyChangesFold]], the semantic oracle) builds an O(#versions)
    * plan — at hundreds of commits the analyzer/lineage cost alone
    * becomes a driver-side bottleneck. Instead, note that per distinct
    * row value the fold is the queue recursion
    * `c_k = max(c_{k-1} + δ_k, 0)` from `c = 0`, with the base count as
    * the first step δ_0 (at version −1, before every commit version,
    * which is ≥ 0) and each version's net delta after it. Over the
    * prefix sums S_k its closed form is `n = S_last − min(0, min_k S_k)`.
    *
    * Base rows (+1 each at version −1) and change rows (±1 at their
    * version) enter one union, which is hash-partitioned ONCE on the row
    * identity; the per-(row, version) sum and the per-row version-sorted
    * delta list both reuse that partitioning, so the plan has a single
    * exchange and no join at any history length. The row travels as one
    * struct column `r`, so the table's own column names can never
    * collide with the internal ones. */
  def applyChanges(base: DataFrame, changes: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    val row = struct(base.columns.map(c =>
      col(s"`${c.replace("`", "``")}`")).toSeq: _*).as("r")
    val steps = base.select(row, lit(-1L).as("v"), lit(1L).as("d"))
      .union(changes.filter(col("_change_type").isin("add", "remove"))
        .select(row, col("_commit_version").as("v"),
          when(col("_change_type") === "add", 1L).otherwise(-1L).as("d")))
    // repartition on r alone: the two-key groupBy would otherwise plan its
    // own exchange on (r, v) and the per-row groupBy a second one on r.
    // array_sort orders the structs by their first field, v — unique per
    // row after the two-key groupBy
    steps.repartition(col("r"))
      .groupBy("r", "v").agg(sum("d").as("d"))
      .groupBy("r").agg(aggregate(
        array_sort(collect_list(struct(col("v"), col("d")))),
        struct(lit(0L).as("s"), lit(0L).as("m")),
        (acc, x) => {
          val s2 = acc.getField("s") + x.getField("d")
          struct(s2.as("s"), least(acc.getField("m"), s2).as("m"))
        }).as("acc"))
      // n = S_last − min(0, min_k S_k) ≥ 0; array_repeat of 0 is empty
      .select(explode(array_repeat(col("r"),
        (col("acc.s") - col("acc.m")).cast("int"))).as("r"))
      .select("r.*")
  }

  /** The per-version `unionAll`/`exceptAll` fold — the readable semantic
    * statement of [[applyChanges]], kept as its test oracle. O(#versions)
    * plan depth: do not use on long histories. */
  private[sharing] def applyChangesFold(base: DataFrame,
      changes: DataFrame): DataFrame = {
    val dataCols = base.columns.toSeq
    val versions = changes.select("_commit_version").distinct()
      .collect().map(_.getLong(0)).sorted
    versions.foldLeft(base) { (acc, v) =>
      val cv = changes.filter(col("_commit_version") === v)
      val added = cv.filter(col("_change_type") === "add")
        .select(dataCols.map(col): _*)
      val removed = cv.filter(col("_change_type") === "remove")
        .select(dataCols.map(col): _*)
      acc.unionAll(added).exceptAll(removed)
    }
  }
}
