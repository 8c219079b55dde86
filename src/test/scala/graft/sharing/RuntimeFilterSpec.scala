package graft.sharing

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.execution.datasources.v2.{BatchScanExec, DataSourceRDDPartition}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll

import graft.SparkTestBase
import graft.sharing.catalog.{GraftLocalScan, GraftScan}
import graft.sharing.server.LocalSharingServer

/** Dynamic partition pruning THROUGH the connector. Spark's v2 FileScan
  * does not implement `SupportsRuntimeV2Filtering`, so the connector
  * wraps every snapshot scan in a [[GraftScan]] that does; partition
  * values travel as hive-style path segments, so a selective broadcast
  * join on the partition column prunes shared files at RUNTIME, after
  * the build side materializes, through the same file index that types
  * the partition values of the rows. At 100 TB this is the difference
  * between scanning one partition and scanning the table when the
  * pruning key only becomes known mid-query (fact ⋈ filtered dim). */
class RuntimeFilterSpec extends SparkTestBase with BeforeAndAfterAll
    with AdaptiveSparkPlanHelper {

  private val server = new LocalSharingServer()
  private lazy val orders = spark.read.parquet(s"$sf0001/orders.parquet")
  /** orders with a DATE partition column: the order's year. */
  private lazy val ordersByYear =
    orders.withColumn("o_year", trunc(col("o_orderdate"), "year").cast("date"))

  override def beforeAll(): Unit = {
    val stage = java.nio.file.Files
      .createTempDirectory("graft-dpp-stage").toString
    /** One served file per distinct combination of `parts` in `df`. */
    def servedBy(df: DataFrame, parts: String*): Seq[server.ServedFile] = {
      val combos = df.select(parts.map(col(_).cast("string")): _*).distinct()
        .collect().map(r => parts.indices.map(r.getString))
        .sortBy(_.mkString("/"))
      combos.zipWithIndex.toSeq.flatMap { case (values, i) =>
        val dir = s"$stage/${parts.mkString("-")}-$i"
        val pv = parts.zip(values)
        pv.foldLeft(df) { case (d, (p, v)) => d.filter(col(p).cast("string") === v) }
          .drop(parts: _*).coalesce(1).write.mode("overwrite").parquet(dir)
        server.listParquet(dir).map(f => server.ServedFile(f, pv.toMap))
      }
    }
    def table(name: String, df: DataFrame, part: Seq[String],
        files: Seq[server.ServedFile]): Unit =
      server.addTable("dpp", "main", server.TableDef(name,
        DeltaSchema.toSchemaString(df.schema), part, files))
    val byPrio = servedBy(orders, "o_orderpriority")
    table("orders_part", orders, Seq("o_orderpriority"), byPrio)
    // its change feed: v1 adds every file, v2 removes the first
    server.addTable("dpp", "main", server.TableDef("orders_part_cdf",
      DeltaSchema.toSchemaString(orders.schema), Seq("o_orderpriority"),
      byPrio.tail, version = 2L,
      changes = byPrio.map(server.ChangeEntry(1L, "add", _, 1700000001000L)) :+
        server.ChangeEntry(2L, "remove", byPrio.head, 1700000002000L)))
    val byTwo = Seq("o_orderpriority", "o_orderstatus")
    table("orders_prio_status", orders, byTwo, servedBy(orders, byTwo: _*))
    val years = servedBy(ordersByYear, "o_year")
    table("orders_year", ordersByYear, Seq("o_year"), years)
    // the same files plus one whose partition value is NULL ("")
    table("orders_year_null", ordersByYear, Seq("o_year"),
      years :+ server.ServedFile(years.head.path, Map("o_year" -> "")))
    server.addParquetTable("dpp", "main", "orders_flat",
      s"$sf0001/orders.parquet", DeltaSchema.toSchemaString(orders.schema))
    server.start()
    spark.conf.set("spark.sql.catalog.dpp",
      "graft.sharing.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.dpp.profile.json", server.profileJson)
  }
  override def afterAll(): Unit = { server.stop(); super.afterAll() }

  private lazy val client =
    new DeltaSharingClient(Profile.fromJson(server.profileJson))

  /** A dim that comes from storage: `key` values with an int `dim_id`
    * that selects one of them, but only at runtime. */
  private def dimOf(keys: DataFrame, id: Column): String = {
    val dimDir = java.nio.file.Files
      .createTempDirectory("graft-dpp-dim").toString
    keys.distinct().withColumn("dim_id", id)
      .write.mode("overwrite").parquet(dimDir)
    dimDir
  }

  test("broadcast join on the partition column plants a runtime filter") {
    // the dim MUST come from storage: a literal dim constant-folds into
    // a static partition filter (no runtime pruning needed — also
    // covered, by connector_filter_pushdown); here the matching priority
    // only exists at execution time. Filter on dim_id, NOT on prio — an
    // equality literal on the join column itself would flow to the scan
    // statically via constraint propagation; dim_id=5 uniquely selects
    // '5-LOW' but only at runtime
    val prio = orders.select(col("o_orderpriority").as("key"))
    runPruneCase("orders_part", "o_orderpriority",
      dimOf(prio, length(col("key"))), dimId = 5,
      orders.filter(col("o_orderpriority") === "5-LOW"))
  }

  test("a runtime filter prunes on the one partition column a query reads") {
    // partitioned by priority and status, but the query never reads the
    // status: only partition columns the scan reads are filterable (one
    // it does not read cannot be resolved against the scan's output)
    val prio = orders.select(col("o_orderpriority").as("key"))
    val lowest = orders.filter(col("o_orderpriority") === "5-LOW")
    runPruneCase("orders_prio_status", "o_orderpriority",
      dimOf(prio, length(col("key"))), dimId = 5,
      lowest.drop("o_orderstatus"),
      keep = lowest.select("o_orderstatus").distinct().count())
  }

  test("a DATE partition is pruned at runtime") {
    // 7 years, one file each; dim_id = the year selects one of them
    val years = ordersByYear.select(col("o_year").as("key"))
    runPruneCase("orders_year", "o_year",
      dimOf(years, year(col("key"))), dimId = 1995,
      ordersByYear.filter(year(col("o_year")) === 1995))
  }

  test("a NULL partition never passes a runtime IN") {
    val years = ordersByYear.select(col("o_year").as("key"))
    runPruneCase("orders_year_null", "o_year",
      dimOf(years, year(col("key"))), dimId = 1995,
      ordersByYear.filter(year(col("o_year")) === 1995))
  }

  test("every snapshot scan of an unpartitioned table is a GraftScan") {
    val profilePath = server.writeProfile()
    val frames = Seq(
      "catalog SQL" -> spark.sql("SELECT * FROM dpp.main.orders_flat"),
      "format reader" ->
        GraftSharing.read(spark, s"$profilePath#dpp.main.orders_flat"),
      "readTable" -> GraftSharing.readTable(spark, client,
        TableRef("dpp", "main", "orders_flat")))
    frames.foreach { case (entry, df) =>
      val scans = df.filter(col("o_orderkey") > 10)
        .queryExecution.executedPlan.collect { case b: BatchScanExec => b }
      assert(scans.map(_.scan.getClass.getSimpleName) == Seq("GraftScan"),
        s"$entry planned ${scans.map(_.scan)}")
      // the wrapper forwards the parquet scan's formatted-plan metadata
      val text = df.filter(col("o_orderkey") > 10).queryExecution
        .explainString(org.apache.spark.sql.execution.FormattedMode)
      Seq("Format: parquet", "PushedFilters: [IsNotNull(o_orderkey), " +
        "GreaterThan(o_orderkey,10)]", "ReadSchema: struct<o_orderkey:")
        .foreach(line => assert(text.contains(line),
          s"$entry: no '$line' in\n$text"))
    }
  }

  test("every scan of a snapshot or a change feed is a GraftScan") {
    val part = TableRef("dpp", "main", "orders_part")
    val cdf = TableRef("dpp", "main", "orders_part_cdf")
    val changes = GraftSharing.readChanges(spark, client, cdf, 1L)
    val applied = GraftSharing.applyChanges(
      GraftSharing.readTable(spark, client, part).limit(0), changes)
    val frames = Seq(
      "readTable" -> GraftSharing.readTable(spark, client, part)
        .filter(col("o_orderpriority") =!= "5-LOW"),
      "catalog SQL" -> spark.sql("SELECT o_orderpriority, count(*) " +
        "FROM dpp.main.orders_part GROUP BY o_orderpriority"),
      "readChanges" -> changes.filter(col("_change_type") === "add"),
      "readChangesByTimestamp" -> GraftSharing.readChangesByTimestamp(
        spark, client, cdf, java.time.Instant.ofEpochMilli(1700000001500L).toString),
      "applyChanges" -> applied)
    frames.foreach { case (entry, df) =>
      df.collect()
      val scans = collect(df.queryExecution.executedPlan) {
        case b: BatchScanExec => b.scan }
      assert(scans.nonEmpty && scans.forall(s =>
        s.isInstanceOf[GraftScan] || s.isInstanceOf[GraftLocalScan]),
        s"$entry executed ${scans.map(_.getClass.getSimpleName)}")
    }
    // v1 added every priority's file, v2 removed the first one's
    assert(applied.count() ==
      orders.filter(col("o_orderpriority") =!= "1-URGENT").count())
  }

  /** The same fact table through catalog SQL and through `readTable`:
    * both plan the one GraftScan, so both prune at runtime. The DPP
    * benefit heuristic compares estimated pruned bytes against a
    * broadcast-overhead floor the toy fixtures can't clear, so the
    * fallback ratio is forced: planting then depends only on plan SHAPE
    * (the shape is what this spec pins; the heuristic is Spark's). Both
    * keys are restored after: the session is shared across suites. */
  private def runPruneCase(name: String, part: String, dimDir: String,
      dimId: Int, expected: DataFrame, keep: Long = 1): Unit = {
    val useStatsKey = "spark.sql.optimizer.dynamicPartitionPruning.useStats"
    val ratioKey =
      "spark.sql.optimizer.dynamicPartitionPruning.fallbackFilterRatio"
    val prevUseStats = spark.conf.getOption(useStatsKey)
    val prevRatio = spark.conf.getOption(ratioKey)
    spark.conf.set(useStatsKey, "false")
    spark.conf.set(ratioKey, "1000")
    try Seq(spark.table(s"dpp.main.$name"),
        GraftSharing.readTable(spark, client, TableRef("dpp", "main", name)))
      .foreach(runPruneCase(_, part, dimDir, dimId, expected, keep))
    finally {
      prevUseStats.fold(spark.conf.unset(useStatsKey))(
        spark.conf.set(useStatsKey, _))
      prevRatio.fold(spark.conf.unset(ratioKey))(spark.conf.set(ratioKey, _))
    }
  }

  private def runPruneCase(fact: DataFrame, part: String, dimDir: String,
      dimId: Int, expected: DataFrame, keep: Long): Unit = {
    val dim = spark.read.parquet(dimDir)
      .filter(col("dim_id") === dimId).select("key")
    val joined = fact.join(broadcast(dim), col(part) === col("key"))
      .select(expected.columns.map(col).toIndexedSeq: _*)
    val planned = joined.queryExecution.executedPlan.toString
    // the v2 scan must carry a dynamic-pruning runtime filter on the
    // partition column (planted by Spark's PartitionPruning rule because
    // GraftScan advertises it via SupportsRuntimeV2Filtering)
    assert(planned.contains("dynamicpruning"),
      s"no dynamic pruning in plan:\n$planned")
    def sorted(rows: Array[Row]) = rows.map(_.toString).sorted.toSeq
    assert(sorted(joined.collect()) == sorted(expected.collect()))
    // execution must actually prune: only the files holding the runtime
    // value, known after the dim scan, are read
    val scans = collect(joined.queryExecution.executedPlan) {
      case b: BatchScanExec if b.scan.isInstanceOf[GraftScan] => b
    }
    assert(scans.size == 1, s"expected one GraftScan, found $scans")
    val kept = scans.head.inputRDD.partitions.toSeq.flatMap {
      case p: DataSourceRDDPartition => p.inputPartitions
      case other => fail(s"not a DSv2 partition: $other")
    }.flatMap {
      case fp: FilePartition => fp.files.map(_.filePath)
      case other => fail(s"not a file partition: $other")
    }.distinct
    assert(kept.size == keep, s"runtime filter kept ${kept.size} files")
  }
}
