package graft.sharing

import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll

import graft.SparkTestBase
import graft.sharing.server.LocalSharingServer

/** Dynamic partition pruning THROUGH the connector: the scan delegates
  * to Spark's ParquetScan (a FileScan, which implements
  * SupportsRuntimeFiltering over its partition columns), and partition
  * values travel as hive-style path segments — so a selective broadcast
  * join on the partition column should prune shared files at RUNTIME,
  * after the build side materializes. At 100 TB this is the difference
  * between scanning one partition and scanning the table when the
  * pruning key only becomes known mid-query (fact ⋈ filtered dim). */
class RuntimeFilterSpec extends SparkTestBase with BeforeAndAfterAll {

  private val server = new LocalSharingServer()

  override def beforeAll(): Unit = {
    val orders = spark.read.parquet(s"$sf0001/orders.parquet")
    val stage = java.nio.file.Files
      .createTempDirectory("graft-dpp-stage").toString
    val pris = orders.select("o_orderpriority").distinct()
      .collect().map(_.getString(0)).sorted
    val files = pris.zipWithIndex.flatMap { case (p, i) =>
      val dir = s"$stage/p$i"
      orders.filter(col("o_orderpriority") === p).drop("o_orderpriority")
        .coalesce(1).write.mode("overwrite").parquet(dir)
      server.listParquet(dir)
        .map(f => server.ServedFile(f, Map("o_orderpriority" -> p)))
    }
    server.addTable("dpp", "main", server.TableDef(
      "orders_part",
      DeltaSchema.toSchemaString(orders.schema),
      partitionColumns = Seq("o_orderpriority"), files = files.toSeq))
    server.start()
    spark.conf.set("spark.sql.catalog.dpp",
      "graft.sharing.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.dpp.profile.json", server.profileJson)
  }
  override def afterAll(): Unit = { server.stop(); super.afterAll() }

  test("broadcast join on the partition column plants a runtime filter") {
    // the dim MUST come from storage: a literal dim constant-folds into
    // a static partition filter (no runtime pruning needed — also
    // covered, by connector_filter_pushdown); here the matching priority
    // only exists at execution time
    val dimDir = java.nio.file.Files
      .createTempDirectory("graft-dpp-dim").toString
    spark.read.parquet(s"$sf0001/orders.parquet")
      .select(col("o_orderpriority").as("prio")).distinct()
      .withColumn("dim_id", length(col("prio")))
      .write.mode("overwrite").parquet(dimDir)
    // filter on dim_id, NOT on prio — an equality literal on the join
    // column itself would flow to the scan statically via constraint
    // propagation; dim_id=5 uniquely selects '5-LOW' but only at runtime
    // the benefit heuristic compares estimated pruned bytes against a
    // broadcast-overhead floor the toy fixture can't clear — force the
    // fallback ratio so planting depends only on plan SHAPE (the shape
    // is what this spec pins; the heuristic is Spark's, not ours).
    // Restored in the finally: the session is shared across suites and
    // a lingering ratio=1000 would change later suites' planning.
    val useStatsKey = "spark.sql.optimizer.dynamicPartitionPruning.useStats"
    val ratioKey =
      "spark.sql.optimizer.dynamicPartitionPruning.fallbackFilterRatio"
    val prevUseStats = spark.conf.getOption(useStatsKey)
    val prevRatio = spark.conf.getOption(ratioKey)
    spark.conf.set(useStatsKey, "false")
    spark.conf.set(ratioKey, "1000")
    try runPruneCase(dimDir)
    finally {
      prevUseStats.fold(spark.conf.unset(useStatsKey))(
        spark.conf.set(useStatsKey, _))
      prevRatio.fold(spark.conf.unset(ratioKey))(spark.conf.set(ratioKey, _))
    }
  }

  /** The same fact table through catalog SQL and through `readTable`:
    * both plan the one GraftScan, so both prune at runtime. */
  private def runPruneCase(dimDir: String): Unit = {
    val client = new DeltaSharingClient(Profile.fromJson(server.profileJson))
    runPruneCase(dimDir, spark.table("dpp.main.orders_part"))
    runPruneCase(dimDir, GraftSharing.readTable(spark, client,
      TableRef("dpp", "main", "orders_part")))
  }

  private def runPruneCase(dimDir: String,
      fact: org.apache.spark.sql.DataFrame): Unit = {
    val dim = spark.read.parquet(dimDir)
      .filter(col("dim_id") === 5).select("prio")
    val joined = fact
      .join(broadcast(dim), col("o_orderpriority") === col("prio"))
    val planned = joined.queryExecution.executedPlan.toString
    // the v2 scan must carry a dynamic-pruning runtime filter on the
    // partition column (planted by Spark's PartitionPruning rule because
    // GraftScan advertises it via SupportsRuntimeV2Filtering)
    assert(planned.contains("dynamicpruning"),
      s"no dynamic pruning in plan:\n$planned")
    // execution must actually prune: 5 shared files, exactly one
    // matches the runtime value ('5-LOW', only known after the dim scan)
    graft.sharing.catalog.GraftScan.lastRuntimeKeptFiles = None
    val expected = spark.read.parquet(s"$sf0001/orders.parquet")
      .filter(col("o_orderpriority") === "5-LOW").count()
    assert(joined.count() == expected)
    assert(graft.sharing.catalog.GraftScan.lastRuntimeKeptFiles
      .contains(1),
      s"runtime filter kept ${graft.sharing.catalog.GraftScan.lastRuntimeKeptFiles} files")
  }
}
