package graft.sharing

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll

import graft.SparkTestBase
import graft.sharing.server.LocalSharingServer

/** Metadata-only COUNT pushdown (GraftScanBuilder
  * SupportsPushDownAggregates): COUNT(*) / COUNT(col), optionally
  * grouped by partition columns, must compile to a LocalTableScan fed
  * from the file listing's stats.numRecords + partitionValues — zero
  * parquet bytes — and every unsupported shape must fall back to the
  * normal scan with identical results. */
class AggregatePushdownSpec extends SparkTestBase with BeforeAndAfterAll {

  private val server = new LocalSharingServer()
  private var profilePath: String = _
  private var direct: DataFrame = _

  // files: nation 0 (custkey%3 nulls in c_mktsegment), nation 1, and a
  // NULL-partition slice (empty partition value) — each with truthful
  // numRecords / nullCount stats, as a Delta writer would record
  override def beforeAll(): Unit = {
    val dir = java.nio.file.Files.createTempDirectory("graft-aggpd").toString
    val src = graft.Tables.customer(spark, sf0001)
      .withColumn("c_mktsegment",
        when(col("c_custkey") % 3 === 0, lit(null: String))
          .otherwise(col("c_mktsegment")))
    import scala.jdk.CollectionConverters._
    def fileIn(sub: String) = java.nio.file.Files.list(
      java.nio.file.Paths.get(s"$dir/$sub")).iterator().asScala
      .filter(_.toString.endsWith(".parquet")).next()
    def sliceFor(name: String, cond: org.apache.spark.sql.Column) = {
      val slice = src.filter(cond).drop("c_nationkey")
      slice.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name")
      val st = slice.agg(count(lit(1)),
        sum(col("c_mktsegment").isNull.cast("long")),
        min("c_custkey"), max("c_custkey")).collect()(0)
      (fileIn(name),
        s"""{"numRecords":${st.getLong(0)},"nullCount":{""" +
          s""""c_custkey":0,"c_mktsegment":${st.getLong(1)}},""" +
          s""""minValues":{"c_custkey":${st.getLong(2)}},""" +
          s""""maxValues":{"c_custkey":${st.getLong(3)}}}""")
    }
    val (f0, s0) = sliceFor("n0", col("c_nationkey") === 0)
    val (f1, s1) = sliceFor("n1", col("c_nationkey") === 1)
    server.addTable("sh", "sc", server.TableDef(
      "cust_agg", DeltaSchema.toSchemaString(src.schema),
      partitionColumns = Seq("c_nationkey"),
      files = Seq(
        server.ServedFile(f0, Map("c_nationkey" -> "0"), Some(s0)),
        server.ServedFile(f1, Map("c_nationkey" -> "1"), Some(s1)),
        server.ServedFile(f0, Map("c_nationkey" -> ""), Some(s0)))))
    // same data, one file WITHOUT stats — pushdown must refuse
    server.addTable("sh", "sc", server.TableDef(
      "cust_nostats", DeltaSchema.toSchemaString(src.schema),
      partitionColumns = Seq("c_nationkey"),
      files = Seq(
        server.ServedFile(f0, Map("c_nationkey" -> "0"), Some(s0)),
        server.ServedFile(f1, Map("c_nationkey" -> "1"), None))))
    server.start()
    profilePath = server.writeProfile()
    direct = spark.read.format("graft-sharing")
      .load(s"$profilePath#sh.sc.cust_agg")
  }
  override def afterAll(): Unit = { server.stop(); super.afterAll() }

  private def planOf(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  private def assertMetaOnly(df: DataFrame): Unit = {
    val p = planOf(df)
    assert(p.contains("LocalTableScan"), s"expected LocalTableScan:\n$p")
    assert(!p.contains("BatchScan") && !p.toLowerCase.contains("parquet"),
      s"expected no parquet scan:\n$p")
    val scans = df.queryExecution.optimizedPlan.collect {
      case r: DataSourceV2ScanRelation => r.scan.description() }
    assert(scans.nonEmpty && scans.forall(_.startsWith("GraftMetadataAgg")),
      s"expected GraftMetadataAgg scans, got $scans")
  }

  private def client = new DeltaSharingClient(Profile.fromPath(profilePath))
  private val custAgg = TableRef("sh", "sc", "cust_agg")
  private def assertRealScan(df: DataFrame): Unit =
    assert(planOf(df).contains("BatchScan"),
      s"expected fallback BatchScan:\n${planOf(df)}")

  test("global COUNT(*) is metadata-only and exact") {
    val expected = spark.read.format("graft-sharing")
      .load(s"$profilePath#sh.sc.cust_agg")
      .select("c_custkey").rdd.count() // forced real scan as truth
    Seq(direct, GraftSharing.readTable(spark, client, custAgg)).foreach { t =>
      val df = t.agg(count(lit(1)).as("n"))
      assertMetaOnly(df)
      val gets = server.dataRequests
      assert(df.collect()(0).getLong(0) == expected)
      assert(server.dataRequests == gets, "a stats answer read data files")
    }
  }

  test("grouped COUNT(*) + COUNT(data col) + COUNT(partition col) push; NULL partition groups correctly") {
    val df = direct.groupBy("c_nationkey")
      .agg(count(lit(1)).as("n"), count(col("c_mktsegment")).as("n_seg"),
        count(col("c_nationkey")).as("n_part"))
    assertMetaOnly(df)
    val got = df.collect().map(r => Option(r.get(0)) ->
      (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // truth from a forced full scan of the same shared table
    val truth = direct.select("c_nationkey", "c_mktsegment")
      .collect().groupBy(r => Option(r.get(0)))
      .map { case (k, rows) =>
        k -> (rows.length.toLong,
          rows.count(!_.isNullAt(1)).toLong,
          (if (k.isEmpty) 0L else rows.length.toLong)) }
    assert(got == truth, s"got $got, want $truth")
  }

  test("MIN/MAX over a stats-covered column push; values match the real scan") {
    val df = direct.groupBy("c_nationkey")
      .agg(count(lit(1)).as("n"), min("c_custkey").as("mn"),
        max("c_custkey").as("mx"), min("c_nationkey").as("mnp"))
    assertMetaOnly(df)
    val got = df.collect().map(r => Option(r.get(0)) ->
      (r.getLong(2), r.getLong(3), Option(r.get(4)))).toMap
    val truth = direct.select("c_nationkey", "c_custkey")
      .collect().groupBy(r => Option(r.get(0)))
      .map { case (k, rows) =>
        k -> (rows.map(_.getLong(1)).min, rows.map(_.getLong(1)).max, k) }
    assert(got == truth, s"got $got, want $truth")
  }

  test("COUNT DISTINCT, MIN over a string data column / uncovered column, filters, and stats-less files all fall back") {
    val distinct = direct.agg(countDistinct(col("c_mktsegment")).as("n"))
    assertRealScan(distinct)
    // string DATA column: truncatable stats, must refuse even though a
    // real writer may include an envelope
    val mnStr = direct.agg(min("c_name").as("mn"))
    assertRealScan(mnStr)
    // numeric column with live rows but NO min/max envelope in stats
    val mnNoEnv = direct.agg(min("c_acctbal").as("mn"))
    assertRealScan(mnNoEnv)
    val filtered = direct.filter(col("c_custkey") > 10).agg(count(lit(1)).as("n"))
    assertRealScan(filtered)
    val nostats = spark.read.format("graft-sharing")
      .load(s"$profilePath#sh.sc.cust_nostats").agg(count(lit(1)).as("n"))
    assertRealScan(nostats)
    // readTable seeds: a hinted frame lists only the files its hints
    // keep, so it is never answered from the stats of the full listing
    assertRealScan(GraftSharing.readTable(spark, client, custAgg,
        filters = Seq(org.apache.spark.sql.sources.GreaterThan(
          "c_custkey", java.lang.Long.valueOf(10L))))
      .agg(count(lit(1)).as("n")))
    assertRealScan(GraftSharing.readTable(spark, client, custAgg,
      limitHint = Some(5L)).agg(count(lit(1)).as("n")))
    // fallbacks stay CORRECT, not just non-local
    assert(filtered.collect()(0).getLong(0) ==
      direct.collect().count(r =>
        r.getLong(r.fieldIndex("c_custkey")) > 10))
  }
}
