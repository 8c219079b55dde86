package graft.sharing

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, UnionExec}
import org.apache.spark.sql.functions.{col, count, lit, max, min}
import org.apache.spark.sql.sources.LessThan
import org.scalatest.BeforeAndAfterAll

import graft.SparkTestBase
import graft.sharing.server.LocalSharingServer

/** Full-path test: local sharing server → REST client → signed URLs →
  * graftshare FileSystem → Spark vectorized parquet scan. Mirrors the
  * minimum end-to-end slice of SURVEY §7.3 and proves scan results are
  * identical to reading the same parquet directly. */
class SharingEndToEndSpec extends SparkTestBase with BeforeAndAfterAll {

  private val server = new LocalSharingServer()
  private var client: DeltaSharingClient = _

  override def beforeAll(): Unit = {
    val schema = spark.read.parquet(s"$sf0001/lineitem.parquet").schema
    server.addParquetTable("share1", "schema1", "lineitem",
      s"$sf0001/lineitem.parquet", DeltaSchema.toSchemaString(schema))
    server.start()
    client = new DeltaSharingClient(Profile.fromJson(server.profileJson))
  }
  override def afterAll(): Unit = { server.stop(); super.afterAll() }

  private def table = TableRef("share1", "schema1", "lineitem")

  test("connector scan equals direct parquet read") {
    val viaSharing = GraftSharing.readTable(spark, client, table)
    val direct = spark.read.parquet(s"$sf0001/lineitem.parquet")
    assert(viaSharing.schema == direct.schema)
    assert(viaSharing.count() == direct.count())
    assert(viaSharing.exceptAll(direct).isEmpty)
    assert(direct.exceptAll(viaSharing).isEmpty)
  }

  test("multi-file shared table scans in parallel (not the reference's 1 partition)") {
    // split lineitem into 4 parquet files and serve as one table; the
    // scan must produce multiple input partitions (reference plans ALL
    // files into a single group — scan.rs:77 — and serializes the read)
    val dir = java.nio.file.Files.createTempDirectory("graft-multifile").toString
    spark.read.parquet(s"$sf0001/lineitem.parquet")
      .repartition(4).write.mode("overwrite").parquet(dir)
    val schema = spark.read.parquet(dir).schema
    server.addParquetTable("share1", "schema1", "lineitem4", dir,
      DeltaSchema.toSchemaString(schema))
    val df = GraftSharing.readTable(spark, client,
      TableRef("share1", "schema1", "lineitem4"))
    assert(df.rdd.getNumPartitions >= 4,
      s"expected >= 4 scan partitions, got ${df.rdd.getNumPartitions}")
    assert(df.count() == spark.read.parquet(dir).count())
  }

  test("filters/limit forwarded as hints; results stay exact (Inexact semantics)") {
    val df = GraftSharing.readTable(spark, client, table,
      filters = Seq(LessThan("l_quantity", java.lang.Double.valueOf(10.0))),
      limitHint = Some(25))
    // server saw the hint
    assert(server.lastPredicateHints.exists(_.contains("\"op\":\"lessThan\"")))
    assert(server.lastLimitHint.contains("25"))
    // hints are best-effort: engine-side filter still applied by caller
    val filtered = df.filter(col("l_quantity") < 10)
    val expected = spark.read.parquet(s"$sf0001/lineitem.parquet")
      .filter(col("l_quantity") < 10)
    assert(filtered.count() == expected.count())
  }

  test("connection string entry point parses and reads") {
    val profilePath = server.writeProfile()
    val df = GraftSharing.read(spark, s"$profilePath#share1.schema1.lineitem")
    assert(df.count() == 6000)
  }

  test("partition values become typed constant columns; empty string => NULL") {
    // Serve a table whose partition column values live OUTSIDE the files
    // (reference scan.rs:191-229 + test :271-300).
    val dir = java.nio.file.Files.createTempDirectory("graft-part").toString
    val src = graft.Tables.customer(spark, sf0001)
    src.filter(col("c_nationkey") === 0).drop("c_nationkey")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/g0")
    src.filter(col("c_nationkey") === 1).drop("c_nationkey")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/g1")
    import scala.jdk.CollectionConverters._
    def parquetIn(sub: String) = java.nio.file.Files.list(
      java.nio.file.Paths.get(s"$dir/$sub")).iterator().asScala
      .filter(_.toString.endsWith(".parquet")).next()

    val fullSchema = src.schema // includes c_nationkey (int)
    val partServer = new LocalSharingServer()
    partServer.addTable("sh", "sc", partServer.TableDef(
      "customer_part", DeltaSchema.toSchemaString(fullSchema),
      partitionColumns = Seq("c_nationkey"),
      files = Seq(
        partServer.ServedFile(parquetIn("g0"), Map("c_nationkey" -> "0")),
        partServer.ServedFile(parquetIn("g1"), Map("c_nationkey" -> "1")),
        // empty partition value => NULL
        partServer.ServedFile(parquetIn("g0"), Map("c_nationkey" -> "")))))
    partServer.start()
    try {
      val c = new DeltaSharingClient(Profile.fromJson(partServer.profileJson))
      val df = GraftSharing.readTable(spark, c, TableRef("sh", "sc", "customer_part"))
      assert(df.schema("c_nationkey").dataType ==
        org.apache.spark.sql.types.IntegerType)
      val byKey = df.groupBy("c_nationkey").count()
        .collect().map(r => Option(r.get(0)) -> r.getLong(1)).toMap
      val n0 = src.filter(col("c_nationkey") === 0).count()
      val n1 = src.filter(col("c_nationkey") === 1).count()
      assert(byKey(Some(0)) == n0)
      assert(byKey(Some(1)) == n1)
      assert(byKey(None) == n0) // the empty-string file surfaces as NULL
    } finally partServer.stop()
  }

  /** nation split into one parquet file per region key, without the
    * region column. File i is served with the string partition value
    * `values(i)` for column `p`, which lives only outside the files.
    * Version 1 adds every file; version 2 removes file 0 and re-adds it.
    * Returns the started server and what a correct reader returns for
    * each file: its raw rows plus `p` ("" ⇒ NULL). */
  private def partitionedNation(share: String, values: Seq[String])
      : (LocalSharingServer, Seq[DataFrame]) = {
    import scala.jdk.CollectionConverters._
    val dir = java.nio.file.Files.createTempDirectory("graft-pv").toString
    val nation = spark.read.parquet(s"$sf0001/nation.parquet")
    val files = values.indices.map { i =>
      nation.filter(col("n_regionkey") === i).drop("n_regionkey")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/g$i")
      java.nio.file.Files.list(java.nio.file.Paths.get(s"$dir/g$i"))
        .iterator().asScala.filter(_.toString.endsWith(".parquet")).next()
    }
    val expected = files.zip(values).map { case (f, v) =>
      spark.read.parquet(f.toString).withColumn("p",
        if (v.isEmpty) lit(null).cast("string") else lit(v))
    }
    val srv = new LocalSharingServer()
    val served = files.zip(values).map { case (f, v) =>
      srv.ServedFile(f, Map("p" -> v)) }
    srv.addTable(share, "sc", srv.TableDef("t",
      DeltaSchema.toSchemaString(expected.head.schema),
      partitionColumns = Seq("p"), files = served, version = 2L,
      changes = served.map(f => srv.ChangeEntry(1L, "add", f, 1700000001000L)) ++
        Seq(srv.ChangeEntry(2L, "remove", served.head, 1700000002000L),
          srv.ChangeEntry(2L, "add", served.head, 1700000002000L))))
    srv.start()
    (srv, expected)
  }

  private def assertSameRows(got: DataFrame, want: DataFrame): Unit = {
    assert(got.schema.fieldNames.toSeq == want.schema.fieldNames.toSeq)
    assert(got.count() == want.count())
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      s"rows differ:\n${got.exceptAll(want).collect().mkString("\n")}")
  }

  /** The CDF rows a correct reader returns for [[partitionedNation]]. */
  private def expectedChanges(perFile: Seq[DataFrame]): DataFrame = {
    def tag(df: DataFrame, kind: String, v: Long, ts: Long) =
      df.withColumn("_change_type", lit(kind))
        .withColumn("_commit_version", lit(v))
        .withColumn("_commit_timestamp", lit(ts))
    (perFile.map(tag(_, "add", 1L, 1700000001000L)) ++ Seq(
      tag(perFile.head, "remove", 2L, 1700000002000L),
      tag(perFile.head, "add", 2L, 1700000002000L))).reduce(_ unionAll _)
  }

  test("one listing plans one parquet scan: 3 partition values, a 2-version change feed") {
    val (srv, perFile) = partitionedNation("width", Seq("x", "y", ""))
    try {
      val c = new DeltaSharingClient(Profile.fromJson(srv.profileJson))
      val ref = TableRef("width", "sc", "t")
      def assertOneScan(df: DataFrame): Unit = {
        val p = df.queryExecution.sparkPlan
        val scans = p.collect { case s: FileSourceScanExec => s }
        assert(scans.size == 1, s"expected one parquet scan:\n$p")
        assert(p.collect { case u: UnionExec => u }.isEmpty, s"Union in plan:\n$p")
      }
      val table = GraftSharing.readTable(spark, c, ref)
      assertOneScan(table)
      assertSameRows(table, perFile.reduce(_ unionAll _))
      val changes = GraftSharing.readChanges(spark, c, ref, 1L, Some(2L))
      assertOneScan(changes)
      assertSameRows(changes, expectedChanges(perFile))
    } finally srv.stop()
  }

  test("partition values that need path escaping round-trip on every read path") {
    val values = Seq("a/b", "k=v", "50%", "x y", "")
    val (srv, perFile) = partitionedNation("escaped", values)
    try {
      val c = new DeltaSharingClient(Profile.fromJson(srv.profileJson))
      val ref = TableRef("escaped", "sc", "t")
      val want = perFile.reduce(_ unionAll _)
      val table = GraftSharing.readTable(spark, c, ref)
      assertSameRows(table, want)
      assert(table.filter(col("p").isNull).count() == perFile.last.count())
      assertSameRows(GraftSharing.readChanges(spark, c, ref, 1L, Some(2L)),
        expectedChanges(perFile))
      spark.conf.set("spark.sql.catalog.escaped",
        "graft.sharing.catalog.GraftCatalog")
      spark.conf.set("spark.sql.catalog.escaped.profile.json", srv.profileJson)
      assertSameRows(spark.sql("SELECT * FROM escaped.sc.t"), want)
      // a filter on an escaped value selects exactly that file's rows
      values.zip(perFile).filter(_._1.nonEmpty).foreach { case (v, f) =>
        assertSameRows(spark.table("escaped.sc.t").filter(col("p") === v), f)
      }
    } finally srv.stop()
  }

  test("per-file stats prune the scan to matching files only") {
    // orders split into two halves by orderkey, each file carrying its
    // min/max stats; a pushed filter must cut BOTH server-side (fewer
    // file actions listed) and driver-side (fewer input files planned).
    val dir = java.nio.file.Files.createTempDirectory("graft-stats").toString
    val src = graft.Tables.orders(spark, sf0001)
    // TPC-H orderkeys are sparse — split at the actual median so both
    // halves are non-empty
    val mid = src.stat.approxQuantile("o_orderkey", Array(0.5), 0.0).head.toLong
    src.filter(col("o_orderkey") < mid).coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/lo")
    src.filter(col("o_orderkey") >= mid).coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/hi")
    val statsServer = new LocalSharingServer()
    def statsOf(sub: String): String = {
      val r = spark.read.parquet(s"$dir/$sub")
        .agg(min("o_orderkey"), max("o_orderkey"), count(lit(1)))
        .collect()(0)
      s"""{"numRecords":${r.getLong(2)},"minValues":{"o_orderkey":${r.getLong(0)}},""" +
        s""""maxValues":{"o_orderkey":${r.getLong(1)}},"nullCount":{"o_orderkey":0}}"""
    }
    statsServer.addTable("sh", "sc", statsServer.TableDef(
      "orders_stats", DeltaSchema.toSchemaString(src.schema), Seq.empty,
      files = Seq(
        statsServer.ServedFile(statsServer.listParquet(s"$dir/lo").head,
          Map.empty, Some(statsOf("lo"))),
        statsServer.ServedFile(statsServer.listParquet(s"$dir/hi").head,
          Map.empty, Some(statsOf("hi"))))))
    statsServer.start()
    try {
      val c = new DeltaSharingClient(Profile.fromJson(statsServer.profileJson))
      val ref = TableRef("sh", "sc", "orders_stats")
      // no filter: both files planned
      assert(GraftSharing.readTable(spark, c, ref).inputFiles.length == 2)
      // filter under mid: only the lo file survives pruning, and the
      // result still row-matches the plain filtered read
      val filtered = GraftSharing.readTable(spark, c, ref,
        filters = Seq(org.apache.spark.sql.sources.LessThan(
          "o_orderkey", java.lang.Long.valueOf(mid))))
      assert(filtered.inputFiles.length == 1)
      assert(filtered.filter(col("o_orderkey") < mid).count() ==
        src.filter(col("o_orderkey") < mid).count())
    } finally statsServer.stop()
  }

  test("gate stats-skipping query plans only the matching range slice") {
    // connector_stats_skipping pushes o_orderkey < 300 against the
    // 4-slice range layout — exactly one file may survive pruning
    val df = graft.SparkEntry.queries("connector_stats_skipping")(spark, sf0001)
    assert(df.inputFiles.length == 1,
      s"expected 1 pruned input file, got ${df.inputFiles.length}")
  }

  test("expired signed URL fails with a clear error") {
    val shortServer = new LocalSharingServer(
      urlTtl = java.time.Duration.ofMillis(1))
    val schema = spark.read.parquet(s"$sf0001/region.parquet").schema
    shortServer.addParquetTable("sh", "sc", "region",
      s"$sf0001/region.parquet", DeltaSchema.toSchemaString(schema))
    shortServer.start()
    try {
      val c = new DeltaSharingClient(Profile.fromJson(shortServer.profileJson))
      val df = GraftSharing.readTable(spark, c, TableRef("sh", "sc", "region"))
      Thread.sleep(50) // URL now expired
      val e = intercept[org.apache.spark.SparkException](df.count())
      assert(e.getMessage.contains("403") ||
        Option(e.getCause).exists(_.getMessage.contains("403")))
    } finally shortServer.stop()
  }
}
