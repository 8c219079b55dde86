package graft.sharing

import org.apache.spark.sql.functions.col
import org.scalatest.BeforeAndAfterAll

import graft.SparkTestBase
import graft.sharing.server.LocalSharingServer

/** Change-data-feed path — the endpoint the reference leaves as `todo!()`
  * (src/client/mod.rs:384-386). Serves versioned add/remove entries and
  * reads them back with _change_type/_commit_version metadata columns. */
class ChangesSpec extends SparkTestBase with BeforeAndAfterAll {

  private val server = new LocalSharingServer()
  private var client: DeltaSharingClient = _
  private var profilePath: String = _
  private var v1Rows: Long = 0
  private var v2Rows: Long = 0

  override def beforeAll(): Unit = {
    import scala.jdk.CollectionConverters._
    val src = graft.Tables.orders(spark, sf0001)
    val dir = java.nio.file.Files.createTempDirectory("graft-cdf").toString
    src.filter(col("o_orderkey") % 2 === 0)
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/v1")
    src.filter(col("o_orderkey") % 2 === 1)
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/v2")
    v1Rows = spark.read.parquet(s"$dir/v1").count()
    v2Rows = spark.read.parquet(s"$dir/v2").count()
    def parquetIn(sub: String) = java.nio.file.Files.list(
      java.nio.file.Paths.get(s"$dir/$sub")).iterator().asScala
      .filter(_.toString.endsWith(".parquet")).next()

    server.addTable("sh", "sc", server.TableDef(
      "orders_cdf", DeltaSchema.toSchemaString(src.schema),
      partitionColumns = Seq.empty,
      files = Seq(server.ServedFile(parquetIn("v1"), Map.empty),
        server.ServedFile(parquetIn("v2"), Map.empty)),
      version = 2L,
      changes = Seq(
        server.ChangeEntry(1L, "add",
          server.ServedFile(parquetIn("v1"), Map.empty), 1700000001000L),
        server.ChangeEntry(2L, "add",
          server.ServedFile(parquetIn("v2"), Map.empty), 1700000002000L),
        server.ChangeEntry(2L, "remove",
          server.ServedFile(parquetIn("v1"), Map.empty), 1700000002000L))))
    server.start()
    profilePath = server.writeProfile()
    client = new DeltaSharingClient(Profile.fromJson(server.profileJson))
  }
  override def afterAll(): Unit = { server.stop(); super.afterAll() }

  private val table = TableRef("sh", "sc", "orders_cdf")

  test("client parses add/remove change actions with versions") {
    val (_, _, changes) = client.getTableChanges(table, 1L)
    assert(changes.map(c => (c.changeType, c.version)) ==
      Seq(("add", 1L), ("add", 2L), ("remove", 2L)))
    assert(changes.forall(_.file.url.contains("sig=")))
  }

  test("startingVersion/endingVersion filter the feed") {
    val (_, _, v2only) = client.getTableChanges(table, 2L)
    assert(v2only.map(_.changeType).sorted == Seq("add", "remove"))
    val (_, _, v1only) = client.getTableChanges(table, 1L, Some(1L))
    assert(v1only.map(c => (c.changeType, c.version)) == Seq(("add", 1L)))
  }

  test("startingTimestamp resolves to the earliest version at/after it") {
    // v1 committed at …001000, v2 at …002000: a bound between them
    // must serve exactly the v2 changes
    val (_, _, fromMid) = client.getTableChangesByTimestamp(table,
      java.time.Instant.ofEpochMilli(1700000001500L).toString)
    assert(fromMid.map(c => (c.changeType, c.version)).sorted ==
      Seq(("add", 2L), ("remove", 2L)))
    // malformed timestamp → typed 400, not a silently-full feed
    val e = intercept[DeltaSharingException](
      client.getTableChangesByTimestamp(table, "not-a-time"))
    assert(e.getMessage.contains("ISO-8601"))
    // a bound after every commit → typed RESOURCE_DOES_NOT_EXIST
    val e2 = intercept[DeltaSharingException](
      client.getTableChangesByTimestamp(table,
        java.time.Instant.ofEpochMilli(1800000000000L).toString))
    assert(e2.getMessage.contains("RESOURCE_DOES_NOT_EXIST"))
  }

  test("readChanges yields data rows tagged with change metadata") {
    val df = GraftSharing.readChanges(spark, client, table, 1L)
    assert(df.columns.takeRight(3).toSeq ==
      Seq("_change_type", "_commit_version", "_commit_timestamp"))
    val byType = df.groupBy("_change_type", "_commit_version").count()
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(byType(("add", 1L)) == v1Rows)
    assert(byType(("add", 2L)) == v2Rows)
    assert(byType(("remove", 2L)) == v1Rows)
    // data columns are readable alongside the metadata
    assert(df.filter(col("_change_type") === "add")
      .agg(org.apache.spark.sql.functions.countDistinct("o_orderkey"))
      .collect()(0).getLong(0) == v1Rows + v2Rows)
  }

  test("sub-range feed serves each change's own bytes (absolute indexing)") {
    // From startingVersion=2 the feed is [add@2 v2file, remove@2 v1file];
    // signed URLs must address the FULL changes list — indexing the
    // filtered view served the v1 file's bytes for the add and vice
    // versa (caught in round-4 review).
    val df = GraftSharing.readChanges(spark, client, table, 2L)
    val added = df.filter(col("_change_type") === "add")
    val removed = df.filter(col("_change_type") === "remove")
    assert(added.count() == v2Rows)
    assert(removed.count() == v1Rows)
    // v2 = odd orderkeys, v1 = even — the content proves which file
    assert(added.filter(col("o_orderkey") % 2 === 0).count() == 0)
    assert(removed.filter(col("o_orderkey") % 2 === 1).count() == 0)
  }

  test("applyChanges reconstructs the snapshot from base + feed") {
    // base = empty table; v1 adds even orders, v2 adds odd + removes even
    // → final snapshot must equal exactly the odd orders.
    val src = graft.Tables.orders(spark, sf0001)
    val base = src.limit(0)
    val feed = GraftSharing.readChanges(spark, client, table, 1L)
    val snapshot = GraftSharing.applyChanges(base, feed)
    val expected = src.filter(col("o_orderkey") % 2 === 1)
    assert(snapshot.exceptAll(expected).count() == 0)
    assert(expected.exceptAll(snapshot).count() == 0)
    // applying only v1 yields the even orders
    val atV1 = GraftSharing.applyChanges(base,
      feed.filter(col("_commit_version") === 1L))
    assert(atV1.count() == v1Rows)
  }

  test("applyChanges matches the fold oracle and keeps constant plan depth") {
    // adversarial interleaving on a NON-empty base, including a version
    // that over-removes (exceptAll clamps at zero) and a later re-add —
    // the closed-form reconciliation must match the fold exactly
    val spark2 = spark
    import spark2.implicits._
    val base = Seq(("a", 1), ("a", 1), ("b", 2)).toDF("k", "x")
    val feed = Seq(
      ("remove", 1L, "a", 1), ("remove", 1L, "a", 1), ("remove", 1L, "a", 1),
      ("add", 2L, "a", 1), ("add", 2L, "c", 3),
      ("remove", 3L, "b", 2), ("add", 3L, "b", 2), ("add", 3L, "b", 2),
      ("add", 4L, null.asInstanceOf[String], 9), // NULL row identity
      ("remove", 5L, "c", 3)
    ).toDF("_change_type", "_commit_version", "k", "x")
      .withColumn("_commit_timestamp", org.apache.spark.sql.functions.lit(0L))
      .select("k", "x", "_change_type", "_commit_version", "_commit_timestamp")
    val fast = GraftSharing.applyChanges(base, feed)
    val oracle = GraftSharing.applyChangesFold(base, feed)
    assert(fast.exceptAll(oracle).count() == 0)
    assert(oracle.exceptAll(fast).count() == 0)

    // 40 seeded random (base, feed) pairs over a 4-row domain with NULLs
    // in both identity columns. The domain is small enough that duplicate
    // base rows, add + remove of one row in one version, over-removal and
    // re-adds all occur; a per-row replay of the fold records which did.
    val domain = Seq[(Option[String], Option[Int])]((Some("a"), Some(1)),
      (Some("a"), None), (None, Some(2)), (None, None))
    val seen = scala.collection.mutable.Set.empty[String]
    (1 to 40).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      def pick() = domain(rnd.nextInt(domain.size))
      val baseRows = Seq.fill(rnd.nextInt(6))(pick())
      val feedRows = (0L until rnd.nextInt(5).toLong).flatMap { v =>
        Seq.fill(1 + rnd.nextInt(4))(
          (if (rnd.nextBoolean()) "add" else "remove", v, pick()))
      }
      if ((baseRows ++ feedRows.map(_._3))
          .exists(r => r._1.isEmpty || r._2.isEmpty)) seen += "null"
      if (baseRows.distinct.size < baseRows.size) seen += "dup-base"
      val counts = scala.collection.mutable.Map
        .empty[(Option[String], Option[Int]), Int].withDefaultValue(0)
      baseRows.foreach(r => counts(r) += 1)
      val removedToZero = scala.collection.mutable.Set
        .empty[(Option[String], Option[Int])]
      feedRows.groupBy(_._2).toSeq.sortBy(_._1).foreach { case (_, evs) =>
        evs.groupBy(_._3).foreach { case (r, es) =>
          val adds = es.count(_._1 == "add")
          val removes = es.size - adds
          if (adds > 0 && removes > 0) seen += "add+remove"
          if (adds > 0 && removedToZero(r)) seen += "re-add"
          if (counts(r) + adds < removes) seen += "over-removal"
          counts(r) = math.max(counts(r) + adds - removes, 0)
          if (removes > 0 && counts(r) == 0) removedToZero += r
        }
      }
      val b = baseRows.toDF("k", "x")
      val f = feedRows.map { case (t, v, (k, x)) => (k, x, t, v, 0L) }
        .toDF("k", "x", "_change_type", "_commit_version", "_commit_timestamp")
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(_.toString).sorted.toSeq
      assert(rows(GraftSharing.applyChanges(b, f)) ==
        rows(GraftSharing.applyChangesFold(b, f)),
        s"seed $seed: base=$baseRows feed=$feedRows")
    }
    assert(seen == Set("null", "dup-base", "add+remove", "over-removal",
      "re-add"), s"random cases missed a shape: $seen")

    // plan depth must NOT grow with the version count: the fold's
    // Union/Except chain is gone, and a 2-version feed and a 5-version
    // feed optimize to the same number of plan nodes
    def planProfile(df: org.apache.spark.sql.DataFrame): (Int, Long) = {
      val p = df.queryExecution.optimizedPlan
      (p.collect { case n => n }.size,
        p.collect { case n if n.nodeName.contains("Except") => n }.size.toLong)
    }
    val short = GraftSharing.applyChanges(base,
      feed.filter($"_commit_version" <= 2L))
    val (shortNodes, shortExcepts) = planProfile(short)
    val (longNodes, longExcepts) = planProfile(fast)
    assert(shortExcepts == 0 && longExcepts == 0)
    assert(longNodes == shortNodes,
      s"plan grew with versions: $shortNodes -> $longNodes nodes")
  }

  test("applyChanges is immune to data columns named like its internals") {
    // a table's own columns share no namespace with the reconciliation's
    // bookkeeping: equal to the fold, whatever the data columns are named
    val spark2 = spark
    import spark2.implicits._
    val names = Seq("_v", "_d", "_n", "_i", "r", "v", "d", "acc")
    val base = Seq((1, 2, 3, 4, 5, 6, 7, 8), (1, 2, 3, 4, 5, 6, 7, 8),
      (2, 2, 2, 2, 2, 2, 2, 2)).toDF(names: _*)
    val feed = Seq(
      ("remove", 1L, (1, 2, 3, 4, 5, 6, 7, 8)),
      ("add", 1L, (9, 9, 9, 9, 9, 9, 9, 9)),
      ("add", 2L, (1, 2, 3, 4, 5, 6, 7, 8)),
      ("remove", 2L, (2, 2, 2, 2, 2, 2, 2, 2)))
      .map { case (t, v, (a, b, c, d, e, f, g, h)) =>
        (a, b, c, d, e, f, g, h, t, v, 0L) }
      .toDF(names ++ Seq("_change_type", "_commit_version",
        "_commit_timestamp"): _*)
    val fast = GraftSharing.applyChanges(base, feed)
    val oracle = GraftSharing.applyChangesFold(base, feed)
    assert(fast.columns.toSeq == names)
    assert(fast.collect().map(_.toString).sorted.toSeq ==
      oracle.collect().map(_.toString).sorted.toSeq)
    assert(fast.count() == 3)
  }

  test("format reader accepts a versionAsOf option") {
    // DataFrameReader face of the same rewind as readTable(versionAsOf)
    val path = s"$profilePath#sh.sc.orders_cdf"
    val atV1 = spark.read.format("graft-sharing")
      .option("versionAsOf", "1").load(path)
    val api = GraftSharing.readTable(spark, client, table,
      versionAsOf = Some(1L))
    assert(atV1.exceptAll(api).count() == 0)
    assert(api.exceptAll(atV1).count() == 0)
    val e = intercept[Exception](spark.read.format("graft-sharing")
      .option("versionAsOf", "x").load(path))
    def chain(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => x.getMessage +: chain(x.getCause))
    assert(chain(e).exists(_.contains("versionAsOf must be")))
  }

  test("time travel rewinds the snapshot from the change log") {
    // current (v2) files: [v1file, v2file]; changes: add@1 v1file,
    // add@2 v2file, remove@2 v1file.
    // v1 = just the v1 file (even orders): the v2 add drops out, the v2
    // remove of v1file resurrects it.
    val atV1 = GraftSharing.readTable(spark, client, table,
      versionAsOf = Some(1L))
    assert(atV1.count() == v1Rows)
    assert(atV1.filter(col("o_orderkey") % 2 === 1).count() == 0)
    // v0 predates every change — the earliest later change to each path
    // is an "add", so the table was EMPTY (the remove@2 must NOT
    // resurrect a file whose add@1 is also being rewound).
    val atV0 = GraftSharing.readTable(spark, client, table,
      versionAsOf = Some(0L))
    assert(atV0.count() == 0)
    assert(atV0.collect().isEmpty) // a scan over no files, not a stats answer
    // pinning the current version is identical to a plain read
    val atV2 = GraftSharing.readTable(spark, client, table,
      versionAsOf = Some(2L))
    assert(atV2.count() ==
      GraftSharing.readTable(spark, client, table).count())
  }

  test("metadata fetch can be version-pinned") {
    val (_, metaV1) = client.getTableMetadata(table, Some(1L))
    assert(metaV1.version.contains("1"))
    val (_, metaNow) = client.getTableMetadata(table)
    assert(metaNow.version.contains("2"))
    val e = intercept[DeltaSharingException](
      client.getTableMetadata(table, Some(99L)))
    assert(e.getMessage.contains("newer than table version"))
  }

  test("time travel to a future version is a typed client error") {
    val e = intercept[DeltaSharingException](
      GraftSharing.readTable(spark, client, table, versionAsOf = Some(99L)))
    assert(e.getMessage.contains("newer than table version"))
  }

  test("empty range is a typed error") {
    val e = intercept[DeltaSharingException](
      GraftSharing.readChanges(spark, client, table, 99L))
    assert(e.getMessage.contains("no changes"))
  }
}
