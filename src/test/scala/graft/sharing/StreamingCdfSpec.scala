package graft.sharing

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.BeforeAndAfterAll

import graft.SparkTestBase
import graft.sharing.server.LocalSharingServer
import graft.sharing.streaming.{GraftCdfMicroBatchStream, VersionOffset}

/** Streaming CDF source: version-cursor micro-batches over the change
  * feed (the endpoint the reference stubs with `todo!()`,
  * src/client/mod.rs:384-386). Batch `readChanges` is the parity oracle.
  */
class StreamingCdfSpec extends SparkTestBase with BeforeAndAfterAll {

  private val server = new LocalSharingServer()
  private var profilePath: String = _
  private var client: DeltaSharingClient = _
  private var dir: String = _

  private val table = TableRef("sh", "sc", "orders_cdf")

  private def parquetIn(sub: String) = server.listParquet(s"$dir/$sub").head

  override def beforeAll(): Unit = {
    val src = graft.Tables.orders(spark, sf0001)
    dir = java.nio.file.Files.createTempDirectory("graft-cdf-stream").toString
    src.filter(col("o_orderkey") % 2 === 0)
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/v1")
    src.filter(col("o_orderkey") % 2 === 1)
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/v2")
    src.filter(col("o_orderkey") < 100)
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/v3")

    server.addTable("sh", "sc", server.TableDef(
      "orders_cdf", DeltaSchema.toSchemaString(src.schema),
      partitionColumns = Seq.empty,
      files = Seq(server.ServedFile(parquetIn("v2"), Map.empty)),
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

  private val sinkCounter = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Run the CDF stream to completion (AvailableNow) into a fresh memory
    * sink; returns the sink table. */
  private def runStream(startingVersion: Long,
      checkpoint: Option[String] = None): DataFrame = {
    val sink = s"cdf_stream_sink_${sinkCounter.incrementAndGet()}"
    val writer = GraftSharing
      .readChangesStream(spark, profilePath, table, startingVersion)
      .writeStream.format("memory").queryName(sink).outputMode("append")
      .trigger(Trigger.AvailableNow())
    val q = checkpoint.fold(writer)(c => writer.option("checkpointLocation", c))
      .start()
    q.awaitTermination()
    spark.table(sink)
  }

  test("stream equals batch readChanges (full parity, metadata included)") {
    val streamed = runStream(1L)
    val batch = GraftSharing.readChanges(spark, client, table, 1L)
    assert(streamed.columns.takeRight(3).toSeq ==
      Seq("_change_type", "_commit_version", "_commit_timestamp"))
    assert(streamed.exceptAll(batch.select(streamed.columns.map(col): _*))
      .count() == 0)
    assert(batch.select(streamed.columns.map(col): _*).exceptAll(streamed)
      .count() == 0)
    // timestamps materialized (typed long partition segment)
    assert(streamed.filter(col("_commit_timestamp") === 1700000001000L)
      .select("_commit_version").distinct().collect().map(_.getLong(0)).toSeq
      == Seq(1L))
  }

  test("startingVersion skips already-consumed history") {
    val streamed = runStream(2L)
    assert(streamed.select("_commit_version").distinct()
      .collect().map(_.getLong(0)).toSet == Set(2L))
    // add@2 carries odd orderkeys only (the v2 file)
    assert(streamed.filter(col("_change_type") === "add")
      .filter(col("o_orderkey") % 2 === 0).count() == 0)
  }

  test("startingTimestamp resolves the stream's start version") {
    // bound between v1 (…001000) and v2 (…002000) commits → start at v2,
    // exactly like startingVersion=2
    val sink = s"cdf_stream_sink_ts_${sinkCounter.incrementAndGet()}"
    val q = spark.readStream.format("graft-sharing-cdf")
      .option("path", s"$profilePath#sh.sc.orders_cdf")
      .option("startingTimestamp",
        java.time.Instant.ofEpochMilli(1700000001500L).toString)
      .load()
      .writeStream.format("memory").queryName(sink).outputMode("append")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(spark.table(sink).select("_commit_version").distinct()
      .collect().map(_.getLong(0)).toSet == Set(2L))
    // both bounds at once is a typed config error
    val e = intercept[Exception] {
      spark.readStream.format("graft-sharing-cdf")
        .option("path", s"$profilePath#sh.sc.orders_cdf")
        .option("startingVersion", "1")
        .option("startingTimestamp", "2023-11-14T00:00:00Z")
        .load()
    }
    def chain(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => x.getMessage +: chain(x.getCause))
    assert(chain(e).exists(_.contains("mutually exclusive")))
  }

  test("checkpoint restart resumes the version cursor, not the history") {
    // the memory sink forbids recovery; a parquet file sink is the
    // realistic checkpointed topology (append-only, exactly-once)
    val checkpoint =
      java.nio.file.Files.createTempDirectory("graft-cdf-ckpt").toString
    val outDir =
      java.nio.file.Files.createTempDirectory("graft-cdf-out").toString
    def runToFiles(): DataFrame = {
      val q = GraftSharing
        .readChangesStream(spark, profilePath, table, 1L)
        .writeStream.format("parquet").option("path", outDir)
        .option("checkpointLocation", checkpoint).outputMode("append")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      spark.read.parquet(outDir)
    }
    val first = runToFiles()
    assert(first.select("_commit_version").distinct().count() == 2)
    val firstCount = first.count()

    // no new commits: restarting from the checkpoint is a no-op batch
    assert(runToFiles().count() == firstCount)

    // commit v3 on the server, then restart again from the SAME
    // checkpoint: only v3 flows through
    val src = graft.Tables.orders(spark, sf0001)
    server.addTable("sh", "sc", server.TableDef(
      "orders_cdf", DeltaSchema.toSchemaString(src.schema),
      partitionColumns = Seq.empty,
      files = Seq(server.ServedFile(parquetIn("v2"), Map.empty),
        server.ServedFile(parquetIn("v3"), Map.empty)),
      version = 3L,
      changes = Seq(
        server.ChangeEntry(1L, "add",
          server.ServedFile(parquetIn("v1"), Map.empty), 1700000001000L),
        server.ChangeEntry(2L, "add",
          server.ServedFile(parquetIn("v2"), Map.empty), 1700000002000L),
        server.ChangeEntry(2L, "remove",
          server.ServedFile(parquetIn("v1"), Map.empty), 1700000002000L),
        server.ChangeEntry(3L, "add",
          server.ServedFile(parquetIn("v3"), Map.empty), 1700000003000L))))
    val all = runToFiles()
    assert(all.select("_commit_version").distinct()
      .collect().map(_.getLong(0)).toSet == Set(1L, 2L, 3L))
    // versions 1-2 were NOT reprocessed; v3 arrived exactly once
    assert(all.filter(col("_commit_version") < 3).count() == firstCount)
    assert(all.filter(col("_commit_version") === 3).count() ==
      src.filter(col("o_orderkey") < 100).count())
    val allCount = all.count()

    // metadata-only commit: the version advances but the feed has no
    // change actions for it — the stream must emit an EMPTY batch, not
    // crash on a reader factory for zero partitions
    server.addTable("sh", "sc", server.TableDef(
      "orders_cdf", DeltaSchema.toSchemaString(src.schema),
      partitionColumns = Seq.empty,
      files = Seq(server.ServedFile(parquetIn("v2"), Map.empty),
        server.ServedFile(parquetIn("v3"), Map.empty)),
      version = 4L,
      changes = Seq(
        server.ChangeEntry(1L, "add",
          server.ServedFile(parquetIn("v1"), Map.empty), 1700000001000L),
        server.ChangeEntry(2L, "add",
          server.ServedFile(parquetIn("v2"), Map.empty), 1700000002000L),
        server.ChangeEntry(2L, "remove",
          server.ServedFile(parquetIn("v1"), Map.empty), 1700000002000L),
        server.ChangeEntry(3L, "add",
          server.ServedFile(parquetIn("v3"), Map.empty), 1700000003000L))))
    assert(runToFiles().count() == allCount)
  }

  test("table partition values ride alongside the CDF metadata columns") {
    val src = graft.Tables.orders(spark, sf0001)
    val slice = src.filter(col("o_orderkey") < 50).drop("o_orderpriority")
    slice.coalesce(1).write.mode("overwrite").parquet(s"$dir/part")
    server.addTable("sh", "sc", server.TableDef(
      "orders_cdf_part", DeltaSchema.toSchemaString(src.schema),
      partitionColumns = Seq("o_orderpriority"),
      files = Seq.empty,
      version = 1L,
      changes = Seq(server.ChangeEntry(1L, "add",
        server.ServedFile(parquetIn("part"),
          Map("o_orderpriority" -> "1-URGENT")), 1700000001000L))))
    val sink = s"cdf_stream_sink_part_${sinkCounter.incrementAndGet()}"
    val q = GraftSharing.readChangesStream(spark, profilePath,
        TableRef("sh", "sc", "orders_cdf_part"), 1L)
      .writeStream.format("memory").queryName(sink).outputMode("append")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table(sink)
    // partition column sits between the data and CDF metadata columns,
    // typed and constant; data columns decode from the file bytes
    assert(got.columns.toSeq.takeRight(4) == Seq("o_orderpriority",
      "_change_type", "_commit_version", "_commit_timestamp"))
    assert(got.select("o_orderpriority").distinct()
      .collect().map(_.getString(0)).toSeq == Seq("1-URGENT"))
    assert(got.count() == slice.count())
    assert(got.agg(max("o_orderkey")).collect()(0).getLong(0) == 49L)
  }

  test("restart under schema change: typed mid-stream error, evolved resume") {
    import org.apache.spark.sql.Row
    val src = graft.Tables.orders(spark, sf0001)
      .filter(col("o_orderkey") < 200).cache()
    val evoDir =
      java.nio.file.Files.createTempDirectory("graft-cdf-evo").toString
    src.filter(col("o_orderkey") % 2 === 0)
      .coalesce(1).write.mode("overwrite").parquet(s"$evoDir/v1")
    src.filter(col("o_orderkey") % 2 === 1)
      .coalesce(1).write.mode("overwrite").parquet(s"$evoDir/v2")
    // the added column must be declared NULLABLE — the only valid
    // add-column evolution (pre-evolution files have no values for it);
    // when() keeps the literal while flipping the field nullable
    val evolved = src.withColumn("o_flag",
      when(col("o_orderkey") >= 0, lit("evo")))
    evolved.filter(col("o_orderkey") < 50)
      .coalesce(1).write.mode("overwrite").parquet(s"$evoDir/v3")
    def pq(sub: String) = server.listParquet(s"$evoDir/$sub").head
    val baseChanges = Seq(
      server.ChangeEntry(1L, "add",
        server.ServedFile(pq("v1"), Map.empty), 1700000001000L),
      server.ChangeEntry(2L, "add",
        server.ServedFile(pq("v2"), Map.empty), 1700000002000L))
    server.addTable("sh", "sc", server.TableDef(
      "orders_evo", DeltaSchema.toSchemaString(src.schema),
      partitionColumns = Seq.empty,
      files = Seq(server.ServedFile(pq("v2"), Map.empty)),
      version = 2L, changes = baseChanges))
    val ref = TableRef("sh", "sc", "orders_evo")

    // load() captures the ORIGINAL schema…
    val stream = GraftSharing.readChangesStream(spark, profilePath, ref, 1L)
    // …then the table evolves (adds o_flag) before the first batch plans
    server.addTable("sh", "sc", server.TableDef(
      "orders_evo", DeltaSchema.toSchemaString(evolved.schema),
      partitionColumns = Seq.empty,
      files = Seq(server.ServedFile(pq("v3"), Map.empty)),
      version = 3L,
      changes = baseChanges :+ server.ChangeEntry(3L, "add",
        server.ServedFile(pq("v3"), Map.empty), 1700000003000L)))

    val ckpt =
      java.nio.file.Files.createTempDirectory("graft-cdf-evo-ckpt").toString
    val buf = scala.collection.mutable.ArrayBuffer.empty[Row]
    def drain(df: DataFrame): Unit = buf.synchronized { buf ++= df.collect() }
    // planning against the stale schema must FAIL with the typed error,
    // never silently misread columns
    val q1 = stream.writeStream
      .foreachBatch((df: org.apache.spark.sql.Dataset[Row], _: Long) =>
        drain(df.toDF()))
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException](
      q1.awaitTermination())
    def chain(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        s"${x.getClass.getName}: ${x.getMessage}" +: chain(x.getCause))
    assert(chain(err).exists(s =>
      s.contains("SCHEMA_CHANGED") || s.contains("schema changed")),
      s"wanted the typed schema-change error, got: ${chain(err).take(3)}")
    assert(buf.isEmpty)

    // RESTART from the same checkpoint: a fresh load() adopts the
    // evolved schema and the version cursor resumes — old-schema files
    // surface the added column as NULL (parquet evolution), the new
    // file carries its values, nothing is dropped or duplicated
    val q2 = GraftSharing.readChangesStream(spark, profilePath, ref, 1L)
      .writeStream
      .foreachBatch((df: org.apache.spark.sql.Dataset[Row], _: Long) =>
        drain(df.toDF()))
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q2.awaitTermination()
    val out = buf.synchronized { buf.toVector }
    assert(out.nonEmpty)
    val cols = out.head.schema.fieldNames.toSeq
    assert(cols.contains("o_flag"))
    val byVersion = out.groupBy(_.getAs[Long]("_commit_version"))
    assert(byVersion.keySet == Set(1L, 2L, 3L))
    assert(byVersion(1L).size + byVersion(2L).size == src.count())
    assert(byVersion(3L).size == evolved.filter(col("o_orderkey") < 50).count())
    assert(byVersion(1L).forall(_.getAs[String]("o_flag") == null))
    assert(byVersion(2L).forall(_.getAs[String]("o_flag") == null))
    assert(byVersion(3L).forall(_.getAs[String]("o_flag") == "evo"))
  }

  test("offset serde roundtrips and rejects malformed json") {
    val stream = new GraftCdfMicroBatchStream(client, table,
      client.getTableMetadata(table)._2, 1L)
    assert(stream.deserializeOffset(VersionOffset(7L).json) == VersionOffset(7L))
    assert(stream.deserializeOffset("""{ "version" : -1 }""") == VersionOffset(-1L))
    intercept[DeltaSharingException](stream.deserializeOffset("""{"ver":1}"""))
  }
}
