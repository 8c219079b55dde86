package graft.sharing

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.sharing.server.LocalSharingServer

/** Client ↔ server protocol tests, mirroring the reference's mock-server
  * suite (src/client/mod.rs:452-831): endpoint shapes, pagination loops,
  * NDJSON parsing, auth, and the 4xx/5xx error taxonomy. */
class ClientServerSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val server = new LocalSharingServer()
  private var client: DeltaSharingClient = _
  private val lineitemSchema =
    """{"type":"struct","fields":[
      |{"name":"l_orderkey","type":"long","nullable":true,"metadata":{}},
      |{"name":"l_quantity","type":"double","nullable":true,"metadata":{}}]}"""
      .stripMargin.replaceAll("\n", "")

  override def beforeAll(): Unit = {
    server.addParquetTable("share1", "schema1", "lineitem",
      "/root/testdata/sf0.001/lineitem.parquet", lineitemSchema)
    server.addParquetTable("share1", "schema1", "orders",
      "/root/testdata/sf0.001/orders.parquet", lineitemSchema)
    server.addParquetTable("share1", "schema2", "nation",
      "/root/testdata/sf0.001/nation.parquet", lineitemSchema)
    server.addParquetTable("share2", "s", "region",
      "/root/testdata/sf0.001/region.parquet", lineitemSchema)
    server.start()
    client = new DeltaSharingClient(Profile.fromJson(server.profileJson))
  }
  override def afterAll(): Unit = { server.stop(); super.afterAll() }

  test("list shares") {
    assert(client.listShares().map(_.name) == Seq("share1", "share2"))
  }

  test("list shares paginated one-per-page (mod.rs:518-552 shape)") {
    val paged = new DeltaSharingClient(
      Profile.fromJson(server.profileJson), maxResultsPerPage = Some(1))
    assert(paged.listShares().map(_.name) == Seq("share1", "share2"))
    assert(paged.listAllTables("share1").map(_.name) ==
      Seq("lineitem", "orders", "nation"))
  }

  test("throttling (429/503) is retried with backoff; exhaustion surfaces") {
    // two injected 503s, then success — the client must ride them out
    server.failNextRequests = 2
    server.failNextCode = 503
    assert(client.listShares().map(_.name) == Seq("share1", "share2"))
    // 429 on the (idempotent, read-only) query POST retries too
    server.failNextRequests = 1
    server.failNextCode = 429
    val (_, _, files) = client.getTableData(
      TableRef("share1", "schema1", "lineitem"))
    assert(files.nonEmpty)
    // more failures than budget → the typed error surfaces
    val impatient = new DeltaSharingClient(
      Profile.fromJson(server.profileJson), maxRetries = 1)
    server.failNextCode = 503
    server.failNextRequests = 5
    val e = intercept[DeltaSharingException](impatient.listShares())
    assert(e.kind == "SERVER_ERROR")
    server.failNextRequests = 0
    // deterministic 4xx is NOT retried: a missing share fails instantly
    val t0 = System.nanoTime()
    intercept[DeltaSharingException](client.getShare("nope"))
    assert((System.nanoTime() - t0) < 2e9, "404 should not back off")
    // a hostile Retry-After cannot park the thread past the cap
    assert(DeltaSharingClient.backoffMs(0, 86400L * 1000) ==
      DeltaSharingClient.maxBackoffMs)
    assert(DeltaSharingClient.backoffMs(2, 0) == 400L)
    assert(DeltaSharingClient.backoffMs(30, 0) ==
      DeltaSharingClient.maxBackoffMs, "exponential term is capped too")
  }

  test("get share + missing share is CLIENT_ERROR (mod.rs:810-830)") {
    assert(client.getShare("share1").name == "share1")
    val e = intercept[DeltaSharingException](client.getShare("nope"))
    assert(e.kind == "CLIENT_ERROR")
    assert(e.getMessage.contains("RESOURCE_DOES_NOT_EXIST"))
  }

  test("list schemas / tables in schema / all tables") {
    assert(client.listSchemas("share1").map(_.name) == Seq("schema1", "schema2"))
    assert(client.listTables(SchemaRef("share1", "schema1")).map(_.name) ==
      Seq("lineitem", "orders"))
    val all = client.listAllTables("share1")
    assert(all.map(t => s"${t.schema}.${t.name}") ==
      Seq("schema1.lineitem", "schema1.orders", "schema2.nation"))
  }

  test("table version comes from Delta-Table-Version header") {
    assert(client.getTableVersion(TableRef("share1", "schema1", "lineitem")) == 1L)
  }

  test("version honors startingTimestamp (earliest change at/after it)") {
    val f = java.nio.file.Paths.get("/root/testdata/sf0.001/region.parquet")
    server.addTable("share1", "schema1", server.TableDef(
      "versioned", lineitemSchema, Seq.empty,
      files = Seq(server.ServedFile(f, Map.empty)), version = 3L,
      changes = Seq(
        server.ChangeEntry(1L, "add", server.ServedFile(f, Map.empty),
          timestamp = 1700000001000L),
        server.ChangeEntry(3L, "add", server.ServedFile(f, Map.empty),
          timestamp = 1700000003000L))))
    val t = TableRef("share1", "schema1", "versioned")
    assert(client.getTableVersion(t) == 3L)
    assert(client.getTableVersion(t,
      Some(java.time.Instant.ofEpochMilli(1700000002000L).toString)) == 3L)
    assert(client.getTableVersion(t,
      Some(java.time.Instant.ofEpochMilli(1600000000000L).toString)) == 1L)
    val e = intercept[DeltaSharingException](client.getTableVersion(t,
      Some(java.time.Instant.ofEpochMilli(1800000000000L).toString)))
    assert(e.kind == "CLIENT_ERROR")
    // malformed timestamp is the CLIENT's fault: 400, not a 500
    val bad = intercept[DeltaSharingException](
      client.getTableVersion(t, Some("2024-01-01")))
    assert(bad.kind == "CLIENT_ERROR")
    assert(bad.getMessage.contains("INVALID_PARAMETER_VALUE"))
  }

  test("HTTP 500 maps to SERVER_ERROR (error taxonomy, error.rs:72-89)") {
    // a table whose backing file is missing: listings work, but the
    // query endpoint fails server-side when sizing the file
    server.addTable("share1", "schema1", server.TableDef(
      "broken", lineitemSchema, Seq.empty,
      files = Seq(server.ServedFile(
        java.nio.file.Paths.get("/nonexistent/nope.parquet"), Map.empty))))
    val e = intercept[DeltaSharingException](
      client.getTableData(TableRef("share1", "schema1", "broken")))
    assert(e.kind == "SERVER_ERROR")
    assert(e.getMessage.contains("500"))
  }

  test("metadata NDJSON: protocol + metaData") {
    val (p, m) = client.getTableMetadata(TableRef("share1", "schema1", "lineitem"))
    assert(p.minReaderVersion == 1)
    assert(m.format.provider == "parquet")
    assert(DeltaSchema.fromSchemaString(m.schemaString).fieldNames.toSeq ==
      Seq("l_orderkey", "l_quantity"))
  }

  test("query returns files with signed urls; hints are forwarded") {
    val (_, _, files) = client.getTableData(
      TableRef("share1", "schema1", "lineitem"),
      predicateHints = Some("""{"op":"isNull","children":[]}"""),
      limitHint = Some(25))
    assert(files.nonEmpty)
    assert(files.head.url.contains("sig="))
    assert(files.head.size > 0)
    assert(files.head.expirationTimestamp.exists(_ > System.currentTimeMillis()))
    assert(server.lastPredicateHints.contains("""{"op":"isNull","children":[]}"""))
    assert(server.lastLimitHint.contains("25"))
  }

  test("bad bearer token is a CLIENT_ERROR") {
    val bad = new DeltaSharingClient(Profile.fromJson(
      s"""{"shareCredentialsVersion":1,"endpoint":"${server.endpoint}","bearerToken":"wrong"}"""))
    val e = intercept[DeltaSharingException](bad.listShares())
    assert(e.kind == "CLIENT_ERROR")
  }

  test("unsupported table features are rejected with a typed error " +
      "(r13 verdict ask #4; reference action.rs:32-59 parquet-only gate)") {
    // a DV-bearing / delta-format / column-mapped share would previously
    // be SILENTLY MISREAD (tombstoned rows served, physical column names
    // mismatched) — the most likely real-world failure for a recipient
    val files = server
      .listParquet("/root/testdata/sf0.001/lineitem.parquet")
      .map(f => server.ServedFile(f, Map.empty))
    def reg(td: server.TableDef): TableRef = {
      server.addTable("share1", "schema1", td)
      TableRef("share1", "schema1", td.name)
    }
    // (a) delta responseFormat: provider != parquet in metaData
    val tDelta = reg(server.TableDef("t_delta", lineitemSchema, Seq.empty,
      files, formatProvider = "delta"))
    val eDelta = intercept[DeltaSharingException](client.getTableMetadata(tDelta))
    assert(eDelta.kind == "UNSUPPORTED_TABLE_FEATURE" &&
      eDelta.getMessage.contains("delta"))
    // (b) delta-format file action (deltaSingleAction envelope)
    val tDsa = reg(server.TableDef("t_dsa", lineitemSchema, Seq.empty,
      files, fileExtraJson = Some(""""deltaSingleAction":{"add":{}}""")))
    val eDsa = intercept[DeltaSharingException](client.getTableData(tDsa))
    assert(eDsa.kind == "UNSUPPORTED_TABLE_FEATURE")
    // (c) deletion vector descriptor on a file action
    val tDv = reg(server.TableDef("t_dv", lineitemSchema, Seq.empty,
      files, fileExtraJson = Some(
        """"deletionVector":{"storageType":"u","pathOrInlineDv":"x","sizeInBytes":8,"cardinality":2}""")))
    val eDv = intercept[DeltaSharingException](client.getTableData(tDv))
    assert(eDv.kind == "UNSUPPORTED_TABLE_FEATURE" &&
      eDv.getMessage.contains("deletionVector"))
    // (d) table configuration enabling DVs / column mapping
    val tConf = reg(server.TableDef("t_conf", lineitemSchema, Seq.empty,
      files, configuration = Map("delta.enableDeletionVectors" -> "true")))
    assert(intercept[DeltaSharingException](
      client.getTableMetadata(tConf)).kind == "UNSUPPORTED_TABLE_FEATURE")
    val tCm = reg(server.TableDef("t_cm", lineitemSchema, Seq.empty,
      files, configuration = Map("delta.columnMapping.mode" -> "name")))
    assert(intercept[DeltaSharingException](
      client.getTableMetadata(tCm)).kind == "UNSUPPORTED_TABLE_FEATURE")
    // (e) reader capability: minReaderVersion > 1
    val tV3 = reg(server.TableDef("t_v3", lineitemSchema, Seq.empty,
      files, minReaderVersion = 3))
    assert(intercept[DeltaSharingException](
      client.getTableMetadata(tV3)).kind == "UNSUPPORTED_TABLE_FEATURE")
    // readTable reaches the same gate through its metadata call
    assert(intercept[DeltaSharingException](GraftSharing.readTable(
      graft.SparkTestBase.session, client, tV3)).kind == "UNSUPPORTED_TABLE_FEATURE")
    // the plain parquet table still reads fine through the same client
    assert(client.getTableData(
      TableRef("share1", "schema1", "lineitem"))._3.nonEmpty)
  }
}
