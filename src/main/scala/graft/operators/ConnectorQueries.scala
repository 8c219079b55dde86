package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.LessThan

import graft.QueryDef
import graft.sharing._
import graft.sharing.server.LocalSharingServer

/** Delta-Sharing-connector-backed queries: each reads the test tables
  * through the full sharing path (in-process sharing server → REST client
  * → signed URLs → graftshare FileSystem → Spark vectorized parquet scan),
  * proving the SURVEY §2.1 connector stack inside the driver's
  * correctness gate. Oracles run DuckDB directly on the same parquet, so
  * a hash match certifies the connector is byte-faithful.
  */
object ConnectorQueries {

  /** One live server+client per sfDir for the lifetime of the JVM. */
  private val servers =
    scala.collection.concurrent.TrieMap.empty[String, (LocalSharingServer, DeltaSharingClient)]

  /** Stop all cached servers (mains call this before exiting — the
    * HttpServer listener thread is non-daemon and would pin the JVM). */
  def stopAll(): Unit = {
    servers.values.foreach { case (srv, _) => srv.stop() }
    servers.clear()
    // keep the lifecycles symmetric: a cached OAuth client holds the
    // DEAD server's tokenEndpoint and would fail any restaged run
    oauthClients.clear()
  }

  private def shared(spark: SparkSession, sfDir: String): DeltaSharingClient =
    servers.getOrElseUpdate(sfDir, {
      // the server also speaks the OAuth client_credentials grant so the
      // v2-profile path rides the same staged tables (connector_oauth_scan)
      val server = new LocalSharingServer(
        oauthClient = Some(("graft-client", "graft-secret")))
      val names = Seq("region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "documents", "embeddings")
      names.foreach { n =>
        val schema = spark.read.parquet(s"$sfDir/$n.parquet").schema
        server.addParquetTable("graft", "main", n, s"$sfDir/$n.parquet",
          DeltaSchema.toSchemaString(schema))
      }
      // events is TIMESTAMP(NANOS); the sharing protocol's timestamp type
      // is µs, so serve the µs-staged copy (what a conforming Delta
      // Sharing server would expose).
      val eventsDir = StreamingOps.stagedEventsDir(spark, sfDir)
      server.addParquetTable("graft", "main", "events", eventsDir,
        DeltaSchema.toSchemaString(spark.read.parquet(eventsDir).schema))

      import java.nio.file.Files
      def parquetFiles(p: String): Seq[java.nio.file.Path] =
        server.listParquet(p)
      val stage = Files.createTempDirectory("graft-connector-stage").toString

      // CDF table over nation: v1 snapshot = full nation (served as the
      // plain shared `nation` table above), v2 adds the n_nationkey<10
      // slice, v3 removes the full base. The table's CURRENT files are
      // the v3 snapshot (the slice) so a plain scan and the change feed
      // are mutually consistent — fold(v1 snapshot, changes[2,3]) must
      // equal the current files.
      val nation = spark.read.parquet(s"$sfDir/nation.parquet")
      nation.filter(col("n_nationkey") < 10).coalesce(1)
        .write.mode("overwrite").parquet(s"$stage/nation_sub")
      server.addTable("graft", "main", server.TableDef(
        "nation_cdf", DeltaSchema.toSchemaString(nation.schema), Seq.empty,
        files = parquetFiles(s"$stage/nation_sub")
          .map(f => server.ServedFile(f, Map.empty)),
        version = 3,
        changes =
          // distinct per-version commit timestamps so timestamp-bounded
          // CDF reads (startingTimestamp) can resolve versions
          parquetFiles(s"$stage/nation_sub")
            .map(f => server.ChangeEntry(2, "add",
              server.ServedFile(f, Map.empty), 1700000000000L)) ++
          parquetFiles(s"$sfDir/nation.parquet")
            .map(f => server.ChangeEntry(3, "remove",
              server.ServedFile(f, Map.empty), 1700000100000L))))

      // Partitioned table: orders split by o_orderpriority with the
      // partition column REMOVED from the files — its values travel as
      // per-file partitionValues strings and must rematerialize as typed
      // constant columns (reference scan.rs:160-229).
      val orders = spark.read.parquet(s"$sfDir/orders.parquet")
      val pris = orders.select("o_orderpriority").distinct()
        .collect().map(_.getString(0)).sorted
      val partFiles = pris.zipWithIndex.flatMap { case (p, i) =>
        val dir = s"$stage/orders_p$i"
        val slice = orders.filter(col("o_orderpriority") === p)
          .drop("o_orderpriority")
        slice.coalesce(1).write.mode("overwrite").parquet(dir)
        // real per-file stats → the query endpoint and the driver prune
        // on them (SURVEY §4); computed once at staging time like a
        // writer collecting footer stats
        val st = slice.agg(min("o_orderkey"), max("o_orderkey"),
          count(lit(1))).collect()(0)
        val statsJson =
          s"""{"numRecords":${st.getLong(2)},""" +
            s""""minValues":{"o_orderkey":${st.getLong(0)}},""" +
            s""""maxValues":{"o_orderkey":${st.getLong(1)}},""" +
            s""""nullCount":{"o_orderkey":0}}"""
        parquetFiles(dir).map(f =>
          server.ServedFile(f, Map("o_orderpriority" -> p), Some(statsJson)))
      }
      server.addTable("graft", "main", server.TableDef(
        "orders_part", DeltaSchema.toSchemaString(orders.schema),
        partitionColumns = Seq("o_orderpriority"), files = partFiles.toSeq))

      // Key-range-sliced copy with per-file stats: the layout where
      // stats skipping actually bites (each file owns a disjoint
      // o_orderkey range, so a key predicate excludes whole files).
      val qs = orders.stat.approxQuantile("o_orderkey",
        Array(0.25, 0.5, 0.75), 0.0).map(_.toLong)
      val bounds = Long.MinValue +: qs.toSeq :+ Long.MaxValue
      val rangeFiles = bounds.sliding(2).toSeq.zipWithIndex.flatMap {
        case (Seq(lo, hi), i) =>
        val dir = s"$stage/orders_r$i"
        val slice = orders.filter(
          col("o_orderkey") >= lo && col("o_orderkey") < hi)
        slice.coalesce(1).write.mode("overwrite").parquet(dir)
        val st = slice.agg(min("o_orderkey"), max("o_orderkey"),
          count(lit(1))).collect()(0)
        val statsJson =
          s"""{"numRecords":${st.getLong(2)},""" +
            s""""minValues":{"o_orderkey":${st.getLong(0)}},""" +
            s""""maxValues":{"o_orderkey":${st.getLong(1)}},""" +
            s""""nullCount":{"o_orderkey":0}}"""
        parquetFiles(dir).map(f =>
          server.ServedFile(f, Map.empty, Some(statsJson)))
      }
      server.addTable("graft", "main", server.TableDef(
        "orders_byrange", DeltaSchema.toSchemaString(orders.schema),
        Seq.empty, files = rangeFiles.toSeq))

      // Layout-skipping pair (r12 verdict ask #5): the SAME derived rows
      // (cx = o_custkey%256, cy = o_orderkey%256) written twice as 16
      // files with real per-file min/max cx stats — once in natural
      // ingest order (file = rank over o_orderkey), once along the
      // Morton curve (file = rank over zkey) — so
      // connector_layout_skipping can certify END-TO-END that the
      // z-order layout makes StatsPruning skip files a natural layout
      // cannot. File assignment is the deterministic rank*16 div n
      // split (replayable in DuckDB), NOT repartitionByRange's sampled
      // boundaries; staging-scale whole-frame windows are fixture prep,
      // not a gated plan.
      val grid = orders.select(
          (col("o_custkey") % 256).cast("long").as("cx"),
          (col("o_orderkey") % 256).cast("long").as("cy"),
          col("o_orderkey"))
        .withColumn("zkey",
          graft.operators.Layout.zorder16(col("cx"), col("cy")))
      val nGrid = grid.count()
      def stageLayout(name: String,
          order: Seq[org.apache.spark.sql.Column]): Unit = {
        val dir = s"$stage/$name"
        val withF = grid
          .withColumn("rk",
            org.apache.spark.sql.functions.row_number().over(
              org.apache.spark.sql.expressions.Window.orderBy(order: _*))
              - 1)
          .withColumn("f", expr(s"rk * 16 div ${nGrid}L"))
          .select("cx", "cy", "o_orderkey", "f")
        withF.coalesce(1).write.mode("overwrite")
          .partitionBy("f").parquet(dir)
        val stats = withF.groupBy("f")
          .agg(min("cx").as("mn"), max("cx").as("mx"),
            count(lit(1)).as("cnt"))
          .collect()
          .map(r => r.getAs[Long]("f") ->
            (r.getAs[Long]("mn"), r.getAs[Long]("mx"), r.getAs[Long]("cnt")))
          .toMap
        val files = (0L until 16L).flatMap { i =>
          val (mn, mx, cnt) = stats(i)
          val statsJson =
            s"""{"numRecords":$cnt,"minValues":{"cx":$mn},""" +
              s""""maxValues":{"cx":$mx},"nullCount":{"cx":0}}"""
          parquetFiles(s"$dir/f=$i")
            .map(f => server.ServedFile(f, Map.empty, Some(statsJson)))
        }
        server.addTable("graft", "main", server.TableDef(
          name,
          DeltaSchema.toSchemaString(
            spark.read.parquet(s"$dir/f=0").schema),
          Seq.empty, files = files))
      }
      stageLayout("orders_layout_nat", Seq(col("o_orderkey")))
      stageLayout("orders_layout_z", Seq(col("zkey"), col("o_orderkey")))

      // CDF table over DOCUMENTS for the incremental-curation pipeline
      // (r12 verdict ask #2): v1 = the already-ingested corpus
      // (doc_id % 5 ≠ 0 — the same new/old split dedup_incremental
      // certifies), v2 adds the doc_id % 10 = 0 arrivals, v3 adds the
      // doc_id % 10 = 5 arrivals. Current snapshot (v3) = all three
      // slices, so time travel, the change feed, and plain scans stay
      // mutually consistent. Distinct commit timestamps enable
      // timestamp-bounded reads.
      val docsRaw = spark.read.parquet(s"$sfDir/documents.parquet")
      def docSlice(name: String, cond: org.apache.spark.sql.Column)
          : Seq[java.nio.file.Path] = {
        val dir = s"$stage/$name"
        docsRaw.filter(cond).coalesce(1).write.mode("overwrite").parquet(dir)
        parquetFiles(dir)
      }
      val docBase = docSlice("docs_base", col("doc_id") % 5 =!= 0)
      val docV2 = docSlice("docs_v2", col("doc_id") % 10 === 0)
      val docV3 = docSlice("docs_v3", col("doc_id") % 10 === 5)
      server.addTable("graft", "main", server.TableDef(
        "documents_cdf", DeltaSchema.toSchemaString(docsRaw.schema),
        Seq.empty,
        files = (docBase ++ docV2 ++ docV3)
          .map(f => server.ServedFile(f, Map.empty)),
        version = 3,
        changes =
          docV2.map(f => server.ChangeEntry(2, "add",
            server.ServedFile(f, Map.empty), 1700000200000L)) ++
          docV3.map(f => server.ChangeEntry(3, "add",
            server.ServedFile(f, Map.empty), 1700000300000L))))

      // CDF table over EMBEDDINGS for the incremental ANN-index pipeline
      // (r13 verdict ask #5): the documents_cdf new/old split convention
      // — v1 = the already-indexed corpus (vec_id % 5 ≠ 0), v2 adds the
      // vec_id % 10 = 0 arrivals, v3 adds vec_id % 10 = 5. Current
      // snapshot (v3) = all three slices = the FULL embeddings table, so
      // the feed, time travel, and plain scans stay mutually consistent
      // and the oracle can score against the raw parquet.
      val embRaw = spark.read.parquet(s"$sfDir/embeddings.parquet")
      def embSlice(name: String, cond: org.apache.spark.sql.Column)
          : Seq[java.nio.file.Path] = {
        val dir = s"$stage/$name"
        embRaw.filter(cond).coalesce(1).write.mode("overwrite").parquet(dir)
        parquetFiles(dir)
      }
      val embBase = embSlice("emb_base", col("vec_id") % 5 =!= 0)
      val embV2 = embSlice("emb_v2", col("vec_id") % 10 === 0)
      val embV3 = embSlice("emb_v3", col("vec_id") % 10 === 5)
      server.addTable("graft", "main", server.TableDef(
        "embeddings_cdf", DeltaSchema.toSchemaString(embRaw.schema),
        Seq.empty,
        files = (embBase ++ embV2 ++ embV3)
          .map(f => server.ServedFile(f, Map.empty)),
        version = 3,
        changes =
          embV2.map(f => server.ChangeEntry(2, "add",
            server.ServedFile(f, Map.empty), 1700000600000L)) ++
          embV3.map(f => server.ChangeEntry(3, "add",
            server.ServedFile(f, Map.empty), 1700000700000L))))

      // CDF table over SUPPLIER with UPDATE-shaped changes (remove old
      // row + add new row in the same commit — how Delta CDF renders an
      // UPDATE without preimage columns): v2 reprices s_suppkey % 5 = 0
      // (s_acctbal + 100), v3 reprices s_suppkey % 7 = 0 on TOP of v2
      // (% 35 keys carry two update generations). Current snapshot =
      // the fully folded state, so plain scans, time travel and the
      // feed stay mutually consistent. Backs connector_cdf_scd2.
      // Files are partitioned by UPDATE-GENERATION PATTERN (untouched /
      // %5-only / %7-only / %35) so every commit's file rewrites touch
      // exactly the keys that change in it — the Delta invariant that
      // the current file list equals v1 + adds − removes at FILE
      // granularity holds, and the change feed carries no phantom
      // rewrite rows for unchanged keys.
      val supRaw = spark.read.parquet(s"$sfDir/supplier.parquet")
      val is5 = col("s_suppkey") % 5 === 0
      val is7 = col("s_suppkey") % 7 === 0
      def supSlice(name: String, df: DataFrame): Seq[java.nio.file.Path] = {
        val dir = s"$stage/$name"
        df.coalesce(1).write.mode("overwrite").parquet(dir)
        parquetFiles(dir)
      }
      def bump(df: DataFrame): DataFrame =
        df.withColumn("s_acctbal", col("s_acctbal") + 100.0)
      val supA = supSlice("sup_a", supRaw.filter(!is5 && !is7))
      val supB = supSlice("sup_b", supRaw.filter(is5 && !is7))
      val supC = supSlice("sup_c", supRaw.filter(!is5 && is7))
      val supD = supSlice("sup_d", supRaw.filter(is5 && is7))
      val supB2 = supSlice("sup_b2", bump(supRaw.filter(is5 && !is7)))
      val supD2 = supSlice("sup_d2", bump(supRaw.filter(is5 && is7)))
      val supC3 = supSlice("sup_c3", bump(supRaw.filter(!is5 && is7)))
      val supD3 = supSlice("sup_d3", bump(bump(supRaw.filter(is5 && is7))))
      def served(fs: Seq[java.nio.file.Path]) =
        fs.map(f => server.ServedFile(f, Map.empty))
      def entries(v: Long, typ: String, fs: Seq[java.nio.file.Path],
          ts: Long) =
        fs.map(f => server.ChangeEntry(v, typ,
          server.ServedFile(f, Map.empty), ts))
      server.addTable("graft", "main", server.TableDef(
        "supplier_cdf", DeltaSchema.toSchemaString(supRaw.schema),
        Seq.empty,
        files = served(supA ++ supB2 ++ supC3 ++ supD3),
        version = 3,
        changes =
          entries(2, "remove", supB ++ supD, 1700000400000L) ++
          entries(2, "add", supB2 ++ supD2, 1700000400000L) ++
          entries(3, "remove", supC ++ supD2, 1700000500000L) ++
          entries(3, "add", supC3 ++ supD3, 1700000500000L)))

      // Nested-type table: per-order array<struct> of line items plus a
      // map column, derived deterministically from lineitem — exercises
      // the schema envelope's struct/array/map recursion AND the
      // vectorized reader on nested data through the signed-URL path.
      // (l_linenumber repeats within an order in this corpus, so lines
      // are pre-aggregated before becoming map keys.)
      val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      val nested = li
        .groupBy("l_orderkey", "l_linenumber")
        .agg(sum(col("l_quantity").cast("decimal(18,2)")).as("qty"))
        .groupBy("l_orderkey")
        .agg(array_sort(collect_list(
          struct(col("l_linenumber").as("ln"), col("qty")))).as("lines"))
        .withColumn("qty_by_line", map_from_entries(col("lines")))
      nested.coalesce(2).write.mode("overwrite")
        .parquet(s"$stage/orders_nested")
      server.addParquetTable("graft", "main", "orders_nested",
        s"$stage/orders_nested", DeltaSchema.toSchemaString(nested.schema))

      server.start()
      (server, new DeltaSharingClient(Profile.fromJson(server.profileJson)))
    })._2

  private def sharedTable(spark: SparkSession, sfDir: String, name: String): DataFrame =
    GraftSharing.readTable(spark, shared(spark, sfDir), TableRef("graft", "main", name))

  /** A SECOND client for the same server authenticated via the OAuth
    * client_credentials grant (shareCredentialsVersion 2) — the
    * production M2M auth path for long-running jobs. Lazy per sfDir so
    * the token grant itself happens on first use. */
  private val oauthClients =
    scala.collection.concurrent.TrieMap.empty[String, DeltaSharingClient]
  private def oauthClient(spark: SparkSession, sfDir: String): DeltaSharingClient =
    oauthClients.getOrElseUpdate(sfDir, {
      shared(spark, sfDir)
      new DeltaSharingClient(Profile.fromJson(servers(sfDir)._1.profileJsonV2))
    })

  /** Pre-stage this sfDir's sharing server (fixture slicing, temp
    * parquet, server start) and catalog registration OUTSIDE a timed
    * window — staging is ingest/layout cost, not query cost. Idempotent. */
  def stage(spark: SparkSession, sfDir: String): Unit = {
    shared(spark, sfDir)
    catalogFor(spark, sfDir)
    ()
  }

  private val profilePaths = scala.collection.concurrent.TrieMap.empty[String, String]
  private val streamSinkCounter = new java.util.concurrent.atomic.AtomicInteger(0)

  /** A profile FILE for this sfDir's server (the streaming source
    * resolves its client from a profile path, as an external consumer
    * would). */
  private def profileFor(spark: SparkSession, sfDir: String): String =
    profilePaths.getOrElseUpdate(sfDir,
      { shared(spark, sfDir); servers(sfDir)._1.writeProfile() })

  /** Register the DSv2 catalog for this sfDir's server (idempotent) and
    * return the catalog name. The name embeds the sfDir because Spark's
    * CatalogManager caches catalog INSTANCES by name — re-pointing one
    * name at a different server via conf would silently keep serving the
    * first sfDir (bench warmup runs at sf0.001, measurement at sf0.1). */
  private def catalogFor(spark: SparkSession, sfDir: String): String = {
    val (server, _) = { shared(spark, sfDir); servers(sfDir) }
    val name = "graftshare_cat_" + sfDir.replaceAll("[^A-Za-z0-9]", "_")
    spark.conf.set(s"spark.sql.catalog.$name",
      "graft.sharing.catalog.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$name.profile.json", server.profileJson)
    spark.conf.set(s"spark.sql.catalog.$name.share", "graft")
    name
  }

  def defs: Seq[QueryDef] = Seq(
    // Scan through the connector AUTHENTICATED VIA THE OAUTH
    // client_credentials GRANT (shareCredentialsVersion 2): profile →
    // token endpoint → short-lived bearer → listing → signed URLs →
    // vectorized parquet. A hash match against DuckDB on the raw
    // parquet certifies the whole v2 auth path end-to-end (previously
    // spec-only coverage in OAuthSpec).
    QueryDef.sql(
      "connector_oauth_scan",
      """SELECT c_custkey, c_name, round(CAST(c_acctbal AS DOUBLE), 2)
        |    AS acctbal
        |FROM customer ORDER BY c_custkey LIMIT 200""".stripMargin) {
      (s, d) =>
      GraftSharing.readTable(s, oauthClient(s, d),
          TableRef("graft", "main", "customer"))
        .select(col("c_custkey"), col("c_name"),
          round(col("c_acctbal").cast("double"), 2).as("acctbal"))
        .orderBy("c_custkey").limit(200)
    },

    // Scan through the connector; oracle reads the same parquet directly.
    QueryDef.sql(
      "connector_scan",
      """SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
        |FROM lineitem ORDER BY l_orderkey, l_linenumber LIMIT 500""".stripMargin) { (s, d) =>
      sharedTable(s, d, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
        .orderBy("l_orderkey", "l_linenumber")
        .limit(500)
    },

    // Filter + limit forwarded as server hints (Inexact: the engine-side
    // filter still runs — reference table.rs:207 semantics).
    QueryDef.sql(
      "connector_filter_pushdown",
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
        |WHERE l_quantity < 5
        |ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, d) =>
      GraftSharing.readTable(s, shared(s, d), TableRef("graft", "main", "lineitem"),
          filters = Seq(LessThan("l_quantity", java.lang.Double.valueOf(5.0))))
        .filter(col("l_quantity") < 5)
        .select("l_orderkey", "l_linenumber", "l_quantity")
        .orderBy("l_orderkey", "l_linenumber")
    },

    // Two shared tables joined + aggregated — the connector feeds the
    // full relational surface, not just standalone scans.
    QueryDef.sql(
      "connector_join_agg",
      """SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin) { (s, d) =>
      sharedTable(s, d, "lineitem")
        .join(sharedTable(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("qty"))
        .orderBy("o_orderpriority")
    },

    // Timestamped table through the connector: time-bucketed aggregation
    // over shared events (µs on the wire; the oracle reads the original
    // nanos parquet — values agree because bucketing is µs-stable).
    QueryDef.sql(
      "connector_events_window",
      """SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day, event_type,
        |  CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM events GROUP BY 1, 2 ORDER BY day, event_type""".stripMargin) { (s, d) =>
      sharedTable(s, d, "events")
        .groupBy(date_format(date_trunc("day", col("ts")), "yyyy-MM-dd").as("day"),
          col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("total"))
        .orderBy("day", "event_type")
    },

    // Partition-value materialization under the gate: the partition
    // column exists ONLY as per-file partitionValues strings on the wire;
    // grouping on it proves typed reconstitution (§2.1 row 7). Oracle
    // reads the original unsplit orders.
    QueryDef.sql(
      "connector_partition_values",
      """SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(MIN(o_orderkey) AS BIGINT) AS first_key
        |FROM orders GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin) { (s, d) =>
      sharedTable(s, d, "orders_part")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"), min("o_orderkey").as("first_key"))
        .orderBy("o_orderpriority")
    },

    // METADATA-ONLY COUNT pushdown (r15; GraftScanBuilder
    // SupportsPushDownAggregates): COUNT(*) / COUNT(col) grouped by the
    // partition column are answered from the file listing's
    // stats.numRecords + partitionValues — the scan plans as
    // LocalTableScan and reads ZERO parquet bytes. meta_only_ok is a
    // plan cert: 1 iff BOTH the grouped and the global count compiled
    // to a parquet-free local scan (the oracle hardcodes 1, so a
    // regression to a real scan fails the gate even though the counts
    // would still match). The reference parses stats and discards them
    // (src/client/action.rs:180-183) — at 100 TB this is the difference
    // between one metadata POST and a full-table network read.
    QueryDef.sql(
      "connector_count_pushdown",
      """SELECT * FROM (
        |  SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_rows,
        |    CAST(COUNT(o_orderkey) AS BIGINT) AS n_keys,
        |    CAST(1 AS INTEGER) AS meta_only_ok
        |  FROM orders GROUP BY o_orderpriority
        |  UNION ALL
        |  SELECT 'ALL', CAST(COUNT(*) AS BIGINT),
        |    CAST(COUNT(o_orderkey) AS BIGINT), CAST(1 AS INTEGER)
        |  FROM orders)
        |ORDER BY o_orderpriority""".stripMargin) { (s, d) =>
      stage(s, d)
      val t = s.read.format("graft-sharing")
        .load(s"${profileFor(s, d)}#graft.main.orders_part")
      val grouped = t.groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_rows"), count(col("o_orderkey")).as("n_keys"))
      val total = t.agg(count(lit(1)).as("n_rows"),
          count(col("o_orderkey")).as("n_keys"))
        .select(lit("ALL").as("o_orderpriority"), col("n_rows"), col("n_keys"))
      // plan cert: a pushed count contains a LocalTableScan and NO
      // parquet/batch scan node anywhere in the executed plan
      def metaOnly(df: org.apache.spark.sql.DataFrame): Boolean = {
        val p = df.queryExecution.executedPlan.toString
        p.contains("LocalTableScan") && !p.contains("BatchScan") &&
          !p.toLowerCase.contains("parquet")
      }
      val ok = metaOnly(grouped) && metaOnly(total)
      grouped.unionAll(total)
        .withColumn("meta_only_ok", lit(if (ok) 1 else 0))
        .orderBy("o_orderpriority")
    },

    // METADATA-ONLY MIN/MAX pushdown (r15, the count companion): per
    // partition, MIN/MAX(o_orderkey) are served from each file's TIGHT
    // stats envelope (Delta guarantees tightness for non-string types;
    // string data columns refuse — truncatable) and COUNT rides along —
    // still a LocalTableScan, zero parquet bytes, cert identical to
    // connector_count_pushdown. The oracle replays from the unsliced
    // table, so a stale or loose envelope would hash-mismatch.
    QueryDef.sql(
      "connector_minmax_pushdown",
      """SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  CAST(MIN(o_orderkey) AS BIGINT) AS min_key,
        |  CAST(MAX(o_orderkey) AS BIGINT) AS max_key,
        |  CAST(1 AS INTEGER) AS meta_only_ok
        |FROM orders GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin) { (s, d) =>
      stage(s, d)
      val t = s.read.format("graft-sharing")
        .load(s"${profileFor(s, d)}#graft.main.orders_part")
      val df = t.groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_rows"), min("o_orderkey").as("min_key"),
          max("o_orderkey").as("max_key"))
      val p = df.queryExecution.executedPlan.toString
      val ok = p.contains("LocalTableScan") && !p.contains("BatchScan") &&
        !p.toLowerCase.contains("parquet")
      df.withColumn("meta_only_ok", lit(if (ok) 1 else 0))
        .orderBy("o_orderpriority")
    },

    // Stats-based file skipping under the gate: orders sliced into four
    // disjoint o_orderkey ranges, each file carrying min/max stats; the
    // pushed key predicate prunes whole files (server-side on the hint,
    // driver-side on the same Op AST) and the result still hash-matches
    // DuckDB over the unsliced table. Orderkeys are dense 0..N-1 at
    // every SF, so < 300 sits inside the first quartile from sf0.001 up
    // (q1 = 375 there) — exactly one slice survives, asserted by
    // SharingEndToEndSpec.
    QueryDef.sql(
      "connector_stats_skipping",
      """SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(MIN(o_orderkey) AS BIGINT) AS min_key,
        |  CAST(MAX(o_orderkey) AS BIGINT) AS max_key
        |FROM orders WHERE o_orderkey < 300""".stripMargin) { (s, d) =>
      GraftSharing.readTable(s, shared(s, d),
          TableRef("graft", "main", "orders_byrange"),
          filters = Seq(org.apache.spark.sql.sources.LessThan(
            "o_orderkey", java.lang.Long.valueOf(300L))))
        .filter(col("o_orderkey") < 300)
        .agg(count(lit(1)).as("n"),
          min("o_orderkey").as("min_key"), max("o_orderkey").as("max_key"))
    },

    // Layout → stats → skipping, END-TO-END (r12 verdict ask #5): the
    // same rows are served twice (staged above) — natural ingest order
    // vs z-order — each as 16 real files with real per-file min/max
    // stats. The query pushes the same cx∈[16,31] range predicate
    // through the REAL pruning path (PredicateHints AST → wire hint →
    // server-side prune → client-side StatsPruning.prune) on BOTH
    // layouts and emits the actual files-read counts, which must equal
    // the DuckDB replay of the rank→file→zone-map→interval-rule math —
    // certifying the skipping WIN the layout operators exist for
    // (q_zorder_layout/q_zonemap_prune/q_overlap_depth each certify a
    // half; this closes the loop). zorder_wins pins that z-order prunes
    // STRICTLY more than natural order; scan_parity pins that both
    // pruned scans return identical row counts (pruning never drops a
    // live row). SCALE: pruning is metadata-scale (16 stats envelopes);
    // the scans read only surviving files.
    QueryDef.sql(
      "connector_layout_skipping", {
        val zkeySql =
          """list_sum(list_transform(generate_series(0, 15), i ->
            |      (((o_custkey % 256) >> i) & 1) * (CAST(1 AS BIGINT) << (2 * i))
            |        + (((o_orderkey % 256) >> i) & 1)
            |          * (CAST(1 AS BIGINT) << (2 * i + 1))))""".stripMargin
        s"""WITH b AS (
          |  SELECT o_orderkey, o_custkey % 256 AS cx, $zkeySql AS zkey
          |  FROM orders),
          |nr AS (
          |  SELECT cx, row_number() OVER (ORDER BY o_orderkey) - 1 AS rk,
          |    COUNT(*) OVER () AS n FROM b),
          |zr AS (
          |  SELECT cx, row_number() OVER (ORDER BY zkey, o_orderkey) - 1 AS rk,
          |    COUNT(*) OVER () AS n FROM b),
          |nz AS (SELECT rk * 16 // n AS f, MIN(cx) AS mn, MAX(cx) AS mx
          |       FROM nr GROUP BY 1),
          |zz AS (SELECT rk * 16 // n AS f, MIN(cx) AS mn, MAX(cx) AS mx
          |       FROM zr GROUP BY 1),
          |na AS (SELECT COUNT(*) AS nf,
          |         SUM(CASE WHEN NOT (mx < 16 OR mn > 31) THEN 1 ELSE 0 END)
          |           AS srv FROM nz),
          |za AS (SELECT COUNT(*) AS nf,
          |         SUM(CASE WHEN NOT (mx < 16 OR mn > 31) THEN 1 ELSE 0 END)
          |           AS srv FROM zz),
          |m AS (SELECT COUNT(*) AS rows_matching FROM b
          |      WHERE cx BETWEEN 16 AND 31)
          |SELECT CAST(na.nf AS BIGINT) AS n_files,
          |  CAST(na.srv AS BIGINT) AS files_read_nat,
          |  CAST(za.srv AS BIGINT) AS files_read_z,
          |  CAST(m.rows_matching AS BIGINT) AS rows_matching,
          |  ${TextAnalysis.halfUp4Sql("na.nf - na.srv", "na.nf")}
          |    AS nat_prune_rate,
          |  ${TextAnalysis.halfUp4Sql("za.nf - za.srv", "za.nf")}
          |    AS z_prune_rate,
          |  CAST(za.srv < na.srv AS INTEGER) AS zorder_wins,
          |  CAST(1 AS INTEGER) AS scan_parity
          |FROM na, za, m""".stripMargin
      }) { (s, d) =>
      import org.apache.spark.sql.sources.{GreaterThanOrEqual, LessThanOrEqual}
      val client = shared(s, d)
      val filters: Seq[org.apache.spark.sql.sources.Filter] = Seq(
        GreaterThanOrEqual("cx", java.lang.Long.valueOf(16L)),
        LessThanOrEqual("cx", java.lang.Long.valueOf(31L)))
      // metadata-scale: actual surviving-file counts through the real
      // hint + stats pruning path (the same calls readTable makes)
      def listing(tbl: String): (Long, Long) = {
        val ref = TableRef("graft", "main", tbl)
        val schema = DeltaSchema.fromSchemaString(
          client.getTableMetadata(ref)._2.schemaString)
        val ops = filters.flatMap(f => PredicateHints.fromFilter(f, schema))
        val total = client.getTableData(ref)._3.size.toLong
        val hinted = client.getTableData(ref,
          PredicateHints.toHintJson(ops))._3
        (total, StatsPruning.prune(hinted, ops).size.toLong)
      }
      val (nfN, readN) = listing("orders_layout_nat")
      val (nfZ, readZ) = listing("orders_layout_z")
      def prunedScan(tbl: String, out: String) =
        GraftSharing.readTable(s, client, TableRef("graft", "main", tbl),
            filters)
          .filter(col("cx").between(16L, 31L))
          .agg(count(lit(1)).cast("bigint").as(out))
      prunedScan("orders_layout_z", "rows_z")
        .crossJoin(broadcast(prunedScan("orders_layout_nat", "rows_n")))
        .select(
          lit(nfN).cast("bigint").as("n_files"),
          lit(readN).cast("bigint").as("files_read_nat"),
          lit(readZ).cast("bigint").as("files_read_z"),
          col("rows_z").as("rows_matching"),
          TextAnalysis.halfUp4(s"${nfN - readN}", s"$nfN")
            .as("nat_prune_rate"),
          TextAnalysis.halfUp4(s"${nfZ - readZ}", s"$nfZ")
            .as("z_prune_rate"),
          lit(if (readZ < readN) 1 else 0).cast("int").as("zorder_wins"),
          (col("rows_z") === col("rows_n")).cast("int").as("scan_parity"))
    },

    // Nested types through the connector: the shared table carries
    // array<struct> and map columns (schema envelope recursion +
    // vectorized nested parquet decode over signed URLs). The flattened
    // aggregates must equal DuckDB computing the same numbers straight
    // from lineitem — certifying the nested round-trip is value-exact.
    QueryDef.sql(
      "connector_nested_types",
      """WITH pl AS (
        |  SELECT l_orderkey, l_linenumber,
        |    SUM(CAST(l_quantity AS DECIMAL(18,2))) AS qty
        |  FROM lineitem GROUP BY 1, 2)
        |SELECT l_orderkey, CAST(COUNT(*) AS INTEGER) AS n_lines,
        |  CAST(MIN(l_linenumber) AS INTEGER) AS first_ln,
        |  CAST(SUM(qty) AS DOUBLE) AS total_qty
        |FROM pl GROUP BY l_orderkey ORDER BY l_orderkey LIMIT 1000""".stripMargin) { (s, d) =>
      sharedTable(s, d, "orders_nested")
        .select(col("l_orderkey"),
          size(col("lines")).as("n_lines"),
          element_at(col("lines"), 1).getField("ln").as("first_ln"),
          aggregate(map_values(col("qty_by_line")),
            lit(BigDecimal(0)).cast("decimal(32,2)"),
            (acc, x) => (acc + x).cast("decimal(32,2)"))
            .cast("double").as("total_qty"))
        .orderBy("l_orderkey")
        .limit(1000)
    },

    // Change data feed rows (the endpoint the reference stubs with
    // todo!(), src/client/mod.rs:384-386): adds at v2 are the staged
    // n_nationkey<10 slice, removes at v3 the full base. The oracle
    // reconstructs the expected feed from the original nation table.
    QueryDef.sql(
      "connector_changes",
      """SELECT n_nationkey, n_name, _change_type,
        |  CAST(_commit_version AS BIGINT) AS _commit_version
        |FROM (
        |  SELECT n_nationkey, n_name, 'add' AS _change_type,
        |    2 AS _commit_version FROM nation WHERE n_nationkey < 10
        |  UNION ALL
        |  SELECT n_nationkey, n_name, 'remove', 3 FROM nation)
        |ORDER BY _commit_version, n_nationkey""".stripMargin) { (s, d) =>
      GraftSharing.readChanges(s, shared(s, d),
          TableRef("graft", "main", "nation_cdf"), 2, Some(3))
        .select(col("n_nationkey"), col("n_name"), col("_change_type"),
          col("_commit_version"))
        .orderBy("_commit_version", "n_nationkey")
    },

    // The same feed entered by TIMESTAMP (protocol startingTimestamp):
    // the bound falls between the v2 and v3 commit times, so the server
    // must resolve it to v3 exactly — same oracle shape as
    // connector_changes restricted to the remove commit.
    QueryDef.sql(
      "connector_changes_by_time",
      """SELECT n_nationkey, n_name, _change_type,
        |  CAST(_commit_version AS BIGINT) AS _commit_version
        |FROM (
        |  SELECT n_nationkey, n_name, 'remove' AS _change_type,
        |    3 AS _commit_version FROM nation)
        |ORDER BY _commit_version, n_nationkey""".stripMargin) { (s, d) =>
      GraftSharing.readChangesByTimestamp(s, shared(s, d),
          TableRef("graft", "main", "nation_cdf"),
          // strictly after v2's commit (…000) and at/before v3's (…100)
          "2023-11-14T22:13:30Z")
        .select(col("n_nationkey"), col("n_name"), col("_change_type"),
          col("_commit_version"))
        .orderBy("_commit_version", "n_nationkey")
    },

    // The change feed consumed as a STREAM (micro-batches keyed by table
    // version, Trigger.AvailableNow, memory sink): must produce exactly
    // the batch feed's rows — the same oracle as connector_changes
    // certifies batch/stream parity through the full connector path.
    QueryDef.sql(
      "connector_cdf_stream",
      """SELECT n_nationkey, n_name, _change_type,
        |  CAST(_commit_version AS BIGINT) AS _commit_version
        |FROM (
        |  SELECT n_nationkey, n_name, 'add' AS _change_type,
        |    2 AS _commit_version FROM nation WHERE n_nationkey < 10
        |  UNION ALL
        |  SELECT n_nationkey, n_name, 'remove', 3 FROM nation)
        |ORDER BY _commit_version, n_nationkey""".stripMargin) { (s, d) =>
      val profilePath = profileFor(s, d)
      val sink = s"connector_cdf_stream_sink_${streamSinkCounter.incrementAndGet()}"
      val q = GraftSharing.readChangesStream(s, profilePath,
          TableRef("graft", "main", "nation_cdf"), startingVersion = 2L)
        .writeStream.format("memory").queryName(sink).outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.table(sink)
        .select(col("n_nationkey"), col("n_name"), col("_change_type"),
          col("_commit_version"))
        .orderBy("_commit_version", "n_nationkey")
    },

    // TIME TRAVEL: the query body pins `version: 1` (public Delta
    // Sharing protocol; the reference stubs all history with todo!()).
    // nation_cdf's CURRENT snapshot is the n_nationkey<10 slice (v3);
    // the server rewinds its change log — the v2-added slice drops out,
    // the v3-removed base comes back — so v1 must equal the FULL
    // original nation table, which is exactly what the oracle reads.
    QueryDef.sql(
      "connector_time_travel",
      """SELECT n_nationkey, n_name, n_regionkey FROM nation
        |ORDER BY n_nationkey""".stripMargin) { (s, d) =>
      GraftSharing.readTable(s, shared(s, d),
          TableRef("graft", "main", "nation_cdf"), versionAsOf = Some(1L))
        .select("n_nationkey", "n_name", "n_regionkey")
        .orderBy("n_nationkey")
    },

    // Snapshot DIFF between two pinned versions — the change-detection
    // utility for servers that share history but no CDF endpoint: two
    // version-pinned reads, exceptAll both ways, rows tagged added/
    // removed. Each side is one snapshot scan; the anti-join pair
    // shuffles on the row content exactly once (AQE-planned). v1 is the
    // full nation, the current snapshot is the n_nationkey<10 slice, so
    // the diff is precisely the removed high keys.
    QueryDef.sql(
      "connector_snapshot_diff",
      """SELECT n_nationkey, n_name, 'removed' AS change FROM nation
        |WHERE n_nationkey >= 10 ORDER BY change, n_nationkey""".stripMargin) { (s, d) =>
      val ref = TableRef("graft", "main", "nation_cdf")
      val v1 = GraftSharing.readTable(s, shared(s, d), ref,
          versionAsOf = Some(1L))
        .select("n_nationkey", "n_name")
      val cur = GraftSharing.readTable(s, shared(s, d), ref)
        .select("n_nationkey", "n_name")
      cur.exceptAll(v1).withColumn("change", lit("added"))
        .unionAll(v1.exceptAll(cur).withColumn("change", lit("removed")))
        .orderBy("change", "n_nationkey")
    },

    // Streaming AGGREGATION over the CDF source: the stream feeds a
    // stateful groupBy (complete mode), proving the MicroBatchStream
    // composes with downstream stateful operators rather than only
    // dumping rows. Oracle aggregates the same reconstructed feed.
    QueryDef.sql(
      "connector_cdf_stream_agg",
      """SELECT _change_type, CAST(_commit_version AS BIGINT) AS _commit_version,
        |  CAST(COUNT(*) AS BIGINT) AS n, CAST(MIN(n_nationkey) AS BIGINT) AS min_key
        |FROM (
        |  SELECT n_nationkey, 'add' AS _change_type, 2 AS _commit_version
        |  FROM nation WHERE n_nationkey < 10
        |  UNION ALL
        |  SELECT n_nationkey, 'remove', 3 FROM nation)
        |GROUP BY 1, 2 ORDER BY _commit_version, _change_type""".stripMargin) { (s, d) =>
      val profilePath = profileFor(s, d)
      val sink = s"connector_cdf_stream_agg_sink_${streamSinkCounter.incrementAndGet()}"
      val q = GraftSharing.readChangesStream(s, profilePath,
          TableRef("graft", "main", "nation_cdf"), startingVersion = 2L)
        .groupBy("_change_type", "_commit_version")
        // n_nationkey is int32 in the parquet — widen to match the
        // oracle's BIGINT or the gate's schema check fails
        .agg(count(lit(1)).as("n"),
          min("n_nationkey").cast("bigint").as("min_key"))
        .writeStream.format("memory").queryName(sink).outputMode("complete")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.table(sink)
        .select(col("_change_type"), col("_commit_version"),
          col("n"), col("min_key"))
        .orderBy("_commit_version", "_change_type")
    },

    // CDF snapshot reconstruction: v1 base ∪ v2-adds exceptAll
    // v3-removes must collapse to exactly the added slice — which is
    // also nation_cdf's CURRENT file list, so the reconciliation provably
    // agrees with a plain scan of the table at its version
    // (GraftSharing.applyChanges: base and feed in one union, one hash
    // exchange on the row identity, closed-form multiset counts per row).
    // The v1 base is the plain shared `nation` table, read through the
    // connector too.
    QueryDef.sql(
      "connector_cdf_snapshot",
      """SELECT n_nationkey, n_name, n_regionkey FROM nation
        |WHERE n_nationkey < 10 ORDER BY n_nationkey""".stripMargin) { (s, d) =>
      val client = shared(s, d)
      val base = sharedTable(s, d, "nation")
      val changes = GraftSharing.readChanges(s, client,
        TableRef("graft", "main", "nation_cdf"), 2, Some(3))
      GraftSharing.applyChanges(base, changes)
        .select("n_nationkey", "n_name", "n_regionkey")
        .orderBy("n_nationkey")
    },

    // STREAMING MATERIALIZED VIEW: the CDF stream drives incremental
    // snapshot maintenance — each micro-batch's changes are reconciled
    // onto the running snapshot with the constant-depth applyChanges and
    // localCheckpoint truncates lineage, so state stays bounded no
    // matter how many versions stream past (the foreachBatch pattern a
    // production "keep a queryable replica of a shared table" job uses).
    // The final replica must equal the table's current content — the
    // same oracle as connector_cdf_snapshot.
    QueryDef.sql(
      "connector_cdf_materialize",
      """SELECT n_nationkey, n_name, n_regionkey FROM nation
        |WHERE n_nationkey < 10 ORDER BY n_nationkey""".stripMargin) { (s, d) =>
      val profilePath = profileFor(s, d)
      val snapshot = new java.util.concurrent.atomic.AtomicReference(
        sharedTable(s, d, "nation"))
      val q = GraftSharing.readChangesStream(s, profilePath,
          TableRef("graft", "main", "nation_cdf"), startingVersion = 2L)
        .writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          snapshot.set(GraftSharing.applyChanges(snapshot.get(), batch)
            .localCheckpoint(eager = true))
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      snapshot.get()
        .select("n_nationkey", "n_name", "n_regionkey")
        .orderBy("n_nationkey")
    },

    // CONTINUOUS CURATION OF SHARED DATA, end-to-end (r12 verdict ask
    // #2) — the production 100 TB shape the north star describes,
    // composing the four certified halves into one gated pipeline:
    // CDF stream (GraftCdfStream) → foreachBatch → quality filter (the
    // text_quality_classifier model via TextAnalysis.qualityScoreRaw) →
    // Dedup.incrementalDedup against the corpus ingested SO FAR →
    // shard assignment (the q_shard_pack serpentine recipe) with the
    // q_shard_manifest content fingerprint. The handler processes each
    // micro-batch PER COMMIT VERSION in order (versions are the
    // transactional unit), which makes the result micro-batch-boundary
    // INDEPENDENT: a v3 arrival is deduped against a corpus that
    // already contains the v2-accepted docs whether the trigger
    // delivered one batch or two — the property that also makes
    // checkpoint recovery exact (CurationRecoverySpec). Oracle = the
    // one-shot batch replay: per version, quality-pass then reject any
    // new doc with a ≥0.8 exact-Jaccard old match (inverted-index
    // form), then the serpentine shard pack of the final corpus; the
    // shard fingerprints certify exact final MEMBERSHIP, not just
    // counts. SCALE: the stream is version-cursor driver state only;
    // dedup is the banded-LSH new×old join (never all-pairs); corpus
    // maintenance is constant-depth via localCheckpoint; shard rank is
    // the range-repartition GlobalRank, never a single-partition sort.
    QueryDef.sql(
      "connector_incremental_curation", {
        val fpHexSql = (1 to 4).map { i =>
          val mult = math.pow(16, 4 - i).toLong
          s"(strpos('0123456789abcdef', substring(h, $i, 1)) - 1) * $mult"
        }.mkString(" + ")
        def dupCte(name: String, newSet: String, oldCond: String) =
          s"""$name AS (
             |  SELECT DISTINCT a.doc_id FROM ex a
             |  JOIN $newSet nn ON a.doc_id = nn.doc_id
             |  JOIN ex b ON a.g = b.g AND ($oldCond)
             |  JOIN sz za ON za.doc_id = a.doc_id
             |  JOIN sz zb ON zb.doc_id = b.doc_id
             |  GROUP BY a.doc_id, b.doc_id, za.sz, zb.sz
             |  HAVING round(CAST(COUNT(*) AS DOUBLE)
             |    / (za.sz + zb.sz - COUNT(*)), 4) >= 0.8)"""
        s"""WITH ${Dedup.wordShingleCte},
          |${TextAnalysis.qcWeightsCteSql},
          |qs AS (
          |  SELECT doc_id,
          |    ${TextAnalysis.qualityScoreRawSql("text")} AS score_raw
          |  FROM documents, qc_wl),
          |ex AS MATERIALIZED (SELECT doc_id, unnest(shs) AS g FROM sh),
          |sz AS (SELECT doc_id, len(shs) AS sz FROM sh),
          |n2 AS (SELECT doc_id FROM qs
          |       WHERE doc_id % 10 = 0 AND score_raw >= 0),
          |${dupCte("dup2", "n2", "b.doc_id % 5 <> 0")},
          |acc2 AS (SELECT doc_id FROM n2
          |         WHERE doc_id NOT IN (SELECT doc_id FROM dup2)),
          |c1 AS MATERIALIZED (
          |  SELECT doc_id FROM documents WHERE doc_id % 5 <> 0
          |  UNION ALL SELECT doc_id FROM acc2),
          |n3 AS (SELECT doc_id FROM qs
          |       WHERE doc_id % 10 = 5 AND score_raw >= 0),
          |${dupCte("dup3", "n3",
             "b.doc_id IN (SELECT doc_id FROM c1)")},
          |acc3 AS (SELECT doc_id FROM n3
          |         WHERE doc_id NOT IN (SELECT doc_id FROM dup3)),
          |fin AS (SELECT doc_id FROM c1
          |        UNION ALL SELECT doc_id FROM acc3),
          |ranked AS (
          |  SELECT d.doc_id, d.n_chars, d.text,
          |    row_number() OVER (ORDER BY d.n_chars DESC, d.doc_id) - 1
          |      AS rk
          |  FROM documents d JOIN fin ON d.doc_id = fin.doc_id),
          |assigned AS (
          |  SELECT n_chars,
          |    CASE WHEN (rk // 8) % 2 = 0 THEN rk % 8
          |         ELSE 7 - (rk % 8) END AS shard,
          |    substring(md5(CAST(doc_id AS VARCHAR) || ':' || text), 1, 4)
          |      AS h
          |  FROM ranked)
          |SELECT CAST(shard AS BIGINT) AS shard,
          |  CAST(COUNT(*) AS BIGINT) AS n_docs,
          |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
          |  CAST(SUM($fpHexSql) AS BIGINT) AS fingerprint
          |FROM assigned GROUP BY shard ORDER BY shard""".stripMargin
      }) { (s, d) =>
      val client = shared(s, d)
      val profilePath = profileFor(s, d)
      val ref = TableRef("graft", "main", "documents_cdf")
      // already-ingested corpus = the v1 snapshot, through the connector
      val corpus = new java.util.concurrent.atomic.AtomicReference(
        GraftSharing.readTable(s, client, ref, versionAsOf = Some(1L))
          .select("doc_id", "text", "n_chars")
          .localCheckpoint(eager = true))
      val q = GraftSharing.readChangesStream(s, profilePath, ref,
          startingVersion = 2L)
        .writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          val adds = batch.filter(col("_change_type") === "add")
            .select(col("doc_id"), col("text"), col("n_chars"),
              col("_commit_version"))
            .localCheckpoint(eager = true)
          // versions are the transactional unit: metadata-scale list
          val versions = adds.select("_commit_version").distinct()
            .collect().map(_.getLong(0)).sorted
          versions.foreach { v =>
            val arrivals = adds.filter(col("_commit_version") === v)
              .drop("_commit_version")
            val accepted = Curation.curateArrivals(corpus.get(), arrivals)
            corpus.set(corpus.get().unionByName(accepted)
              .localCheckpoint(eager = true))
          }
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      // shard-pack the final corpus with a content fingerprint per shard
      val ranked = GlobalRank.withRank(
        corpus.get().select(col("doc_id"), col("n_chars"), col("text")),
        Seq(desc("n_chars"), col("doc_id")))
      val hexVal = (1 to 4).map { i =>
        val mult = math.pow(16, 4 - i).toLong
        (instr(lit("0123456789abcdef"), substring(col("h"), i, 1)) - 1)
          .cast("bigint") * mult
      }.reduce(_ + _)
      ranked
        .withColumn("shard",
          when(expr("rk div 8") % 2 === 0, col("rk") % 8)
            .otherwise(lit(7) - col("rk") % 8))
        .withColumn("h", substring(
          md5(concat(col("doc_id").cast("string"), lit(":"), col("text"))),
          1, 4))
        .groupBy("shard")
        .agg(count(lit(1)).cast("bigint").as("n_docs"),
          sum("n_chars").cast("bigint").as("total_chars"),
          sum(hexVal).cast("bigint").as("fingerprint"))
        .select(col("shard").cast("bigint").as("shard"), col("n_docs"),
          col("total_chars"), col("fingerprint"))
        .orderBy("shard")
    },

    // STREAMING SCD2 DIMENSION MAINTENANCE from the change feed: the
    // other canonical continuous-consumption shape next to the replica
    // (connector_cdf_materialize, latest-state-only) — a type-2 history
    // table that PRESERVES every generation of a changing dimension row
    // as a [valid_from, valid_to) version interval (9999 = open, the
    // SCD2 high-date convention). The CDF fixture renders updates the
    // way Delta CDF does without preimage columns (remove old row + add
    // new row in one commit), and the handler processes each micro-
    // batch PER COMMIT VERSION in order (the connector_incremental_
    // curation recipe, so the result is micro-batch-boundary
    // independent): close the touched keys' open intervals at v, append
    // the v arrivals as new open generations. The oracle derives the
    // full interval set directly from the update formulas the fixture
    // staged (% 5 repriced at v2, % 7 at v3, % 35 twice). SCALE: dim
    // maintenance is one broadcast-touched-keys join + union per
    // commit with localCheckpoint-truncated lineage (constant depth);
    // per-commit change sets are the transactional unit — never a
    // whole-history shuffle.
    QueryDef.sql(
      "connector_cdf_scd2",
      """SELECT s_suppkey, s_name, round(bal, 2) AS s_acctbal,
        |  CAST(valid_from AS BIGINT) AS valid_from,
        |  CAST(valid_to AS BIGINT) AS valid_to
        |FROM (
        |  SELECT s_suppkey, s_name, s_acctbal AS bal, 1 AS valid_from,
        |    CASE WHEN s_suppkey % 5 = 0 THEN 2
        |         WHEN s_suppkey % 7 = 0 THEN 3 ELSE 9999 END AS valid_to
        |  FROM supplier
        |  UNION ALL
        |  SELECT s_suppkey, s_name, s_acctbal + 100, 2,
        |    CASE WHEN s_suppkey % 7 = 0 THEN 3 ELSE 9999 END
        |  FROM supplier WHERE s_suppkey % 5 = 0
        |  UNION ALL
        |  SELECT s_suppkey, s_name,
        |    s_acctbal + CASE WHEN s_suppkey % 5 = 0 THEN 200 ELSE 100 END,
        |    3, 9999
        |  FROM supplier WHERE s_suppkey % 7 = 0)
        |ORDER BY s_suppkey, valid_from""".stripMargin) { (s, d) =>
      val client = shared(s, d)
      val profilePath = profileFor(s, d)
      val ref = TableRef("graft", "main", "supplier_cdf")
      val dim = new java.util.concurrent.atomic.AtomicReference(
        GraftSharing.readTable(s, client, ref, versionAsOf = Some(1L))
          .select(col("s_suppkey"), col("s_name"), col("s_acctbal"),
            lit(1L).as("valid_from"), lit(Scd2.Open).as("valid_to"))
          .localCheckpoint(eager = true))
      val q = GraftSharing.readChangesStream(s, profilePath, ref,
          startingVersion = 2L)
        .writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          val b = batch.select(col("s_suppkey"), col("s_name"),
            col("s_acctbal"), col("_change_type"), col("_commit_version"))
            .localCheckpoint(eager = true)
          val versions = b.select("_commit_version").distinct()
            .collect().map(_.getLong(0)).sorted
          versions.foreach { v =>
            val commit = b.filter(col("_commit_version") === v)
            dim.set(Scd2.applyCommit(dim.get(), commit, v, "s_suppkey")
              .localCheckpoint(eager = true))
          }
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      dim.get()
        .select(col("s_suppkey"), col("s_name"),
          round(col("s_acctbal"), 2).as("s_acctbal"),
          col("valid_from"), col("valid_to"))
        .orderBy("s_suppkey", "valid_from")
    },

    // INCREMENTAL ANN-INDEX MAINTENANCE from the change feed (r13
    // verdict ask #5) — the last uncomposed seam between the connector
    // and the vector stack: the production "embedding index that keeps
    // up with ingestion" shape. The v1 snapshot builds the initial IVF
    // index, written partitioned by cell (the sim_ivf_prebuilt
    // artifact); the CDF stream then folds each commit's new vectors in
    // by APPENDING their cell assignments to the persisted index (cell
    // assignment is per-vector and corpus-independent, so append ≡
    // rebuild — certified below, not assumed). Queries are served FROM
    // THE FILES with the probe join pruning to probed cell directories.
    // parity_ok pins served top-k == a from-scratch index rebuild over
    // the current snapshot EXACTLY; recall_ok keeps the brute-truth
    // floor. SCALE: per-commit work is |new vectors| assignment kernels
    // + a partitioned append — never an index rebuild, never a corpus
    // shuffle; the serve plan reads ~|corpus|·nprobe/cells bytes.
    // IvfIngestRecoverySpec pins checkpoint recovery + replay parity.
    QueryDef.sql(
      "connector_ivf_ingest",
      s"""WITH ${Similarity.bruteScoredCte}
        |SELECT query_id, max(sim) AS best_sim, 1 AS recall_ok,
        |  1 AS parity_ok
        |FROM scored GROUP BY query_id ORDER BY query_id""".stripMargin) { (s, d) =>
      val client = shared(s, d)
      val profilePath = profileFor(s, d)
      val ref = TableRef("graft", "main", "embeddings_cdf")
      // fresh per-run index dir (removed on JVM exit): the stream
      // APPENDS — reusing a dir across runs would double-ingest
      val idxDir = Similarity.tempDirCleanedOnExit("graft-ivf-ingest") +
        "/index"
      // explicit spread: the staged v1 slice is one parquet split, and
      // a DSv2 connector scan reports no inputFiles for the under-split
      // heuristic (the documentsPar convention; free at real scale)
      def spread(df: DataFrame): DataFrame =
        df.repartition(s.sparkContext.defaultParallelism)
      Similarity.ivfAssignments(
          spread(GraftSharing.readTable(s, client, ref,
            versionAsOf = Some(1L)).select("vec_id", "embedding")),
          numCells = 32, dim = 64)
        .write.partitionBy("cell").mode("overwrite").parquet(idxDir)
      val q = GraftSharing.readChangesStream(s, profilePath, ref,
          startingVersion = 2L)
        .writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          val adds = batch.filter(col("_change_type") === "add")
            .select(col("vec_id"), col("embedding"),
              col("_commit_version"))
            .localCheckpoint(eager = true)
          // versions are the transactional unit: metadata-scale list
          val versions = adds.select("_commit_version").distinct()
            .collect().map(_.getLong(0)).sorted
          versions.foreach { v =>
            Similarity.ivfAssignments(
                adds.filter(col("_commit_version") === v)
                  .select("vec_id", "embedding"),
                numCells = 32, dim = 64)
              .write.partitionBy("cell").mode("append").parquet(idxDir)
          }
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      // serve from the maintained index; certify vs brute truth AND a
      // from-scratch rebuild over the current snapshot
      val full = graft.CacheRegistry.ensurePersisted(
        spread(GraftSharing.readTable(s, client, ref)
          .select("vec_id", "embedding")))
      val queries = full.filter(col("vec_id") < 10)
      val served = graft.CacheRegistry.ensurePersisted(
        Similarity.ivfServe(s.read.parquet(idxDir), queries,
          k = 5, numCells = 32, nprobe = 8, dim = 64))
      val scratch = Similarity.ivfTopK(full, queries, k = 5,
        numCells = 32, nprobe = 8)
      val mismatch = served.exceptAll(scratch)
        .unionAll(scratch.exceptAll(served))
        .agg(count(lit(1)).as("nm"))
      Similarity.searchQuality(
          Similarity.bruteForceTopK(full, queries, k = 5), served,
          k = 5, floor = 0.2)
        .crossJoin(broadcast(mismatch))
        .select(col("query_id"), col("best_sim"), col("recall_ok"),
          (col("nm") === 0L).cast("int").as("parity_ok"))
        .orderBy("query_id")
    },

    // INCREMENTAL DEDUP INDEX maintained from the change feed — the
    // third build-once/serve-many flagship next to connector_ivf_ingest
    // (ANN cells) and mm_afp_prebuilt (audio landmarks), covering THE
    // dominant 100 TB training-data operation: near-dup screening of
    // every arriving document against the already-ingested corpus. The
    // stream keeps a PERSISTED two-file LSH index — band-bucket rows
    // partitioned by pmod(bh, 64) and per-doc verify payloads
    // (signature + shingle set) — probes each commit's arrivals against
    // it (banded candidates -> signature-estimate prefilter -> exact
    // Jaccard >= 0.8), writes the per-arrival verdicts, and appends
    // ONLY the kept arrivals' rows, so a v3 arrival is screened against
    // base ∪ kept-v2 (true sequential greedy semantics; the commit is
    // the transactional unit — same-commit arrivals are not checked
    // against each other, the dedup_incremental convention). parity_ok
    // pins the served verdicts EXACTLY against a from-scratch two-step
    // batch replay (Dedup.incrementalDedup per version); the DuckDB
    // oracle independently replays the sequential semantics with
    // ALL-PAIRS exact Jaccard (banding recall ≈ 1 at θ=0.8 — the
    // dedup_incremental precedent). SCALE: per-commit work = |arrival
    // bands| assignment kernels + touched-bucket equi-joins + one
    // partitioned append — never an index rebuild or corpus shuffle;
    // candidate caps per probePersistedIndex's documented contract.
    QueryDef.sql(
      "connector_dedup_ingest",
      s"""WITH ${Dedup.wordShingleCte},
        |h2 AS (
        |  SELECT new_id, old_id, jaccard FROM (
        |    SELECT a.doc_id AS new_id, b.doc_id AS old_id,
        |      round(CAST(len(list_intersect(a.shs, b.shs)) AS DOUBLE)
        |        / (len(a.shs) + len(b.shs)
        |           - len(list_intersect(a.shs, b.shs))), 4) AS jaccard
        |    FROM sh a JOIN sh b
        |      ON a.doc_id % 10 = 0 AND b.doc_id % 5 <> 0)
        |  WHERE jaccard >= 0.8),
        |kept2 AS (
        |  SELECT doc_id FROM documents
        |  WHERE doc_id % 10 = 0
        |    AND doc_id NOT IN (SELECT new_id FROM h2)),
        |h3 AS (
        |  SELECT new_id, old_id, jaccard FROM (
        |    SELECT a.doc_id AS new_id, p.doc_id AS old_id,
        |      round(CAST(len(list_intersect(a.shs, p.shs)) AS DOUBLE)
        |        / (len(a.shs) + len(p.shs)
        |           - len(list_intersect(a.shs, p.shs))), 4) AS jaccard
        |    FROM sh a JOIN (
        |      SELECT s.doc_id, s.shs FROM sh s WHERE s.doc_id % 5 <> 0
        |      UNION ALL
        |      SELECT s.doc_id, s.shs FROM sh s
        |      JOIN kept2 k ON s.doc_id = k.doc_id) p
        |      ON a.doc_id % 10 = 5)
        |  WHERE jaccard >= 0.8),
        |hits AS (
        |  SELECT new_id, old_id, jaccard FROM h2
        |  UNION ALL SELECT new_id, old_id, jaccard FROM h3),
        |news AS (
        |  SELECT doc_id, CAST(2 AS BIGINT) AS version FROM documents
        |  WHERE doc_id % 10 = 0
        |  UNION ALL
        |  SELECT doc_id, CAST(3 AS BIGINT) FROM documents
        |  WHERE doc_id % 10 = 5),
        |cnt AS (SELECT new_id, CAST(COUNT(*) AS BIGINT) AS n_dups
        |        FROM hits GROUP BY new_id),
        |bst AS (
        |  SELECT new_id, old_id, jaccard FROM (
        |    SELECT new_id, old_id, jaccard, row_number()
        |      OVER (PARTITION BY new_id
        |            ORDER BY jaccard DESC, old_id) AS rk
        |    FROM hits) WHERE rk = 1)
        |SELECT n.doc_id, n.version, COALESCE(c.n_dups, 0) AS n_dups,
        |  b.old_id AS dup_of, b.jaccard AS best_jaccard,
        |  CAST(c.new_id IS NULL AS INTEGER) AS kept, 1 AS parity_ok
        |FROM news n
        |LEFT JOIN cnt c ON n.doc_id = c.new_id
        |LEFT JOIN bst b ON n.doc_id = b.new_id
        |ORDER BY n.doc_id""".stripMargin) { (s, d) =>
      val client = shared(s, d)
      val profilePath = profileFor(s, d)
      val ref = TableRef("graft", "main", "documents_cdf")
      // fresh per-run dirs (removed on JVM exit): the stream APPENDS
      val root = Similarity.tempDirCleanedOnExit("graft-dedup-ingest")
      val bandsDir = root + "/bands"
      val setsDir = root + "/sets"
      val outDir = root + "/verdicts"
      def spread(df: DataFrame): DataFrame =
        df.repartition(s.sparkContext.defaultParallelism)
      // build the index from the already-ingested (v1) corpus
      Dedup.buildDedupIndex(
        spread(GraftSharing.readTable(s, client, ref,
          versionAsOf = Some(1L)).select("doc_id", "text")),
        bandsDir, setsDir)
      val q = GraftSharing.readChangesStream(s, profilePath, ref,
          startingVersion = 2L)
        .writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          val adds = batch.filter(col("_change_type") === "add")
            .select(col("doc_id"), col("text"), col("_commit_version"))
            .localCheckpoint(eager = true)
          // versions are the transactional unit: metadata-scale list
          val versions = adds.select("_commit_version").distinct()
            .collect().map(_.getLong(0)).sorted
          versions.foreach { v =>
            Dedup.dedupIngestCommit(s,
              adds.filter(col("_commit_version") === v)
                .select("doc_id", "text"),
              v, bandsDir, setsDir, outDir)
          }
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      // parity: a from-scratch sequential batch replay over the current
      // snapshot must reproduce the served verdicts EXACTLY
      val full = graft.CacheRegistry.ensurePersisted(
        spread(GraftSharing.readTable(s, client, ref)
          .select("doc_id", "text")))
      val r2 = Dedup.incrementalDedup(
        full.filter(col("doc_id") % 5 =!= 0 || col("doc_id") % 10 === 0),
        "doc_id", "text", col("doc_id") % 10 === 0)
        .withColumn("version", lit(2L))
      val kept2 = r2.filter(col("kept") === 1).select("doc_id")
      val r3 = Dedup.incrementalDedup(
        full.filter(col("doc_id") % 5 =!= 0 || col("doc_id") % 10 === 5)
          .unionByName(full.filter(col("doc_id") % 10 === 0)
            .join(kept2, "doc_id")),
        "doc_id", "text", col("doc_id") % 10 === 5)
        .withColumn("version", lit(3L))
      val served = s.read.parquet(outDir)
        .select("doc_id", "n_dups", "dup_of", "best_jaccard", "kept",
          "version")
      val batchReplay = r2.unionByName(r3)
        .select("doc_id", "n_dups", "dup_of", "best_jaccard", "kept",
          "version")
      val mismatch = served.exceptAll(batchReplay)
        .unionAll(batchReplay.exceptAll(served))
        .agg(count(lit(1)).as("nm"))
      served.crossJoin(broadcast(mismatch))
        .select(col("doc_id"), col("version"), col("n_dups"),
          col("dup_of"), col("best_jaccard"), col("kept"),
          (col("nm") === 0L).cast("int").as("parity_ok"))
        .orderBy("doc_id")
    },

    // INGESTION DRIFT MONITOR over the change feed — the data-quality
    // watchdog every production curation pipeline runs next to the
    // dedup/filter stages: per CDF commit, the Population Stability
    // Index of the arrivals' quality-margin distribution against the
    // already-ingested (v1) corpus, alerting at the standard PSI ≥ 0.1
    // "moderate shift" boundary. Margin bins are EXACT-integer
    // comparisons (margin ≥ k ⟺ score_raw ≥ k·ntok — never a float
    // division), the smoothed bin probabilities follow the
    // text_drift_psi rounding law (8dp probabilities, 6dp terms summed
    // as exact decimals, 4dp PSI), and all five bins are always
    // materialized (a bin the arrivals never hit still contributes its
    // Laplace term). The handler folds each micro-batch PER COMMIT
    // VERSION (the connector_incremental_curation recipe), so the
    // readout is micro-batch-boundary independent. SCALE: per-commit
    // state is one 5-row cells frame joined against the 5-row base —
    // the monitor's cost is ONE map-side-combined aggregate over the
    // commit's arrivals regardless of corpus size; driver state is the
    // version cursor plus one result row per commit.
    QueryDef.sql(
      "connector_cdf_drift_monitor",
      s"""WITH ${TextAnalysis.qcWeightsCteSql},
        |qs AS (
        |  SELECT doc_id,
        |    ${TextAnalysis.qualityScoreRawSql("text")} AS sr,
        |    CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS ntok
        |  FROM documents, qc_wl),
        |lbl AS (
        |  SELECT doc_id,
        |    CASE WHEN sr < -ntok THEN 0 WHEN sr < 0 THEN 1
        |         WHEN sr < ntok THEN 2 WHEN sr < 2 * ntok THEN 3
        |         ELSE 4 END AS bin
        |  FROM qs),
        |bins AS (SELECT unnest(range(0, 5)) AS bin),
        |base AS (
        |  SELECT b.bin, CAST(coalesce(x.cnt, 0) AS BIGINT) AS bc
        |  FROM bins b LEFT JOIN (
        |    SELECT bin, COUNT(*) AS cnt FROM lbl
        |    WHERE doc_id % 5 <> 0 GROUP BY bin) x ON b.bin = x.bin),
        |nb AS (SELECT CAST(SUM(bc) AS BIGINT) AS n FROM base),
        |vb AS (SELECT v.version, b.bin
        |       FROM (SELECT unnest([2, 3]) AS version) v, bins b),
        |arr AS (
        |  SELECT vb.version, vb.bin,
        |    CAST(coalesce(x.cnt, 0) AS BIGINT) AS ac
        |  FROM vb LEFT JOIN (
        |    SELECT CASE WHEN doc_id % 10 = 0 THEN 2 ELSE 3 END AS version,
        |      bin, COUNT(*) AS cnt
        |    FROM lbl WHERE doc_id % 5 = 0 GROUP BY 1, 2) x
        |    ON x.version = vb.version AND x.bin = vb.bin),
        |na AS (SELECT version, CAST(SUM(ac) AS BIGINT) AS n
        |       FROM arr GROUP BY version),
        |terms AS (
        |  SELECT a.version,
        |    CAST(round((round(CAST(a.ac + 1 AS DOUBLE) / (na.n + 5), 8)
        |        - round(CAST(b.bc + 1 AS DOUBLE) / (nb.n + 5), 8))
        |      * ln(round(CAST(a.ac + 1 AS DOUBLE) / (na.n + 5), 8)
        |        / round(CAST(b.bc + 1 AS DOUBLE) / (nb.n + 5), 8)), 6)
        |      AS DECIMAL(18,6)) AS term
        |  FROM arr a JOIN na ON na.version = a.version
        |  JOIN base b ON b.bin = a.bin, nb)
        |SELECT t.version AS commit_version, na.n AS n_new,
        |  round(CAST(SUM(t.term) AS DOUBLE), 4) AS psi,
        |  CAST(round(CAST(SUM(t.term) AS DOUBLE), 4) >= 0.1 AS INTEGER)
        |    AS alert
        |FROM terms t JOIN na ON na.version = t.version
        |GROUP BY 1, 2 ORDER BY 1""".stripMargin) { (s, d) =>
      val client = shared(s, d)
      val profilePath = profileFor(s, d)
      val ref = TableRef("graft", "main", "documents_cdf")
      val binCol = {
        val sr = TextAnalysis.qualityScoreRaw(col("text"))
        val ntok = size(split(lower(col("text")), " ")).cast("long")
        when(sr < -ntok, 0L).when(sr < 0, 1L).when(sr < ntok, 2L)
          .when(sr < ntok * 2, 3L).otherwise(4L)
      }
      val bins = s.range(0, 5).select(col("id").as("bin"))
      // one map-side-combined aggregate over the input, joined onto the
      // always-materialized 5-bin frame
      def cells(df: DataFrame): DataFrame =
        bins.join(
            df.select(binCol.as("bin")).groupBy("bin")
              .agg(count(lit(1)).as("cnt")),
            Seq("bin"), "left")
          .select(col("bin"), coalesce(col("cnt"), lit(0L)).as("cnt"))
          .localCheckpoint(eager = true)
      val base = cells(GraftSharing.readTable(s, client, ref,
        versionAsOf = Some(1L)))
      val nb = base.agg(sum("cnt").as("nb_n"))
      val empty = s.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("commit_version",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("n_new",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("psi",
            org.apache.spark.sql.types.DoubleType),
          org.apache.spark.sql.types.StructField("alert",
            org.apache.spark.sql.types.IntegerType))))
      val acc = new java.util.concurrent.atomic.AtomicReference(empty)
      def psiRow(v: Long, slice: DataFrame): DataFrame = {
        val a = cells(slice)
        val na = a.agg(sum("cnt").as("na_n"))
        def p(cnt: org.apache.spark.sql.Column,
            n: org.apache.spark.sql.Column) =
          round((cnt + 1).cast("double") / (n + 5), 8)
        val pa = p(col("cnt"), col("na_n"))
        val pb = p(col("bc"), col("nb_n"))
        a.join(base.withColumnRenamed("cnt", "bc"), "bin")
          .crossJoin(broadcast(na)).crossJoin(broadcast(nb))
          .select(col("na_n"),
            round((pa - pb) * log(pa / pb), 6).cast("decimal(18,6)")
              .as("term"))
          .groupBy("na_n")
          .agg(round(sum("term").cast("double"), 4).as("psi"))
          .select(lit(v).as("commit_version"),
            col("na_n").as("n_new"), col("psi"),
            (col("psi") >= 0.1).cast("int").as("alert"))
      }
      val q = GraftSharing.readChangesStream(s, profilePath, ref,
          startingVersion = 2L)
        .writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          val adds = batch.filter(col("_change_type") === "add")
            .select(col("text"), col("_commit_version"))
            .localCheckpoint(eager = true)
          // versions are the transactional unit: metadata-scale list
          val versions = adds.select("_commit_version").distinct()
            .collect().map(_.getLong(0)).sorted
          versions.foreach { v =>
            acc.set(acc.get()
              .unionByName(psiRow(v,
                adds.filter(col("_commit_version") === v)))
              .localCheckpoint(eager = true))
          }
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      // A commit whose arrival slice is EMPTY never appears in the
      // change feed, but the monitor's contract (and the oracle's
      // `unnest([2, 3])` version frame — the fixture's commit list) is
      // one readout per commit: emit the n_new=0 row for feed-absent
      // versions, scored against an empty slice so the Laplace-smoothed
      // PSI matches the oracle's formula exactly (r14 ADVICE — on a
      // tiny corpus a doc_id slice can legitimately match nothing).
      val seen = acc.get().select("commit_version").collect()
        .map(_.getLong(0)).toSet
      Seq(2L, 3L).filterNot(seen).foreach { v =>
        acc.set(acc.get().unionByName(psiRow(v,
          s.createDataFrame(
            new java.util.ArrayList[org.apache.spark.sql.Row](),
            org.apache.spark.sql.types.StructType(Seq(
              org.apache.spark.sql.types.StructField("text",
                org.apache.spark.sql.types.StringType)))))))
      }
      acc.get().orderBy("commit_version")
    },

    // SQL time travel through the catalog plugin: Spark's native
    // `VERSION AS OF` syntax routes to GraftCatalog.loadTable(ident,
    // version) and pins every server query to that snapshot. v1 of
    // nation_cdf is the full original nation table (see
    // connector_time_travel), which is what the oracle reads.
    QueryDef.sql(
      "connector_catalog_time_travel",
      """SELECT n_nationkey, n_name, n_regionkey FROM nation
        |ORDER BY n_nationkey""".stripMargin) { (s, d) =>
      val cat = catalogFor(s, d)
      s.sql(
        s"""SELECT n_nationkey, n_name, n_regionkey
           |FROM $cat.main.nation_cdf VERSION AS OF 1
           |ORDER BY n_nationkey""".stripMargin)
    },

    // SQL TIMESTAMP AS OF through the catalog plugin: the instant falls
    // between nation_cdf's v2 commit (2023-11-14T22:13:20Z) and v3
    // commit (+100 s), so the catalog must resolve latest-at-or-before
    // = v2 via the protocol's version endpoint and rewind the change
    // log: v2 = v1 base (full nation) plus the v2-added <10 slice. The
    // oracle rebuilds that union from the original table. (VERSION AS OF
    // is certified by connector_catalog_time_travel; this pins the
    // timestamp→version resolution path under the gate too.)
    QueryDef.sql(
      "connector_timestamp_travel",
      """SELECT n_nationkey, n_name, n_regionkey FROM (
        |  SELECT n_nationkey, n_name, n_regionkey FROM nation
        |  UNION ALL
        |  SELECT n_nationkey, n_name, n_regionkey FROM nation
        |  WHERE n_nationkey < 10)
        |ORDER BY n_nationkey""".stripMargin) { (s, d) =>
      val cat = catalogFor(s, d)
      s.sql(
        s"""SELECT n_nationkey, n_name, n_regionkey
           |FROM $cat.main.nation_cdf TIMESTAMP AS OF '2023-11-14 22:14:00'
           |ORDER BY n_nationkey""".stripMargin)
    },

    // 3-part-name SQL through the DSv2 catalog plugin (share → catalog,
    // schema → namespace; reference src/catalog/mod.rs:46-220) with the
    // vectorized ParquetScan underneath.
    QueryDef.sql(
      "connector_catalog_sql",
      """SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n_customers,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
        |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin) { (s, d) =>
      val cat = catalogFor(s, d)
      s.sql(
        s"""SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n_customers,
           |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
           |FROM $cat.main.customer GROUP BY c_mktsegment
           |ORDER BY c_mktsegment""".stripMargin)
    }
  )
}
