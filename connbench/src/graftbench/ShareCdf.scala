package graftbench

import java.nio.file.{Files, Path, StandardCopyOption}
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{input_file_name, lit}

import graft.sharing.GraftSharing
import graft.sharing.server.LocalSharingServer

/** A change-feed replica kept fresh while a producer commits. Each op is
  * one cycle: the producer publishes version v+1 (one slice added, the
  * oldest removed, so the table keeps its size), then the consumer reads
  * the version, reads the changes since its cursor, applies them to its
  * replica and checkpoints it. Every few cycles the op also reads a
  * seeded past version through catalog `VERSION AS OF`. */
final class ShareCdf(dir: Path, work: Path, m: JsonNode) extends Workload {
  private val cfg = m.get("cdf")
  private val window = cfg.get("window").asInt
  private val history = cfg.get("history").asInt
  private val sliceRows = cfg.get("slice_rows").asLong
  private val pool: IndexedSeq[Path] =
    Inputs.files(dir, m.get("tables").get("pool")).map(_.path).toIndexedSeq
  private val schedule: IndexedSeq[Int] =
    m.get("schedule").elements.asScala.map(_.get("tt_back").asInt).toIndexedSeq
  private val table = "orders_cdf"
  private val tableDir = work.resolve("cdf")
  private val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
    "o_totalprice", "o_orderdate", "o_orderpriority").mkString(", ")
  /** Multiset fingerprint: row count and two sums of per-row hashes. */
  private val fingerprintSql = s"count(*) AS n, " +
    s"sum(pmod(xxhash64($cols), 2147483647)) AS s1, " +
    s"sum(pmod(hash($cols), 2147483647)) AS s2"
  private val fingerprintExprs = fingerprintSql.split(", (?=count|sum)").toSeq

  def kind(i: Int): String = if (schedule(i % schedule.size) > 0) "cycle_tt" else "cycle"
  def rows(i: Int): Long =
    2 * sliceRows + (if (schedule(i % schedule.size) > 0) window * sliceRows else 0)
  def blockLen: Int = 8
  /** One plain cycle; a pinned read costs a full table scan. */
  def warmup: Seq[Int] = Seq(schedule.indexWhere(_ == 0))

  /** Table file j holds pool slice j mod pool size, so the live files of
    * version v are j in [v, v + window). */
  private final class Producer(val srv: LocalSharingServer, schema: String) {
    var version = 0L
    private def materialize(j: Int): srv.ServedFile = {
      val p = tableDir.resolve(f"f$j%06d.parquet")
      Files.copy(pool(j % pool.size), p, StandardCopyOption.REPLACE_EXISTING)
      srv.ServedFile(p, Map.empty)
    }
    private def stamp(v: Long) = 1700000000000L + v * 1000L
    private var live = (0 until window).map(materialize).toVector
    private var changes: Vector[srv.ChangeEntry] =
      live.map(srv.ChangeEntry(0L, "add", _, stamp(0L)))
    (1 to history).foreach(_ => step())
    publish()

    private def step(): Unit = {
      version += 1
      val added = materialize((version + window - 1).toInt)
      changes = changes :+ srv.ChangeEntry(version, "add", added, stamp(version)) :+
        srv.ChangeEntry(version, "remove", live.head, stamp(version))
      live = live.tail :+ added
    }

    private def publish(): Unit =
      srv.addTable("bench", "main", srv.TableDef(table, schema, Nil, live, version, changes))

    def commit(): Long = { step(); publish(); version }
  }

  private var producer: Producer = _
  private var replica: DataFrame = _
  private var cursor = 0L
  /** The last cycle's inputs, for its probe. */
  private var lastFrom = 0L
  private var lastTo = 0L
  private var lastTt = Option.empty[Long]
  private var lastBase: DataFrame = _
  /** Seconds the last cycle spent reading and applying its changes. */
  private var lastConnectorS = 0.0
  private var slices: Map[String, Seq[Long]] = Map.empty

  def serve(spark: SparkSession, server: LocalSharingServer): Unit = {
    Files.createDirectories(tableDir)
    val schema = Inputs.schemaString(spark, dir, m.get("tables").get("pool"))
    producer = new Producer(server, schema)
  }

  def prepare(env: Env): Unit = {
    cursor = env.client.getTableVersion(env.ref(table))
    replica = GraftSharing.readTable(env.spark, env.client, env.ref(table))
      .localCheckpoint(true)
  }

  def loadExpected(env: Env): Unit = {
    env.spark.read.parquet(pool.map(_.toString): _*)
      .withColumn("file", input_file_name()).createOrReplaceTempView("local_pool")
    slices = env.spark.sql(s"SELECT file, $fingerprintSql FROM local_pool GROUP BY file")
      .collect().map(r => r.getString(0).split('/').last -> fingerprint(r, 1)).toMap
  }

  /** Expected fingerprint of the table at version v. */
  private def expectedAt(v: Long): Seq[Long] =
    (v until v + window).map(j => slices(pool((j % pool.size).toInt).getFileName.toString))
      .transpose.map(_.sum)

  private def fingerprint(r: Row, from: Int = 0): Seq[Long] =
    (from until from + 3).map(r.getLong)

  def run(env: Env, i: Int, tr: Tracer): () => Option[String] = {
    val ref = env.ref(table)
    tr.span("cdf.commit")(producer.commit())
    val latest = tr.span("client.version")(env.client.getTableVersion(ref))
    val t0 = System.nanoTime()
    val changes = tr.span("plan.frame") {
      GraftSharing.readChanges(env.spark, env.client, ref, cursor + 1, Some(latest))
    }
    val applied = GraftSharing.applyChanges(replica, changes)
    val (next, applyMs) = tr.time("cdf.apply")(applied.localCheckpoint(true))
    lastConnectorS = (System.nanoTime() - t0) / 1e9
    tr.phases(applied)
    tr.sample("cdf.apply_ms", applyMs)
    tr.sample("cdf.versions", (latest - cursor).toDouble)
    lastFrom = cursor + 1; lastTo = latest; lastBase = replica
    replica = next
    cursor = latest
    val back = schedule(i % schedule.size)
    lastTt = if (back > 0) Some(math.max(0L, latest - back)) else None
    val pinned = lastTt.map { t =>
      val df = tr.span("plan.frame") {
        env.spark.sql(s"SELECT $fingerprintSql FROM bench.main.$table VERSION AS OF $t")
      }
      val r = tr.span("exec")(df.collect()).head
      tr.phases(df)
      t -> fingerprint(r)
    }
    () => {
      val got = fingerprint(next.selectExpr(fingerprintExprs: _*).head())
      val want = expectedAt(latest)
      if (got != want) Some(s"replica at v$latest: fingerprint $got, want $want")
      else pinned.collect { case (t, fp) if fp != expectedAt(t) =>
        s"VERSION AS OF $t: fingerprint $fp, want ${expectedAt(t)}"
      }
    }
  }

  def probe(env: Env, i: Int, tr: Tracer, opSeconds: Double): Unit = {
    val ref = env.ref(table)
    val changed = tr.span("client.replay") {
      Probes.call(tr, "getTableVersion")(env.client.getTableVersion(ref))
      val (_, _, cs) = Probes.call(tr, "getTableChanges") {
        env.client.getTableChanges(ref, lastFrom, Some(lastTo))
      }
      lastTt.foreach { t =>
        Probes.call(tr, "getTableMetadata")(env.client.getTableMetadata(ref, Some(t)))
        val (_, _, fs) = Probes.call(tr, "getTableData") {
          env.client.getTableData(ref, None, None, Some(t))
        }
        tr.sample("client.files_listed", fs.size)
      }
      cs
    }
    tr.sample("client.files_listed", changed.size)
    tr.sample("cdf.change_files", changed.size)
    Probes.transport(env, tr, Probes.prune(env, tr, ref, Nil))
    // the local twin reads the same change files from disk and applies
    // them; it is set beside the op's own read-and-apply time
    Probes.twin(tr, lastConnectorS) {
      val spark = env.spark
      val local = changed.map { c =>
        val name = new java.net.URI(c.file.url).getPath.split('/').last
        spark.read.parquet(tableDir.resolve(name).toString)
          .withColumn("_change_type", lit(c.changeType))
          .withColumn("_commit_version", lit(c.version))
          .withColumn("_commit_timestamp", lit(c.timestamp.getOrElse(0L)))
      }.reduce(_ unionAll _)
      GraftSharing.applyChanges(lastBase, local).localCheckpoint(true)
    }
  }
}
