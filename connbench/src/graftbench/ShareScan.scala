package graftbench

import java.nio.file.Path
import java.sql.Date
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{Encoders, Row, SparkSession}
import org.apache.spark.sql.sources._

import graft.sharing.{DeltaSchema, GraftSharing, PredicateHints}
import graft.sharing.server.LocalSharingServer

/** Repeated TPC-H-style queries over shared `lineitem`/`orders`, half
  * through `GraftSharing.readTable` (v1 parquet path), half through
  * 3-part-name SQL on the `bench` catalog (DSv2 scan builder). Both
  * entries run the same SQL text; only the relation differs. */
final class ShareScan(dir: Path, m: JsonNode) extends Workload {

  private final case class ScanOp(id: String, typ: String, rows: Long,
      sql: String, hints: Map[String, Seq[Filter]], limit: Option[Long])

  private val pool: Map[String, ScanOp] =
    m.get("pool").elements.asScala.map { p =>
      val (id, rows, pr) = (p.get("id").asText, p.get("rows").asLong, p.get("params"))
      def date(k: String) = Date.valueOf(pr.get(k).asText)
      val op = p.get("type").asText match {
        case "agg" =>
          ScanOp(id, "agg", rows,
            s"""SELECT l_returnflag, l_linestatus, sum(l_quantity) AS q,
               |  sum(l_extendedprice) AS p,
               |  sum(l_extendedprice * (1 - l_discount)) AS dp,
               |  sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)) AS c,
               |  count(*) AS n
               |FROM {lineitem} WHERE l_shipdate <= DATE'${date("shipdate_max")}'
               |GROUP BY l_returnflag, l_linestatus""".stripMargin,
            Map("lineitem" -> Seq(LessThanOrEqual("l_shipdate", date("shipdate_max")))),
            None)
        case "sel" =>
          val (lo, hi) = (pr.get("lo").asLong, pr.get("hi").asLong)
          ScanOp(id, "sel", rows,
            s"""SELECT l_linenumber, count(*) AS n, sum(l_extendedprice) AS p,
               |  min(l_orderkey) AS lo, max(l_orderkey) AS hi
               |FROM {lineitem} WHERE l_orderkey BETWEEN $lo AND $hi
               |GROUP BY l_linenumber""".stripMargin,
            Map("lineitem" -> Seq(GreaterThanOrEqual("l_orderkey", lo),
              LessThanOrEqual("l_orderkey", hi))),
            None)
        case "limit" =>
          val n = pr.get("n").asLong
          ScanOp(id, "limit", rows, s"SELECT * FROM {lineitem} LIMIT $n",
            Map("lineitem" -> Nil), Some(n))
        case "join" =>
          ScanOp(id, "join", rows,
            s"""SELECT o_orderpriority, count(*) AS n, sum(l_extendedprice) AS p
               |FROM {orders} JOIN {lineitem} ON o_orderkey = l_orderkey
               |WHERE o_orderdate >= DATE'${date("date_lo")}'
               |  AND o_orderdate < DATE'${date("date_hi")}'
               |GROUP BY o_orderpriority""".stripMargin,
            Map("orders" -> Seq(GreaterThanOrEqual("o_orderdate", date("date_lo")),
              LessThan("o_orderdate", date("date_hi"))), "lineitem" -> Nil),
            None)
      }
      id -> op
    }.toMap

  private val schedule: IndexedSeq[(ScanOp, String)] =
    m.get("schedule").elements.asScala
      .map(s => (pool(s.get("op").asText), s.get("entry").asText)).toIndexedSeq

  def kind(i: Int): String = { val (op, e) = schedule(i % schedule.size); s"${op.typ}.$e" }
  def rows(i: Int): Long = schedule(i % schedule.size)._1.rows
  def blockLen: Int = 8
  /** The first op of each type. */
  def warmup: Seq[Int] =
    schedule.indices.groupBy(i => schedule(i)._1.typ).values.map(_.min).toSeq.sorted

  private var expected: Map[String, Seq[String]] = Map.empty
  private var lineitemRows: java.util.HashSet[java.lang.Long] = _

  def serve(spark: SparkSession, server: LocalSharingServer): Unit =
    Seq("lineitem", "orders").foreach(Inputs.serve(spark, server, dir, m, _))

  def prepare(env: Env): Unit = ()

  private def sqlFor(op: ScanOp, relation: String => String): String =
    op.hints.keys.foldLeft(op.sql)((s, t) => s.replace(s"{$t}", relation(t)))

  private def localFiles(t: String): Seq[String] =
    Inputs.files(dir, m.get("tables").get(t)).map(_.path.toString)

  def loadExpected(env: Env): Unit = {
    val spark = env.spark
    Seq("lineitem", "orders").foreach(t =>
      spark.read.parquet(localFiles(t): _*).createOrReplaceTempView(s"local_$t"))
    expected = pool.values.filter(_.typ != "limit").map { op =>
      op.id -> Rows.sortedStrings(spark.sql(sqlFor(op, t => s"local_$t")).collect())
    }.toMap
    // any n rows of the table answer a LIMIT n, so those answers are
    // checked for membership in the set of every lineitem row
    lineitemRows = new java.util.HashSet[java.lang.Long]()
    spark.read.parquet(localFiles("lineitem"): _*)
      .map((r: Row) => Rows.hash(r))(Encoders.scalaLong).collect()
      .foreach(h => lineitemRows.add(h))
  }

  def run(env: Env, i: Int, tr: Tracer): () => Option[String] = {
    val (op, entry) = schedule(i % schedule.size)
    val df = tr.span("plan.frame") {
      env.spark.sql(sqlFor(op, t =>
        if (entry == "sql") s"bench.main.$t"
        else {
          GraftSharing.readTable(env.spark, env.client, env.ref(t),
            op.hints(t), op.limit).createOrReplaceTempView(s"v1_$t")
          s"v1_$t"
        }))
    }
    val out = tr.span("exec")(df.collect())
    tr.phases(df)
    () => check(op, out)
  }

  private def check(op: ScanOp, out: Array[Row]): Option[String] =
    if (op.typ == "limit") {
      val n = op.limit.get
      val foreign = out.count(r => !lineitemRows.contains(Rows.hash(r)))
      if (out.length == n && foreign == 0) None
      else Some(s"${op.id}: ${out.length} rows (want $n), $foreign not in lineitem")
    } else Rows.diff(op.id, Rows.sortedStrings(out), expected(op.id))

  def probe(env: Env, i: Int, tr: Tracer, opSeconds: Double): Unit = {
    val (op, entry) = schedule(i % schedule.size)
    val listings = op.hints.toSeq.map { case (t, filters) =>
      val ref = env.ref(t)
      val schema = DeltaSchema.fromSchemaString(
        env.client.getTableMetadata(ref)._2.schemaString)
      val hints = PredicateHints.toHintJson(
        filters.flatMap(PredicateHints.fromFilter(_, schema)))
      // the listing the entry point issued: the catalog keeps metadata
      // from its first lookup, readTable fetches it on every call
      val listed = tr.span("client.replay") {
        if (entry == "v1") Probes.call(tr, "getTableMetadata")(env.client.getTableMetadata(ref))
        Probes.call(tr, "getTableData")(env.client.getTableData(ref, hints, op.limit))._3
      }
      tr.sample("client.files_listed", listed.size)
      Probes.prune(env, tr, ref, filters)
    }
    Probes.transport(env, tr, listings.flatten)
    Probes.twin(tr, opSeconds) {
      env.spark.sql(sqlFor(op, t => s"local_$t")).collect()
    }
  }
}
