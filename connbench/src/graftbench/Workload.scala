package graftbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.sharing._
import graft.sharing.catalog.GraftCatalog
import graft.sharing.fs.SignedHttpFileSystem
import graft.sharing.server.LocalSharingServer

/** One set-up of the system under test: a Spark session, a sharing
  * server over the generated files, a REST client and the `bench`
  * catalog (share `bench`, schema `main`). */
final class Env(val spark: SparkSession, val server: LocalSharingServer,
    val client: DeltaSharingClient) {
  def ref(table: String): TableRef = TableRef("bench", "main", table)
}

object Env {
  /** A fresh session (new session state, so a new catalog instance with
    * empty caches) over a fresh server. The first set-up also starts the
    * Spark context; later ones share it. */
  def open(wl: Workload, work: Path, cores: Int, previous: Option[Env]): Env = {
    previous.foreach(_.server.stop())
    val spark = previous.map(_.spark.newSession()).getOrElse {
      val s = SparkSession.builder()
        .master(s"local[$cores]")
        .config("spark.sql.shuffle.partitions", cores.toString)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.host", "127.0.0.1")
        .config("spark.driver.bindAddress", "127.0.0.1")
        .config("spark.local.dir", work.resolve("spark-local").toString)
        .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
        .config("spark.hadoop.hadoop.tmp.dir", work.resolve("tmp").toString)
        .getOrCreate()
      s.sparkContext.setLogLevel("ERROR")
      s
    }
    SparkSession.setActiveSession(spark)
    val server = new LocalSharingServer()
    wl.serve(spark, server)
    server.start()
    val profile = work.resolve("profile.json")
    Files.writeString(profile, server.profileJson)
    spark.conf.set("spark.sql.catalog.bench", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.bench.profile", profile.toString)
    new Env(spark, server, new DeltaSharingClient(Profile.fromPath(profile.toString)))
  }
}

/** A closed-loop workload: a seeded schedule of ops over tables it serves.
  * `run` is the timed op and returns the check of its output, which the
  * harness calls after the clock stops. `probe` runs after a traced op,
  * outside its latency, and replays or isolates each layer it crossed. */
trait Workload {
  def kind(i: Int): String
  /** Rows of the shared tables op `i` reads (fixed by the inputs). */
  def rows(i: Int): Long
  /** Period of the op mix. A run holds whole blocks, and a traced run
    * traces every other block, so both halves see the same mix. */
  def blockLen: Int
  def warmup: Seq[Int]
  def serve(spark: SparkSession, server: LocalSharingServer): Unit
  def prepare(env: Env): Unit
  /** Computes the expected answers from `spark.read.parquet` over the
    * generated files. Every run does this work at the same point, before
    * its loop, so no run enters the loop warmer than another. */
  def loadExpected(env: Env): Unit
  def run(env: Env, i: Int, tr: Tracer): () => Option[String]
  def probe(env: Env, i: Int, tr: Tracer, opSeconds: Double): Unit
}

object Workload {
  def apply(name: String, data: Path, work: Path): Workload = {
    val m = Inputs.mapper.readTree(data.resolve("manifest.json").toFile)
    name match {
      case "share_scan" => new ShareScan(data, m)
      case "share_cdf" => new ShareCdf(data, work, m)
      case "curate_corpus" => new CurateCorpus(data, m)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
  }
}

/** Reading the generator's manifest and serving its tables. */
object Inputs {
  val mapper = new ObjectMapper()

  final case class InputFile(path: Path, rows: Long,
      partitionValues: Map[String, String], stats: String)

  def files(dir: Path, table: JsonNode): Seq[InputFile] =
    table.get("files").elements.asScala.map { f =>
      InputFile(dir.resolve(f.get("path").asText), f.get("rows").asLong,
        f.get("partitionValues").properties.asScala
          .map(e => e.getKey -> e.getValue.asText).toMap,
        f.get("stats").asText)
    }.toSeq

  def partitionColumns(table: JsonNode): Seq[String] =
    table.get("partitionColumns").elements.asScala.map(_.asText).toSeq

  /** Delta schema string: the files' parquet schema plus the string
    * partition columns, which live in the paths, not the files. */
  def schemaString(spark: SparkSession, dir: Path, table: JsonNode): String = {
    val fileSchema = spark.read.parquet(files(dir, table).head.path.toString).schema
    StructType(fileSchema.fields ++
      partitionColumns(table).map(StructField(_, StringType))).json
  }

  def serve(spark: SparkSession, server: LocalSharingServer, dir: Path,
      manifest: JsonNode, name: String): Unit = {
    val t = manifest.get("tables").get(name)
    server.addTable("bench", "main", server.TableDef(name,
      schemaString(spark, dir, t), partitionColumns(t),
      files(dir, t).map(f =>
        server.ServedFile(f.path, f.partitionValues, Some(f.stats)))))
  }
}

/** Output rendering shared by the checks. */
object Rows {
  def render(r: Row): String =
    r.toSeq.map(v => if (v == null) "null" else v.toString).mkString("|")

  /** 64-bit row fingerprint, equal for equal rendered rows. */
  def hash(r: Row): Long = {
    val s = r.mkString("\u0001")
    (scala.util.hashing.MurmurHash3.stringHash(s, 1).toLong << 32) |
      (scala.util.hashing.MurmurHash3.stringHash(s, 2) & 0xffffffffL)
  }

  def sortedStrings(rows: Array[Row]): Seq[String] = rows.map(render).toSeq.sorted

  /** Rows equal field by field; floating sums may differ in their last
    * bits with the order the engine adds them in. */
  private def same(a: String, b: String): Boolean =
    a == b || {
      val (x, y) = (a.split('|'), b.split('|'))
      x.length == y.length && x.zip(y).forall { case (u, v) =>
        u == v || ((u.toDoubleOption, v.toDoubleOption) match {
          case (Some(p), Some(q)) => math.abs(p - q) <= 1e-9 * math.max(math.abs(p), math.abs(q))
          case _ => false
        })
      }
    }

  def diff(kind: String, got: Seq[String], want: Seq[String]): Option[String] =
    if (got.size == want.size && got.zip(want).forall { case (g, w) => same(g, w) }) None
    else Some(s"$kind: ${got.size} rows differ from the expected ${want.size}" +
      got.zipAll(want, "<none>", "<none>").find(p => !same(p._1, p._2))
        .map(p => s"; first: got ${p._1}, want ${p._2}").getOrElse(""))
}

/** Probes shared by every workload's traced ops. */
object Probes {
  private val http = HttpClient.newHttpClient()

  /** One REST call of the op's listing, replayed and timed. */
  def call[T](tr: Tracer, name: String)(body: => T): T = {
    val (r, ms) = tr.time(s"client.$name")(body)
    tr.sample("client.call_ms", ms)
    r
  }

  /** Stats pruning of `filters` over an unhinted listing of `ref`. */
  def prune(env: Env, tr: Tracer, ref: TableRef,
      filters: Seq[org.apache.spark.sql.sources.Filter]): Seq[FileAction] = {
    val (_, meta, all) = env.client.getTableData(ref)
    val schema = DeltaSchema.fromSchemaString(meta.schemaString)
    val (kept, ms) = tr.time("prune") {
      StatsPruning.prune(all, filters.flatMap(PredicateHints.fromFilter(_, schema)))
    }
    tr.sample("prune.ms", ms)
    tr.sample("prune.files_listed", all.size)
    tr.sample("prune.files_kept", kept.size)
    all
  }

  /** Server data path and `graftshare://` transport over a listing: a
    * 64 KiB Range GET on the smallest and largest file, then a footer
    * read and a whole-file read of the largest through Hadoop FS. */
  def transport(env: Env, tr: Tracer, files: Seq[FileAction]): Unit = {
    val small = files.minBy(_.size)
    val large = files.maxBy(_.size)
    for ((f, label) <- Seq(small -> "small", large -> "large")) {
      val req = HttpRequest.newBuilder(URI.create(f.url))
        .header("Range", "bytes=0-65535").GET().build()
      val (resp, ms) = tr.time("server.range_get") {
        http.send(req, HttpResponse.BodyHandlers.ofByteArray())
      }
      if (resp.statusCode() != 206)
        throw new IllegalStateException(s"range GET answered ${resp.statusCode()}")
      tr.sample(s"server.range_get_ms_${label}_file", ms)
    }
    val conf = env.spark.sparkContext.hadoopConfiguration
    SignedHttpFileSystem.register(conf)
    val path = new HPath(SignedHttpFileSystem.encode(large.url, large.size))
    val (_, footerMs) = tr.time("fs.footer") {
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(path, conf))
      try reader.getFooter finally reader.close()
    }
    tr.sample("fs.footer_ms", footerMs)
    val (bytes, readMs) = tr.time("fs.read") {
      val in = path.getFileSystem(conf).open(path)
      try {
        val buf = new Array[Byte](1 << 20)
        var n = 0L
        var k = in.read(buf)
        while (k >= 0) { n += k; k = in.read(buf) }
        n
      } finally in.close()
    }
    if (bytes != large.size)
      throw new IllegalStateException(s"read $bytes of ${large.size} bytes")
    tr.sample("fs.read_bytes", bytes.toDouble)
    tr.sample("fs.read_ms", readMs)
  }

  /** The op's connector time beside the same work over local files. */
  def twin(tr: Tracer, opSeconds: Double)(local: => Unit): Unit = {
    val (_, ms) = tr.time("twin")(local)
    tr.sample("twin.op_s", opSeconds)
    tr.sample("twin.local_s", ms / 1e3)
  }
}
