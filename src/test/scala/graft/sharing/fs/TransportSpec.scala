package graft.sharing.fs

import java.net.URI
import java.net.http.{HttpRequest, HttpResponse}
import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.{HadoopInputFile, HadoopOutputFile}
import org.apache.parquet.schema.MessageTypeParser
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.sharing.{DeltaSharingClient, FileAction, Profile, TableRef}
import graft.sharing.server.LocalSharingServer

/** The signed-URL data path at the byte level: the server's Range
  * answers, the stream's checks of them, the one-GET footer read, and
  * the absence of a per-exchange (Nagle / delayed-ACK) stall. */
class TransportSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val dir = Files.createTempDirectory("graft-transport")
  // 4096 bytes, each byte its offset mod 251: any misaligned slice shows
  private val binBytes = Array.tabulate[Byte](4096)(i => (i % 251).toByte)
  private val binFile = Files.write(dir.resolve("pattern.bin"), binBytes)
  private val rows = 20000
  private val parquetFile = dir.resolve("fixture.parquet")

  private val server = new LocalSharingServer()
  private val conf = new Configuration()
  private var client: DeltaSharingClient = _
  private val table = TableRef("sh", "sc", "files")

  override def beforeAll(): Unit = {
    val schema = MessageTypeParser.parseMessageType(
      "message row { required int64 id; required binary name (UTF8); }")
    val groups = new SimpleGroupFactory(schema)
    val w = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(
      new Path(parquetFile.toUri), conf)).withType(schema).build()
    try (0 until rows).foreach(i =>
      w.write(groups.newGroup().append("id", i.toLong)
        .append("name", s"row-$i-${(i.toLong * 7919) % 100003}")))
    finally w.close()
    server.addTable("sh", "sc", server.TableDef(
      "files", """{"type":"struct","fields":[]}""", Seq.empty,
      files = Seq(server.ServedFile(binFile, Map.empty),
        server.ServedFile(parquetFile, Map.empty))))
    server.start()
    client = new DeltaSharingClient(Profile.fromJson(server.profileJson))
    SignedHttpFileSystem.register(conf)
  }
  override def afterAll(): Unit = server.stop()

  private def listed(): (FileAction, FileAction) = {
    val (_, _, files) = client.getTableData(table)
    val Seq(bin, pq) = files.sortBy(_.id)
    (bin, pq)
  }

  private def get(url: String, range: String): HttpResponse[Array[Byte]] =
    DeltaSharingClient.http.send(
      HttpRequest.newBuilder(URI.create(url)).header("Range", range).GET().build(),
      HttpResponse.BodyHandlers.ofByteArray())

  private def contentRange(r: HttpResponse[_]): String =
    r.headers().firstValue("Content-Range").orElse("")

  private def footerPath(f: FileAction): Path =
    new Path(SignedHttpFileSystem.encode(f.url, f.size))

  /** Open `p` as Spark does, with read options from `conf`: the
    * one-argument `ParquetFileReader.open` builds its options from a new
    * Hadoop `Configuration`, and parsing its default XML resources costs
    * more than the footer read it would be timed with. */
  private def readFooterRows(p: Path): Long = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(p, conf),
      HadoopReadOptions.builder(conf).build())
    try reader.getRecordCount finally reader.close()
  }

  test("Range GETs: suffix ranges serve the tail; unsatisfiable ones are 416") {
    val (bin, _) = listed()
    val suffix = get(bin.url, "bytes=-100")
    assert(suffix.statusCode() == 206)
    assert(suffix.body().sameElements(binBytes.takeRight(100)))
    assert(contentRange(suffix) == "bytes 3996-4095/4096")
    // a suffix longer than the file is the whole file
    val whole = get(bin.url, "bytes=-10000")
    assert(whole.statusCode() == 206 && whole.body().sameElements(binBytes))
    // an end past EOF is clamped, not refused
    val clamped = get(bin.url, "bytes=4000-9999")
    assert(clamped.statusCode() == 206 &&
      clamped.body().sameElements(binBytes.drop(4000)))
    for (r <- Seq("bytes=4096-", "bytes=5000-6000", "bytes=100-50", "bytes=-0")) {
      val resp = get(bin.url, r)
      assert(resp.statusCode() == 416, r)
      assert(contentRange(resp) == "bytes */4096", r)
    }
  }

  test("a server that ignores Range: every read is sliced to the request") {
    val (bin, _) = listed()
    server.ignoreRange = true
    try {
      assert(get(bin.url, "bytes=10-20").statusCode() == 200)
      val s = new SignedHttpInputStream(bin.url, bin.size, 1024)
      val at = new Array[Byte](300)
      assert(s.read(1000L, at, 0, 300) == 300)
      assert(at.sameElements(binBytes.slice(1000, 1300)))
      // sequential reads across several windows and into the tail
      s.seek(100)
      val seq = new Array[Byte](3996)
      var off = 0
      while (off < seq.length) off += s.read(seq, off, seq.length - off)
      assert(seq.sameElements(binBytes.drop(100)))
      // a full body that is not the declared file is refused, typed, and
      // the message carries no part of the signed URL
      val wrongSize = new SignedHttpInputStream(bin.url, bin.size - 96, 1024)
      val e = intercept[BadRangeResponseException](
        wrongSize.read(0L, new Array[Byte](8), 0, 8))
      val sig = bin.url.split("sig=", 2)(1)
      assert(!e.getMessage.contains("sig=") && !e.getMessage.contains(sig))
      assert(e.getMessage.contains("HTTP 200"))
    } finally server.ignoreRange = false
  }

  test("a parquet footer read costs one data GET") {
    val (_, pq) = listed()
    assert(pq.size > 2 * SignedHttpInputStream.tailWindow,
      "the fixture must be larger than the tail window")
    val before = server.dataRequests
    assert(readFooterRows(footerPath(pq)) == rows)
    assert(server.dataRequests - before == 1)
  }

  test("no per-exchange stall: median REST call or footer read under 20 ms") {
    val (_, pq) = listed()
    val p = footerPath(pq)
    // warm the connection pool and the JIT outside the clock
    (1 to 5).foreach { _ =>
      client.getTableVersion(table); client.getTableMetadata(table)
      readFooterRows(p)
    }
    /** Median milliseconds of 50 timed runs of `body`: a few runs slowed
      * by host load move it little, a stall on every exchange moves it
      * all the way. */
    def medianMs(body: => Unit): Double = {
      val ms = (1 to 50).map { _ =>
        val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e6
      }.sorted
      (ms(24) + ms(25)) / 2
    }
    // 20 ms is half the ~40 ms delayed-ACK stall every exchange with a
    // body paid without TCP_NODELAY. The version answer is headers only
    // (one write, so it never stalled); metadata carries a body, the
    // write that waited for the delayed ACK.
    val version = medianMs(client.getTableVersion(table))
    assert(version < 20, f"median getTableVersion call took $version%.1f ms")
    val metadata = medianMs(client.getTableMetadata(table))
    assert(metadata < 20, f"median getTableMetadata call took $metadata%.1f ms")
    val footers = medianMs(readFooterRows(p))
    assert(footers < 20, f"median footer read took $footers%.1f ms")
  }
}
