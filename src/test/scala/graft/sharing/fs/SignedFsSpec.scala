package graft.sharing.fs

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.sharing.{DeltaSharingClient, FileAction, Profile, TableRef}
import graft.sharing.server.LocalSharingServer

/** graftshare filesystem unit behavior: URL-refresh cache semantics
  * (batch populate from ONE listing, invalidate-on-4xx so a second
  * expiry re-lists, one cache range per listing, a newer embedded URL
  * beating a stale cached one) and listStatus contract. */
class SignedFsSpec extends AnyFunSuite with BeforeAndAfterAll {

  // two small served "files" with distinct content (the server serves raw
  // bytes of any path; parquet-ness is irrelevant at this layer)
  private val dir = Files.createTempDirectory("graft-fs")
  private val fileA = Files.write(dir.resolve("a.bin"),
    ("A" * 4096).getBytes("UTF-8"))
  private val fileB = Files.write(dir.resolve("b.bin"),
    ("B" * 4096).getBytes("UTF-8"))

  // TTL long enough that a just-refreshed URL is readable, short enough
  // that a sleep(), not a mock, expires a wave of URLs
  private val server = new LocalSharingServer(
    urlTtl = java.time.Duration.ofMillis(500))
  private var profilePath: String = _
  private var client: DeltaSharingClient = _
  private val table = TableRef("sh", "sc", "bins")

  override def beforeAll(): Unit = {
    server.addTable("sh", "sc", server.TableDef(
      "bins", """{"type":"struct","fields":[]}""", Seq.empty,
      files = Seq(server.ServedFile(fileA, Map.empty),
        server.ServedFile(fileB, Map.empty)),
      version = 2L,
      changes = Seq(
        server.ChangeEntry(1L, "add", server.ServedFile(fileA, Map.empty)),
        server.ChangeEntry(2L, "add", server.ServedFile(fileB, Map.empty)))))
    server.start()
    profilePath = server.writeProfile()
    client = new DeltaSharingClient(Profile.fromPath(profilePath))
  }
  override def afterAll(): Unit = server.stop()

  private def spec(fileId: String) = SignedHttpFileSystem.RefreshSpec(
    profilePath, table.share, table.schema, table.name, fileId)

  private def readAt(s: SignedHttpInputStream, pos: Int, n: Int): Array[Byte] = {
    val buf = new Array[Byte](n)
    val got = s.read(pos.toLong, buf, 0, n)
    buf.take(got)
  }

  test("a whole expired wave costs ONE re-listing; second expiry re-lists") {
    SignedHttpInputStream.clearCache()
    val before = SignedHttpInputStream.refreshListings.get()
    val (_, _, files) = client.getTableData(table)
    assert(files.length == 2)
    val Seq(fa, fb) = files.sortBy(_.id).toSeq
    Thread.sleep(700) // both URLs now expired

    // file A's stream hits the 4xx, refreshes via ONE listing…
    val sa = new SignedHttpInputStream(fa.url, 4096, 1 << 20, Some(spec(fa.id)))
    assert(readAt(sa, 0, 16).forall(_ == 'A'.toByte))
    assert(SignedHttpInputStream.refreshListings.get() == before + 1)

    // …which batch-populated file B's fresh URL: no second listing, both
    // for a cache-constructed stream and for one starting from the
    // expired embedded URL
    val sb = new SignedHttpInputStream(fb.url, 4096, 1 << 20, Some(spec(fb.id)))
    assert(readAt(sb, 100, 16).forall(_ == 'B'.toByte))
    assert(SignedHttpInputStream.refreshListings.get() == before + 1)

    // second expiry: the cached fresh URLs die too; a new stream picks
    // the stale cache entry, fails, INVALIDATES it, and re-lists instead
    // of replaying the dead URL forever
    Thread.sleep(700)
    val sa2 = new SignedHttpInputStream(fa.url, 4096, 1 << 20, Some(spec(fa.id)))
    assert(readAt(sa2, 4000, 16).forall(_ == 'A'.toByte))
    assert(SignedHttpInputStream.refreshListings.get() == before + 2)
  }

  test("a path from a newer listing beats an expired cached URL") {
    SignedHttpInputStream.clearCache()
    val (_, _, files) = client.getTableData(table)
    val fa = files.minBy(_.id)
    Thread.sleep(700)
    // one refreshed wave: the cache now holds URLs of that listing…
    val sa = new SignedHttpInputStream(fa.url, 4096, 1 << 20, Some(spec(fa.id)))
    assert(readAt(sa, 0, 16).forall(_ == 'A'.toByte))
    val before = SignedHttpInputStream.refreshListings.get()
    Thread.sleep(700) // …which expire
    // a newer listing's live URL, with its expiry in the spec, is read
    // as embedded: no 4xx on the dead cached URL, no re-list
    val (_, _, relisted) = client.getTableData(table)
    val fresh = relisted.find(_.id == fa.id).get
    val s2 = new SignedHttpInputStream(fresh.url, 4096, 1 << 20,
      Some(spec(fa.id).copy(expires = fresh.expirationTimestamp)))
    assert(readAt(s2, 100, 16).forall(_ == 'A'.toByte))
    assert(SignedHttpInputStream.refreshListings.get() == before)
  }

  test("a change listing re-lists its range and keeps the snapshot's URLs") {
    SignedHttpInputStream.clearCache()
    val before = SignedHttpInputStream.refreshListings.get()
    val (_, _, files) = client.getTableData(table)
    val (_, _, changes) = client.getTableChanges(table, 1L)
    Thread.sleep(700) // every URL of both listings now expired
    val Seq(fa, fb) = files.sortBy(_.id).toSeq
    val Seq(ca, cb) = changes.sortBy(_.version).map(_.file)
    def snapshotRead(f: FileAction) = readAt(new SignedHttpInputStream(
      f.url, 4096, 1 << 20, Some(spec(f.id))), 0, 16)
    def changeRead(f: FileAction) = readAt(new SignedHttpInputStream(
      f.url, 4096, 1 << 20, Some(spec(f.id).copy(
        listing = SignedHttpFileSystem.Listing.of(changes)))), 0, 16)
    // one listing each: the change file's fresh URL comes from
    // getTableChanges over [1, 2], picked by its change id
    assert(snapshotRead(fa).forall(_ == 'A'.toByte))
    assert(changeRead(cb).forall(_ == 'B'.toByte))
    assert(SignedHttpInputStream.refreshListings.get() == before + 2)
    // each refresh filled its own listing's range: neither evicted the other
    assert(snapshotRead(fb).forall(_ == 'B'.toByte))
    assert(changeRead(ca).forall(_ == 'A'.toByte))
    assert(SignedHttpInputStream.refreshListings.get() == before + 2)
  }

  test("a refresh spec round-trips through its path segment") {
    val specs = Seq(spec("bins-0"),
      spec("bins-1").copy(listing = SignedHttpFileSystem.Listing.Snapshot(Some(3L)),
        expires = Some(1700000000000L)),
      spec("bins-chg-2").copy(listing = SignedHttpFileSystem.Listing.Changes(1L, 4L)))
    specs.foreach { sp =>
      val path = new Path(SignedHttpFileSystem.encode(
        "http://127.0.0.1:1/x?sig=a|b", 123L, refresh = Some(sp)))
      assert(SignedHttpFileSystem.decodeRefresh(path).contains(sp))
      assert(SignedHttpFileSystem.decode(path) == ("http://127.0.0.1:1/x?sig=a|b", 123L))
    }
  }

  test("concurrent expired streams of one table still re-list once") {
    SignedHttpInputStream.clearCache()
    val before = SignedHttpInputStream.refreshListings.get()
    val (_, _, files) = client.getTableData(table)
    Thread.sleep(700)
    val threads = files.flatMap { f =>
      (1 to 4).map { _ =>
        new Thread(() => {
          val s = new SignedHttpInputStream(f.url, 4096, 1 << 20,
            Some(spec(f.id)))
          readAt(s, 0, 8)
        })
      }
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(SignedHttpInputStream.refreshListings.get() == before + 1)
  }

  test("without a RefreshSpec an expired URL fails with a clear error") {
    val (_, _, files) = client.getTableData(table)
    Thread.sleep(700)
    val s = new SignedHttpInputStream(files.head.url, 4096, 1 << 20, None)
    val e = intercept[java.io.IOException](readAt(s, 0, 8))
    assert(e.getMessage.contains("403"))
  }

  test("listStatus: a file lists as itself; a synthetic directory throws") {
    val fs = new SignedHttpFileSystem()
    fs.initialize(URI.create("graftshare:///"),
      new org.apache.hadoop.conf.Configuration())
    val filePath = new Path(SignedHttpFileSystem.encode(
      "http://127.0.0.1:1/x", 123L))
    val listed = fs.listStatus(filePath)
    assert(listed.length == 1 && !listed.head.isDirectory &&
      listed.head.getPath == filePath)
    // a directory must never be echoed as its own child (would
    // infinite-loop a recursive lister)
    intercept[UnsupportedOperationException](
      fs.listStatus(new Path("graftshare:///t/flat")))
  }

  // ---- server parameter validation (the silent-coercion bugs) ----------

  private def raw(method: String, pathAndQuery: String,
      body: Option[String] = None): HttpResponse[String] = {
    val b = HttpRequest.newBuilder(
        URI.create(s"${server.endpoint}$pathAndQuery"))
      .header("Authorization", "Bearer graft-test-token")
    val req = (method match {
      case "POST" => b.header("Content-Type", "application/json")
        .POST(HttpRequest.BodyPublishers.ofString(body.getOrElse("{}")))
      case _ => b.GET()
    }).build()
    HttpClient.newHttpClient()
      .send(req, HttpResponse.BodyHandlers.ofString())
  }

  test("malformed version params are 400, never coerced or ignored") {
    val base = "/shares/sh/schemas/sc/tables/bins"
    // query body "version":"abc" — Jackson's asLong() would coerce to 0
    // and silently rewind the table to v0
    val q = raw("POST", s"$base/query", Some("""{"version":"abc"}"""))
    assert(q.statusCode() == 400 && q.body().contains("INVALID_PARAMETER_VALUE"))
    // negative pins are as malformed as garbled ones
    val qn = raw("POST", s"$base/query", Some("""{"version":-3}"""))
    assert(qn.statusCode() == 400)
    // metadata ?version=abc previously fell back to LATEST silently
    val m = raw("GET", s"$base/metadata?version=abc")
    assert(m.statusCode() == 400 && m.body().contains("INVALID_PARAMETER_VALUE"))
    // changes bounds: ignoring a malformed one would serve ALL history
    val c = raw("GET", s"$base/changes?startingVersion=abc")
    assert(c.statusCode() == 400 && c.body().contains("INVALID_PARAMETER_VALUE"))
    // negative bounds are as malformed as garbled ones
    val cn = raw("GET", s"$base/changes?startingVersion=-5")
    assert(cn.statusCode() == 400)
    // integral string versions remain accepted (client wire format)
    val ok = raw("POST", s"$base/query", Some("""{"version":1}"""))
    assert(ok.statusCode() == 200)
  }
}
