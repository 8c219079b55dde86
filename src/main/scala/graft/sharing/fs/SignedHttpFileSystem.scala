package graft.sharing.fs

import java.net.URI
import java.net.http.{HttpRequest, HttpResponse}
import org.apache.hadoop.fs._
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import scala.jdk.OptionConverters._

/** Read-only Hadoop FileSystem for Delta Sharing pre-signed URLs, scheme
  * `graftshare`.
  *
  * Pre-signed URLs carry auth in the query string, which Hadoop's stock
  * filesystems can't address — the reference hits the same wall and
  * smuggles URLs through `PartitionedFile.extensions`
  * (reference src/datasource/scan.rs:180-184, reader.rs:96-108). Here the
  * whole signed URL is encoded INTO the path:
  *
  *   graftshare:///t/<uid>[/k=v…]/f<url64>[.<refresh64>].<size>.parquet
  *
  * (`url64` the base64url signed URL, `k=v` hive-style partition values,
  * `refresh64` an optional [[SignedHttpFileSystem.RefreshSpec]]; see
  * `encode`), so any Spark file source can scan it: `getFileStatus`
  * answers from the path alone (zero HTTP), and `open` streams with HTTP Range requests —
  * the same footer-then-column-chunks access pattern as the reference's
  * `AsyncFileReader` (reader.rs:25-49), but feeding Spark's vectorized
  * parquet reader. Executors resolve paths independently: nothing is
  * driver-resident, so a 1000-executor scan needs no shared state.
  *
  * Transport: every stream sends its GETs through the one JVM-wide
  * `DeltaSharingClient.http`, so streams, files and tasks reuse keep-alive
  * connections. The server answers each Range GET with only the requested
  * slice; `LocalSharingServer` reads just that slice from disk and runs
  * with `TCP_NODELAY`, without which every answer with a body stalls
  * about 40 ms on Nagle's algorithm meeting the client's delayed ACK. A read that lands
  * in a file's last 64 KiB fetches that whole tail, so parquet's footer
  * (length, then metadata) costs one GET.
  */
final class SignedHttpFileSystem extends FileSystem {

  private var uri: URI = URI.create("graftshare:///")

  override def initialize(name: URI, conf: org.apache.hadoop.conf.Configuration): Unit = {
    super.initialize(name, conf)
    setConf(conf)
    uri = URI.create("graftshare:///")
  }

  override def getScheme: String = "graftshare"
  override def getUri: URI = uri

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    val (url, size) = SignedHttpFileSystem.decode(f)
    new FSDataInputStream(new SignedHttpInputStream(url, size,
      math.max(bufferSize, 4 * 1024 * 1024),
      SignedHttpFileSystem.decodeRefresh(f)))
  }

  override def getFileStatus(f: Path): FileStatus =
    if (SignedHttpFileSystem.isFilePath(f)) {
      val (_, size) = SignedHttpFileSystem.decode(f)
      new FileStatus(size, false, 1, 128L * 1024 * 1024,
        System.currentTimeMillis(), f)
    } else {
      // Synthetic table/partition directories (basePath checks during
      // partition discovery land here) — everything above a leaf file
      // "exists" as a directory.
      new FileStatus(0, true, 1, 0, System.currentTimeMillis(), f)
    }

  /** Leaf file paths list as themselves (they're self-contained). A
    * synthetic directory has no enumerable children — the file set lives
    * in the sharing server's listing, not in the path space — so listing
    * one throws instead of echoing the directory as its own child, which
    * would infinite-loop any recursive lister. Scans never hit this:
    * Spark receives explicit leaf paths from the connector. */
  override def listStatus(f: Path): Array[FileStatus] =
    if (SignedHttpFileSystem.isFilePath(f)) Array(getFileStatus(f))
    else throw new UnsupportedOperationException(
      s"graftshare directories are synthetic and cannot be listed: $f " +
        "(file paths are self-contained; obtain them from the sharing listing)")

  override def setWorkingDirectory(d: Path): Unit = ()
  override def getWorkingDirectory: Path = new Path("graftshare:///")
  override def mkdirs(f: Path, permission: FsPermission): Boolean =
    throw new UnsupportedOperationException("graftshare is read-only")
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream =
    throw new UnsupportedOperationException("graftshare is read-only")
  override def append(f: Path, bufferSize: Int,
      progress: Progressable): FSDataOutputStream =
    throw new UnsupportedOperationException("graftshare is read-only")
  override def rename(src: Path, dst: Path): Boolean =
    throw new UnsupportedOperationException("graftshare is read-only")
  override def delete(f: Path, recursive: Boolean): Boolean =
    throw new UnsupportedOperationException("graftshare is read-only")
}

object SignedHttpFileSystem {
  private val enc = java.util.Base64.getUrlEncoder.withoutPadding()
  private val decoder = java.util.Base64.getUrlDecoder

  /** Install the scheme in a Hadoop configuration (idempotent). */
  def register(conf: org.apache.hadoop.conf.Configuration): Unit = {
    conf.set("fs.graftshare.impl", classOf[SignedHttpFileSystem].getName)
    // one FS instance per scheme is fine — paths are self-contained
    conf.setBooleanIfUnset("fs.graftshare.impl.disable.cache", false)
  }

  /** Signed URL + size → self-contained graftshare path:
    *
    *   graftshare:///t/<tableUid>[/k=v…]/f<base64url(url)>[.<refresh64>].<size>.parquet
    *
    * The URL+size live in the FILENAME, so every file of a table shares
    * the common base `graftshare:///t/<tableUid>` — pass that as the
    * `basePath` option and Spark's stock hive-style partition discovery
    * turns the `k=v` segments into typed, Catalyst-prunable partition
    * columns: partition-value materialization (reference scan.rs:160-229)
    * with zero custom reader code. Empty value ⇒ the hive
    * default-partition token ⇒ NULL. The `f` filename prefix keeps a
    * leading `-`/`_` in base64 from marking the file as hidden. */
  def encode(url: String, size: Long,
      partitionValues: Seq[(String, String)] = Seq.empty,
      tableUid: String = "flat",
      refresh: Option[RefreshSpec] = None): String = {
    val b64 = enc.encodeToString(url.getBytes("UTF-8"))
    val partSegs = partitionValues.map { case (k, v) =>
      val hv = if (v.isEmpty) "__HIVE_DEFAULT_PARTITION__" else hiveEscape(v)
      s"/$k=$hv"
    }.mkString
    val refreshSeg = refresh.map(r =>
      "." + enc.encodeToString(r.serialized.getBytes("UTF-8"))).getOrElse("")
    s"graftshare:///t/$tableUid$partSegs/f$b64$refreshSeg.$size.parquet"
  }

  /** Where to re-fetch a fresh pre-signed URL when the embedded one
    * expires mid-task (plan→execute gaps on a busy cluster routinely
    * exceed URL TTLs; the reference ignores this —
    * src/client/action.rs:196-200 is parsed but unused).
    *
    * The spec rides INSIDE the path (profile file path + table FQN +
    * file id + the listing the file came from), so any executor can
    * refresh independently — no driver state, no shared registry. The
    * profile path must be readable on executors (true for distributed
    * filesystems / secret mounts; the bearer token itself is never
    * embedded in paths or logs). `expires` is the embedded URL's
    * `expirationTimestamp`, so a stream starts from whichever of it and
    * a cached fresh URL lives longer.
    */
  final case class RefreshSpec(profilePath: String, share: String,
      schema: String, table: String, fileId: String,
      listing: Listing = Listing.Snapshot(None),
      expires: Option[Long] = None) {
    def serialized: String =
      Seq(profilePath, share, schema, table, fileId, listing.token,
        expires.fold("")(_.toString))
        .map(java.net.URLEncoder.encode(_, "UTF-8")).mkString("|")
  }

  object RefreshSpec {
    def deserialize(s: String): RefreshSpec =
      s.split("\\|", -1).map(java.net.URLDecoder.decode(_, "UTF-8")) match {
        case Array(p, sh, sc, t, id, listing, exp) => RefreshSpec(p, sh, sc, t,
          id, Listing.parse(listing), exp.toLongOption)
        case _ => throw new IllegalArgumentException(
          s"malformed refresh spec: $s")
      }
  }

  /** The listing a file's URL came from, which a refresh re-queries: a
    * snapshot at `version` (None = latest; a version-pinned read must
    * re-list the SAME snapshot, or an executor racing a table update
    * would read files from a different version than the plan), or the
    * changes of versions `[from, to]`. */
  sealed trait Listing { def token: String }
  object Listing {
    final case class Snapshot(version: Option[Long]) extends Listing {
      def token: String = version.fold("latest")(_.toString)
    }
    final case class Changes(from: Long, to: Long) extends Listing {
      def token: String = s"$from-$to"
    }
    /** The changes a change listing returned, as the range from their
      * first to their last version: re-listing it yields the same
      * files, however the feed's start and end were given. */
    def of(changes: Seq[graft.sharing.Actions.ChangeAction]): Listing =
      Changes(changes.map(_.version).min, changes.map(_.version).max)
    def parse(token: String): Listing = token.split('-') match {
      case Array("latest") => Snapshot(None)
      case Array(v) => Snapshot(Some(v.toLong))
      case Array(from, to) => Changes(from.toLong, to.toLong)
      case _ => throw new IllegalArgumentException(s"malformed listing: $token")
    }
  }

  private[fs] def decodeRefresh(p: Path): Option[RefreshSpec] = {
    val core = p.getName.stripPrefix("f").stripSuffix(".parquet")
    core.split('.') match {
      case Array(_, refresh, _) =>
        Some(RefreshSpec.deserialize(
          new String(decoder.decode(refresh), "UTF-8")))
      case _ => None
    }
  }

  /** The one way a listing becomes scan paths. Every file goes under one
    * fresh synthetic table base; its segments are the table's partition
    * values in `partitionColumns` order (missing ⇒ empty ⇒ NULL), then
    * its `extra` segments (the CDF columns of a change file). Returns the
    * paths and the base to pass as `basePath`, so Spark's partition
    * discovery types every segment as a partition column of ONE scan. */
  def encodeAll(partitionColumns: Seq[String],
      files: Seq[(graft.sharing.FileAction, Seq[(String, String)])],
      refresh: graft.sharing.FileAction => Option[RefreshSpec] = _ => None)
      : (Seq[String], String) = {
    val uid = java.util.UUID.randomUUID().toString.take(12)
    val paths = files.map { case (f, extra) =>
      encode(f.url, f.size,
        partitionColumns.map(pc => pc -> f.partitionValues.getOrElse(pc, "")) ++
          extra, uid, refresh(f))
    }
    (paths, s"graftshare:///t/$uid")
  }

  /** Hive path-name escaping: the character set of Spark's
    * `ExternalCatalogUtils.escapePathName` (control characters, DEL and
    * the punctuation below), which partition discovery reverses with
    * `unescapePathName`. */
  private def hiveEscape(v: String): String = v.flatMap { c =>
    if (c < ' ' || "\"#%'*/:=?\\{[]^".contains(c)) f"%%${c.toInt}%02X"
    else c.toString
  }

  /** Is this a leaf data-file path (vs a synthetic directory)? */
  def isFilePath(p: Path): Boolean = {
    val name = p.getName
    name.startsWith("f") && name.endsWith(".parquet") &&
      name.stripPrefix("f").stripSuffix(".parquet").contains('.')
  }

  /** graftshare path → (signed URL, size), both read from the filename
    * (`f<url64>[.<refresh64>].<size>.parquet`). */
  def decode(p: Path): (String, Long) = {
    val name = p.getName
    if (!name.startsWith("f") || !name.endsWith(".parquet"))
      throw new IllegalArgumentException(s"not a graftshare path: $p")
    name.stripPrefix("f").stripSuffix(".parquet").split('.') match {
      case Array(url64, size) =>
        (new String(decoder.decode(url64), "UTF-8"), size.toLong)
      case Array(url64, _, size) =>
        (new String(decoder.decode(url64), "UTF-8"), size.toLong)
      case _ => throw new IllegalArgumentException(s"not a graftshare path: $p")
    }
  }
}

/** Seekable, positioned-read HTTP stream over one signed URL. Sequential
  * reads pull `chunkSize` ranges; positioned reads (`read(pos, …)`, the
  * parquet footer/column-chunk path) issue exact-range GETs without
  * disturbing the cursor.
  *
  * If the signed URL has expired by the time a task reads it (4xx) and a
  * `RefreshSpec` is present, the stream re-queries the sharing server for
  * a fresh URL ONCE and retries — the per-task refresh story the
  * reference lacks (action.rs:196-200 parsed but unused). Fresh URLs are
  * cached per listing and file id so a thousand tasks don't re-list a
  * thousand times. A stream starts from the cached URL only when it
  * expires no earlier than the embedded one: a path from a newer listing
  * than the cache's must not pay a 4xx and a re-list for a live URL.
  */
final class SignedHttpInputStream(url: String, size: Long, chunkSize: Int,
    refresh: Option[SignedHttpFileSystem.RefreshSpec] = None)
    extends FSInputStream {

  private var pos = 0L
  private var buf: Array[Byte] = Array.emptyByteArray
  private var bufStart = 0L
  private var activeUrl =
    refresh.flatMap(SignedHttpInputStream.cachedUrl).getOrElse(url)

  /** Up to TWO refresh attempts per range read: the first may return a
    * CACHED fresh URL (populated by another stream's listing); if that
    * one has expired too, the second attempt passes it as the failed URL,
    * which invalidates the cache entry and forces a real re-list.
    *
    * The answer must be exactly the requested bytes: a `206` of
    * `end - start + 1` bytes (and a matching `Content-Range`, when sent),
    * or a `200` carrying the whole file — a proxy that ignores `Range` —
    * which is sliced here. Anything else fails with a
    * `BadRangeResponseException` and never reaches the buffer. */
  private def fetchRange(start: Long, end: Long,
      refreshAttempts: Int = 0): Array[Byte] = {
    val req = HttpRequest.newBuilder(URI.create(activeUrl))
      .header("Range", s"bytes=$start-$end").GET().build()
    val resp = graft.sharing.DeltaSharingClient.http
      .send(req, HttpResponse.BodyHandlers.ofByteArray())
    val code = resp.statusCode()
    if (code >= 400) {
      if (code < 500 && refresh.isDefined && refreshAttempts < 2) {
        activeUrl = SignedHttpInputStream.refreshUrl(refresh.get, activeUrl)
        return fetchRange(start, end, refreshAttempts + 1)
      }
      throw new java.io.IOException(
        s"HTTP $code reading range $start-$end (signed URL may have expired)")
    }
    val body = resp.body()
    val contentRange = resp.headers().firstValue("Content-Range").toScala
    if (code == 206 && body.length == end - start + 1 &&
        contentRange.forall(_.startsWith(s"bytes $start-$end/")))
      body
    else if (code == 200 && body.length == size)
      java.util.Arrays.copyOfRange(body, start.toInt, end.toInt + 1)
    else throw new BadRangeResponseException(
      s"HTTP $code with ${body.length} bytes" +
        contentRange.map(r => s" ($r)").getOrElse("") +
        s" for range $start-$end of a $size-byte file")
  }

  override def seek(newPos: Long): Unit = {
    if (newPos < 0 || newPos > size)
      throw new java.io.EOFException(s"seek($newPos) out of range 0..$size")
    pos = newPos
  }
  override def getPos: Long = pos
  override def seekToNewSource(targetPos: Long): Boolean = false

  override def read(): Int = {
    if (pos >= size) return -1
    if (pos < bufStart || pos >= bufStart + buf.length) fill(pos)
    val b = buf((pos - bufStart).toInt) & 0xff
    pos += 1
    b
  }

  override def read(b: Array[Byte], off: Int, len: Int): Int = {
    if (pos >= size) return -1
    if (pos < bufStart || pos >= bufStart + buf.length) fill(pos)
    val avail = (bufStart + buf.length - pos).toInt
    val n = math.min(len, avail)
    System.arraycopy(buf, (pos - bufStart).toInt, b, off, n)
    pos += n
    n
  }

  /** Positioned read: exact range, cursor untouched. */
  override def read(position: Long, b: Array[Byte], off: Int, len: Int): Int = {
    if (position >= size) return -1
    // an empty range `bytes=p-(p-1)` is unsatisfiable (416) on the wire
    if (len == 0) return 0
    val end = math.min(position + len, size) - 1
    val got = fetchRange(position, end)
    System.arraycopy(got, 0, b, off, got.length)
    got.length
  }

  /** Buffer a window from `at`; one that would start in the file's last
    * `tailWindow` bytes starts at that tail instead, so parquet's footer
    * length read and the footer read that follows it share one GET. */
  private def fill(at: Long): Unit = {
    val tail = math.min(SignedHttpInputStream.tailWindow, chunkSize).toLong
    val start = if (at >= size - tail) math.max(0L, size - tail) else at
    val end = math.min(start + chunkSize, size) - 1
    buf = fetchRange(start, end)
    bufStart = start
  }

  override def close(): Unit = ()
}

/** A data GET answered with bytes other than the requested range. The
  * message names the status, lengths and range, never the signed URL. */
final class BadRangeResponseException(message: String)
    extends java.io.IOException(message)

object SignedHttpInputStream {
  /** The tail a read near EOF fetches whole: parquet footers of typical
    * files fit in it, so their two reads cost one GET. */
  private[fs] val tailWindow: Int = 64 * 1024

  /** (listing key # file id) → fresh signed URL and its expiry, shared
    * across streams in this JVM. Keyed per listing (a table snapshot, or
    * a range of its changes) so same-named files in different
    * shares/versions can never serve each other's URLs, and refreshing
    * one listing never evicts another's. */
  private[fs] val freshUrls =
    scala.collection.concurrent.TrieMap.empty[String, (String, Option[Long])]

  /** One monitor per listing: concurrent expired streams of the same
    * listing serialize on it, so it is re-listed ONCE and everyone else
    * reads the batch-populated cache — without it a thousand tasks
    * racing a TTL would issue a thousand listings. */
  private val refreshLocks =
    scala.collection.concurrent.TrieMap.empty[String, Object]

  /** Number of refresh LISTING round-trips issued by this JVM (tests
    * assert the one-listing-per-expiry-wave property against it). */
  private[sharing] val refreshListings =
    new java.util.concurrent.atomic.AtomicInteger(0)

  private def listingKey(r: SignedHttpFileSystem.RefreshSpec): String =
    Seq(r.profilePath, r.share, r.schema, r.table, r.listing.token)
      .map(java.net.URLEncoder.encode(_, "UTF-8")).mkString("|")

  private[fs] def cacheKey(r: SignedHttpFileSystem.RefreshSpec): String =
    s"${listingKey(r)}#${r.fileId}"

  /** The cached fresh URL for `r`, unless the URL embedded in its path
    * expires later: that one comes from a newer listing. */
  private def cachedUrl(r: SignedHttpFileSystem.RefreshSpec): Option[String] =
    freshUrls.get(cacheKey(r)).collect {
      case (url, expires) if !Ordering[Option[Long]].gt(r.expires, expires) => url
    }

  /** Test hook: forget all cached fresh URLs (JVM-wide state). */
  private[fs] def clearCache(): Unit = { freshUrls.clear(); refreshLocks.clear() }

  /** A fresh signed URL for `spec`, given that `failedUrl` just 4xx'd.
    *
    * A listing's URLs expire TOGETHER, so one re-query of the spec's
    * listing (`getTableData` for a snapshot, `getTableChanges` for a
    * change range) batch-populates the cache for EVERY file of it — N
    * expired files cost one listing, not N (the round-5 review's
    * thundering-herd finding). The fresh URL is picked by file id. An
    * entry equal to `failedUrl`, or older than the path's own URL, is
    * stale from an earlier refresh: it is dropped and the listing re-run,
    * so a second expiry re-lists instead of replaying it. */
  private[fs] def refreshUrl(spec: SignedHttpFileSystem.RefreshSpec,
      failedUrl: String): String = {
    val lock = refreshLocks.getOrElseUpdate(listingKey(spec), new Object)
    lock.synchronized {
      cachedUrl(spec) match {
        case Some(cached) if cached != failedUrl =>
          cached // another stream already re-listed this listing
        case _ =>
          freshUrls.remove(cacheKey(spec))
          refreshListings.incrementAndGet()
          val client = new graft.sharing.DeltaSharingClient(
            graft.sharing.Profile.fromPath(spec.profilePath))
          val ref = graft.sharing.TableRef(spec.share, spec.schema, spec.table)
          val files = spec.listing match {
            case SignedHttpFileSystem.Listing.Snapshot(version) =>
              client.getTableData(ref, version = version)._3
            case SignedHttpFileSystem.Listing.Changes(from, to) =>
              client.getTableChanges(ref, from, Some(to))._3.map(_.file)
          }
          // REPLACE this listing's key range rather than accreting:
          // files compacted/removed since the last refresh would
          // otherwise leave dead URL entries behind forever (the cache
          // lives for the executor JVM's lifetime)
          val prefix = s"${listingKey(spec)}#"
          freshUrls.keys.filter(_.startsWith(prefix)).foreach(freshUrls.remove)
          files.foreach(f =>
            freshUrls.put(s"$prefix${f.id}", f.url -> f.expirationTimestamp))
          files.find(_.id == spec.fileId).map(_.url).getOrElse(
            throw new java.io.IOException(
              s"file ${spec.fileId} no longer listed for ${spec.table} on refresh"))
      }
    }
  }
}
