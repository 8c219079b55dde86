package graft.sharing.server

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import java.net.InetSocketAddress
import java.nio.channels.FileChannel
import java.nio.file.{Files, Path, Paths, StandardOpenOption}
import scala.jdk.CollectionConverters._
import graft.sharing.Actions.jstr

/** In-process Delta Sharing server over local parquet files.
  *
  * Serves the full read-only protocol surface the reference client
  * consumes (reference src/client/mod.rs endpoints): share/schema/table
  * listings with `maxResults`/`pageToken` pagination, NDJSON
  * metadata/query responses, bearer-token auth with the proper
  * `{errorCode,message}` 4xx bodies, and "pre-signed" data URLs
  * (signature + expiry query params) honoring HTTP Range requests — the
  * executor read path.
  *
  * Transport: every accepted connection runs with `TCP_NODELAY`. The JDK
  * server writes a response's headers and body as two writes, and with
  * Nagle's algorithm on, the body waits for the client's delayed ACK —
  * about 40 ms on every answer that has a body, REST call or Range GET
  * alike (see the companion object for why the switch is a JVM-wide
  * property). A Range
  * GET reads only the requested slice, with positional `FileChannel`
  * reads, so server disk reads equal bytes served.
  *
  * Used by the test suite and by ConnectorQueries to prove the whole
  * client→scan path inside the driver's correctness gate. It is also a
  * genuinely usable mini sharing server for local parquet data.
  */
final class LocalSharingServer(
    bearerToken: String = "graft-test-token",
    urlTtl: java.time.Duration = java.time.Duration.ofHours(1),
    /** When set, the server ALSO speaks the OAuth client_credentials
      * grant (profile v2): POST /oauth/token with the matching
      * (clientId, clientSecret) issues a short-lived bearer accepted by
      * every protocol endpoint alongside the static token. */
    oauthClient: Option[(String, String)] = None,
    oauthTokenTtl: java.time.Duration = java.time.Duration.ofHours(1)) {

  /** One served file + its partition values (empty string ⇒ null) and
    * optional Delta-style stats JSON (numRecords/minValues/maxValues/
    * nullCount) — when present, the query endpoint prunes on hints and
    * clients can skip files driver-side. */
  final case class ServedFile(path: Path, partitionValues: Map[String, String],
      stats: Option[String] = None)

  /** One change-feed entry: what happened to a file at a version. */
  final case class ChangeEntry(version: Long, changeType: String,
      file: ServedFile, timestamp: Long = 1700000000000L)

  /** `changes` is assumed to be the COMPLETE history (no log
    * truncation/vacuum), which is what makes time-travel rewind valid
    * for any version 0..`version`; a server with a truncated log would
    * additionally have to reject versions before its retention floor. */
  final case class TableDef(
      name: String,
      schemaString: String,
      partitionColumns: Seq[String],
      files: Seq[ServedFile],
      version: Long = 1L,
      changes: Seq[ChangeEntry] = Seq.empty,
      /** Unsupported-feature fixtures (client format-gate tests): a
        * non-parquet provider, a reader version above 1, table
        * configuration (e.g. delta.enableDeletionVectors), or extra
        * per-file JSON fields (e.g. a deletionVector descriptor). */
      formatProvider: String = "parquet",
      minReaderVersion: Int = 1,
      configuration: Map[String, String] = Map.empty,
      fileExtraJson: Option[String] = None)

  // share -> schema -> table name -> def; volatile: registered under
  // synchronized by the caller thread, read by pooled worker threads
  @volatile
  private var tree: Map[String, Map[String, Map[String, TableDef]]] = Map.empty
  private val signingSecret = java.util.UUID.randomUUID().toString

  /** Most recent query-endpoint hints, for test assertions. */
  @volatile var lastPredicateHints: Option[String] = None
  @volatile var lastLimitHint: Option[String] = None

  /** Fault injection: the next `failNextRequests` non-data requests get
    * `failNextCode` (429/503 throttling simulation for retry tests). */
  @volatile var failNextRequests: Int = 0
  @volatile var failNextCode: Int = 503

  /** Fault injection: answer every data GET with `200` and the whole
    * file, as a proxy or CDN that ignores `Range` does. */
  @volatile var ignoreRange: Boolean = false

  private val dataGets = new java.util.concurrent.atomic.AtomicLong(0)
  /** Number of signed-URL data requests served so far (for GET-count
    * assertions in specs). */
  def dataRequests: Long = dataGets.get()

  private var server: HttpServer = _
  @volatile private var started = false

  def addTable(share: String, schema: String, table: TableDef): Unit =
    synchronized {
      val schemas = tree.getOrElse(share, Map.empty)
      val tables = schemas.getOrElse(schema, Map.empty)
      tree = tree.updated(share,
        schemas.updated(schema, tables.updated(table.name, table)))
    }

  /** All `*.parquet` files under `p` (sorted), or `p` itself if it is a
    * file — the one listing used everywhere a path becomes served files. */
  def listParquet(p: String): Seq[Path] = {
    val pp = Paths.get(p)
    if (Files.isDirectory(pp)) {
      val st = Files.list(pp)
      try st.iterator().asScala
        .filter(_.toString.endsWith(".parquet")).toSeq.sortBy(_.toString)
      finally st.close()
    } else Seq(pp)
  }

  /** Register every `*.parquet` under dir as one unpartitioned table. */
  def addParquetTable(share: String, schema: String, name: String,
      dir: String, schemaString: String): Unit =
    addTable(share, schema,
      TableDef(name, schemaString, Seq.empty,
        listParquet(dir).map(f => ServedFile(f, Map.empty))))

  def start(): Int = synchronized {
    if (!started) {
      server = LocalSharingServer.newHttpServer()
      server.createContext("/", exchange => handle(exchange))
      // daemon workers: an embedded test/demo server must never keep the
      // host JVM alive (runMain would hang at exit otherwise)
      server.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(8,
        r => { val t = new Thread(r); t.setDaemon(true); t }))
      server.start()
      started = true
    }
    port
  }

  def port: Int = server.getAddress.getPort
  def endpoint: String = s"http://127.0.0.1:$port/delta-sharing"

  def profileJson: String =
    s"""{"shareCredentialsVersion":1,"endpoint":"$endpoint","bearerToken":"$bearerToken"}"""

  /** v2 (OAuth client_credentials) profile for this server — requires
    * construction with `oauthClient`. */
  def profileJsonV2: String = {
    val (id, secret) = oauthClient.getOrElse(
      sys.error("server not configured with oauthClient"))
    s"""{"shareCredentialsVersion":2,"endpoint":"$endpoint",""" +
      s""""type":"oauth_client_credentials",""" +
      s""""tokenEndpoint":"http://127.0.0.1:$port/oauth/token",""" +
      s""""clientId":"$id","clientSecret":"$secret"}"""
  }

  // issued OAuth access tokens -> expiry
  private val issuedTokens =
    scala.collection.concurrent.TrieMap.empty[String, java.time.Instant]
  private val tokenCounter = new java.util.concurrent.atomic.AtomicLong(0)
  /** Number of tokens issued so far (for refresh assertions in specs). */
  def tokensIssued: Long = tokenCounter.get()

  /** POST /oauth/token: the standard client_credentials grant. */
  private def serveOAuthToken(x: HttpExchange): Unit = {
    if (x.getRequestMethod != "POST")
      return respond(x, 405, """{"error":"invalid_request"}""")
    oauthClient match {
      case None =>
        respond(x, 404, """{"error":"unsupported_grant_type"}""")
      case Some((id, secret)) =>
        val form = new String(x.getRequestBody.readAllBytes(), "UTF-8")
          .split('&').filter(_.nonEmpty).map(_.split("=", 2))
          .collect { case Array(k, v) => dec(k) -> dec(v) }.toMap
        if (!form.get("grant_type").contains("client_credentials"))
          respond(x, 400, """{"error":"unsupported_grant_type"}""")
        else if (!form.get("client_id").contains(id) ||
            !form.get("client_secret").contains(secret))
          respond(x, 401, """{"error":"invalid_client"}""")
        else {
          val tok = s"oat-${tokenCounter.incrementAndGet()}-" +
            java.util.UUID.randomUUID().toString.take(8)
          issuedTokens.put(tok,
            java.time.Instant.now().plus(oauthTokenTtl))
          respond(x, 200,
            s"""{"access_token":"$tok","token_type":"bearer",""" +
              s""""expires_in":${oauthTokenTtl.toSeconds}}""")
        }
    }
  }

  /** Immediately invalidate every issued OAuth token (expiry simulation
    * without waiting out the TTL). */
  def expireIssuedTokens(): Unit =
    issuedTokens.keys.foreach(k =>
      issuedTokens.put(k, java.time.Instant.now().minusSeconds(1)))

  /** Write a profile file and return its path. */
  def writeProfile(): String = {
    val f = Files.createTempFile("graft-share-profile", ".json")
    Files.writeString(f, profileJson)
    f.toString
  }

  def stop(): Unit = synchronized {
    if (started) { server.stop(0); started = false }
  }

  // -----------------------------------------------------------------------

  private def handle(x: HttpExchange): Unit =
    try route(x)
    catch {
      case e: Exception =>
        error(x, 500, "INTERNAL_ERROR", e.toString)
    } finally x.close()

  private def route(x: HttpExchange): Unit = {
    val path = x.getRequestURI.getPath
    // Data reads authenticate via the signature, not the bearer header
    // (pre-signed URLs go straight to "storage", bypassing the server
    // auth — same two-hop model as the reference, SURVEY §3.2).
    if (path.startsWith("/data/")) return serveData(x)

    if (failNextRequests > 0) synchronized {
      if (failNextRequests > 0) {
        failNextRequests -= 1
        x.getResponseHeaders.set("Retry-After", "0")
        return error(x, failNextCode, "THROTTLED", s"injected $failNextCode")
      }
    }

    if (path == "/oauth/token") return serveOAuthToken(x)

    val auth = Option(x.getRequestHeaders.getFirst("Authorization"))
    val issuedOk = auth.exists { a =>
      val t = a.stripPrefix("Bearer ")
      issuedTokens.get(t).exists(_.isAfter(java.time.Instant.now()))
    }
    if (!auth.contains(s"Bearer $bearerToken") && !issuedOk)
      return error(x, 401, "UNAUTHENTICATED", "invalid bearer token")

    val rel = path.stripPrefix("/delta-sharing").stripPrefix("/")
    val segs = rel.split('/').filter(_.nonEmpty).map(dec).toList
    segs match {
      case List("shares") => listPage(x, tree.keys.toSeq.sorted.map(shareJson))
      case List("shares", s) =>
        withShare(x, s)(_ => respond(x, 200, s"""{"share":${shareJson(s)}}"""))
      case List("shares", s, "schemas") => withShare(x, s) { schemas =>
        listPage(x, schemas.keys.toSeq.sorted.map(sc => schemaJson(s, sc)))
      }
      case List("shares", s, "schemas", sc, "tables") => withSchema(x, s, sc) { tables =>
        listPage(x, tables.keys.toSeq.sorted.map(t => tableJson(s, sc, t)))
      }
      case List("shares", s, "all-tables") => withShare(x, s) { schemas =>
        listPage(x, schemas.toSeq.sortBy(_._1).flatMap { case (sc, ts) =>
          ts.keys.toSeq.sorted.map(t => tableJson(s, sc, t))
        })
      }
      case List("shares", s, "schemas", sc, "tables", t, "version") =>
        withTable(x, s, sc, t) { td =>
          // startingTimestamp (reference src/client/mod.rs:251-280 sends
          // the param) answers the version it resolves to
          val ts = queryParams(x).get("startingTimestamp")
          withStartingTimestamp(x, td, ts) { v =>
            x.getResponseHeaders.set("Delta-Table-Version",
              v.getOrElse(td.version).toString)
            respond(x, 200, "")
          }
        }
      case List("shares", s, "schemas", sc, "tables", t, "metadata") =>
        withTable(x, s, sc, t) { td =>
          // optional `version` query param (Delta Sharing time travel):
          // metadata as of that version — this fixture has one
          // schemaString per table, so only the version field varies,
          // but the validation is the query endpoint's
          val pin = queryParams(x).get("version")
            .map(raw => raw.toLongOption.toRight(raw))
          withVersion(x, td, pin) { v =>
            respondNdjson(x, Seq(protocolLine(td), metadataLine(td, v)))
          }
        }
      case List("shares", s, "schemas", sc, "tables", t, "changes") =>
        // Change data feed — the endpoint the reference stubs with
        // todo!() (src/client/mod.rs:384-386); wire format follows the
        // public Delta Sharing protocol (add/cdf/remove action lines).
        withTable(x, s, sc, t) { td =>
          val params = queryParams(x)
          // malformed (or negative) bounds → 400 (ignoring one would
          // silently serve the whole history instead of the requested
          // range — consistent with the query/metadata version checks)
          val badParam = Seq("startingVersion", "endingVersion").flatMap(p =>
            params.get(p).filter(!_.toLongOption.exists(_ >= 0)).map(p -> _))
            .headOption
          val startTs = params.get("startingTimestamp")
          badParam match {
            case Some((p, raw)) =>
              error(x, 400, "INVALID_PARAMETER_VALUE", s"$p must be an integer, got: $raw")
            // startingTimestamp is the protocol's alternative start bound
            case None if startTs.isDefined && params.contains("startingVersion") =>
              error(x, 400, "INVALID_PARAMETER_VALUE",
                "startingVersion and startingTimestamp are mutually exclusive")
            case None => withStartingTimestamp(x, td, startTs) { byTime =>
              val from = byTime.getOrElse(params.get("startingVersion")
                .flatMap(_.toLongOption).getOrElse(0L))
              val to = params.get("endingVersion").flatMap(_.toLongOption)
                .getOrElse(Long.MaxValue)
              // index into the FULL changes list (lookupServed resolves
              // idx-1000 against it) — indexing the filtered view would
              // make a sub-range read serve the wrong file's bytes
              val lines = td.changes.zipWithIndex
                .filter { case (c, _) => c.version >= from && c.version <= to }
                .map { case (c, i) => changeLine(s, sc, td, c, i) }
              respondNdjson(x, Seq(protocolLine(td), metadataLine(td)) ++ lines)
            }
          }
        }
      case List("shares", s, "schemas", sc, "tables", t, "query") =>
        withTable(x, s, sc, t) { td =>
          val body = new String(x.getRequestBody.readAllBytes(), "UTF-8")
          // THIS request's hints — the @volatile lastPredicateHints copy
          // is for test assertions only and races across worker threads
          val (predHints, _, versionReq) = recordHints(body)
          withVersion(x, td, versionReq) { effectiveVersion =>
            // Time travel (Delta Sharing protocol `version` in the query
            // body — history the reference stubs entirely): the file list
            // as of the requested version, rewound from the change log.
            val base =
              if (effectiveVersion == td.version) td.files.zipWithIndex
              else filesAt(td, effectiveVersion)
            // jsonPredicateHints actually prune here (files with stats
            // that provably contain no matching row are not listed) —
            // best-effort by protocol contract, so clients must still
            // re-filter. Indices stay ABSOLUTE so signed paths are stable
            // under pruning.
            val hintOp = predHints
              .flatMap(graft.sharing.StatsPruning.parseHintJson)
            val served = base.filter { case (f, _) =>
              hintOp.forall(op =>
                graft.sharing.StatsPruning.mayMatch(op, f.stats))
            }
            respondNdjson(x,
              Seq(protocolLine(td), metadataLine(td, effectiveVersion)) ++
                served.map { case (f, i) =>
                  fileLine(s, sc, td, f, i, effectiveVersion)
                })
          }
        }
      case _ =>
        error(x, 404, "RESOURCE_DOES_NOT_EXIST", "no such endpoint")
    }
  }

  /** Parse this request's hints + time-travel version; also mirrored
    * into the @volatile last* fields for test assertions (that copy
    * races under concurrent queries — handlers must use the RETURNED
    * values). */
  private val hintMapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private def recordHints(body: String)
      : (Option[String], Option[String], Option[Either[String, Long]]) = {
    val n = if (body.trim.isEmpty) hintMapper.createObjectNode()
      else hintMapper.readTree(body)
    val ph =
      Option(n.get("jsonPredicateHints")).filterNot(_.isNull).map(_.asText())
    val lh = Option(n.get("limitHint")).filterNot(_.isNull).map(_.asText())
    // version: integral JSON number or integral string → Right(v);
    // anything else → Left(raw) so the handler can 400 (asLong() alone
    // would coerce garbage to 0 and silently rewind the table)
    val vr = Option(n.get("version")).filterNot(_.isNull).map { node =>
      if (node.isIntegralNumber && node.canConvertToLong) Right(node.asLong())
      else node.asText().toLongOption.toRight(node.asText())
    }
    lastPredicateHints = ph
    lastLimitHint = lh
    (ph, lh, vr)
  }

  /** Run `f` with the version a request pins (`Left` = not an integer),
    * or the table's current version when it pins none. A malformed,
    * negative or future pin is a 400, never silently ignored: serving
    * LATEST, or v0 as Jackson's asLong() would read "abc", for a garbled
    * pin would be wrong data with no error. */
  private def withVersion(x: HttpExchange, td: TableDef,
      pin: Option[Either[String, Long]])(f: Long => Unit): Unit = {
    def bad(msg: String): Unit = error(x, 400, "INVALID_PARAMETER_VALUE", msg)
    pin match {
      case Some(Left(raw)) =>
        bad(s"version must be a non-negative integer, got: $raw")
      case Some(Right(v)) if v < 0 =>
        bad(s"version must be a non-negative integer, got: $v")
      case Some(Right(v)) if v > td.version =>
        bad(s"requested version $v is newer than table version ${td.version}")
      case _ => f(pin.flatMap(_.toOption).getOrElse(td.version))
    }
  }

  /** Run `f` with the version an ISO-8601 `startingTimestamp` resolves
    * to, the earliest one committed at or after it, or with None when
    * the request has no such parameter. A malformed instant is a 400;
    * an instant after every commit is a 404. */
  private def withStartingTimestamp(x: HttpExchange, td: TableDef,
      ts: Option[String])(f: Option[Long] => Unit): Unit =
    ts.map(t => scala.util.Try(java.time.Instant.parse(t).toEpochMilli)) match {
      case None => f(None)
      case Some(scala.util.Failure(_)) => error(x, 400, "INVALID_PARAMETER_VALUE",
        "startingTimestamp must be an ISO-8601 instant")
      case Some(scala.util.Success(wanted)) =>
        td.changes.filter(_.timestamp >= wanted).map(_.version).minOption match {
          case None => error(x, 404, "RESOURCE_DOES_NOT_EXIST",
            "no version committed at or after startingTimestamp")
          case v => f(v)
        }
    }

  /** The table's file list as of version `v`, rewound from the current
    * snapshot against the change log. A path's state at `v` is its state
    * just BEFORE its earliest change with version > v: before an "add"
    * it was absent, before a "remove" it was present. Paths with no
    * later changes keep their current membership. Indices stay
    * resolvable by `lookupServed` — surviving current files keep their
    * absolute index, resurrected files address their change entry
    * (idx ≥ 1000). */
  private def filesAt(td: TableDef, v: Long): Seq[(ServedFile, Int)] = {
    // only add/remove change MEMBERSHIP; a "cdf" entry describes row
    // changes within a surviving file and must neither veto nor
    // resurrect it
    val firstLater: Map[Path, (ChangeEntry, Int)] = td.changes.zipWithIndex
      .filter { case (c, _) =>
        c.version > v && (c.changeType == "add" || c.changeType == "remove") }
      .groupBy { case (c, _) => c.file.path }
      .map { case (p, cs) => p -> cs.minBy { case (c, _) => c.version } }
    val kept = td.files.zipWithIndex.filterNot {
      case (f, _) => firstLater.contains(f.path)
    }
    val resurrected = firstLater.valuesIterator.collect {
      case (c, i) if c.changeType == "remove" => (c.file, 1000 + i)
    }.toSeq.sortBy(_._2)
    kept ++ resurrected
  }

  // ---- signed data serving (HTTP Range) ---------------------------------

  /** HMAC-SHA256 over path|expires with the per-server random secret —
    * a real (if local) signature, not a protocol-shape stand-in. */
  private def sign(path: String, expires: Long): String = {
    val mac = javax.crypto.Mac.getInstance("HmacSHA256")
    mac.init(new javax.crypto.spec.SecretKeySpec(
      signingSecret.getBytes("UTF-8"), "HmacSHA256"))
    val out = mac.doFinal(s"$path|$expires".getBytes("UTF-8"))
    java.util.Base64.getUrlEncoder.withoutPadding().encodeToString(out)
  }

  private def urlEnc(s: String): String =
    java.net.URLEncoder.encode(s, "UTF-8").replace("+", "%20")

  private def dataPath(share: String, schema: String, td: TableDef,
      fileName: String, idx: Int): String =
    s"/data/${urlEnc(share)}/${urlEnc(schema)}/${urlEnc(td.name)}/$idx/${urlEnc(fileName)}"

  private def signedUrl(share: String, schema: String, td: TableDef,
      f: ServedFile, idx: Int, expires: Long): String = {
    val p = dataPath(share, schema, td, f.path.getFileName.toString, idx)
    s"http://127.0.0.1:$port$p?expires=$expires&sig=${sign(p, expires)}"
  }

  private def lookupServed(path: String): Option[ServedFile] = {
    // /data/<share>/<schema>/<table>/<idx>/<filename>; hierarchical
    // lookup so same-named tables in different shares/schemas can never
    // serve each other's bytes (idx ≥ 1000 addresses change files).
    path.split('/').filter(_.nonEmpty).map(dec) match {
      case Array("data", share, schema, table, idx, _) =>
        tree.get(share).flatMap(_.get(schema)).flatMap(_.get(table))
          .flatMap { td =>
            val i = idx.toInt
            if (i >= 1000) td.changes.lift(i - 1000).map(_.file)
            else td.files.lift(i)
          }
      case _ => None
    }
  }

  /** The request's `k=v` query parameters, each value passed through
    * `value` (decoded by default). */
  private def queryParams(x: HttpExchange,
      value: String => String = dec): Map[String, String] =
    Option(x.getRequestURI.getQuery).getOrElse("")
      .split('&').filter(_.contains("="))
      .map { kv => val Array(k, v) = kv.split("=", 2); k -> value(v) }.toMap

  private def serveData(x: HttpExchange): Unit = {
    // raw (still-encoded) path: signatures are computed over the exact
    // path string embedded in the signed URL, and `sig` is compared as
    // sent
    val path = x.getRequestURI.getRawPath
    val params = queryParams(x, identity)
    val expires = params.get("expires").map(_.toLong).getOrElse(0L)
    val sig = params.getOrElse("sig", "")
    if (sig != sign(path, expires))
      return error(x, 403, "FORBIDDEN", "bad signature")
    if (expires < System.currentTimeMillis())
      return error(x, 403, "FORBIDDEN", "url expired")
    lookupServed(path) match {
      case None => error(x, 404, "RESOURCE_DOES_NOT_EXIST", "no such file")
      case Some(f) =>
        dataGets.incrementAndGet()
        val ch = FileChannel.open(f.path, StandardOpenOption.READ)
        try {
          val len = ch.size()
          val range = Option(x.getRequestHeaders.getFirst("Range"))
            .filter(r => r.startsWith("bytes=") && !ignoreRange)
          range.map(LocalSharingServer.parseRange(_, len)) match {
            case Some(Some((start, end))) =>
              x.getResponseHeaders.set("Content-Range", s"bytes $start-$end/$len")
              x.sendResponseHeaders(206, end - start + 1)
              sendSlice(x, ch, start, end - start + 1)
            case Some(None) =>
              x.getResponseHeaders.set("Content-Range", s"bytes */$len")
              error(x, 416, "RANGE_NOT_SATISFIABLE", "range not satisfiable")
            case None =>
              // length 0 means "chunked" to HttpExchange; -1 means no body
              x.sendResponseHeaders(200, if (len == 0) -1 else len)
              sendSlice(x, ch, 0, len)
          }
        } finally ch.close()
    }
  }

  /** Copy `n` bytes from `start` of `ch` to the response body with
    * positional reads, 64 KiB at a time. */
  private def sendSlice(x: HttpExchange, ch: FileChannel, start: Long,
      n: Long): Unit = {
    val buf = java.nio.ByteBuffer.allocate(math.min(n, 1L << 16).toInt)
    val out = x.getResponseBody
    var at = start
    while (at < start + n) {
      buf.clear().limit(math.min(buf.capacity.toLong, start + n - at).toInt)
      val k = ch.read(buf, at)
      if (k < 0) throw new java.io.EOFException(s"file shrank below ${start + n} bytes")
      out.write(buf.array, 0, k)
      at += k
    }
  }

  // ---- response builders ------------------------------------------------

  private def protocolLine(td: TableDef): String =
    s"""{"protocol":{"minReaderVersion":${td.minReaderVersion}}}"""

  private def metadataLine(td: TableDef): String = metadataLine(td, td.version)

  private def metadataLine(td: TableDef, asOf: Long): String = {
    val parts = td.partitionColumns.map(jstr).mkString("[", ",", "]")
    val conf = td.configuration.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${jstr(k)}:${jstr(v)}" }.mkString("{", ",", "}")
    s"""{"metaData":{"id":"${td.name}-id","format":{"provider":"${td.formatProvider}"},""" +
      s""""schemaString":${jstr(td.schemaString)},"partitionColumns":$parts,""" +
      s""""configuration":$conf,"version":$asOf}}"""
  }

  private def partitionJson(f: ServedFile): String =
    f.partitionValues.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${jstr(k)}:${jstr(v)}" }.mkString("{", ",", "}")

  private def fileLine(share: String, schema: String, td: TableDef,
      f: ServedFile, idx: Int, asOf: Long): String = {
    val expires = System.currentTimeMillis() + urlTtl.toMillis
    val url = signedUrl(share, schema, td, f, idx, expires)
    val statsField = f.stats.map(s => s""""stats":${jstr(s)},""").getOrElse("")
    val extra = td.fileExtraJson.map(e => s"$e,").getOrElse("")
    s"""{"file":{"url":${jstr(url)},"id":"${td.name}-$idx",""" +
      s""""partitionValues":${partitionJson(f)},"size":${Files.size(f.path)},$statsField$extra""" +
      s""""version":$asOf,"expirationTimestamp":$expires}}"""
  }

  private def changeLine(share: String, schema: String, td: TableDef,
      c: ChangeEntry, idx: Int): String = {
    val f = c.file
    val expires = System.currentTimeMillis() + urlTtl.toMillis
    val url = signedUrl(share, schema, td, f, 1000 + idx, expires)
    s"""{"${c.changeType}":{"url":${jstr(url)},"id":"${td.name}-chg-$idx",""" +
      s""""partitionValues":${partitionJson(f)},"size":${Files.size(f.path)},""" +
      s""""timestamp":${c.timestamp},"version":${c.version},""" +
      s""""expirationTimestamp":$expires}}"""
  }

  private def shareJson(s: String) = s"""{"name":${jstr(s)}}"""
  private def schemaJson(share: String, s: String) =
    s"""{"name":${jstr(s)},"share":${jstr(share)}}"""
  private def tableJson(share: String, schema: String, t: String) =
    s"""{"name":${jstr(t)},"schema":${jstr(schema)},"share":${jstr(share)}}"""

  // ---- pagination -------------------------------------------------------

  private def listPage(x: HttpExchange, items: Seq[String]): Unit = {
    val params = queryParams(x)
    val offset = params.get("pageToken").flatMap(_.toIntOption).getOrElse(0)
    val max = params.get("maxResults").flatMap(_.toIntOption).getOrElse(items.size)
    val page = items.slice(offset, offset + max)
    val next = offset + max
    val tokenField =
      if (next < items.size) s""","nextPageToken":"$next"""" else ""
    respond(x, 200, s"""{"items":[${page.mkString(",")}]$tokenField}""")
  }

  // ---- helpers ----------------------------------------------------------

  private def withShare(x: HttpExchange, s: String)(
      f: Map[String, Map[String, TableDef]] => Unit): Unit =
    tree.get(s) match {
      case Some(schemas) => f(schemas)
      case None => error(x, 404, "RESOURCE_DOES_NOT_EXIST", s"share $s not found")
    }

  private def withSchema(x: HttpExchange, s: String, sc: String)(
      f: Map[String, TableDef] => Unit): Unit =
    withShare(x, s)(schemas => schemas.get(sc) match {
      case Some(tables) => f(tables)
      case None => error(x, 404, "RESOURCE_DOES_NOT_EXIST", s"schema $sc not found")
    })

  private def withTable(x: HttpExchange, s: String, sc: String, t: String)(
      f: TableDef => Unit): Unit =
    withSchema(x, s, sc)(tables => tables.get(t) match {
      case Some(td) => f(td)
      case None => error(x, 404, "RESOURCE_DOES_NOT_EXIST", s"table $t not found")
    })

  private def respond(x: HttpExchange, code: Int, body: String): Unit = {
    val bytes = body.getBytes("UTF-8")
    x.getResponseHeaders.set("Content-Type", "application/json")
    x.sendResponseHeaders(code, if (bytes.isEmpty) -1 else bytes.length)
    if (bytes.nonEmpty) x.getResponseBody.write(bytes)
  }

  /** Answer `code` with the protocol's `{errorCode, message}` body. */
  private def error(x: HttpExchange, code: Int, errorCode: String,
      message: String): Unit =
    respond(x, code, s"""{"errorCode":"$errorCode","message":${jstr(message)}}""")

  private def respondNdjson(x: HttpExchange, lines: Seq[String]): Unit = {
    val bytes = lines.mkString("\n").getBytes("UTF-8")
    x.getResponseHeaders.set("Content-Type", "application/x-ndjson")
    x.sendResponseHeaders(200, bytes.length)
    x.getResponseBody.write(bytes)
  }

  private def dec(s: String): String = java.net.URLDecoder.decode(s, "UTF-8")
}

object LocalSharingServer {
  // TCP_NODELAY for every server socket this JVM accepts. The JDK reads
  // `sun.net.httpserver.nodelay` ONCE per JVM, when its ServerConfig class
  // is first initialised — that is, at the first `HttpServer.create`
  // anywhere in the process. Setting it here, in this object's
  // initialiser, runs before `newHttpServer`'s first create, so every
  // LocalSharingServer gets it; an HttpServer created by other code
  // before this object is touched would fix the flag at its default
  // (off). A value the user set explicitly is left alone.
  if (System.getProperty("sun.net.httpserver.nodelay") == null)
    System.setProperty("sun.net.httpserver.nodelay", "true")

  private def newHttpServer(): HttpServer =
    HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)

  /** A single `bytes=` range of a `len`-byte file as inclusive
    * (start, end), or None when it is not satisfiable (a `416`):
    * `a-b` (end clamped to EOF), `a-`, and the suffix form `-n` (the
    * last n bytes). A start at or past EOF, a start after the end, an
    * empty suffix and anything unparseable are all unsatisfiable. */
  private def parseRange(header: String, len: Long): Option[(Long, Long)] =
    header.stripPrefix("bytes=").split("-", 2) match {
      case Array("", n) =>
        n.toLongOption.filter(k => k > 0 && len > 0)
          .map(k => (math.max(0L, len - k), len - 1))
      case Array(a, b) =>
        for {
          start <- a.toLongOption
          end <- if (b.isEmpty) Some(len - 1) else b.toLongOption
          if start >= 0 && start < len && start <= end
        } yield (start, math.min(end, len - 1))
      case _ => None
    }
}
