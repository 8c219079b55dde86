package graft.sharing

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import com.fasterxml.jackson.databind.ObjectMapper
import scala.jdk.CollectionConverters._

/** Delta Sharing REST client (reference src/client/mod.rs:33-396),
  * re-expressed over `java.net.http.HttpClient`.
  *
  * Endpoints (all relative to the profile endpoint):
  *  - GET  /shares                                     (paginated)
  *  - GET  /shares/{share}
  *  - GET  /shares/{share}/schemas                     (paginated)
  *  - GET  /shares/{share}/schemas/{s}/tables          (paginated)
  *  - GET  /shares/{share}/all-tables                  (paginated)
  *  - GET  /shares/{share}/schemas/{s}/tables/{t}/version
  *  - GET  /shares/{share}/schemas/{s}/tables/{t}/metadata
  *  - POST /shares/{share}/schemas/{s}/tables/{t}/query
  *
  * Pagination: `maxResults`/`pageToken` query params, loop until the
  * response has no / an empty `nextPageToken`
  * (src/client/pagination.rs:10-73, loop shape mod.rs:83-95).
  * Errors: HTTP 4xx → CLIENT_ERROR, 5xx → SERVER_ERROR, carrying the
  * server's `{errorCode, message}` body (src/error.rs:72-89).
  */
final class DeltaSharingClient(val profile: Profile,
    maxResultsPerPage: Option[Int] = None,
    /** Bounded retry for throttling (429) / transient server errors
      * (5xx) / connection failures, with exponential backoff honoring
      * `Retry-After`. Every endpoint here is a read — retries are safe.
      * 4xx other than 429 fail immediately (they are deterministic). */
    maxRetries: Int = 3) {

  import DeltaSharingClient.http

  private val mapper = new ObjectMapper()

  // ---- auth -------------------------------------------------------------

  /** (token, expiry) for OAuth profiles; None until first fetch. */
  @volatile private var oauthToken: Option[(String, java.time.Instant)] = None

  /** Authorization header for the next request. v1: the static bearer.
    * v2 (OAuth client_credentials): a cached short-lived token, fetched
    * from the profile's tokenEndpoint and refreshed ahead of its
    * expiry (30 s slack for clock drift / request latency). */
  private def authHeader(): String = profile.oauth match {
    case None => profile.authorization
    case Some(cfg) =>
      val fresh = oauthToken.filter { case (_, exp) =>
        exp.isAfter(java.time.Instant.now().plusSeconds(30))
      }
      fresh match {
        case Some((t, _)) => s"Bearer $t"
        case None => synchronized {
          val again = oauthToken.filter { case (_, exp) =>
            exp.isAfter(java.time.Instant.now().plusSeconds(30))
          }
          val token = again.map(_._1).getOrElse {
            val (t, ttl) = fetchToken(cfg)
            oauthToken = Some((t, java.time.Instant.now().plusSeconds(ttl)))
            t
          }
          s"Bearer $token"
        }
      }
  }

  /** Standard client_credentials grant → (access_token, expires_in). */
  private def fetchToken(cfg: OAuthClientCredentials): (String, Long) = {
    val form = (Seq("grant_type=client_credentials",
      s"client_id=${enc(cfg.clientId)}",
      s"client_secret=${enc(cfg.clientSecret)}") ++
      cfg.scope.map(s => s"scope=${enc(s)}")).mkString("&")
    val resp = send(() => HttpRequest.newBuilder(URI.create(cfg.tokenEndpoint))
      .header("Content-Type", "application/x-www-form-urlencoded")
      .POST(HttpRequest.BodyPublishers.ofString(form)).build())
    if (resp.statusCode() >= 400)
      throw DeltaSharingException.client(
        s"OAuth token request failed: ${resp.statusCode()} ${resp.body()}")
    val n = mapper.readTree(resp.body())
    val token = Option(n.get("access_token")).map(_.asText()).getOrElse(
      throw DeltaSharingException.parseResponse(
        "OAuth token response missing access_token"))
    val ttl = Option(n.get("expires_in")).map(_.asLong()).getOrElse(3600L)
    (token, ttl)
  }

  // ---- catalog listings -------------------------------------------------

  def listShares(): Seq[Share] =
    paginate(s"${profile.endpoint}/shares") { n =>
      Option(n.get("items")).map(_.elements().asScala.map(item =>
        Share(item.get("name").asText(),
          Option(item.get("id")).filterNot(_.isNull).map(_.asText()))).toSeq)
        .getOrElse(Seq.empty)
    }

  def getShare(share: String): Share = {
    val n = getJson(s"${profile.endpoint}/shares/${enc(share)}")
    val item = Option(n.get("share")).getOrElse(
      throw DeltaSharingException.parseResponse("get share: missing share"))
    Share(item.get("name").asText(),
      Option(item.get("id")).filterNot(_.isNull).map(_.asText()))
  }

  def listSchemas(share: String): Seq[SchemaRef] =
    paginate(s"${profile.endpoint}/shares/${enc(share)}/schemas") { n =>
      Option(n.get("items")).map(_.elements().asScala.map(item =>
        SchemaRef(item.get("share").asText(), item.get("name").asText())).toSeq)
        .getOrElse(Seq.empty)
    }

  def listTables(schema: SchemaRef): Seq[TableRef] =
    paginate(s"${profile.endpoint}/shares/${enc(schema.share)}/schemas/" +
        s"${enc(schema.name)}/tables") { n =>
      Option(n.get("items")).map(_.elements().asScala.map(parseTable).toSeq)
        .getOrElse(Seq.empty)
    }

  def listAllTables(share: String): Seq[TableRef] =
    paginate(s"${profile.endpoint}/shares/${enc(share)}/all-tables") { n =>
      Option(n.get("items")).map(_.elements().asScala.map(parseTable).toSeq)
        .getOrElse(Seq.empty)
    }

  private def parseTable(item: com.fasterxml.jackson.databind.JsonNode): TableRef =
    TableRef(item.get("share").asText(), item.get("schema").asText(),
      item.get("name").asText(),
      Option(item.get("shareId")).filterNot(_.isNull).map(_.asText()),
      Option(item.get("id")).filterNot(_.isNull).map(_.asText()))

  // ---- table endpoints --------------------------------------------------

  /** Table version from the `Delta-Table-Version` response header
    * (reference src/client/mod.rs:251-280,443-450). */
  def getTableVersion(table: TableRef,
      startingTimestamp: Option[String] = None): Long = {
    val base = tableUrl(table, "version")
    val url = startingTimestamp.fold(base)(ts => s"$base?startingTimestamp=${enc(ts)}")
    request(url).headers().firstValue("Delta-Table-Version").map[Long](_.toLong)
      .orElseThrow(() => DeltaSharingException.parseResponse(
        "missing Delta-Table-Version header"))
  }

  /** Protocol + metadata, NDJSON (src/client/mod.rs:283-319).
    * `version` pins the metadata to a past table version (time travel) —
    * required for version-pinned reads, where the CURRENT schema may
    * not describe the rewound files. */
  def getTableMetadata(table: TableRef,
      version: Option[Long] = None): (Protocol, Metadata) = {
    val base = tableUrl(table, "metadata")
    val url = version.fold(base)(v => s"$base?version=$v")
    Actions.parseMetadataResponse(request(url).body())
  }

  /** File listing with optional predicate + limit hints
    * (src/client/mod.rs:322-382) and optional time travel (`version` in
    * the query body per the public Delta Sharing protocol — history the
    * reference leaves `todo!()`). Hints are best-effort; callers must
    * re-apply filters and limits. */
  def getTableData(table: TableRef, predicateHints: Option[String] = None,
      limitHint: Option[Long] = None,
      version: Option[Long] = None): (Protocol, Metadata, Seq[FileAction]) = {
    val body = (predicateHints.map(p => "\"jsonPredicateHints\":" + Actions.jstr(p)) ++
      limitHint.map(l => "\"limitHint\":\"" + l + "\"") ++
      version.map(v => "\"version\":" + v)).mkString("{", ",", "}")
    Actions.parseQueryResponse(request(tableUrl(table, "query"), Some(body)).body())
  }

  /** Change data feed between versions (inclusive). The reference stubs
    * this endpoint with `todo!()` (src/client/mod.rs:384-386); wire
    * format follows the public Delta Sharing protocol. */
  def getTableChanges(table: TableRef, startingVersion: Long,
      endingVersion: Option[Long] = None)
      : (Protocol, Metadata, Seq[Actions.ChangeAction]) =
    changesRequest(table, s"startingVersion=$startingVersion", endingVersion)

  /** Change feed starting from an ISO-8601 TIMESTAMP instead of a
    * version (public protocol `startingTimestamp` param): the server
    * resolves it to the earliest version committed at or after it. */
  def getTableChangesByTimestamp(table: TableRef, startingTimestamp: String,
      endingVersion: Option[Long] = None)
      : (Protocol, Metadata, Seq[Actions.ChangeAction]) =
    changesRequest(table,
      s"startingTimestamp=${enc(startingTimestamp)}", endingVersion)

  private def changesRequest(table: TableRef, startParam: String,
      endingVersion: Option[Long])
      : (Protocol, Metadata, Seq[Actions.ChangeAction]) = {
    val params = (Seq(startParam) ++
      endingVersion.map(v => s"endingVersion=$v")).mkString("&")
    Actions.parseChangesResponse(
      request(s"${tableUrl(table, "changes")}?$params").body())
  }

  // ---- plumbing ---------------------------------------------------------

  private def tableUrl(t: TableRef, suffix: String): String =
    s"${profile.endpoint}/shares/${enc(t.share)}/schemas/${enc(t.schema)}" +
      s"/tables/${enc(t.name)}/$suffix"

  private def enc(s: String): String =
    java.net.URLEncoder.encode(s, "UTF-8").replace("+", "%20")

  private def sendOnce(req: HttpRequest): HttpResponse[String] =
    try http.send(req, HttpResponse.BodyHandlers.ofString())
    catch {
      case e: InterruptedException =>
        // Task cancellation: restore the interrupt flag and fail fast.
        Thread.currentThread().interrupt()
        throw DeltaSharingException.request(
          s"request to ${req.uri()} interrupted", e)
      case e: Exception =>
        throw DeltaSharingException.request(
          s"request to ${req.uri()} failed: ${e.getMessage}", e)
    }

  /** Send with bounded retry: 429 + 5xx + transient connection errors
    * back off (Retry-After honored, capped at `maxBackoffMs`, else
    * 100·2^attempt ms) and retry up to `maxRetries` times; interrupts,
    * SSL/config failures, and everything else surface immediately.
    * A 401 under an OAuth profile invalidates the cached token and
    * retries once immediately — the server may expire tokens earlier
    * than their advertised TTL. The request is built LAZILY per attempt
    * so the retry carries the refreshed Authorization header. */
  private def send(mkReq: () => HttpRequest): HttpResponse[String] = {
    var attempt = 0
    var refreshedAuth = false
    while (true) {
      // building the request runs the auth/profile logic — its failures
      // (expired v1 token, rejected OAuth credentials, malformed token
      // response) are deterministic and must surface immediately, so
      // mkReq() is NOT inside the retry classification
      val req = mkReq()
      val outcome =
        try Right(sendOnce(req))
        catch { case e: DeltaSharingException => Left(e) }
      outcome match {
        case Right(resp) if resp.statusCode() == 401 &&
            profile.oauth.isDefined && !refreshedAuth &&
            // only a request that actually carried a bearer can have
            // failed on token expiry — a 401 from the token endpoint
            // itself (bad credentials) must not re-POST them
            req.headers().firstValue("Authorization").isPresent =>
          refreshedAuth = true
          oauthToken = None // next mkReq() fetches a fresh token
        case _ =>
          val retryable = outcome match {
            case Right(resp) =>
              resp.statusCode() == 429 || resp.statusCode() >= 500
            case Left(e) => e.getCause match {
              // deterministic local failures can never succeed on retry
              case _: InterruptedException => false
              case _: javax.net.ssl.SSLException => false
              case _ => true // timeout / connect-level failure
            }
          }
          if (!retryable || attempt >= maxRetries)
            return outcome.fold(throw _, identity)
          val retryAfterMs = outcome.toOption.flatMap { r =>
            val v = r.headers().firstValue("Retry-After")
            if (v.isPresent) v.get.toLongOption else None
          }.map(_ * 1000L).getOrElse(0L)
          try Thread.sleep(DeltaSharingClient.backoffMs(attempt, retryAfterMs))
          catch {
            case e: InterruptedException =>
              // same contract as sendOnce: restore the flag, fail typed
              Thread.currentThread().interrupt()
              throw DeltaSharingException.request("retry backoff interrupted", e)
          }
          attempt += 1
      }
    }
    throw new IllegalStateException("unreachable")
  }

  private def checkStatus(resp: HttpResponse[String]): Unit = {
    val code = resp.statusCode()
    if (code >= 400) {
      val msg = try {
        val n = mapper.readTree(resp.body())
        s"[${Option(n.get("errorCode")).map(_.asText).getOrElse("")}] " +
          Option(n.get("message")).map(_.asText).getOrElse(resp.body())
      } catch { case _: Exception => resp.body() }
      if (code < 500) throw DeltaSharingException.client(s"$code $msg")
      else throw DeltaSharingException.server(s"$code $msg")
    }
  }

  /** One protocol request: GET, or POST of a JSON `body`, with the
    * Authorization and `delta-sharing-capabilities` headers, sent with
    * retry; a 4xx/5xx answer throws. */
  private def request(url: String,
      body: Option[String] = None): HttpResponse[String] = {
    val resp = send { () =>
      val b = HttpRequest.newBuilder(URI.create(url))
        .header("Authorization", authHeader())
        .header("delta-sharing-capabilities", "responseformat=parquet")
      body.fold(b.GET())(j => b.header("Content-Type", "application/json")
        .POST(HttpRequest.BodyPublishers.ofString(j))).build()
    }
    checkStatus(resp)
    resp
  }

  private def getJson(url: String): com.fasterxml.jackson.databind.JsonNode =
    mapper.readTree(request(url).body())

  /** Pagination loop (reference src/client/mod.rs:83-95): follow
    * nextPageToken until absent/empty. */
  private def paginate[T](baseUrl: String)(
      parse: com.fasterxml.jackson.databind.JsonNode => Seq[T]): Seq[T] = {
    val acc = Seq.newBuilder[T]
    var token: Option[String] = None
    var first = true
    while (first || token.exists(_.nonEmpty)) {
      first = false
      val params = (maxResultsPerPage.map(m => s"maxResults=$m") ++
        token.filter(_.nonEmpty).map(t => s"pageToken=${enc(t)}")).mkString("&")
      val url = if (params.isEmpty) baseUrl else s"$baseUrl?$params"
      val n = getJson(url)
      acc ++= parse(n)
      token = Option(n.get("nextPageToken")).filterNot(_.isNull).map(_.asText())
    }
    acc.result()
  }
}

object DeltaSharingClient {
  /** The one HTTP client of this JVM: REST calls, signed-URL data reads
    * and URL refreshes all share it, so keep-alive connections are reused
    * across clients, streams, files and tasks, and one selector thread
    * serves them all. */
  private[sharing] val http: HttpClient = HttpClient.newBuilder()
    .connectTimeout(java.time.Duration.ofSeconds(30)).build()

  /** Upper bound on a single retry sleep — a hostile/misconfigured
    * `Retry-After: 86400` must not park a task thread for hours. */
  val maxBackoffMs: Long = 10000L

  /** Per-attempt sleep: max(Retry-After, 100·2^attempt), capped. */
  def backoffMs(attempt: Int, retryAfterMs: Long): Long =
    math.min(math.max(retryAfterMs, 100L << attempt), maxBackoffMs)
}
