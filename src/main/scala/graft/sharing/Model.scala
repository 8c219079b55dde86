package graft.sharing

/** Delta Sharing securables + error taxonomy + profile.
  *
  * Mirrors the reference's data model (securable.rs, profile.rs, error.rs)
  * re-expressed as plain Scala: Share → Schema → Table naming tree, a
  * v1-bearer-token connection profile, and typed errors split into
  * client (4xx) / server (5xx) / parse / profile kinds.
  */

/** A named grouping of schemas shared with a recipient
  * (reference src/securable.rs:14-19). */
final case class Share(name: String, id: Option[String] = None) {
  override def toString: String = name
}

/** A named grouping of tables inside a share (src/securable.rs:77-82). */
final case class SchemaRef(share: String, name: String) {
  override def toString: String = s"$share.$name"
}

/** A shared table, addressed `share.schema.table`
  * (src/securable.rs:147-155). */
final case class TableRef(share: String, schema: String, name: String,
    shareId: Option[String] = None, id: Option[String] = None) {
  override def toString: String = s"$share.$schema.$name"
}

object TableRef {
  /** Parse `share.schema.table` (src/securable.rs:260-273). */
  def parse(s: String): TableRef = s.split('.') match {
    case Array(sh, sc, t) => TableRef(sh, sc, t)
    case _ => throw DeltaSharingException.parseSecurable(
      "Table must be of the form <share>.<schema>.<table>")
  }
}

/** Typed error taxonomy (reference src/error.rs:13-132). */
final class DeltaSharingException(val kind: String, message: String,
    cause: Throwable = null) extends RuntimeException(s"[$kind] $message", cause)

object DeltaSharingException {
  def profile(msg: String) = new DeltaSharingException("PROFILE_ERROR", msg)
  def parseSecurable(msg: String) = new DeltaSharingException("PARSE_SECURABLE_ERROR", msg)
  def parseResponse(msg: String) = new DeltaSharingException("PARSE_RESPONSE_ERROR", msg)
  /** HTTP 4xx → the caller's fault (e.g. RESOURCE_DOES_NOT_EXIST). */
  def client(msg: String) = new DeltaSharingException("CLIENT_ERROR", msg)
  /** HTTP 5xx → the server's fault. */
  def server(msg: String) = new DeltaSharingException("SERVER_ERROR", msg)
  def request(msg: String, cause: Throwable = null) =
    new DeltaSharingException("REQUEST_ERROR", msg, cause)
  def other(msg: String) = new DeltaSharingException("OTHER_ERROR", msg)
  /** The shared table's schema changed under a running stream — the
    * checkpointed plan is no longer valid; restart the query to pick up
    * the new schema (restart re-infers it; old files read missing
    * columns as NULL via ordinary parquet evolution). */
  def schemaChanged(msg: String) =
    new DeltaSharingException("SCHEMA_CHANGED_ERROR", msg)
  /** The server responded with a table feature this parquet-format
    * client cannot honor (delta-format actions, deletion vectors,
    * column mapping, minReaderVersion > 1). Reading on would silently
    * return WRONG rows (undeleted tombstones, misnamed columns) — the
    * reference's format gate rejects the same way by accepting only
    * `provider:"parquet"` (src/client/action.rs:32-59). */
  def unsupported(msg: String) =
    new DeltaSharingException("UNSUPPORTED_TABLE_FEATURE", msg)
}

/** OAuth M2M credentials from a `shareCredentialsVersion: 2` profile
  * (public Delta Sharing protocol, `type: "oauth_client_credentials"`):
  * the client exchanges them at `tokenEndpoint` for short-lived bearer
  * tokens via the standard client_credentials grant. The reference
  * supports only v1 (src/profile.rs:30-96); this is engine surface
  * beyond it. */
final case class OAuthClientCredentials(
    tokenEndpoint: String,
    clientId: String,
    clientSecret: String,
    scope: Option[String]) {
  override def toString: String =
    s"OAuthClientCredentials($tokenEndpoint, $clientId, secret=***)"
}

/** Connection profile: v1 `{shareCredentialsVersion, endpoint,
  * bearerToken, expirationTime?}` (reference src/profile.rs:30-96) or v2
  * `{shareCredentialsVersion: 2, endpoint, type:
  * "oauth_client_credentials", tokenEndpoint, clientId, clientSecret,
  * scope?}`. For v1 an expired token fails fast at authorization time
  * (src/profile.rs:317-323); for v2 token lifecycle lives in the client
  * (fetch, cache, refresh-on-401). `path` is the file
  * [[Profile.fromPath]] read it from: a scan over a path profile embeds
  * it in each file's path, so an executor can re-list an expired signed
  * URL; an inline-JSON profile has none and its scans cannot refresh. */
final case class Profile(
    shareCredentialsVersion: Int,
    endpoint: String,
    bearerToken: String,
    expirationTime: Option[java.time.Instant],
    oauth: Option[OAuthClientCredentials] = None,
    private[sharing] val path: Option[String] = None) {

  def isExpired: Boolean =
    expirationTime.exists(_.isBefore(java.time.Instant.now()))

  /** Static bearer header value (v1 profiles); fails fast on expiry.
    * v2 profiles authenticate through the client's token manager. */
  def authorization: String = {
    if (oauth.isDefined)
      throw DeltaSharingException.profile(
        "OAuth profile has no static authorization; use the client")
    if (isExpired)
      throw DeltaSharingException.profile("Bearer token in profile is expired")
    s"Bearer $bearerToken"
  }

  /** Never leak the token in logs (reference redacts it in Debug). */
  override def toString: String =
    s"Profile(v$shareCredentialsVersion, $endpoint, token=***)"
}

object Profile {
  import com.fasterxml.jackson.databind.ObjectMapper

  def fromPath(path: String): Profile = {
    val content =
      try java.nio.file.Files.readString(java.nio.file.Paths.get(path))
      catch {
        case e: Exception => throw DeltaSharingException.profile(
          s"Failed to open profile file at $path: ${e.getMessage}")
      }
    fromJson(content, path).copy(path = Some(path))
  }

  def fromJson(content: String, where: String = "<inline>"): Profile = {
    val node =
      try new ObjectMapper().readTree(content)
      catch {
        case e: Exception => throw DeltaSharingException.profile(
          s"Failed to parse profile file at $where: ${e.getMessage}")
      }
    if (node == null || !node.has("shareCredentialsVersion"))
      throw DeltaSharingException.profile(
        s"Failed to parse profile file at $where: missing shareCredentialsVersion")
    val version = node.get("shareCredentialsVersion").asInt()
    if (version != 1 && version != 2)
      throw DeltaSharingException.profile(
        s"Unsupported share credentials version: $version")
    val endpoint = Option(node.get("endpoint")).map(_.asText()).getOrElse(
      throw DeltaSharingException.profile("Endpoint is missing in profile file"))
    try new java.net.URI(endpoint).toURL
    catch {
      case e: Exception => throw DeltaSharingException.profile(
        s"Failed to parse endpoint URL in profile: ${e.getMessage}")
    }
    if (version == 2) {
      val typ = Option(node.get("type")).map(_.asText()).getOrElse(
        throw DeltaSharingException.profile(
          "type is missing in v2 profile file"))
      if (typ != "oauth_client_credentials")
        throw DeltaSharingException.profile(
          s"Unsupported v2 profile type: $typ")
      def req(f: String): String = Option(node.get(f)).map(_.asText())
        .getOrElse(throw DeltaSharingException.profile(
          s"$f is missing in v2 profile file"))
      val oauth = OAuthClientCredentials(req("tokenEndpoint"),
        req("clientId"), req("clientSecret"),
        Option(node.get("scope")).filterNot(_.isNull).map(_.asText()))
      Profile(version, endpoint.stripSuffix("/"), "", None, Some(oauth))
    } else {
      val token = Option(node.get("bearerToken")).map(_.asText()).getOrElse(
        throw DeltaSharingException.profile("Bearer token is missing in profile file"))
      val expiration = Option(node.get("expirationTime")).map(n =>
        java.time.Instant.parse(n.asText()))
      Profile(version, endpoint.stripSuffix("/"), token, expiration)
    }
  }
}
