package graft.sharing.catalog

import java.util
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.sharing._

/** Delta Sharing catalog plugin: one catalog per share, schemas as
  * namespaces, 3-part-name SQL (reference src/catalog/mod.rs:46-220).
  *
  * Registration:
  * {{{
  *   spark.sql.catalog.myshare          = graft.sharing.catalog.GraftCatalog
  *   spark.sql.catalog.myshare.profile  = /path/to/profile.json
  *   spark.sql.catalog.myshare.share    = share-name     (default: catalog name)
  * }}}
  * then `SELECT * FROM myshare.schema1.tbl`.
  *
  * Improvements over the reference (deliberate, SURVEY §3.3):
  *  - `loadTable` caches (protocol, metadata) per table — the reference
  *    re-fetches metadata on every lookup and re-parses the schema on
  *    every `schema()` call (catalog/mod.rs:206-215, table.rs:105-114);
  *  - failed lookups raise NoSuchTableException instead of silently
  *    returning None (catalog/mod.rs:213-215 swallows errors).
  */
final class GraftCatalog extends TableCatalog with SupportsNamespaces {

  private var catalogName: String = _
  private var share: String = _
  private var client: DeltaSharingClient = _
  private var profilePath: Option[String] = None

  /** Access-ordered LRU, capped: a long-lived session scanning many
    * version-pinned reads (`@vN` keys are immutable and never evicted by
    * invalidateTable alone) must not grow the cache without bound. 256
    * entries × a few KB of protocol+metadata JSON is noise; eviction
    * only costs a re-fetch on the next lookup. All access goes through
    * [[cacheGetOrUpdate]]/[[invalidateTable]] under the map's own lock.
    * Capacity override (`metadataCacheSize` catalog option) exists for
    * tests and memory-tight drivers. */
  private var metadataCacheCapacity: Int = 256
  private val metadataCache =
    new java.util.LinkedHashMap[String, (Protocol, Metadata)](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, (Protocol, Metadata)]): Boolean =
        size() > metadataCacheCapacity
    }

  private def cacheGetOrUpdate(key: String,
      fetch: => (Protocol, Metadata)): (Protocol, Metadata) = {
    metadataCache.synchronized {
      Option(metadataCache.get(key))
    } match {
      case Some(hit) => hit
      case None =>
        val v = fetch // network call outside the lock
        metadataCache.synchronized { metadataCache.put(key, v) }
        v
    }
  }

  /** Test hook: current number of cached (protocol, metadata) entries. */
  private[sharing] def metadataCacheSize: Int =
    metadataCache.synchronized(metadataCache.size())

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    share = Option(options.get("share")).getOrElse(name)
    profilePath = Option(options.get("profile"))
    val profile =
      if (options.containsKey("profile.json")) Profile.fromJson(options.get("profile.json"))
      else if (options.containsKey("profile")) Profile.fromPath(options.get("profile"))
      else throw DeltaSharingException.profile(
        s"catalog $name needs spark.sql.catalog.$name.profile")
    // optional page-size knob for the catalog listings — without it a
    // share with thousands of tables lists in one giant page request
    val maxResults = Option(options.get("maxResults")).map(raw =>
      raw.toIntOption.filter(_ > 0).getOrElse(throw DeltaSharingException.other(
        s"spark.sql.catalog.$name.maxResults must be a positive integer, got '$raw'")))
    Option(options.get("metadataCacheSize")).foreach { raw =>
      metadataCacheCapacity = raw.toIntOption.filter(_ > 0).getOrElse(
        throw DeltaSharingException.other(
          s"spark.sql.catalog.$name.metadataCacheSize must be a positive " +
            s"integer, got '$raw'"))
    }
    client = new DeltaSharingClient(profile, maxResults)
  }

  override def name(): String = catalogName

  // ---- namespaces (= shared schemas) ------------------------------------

  override def listNamespaces(): Array[Array[String]] =
    client.listSchemas(share).map(s => Array(s.name)).toArray

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces()
    else Array.empty

  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.length == 1 &&
      client.listSchemas(share).exists(_.name == namespace(0))

  override def loadNamespaceMetadata(namespace: Array[String]): util.Map[String, String] =
    if (namespaceExists(namespace)) Map.empty[String, String].asJava
    else throw new org.apache.spark.sql.catalyst.analysis.NoSuchNamespaceException(
      namespace)

  override def createNamespace(namespace: Array[String],
      metadata: util.Map[String, String]): Unit = readOnly()
  override def alterNamespace(namespace: Array[String],
      changes: NamespaceChange*): Unit = readOnly()
  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean =
    readOnly()

  // ---- tables -----------------------------------------------------------

  override def listTables(namespace: Array[String]): Array[Identifier] =
    client.listTables(SchemaRef(share, namespace(0)))
      .map(t => Identifier.of(namespace, t.name)).toArray

  override def loadTable(ident: Identifier): Table =
    loadTableInternal(ident, None)

  /** SQL time travel: `SELECT … FROM cat.schema.tbl VERSION AS OF n` —
    * Catalyst routes the version literal here; the scan pins every
    * server query to that version (snapshot rewound from the change
    * log), and the METADATA fetch is version-pinned too, so rewound
    * files decode with the schema as of that version, not today's. The
    * reference has no history support at all. */
  override def loadTable(ident: Identifier, version: String): Table = {
    val v = version.toLongOption.getOrElse(
      throw DeltaSharingException.other(
        s"VERSION AS OF must be a numeric table version, got '$version'"))
    loadTableInternal(ident, Some(v))
  }

  private def loadTableInternal(ident: Identifier,
      versionAsOf: Option[Long]): Table = {
    if (ident.namespace().length != 1)
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(ident)
    val ref = TableRef(share, ident.namespace()(0), ident.name())
    val cacheKey = versionAsOf.fold(ref.toString)(v => s"$ref@v$v")
    try {
      val (_, metadata) = cacheGetOrUpdate(cacheKey,
        client.getTableMetadata(ref, versionAsOf))
      new GraftTable(client, ref, metadata, profilePath, versionAsOf)
    } catch {
      // only a missing table maps to NoSuchTable; other 4xx (e.g. a
      // future VERSION AS OF) must surface their real message
      case e: DeltaSharingException if e.kind == "CLIENT_ERROR" &&
          e.getMessage.contains("RESOURCE_DOES_NOT_EXIST") =>
        throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(ident)
    }
  }

  /** SQL time travel by timestamp: `… TIMESTAMP AS OF t`. The sharing
    * protocol's version endpoint answers "earliest version AT-OR-AFTER a
    * timestamp", while TIMESTAMP AS OF wants "latest AT-OR-BEFORE" — so
    * ask for the first version strictly AFTER the target instant: its
    * predecessor is the wanted snapshot, and a RESOURCE_DOES_NOT_EXIST
    * (nothing after) means the target is at/after the last commit, i.e.
    * the current version. Version 0 as the first-after means the target
    * predates the table's history — a hard error, like Delta's. */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val ref = TableRef(share, ident.namespace().headOption.getOrElse(""),
      ident.name())
    // Catalyst passes TIMESTAMP AS OF in MICROSECONDS since the epoch
    val instant = java.time.Instant.ofEpochMilli(timestamp / 1000L)
    val after = instant.plusMillis(1L).toString
    val v =
      try {
        val firstAfter = client.getTableVersion(ref, Some(after))
        // A target predating the table's recorded history must be a hard
        // error, not a silent rewind past it (Delta's contract). The
        // protocol has no history-start endpoint, so probe with the
        // epoch: if the first version after the TARGET is also the first
        // version after ALL time, every recorded commit is later than
        // the target — version firstAfter−1 is before the log's horizon.
        val earliest = client.getTableVersion(
          ref, Some(java.time.Instant.EPOCH.toString))
        if (firstAfter <= earliest)
          throw DeltaSharingException.other(
            s"TIMESTAMP AS OF $instant predates the earliest recorded " +
              s"version ($earliest) of $ref")
        firstAfter - 1
      } catch {
        case e: DeltaSharingException if e.kind == "CLIENT_ERROR" &&
            e.getMessage.contains("RESOURCE_DOES_NOT_EXIST") =>
          client.getTableVersion(ref)
      }
    loadTableInternal(ident, Some(v))
  }

  /** Evict BOTH the latest-snapshot entry and every `@vN` version-pinned
    * entry for the table — removing only the base key would leave stale
    * pinned metadata resurrectable forever (the cache is unbounded). */
  override def invalidateTable(ident: Identifier): Unit = {
    val base = TableRef(share, ident.namespace().headOption.getOrElse(""),
      ident.name()).toString
    metadataCache.synchronized {
      metadataCache.keySet().removeIf(
        k => k == base || k.startsWith(s"$base@v"))
    }
  }

  /** Only a confirmed missing table is `false`; a 500 / auth failure /
    * network outage propagates — reporting "does not exist" for an
    * unreachable server would let callers silently drop real tables. */
  override def tableExists(ident: Identifier): Boolean =
    try { loadTable(ident); true }
    catch {
      case _: org.apache.spark.sql.catalyst.analysis.NoSuchTableException =>
        false
    }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[org.apache.spark.sql.connector.expressions.Transform],
      properties: util.Map[String, String]): Table = readOnly()
  override def alterTable(ident: Identifier, changes: TableChange*): Table =
    readOnly()
  override def dropTable(ident: Identifier): Boolean = readOnly()
  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    readOnly()

  private def readOnly(): Nothing =
    throw new UnsupportedOperationException(
      "Delta Sharing catalogs are read-only (reference catalog/mod.rs:93-99)")
}
