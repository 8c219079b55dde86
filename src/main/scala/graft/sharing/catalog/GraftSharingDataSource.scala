package graft.sharing.catalog

import java.util

import org.apache.spark.sql.connector.catalog.{Table, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.sharing._

/** `spark.read.format("graft-sharing").load("<profile>#<share>.<schema>.<table>")`
  * — the DataFrameReader face of the connector (reference entry point
  * `DeltaSharingTable::try_from_str`, src/datasource/table.rs:93-103).
  */
final class GraftSharingDataSource extends TableProvider with DataSourceRegister {

  override def shortName(): String = "graft-sharing"

  // Spark calls inferSchema then getTable on the same provider instance
  // per load(); resolve (client, metadata) once per (path, version) and
  // reuse — one REST metadata round-trip (and, for OAuth profiles, one
  // token fetch) per load, not one per callback. Keyed by version too:
  // a pinned read must see the PINNED version's schema, not current.
  // The entry is EVICTED once getTable consumes it: the cache exists
  // only to bridge the inferSchema→getTable callbacks of one load, and
  // letting it outlive the load would serve a later UNPINNED read of the
  // same path the metadata captured at first resolution, not the
  // table's current version.
  private val resolved = scala.collection.concurrent.TrieMap
    .empty[(String, Option[Long]), (DeltaSharingClient, TableRef, Metadata)]

  /** Optional time travel: pins every server interaction (metadata AND
    * file listing AND per-task URL refresh) to a past version. */
  private def versionAsOf(options: CaseInsensitiveStringMap): Option[Long] =
    Option(options.get("versionAsOf")).map { raw =>
      raw.toLongOption.filter(_ >= 0).getOrElse(
        throw DeltaSharingException.parseSecurable(
          s"versionAsOf must be a non-negative integer, got: $raw"))
    }

  private def connect(options: CaseInsensitiveStringMap)
      : (DeltaSharingClient, TableRef, Metadata) = {
    val path = Option(options.get("path")).getOrElse(
      throw DeltaSharingException.parseSecurable(
        "graft-sharing needs a load path of the form <profile>#<share>.<schema>.<table>"))
    val version = versionAsOf(options)
    resolved.getOrElseUpdate((path, version), {
      val (profilePath, ref) = GraftSharing.parseConnection(path)
      val client = new DeltaSharingClient(Profile.fromPath(profilePath))
      (client, ref, client.getTableMetadata(ref, version)._2)
    })
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    DeltaSchema.fromSchemaString(connect(options)._3.schemaString)

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val options = new CaseInsensitiveStringMap(properties)
    val (client, ref, metadata) = connect(options)
    // this load is complete — drop the bridge entry so a provider
    // instance reused for another load re-resolves current metadata
    Option(options.get("path")).foreach(p =>
      resolved.remove((p, versionAsOf(options))))
    val profilePath = Option(options.get("path")).map(_.split("#")(0))
    new GraftTable(client, ref, metadata, profilePath, versionAsOf(options))
  }

  override def supportsExternalMetadata(): Boolean = false
}
