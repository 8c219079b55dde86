package graft.sharing.catalog

import java.util

import org.apache.spark.sql.connector.catalog.{Table, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.sharing._

/** The `connect` step of both sharing providers: parse the
  * `<profile>#<share>.<schema>.<table>` load path, build its client and
  * fetch the table's metadata at `version`.
  *
  * Spark calls inferSchema then getTable on the same provider instance
  * per load(), so the result is kept between the two callbacks — one REST
  * metadata round-trip (and, for OAuth profiles, one token fetch) per
  * load. Keyed by version too: a pinned read must see the PINNED
  * version's schema, not current. getTable consumes the entry: letting it
  * outlive the load would serve a later UNPINNED read of the same path
  * the metadata captured at first resolution, not the table's current
  * version. */
private[sharing] trait SharingProvider
    extends TableProvider with DataSourceRegister {

  private val resolved = scala.collection.concurrent.TrieMap
    .empty[(String, Option[Long]), (DeltaSharingClient, TableRef, Metadata)]

  protected def connect(options: CaseInsensitiveStringMap,
      version: Option[Long], consume: Boolean = false)
      : (DeltaSharingClient, TableRef, Metadata) = {
    val path = Option(options.get("path")).getOrElse(
      throw DeltaSharingException.parseSecurable(s"${shortName()} needs a " +
        "load path of the form <profile>#<share>.<schema>.<table>"))
    val key = (path, version)
    val connection = resolved.getOrElseUpdate(key, {
      val (profilePath, ref) = GraftSharing.parseConnection(path)
      val client = new DeltaSharingClient(Profile.fromPath(profilePath))
      (client, ref, client.getTableMetadata(ref, version)._2)
    })
    if (consume) resolved.remove(key)
    connection
  }

  override def supportsExternalMetadata(): Boolean = false
}

/** `spark.read.format("graft-sharing").load("<profile>#<share>.<schema>.<table>")`
  * — the DataFrameReader face of the connector (reference entry point
  * `DeltaSharingTable::try_from_str`, src/datasource/table.rs:93-103).
  */
final class GraftSharingDataSource extends SharingProvider {

  override def shortName(): String = "graft-sharing"

  /** Optional time travel: pins every server interaction (metadata AND
    * file listing AND per-task URL refresh) to a past version. */
  private def versionAsOf(options: CaseInsensitiveStringMap): Option[Long] =
    Option(options.get("versionAsOf")).map { raw =>
      raw.toLongOption.filter(_ >= 0).getOrElse(
        throw DeltaSharingException.parseSecurable(
          s"versionAsOf must be a non-negative integer, got: $raw"))
    }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    DeltaSchema.fromSchemaString(
      connect(options, versionAsOf(options))._3.schemaString)

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val options = new CaseInsensitiveStringMap(properties)
    val version = versionAsOf(options)
    val (client, ref, metadata) = connect(options, version, consume = true)
    new GraftTable(client, ref, metadata, version)
  }
}
