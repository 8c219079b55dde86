package org.apache.spark.sql.graftshim

import org.apache.spark.sql.{DataFrame => SqlDataFrame, SparkSession => SqlSparkSession}
import org.apache.spark.sql.classic.{Dataset, SparkSession}
import org.apache.spark.sql.connector.catalog.Table
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.types.StructType

/** DSv2 relations over tables built in code; Spark keeps the pieces
  * (`Dataset.ofRows`, `StructType.asNullable`) package-private. */
object V2Relation {

  /** A frame over `table`, the relation `spark.read.format(...).load()`
    * plans for a registered provider. The scan is built when each query
    * over the frame is optimized, not here. */
  def frame(spark: SqlSparkSession, table: Table): SqlDataFrame =
    Dataset.ofRows(spark.asInstanceOf[SparkSession],
      DataSourceV2Relation.create(table, None, None))

  /** `schema` with every field, array element and map value nullable:
    * how Spark types its own file relations, since a scan cannot check
    * that remote files honour a declared NOT NULL. */
  def nullable(schema: StructType): StructType = schema.asNullable
}
