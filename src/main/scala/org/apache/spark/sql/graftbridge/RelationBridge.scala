package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.connector.catalog.Table
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DataFrame-over-a-`Table` bridge. `spark.read.format(name)` resolves its
  * provider through a service-loader scan of every registered data source
  * on each call; a library that already holds its `Table` builds the
  * relation from it directly, which Spark 4 gates behind `private[sql]`
  * (`Dataset.ofRows`).
  */
object RelationBridge {
  def read(spark: SparkSession, table: Table, options: CaseInsensitiveStringMap): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      DataSourceV2Relation.create(table, None, None, options))
}
