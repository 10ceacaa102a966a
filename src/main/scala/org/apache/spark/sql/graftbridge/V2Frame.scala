package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.connector.catalog.Table
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation

/** A DataFrame over a DataSource V2 `Table` the caller built: the relation
  * `spark.read.format(...).load` makes for a provider's table, for a
  * table whose constructor carries what no read option should expose
  * (the kvtable LWW view, `graft.connector.KvBatchTable.lwwView`).
  * `Dataset.ofRows` is `private[sql]`; this object lives under
  * `org.apache.spark.sql` solely to reach it. */
object V2Frame {
  def apply(spark: SparkSession, table: Table): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      DataSourceV2Relation.create(table, None, None))
}
