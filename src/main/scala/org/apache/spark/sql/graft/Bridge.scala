package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** The one sanctioned crack in the `private[sql]` wall: building a
  * DataFrame from a custom [[LogicalPlan]] node requires
  * `Dataset.ofRows`, which Spark keeps sql-private. Extensions that
  * ship custom operators (Delta, Iceberg, Sedona, …) all open this
  * same bridge from a `org.apache.spark.sql` subpackage. Keep the
  * surface to the sql-private reaches below, each a one-liner. */
object Bridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  def analyzedPlan(df: DataFrame): LogicalPlan =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[Row]]
      .queryExecution.analyzed

  private def classic(spark: SparkSession): org.apache.spark.sql.classic.SparkSession =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]

  /** Catalog-plugin lookup by name (CatalogManager is `private[sql]`;
    * the returned CatalogPlugin is public API). Throws
    * CatalogNotFoundException for unknown names. */
  def catalogPlugin(spark: SparkSession,
      name: String): org.apache.spark.sql.connector.catalog.CatalogPlugin =
    classic(spark).sessionState.catalogManager.catalog(name)

  def currentCatalogName(spark: SparkSession): String =
    classic(spark).sessionState.catalogManager.currentCatalog.name

  def currentNamespace(spark: SparkSession): Array[String] =
    classic(spark).sessionState.catalogManager.currentNamespace

  def parsePlan(spark: SparkSession, sql: String): LogicalPlan =
    classic(spark).sessionState.sqlParser.parsePlan(sql)

  def sqlConf(spark: SparkSession): org.apache.spark.sql.internal.SQLConf =
    classic(spark).sessionState.conf

  /** `StructType.merge`: the `mergeSchema=true` inference fold. */
  def mergeSchemas(a: org.apache.spark.sql.types.StructType,
      b: org.apache.spark.sql.types.StructType,
      caseSensitive: Boolean): org.apache.spark.sql.types.StructType =
    a.merge(b, caseSensitive)
}
