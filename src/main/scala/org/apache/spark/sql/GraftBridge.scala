package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Column ⇄ Expression bridge. In Spark 4 the classic converters
  * (org.apache.spark.sql.classic.ExpressionUtils) are private[sql]; exposing them
  * from inside the package is the standard pattern for libraries that define custom
  * Catalyst expressions without going through the function registry.
  */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Analyze an already-PARSED logical plan into a DataFrame (Dataset.ofRows is
    * private[sql] in Spark 4) — lets the query engine parse a statement once
    * and reuse the tree for both predicate extraction and execution instead of
    * paying the ANTLR parse twice per query.
    */
  def ofRows(spark: SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** The LogicalRelation over a custom FileIndex (HadoopFsRelation and
    * LogicalRelation need the classic session, private[sql] in Spark 4) — the
    * injection point for graft.plans.ZoneMapFileIndex.
    */
  def fileIndexRelation(spark: SparkSession,
                        index: org.apache.spark.sql.execution.datasources.FileIndex,
                        schema: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.execution.datasources.LogicalRelation =
    org.apache.spark.sql.execution.datasources.LogicalRelation(
      org.apache.spark.sql.execution.datasources.HadoopFsRelation(
        location = index,
        partitionSchema = org.apache.spark.sql.types.StructType(Nil),
        dataSchema = schema,
        bucketSpec = None,
        fileFormat = new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat,
        options = Map.empty)(spark.asInstanceOf[classic.SparkSession]))
}
