package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.datasources.HadoopFsRelation
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.SchemaUtils

/** Spark 4 unified the Column API and made the classic
  * Column↔Expression converters `private[sql]`; custom Catalyst
  * expressions still need them to surface as Columns. This bridge lives
  * under `org.apache.spark.sql` purely to re-export the two converters —
  * the standard extension-library pattern.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Register a SQL function on a live session (the per-session twin of
    * `SparkSessionExtensions.injectFunction`; the registry is
    * `private[sql]`, hence bridged here).
    */
  def registerFunction(spark: SparkSession, name: String,
                       builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[classic.SparkSession]
      .sessionState.functionRegistry.createOrReplaceTempFunction(
        name, builder, "scala_udf")

  /** A DataFrame over an already-parsed plan (`Dataset.ofRows` is
    * `private[sql]`): what `spark.sql` does after parsing, minus the
    * re-parse.
    */
  def dataFrame(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** `relation` over `dataSchema`, checked and made nullable as a read's is. */
  def withDataSchema(relation: HadoopFsRelation, dataSchema: StructType): HadoopFsRelation = {
    SchemaUtils.checkSchemaColumnNameDuplication(dataSchema, relation.sparkSession.sessionState.conf.resolver)
    relation.copy(dataSchema = dataSchema.asNullable)(relation.sparkSession)
  }
}
