package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.StructType

/** Bridge into Spark 4's Column↔Expression conversion (package-private in
  * spark-sql): lets graft define native codegen'd Catalyst expressions and
  * expose them as ordinary `Column`s. Standard extension-library pattern.
  */
package object graftbridge {
  def columnOf(e: Expression): Column = ExpressionUtils.column(e)
  def expressionOf(c: Column): Expression = ExpressionUtils.expression(c)

  /** A DataFrame over rows that are already in Catalyst's internal form
    * (e.g. another plan's `queryExecution.toRdd`): no conversion from
    * external `Row`s, and the RDD's partitions are kept as they are. */
  def dataFrameOf(spark: SparkSession, rows: RDD[InternalRow], schema: StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession].internalCreateDataFrame(rows, schema)
}
