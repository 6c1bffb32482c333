package org.apache.spark.sql.graft

import org.apache.spark.sql.{classic, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.types.StructType

/** A DataFrame over rows already on the driver: a `LocalRelation` of
  * `schema` over `rows`, built without converting them. Catalyst folds
  * filters and projections over it on the driver, and collecting it runs
  * no Spark job. Each row must hold `schema`'s fields in their internal
  * form (`UTF8String` for strings, `Long` for timestamps). Lives in
  * Spark's package because `Dataset.ofRows` is package-private.
  */
object LocalFrame {
  def apply(spark: SparkSession, schema: StructType, rows: Seq[InternalRow]): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession],
      LocalRelation(DataTypeUtils.toAttributes(schema), rows))
}
