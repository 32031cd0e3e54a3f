package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Minimal access bridge for graft's native Catalyst expressions:
  * Column <-> Expression conversion lives behind `private[sql]` in Spark 4
  * (org.apache.spark.sql.classic.ExpressionUtils), so third-party extensions
  * conventionally expose it from a file compiled into the sql package. Only
  * these two conversions are bridged — nothing else internal is touched.
  */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** DataFrame over an RDD of InternalRows (private[sql] in Spark 4).
    * The engine's decode path produces InternalRows natively
    * (graft.spark.source.MothVector.rows — the column vectors the DSv2 scan
    * hands Spark); routing them through the public createDataFrame(RDD[Row], ...)
    * would materialize every value as an external object and re-encode it
    * row by row through a RowEncoder — pure overhead on the identity
    * round-trip hot path (guide §1.2: make the per-task work cheap once the
    * job shape is right).
    */
  def internalDf(spark: SparkSession,
      rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession].internalCreateDataFrame(rdd, schema)
}
