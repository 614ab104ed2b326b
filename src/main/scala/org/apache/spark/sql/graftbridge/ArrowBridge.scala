package org.apache.spark.sql.graftbridge

import org.apache.arrow.vector.types.pojo.Schema
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{classic, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.ArrowUtils

/** Spark's own Arrow type mapping and `InternalRow` frame constructor, both
  * `private[sql]`. The mapping flags are fixed: no session time zone (the
  * DataLoader surface has no timestamps), duplicate nested field names
  * refused, and the 32-bit-offset `Utf8`/`Binary` layouts, not `Large*`.
  */
object ArrowBridge {
  def toArrowSchema(schema: StructType): Schema =
    ArrowUtils.toArrowSchema(schema, null, true, false)

  def fromArrowSchema(schema: Schema): StructType = ArrowUtils.fromArrowSchema(schema)

  def internalCreateDataFrame(spark: SparkSession, rows: RDD[InternalRow],
      schema: StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession].internalCreateDataFrame(rows, schema)
}
