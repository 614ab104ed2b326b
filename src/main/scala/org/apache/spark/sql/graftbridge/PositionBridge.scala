package org.apache.spark.sql.graftbridge

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{classic, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, AttributeReference, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.catalyst.plans.physical.{RangePartitioning, UnknownPartitioning}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.types.StructType

/** A frame over rows whose last field is a position that ascends across the
  * RDD's partitions in index order and within each partition in iteration
  * order. The plan declares exactly that — range-partitioned and sorted by
  * the position — so a later `orderBy(position)` plans no Exchange and no
  * Sort. It also declares its known row count (size = rows × the schema's
  * default row width), so a join can broadcast a small positioned frame.
  * `LogicalRDD` and `Dataset.ofRows` are `private[sql]`.
  */
object PositionBridge {
  def positioned(spark: SparkSession, rows: RDD[InternalRow], schema: StructType,
      rowCount: Long): DataFrame = {
    val output = schema.map(f => AttributeReference(f.name, f.dataType, f.nullable, f.metadata)())
    val order = Seq(SortOrder(output.last, Ascending))
    val n = rows.getNumPartitions
    val partitioning = if (n > 0) RangePartitioning(order, n) else UnknownPartitioning(0)
    val session = spark.asInstanceOf[classic.SparkSession]
    val stats = Statistics(EstimationUtils.getSizePerRow(output) * rowCount, Some(BigInt(rowCount)))
    classic.Dataset.ofRows(session,
      LogicalRDD(output, rows, partitioning, order)(session, originStats = Some(stats)))
  }
}
