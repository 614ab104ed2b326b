package org.apache.spark.sql.graftbridge

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{classic, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeReference, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.catalyst.plans.physical.{RangePartitioning, UnknownPartitioning}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.types.StructType
import graft.core.Positions.PosCol

/** A frame over rows whose position field ([[graft.core.Positions.PosCol]])
  * ascends across the RDD's partitions in index order and within each
  * partition in iteration order. The plan declares exactly that —
  * range-partitioned and sorted by the position — so a later
  * `orderBy(position)` plans no Exchange and no Sort,
  * and [[rows]] reads the RDD in that order with no planning at all. It also
  * declares its known row count (size = rows × the schema's default row
  * width), so a join can broadcast a small positioned frame.
  * `LogicalRDD` and `Dataset.ofRows` are `private[sql]`.
  */
object PositionBridge {
  def positioned(spark: SparkSession, rows: RDD[InternalRow], schema: StructType,
      rowCount: Long): DataFrame = {
    val output = schema.map(f => AttributeReference(f.name, f.dataType, f.nullable, f.metadata)())
    val order = Seq(SortOrder(output(schema.fieldIndex(PosCol)), Ascending))
    val n = rows.getNumPartitions
    val partitioning = if (n > 0) RangePartitioning(order, n) else UnknownPartitioning(0)
    val session = spark.asInstanceOf[classic.SparkSession]
    val stats = Statistics(EstimationUtils.getSizePerRow(output) * rowCount, Some(BigInt(rowCount)))
    classic.Dataset.ofRows(session,
      LogicalRDD(output, rows, partitioning, order)(session, originStats = Some(stats)))
  }

  /** The rows of `df` when its analyzed plan is a bare relation declared
    * range-partitioned and sorted by the position (what [[positioned]] builds):
    * reading the RDD's partitions in index order yields them in position
    * order. None for any other plan — a projection, filter, reorder or join
    * over it needs the planner.
    */
  def positionedRdd(df: DataFrame): Option[RDD[InternalRow]] =
    df.asInstanceOf[classic.Dataset[Row]].queryExecution.analyzed match {
      case r: LogicalRDD if !r.isStreaming && inPositionOrder(r) => Some(r.rdd)
      case _ => None
    }

  /** Sorted by the position, and range-partitioned on it or in at most one
    * partition: its partitions, read in index order, are in position order.
    */
  private def inPositionOrder(r: LogicalRDD): Boolean = r.outputOrdering match {
    case Seq(o @ SortOrder(a: Attribute, Ascending, _, _), _*) if a.name == PosCol =>
      r.outputPartitioning match {
        case RangePartitioning(Seq(p, _*), _) => p.semanticEquals(o)
        case _ => r.rdd.partitions.length <= 1
      }
    case _ => false
  }

  /** The rows of a frame [[positionedRdd]] accepts, in position order,
    * fetched one partition per job as the iterator reaches it. No query is
    * planned or registered as a SQL execution; one deserializer, built
    * once, turns each row into a [[Row]].
    */
  def localRows(df: DataFrame): Option[Iterator[Row]] =
    positionedRdd(df).map { rdd =>
      val toRow = ExpressionEncoder(df.schema).resolveAndBind().createDeserializer()
      // projections reuse one row object per partition: copy before collecting
      rdd.map(_.copy()).toLocalIterator.map(toRow)
    }
}
