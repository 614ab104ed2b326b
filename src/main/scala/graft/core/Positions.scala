package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, JoinedRow, SpecificInternalRow, UnsafeProjection}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.PositionBridge
import org.apache.spark.sql.types.{LongType, StructField}

/** The one way to number a sorted frame: a global row position 0..n-1 from
  * one sort plus one count per sorted partition — partition i starts at the
  * sum of the counts before it (the `__ROW_UID__` trick of the reference's
  * Dask layout, which derives uids from per-partition lengths,
  * `DaskScalableDataFrame.py:643-684`, without a driver materialize and
  * without a single-task `Window.orderBy`). The row count is the sum of
  * those counts, so no separate `count()` runs.
  *
  * The positioned frame reads the sort's shuffle output, so every later read
  * sees the rows, partition boundaries and counts the positions were taken
  * from; nothing is persisted.
  */
object Positions {

  val PosCol = "__pos__"
  val CumCol = "__cum__"

  /** `df` sorted by `orderBy`, with [[PosCol]] appended, and its row count.
    * Sort and counts run now, in one registered SQL execution. The frame
    * declares itself range-partitioned and sorted by [[PosCol]], which is
    * true because a global sort's partitions hold ascending key ranges.
    * Rows tied on `orderBy` take positions in the order the sort delivers
    * them; give a total order for reproducible positions.
    *
    * With a `weight` (cast to long), [[CumCol]] — the summed weight of all
    * earlier rows — sits before [[PosCol]]. It is not declared as a
    * partitioning: zero weights tie across partition boundaries. A null
    * weight fails the positioning; it is never read as 0.
    */
  def of(df: DataFrame, orderBy: Seq[Column], weight: Option[Column] = None): (DataFrame, Long) = {
    val (frame, starts) = withStarts(df, orderBy, weight)
    (frame, starts.last)
  }

  /** [[of]], returning the first position of each sorted partition followed
    * by the row count in place of the count alone: partition `i` holds
    * positions `starts(i)` until `starts(i + 1)`. The counts the positions
    * are taken from give these, so no extra job runs.
    */
  def withStarts(df: DataFrame, orderBy: Seq[Column],
      weight: Option[Column] = None): (DataFrame, IndexedSeq[Long]) = {
    val checked = weight.map { w =>
      val v = w.cast("long")
      when(v.isNull, raise_error(lit("Positions.of: null weight"))).otherwise(v)
    }
    val weighted = checked.isDefined
    val input = checked.fold(df)(w => df.select(col("*"), w))
    val sorted = input.orderBy(orderBy: _*)
    val qe = sorted.queryExecution
    val fields = df.schema.fields
    val wIdx = fields.length // the weight's index in a sorted row, when given
    // one registered execution: work run through toRdd outside it (the
    // sort's scans and Exchange) reaches no execution-end event
    val (rows, totals) = SQLExecution.withNewExecutionId(qe, Some("position")) {
      val rows = qe.toRdd
      (rows, rows.mapPartitions { it =>
        var n, w = 0L
        it.foreach { r => n += 1; if (weighted) w += r.getLong(wIdx) }
        Iterator.single((n, w))
      }.collect())
    }
    val starts = totals.scanLeft((0L, 0L)) { case ((n, w), (dn, dw)) => (n + dn, w + dw) }
    val extra = (if (weighted) Seq(CumCol) else Nil) :+ PosCol
    val schema = extra.foldLeft(df.schema)((s, c) => s.add(StructField(c, LongType, nullable = false)))
    val width = input.schema.length
    val posIdx = extra.length - 1
    // the input fields, then the extra longs of the joined row
    val outExprs = fields.indices.map(i => BoundReference(i, fields(i).dataType, fields(i).nullable)) ++
      extra.indices.map(j => BoundReference(width + j, LongType, nullable = false))
    val withPos = rows.mapPartitionsWithIndex[InternalRow] { (i, it) =>
      val ext = new SpecificInternalRow(extra.map(_ => LongType))
      val joined = new JoinedRow
      val project = UnsafeProjection.create(outExprs)
      var (pos, cum) = starts(i)
      it.map { r =>
        if (weighted) { ext.setLong(0, cum); cum += r.getLong(wIdx) }
        ext.setLong(posIdx, pos)
        pos += 1
        project(joined(r, ext))
      }
    }
    val n = starts.last._1
    (PositionBridge.positioned(df.sparkSession, withPos, schema, n), starts.map(_._1).toIndexedSeq)
  }
}
