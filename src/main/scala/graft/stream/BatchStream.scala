package graft.stream

import scala.jdk.CollectionConverters._
import org.apache.spark.rdd.PartitionPruningRDD
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, JoinedRow, SpecificInternalRow, UnsafeProjection}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.PositionBridge
import org.apache.spark.sql.types.{LongType, StructField}
import graft.core.Positions

/** Batch streaming & sharding over a distributed DataFrame — the Spark
  * re-expression of `sdf.stream(...)` (`src/bears/core/frame/ScalableDataFrame
  * .py:416-598` + the Dask path `DaskScalableDataFrame.py:247-477`).
  *
  * bears materializes the frame and slices numpy index arrays; that cannot
  * exist at 100 TB. Instead:
  *
  *   1. a global row position and the row count come from
  *      [[graft.core.Positions.of]]: one sort plus one count per sorted
  *      partition, no separate `count()`, and a positioned frame that
  *      declares itself range-partitioned and sorted by position. The
  *      positions are shared: one frame object positioned again with the
  *      same sort key, `shuffle` and `seed` (the K ranks of one epoch)
  *      reuses the first positioning, so all ranks read one sort's shuffle
  *      output, one snapshot of the rows;
  *   2. seeded shuffling = ordering by `xxhash64(uid, seed)` — deterministic
  *      on any cluster layout (a partition-seeded `rand()` is not), and
  *      identical across shard ranks as the reference requires
  *      (`ScalableDataFrame.py:822-848`);
  *   3. shard membership and batch ids come from [[Sharding]]'s
  *      closed-form bounds, computed per row in Scala while one pass over the
  *      positioned rows slices out the rank's intervals — no driver-side
  *      index arrays, no query plan, and no shuffle beyond the one sort the
  *      ranks share. Sorted partitions wholly outside the rank's intervals
  *      are never read.
  *
  * Consumption: `toLocalBatches` for driver-side iteration (DL feeding)
  * reads an assigned frame's rows straight from its RDD in position order,
  * which is batch order, one job per kept sorted partition when the
  * iterator reaches it; nothing is planned. Spark fetches no partition
  * ahead, so the reference's `fetch_partitions=1` prefetch is not
  * reproduced. Or keep the annotated frame distributed and
  * `groupBy(BatchCol)` / `repartitionByRange(BatchCol)` for executor-side
  * batch processing. The frame declares its position order, so an
  * `orderBy(PosCol)` of it plans no Exchange and no Sort.
  */
object BatchStream {

  val PosCol: String = Positions.PosCol
  val ShardPosCol = "__shard_pos__"
  val BatchCol = "__batch_id__"

  final case class Plan(
      numRows: Option[Long] = None,
      numChunks: Option[Long] = None,
      shard: (Int, Int) = (0, 1),
      dropLast: Option[Boolean] = None,
      shuffle: Boolean = false,
      seed: Long = 42L,
      reverseSharding: Boolean = false) {
    require(numRows.isDefined ^ numChunks.isDefined, "exactly one of numRows/numChunks")
    // positivity here, not deep in the bounds math: numRows=0 reaches
    // `length / (shards * 0)` — a cryptic driver ArithmeticException
    require(numRows.forall(_ > 0), s"numRows must be positive: $numRows")
    require(numChunks.forall(_ > 0), s"numChunks must be positive: $numChunks")
    require(shard._1 >= 0 && shard._1 < shard._2, s"shard rank out of range: $shard")
  }

  /** Synthesize a stable global position 0..N-1. `orderBy` gives the
    * deterministic base order (a key, not `rand()`); with `shuffle` the
    * order is the seeded hash of those columns.
    */
  def withPosition(df: DataFrame, orderBy: Seq[Column], shuffle: Boolean, seed: Long): DataFrame =
    positioned(df, orderBy, shuffle, seed).frame

  /** The last positioning of each frame object, under its sort key,
    * `shuffle` and `seed`: the positioned frame and the first position of
    * each of its sorted partitions, then the row count. Frames are held
    * weakly and nothing in an entry refers back to its frame, so dropping a
    * frame releases its positions and the sort's shuffle output; a new key
    * replaces the entry.
    */
  private final case class Memo(key: (Seq[Column], Boolean, Long), frame: DataFrame,
      starts: IndexedSeq[Long])
  private val memo = new java.util.WeakHashMap[DataFrame, Memo]()

  /** The positioned frame and its partition starts (step 1 above), shared by
    * every call on the same frame object and key.
    */
  private def positioned(df: DataFrame, orderBy: Seq[Column], shuffle: Boolean,
      seed: Long): Memo = {
    val key = (orderBy, shuffle, seed)
    memo.synchronized(Option(memo.get(df))).filter(_.key == key).getOrElse {
      val sortKey = if (shuffle) xxhash64(orderBy :+ lit(seed): _*) +: orderBy else orderBy
      val (frame, starts) = Positions.withStarts(df, sortKey)
      val fresh = Memo(key, frame, starts)
      memo.synchronized(memo.put(df, fresh))
      fresh
    }
  }

  /** One rank's share of `length` positioned rows (step 3 above): the
    * position intervals it keeps, in order, and the batch id of each kept
    * row, mirroring [[Sharding.batchSizes]]:
    *   - numRows + dropLast∈{None, true}: floor(p/B) of the shard position p
    *     (with dropLast=true the bounds already dropped the rest);
    *   - numRows + dropLast=false: segment j of the selected original shards
    *     (several under reverseSharding) contributes exactly `balanced`
    *     batches, ids j*balanced + min(floor(p'/B), balanced-1) of the offset
    *     p' in the segment, so each segment's last batch absorbs that shard's
    *     pad. Deriving the count from the shard length instead overcounts
    *     when a pad equals B, and ranks would no longer run in lockstep;
    *   - numChunks: the first r chunks take ceil rows, the rest floor. With
    *     dropLast=true exactly C chunks of floor(L/C) rows, and the remainder
    *     rows are not kept (`ScalableDataFrame.py:732-754`), so consumers
    *     syncing gradients see equal batches.
    */
  private final class Shard(length: Long, plan: Plan) extends Serializable {
    private val (rank, s) = plan.shard
    private val b = plan.numRows.getOrElse(1L)
    require(s.toLong * plan.numRows.getOrElse(plan.numChunks.get) <= length,
      s"cannot shard $length rows into $s shards of ${plan.numRows.getOrElse(plan.numChunks.get)}")
    private val bounds = Sharding.inMemoryShardBounds(length, s, b, plan.dropLast.contains(true))
    // reverseSharding with numShards=1 selects nothing: the K-fold
    // complement of the only shard is legitimately empty
    private val selected = bounds.zipWithIndex.collect {
      case ((start, end, _), i) if plan.reverseSharding ^ (i == rank) => (start, end)
    }
    private val shardLen = selected.map { case (a, c) => c - a }.sum
    private val balanced = math.max(1L, bounds.head._3) // same for every shard
    private val chunks = plan.numChunks.getOrElse(1L)
    /** Rows the rank keeps: all of its intervals but the remainder that
      * numChunks + dropLast=true drops.
      */
    val rows: Long = if (plan.numChunks.isDefined && plan.dropLast.contains(true))
      chunks * (shardLen / chunks) else shardLen
    // chunk sizes: the first `big` chunks hold `floorSz + 1` rows
    private val floorSz = shardLen / chunks
    private val big = if (plan.dropLast.contains(true)) 0L else shardLen % chunks

    /** The shard position of each interval's first row. */
    private val offsets = selected.map { case (a, c) => c - a }.scanLeft(0L)(_ + _).toArray
    /** The kept intervals: positions `starts(j)` until `ends(j)`. */
    val starts: Array[Long] = selected.map(_._1).toArray
    val ends: Array[Long] = selected.indices.map { j =>
      starts(j) + math.max(0L, math.min(selected(j)._2 - starts(j), rows - offsets(j)))
    }.toArray

    /** Whether sorted partition positions [from, until) meet a kept interval. */
    def overlaps(from: Long, until: Long): Boolean =
      starts.indices.exists(j => starts(j) < ends(j) && starts(j) < until && from < ends(j))

    def shardPos(j: Int, pos: Long): Long = offsets(j) + pos - starts(j)

    def batchOf(j: Int, pos: Long): Long = {
      val p = shardPos(j, pos)
      if (plan.numRows.isEmpty) {
        if (p < big * (floorSz + 1)) p / (floorSz + 1) else big + (p - big * (floorSz + 1)) / floorSz
      } else if (plan.dropLast.contains(false)) j * balanced + math.min((pos - starts(j)) / b, balanced - 1)
      else p / b
    }
  }

  /** Full pipeline: position → shard slice → batch ids. `orderBy` must be a
    * total order (e.g. the primary key) for deterministic results. The ranks
    * of one frame object share its positions (step 1): only the first
    * `assign` for a sort key, `shuffle` and `seed` runs the sort, and later
    * ranks slice the rows that sort delivered with no job. A rank reads only
    * the sorted partitions its intervals meet, and within them stops at its
    * last kept position. Position a new epoch with a new `seed`, or re-read
    * changed data as a new frame.
    */
  def assign(df: DataFrame, orderBy: Seq[Column], plan: Plan): DataFrame = {
    val p = positioned(df, orderBy, plan.shuffle, plan.seed)
    val shard = new Shard(p.starts.last, plan)
    val schema = p.frame.schema
      .add(StructField(ShardPosCol, LongType, nullable = false))
      .add(StructField(BatchCol, LongType, nullable = false))
    val posIdx = p.frame.schema.fieldIndex(PosCol)
    val outExprs = schema.fields.toSeq.zipWithIndex.map { case (f, i) => BoundReference(i, f.dataType, f.nullable) }
    val starts = p.starts
    val read = PartitionPruningRDD.create(PositionBridge.positionedRdd(p.frame).get,
      i => shard.overlaps(starts(i), starts(i + 1)))
    val sliced = read.mapPartitions[InternalRow] { it =>
      val ext = new SpecificInternalRow(Seq(LongType, LongType))
      val joined = new JoinedRow
      val project = UnsafeProjection.create(outExprs)
      // positions ascend within a partition: j is the first kept interval
      // not wholly before the current row, and the read stops after the last
      var j = 0
      it.takeWhile { r =>
        val pos = r.getLong(posIdx)
        while (j < shard.ends.length && pos >= shard.ends(j)) j += 1
        j < shard.ends.length
      }.filter(_.getLong(posIdx) >= shard.starts(j)).map { r =>
        val pos = r.getLong(posIdx)
        ext.setLong(0, shard.shardPos(j, pos))
        ext.setLong(1, shard.batchOf(j, pos))
        project(joined(r, ext))
      }
    }
    PositionBridge.positioned(df.sparkSession, sliced, schema, shard.rows)
  }

  /** Driver-side batch iterator (the DL-feeding path): read the frame in
    * position order — batch ids and shard positions ascend with it — and
    * group rows into batches. An [[assign]]ed frame is read straight from its
    * rows, one job per sorted partition it keeps, as the iterator reaches
    * that partition: no query is planned and no SQL execution runs. Spark
    * fetches no partition ahead, so the reference's `fetch_partitions=1`
    * prefetch is not reproduced. A frame the caller re-selected, reordered
    * or joined is read through `orderBy(position)`, which plans a shuffle
    * only when the caller's plan lost the order.
    */
  def toLocalBatches(assigned: DataFrame): Iterator[(Long, Seq[Row])] = {
    val schema = assigned.schema
    val meta = Set(PosCol, ShardPosCol, BatchCol)
    val keepIdx = schema.fieldNames.filterNot(meta.contains).map(schema.fieldIndex)
    val batchIdx = schema.fieldIndex(BatchCol)
    val it = PositionBridge.localRows(assigned)
      .getOrElse(assigned.orderBy(col(PosCol)).toLocalIterator().asScala)
    new Iterator[(Long, Seq[Row])] {
      private var cur: Option[Row] = if (it.hasNext) Some(it.next()) else None
      def hasNext: Boolean = cur.isDefined
      def next(): (Long, Seq[Row]) = {
        val id = cur.get.getLong(batchIdx)
        val buf = Seq.newBuilder[Row]
        while (cur.exists(_.getLong(batchIdx) == id)) {
          buf += Row.fromSeq(keepIdx.map(cur.get.get).toSeq)
          cur = if (it.hasNext) Some(it.next()) else None
        }
        (id, buf.result())
      }
    }
  }

  /** `split(prefix)` named chunks (`ScalableDataFrame.py:395-414`):
    * `{prefix}-part-{i}-rows-{a}-{b}` keyed map of batches.
    */
  def splitNames(prefix: String, sizes: Seq[Long]): Seq[String] = {
    val width = math.max(4, sizes.size.toString.length)
    var off = 0L
    sizes.zipWithIndex.map { case (sz, i) =>
      val a = off + 1; off += sz
      s"$prefix-part-${(i + 1).toString.reverse.padTo(width, '0').reverse}-rows-$a-$off"
    }
  }
}
