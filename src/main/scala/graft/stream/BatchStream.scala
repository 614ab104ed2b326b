package graft.stream

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
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
  *   3. shard membership and batch ids are pure Column arithmetic derived
  *      from [[Sharding]]'s closed-form bounds — no driver-side index
  *      arrays, and no shuffle beyond the one sort the ranks share.
  *
  * Consumption: `toLocalBatches` for driver-side iteration (DL feeding —
  * Spark prefetches a partition ahead, like the reference's
  * `fetch_partitions=1`) reads the annotated frame in position order, which
  * is batch order; because the frame declares that order, the read plans no
  * Exchange and no Sort. Or keep the annotated frame distributed and
  * `groupBy(BatchCol)` / `repartitionByRange(BatchCol)` for executor-side
  * batch processing.
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
    positioned(df, orderBy, shuffle, seed)._1

  /** The last positioning of each frame object, under its sort key,
    * `shuffle` and `seed`. Frames are held weakly and nothing in an entry
    * refers back to its frame, so dropping a frame releases its positions
    * and the sort's shuffle output; a new key replaces the entry.
    */
  private final case class Memo(key: (Seq[Column], Boolean, Long), frame: DataFrame, rows: Long)
  private val memo = new java.util.WeakHashMap[DataFrame, Memo]()

  /** The positioned frame and its row count (step 1 above), shared by every
    * call on the same frame object and key.
    */
  private def positioned(df: DataFrame, orderBy: Seq[Column], shuffle: Boolean,
      seed: Long): (DataFrame, Long) = {
    val key = (orderBy, shuffle, seed)
    val p = memo.synchronized(Option(memo.get(df))).filter(_.key == key).getOrElse {
      val sortKey = if (shuffle) xxhash64(orderBy :+ lit(seed): _*) +: orderBy else orderBy
      val (frame, rows) = Positions.of(df, sortKey)
      val fresh = Memo(key, frame, rows)
      memo.synchronized(memo.put(df, fresh))
      fresh
    }
    (p.frame, p.rows)
  }

  /** Filter to the requested shard and assign batch ids — all Column
    * arithmetic from the closed-form bounds.
    */
  def assignBatches(withPos: DataFrame, length: Long, plan: Plan): DataFrame = {
    val (rank, s) = plan.shard
    val b = plan.numRows.getOrElse(1L)
    require(s.toLong * plan.numRows.getOrElse(plan.numChunks.get) <= length,
      s"cannot shard $length rows into $s shards of ${plan.numRows.getOrElse(plan.numChunks.get)}")

    val bounds = Sharding.inMemoryShardBounds(
      length, s, if (plan.numRows.isDefined) b else 1L, plan.dropLast.contains(true))

    // shard membership: rows inside this rank's interval(s)
    val pos = col(PosCol)
    val selected = bounds.zipWithIndex.collect {
      case ((start, end, _), i) if plan.reverseSharding ^ (i == rank) => (start, end)
    }
    // reverseSharding with numShards=1: the K-fold complement of the only
    // shard is legitimately EMPTY — return the empty shard instead of
    // crashing on an empty reduce below
    if (selected.isEmpty)
      return withPos.filter(lit(false))
        .withColumn(ShardPosCol, lit(-1L))
        .withColumn(BatchCol, lit(-1L))
    val inShard = selected.map { case (a, c) => pos >= a && pos < c }.reduce(_ || _)

    // shard-local position: offset within the concatenated selected intervals
    val shardPos = selected.foldLeft((lit(-1L), 0L)) { case ((acc, off), (a, c)) =>
      (when(pos >= a && pos < c, pos - a + off).otherwise(acc), off + (c - a))
    }._1

    val shardLen = selected.map { case (a, c) => c - a }.sum
    // (offset-in-concatenation, length) per selected original-shard segment,
    // plus the balanced per-shard batch count the bounds were planned with —
    // batchIdExpr must use THAT count for dropLast=false, not re-derive it
    // from shardLen (when a shard's pad equals exactly B, shardLen/B
    // overcounts and shards end up with UNEQUAL batch counts, violating the
    // lockstep contract distributed consumers rely on)
    val segLens = selected.map { case (a, c) => c - a }
    val segments = segLens.scanLeft(0L)(_ + _).zip(segLens)
    val balanced = bounds.head._3 // same for every shard by construction
    val batchId = batchIdExpr(col(ShardPosCol), shardLen, segments, balanced, plan)

    // numChunks + drop_last=true: exactly C equal chunks of floor(L/C) rows;
    // the remainder rows (shardPos >= C*floor(L/C)) are DROPPED, matching the
    // reference contract (`ScalableDataFrame.py:732-754`) — without this
    // filter they would form an extra undersized batch id C, breaking the
    // equal-batch guarantee gradient-sync consumers rely on.
    val keepRow: Column = (plan.numRows, plan.numChunks) match {
      case (None, Some(c)) if plan.dropLast.contains(true) =>
        col(ShardPosCol) < lit(c * (shardLen / c))
      case _ => lit(true)
    }

    withPos.filter(inShard)
      .withColumn(ShardPosCol, shardPos)
      .withColumn(BatchCol, batchId)
      .filter(keepRow)
  }

  /** Closed-form batch id for a shard-local position, mirroring
    * [[Sharding.batchSizes]]:
    *   - numRows + dropLast∈{None}: floor(p/B);
    *   - numRows + dropLast=false: per selected SEGMENT (one per original
    *     shard — several under reverseSharding), segment j contributes
    *     exactly `balanced` batches with ids j*balanced + min(floor(p'/B),
    *     balanced-1) — each segment's last batch absorbs that shard's pad;
    *   - numRows + dropLast=true: floor(p/B) (bounds already dropped rows);
    *   - numChunks: first r chunks take ceil rows, rest floor.
    */
  private def batchIdExpr(shardPos: Column, shardLen: Long,
      segments: Seq[(Long, Long)], balanced: Long, plan: Plan): Column =
    (plan.numRows, plan.numChunks) match {
      case (Some(b), None) =>
        plan.dropLast match {
          case Some(false) =>
            val k = math.max(1L, balanced)
            segments.zipWithIndex.foldLeft(lit(-1L)) {
              case (acc, ((off, len), j)) =>
                when(shardPos >= off && shardPos < off + len,
                  lit(j * k) + least(floor((shardPos - off) / b), lit(k - 1)))
                  .otherwise(acc)
            }.cast("long")
          case _ => floor(shardPos / b).cast("long")
        }
      case (None, Some(c)) =>
        val sizes = Sharding.batchSizes(shardLen, None, Some(c), plan.dropLast, 0L)
        val ceilSz = sizes.head
        val floorSz = sizes.last
        val r = sizes.count(_ == ceilSz) // first r chunks are the big ones
        if (ceilSz == floorSz) floor(shardPos / ceilSz).cast("long")
        else
          when(shardPos < r * ceilSz, floor(shardPos / ceilSz))
            .otherwise(lit(r) + floor((shardPos - r * ceilSz) / floorSz)).cast("long")
      case _ => throw new IllegalArgumentException
    }

  /** Full pipeline: position → shard filter → batch ids. `orderBy` must be a
    * total order (e.g. the primary key) for deterministic results. The ranks
    * of one frame object share its positions (step 1): only the first
    * `assign` for a sort key, `shuffle` and `seed` runs the sort, and later
    * ranks filter the rows that sort delivered. Position a new epoch with a
    * new `seed`, or re-read changed data as a new frame.
    */
  def assign(df: DataFrame, orderBy: Seq[Column], plan: Plan): DataFrame = {
    val (withPos, n) = positioned(df, orderBy, plan.shuffle, plan.seed)
    assignBatches(withPos, n, plan)
  }

  /** Driver-side batch iterator (the DL-feeding path): read the frame in
    * position order — batch ids and shard positions ascend with it, and an
    * [[assign]]ed frame is already in that order, so no shuffle runs unless
    * the caller reordered it — streaming partitions with one-ahead prefetch
    * and grouping rows into batches. For numChunks-mode with drop_last=true,
    * rows beyond the planned chunks are dropped (reference drops the
    * remainder).
    */
  def toLocalBatches(assigned: DataFrame): Iterator[(Long, Seq[Row])] = {
    val ordered = assigned.orderBy(col(PosCol))
    val meta = Set(PosCol, ShardPosCol, BatchCol)
    val keep = ordered.schema.fieldNames.filterNot(meta.contains)
    val batchIdx = ordered.schema.fieldIndex(BatchCol)
    val keepIdx = keep.map(ordered.schema.fieldIndex)
    val it = ordered.toLocalIterator()
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
