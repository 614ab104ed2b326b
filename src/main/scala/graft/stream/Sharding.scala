package graft.stream

/** Balanced-shard interval math — pure-function port of the reference's
  * sharding contract (`src/bears/core/frame/ScalableDataFrame.py:869-1154`),
  * the algorithmic heart of bears' batch streaming for distributed DL:
  *
  *   - every shard gets exactly the same number of batches;
  *   - drop_last=true: every batch has exactly B rows, < S*B rows dropped
  *     (distributed training: gradient sync needs equal batches);
  *   - drop_last=false: no row lost, batch sizes equal except each shard's
  *     last batch, which lands in [B, 2B) with ≤1 row spread across shards
  *     (distributed inference: every worker must receive every step).
  *
  * All functions are driver-side O(P+S) arithmetic; [[BatchStream]] applies
  * the row-space assignment they produce to each positioned row as it reads
  * the rank's intervals — nothing here scales with N.
  */
object Sharding {

  /** Closest multiple of `numShards` to `npartitions`
    * (`ScalableDataFrame.py:854-867` get_closest_npartitions).
    */
  def closestNPartitions(npartitions: Int, numShards: Int): Int = {
    val s = numShards
    if (npartitions % s == 0) npartitions
    else {
      val low = s * math.max(1, npartitions / s)
      val high = low + s
      if (math.abs(npartitions - low) < math.abs(npartitions - high)) low else high
    }
  }

  /** Even allocation of `length` rows over `numChunks` chunks: the first
    * `length % numChunks` chunks get ceil, the rest floor
    * (`_stream_update_num_rows_according_to_num_chunks`).
    */
  def chunkRows(length: Long, chunkIdx: Long, numChunks: Long): Long = {
    val rem = length % numChunks
    if (chunkIdx < rem) length / numChunks + 1 else length / numChunks
  }

  /** Direct port of `_stream_get_balanced_shard_intervals`
    * (`ScalableDataFrame.py:869-1154`): divisions of the row space into
    * per-shard-group partitions. Intervals assign to shards round-robin by
    * index. Used for the physical repartition path
    * (`repartitionByRange`, mirroring Dask `set_shard_divisions`,
    * `DaskScalableDataFrame.py:580-641`).
    *
    * @return (divisions, intervals, batchesPerShard)
    */
  def balancedShardIntervals(
      length: Long,
      npartitions: Int,
      numShards: Int,
      numRows: Long,
      dropLast: Boolean): (Seq[Long], Seq[(Long, Long)], Long) = {
    val n = length; val b = numRows; val s = numShards
    require(n >= s, s"cannot shard $n rows into $s shards")
    val newP = closestNPartitions(npartitions, s)
    require(n >= newP, s"cannot shard $n rows into $newP partitions")

    val m = 1 + (n / (s * b)) / (newP / s)

    val divisions = Seq.newBuilder[Long]
    divisions += 0L
    var rowsCompleted = 0L
    var remaining = n
    var batchesPerShard = 0L

    val completeGroups = n / (m * s * b)
    (0L until completeGroups).foreach { _ =>
      (0 until s).foreach { _ =>
        rowsCompleted += m * b
        remaining -= m * b
        divisions += rowsCompleted
      }
      batchesPerShard += m
    }

    val lastGroupRows = Array.fill(s)(0L)
    val completeCols = remaining / (s * b)
    if (completeCols > 0) {
      (0 until s).foreach { i =>
        lastGroupRows(i) += completeCols * b
        remaining -= completeCols * b
      }
      batchesPerShard += completeCols
    }

    if (!dropLast) {
      // pad the last batch of each shard with the final incomplete column
      (0 until s).foreach { i =>
        val pad = chunkRows(remaining, i, s)
        lastGroupRows(i) += pad
      }
      remaining = 0
    }

    lastGroupRows.foreach { r =>
      if (r > 0) { rowsCompleted += r; divisions += rowsCompleted }
    }

    val divs = divisions.result()
    val intervals = divs.sliding(2).collect { case Seq(a, c) => (a, c) }.toSeq
    // Round-robin correctness invariant: the intervals from complete groups
    // number completeGroups*s (interval i -> shard i%s), and the appended
    // tail must be a PREFIX of the shard order (tail interval j -> shard j).
    // The prefix holds because chunkRows pads are nonincreasing in shard
    // index — so a trailing partial group (fewer than s pad intervals, e.g.
    // remainder < numShards with dropLast=false) is legal, NOT an error:
    // requiring intervals % s == 0 here used to reject such valid inputs.
    require(lastGroupRows.dropWhile(_ > 0).forall(_ == 0),
      s"pad intervals must form a shard prefix: ${lastGroupRows.mkString(",")}")
    require(intervals.size == completeGroups * s + lastGroupRows.count(_ > 0),
      s"interval count ${intervals.size} inconsistent with groups")
    (divs, intervals, batchesPerShard)
  }

  /** Round-robin interval→shard selection incl. `reverse_sharding` (K-fold
    * complement, `ScalableDataFrame.py:806-819`).
    */
  def shardIntervals(
      intervals: Seq[(Long, Long)],
      shardRank: Int,
      numShards: Int,
      reverseSharding: Boolean = false): Seq[(Long, Long)] =
    intervals.zipWithIndex.collect {
      case ((a, b), i) if reverseSharding ^ (i % numShards == shardRank) => (a, b)
    }

  /** Per-shard contiguous bounds for the in-memory case (npartitions=1),
    * where the general algorithm collapses: K = N/(S*B) complete batch
    * columns give each shard K*B rows; drop_last=false pads shard s with
    * ceil/floor of the remainder. Verified equivalent to
    * [[balancedShardIntervals]] by property test.
    *
    * @return per shard: (start, end, batches)
    */
  def inMemoryShardBounds(
      length: Long, numShards: Int, numRows: Long, dropLast: Boolean): Seq[(Long, Long, Long)] = {
    val k = length / (numShards * numRows)
    val rem = length - k * numShards * numRows
    var off = 0L
    (0 until numShards).map { s =>
      val pad = if (dropLast) 0L else chunkRows(rem, s, numShards)
      val start = off
      val end = off + k * numRows + pad
      off = end
      (start, end, k)
    }
  }

  /** Batch-size plan for one shard of `shardLen` rows:
    * `ScalableDataFrame.py:716-754` chunking loop.
    *
    * @param numRows Some(B) for fixed-size batches; None for numChunks mode
    * @param numChunks Some(C) for count mode
    * @param dropLast None / Some(false) / Some(true) tri-state
    */
  def batchSizes(
      shardLen: Long,
      numRows: Option[Long],
      numChunks: Option[Long],
      dropLast: Option[Boolean],
      balancedBatches: Long): Seq[Long] = (numRows, numChunks) match {
    case (Some(b), None) =>
      dropLast match {
        case Some(true) => Seq.fill(balancedBatches.toInt)(b)
        case Some(false) =>
          // last batch absorbs the pad: [B, 2B)
          val pad = shardLen - balancedBatches * b
          (0L until balancedBatches).map(i => if (i == balancedBatches - 1) b + pad else b)
        case None =>
          // unaligned: plain ceil split
          val full = shardLen / b
          val tail = shardLen - full * b
          Seq.fill(full.toInt)(b) ++ (if (tail > 0) Seq(tail) else Nil)
      }
    case (None, Some(c)) =>
      dropLast match {
        case Some(true) => Seq.fill(c.toInt)(shardLen / c)
        case _ => (0L until c).map(i => chunkRows(shardLen, i, c))
      }
    case _ => throw new IllegalArgumentException("exactly one of numRows/numChunks")
  }
}
