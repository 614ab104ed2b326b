package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.stream.{BatchStream, Sharding}

/** Property tests for the sharding contract (SURVEY.md §5.3), mirroring the
  * reference's internal assertions (`ScalableDataFrame.py:741-754,
  * 1112-1153`): drop_last tri-state bounds, balanced batch counts,
  * reverse-shard complement, shuffle determinism.
  */
class StreamSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSession.spark
  import spark.implicits._

  private val grid = for {
    n <- Seq(63L, 1000L, 25003L)
    b <- Seq(1L, 7L, 16L, 256L)
    s <- Seq(1, 2, 8)
    if s * b <= n
  } yield (n, b, s)

  test("closed-form shard bounds == direct interval algorithm (npartitions=1)") {
    grid.foreach { case (n, b, s) =>
      Seq(true, false).foreach { dropLast =>
        val (_, intervals, batches) = Sharding.balancedShardIntervals(n, 1, s, b, dropLast)
        val direct = (0 until s).map { rank =>
          val sel = Sharding.shardIntervals(intervals, rank, s)
          (sel.head._1, sel.last._2, batches)
        }
        val closed = Sharding.inMemoryShardBounds(n, s, b, dropLast)
        assert(direct == closed, s"n=$n b=$b s=$s dropLast=$dropLast")
      }
    }
  }

  test("drop_last=true: all batches exactly B; < S*B rows dropped; equal batch counts") {
    grid.foreach { case (n, b, s) =>
      val bounds = Sharding.inMemoryShardBounds(n, s, b, dropLast = true)
      val batchCounts = bounds.map(_._3)
      assert(batchCounts.distinct.size == 1)
      val kept = bounds.map { case (a, e, _) => e - a }.sum
      assert(n - kept < s * b, s"dropped ${n - kept} >= $s*$b")
      bounds.foreach { case (a, e, k) =>
        val sizes = Sharding.batchSizes(e - a, Some(b), None, Some(true), k)
        assert(sizes.forall(_ == b))
      }
    }
  }

  test("drop_last=false: no row lost; equal batch counts; last batch in [B,2B) with <=1 row spread") {
    grid.foreach { case (n, b, s) =>
      val bounds = Sharding.inMemoryShardBounds(n, s, b, dropLast = false)
      assert(bounds.map { case (a, e, _) => e - a }.sum == n, "rows lost")
      assert(bounds.map(_._3).distinct.size == 1, "unequal batch counts")
      val lastSizes = bounds.flatMap { case (a, e, k) =>
        val sizes = Sharding.batchSizes(e - a, Some(b), None, Some(false), k)
        assert(sizes.init.forall(_ == b), "non-last batch != B")
        sizes.lastOption
      }
      if (n / (s * b) > 0) {
        // [B, 2B]: the reference's "between 1 and 2*batch_size" is inclusive —
        // remainder S*B-1 pads ceil((S*B-1)/S) = B rows onto one last batch
        assert(lastSizes.forall(sz => sz >= b && sz <= 2 * b),
          s"last batch out of bounds: $lastSizes")
        assert(lastSizes.max - lastSizes.min <= 1, s"last-batch spread >1: $lastSizes")
      }
    }
  }

  test("numChunks mode: exactly C chunks, sizes within 1 row") {
    Seq((63L, 10L), (1000L, 7L), (25003L, 32L)).foreach { case (n, c) =>
      val sizes = Sharding.batchSizes(n, None, Some(c), None, 0)
      assert(sizes.size == c)
      assert(sizes.sum == n)
      assert(sizes.max - sizes.min <= 1)
    }
  }

  test("spark assign: shards partition the rows; reverse shard is the complement") {
    val n = 103
    val df = spark.range(n).toDF("id")
    val s = 4
    def plan(r: Int, rev: Boolean): BatchStream.Plan =
      BatchStream.Plan(numRows = Some(10L), shard = (r, s), dropLast = Some(false), reverseSharding = rev)
    val parts: Seq[Set[Long]] = (0 until s).map { r =>
      BatchStream.assign(df, Seq(col("id")), plan(r, rev = false))
        .select("id").collect().map(_.getLong(0)).toSet
    }
    assert(parts.map(_.size).sum == n)
    assert(parts.reduce(_ ++ _).size == n, "shards must cover all rows disjointly")
    val rev0 = BatchStream.assign(df, Seq(col("id")), plan(0, rev = true))
      .select("id").collect().map(_.getLong(0)).toSet
    assert(rev0 == parts.drop(1).reduce(_ ++ _), "reverse shard != complement")
  }

  test("spark toLocalBatches: ordered batches with contract sizes; shuffle deterministic") {
    val df = spark.range(63).toDF("id")
    val plan = BatchStream.Plan(numRows = Some(10L), shard = (1, 2), dropLast = Some(false),
      shuffle = true, seed = 7L)
    val batches1 = BatchStream.toLocalBatches(BatchStream.assign(df, Seq(col("id")), plan)).toSeq
    val batches2 = BatchStream.toLocalBatches(BatchStream.assign(df, Seq(col("id")), plan)).toSeq
    assert(batches1.map(_._2.map(_.getLong(0))) == batches2.map(_._2.map(_.getLong(0))),
      "same seed must give identical batches")
    val sizes = batches1.map(_._2.size)
    assert(sizes.init.forall(_ == 10) && sizes.last >= 10 && sizes.last < 20)
    // different seed -> different permutation (overwhelmingly)
    val other = BatchStream.toLocalBatches(
      BatchStream.assign(df, Seq(col("id")), plan.copy(seed = 8L))).toSeq
    assert(other.map(_._2.map(_.getLong(0))) != batches1.map(_._2.map(_.getLong(0))))
  }

  test("scalacheck: sharding invariants over generated (N, B, S)") {
    import org.scalacheck.{Gen, Prop}
    import org.scalacheck.Prop.forAll
    val gen = for {
      n <- Gen.choose(1L, 100000L)
      b <- Gen.choose(1L, 512L)
      s <- Gen.choose(1, 16)
      if s * b <= n
    } yield (n, b, s)
    val prop = forAll(gen) { case (n, b, s) =>
      val t = Sharding.inMemoryShardBounds(n, s, b, dropLast = true)
      val f = Sharding.inMemoryShardBounds(n, s, b, dropLast = false)
      val dropOk = n - t.map { case (a, e, _) => e - a }.sum < s * b
      val noLoss = f.map { case (a, e, _) => e - a }.sum == n
      val contiguous = f.sliding(2).forall {
        case Seq((_, e1, _), (a2, _, _)) => e1 == a2
        case _ => true
      }
      val equalBatches = t.map(_._3).distinct.size == 1 && f.map(_._3).distinct.size == 1
      dropOk && noLoss && contiguous && equalBatches
    }
    val result = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(500), prop)
    assert(result.passed, result.status.toString)
  }

  test("spark assign: numChunks + drop_last=true drops the remainder, yields C equal batches") {
    val n = 65L
    val df = spark.range(n).toDF("id")
    val c = 10L
    val plan = BatchStream.Plan(numChunks = Some(c), dropLast = Some(true))
    val assigned = BatchStream.assign(df, Seq(col("id")), plan)
    val byBatch = assigned.groupBy(BatchStream.BatchCol).count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byBatch.keySet == (0L until c).toSet,
      s"expected batch ids 0..${c - 1}, got ${byBatch.keySet.toSeq.sorted}")
    assert(byBatch.values.forall(_ == n / c),
      s"every chunk must have exactly ${n / c} rows: $byBatch")
    assert(assigned.count() == c * (n / c), "remainder rows must be dropped")
    // drop_last unset keeps every row with within-1 spread
    val keepAll = BatchStream.assign(df, Seq(col("id")),
      BatchStream.Plan(numChunks = Some(c)))
    assert(keepAll.count() == n)
  }

  test("balancedShardIntervals: remainder < numShards yields a partial tail group, not a crash") {
    // regression: 9 rows, 4 partitions, 2 shards, B=2, dropLast=false — the
    // final remainder (1 row) pads only shard 0, so the tail group has
    // FEWER than numShards intervals; the old multiple-of-numShards require
    // rejected this legal input outright
    val (_, intervals, batches) = Sharding.balancedShardIntervals(9L, 4, 2, 2L, dropLast = false)
    assert(intervals == Seq((0L, 4L), (4L, 8L), (8L, 9L)))
    assert(batches == 2L)
    val shard0 = Sharding.shardIntervals(intervals, 0, 2)
    val shard1 = Sharding.shardIntervals(intervals, 1, 2)
    assert(shard0 == Seq((0L, 4L), (8L, 9L)) && shard1 == Seq((4L, 8L)))
    // no row lost, both shards get the same number of batches
    assert(shard0.map { case (a, c) => c - a }.sum +
      shard1.map { case (a, c) => c - a }.sum == 9L)
    assert(Sharding.batchSizes(5L, Some(2L), None, Some(false), batches) == Seq(2L, 3L))
    assert(Sharding.batchSizes(4L, Some(2L), None, Some(false), batches) == Seq(2L, 2L))
  }

  test("spark assign: equal batch counts per shard even when a shard's pad equals exactly B") {
    // regression: 7 rows, B=2, S=2, dropLast=false — shard 0 gets 4 rows
    // (pad 2 == B); deriving the batch count from shardLen/B gave shard 0
    // TWO batches and shard 1 ONE, breaking the lockstep contract. The
    // balanced count is 1: shard 0 -> one batch of 4 ([B,2B] inclusive
    // edge), shard 1 -> one batch of 3.
    val df = spark.range(7).toDF("id")
    val perRank = (0 until 2).map { r =>
      val a = BatchStream.assign(df, Seq(col("id")),
        BatchStream.Plan(numRows = Some(2L), shard = (r, 2), dropLast = Some(false)))
      a.groupBy(BatchStream.BatchCol).count()
        .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    }
    assert(perRank(0).keySet == Set(0L) && perRank(1).keySet == Set(0L),
      s"both shards must have exactly one batch: $perRank")
    assert(perRank(0)(0L) == 4L && perRank(1)(0L) == 3L)
  }

  test("spark assign: reverseSharding batch ids are per-segment balanced; numShards=1 complement is empty") {
    // reverse of rank 0 over 4 shards (n=103, B=10): 3 segments x balanced
    // k=2 batches -> ids 0..5, every batch in [10, 16]
    val df = spark.range(103).toDF("id")
    val rev = BatchStream.assign(df, Seq(col("id")),
      BatchStream.Plan(numRows = Some(10L), shard = (0, 4), dropLast = Some(false),
        reverseSharding = true))
    val byBatch = rev.groupBy(BatchStream.BatchCol).count()
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(byBatch.keySet == (0L to 5L).toSet, s"expected ids 0..5: ${byBatch.keySet}")
    assert(byBatch.values.forall(v => v >= 10L && v <= 16L), s"batch sizes: $byBatch")
    assert(byBatch.values.sum == 103L - 26L) // shard 0 holds 2*10 + pad 6
    // numShards=1: the K-fold complement of the only shard is empty, not a crash
    val empty = BatchStream.assign(df, Seq(col("id")),
      BatchStream.Plan(numRows = Some(10L), shard = (0, 1), dropLast = Some(false),
        reverseSharding = true))
    assert(empty.count() == 0L)
    assert(empty.columns.contains(BatchStream.BatchCol))
  }

  test("splitNames formats part names") {
    assert(Sharding != null)
    assert(BatchStream.splitNames("x", Seq(3, 3, 1)) ==
      Seq("x-part-0001-rows-1-3", "x-part-0002-rows-4-6", "x-part-0003-rows-7-7"))
  }

  test("Plan rejects non-positive numRows/numChunks with a clear message") {
    // 0 used to reach `length / (shards * 0)` deep in the bounds math
    val e1 = intercept[IllegalArgumentException] {
      BatchStream.Plan(numRows = Some(0L))
    }
    assert(e1.getMessage.contains("numRows must be positive"))
    val e2 = intercept[IllegalArgumentException] {
      BatchStream.Plan(numChunks = Some(-3L))
    }
    assert(e2.getMessage.contains("numChunks must be positive"))
  }

  /** Run `body` with the SQL confs set, restoring (or unsetting) them after. */
  private def withConf[A](kv: (String, String)*)(body: => A): A = {
    val before = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def idBatches(assigned: org.apache.spark.sql.DataFrame): Seq[(Long, Seq[Long])] =
    BatchStream.toLocalBatches(assigned).map { case (b, rows) => b -> rows.map(_.getLong(0)) }.toSeq

  /** Driver-side reference for one plan: the ids in sort order, cut by
    * [[Sharding]]'s bounds and batch sizes alone.
    */
  private def referenceBatches(order: IndexedSeq[Long], plan: BatchStream.Plan): Seq[(Long, Seq[Long])] = {
    val (rank, s) = plan.shard
    val bounds = Sharding.inMemoryShardBounds(order.size.toLong, s,
      plan.numRows.getOrElse(1L), plan.dropLast.contains(true))
    val segments = bounds.zipWithIndex.collect {
      case ((a, e, k), i) if plan.reverseSharding ^ (i == rank) => (order.slice(a.toInt, e.toInt), k)
    }
    val shardIds = segments.flatMap(_._1)
    def cut(ids: Seq[Long], sizes: Seq[Long]): Seq[Seq[Long]] =
      sizes.scanLeft(0L)(_ + _).zip(sizes).map { case (off, sz) => ids.slice(off.toInt, (off + sz).toInt) }
    val batches = (plan.numRows, plan.dropLast) match {
      case (Some(b), Some(false)) => // every original shard's segment pads its own last batch
        segments.flatMap { case (ids, k) => cut(ids, Sharding.batchSizes(ids.size, Some(b), None, Some(false), k)) }
      case (Some(b), d) => cut(shardIds, Sharding.batchSizes(shardIds.size, Some(b), None, d, shardIds.size / b))
      case (None, _) => cut(shardIds, Sharding.batchSizes(shardIds.size, None, plan.numChunks, plan.dropLast, 0L))
    }
    batches.filter(_.nonEmpty).zipWithIndex.map { case (ids, i) => i.toLong -> ids }
  }

  test("spark assign: positions across many sorted partitions == driver-side Sharding reference") {
    val n = 500L
    val seed = 11L
    val df = spark.range(0, n, 1, 7).withColumn("payload", concat(lit("r"), col("id")))
    val byId = (0L until n).toIndexedSeq
    val byHash = spark.range(n).select(col("id"), xxhash64(col("id"), lit(seed)))
      .collect().map(r => (r.getLong(1), r.getLong(0))).sorted.map(_._2).toIndexedSeq
    withConf("spark.sql.adaptive.coalescePartitions.enabled" -> "false",
        "spark.sql.shuffle.partitions" -> "6") {
      val sizes = BatchStream.withPosition(df, Seq(col("id")), shuffle = true, seed)
        .rdd.mapPartitions(it => Iterator.single(it.size)).collect()
      assert(sizes.count(_ > 0) >= 5, s"sorted partition sizes: ${sizes.mkString(",")}")
      val cases = for {
        chunks <- Seq(false, true)
        dropLast <- Seq(None, Some(false), Some(true))
        shuffle <- Seq(true, false)
        reverse <- Seq(false, true)
      } yield (chunks, dropLast, shuffle, reverse)
      cases.zipWithIndex.foreach { case ((chunks, dropLast, shuffle, reverse), i) =>
        val plan = BatchStream.Plan(
          numRows = if (chunks) None else Some(7L), numChunks = if (chunks) Some(4L) else None,
          shard = (i % 3, 3), dropLast = dropLast, shuffle = shuffle, seed = seed,
          reverseSharding = reverse)
        val want = referenceBatches(if (shuffle) byHash else byId, plan)
        assert(idBatches(BatchStream.assign(df, Seq(col("id")), plan)) == want, plan)
      }
    }
  }

  test("spark toLocalBatches: reads an assigned frame with no shuffle or sort, in 3 + 1 jobs") {
    import org.apache.spark.sql.execution.SortExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import graft.core.JobCounter
    val df = spark.range(0, 103, 1, 3).withColumn("payload", concat(lit("r"), col("id")))
    val plan = BatchStream.Plan(numRows = Some(10L), shard = (1, 4), dropLast = Some(false),
      shuffle = true, seed = 5L)
    val assignJobs = new JobCounter
    val assigned = assignJobs.observe(spark.sparkContext)(BatchStream.assign(df, Seq(col("id")), plan))
    val consumeJobs = new JobCounter
    val batches = consumeJobs.observe(spark.sparkContext)(idBatches(assigned))
    // the sort's sampling and map jobs, then the per-partition count; one
    // read of the rows with no SQL execution
    assert((assignJobs.jobs, assignJobs.sqlExecutions) == ((3, 1)))
    assert((consumeJobs.jobs, consumeJobs.sqlExecutions) == ((1, 0)))
    assert(batches.map(_._2.size).sum == 26L)

    // another rank of the same frame object reuses its positions; a new seed
    // or a fresh frame positions afresh
    def assignJobsOf(frame: org.apache.spark.sql.DataFrame, p: BatchStream.Plan): Int = {
      val c = new JobCounter
      c.observe(spark.sparkContext)(BatchStream.assign(frame, Seq(col("id")), p))
      c.jobs
    }
    assert(assignJobsOf(df, plan.copy(shard = (2, 4))) == 0)
    assert(assignJobsOf(df, plan.copy(seed = 6L)) == 3)
    assert(assignJobsOf(df.select("*"), plan) == 3)

    val ordered = assigned.orderBy(col(BatchStream.PosCol))
    ordered.collect()
    val helper = new AdaptiveSparkPlanHelper {}
    val executed = ordered.queryExecution.executedPlan
    assert(helper.collect(executed) { case e: ShuffleExchangeExec => e }.isEmpty, executed)
    assert(helper.collect(executed) { case s: SortExec => s }.isEmpty, executed)

    // a caller's reorder brings the Exchange and Sort back: same batches
    assert(idBatches(assigned.repartition(7)) == batches)
  }

  test("spark toLocalBatches: each rank reads only the sorted partitions its intervals meet") {
    import graft.core.JobCounter
    val n = 500L
    val seed = 11L
    val df = spark.range(0, n, 1, 7).withColumn("payload", concat(lit("r"), col("id")))
    val byHash = spark.range(n).select(col("id"), xxhash64(col("id"), lit(seed)))
      .collect().map(r => (r.getLong(1), r.getLong(0))).sorted.map(_._2).toIndexedSeq
    withConf("spark.sql.adaptive.coalescePartitions.enabled" -> "false",
        "spark.sql.shuffle.partitions" -> "6") {
      val sizes = BatchStream.withPosition(df, Seq(col("id")), shuffle = true, seed)
        .rdd.mapPartitions(it => Iterator.single(it.size.toLong)).collect()
      val starts = sizes.scanLeft(0L)(_ + _)
      val nonEmpty = sizes.count(_ > 0)
      assert(nonEmpty >= 5, s"sorted partition sizes: ${sizes.mkString(",")}")
      val bounds = Sharding.inMemoryShardBounds(n, 3, 7L, dropLast = true)
      (0 until 3).foreach { r =>
        val plan = BatchStream.Plan(numRows = Some(7L), shard = (r, 3), dropLast = Some(true),
          shuffle = true, seed = seed)
        val (a, e, _) = bounds(r)
        val meets = sizes.indices.count(i => sizes(i) > 0 && starts(i) < e && a < starts(i + 1))
        val assigned = BatchStream.assign(df, Seq(col("id")), plan)
        val read = new JobCounter
        val batches = read.observe(spark.sparkContext)(idBatches(assigned))
        assert(meets < nonEmpty, s"rank $r meets every partition: ${sizes.mkString(",")}")
        assert((read.tasks, read.sqlExecutions) == ((meets, 0)), s"rank $r")
        assert(batches == referenceBatches(byHash, plan), plan)
      }
    }
  }

  test("spark withPosition: the positioned frame caches, aggregates and holds distinct positions") {
    val n = 250L
    val df = spark.range(0, n, 1, 5).withColumn("payload", concat(lit("r"), col("id")))
    withConf("spark.sql.adaptive.coalescePartitions.enabled" -> "false") {
      val positioned = BatchStream.withPosition(df, Seq(col("id")), shuffle = true, 3L).cache()
      try {
        assert(positioned.count() == n)
        val pairs = positioned.select(col(BatchStream.PosCol), col("id"), col("payload")).collect()
        assert(pairs.map(_.getLong(0)).sorted.toSeq == (0L until n))
        assert(pairs.forall(r => r.getString(2) == s"r${r.getLong(1)}"))
      } finally positioned.unpersist()
      val assigned = BatchStream.assign(df, Seq(col("id")),
        BatchStream.Plan(numRows = Some(25L), shard = (0, 2), dropLast = Some(true), shuffle = true))
      val byBatch = assigned.groupBy(BatchStream.BatchCol).count()
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(byBatch == (0L until 5L).map(_ -> 25L).toMap)
    }
  }

  test("stream-static incremental dedup == batch anti-join + digest dedup") {
    import graft.streaming.EventStreams
    import graft.core.GraftSession
    import graft.ops.{Dedup, TextAnalysis}
    val dir = "/root/testdata/sf0.001"
    val batchEvents = GraftSession.table(spark, dir, "events")
    // "existing state": digests of props seen for user 0 (49 of the 100
    // distinct props values — the other 51 must flow through as unseen)
    val state = Dedup.contentDigests(
      batchEvents.filter(col("user_id") === 0), col("props"))
    val streamed = EventStreams.runToCompletion(
      EventStreams.dedupAgainstState(
        EventStreams.readEvents(spark, dir), col("props"), state, "10 minutes"),
      "append")
      .select(col("event_id")).collect().map(_.getLong(0)).toSet
    // batch equivalent: anti-join on digest, then first-event-per-digest
    val withD = batchEvents.withColumn("__d__", TextAnalysis.fingerprint(col("props")))
    val batch = withD
      .join(state.withColumnRenamed("digest", "__d__"), Seq("__d__"), "left_anti")
      .orderBy(col("ts"), col("event_id"))
      .dropDuplicates(Seq("__d__"))
      .select(col("event_id")).collect().map(_.getLong(0)).toSet
    assert(streamed.nonEmpty, "some unseen-digest events must survive")
    // same digest SET survives (which representative event survives an
    // in-stream repeat is arrival-order-defined in both engines)
    def digestsOf(ids: Set[Long]) = withD
      .filter(col("event_id").isin(ids.toSeq: _*))
      .select(col("__d__")).collect().map(_.getLong(0)).toSet
    assert(digestsOf(streamed) == digestsOf(batch))
    assert(streamed.size == batch.size)
  }

  test("streaming corpus curation == batch gates + anti-join + digest dedup") {
    import graft.streaming.EventStreams
    import graft.core.GraftSession
    import graft.ops.{Dedup, TextAnalysis}
    val dir = "/root/testdata/sf0.001"
    val docs = GraftSession.table(spark, dir, "documents")
    // "already ingested": digests of the first 50 docs
    val state = Dedup.contentDigests(docs.filter(col("doc_id") < 50), col("text"))
    val minTok = 30L; val minEnt = 2.0
    val streamed = EventStreams.runToCompletion(
      EventStreams.curateDocuments(
        EventStreams.readDocuments(spark, dir), col("text"),
        minTok, minEnt, state, "10 minutes"),
      "append")
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val withD = docs
      .filter(TextAnalysis.tokenCount(col("text")) >= minTok &&
        TextAnalysis.charEntropy(col("text")) >= minEnt)
      .withColumn("__d__", TextAnalysis.fingerprint(col("text")))
    val batch = withD
      .join(state.withColumnRenamed("digest", "__d__"), Seq("__d__"), "left_anti")
      .orderBy(col("doc_id"))
      .dropDuplicates(Seq("__d__"))
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(streamed.nonEmpty, "gated unseen docs must survive")
    assert(streamed.forall(_ >= 50), "already-ingested digests must not re-emit")
    def digestsOf(ids: Set[Long]) = withD
      .filter(col("doc_id").isin(ids.toSeq: _*))
      .select(col("__d__")).collect().map(_.getLong(0)).toSet
    assert(digestsOf(streamed) == digestsOf(batch))
    assert(streamed.size == batch.size)
  }

  test("streaming parquet sink round-trips the same result as the memory sink") {
    import graft.streaming.EventStreams
    val dir = "/root/testdata/sf0.001"
    val out = java.nio.file.Files.createTempDirectory("graft_stream_sink").toString + "/tumbling"
    def counts(df: org.apache.spark.sql.DataFrame): Seq[(Any, String, Long)] =
      df.select(col("w_start"), col("event_type"), col("n"))
        .collect().map(r => (r.get(0), r.getString(1), r.getLong(2))).toSeq
        .sortBy(t => (t._1.toString, t._2))
    val viaMemory = counts(EventStreams.runToCompletion(
      EventStreams.tumblingCounts(EventStreams.readEvents(spark, dir), "5 minutes", "1 minute"),
      "complete"))
    val viaParquet = counts(EventStreams.runToParquet(
      EventStreams.tumblingCounts(EventStreams.readEvents(spark, dir), "5 minutes", "1 minute"),
      "complete", out))
    assert(viaParquet.nonEmpty && viaParquet == viaMemory)
  }
}
