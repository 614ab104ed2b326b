package perfbench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import graft.core.{MLSchema, MLType, ResultDigest}
import graft.io.{ArrowIpc, Readers}
import graft.processor.{DataPipeline, PipelineConfig}
import graft.stream.{BatchStream, Sharding}

/** `feed`: an ML training feed. Each pass fits the processor pipeline on the
  * table, transforms it, assigns shuffled fixed-size batches for four shards,
  * hands every batch of every shard to the driver-side consumer, and writes
  * the features as a sharded Arrow feed which it reads back.
  *
  * Why: it is the pillar-2/4 path: processor fit aggregates, a per-row
  * higher-order-function projection, the stream's sort and range
  * repartition, and driver iteration, with almost no shuffle. A dedup gain
  * must read "no change" here.
  */
object Feed {

  val Spec: Gen.FeedSpec = Gen.FeedSpec(rows = 1500)
  val Dim = 8
  val Shards = 4
  val BatchRows = 32L

  /** Imputers, label encoding, lower-casing and hashed text features at the
    * vectorizer's default L2 norm.
    */
  val Config: PipelineConfig = PipelineConfig.fromYaml(
    s"""pipeline:
       |  - input: [categorical]
       |    transformer: CategoricalMissingValueImputation
       |  - input: [float]
       |    transformer: NumericMissingValueImputation
       |  - input: [categorical]
       |    transformer: LabelEncoding
       |    output: "{col_name}_code"
       |  - input: [text]
       |    transformer: CaseTransformation
       |  - input: [text]
       |    transformer: HashedTextVectorization
       |    params: {dim: $Dim}
       |    output: "{col_name}_vec"
       |""".stripMargin)

  val Schema: MLSchema = MLSchema(Map(
    "id" -> MLType.Index, "text" -> MLType.Text,
    "cat_a" -> MLType.Categorical, "cat_b" -> MLType.Categorical,
    "num_x" -> MLType.Float, "num_y" -> MLType.Float))

  /** What the consumer received from one shard. */
  final case class Consumed(shard: Int, batchSizes: Seq[Long], ids: Array[Long])

  final case class PassOut(feat: DataFrame, readback: DataFrame, shards: Seq[Consumed],
      fitS: Double, firstBatchS: Double, streamFirstS: Double, waitS: Double, busyS: Double)

  def pass(ctx: Ctx, input: String, arrowDir: String): PassOut = {
    val tr = ctx.tracer
    val t0 = System.nanoTime()
    val raw = tr.lazySpan("io.read")(Readers.read(ctx.spark, input))
    val pipe = new DataPipeline(Config)
    tr.span("processor.fit")(pipe.fit(raw, Schema))
    val feat = tr.lazySpan("processor.transform")(pipe.transform(raw, Schema))
    val idIdx = feat.columns.indexOf("id")
    var first = -1L
    var streamFirst = -1L
    var waitNs = 0L
    var busyNs = 0L
    val shards = (0 until Shards).map { rank =>
      val plan = BatchStream.Plan(numRows = Some(BatchRows), shard = (rank, Shards),
        dropLast = Some(true), shuffle = true, seed = ctx.seed)
      val assigned = tr.lazySpan("stream.assign")(BatchStream.assign(feat, Seq(col("id")), plan))
      tr.span("stream.consume") {
        val c0 = System.nanoTime()
        val it = BatchStream.toLocalBatches(assigned) // fetches the first rows
        waitNs += System.nanoTime() - c0
        val sizes = ArrayBuffer[Long]()
        val ids = Array.newBuilder[Long]
        var more = true
        while (more) {
          val w0 = System.nanoTime()
          more = it.hasNext
          val batch = if (more) Some(it.next()) else None
          val w1 = System.nanoTime()
          waitNs += w1 - w0
          batch.foreach { case (_, rows) =>
            if (first < 0) { first = w1 - t0; streamFirst = w1 - c0 }
            sizes += rows.size.toLong
            rows.foreach(r => ids += r.getLong(idIdx))
          }
          busyNs += System.nanoTime() - w1
        }
        Consumed(rank, sizes.toSeq, ids.result())
      }
    }
    tr.span("io.arrow_write")(ArrowIpc.writeStreamSharded(feat, arrowDir, Shards, Seq("id"), seed = ctx.seed))
    val back = tr.span("io.arrow_read") {
      val b = ArrowIpc.readStreamSharded(ctx.spark, arrowDir)
      Tracer.force(b) // the feed's reader consumes every row
      b
    }
    PassOut(feat, back, shards, pipe.lastFitPerf.map(_.fitSec).sum,
      first / 1e9, streamFirst / 1e9, waitNs / 1e9, busyNs / 1e9)
  }

  /** Rows per shard against the closed form of `Sharding`, shard
    * disjointness, and the Arrow readback against `want`, the digest of the
    * transform.
    */
  def check(out: PassOut, rows: Long, want: ResultDigest.Digest): Loop.Checked = {
    val failures = Seq.newBuilder[String]
    val bounds = Sharding.inMemoryShardBounds(rows, Shards, BatchRows, dropLast = true)
    out.shards.foreach { c =>
      val (start, end, k) = bounds(c.shard)
      val expected = Sharding.batchSizes(end - start, Some(BatchRows), None, Some(true), k)
      if (c.batchSizes != expected)
        failures += s"shard ${c.shard} delivered batches ${c.batchSizes.mkString(",")}, expected ${expected.mkString(",")}"
    }
    val all = out.shards.flatMap(_.ids)
    if (all.distinct.size != all.size) failures += s"shards overlap: ${all.size - all.distinct.size} repeated ids"
    val got = ResultDigest.digest(out.readback)
    if (!want.matches(got)) failures += s"arrow readback digest $got differs from transform $want"
    Loop.Checked(failures.result(), Map(
      "rows" -> all.size.toDouble, "batches" -> out.shards.map(_.batchSizes.size).sum.toDouble,
      "fit_s" -> out.fitS, "first_batch_s" -> out.firstBatchS, "stream_first_s" -> out.streamFirstS,
      "wait_s" -> out.waitS, "busy_s" -> out.busyS))
  }

  def run(ctx: Ctx): Outcome = {
    val input = ctx.path("table.parquet")
    val arrowDir = ctx.path("feed-arrow")
    var table: Gen.Feed = null
    val genS = Loop.medianOf(3) {
      table = Gen.feed(ctx.seed, Spec)
      Gen.writeParquet(Gen.feedFrame(ctx.spark, table), input)
    }
    val warmS = Loop.warmup(ctx)(pass(ctx, input, arrowDir))
    val rows = table.rows.length.toLong
    // every pass fits and transforms the same table the same way: the
    // transform's digest is computed once, from the first pass's frame
    var want: Option[ResultDigest.Digest] = None

    val passes = Loop.run(ctx)(pass(ctx, input, arrowDir)) { out =>
      if (want.isEmpty) want = Some(ResultDigest.digest(out.feat))
      check(out, rows, want.get)
    }

    val e2e = Loop.passMetrics(passes, _.counts("rows"), _.counts("first_batch_s"))
    val layers = if (!ctx.traced) Nil else {
      val p = Loop.medianTraced(passes)
      val t = Loop.unitTrace(ctx, p.id)
      def sec(n: String) = t.seconds.getOrElse(n, 0.0)
      val c = p.counts
      t.metrics ++ Seq(
        Metric("core.session_start_s", ctx.sessionS, "s"),
        Metric("io.read_s", sec("io.read"), "s"),
        Metric("io.read_bytes", t.counters.get("io.read").fold(0.0)(_.scanBytes.toDouble), "bytes"),
        Metric("io.scan_amplification", ctx.engine.unit(p.id).scanRows / rows.toDouble, "ratio"),
        Metric("io.arrow_write_s", sec("io.arrow_write"), "s"),
        Metric("io.arrow_read_s", sec("io.arrow_read"), "s"),
        Metric("processor.fit_s", c("fit_s"), "s"),
        Metric("processor.fit_jobs", t.counters.get("processor.fit").fold(0.0)(_.jobs.toDouble), "count"),
        Metric("processor.transform_s", sec("processor.transform"), "s"),
        Metric("stream.assign_s", sec("stream.assign"), "s"),
        Metric("stream.first_batch_s", c("stream_first_s"), "s"),
        Metric("stream.consumer_wait_s", c("wait_s"), "s"),
        Metric("stream.consumer_busy_s", c("busy_s"), "s"),
        Metric("stream.batches", c("batches"), "count"),
        Metric("stream.rows_delivered", c("rows"), "count"),
        Loop.overhead(passes.map(q => q.traced -> q.wallS))) ++
        Loop.kernelMetrics(ctx, input)
    }
    Outcome(
      setupS = ctx.sessionS + genS + warmS,
      endToEnd = e2e,
      perLayer = layers,
      attempted = passes.size,
      failures = passes.flatMap(_.failures),
      failedUnits = passes.count(_.failures.nonEmpty),
      properties = table.properties ++ Seq(
        "session_s" -> ctx.sessionS, "generate_s" -> genS, "warmup_s" -> warmS,
        "dim" -> Dim, "norm" -> "l2", "shards" -> Shards, "batch_rows" -> BatchRows,
        "drop_last" -> true, "pass_walls_s" -> passes.map(_.wallS)))
  }
}
