package perfbench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.Row
import graft.io.Readers
import graft.processor.DataPipeline

/** `serve`: single-record inference. A pipeline fitted during setup receives
  * one request per seeded record, each sent through
  * `DataPipeline.transformLocal`, one client in a closed loop.
  *
  * Why: it uses the same processor layer per record instead of in bulk. A
  * change that speeds up bulk transform but adds planning per call shows
  * here, and the path must launch no Spark job.
  */
object Serve {

  val Spec: Gen.FeedSpec = Gen.FeedSpec(rows = 1000)
  /** Requests of each kind a run makes at least, even when `--seconds` ends
    * sooner: enough for a p95 with ten samples beyond it.
    */
  val MinRequests: Int = Stats.samplesFor(95.0)

  /** Untimed requests before measuring. Latency keeps falling for several
    * hundred more while the JIT compiles the planner; a longer warm-up did
    * not fit the run budget.
    */
  val WarmupRequests = 150

  def run(ctx: Ctx): Outcome = {
    val tr = ctx.tracer
    val input = ctx.path("table.parquet")
    var table: Gen.Feed = null
    val genS = Loop.medianOf(3) {
      table = Gen.feed(ctx.seed, Spec)
      Gen.writeParquet(Gen.feedFrame(ctx.spark, table), input)
    }
    val raw = Readers.read(ctx.spark, input)
    val pipe = new DataPipeline(Feed.Config)
    val fitS = Loop.seconds {
      tr.unitOf("bench.setup", -1, ctx.traced)(tr.span("processor.fit")(pipe.fit(raw, Feed.Schema)))
    }
    // reference rows from the bulk transform, for the per-request check
    val bulk = pipe.transform(raw, Feed.Schema).collect().map(r => r.getLong(r.fieldIndex("id")) -> r).toMap
    val sparkSchema = raw.schema
    val records = table.rows
    val order = {
      val rng = new java.util.SplittableRandom(ctx.seed)
      Array.fill(records.length)(rng.nextInt(records.length))
    }
    def request(k: Int): Seq[Row] =
      pipe.transformLocal(ctx.spark, Seq(records(order(k % order.length))), sparkSchema, Feed.Schema)

    val warmS = Loop.seconds {
      (0 until WarmupRequests).foreach(k => tr.unitOf("bench.request", -2, traced = false)(request(k)))
    }

    val latencies = ArrayBuffer[(Boolean, Double)]()
    val failures = ArrayBuffer[String]()
    var failedUnits = 0L
    val t0 = System.nanoTime()
    var k = 0
    def enough = latencies.count(!_._1) >= MinRequests && (!ctx.traced || latencies.count(_._1) >= MinRequests)
    while ((System.nanoTime() - t0) / 1e9 < ctx.seconds || !enough) {
      val traced = ctx.traced && k % 2 == 1
      val s = System.nanoTime()
      val out = tr.unitOf("bench.request", k + 1, traced)(tr.span("processor.transform_local")(request(k)))
      latencies += traced -> (System.nanoTime() - s) / 1e9
      if (latencies.size % 100 == 0) ctx.heap.sample()
      val id = records(order(k % order.length)).getLong(0)
      if (out != Seq(bulk(id))) {
        failedUnits += 1
        if (failures.size < 20) failures += s"request ${k + 1} (id $id) returned $out, bulk transform gave ${bulk(id)}"
      }
      k += 1
    }

    ctx.drain()
    val requestJobs = ctx.engine.snapshot().collect { case (Some((u, _)), c) if u >= 1 && c.jobs > 0 => u -> c.jobs }
    if (requestJobs.nonEmpty) {
      failedUnits += requestJobs.size
      failures += s"${requestJobs.size} requests launched Spark jobs (${requestJobs.values.sum} jobs)"
    }

    val plain = latencies.collect { case (false, l) => l }.toSeq
    val n = plain.size
    val e2e = Seq(
      Metric("rows_per_s", n / plain.sum, "rows/s", n),
      Metric("latency_p50_ms", Stats.median(plain) * 1e3, "ms", n),
      Metric("latency_p95_ms", Stats.percentile(plain, 95.0) * 1e3, "ms", n),
      Metric("first_batch_s", Stats.median(plain), "s", n))
    val layers = if (!ctx.traced) Nil else {
      val traced = latencies.zipWithIndex.collect { case ((true, l), i) => (i + 1L, l) }.toSeq
      val t = Loop.unitTrace(ctx, traced(Stats.medianIndex(traced.map(_._2)))._1)
      val transformS = ctx.tracer.spans.filter(_.name == "processor.transform_local").map(_.seconds)
      t.metrics ++ Seq(
        Metric("core.session_start_s", ctx.sessionS, "s"),
        Metric("processor.fit_s", pipe.lastFitPerf.map(_.fitSec).sum, "s"),
        Metric("processor.fit_jobs", ctx.engine.unit(-1).jobs.toDouble, "count"),
        Metric("processor.transform_s", Stats.median(transformS), "s", transformS.size),
        Metric("processor.jobs_per_request", requestJobs.values.sum.toDouble / latencies.size, "count", latencies.size),
        Loop.overhead(latencies.toSeq)) ++
        Loop.kernelMetrics(ctx, input)
    }
    Outcome(
      setupS = ctx.sessionS + genS + fitS + warmS,
      endToEnd = e2e,
      perLayer = layers,
      attempted = latencies.size,
      failures = failures.toSeq,
      failedUnits = failedUnits,
      properties = table.properties ++ Seq(
        "session_s" -> ctx.sessionS, "generate_s" -> genS, "fit_s" -> fitS, "warmup_s" -> warmS,
        "dim" -> Feed.Dim, "norm" -> "l2", "requests" -> latencies.size, "clients" -> 1,
        "p50_ms_per_100_requests" -> plain.grouped(100).map(g => Stats.median(g) * 1e3).toSeq))
  }
}
