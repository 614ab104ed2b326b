package perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.SparkSession

/** One reported number. `n` is the sample count behind it. */
final case class Metric(name: String, value: Double, unit: String, n: Int = 1)

/** What a workload run measured and checked. */
final case class Outcome(
    setupS: Double,
    endToEnd: Seq[Metric],
    perLayer: Seq[Metric],
    attempted: Long,
    failures: Seq[String],
    failedUnits: Long,
    properties: Seq[(String, Any)])

/** Everything a workload needs: the session, the engine listener, the
  * tracer, the run's seed and time budget, and a private work directory.
  */
final class Ctx(
    val spark: SparkSession,
    val engine: Engine,
    val tracer: Tracer,
    val heap: HeapWatch,
    val seed: Long,
    val seconds: Double,
    val traced: Boolean,
    val work: String,
    val sessionS: Double) {

  val cores: Int = spark.sparkContext.defaultParallelism

  def path(name: String): String = Paths.get(work, name).toString

  /** Wait until the listener has seen every event posted so far. */
  def drain(): Unit = Engine.drain(spark.sparkContext)

  /** Drop every cached frame and RDD, so each pass starts from the files. */
  def release(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }
}

object Main {

  val Workloads: Map[String, Ctx => Outcome] = Map(
    "curate" -> Curate.run,
    "feed" -> Feed.run,
    "serve" -> Serve.run)

  /** Per-layer metric names every traced run reports, with their units; a
    * layer a workload does not touch reads 0.
    */
  val PerLayer: Seq[(String, String)] = Seq(
    "core.session_start_s" -> "s",
    "io.read_s" -> "s", "io.read_bytes" -> "bytes", "io.scan_amplification" -> "ratio",
    "io.parquet_write_s" -> "s", "io.write_bytes" -> "bytes",
    "io.arrow_write_s" -> "s", "io.arrow_read_s" -> "s",
    "ops.exact_dedup_s" -> "s", "ops.lsh_edges_s" -> "s", "ops.lsh_edges" -> "count",
    "ops.components_s" -> "s", "ops.quality_filter_s" -> "s", "ops.docs_kept" -> "count",
    "ops.near_dup_recall" -> "fraction",
    "functions.md5_hash60.rows_per_s" -> "rows/s", "functions.word_tokens.rows_per_s" -> "rows/s",
    "processor.fit_s" -> "s", "processor.fit_jobs" -> "count", "processor.transform_s" -> "s",
    "processor.jobs_per_request" -> "count",
    "stream.assign_s" -> "s", "stream.first_batch_s" -> "s", "stream.consumer_wait_s" -> "s",
    "stream.consumer_busy_s" -> "s", "stream.batches" -> "count", "stream.rows_delivered" -> "count"
  ) ++ Counters().metrics(1.0, 1).map(m => m._1 -> m._3) ++ Seq(
    "self.core_s" -> "s", "self.io_s" -> "s", "self.ops_s" -> "s", "self.processor_s" -> "s",
    "self.stream_s" -> "s", "self.bench_s" -> "s",
    "trace.unit_s" -> "s", "trace.overhead_s" -> "s")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opts.getOrElse("workload", sys.error("--workload required"))
    val run = Workloads.getOrElse(workload,
      sys.error(s"unknown workload $workload; known: ${Workloads.keys.toSeq.sorted.mkString(", ")}"))
    val seed = opts.getOrElse("seed", "1").toLong
    val seconds = opts.getOrElse("seconds", "10").toDouble
    val traced = opts.getOrElse("trace", "0") == "1"
    val work = Paths.get(opts.getOrElse("work", "perfbench-work"), s"$workload-$seed-${if (traced) 1 else 0}")
    val records = Paths.get(opts.getOrElse("records", "perfbench-records"))
    deleteTree(work)
    Files.createDirectories(work)
    Files.createDirectories(records)

    val heap = new HeapWatch
    val t0 = System.nanoTime()
    val spark = graft.core.GraftSession.local()
    val sessionS = (System.nanoTime() - t0) / 1e9
    val engine = new Engine
    spark.sparkContext.addSparkListener(engine)
    val tracer = new Tracer(spark.sparkContext)
    val ctx = new Ctx(spark, engine, tracer, heap, seed, seconds, traced, work.toString, sessionS)

    val out =
      try run(ctx)
      finally spark.stop()
    deleteTree(work)

    val e2e = (Metric("setup_s", out.setupS, "s") +: out.endToEnd) :+
      Metric("peak_live_heap_mb", heap.peakMb, "MB")
    val layers = {
      val got = out.perLayer.map(m => m.name -> m).toMap
      PerLayer.map { case (n, u) => got.getOrElse(n, Metric(n, 0.0, u)) }
    }
    val reported = if (traced) layers else e2e
    val failed = out.failedUnits
    val failFrac = failed.toDouble / math.max(1L, out.attempted)
    (reported :+ Metric("fail_frac", failFrac, "fraction", out.attempted.toInt)).foreach { m =>
      println(f"perfbench $workload%-6s ${m.name}%-34s ${m.value}%14.6f ${m.unit}%-8s n=${m.n}")
    }
    out.failures.take(20).foreach(f => println(s"perfbench $workload FAILED: $f"))

    val record = Obj(Seq(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> traced,
      "properties" -> Obj(out.properties),
      "metrics" -> Obj(reported.map(m => m.name -> Obj(Seq("value" -> m.value, "unit" -> m.unit, "n" -> m.n)))),
      "attempted" -> out.attempted, "failed" -> failed, "failures" -> out.failures,
      "spans" -> tracer.spans.map(s => Obj(Seq("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "unit" -> s.unit, "start_ns" -> s.startNs, "end_ns" -> s.endNs))),
      "counters" -> engine.snapshot().toSeq.collect { case (Some((u, sp)), c) =>
        Obj(Seq("unit" -> u, "span" -> sp) ++ c.productElementNames.zip(c.productIterator).toSeq)
      }))
    Files.writeString(records.resolve(s"$workload-seed$seed-trace${if (traced) 1 else 0}.json"),
      Json(record) + "\n")

    println(Json(Obj(Seq(
      "correct" -> (failed == 0),
      "attempted" -> out.attempted,
      "failed" -> failed,
      "metrics" -> Obj(reported.map(m => m.name -> Obj(Seq("value" -> m.value, "unit" -> m.unit))))))))
  }

  private def deleteTree(p: java.nio.file.Path): Unit =
    if (Files.exists(p)) {
      val all = Files.walk(p)
      try all.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
      finally all.close()
    }
}

/** The closed loop of a batch workload: one client runs passes back to back
  * until the time budget is spent and enough passes ran. In a traced run the
  * passes alternate untraced and traced, so the difference between the two
  * kinds is the tracing overhead measured in the same process.
  */
object Loop {

  /** One measured pass; its frames are dropped once checked, so only the
    * numbers the checks took from them outlive it.
    */
  final case class Pass(id: Long, traced: Boolean, wallS: Double,
      failures: Seq[String], counts: Map[String, Double])

  /** Checks of one pass: failure messages and counts worth reporting. */
  final case class Checked(failures: Seq[String], counts: Map[String, Double] = Map.empty)

  /** Passes an untraced run makes at least; a traced run makes at least two
    * of each kind.
    */
  val MinPasses = 3

  /** Run one untimed, cold pass (unit 0) and return its wall seconds. */
  def warmup(ctx: Ctx)(pass: => Any): Double = seconds {
    ctx.tracer.unitOf("bench.pass", 0, traced = false)(pass)
    ctx.release()
  }

  /** Run passes; `check` runs after each pass's wall time is taken, outside
    * the unit, and every cache is released before the next pass.
    */
  def run[R](ctx: Ctx)(pass: => R)(check: R => Checked): Seq[Pass] = {
    val out = ArrayBuffer[Pass]()
    val t0 = System.nanoTime()
    val need = if (ctx.traced) 2 else MinPasses
    def enough(traced: Boolean) = out.count(_.traced == traced) >= need
    var id = 1L
    while ((System.nanoTime() - t0) / 1e9 < ctx.seconds || !enough(false) || (ctx.traced && !enough(true))) {
      val traced = ctx.traced && id % 2 == 0
      val s = System.nanoTime()
      val r = ctx.tracer.unitOf("bench.pass", id, traced)(pass)
      val wall = (System.nanoTime() - s) / 1e9
      val c = try check(r) catch { case e: Exception => Checked(Seq(s"pass $id check threw: $e")) }
      ctx.heap.sample()
      ctx.release()
      out += Pass(id, traced, wall, c.failures, c.counts)
      id += 1
    }
    out.toSeq
  }

  /** The spans and engine counters of one traced unit. */
  final case class UnitTrace(seconds: Map[String, Double], counters: Map[String, Counters],
      metrics: Seq[Metric])

  /** Per-layer view of one traced unit: span seconds by name (summed when a
    * call repeats), engine counters by span name, self time by layer, which
    * adds up to the unit's root span, and the unit's `spark.*` counters.
    */
  def unitTrace(ctx: Ctx, unit: Long): UnitTrace = {
    ctx.drain()
    val spans = ctx.tracer.spans.filter(_.unit == unit)
    val wallS = spans.filter(_.parent == -1).map(_.seconds).sum
    val byName = spans.groupBy(_.name)
    val self = Span.selfByLayer(spans)
    val selfMetrics = Seq("core", "io", "ops", "processor", "stream", "bench")
      .map(l => Metric(s"self.${l}_s", self.getOrElse(l, 0.0), "s"))
    val spark = ctx.engine.unit(unit).metrics(wallS, ctx.cores).map { case (n, v, u) => Metric(n, v, u) }
    UnitTrace(
      byName.map { case (n, ss) => n -> ss.map(_.seconds).sum },
      byName.map { case (n, ss) => n -> ss.map(s => ctx.engine.span(unit, s.id)).foldLeft(Counters())(_ + _) },
      selfMetrics ++ spark :+ Metric("trace.unit_s", wallS, "s"))
  }

  /** The traced pass of median wall time, whose per-layer numbers add up. */
  def medianTraced(passes: Seq[Pass]): Pass = {
    val traced = passes.filter(_.traced)
    traced(Stats.medianIndex(traced.map(_.wallS)))
  }

  /** Pass-level end-to-end metrics from the untraced passes: `units` of work
    * per pass over its wall time, and the pass wall as latency.
    */
  def passMetrics(passes: Seq[Pass], units: Pass => Double, first: Pass => Double): Seq[Metric] = {
    val ok = passes.filter(p => !p.traced && p.failures.isEmpty)
    if (ok.isEmpty) return Nil
    val walls = ok.map(_.wallS)
    val n = ok.size
    Seq(
      Metric("rows_per_s", Stats.median(ok.map(p => units(p) / p.wallS)), "rows/s", n),
      Metric("latency_p50_ms", Stats.median(walls) * 1e3, "ms", n),
      // a handful of passes: nearest-rank p95 is the slowest pass
      Metric("latency_p95_ms", Stats.percentile(walls, 95.0) * 1e3, "ms", n),
      Metric("first_batch_s", Stats.median(ok.map(first)), "s", n))
  }

  /** Tracing overhead: median traced unit minus median untraced unit. */
  def overhead(walls: Seq[(Boolean, Double)]): Metric = {
    val t = walls.collect { case (true, w) => w }
    val u = walls.collect { case (false, w) => w }
    Metric("trace.overhead_s", Stats.median(t) - Stats.median(u), "s", t.size + u.size)
  }

  /** Rows per second of projecting `fn` over the workload's own text into the
    * no-op sink, median of three runs. The text is replicated to at least
    * `minRows` rows and cached first, so the job measures the kernel rather
    * than the scan or the per-job overhead.
    */
  def kernelRate(ctx: Ctx, textPath: String, minRows: Long,
      fn: org.apache.spark.sql.Column => org.apache.spark.sql.Column): Double = {
    import org.apache.spark.sql.functions.col
    val text = ctx.spark.read.parquet(textPath).select(col("text"))
    val n = text.count()
    val copies = math.max(1L, (minRows + n - 1) / n)
    val rows = text.crossJoin(ctx.spark.range(copies)).select(col("text"))
      .repartition(ctx.cores).persist()
    val total = rows.count()
    val times = (1 to 3).map { _ =>
      val s = System.nanoTime()
      rows.select(fn(col("text")).as("k")).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - s) / 1e9
    }
    rows.unpersist(blocking = true)
    total / Stats.median(times)
  }

  /** Kernel rates of the `functions` layer over the workload's text. */
  def kernelMetrics(ctx: Ctx, textPath: String): Seq[Metric] = Seq(
    Metric("functions.md5_hash60.rows_per_s",
      kernelRate(ctx, textPath, 50000L, graft.functions.Md5Hash60.md5_hash60), "rows/s", 3),
    Metric("functions.word_tokens.rows_per_s",
      kernelRate(ctx, textPath, 50000L, c => graft.functions.WordTokens.word_tokens(c)), "rows/s", 3))

  /** Wall seconds of `body`. */
  def seconds(body: => Any): Double = {
    val s = System.nanoTime()
    body
    (System.nanoTime() - s) / 1e9
  }

  /** Run `body` `times` times and return the median wall seconds. */
  def medianOf(times: Int)(body: => Any): Double = Stats.median((1 to times).map(_ => seconds(body)))
}
