package graft

import graft.core.GraftSession
import graft.queries.QueryCorpus

/** Benchmark main: times the headline queries (QueryCorpus.benchNames) at
  * `SPARK_GRAFT_SF_DIR` and prints one JSON line for the driver.
  *
  * Materialization uses the `noop` sink so every output column is actually
  * computed (a bare `count()` lets Catalyst prune the plan to row counting).
  *
  * One estimator, read entirely from inside the run:
  *   - a discarded priming run, then one warm-up pass whose times order the
  *     timed pass cheapest-first, so one heavy query's GC or page-cache wake
  *     cannot poison a long tail of cheap ones;
  *   - each query's time is the min of two timed runs, plus one retry when
  *     the two disagree by more than [[SpreadLimit]] (see [[needsHealing]]);
  *   - the sf0.01 sibling dir, when present, is timed the same way;
  *   - the first-timed query is timed again after everything else, and
  *     last/first is the noise sentinel (see [[sentinelDegraded]]).
  *
  * The record (written to `GRAFT_BENCH_OUT`, default `bench_out.json`, and
  * printed as one line) carries: `value` (the total of per-query mins),
  * `queries` (the mins), `queries_raw` (every run, never rewritten),
  * `queries_warm` (warm-up times), `healed` (queries that took the retry),
  * `noise_sentinel`, `noise_sentinel_query`, `sentinel_degraded`, `sf`,
  * `r1_shared_total`, and `sf_small`/`queries_small` for the curve. A
  * failed run counts as -1. The last stdout line is [[summaryLine]].
  */
object Bench {

  /** Two valid timed runs of one query further apart than this factor cannot
    * both be its cost: one sat in a degraded window (GC storm, page-cache
    * eviction, outside contention), so a third run is taken.
    */
  val SpreadLimit = 3.0

  /** A sentinel ratio past this factor in either direction marks the run. */
  val SentinelLimit = 1.5

  /** The spread retry rule. Failed runs (< 0) never retry: a deterministic
    * failure fails again identically. One retry at most: a box degraded for
    * the whole bench should stay visibly degraded, not retry forever.
    */
  def needsHealing(a: Double, b: Double): Boolean =
    a > 0 && b > 0 && math.max(a, b) / math.min(a, b) > SpreadLimit

  /** Two-sided sentinel rule (r6 lesson: the official run carried sentinel
    * 0.54 — the first-timed query ran ~2× SLOWER at the start than at the
    * end, proving the run *started* inside a degraded window — yet nothing
    * acted on it because only >> 1 was treated as degraded). A healthy run
    * has last/first ≈ 1.0; deviation past [[SentinelLimit]] in EITHER
    * direction means part of the run sat in an unhealthy window. Failed
    * sentinel legs (ratio <= 0) are already labeled by the -1 ratio itself.
    */
  def sentinelDegraded(sentinel: Double): Boolean =
    sentinel > 0 && math.max(sentinel, 1.0 / sentinel) > SentinelLimit

  /** The min of the valid runs, or -1 when every run failed. */
  def best(runs: Seq[Double]): Double = {
    val ok = runs.filter(_ >= 0)
    if (ok.isEmpty) -1.0 else ok.min
  }

  /** The driver mains' one JSON string escape (backslash, quote, every
    * control char), for env-var-controlled paths in the bench record and
    * summary lines, and for names, SQL and error lines in the Verify and
    * ClusterValidate records. An unescaped quote in a path would malform the
    * one line whose entire purpose is guaranteed parseability.
    */
  def jstr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => "\\u%04x".format(c.toInt)
      case c => c.toString
    } + "\""

  /** Render a double as a JSON number, or `null` when non-finite — raw
    * interpolation of NaN/Infinity would malform the one line whose entire
    * contract is guaranteed parseability.
    */
  def jnum(d: Double): String =
    if (java.lang.Double.isFinite(d)) d.toString else "null"

  /** A JSON object from keys and already-rendered values, in order. */
  def jobj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${jstr(k)}:$v" }.mkString("{", ",", "}")

  /** A per-query `{"name":seconds,...}` map, in the given order. */
  def jtimes(qs: Seq[(String, Double)]): String =
    jobj(qs.map { case (n, t) => n -> jnum(t) })

  /** The 9 queries BENCH_r01 timed: their subtotal keeps round-over-round
    * ratios readable as the bench list grows.
    */
  val R1Shared = Set("q01_agg_pricing_summary", "q03_join_topk_revenue",
    "q07_window_rank", "q38_tfidf", "q51_exact_dedup", "q53_minhash_lsh_jaccard",
    "q55_cosine_topk", "q64_asof_join", "q95_corpus_clean")

  /** Sum of the valid [[R1Shared]] times. */
  def sharedTotal(results: Seq[(String, Double)]): Double =
    results.collect { case (k, v) if R1Shared(k) && v > 0 => v }.sum

  /** The full record line (see the object doc for its fields). `raw` holds
    * every timed run per query in timed order; `small` is the sf0.01 curve,
    * when one was timed.
    */
  def recordLine(raw: Seq[(String, Seq[Double])], warm: Seq[(String, Double)],
      sentinel: Double, sentinelQuery: String, sf: String,
      small: Option[Seq[(String, Double)]]): String = {
    val results = raw.map { case (n, rs) => n -> best(rs) }
    val curve = small.toSeq.flatMap(s => Seq("sf_small" -> jstr("sf0.01"), "queries_small" -> jtimes(s)))
    jobj(Seq(
      "metric" -> jstr("total"), "value" -> jnum(results.map(_._2).sum), "unit" -> jstr("sec"),
      "runs" -> "2", "timing" -> jstr("min"),
      "healed" -> raw.collect { case (n, rs) if rs.size > 2 => jstr(n) }.mkString("[", ",", "]"),
      "sentinel_degraded" -> sentinelDegraded(sentinel).toString,
      "queries" -> jtimes(results),
      "queries_raw" -> jobj(raw.map { case (n, rs) => n -> rs.map(jnum).mkString("[", ",", "]") }),
      "queries_warm" -> jtimes(warm),
      "noise_sentinel" -> jnum(sentinel), "noise_sentinel_query" -> jstr(sentinelQuery),
      "sf" -> jstr(sf), "r1_shared_total" -> jnum(sharedTotal(results))) ++ curve)
  }

  /** The driver-facing handoff line (r8 lesson — eighth consecutive
    * `parsed: null` official record): the driver keeps the TAIL of stdout,
    * so the >4 KB full record line arrives head-truncated and never parses,
    * and a pointer printed BEFORE it scrolls off with the head. The
    * contract is therefore: write bench_out.json (the primary artifact),
    * print the full record line, then print THIS short summary as the
    * FINAL stdout line — the kept tail always ends in one complete,
    * parseable JSON object carrying the headline numbers, the min-estimate
    * per-query map and the path to the full record. The `queries_raw`,
    * `queries_warm` and `queries_small` maps stay out of it.
    */
  def summaryLine(total: Double, sharedTotal: Double, sentinel: Double,
      sentinelDegraded: Boolean, sf: String, see: String,
      queries: Seq[(String, Double)] = Seq.empty): String =
    jobj(Seq("metric" -> jstr("total"), "value" -> jnum(total), "unit" -> jstr("sec"),
      "r1_shared_total" -> jnum(sharedTotal), "noise_sentinel" -> jnum(sentinel),
      "sentinel_degraded" -> sentinelDegraded.toString, "queries" -> jtimes(queries),
      "sf" -> jstr(sf), "see" -> jstr(see)))

  /** UTF-8 byte budget of [[summaryLine]]: a fraction of the multi-KB stdout
    * tail the driver keeps, so the final line always arrives whole.
    */
  val SummaryBudgetBytes = 2048

  /** A warning when `line` exceeds [[SummaryBudgetBytes]]. The per-query map
    * grows with the bench list; the line itself is never cut, because a
    * truncated map would be read as a complete one.
    */
  def summaryBudgetWarning(line: String): Option[String] = {
    val bytes = line.getBytes(java.nio.charset.StandardCharsets.UTF_8).length
    if (bytes <= SummaryBudgetBytes) None
    else Some(s"[bench] WARNING: summary line is $bytes bytes, over the " +
      s"$SummaryBudgetBytes-byte budget — the driver's stdout tail may cut it")
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local(GraftSession.configuredCpus)

    // one timed run; a failed run is recorded as -1
    def run(name: String, dir: String): Double = {
      val out = QueryRunner.run(spark)(QueryRunner.materialize(QueryCorpus.queries(name)(spark, dir)))
      out.failure.foreach(e => System.err.println(s"[bench] $name failed: $e"))
      if (out.ok) out.secs else -1.0
    }
    // single-JVM wall times vary run to run from GC/JIT noise, not work; the
    // min of two is the stable estimator of the query's cost
    def timedRuns(name: String, dir: String): Seq[Double] = {
      val a = run(name, dir); val b = run(name, dir)
      if (needsHealing(a, b)) Seq(a, b, run(name, dir)) else Seq(a, b)
    }

    // Local-iteration subset: GRAFT_QUERY_FILTER. Unset for an official
    // record, which times the full headline list.
    val benchNames = QueryRunner.selectFromEnv(QueryCorpus.benchNames)

    // JVM priming (r11 lesson — the q01 7.5× anomaly): the FIRST query the
    // process ever runs absorbs one-time session startup (codegen compiler
    // warm-up, listener bus, noop-sink classloading, parquet footer cache),
    // ~4 s on this box regardless of the query. Without this discarded run,
    // that startup lands in benchNames.head's WARM time and mis-sorts the
    // genuinely-cheapest query to the END of the cheapest-first timed order.
    benchNames.headOption.foreach(run(_, sfDir))

    // warm-up: JIT + parquet footer cache; its times order the timed pass
    // cheapest-first
    val warm = benchNames.map(n => n -> run(n, sfDir))
    val names = warm.sortBy { case (_, t) => if (t < 0) Double.MaxValue else t }.map(_._1)
    val raw = names.map(n => n -> timedRuns(n, sfDir))

    // Second scale point (sf0.01 sibling dir, if distinct and present) → a
    // two-point scale curve in the same record. Same estimator as the main
    // pass: a single cold run once recorded sf0.01 "costing more" than
    // sf0.1, which was page-cache noise, not work.
    val smallDir = new java.io.File(new java.io.File(sfDir).getParentFile, "sf0.01")
    val small =
      if (smallDir.isDirectory && smallDir.getAbsolutePath != new java.io.File(sfDir).getAbsolutePath)
        Some(names.map(n => n -> best(timedRuns(n, smallDir.getAbsolutePath))))
      else None

    // noise sentinel: time the first-timed (cheapest) query again after
    // EVERYTHING else, with the same estimator. Bracketing the whole bench
    // (including the small-SF curve) makes a slowdown at EITHER end visible
    // in the record itself.
    val firstTime = best(raw.head._2)
    val lastTime = best(timedRuns(names.head, sfDir))
    val sentinel = if (firstTime > 0 && lastTime > 0) lastTime / firstTime else -1.0

    val results = raw.map { case (n, rs) => n -> best(rs) }
    val line = recordLine(raw, warm, sentinel, names.head, sfDir, small)
    // The FILE is the primary artifact (stdout gets truncated by log
    // capture). Write it first, print the full record line, then print the
    // SHORT summary as the FINAL stdout line (see summaryLine).
    val outPath = sys.env.getOrElse("GRAFT_BENCH_OUT", "bench_out.json")
    val absOut = java.nio.file.Paths.get(outPath).toAbsolutePath
    try {
      java.nio.file.Files.write(absOut,
        (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      System.err.println(s"[bench] wrote $absOut")
    } catch { case e: Throwable => System.err.println(s"[bench] could not write $absOut: $e") }
    println(line)
    val summary = summaryLine(results.map(_._2).sum, sharedTotal(results), sentinel,
      sentinelDegraded(sentinel), sfDir, absOut.toString, results)
    summaryBudgetWarning(summary).foreach(System.err.println)
    println(summary)
    spark.stop()
  }
}
