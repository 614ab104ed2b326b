package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import graft.core.ResultDigest
import graft.io.{Readers, Writers}
import graft.ops.{Components, Dedup, TextAnalysis}

/** `curate`: LLM-corpus curation as a batch job. Each pass reads the corpus,
  * removes exact duplicates, finds verified near-duplicate edges, groups them
  * into components, keeps one document per component, applies the quality
  * filters and writes the result.
  *
  * Why: it is the dominant batch cost. It carries all the shuffle traffic
  * (digest groupBy, band join, verify joins) and the `Md5Hash60` and
  * `WordTokens` kernels, and it never touches `processor` or `stream`, so a
  * gain there must read "no change" here. Near-duplicate candidates are far
  * fewer than documents (the sparse-duplicate regime a candidate prune is
  * judged on).
  */
object Curate {

  val Spec: Gen.CorpusSpec = Gen.CorpusSpec(docs = 3000)
  val QualityMin = 0.5
  val MinTokens = 120L
  val Threshold = 0.5 // verifiedHubEdges' default Jaccard threshold

  final case class PassOut(dedup: DataFrame, edges: DataFrame, comps: DataFrame, converged: Boolean)

  /** One curation pass from `input` to `output`. The exact-dedup survivors
    * are cached: both the edge search and survivor selection read them.
    */
  def pass(ctx: Ctx, input: String, output: String): PassOut = {
    val tr = ctx.tracer
    val text = col("text")
    val docs = tr.lazySpan("io.read")(Readers.read(ctx.spark, input))
    val dedup = tr.lazySpan("ops.exact_dedup")(Dedup.exactDedupRows(docs, text, col("id")).persist())
    val edges = tr.span("ops.lsh_edges")(Dedup.verifiedHubEdges(dedup, text, col("id"), threshold = Threshold))
    val (comps, converged) = tr.span("ops.components") {
      val (c, ok) = Components.connectedComponentsWithStatus(edges, "id_a", "id_b")
      (tr.settle(c), ok)
    }
    val survivors = tr.lazySpan("bench.survivors")(
      dedup.join(comps.filter(col("id") =!= col("component")).select("id"), Seq("id"), "left_anti"))
    val kept = tr.lazySpan("ops.quality_filter")(survivors.filter(
      TextAnalysis.gopherFlags(text).getField("gopher_pass") &&
        TextAnalysis.qualityStruct(text).getField("quality") >= QualityMin &&
        TextAnalysis.tokenCount(text) >= MinTokens))
    tr.span("io.parquet_write")(Writers.write(kept, output))
    PassOut(dedup, edges, comps, converged)
  }

  def run(ctx: Ctx): Outcome = {
    val input = ctx.path("corpus.parquet")
    val output = ctx.path("curated.parquet")

    var corpus: Gen.Corpus = null
    val genS = Loop.medianOf(3) {
      corpus = Gen.corpus(ctx.seed, Spec)
      Gen.writeParquet(Gen.corpusFrame(ctx.spark, corpus), input)
    }
    val warmS = Loop.warmup(ctx)(pass(ctx, input, output))
    val texts = corpus.texts
    var firstDigest: Option[ResultDigest.Digest] = None

    val passes = Loop.run(ctx)(pass(ctx, input, output)) { out =>
      val failures = Seq.newBuilder[String]
      val exact = out.dedup.count()
      if (exact != corpus.distinctNormalized)
        failures += s"exact dedup kept $exact rows, expected ${corpus.distinctNormalized} distinct normalized texts"
      val edges = out.edges.collect().map(r => (r.getLong(0), r.getLong(1)))
      edges.filter { case (a, b) => Text.jaccard(texts(a.toInt), texts(b.toInt)) < Threshold }
        .take(3).foreach { case (a, b) => failures += s"edge ($a, $b) does not re-verify at $Threshold" }
      if (!out.converged) failures += "components did not converge"
      val digest = ResultDigest.digest(ctx.spark.read.parquet(output))
      if (!firstDigest.forall(_.matches(digest)))
        failures += s"output digest $digest differs from the first pass ${firstDigest.get}"
      firstDigest = firstDigest.orElse(Some(digest))
      val removed = out.comps.collect().collect { case r if r.getLong(0) != r.getLong(1) => r.getLong(0) }.toSet
      val recalled = corpus.nearDupPairs.count { case (a, b) => removed(a) || removed(b) }
      Loop.Checked(failures.result(), Map(
        "lsh_edges" -> edges.length.toDouble,
        "docs_kept" -> digest.rows.toDouble,
        "near_dup_recall" -> recalled.toDouble / corpus.nearDupPairs.length))
    }

    val docs = texts.length.toDouble
    val e2e = Loop.passMetrics(passes, _ => docs, _.wallS)
    val layers = if (!ctx.traced) Nil else {
      val p = Loop.medianTraced(passes)
      val t = Loop.unitTrace(ctx, p.id)
      def sec(n: String) = t.seconds.getOrElse(n, 0.0)
      t.metrics ++ Seq(
        Metric("core.session_start_s", ctx.sessionS, "s"),
        Metric("io.read_s", sec("io.read"), "s"),
        Metric("io.read_bytes", t.counters.get("io.read").fold(0.0)(_.scanBytes.toDouble), "bytes"),
        Metric("io.scan_amplification", ctx.engine.unit(p.id).scanRows / docs, "ratio"),
        Metric("io.parquet_write_s", sec("io.parquet_write"), "s"),
        Metric("io.write_bytes", t.counters.get("io.parquet_write").fold(0.0)(_.outputBytes.toDouble), "bytes"),
        Metric("ops.exact_dedup_s", sec("ops.exact_dedup"), "s"),
        Metric("ops.lsh_edges_s", sec("ops.lsh_edges"), "s"),
        Metric("ops.lsh_edges", p.counts("lsh_edges"), "count"),
        Metric("ops.components_s", sec("ops.components"), "s"),
        Metric("ops.quality_filter_s", sec("ops.quality_filter"), "s"),
        Metric("ops.docs_kept", p.counts("docs_kept"), "count"),
        Metric("ops.near_dup_recall", p.counts("near_dup_recall"), "fraction"),
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
      properties = corpus.properties ++ Seq(
        "session_s" -> ctx.sessionS, "generate_s" -> genS, "warmup_s" -> warmS,
        "lsh" -> "k=3 hashes=4 bands=2 threshold=0.5 max_bucket=64",
        "quality" -> s"gopher_pass and quality >= $QualityMin and tokens >= $MinTokens",
        "pass_walls_s" -> passes.map(_.wallS)))
  }
}
