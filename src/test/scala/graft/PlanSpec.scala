package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.queries.QueryCorpus

/** Plan-regression guards: the physical-plan properties that make the corpus
  * hold at 100 TB (SURVEY §4 / README "100 TB discipline"), asserted so an
  * innocent-looking edit can't silently trade them away. Checked at sf0.001 —
  * plan SHAPE (pushdown, broadcast choice, top-k operator) is scale-free
  * even when AQE picks sizes at runtime.
  */
class PlanSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSession.spark
  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    QueryCorpus.queries(name)(spark, dir)
      .queryExecution.executedPlan.toString

  test("q01: filter is pushed to the parquet scan") {
    val p = plan("q01_agg_pricing_summary")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
      s"expected shipdate pushdown in:\n$p")
  }

  test("q03: dimension joins broadcast (no shuffle join for small dims)") {
    val p = plan("q03_join_topk_revenue")
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast join in:\n$p")
    assert(!p.contains("SortMergeJoin"), s"small-dim join degraded to SMJ:\n$p")
  }

  test("q03/q08: top-k plans as TakeOrderedAndProject, not global sort") {
    assert(plan("q03_join_topk_revenue").contains("TakeOrderedAndProject"))
    assert(plan("q08_topk_nlargest").contains("TakeOrderedAndProject"))
  }

  test("q01: aggregation is partial (map-side combine before the exchange)") {
    val p = plan("q01_agg_pricing_summary")
    val firstHashAgg = p.indexOf("HashAggregate")
    val exchange = p.indexOf("Exchange")
    assert(firstHashAgg >= 0 && exchange >= 0,
      s"expected HashAggregate + Exchange in:\n$p")
    // formatted tree prints downstream-first: final agg, exchange, partial agg
    val partialAfterExchange = p.indexOf("HashAggregate", exchange)
    assert(partialAfterExchange > exchange, s"no partial aggregate below the exchange:\n$p")
  }

  test("q99 ewm: one hash shuffle (the groupBy) — recursion adds no exchanges") {
    val p = plan("q99_ewm_mean")
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(hashExchanges == 1, s"ewm should shuffle exactly once, got $hashExchanges:\n$p")
  }

  test("q102 repetition: per-doc column algebra is shuffle-free (sort only)") {
    val p = plan("q102_repetition")
    assert(!p.contains("Exchange hashpartitioning"),
      s"repetition signals must not hash-shuffle:\n$p")
  }

  test("q126 asof nearest: both direction carries ride ONE key shuffle") {
    val p = plan("q126_asof_nearest")
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(hashExchanges == 1,
      s"nearest must shuffle once (the union window), got $hashExchanges:\n$p")
  }

  test("q120/q132/q133/q134: window families are single-shuffle") {
    for (q <- Seq("q120_interpolate", "q132_sessionize", "q133_rolling_time",
        "q134_expanding_transform")) {
      val p = plan(q)
      val hashExchanges = "Exchange hashpartitioning".r.findAllIn(p).length
      assert(hashExchanges == 1, s"$q should shuffle exactly once, got $hashExchanges:\n$p")
    }
  }

  test("q141 curation pipeline: bounded shuffles, top-k as TakeOrdered") {
    val p = plan("q141_curation_v2")
    assert(p.contains("TakeOrderedAndProject"),
      s"weighted sample must plan as TakeOrdered, not global sort:\n$p")
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    // digest groupBy, keeper semi-join, packing shard window — the pipeline
    // contract is <= 4 hash shuffles end-to-end (AQE may reuse one)
    assert(hashExchanges <= 4,
      s"curation pipeline grew to $hashExchanges hash shuffles:\n$p")
  }

  test("q121 rolling corr/cov: five frame aggregates share one Window node") {
    val p = plan("q121_rolling_corr")
    val windows = "(?m)^\\s*[+:*-]*\\s*Window ".r.findAllIn(p).length
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1,
      s"rolling corr must shuffle once:\n$p")
    assert(windows <= 2, s"expected fused window evaluation, got $windows Window nodes:\n$p")
  }

  test("scan prunes columns: q02 projection reads only selected columns") {
    val p = plan("q02_filter_project")
    val scanCols = "FileScan parquet \\[([^\\]]*)\\]".r.findFirstMatchIn(p).map(_.group(1))
    assert(scanCols.isDefined, s"no FileScan in:\n$p")
    // only the projected/filtered columns are read — not the full 11-column row
    val read = scanCols.get.split(",").map(_.trim.takeWhile(_ != '#')).toSet
    assert(read == Set("l_orderkey", "l_linenumber", "l_quantity",
      "l_extendedprice", "l_discount", "l_shipdate"),
      s"scan reads unexpected columns: $read")
  }

  test("q112 range join: equi-join on buckets, never nested-loop/cartesian") {
    val p = plan("q112_range_join")
    assert(!p.contains("BroadcastNestedLoop") && !p.contains("Cartesian"),
      s"inequality join degraded to a pair-at-a-time plan:\n$p")
  }

  test("q107 decontamination: benchmark gram set joins as broadcast") {
    val p = plan("q107_decontamination")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      s"benchmark grams must broadcast (corpus side stays map-side):\n$p")
  }

  test("q146 tpch-q5: date filter pushed to orders scan, dims broadcast") {
    val p = plan("q146_tpch_q5")
    assert(p.contains("PushedFilters: [IsNotNull(o_orderdate), GreaterThanOrEqual(o_orderdate") ||
      p.contains("GreaterThanOrEqual(o_orderdate"), s"expected orderdate pushdown in:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast dims in:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"tpch-q5 must stay equi-join only:\n$p")
  }

  test("q193 tpch-q3: ship/order-date filters pushed, dims broadcast, top-k as TakeOrdered") {
    val p = plan("q193_tpch_q3")
    assert(p.contains("LessThan(o_orderdate") || p.contains("GreaterThan(l_shipdate"),
      s"expected date pushdown in:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"filtered customer/orders dims must broadcast:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"limit-10 must plan as TakeOrdered, not global sort:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"tpch-q3 must stay equi-join only:\n$p")
  }

  test("scd2: change-detection and interval-closing windows share ONE hash exchange") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val snaps = (1L to 100L).flatMap(k => Seq((k, 1L, "a"), (k, 2L, "b")))
      .toDF("k", "v", "s")
    val plan = graft.ops.History.scd2(snaps, Seq("k"), "v", Seq("s"))
      .queryExecution.executedPlan.toString
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(hashExchanges == 1,
      s"both scd2 windows must reuse one key shuffle, found $hashExchanges in:\n$plan")
  }

  test("q167 adaptive join: hot-key set broadcasts to split both inputs") {
    val p = plan("q167_adaptive_join")
    assert(p.contains("BroadcastHashJoin"),
      s"hot set must broadcast (semi/anti splits stay map-side):\n$p")
    assert(!p.contains("CartesianProduct"), s"no pair-at-a-time plan:\n$p")
  }

  test("q165 bm25: corpus stats reach docs via broadcast, never a shuffle join") {
    val p = plan("q165_bm25")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"the 1-row stats frame must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"stats join degraded to SMJ:\n$p")
  }

  test("q164 length batching: exactly one exchange (the bucket/shard window)") {
    val p = plan("q164_length_batches")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges <= 2, s"expected window + final agg shuffles only, got $exchanges:\n$p")
  }

  test("q162 profile: single aggregate pass — no per-column jobs, one final row") {
    val p = plan("q162_profile")
    val aggregates = "HashAggregate".r.findAllIn(p).size +
      "SortAggregate".r.findAllIn(p).size +
      "ObjectHashAggregate".r.findAllIn(p).size
    // one partial + one final pair per distinct-aggregate expand stage; the
    // guard is that aggregate count stays O(1), not O(columns)
    assert(aggregates <= 6, s"profile must stay a single pass, got $aggregates:\n$p")
  }

  test("q64 events scan: column pruning and filter pushdown survive ts normalization") {
    // the schema-adaptive events read adds a ts-normalizing projection
    // (GraftSession.normalizeEventTs); this pins that the projection stays
    // transparent to the scan — only referenced columns are read, and the
    // event_type equality still reaches PushedFilters
    val p = plan("q64_asof_join")
    assert(p.contains("EqualTo(event_type,signup)"),
      s"expected event_type pushdown in:\n$p")
    val readSchemas = "ReadSchema: struct<([^>]*)>".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    assert(readSchemas.nonEmpty)
    assert(!readSchemas.exists(_.contains("props")),
      s"events scan reads unreferenced column props — pruning lost:\n$p")
  }

  test("q102/q144/q168: tokenizer hot paths stay native — no interpreted HOF lambdas in the plan") {
    // the round-4 native kernels (WordTokens/ShinglesFromTokens/
    // TopFreqFraction) replaced ArrayFilter/ArrayTransform/ArrayAggregate
    // spellings that evaluate an interpreted closure per element (~24 µs/
    // gram — the 100 TB throughput wall); this guard fails if a future
    // edit reintroduces a HOF on these benched paths
    // q144's tokenizer runs in its EAGER bloom-build stage and q168's in
    // its eager gram-staging stage, so only the query whose final plan
    // contains the gram pipeline asserts presence there; the staged ops'
    // tokenization is pinned through the building block itself below
    locally {
      val p = plan("q102_repetition")
      assert(p.contains("word_tokens") || p.contains("shingles_from_tokens"),
        s"q102 lost its native tokenizer kernel:\n$p")
    }
    locally {
      import graft.ops.TextAnalysis
      import org.apache.spark.sql.functions.col
      import spark.implicits._
      val p = Seq((1L, "a b c")).toDF("id", "t")
        .select(TextAnalysis.shingles(col("t"), 2))
        .queryExecution.executedPlan.toString
      assert(p.contains("shingles_from_tokens") && p.contains("word_tokens"),
        s"TextAnalysis.shingles (the q144/q168 staging kernel) lost its native spelling:\n$p")
    }
    for (q <- Seq("q102_repetition", "q144_bloom_decontamination", "q168_bigram_lm")) {
      val p = plan(q)
      for (hof <- Seq("aggregate(", "transform(", "filter(lambda"))
        assert(!p.contains(hof), s"$q reintroduced an interpreted HOF '$hof':\n$p")
    }
  }

  /** Count the SQL executions a body triggers — the staged-pass budget
    * harness shared by the q208/q38/op-level guards.
    */
  private def sqlExecutionsOf(body: => Unit): Int = {
    val counter = new graft.core.JobCounter
    counter.observe(spark.sparkContext)(body)
    counter.sqlExecutions
  }

  private def sqlExecutions(queryName: String): Int =
    sqlExecutionsOf(QueryCorpus.queries(queryName)(spark, dir)
      .write.format("noop").mode("overwrite").save())

  test("q208 curation pipeline: staged-pass budget — 7 executions end-to-end") {
    // The r6/r7 staging audits' guard, re-pinned for the r13 near-dup
    // collapse prepass. The composed pipeline runs exactly
    //   (1) the hub-edge hot-bucket census count,
    //   (2) the verified hub-edge checkpoint cut,
    //   (3) the connected-components pass over the (tiny) edge list
    //       (driver union-find fast path at this scale: one collect),
    //   (4) the duplicate-span removal's eager cut,
    //   (5) the scale-adaptive selection-k count (reads (4)'s checkpoint —
    //       no text kernel re-runs),
    //   (6) the DSIR score cut,
    //   (7) the final write
    // — every other stage (survivor semi-join, gates, lang join, Gumbel
    // top-k, packing) rides lazily inside one of those. An eighth execution
    // means someone added an eager pass (a staged multi-consumer frame or a
    // stray action).
    val n = sqlExecutions("q208_curation_v3")
    assert(n <= 7,
      s"q208 ran $n SQL executions — an unstaged pass crept into the pipeline")
  }

  test("q175 web pipeline: staged-pass budget — 4 executions end-to-end") {
    // (1) the gate/clean staging cut, (2) the range-layout cache warm,
    // (3) the budget-select eager cut, (4) the final write. A fifth means
    // an unstaged multi-consumer frame or a stray action crept in.
    val n = sqlExecutions("q175_web_pipeline")
    assert(n <= 4,
      s"q175 ran $n SQL executions — an extra eager pass crept into the pipeline")
  }

  test("unstaged text ops: exactly one materializing action each (r7 staging verdict)") {
    // Each op's ONLY action is its eager result cut (localCheckpoint): the
    // token/gram stream is re-derived per consumer instead of cached, and
    // every corpus total rides in-plan as a broadcast scalar. A second
    // execution at construction time means a cache-materialization count or
    // a driver-blocking total crept back in.
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet(dir + "/documents.parquet")
      .select(col("doc_id"), col("text"), col("lang"))
    def check(label: String)(build: => org.apache.spark.sql.DataFrame): Unit = {
      val n = sqlExecutionsOf { build }
      assert(n == 1, s"$label ran $n executions at construction — expected 1 (the eager cut)")
    }
    check("removeDuplicateSpans")(
      graft.ops.TextAnalysis.removeDuplicateSpans(docs, col("doc_id"), col("text"), k = 5))
    check("dsirScoresWithin")(
      graft.ops.TextAnalysis.dsirScoresWithin(docs, col("doc_id"), col("text"),
        col("lang") === "en", dim = 64))
    check("bigramNll")(
      graft.ops.TextAnalysis.bigramNll(docs, col("text"), col("doc_id")))
    check("unigramNll")(
      graft.ops.TextAnalysis.unigramNll(docs, col("text"), col("doc_id")))
  }

  test("q38 tfidf: staged-pass budget — 3 executions end-to-end") {
    // Guards the r6 double-execution fix: the pipeline runs exactly
    //   (1) fit's single frequency-pass collect (the doc-count sentinel
    //       rides it — a fourth execution here means fit regrew its
    //       separate count pass),
    //   (2) the exploded-entries eager cut (without it the shuffle-free
    //       vectorization executes TWICE — once for the range exchange's
    //       sampling pass, once for the real shuffle),
    //   (3) the final write.
    val n = sqlExecutions("q38_tfidf")
    assert(n <= 3,
      s"q38 ran $n SQL executions — the fit fusion or the pre-sort cut regressed")
  }

  test("bench-corpus plan-shape census: pinned exchange counts, zero single-partition, zero cartesian") {
    // The cross-SF plan audit, made a regression gate (r13 verdict item 7):
    // per bench query, the FINAL plan's shuffle-exchange counts are pinned
    // at sf0.001 — plan shape is scale-free, so a new Exchange here is a
    // new shuffle at 100 TB. Checkpointed stages show as scans (their
    // internal shapes are audited by the per-query tests above); the range
    // exchange in most entries is the output ORDER BY. The single
    // cartesian allowance is q55's DOCUMENTED brute-force cosine baseline
    // (its bucketed variants are the scale path). Ceilings, not equalities:
    // an optimizer that REMOVES an exchange should not fail the gate.
    val pinned: Map[String, (Int, Int)] = Map( // name -> (maxHash, maxRange)
      "q01_agg_pricing_summary" -> ((1, 1)),
      "q03_join_topk_revenue" -> ((1, 0)),
      "q07_window_rank" -> ((1, 1)),
      "q102_repetition" -> ((0, 1)),
      "q104_qcut" -> ((0, 1)),
      "q106_training_pipeline" -> ((2, 1)),
      "q141_curation_v2" -> ((1, 0)),
      "q144_bloom_decontamination" -> ((0, 1)),
      "q146_tpch_q5" -> ((1, 1)),
      "q154_line_dedup" -> ((2, 1)),
      "q168_bigram_lm" -> ((0, 1)),
      "q175_web_pipeline" -> ((0, 1)),
      "q184_pagerank" -> ((0, 0)),
      "q193_tpch_q3" -> ((1, 0)),
      "q208_curation_v3" -> ((1, 1)),
      // q219: ONE hash exchange (the distributed word-count groupBy; the
      // merge loop is driver-local on the ceilinged table) + the output
      // ORDER BY rank on the local merges frame
      "q219_bpe_train" -> ((1, 1)),
      "q38_tfidf" -> ((0, 1)),
      "q51_exact_dedup" -> ((1, 1)),
      "q53_minhash_lsh_jaccard" -> ((0, 1)),
      "q55_cosine_topk" -> ((1, 1)),
      "q64_asof_join" -> ((1, 1)),
      "q90_sequence_packing" -> ((1, 1)),
      "q91_dedup_clusters" -> ((2, 1)),
      "q95_corpus_clean" -> ((1, 1)),
      "q99_ewm_mean" -> ((1, 1)))
    val missing = QueryCorpus.benchNames.filterNot(pinned.contains)
    assert(missing.isEmpty,
      s"bench queries without a pinned plan census (add them): ${missing.mkString(", ")}")
    for (name <- QueryCorpus.benchNames) {
      val p = plan(name)
      val hash = "Exchange hashpartitioning".r.findAllIn(p).length
      val range = "Exchange rangepartitioning".r.findAllIn(p).length
      val single = "Exchange SinglePartition".r.findAllIn(p).length
      val cart = "CartesianProduct".r.findAllIn(p).length +
        "BroadcastNestedLoopJoin".r.findAllIn(p).length
      val (maxHash, maxRange) = pinned(name)
      assert(hash <= maxHash,
        s"$name: $hash hash exchanges (pinned $maxHash) — a new shuffle crept into the plan:\n$p")
      assert(range <= maxRange,
        s"$name: $range range exchanges (pinned $maxRange) — a new global sort crept in:\n$p")
      assert(single == 0,
        s"$name: $single Exchange SinglePartition — a single-partition stage crept in:\n$p")
      val cartAllow = if (name == "q55_cosine_topk") 1 else 0
      assert(cart <= cartAllow,
        s"$name: $cart cartesian/nested-loop joins (allowed $cartAllow):\n$p")
    }
  }

  test("curate kernels: gopher flags, quality and MinHash plan with no higher-order function") {
    import org.apache.spark.sql.catalyst.expressions.{ArrayAggregate, ArrayFilter, ArrayTransform}
    import org.apache.spark.sql.functions.{col, concat, lit}
    import graft.ops.{Dedup, TextAnalysis}
    val t = spark.range(4).select(concat(lit("a b... c\n- d # e "), col("id").cast("string")).as("t"))
    for ((label, c) <- Seq(
        "gopherFlags" -> TextAnalysis.gopherFlags(col("t")),
        "qualityStruct" -> TextAnalysis.qualityStruct(col("t")),
        "minhashSignature" -> Dedup.minhashSignature(col("t"), 3, 4))) {
      val plan = t.select(c).queryExecution.optimizedPlan
      val hofs = plan.flatMap(_.expressions.flatMap(_.collect {
        case e @ (_: ArrayTransform | _: ArrayFilter | _: ArrayAggregate) => e
      }))
      assert(hofs.isEmpty, s"$label plans an interpreted higher-order function:\n$plan")
    }
  }

  test("near-dup verify: shingles are built once per candidate document, before the pairs fan out") {
    import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.GenerateExec
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.util.QueryExecutionListener
    import graft.functions.ShinglesFromTokens
    import graft.ops.Dedup
    def kids(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: QueryStageExec => Seq(s.plan)
      case other => other.children
    }
    def all(p: SparkPlan): Seq[SparkPlan] = p +: kids(p).flatMap(all)
    // the verify stage runs inside each op's eager cut, so read the plan
    // that localCheckpoint executed
    def cutPlan(build: => Unit): SparkPlan = {
      val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
      val listener = new QueryExecutionListener {
        override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
          if (funcName == "localCheckpoint") plans.add(qe.executedPlan)
        override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
      }
      spark.listenerManager.register(listener)
      try {
        build
        org.apache.spark.sql.graftbridge.ListenerBridge.drain(spark.sparkContext)
      } finally spark.listenerManager.unregister(listener)
      assert(plans.size == 1, s"expected one eager cut, got ${plans.size}")
      plans.peek()
    }
    val docs = spark.read.parquet(dir + "/documents.parquet").select(col("doc_id"), col("text"))
    for ((label, plan) <- Seq(
        "verifiedNearDupPairs" -> cutPlan(Dedup.verifiedNearDupPairs(docs, col("text"), col("doc_id"))),
        "verifiedHubEdges" -> cutPlan(Dedup.verifiedHubEdges(docs, col("text"), col("doc_id"))))) {
      // one shingle build (not one per pair side), on the rows of the join
      // with the per-document pair lists (only candidate documents), and
      // below the explode that fans each document out to its pairs (so not
      // once per pair member)
      val shingling = all(plan).filter(_.expressions.exists(_.exists(_.isInstanceOf[ShinglesFromTokens])))
      assert(shingling.size == 1, s"$label: ${shingling.size} shingle builds in its verify plan:\n$plan")
      assert(all(shingling.head).exists(_.isInstanceOf[BaseJoinExec]),
        s"$label shingles documents that are in no candidate pair:\n$plan")
      assert(all(plan).exists(n => n.isInstanceOf[GenerateExec] && all(n).contains(shingling.head)),
        s"$label shingles once per pair member, not once per document:\n$plan")
    }
  }
}
