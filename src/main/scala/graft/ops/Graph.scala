package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Link-graph analytics for corpus curation.
  *
  * Web-scale training corpora are routinely quality-weighted by the link
  * structure of their source hosts (Common-Crawl-derived corpora keep or
  * up-sample pages from high-centrality hosts); the reference's tabular
  * surface has no graph operator, so this is parity-plus alongside
  * [[Components.connectedComponents]].
  *
  * PageRank here is the standard damped power iteration, run by one of two
  * loops chosen ONCE from a one-pass profile of the graph, mirroring
  * Catalyst's stats-driven join selection:
  *   - a graph whose rank vector and packed edge list fit the driver budgets
  *     ([[admitsDriverLoop]]) is gathered once into int-indexed driver
  *     arrays, and every round is a zero-job driver sweep;
  *   - anything bigger runs as DataFrame algebra — each round ONE
  *     sort-merge contribution join (edges ⋈ ranks; the edge list is
  *     shuffled onto the join key once and cached, so no round moves an
  *     edge) + one sum aggregate, with the connectedComponents lineage
  *     discipline: an eager [[Snapshots.cut]] every few rounds (reliable
  *     whenever the application has a checkpoint dir) so a 50-round job
  *     neither re-executes its history nor overflows the planner. Only
  *     (node, double) pairs ever shuffle; edges are persisted once and
  *     released before returning.
  */
object Graph {

  /** In/out degree per node — the one-pass graph profile run before
    * choosing iteration counts and skew mitigations (a power-law hub
    * dominating `outdeg` is the salting signal for the contribution join).
    */
  def degrees(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val e = edges.select(col(srcCol).cast("string").as("src"),
      col(dstCol).cast("string").as("dst"))
    e.select(col("src").as("node"), lit(1L).as("out"), lit(0L).as("in"))
      .unionByName(e.select(col("dst").as("node"), lit(0L).as("out"), lit(1L).as("in")))
      .groupBy(col("node"))
      .agg(sum(col("out")).as("out_degree"), sum(col("in")).as("in_degree"))
  }

  /** Personalized PageRank: teleportation lands on the `sources` node set
    * (uniformly) instead of all nodes — rank becomes proximity TO the
    * sources (seed-expansion for domain curation: "pages near these known-
    * good hosts"). Same loops, shuffles and lifecycle as [[pageRank]]; the
    * base term is per-node (source or not) and dangling mass returns to
    * the sources. Implemented by generalizing the teleport vector.
    */
  def personalizedPageRank(edges: DataFrame, srcCol: String, dstCol: String,
      sources: Seq[String], iterations: Int = 10, damping: Double = 0.85,
      edgesDistinct: Boolean = false,
      precomputedDegrees: Option[DataFrame] = None): DataFrame =
    pageRankImpl(edges, srcCol, dstCol, iterations, damping, Some(sources),
      edgesDistinct, precomputedDegrees, driverLoopAllowed = true)

  /** Damped PageRank over a directed edge list.
    *
    * Semantics (the classic Google formulation, uniform teleport):
    * `r_0(v) = 1/N`; each round
    * `r_{i+1}(v) = (1-d)/N + d * (Σ_{u→v} r_i(u)/outdeg(u) + dangling_i/N)`
    * where `dangling_i` is the total rank parked on nodes with no
    * out-edges (redistributed uniformly, so Σ r = 1 is preserved exactly).
    * Parallel edges are collapsed (`distinct`) before degrees are taken,
    * unless the caller asserts `edgesDistinct`.
    *
    * Loop choice: one profile aggregate over the degree frame measures |V|,
    * the average id bytes and |E|. When both the rank vector and the packed
    * edge list fit the driver budgets ([[admitsDriverLoop]]: 1M nodes,
    * 64 MB of rank rows, 16 B per edge within 256 MB) the loop runs on the
    * driver with zero Spark jobs per round; otherwise it runs the
    * sort-merge loop. Both loops compute the same ranks.
    *
    * Scale shape of the sort-merge loop: contributions shuffle
    * `(dst, rank/deg)` pairs — 16 bytes per edge per round after map-side
    * partial aggregation; the dangling total rides INSIDE each round's plan
    * as a broadcast 1-row aggregate (no per-round driver action; graphs
    * with no dangling nodes skip the branch entirely, probed once). Degrees
    * and the node set are computed once and cached for the whole loop.
    *
    * @param edges        (srcCol, dstCol) directed edge list.
    * @param iterations   fixed round count (PageRank at fixed iterations is
    *                     deterministic and engine-replayable, unlike
    *                     tolerance-based stopping where float noise decides
    *                     the round count).
    * @param damping      d in [0,1); 0.85 is the standard choice.
    * @param edgesDistinct caller-asserted "no parallel edges": skips the
    *                      (src,dst) dedup pass. The q184 purchase graph is
    *                      distinct by construction (pairs.distinct + a
    *                      prefix-disjoint symmetrizing union) — a full
    *                      aggregate over the edge list just to re-prove it
    *                      is a wasted pass at any scale. The assertion also
    *                      lets the edge lineage stay LAZY (it evaluates
    *                      more than once: the degree pass, then the driver
    *                      loop's one-shot gather or the sort-merge loop's
    *                      re-layout), so it must be DETERMINISTIC across
    *                      evaluations — true of every frame this engine
    *                      produces (seeded sample included), NOT true of
    *                      `limit()` on unordered input. With a
    *                      nondeterministic lineage the result is undefined;
    *                      both loops guard loudly — the driver loop via its
    *                      gather-count guard, the sort-merge loop via an
    *                      |E| re-check at its re-layout count (a mismatch vs
    *                      the profile pass throws instead of silently
    *                      dropping/duplicating edges). Callers with such
    *                      inputs should checkpoint first or leave
    *                      edgesDistinct=false (the dedup path's layout
    *                      cache pins one materialization).
    * @return (node, rank) — ranks sum to 1 over all distinct nodes.
    *
    * Conf scoping: the loop turns off AQE and the runtime bloom filter —
    * but on a CLONED session (`newSession()`, sharing the SparkContext and
    * cache manager), never the caller's. Queries planned concurrently on
    * the caller's session are unaffected, and the result frame is re-bound
    * to the caller's session before returning, so downstream plans see the
    * caller's own conf.
    *
    * @param precomputedDegrees caller-supplied `(node, out_degree)` frame —
    *                      one row per DISTINCT node of the graph (src or
    *                      dst), out_degree = the exact count of edge rows
    *                      with that src (0/null = dangling). Skips the
    *                      engine's endpoints degree pass entirely — the
    *                      win when the caller can derive degrees from a
    *                      narrower representation than the edge list (the
    *                      q184 bipartite graph: degrees fall out of two
    *                      long-keyed counts over the HALF-size pair table,
    *                      so node-id strings are built on |V| rows instead
    *                      of 2|E| endpoint rows — the degree pass was the
    *                      single largest stage of the sf1.0 profile).
    *                      Requires `edgesDistinct` (degrees describe the
    *                      as-given edge list; the dedup path would change
    *                      |E| under them). TRUSTED input: per-node errors
    *                      are garbage-in-garbage-out. Total-count
    *                      inconsistencies fail loudly — Σ out_degree is
    *                      cross-checked against the edges each loop
    *                      actually gathers or lays out (the same |E|
    *                      guards that police nondeterministic lineage).
    *                      A degrees frame MISSING a node that appears only
    *                      as a dst (zero out-degree, so it slips the
    *                      Σdeg=|E| check) fails the driver loop at its
    *                      gather: the edges into that node find no index,
    *                      so the gather comes back short of |E|. The
    *                      sort-merge loop cannot detect that case without
    *                      re-deriving the node set from 2|E| endpoint rows
    *                      (the exact pass this parameter exists to skip):
    *                      there a missing dst-only node is silently absent
    *                      from the output and shifts teleport mass —
    *                      supply a COMPLETE node set.
    */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
      iterations: Int = 10, damping: Double = 0.85,
      edgesDistinct: Boolean = false,
      precomputedDegrees: Option[DataFrame] = None): DataFrame =
    pageRankImpl(edges, srcCol, dstCol, iterations, damping, None,
      edgesDistinct, precomputedDegrees, driverLoopAllowed = true)

  /** [[pageRank]] on the sort-merge loop whatever the graph's size: the
    * loop graphs past the driver budgets take, reachable on small graphs so
    * specs and ClusterValidate can exercise it. Same cloned session,
    * profile and guards; only the admission is skipped.
    */
  private[graft] def pageRankSortMerge(edges: DataFrame, srcCol: String, dstCol: String,
      iterations: Int = 10, damping: Double = 0.85,
      edgesDistinct: Boolean = false,
      precomputedDegrees: Option[DataFrame] = None): DataFrame =
    pageRankImpl(edges, srcCol, dstCol, iterations, damping, None,
      edgesDistinct, precomputedDegrees, driverLoopAllowed = false)

  /** Sort-merge loop lineage cut cadence, in rounds (tripled when no node
    * dangles; see the window in [[pageRankLoop]]).
    */
  private val CheckpointEvery = 4

  /** Driver-loop budgets. The rank vector: 1M short-id nodes ≈ 50 MB of
    * (node, long deg, double rank) rows, a trivial one-time driver collect;
    * the row cap is paired with a BYTE budget measured from the actual
    * ids, so 1M rows of 200-byte URL ids (~230 MB) fall to the sort-merge
    * loop. The edge list: the gather never materializes id strings on the
    * driver (ids resolve to int indexes distributed and each edge arrives as
    * ONE packed long), so its driver peak is chunks (8 B/edge) + the two int
    * arrays (8 B/edge) = 16 B/edge.
    */
  private val NodeLimit: Long = 1L << 20
  private val RankByteBudget: Long = 64L << 20
  private val EdgeByteBudget: Long = 256L << 20

  /** The driver-loop admission, extracted so its boundary math is directly
    * spec-pinned (GraphSpec): the graph must pass the row cap, the
    * measured-byte rank budget (32 bytes/row covers the long deg, double
    * rank and struct/offset overhead beside the id itself) AND the 16 B/edge
    * edge budget — the 11.7M-edge sf1.0 bench graph (179 MiB) is admitted.
    * Both loops are exact; the budgets only trade driver memory for
    * per-round job latency.
    */
  private[graft] def admitsDriverLoop(n: Long, avgIdLen: Double, m: Long): Boolean =
    n <= NodeLimit && n * (avgIdLen.toLong + 32L) <= RankByteBudget &&
      m * 16L <= EdgeByteBudget

  private def pageRankImpl(edges: DataFrame, srcCol: String, dstCol: String,
      iterations: Int, damping: Double, teleportTo: Option[Seq[String]],
      edgesDistinct: Boolean, precomputedDegrees: Option[DataFrame],
      driverLoopAllowed: Boolean): DataFrame = {
    require(iterations >= 0, "iterations must be non-negative")
    require(damping >= 0 && damping < 1, "damping must be in [0,1)")
    require(precomputedDegrees.isEmpty || edgesDistinct,
      "precomputedDegrees requires edgesDistinct=true — the dedup path would " +
        "change |E| underneath the supplied out-degrees")
    val owner = edges.sparkSession
    // The loop is a fixed 10-30× replay of one join+agg shape over frames
    // whose sizes we know exactly (cached edge list, |V|-row rank frame):
    // AQE's per-shuffle re-planning barrier and the runtime bloom-filter
    // rule (an EXTRA aggregate injected per round to semi-prune a join that
    // prunes nothing here) only add latency × iterations — measured 2.6 s
    // off q184 at sf0.1 alone. Both are SESSION-global confs, so instead of
    // mutating the caller's session (where a concurrently-planned query
    // would silently pick them up) the loop runs on a CLONED session:
    // newSession() shares the SparkContext, the cache manager and the
    // extensions but owns its conf, so nothing set here can escape and
    // nothing needs restoring. newSession starts from the BUILDER options,
    // not the owner's runtime values — copy every modifiable conf first so
    // the loop plans under the caller's effective settings (the clone is
    // discarded on return, so pinning values on it is harmless;
    // RuntimeConfig.getAll is the session's set-values map, not defaults).
    // The reverse direction matters too: newSession() re-merges SparkConf
    // entries, so a conf the caller explicitly UNSET (reverting a
    // spark-submit value to the entry default) would reappear in the clone
    // — unset every modifiable clone key the owner doesn't carry.
    val loopSession = owner.newSession()
    val ownerConfs = owner.conf.getAll
    for ((k, _) <- loopSession.conf.getAll
         if !ownerConfs.contains(k) && loopSession.conf.isModifiable(k))
      loopSession.conf.unset(k)
    for ((k, v) <- ownerConfs if loopSession.conf.isModifiable(k))
      loopSession.conf.set(k, v)
    loopSession.conf.set("spark.sql.adaptive.enabled", "false")
    loopSession.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "false")
    val ranks = pageRankLoop(rebind(edges, loopSession), srcCol, dstCol,
      iterations, damping, teleportTo, edgesDistinct,
      precomputedDegrees.map(rebind(_, loopSession)), driverLoopAllowed)
    // hand the result back on the CALLER's session — otherwise everything
    // downstream of pageRank would keep planning under the loop's conf
    rebind(ranks, owner)
  }

  /** |E| guard for the sort-merge loop's edge re-layout: the laid-out
    * count must equal the profiled edge count `m` or the lineage is
    * nondeterministic (it would silently drop/duplicate edges). On failure
    * releases BOTH caches before throwing — a guard failure must not leak
    * the just-persisted layout or the caller-visible edge cache into the
    * BlockManager (the driver loop unpersists first for the same reason).
    * Package-private so the no-leak contract is spec-testable without
    * manufacturing a nondeterministic lineage.
    */
  private[graft] def relayoutGuard(laid: DataFrame, e: DataFrame,
      laidCount: Long, m: Long): Unit =
    if (laidCount != m) {
      laid.unpersist(false)
      e.unpersist(false)
      throw new IllegalArgumentException(
        s"requirement failed: edge re-layout returned $laidCount rows for $m profiled edges — " +
          "nondeterministic edge lineage? checkpoint/stage the edges or use edgesDistinct=false")
    }

  /** Re-plan a frame under another session of the same SparkContext via a
    * throwaway global temp view (the one public API that carries an
    * ANALYZED plan across sessions). Dataset construction analyzes
    * eagerly, so the view is dropped before returning; cached/checkpointed
    * inputs are unaffected (the plan, not the data, is rebound).
    */
  private def rebind(df: DataFrame, to: org.apache.spark.sql.SparkSession): DataFrame = {
    if (df.sparkSession eq to) return df
    val name = "graft_pr_rebind_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    df.createOrReplaceGlobalTempView(name)
    try to.table(to.conf.get("spark.sql.globalTempDatabase", "global_temp") + "." + name)
    finally df.sparkSession.catalog.dropGlobalTempView(name)
  }

  private def pageRankLoop(edges: DataFrame, srcCol: String, dstCol: String,
      iterations: Int, damping: Double, teleportTo: Option[Seq[String]],
      edgesDistinct: Boolean, precomputedDegrees: Option[DataFrame],
      driverLoopAllowed: Boolean): DataFrame = {

    // The edge list is shuffled onto its join key ONCE for the whole loop
    // (the bucketed-join layout expressed via cache partitioning — at
    // cluster scale it saves `iterations` full shuffles of the edge list;
    // explicit partition count so AQE never rewrites the cached layout into
    // one the join can't reuse). WHEN that layout shuffle happens depends on
    // what's known:
    //   - dedup needed → the dedup IS the layout shuffle: repartition on
    //     src FIRST so the (src,dst) dedup runs exchange-free (hash
    //     partitioning on src satisfies the wider clustering requirement)
    //     and the sort stays partition-local. One shuffle, not three.
    //   - caller-asserted distinct → defer layout AND caching until the
    //     fork: the driver loop needs no layout at all, so an eager
    //     shuffle+sort would be thrown away there. The cast list stays a
    //     LAZY projection here — the driver loop consumes it exactly twice
    //     (the degree pass and the one-shot edge gather), and re-running a
    //     projection lineage twice measured well under the cost of writing
    //     the edge strings through the BlockManager and reading them back
    //     (the removeDuplicateSpans/DSIR staging verdict, r7). The
    //     sort-merge loop, which re-reads the edges every round, lays them
    //     out and persists them at the fork below; callers whose edge
    //     lineage is itself expensive should stage it before calling (the
    //     q184 checkpoint pattern).
    val shufflePartitions = edges.sparkSession.sessionState.conf.numShufflePartitions
    // Node-id regime, decided ONCE from the input schema: integral src/dst
    // (and, when supplied, an integral precomputed-degrees node column)
    // keep LONG ids through the entire loop — degree maps, shuffles,
    // broadcast index probes and the driver-held arrays all work on 8-byte
    // keys instead of building 2|E| id strings and probing string-keyed
    // hash maps (the q184 sf1.0 profile: the string degree pass and the
    // string-probe edge gather were the two largest stages). Everything
    // else casts to string as before; the output `node` column keeps the
    // chosen type (integral graphs now return BIGINT nodes).
    val integralType: org.apache.spark.sql.types.DataType => Boolean = {
      case org.apache.spark.sql.types.LongType | org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.ShortType | org.apache.spark.sql.types.ByteType => true
      case _ => false
    }
    val integralIds = integralType(edges.schema(srcCol).dataType) &&
      integralType(edges.schema(dstCol).dataType) &&
      precomputedDegrees.forall(pd => integralType(pd.schema(pd.columns(0)).dataType))
    val idType = if (integralIds) "long" else "string"
    val eCast = edges.select(col(srcCol).cast(idType).as("src"),
        col(dstCol).cast(idType).as("dst"))
    val e = if (edgesDistinct) eCast
      else eCast.repartition(shufflePartitions, col("src"))
        .dropDuplicates("src", "dst")
        .sortWithinPartitions(col("src"))
        .persist()
    // Node set + out-degrees in ONE aggregation pass (each edge emits its
    // endpoints weighted 1/0; a node whose out-weight sums to zero is
    // dangling) — replaces the nodes-distinct shuffle, the degree
    // aggregate, and their join with a single shuffle, and leaves the
    // frame hash-partitioned on `node` so round 1's join needs no
    // rank-side exchange either. Spelled as a flat UNION of two
    // projections, not explode(array(struct,struct)): both feed the same
    // single shuffle (each union branch partial-aggregates map-side), but
    // the explode allocates a 2-element array of structs per edge row —
    // measured ~25% more task time on the 11.7M-edge degree pass. The
    // union reads the edge lineage twice, which is cheap in every regime:
    // dedup'd lineages are cached, caller-asserted-distinct ones are lazy
    // projections over the caller's (staged) input.
    val degreed = precomputedDegrees match {
      case Some(pd) =>
        // caller-supplied (node, out_degree): normalize to the loop schema —
        // string node, LONG deg with null marking dangling. Correctness
        // guards live downstream: each loop's |E| cross-check compares the
        // edges it actually gathers/lays out against m = Σ deg from the
        // profile aggregate, so a degrees frame inconsistent with the edge
        // list (missing nodes, wrong totals) throws instead of silently
        // skewing ranks.
        val c = pd.columns
        require(c.length == 2,
          s"precomputedDegrees must have exactly (node, out_degree) columns, got: ${c.mkString(", ")}")
        pd.select(col(c(0)).cast(idType).as("node"),
          when(col(c(1)).cast("long") > 0, col(c(1)).cast("long")).as("deg"))
      case None =>
        val endpoints = e.select(col("src").as("node"), lit(1L).as("__o__"))
          .unionByName(e.select(col("dst").as("node"), lit(0L).as("__o__")))
        endpoints.groupBy(col("node"))
          .agg(sum(col("__o__")).as("__od__"))
          .withColumn("deg", when(col("__od__") > 0, col("__od__")))
          .drop("__od__")
    }
    val preDeg = degreed.persist()
    // ONE profile aggregate over the degree frame for ALL four
    // fork-decision scalars — |V|, dangling?, avg id bytes, |E| — instead
    // of four driver-blocking jobs (a materializing count, a limit-1 probe,
    // an avg, an edge count): at toy scale each job carries a ~0.15 s
    // scheduling floor that dwarfs the work, and at cluster scale one pass
    // over |V| rows beats four. This job is ALSO what materializes the
    // preDeg cache (r17 — the separate count() job it replaced did the
    // same work and then prof re-read the cache anyway).
    // Σ coalesce(deg, 0) = total out-endpoints = |E| exactly (every edge
    // row contributes 1 to its src node's degree, null src included), so
    // the edge-cache count job disappears too.
    val prof = preDeg.agg(
      count(lit(1)).as("__n__"),
      sum(when(col("deg").isNull, 1L).otherwise(0L)).as("__dang__"),
      // id byte width for the rank byte budget: longs are fixed 8 bytes
      // (length() is a string function; measuring decimal digits would
      // under-count the actual row bytes anyway)
      coalesce(avg(if (integralIds) lit(8.0) else length(col("node")).cast("double")),
        lit(0.0)).as("__len__"),
      coalesce(sum(coalesce(col("deg"), lit(0L))), lit(0L)).as("__m__")).head()
    val n = prof.getLong(0)
    if (n == 0) { e.unpersist(false); preDeg.unpersist(false)
      return preDeg.select(col("node")).withColumn("rank", lit(0.0)) }
    // One probe, not one per round: graphs with no dangling nodes (any
    // symmetrized graph) skip the per-iteration dangling aggregate — a
    // whole job per round at toy scale, a full pass over ranks at cluster
    // scale.
    val hasDangling = prof.getLong(1) > 0
    val avgIdLen = prof.getDouble(2)
    val m = prof.getLong(3)
    // teleport weight per node: uniform 1/N (needs the just-counted n), or
    // 1/|S| on the personalized source set (0 elsewhere)
    val tele = teleportTo match {
      case None => lit(1.0 / n.toDouble)
      case Some(srcs) =>
        require(srcs.nonEmpty, "personalized PageRank needs at least one source")
        // cast-to-string compare: a no-op on the string path, and on the
        // integral path it matches the caller's (string) source names
        // against the canonical decimal form — same matching the old
        // always-string loop performed
        when(col("node").cast("string").isin(srcs: _*),
            lit(1.0) / lit(srcs.distinct.size.toDouble))
          .otherwise(lit(0.0))
    }
    // withDeg: every node with its out-degree (null deg = dangling) and
    // teleport weight — the loop's join base. A LAZY projection over the
    // preDeg cache, deliberately not cached itself: the added column is a
    // codegen'd literal/when over cached rows, and a second |V|-row cache
    // (plus its materializing count job) costs more than every consumer
    // re-evaluating it. preDeg stays persisted for the whole loop and is
    // released on each exit path.
    val withDeg = preDeg.withColumn("__t__", tele)

    // Loop choice, decided ONCE from the profile — the stats-driven choice
    // Catalyst would make per join if the loop's frames carried accurate
    // stats (they don't: each round's rank frame is an agg output with
    // estimated size):
    //   - rank vector and packed edge list within the driver budgets → the
    //     driver loop: one edge gather, then ZERO Spark jobs per round (a
    //     per-round job has a ~0.1-0.5 s scheduling floor that dwarfs a
    //     few-million-edge array sweep);
    //   - otherwise → SMJ against the sorted cached edges, zero edge-side
    //     exchange per round, snapshots on the lineage window below.
    // The row cap alone would admit fat string ids (a 1M-node host graph of
    // 200-byte URL ids is a multi-hundred-MB driver vector), so admission
    // also byte-checks against the ACTUAL ids (avgIdLen measured by the
    // profile aggregate above).
    if (driverLoopAllowed && admitsDriverLoop(n, avgIdLen, m))
      return pageRankDriverLoop(e, withDeg, preDeg, iterations, damping,
        hasDangling, m, integralIds)

    // SMJ loop layout: with a deferred-layout edge cache (edgesDistinct) the
    // default-width partition+sort layout the per-round merge join reuses
    // exchange-free; dedup'd caches already carry it.
    val eLoop = if (edgesDistinct) {
      val laid = e.repartition(shufflePartitions, col("src"))
        .sortWithinPartitions(col("src")).persist()
      // the materializing count doubles as the |E| guard: the
      // lazy caller-asserted-distinct lineage already evaluated once for
      // the degree pass (which measured m); a nondeterministic lineage
      // would otherwise silently drop/duplicate edges in this re-layout
      val laidCount = laid.count()
      relayoutGuard(laid, e, laidCount, m)
      e.unpersist(false)
      laid
    } else e

    // Lineage-truncation cadence: the dangling branch references the rank
    // frame twice per round, so the uncheckpointed plan DOUBLES per round
    // and the window must stay tight; without it growth is linear (one
    // reference) and a 3× wider window safely trades planner depth for
    // fewer eager materialization jobs.
    val window = if (hasDangling) CheckpointEvery else CheckpointEvery * 3

    // `deg` and the teleport weight ride inside the aggregation stream, so
    // each round is exactly ONE join (ranks ⋈ edges) + ONE node-keyed
    // aggregate: every node contributes a zero-mass row carrying its
    // (deg, __t__), which both completes the node set (no per-round
    // null-fill join against the node list) and forwards the static
    // columns through `max` (contribution rows carry nulls there).
    val zeroRows = withDeg.select(col("node"), col("deg"), col("__t__"),
      lit(0.0).as("__w__"))
    var ranks = withDeg.select(col("node"), col("deg"), col("__t__").as("rank"))
    var prevCached: Option[DataFrame] = None
    var i = 0
    while (i < iterations) {
      // contribution join: rank rows keyed by node fan out over their
      // out-edges (sort-merge against the sorted cached edge layout)
      val rankSide = ranks.filter(col("deg").isNotNull)
      val contribs = rankSide
        .join(eLoop.withColumnRenamed("src", "node"), Seq("node"))
        .select(col("dst").as("node"),
          lit(null).cast("long").as("deg"),
          lit(null).cast("double").as("__t__"),
          (col("rank") / col("deg").cast("double")).as("__w__"))
      val gathered = contribs.unionByName(zeroRows)
        .groupBy(col("node"))
        .agg(sum(col("__w__")).as("mass"),
          max(col("deg")).as("deg"),
          max(col("__t__")).as("__t__"))
      // teleport-vector form: r' = (1−d)·t + d·(mass + dangling·t); the
      // uniform case t = 1/N reduces to the classic (1−d)/N + d·dangling/N.
      // Dangling mass rides INSIDE the plan as a broadcast 1-row aggregate
      // (the Scale.keyProfile broadcast-scalar pattern) — no driver-blocking
      // job per round; a no-dangling graph skips the branch entirely.
      val withDangling =
        if (!hasDangling) gathered.withColumn("__dm__", lit(0.0))
        else gathered.crossJoin(broadcast(
          ranks.filter(col("deg").isNull)
            .agg(coalesce(sum(col("rank")), lit(0.0)).as("__dm__"))))
      var next = withDangling
        .select(col("node"), col("deg"),
          (lit(1.0 - damping) * col("__t__")
            + lit(damping) * (col("mass")
              + col("__dm__") * col("__t__"))).as("rank"))
      i += 1
      // Snapshot on the window cadence (always at loop exit): truncate
      // lineage so a 50-round job neither re-executes its history nor
      // overflows the planner.
      if (i % window == 0 || i == iterations) {
        next = Snapshots.cut(next)
        // superseded snapshot: safe to release now the successor has
        // eagerly materialized (see Snapshots for why plain unpersist
        // would be a no-op here)
        prevCached.foreach(Snapshots.release)
        prevCached = Some(next)
      }
      ranks = next
    }
    // the loop's last round always snapshots (i == iterations), so `ranks`
    // is already an eagerly-materialized checkpoint independent of e and
    // withDeg — its blocks ARE the result and stay cached (the
    // Dedup/Components lifecycle pattern); no extra checkpoint pass.
    // Only the 0-iteration path still references withDeg and needs one.
    val out =
      if (iterations == 0) Snapshots.cut(ranks.select(col("node"), col("rank")))
      else ranks.select(col("node"), col("rank"))
    eLoop.unpersist(false) // covers e: aliased, or already released at re-layout
    preDeg.unpersist(false) // the loop's one cached node frame (withDeg is lazy over it)
    out
  }

  /** The driver loop: the rank vector lives on the DRIVER between rounds,
    * and the edge list is gathered ONCE into int-indexed arrays, so every
    * round is a driver-local edge sweep with ZERO Spark jobs. A per-round
    * Spark job has a ~0.1-0.5 s floor (scheduling, codegen, broadcast
    * torrent) that dwarfs a few-million-edge array traversal — measured
    * 4-5× off q184's loop at sf0.1. The same regime as
    * [[Components.connectedComponents]]'s small-graph fast path. No
    * zero-row union completes the node set (every node has a slot), and
    * the dangling mass is a driver-side array fold — exact, zero extra jobs.
    *
    * No lineage cut happens here: the loop state is a driver array, so
    * there is no executor-side lineage to recover. The sort-merge loop
    * keeps the cut cadence for web-scale rank frames.
    *
    * Driver folds run in a FIXED array order (the one initial collect), so
    * repeated runs on the same session are reproducible to the bit — same
    * property the snapshot loop had.
    */
  private def pageRankDriverLoop(e: DataFrame, withDeg: DataFrame,
      preDeg: DataFrame, iterations: Int, damping: Double,
      hasDangling: Boolean, m: Long, integralIds: Boolean): DataFrame = {
    val spark = e.sparkSession
    // |E| arrives from the caller's profile aggregate — no edge-count job.
    // The one |V|-row collect that seeds the driver vector; admission
    // byte-guarded by the caller. deg = 0 marks dangling (null in the frame).
    // Node ids are held as AnyRef (String or boxed java.lang.Long per the
    // caller's idType fork) — boxed once at this |V|-row boundary; the
    // per-edge hot paths below work on int indexes either way.
    val local = withDeg.select(col("node"), col("deg"), col("__t__")).collect()
    preDeg.unpersist(false) // withDeg is a lazy projection over this cache
    val n = local.length
    val nodes = new Array[AnyRef](n)
    val degs = new Array[Long](n)
    val tele = new Array[Double](n)
    var j = 0
    while (j < n) {
      val r = local(j)
      nodes(j) = r.get(0).asInstanceOf[AnyRef]
      degs(j) = if (r.isNullAt(1)) 0L else r.getLong(1)
      tele(j) = r.getDouble(2)
      j += 1
    }
    import spark.implicits._
    // boxed-Long → Option at the LocalRelation boundary: null node entries
    // survive on both id regimes (nullable column, matching the sort-merge
    // loop's null semantics)
    def longNode(j: Int): Option[Long] =
      Option(nodes(j).asInstanceOf[java.lang.Long]).map(_.longValue)

    // One gather of the edge list into int-indexed arrays (from the lazy
    // lineage when the caller asserted distinct — this loop reads it
    // exactly once, so caching first would only add the write). The
    // id → index resolution runs DISTRIBUTED: two broadcast probes of the
    // (id, index) LocalRelation over the edges, so the driver receives
    // 8-byte int pairs instead of two string ids per edge (less transfer,
    // less Row/GC work — the string ids already crossed once in the node
    // collect above). Join semantics mirror the sort-merge loop exactly:
    // src maps through a PLAIN-equality left join (a null src matches
    // nothing → −1, it never contributes), dst through a NULL-SAFE inner
    // join (a null dst IS a groupable node there, so it keeps its index
    // here too).
    val idxDf =
      if (integralIds)
        (0 until n).map(j => (longNode(j), j)).toDF("__n__", "__i__")
      else
        (0 until n).map(j => (nodes(j).asInstanceOf[String], j)).toDF("__n__", "__i__")
    val pairs = e
      .join(broadcast(idxDf.select(col("__n__").as("__sn__"), col("__i__").as("__si__"))),
        col("src") === col("__sn__"), "left")
      .join(broadcast(idxDf.select(col("__n__").as("__dn__"), col("__i__").as("__di__"))),
        col("dst") <=> col("__dn__"))
      .select(shiftleft(coalesce(col("__si__"), lit(-1)).cast("long"), 32)
        .bitwiseOR(col("__di__").cast("long").bitwiseAND(lit(0xffffffffL)))
        .as("__p__"))
    // Driver-memory discipline for the gather: a row-level collect() holds
    // the full Row array AND its builder copies NEXT TO the final int
    // arrays — a peak near 3× the edge-byte budget, which would let a
    // future budget bump OOM a small driver. Instead each (src, dst) index
    // pair is packed into ONE long inside codegen (above) and each executor
    // partition ships a single primitive long[] chunk, so the one collect
    // job's driver peak is chunks (8 B/edge) + the two int arrays
    // (8 B/edge) = 16 B/edge, with no per-Row allocation at all. |E| is
    // known from the profile aggregate, so the arrays size exactly.
    val chunks = pairs.select(col("__p__"))
      .as(org.apache.spark.sql.Encoders.scalaLong)
      .rdd.mapPartitions { it =>
        val b = new scala.collection.mutable.ArrayBuilder.ofLong
        while (it.hasNext) b += it.next()
        Iterator.single(b.result())
      }.collect()
    val mLen = java.lang.Math.toIntExact(m)
    val srcIdx = new Array[Int](mLen)
    val dstIdx = new Array[Int](mLen)
    var got = 0L
    for (chunk <- chunks) {
      var c = 0
      while (c < chunk.length) {
        if (got < mLen) {
          srcIdx(got.toInt) = (chunk(c) >> 32).toInt
          dstIdx(got.toInt) = chunk(c).toInt
        }
        got += 1L; c += 1
      }
    }
    // the gather is done with the edge frame — release it BEFORE the guard
    // below so a guard failure can't leak cache blocks
    e.unpersist(false)
    // loudness guard: the inner dst join DROPS an edge whose dst has no
    // index, and a lineage that evaluates differently than in the degree
    // pass drops or duplicates edges — either way the gather no longer
    // matches the profiled |E|. By construction the index covers every
    // endpoint, so this fires on a precomputedDegrees frame missing a
    // dst-only node or on a nondeterministic edge lineage.
    require(got == m,
      s"edge-index join returned $got rows for $m edges — node index no longer covers all " +
        "endpoints (precomputedDegrees must carry one row per DISTINCT node, src or dst, " +
        "and the edge lineage must be deterministic)")

    var rank = tele.clone()
    var i = 0
    while (i < iterations) {
      var dangling = 0.0
      if (hasDangling) {
        j = 0; while (j < n) { if (degs(j) == 0L) dangling += rank(j); j += 1 }
      }
      val w = new Array[Double](n)
      j = 0
      while (j < n) {
        if (degs(j) > 0L) w(j) = rank(j) / degs(j).toDouble
        j += 1
      }
      val mass = new Array[Double](n)
      var k = 0
      while (k < mLen) {
        if (srcIdx(k) >= 0) mass(dstIdx(k)) += w(srcIdx(k))
        k += 1
      }
      val next = new Array[Double](n)
      j = 0
      while (j < n) {
        next(j) = (1.0 - damping) * tele(j) +
          damping * (mass(j) + dangling * tele(j))
        j += 1
      }
      rank = next
      i += 1
    }
    // Slice discipline for the driver-held result: a LocalRelation splits
    // into defaultParallelism slices, so every downstream shuffle/sort runs
    // 32 concurrent tasks over a frame that is ≤ the 64 MB rank budget by
    // admission — and each such task pays a fixed ~0.25 s of
    // TaskMemoryManager contention (measured: sorting a 16k-row local frame
    // cost ~9 s of summed task time at 32 slices vs ~0.1 s at 4, same
    // wall-parallel work). Size slices to the data (~64k rows each): small
    // results run their tail in one task; a budget-limit 1M-node result
    // still spreads 16 ways.
    val slices = math.max(1L, math.min(16L, n / 65536L + 1L)).toInt
    val out =
      if (integralIds) (0 until n).map(j => (longNode(j), rank(j))).toDF("node", "rank")
      else (0 until n).map(j => (nodes(j).asInstanceOf[String], rank(j))).toDF("node", "rank")
    out.coalesce(slices)
  }
}
