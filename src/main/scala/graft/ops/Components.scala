package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed connected components by iterative min-label propagation —
  * the clustering stage that turns near-dup candidate PAIRS
  * ([[Dedup.minhashCandidates]] / [[Dedup.cosineCandidates]]) into dedup
  * GROUPS (keep one representative per component).
  *
  * Algorithm: every node starts labeled with itself; each round, a node
  * adopts the minimum label in its neighborhood; converged when no label
  * changes. Near-dup graphs are overwhelmingly small star/clique components,
  * so 1–3 rounds suffice in practice; from round 3 on, pointer jumping
  * (label ← label(label)) doubles the propagation horizon per round, so even
  * pathological chains converge in O(log diameter) rounds (`maxIter` caps
  * the loop; the returned status says whether the cap was hit). Each round
  * is one edge-join + one min-aggregate (+ one label self-join when
  * jumping): shuffle scales with |E|, never |V|².
  *
  * Lineage discipline: each round chains join→agg onto the previous round's
  * plan. Left unbroken, the logical plan and the RDD DAG grow linearly with
  * rounds — planning slows every iteration, and one lost executor recomputes
  * the WHOLE chain from the raw edges. An eager cut ([[Snapshots.cut]])
  * every [[CheckpointEvery]] rounds truncates both, bounding recompute depth
  * and keeping the plan constant-size regardless of iteration count.
  */
object Components {

  /** Truncate lineage every this many label-propagation rounds. */
  val CheckpointEvery = 3

  /** Edge-count threshold below which the graph is solved with ONE
    * driver-side union-find instead of the iterative join loop — the
    * broadcast-join principle applied to graphs: near-dup candidate graphs
    * are routinely tiny relative to the corpus (pairs survive banding AND
    * Jaccard), and a 10^5-edge union-find runs in milliseconds where each
    * distributed round costs whole jobs. Above the threshold (or for
    * non-integral id types) the scale path runs unchanged.
    */
  val SmallGraphMaxEdges = 100000L

  /** @param edges two-column frame of undirected edges (ids)
    * @return (id, component) — component = min node id reachable.
    *         Logs a warning when `maxIter` is hit before convergence
    *         (labels then under-merge); use [[connectedComponentsWithStatus]]
    *         to branch on it programmatically.
    *
    * The distributed path's lineage cuts go through [[Snapshots.cut]]: they
    * are reliable checkpoints whenever the application has a checkpoint dir,
    * so on a cluster a lost executor resumes the loop from the last cut
    * instead of round zero, and local checkpoints otherwise.
    */
  def connectedComponents(edges: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 10, smallGraphMaxEdges: Long = SmallGraphMaxEdges): DataFrame =
    connectedComponentsWithStatus(edges, aCol, bCol, maxIter, smallGraphMaxEdges)._1

  /** [[connectedComponents]] plus an explicit converged flag. */
  def connectedComponentsWithStatus(edges: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 10, smallGraphMaxEdges: Long = SmallGraphMaxEdges): (DataFrame, Boolean) = {
    val integralIds = Seq(aCol, bCol).forall(c => edges.schema(c).dataType match {
      case org.apache.spark.sql.types.LongType | org.apache.spark.sql.types.IntegerType => true
      case _ => false
    })
    if (integralIds && smallGraphMaxEdges > 0 && smallGraphMaxEdges < Int.MaxValue) {
      // cheap upper-bound probe: limit+1 never scans past the threshold
      val sample = edges.select(col(aCol).cast("long"), col(bCol).cast("long"))
        .limit((smallGraphMaxEdges + 1).toInt).collect()
      // null endpoints: r.getLong would NPE — the distributed path treats
      // null as a groupable node value, so route such graphs there instead
      // of crashing only below the threshold
      val hasNulls = sample.exists(r => r.isNullAt(0) || r.isNullAt(1))
      if (sample.length <= smallGraphMaxEdges && !hasNulls)
        return (unionFind(edges.sparkSession, sample.map(r => (r.getLong(0), r.getLong(1)))), true)
    }
    // symmetrize once; self-edges make isolated candidate nodes carry through
    val sym = edges.select(col(aCol).as("src"), col(bCol).as("dst"))
      .union(edges.select(col(bCol).as("src"), col(aCol).as("dst")))
      .union(edges.select(col(aCol).as("src"), col(aCol).as("dst")))
      .union(edges.select(col(bCol).as("src"), col(bCol).as("dst")))
      .distinct()
      .persist()

    // Convergence test: labels are monotone non-increasing per node (the
    // self-edges put each node's own label under the min), so sum(component)
    // strictly decreases until the fixed point — an EXACT no-join test, one
    // scalar agg per round instead of a next⋈prev join (which was a third
    // shuffle per round and dominated wall-clock on small graphs). decimal(38)
    // keeps the sum exact at any |V| (long would overflow at cluster scale).
    // String ids (which this operator supports — pageRank emits 'c123'-style
    // nodes) have no numeric embedding that preserves lexicographic order,
    // so their per-round probe sums xxhash64(label) instead: equality is
    // then necessary but not sufficient, and the loop confirms a prospective
    // fixed point with ONE exact next⋈prev join (once per call, not per
    // round) before declaring convergence.
    // INTEGRAL ids only: the exactness argument (monotone labels ⇒ strictly
    // decreasing decimal(38,0) sum until the fixed point) needs label
    // decreases to survive the cast — a fractional Double id chain like
    // 1.2→1.3 rounds to the same decimal(38,0), hiding the change and
    // declaring convergence early. Fractional/float ids route through the
    // hash-probe + one exact confirm join, like strings.
    val numericIds = Seq(aCol, bCol).forall(c => edges.schema(c).dataType match {
      case org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
          org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType => true
      case d: org.apache.spark.sql.types.DecimalType => d.scale == 0
      case _ => false
    })
    def labelSum(df: DataFrame): Option[java.math.BigDecimal] = {
      val lbl = col(df.columns.last)
      val probe = if (numericIds) lbl.cast("decimal(38,0)")
        else xxhash64(lbl).cast("decimal(38,0)")
      Option(df.agg(sum(probe)).first().getDecimal(0))
    }

    var labels = sym.groupBy(col("src").as("id"))
      .agg(min(col("dst")).as("component"))
    var prevSum = labelSum(labels)
    var prevCached: Option[DataFrame] = None
    var lastSnap: Option[DataFrame] = None // newest eager checkpoint, released when superseded
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      // each node takes the min over its neighbors' current labels (and its own)
      val neighborMin = sym
        .join(labels.withColumnRenamed("id", "dst").withColumnRenamed("component", "nbr_label"), "dst")
        .groupBy(col("src").as("id"))
        .agg(min(col("nbr_label")).as("next_label"))
      // Pointer jumping from round 3 on: label ← label(label). Every label IS
      // a node id of the same graph, its own label is ≤ it and reachable, so
      // the flattening is sound and keeps labels monotone — and it doubles
      // the propagation horizon, turning high-diameter chains from O(d)
      // rounds into O(log d). Rounds 1-2 skip the extra join: star/clique
      // components (the overwhelming near-dup case) have converged by then.
      val (propagated, roundScratch) =
        if (iter < 2) (neighborMin, None)
        else {
          // cache the propagate result for the round: both sides of the jump
          // self-join read it — uncached it would compute twice
          val nm = neighborMin.persist()
          val parent = nm.select(col("id").as("__parent_id__"), col("next_label").as("__plbl__"))
          val jumped = nm.join(parent, col("next_label") === col("__parent_id__"), "left")
            .select(col("id"), coalesce(col("__plbl__"), col("next_label")).as("next_label"))
          (jumped, Some(nm))
        }
      val checkpointed = (iter + 1) % CheckpointEvery == 0
      // an eager cut truncates plan+DAG; otherwise cache lazily (the
      // labelSum job below materializes it)
      val next = if (checkpointed) Snapshots.cut(propagated) else propagated.persist()
      val nextSum = labelSum(next)
      roundScratch.foreach(_.unpersist())
      val prospective = nextSum == prevSum
      converged =
        if (prospective && !numericIds)
          // hash-sum equality can collide-and-cancel; confirm exactly
          next.join(labels.select(col("id"), col("component").as("__prev__")), "id")
            .filter(!(col("next_label") <=> col("__prev__")))
            .limit(1).count() == 0
        else prospective
      prevCached.foreach(_.unpersist())
      prevCached = if (checkpointed) None else Some(next)
      // a new eager checkpoint supersedes the previous one: everything from
      // here on reads `next`'s blocks, so the old snapshot can be released
      // (via Snapshots — plain unpersist is a no-op on checkpointed frames)
      if (checkpointed) {
        lastSnap.foreach(Snapshots.release)
        lastSnap = Some(next)
      }
      labels = next.withColumnRenamed("next_label", "component")
      prevSum = nextSum
      iter += 1
    }
    sym.unpersist()
    // if the last round ended on a plain cache (not a checkpoint), cut the
    // result free and release the cache — otherwise the block would outlive
    // the call (the persist-without-unpersist leak class)
    val result = prevCached match {
      case Some(cached) =>
        val cut = Snapshots.cut(labels, release = Seq(cached))
        // the final cut is eager and self-contained — the last mid-loop
        // checkpoint (if any) is now superseded too
        lastSnap.foreach(Snapshots.release)
        cut
      case None => labels // labels IS the final checkpoint; its blocks are the result
    }
    if (!converged)
      org.apache.log4j.Logger.getLogger(getClass)
        .warn(s"connectedComponents hit maxIter=$maxIter before convergence: " +
          "labels are under-merged (raise maxIter for high-diameter graphs)")
    (result, converged)
  }

  /** Driver-side union-find with path compression for sub-threshold graphs;
    * labels every node (both edge endpoints) with the minimum id reachable —
    * exactly the iterative path's fixed point.
    */
  private def unionFind(spark: org.apache.spark.sql.SparkSession,
      edges: Array[(Long, Long)]): DataFrame = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edges.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val byRoot = parent.keys.toSeq.groupBy(find)
    val labels = byRoot.toSeq.flatMap { case (_, members) =>
      val m = members.min
      members.map(n => (n, m))
    }
    import spark.implicits._
    labels.toDF("id", "component")
  }

  /** End-to-end near-dup dedup: candidates → components → per-component
    * min-id representative; returns the surviving rows of `df`.
    */
  def dedupByCandidates(df: DataFrame, idCol: String, candidates: DataFrame,
      aCol: String = "id_a", bCol: String = "id_b"): DataFrame = {
    val comps = connectedComponents(candidates, aCol, bCol)
    val keepers = comps.groupBy(col("component")).agg(min(col("id")).as("keep_id"))
      .select(col("keep_id").as(idCol))
    val inGraph = comps.select(col("id").as(idCol))
    // rows never in any candidate pair survive untouched; graph rows survive
    // iff they are their component's representative
    df.join(inGraph, Seq(idCol), "left_anti")
      .unionByName(df.join(keepers, Seq(idCol), "left_semi"))
  }

  /** [[dedupByCandidates]] with a quality policy: per component keep the row
    * maximizing `scoreCol` (tie → min id) instead of the min-id survivor —
    * the RefinedWeb/FineWeb practice of retaining the best-quality member of
    * each near-dup cluster. Only 8-byte ids + the score ride the component
    * join (payloads never shuffle); the argmax is one `min_by` over a
    * lexicographic (−score, id) struct — the id keeps its OWN type in the
    * tie position (numeric min for numeric ids, lexicographic min for the
    * string ids connectedComponents equally supports; a negated-id spelling
    * would implicitly cast strings to double and null the tie key), so
    * selection is deterministic on any partitioning and any id type.
    * Null scores rank BELOW every real score (an explicit null-last flag in
    * the ordering struct — struct comparison otherwise sorts null fields
    * FIRST, so a null-score member would beat every scored one); a
    * component whose members are ALL null-scored still keeps its min-id
    * row, never losing the whole component. NaN scores lose to every
    * finite score (−NaN is NaN, which sorts greatest) but beat null.
    */
  def dedupByCandidatesCanonical(df: DataFrame, idCol: String, scoreCol: Column,
      candidates: DataFrame, aCol: String = "id_a", bCol: String = "id_b"): DataFrame = {
    val comps = connectedComponents(candidates, aCol, bCol)
    val scored = comps.join(
      df.select(col(idCol).as("id"), scoreCol.cast("double").as("__score__")),
      Seq("id"))
    val keepers = scored.groupBy(col("component"))
      .agg(min_by(col("id"),
        struct(col("__score__").isNull.as("__nulllast__"),
          (-col("__score__")).as("__negs__"), col("id").as("__tie__"))).as("keep_id"))
      .select(col("keep_id").as(idCol))
    val inGraph = comps.select(col("id").as(idCol))
    df.join(inGraph, Seq(idCol), "left_anti")
      .unionByName(df.join(keepers, Seq(idCol), "left_semi"))
  }
}
