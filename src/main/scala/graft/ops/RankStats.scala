package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.Positions

/** Rank-based statistics — the Spearman method of the reference's
  * `corr(other, method)` contract (`ScalableSeries.py:896-898`; SURVEY §2.4
  * maps it to "rank-window then corr").
  *
  * Scale: fractional ranks need a global total order, but NOT a global
  * `Window.orderBy` (which funnels the table through one task). We sort the
  * VALUE-FREQUENCY table in parallel, number it with
  * [[graft.core.Positions]] (global positions from per-partition counts),
  * and map ranks back with a shuffle join — every stage is
  * partition-parallel at any scale, and only distinct values ever sort.
  */
object RankStats {

  /** Exact quantiles with linear interpolation (pandas/NumPy type-7,
    * matching DuckDB `quantile_cont`) via distributed range sort + targeted
    * partition reads — the scale-safe exact path. Spark's built-in exact
    * `percentile` merges per-partition value→count maps onto a single
    * reducer: memory grows with distinct-value cardinality and it OOMs on
    * high-cardinality columns at cluster scale (it is also ~3× slower at
    * sf0.1). Two jobs, one scan of the SORTED shuffle output (the range
    * partitioner's boundary sampling does evaluate the select+filter
    * lineage once more before the shuffle map stage — inherent to any
    * range sort; cache upstream if that lineage is expensive): a
    * per-partition size pass over the sorted shuffle replaces BOTH the
    * separate row count and `zipWithIndex`'s internal count job (global
    * offsets fold on the driver); and the ≤ 2·|ps| boundary values come
    * from a `runJob` over ONLY the partitions that hold a wanted rank —
    * every other partition is never re-read.
    */
  def exactQuantiles(df: DataFrame, c: String, ps: Seq[Double]): Seq[Double] = {
    require(ps.forall(p => p >= 0 && p <= 1), "quantile probs must be in [0,1]")
    if (ps.isEmpty) return Seq.empty
    val vals = df.select(col(c).cast("double").as("__v__")).filter(col("__v__").isNotNull)
    val sorted = vals.orderBy(col("__v__")).rdd.map(_.getDouble(0))
    // job 1: materializes the sort (sample + shuffle write) and returns
    // per-partition sizes off the shuffle read
    val sizes = sorted.mapPartitions(it => {
      var k = 0L; while (it.hasNext) { it.next(); k += 1L }; Iterator.single(k)
    }, preservesPartitioning = true).collect()
    val n = sizes.sum
    if (n == 0) return ps.map(_ => Double.NaN)
    // h = (n-1)p; the boundary interpolates v[floor(h)] .. v[ceil(h)]
    val hs = ps.map(p => (n - 1) * p)
    val wanted = hs.flatMap(h => Seq(h.floor.toLong, h.ceil.toLong)).toSet
    // global rank → (partition, local offset) through the size prefix sums
    val offsets = sizes.scanLeft(0L)(_ + _)
    val byPart = wanted.toSeq.map { i =>
      val p = offsets.lastIndexWhere(_ <= i, offsets.length - 2)
      (p, i - offsets(p), i)
    }.groupBy(_._1)
    val picked = new scala.collection.mutable.HashMap[Long, Double]
    // job 2: re-read ONLY the partitions holding a wanted rank (sorted
    // shuffle files reused); each task walks to its last wanted offset
    val parts = byPart.keys.toArray.sorted
    val results = sorted.sparkContext.runJob(sorted,
      (ctx: org.apache.spark.TaskContext, it: Iterator[Double]) => {
        val want = byPart(ctx.partitionId()).map(t => t._2 -> t._3).sortBy(_._1)
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Double)]
        var k = 0L; var wi = 0
        while (wi < want.length && it.hasNext) {
          val v = it.next()
          while (wi < want.length && want(wi)._1 == k) { out += want(wi)._2 -> v; wi += 1 }
          k += 1L
        }
        out.toSeq
      }, parts.toIndexedSeq)
    results.foreach(_.foreach { case (i, v) => picked(i) = v })
    hs.map { h =>
      val lo = picked(h.floor.toLong); val hi = picked(h.ceil.toLong)
      lo + (hi - lo) * (h - h.floor)
    }
  }

  /** Append fractional (average) rank of `c` as `out`: for a tie-group of
    * size k starting at 1-based sorted position p, every member ranks
    * p + (k-1)/2 — pandas `rank(method="average")`. Null values rank null.
    *
    * Scale shape: ranks derive from the VALUE-FREQUENCY table, not the row
    * stream — one row per distinct value moves through the sort, so a
    * billion-row column with a million distinct values sorts a million
    * rows. The tie-group's start is the exclusive prefix sum of counts in
    * value order, [[graft.core.Positions.of]]'s `__cum__` with the count as
    * weight — never a single-task global window. avg = `__cum__` + (k+1)/2
    * is exact integer math until the one final halving, identical to
    * averaging the 1-based positions themselves.
    */
  def withAverageRank(df: DataFrame, c: String, out: String): DataFrame = {
    val freq = df.select(col(c).as("__val__")).filter(col("__val__").isNotNull)
      .groupBy(col("__val__")).agg(count(lit(1)).as("__cnt__"))
    val ranks = Positions.of(freq, Seq(col("__val__")), Some(col("__cnt__")))._1
      .select(col("__val__"),
        (col(Positions.CumCol).cast("double") + (col("__cnt__") + 1L).cast("double") / 2.0).as(out))
    df.join(ranks, df(c) === ranks("__val__"), "left").drop("__val__")
  }

  /** All five pandas `groupby(part)[c].rank(method=…)` variants in one
    * window pass: min (competition rank), max, dense, first (order of
    * `tieBreak` within ties — pandas uses input order; a deterministic
    * engine needs an explicit tie-break column), and average
    * (= (min+max)/2). One shuffle; every rank is integer math except
    * average's exact .5 halves — no fp drift anywhere.
    */
  def groupRanks(df: DataFrame, partCol: String, valCol: String,
      tieBreak: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(partCol)).orderBy(col(valCol))
    val tieCnt = count(lit(1)).over(Window.partitionBy(col(partCol), col(valCol)))
    val rMin = rank().over(w).cast("long")
    val rMax = rMin + tieCnt - 1L
    df.withColumn("rank_min", rMin)
      .withColumn("rank_max", rMax)
      .withColumn("rank_dense", dense_rank().over(w).cast("long"))
      .withColumn("rank_first", row_number().over(
        Window.partitionBy(col(partCol)).orderBy(col(valCol), col(tieBreak))).cast("long"))
      .withColumn("rank_avg", (col("rank_min") + col("rank_max")) / lit(2.0))
      // pandas rank(pct=True): average rank over group size — exact halves
      // over an exact count, still no fp drift beyond the one division
      .withColumn("rank_pct", col("rank_avg") /
        count(lit(1)).over(Window.partitionBy(col(partCol))).cast("double"))
  }

  /** Winsorize: clip a column at its exact [pLo, pHi] quantiles
    * (type-7 interpolation via [[exactQuantiles]] — the range-sort scale
    * path, not the single-reducer builtin). Two lightweight jobs to find the
    * boundaries, then a map-side clip.
    */
  def winsorize(df: DataFrame, c: String, pLo: Double, pHi: Double): Column = {
    val Seq(lo, hi) = exactQuantiles(df, c, Seq(pLo, pHi))
    greatest(least(col(c).cast("double"), lit(hi)), lit(lo))
  }

  /** Quantile-band ("winsorized-band") trimmed mean: mean of the values
    * inside the INCLUSIVE [p, 1−p] type-7 quantile band. NOT scipy
    * `trim_mean`, which discards exactly `floor(p*n)` observations per
    * tail — the two diverge when `p*n` is fractional or boundary values are
    * tied/interpolated; this band form is chosen because it distributes as
    * two lightweight range-sort jobs for the boundaries
    * ([[exactQuantiles]]) + one map-side conditional average, with no
    * per-group ordinal assignment pass.
    */
  def trimmedMean(df: DataFrame, c: String, p: Double): Double = {
    require(p >= 0 && p < 0.5, s"trim fraction must be in [0, 0.5): $p")
    val Seq(lo, hi) = exactQuantiles(df, c, Seq(p, 1 - p))
    val r = df.agg(avg(when(col(c).cast("double").between(lo, hi),
      col(c).cast("double")))).head()
    if (r.isNullAt(0)) Double.NaN else r.getDouble(0)
  }

  /** Per-group trimmed mean: each group's [p, 1−p] band from the grouped
    * exact `percentile` (partial-aggregated — the q92-verified path), then
    * one conditional average per group. Two shuffles on the group keys,
    * nothing global.
    */
  def trimmedMeanPerGroup(df: DataFrame, groupCols: Seq[String], c: String,
      p: Double, out: String = "trimmed_mean"): DataFrame = {
    require(p >= 0 && p < 0.5, s"trim fraction must be in [0, 0.5): $p")
    val bounds = df.groupBy(groupCols.map(col): _*)
      .agg(percentile(col(c).cast("double"), array(lit(p), lit(1 - p))).as("__b__"))
      .select(groupCols.map(col) :+ element_at(col("__b__"), 1).as("__lo__")
        :+ element_at(col("__b__"), 2).as("__hi__"): _*)
    df.join(bounds, groupCols)
      .groupBy(groupCols.map(col): _*)
      .agg(avg(when(col(c).cast("double").between(col("__lo__"), col("__hi__")),
        col(c).cast("double"))).as(out))
  }

  /** Spearman rank correlation of two columns, pairwise-complete (rows where
    * either side is null are dropped before ranking — pandas semantics).
    */
  def spearman(df: DataFrame, a: String, b: String): Double = {
    val clean = df.select(col(a), col(b))
      .filter(col(a).isNotNull && col(b).isNotNull)
    val ranked = withAverageRank(withAverageRank(clean, a, "__ra__"), b, "__rb__")
    // safeCorr: an all-tied side ranks constant, and built-in corr on a
    // constant column throws DIVIDE_BY_ZERO under ANSI — pandas yields NaN
    val r = ranked.agg(graft.sdf.SCol.safeCorr(col("__ra__"), col("__rb__"))).head()
    if (r.isNullAt(0)) Double.NaN else r.getDouble(0)
  }

  /** [[kendall]] on a deterministic hash sample capped at ~`maxRows` rows —
    * the 100 TB path: tau is an average over pairs, so a uniform row sample
    * gives an unbiased estimate with s.e. ~ 1/√pairs; `maxRows`=10^5 keeps
    * the pair join at ≤5·10^9 streamed comparisons. Sampling uses the
    * engine's portable hash on a caller-supplied key column, so the estimate
    * is reproducible on any cluster layout.
    */
  def kendallSampled(df: DataFrame, a: String, b: String, keyCol: String,
      maxRows: Long = 100000L): Double =
    kendall(hashSample(df, keyCol, maxRows), a, b)

  /** Deterministic hash sample of ~`maxRows` rows at parts-per-BILLION
    * granularity: keep rows where `hash60(key) mod 1e9 < maxRows/n * 1e9`.
    * (The previous integer-percent threshold floored at 1% — at n = 10^9
    * with maxRows = 10^5 it kept 100× the cap, defeating the whole point of
    * sampling; ppb granularity keeps the expected sample within rounding of
    * `maxRows` until n exceeds 10^9·maxRows.) Map-side filter, no shuffle;
    * reproducible on any cluster layout because the hash is content-based.
    */
  def hashSample(df: DataFrame, keyCol: String, maxRows: Long): DataFrame = {
    val n = df.count()
    if (n <= maxRows) df
    else {
      val ppb = math.max(1L, math.round(maxRows.toDouble / n * 1e9))
      df.filter(
        org.apache.spark.sql.functions.pmod(
          graft.ops.TextAnalysis.hash60(col(keyCol).cast("string")),
          lit(1000000000L)) < ppb)
    }
  }

  /** Kendall tau-b — the last method of the `corr(other, method)` contract
    * (`ScalableSeries.py:896-898`): (C − D) / √((n0 − n1)(n0 − n2)) over
    * concordant/discordant pair counts with tie corrections.
    *
    * Scale: exact tau is inherently pairwise — this is ONE distributed
    * self-join producing n(n−1)/2 comparison rows and a single aggregate
    * (no driver loop), fine to ~10^5 rows (10^10 pair-rows streamed, never
    * materialized). Beyond that, estimate on a [[Sampling]] subset: tau is
    * an average over pairs, so a uniform sample is unbiased.
    */
  def kendall(df: DataFrame, a: String, b: String): Double = {
    // The pair ids MUST be pinned before the self-join: the two join sides
    // evaluate the frame independently (no CSE across join inputs), and
    // monotonically_increasing_id depends on intra-partition row order —
    // nondeterministic above an exchange — so without the eager cut
    // the same physical row could carry DIFFERENT __i__ values on each side,
    // double- or zero-counting pairs. Exact kendall is O(n²) pairs and thus
    // inherently bounded-n (use kendallSampled beyond that), so the cut is
    // small by construction; it is released once the aggregate has run.
    val d = Snapshots.cut(df.select(col(a).cast("double").as("x"), col(b).cast("double").as("y"))
      .filter(col("x").isNotNull && col("y").isNotNull)
      .withColumn("__i__", monotonically_increasing_id())) // any distinct ids: pairs count once via <
    val l = d.as("l"); val r = d.as("r")
    val prod = (col("l.x") - col("r.x")) * (col("l.y") - col("r.y"))
    val row = try l.join(r, col("l.__i__") < col("r.__i__"))
      .agg(
        sum(when(prod > 0, 1L).otherwise(0L)).as("c"),
        sum(when(prod < 0, 1L).otherwise(0L)).as("d"),
        sum(when(col("l.x") === col("r.x"), 1L).otherwise(0L)).as("n1"),
        sum(when(col("l.y") === col("r.y"), 1L).otherwise(0L)).as("n2"),
        count(lit(1)).as("n0"))
      .head()
    finally Snapshots.release(d)
    if (row.isNullAt(4) || row.getLong(4) == 0L) Double.NaN
    else {
      val Seq(c, disc, n1, n2, n0) = (0 to 4).map(row.getLong(_))
      val denom = math.sqrt((n0 - n1).toDouble * (n0 - n2).toDouble)
      if (denom == 0.0) Double.NaN else (c - disc) / denom
    }
  }
}
