package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.Positions

/** Deterministic sampling for training-data pipelines.
  *
  * The reference's `sample(n/frac, seed)` (`ScalableDataFrame.py:1772-1776`)
  * delegates to pandas RNG sampling — non-reproducible across engines and
  * partitionings. At 100 TB, reproducibility matters more than randomness
  * quality: a re-run (or a DuckDB replay, or a different partition count)
  * must select the same rows. Everything here keys on a content hash
  * ([[TextAnalysis.hash60]], first 60 bits of md5 — portable across engines),
  * so selection is a map-side filter: no shuffle, no driver state, no seed
  * drift between attempts/executors.
  */
object Sampling {

  /** Keep `fractions(stratum)` of each stratum (class rebalancing /
    * downsampling). Row kept iff `hash60(id) mod 10000 <
    * fractions(stratum) * 10000` — per-class Bernoulli on a stable id, so
    * membership is independent of partitioning and re-runs. Strata absent
    * from the map keep `default`.
    */
  def stratifiedByHash(
      df: DataFrame,
      stratum: Column,
      id: Column,
      fractions: Map[String, Double],
      default: Double = 1.0): DataFrame = {
    require((fractions.values ++ Seq(default)).forall(f => f >= 0.0 && f <= 1.0),
      "fractions must be in [0, 1]")
    val threshold = fractions.foldLeft(lit((default * 10000).toLong)) {
      case (acc, (k, f)) => when(stratum === lit(k), lit((f * 10000).toLong)).otherwise(acc)
    }
    df.filter(pmod(TextAnalysis.hash60(id.cast("string")), lit(10000L)) < threshold)
  }

  /** Downsample to a TARGET domain mixture (the DoReMi / Pile-style
    * source-weighting step): given target proportions `weights` (domain →
    * share of the output), keep the maximum possible total N = min_d(n_d /
    * w_d) by sampling each domain at `fraction_d = w_d · N / n_d` via
    * [[stratifiedByHash]]. One tiny counts aggregate (|domains| rows to the
    * driver) plans the thresholds; selection itself stays a map-side
    * deterministic hash filter — reproducible on any partitioning/engine.
    * Domains absent from `weights` are dropped; weighted domains absent
    * from the data are ignored (their share is unattainable anyway).
    *
    * Oracle-portability note: fractions are IEEE-double expressions
    * `(w * min_e(n_e / w_e)) / n_d` evaluated in exactly that op order —
    * an engine replaying the same ops gets bit-identical thresholds.
    */
  def toMixture(df: DataFrame, stratum: Column, id: Column,
      weights: Map[String, Double]): DataFrame = {
    require(weights.nonEmpty && weights.values.forall(_ > 0),
      "mixture weights must be positive")
    val counts = df.filter(stratum.isin(weights.keys.toSeq: _*))
      .groupBy(stratum.cast("string").as("__s__")).agg(count(lit(1)).as("__n__"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val present = weights.filter { case (d, _) => counts.getOrElse(d, 0L) > 0L }
    require(present.nonEmpty, s"no weighted domain present in the data: $weights")
    val maxTotal = present.map { case (d, w) => counts(d).toDouble / w }.min
    val fractions = present.map { case (d, w) =>
      d -> math.min(1.0, (w * maxTotal) / counts(d))
    }
    stratifiedByHash(df.filter(stratum.isin(present.keys.toSeq: _*)),
      stratum, id, fractions, default = 0.0)
  }

  /** Exact-n deterministic sample: the n rows with the smallest id-hash —
    * pandas `sample(n=...)` with engine-portable selection. Plans as
    * TakeOrderedAndProject (per-partition top-n, tiny merge), never a global
    * sort.
    */
  def nByHash(df: DataFrame, id: Column, n: Int): DataFrame =
    // id tie-break (like nByHashPerGroup): hash collisions — or duplicate
    // ids, which always collide — at the rank-n boundary would otherwise
    // make the selection partitioning-dependent
    df.orderBy(TextAnalysis.hash60(id.cast("string")), id).limit(n)

  /** Per-stratum exact-n cap: the n rows with the smallest id-hash within
    * each stratum (balanced class caps, per-domain quotas). One window per
    * stratum ordered by (hash, id) — deterministic under hash ties,
    * parallel across strata, no global sort. A stratum with a huge row
    * count still funnels through one task's window; pre-filter with
    * [[stratifiedByHash]] at a generous fraction first when strata are
    * pathologically large.
    */
  def nByHashPerGroup(df: DataFrame, stratum: Column, id: Column, n: Int): DataFrame = {
    require(n > 0, "n must be positive")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(stratum)
      .orderBy(TextAnalysis.hash60(id.cast("string")), id)
    df.withColumn("__rn__", row_number().over(w))
      .filter(col("__rn__") <= n)
      .drop("__rn__")
  }

  /** Weighted sampling WITHOUT replacement, exact n, deterministic
    * (pandas `sample(n, weights=…)` with engine-portable selection):
    * Efraimidis–Spirakis exponential race — each row draws the uniform
    * `u = (hash60(id) mod 1e9 + 0.5)/1e9` and the n largest
    * `score = ln(u)/w` win (equivalent to top-n by `u^(1/w)`; inclusion
    * probability ∝ weight). Map-side score + TakeOrderedAndProject top-n:
    * no shuffle of the full table, reproducible on any partitioning.
    * `ln` differs between libm and the JVM by ≤1 ulp — selection flips only
    * if the rank-n boundary pair is within that, which hash-random scores
    * make vanishingly unlikely (ties on identical (u, w) still break by id).
    */
  def weightedNByHash(df: DataFrame, id: Column, weight: Column, n: Int): DataFrame = {
    require(n > 0, "n must be positive")
    val u = (pmod(TextAnalysis.hash60(id.cast("string")), lit(1000000000L)).cast("double")
      + lit(0.5)) / lit(1e9)
    // fail LOUD on invalid weights (the same posture as toMixture /
    // interleaveBySource): log(u) < 0, so a NEGATIVE weight flips the score
    // positive and that row would deterministically ALWAYS win — the exact
    // inverse of Efraimidis–Spirakis — while a zero/null weight yields a
    // null score that silently drops the row under the desc sort
    val w = weight.cast("double")
    val checkedW = when(w.isNull || w <= 0.0,
      raise_error(concat(lit("weightedNByHash: weights must be positive, got "),
        coalesce(w.cast("string"), lit("null"))))).otherwise(w)
    df.withColumn("__score__", log(u) / checkedW)
      .orderBy(col("__score__").desc, id)
      .limit(n)
      .drop("__score__")
  }

  /** Weighted sampling without replacement from LOG-weights — the Gumbel
    * top-k trick ([[weightedNByHash]]'s complement for weights that only
    * exist in log space, e.g. DSIR importance scores, LM log-likelihoods,
    * where `exp(logw)` would over/underflow): each row draws the
    * deterministic uniform `u = (hash60(id:seed) mod 1e9 + 0.5)/1e9` and the
    * n largest `key = logw + Gumbel(u) = logw − ln(−ln u)` win; inclusion
    * probability ∝ exp(logw). Map-side key + TakeOrderedAndProject — no full
    * shuffle, reproducible on any partitioning. The key is rounded to 6
    * decimals with an id tie-break so 1-ulp `ln` differences between engines
    * can never flip the selection boundary.
    */
  def gumbelTopK(df: DataFrame, id: Column, logWeight: Column, n: Int,
      seed: Long = 0L): DataFrame = {
    require(n > 0, "n must be positive")
    val u = (pmod(TextAnalysis.hash60(concat(id.cast("string"), lit(":"), lit(seed))),
      lit(1000000000L)).cast("double") + lit(0.5)) / lit(1e9)
    df.withColumn("__gk__", round(logWeight.cast("double") - log(-log(u)), 6))
      .orderBy(col("__gk__").desc, id)
      .limit(n)
      .drop("__gk__")
  }

  /** Deterministic k-fold assignment (cross-validation folds): fold =
    * `hash60(id) mod k`, appended as a column — map-side, engine-portable,
    * the same row lands in the same fold on any cluster layout. Folds are
    * hash-balanced (±√n noise), not exact-n; compose with [[nByHashPerGroup]]
    * when exact per-fold counts matter.
    */
  def kFold(df: DataFrame, id: Column, k: Int, out: String = "fold"): DataFrame = {
    require(k >= 2, s"need at least 2 folds: $k")
    df.withColumn(out, pmod(TextAnalysis.hash60(id.cast("string")), lit(k.toLong)))
  }

  /** Deterministic train/val/test split: id-hash bucketed into consecutive
    * fraction ranges, appended as a label column. Map-side, reproducible on
    * any partitioning — the same row lands in the same split on every
    * engine, re-run, and cluster size.
    */
  def split(df: DataFrame, id: Column, fractions: Seq[(String, Double)],
      out: String = "split"): DataFrame = {
    require(fractions.nonEmpty && fractions.forall(_._2 >= 0) &&
      math.abs(fractions.map(_._2).sum - 1.0) < 1e-9, s"fractions must sum to 1: $fractions")
    val bucket = pmod(TextAnalysis.hash60(id.cast("string")), lit(10000L))
    val bounds = fractions.scanLeft(0L) { case (acc, (_, f)) => acc + (f * 10000).round }.tail
    val labeled = fractions.zip(bounds).foldRight(lit(fractions.last._1): Column) {
      case (((name, _), bound), acc) => when(bucket < bound, lit(name)).otherwise(acc)
    }
    df.withColumn(out, labeled)
  }

  /** Deterministic mixture-weighted source interleave — the training ORDER
    * op: documents from different sources emerge evenly braided in
    * proportion to `weights` (no long single-source runs, which bias
    * gradient estimates), reproducibly on any partitioning/engine.
    *
    * Each row gets `pos = (rank within its source, by hash-shuffled order)
    * / weight(source)`; ordering by (pos, id) yields the braid: a source
    * with weight 2 emits two rows for every one row of a weight-1 source.
    * One keyed window (rank per source) — no global state; the braid
    * position is just a sort key, so downstream writers order by it or
    * range-partition on it without ever materializing a global sequence.
    * Adds `braid_pos`.
    */
  def interleaveBySource(df: DataFrame, sourceCol: Column, id: Column,
      weights: Map[String, Double], default: Double = 1.0,
      out: String = "braid_pos"): DataFrame = {
    require(weights.values.forall(_ > 0) && default > 0, "weights must be positive")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(sourceCol)
      .orderBy(TextAnalysis.hash60(id.cast("string")), id)
    val weight = weights.toSeq.sortBy(_._1).foldRight(lit(default): Column) {
      case ((name, wt), acc) => when(sourceCol === name, lit(wt)).otherwise(acc)
    }
    df.withColumn(out, row_number().over(w).cast("double") / weight)
  }

  /** Quality-ranked token-budget selection — "keep the best documents until
    * the budget is spent": rows ordered by (score desc, id asc), null scores
    * LAST (worst quality), survive while their EXCLUSIVE cumulative token
    * count is under `budget`, so the selection fills the budget and only the
    * last kept document may overflow it (the streaming-packing relaxation).
    *
    * The global quality order is NOT a single-task `Window.orderBy`: the
    * exclusive token sum is [[graft.core.Positions.of]]'s `__cum__` with the
    * token count as weight — one sort, one count per sorted partition, and
    * a filter over the sort's output.
    */
  def selectByTokenBudget(df: DataFrame, id: Column, score: Column,
      tokens: Column, budget: Long): DataFrame = {
    require(budget > 0, s"budget must be positive: $budget")
    // null scores sort LAST: `score.isNull` leads the key, because a bare
    // `-score` is null for a null score (ascending puts nulls first) and a
    // stand-in value ties with a real score (a -Inf score negates to +Inf).
    // NaN negates to NaN, which sorts after every finite value
    val order = Seq(score.isNull, -score.cast("double"), id)
    // fail LOUD on null/negative token counts (the weightedNByHash posture):
    // a negative count deflates every later row's cumsum, silently
    // over-filling the budget
    val tok = tokens.cast("long")
    val checkedTok = when(tok.isNull || tok < 0L,
      raise_error(concat(lit("selectByTokenBudget: token counts must be non-negative, got "),
        coalesce(tok.cast("string"), lit("null"))))).otherwise(tok)
    Positions.of(df, order, Some(checkedTok))._1
      .filter(col(Positions.CumCol) < budget)
      .drop(Positions.CumCol, Positions.PosCol)
  }
}
