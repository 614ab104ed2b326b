package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Exponentially-weighted windows — pandas `ewm`, blocked in the reference
  * (`ScalableDataFrame.py:1374-1397`), parity-plus here.
  *
  * ewm is a RECURSIVE window (y_t depends on y_{t-1}): not expressible as a
  * Spark window-frame aggregate, and the closed-form trick (weight by
  * (1-α)^{-i}, cumsum, rescale) overflows doubles past a few hundred rows.
  * Instead: one groupBy collects each key's series sorted by the order
  * column, ONE linear `aggregate` HOF pass runs the recursion per group, and
  * explode restores the rows. Shuffle count = 1 (the groupBy); memory bound =
  * one key's series per task — the same per-group bound pandas itself needs.
  */
object WindowStats {

  /** Exponentially-weighted mean per key group along `orderCol`.
    *
    * @param adjust pandas semantics —
    *               true:  y_t = Σ_{i≤t} (1-α)^(t-i)·x_i / Σ_{i≤t} (1-α)^(t-i)
    *               false: y_0 = x_0; y_t = α·x_t + (1-α)·y_{t-1}
    */
  def ewmMean(df: DataFrame, keys: Seq[String], orderCol: String,
      valueCol: String, alpha: Double, adjust: Boolean = false,
      out: String = "ewm"): DataFrame = {
    require(alpha > 0 && alpha <= 1, s"alpha must be in (0, 1], got $alpha")
    val beta = 1.0 - alpha
    val keyCols = keys.map(col)
    val grouped = df
      .groupBy(keyCols: _*)
      .agg(array_sort(collect_list(struct(col(orderCol).as("o"),
        col(valueCol).cast("double").as("x")))).as("__s__"))

    // acc = (outputs so far, running weighted mean, old-observation weight);
    // the fold appends one output per element — linear in group size. This
    // is pandas' own incremental form (ewm.pyx, ignore_na=False default):
    //   per position after the first valid: w ← w·β  (decay by ABSOLUTE
    //     position, so null gaps still age older observations);
    //   valid x: avg ← (w·avg + nw·x)/(w + nw) with nw = 1 (adjust) or α,
    //     then w ← w + nw (adjust) or w ← 1;
    //   null/NaN x: state keeps decaying, the output carries the current
    //     mean forward (a null must NOT poison the accumulator — the old
    //     `x + num·β` recursion nulled every output after the first null);
    //   before any valid x: output null.
    // w == 0 encodes "no valid observation yet" (w ≥ β^k > 0 afterwards).
    val nw = if (adjust) 1.0 else alpha
    val zero = struct(
      array().cast("array<double>").as("arr") /* containsNull=true: outputs may be null before the first valid x */,
      lit(0.0).as("avg"), lit(0.0).as("w"))
    val folded = aggregate(
      col("__s__"), zero,
      (acc, e) => {
        val x = e.getField("x")
        val avgP = acc.getField("avg")
        val wP = acc.getField("w")
        val seen = wP > 0.0
        val valid = x.isNotNull && !isnan(x)
        val wD = when(seen, wP * beta).otherwise(lit(0.0))
        val avgN = when(!valid, avgP)
          .when(seen, (wD * avgP + lit(nw) * x) / (wD + lit(nw)))
          .otherwise(x)
        val wN = when(!valid, wD)
          .otherwise(if (adjust) when(seen, wD + lit(nw)).otherwise(lit(1.0))
            else lit(1.0))
        val y = when(valid || seen, avgN).otherwise(lit(null).cast("double"))
        struct(concat(acc.getField("arr"), array(y)).as("arr"),
          avgN.as("avg"), wN.as("w"))
      },
      acc => acc.getField("arr"))

    grouped.withColumn("__e__", folded) // staged: HOF result referenced once
      .select(keyCols :+ explode(arrays_zip(col("__s__"), col("__e__"))).as("__z__"): _*)
      .select(keyCols ++ Seq(
        col("__z__.__s__.o").as(orderCol),
        col("__z__.__s__.x").as(valueCol),
        col("__z__.__e__").as(out)): _*)
  }

  /** Exponentially-weighted variance (pandas `ewm(alpha).var(bias)`), same
    * groupBy + linear-fold shape as [[ewmMean]]. The fold carries the decayed
    * weighted moments (Σw, Σw², Σw·x, Σw·x²) — pandas' effective weights are
    * w_i = β^(t-i) for adjust=true and w_0 = β^t, w_i = α·β^(t-i) for
    * adjust=false — and emits
    * `(Σwx²/Σw − (Σwx/Σw)²) · (Σw)²/((Σw)² − Σw²)` (the debiased weighted
    * variance; NaN while the correction denominator is 0, i.e. at the first
    * observation — matching pandas bias=false).
    */
  def ewmVar(df: DataFrame, keys: Seq[String], orderCol: String,
      valueCol: String, alpha: Double, adjust: Boolean = false,
      bias: Boolean = false, out: String = "ewm_var"): DataFrame = {
    require(alpha > 0 && alpha <= 1, s"alpha must be in (0, 1], got $alpha")
    val beta = 1.0 - alpha
    val keyCols = keys.map(col)
    val grouped = df
      .groupBy(keyCols: _*)
      .agg(array_sort(collect_list(struct(col(orderCol).as("o"),
        col(valueCol).cast("double").as("x")))).as("__s__"))

    // Null/NaN handling mirrors [[ewmMean]] (pandas ignore_na=False): a
    // missing x decays every moment by one position's weight (sw·β, sw2·β²,
    // m1·β, m2·β — the debiased variance is INVARIANT under that uniform
    // decay, so the output carries forward) instead of nulling the
    // accumulator; outputs are null before the first valid observation.
    // sw == 0 encodes "no valid observation yet".
    val zero = struct(
      array().cast("array<double>").as("arr") /* containsNull=true: outputs may be null before the first valid x */,
      lit(0.0).as("sw"), lit(0.0).as("sw2"),
      lit(0.0).as("m1"), lit(0.0).as("m2"))
    val folded = aggregate(
      col("__s__"), zero,
      (acc, e) => {
        val x = e.getField("x")
        val first = acc.getField("sw") === 0.0
        val valid = x.isNotNull && !isnan(x)
        val (wNew, w2New) =
          if (adjust) (lit(1.0), lit(1.0))
          else (when(first, 1.0).otherwise(alpha), when(first, 1.0).otherwise(alpha * alpha))
        val sw = when(valid, wNew + acc.getField("sw") * beta)
          .otherwise(acc.getField("sw") * beta)
        val sw2 = when(valid, w2New + acc.getField("sw2") * (beta * beta))
          .otherwise(acc.getField("sw2") * (beta * beta))
        val m1 = when(valid, wNew * x + acc.getField("m1") * beta)
          .otherwise(acc.getField("m1") * beta)
        val m2 = when(valid, wNew * x * x + acc.getField("m2") * beta)
          .otherwise(acc.getField("m2") * beta)
        val mean = m1 / sw
        val biased = m2 / sw - mean * mean
        val v =
          if (bias) biased
          else when(sw * sw > sw2, biased * sw * sw / (sw * sw - sw2))
            .otherwise(lit(Double.NaN))
        val y = when(sw > 0.0, v).otherwise(lit(null).cast("double"))
        struct(concat(acc.getField("arr"), array(y)).as("arr"),
          sw.as("sw"), sw2.as("sw2"), m1.as("m1"), m2.as("m2"))
      },
      acc => acc.getField("arr"))

    grouped.withColumn("__e__", folded)
      .select(keyCols :+ explode(arrays_zip(col("__s__"), col("__e__"))).as("__z__"): _*)
      .select(keyCols ++ Seq(
        col("__z__.__s__.o").as(orderCol),
        col("__z__.__s__.x").as(valueCol),
        col("__z__.__e__").as(out)): _*)
  }

  /** `ewm(alpha).std(bias)` — sqrt of [[ewmVar]]. */
  def ewmStd(df: DataFrame, keys: Seq[String], orderCol: String,
      valueCol: String, alpha: Double, adjust: Boolean = false,
      bias: Boolean = false, out: String = "ewm_std"): DataFrame =
    ewmVar(df, keys, orderCol, valueCol, alpha, adjust, bias, out)
      .withColumn(out, sqrt(col(out)))

  /** pandas `interpolate(method="linear")` per key group along the order
    * columns: interior nulls become the linear blend of the surrounding
    * non-null values (weighted by row position, like pandas' default
    * index-free interpolation), trailing nulls carry the last valid value,
    * leading nulls stay null.
    *
    * One shuffle (the window partition); the forward- and backward-looking
    * frames both ride the same sort. No collect, no UDF — scale-safe at any
    * group count, memory bound = one partition's window buffer.
    */
  def interpolateLinear(df: DataFrame, keys: Seq[String], orderCols: Seq[Column],
      valueCol: String, out: String = "interp"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(keys.map(col): _*).orderBy(orderCols: _*)
    val back = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val fwd = w.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val v = col(valueCol).cast("double")
    val pos = col("__pos__")
    val staged = df
      .withColumn("__pos__", row_number().over(w))
      .withColumn("__pv__", last(v, ignoreNulls = true).over(back))
      .withColumn("__pp__", last(when(v.isNotNull, pos), ignoreNulls = true).over(back))
      .withColumn("__nv__", first(v, ignoreNulls = true).over(fwd))
      .withColumn("__np__", first(when(v.isNotNull, pos), ignoreNulls = true).over(fwd))
    // op order mirrors the SQL oracle exactly: pv + (nv-pv)*(pos-pp)/(np-pp)
    staged
      .withColumn(out,
        when(v.isNotNull, v)
          .when(col("__pv__").isNull, lit(null).cast("double"))
          .when(col("__nv__").isNull, col("__pv__"))
          .otherwise(col("__pv__") + (col("__nv__") - col("__pv__")) *
            (pos - col("__pp__")) / (col("__np__") - col("__pp__"))))
      .drop("__pos__", "__pv__", "__pp__", "__nv__", "__np__")
  }

  /** pandas time-based `rolling("30min")`: aggregate over a trailing TIME
    * window (not a row count) per key — a RANGE frame over the exact-µs
    * time axis. One keyed window, single shuffle; rows with equal
    * timestamps share a frame on any engine because the frame is
    * value-based.
    *
    * @param closed endpoint semantics on the µs axis —
    *               "both":  [t−window, t], SQL RANGE-frame semantics
    *                        (pandas `rolling(..., closed='both')`); the
    *                        default here because it is what a SQL
    *                        `RANGE BETWEEN w PRECEDING AND CURRENT ROW`
    *                        computes;
    *               "right": (t−window, t], pandas' own offset-window
    *                        default (`closed='right'`) — pass this for
    *                        exact pandas-default parity; a row exactly
    *                        `window` earlier is excluded.
    */
  def rollingMeanByTime(df: DataFrame, keys: Seq[String], timeCol: String,
      valueCol: String, windowMicros: Long, out: String = "roll_mean",
      closed: String = "both"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val isTs = df.schema(timeCol).dataType ==
      org.apache.spark.sql.types.TimestampType
    val t = if (isTs) unix_micros(col(timeCol)) else col(timeCol).cast("long")
    val lower = closed match {
      case "both" => -windowMicros
      case "right" => -windowMicros + 1 // open left endpoint, exact on the µs axis
      case other => throw new IllegalArgumentException(
        s"closed must be 'both' or 'right', got '$other'")
    }
    val w = Window.partitionBy(keys.map(col): _*).orderBy(t)
      .rangeBetween(lower, 0)
    df.withColumn(out, avg(col(valueCol)).over(w))
  }

  /** Batch sessionization: gap-based session ids per key — a new session
    * starts when the time since the previous row exceeds `gapMicros`
    * (timestamps compare in exact integer microseconds; numeric axes in
    * their own units). `session_id` is the running count of session starts:
    * one keyed window, two frame computations, single shuffle. The batch
    * complement of the streaming session windows in
    * [[graft.streaming.EventStreams]].
    */
  def sessionize(df: DataFrame, keys: Seq[String], orderCols: Seq[Column],
      timeCol: String, gapMicros: Long, out: String = "session_id"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(keys.map(col): _*).orderBy(orderCols: _*)
    val isTs = df.schema(timeCol).dataType ==
      org.apache.spark.sql.types.TimestampType
    val t = if (isTs) unix_micros(col(timeCol)) else col(timeCol).cast("long")
    val prev = lag(t, 1).over(w)
    val newSession = when(prev.isNull || t - prev > gapMicros, 1L).otherwise(0L)
    df.withColumn("__ns__", newSession)
      .withColumn(out, sum(col("__ns__")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .drop("__ns__")
  }

  /** pandas `Series.autocorr(lag)` per group: Pearson correlation of the
    * series with its own lag-k shift, ordered by `orderCols` within each
    * key. One keyed window (the lag) + one grouped corr — scale-parallel
    * across groups; for a single global series pass a constant group and
    * accept the one-partition window (the same small-series contract as
    * exact kendall).
    */
  def autocorrPerGroup(df: DataFrame, keys: Seq[String], orderCols: Seq[Column],
      value: Column, lag: Int = 1, out: String = "autocorr"): DataFrame = {
    require(lag >= 1, s"lag must be >= 1: $lag")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*).orderBy(orderCols: _*)
    df.withColumn("__x__", value.cast("double"))
      .withColumn("__xl__", org.apache.spark.sql.functions.lag(col("__x__"), lag).over(w))
      .filter(col("__xl__").isNotNull)
      .groupBy(keys.map(col): _*)
      // safeCorr: a constant group (zero variance) must yield a null cell,
      // not an ANSI DIVIDE_BY_ZERO crash of every other group's result
      .agg(graft.sdf.SCol.safeCorr(col("__x__"), col("__xl__")).as(out))
  }

  /** pandas `rolling(n).corr(other)` over a keyed window: Pearson correlation
    * of the last `n` rows, null until the frame holds `n` rows
    * (min_periods = n, the pandas default). Spelled from the naive sum
    * formula — `(n·Σxy − Σx·Σy) / (√(n·Σx² − (Σx)²) · √(n·Σy² − (Σy)²))` —
    * so any SQL engine reproduces it term for term; sample vs population
    * scaling cancels in the ratio. One shuffle, five frame aggregates over
    * one sort.
    */
  def rollingCorr(x: Column, y: Column, n: Int,
      over: org.apache.spark.sql.expressions.WindowSpec): Column = {
    val w = over.rowsBetween(-(n - 1), 0)
    val xd = x.cast("double"); val yd = y.cast("double")
    val cnt = count(when(xd.isNotNull && yd.isNotNull, 1)).over(w)
    val sx = sum(xd).over(w); val sy = sum(yd).over(w)
    val sxy = sum(xd * yd).over(w)
    val sx2 = sum(xd * xd).over(w); val sy2 = sum(yd * yd).over(w)
    val nL = lit(n.toDouble)
    // denominator guard: a zero-variance (constant) window is a legitimate
    // data shape and must yield null, not an ANSI DIVIDE_BY_ZERO crash
    val den = sqrt(nL * sx2 - sx * sx) * sqrt(nL * sy2 - sy * sy)
    when(cnt === n && den > 0.0, (nL * sxy - sx * sy) / den)
  }

  /** pandas `rolling(n).cov(other)` — sample covariance of the last `n`
    * rows: `(Σxy − Σx·Σy/n) / (n−1)`; null until the frame is full.
    */
  def rollingCov(x: Column, y: Column, n: Int,
      over: org.apache.spark.sql.expressions.WindowSpec): Column = {
    require(n >= 2, s"sample covariance needs a window of at least 2: $n") // /(n-1) is a literal ANSI divide
    val w = over.rowsBetween(-(n - 1), 0)
    val xd = x.cast("double"); val yd = y.cast("double")
    val cnt = count(when(xd.isNotNull && yd.isNotNull, 1)).over(w)
    val nL = lit(n.toDouble)
    when(cnt === n,
      (sum(xd * yd).over(w) - sum(xd).over(w) * sum(yd).over(w) / nL) /
        lit((n - 1).toDouble))
  }

  /** pandas `rolling(n).quantile(q, interpolation="linear")` — exact type-7
    * quantile of the last `n` rows, null until the frame holds `n`
    * (min_periods = n). Spark's exact `percentile` aggregate evaluates over
    * the row frame with linear interpolation — the same arithmetic as
    * DuckDB's `quantile_cont`, so results are SQL-reproducible. Cost note:
    * a sliding ImperativeAggregate re-buffers per row (O(rows·n) per key) —
    * the right trade for the small `n` rolling windows are used with; the
    * shuffle count stays at one (the window's).
    */
  def rollingQuantile(x: Column, q: Double, n: Int,
      over: org.apache.spark.sql.expressions.WindowSpec): Column = {
    val w = over.rowsBetween(-(n - 1), 0)
    val xd = x.cast("double")
    when(count(xd).over(w) === n, percentile(xd, lit(q)).over(w))
  }

  /** pandas `rolling(n).median()` — [[rollingQuantile]] at q = 0.5. */
  def rollingMedian(x: Column, n: Int,
      over: org.apache.spark.sql.expressions.WindowSpec): Column =
    rollingQuantile(x, 0.5, n, over)
}
