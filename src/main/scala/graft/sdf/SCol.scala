package graft.sdf

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.DriverGather

/** Pandas-flavored series surface — the reference's `ScalableSeries`
  * (`src/bears/core/frame/ScalableSeries.py:49`) over a Spark `Column` bound
  * to its parent DataFrame.
  *
  * Element-wise methods are lazy `Column` algebra (codegen'd, stay inside
  * whole-stage codegen); the statistics family (`ScalableSeries.py:880-993`)
  * triggers a single aggregate job and returns a scalar, matching bears'
  * eager-series semantics. Each aggregate is a partial-aggregatable Spark
  * built-in, so the shuffle carries one row per partition at any scale.
  */
final class SCol(private val df: DataFrame, val col: Column, val name: String) {

  private def scalar[T](e: Column): T = df.agg(e).head().getAs[T](0)

  /** Double-scalar aggregate with pandas missing-data semantics: a SQL null
    * result (empty/all-null input, degenerate stddev, …) returns NaN — the
    * bare `scalar[Double]` would unbox null to 0.0, indistinguishable from a
    * real zero statistic.
    */
  private def scalarNaN(e: Column): Double = {
    val r = df.agg(e.cast("double")).head()
    if (r.isNullAt(0)) Double.NaN else r.getDouble(0)
  }

  // ---- element-wise (§2.8) — lazy Column algebra ------------------------

  def +(other: Column): Column = col + other
  def -(other: Column): Column = col - other
  def *(other: Column): Column = col * other
  def /(other: Column): Column = col / other
  def %(other: Column): Column = col % other
  def **(other: Column): Column = pow(col, other)
  /** pandas `//` — floor division (floor of the true quotient, like Python). */
  def floorDiv(other: Column): Column = floor(col / other).cast("long")
  /** pandas `hasnans` — true for nulls AND, on float/double columns, real
    * NaN values (pandas counts both; `isNull` alone misses NaN). Non-float
    * columns skip the `isnan` probe, which only analyzes on fractional types.
    */
  def hasnans: Boolean = {
    val isFloat = df.schema.find(_.name == name).map(_.dataType).exists {
      case org.apache.spark.sql.types.FloatType | org.apache.spark.sql.types.DoubleType => true
      case _ => false
    }
    val missing = if (isFloat) col.isNull || isnan(col) else col.isNull
    scalar[Boolean](count(when(missing, 1)) > 0)
  }

  def abs_ : Column = abs(col)

  /** `clip(lower, upper)` (`ScalableSeries.py:892-894`). Null and NaN pass
    * through like pandas — a bare `greatest(least(...))` would FABRICATE the
    * upper bound for them (`least` skips nulls; NaN orders greatest).
    */
  def clip(lower: Double, upper: Double): Column =
    when(col.isNull || isnan(col.cast("double")), col)
      .otherwise(greatest(least(col, lit(upper)), lit(lower)))

  /** `astype` (`NumpyArrayScalableSeries.py:279-284`). */
  def astype(t: String): Column = col.cast(t)

  def isin(values: Any*): Column = col.isin(values: _*)
  def between(l: Any, r: Any): Column = col.between(l, r)
  def isna: Column = col.isNull
  def notna: Column = col.isNotNull
  def fillna(value: Any): Column = coalesce(col, lit(value))

  /** `ss.apply(func)` escape hatch (`ScalableSeries.py:855-868`) — a Scala
    * closure as a UDF. LAST resort (§2.12): a UDF breaks whole-stage codegen
    * and columnar batching; prefer Column algebra / built-ins, which cover
    * every reference processor (SURVEY.md §2.10).
    */
  def applyUdf[I: scala.reflect.runtime.universe.TypeTag,
      O: scala.reflect.runtime.universe.TypeTag](f: I => O): Column =
    udf(f).apply(col)

  /** `map(dict, na_action)` (`NumpyArrayScalableSeries.py:304-338`): lookup
    * via a literal map expression — broadcast-free, codegen'd. Keys absent
    * from the map yield null (pandas NaN).
    */
  def mapValues(mapping: Map[String, String]): Column =
    element_at(typedLit(mapping), col)

  // ---- statistics family (§2.4) — eager scalars -------------------------

  def sum_ : Double = scalar[Double](sum(col.cast("double")))
  def mean: Double = scalarNaN(avg(col))
  def min_ : Any = scalar[Any](min(col))
  def max_ : Any = scalar[Any](max(col))
  def std: Double = scalarNaN(stddev_samp(col))
  def variance: Double = scalarNaN(var_samp(col))
  def count_ : Long = scalar[Long](count(col))
  def median: Double = quantile(0.5)
  /** Geometric mean via the log-sum identity `exp(mean(ln x))` — the only
    * overflow-safe distributed spelling (a product of 10^9 values over- or
    * underflows doubles immediately). Non-positive elements follow
    * `scipy.stats.gmean`: any zero → 0.0, any negative → NaN. (The bare
    * `exp(avg(ln x))` silently SKIPPED them — `ln` of a non-positive is SQL
    * null — quietly computing the gmean of the positive subset.)
    */
  def geomean: Double = {
    val x = col.cast("double")
    val r = df.agg(
      count(when(x === 0.0, 1)).as("z"),
      count(when(x < 0.0, 1)).as("n"),
      exp(avg(log(x))).as("g")).head()
    if (r.getLong(1) > 0) Double.NaN
    else if (r.getLong(0) > 0) 0.0
    else if (r.isNullAt(2)) Double.NaN
    else r.getDouble(2)
  }
  /** Harmonic mean `n / Σ(1/x)` (`scipy.stats.hmean`) — one partial-agg
    * pass, map-side combined. A ZERO element is ordinary data and the bare
    * `1.0/x` is a per-row ANSI divide-by-zero throw inside the aggregate;
    * scipy defines hmean = 0 when any element is 0, reproduced with a
    * row-lazy branch so the divide never sees the zero. A NEGATIVE element
    * is a domain error in scipy (hmean raises ValueError) — counted in the
    * same pass and surfaced as NaN (like geomean), never a silently
    * finite-but-meaningless value.
    */
  def harmonicMean: Double = {
    val x = col.cast("double")
    val r = df.agg(
      count(when(x === 0.0, 1)).as("z"),
      count(when(x < 0.0, 1)).as("n"),
      (count(x).cast("double") / sum(when(x =!= 0.0, lit(1.0) / x))).cast("double").as("h"))
      .head()
    if (r.getLong(1) > 0) Double.NaN
    else if (r.getLong(0) > 0) 0.0
    else if (r.isNullAt(2)) Double.NaN
    else r.getDouble(2)
  }
  /** Winsorize: clip at the exact [pLo, pHi] quantiles (type-7), boundaries
    * from the parallel range sort ([[graft.ops.RankStats.winsorize]]).
    */
  def winsorize(pLo: Double, pHi: Double): Column =
    graft.ops.RankStats.winsorize(df, name, pLo, pHi)

  /** Exact quantile with linear interpolation (`ScalableSeries.py:944-946`)
    * via [[graft.ops.RankStats.exactQuantiles]] (parallel range sort +
    * targeted index lookup) — exact at any scale; Spark's built-in exact
    * `percentile` funnels a value→count map through one reducer and OOMs on
    * high-cardinality columns. [[quantileApprox]] remains the cheapest
    * option when rank error is tolerable.
    */
  def quantile(q: Double): Double =
    graft.ops.RankStats.exactQuantiles(df, name, Seq(q)).head
  def quantileApprox(q: Double, accuracy: Int = 10000): Double =
    scalarNaN(percentile_approx(col, lit(q), lit(accuracy)))

  /** pandas `value_counts(bins=n)` — fixed-width histogram: bin ids
    * 0..bins-1 over [min, max] with the top edge inclusive, plus counts.
    * One tiny min/max agg on the driver, then a map-side bin projection +
    * one count shuffle of `bins` rows. Degenerate (min==max) data lands in
    * bin 0.
    */
  def histogram(bins: Int): DataFrame = {
    require(bins > 0, "bins must be positive")
    val r = df.agg(min(col.cast("double")), max(col.cast("double"))).head()
    // empty/all-null column: min/max aggregate to SQL null — return an empty
    // histogram instead of NPE-ing on getDouble
    if (r.isNullAt(0) || r.isNullAt(1))
      return df.sparkSession.createDataFrame(
        df.sparkSession.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("bin", org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("n", org.apache.spark.sql.types.LongType,
            nullable = false))))
    val (mn, mx) = (r.getDouble(0), r.getDouble(1))
    val w = (mx - mn) / bins
    val bin =
      if (w == 0) lit(0L)
      else least(floor((col.cast("double") - lit(mn)) / lit(w)),
        lit((bins - 1).toDouble)).cast("long")
    df.select(bin.as("bin")).groupBy("bin").agg(count(lit(1)).as("n"))
  }

  /** pandas `qcut(q)` — quantile binning to bucket ids 0..q-1, scale-safe:
    * the q−1 inner boundaries come from one parallel range-sort
    * ([[graft.ops.RankStats.exactQuantiles]]; driver holds q scalars),
    * then assignment is a codegen'd when-chain — no global sort window
    * (`ntile` would funnel the whole column through rank order) and no
    * single-reducer value-count map (built-in exact `percentile`).
    * Right-inclusive intervals like pandas: bucket i is `(b_{i-1}, b_i]`.
    */
  def qcut(q: Int): Column = {
    require(q >= 2, s"qcut needs q >= 2, got $q")
    val ps = (1 until q).map(_.toDouble / q)
    cutByBounds(graft.ops.RankStats.exactQuantiles(df, name, ps))
  }

  /** pandas `cut(bins)` — fixed boundaries to bucket ids 0..len(bounds);
    * values ≤ bounds(0) → 0, … , > bounds(last) → len(bounds). Pure Column
    * arithmetic, no aggregate pass.
    */
  def cut(bounds: Seq[Double]): Column = {
    require(bounds.nonEmpty && bounds == bounds.sorted, "cut bounds must be sorted, non-empty")
    cutByBounds(bounds)
  }

  private def cutByBounds(bounds: Seq[Double]): Column = {
    val x = col.cast("double")
    val chain = bounds.zipWithIndex.foldRight(lit(bounds.size): Column) {
      case ((b, i), rest) => when(x <= b, i).otherwise(rest)
    }
    // NaN is missing like null (pandas cut/qcut yield NaN): `NaN <= b` is
    // false at every level, so NaN would otherwise silently land in the top
    // overflow bucket alongside legitimate above-top-bound values
    when(x.isNull || isnan(x), lit(null)).otherwise(chain)
  }

  /** Mean absolute deviation (`ScalableSeries.py:912-914`) — two-pass. */
  def mad: Double = {
    val m = mean
    scalarNaN(avg(abs(col - lit(m))))
  }

  /** Fisher (excess) kurtosis, pandas-compatible bias-corrected
    * (`ScalableSeries.py:908-910`). Spark's `kurtosis` is the population
    * excess g2; pandas applies the sample correction
    * G2 = ((n-1)/((n-2)(n-3))) * ((n+1) g2 + 6).
    */
  def kurt: Double = {
    val row = df.agg(count(col), kurtosis(col)).head()
    val n = row.getLong(0).toDouble
    // correction divides by (n-2)(n-3); Spark yields null for n < 2 — NaN
    // for both, matching pandas on short series
    if (n < 4 || row.isNullAt(1)) Double.NaN
    else ((n - 1) / ((n - 2) * (n - 3))) * ((n + 1) * row.getDouble(1) + 6)
  }

  /** Pandas-compatible bias-corrected skew G1 = g1 * sqrt(n(n-1))/(n-2). */
  def skew: Double = {
    val row = df.agg(count(col), functions.skewness(col)).head()
    val n = row.getLong(0).toDouble
    if (n < 3 || row.isNullAt(1)) Double.NaN
    else row.getDouble(1) * math.sqrt(n * (n - 1)) / (n - 2)
  }

  /** `mode` (`ScalableSeries.py:932-934`); deterministic=min on ties. The
    * name is backtick-escaped (like melt's helper) — a space or dot in the
    * column name would otherwise break the SQL or resolve a nested field.
    */
  def mode_ : Any =
    scalar[Any](expr(s"mode(`${name.replace("`", "``")}`, true)"))

  def nunique(approx: Boolean = false): Long =
    if (approx) scalar[Long](approx_count_distinct(col))
    else scalar[Long](count_distinct(col))

  /** Distinct values as a driver-side Seq (`ScalableSeries.unique` parity).
    * Guarded: a high-cardinality column (a key column, a text column) makes
    * this an unbounded collect, so past [[SCol.UniqueCollectCeiling]] values
    * it refuses loudly — `df.select(col).distinct()` IS the distributed
    * form, and [[nunique]] answers the usual "how many" question in O(1)
    * driver memory. The guard costs one extra bounded row, not a count job.
    */
  def unique: Seq[Any] = uniqueCapped(SCol.UniqueCollectCeiling)

  private[graft] def uniqueCapped(ceiling: Int): Seq[Any] =
    DriverGather.atMost(df.select(col).distinct(), ceiling)(
      s"SCol.unique on '$name': more than $ceiling distinct values — " +
        "an unbounded driver collect. Keep the distinct as a DataFrame " +
        "(df.select(col).distinct()) or use nunique() for the cardinality.")
      .map(_.get(0)).toSeq

  /** `value_counts` (`ScalableSeries.py:991-993`) — returns a frame. */
  def valueCounts(normalize: Boolean = false, ascending: Boolean = false, dropna: Boolean = true): DataFrame = {
    require(name != "count" && name != "proportion",
      s"valueCounts on a column named '$name' would collide with its output column; rename first")
    val base0 = df.select(col.as(name))
    val base = if (dropna) base0.filter(col.isNotNull) else base0
    val counted = base.groupBy(name).agg(count(lit(1)).as("count"))
    val sized =
      if (!normalize) counted
      else {
        // total rides INSIDE the plan as a broadcast 1-row aggregate (the
        // broadcast-scalar pattern; guide §5) instead of a driver-blocking
        // count job — same double division, identical proportions
        val total = base.agg(count(lit(1)).cast("double").as("__vc_tot__"))
        counted.crossJoin(broadcast(total))
          .withColumn("proportion", functions.col("count") / functions.col("__vc_tot__"))
          .drop("count", "__vc_tot__")
      }
    val by = if (normalize) "proportion" else "count"
    sized.orderBy(if (ascending) functions.col(by).asc else functions.col(by).desc, functions.col(name))
  }

  /** pandas `value_counts(bins=n)`: equal-width interval counts over
    * [min, max], ALL n bins present (empty ones count 0), ordered by count
    * desc then bin index — the `pd.cut`-then-count composition as one plan.
    * Pandas interval semantics: right-closed bins, the minimum included in
    * bin 0 (`include_lowest`), the displayed first left edge extended by
    * 0.1% of the range; nulls always dropped (pandas ignores `dropna` with
    * bins). Scale shape: ONE min/max aggregate rides back as a broadcast
    * scalar, bin indexes are codegen'd arithmetic (no per-bin scan), counts
    * partial-aggregate map-side, and the n-bin spine is a 1-row
    * sequence/explode — nothing driver-side, nothing quadratic. Degenerate
    * all-equal input lands in bin 0 with lo = hi = the value (the other
    * bins stay empty), keeping the row-count contract without pandas'
    * epsilon-widened display edges.
    */
  def valueCountsBins(bins: Int): DataFrame = {
    require(bins > 0, s"bins must be positive: $bins")
    require(name != "count", s"valueCounts on a column named '$name' would collide; rename first")
    val base = df.select(col.cast("double").as(name)).filter(functions.col(name).isNotNull)
    val stats = base.agg(min(functions.col(name)).as("__mn__"), max(functions.col(name)).as("__mx__"))
    val withStats = base.crossJoin(broadcast(stats))
    val width = (functions.col("__mx__") - functions.col("__mn__")) / lit(bins.toDouble)
    // right-closed intervals with include_lowest: idx = ceil((v-mn)/w) - 1,
    // clamped to [0, bins-1] (v = mn and degenerate w = 0 both land in 0)
    val idx = greatest(lit(0L), least(lit(bins.toLong - 1),
      when(width === 0.0, lit(0L))
        .otherwise((ceil((functions.col(name) - functions.col("__mn__")) / width) - 1L)
          .cast("long"))))
    val counted = withStats.withColumn("__i__", idx)
      .groupBy(functions.col("__i__"))
      .agg(count(lit(1)).as("count"))
    // the n-bin spine: every interval present even when empty
    val spine = stats.select(explode(sequence(lit(0L), lit(bins.toLong - 1))).as("__i__"),
      functions.col("__mn__"), functions.col("__mx__"))
    val w2 = (functions.col("__mx__") - functions.col("__mn__")) / lit(bins.toDouble)
    spine.join(counted, Seq("__i__"), "left")
      .select(functions.col("__i__").as("bin"),
        (functions.col("__mn__") + functions.col("__i__") * w2).as("lo"),
        when(functions.col("__i__") === (bins - 1).toLong, functions.col("__mx__"))
          .otherwise(functions.col("__mn__") + (functions.col("__i__") + 1L) * w2).as("hi"),
        coalesce(functions.col("count"), lit(0L)).as("count"))
      .orderBy(functions.col("count").desc, functions.col("bin"))
  }

  def isUnique: Boolean = scalar[Boolean](count(col) === count_distinct(col))

  /** Monotonicity (`ScalableSeries.py:972-989`) along a caller-supplied
    * order. Null values are ignored (matching the former window-`lag` form,
    * where `min` over booleans skips nulls).
    *
    * Scale: a global `Window.orderBy` + `lag` would single-task the table;
    * instead we range-sort in parallel, check adjacency inside each sorted
    * partition, and stitch partitions with one tiny per-partition
    * (ok, first, last) summary on the driver — range partitions are
    * contiguous, so partition index order IS global order.
    */
  def isMonotonicIncreasing(orderBy: Column): Boolean = monotonic(orderBy, increasing = true)
  def isMonotonicDecreasing(orderBy: Column): Boolean = monotonic(orderBy, increasing = false)
  private def monotonic(orderBy: Column, increasing: Boolean): Boolean = {
    val proj = df.select(orderBy.as("__o__"), col.as("__v__")).orderBy(functions.col("__o__"))
    val ord0 = SCol.anyOrdering(proj.schema("__v__").dataType)
    val ord = if (increasing) ord0 else ord0.reverse
    val summaries = proj.rdd.mapPartitionsWithIndex { (pid, rows) =>
      var ok = true
      var first: Any = null
      var last: Any = null
      rows.foreach { r =>
        val v = r.get(1)
        if (v != null) {
          if (last != null && ord.compare(last, v) > 0) ok = false
          if (first == null) first = v
          last = v
        }
      }
      if (first == null && ok) Iterator.empty // all-null/empty partition
      else Iterator.single((pid, ok, first, last))
    }.collect().sortBy(_._1)
    summaries.forall(_._2) && summaries.iterator.sliding(2).withPartial(false)
      .forall { case Seq((_, _, _, prevLast), (_, _, nextFirst, _)) =>
        ord.compare(prevLast, nextFirst) <= 0 }
  }

  /** Window family (§2.5 — blocked in bears `ScalableDataFrame
    * .py:1374-1397`, natural on Spark): cumsum / shift / diff / pct_change /
    * rank over a caller-supplied (partition, order) spec. Lazy Columns; one
    * shuffle per distinct window spec.
    */
  def cumsum(over: org.apache.spark.sql.expressions.WindowSpec): Column =
    sum(col).over(over.rowsBetween(
      org.apache.spark.sql.expressions.Window.unboundedPreceding,
      org.apache.spark.sql.expressions.Window.currentRow))
  def shift(n: Int, over: org.apache.spark.sql.expressions.WindowSpec): Column =
    if (n >= 0) lag(col, n).over(over) else lead(col, -n).over(over)
  def diff(over: org.apache.spark.sql.expressions.WindowSpec): Column =
    col - lag(col, 1).over(over)
  /** pandas `pct_change()`: a ZERO previous value is ordinary data, and the
    * bare ratio throws DIVIDE_BY_ZERO under Spark 4 ANSI mode — pandas
    * yields +inf/−inf (0 → 0 is NaN), reproduced here with a lazily
    * evaluated branch so the divide never sees the zero.
    */
  def pctChange(over: org.apache.spark.sql.expressions.WindowSpec): Column = {
    val prev = lag(col, 1).over(over)
    when(prev === 0,
      when(col > 0, lit(Double.PositiveInfinity))
        .when(col < 0, lit(Double.NegativeInfinity))
        .otherwise(lit(Double.NaN)))
      .otherwise((col - prev) / prev)
  }
  def rank_(over: org.apache.spark.sql.expressions.WindowSpec): Column =
    rank().over(over).cast("long")
  def cummax(over: org.apache.spark.sql.expressions.WindowSpec): Column =
    max(col).over(over.rowsBetween(
      org.apache.spark.sql.expressions.Window.unboundedPreceding,
      org.apache.spark.sql.expressions.Window.currentRow))
  def cummin(over: org.apache.spark.sql.expressions.WindowSpec): Column =
    min(col).over(over.rowsBetween(
      org.apache.spark.sql.expressions.Window.unboundedPreceding,
      org.apache.spark.sql.expressions.Window.currentRow))
  /** pandas `groupby(...).cumcount()` — 0-based position within the group. */
  def cumcount(over: org.apache.spark.sql.expressions.WindowSpec): Column =
    row_number().over(over).cast("long") - 1L
  /** pandas `rolling(n).mean()`: trailing n-row mean, null until
    * `minPeriods` non-null observations fill the frame (pandas default
    * min_periods = window size — a bare windowed avg would emit fabricated
    * short-window values on the first n−1 rows). Pass `minPeriods = Some(1)`
    * for the partial-window behavior.
    */
  def rolling(n: Int, over: org.apache.spark.sql.expressions.WindowSpec,
      minPeriods: Option[Int] = None): Column = {
    val frame = over.rowsBetween(-(n - 1), 0)
    val mp = minPeriods.getOrElse(n)
    when(count(col).over(frame) >= mp, avg(col).over(frame))
  }
  /** `expanding()` family (pandas expanding.mean/sum/min/max/count —
    * unbounded-preceding frames).
    */
  def expandingMean(over: org.apache.spark.sql.expressions.WindowSpec): Column =
    avg(col).over(expandingFrame(over))
  def expandingSum(over: org.apache.spark.sql.expressions.WindowSpec): Column =
    sum(col).over(expandingFrame(over))
  def expandingMin(over: org.apache.spark.sql.expressions.WindowSpec): Column =
    min(col).over(expandingFrame(over))
  def expandingMax(over: org.apache.spark.sql.expressions.WindowSpec): Column =
    max(col).over(expandingFrame(over))
  def expandingCount(over: org.apache.spark.sql.expressions.WindowSpec): Column =
    count(col).over(expandingFrame(over))
  def expandingStd(over: org.apache.spark.sql.expressions.WindowSpec): Column =
    stddev_samp(col).over(expandingFrame(over))
  def expandingVar(over: org.apache.spark.sql.expressions.WindowSpec): Column =
    var_samp(col).over(expandingFrame(over))
  private def expandingFrame(over: org.apache.spark.sql.expressions.WindowSpec) =
    over.rowsBetween(
      org.apache.spark.sql.expressions.Window.unboundedPreceding,
      org.apache.spark.sql.expressions.Window.currentRow)

  /** `all`/`any` on boolean series (`ScalableSeries.py:880-886`). */
  def all_ : Boolean = scalar[Boolean](coalesce(bool_and(col), lit(true)))
  def any_ : Boolean = scalar[Boolean](coalesce(bool_or(col), lit(false)))

  /** `idxmax`/`idxmin` (`ScalableSeries.py:1020-1026`) — `max_by`/`min_by`,
    * single aggregate, no sort.
    */
  def idxmax(idx: Column): Any = scalar[Any](max_by(idx, col))
  def idxmin(idx: Column): Any = scalar[Any](min_by(idx, col))

  /** Pearson `corr`/`cov` with another column (`ScalableSeries.py:896-906`);
    * `method="spearman"` via [[graft.ops.RankStats]] (scale-safe ranks).
    * Degenerate input (a constant column, < 2 complete pairs) aggregates to
    * SQL null → NaN like pandas — the bare `scalar[Double]` unboxed it to a
    * fake 0.0, which reads as "uncorrelated" (the mean/std null-unboxing
    * defect class).
    */
  def corrWith(other: Column): Double = scalarNaN(SCol.safeCorr(col, other))
  def spearmanWith(otherName: String): Double = graft.ops.RankStats.spearman(df, name, otherName)
  def covWith(other: Column): Double = scalarNaN(covar_samp(col, other))

  /** `prod` (`NumpyArrayScalableSeries.py:292-302`) — exact native
    * aggregate ([[graft.functions.ProductAgg]], partial-aggregation-correct
    * multiply), not the lossy `exp(sum(log))` trick. Empty/all-null series
    * yields 1.0, matching pandas.
    */
  def prod: Double =
    scalar[Double](coalesce(graft.functions.ProductAgg.product_exact(col), lit(1.0)))

  /** `dot` (`ScalableSeries.py:838-848`). */
  def dot(other: Column): Double = scalar[Double](sum(col * other))

  /** Weighted mean `Σ(w·x)/Σw` over non-null pairs — the np.average
    * capability (map-side partial aggregates, one reduce).
    */
  def wavg(weight: Column): Double = {
    val both = when(col.isNotNull && weight.isNotNull, 1).otherwise(0)
    // scalarNaN: zero complete pairs (or an all-zero weight sum) aggregates
    // to SQL null — np.average raises there; NaN is the pandas-flavored
    // scalar, never a fake 0.0
    scalarNaN(
      sum(when(both === 1, col * weight)).cast("double") /
        sum(when(both === 1, weight)).cast("double"))
  }

  private val functions = org.apache.spark.sql.functions
}

object SCol {
  import org.apache.spark.sql.types._

  /** Ceiling for the [[SCol.unique]] driver collect: 1M distinct values is
    * a generous bound for the pandas-parity "small label/category space"
    * use; anything larger is key-like cardinality that belongs in a
    * DataFrame, not a driver Seq.
    */
  val UniqueCollectCeiling: Int = 1000000

  /** Pearson correlation that returns NULL instead of throwing on a
    * degenerate side: under Spark 4's default ANSI mode the built-in `corr`
    * of a CONSTANT column raises DIVIDE_BY_ZERO at aggregate evaluation
    * (ck / sqrt(0)) — a job-killing crash on data as ordinary as an all-equal
    * group. Mathematically identical spelling (covar_pop / √(var_pop·var_pop)
    * = ck / √(xMk·yMk), two extra ÷n that cancel); the CaseWhen evaluates
    * the ratio only when the denominator is strictly positive, so the ANSI
    * divide can never see a zero. Null (→ NaN at the scalar surface) for
    * constant/empty/single-row input — pandas semantics.
    *
    * PAIRWISE-COMPLETE deletion (pandas `df.corr()` / SQL `corr()`
    * semantics, fixed round 14): both inputs are masked to rows where BOTH
    * are non-null before the variances, otherwise `var_pop(x)` sums over
    * x's own non-null rows while `covar_pop` drops pairwise — inconsistent
    * populations that made the r14 adversarial replay's corr matrix drift
    * 2e-5 from the oracle on null-perturbed measures (not a rounding ulp;
    * a genuinely different estimator). No-op on null-free input.
    */
  def safeCorr(x: Column, y: Column): Column = {
    val both = x.isNotNull && y.isNotNull
    val xp = when(both, x)
    val yp = when(both, y)
    val den = sqrt(var_pop(xp) * var_pop(yp))
    when(den > 0.0, covar_pop(xp, yp) / den)
  }

  /** Pandas-style bias-corrected skew/kurt as aggregate Columns (usable per
    * group, unlike the scalar [[SCol.skew]]/[[SCol.kurt]]): the same
    * G1/G2 corrections applied to Spark's population g1/g2. Groups too small
    * for the correction (n ≤ 2 / n ≤ 3) yield NULL — the bare division threw
    * DIVIDE_BY_ZERO under ANSI mode (pandas yields NaN there).
    */
  def sampleSkew(c: Column): Column = {
    val n = count(c).cast("double")
    when(n > 2, skewness(c) * sqrt(n * (n - 1)) / (n - 2))
  }
  def sampleKurt(c: Column): Column = {
    val n = count(c).cast("double")
    when(n > 3, ((n - 1) / ((n - 2) * (n - 3))) * ((n + 1) * kurtosis(c) + lit(6)))
  }

  /** Runtime ordering over external (Row-level) values for orderable Spark
    * types — what `Column >= Column` compares, lifted to the driver/executor
    * side for the partition-stitch in [[SCol.isMonotonicIncreasing]].
    */
  private[sdf] def anyOrdering(dt: DataType): Ordering[Any] = (dt match {
    case ByteType | ShortType | IntegerType | LongType =>
      Ordering.by((x: Any) => x.asInstanceOf[Number].longValue)
    case FloatType | DoubleType =>
      Ordering.by((x: Any) => x.asInstanceOf[Number].doubleValue)
    case _: DecimalType => Ordering.by((x: Any) => BigDecimal(x.asInstanceOf[java.math.BigDecimal]))
    case StringType => Ordering.by((x: Any) => x.asInstanceOf[String])
    case BooleanType => Ordering.by((x: Any) => x.asInstanceOf[Boolean])
    case DateType => Ordering.by((x: Any) => x.asInstanceOf[java.sql.Date].getTime)
    case TimestampType => Ordering.by((x: Any) => x.asInstanceOf[java.sql.Timestamp].getTime)
    case other => throw new IllegalArgumentException(s"monotonicity undefined for $other")
  }).asInstanceOf[Ordering[Any]]
}
