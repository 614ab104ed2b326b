package graft.sdf

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.{DriverGather, Positions}

/** Pandas-flavored DataFrame surface — the capability layer of the
  * reference's `ScalableDataFrame` (`src/bears/core/frame/ScalableDataFrame
  * .py:84-208`) re-expressed over a single physical layout: the distributed
  * Spark `DataFrame`.
  *
  * Design notes (SURVEY.md §1.2): bears' six interchangeable layouts exist to
  * pick row-wise vs columnar vs single-record vs distributed performance;
  * Tungsten + whole-stage codegen + AQE serve those purposes natively, so the
  * layout machinery collapses. Every method here builds a lazy Catalyst plan;
  * nothing is materialized except the explicitly scalar/driver-side calls
  * (`head`, `shape`, series statistics on [[SCol]]) and `iloc`'s sort.
  *
  * Mutation: bears SDFs are mutable (`sdf[col] = series`,
  * `DictScalableDataFrame.py:315-346`). We keep the pandas feel with
  * `sdf("col") = expr` (Scala `update`) rebinding an internal var; all other
  * operations are pure and return a new SDF.
  */
final class SDF private (private var _df: DataFrame) {

  def df: DataFrame = _df
  def columns: Seq[String] = _df.columns.toSeq
  /** pandas `df.shape` parity. COST NOTE: unlike pandas (a stored field),
    * the row count here is a full distributed `count()` JOB per call — at
    * 100 TB that's a whole scan unless the plan is cached. Call once and
    * reuse; prefer `columns.length` alone when only the width is needed.
    */
  def shape: (Long, Int) = (_df.count(), _df.columns.length)

  // ---- selection (§2.2) -------------------------------------------------

  /** `sdf[col]` — single-column projection → series
    * (`DictScalableDataFrame.py:255-314`).
    */
  def apply(colName: String): SCol = new SCol(_df, col(colName), colName)

  /** `sdf[[cols]]` — sub-frame projection. */
  def apply(cols: Seq[String]): SDF = SDF(_df.select(cols.map(col): _*))

  /** `sdf[col] = value` — mutable column assignment
    * (`DictScalableDataFrame.py:315-346`). Accepts a Column expression; use
    * `lit(v)` for scalars.
    */
  def update(colName: String, value: Column): Unit =
    _df = _df.withColumn(colName, value)

  /** Boolean-mask row filter `sdf.loc[mask]` (`ScalableDataFrame.py:1663-1666`). */
  def loc(mask: Column): SDF = SDF(_df.filter(mask))
  def filter(mask: Column): SDF = loc(mask)

  /** Positional slice `iloc[a:b]` (`DictScalableDataFrame.py:352-360`).
    * Requires a stable global order; callers supply the order columns (Spark
    * has no implicit row index — SURVEY §1.4).
    *
    * Scale: a filter on [[graft.core.Positions.of]]'s global position — one
    * parallel sort numbered from per-partition counts, never a global
    * `Window.orderBy`, which funnels the whole table through one task.
    */
  def iloc(start: Long, end: Long, orderBy: Seq[Column]): SDF = {
    val pos = col(Positions.PosCol)
    SDF(Positions.of(_df, orderBy)._1.filter(pos >= start && pos < end).drop(Positions.PosCol))
  }

  def head(n: Int): SDF = SDF(_df.limit(n))
  def tail(n: Int): Seq[Row] = _df.tail(n).toSeq

  def drop(cols: String*): SDF = SDF(_df.drop(cols: _*))

  /** `rename(columns={...})` (`DictScalableDataFrame.py:193-221`). */
  def rename(mapping: Map[String, String]): SDF =
    SDF(_df.withColumnsRenamed(mapping))

  /** `assign(**kwargs)` (`ScalableDataFrame.py:1816-1818`). */
  def assign(cols: (String, Column)*): SDF =
    SDF(_df.withColumns(cols.toMap))

  /** `applymap(func)` (`ScalableDataFrame.py:1686-1688`,
    * `DictScalableDataFrame.py:362-373` column-by-column apply): the same
    * expression builder applied to every column — one fused projection.
    */
  def applymap(f: Column => Column): SDF =
    SDF(_df.select(columns.map(c => f(col(c)).as(c)): _*))

  /** `sample(frac, seed)` (`ScalableDataFrame.py:1772-1776`). */
  def sample(fraction: Double, seed: Long = 42L, withReplacement: Boolean = false): SDF =
    SDF(_df.sample(withReplacement, fraction, seed))

  /** Deterministic hash-based sample: unlike `sample` (partition-dependent RNG)
    * this picks the same rows on any cluster layout — the property bears gets
    * from `RandomState(seed)` on a materialized frame
    * (`ScalableDataFrame.py:822-848`). `keyHash` must be a stable key expr.
    */
  def sampleByHash(keyHash: Column, pct: Int): SDF =
    SDF(_df.filter(pmod(keyHash, lit(100)) < pct))

  /** pandas `sample(n=...)`: exact-n deterministic sample by id-hash order
    * ([[graft.ops.Sampling.nByHash]] — TakeOrdered top-n, no global sort).
    */
  def sampleN(n: Int, id: Column): SDF = SDF(graft.ops.Sampling.nByHash(_df, id, n))

  /** Sampled element-wise validation (`ScalableDataFrame.py:298-334`):
    * check `predicate` on a fraction of rows; returns true iff all sampled
    * rows pass. `returnFailing` gives the failing rows instead.
    */
  def valid(predicate: Column, sampleFraction: Double = 1.0, seed: Long = 42L): Boolean = {
    val s = if (sampleFraction >= 1.0) _df else _df.sample(sampleFraction, seed)
    // a null-valued predicate counts as FAILING, matching invalidRows — a
    // bare min(predicate) skips nulls, so valid() would report true on rows
    // the sibling API returns as invalid
    s.agg(coalesce(min(coalesce(predicate, lit(false))), lit(true))).head().getBoolean(0)
  }
  def invalidRows(predicate: Column): SDF = SDF(_df.filter(!coalesce(predicate, lit(false))))

  // ---- joins (§2.3) -----------------------------------------------------

  /** pandas `merge` (`ScalableDataFrame.py:1820-1836`): equi-join with
    * suffix disambiguation of colliding non-key columns, optional `_merge`
    * indicator, and `validate` key-multiplicity assertion.
    *
    * Scale: Catalyst picks broadcast vs shuffle join; pass
    * `broadcast(right.df)` wrapped in `SDF` to force the small-dim path.
    */
  def merge(
      right: SDF,
      on: Seq[String],
      how: String = "inner",
      suffixes: (String, String) = ("_x", "_y"),
      indicator: Boolean = false,
      validate: Option[String] = None,
      sort: Boolean = false): SDF = {
    require(on.nonEmpty, "merge requires join keys")
    validate.foreach(v => SDF.validateMerge(_df, right.df, on, v))

    val collide = (_df.columns.toSet intersect right.df.columns.toSet) -- on.toSet
    val l0 = collide.foldLeft(_df)((d, c) => d.withColumnRenamed(c, c + suffixes._1))
    val r0 = collide.foldLeft(right.df)((d, c) => d.withColumnRenamed(c, c + suffixes._2))
    val sparkHow = how match {
      case "outer" => "full_outer"
      case h => h
    }
    val joined =
      if (!indicator) l0.join(r0, on, sparkHow)
      else {
        // presence sentinels survive outer-join nulls, unlike key columns
        val l1 = l0.withColumn("__l__", lit(1))
        val r1 = r0.withColumn("__r__", lit(1))
        l1.join(r1, on, sparkHow)
          .withColumn(
            "_merge",
            when(col("__l__").isNotNull && col("__r__").isNotNull, "both")
              .when(col("__l__").isNotNull, "left_only")
              .otherwise("right_only"))
          .drop("__l__", "__r__")
      }
    // pandas merge(sort=True): result ordered lexicographically by the join
    // keys — planned as ONE range exchange (sample + repartition-by-range +
    // local sort), the standard distributed total order; pay it only when
    // asked. sort=False makes NO order promise: pandas preserves left-frame
    // order there, which a shuffled join cannot and does not replicate —
    // callers needing pandas' tie order should carry an explicit position
    // column (the engine-wide contract for order-sensitive ops).
    SDF(if (sort) joined.orderBy(on.map(col): _*) else joined)
  }

  /** EXISTS / NOT EXISTS — absent in bears (SURVEY §2.3), first-class here. */
  def semiJoin(right: SDF, on: Seq[String]): SDF = SDF(_df.join(right.df, on, "left_semi"))
  def antiJoin(right: SDF, on: Seq[String]): SDF = SDF(_df.join(right.df, on, "left_anti"))

  // ---- set ops (§2.7) ---------------------------------------------------

  /** `concat(axis=0)` (`ScalableDataFrame.py:1838-1868`): ragged-tolerant
    * row union (bears' LIST_OF_DICT concat fills missing columns with null).
    */
  def concat(others: SDF*): SDF =
    SDF(others.foldLeft(_df)((a, b) => a.unionByName(b.df, allowMissingColumns = true)))

  def intersect(other: SDF): SDF = SDF(_df.intersect(other.df))
  def except(other: SDF): SDF = SDF(_df.except(other.df))

  // ---- duplicates (§2.4) ------------------------------------------------

  /** `drop_duplicates(subset, keep)` (`ScalableDataFrame.py:1732-1738`).
    * keep="first"/"last" needs a deterministic order; callers supply it
    * (pandas keeps input order, which has no distributed meaning).
    */
  def dropDuplicates(subset: Seq[String]): SDF = SDF(_df.dropDuplicates(subset))
  def dropDuplicates(subset: Seq[String], keep: String, orderBy: Seq[Column]): SDF = {
    if (keep == "none") {
      // pandas keep=False: drop EVERY member of a duplicated group — a
      // partition-count window, no ordering needed
      val w = Window.partitionBy(subset.map(col): _*)
      SDF(
        _df.withColumn("__cnt__", count(lit(1)).over(w))
          .filter(col("__cnt__") === 1)
          .drop("__cnt__"))
    } else {
      val ord = if (keep == "last") orderBy.map(_.desc) else orderBy
      val w = Window.partitionBy(subset.map(col): _*).orderBy(ord: _*)
      SDF(
        _df.withColumn("__rn__", row_number().over(w))
          .filter(col("__rn__") === 1)
          .drop("__rn__"))
    }
  }

  /** pandas `df.compare(other)` in long form: one row per (key, column)
    * whose values differ between the two frames (null-safe compare; a null
    * vs value difference IS reported). Values are stringified so
    * heterogeneous columns stack into one result. Inner join on the keys —
    * rows present on only one side are a membership question
    * ([[merge]] indicator / anti-join), not a cell diff.
    */
  def compareWith(other: SDF, keys: Seq[String]): DataFrame = {
    val otherCols = other._df.columns.toSet
    val common = _df.columns.filterNot(keys.contains).filter(otherCols.contains)
    val joined = _df.as("l").join(other._df.as("r"), keys, "inner")
    val entries = common.map { c =>
      when(!(col(s"l.$c") <=> col(s"r.$c")),
        struct(lit(c).as("col_name"),
          col(s"l.$c").cast("string").as("self"),
          col(s"r.$c").cast("string").as("other")))
    }
    joined
      .select(keys.map(col) :+
        explode(array_compact(array(entries: _*))).as("__d__"): _*)
      .select(keys.map(col) ++ Seq(col("__d__.col_name").as("col_name"),
        col("__d__.self").as("self"), col("__d__.other").as("other")): _*)
  }

  /** Boolean `duplicated` mask as an extra column (row-level mask has no
    * meaning without order; we mark all-but-first per key).
    */
  def withDuplicatedFlag(subset: Seq[String], orderBy: Seq[Column], flag: String = "duplicated"): SDF = {
    val w = Window.partitionBy(subset.map(col): _*).orderBy(orderBy: _*)
    SDF(_df.withColumn(flag, row_number().over(w) > 1))
  }

  // ---- missing data (§2.8) ----------------------------------------------

  /** `fillna(value)` per column (`ScalableSeries.py:1064-1075`). */
  def fillna(values: Map[String, Any]): SDF = SDF(_df.na.fill(values))

  /** ffill/bfill along a caller-supplied order (pandas' implicit row order
    * does not exist distributed — SURVEY §7 "What's hard").
    */
  def ffill(cols: Seq[String], orderBy: Seq[Column], partitionBy: Seq[Column] = Nil): SDF = {
    val w = Window.partitionBy(partitionBy: _*).orderBy(orderBy: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    SDF(cols.foldLeft(_df)((d, c) => d.withColumn(c, last(col(c), ignoreNulls = true).over(w))))
  }
  def bfill(cols: Seq[String], orderBy: Seq[Column], partitionBy: Seq[Column] = Nil): SDF = {
    val w = Window.partitionBy(partitionBy: _*).orderBy(orderBy: _*)
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    SDF(cols.foldLeft(_df)((d, c) => d.withColumn(c, first(col(c), ignoreNulls = true).over(w))))
  }

  /** `dropna(how, thresh, subset)` (`ScalableDataFrame.py:1784-1786`). */
  def dropna(how: String = "any", subset: Seq[String] = Nil): SDF = {
    val cols = if (subset.nonEmpty) subset else columns
    SDF(_df.na.drop(how, cols))
  }
  def dropna(thresh: Int, subset: Seq[String]): SDF = SDF(_df.na.drop(thresh, subset))

  /** `replace(to_replace, value)` (`ScalableDataFrame.py:1806-1808`). */
  def replace[T](cols: Seq[String], mapping: Map[T, T]): SDF =
    SDF(_df.na.replace(cols, mapping))

  /** `replace(regex=True)` (`ScalableDataFrame.py:1806-1808`): pattern
    * substitution on string columns, codegen'd `regexp_replace`.
    */
  def replaceRegex(cols: Seq[String], pattern: String, replacement: String): SDF =
    SDF(cols.foldLeft(_df)((d, c) => d.withColumn(c, regexp_replace(col(c), pattern, replacement))))

  /** pandas `melt` (wide→long; inverse of pivot — parity-plus alongside
    * §2.4 rollup/cube). `stack()` expands rows in place: narrow op, no
    * shuffle; value columns must share a type.
    */
  def melt(idVars: Seq[String], valueVars: Seq[String],
      varName: String = "variable", valueName: String = "value"): SDF = {
    require(valueVars.nonEmpty, "melt needs at least one value column")
    // Column-object stack() call; names go through backtick-escaped quoting
    // (`` doubling) so quotes/backticks in column names cannot misparse
    def c(n: String): Column = col("`" + n.replace("`", "``") + "`")
    val gen = stack(
      lit(valueVars.size) +: valueVars.flatMap(v => Seq(lit(v), c(v))): _*)
      .as(Seq(varName, valueName))
    SDF(_df.select(idVars.map(c) :+ gen: _*))
  }

  /** pandas `df.resample(freq, on=ts).agg(...)` — fixed-width time-bucket
    * aggregation WITH every bucket between min(ts) and max(ts) materialized
    * (pandas emits empty bins; a plain `groupBy(window)` silently skips
    * them). Aggregate columns must be pre-aliased; empty buckets carry null
    * (coalesce to 0 for counts, as pandas does).
    *
    * Scale shape: ONE groupBy shuffle on the epoch-aligned bucket key
    * (Spark's `window()` alignment). The gap-fill skeleton costs one
    * min/max aggregate (answered from parquet footer stats when the scan
    * allows) + a `sequence()` explode of bucket timestamps joined LEFT
    * against the aggregated frame — skeleton size = bucket count, never
    * data size. `every` must be a fixed-width interval ("15 minutes",
    * "6 hours"): calendar-varying widths (months) don't epoch-align.
    */
  def resample(on: String, every: String, aggs: Seq[Column]): SDF = {
    require(aggs.nonEmpty, "resample needs at least one aggregate")
    val bucketed = _df
      .groupBy(window(col(on), every).getField("start").as("__bucket__"))
      .agg(aggs.head, aggs.tail: _*)
    val mm = _df.select(min(col(on)).as("mn"), max(col(on)).as("mx")).head()
    if (mm.isNullAt(0)) return SDF(bucketed.withColumnRenamed("__bucket__", on))
    // align both ends to their bucket starts with the same window() math
    // (one window() per projection — Spark rejects two in one select)
    val spark = _df.sparkSession
    def bucketStart(ts: java.sql.Timestamp): java.sql.Timestamp = spark.range(1)
      .select(window(lit(ts), every).getField("start")).head().getTimestamp(0)
    val skeleton = spark.range(1)
      .select(explode(sequence(
        lit(bucketStart(mm.getTimestamp(0))), lit(bucketStart(mm.getTimestamp(1))),
        expr(s"INTERVAL $every"))).as("__bucket__"))
    SDF(skeleton.join(bucketed, Seq("__bucket__"), "left")
      .withColumnRenamed("__bucket__", on))
  }

  /** pandas `resample().ohlc()`: open/high/low/close of `value` per time
    * bucket (and group). Open/close are `min_by`/`max_by` against an
    * explicit `tieKey` — pass a per-row-unique ordering key (an event id,
    * or the timestamp where timestamps are unique) so the result is
    * deterministic on any partitioning; `first()`/`last()` in a groupBy
    * are partition-order-dependent and never used here. One shuffle on
    * (groups, bucket), all four stats partial-aggregated.
    */
  def ohlcBy(groups: Seq[String], on: String, every: String,
      value: Column, tieKey: Column): DataFrame = {
    val bucket = window(col(on), every).getField("start")
    _df.groupBy(groups.map(col) :+ bucket.as("w_start"): _*)
      .agg(min_by(value, tieKey).as("open"), max(value).as("high"),
        min(value).as("low"), max_by(value, tieKey).as("close"))
  }

  /** pandas `df.corrwith(other)`: Pearson correlation of each shared
    * numeric column between two key-aligned frames, long format
    * (column, corr). ONE equi-join + ONE aggregate pass for all columns —
    * never a per-column job.
    */
  def corrWith(other: SDF, keys: Seq[String], out: String = "corr"): DataFrame = {
    def numericCols(df: DataFrame) = df.schema.fields
      .filter(f => !keys.contains(f.name) &&
        f.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType])
      .map(_.name).toSeq
    val shared = numericCols(_df).filter(numericCols(other.df).contains)
    require(shared.nonEmpty, "no shared numeric columns to correlate")
    val l = _df.select(keys.map(col) ++ shared.map(c => col(c).as(s"__l_$c")): _*)
    val r = other.df.select(keys.map(col) ++ shared.map(c => col(c).as(s"__r_$c")): _*)
    // safeCorr: built-in corr throws DIVIDE_BY_ZERO under ANSI on a constant
    // column; pandas corrwith yields NaN there (null -> NaN downstream)
    val aggs = shared.map(c => SCol.safeCorr(col(s"__l_$c"), col(s"__r_$c")).as(c))
    val wide = l.join(r, keys).agg(aggs.head, aggs.tail: _*)
    wide.select(explode(array(shared.map(c =>
        struct(lit(c).as("column"), col(c).as(out))): _*)).as("p"))
      .select(col("p.*"))
  }

  /** pandas `groupby(keys).resample(freq, on=ts)` — [[resample]] per group,
    * with each group's empty buckets materialized between ITS OWN min and
    * max (pandas semantics). Fully distributed: group spans come from one
    * min/max aggregate keyed like the bucket aggregate (no driver scalars),
    * and the per-group skeleton is a `sequence()` explode joined LEFT
    * against the aggregated frame on (keys, bucket). Two aggregates + one
    * join — all shuffles on the same group keys.
    */
  def resampleBy(groups: Seq[String], on: String, every: String,
      aggs: Seq[Column]): SDF = {
    require(groups.nonEmpty, "resampleBy needs group columns; use resample")
    require(aggs.nonEmpty, "resampleBy needs at least one aggregate")
    val bucket = window(col(on), every).getField("start")
    val agged = _df
      .groupBy(groups.map(col) :+ bucket.as("__bucket__"): _*)
      .agg(aggs.head, aggs.tail: _*)
    val spans = _df.groupBy(groups.map(col): _*)
      .agg(min(col(on)).as("__mn__"), max(col(on)).as("__mx__"))
    // one window() per PROJECTION (Spark's multi-window restriction) — two
    // chained selects on one lineage, NOT a self-join: an equi-join on the
    // group keys would silently drop every null-keyed group
    val skeleton = spans
      .select(groups.map(col) :+ col("__mx__") :+
        window(col("__mn__"), every).getField("start").as("__lo__"): _*)
      .select(groups.map(col) :+ col("__lo__") :+
        window(col("__mx__"), every).getField("start").as("__hi__"): _*)
      .select(groups.map(col) :+ explode(sequence(
        col("__lo__"), col("__hi__"), expr(s"INTERVAL $every"))).as("__bucket__"): _*)
    // null-safe group equality for the same reason (null groups must keep
    // their aggregated rows); __bucket__ is never null
    val cond = (groups.map(c => skeleton(c) <=> agged(c)) :+
      (skeleton("__bucket__") === agged("__bucket__"))).reduce(_ && _)
    val aggOut = agged.columns.filterNot((groups :+ "__bucket__").contains)
    SDF(skeleton.join(agged, cond, "left")
      .select(groups.map(skeleton(_)) ++ Seq(skeleton("__bucket__").as(on)) ++
        aggOut.map(agged(_)): _*))
  }

  /** pandas `pd.crosstab(index, columns)` — contingency counts with the
    * column domain discovered from the data (one distinct collect, bounded
    * by [[SDF.MaxPivotColumns]] — same driver budget class as Spark's own
    * pivot inference) and zero-filled like pandas. Columns are named by
    * value, sorted; one groupBy shuffle, map-side partial counts.
    */
  def crosstab(rowCol: String, colCol: String): SDF = {
    val vals = pivotDomain(colCol, "crosstab").toSeq
    SDF(_df
      .filter(col(rowCol).isNotNull && col(colCol).isNotNull)
      .groupBy(col(rowCol))
      .pivot(colCol, vals)
      .agg(count(lit(1)))
      .na.fill(0L, vals))
  }

  /** pandas `df.explode(column)`: one row per array element with the other
    * columns repeated; the exploded column replaces the array in place.
    * `explode_outer` so empty/null arrays keep their row with a null cell —
    * pandas emits NaN there, plain `explode` would silently drop the row.
    * Narrow op: rows expand in place, no shuffle.
    */
  def explodeCol(column: String): SDF =
    SDF(_df.withColumn(column, explode_outer(col(column))))

  /** pandas `df.combine_first(other)` keyed by `keys`: self's non-null
    * cells win, `other` fills the gaps — including rows absent from self
    * entirely and columns self lacks. One full-outer join on the keys
    * (keys coalesce via the USING form); every shared column is a
    * per-cell `coalesce`.
    */
  def combineFirst(other: SDF, keys: Seq[String]): SDF = {
    val l = _df.as("__cf_l__")
    val r = other.df.as("__cf_r__")
    val lCols = _df.columns.filterNot(keys.contains)
    val rCols = other.df.columns.filterNot(keys.contains)
    val merged =
      lCols.map { c =>
        if (rCols.contains(c)) coalesce(col(s"__cf_l__.$c"), col(s"__cf_r__.$c")).as(c)
        else col(s"__cf_l__.$c").as(c)
      } ++ rCols.filterNot(lCols.contains).map(c => col(s"__cf_r__.$c").as(c))
    SDF(l.join(r, keys, "full_outer").select(keys.map(col) ++ merged: _*))
  }

  /** Keyed upsert (lakehouse MERGE / pandas `update`+insert in one move):
    * rows of `updates` REPLACE same-key rows of this frame wholesale, and
    * new-key rows append. Schemas must match. Implemented as anti-join +
    * union — at cluster scale this is one key-shuffle of the (smaller)
    * updates side against the base; when both sides are bucketed on the
    * keys the anti-join is co-located and shuffle-free. Unlike
    * [[combineFirst]] (cell-level null-fill), upsert is row-level: an
    * explicit null in an update row overwrites the base value.
    */
  def upsert(updates: SDF, keys: Seq[String]): SDF = {
    require(_df.columns.sorted.sameElements(updates.df.columns.sorted),
      s"upsert schemas differ: ${_df.columns.mkString(",")} vs ${updates.df.columns.mkString(",")}")
    SDF(_df.join(updates.df.select(keys.map(col): _*), keys, "left_anti")
      .unionByName(updates.df.select(_df.columns.map(col): _*)))
  }

  /** pandas `json_normalize` for frames: recursively expand every
    * StructType column into flat `parent<sep>child` columns (arrays and
    * scalars pass through). Pure projection — the nested accessors compile
    * to codegen'd field extraction, no shuffle; parquet column pruning
    * still reaches the leaves because the projection is plain Catalyst
    * `GetStructField` chains.
    */
  def flattenStructs(sep: String = "_"): SDF = {
    def expand(prefix: String, field: org.apache.spark.sql.types.StructField,
        path: Column): Seq[(String, Column)] = field.dataType match {
      case st: org.apache.spark.sql.types.StructType =>
        st.fields.toSeq.flatMap(f =>
          expand(s"$prefix$sep${f.name}", f, path.getField(f.name)))
      case _ => Seq(prefix -> path)
    }
    val cols = _df.schema.fields.toSeq.flatMap(f =>
      expand(f.name, f, col(s"`${f.name}`")))
    SDF(_df.select(cols.map { case (n, c) => c.as(n) }: _*))
  }

  /** pandas `df.where(cond, other)` on the listed columns: keep the cell
    * where `cond` holds, substitute `other` elsewhere. [[maskCols]] is the
    * pandas `mask` inverse. Pure projection — codegen'd, shuffle-free.
    */
  def whereCols(cond: Column, cols: Seq[String], other: Column): SDF =
    SDF(cols.foldLeft(_df)((d, c) => d.withColumn(c, when(cond, col(c)).otherwise(other))))

  def maskCols(cond: Column, cols: Seq[String], other: Column): SDF =
    whereCols(!cond, cols, other)

  /** pandas `df.query(expr)` — SQL-expression row filter; the predicate
    * lands in Catalyst unchanged, so pushdown/pruning apply as if it were
    * written with Columns.
    */
  def query(sqlExpr: String): SDF = SDF(_df.filter(expr(sqlExpr)))

  // ---- grouping & sorting (§2.4, §2.6) ----------------------------------

  def groupby(cols: String*): org.apache.spark.sql.RelationalGroupedDataset =
    _df.groupBy(cols.map(col): _*)

  /** `groupby(dropna=)` (`ScalableDataFrame.py:1697-1710`): pandas drops
    * null group keys by default; Spark groups them. `dropna = true` filters
    * null-keyed rows before grouping (predicate reaches the scan).
    */
  def groupby(cols: Seq[String], dropna: Boolean): org.apache.spark.sql.RelationalGroupedDataset = {
    val base = if (dropna) _df.filter(cols.map(col(_).isNotNull).reduce(_ && _)) else _df
    base.groupBy(cols.map(col): _*)
  }

  /** Grouped-map escape hatch (`ScalableDataFrame.py:1697-1710` delegating
    * to a pandas GroupBy object; Spark's `flatMapGroups` is the typed
    * equivalent of `applyInPandas`). Arbitrary per-group Scala logic; group
    * state must fit one executor's memory — prefer `groupby().agg` whenever
    * the computation is expressible as aggregates.
    */
  def groupApply[K: org.apache.spark.sql.Encoder, T: org.apache.spark.sql.Encoder](
      keyFn: Row => K)(f: (K, Iterator[Row]) => IterableOnce[T]): org.apache.spark.sql.Dataset[T] =
    _df.groupByKey(keyFn).flatMapGroups((k: K, it: Iterator[Row]) => f(k, it).iterator)

  def agg(exprs: Column*): SDF = SDF(_df.agg(exprs.head, exprs.tail: _*))

  def sortValues(by: Seq[Column]): SDF = SDF(_df.orderBy(by: _*))

  /** `nlargest`/`nsmallest` (`ScalableSeries.py:936-942`) — planned as
    * TakeOrderedAndProject (per-partition heap, k-row merge): true top-k at
    * any scale, no global sort.
    */
  def nlargest(n: Int, by: Seq[Column]): SDF = SDF(_df.orderBy(by.map(_.desc): _*).limit(n))
  def nsmallest(n: Int, by: Seq[Column]): SDF = SDF(_df.orderBy(by: _*).limit(n))

  /** pandas `nlargest(keep="all")`: every row tied with the n-th boundary
    * value survives, so the result may exceed `n` rows. Planned WITHOUT a
    * global sort at any scale: the boundary is the min of the top-n
    * by-tuples (TakeOrderedAndProject over `struct(by)` — struct comparison
    * is lexicographic, matching multi-column nlargest), rides back into the
    * plan as a broadcast 1-row aggregate, and the result is one filtered
    * scan (`struct(by) >= boundary`). No driver barrier, no row-number
    * window. Rows with a null in any `by` column are excluded (null struct
    * comparisons are null — pandas nlargest likewise drops NaN rows).
    */
  def nlargestAll(n: Int, by: Seq[Column]): SDF = topKAll(n, by, largest = true)

  /** pandas `nsmallest(keep="all")` — see [[nlargestAll]]. */
  def nsmallestAll(n: Int, by: Seq[Column]): SDF = topKAll(n, by, largest = false)

  private def topKAll(n: Int, by: Seq[Column], largest: Boolean): SDF = {
    require(n > 0, s"n must be positive: $n")
    require(by.nonEmpty, "nlargest/nsmallest(keep=all) needs at least one by column")
    // collision-free temp names (the ScalableEncoders fresh() discipline):
    // an input frame already carrying `__k__`/`__b__` would otherwise make
    // the boundary crossJoin+filter reference ambiguous
    def fresh(base: String): String =
      Iterator.from(0).map(i => if (i == 0) base else base + i)
        .filterNot(_df.columns.toSet).next()
    val kC = fresh("__k__")
    val bC = fresh("__b__")
    val key = struct(by: _*)
    // explicit null gate: STRUCT ordering ranks a null field smallest
    // instead of propagating null (unlike scalar comparison), so without
    // this filter a null-keyed row would sort into the nsmallest probe and
    // pass the boundary compare — pandas drops NaN rows from both ends
    val nonNull = by.map(_.isNotNull).reduce(_ && _)
    val topK = _df.filter(nonNull).select(key.as(kC))
      .orderBy(if (largest) col(kC).desc else col(kC).asc)
      .limit(n)
    val boundary = topK.agg(
      (if (largest) min(col(kC)) else max(col(kC))).as(bC))
    val kept = _df.crossJoin(broadcast(boundary))
      .filter(nonNull && (if (largest) key >= col(bC) else key <= col(bC)))
      .drop(bC)
    SDF(kept)
  }

  /** pandas `sort_values(by).groupby(keys).head(n)` — top-n rows per group
    * by `order` (desc), ties broken by `tieBreak` for determinism. One
    * keyed window shuffle; no global sort, no per-group collect.
    */
  def groupTopK(keys: Seq[Column], order: Column, tieBreak: Column, n: Int): SDF = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(keys: _*).orderBy(order.desc, tieBreak)
    SDF(_df.withColumn("__rn__", row_number().over(w))
      .filter(col("__rn__") <= n)
      .drop("__rn__"))
  }

  /** Per-group mode (pandas `groupby().agg(pd.Series.mode)` with a
    * deterministic smallest-value tie-break): one grouped count + one keyed
    * window over the (group, value) COUNTS — the window input is already
    * aggregated, so a billion-row group costs its distinct-value count, not
    * its row count.
    */
  def modePerGroup(keys: Seq[Column], value: Column, out: String = "mode"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = _df.groupBy(keys :+ value.as("__v__"): _*)
      .agg(count(lit(1)).as("__c__"))
    val keyNames = counts.columns.dropRight(2)
    val w = Window.partitionBy(keyNames.map(col): _*)
      .orderBy(col("__c__").desc, col("__v__"))
    counts.withColumn("__rn__", row_number().over(w))
      .filter(col("__rn__") === 1)
      .select(keyNames.map(col) :+ col("__v__").as(out): _*)
  }

  /** Equi-depth bucket profile (pandas `qcut` summary / histogram with
    * equal counts): `ntile(n)` per group, then per-bucket count/min/max.
    * One keyed window + one grouped aggregate; because the output only
    * aggregates the bucketed value itself, tie order inside the window is
    * irrelevant (equal values are interchangeable across a boundary).
    */
  def equiDepthBuckets(keys: Seq[Column], value: Column, n: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(n >= 1, s"need at least one bucket: $n")
    val w = Window.partitionBy(keys: _*).orderBy(value)
    _df.withColumn("__b__", ntile(n).over(w))
      .groupBy(keys :+ col("__b__").as("bucket"): _*)
      .agg(count(lit(1)).as("n"), min(value).as("lo"), max(value).as("hi"))
  }

  /** pandas-style `describe()` over numeric columns, long format
    * (stat, column, value) — count/mean/std/min/25%/50%/75%/max in ONE
    * aggregate pass (all statistics partial-aggregate or sketch).
    */
  def describe(cols: Seq[String]): DataFrame = {
    val stats: Seq[(String, Column => Column)] = Seq(
      "count" -> (c => count(c).cast("double")),
      "mean" -> (c => avg(c)),
      "std" -> (c => stddev_samp(c)),
      "min" -> (c => min(c).cast("double")),
      "25%" -> (c => percentile_approx(c, lit(0.25), lit(10000))),
      "50%" -> (c => percentile_approx(c, lit(0.5), lit(10000))),
      "75%" -> (c => percentile_approx(c, lit(0.75), lit(10000))),
      "max" -> (c => max(c).cast("double")))
    val aggs = for { c <- cols; (s, f) <- stats } yield f(col(c)).as(s"${c}__$s")
    val row = _df.agg(aggs.head, aggs.tail: _*).head()
    val spark = _df.sparkSession
    val out = for { c <- cols; (s, _) <- stats } yield
      (s, c, Option(row.getAs[Any](s"${c}__$s")).map(_.toString.toDouble))
    import spark.implicits._
    out.toDF("stat", "column", "value")
  }

  /** pandas `DataFrame.corr(method)` — full pairwise correlation matrix in
    * long format (col_a, col_b, corr), diagonal included. Pearson runs all
    * k(k−1)/2 `corr` aggregates in ONE partial-aggregated pass; spearman
    * first stages fractional ranks per column ([[graft.ops.RankStats]] —
    * k parallel range-sorts, same work pandas does serially) and reuses the
    * pearson pass on the ranks. Driver holds only the k×k scalars — same
    * bound as pandas' output.
    */
  def corrMatrix(cols: Seq[String], method: String = "pearson"): DataFrame = {
    require(cols.size >= 2, "corrMatrix needs at least 2 columns")
    val base = method match {
      case "pearson" => _df
      case "spearman" =>
        cols.foldLeft(_df.select(cols.map(col): _*)) { (d, c) =>
          graft.ops.RankStats.withAverageRank(d, c, s"__rk_$c")
            .drop(c).withColumnRenamed(s"__rk_$c", c)
        }
      case other => throw new IllegalArgumentException(
        s"corr method '$other' not supported here (pearson|spearman; kendall: RankStats.kendall)")
    }
    val pairs = for { i <- cols.indices; j <- (i + 1) until cols.size } yield (cols(i), cols(j))
    // safeCorr: a constant column must yield NaN cells, not an ANSI
    // DIVIDE_BY_ZERO crash of the whole matrix job
    val aggs = pairs.map { case (a, b) => SCol.safeCorr(col(a), col(b)).as(s"${a}__${b}") }
    val row = base.agg(aggs.head, aggs.tail: _*).head()
    val m = pairs.zipWithIndex.map { case ((a, b), i) =>
      (a, b) -> (if (row.isNullAt(i)) Double.NaN else row.getDouble(i))
    }.toMap
    val out = for { a <- cols; b <- cols } yield
      (a, b, if (a == b) 1.0 else m.getOrElse((a, b), m((b, a))))
    val spark = _df.sparkSession
    import spark.implicits._
    out.toDF("col_a", "col_b", "corr")
  }

  /** pandas `get_dummies` — one 0/1 indicator column per distinct value of
    * `colName`, appended as `{prefix}_{value}` in sorted value order. The
    * category vocabulary is collected to the driver, at most
    * [[SDF.MaxPivotColumns]] values like [[crosstab]]'s column domain; the
    * indicators themselves are one codegen'd projection, no shuffle. Nulls
    * get no indicator row (all-zero), matching pandas `dummy_na=False`.
    */
  def getDummies(colName: String, prefix: Option[String] = None): SDF = {
    val p = prefix.getOrElse(colName)
    val values = pivotDomain(colName, "getDummies")
    val indicators = values.map(v =>
      when(col(colName).cast("string") === v, 1).otherwise(0).as(s"${p}_$v"))
    SDF(_df.select(_df.columns.map(col).toSeq ++ indicators: _*))
  }

  /** The sorted distinct non-null string values of `c` — one output column
    * each — or a refusal past [[SDF.MaxPivotColumns]] of them (pandas drops
    * null keys).
    */
  private def pivotDomain(c: String, op: String): Array[String] =
    DriverGather.atMost(_df.select(col(c).cast("string")).filter(col(c).isNotNull).distinct(),
      SDF.MaxPivotColumns)(
      s"$op: $c exceeds ${SDF.MaxPivotColumns} distinct values, one output column each; " +
        s"bucket or filter the column first, or aggregate with groupBy($c) to keep the " +
        "values as rows").map(_.getString(0)).sorted

  /** pandas `empty`. */
  def isEmpty: Boolean = _df.isEmpty

  /** pandas `DataFrame.equals(other)` — same columns (order-sensitive, like
    * pandas), same multiset of rows. Distributed: two except-all probes, no
    * driver materialization.
    */
  def equalsFrame(other: SDF): Boolean =
    columns == other.columns &&
      _df.exceptAll(other.df).isEmpty && other.df.exceptAll(_df).isEmpty

  // ---- misc -------------------------------------------------------------

  def persist(): SDF = { _df.persist(); this }
  def unpersist(): SDF = { _df.unpersist(); this }
  def collect(): Seq[Row] = _df.collect().toSeq

  // ---- driver-local layout conversions (SURVEY §1.2: bears' six layouts
  // collapse to the distributed frame + collect()-side local forms;
  // `as_dict`/`as_list_of_dict`/`as_record`, `ScalableDataFrame.py:1899-1984`)

  /** LIST_OF_DICT: rows as name→value maps (driver-local). */
  def asRecords: Seq[Map[String, Any]] = {
    val names = columns
    collect().map(r => names.zip(r.toSeq).toMap)
  }

  /** DICT: dense columnar map name→values (driver-local). */
  def asColumns: Map[String, Seq[Any]] = {
    val rows = collect()
    columns.zipWithIndex.map { case (c, i) => c -> rows.map(_.get(i)) }.toMap
  }

  /** RECORD: exactly one row (`RecordScalableDataFrame.py:17-18`'s
    * low-latency single-record regime; pair with
    * `DataPipeline.transformLocal` for no-job inference).
    */
  def asRecord: Map[String, Any] = {
    val rows = DriverGather.upTo(_df, 1)
    // None: a second row exists, the most the probe can see
    val found = rows.fold(2)(_.length)
    require(found == 1, s"asRecord requires exactly 1 row, found $found")
    columns.zip(rows.get.head.toSeq).toMap
  }
}

object SDF {
  def apply(df: DataFrame): SDF = new SDF(df)

  /** Driver ceiling on the distinct values that [[SDF.crosstab]] and
    * [[SDF.getDummies]] turn into columns — the budget class of Spark's own
    * pivot value inference.
    */
  val MaxPivotColumns: Int = 1000

  /** merge(validate=) — key-multiplicity assertion ("1:1"/"1:m"/"m:1"/"m:m"),
    * reference semantics at `ScalableDataFrame.py:1820-1836`.
    */
  private[sdf] def validateMerge(l: DataFrame, r: DataFrame, on: Seq[String], rule: String): Unit = {
    def unique(d: DataFrame): Boolean =
      d.groupBy(on.map(col): _*).count().filter(col("count") > 1).isEmpty
    rule match {
      case "1:1" =>
        require(unique(l), s"merge validate=1:1: left keys not unique on $on")
        require(unique(r), s"merge validate=1:1: right keys not unique on $on")
      case "1:m" => require(unique(l), s"merge validate=1:m: left keys not unique on $on")
      case "m:1" => require(unique(r), s"merge validate=m:1: right keys not unique on $on")
      case "m:m" => ()
      case other => throw new IllegalArgumentException(s"validate=$other")
    }
  }
}
