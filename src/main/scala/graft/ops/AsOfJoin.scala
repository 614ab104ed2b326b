package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** As-of (backward) join — absent in both bears and vanilla Spark
  * (SURVEY.md §2.3 last row): for each left row, the latest right row with
  * `rightTime <= leftTime` within the same key.
  *
  * Implementation strategy (a) from the custom-operator preference order:
  * COMPOSE built-ins rather than a custom SparkPlan. Tag both sides, union,
  * and run one `last(_, ignoreNulls)` window over (key, time, side) — a
  * single shuffle+sort on the key, no range join, no per-key loop. At 100 TB
  * this is the plan you'd want anyway: both sides co-partition on the key,
  * and the window is the same sort a sort-merge range join would need,
  * minus the quadratic candidate expansion.
  *
  * Skew caveat: one giant key = one task's window. [[backwardSalted]] is
  * the variant for that workload: it buckets the time axis into coarse
  * ranges, salts the key with the range id, and seeds each range with the
  * last right row of the ranges before it — per-task windows stay bounded
  * and results do not change.
  */
object AsOfJoin {

  /** @param left left frame
    * @param right right frame
    * @param keys equi-join key column names (same names both sides)
    * @param leftTime left event-time column
    * @param rightTime right event-time column
    * @param rightPayload right columns to carry (renamed as given)
    * @param strict if true, require rightTime < leftTime (exclusive)
    */
  def backward(
      left: DataFrame,
      right: DataFrame,
      keys: Seq[String],
      leftTime: String,
      rightTime: String,
      rightPayload: Map[String, String],
      strict: Boolean = false): DataFrame = {

    // side 0 = right, 1 = left: at equal times the right row sorts first,
    // so `last(...)` has already seen it (inclusive semantics); strict mode
    // flips the order so equal-time right rows sort after the left row.
    val sideOrder = if (strict) Seq(col("__t__"), col("__side__").desc) else Seq(col("__t__"), col("__side__"))
    val unioned = tagAndUnion(left, right, keys, leftTime, rightTime, rightPayload)
    val w = Window.partitionBy(keys.map(col): _*).orderBy(sideOrder: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)

    // carry ONE last(struct(all payload cols)) — the struct is non-null
    // exactly on right rows, so the matched right row is selected atomically
    // and its field values (nulls included) are preserved; independent
    // per-column last() windows could mix values from different right rows
    // when the matched row holds a null in one payload column.
    val carried = unioned.withColumn("__c__",
      last(when(col("__side__") === 0, payloadStruct(rightPayload)), ignoreNulls = true).over(w))
    matchedLeftRows(carried, left, keys, leftTime, rightPayload)
  }

  /** pandas `merge_asof(direction="forward")`: for each left row, the
    * EARLIEST right row with `rightTime >= leftTime` (strict: `>`). The
    * mirror of [[backward]] — same single shuffle+sort union, the carry is
    * `first(struct, ignoreNulls)` over the FOLLOWING frame. At equal times
    * the inclusive mode sorts the left row first so the equal-time right row
    * is inside its following frame; strict flips the order.
    */
  def forward(
      left: DataFrame,
      right: DataFrame,
      keys: Seq[String],
      leftTime: String,
      rightTime: String,
      rightPayload: Map[String, String],
      strict: Boolean = false): DataFrame = {

    // inclusive: left (side 1) sorts BEFORE equal-time right (side 0) so the
    // right row is in the left row's following frame; strict: right first,
    // excluding it from the frame.
    val sideOrder =
      if (strict) Seq(col("__t__"), col("__side__")) else Seq(col("__t__"), col("__side__").desc)
    val unioned = tagAndUnion(left, right, keys, leftTime, rightTime, rightPayload)
    val w = Window.partitionBy(keys.map(col): _*).orderBy(sideOrder: _*)
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val carried = unioned.withColumn("__c__",
      first(when(col("__side__") === 0, payloadStruct(rightPayload)), ignoreNulls = true).over(w))
    matchedLeftRows(carried, left, keys, leftTime, rightPayload)
  }

  /** pandas `merge_asof(direction="nearest")`: the closer of the backward
    * (inclusive) and strict-forward matches; equal distance → backward, as
    * in pandas. ONE sort serves both directions: with right rows sorting
    * before equal-time left rows, the backward carry is inclusive and the
    * forward carry is strict — an equal-time right row is distance 0 via the
    * backward side, so nothing is lost. Still a single shuffle; the two
    * frames ride the same (key, time, side) sort.
    */
  def nearest(
      left: DataFrame,
      right: DataFrame,
      keys: Seq[String],
      leftTime: String,
      rightTime: String,
      rightPayload: Map[String, String]): DataFrame = {

    val sideOrder = Seq(col("__t__"), col("__side__"))
    val unioned = tagAndUnion(left, right, keys, leftTime, rightTime, rightPayload)
    val wb = Window.partitionBy(keys.map(col): _*).orderBy(sideOrder: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wf = Window.partitionBy(keys.map(col): _*).orderBy(sideOrder: _*)
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)

    // carry the matched right TIME alongside the payload: distance decides
    val timedPayload = struct(
      (col("__t__").as("__rt__") +:
        rightPayload.values.toSeq.map(to => col(s"__p_$to").as(to))): _*)
    val rightOnly = when(col("__side__") === 0, timedPayload)
    val carried = unioned
      .withColumn("__b__", last(rightOnly, ignoreNulls = true).over(wb))
      .withColumn("__f__", first(rightOnly, ignoreNulls = true).over(wf))

    // exact integer distances for timestamps (micros — a double's 2e-7 s
    // rounding could disagree with the oracle's exact interval compare on
    // near-symmetric matches); plain double for numeric time axes
    val isTs = unioned.schema("__t__").dataType ==
      org.apache.spark.sql.types.TimestampType
    def axis(c: Column): Column = if (isTs) unix_micros(c) else c.cast("double")
    val tD = axis(col("__t__"))
    val bD = axis(col("__b__").getField("__rt__"))
    val fD = axis(col("__f__").getField("__rt__"))
    val chosen = when(col("__b__").isNull, col("__f__"))
      .when(col("__f__").isNull, col("__b__"))
      .when(tD - bD <= fD - tD, col("__b__")) // tie -> backward (pandas)
      .otherwise(col("__f__"))

    matchedLeftRows(carried.withColumn("__c__", chosen), left, keys, leftTime, rightPayload)
  }

  /** [[backward]] for SKEWED keys — the §2.3 skew-cliff closer. `backward`
    * runs one window per key, so a key holding 90% of the rows serializes
    * 90% of the table through one task. Here each key's timeline is split
    * into `salts` coarse time ranges (balanced via approximate quantiles of
    * the combined time column — ANY assignment is correct, quantiles just
    * balance task sizes), the same union+`last(struct)` window runs
    * partitioned by (key, range), and each range is seeded with a carry-in
    * row: the last right payload from all EARLIER ranges, computed by a
    * per-(key, range) aggregate (≤ `salts` rows per key) plus one tiny
    * prefix-scan window. Three extra narrow-ish steps, all O(|keys|·salts);
    * the heavy window becomes `salts`-way parallel per key.
    *
    * Equal timestamps land in the same range (bucketing is a function of
    * time), so carry-in rows are strictly earlier than every row in their
    * range and both `strict` modes behave exactly as in [[backward]].
    * Result == [[backward]] row-for-row (ties between equal-time right rows
    * are resolved arbitrarily in both, as in pandas). Null event times land
    * in the first range, mirroring backward's nulls-first sort; the one
    * residual divergence is a range whose ONLY right rows have null times —
    * its carry-out is empty here while backward would propagate the null-time
    * row's payload (pandas merge_asof rejects null keys outright, so this
    * corner is outside the reference contract).
    */
  def backwardSalted(
      left: DataFrame,
      right: DataFrame,
      keys: Seq[String],
      leftTime: String,
      rightTime: String,
      rightPayload: Map[String, String],
      strict: Boolean = false,
      salts: Int = 32): DataFrame = {
    require(salts >= 1, "salts must be >= 1")
    val sideOrder = if (strict) Seq(col("__t__"), col("__side__").desc) else Seq(col("__t__"), col("__side__"))
    val unioned = tagAndUnion(left, right, keys, leftTime, rightTime, rightPayload)

    // time-range bucketing: boundaries from approx quantiles of the combined
    // time axis; a when-chain of <= salts-1 comparisons assigns the bucket
    // (same t => same bucket, so ranges strictly order across buckets)
    val probs = (1 until salts).map(_.toDouble / salts).toArray
    val bounds =
      if (salts == 1) Array.empty[Double]
      else unioned.select(col("__t__").cast("double").as("__td__"))
        .stat.approxQuantile("__td__", probs, 0.001).distinct.sorted
    val tD = col("__t__").cast("double")
    // null times -> bucket 0: backward's window sorts nulls FIRST, so a
    // null-time row must live in the first range (falling through the
    // when-chain would silently park it in the LAST bucket, where it would
    // see every earlier range's carry-in — a wrong, non-null match)
    val saltExpr = when(tD.isNull, 0).otherwise(
      bounds.zipWithIndex.foldRight(lit(bounds.length): Column) {
        case ((b, i), rest) => when(tD <= b, i).otherwise(rest)
      })
    val salted = unioned.withColumn("__salt__", saltExpr)

    val payload = payloadStruct(rightPayload)

    // last right payload per (key, range): the candidate carry-OUT of each
    // range — max_by over time picks the latest right row atomically
    val grpCols = keys.map(col) :+ col("__salt__")
    val rangeLast = salted.filter(col("__side__") === 0)
      .groupBy(grpCols: _*)
      .agg(max_by(payload, col("__t__")).as("__rl__"))
    // carry-IN per (key, range) = last non-null carry-out over earlier
    // ranges; the scan window sees <= salts rows per key — never skewed
    val keyRanges = salted.select(grpCols: _*).distinct()
    val wScan = Window.partitionBy(keys.map(col): _*).orderBy(col("__salt__"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val seeds = keyRanges.join(rangeLast, keys :+ "__salt__", "left")
      .withColumn("__seed__", last(col("__rl__"), ignoreNulls = true).over(wScan))
      .filter(col("__seed__").isNotNull)
      .select(
        keys.map(col) ++ Seq(
          col("__salt__"),
          lit(null).cast(unioned.schema("__t__").dataType).as("__t__"), // nulls-first: sorts before every real row in the range
          lit(-1).as("__side__")) ++
          rightPayload.values.toSeq.map(to => col("__seed__").getField(to).as(s"__p_$to")): _*)

    val withSeeds = salted.unionByName(seeds, allowMissingColumns = true)
    val w = Window.partitionBy(grpCols: _*).orderBy(sideOrder: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carried = withSeeds.withColumn("__c__",
      last(when(col("__side__") <= 0, payload), ignoreNulls = true).over(w))
    matchedLeftRows(carried, left, keys, leftTime, rightPayload)
  }

  /** Both sides in one frame: the keys, the event time as `__t__`, the side
    * as `__side__` (0 = right, 1 = left), the right payload as `__p_<to>`
    * and every other left column as `__l_<name>`.
    */
  private def tagAndUnion(left: DataFrame, right: DataFrame, keys: Seq[String],
      leftTime: String, rightTime: String, rightPayload: Map[String, String]): DataFrame = {
    val taggedRight = right.select(
      keys.map(col) ++
        Seq(col(rightTime).as("__t__"), lit(0).as("__side__")) ++
        rightPayload.map { case (from, to) => col(from).as(s"__p_$to") }: _*)
    val taggedLeft = left.select(
      keys.map(col) ++
        Seq(col(leftTime).as("__t__"), lit(1).as("__side__")) ++
        left.columns.toSeq.filterNot(keys.contains).map(c => col(c).as(s"__l_$c")): _*)
    taggedLeft.unionByName(taggedRight, allowMissingColumns = true)
  }

  /** One right row's payload as a struct of its output names. */
  private def payloadStruct(rightPayload: Map[String, String]): Column =
    struct(rightPayload.values.toSeq.map(to => col(s"__p_$to").as(to)): _*)

  /** The left rows of `carried` back in `left`'s columns, followed by the
    * payload fields of the matched struct `__c__`.
    */
  private def matchedLeftRows(carried: DataFrame, left: DataFrame, keys: Seq[String],
      leftTime: String, rightPayload: Map[String, String]): DataFrame =
    carried.filter(col("__side__") === 1)
      .select(
        keys.map(col) ++
          Seq(col("__t__").as(leftTime)) ++
          left.columns.toSeq.filterNot(c => keys.contains(c) || c == leftTime)
            .map(c => col(s"__l_$c").as(c)) ++
          rightPayload.values.map(to => col("__c__").getField(to).as(to)): _*)
}
