package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Behavioral analytics over event tables — funnel conversion and cohort
  * retention, the product-analytics pair every event pipeline reports.
  *
  * Scale shape: both are expressed as per-user MIN aggregates plus joins on
  * the user key — no per-user event list ever materializes, every stage is
  * a keyed shuffle on the same key (co-partitioned after the first
  * exchange), and state per user is one row.
  */
object Behavior {

  /** Ordered funnel with an optional window anchored at the FIRST step:
    * a user converts step k when some step-k event strictly follows their
    * step-(k−1) conversion time and (if `window` is set) lands within
    * `window` (a SQL interval string, e.g. "7 days") of their step-1 time.
    * Returns one row per step: (step, name, users).
    */
  def funnel(df: DataFrame, user: Column, ts: Column, typ: Column,
      steps: Seq[String], window: Option[String] = None): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    val ev = df.select(user.as("__u__"), ts.as("__t__"), typ.as("__y__"))
    val first = ev.filter(col("__y__") === steps.head)
      .groupBy(col("__u__"))
      .agg(min(col("__t__")).as("__t1__"))
      .withColumn("__tprev__", col("__t1__"))
    val frames = steps.tail.scanLeft(first) { (prev, step) =>
      val bound = window match {
        case Some(w) => col("__t__") <= col("__t1__") + expr(s"INTERVAL $w")
        case None => lit(true)
      }
      ev.filter(col("__y__") === step)
        .join(prev.select(col("__u__"), col("__t1__"), col("__tprev__")), "__u__")
        .filter(col("__t__") > col("__tprev__") && bound)
        .groupBy(col("__u__"))
        .agg(min(col("__t1__")).as("__t1__"), min(col("__t__")).as("__tprev__"))
    }
    frames.zip(steps).zipWithIndex.map { case ((f, name), i) =>
      f.agg(count(lit(1)).as("users"))
        .select(lit(i + 1).cast("long").as("step"), lit(name).as("name"), col("users"))
    }.reduce(_ unionByName _)
  }

  /** Top event-type transitions (the path-analysis bigram table): for each
    * user's time-ordered event sequence, count consecutive (from → to)
    * pairs corpus-wide and keep the top-N. One keyed window (lead over the
    * user partition, tie-broken by a unique event id) + one map-side-
    * combined count + TakeOrdered — no per-user sequence materialization.
    */
  def topTransitions(df: DataFrame, user: Column, ts: Column, typ: Column,
      eventId: Column, topN: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__u__")).orderBy(col("__ts__"), col("__eid__"))
    df.select(user.as("__u__"), ts.as("__ts__"), eventId.as("__eid__"),
        typ.as("from_type"))
      .withColumn("to_type", lead(col("from_type"), 1).over(w))
      .filter(col("to_type").isNotNull)
      .groupBy(col("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("from_type"), col("to_type"))
      .limit(topN)
  }

  /** Conversion-lag quantiles: for each user's FIRST `fromType` event, the
    * latency to their first `toType` event at-or-after it; converted users
    * aggregate to exact p50/p90 seconds. Two per-user min-aggregates (no
    * event pair join) + one grouped percentile.
    */
  def conversionLag(df: DataFrame, user: Column, ts: Column, typ: Column,
      fromType: String, toType: String): DataFrame = {
    val firstFrom = df.filter(typ === fromType)
      .groupBy(user.as("__u__")).agg(min(ts).as("__t0__"))
    val toEvents = df.filter(typ === toType)
      .select(user.as("__u__"), ts.as("__t1__"))
    val lags = firstFrom.join(toEvents, Seq("__u__"))
      .filter(col("__t1__") >= col("__t0__"))
      .groupBy(col("__u__"))
      .agg(min(unix_micros(col("__t1__")) - unix_micros(col("__t0__"))).as("__lag_us__"))
    lags.agg(
      count(lit(1)).as("converted_users"),
      round(percentile(col("__lag_us__").cast("double") / lit(1e6), lit(0.5)), 4).as("p50_sec"),
      round(percentile(col("__lag_us__").cast("double") / lit(1e6), lit(0.9)), 4).as("p90_sec"))
  }

  /** Cohort retention: users grouped by their first-activity bucket
    * (`date_trunc(bucket, ts)`), counted in every later bucket they return
    * in. Returns (cohort, k, users) where k is the bucket offset (0 = the
    * cohort bucket itself). `bucketDays` is the bucket length for the
    * offset arithmetic (7 for "week", 1 for "day").
    */
  def cohortRetention(df: DataFrame, user: Column, ts: Column,
      bucket: String, bucketDays: Int): DataFrame = {
    require(bucketDays > 0, "bucketDays must be positive")
    val ev = df.select(user.as("__u__"), date_trunc(bucket, ts).as("__b__")).distinct()
    val cohorts = ev.groupBy(col("__u__")).agg(min(col("__b__")).as("cohort"))
    ev.join(cohorts, "__u__")
      .withColumn("k",
        (datediff(col("__b__"), col("cohort")) / bucketDays).cast("long"))
      .groupBy(col("cohort"), col("k"))
      .agg(count(lit(1)).as("users"))
  }
}
