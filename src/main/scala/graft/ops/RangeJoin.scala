package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Bucketized range join — point-in-interval matching (price bands, time
  * ranges, IP blocks, score tiers) as a shuffle-parallel EQUI-join.
  *
  * Spark plans a bare inequality join (`p >= lo AND p < hi`) as
  * BroadcastNestedLoopJoin or a cartesian product: every (point, interval)
  * pair is compared, O(|P|·|I|) — a non-starter at scale. Bucketizing fixes
  * the shape: intervals are replicated to every width-`w` bucket they
  * overlap, points hash to their single bucket, and the join becomes an
  * equi-join on the bucket id followed by an exact range refinement. Cost is
  * O(|P| + |I|·(avgSpan/w)) shuffled rows, all hash-parallel; pick `w` near
  * the typical interval span so replication stays O(1) per interval.
  * Interval ends are handled half-open: a point matches iff
  * `lo <= p < hi`.
  */
object RangeJoin {

  /** Join `points` to every interval of `intervals` containing the point.
    *
    * @param points frame with a numeric point column
    * @param intervals frame with numeric `[lo, hi)` columns
    * @param pointCol point column name in `points`
    * @param loCol inclusive lower bound column name in `intervals`
    * @param hiCol exclusive upper bound column name in `intervals`
    * @param bucketWidth bucket size in the point's units (choose ≈ typical
    *        interval span; must be > 0)
    * @param maxBucketsPerInterval replication guard: an interval spanning
    *        more buckets than this raises a clear runtime error instead of
    *        silently exploding the replication (a sentinel "open-ended"
    *        upper bound like 1e15 would otherwise try to materialize a
    *        billions-long sequence and kill the job). Raise it, or widen
    *        `bucketWidth`, for legitimately wide intervals.
    * @return inner join of both frames' columns for each containment match
    */
  def pointInInterval(points: DataFrame, intervals: DataFrame,
      pointCol: String, loCol: String, hiCol: String,
      bucketWidth: Long, maxBucketsPerInterval: Int = 10000): DataFrame = {
    require(bucketWidth > 0, "bucketWidth must be positive")
    require(maxBucketsPerInterval > 0, "maxBucketsPerInterval must be positive")
    val p = col(pointCol).cast("double")
    val lo = col(loCol).cast("double")
    val hi = col(hiCol).cast("double")
    val w = lit(bucketWidth.toDouble)
    val bLo = floor(lo / w).cast("long")
    val bHi = floor(hi / w).cast("long")
    // interval -> one row per overlapped bucket. When hi sits exactly on a
    // bucket boundary this replicates one bucket more than strictly needed;
    // the exact containment filter below discards those rows, so the bound
    // stays simple and correctness never depends on boundary arithmetic.
    // Empty/inverted intervals (hi <= lo) match nothing and are dropped
    // before the explode (a descending sequence would replicate garbage).
    val repl = intervals.filter(lo < hi).withColumn("__b__",
      explode(when(bHi - bLo < lit(maxBucketsPerInterval.toLong), sequence(bLo, bHi))
        .otherwise(raise_error(concat(
          lit(s"RangeJoin: interval spans more than $maxBucketsPerInterval buckets " +
            s"(bucketWidth=$bucketWidth); widen bucketWidth or raise maxBucketsPerInterval: ["),
          lo, lit(", "), hi, lit(")"))))))
    val bucketed = points.withColumn("__b__", floor(p / w).cast("long"))
    bucketed.join(repl, Seq("__b__"))
      .filter(p >= lo && p < hi)
      .drop("__b__")
  }
}
