package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core.{JobCounter, Positions}

/** [[Positions.of]] against a driver-side reference (collect, sort by the
  * key, `scanLeft`), and the job counts of the operations built on it.
  */
class PositionsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSession.spark
  import spark.implicits._

  /** Run `body` with the SQL confs set, restoring (or unsetting) them after. */
  private def withConf[A](kv: (String, String)*)(body: => A): A = {
    val before = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Six sorted partitions from seven input partitions. */
  private def sixWay[A](body: => A): A =
    withConf("spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.shuffle.partitions" -> "6")(body)

  /** (key, w) rows of `df` positioned by `key` with weight `w`, checked
    * against the reference; returns the positioned frame.
    */
  private def checkAgainstReference(df: DataFrame): DataFrame = {
    val (positioned, n) = Positions.of(df, Seq(col("key")), Some(col("w")))
    val want = df.collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val cums = want.map(_._2).scanLeft(0L)(_ + _).init
    val got = positioned.select(col("key"), col(Positions.CumCol), col(Positions.PosCol))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._3)
    assert(n == want.length)
    assert(got.map(_._3).toSeq == (0L until n), "positions run 0..n-1")
    assert(got.map(_._1).toSeq == want.map(_._1).toSeq, "positions follow the sort order")
    assert(got.map(_._2).toSeq == cums.toSeq, "__cum__ is the exclusive prefix sum")
    positioned
  }

  test("positions and exclusive weight sums == driver-side reference over six sorted partitions") {
    sixWay {
      // keys are a permutation of the ids; 300 zero weights in key order
      // straddle several partition boundaries
      val df = spark.range(0, 500, 1, 7)
        .select(((col("id") * 7919L) % 500L).as("key"))
        .withColumn("w", when(col("key").between(100L, 399L), 0L).otherwise(col("key") % 3L + 1L))
      val positioned = checkAgainstReference(df)
      val cumPartition = positioned.rdd
        .mapPartitionsWithIndex((i, it) => it.map(r => r.getAs[Long](Positions.CumCol) -> i))
        .collect()
      assert(cumPartition.map(_._2).distinct.length >= 5, "rows in at least five sorted partitions")
      assert(cumPartition.groupBy(_._1).values.exists(_.map(_._2).distinct.length > 1),
        "a zero-weight tie crosses a partition boundary")
      // __cum__ is not declared as a partitioning: a groupBy still shuffles
      val groups = positioned.groupBy(col(Positions.CumCol)).count()
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val want = positioned.select(Positions.CumCol).collect().map(_.getLong(0))
        .groupBy(identity).map { case (c, cs) => c -> cs.length.toLong }
      assert(groups == want)
      assert(groups.values.max == 301L, "the zero run and the row after it share one sum")
    }
  }

  test("empty frame and single row") {
    sixWay {
      val empty = Seq.empty[(Long, Long)].toDF("key", "w")
      assert(checkAgainstReference(empty).count() == 0L)
      val one = Seq((7L, 5L)).toDF("key", "w")
      assert(checkAgainstReference(one).columns.toSeq == Seq("key", "w", Positions.CumCol, Positions.PosCol))
      val (unweighted, n) = Positions.of(one, Seq(col("key")))
      assert(n == 1L && unweighted.columns.toSeq == Seq("key", "w", Positions.PosCol))
    }
  }

  test("a null weight fails the positioning") {
    val df = Seq((1L, Option(2L)), (2L, None: Option[Long])).toDF("key", "w")
    val e = intercept[Exception](Positions.of(df, Seq(col("key")), Some(col("w"))))
    assert(e.getMessage.contains("null weight"), e.getMessage)
  }

  /** (jobs, SQL executions) of building the result, then of collecting it. */
  private def jobsOf(build: => DataFrame): ((Int, Int), (Int, Int)) = {
    val b = new JobCounter
    val built = b.observe(spark.sparkContext)(build)
    val c = new JobCounter
    c.observe(spark.sparkContext)(built.collect())
    ((b.jobs, b.sqlExecutions), (c.jobs, c.sqlExecutions))
  }

  test("operations built on the positions run one positioning execution") {
    import graft.ops.{RankStats, Sampling}
    import graft.processor.ScalableEncoders.DenseRankLabelEncoding
    import graft.sdf.SDF
    val ids = spark.range(0, 200, 1, 7)
    // building runs one execution: the sort's sampling and map jobs and the
    // per-partition count, after the map job of an aggregate below the sort
    // (the rank's value counts, the encoder's distinct labels); reading
    // runs one more. The positioned frame declares its row count, so
    // withAverageRank's join broadcasts the small rank table (2 jobs, not 4)
    assert(jobsOf(RankStats.withAverageRank(ids.select((col("id") % 37).as("v"), col("id")), "v", "r")) ==
      (((4, 1), (2, 1))))
    assert(jobsOf(Sampling.selectByTokenBudget(
      ids.select(col("id"), (col("id") % 13).cast("double").as("score"), (col("id") % 5).as("tok")),
      col("id"), col("score"), col("tok"), 100L)) == (((3, 1), (1, 1))))
    val dense = new DenseRankLabelEncoding(Map("encoding_range" -> "one_to_n"))
    assert(jobsOf { dense.fit(ids.select((col("id") % 37).cast("string").as("v")), "v"); dense.fittedCodes } ==
      (((4, 1), (1, 1))))
    assert(jobsOf(SDF(ids.select(((col("id") * 7919L) % 200L).as("x"))).iloc(10, 20, Seq(col("x"))).df) ==
      (((3, 1), (1, 1))))
  }
}
