package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sdf.SDF

/** SDF/SCol edge cases not already covered by the DuckDB oracle corpus. */
class SdfSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSession.spark
  import spark.implicits._

  test("compareWith reports differing cells null-safely, including null vs value") {
    val l = SDF(Seq((1L, Option("a"), Option(10)), (2L, Option("b"), None),
      (3L, Option("c"), Option(30))).toDF("k", "s", "n"))
    val r = SDF(Seq((1L, Option("a"), Option(11)), (2L, Option("b"), Option(20)),
      (3L, None: Option[String], Option(30))).toDF("k", "s", "n"))
    val d = l.compareWith(r, keys = Seq("k"))
      .collect().map(x => (x.getLong(0), x.getString(1),
        Option(x.getString(2)), Option(x.getString(3)))).toSet
    assert(d == Set(
      (1L, "n", Some("10"), Some("11")),
      (2L, "n", None, Some("20")),
      (3L, "s", Some("c"), None)), s"got $d")
  }

  test("dropDuplicates keep=none drops every member of a duplicated group") {
    val df = SDF(Seq((1L, "a"), (2L, "a"), (3L, "b"), (4L, "c"), (5L, "c"))
      .toDF("id", "g"))
    val kept = df.dropDuplicates(Seq("g"), keep = "none", orderBy = Seq.empty)
      .df.collect().map(_.getLong(0)).toSet
    assert(kept == Set(3L), s"only the singleton group survives, got $kept")
  }

  test("merge validate=1:1 rejects duplicate keys") {
    val l = SDF(Seq((1, "a"), (1, "b")).toDF("k", "v"))
    val r = SDF(Seq((1, "x")).toDF("k", "w"))
    intercept[IllegalArgumentException] {
      l.merge(r, on = Seq("k"), validate = Some("1:1"))
    }
    // m:1 passes when right is unique
    assert(l.merge(r, on = Seq("k"), validate = Some("m:1")).df.count() == 2)
  }

  test("merge suffixes rename colliding non-key columns only") {
    val l = SDF(Seq((1, "a")).toDF("k", "v"))
    val r = SDF(Seq((1, "b")).toDF("k", "v"))
    val m = l.merge(r, on = Seq("k"))
    assert(m.columns.sorted == Seq("k", "v_x", "v_y"))
  }

  test("mutable update rebinds like sdf[col] = expr") {
    val sdf = SDF(Seq(1, 2).toDF("x"))
    sdf("y") = col("x") * 2
    assert(sdf.df.select("y").collect().map(_.getInt(0)).toSeq == Seq(2, 4))
  }

  test("iloc slices by global position") {
    val sdf = SDF(Seq(5, 3, 1, 4, 2).toDF("x"))
    val sliced = sdf.iloc(1, 3, orderBy = Seq(col("x")))
    assert(sliced.df.collect().map(_.getInt(0)).toSet == Set(2, 3))
  }

  test("iloc and monotonicity stay correct across many partitions") {
    // 10k shuffled rows over 16 partitions: exercises the range-sort +
    // partition-stitch paths (no single-task global window at scale)
    val n = 10000
    val df = spark.sparkContext.parallelize(
      new scala.util.Random(PropertyTestKit.runSeed).shuffle((0 until n).toList), 16)
      .toDF("x")
    val sdf = SDF(df)
    assert(sdf.iloc(4998, 5003, Seq(col("x"))).df.collect().map(_.getInt(0)).toSet ==
      Set(4998, 4999, 5000, 5001, 5002))
    assert(sdf("x").isMonotonicIncreasing(col("x")))
    assert(!sdf("x").isMonotonicDecreasing(col("x")))
    // single dip anywhere in the sequence is caught (within or across partitions)
    val dipped = spark.sparkContext.parallelize(
      (0 until n).map(i => (i, if (i == 7321) -1 else i)), 16).toDF("o", "v")
    assert(!SDF(dipped)("v").isMonotonicIncreasing(col("o")))
    // nulls are ignored; strings and timestamps are orderable
    val withNulls = Seq((1, Some(1)), (2, None), (3, Some(2))).toDF("o", "v")
    assert(SDF(withNulls)("v").isMonotonicIncreasing(col("o")))
    val strs = Seq((1, "a"), (2, "b"), (3, "b"), (4, "a")).toDF("o", "v")
    assert(!SDF(strs)("v").isMonotonicIncreasing(col("o")))
    assert(SDF(strs.limit(3))("v").isMonotonicIncreasing(col("o")))
  }

  test("replaceRegex substitutes across columns") {
    val sdf = SDF(Seq(("a-1", "b-2"), ("c-3", "d-4")).toDF("x", "y"))
    val out = sdf.replaceRegex(Seq("x", "y"), "-\\d", "#").df.collect()
    assert(out.map(r => (r.getString(0), r.getString(1))).toSeq ==
      Seq(("a#", "b#"), ("c#", "d#")))
  }

  test("SCol eager stats on tiny frame") {
    val sdf = SDF(Seq(1.0, 2.0, 2.0, 9.0).toDF("x"))
    val c = sdf("x")
    assert(c.sum_ == 14.0)
    assert(c.mean == 3.5)
    assert(c.mode_ == 2.0)
    assert(c.nunique() == 3)
    assert(c.idxmax(col("x") * 10) == 90.0)
    assert(!c.isUnique)
    assert(c.isMonotonicIncreasing(col("x")))
    assert(math.abs(c.prod - 36.0) < 1e-9)
    val b = SDF(Seq(true, true, false).toDF("x"))("x")
    assert(b.any_ && !b.all_)
  }

  test("SCol abs_/min_/max_/count_/notna, expandingMin/Max, applyUdf; SDF semi/anti joins") {
    import org.apache.spark.sql.expressions.Window
    val sdf = SDF(Seq((1, Option(-3.0)), (2, None: Option[Double]), (3, Option(5.0)), (4, Option(-7.0)))
      .toDF("i", "v"))
    val v = sdf("v")
    assert(v.min_ == -7.0 && v.max_ == 5.0)
    assert(v.count_ == 3L, "count_ skips nulls, like pandas count")
    val w = Window.orderBy(col("i"))
    val out = sdf.df
      .withColumn("a", v.abs_)
      .withColumn("nn", v.notna)
      .withColumn("emin", v.expandingMin(w))
      .withColumn("emax", v.expandingMax(w))
      .withColumn("sq", sdf("i").applyUdf((x: Int) => x * x))
      .orderBy(col("i")).collect()
    assert(out.map(r => Option(r.getAs[Any]("a"))).toSeq == Seq(Some(3.0), None, Some(5.0), Some(7.0)))
    assert(out.map(_.getAs[Boolean]("nn")).toSeq == Seq(true, false, true, true))
    assert(out.map(_.getAs[Double]("emin")).toSeq == Seq(-3.0, -3.0, -3.0, -7.0))
    assert(out.map(_.getAs[Double]("emax")).toSeq == Seq(-3.0, -3.0, 5.0, 5.0))
    assert(out.map(_.getAs[Int]("sq")).toSeq == Seq(1, 4, 9, 16))
    val right = SDF(Seq((1, "x"), (3, "y"), (3, "z"), (9, "w")).toDF("i", "tag"))
    def ids(f: SDF): Seq[Int] = f.df.select("i").collect().map(_.getInt(0)).toSeq.sorted
    // semi keeps each matching left row once (no duplication by 3's two
    // matches) and no right columns; anti is its complement
    assert(ids(sdf.semiJoin(right, Seq("i"))) == Seq(1, 3))
    assert(sdf.semiJoin(right, Seq("i")).columns.toSeq == Seq("i", "v"))
    assert(ids(sdf.antiJoin(right, Seq("i"))) == Seq(2, 4))
  }

  test("describe(): long-format stats in one pass") {
    val sdf = SDF(Seq((1.0, 10.0), (2.0, 20.0), (3.0, 30.0), (4.0, 40.0)).toDF("a", "b"))
    val d = sdf.describe(Seq("a", "b")).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getAs[Double](2)).toMap
    assert(d(("count", "a")) == 4.0)
    assert(d(("mean", "b")) == 25.0)
    assert(d(("min", "a")) == 1.0 && d(("max", "b")) == 40.0)
    assert(d(("50%", "a")) >= 2.0 && d(("50%", "a")) <= 3.0)
  }

  test("SCol window helpers: cumsum/shift/diff/pct_change/rank/rolling") {
    import org.apache.spark.sql.expressions.Window
    val sdf = SDF(Seq((1, 10.0), (2, 20.0), (3, 40.0)).toDF("i", "v"))
    val w = Window.orderBy(col("i"))
    val v = sdf("v")
    val out = sdf.df
      .withColumn("cs", v.cumsum(w))
      .withColumn("sh", v.shift(1, w))
      .withColumn("df_", v.diff(w))
      .withColumn("pc", v.pctChange(w))
      .withColumn("rk", v.rank_(w))
      .withColumn("ra", v.rolling(2, w))
      .orderBy(col("i")).collect()
    assert(out.map(_.getAs[Double]("cs")).toSeq == Seq(10.0, 30.0, 70.0))
    assert(out.map(r => Option(r.getAs[Any]("sh"))).toSeq == Seq(None, Some(10.0), Some(20.0)))
    assert(out.last.getAs[Double]("pc") == 1.0)
    assert(out.map(_.getAs[Long]("rk")).toSeq == Seq(1L, 2L, 3L))
    // pandas parity: rolling(2).mean() is null until min_periods=2 rows
    assert(out.map(r => Option(r.getAs[Any]("ra"))).toSeq ==
      Seq(None, Some(15.0), Some(30.0)))
  }

  test("rolling: minPeriods defaults to window size (pandas); Some(1) restores partial windows") {
    import org.apache.spark.sql.expressions.Window
    val sdf = SDF(Seq((1, 10.0), (2, 20.0), (3, 40.0)).toDF("i", "v"))
    val w = Window.orderBy(col("i"))
    val partial = sdf.df.withColumn("ra", sdf("v").rolling(3, w, minPeriods = Some(1)))
      .orderBy(col("i")).collect().map(_.getAs[Double]("ra")).toSeq
    assert(partial == Seq(10.0, 15.0, 70.0 / 3))
    val strict = sdf.df.withColumn("ra", sdf("v").rolling(3, w))
      .orderBy(col("i")).collect().map(r => Option(r.getAs[Any]("ra"))).toSeq
    assert(strict == Seq(None, None, Some(70.0 / 3)))
  }

  test("groupApply: arbitrary per-group logic via flatMapGroups") {
    val sdf = SDF(Seq(("a", 1.0), ("a", 3.0), ("b", 10.0)).toDF("k", "v"))
    val out = sdf.groupApply(r => r.getString(0)) { (k, rows) =>
      val vs = rows.map(_.getDouble(1)).toSeq
      Seq((k, vs.max - vs.min))
    }.collect().toMap
    assert(out == Map("a" -> 2.0, "b" -> 0.0))
  }

  test("local layout conversions: records, columns, single record") {
    val sdf = SDF(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    assert(sdf.asRecords == Seq(Map("id" -> 1L, "v" -> "a"), Map("id" -> 2L, "v" -> "b")))
    assert(sdf.asColumns == Map("id" -> Seq(1L, 2L), "v" -> Seq("a", "b")))
    assert(sdf.head(1).asRecord == Map("id" -> 1L, "v" -> "a"))
    intercept[IllegalArgumentException] { sdf.asRecord }
  }

  test("melt survives quote/backtick column names; kurt/skew NaN on short series") {
    val df = Seq((1L, 2.0, 3.0)).toDF("id", "it's", "a`b")
    val out = SDF(df).melt(Seq("id"), Seq("it's", "a`b"), "var", "val").df
      .collect().map(r => (r.getString(1), r.getDouble(2))).toSeq
    assert(out == Seq(("it's", 2.0), ("a`b", 3.0)))
    val short = SDF(Seq(1.0).toDF("x"))
    assert(short("x").kurt.isNaN && short("x").skew.isNaN)
    val three = SDF(Seq(1.0, 2.0, 4.0).toDF("x"))
    assert(!three("x").skew.isNaN && three("x").kurt.isNaN)
  }

  test("valid() with sampling and invalidRows") {
    val sdf = SDF(Seq(1, 2, -3, 4).toDF("x"))
    assert(!sdf.valid(col("x") > 0))
    assert(sdf.invalidRows(col("x") > 0).df.collect().map(_.getInt(0)).toSeq == Seq(-3))
    assert(SDF(Seq.empty[Int].toDF("x")).valid(col("x") > 0))
  }

  test("qcut/cut bucket assignment; getDummies one-hot columns") {
    // 8 values -> quartiles split evenly; right-inclusive like pandas
    val df = (1 to 8).map(_.toDouble).toDF("x")
    val s = SDF(df)
    val buckets = df.select(col("x"), s("x").qcut(4).as("b"))
      .collect().map(r => r.getDouble(0) -> r.getInt(1)).toMap
    assert(buckets(1.0) == 0 && buckets(2.0) == 0)
    assert(buckets(3.0) == 1 && buckets(4.0) == 1)
    assert(buckets(5.0) == 2 && buckets(6.0) == 2)
    assert(buckets(7.0) == 3 && buckets(8.0) == 3)
    // fixed bounds; null passes through
    val withNull = Seq(Some(1.0), Some(5.0), None, Some(10.0)).toDF("x")
    val cutRes = withNull.select(SDF(withNull)("x").cut(Seq(2.0, 6.0)).as("b"))
      .collect().map(r => if (r.isNullAt(0)) None else Some(r.getInt(0)))
    assert(cutRes.toSeq == Seq(Some(0), Some(1), None, Some(2)))
    // get_dummies: sorted value order, all-zero for null, original cols kept
    val cat = Seq((1, "b"), (2, "a"), (3, null)).toDF("id", "c")
    val dum = SDF(cat).getDummies("c").df.orderBy("id").collect()
    assert(dum.head.schema.fieldNames.toSeq == Seq("id", "c", "c_a", "c_b"))
    assert(dum.map(r => (r.getInt(2), r.getInt(3))).toSeq == Seq((0, 1), (1, 0), (0, 0)))
  }

  test("pow/floorDiv dunders, hasnans, empty, frame equals") {
    val df = Seq((2.0, 3.0), (7.0, -2.0)).toDF("a", "b")
    val s = SDF(df)
    val out = df.select(s("a").**(col("b")).as("p"), s("a").floorDiv(col("b")).as("fd"))
      .collect().map(r => (r.getDouble(0), r.getLong(1))).toSeq
    assert(out.map(_._2) == Seq(0L, -4L), "floorDiv floors toward -inf like Python //")
    assert(out.head._1 == 8.0 && math.abs(out(1)._1 - 1.0 / 49) < 1e-15)
    assert(!s("a").hasnans)
    assert(SDF(Seq(Some(1.0), None).toDF("x"))("x").hasnans)
    // pandas hasnans counts real NaN, not just null (isNull misses NaN);
    // string columns must not trip the isnan probe
    assert(SDF(Seq(1.0, Double.NaN).toDF("x"))("x").hasnans)
    assert(!SDF(Seq("a", "b").toDF("x"))("x").hasnans)
    assert(!s.isEmpty && SDF(Seq.empty[Double].toDF("x")).isEmpty)
    // equals: multiset of rows, column order sensitive
    val same = SDF(Seq((7.0, -2.0), (2.0, 3.0)).toDF("a", "b"))
    assert(s.equalsFrame(same), "row order must not matter")
    assert(!s.equalsFrame(SDF(df.select(col("b"), col("a")))), "column order matters")
    assert(!s.equalsFrame(SDF(Seq((2.0, 3.0), (2.0, 3.0)).toDF("a", "b"))), "multiset, not set")
  }

  test("corrMatrix: symmetric with unit diagonal; spearman path = RankStats") {
    val df = (1 to 40).map { i =>
      (i.toDouble, math.exp(i / 10.0), (41 - i).toDouble)
    }.toDF("a", "b", "c")
    val m = SDF(df).corrMatrix(Seq("a", "b", "c"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    assert(m.size == 9)
    assert(Seq("a", "b", "c").forall(x => m((x, x)) == 1.0))
    assert(m(("a", "b")) == m(("b", "a")))
    assert(math.abs(m(("a", "c")) + 1.0) < 1e-12, "a vs reversed a is exactly -1")
    // spearman matrix entry equals the Series-level spearman
    val sp = SDF(df).corrMatrix(Seq("a", "b"), method = "spearman")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    val expect = graft.ops.RankStats.spearman(df, "a", "b")
    assert(math.abs(sp(("a", "b")) - expect) < 1e-12)
    assert(math.abs(sp(("a", "b")) - 1.0) < 1e-12, "monotone transform -> spearman 1")
  }

  test("resample materializes empty buckets; counts coalesce to 0") {
    val df = Seq(
      ("2024-01-01 00:01:00", 1.0),
      ("2024-01-01 00:04:00", 2.0),
      // 00:05-00:10 empty
      ("2024-01-01 00:12:00", 4.0)).toDF("t", "v")
      .select(col("t").cast("timestamp").as("t"), col("v"))
    val out = SDF(df).resample("t", "5 minutes",
        Seq(count(lit(1)).as("n"), sum(col("v")).as("s"))).df
      .orderBy("t")
      .collect().map(r => (r.getTimestamp(0).toString, r.getAs[Any]("n"), r.getAs[Any]("s")))
    assert(out.length == 3, s"expected 3 buckets, got ${out.toSeq}")
    assert(out(0) == ("2024-01-01 00:00:00.0", 2L, 3.0))
    assert(out(1) == ("2024-01-01 00:05:00.0", null, null), "empty bucket must appear with nulls")
    assert(out(2) == ("2024-01-01 00:10:00.0", 1L, 4.0))
  }

  test("crosstab zero-fills missing cells and drops null keys like pandas") {
    val df = Seq(
      (Option("a"), Option("x")), (Option("a"), Option("x")), (Option("a"), Option("y")),
      (Option("b"), Option("y")),
      (None: Option[String], Option("x")), (Option("b"), None: Option[String]))
      .toDF("r", "c")
    val out = SDF(df).crosstab("r", "c").df.orderBy("r").collect()
    val cols = SDF(df).crosstab("r", "c").df.columns.toSeq
    assert(cols == Seq("r", "x", "y"))
    assert(out.map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq ==
      Seq(("a", 2L, 1L), ("b", 0L, 1L)))
  }

  test("explodeCol keeps empty/null-array rows with a null cell (pandas explode)") {
    val df = Seq(
      (1L, Seq("a", "b")), (2L, Seq.empty[String]), (3L, null.asInstanceOf[Seq[String]]))
      .toDF("id", "xs")
    val out = SDF(df).explodeCol("xs").df.orderBy("id", "xs")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(out == Seq((1L, "a"), (1L, "b"), (2L, null), (3L, null)))
  }

  test("combineFirst: self cells win, other fills gaps/rows/columns") {
    val a = SDF(Seq((1L, Option(10.0), "n1"), (2L, None: Option[Double], "n2")).toDF("k", "v", "name"))
    val b = SDF(Seq((2L, Option(99.0), "s2"), (3L, Option(30.0), "s3")).toDF("k", "v", "seg"))
    val out = a.combineFirst(b, Seq("k")).df.orderBy("k")
      .collect().map(r => (r.getLong(0), Option(r.get(1)), Option(r.get(2)), Option(r.get(3)))).toSeq
    assert(out == Seq(
      (1L, Some(10.0), Some("n1"), None),          // self-only row, b column null
      (2L, Some(99.0), Some("n2"), Some("s2")),    // gap filled from b, self name kept
      (3L, Some(30.0), None, Some("s3"))))         // b-only row
  }

  test("whereCols/maskCols substitute per-cell; query() filters via SQL expr") {
    val df = SDF(Seq((1L, 5.0), (2L, 15.0), (3L, 25.0)).toDF("id", "v"))
    val w = df.whereCols(col("v") > 10, Seq("v"), lit(-1.0)).df
      .orderBy("id").collect().map(_.getDouble(1)).toSeq
    assert(w == Seq(-1.0, 15.0, 25.0))
    val m = df.maskCols(col("v") > 10, Seq("v"), lit(-1.0)).df
      .orderBy("id").collect().map(_.getDouble(1)).toSeq
    assert(m == Seq(5.0, -1.0, -1.0))
    assert(df.query("v > 10 and id < 3").df.count() == 1)
  }

  test("resampleBy fills gaps per group over each group's own span") {
    val df = Seq(
      ("a", "2024-01-01 00:01:00", 1.0),
      ("a", "2024-01-01 00:11:00", 2.0), // a: 00:05 bucket empty
      ("b", "2024-01-01 01:02:00", 3.0)) // b: single bucket, different hour
      .toDF("g", "t", "v")
      .select(col("g"), col("t").cast("timestamp").as("t"), col("v"))
    val out = SDF(df).resampleBy(Seq("g"), "t", "5 minutes",
        Seq(count(lit(1)).as("n"))).df
      .orderBy("g", "t")
      .collect().map(r => (r.getString(0), r.getTimestamp(1).toString, Option(r.get(2)))).toSeq
    assert(out == Seq(
      ("a", "2024-01-01 00:00:00.0", Some(1L)),
      ("a", "2024-01-01 00:05:00.0", None),
      ("a", "2024-01-01 00:10:00.0", Some(1L)),
      ("b", "2024-01-01 01:00:00.0", Some(1L))), s"got $out")
  }

  test("groupTopK keeps exactly top-n per group; wavg weights correctly") {
    val df = Seq(("a", 1L, 10.0), ("a", 2L, 30.0), ("a", 3L, 20.0),
      ("b", 4L, 5.0)).toDF("g", "id", "x")
    val top = SDF(df).groupTopK(Seq(col("g")), col("x"), col("id"), n = 2)
      .df.select("id").as[Long].collect().sorted.toSeq
    assert(top == Seq(2L, 3L, 4L), s"got $top")
    // wavg: (10*1 + 30*3)/(1+3) = 25
    val w = Seq((10.0, 1.0), (30.0, 3.0)).toDF("x", "w")
    assert(SDF(w)("x").wavg(col("w")) == 25.0)
  }

  test("scd2: change runs open/close intervals; null transitions open new intervals") {
    val snaps = Seq(
      // key 1: stable at v1-v2, change at v3 (interval [1,3) then [3,null))
      (1L, 1L, Some("a"), 10.0), (1L, 2L, Some("a"), 10.0), (1L, 3L, Some("b"), 10.0),
      // key 2: value -> null at v2 (null-safe change), null -> value at v3
      (2L, 1L, Some("x"), 1.0), (2L, 2L, None: Option[String], 1.0), (2L, 3L, Some("x"), 1.0))
      .toDF("k", "v", "s", "x")
    val out = graft.ops.History.scd2(snaps, Seq("k"), "v", Seq("s", "x"))
      .orderBy("k", "effective_from").collect()
      .map(r => (r.getLong(0), r.getLong(1), Option(r.get(2)).map(_.asInstanceOf[Long]),
        Option(r.getString(3)))).toSeq
    assert(out == Seq(
      (1L, 1L, Some(3L), Some("a")), (1L, 3L, None, Some("b")),
      (2L, 1L, Some(2L), Some("x")), (2L, 2L, Some(3L), None), (2L, 3L, None, Some("x"))),
      s"got $out")
  }

  test("upsert: row-level replace (explicit null overwrites), new keys append, schema guard") {
    val base = Seq((1L, Some("a"), 10.0), (2L, Some("b"), 20.0), (3L, Some("c"), 30.0))
      .toDF("k", "s", "v")
    val ups = Seq((2L, None: Option[String], 99.0), (9L, Some("z"), 1.0))
      .toDF("k", "s", "v")
    val out = SDF(base).upsert(SDF(ups), Seq("k")).df
      .orderBy("k").collect()
      .map(r => (r.getLong(0), Option(r.getString(1)), r.getDouble(2))).toSeq
    // key 2's null s REPLACES "b" (row semantics, unlike combineFirst)
    assert(out == Seq((1L, Some("a"), 10.0), (2L, None, 99.0),
      (3L, Some("c"), 30.0), (9L, Some("z"), 1.0)), s"got $out")
    val bad = Seq((1L, 2.0)).toDF("k", "other")
    assertThrows[IllegalArgumentException](SDF(base).upsert(SDF(bad), Seq("k")))
  }

  test("flattenStructs: two nested levels expand; arrays and scalars pass through") {
    val df = Seq((1L, ("x", (7L, 0.5)), Seq(1, 2)))
      .toDF("id", "m", "arr")
    // build named nesting explicitly (tuple encoder names are _1/_2)
    val nested = df.select(col("id"),
      struct(col("m._1").as("tag"),
        struct(col("m._2._1").as("uid"), col("m._2._2").as("val")).as("inner")).as("meta"),
      col("arr"))
    val flat = SDF(nested).flattenStructs().df
    assert(flat.columns.toSeq == Seq("id", "meta_tag", "meta_inner_uid", "meta_inner_val", "arr"))
    val r = flat.head()
    assert(r.getLong(0) == 1L && r.getString(1) == "x" && r.getLong(2) == 7L
      && r.getDouble(3) == 0.5 && r.getSeq[Int](4) == Seq(1, 2))
  }

  test("trimmedMean: outliers excluded; per-group bands independent; kAnonymity counts") {
    val vals = (1 to 10).map(_.toDouble) :+ 1000.0 // p10..p90 band of 1..10,1000
    val df = vals.toDF("x")
    // n=11, h=(n-1)p: p=0.1 -> q10=2.0, p=0.9 -> q90=10.0 (type-7) ->
    // mean of 2..10 = 6.0
    assert(graft.ops.RankStats.trimmedMean(df, "x", 0.1) == 6.0)
    val g = ((1 to 10).map(i => ("a", i.toDouble)) ++ Seq(("a", 1000.0),
      ("b", 1.0), ("b", 2.0), ("b", 3.0))).toDF("g", "x")
    val tm = graft.ops.RankStats.trimmedMeanPerGroup(g, Seq("g"), "x", 0.1)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(tm("a") == 6.0)
    assert(math.abs(tm("b") - 2.0) < 1e-12) // band [1.2, 2.8] keeps only 2.0
    val ka = graft.ops.Profile.kAnonymity(
      (Seq.fill(12)(("US", "A")) ++ Seq.fill(3)(("US", "B")) ++ Seq(("DE", "A")))
        .toDF("c1", "c2"), Seq("c1", "c2"), k = 10)
      .head()
    assert((ka.getLong(0), ka.getLong(1), ka.getLong(2), ka.getLong(3)) == ((1L, 3L, 2L, 4L)))
  }

  test("clip preserves null and NaN (no fabricated upper bound)") {
    val sdf = SDF(Seq(Option(5.0), Option(50.0), Option(Double.NaN), None)
      .toDF("x"))
    // regression: greatest(least(...)) skipped nulls and ordered NaN
    // greatest, rewriting BOTH into the upper bound
    val got = sdf.df.select(sdf("x").clip(0.0, 10.0).as("c")).collect()
      .map(r => Option(r.getAs[Any]("c"))).toSeq
    assert(got(0) == Some(5.0) && got(1) == Some(10.0))
    assert(got(2).exists(v => v.asInstanceOf[Double].isNaN), s"NaN must survive clip: $got")
    assert(got(3).isEmpty, s"null must survive clip: $got")
  }

  test("double statistics return NaN (not 0.0) on empty/degenerate input") {
    val empty = SDF(Seq.empty[Double].toDF("x"))
    assert(empty("x").mean.isNaN, "mean of empty must be NaN")
    // regression: getAs[Double] unboxed the SQL null to 0.0 — a fake zero
    val oneRow = SDF(Seq(7.0).toDF("x"))
    assert(oneRow("x").std.isNaN, "stddev_samp of 1 row must be NaN")
    assert(oneRow("x").variance.isNaN)
    assert(empty("x").quantileApprox(0.5).isNaN)
    // same null-unboxing class, missed by the first sweep: corr of a
    // CONSTANT column is SQL null -> must surface as NaN, never a fake 0.0
    // ("uncorrelated"); cov on <2 complete pairs and wavg on zero complete
    // pairs likewise
    val const = Seq((1.0, 1.0), (1.0, 2.0)).toDF("x", "y")
    assert(SDF(const)("x").corrWith(col("y")).isNaN, "corr of constant must be NaN")
    assert(SDF(Seq((1.0, 2.0)).toDF("x", "y"))("x").covWith(col("y")).isNaN,
      "cov of one pair must be NaN")
    val noPairs = Seq((Some(1.0), None: Option[Double]), (None: Option[Double], Some(2.0)))
      .toDF("x", "w")
    assert(SDF(noPairs)("x").wavg(col("w")).isNaN, "wavg with zero complete pairs must be NaN")
  }

  test("ANSI degenerate statistics: constant/small inputs yield NaN/null, never DIVIDE_BY_ZERO") {
    // Spark 4 ANSI mode turns the built-in corr of a constant column, and
    // the bias-correction divisions at n<=2 / n<=3, into job-killing throws
    val const = Seq((1.0, 1.0), (1.0, 2.0), (1.0, 3.0)).toDF("x", "y")
    // per-group corr via safeCorr (the corrMatrix/corrwith/autocorr spelling)
    val cell = const.agg(graft.sdf.SCol.safeCorr(col("x"), col("y"))).head()
    assert(cell.isNullAt(0), "corr of a constant column must be null, not a crash")
    assert(SDF(const)("x").corrWith(col("y")).isNaN)
    // safeCorr matches built-in corr on healthy input (same math, ~ulp)
    val healthy = Seq((1.0, 2.0), (2.0, 3.5), (3.0, 5.2), (4.0, 6.1)).toDF("x", "y")
    val both = healthy.agg(corr(col("x"), col("y")),
      graft.sdf.SCol.safeCorr(col("x"), col("y"))).head()
    assert(math.abs(both.getDouble(0) - both.getDouble(1)) < 1e-12)
    // moments: groups of n=2 / n=3 must not divide by zero
    val tiny = Seq(("a", 1.0), ("a", 2.0), ("b", 1.0), ("b", 2.0), ("b", 3.0))
      .toDF("g", "x")
    val m = tiny.groupBy("g").agg(
        graft.sdf.SCol.sampleSkew(col("x")).as("sk"),
        graft.sdf.SCol.sampleKurt(col("x")).as("ku"))
      .orderBy("g").collect()
    assert(m(0).isNullAt(1) && m(0).isNullAt(2), "n=2: skew and kurt null")
    assert(!m(1).isNullAt(1) && m(1).isNullAt(2), "n=3: skew defined, kurt null")
    // rolling corr over a constant window: null cell, not a crash
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(lit(1)).orderBy("i")
    val flat = (1 to 5).map(i => (i, 2.0, i.toDouble)).toDF("i", "x", "y")
    val rc = flat.select(graft.ops.WindowStats.rollingCorr(col("x"), col("y"), 3, w).as("c"))
      .collect()
    assert(rc.forall(_.isNullAt(0)), "constant-x windows must all be null")
  }

  test("ANSI degenerate data: zero vectors, zero pct_change base, empty corpora don't crash") {
    import org.apache.spark.sql.expressions.Window
    // cosine of/with a zero vector: null, not DIVIDE_BY_ZERO
    val vecs = Seq((1L, Seq(1.0, 0.0)), (2L, Seq(0.0, 0.0)), (3L, Seq(0.8, 0.6)))
      .toDF("id", "v")
    val cos = vecs.select(col("id"),
      graft.ops.Similarity.cosine(col("v"), typedLit(Seq(1.0, 0.0))).as("c"))
      .orderBy("id").collect()
    assert(cos(0).getDouble(1) == 1.0 && cos(1).isNullAt(1) &&
      math.abs(cos(2).getDouble(1) - 0.8) < 1e-12)
    // bruteForceTopK with a zero corpus vector: zero-norm rows rank last
    // (null cos under desc), never crash the scoring job
    val topk = graft.ops.Similarity.bruteForceTopK(
      vecs.filter(col("id") === 1L).toDF("qid", "qv"), vecs.toDF("cid", "cv"),
      "qid", "qv", "cid", "cv", k = 2)
    assert(topk.select("cid").as[Long].collect().toSet == Set(3L, 2L))
    // pct_change over a zero base: pandas +inf / NaN, not a throw
    val w = Window.partitionBy(lit(1)).orderBy("i")
    val ser = Seq((1, 0.0), (2, 5.0), (3, 0.0), (4, 0.0)).toDF("i", "x")
    val pc = ser.select(SDF(ser)("x").pctChange(w).as("p")).collect().map(r =>
      if (r.isNullAt(0)) None else Some(r.getDouble(0)))
    assert(pc(0).isEmpty, "first row: null (no previous)")
    assert(pc(1).contains(Double.PositiveInfinity), "5.0 from 0.0 -> +inf")
    assert(pc(2).contains(-1.0))
    assert(pc(3).exists(_.isNaN), "0.0 from 0.0 -> NaN")
    // BM25 over an all-empty corpus and dup rate of an empty frame: no crash
    val emptyDocs = Seq("", "").toDF("t")
    val bm = graft.ops.Bm25.score(emptyDocs, col("t"), Seq("x"), "s").collect()
    assert(bm.forall(_.getDouble(1) == 0.0))
    val dr = graft.ops.Dedup.dupRateEstimate(Seq.empty[String].toDF("t"), col("t")).head()
    assert(dr.getLong(0) == 0L && dr.isNullAt(2))
  }

  test("histogram of an empty or all-null column is an empty frame, not an NPE") {
    val allNull = SDF(Seq[Option[Double]](None, None).toDF("x"))
    val h = allNull("x").histogram(4)
    assert(h.count() == 0L && h.columns.toSeq == Seq("bin", "n"))
    assert(SDF(Seq.empty[Double].toDF("x"))("x").histogram(3).count() == 0L)
  }

  test("cut assigns NaN to the null bucket, not the top overflow bucket") {
    val sdf = SDF(Seq(Option(0.5), Option(99.0), Option(Double.NaN), None).toDF("x"))
    val got = sdf.df.select(sdf("x").cut(Seq(1.0, 2.0)).as("b")).collect()
      .map(r => Option(r.getAs[Any]("b"))).toSeq
    assert(got == Seq(Some(0), Some(2), None, None),
      s"NaN must be missing like null, got $got")
  }

  test("mode_ works on non-identifier column names (backtick escaping)") {
    val df = Seq(1, 1, 2).toDF("my col")
    assert(SDF(df)("my col").mode_ == 1)
  }

  test("valid() and invalidRows() agree on null-valued predicates") {
    val sdf = SDF(Seq(Option(3), None).toDF("x"))
    val pred = col("x") > 1 // null row evaluates to null
    // regression: min() skipped the null predicate so valid()==true while
    // invalidRows() returned the null row as failing
    assert(!sdf.valid(pred), "null predicate row must count as invalid")
    assert(sdf.invalidRows(pred).df.count() == 1L)
  }

  test("resampleBy keeps null-keyed groups (null-safe skeleton + join)") {
    val df = Seq(
      (Option("a"), java.sql.Timestamp.valueOf("2024-01-01 00:01:00"), 1.0),
      (Option("a"), java.sql.Timestamp.valueOf("2024-01-01 00:11:00"), 2.0),
      (None: Option[String], java.sql.Timestamp.valueOf("2024-01-01 00:02:00"), 5.0))
      .toDF("k", "t", "v")
    // regression: the skeleton self-join on the group keys dropped the
    // null-keyed group entirely (inner join, null keys never match)
    val out = SDF(df).resampleBy(Seq("k"), "t", "5 minutes",
      Seq(round(sum(col("v")), 4).as("total"))).df
    val byKey = out.collect().groupBy(r => Option(r.getAs[String]("k")))
    assert(byKey.contains(None), s"null group lost: ${out.collect().toSeq}")
    assert(byKey(None).map(_.getAs[Double]("total")).toSeq == Seq(5.0))
    assert(byKey(Some("a")).length == 3, "group 'a' spans three 5-min buckets")
  }

  test("BloomMightContain: structurally identical probes are semantically equal") {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val bits1 = Array(0x5L, 0x9L)
    val bits2 = Array(0x5L, 0x9L) // different array instance, same content
    val e = ColumnBridge.expression(col("h"))
    val p1 = graft.functions.BloomMightContain(e, bits1.toIndexedSeq, 3)
    val p2 = graft.functions.BloomMightContain(e, bits2.toIndexedSeq, 3)
    // regression: an Array field compared by reference, so identical probes
    // were never equal and CSE/plan-reuse treated them as distinct
    assert(p1 == p2 && p1.semanticEquals(p2))
  }

  test("nlargestAll/nsmallestAll: keep=all tie semantics (boundary ties survive, nulls drop)") {
    import graft.sdf.SDF
    val df = Seq(
      (1L, 10.0), (2L, 9.0), (3L, 9.0), (4L, 9.0), (5L, 8.0),
      (6L, 1.0), (7L, 1.0), (8L, 2.0), (9L, 3.0)).toDF("id", "v")
      .unionByName(Seq((10L, Option.empty[Double])).toDF("id", "v"))
    // n=2 largest: boundary is 9.0 — ALL three 9.0 rows survive (4 rows > n)
    val top = SDF(df).nlargestAll(2, Seq(col("v"))).df
      .select("id").as[Long].collect().toSet
    assert(top == Set(1L, 2L, 3L, 4L), s"got $top")
    // n=3 smallest: boundary is 2.0 — rows {1.0, 1.0, 2.0}; null never ties
    val bottom = SDF(df).nsmallestAll(3, Seq(col("v"))).df
      .select("id").as[Long].collect().toSet
    assert(bottom == Set(6L, 7L, 8L), s"got $bottom")
    // multi-column: lexicographic boundary on (v, id) — exact n rows when
    // the full tuple is unique
    val multi = SDF(df).nlargestAll(2, Seq(col("v"), col("id"))).df
      .select("id").as[Long].collect().toSet
    assert(multi == Set(1L, 4L), s"got $multi")
    // pandas reference, pd.Series([...]).nlargest(2, keep='all') analog:
    // n >= rows keeps every non-null row
    assert(SDF(df).nlargestAll(99, Seq(col("v"))).df.count() == 9)
  }

  test("valueCountsBins: pandas value_counts(bins=) semantics on a hand-checked series") {
    import graft.sdf.SDF
    // pd.Series([1, 2, 10]).value_counts(bins=3):
    //   (0.991, 4.0] -> 2, (7.0, 10.0] -> 1, (4.0, 7.0] -> 0
    val out = SDF(Seq(1.0, 2.0, 10.0).toDF("v"))("v").valueCountsBins(3)
      .select("bin", "lo", "hi", "count")
      .as[(Long, Double, Double, Long)].collect().toSeq
    assert(out == Seq((0L, 1.0, 4.0, 2L), (2L, 7.0, 10.0, 1L), (1L, 4.0, 7.0, 0L)),
      s"got $out")
    // minimum lands in bin 0 (include_lowest), maximum in the last bin;
    // empty bins present; count-desc-then-bin ordering — all asserted above.
    // degenerate all-equal input: one occupied bin, lo = hi = the value
    val degen = SDF(Seq(5.0, 5.0).toDF("v"))("v").valueCountsBins(4)
      .select("bin", "lo", "hi", "count")
      .as[(Long, Double, Double, Long)].collect().toSeq
    assert(degen.head == ((0L, 5.0, 5.0, 2L)) && degen.map(_._4).sum == 2L, s"got $degen")
    // nulls dropped (pandas ignores dropna with bins)
    val withNull = Seq(Some(1.0), None, Some(3.0)).toDF("v")
    assert(SDF(withNull)("v").valueCountsBins(2)
      .agg(org.apache.spark.sql.functions.sum("count")).head().getLong(0) == 2L)
  }
}
