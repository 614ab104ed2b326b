package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core.{MLSchema, MLType}
import graft.processor.{DataPipeline, PipelineConfig, StepConfig}
import graft.processor.Processors.{LabelEncoding, NumericMissingValueImputation}

/** Randomized driver-reference differentials for the fit/transform
  * processors: label encoding across all four ranges with unknown values
  * and the inverse round-trip, and numeric imputation against driver
  * aggregates of the same generated columns and against a pipeline's fused
  * fit.
  */
class ProcessorPropertySpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSession.spark
  import spark.implicits._

  import PropertyTestKit.sampled

  test("LabelEncoding: every range matches the sorted-label rule; unknowns and inverse round-trip") {
    import org.scalacheck.Gen
    val labels = Vector("apple", "banana", "cherry", "date", "elder")
    val data = Seq.fill(120)(sampled(Gen.frequency(
      9 -> Gen.oneOf(labels), 1 -> Gen.const(null.asInstanceOf[String]))))
    val df = data.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("i", "v")
    val present = data.filter(_ != null).distinct.sorted
    for (range <- Seq("one_to_n", "zero_to_n_minus_one")) {
      val p = new LabelEncoding(Map("encoding_range" -> range))
      p.fit(df, "v")
      val offset = if (range == "one_to_n") 1L else 0L
      val wantMap = present.zipWithIndex.map { case (l, i) => l -> (i + offset) }.toMap
      val got = df.select(col("i"), p.transform(col("v")).as("e"))
        .collect().map(r => r.getLong(0) ->
          (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
      data.zipWithIndex.foreach { case (v, i) =>
        val want = Option(v).map(wantMap)
        assert(got(i.toLong) == want, s"$range at $i: ${got(i.toLong)} vs $want")
      }
      // unknown value at transform time maps to the range's unknown code
      val unk = spark.sql("SELECT 'zzz' AS v").select(p.transform(col("v")))
        .head().getLong(0)
      assert(unk == LabelEncoding.UnknownByRange(range), s"$range unknown code")
      // inverse round-trips every known code back to its label
      val inv = df.na.drop().select(col("v"),
          p.inverseTransform(p.transform(col("v"))).as("b"))
        .collect()
      inv.foreach(r => assert(r.getString(0) == r.getString(1), "inverse round-trip"))
    }
    // binary ranges on a 2-label space
    val two = Seq("yes", "no").flatMap(l => Seq.fill(5)(l))
      .zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("i", "v")
    val pm = new LabelEncoding(Map("encoding_range" -> "binary_plus_minus_one"))
    pm.fit(two, "v")
    val codes = two.select(col("v"), pm.transform(col("v")).as("e"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(codes == Map("no" -> -1L, "yes" -> 1L), s"plus/minus codes: $codes")
    // >2 labels must be rejected for binary ranges
    intercept[IllegalArgumentException] {
      new LabelEncoding(Map("encoding_range" -> "binary_zero_one")).fit(df, "v")
    }
    // longs above 2^53 tie under a cast to double: in every input order
    // they must still code in their own order
    val big = Seq(1L << 53, (1L << 53) + 1)
    for (order <- big.permutations; reps <- Seq(1, 3)) {
      val ldf = order.flatMap(Seq.fill(reps)(_)).toDF("v")
      val p = new LabelEncoding(Map("encoding_range" -> "one_to_n"))
      p.fit(ldf, "v")
      val codes = big.toDF("v").select(col("v"), p.transform(col("v")))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(codes == Map(big(0) -> 1L, big(1) -> 2L), s"input order $order x$reps: $codes")
    }
  }

  test("NumericMissingValueImputation: every strategy matches the driver aggregate") {
    import org.scalacheck.Gen
    val data: Seq[Option[Double]] = Seq.fill(90)(sampled(Gen.frequency(
      4 -> Gen.chooseNum(-30.0, 30.0).map(v => Some(math.rint(v * 4) / 4)),
      1 -> Gen.const(None))))
    val df = data.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("i", "v")
    val present = data.flatten
    val wantBy: Map[String, Double] = Map(
      "mean" -> present.sum / present.size,
      "min" -> present.min,
      "max" -> present.max,
      // spark median = exact percentile(0.5): type-7 interpolation
      "median" -> {
        val s = present.sorted.toIndexedSeq
        val h = (s.length - 1) * 0.5
        s(h.floor.toInt) + (h - h.floor) * (s(h.ceil.toInt) - s(h.floor.toInt))
      })
    for ((strategy, want) <- wantBy) {
      val p = new NumericMissingValueImputation(Map("strategy" -> strategy))
      p.fit(df, "v")
      val out = df.select(p.transform(col("v")).as("o"))
        .collect().map(_.getDouble(0))
      data.zip(out).foreach { case (orig, o) =>
        val expect = orig.getOrElse(want)
        assert(math.abs(o - expect) < 1e-9, s"$strategy: $o vs $expect")
      }
    }
    // constant strategy uses the provided fill verbatim
    val pc = new NumericMissingValueImputation(
      Map("strategy" -> "constant", "fill_value" -> "7.5"))
    val out = df.select(pc.transform(col("v")).as("o")).collect().map(_.getDouble(0))
    data.zip(out).foreach { case (orig, o) =>
      assert(o == orig.getOrElse(7.5), "constant fill")
    }
    // one pipeline fits every strategy with one aggregate; each step holds
    // its standalone fit's state
    val strategies = Seq("mean", "median", "mode", "min", "max")
    val pipe = new DataPipeline(PipelineConfig(strategies.map(s => StepConfig(
      Seq("v"), "NumericMissingValueImputation", Map("strategy" -> s), s"{col_name}_$s")), Nil))
      .fit(df, MLSchema(Map("v" -> MLType.Float)))
    pipe.steps.zip(strategies).foreach { case (step, s) =>
      val alone = new NumericMissingValueImputation(Map("strategy" -> s)).fit(df, "v")
      assert(step.bindings.head._2.state == alone.state, s"fused $s fit")
    }
  }

  test("DenseRankLabelEncoding == LabelEncoding on random label sets (string + numeric)") {
    import org.scalacheck.Gen
    import graft.processor.ScalableEncoders.DenseRankLabelEncoding
    // string labels with nulls + a fit/transform split so unknowns exercise;
    // numeric labels so the np.unique numeric sort path differs from lexicographic
    val strLabels = Vector("kiwi", "apple", "Fig", "banana", "date", "elder", "grape")
    val strData = Seq.fill(150)(sampled(Gen.frequency(
      9 -> Gen.oneOf(strLabels), 1 -> Gen.const(null.asInstanceOf[String]))))
    val numData = Seq.fill(150)(sampled(Gen.chooseNum(-50, 2000))).map(_.toLong)
    // doubles: NaN is no label and -0.0 is the label 0.0 in both fits
    val dblData = Seq(-0.0, 0.0, Double.NaN) ++
      Seq.fill(60)(sampled(Gen.oneOf(-0.0, 0.0, Double.NaN, 1.5, 2.0, -3.25)))
    for (range <- Seq("one_to_n", "zero_to_n_minus_one")) {
      // string column, fit on a subset so some labels are unknown at transform
      val sdf = strData.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("i", "v")
      val fitDf = sdf.filter(col("i") % 3 =!= 0)
      val le = new LabelEncoding(Map("encoding_range" -> range)); le.fit(fitDf, "v")
      val dre = new DenseRankLabelEncoding(Map("encoding_range" -> range)); dre.fit(fitDf, "v")
      val want = sdf.select(col("i"), le.transform(col("v")).as("c")).collect()
        .map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getLong(1))).toMap
      val got = dre.transformFrame(sdf, "v", "c").select(col("i"), col("c")).collect()
        .map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getLong(1))).toMap
      assert(got == want, s"string $range")
      // numeric column (numeric sort order, not lexicographic)
      val ndf = numData.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("i", "v")
      val len = new LabelEncoding(Map("encoding_range" -> range)); len.fit(ndf, "v")
      val dren = new DenseRankLabelEncoding(Map("encoding_range" -> range)); dren.fit(ndf, "v")
      val wantN = ndf.select(col("i"), len.transform(col("v")).as("c")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val gotN = dren.transformFrame(ndf, "v", "c").select(col("i"), col("c")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(gotN == wantN, s"numeric $range")
      val ddf = dblData.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("i", "v")
      val led = new LabelEncoding(Map("encoding_range" -> range)); led.fit(ddf, "v")
      val dred = new DenseRankLabelEncoding(Map("encoding_range" -> range)); dred.fit(ddf, "v")
      val wantD = ddf.select(col("i"), led.transform(col("v")).as("c")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val gotD = dred.transformFrame(ddf, "v", "c").select(col("i"), col("c")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(gotD == wantD, s"double $range")
    }
  }
}
