package graft

import java.lang.Double.{doubleToLongBits, doubleToRawLongBits}
import java.nio.file.Files
import java.util.regex.Pattern
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core.MLSchema
import graft.processor._

/** Every registered processor name runs as one step of a single pipeline;
  * the fitted pipeline saves its state through a `.json` and a `.pkl` path,
  * and a fresh pipeline loaded from each must transform bit for bit like the
  * fitted one. A processor registered without a step here fails the spec, so
  * a processor whose state cannot round-trip cannot land unnoticed.
  *
  * The inputs carry nulls, `""`, U+1F600, 0x1e, 0x1f and `,` in labels, text
  * and column names, and the numeric imputers fit NaN, +Inf, -Inf and -0.0.
  */
class StateRoundTripSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSession.spark
  import spark.implicits._

  private val Smile = "😀"
  private val labelCol = s"lab\u001e,\u001f$Smile"
  private val textCol = s"doc,$Smile\u001f"
  private val infCol = "x,inf\u001e"
  private val zeroCol = s"x$Smile\u001fzero"
  private val sparseCol = "sp,\u001e"

  private lazy val frame: DataFrame = {
    val labels = Seq(null, "", Smile, "a\u001eb", "c\u001fd", "e,f", "e,f")
    val texts = Seq(null, "", s"éé日本 x\u001eyy", s"yy,zz $Smile éé", "zz\u001fyy ab,ab",
      s"日本$Smile\u001eab", "ab yy")
    val infs = Seq[Option[Double]](None, Some(1.0), Some(Double.PositiveInfinity),
      Some(Double.NegativeInfinity), Some(-2.5), None, Some(0.5))
    val zeros = Seq[Option[Double]](Some(-0.0), None, Some(-1.0), Some(-0.0), None, Some(-3.0), Some(-1.0))
    labels.indices.map(i => (i.toLong, labels(i), texts(i), infs(i), zeros(i)))
      .toDF("id", labelCol, textCol, infCol, zeroCol)
      .withColumn(sparseCol, when(col("id") === 0L, lit(null)).otherwise(struct(
        lit(4).as("size"), array(col("id") % 4).cast("array<int>").as("indices"),
        array(col(infCol)).as("values"))))
  }

  private def step(transformer: String, input: Seq[String], params: Map[String, Any] = Map.empty) =
    (transformer, input, params)

  /** One step per registered name, aliases included. */
  private def steps(statePath: String): Seq[(String, Seq[String], Map[String, Any])] = Seq(
    step("CaseTransformation", Seq(labelCol), Map("case" -> "upper")),
    step("CaseTransformer", Seq(textCol)),
    step("HtmlTagRemoval", Seq(textCol)),
    step("PunctuationCleaner", Seq(textCol)),
    step("RegexSubstitution", Seq(textCol), Map("substitution_list" -> Seq(Seq("yy", ",\u001e")))),
    step("StringRemoval", Seq(textCol), Map("removal_list" -> Seq(Smile, ","))),
    step("TextConcatenation", Seq(labelCol, textCol)),
    step("TextConcatenation", Seq(textCol, labelCol), Map("column_order" -> "sort_by_shortest_first")),
    step("TFIDFVectorization", Seq(textCol)),
    step("TFIDF", Seq(textCol), Map("output_sparse" -> true, "min_df" -> 2)),
    step("LabelEncoding", Seq(labelCol)),
    step("LabelEncoder", Seq(labelCol), Map("encoding_range" -> "zero_to_n_minus_one")),
    step("LabelAffix", Seq(labelCol), Map("prefix" -> "\u001f", "suffix" -> ",")),
    step("CategoricalMissingValueImputation", Seq(labelCol)),
    step("NumericMissingValueImputation", Seq(infCol)),
    step("NumericMissingValueImputation", Seq(infCol), Map("strategy" -> "min")),
    step("NumericMissingValueImputation", Seq(infCol), Map("strategy" -> "max")),
    step("NumericMissingValueImputation", Seq(zeroCol), Map("strategy" -> "max")),
    step("VectorAssembler", Seq(infCol, zeroCol)),
    step("VectorDensifier", Seq(sparseCol)),
    step("DenseRankLabelEncoding", Seq(labelCol), Map("state_path" -> s"$statePath/dre")),
    step("ScalableLabelEncoding", Seq(labelCol),
      Map("state_path" -> s"$statePath/sle", "encoding_range" -> "zero_to_n_minus_one")),
    step("HashedTextVectorization", Seq(textCol), Map("dim" -> 16)),
    step("HashingVectorizer", Seq(textCol), Map("dim" -> 8, "norm" -> "none")))

  /** Doubles compare by raw bits (NaN payloads and -0.0 included). */
  private def bits(v: Any): Any = v match {
    case d: Double => ("double", doubleToRawLongBits(d))
    case r: Row => r.toSeq.map(bits)
    case xs: collection.Seq[_] => xs.map(bits)
    case m: collection.Map[_, _] => m.map { case (k, x) => bits(k) -> bits(x) }
    case other => other
  }

  private def rows(df: DataFrame, outputs: Seq[String]): Seq[Any] =
    df.orderBy("id").select(outputs.map(col): _*).collect().toSeq.map(bits)

  test("every registered processor's fitted state round-trips through JSON and pickle") {
    val dir = Files.createTempDirectory("graft-state")
    val cfgSteps = steps(dir.toString)
    assert(cfgSteps.map(_._1.toLowerCase).toSet == ProcessorRegistry.known.toSet,
      "every registered name needs a step here")
    val config = PipelineConfig(cfgSteps.zipWithIndex.map { case ((t, ins, params), i) =>
      StepConfig(ins.map(Pattern.quote), t, params, s"out$i")
    }, Nil)
    val schema = MLSchema(Map.empty)
    val fitted = new DataPipeline(config).fit(frame, schema)
    val outputs = fitted.steps.flatMap(_.bindings.map(_._3))
    assert(outputs.size == cfgSteps.size)
    val want = rows(fitted.transform(frame, schema), outputs)

    val procs = fitted.steps.flatMap(_.bindings.map(_._2))
    assert(procs.filter(_.state.nonEmpty).map(_.name).toSet == Set("TextConcatenation",
      "TFIDFVectorization", "LabelEncoding", "CategoricalMissingValueImputation",
      "NumericMissingValueImputation", "DenseRankLabelEncoding"))
    // any NaN counts here (Spark's avg yields a negative one); the transform
    // outputs below compare raw bits
    val imputed = procs.collect { case p: Processors.NumericMissingValueImputation =>
      doubleToLongBits(p.state("imputed").asInstanceOf[Double]) }
    assert(imputed.toSet == Set(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity, -0.0)
      .map(doubleToLongBits), "the imputers must fit NaN, +Inf, -Inf and -0.0")
    // the distributed code tables are written once, not on every state call
    def parts(table: String): Set[String] = {
      val files = Files.list(dir.resolve(table))
      try files.iterator().asScala.map(_.getFileName.toString).filter(_.startsWith("part-")).toSet
      finally files.close()
    }
    val written = Seq("dre", "sle").map(parts)
    assert(written.forall(_.nonEmpty))
    procs.foreach(_.state)
    assert(Seq("dre", "sle").map(parts) == written, "a second state call rewrote a code table")

    for (ext <- Seq(".json", ".pkl")) {
      val path = dir.resolve("state" + ext).toString
      fitted.saveState(path)
      if (ext == ".json")
        assert(Files.readString(java.nio.file.Paths.get(path)).contains("\"NaN\""),
          "Jackson writes NaN as a string; the restore must read it back as a double")
      val loaded = new DataPipeline(config).loadState(path)
      assert(loaded.steps.map(_.bindings.map(b => (b._1, b._3))) ==
        fitted.steps.map(_.bindings.map(b => (b._1, b._3))), ext)
      // saving the loaded pipeline again must keep the code tables it reads
      loaded.saveState(path)
      val reloaded = new DataPipeline(config).loadState(path)
      for ((pipe, what) <- Seq(loaded -> "loadState", reloaded -> "a second save and load")) {
        val got = rows(pipe.transform(frame, schema), outputs)
        outputs.indices.foreach { i =>
          assert(got.map(_.asInstanceOf[Seq[Any]](i)) == want.map(_.asInstanceOf[Seq[Any]](i)),
            s"$ext: step $i (${cfgSteps(i)._1}) transforms differently after $what")
        }
      }
    }
  }
}
