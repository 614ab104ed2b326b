package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core.{MLSchema, MLType}
import graft.processor.{DataPipeline, PipelineConfig, ProcessorRegistry, SingleColumnProcessor, StepConfig}

/** Randomized orchestration differential: a generated sequence of text
  * processor steps is serialized to YAML, parsed back, fitted and applied
  * through the DataPipeline — and the result must equal applying the same
  * transforms directly, in order, on the driver. This pins the pipeline
  * WIRING (config parsing, column-pattern matching, output templating,
  * step ordering) against the processors it orchestrates, on a fresh
  * random pipeline every run.
  */
class PipelinePropertySpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSession.spark
  import spark.implicits._

  import PropertyTestKit.sampled

  private val pythonPunct = """!\"#$%&'()*+,-./:;<=>?@[\\]^_`{|}~"""

  // driver mirror of each step, applied to a plain Scala string
  private def mirror(step: StepConfig): String => String = step.transformer match {
    case "CaseTransformation" =>
      if (step.params.get("case").map(_.toString).getOrElse("lower") == "upper") _.toUpperCase
      else _.toLowerCase
    case "HtmlTagRemoval" => _.replaceAll("<.*?>", "")
    case "PunctuationCleaner" =>
      val r = step.params.get("replacement_char").map(_.toString).getOrElse(" ").head
      s => s.map(c => if (pythonPunct.contains(c)) r else c)
    case "StringRemoval" =>
      val rem = step.params("removal_list").asInstanceOf[Seq[String]]
      s => rem.foldLeft(s)((acc, x) => acc.replace(x, ""))
    case other => throw new IllegalArgumentException(other)
  }

  test("yaml-configured pipeline equals direct in-order application") {
    import org.scalacheck.Gen
    val stepGen: Gen[StepConfig] = Gen.oneOf(
      Gen.oneOf("lower", "upper").map(m =>
        StepConfig(Seq("txt"), "CaseTransformation", Map("case" -> m), "{col_name}")),
      Gen.const(StepConfig(Seq("txt"), "HtmlTagRemoval", Map.empty, "{col_name}")),
      Gen.oneOf(" ", "_").map(r =>
        StepConfig(Seq("txt"), "PunctuationCleaner", Map("replacement_char" -> r), "{col_name}")),
      Gen.someOf(Seq("foo", "bar", "the")).suchThat(_.nonEmpty).map(rs =>
        StepConfig(Seq("txt"), "StringRemoval", Map("removal_list" -> rs.toSeq), "{col_name}")))
    val docs = Seq(
      "The <b>Quick</b> foo, bar; the end!",
      "plain text",
      "punct!!! <i>heavy</i>: (stuff)... the foo",
      "MiXeD CaSe <div>bar</div> the_foo-bar",
      "").zipWithIndex.map { case (t, i) => (i.toLong, t) }
    for (trial <- 1 to 3) {
      val steps = Seq.fill(sampled(Gen.chooseNum(1, 5)))(sampled(stepGen))
      val yaml = PipelineConfig.toYaml(PipelineConfig(steps, Nil))
      val parsed = PipelineConfig.fromYaml(yaml)
      // stringly params survive the YAML trip; re-typed list params do too
      val pipe = new DataPipeline(parsed)
      val schema = MLSchema(Map("txt" -> MLType.Text))
      val df = docs.toDF("id", "txt")
      pipe.fit(df, schema)
      val got = pipe.transform(df, schema)
        .select(col("id"), col("txt")).collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      val mirrors = parsed.steps.map(mirror)
      docs.foreach { case (id, t) =>
        val want = mirrors.foldLeft(t)((acc, f) => f(acc))
        assert(got(id) == want, s"trial $trial doc $id: '${got(id)}' vs '$want'")
      }
    }

    // aggregate-fitting steps: the fused fit leaves every processor in the
    // state of its standalone fit over the frame its step reads. The label
    // encoding of `lab` reads the imputer's output, so it must see the fill.
    val numSteps = Seq("mean", "median", "mode", "min", "max").map(s => StepConfig(
      Seq("num"), "NumericMissingValueImputation", Map("strategy" -> s), s"{col_name}_$s"))
    val fitSteps = Seq(
      StepConfig(Seq("cat"), "CategoricalMissingValueImputation", Map.empty, "{col_name}_mode")) ++
      numSteps ++ Seq(
      StepConfig(Seq("cat", "num"), "LabelEncoding", Map.empty, "{col_name}_code"),
      StepConfig(Seq("txt"), "CaseTransformation", Map.empty, "{col_name}"),
      StepConfig(Seq("lab"), "CategoricalMissingValueImputation",
        Map("strategy" -> "constant", "fill_value" -> "zz_missing"), "{col_name}"),
      StepConfig(Seq("lab"), "LabelEncoding", Map.empty, "{col_name}_code"))
    val cfg = PipelineConfig.fromYaml(PipelineConfig.toYaml(PipelineConfig(fitSteps, Nil)))
    val frame = Seq[(Option[String], Option[Double], Option[String], String)](
      (Some("b"), Some(1.5), Some("x"), "A"), (None, None, None, "b"),
      (Some(""), Some(Double.NaN), Some("y"), ""), (Some("\uD83D\uDE00"), Some(-0.0), Some("x"), "c"),
      (Some("b"), Some(0.0), None, "D"), (Some(""), Some(2.0), Some("\uD83D\uDE00"), "e"),
      (Some("\uD83D\uDE00"), Some(Double.NaN), Some(""), "f"), (None, Some(-3.25), Some("y"), "g"),
      (Some("\uD83D\uDE00"), None, None, "h"), (Some("a"), Some(-0.0), Some("x"), "i"))
      .toDF("cat", "num", "lab", "txt")
    val fitSchema = MLSchema(Map("cat" -> MLType.Categorical, "num" -> MLType.Float,
      "lab" -> MLType.Categorical, "txt" -> MLType.Text))
    val fused = new DataPipeline(cfg).fit(frame, fitSchema)
    val read = fused.transform(frame, fitSchema) // outputs are new columns, but for lab
    fused.steps.zip(cfg.steps).foreach { case (step, sc) =>
      step.bindings.foreach { case (ins, proc, _) =>
        val alone = ProcessorRegistry.create(sc.transformer, sc.params)
          .asInstanceOf[SingleColumnProcessor].fit(read, ins.head)
        // as text: a NaN state value is unequal to itself under ==
        assert(proc.state.toString == alone.state.toString, s"${sc.transformer} ${sc.params} on $ins")
      }
    }
    assert(fused.steps.last.bindings.head._2.state("labels").asInstanceOf[Seq[String]]
      .contains("zz_missing"),
      "label encoding fitted before the imputer that feeds it")
  }

  test("random deep param trees round-trip the config writer exactly") {
    import org.scalacheck.Gen
    // shapes with EXACT round-trip identity: scalars, Seqs, Maps, nested
    val scalarGen: Gen[Any] = Gen.oneOf(
      Gen.alphaNumStr.map(s => "s" + s.take(8)), // non-numeric-looking strings
      Gen.chooseNum(-100000, 100000),
      Gen.chooseNum(-1e3, 1e3).map(d => math.rint(d * 100) / 100),
      Gen.oneOf(true, false))
    def treeGen(depth: Int): Gen[Any] =
      if (depth == 0) scalarGen
      else Gen.frequency(
        3 -> scalarGen,
        2 -> Gen.chooseNum(0, 3).flatMap(n =>
          Gen.listOfN(n, treeGen(depth - 1)).map(_.toList)),
        2 -> Gen.chooseNum(0, 3).flatMap(n =>
          Gen.listOfN(n, Gen.zip(Gen.identifier.map("k" + _.take(6)), treeGen(depth - 1)))
            .map(_.toMap)))
    for (trial <- 1 to 20) {
      val params = Map(
        "p1" -> sampled(treeGen(3)),
        "p2" -> sampled(treeGen(2)))
      val cfg = PipelineConfig(
        Seq(StepConfig(Seq("txt"), "HtmlTagRemoval", params, "{col_name}")), Nil)
      assert(PipelineConfig.fromYaml(PipelineConfig.toYaml(cfg)) == cfg,
        s"trial $trial YAML round-trip diverged for $params")
      assert(PipelineConfig.fromYaml(PipelineConfig.toJson(cfg)) == cfg,
        s"trial $trial JSON round-trip diverged for $params")
    }
  }

  test("non-Seq Scala containers and tuples normalize to the Seq shape in one trip") {
    // Set / Vector / Array / Tuple2 params all serialize as YAML lists
    // (toJavaDeep's Iterable/Array/pair conversion — the r10 advice
    // hardening); they parse back as Lists, and a second trip is identity
    def normalize(a: Any): Any = a match {
      case (x, y) => List(normalize(x), normalize(y))
      case m: Map[_, _] => m.map { case (k, v) => k.toString -> normalize(v) }
      case i: Iterable[_] => i.toList.map(normalize)
      case arr: Array[_] => arr.toList.map(normalize)
      case other => other
    }
    val params: Map[String, Any] = Map(
      "set" -> Set("a", "b", "c"),
      "vec" -> Vector(1, 2, 3),
      "arr" -> Array("x", "y"),
      "pair" -> (("lhs", "rhs")),
      "nested" -> Map("inner" -> Vector(("p", "q"), ("r", null))))
    val cfg = PipelineConfig(
      Seq(StepConfig(Seq("txt"), "HtmlTagRemoval", params, "{col_name}")), Nil)
    val once = PipelineConfig.fromYaml(PipelineConfig.toYaml(cfg))
    val want = params.map { case (k, v) => k -> normalize(v) }
    assert(once.steps.head.params == want,
      s"one-trip normalization diverged:\n${once.steps.head.params}\nvs\n$want")
    assert(PipelineConfig.fromYaml(PipelineConfig.toYaml(once)) == once, "fixpoint")

    // an unserializable param type fails LOUD at write time, however deep
    val bad = PipelineConfig(Seq(StepConfig(Seq("txt"), "HtmlTagRemoval",
      Map("deep" -> Map("inner" -> Seq(1, new Object))), "{col_name}")), Nil)
    val ex = intercept[IllegalArgumentException](PipelineConfig.toYaml(bad))
    assert(ex.getMessage.contains("unserializable"))
  }

  test("MLType pattern matching and {col_name} templating route steps correctly") {
    // input pattern "text" (an MLType name) must match the TEXT column
    // only; the templated output writes a NEW column per input
    val cfg = PipelineConfig(Seq(
      StepConfig(Seq("text"), "CaseTransformation", Map("case" -> "upper"), "{col_name}_up")), Nil)
    val df = Seq((1L, "abc", "keep")).toDF("id", "t1", "cat")
    val schema = MLSchema(Map("t1" -> MLType.Text, "cat" -> MLType.Categorical))
    val pipe = new DataPipeline(cfg).fit(df, schema)
    val out = pipe.transform(df, schema)
    assert(out.columns.toSet == Set("id", "t1", "cat", "t1_up"))
    val row = out.head()
    assert(row.getAs[String]("t1_up") == "ABC")
    assert(row.getAs[String]("t1") == "abc", "templated output must not clobber the input")
    assert(row.getAs[String]("cat") == "keep", "categorical column must not match 'text'")
  }
}
