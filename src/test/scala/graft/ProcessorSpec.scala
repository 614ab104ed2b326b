package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core.{MLSchema, MLType}
import graft.processor._
import graft.processor.Processors._

/** Unit tests per SURVEY.md §5.2: each processor's fit+transform on tiny
  * in-memory frames, including the null-handling and binary-label micro
  * fixtures from FIXTURES.md.
  */
class ProcessorSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSession.spark
  import spark.implicits._

  private def col1(df: DataFrame, c: String): Seq[Any] =
    df.select(c).collect().map(_.get(0)).toSeq

  test("CaseTransformation preserves nulls") {
    val df = Seq(Some("AbC"), None, Some("xY")).toDF("t")
    val p = new CaseTransformation(Map("case" -> "lower"))
    assert(col1(df.withColumn("o", p.transform($"t")), "o") == Seq("abc", null, "xy"))
  }

  test("HtmlTagRemoval strips crocodile brackets, keeps content") {
    val df = Seq("<p>hi</p> there <a href='x'>link</a>").toDF("t")
    val p = new HtmlTagRemoval(Map.empty)
    assert(col1(df.withColumn("o", p.transform($"t")), "o") == Seq("hi there link"))
  }

  test("PunctuationCleaner replaces every python-punctuation char") {
    val df = Seq("a,b.c!d?e[f]g").toDF("t")
    val p = new PunctuationCleaner(Map.empty)
    assert(col1(df.withColumn("o", p.transform($"t")), "o") == Seq("a b c d e f g"))
  }

  test("RegexSubstitution applies ordered substitutions with flags") {
    val df = Seq("Batch BATCH batch").toDF("t")
    val p = new RegexSubstitution(Map(
      "substitution_list" -> Seq(Seq("ba+tch", "x")), "ignorecase" -> true))
    assert(col1(df.withColumn("o", p.transform($"t")), "o") == Seq("x x x"))
  }

  test("StringRemoval removes literals, not regex") {
    val df = Seq("a.c a.c abc").toDF("t")
    val p = new StringRemoval(Map("removal_list" -> Seq("a.c ")))
    assert(col1(df.withColumn("o", p.transform($"t")), "o") == Seq("abc"))
  }

  test("TextConcatenation shortest-first ordering + null -> empty with separators") {
    val df = Seq(
      ("aaaa", Some("bb"), "c"),
      ("dddd", None, "e")).toDF("long_col", "mid_col", "tiny")
    val p = new TextConcatenation(Map("sep" -> "|", "column_order" -> "sort_by_shortest_first"))
    p.fit(df, Seq("long_col", "mid_col", "tiny"))
    val out = col1(df.withColumn("o", p.transform(df, Seq("long_col", "mid_col", "tiny"))), "o")
    // avg lens: tiny=1, mid=2, long=4
    assert(out == Seq("c|bb|aaaa", "e||dddd"))
  }

  test("LabelEncoding ranges, unknown fill, inverse, numeric sort") {
    val df = Seq("b", "a", "c", "a").toDF("l")
    val enc = new LabelEncoding(Map("encoding_range" -> "one_to_n")).fit(df, "l")
    val out = df.withColumn("e", enc.transform($"l")).withColumn("back", enc.inverseTransform($"e"))
    assert(col1(out, "e") == Seq(2L, 1L, 3L, 1L))
    assert(col1(out, "back") == Seq("b", "a", "c", "a"))
    // unknown label -> 0 for one_to_n
    val unk = Seq("zz").toDF("l").withColumn("e", enc.transform($"l"))
    assert(col1(unk, "e") == Seq(0L))
    // null stays null (na_action="ignore")
    val nul = Seq[Option[String]](None).toDF("l").withColumn("e", enc.transform($"l"))
    assert(col1(nul, "e") == Seq(null))
    // numeric labels sort numerically like np.unique: 2 < 10
    val ndf = Seq(10, 2, 10).toDF("l")
    val nenc = new LabelEncoding(Map("encoding_range" -> "zero_to_n_minus_one")).fit(ndf, "l")
    assert(col1(ndf.withColumn("e", nenc.transform($"l")), "e") == Seq(1L, 0L, 1L))
  }

  test("LabelEncoding binary auto-detect from labelspace") {
    val e1 = LabelEncoding.fromLabelspace(Seq("N", "Y"))
    val df = Seq("Y", "N").toDF("l")
    assert(col1(df.withColumn("e", e1.transform($"l")), "e") == Seq(1L, 0L))
    val e2 = LabelEncoding.fromLabelspace(Seq("TRUE", "FALSE"))
    val df2 = Seq("TRUE", "FALSE").toDF("l")
    assert(col1(df2.withColumn("e", e2.transform($"l")), "e") == Seq(1L, 0L))
    // binary_plus_minus_one maps first sorted label to -1
    val pm = new LabelEncoding(Map("encoding_range" -> "binary_plus_minus_one"))
      .fit(Seq("p", "n").toDF("l"), "l")
    assert(col1(Seq("n", "p").toDF("l").withColumn("e", pm.transform($"l")), "e") == Seq(-1L, 1L))
  }

  test("imputation strategies incl. constant validation") {
    val df = Seq(Some(1.0), None, Some(3.0), Some(3.0)).toDF("v")
    def run(p: SingleColumnProcessor) = col1(df.withColumn("o", p.transform($"v")), "o")
    assert(run(new NumericMissingValueImputation(Map("strategy" -> "mean")).fit(df, "v"))
      == Seq(1.0, 7.0 / 3, 3.0, 3.0))
    assert(run(new NumericMissingValueImputation(Map("strategy" -> "mode")).fit(df, "v"))
      == Seq(1.0, 3.0, 3.0, 3.0))
    assert(run(new NumericMissingValueImputation(Map("strategy" -> "constant", "fill_value" -> "9")))
      == Seq(1.0, 9.0, 3.0, 3.0))
    intercept[IllegalArgumentException] {
      new NumericMissingValueImputation(Map("strategy" -> "constant"))
    }
    intercept[IllegalArgumentException] {
      new NumericMissingValueImputation(Map("strategy" -> "mean", "fill_value" -> "9"))
    }
    val cdf = Seq(Some("a"), None, Some("a"), Some("b")).toDF("c")
    val cat = new CategoricalMissingValueImputation(Map("strategy" -> "mode")).fit(cdf, "c")
    assert(col1(cdf.withColumn("o", cat.transform($"c")), "o") == Seq("a", "a", "a", "b"))
  }

  test("VectorAssembler flattens scalars + arrays in sorted column order") {
    val df = Seq((1.0, Seq(2.0, 3.0), 4L)).toDF("a_scalar", "b_vec", "c_int")
    val va = new VectorAssembler(Map.empty)
    val out = df.withColumn("v", va.transform(df, Seq("c_int", "a_scalar", "b_vec")))
    assert(out.select("v").head().getSeq[Double](0) == Seq(1.0, 2.0, 3.0, 4.0))
  }

  test("VectorDensifier expands sparse struct; zero elsewhere") {
    val df = Seq(1).toDF("x").withColumn("sp", struct(
      lit(5).as("size"), array(lit(1), lit(3)).as("indices"),
      array(lit(7.0), lit(9.0)).as("values")))
    val vd = new VectorDensifier(Map.empty)
    val out = df.withColumn("d", vd.transform($"sp"))
    assert(out.select("d").head().getSeq[Double](0) == Seq(0.0, 7.0, 0.0, 9.0, 0.0))
  }

  test("TfIdf state round-trip restores vocabulary") {
    val df = Seq("aa bb aa", "bb cc", "aa dd").toDF("t")
    val p = new TfIdfVectorization(Map("output_sparse" -> true))
    p.fit(df, "t")
    val p2 = new TfIdfVectorization(Map("output_sparse" -> true))
    p2.restore(p.state)
    val v1 = p.transformFrame(df, "t", "v").select("v").collect().toSeq
    val v2 = p2.transformFrame(df, "t", "v").select("v").collect().toSeq
    assert(v1 == v2)
  }

  test("TfIdf EMPTY vocabulary state round-trips (minDf above doc count)") {
    val df = Seq("aa bb", "cc dd").toDF("t")
    val p = new TfIdfVectorization(Map("output_sparse" -> true, "min_df" -> "5"))
    p.fit(df, "t")
    assert(p.fittedVocabulary.isEmpty)
    val p2 = new TfIdfVectorization(Map("output_sparse" -> true))
    p2.restore(p.state)
    assert(p2.fittedVocabulary.isEmpty)
    val out = p2.transformFrame(df, "t", "v").select("v.size").head()
    assert(out.getInt(0) == 0)
  }

  test("LabelEncoding state round-trips labels holding 0x1e, 0x1f and ','") {
    // labels are arbitrary data values, exported as a list: no character
    // is reserved
    val labels = Seq("ok", "bad\u001flabel", "rec\u001esep", "a,b")
    val enc = new LabelEncoding(Map("encoding_range" -> "one_to_n"))
    enc.fit(labels.toDF("l"), "l")
    val restored = new LabelEncoding(Map("encoding_range" -> "one_to_n"))
    restored.restore(enc.state)
    val probe = (labels :+ "z").toDF("l")
    assert(col1(probe.withColumn("o", restored.transform($"l")), "o") ==
      col1(probe.withColumn("o", enc.transform($"l")), "o"))
    assert(col1(probe.withColumn("o", restored.transform($"l")), "o") == Seq(3L, 2L, 4L, 1L, 0L))
  }

  test("pipeline config parsing, MLType pattern matching, save/load state") {
    val yaml =
      """pipeline:
        |  - input: [categorical]
        |    transformer: LabelEncoding
        |    output: "{col_name}_enc"
        |  - input: ["t.*t"]
        |    transformer: CaseTransformation
        |    params: {case: upper}
        |    output: "up"
        |""".stripMargin
    val cfg = PipelineConfig.fromYaml(yaml)
    assert(cfg.steps.map(_.transformer) == Seq("LabelEncoding", "CaseTransformation"))
    val schema = MLSchema(Map("txt" -> MLType.Text, "cat" -> MLType.Categorical))
    val df = Seq(("x", "a"), ("y", "b")).toDF("txt", "cat")
    val pipe = new DataPipeline(cfg)
    val out = pipe.fitTransform(df, schema)
    assert(out.columns.toSet == Set("txt", "cat", "cat_enc", "up"))
    assert(col1(out, "cat_enc") == Seq(1L, 2L))
    assert(col1(out, "up") == Seq("X", "Y"))
    // perf records: one StepPerf per executed step
    assert(pipe.lastFitPerf.map(_.transformer) == Seq("LabelEncoding", "CaseTransformation"))
    assert(pipe.lastFitPerf.forall(_.fitSec >= 0))

    // fused fit: the imputers fit in one aggregate; the label encoding reads
    // their outputs, so it starts a second one that the stateless steps join
    val feedCfg = PipelineConfig.fromYaml(
      """pipeline:
        |  - input: [categorical]
        |    transformer: CategoricalMissingValueImputation
        |  - input: [float]
        |    transformer: NumericMissingValueImputation
        |  - input: [categorical]
        |    transformer: LabelEncoding
        |    output: "{col_name}_code"
        |  - input: [text]
        |    transformer: CaseTransformation
        |  - input: [text]
        |    transformer: HashedTextVectorization
        |    params: {dim: 8}
        |    output: "{col_name}_vec"
        |""".stripMargin)
    val feedDf = Seq[(Long, String, Option[String], Option[String], Option[Double], Option[Double])](
      (1L, "Some Text", Some("a"), None, Some(1.0), None),
      (2L, "more TEXT", None, Some("q"), None, Some(2.5)),
      (3L, "text", Some("b"), Some("q"), Some(3.0), Some(0.5)))
      .toDF("id", "text", "cat_a", "cat_b", "num_x", "num_y")
    val feedSchema = MLSchema(Map("id" -> MLType.Index, "text" -> MLType.Text,
      "cat_a" -> MLType.Categorical, "cat_b" -> MLType.Categorical,
      "num_x" -> MLType.Float, "num_y" -> MLType.Float))
    val feedFit = new graft.core.JobCounter
    val feedPipe = feedFit.observe(spark.sparkContext)(new DataPipeline(feedCfg).fit(feedDf, feedSchema))
    assert(feedFit.sqlExecutions == 2)
    // one StepPerf per step; a fused run's wall sits on its first step
    assert(feedPipe.lastFitPerf.map(_.transformer) == feedCfg.steps.map(_.transformer))
    val secs = feedPipe.lastFitPerf.map(_.fitSec)
    assert(secs(0) > 0 && secs(1) == 0.0 && secs(2) > 0 && secs(3) == 0.0, secs)
    assert(col1(feedPipe.transform(feedDf, feedSchema), "cat_a_code") == Seq(1L, 1L, 2L))

    val tmp = java.nio.file.Files.createTempFile("pipe", ".json").toString
    pipe.saveState(tmp)
    val pipe2 = new DataPipeline(cfg).loadState(tmp)
    val out2 = pipe2.transform(df, schema)
    assert(out2.select("cat_enc", "up").collect().toSeq == out.select("cat_enc", "up").collect().toSeq)
  }

  test("pipeline fitted state round-trips through a pickle blob") {
    // reference parity: `_DataPipeline.py:1040-1064` pickles the pipeline;
    // the JVM analog pickles the explicit fitted state as a container blob
    // a Python tool can `pickle.load` directly
    val yaml =
      """pipeline:
        |  - input: [categorical]
        |    transformer: LabelEncoding
        |    output: "{col_name}_enc"
        |  - input: ["t.*t"]
        |    transformer: CaseTransformation
        |    params: {case: upper}
        |    output: "up"
        |""".stripMargin
    val cfg = PipelineConfig.fromYaml(yaml)
    val schema = MLSchema(Map("txt" -> MLType.Text, "cat" -> MLType.Categorical))
    val df = Seq(("x", "a"), ("y", "b")).toDF("txt", "cat")
    val pipe = new DataPipeline(cfg)
    val out = pipe.fitTransform(df, schema)
    val tmp = java.nio.file.Files.createTempFile("pipe", ".pkl").toString
    pipe.saveState(tmp)
    // the blob IS the documented structure (list of step dicts, inputs as a
    // real list)
    val blob = graft.io.Pickle.load(tmp).asInstanceOf[Seq[Any]]
      .map(_.asInstanceOf[collection.Map[Any, Any]])
    assert(blob.map(_("transformer")) == Seq("LabelEncoding", "CaseTransformation"))
    val binds = blob.head("bindings").asInstanceOf[Seq[Any]]
      .map(_.asInstanceOf[collection.Map[Any, Any]])
    assert(binds.head("inputs").isInstanceOf[Seq[_]])
    assert(binds.head("state") == Map("labels" -> Seq("a", "b"), "codes" -> Seq(1L, 2L)))
    val pipe2 = new DataPipeline(cfg).loadState(tmp)
    val out2 = pipe2.transform(df, schema)
    assert(out2.select("cat_enc", "up").collect().toSeq ==
      out.select("cat_enc", "up").collect().toSeq)
  }

  test("loadState refuses a state file in the earlier string-flattened format") {
    // the earlier JSON form comma-joined the inputs and flattened every
    // processor's state into one separator-encoded string
    val cfg = PipelineConfig.fromYaml(
      """pipeline:
        |  - input: [cat]
        |    transformer: LabelEncoding
        |    output: "{col_name}_enc"
        |""".stripMargin)
    import java.util.{List => JList, Map => JMap}
    val tmp = java.nio.file.Files.createTempFile("pipe_old", ".json")
    java.nio.file.Files.writeString(tmp, new com.fasterxml.jackson.databind.ObjectMapper()
      .writeValueAsString(JList.of(JMap.of("transformer", "LabelEncoding", "bindings",
        JList.of(JMap.of("inputs", "cat", "output", "cat_enc",
          "state", JMap.of("labels", "a\u001f1\u001eb\u001f2")))))))
    val e = intercept[IllegalArgumentException](new DataPipeline(cfg).loadState(tmp.toString))
    assert(e.getMessage.contains("not a list") && e.getMessage.contains("earlier format"), e.getMessage)
  }

  test("loadState restores same-name steps by position, not first-match params") {
    // regression: config.steps.find(_.transformer == name) returned the
    // FIRST step for every same-transformer entry, so a pipeline with two
    // StringRemoval steps restored BOTH with step 1's removal_list
    val yaml =
      """pipeline:
        |  - input: ["txt"]
        |    transformer: StringRemoval
        |    params: {removal_list: ["aaa"]}
        |    output: "s1"
        |  - input: ["s1"]
        |    transformer: StringRemoval
        |    params: {removal_list: ["bbb"]}
        |    output: "s2"
        |""".stripMargin
    val cfg = PipelineConfig.fromYaml(yaml)
    val schema = MLSchema(Map("txt" -> MLType.Text))
    val df = Seq("aaa bbb ccc").toDF("txt")
    val pipe = new DataPipeline(cfg)
    val out = pipe.fitTransform(df, schema)
    assert(col1(out, "s2") == Seq("  ccc"), "fitted pipeline removes both strings")
    val tmp = java.nio.file.Files.createTempFile("pipe_dup", ".json").toString
    pipe.saveState(tmp)
    val restored = new DataPipeline(cfg).loadState(tmp)
    assert(col1(restored.transform(df, schema), "s2") == Seq("  ccc"),
      "restored step 2 must use ITS OWN removal_list, not step 1's")
  }

  test("VectorDensifier: empty sparse vector densifies to an empty array, not [0.0, 0.0]") {
    // regression: sequence(0, size-1) at size=0 is sequence(0, -1), which
    // DESCENDS — yielding a 2-element zero array for an empty vector
    val df = Seq((0, Seq.empty[Int], Seq.empty[Double]), (3, Seq(1), Seq(7.0)))
      .toDF("size", "indices", "values")
      .select(struct(col("size"), col("indices"), col("values")).as("sv"))
    val out = df.select(new Processors.VectorDensifier(Map.empty)
      .transform(col("sv")).as("d")).collect().map(_.getSeq[Double](0))
    assert(out(0) == Seq.empty, s"empty sparse must densify empty, got ${out(0)}")
    assert(out(1) == Seq(0.0, 7.0, 0.0))
  }

  test("imputation fit works on non-identifier column names (backtick escaping)") {
    // regression: expr(s"mode($inputCol)") broke on spaces / resolved dots
    val df = Seq(Some("x"), Some("x"), None).toDF("cat col.umn")
    val p = new Processors.CategoricalMissingValueImputation(Map("strategy" -> "mode"))
    p.fit(df, "cat col.umn")
    val filled = df.select(p.transform(col("`cat col.umn`")).as("v"))
      .collect().map(_.getString(0)).toSeq
    assert(filled == Seq("x", "x", "x"))
    val nf = Seq(Some(1.0), Some(1.0), None).toDF("num col.umn")
    val np = new Processors.NumericMissingValueImputation(Map("strategy" -> "median"))
    np.fit(nf, "num col.umn")
    val nFilled = nf.select(np.transform(col("`num col.umn`")).as("v"))
      .collect().map(_.getDouble(0)).toSeq
    assert(nFilled == Seq(1.0, 1.0, 1.0))
  }

  test("config writer: fromYaml(toYaml) and fromYaml(toJson) are identity") {
    val yaml =
      """pipeline:
        |  - input: [categorical]
        |    transformer: LabelEncoding
        |    output: "{col_name}_enc"
        |  - input: ["t.*t"]
        |    transformer: CaseTransformation
        |    params: {case: upper}
        |    output: "up"
        |writers:
        |  - input: ["up"]
        |    path: /tmp/out.csv
        |""".stripMargin
    val cfg = PipelineConfig.fromYaml(yaml)
    assert(PipelineConfig.fromYaml(PipelineConfig.toYaml(cfg)) == cfg)
    assert(PipelineConfig.fromYaml(PipelineConfig.toJson(cfg)) == cfg, "Jackson-YAML parses JSON too")
    val tmp = java.nio.file.Files.createTempFile("graft_cfg", ".yaml").toString
    PipelineConfig.save(cfg, tmp)
    assert(PipelineConfig.fromFile(tmp) == cfg)
  }

  test("config writer: pinned deterministic round-trip (list / nested-pair / tuple / loudness)") {
    // PINNED (non-random) regression for the r9 list-param corruption the
    // r10 toJavaDeep fix closed: without deep Scala→Java conversion,
    // Jackson bean-serialized Seq params into garbage like
    // `{empty: false, traversableAgain: true}` and the written config
    // silently no-op'd on re-read. Four legs, fixed values, no generators.

    // 1. list param (StringRemoval) — exact round-trip identity
    val listCfg = PipelineConfig(Seq(StepConfig(
      input = Seq("text"), transformer = "StringRemoval",
      params = Map("removal_list" -> Seq("foo", "bar", "baz")),
      output = "{col_name}")), Seq.empty)
    assert(PipelineConfig.fromYaml(PipelineConfig.toYaml(listCfg)) == listCfg)
    assert(PipelineConfig.fromYaml(PipelineConfig.toJson(listCfg)) == listCfg)
    // the written YAML carries a REAL list, not bean garbage
    val yamlText = PipelineConfig.toYaml(listCfg)
    assert(yamlText.contains("foo") && yamlText.contains("baz"))
    assert(!yamlText.contains("empty:") && !yamlText.contains("traversableAgain"),
      s"bean-serialized Scala collection leaked into YAML:\n$yamlText")

    // 2. nested-pair param (RegexSubstitution), pairs as 2-element Seqs —
    // the shape fromYaml itself produces — exact round-trip identity
    val pairCfg = PipelineConfig(Seq(StepConfig(
      input = Seq("text"), transformer = "RegexSubstitution",
      params = Map(
        "substitution_list" -> Seq(Seq("[0-9]+", "#"), Seq("\\s+", " ")),
        "ignorecase" -> true),
      output = "{col_name}_sub")), Seq.empty)
    assert(PipelineConfig.fromYaml(PipelineConfig.toYaml(pairCfg)) == pairCfg)
    assert(PipelineConfig.fromYaml(PipelineConfig.toJson(pairCfg)) == pairCfg)
    // and the round-tripped config still CONSTRUCTS the processor
    val rt = PipelineConfig.fromYaml(PipelineConfig.toYaml(pairCfg))
    assert(ProcessorRegistry.create(rt.steps.head.transformer, rt.steps.head.params)
      .isInstanceOf[RegexSubstitution])

    // 3. tuple params normalize to 2-element Seqs after ONE round trip
    // (the documented fixpoint: toYaml writes Tuple2 as a YAML pair list)
    val tupleCfg = PipelineConfig(Seq(StepConfig(
      input = Seq("text"), transformer = "RegexSubstitution",
      params = Map("substitution_list" -> Seq(("a+", "A"), ("b+", "B"))),
      output = "{col_name}_sub")), Seq.empty)
    val once = PipelineConfig.fromYaml(PipelineConfig.toYaml(tupleCfg))
    val expectNormalized = tupleCfg.copy(steps = Seq(tupleCfg.steps.head.copy(
      params = Map("substitution_list" -> List(List("a+", "A"), List("b+", "B"))))))
    assert(once == expectNormalized, "tuple params must parse back as 2-element Seqs")
    assert(PipelineConfig.fromYaml(PipelineConfig.toYaml(once)) == once, "fixpoint after one trip")

    // 4. corrupt container shapes fail LOUD at processor construction
    val mapParam = intercept[IllegalArgumentException] {
      ProcessorRegistry.create("StringRemoval",
        Map("removal_list" -> Map("empty" -> false, "traversableAgain" -> true)))
    }
    assert(mapParam.getMessage.contains("expected a list for param 'removal_list'"))
    val pairParam = intercept[IllegalArgumentException] {
      ProcessorRegistry.create("StringRemoval", Map("removal_list" -> (("a", "b"))))
    }
    assert(pairParam.getMessage.contains("removal_list"))

    // 5. a param type the writer cannot faithfully serialize throws at
    // write time instead of emitting bean garbage (writer fails loud too)
    val weird = PipelineConfig(Seq(StepConfig(
      input = Seq("text"), transformer = "StringRemoval",
      params = Map("removal_list" -> new Object),
      output = "{col_name}")), Seq.empty)
    val writerLoud = intercept[IllegalArgumentException](PipelineConfig.toYaml(weird))
    assert(writerLoud.getMessage.contains("unserializable"))
  }

  test("transformLocal: LocalRelation path collects without a Spark job") {
    val yaml =
      """pipeline:
        |  - input: [txt]
        |    transformer: CaseTransformation
        |    params: {case: upper}
        |    output: "up"
        |""".stripMargin
    val schema = MLSchema(Map("txt" -> MLType.Text))
    val df = Seq("x").toDF("txt")
    val pipe = new DataPipeline(PipelineConfig.fromYaml(yaml)).fit(df, schema)
    val sparkSchema = df.schema
    val rows = Seq(org.apache.spark.sql.Row("hello"), org.apache.spark.sql.Row("world"))
    val before = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
    val out = pipe.transformLocal(spark, rows, sparkSchema, schema)
    org.apache.spark.sql.graftbridge.ListenerBridge.drain(spark.sparkContext)
    val after = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
    assert(out.map(_.getString(1)) == Seq("HELLO", "WORLD"))
    assert(after == before, "local path must not launch a Spark job")
  }

  test("pipeline writer fan-out writes pattern-selected columns") {
    val dir = java.nio.file.Files.createTempDirectory("graft_pipe_out").toString
    val yaml =
      s"""pipeline:
         |  - input: [txt]
         |    transformer: CaseTransformation
         |    params: {case: upper}
         |    output: "up"
         |writers:
         |  - input: ["up"]
         |    path: "$dir/up_only.parquet"
         |  - input: ["*"]
         |    path: "$dir/all.jsonl"
         |""".stripMargin
    val schema = MLSchema(Map("txt" -> MLType.Text))
    val df = Seq("a", "b").toDF("txt")
    val pipe = new DataPipeline(PipelineConfig.fromYaml(yaml))
    val out = pipe.fitTransform(df, schema)
    pipe.write(out)
    val upOnly = spark.read.parquet(s"$dir/up_only.parquet")
    assert(upOnly.columns.toSeq == Seq("up"))
    assert(upOnly.collect().map(_.getString(0)).sorted.toSeq == Seq("A", "B"))
    val all = spark.read.json(s"$dir/all.jsonl")
    assert(all.columns.sorted.toSeq == Seq("txt", "up"))
  }

  test("pipeline missing-column ERROR raises; SKIP passes through") {
    val yaml =
      """pipeline:
        |  - input: [nope]
        |    transformer: CaseTransformation
        |    output: "o"
        |""".stripMargin
    val df = Seq("x").toDF("txt")
    val schema = MLSchema(Map("txt" -> MLType.Text))
    intercept[IllegalArgumentException] {
      new DataPipeline(PipelineConfig.fromYaml(yaml)).fit(df, schema)
    }
  }
}

object TestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
