package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{ArrayAggregate, ArrayTransform, Literal}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StringType}
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.{HashedTokenCounts, Md5Hash60, WordTokens}
import graft.ops.TextAnalysis
import graft.processor.ScalableEncoders.HashedTextVectorization

/** The native hashed-token-count kernel must be BIT-IDENTICAL, values and
  * dataType, to the Column spellings it replaced: the per-token `aggregate`
  * fold ([[countsReference]], q139's oracle
  * contract) and the vectorizer's cast + L2 `aggregate`/`transform`
  * ([[vectorizerReference]]). The reference legs cost O(dim²·tokens) per
  * row with L2, so they stay at dim ≤ 64 over a few hundred rows.
  */
class HashedTokenCountsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSession.spark
  import spark.implicits._

  /** The portable built-in spelling of [[TextAnalysis.hashedTokenFeatures]]:
    * a single-pass fold into a counts accumulator, each token hashed once.
    * O(dim·tokens) per doc.
    */
  private def countsReference(text: Column, dim: Int): Column =
    aggregate(
      transform(TextAnalysis.tokens(text), t => pmod(TextAnalysis.hash60(t), lit(dim.toLong)).cast("int")),
      typedLit(Seq.fill(dim)(0L)),
      (acc, b) => transform(acc, (v, i) => when(i === b, v + 1L).otherwise(v)))

  /** The `HashedTextVectorization.transform` Column spelling before the
    * kernel: its L2 norm referenced the whole count fold from inside the
    * divide lambda, re-running it once per element.
    */
  private def vectorizerReference(in: Column, dim: Int, norm: String): Column = {
    val counts = transform(countsReference(in, dim), _.cast("double"))
    if (norm == "none") counts
    else {
      val l2 = sqrt(aggregate(counts, lit(0.0), (acc, v) => acc + v * v))
      when(l2 === 0.0, counts).otherwise(transform(counts, v => v / l2))
    }
  }

  private val texts: Seq[String] = {
    val pinned = Seq(null, "", " ", "  \t\n ", "!!! ... ,;:", "-- ?? --",
      "Café über naïve café", "数字123と text 中文 中文", "テスト、テスト。",
      "😀 🚀 emoji😀 𝔘𝔫𝔦𝔠𝔬𝔡𝔢 🚀🚀", "a", "the the the the the the", "x" * 300)
    val words = Seq("the", "quick", "brown", "fox", "über", "中文", "naïve", "1", "_",
      "data", "spark", "😀", "ß", "ΩMEGA", "x1", "Ⅻ", "½")
    val seps = Seq(" ", "  ", "\t", ", ", ". ", "\n", "!? ", " - ")
    val rnd = new scala.util.Random(1337)
    pinned ++ (1 to 300).map { _ =>
      (0 until rnd.nextInt(40)).map(_ =>
        words(rnd.nextInt(words.length)) + seps(rnd.nextInt(seps.length))).mkString
    }
  }

  private def frame: DataFrame = texts.toDF("t")

  /** Row-major raw bits of an array column (null row → None). */
  private def bits(df: DataFrame): Seq[Option[Seq[Long]]] =
    df.collect().toSeq.map { r =>
      if (r.isNullAt(0)) None
      else Some(r.getSeq[Any](0).map {
        case d: Double => java.lang.Double.doubleToRawLongBits(d)
        case l: Long => l
      })
    }

  private def assertIdentical(name: String, fast: Column, ref: Column): Unit =
    for (mode <- Seq("codegen", "interpreted")) {
      val (f, r) = PropertyTestKit.withExecutedMode(spark, mode) {
        val a = frame.select(fast)
        val b = frame.select(ref)
        assert(a.schema.head.dataType == b.schema.head.dataType,
          s"$name: dataType ${a.schema.head.dataType} != reference ${b.schema.head.dataType}")
        (bits(a), bits(b))
      }
      texts.indices.foreach { i =>
        assert(f(i) == r(i), s"$name [$mode] text '${texts(i)}': kernel ${f(i)} != reference ${r(i)}")
      }
    }

  test("hashedTokenFeatures kernel == the aggregate-fold reference at dims 1/3/8/16/64") {
    for (dim <- Seq(1, 3, 8, 16, 64))
      assertIdentical(s"hashedTokenFeatures dim=$dim",
        TextAnalysis.hashedTokenFeatures(col("t"), dim),
        countsReference(col("t"), dim))
  }

  test("HashedTextVectorization == its old Column spelling bit for bit, both norms") {
    for (dim <- Seq(1, 3, 8, 16, 64); norm <- Seq("none", "l2"))
      assertIdentical(s"HashedTextVectorization dim=$dim norm=$norm",
        new HashedTextVectorization(Map("dim" -> dim, "norm" -> norm)).transform(col("t")),
        vectorizerReference(col("t"), dim, norm))
  }

  test("default dim 1024 with L2 finishes on a 1,000-row frame (the old spelling could not)") {
    val rnd = new scala.util.Random(4242)
    val words = (0 until 5000).map(i => s"w$i")
    val docs = (0 until 1000).map(_ => Seq.fill(8 + rnd.nextInt(33))(words(rnd.nextInt(5000))).mkString(" "))
    val df = docs.toDF("t")
    val out = df.select(
      new HashedTextVectorization(Map.empty[String, Any]).transform(col("t")),
      TextAnalysis.hashedTokenFeatures(col("t"), 1024),
      size(TextAnalysis.tokens(col("t")))).collect()
    assert(out.length == 1000)
    out.foreach { r =>
      val v = r.getSeq[Double](0)
      val c = r.getSeq[Long](1)
      assert(v.length == 1024 && c.length == 1024)
      assert(c.sum == r.getInt(2).toLong, "every token lands in exactly one bucket")
      val l2 = math.sqrt(c.map(x => x.toDouble * x).sum)
      v.zip(c).foreach { case (x, n) => assert(x == n / l2) }
    }
  }

  test("plan shape: the vectorizer is one token kernel + one hashed-count node, no HOF") {
    val plan = spark.range(4).select(concat(lit("a b "), col("id").cast("string")).as("t"))
      .select(new HashedTextVectorization(Map("dim" -> 8)).transform($"t"))
      .queryExecution.optimizedPlan
    val exprs = plan.flatMap(_.expressions.flatMap(_.collect { case e => e }))
    assert(exprs.count(_.isInstanceOf[WordTokens]) == 1, plan.toString)
    assert(exprs.count(_.isInstanceOf[HashedTokenCounts]) == 1, plan.toString)
    assert(!exprs.exists(e => e.isInstanceOf[ArrayAggregate] || e.isInstanceOf[ArrayTransform]),
      s"a higher-order function re-evaluates its captured input per element:\n$plan")
  }

  test("SQL registration, null input and null tokens") {
    graft.functions.GraftExtensions.installInto(spark)
    val r = spark.sql(
      "SELECT hashed_token_counts(word_tokens('b a b'), 4) AS c, " +
        "hashed_token_counts(word_tokens('b a b'), 4, 'l2') AS l, " +
        "hashed_token_counts(array('a', NULL, 'a'), 4) AS n, " +
        "hashed_token_counts(CAST(NULL AS array<string>), 4) AS z").head()
    val c = r.getSeq[Long](0)
    val expect = new Array[Long](4)
    Seq("b", "a", "b").foreach(t => expect((Md5Hash60.hash(t.getBytes("UTF-8")) % 4).toInt) += 1)
    assert(c == expect.toSeq)
    val l2 = math.sqrt(c.map(x => x.toDouble * x).sum)
    assert(r.getSeq[Double](1) == c.map(_ / l2))
    assert(r.getSeq[Long](2).sum == 2L, "null tokens are skipped")
    assert(r.isNullAt(3))
    val toks = Literal.create(Seq("a"), ArrayType(StringType))
    intercept[IllegalArgumentException](HashedTokenCounts(toks, 0))
    intercept[IllegalArgumentException](HashedTokenCounts(toks, 4, "l1"))
  }
}
