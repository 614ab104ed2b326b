package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.{Dedup, TextAnalysis}

/** Differential specs for curate's per-document kernels: the native
  * [[graft.functions.GopherFlags]], [[graft.functions.QualitySignals]] and
  * [[graft.functions.MinHashSignature]] must give, row for row, exactly what
  * the Column spellings they replaced give (`gopherFlagsReference`,
  * `qualityStructStagedReference`, `minhashFromShinglesReference`) — on
  * hand cases aimed at each rule's edges, a random Unicode grid and real
  * corpus text.
  */
class CurateKernelsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSession.spark
  import spark.implicits._

  private val Documents = "/root/testdata/sf0.01/documents.parquet"

  private def escape(s: String): String =
    if (s == null) "<null>" else s.take(120).flatMap {
      case ch if ch >= 0x20 && ch < 0x7f => ch.toString
      case ch => f"\\u${ch.toInt}%04x"
    }

  /** Every row's native and reference values, compared; the failure names
    * the input that diverged.
    */
  private def assertSame(df: DataFrame, input: String, native: Column, reference: Column): Unit = {
    val out = df.select(col(input), native.as("n"), reference.as("r"))
    assert(out.schema("n").dataType.sql == out.schema("r").dataType.sql)
    val rows = out.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.get(1) == r.get(2),
        s"native != reference for ${r.get(0) match {
          case s: String => escape(s)
          case other => String.valueOf(other)
        }}: ${r.get(1)} vs ${r.get(2)}")
    }
  }

  private def assertTextKernels(df: DataFrame): Unit = {
    val t = col("t")
    assertSame(df, "t", TextAnalysis.gopherFlags(t), TextAnalysis.gopherFlagsReference(t))
    assertSame(df, "t", TextAnalysis.qualityStruct(t),
      TextAnalysis.qualityStructStagedReference(t, TextAnalysis.tokens(t)))
  }

  private val handCases: Seq[String] = Seq(
    null, "", " ", "   ", "\t", "\n", "\n\n\n", " \n \n ",
    "plain words here", "the and of to is", "Ein Satz und die Welt",
    // line endings: \r\n, lone \r, and the other terminators Java's `$` sees
    "first line...\r\nsecond line...\r\n", "ends with dots...\r", "dots...\r\r",
    "dots...\u0085", "dots…\u2028", "dots…\u2029", "dots... \r", "…\r",
    // tab-only, NBSP and mixed blank lines
    "\t\n\t\t\nword", "\u00a0\n\u00a0word\n", "line\n \u00a0 \nline",
    // bullets: numbered, unicode, dash, star, with and without the \s
    "1) one\n12. twelve\n• dot\n- dash\n* star", "1)x\n12.y\n•z\n-w\n*v",
    "- \n-\tx\n-\u000bx\n-\fx\n-\rx", "  - indented\n   3. three", "123\n1.\n.) x",
    "•\u00a0x\n- \u00a0x", "1. a\n2. b\n3. c\n4. d\nthe end",
    // symbols: # runs, ... against …, overlapping dot runs
    "### heading", "#tag #tag2 ## ###", "...", "....", ".....", "......", "a...b…c",
    "…", "……", ".…..", "wait... what… ok...", "# # # # # # # # # # words",
    // punctuation incl. backslash (not in the class), quotes and brackets
    "back\\slash \\\\ done", "!\"#$%&'()*+,-./:;<=>?@[]^_`{|}~", "a.b,c;d:e",
    // CJK, surrogate-pair emoji, accents, mixed scripts
    "中文文本测试", "日本語のテキスト...", "emoji 😀 word 😀...",
    "😀😀😀", "café naïve résumé",
    "Ελληνικά κείμενο", "mixed 中文 and english…",
    // long prose-like and repetitive documents
    ("the quick brown fox jumps over the lazy dog. " * 30).trim,
    ("- item\n" * 20) + "closing line", ("maybe...\n" * 5) + "fine")

  test("gopher_flags and quality_signals: hand cases == Column spelling") {
    assertTextKernels(handCases.toDF("t"))
  }

  test("gopher_flags and quality_signals: random Unicode grid == Column spelling") {
    val rnd = new scala.util.Random(9091)
    val pieces = Array(" ", " ", "  ", "\t", "\n", "\n", "\r", "\r\n", "\u000b", "\f",
      "\u00a0", "\u2028", "\u2029", "\u0085", ".", "...", "…", "#", "*", "-", "•", ")",
      "1", "42", "a", "Z", "word", "the", "and", "die", "中", "😀", "\\", "!",
      "é", "_", "ß")
    def randomCp(): String = {
      val cp = rnd.nextInt(5) match {
        case 0 => 0x20 + rnd.nextInt(0x5f)
        case 1 => 0xa0 + rnd.nextInt(0x700)
        case 2 => 0x2000 + rnd.nextInt(0x80)
        case 3 => 0x4e00 + rnd.nextInt(0x200)
        case _ => 0x1f300 + rnd.nextInt(0x300)
      }
      new String(Character.toChars(cp))
    }
    val grid = Seq.fill(2000) {
      val n = rnd.nextInt(60)
      Seq.fill(n)(if (rnd.nextInt(6) == 0) randomCp() else pieces(rnd.nextInt(pieces.length)))
        .mkString
    }
    assertTextKernels(grid.toDF("t"))
  }

  test("gopher_flags and quality_signals: sf0.01 documents, plain and bullet/ellipsis-salted") {
    val docs = spark.read.parquet(Documents)
    val salted = docs.select(col("doc_id"),
      when(col("doc_id") % 3 === 0,
        concat(col("text"), lit("\n* bullet item\n* second bullet\n- third one")))
        .when(col("doc_id") % 5 === 0, concat(col("text"), lit("\nto be continued...")))
        .otherwise(col("text")).as("t"))
    assertTextKernels(docs.select(col("text").as("t")))
    assertTextKernels(salted.select(col("t")))
  }

  test("quality_signals: staged null and null-element tokens == Column spelling") {
    val rows = Seq(
      ("text", null: Seq[String]), (null: String, Seq("a", "the")), (null, null),
      ("some text!", Seq("some", null, "the")), ("x", Seq(null: String)), ("", Seq.empty[String]))
    val df = rows.toDF("t", "toks")
    assertSame(df, "t", TextAnalysis.qualityStructStaged(col("t"), col("toks")),
      TextAnalysis.qualityStructStagedReference(col("t"), col("toks")))
  }

  test("null text under legacy size(null): both kernels still match the Column spelling") {
    val prior = spark.conf.getOption("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try {
      // both spellings capture size(null)'s meaning when they are built
      val t = col("t")
      val df = Seq(null: String, "", "a b...").toDF("t")
      assertSame(df, "t", TextAnalysis.gopherFlags(t), TextAnalysis.gopherFlagsReference(t))
      assertSame(df, "t", TextAnalysis.qualityStruct(t),
        TextAnalysis.qualityStructStagedReference(t, TextAnalysis.tokens(t)))
      val g = df.filter(t.isNull).select(TextAnalysis.gopherFlags(t)).head().getStruct(0)
      assert(g.getDouble(0) == -1.0 && g.getDouble(1) == -2.0 && !g.getBoolean(4))
    } finally prior match {
      case Some(v) => spark.conf.set("spark.sql.ansi.enabled", v)
      case None => spark.conf.unset("spark.sql.ansi.enabled")
    }
  }

  test("minhash_signature: null, empty and null-element arrays == Column spelling, numHashes 1/4/8") {
    val arrays: Seq[Seq[String]] = Seq(null, Seq.empty, Seq(null), Seq(null, null),
      Seq("a", null, "b"), Seq("only"), Seq("x y z", "y z w", "x y z"),
      Seq("中文 文本", "😀 emoji", ""))
    val df = arrays.map(Tuple1(_)).toDF("sh")
    for (h <- Seq(1, 4, 8))
      assertSame(df, "sh", Dedup.minhashFromShingles(col("sh"), h),
        Dedup.minhashFromShinglesReference(col("sh"), h))
    // a null, empty or all-null input is numHashes nulls, never a null array
    val sig = df.select(Dedup.minhashFromShingles(col("sh"), 4)).collect().map(_.getSeq[Any](0))
    sig.take(4).foreach(s => assert(s != null && s.length == 4 && s.forall(_ == null)))
  }

  test("minhash_signature: corpus shingles and a random Unicode grid == Column spelling") {
    val docs = spark.read.parquet(Documents)
      .select(TextAnalysis.shingles(col("text"), 3).as("sh"))
    val rnd = new scala.util.Random(4421)
    val words = Seq("the", "a", "中文", "😀", "café", "x", "")
    val grid = Seq.fill(300)(Seq.fill(rnd.nextInt(12))(
      if (rnd.nextInt(10) == 0) null else Seq.fill(1 + rnd.nextInt(3))(words(rnd.nextInt(words.length)))
        .mkString(" "))).map(Tuple1(_)).toDF("sh")
    for (h <- Seq(1, 4, 8); df <- Seq(docs, grid))
      assertSame(df, "sh", Dedup.minhashFromShingles(col("sh"), h),
        Dedup.minhashFromShinglesReference(col("sh"), h))
  }

  test("constructors refuse a hash count below 1 and non-array input") {
    val lit1 = org.apache.spark.sql.catalyst.expressions.Literal("x")
    intercept[IllegalArgumentException](graft.functions.MinHashSignature(lit1, 0))
    assert(graft.functions.MinHashSignature(lit1, 1).checkInputDataTypes().isFailure)
    assert(graft.functions.GopherFlags(
      org.apache.spark.sql.catalyst.expressions.Literal(1)).checkInputDataTypes().isFailure)
  }
}
