package graft

import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.{MinHashSignature, MinHashText, ShingleHashes, ShinglesFromTokens, SortedJaccard, TextGrams, WordTokens}
import graft.ops.{Dedup, TextAnalysis}

/** Differential specs for the near-dup text kernels: [[MinHashText]] must
  * give exactly the composed chain `minhash_signature(shingles_from_tokens(
  * word_tokens(text, 1), k), h)`, [[ShingleHashes]] exactly `array_sort(
  * array_distinct(transform(shingles(text, k), hash60)))`, and
  * [[SortedJaccard]] exactly `Dedup.jaccardShingles` over such arrays — in
  * codegen and interpreted execution, on hand cases aimed at the byte pass's
  * edges (the fast ASCII pass and the fallback to the chain), a random
  * Unicode grid and corpus text. Also pins that tokens ignore the JVM's
  * default locale.
  */
class NearDupKernelsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSession.spark
  import spark.implicits._

  private val Documents = "/root/testdata/sf0.01/documents.parquet"

  private def escape(s: String): String =
    if (s == null) "<null>" else s.take(120).flatMap {
      case ch if ch >= 0x20 && ch < 0x7f => ch.toString
      case ch => f"\\u${ch.toInt}%04x"
    }

  private def chainSignature(t: Column, k: Int, h: Int): Column =
    Dedup.minhashFromShingles(TextAnalysis.shingles(t, k), h)

  private def hashesReference(t: Column, k: Int): Column =
    array_sort(array_distinct(transform(TextAnalysis.shingles(t, k), s => TextAnalysis.hash60(s))))

  /** Separators only outside ASCII: curly quotes, dashes, NBSP, ellipsis,
    * emoji, a combining mark.
    */
  private val separatorOnly = Seq(
    "\u201cQuoted\u201d \u2018words\u2019 \u2014 an em dash and\u00a0NBSP \u2026 then \ud83d\ude00 emoji",
    "a\u2013b\u2014c d\u00a0e\u00a0f", "cafe\u0301 with a combining accent",
    "\u00a0\u00a0", "\u2014")

  /** A non-ASCII word code point, before or after lowercasing. */
  private val wordNonAscii = Seq(
    "\u00c9COLE \u00c9cole", "\u0130stanbul ISTANBUL istanbul", "digits \u0663\u0664 arabic indic",
    "\u039f\u0394\u039f\u03a3 \u039f\u0394\u039f\u03a3 \u03bf\u03b4\u03bf\u03c2", "caf\u00e9 na\u00efve",
    "\u4e2d\u6587 \u6587\u672c", "Kelvin \u212a sign", "\u01c5emal title case", "\ud835\udc00 math bold")

  private val handCases: Seq[String] = Seq(
    null, "", " ", "...", "one", "two words", "Three Words Here",
    "UPPER CASE ASCII TEXT WITH SEVERAL MORE WORDS",
    "snake_case and_more __ _x_ 123 4x4 0_0", "digits 1 22 333 4444 55555 1_000",
    "mixed\tTabs\nnew\r\nlines  double  space, punct!? (paren) [b] {c}",
    "the quick brown fox jumps over the lazy dog the quick brown fox",
    "\ud83d lone surrogate") ++ separatorOnly ++ wordNonAscii

  /** `cols` over `df` in codegen and in interpreted execution, as strings. */
  private def bothModes(df: DataFrame, cols: Seq[Column]): Seq[Seq[Seq[String]]] =
    Seq("codegen", "interpreted").map { mode =>
      PropertyTestKit.withExecutedMode(spark, mode) {
        df.select(cols.map(_.cast("string")): _*).collect()
          .map(r => (0 until r.length).map(i => if (r.isNullAt(i)) "<null>" else r.getString(i)))
          .toSeq
      }
    }

  /** Every kernel == its reference on `texts`, and codegen == interpreted. */
  private def assertKernels(texts: Seq[String]): Unit = {
    val df = texts.toDF("t")
    val t = col("t")
    val cols = for (k <- Seq(1, 3, 5); h <- Seq(1, 4)) yield Seq(
      MinHashText.minhash_text(t, k, h), chainSignature(t, k, h),
      ShingleHashes.shingle_hashes(t, k), hashesReference(t, k))
    val Seq(cg, in) = bothModes(df, cols.flatten)
    texts.indices.foreach { r =>
      assert(cg(r) == in(r), s"codegen != interpreted for ${escape(texts(r))}")
      cg(r).grouped(2).foreach { case Seq(native, reference) =>
        assert(native == reference, s"kernel != reference for ${escape(texts(r))}: $native vs $reference")
      }
    }
  }

  test("minhash_text and shingle_hashes: hand cases == composed chain, codegen == interpreted") {
    assertKernels(handCases)
    val sig = Seq(null: String, "").toDF("t")
      .select(MinHashText.minhash_text(col("t"), 3, 4)).collect().map(_.getSeq[Any](0))
    assert(sig(0).length == 4 && sig(0).forall(_ == null), "null text: numHashes nulls")
    assert(sig(1).length == 4 && sig(1).forall(_ != null), "empty text: the [\"\"] gram")
    val hs = Seq(null: String, "", "a b", "a b c a b c").toDF("t")
      .select(ShingleHashes.shingle_hashes(col("t"), 3)).collect()
    assert(hs(0).isNullAt(0))
    assert(hs(1).getSeq[Long](0) == Seq(graft.functions.Md5Hash60.hash(Array.emptyByteArray)))
    assert(hs(2).getSeq[Long](0) == Seq(graft.functions.Md5Hash60.hash("a b".getBytes(UTF_8))))
    assert(hs(3).getSeq[Long](0).length == 3, "a b c a b c: four grams, three distinct")
  }

  test("the byte pass: separator-only non-ASCII documents keep it, word code points fall back") {
    def fast(s: String): Boolean = TextGrams.get().scan(UTF8String.fromString(s))
    (handCases.filter(s => s != null && s.forall(_ < 0x80)) ++ separatorOnly).foreach { s =>
      assert(fast(s), s"${escape(s)} left the byte pass")
    }
    wordNonAscii.foreach(s => assert(!fast(s), s"${escape(s)} took the byte pass"))
  }

  test("malformed UTF-8 falls back to the composed chain and still matches it") {
    val bad: Seq[Array[Byte]] = Seq(
      Array(0x61, 0x62, 0x20, 0xc3, 0x20, 0x63, 0x64), // lead byte, no continuation
      Array(0x41, 0x80, 0x42), // lone continuation
      Array(0xc1, 0x81, 0x20, 0x78), // overlong 'A'
      Array(0xe0, 0x81, 0x81, 0x20, 0x78), // overlong 'A', three bytes
      Array(0xed, 0xa0, 0x80, 0x20, 0x78), // encoded surrogate
      Array(0xf4, 0x90, 0x80, 0x80, 0x20, 0x78), // past U+10FFFF
      Array(0x78, 0x20, 0xe2, 0x80)) // truncated
      .map(_.map(_.toByte))
    bad.foreach { b =>
      val u = UTF8String.fromBytes(b)
      assert(!TextGrams.get().scan(u))
      for (k <- Seq(1, 3); h <- Seq(1, 4)) {
        val grams = ShinglesFromTokens.shingle(WordTokens.tokenize(u, 1), k)
        assert(MinHashText.signature(u, k, h).toLongArray.toSeq ==
          MinHashSignature.signature(grams, h).toLongArray.toSeq)
        val want = (0 until grams.numElements())
          .map(g => graft.functions.Md5Hash60.hash(grams.getUTF8String(g).getBytes)).distinct.sorted
        assert(ShingleHashes.hashes(u, k).toLongArray.toSeq == want)
      }
    }
  }

  test("minhash_text and shingle_hashes: random Unicode grid and sf0.01 documents == composed chain") {
    val rnd = new scala.util.Random(6121)
    val pieces = Array(" ", " ", "\t", "\n", ".", ",", "-", "_", "the", "Quick", "BROWN", "fox",
      "42", "x1", "\u00a0", "\u2014", "\u201c", "\u2019", "\ud83d\ude00", "\u00e9", "\u00c9",
      "\u0130", "\u03a3", "\u0663", "\u4e2d", "\u0301")
    val grid = Seq.fill(1500) {
      Seq.fill(rnd.nextInt(40))(pieces(rnd.nextInt(pieces.length))).mkString
    }
    assertKernels(grid)
    val docs = spark.read.parquet(Documents).select(col("text").as("t"))
    for (k <- Seq(3, 5)) {
      val out = docs.select(col("t"),
        (MinHashText.minhash_text(col("t"), k, 8) === chainSignature(col("t"), k, 8)).as("sig"),
        (ShingleHashes.shingle_hashes(col("t"), k) === hashesReference(col("t"), k)).as("set"))
        .filter(!col("sig") || !col("set")).collect()
      assert(out.isEmpty, s"k=$k: ${out.length} documents diverge, first ${out.headOption.map(r => escape(r.getString(0)))}")
    }
  }

  test("sorted_jaccard == jaccardShingles over hashed sets, and == string Jaccard here") {
    val texts = handCases.filter(_ != null) ++ Seq("the quick brown fox jumps", "the quick brown dog jumps")
    val pairs = for (a <- texts; b <- texts) yield (a, b)
    val df = pairs.toDF("a", "b")
      .select(col("a"), col("b"),
        ShingleHashes.shingle_hashes(col("a"), 3).as("ha"), ShingleHashes.shingle_hashes(col("b"), 3).as("hb"))
    val cols = Seq(SortedJaccard.sorted_jaccard(col("ha"), col("hb")),
      Dedup.jaccardShingles(col("ha"), col("hb")), Dedup.jaccard(col("a"), col("b"), 3))
    val Seq(cg, in) = bothModes(df, cols)
    pairs.indices.foreach { r =>
      assert(cg(r) == in(r), s"codegen != interpreted for ${pairs(r)}")
      assert(cg(r).distinct.length == 1, s"sorted_jaccard diverges for ${pairs(r)}: ${cg(r)}")
    }
  }

  test("sorted_jaccard: null, empty and null-element sets == jaccardShingles, also under legacy size(null)") {
    val sets: Seq[Seq[java.lang.Long]] = Seq(null, Seq.empty, Seq(1L), Seq(1L, 2L, 3L), Seq(2L, 3L, 9L),
      Seq(1L, null), Seq(2L, null), Seq(null))
    val df = (for (a <- sets; b <- sets) yield (a, b)).toDF("a", "b")
    def check(): Unit = {
      val cols = Seq(SortedJaccard.sorted_jaccard(col("a"), col("b")), Dedup.jaccardShingles(col("a"), col("b")))
      val Seq(cg, in) = bothModes(df, cols)
      cg.indices.foreach { r =>
        assert(cg(r) == in(r), s"codegen != interpreted for row $r")
        assert(cg(r)(0) == cg(r)(1), s"row $r: sorted_jaccard ${cg(r)(0)} vs jaccardShingles ${cg(r)(1)}")
      }
    }
    check()
    val prior = spark.conf.getOption("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try check()
    finally prior match {
      case Some(v) => spark.conf.set("spark.sql.ansi.enabled", v)
      case None => spark.conf.unset("spark.sql.ansi.enabled")
    }
  }

  test("SQL forms and constructor guards") {
    graft.functions.GraftExtensions.installInto(spark)
    val r = spark.sql("SELECT minhash_text('A b c', 2, 3) AS s, shingle_hashes('A b c', 2) AS h, " +
      "sorted_jaccard(shingle_hashes('a b c', 2), shingle_hashes('a b d', 2)) AS j").head()
    val t = Seq("A b c").toDF("t")
    assert(r.getSeq[Long](0) == t.select(chainSignature(col("t"), 2, 3)).head().getSeq[Long](0))
    assert(r.getSeq[Long](1) == t.select(hashesReference(col("t"), 2)).head().getSeq[Long](0))
    assert(r.getDouble(2) == 1.0 / 3)
    val s = org.apache.spark.sql.catalyst.expressions.Literal("x")
    intercept[IllegalArgumentException](MinHashText(s, 0, 4))
    intercept[IllegalArgumentException](MinHashText(s, 3, 0))
    intercept[IllegalArgumentException](ShingleHashes(s, 0))
    assert(MinHashText(org.apache.spark.sql.catalyst.expressions.Literal(1), 3, 4).checkInputDataTypes().isFailure)
    assert(SortedJaccard(s, s).checkInputDataTypes().isFailure)
  }

  test("tokens, keywords, phrases and minhash_text do not depend on the JVM's default locale (tr_TR)") {
    val text = "TITLE IN CAPS caf\u00e9"
    def run(): (Seq[String], Seq[String], Seq[Seq[String]], Seq[Long]) = {
      val direct = WordTokens.tokenize(UTF8String.fromString(text), 1)
      val r = Seq(text).toDF("t").select(
        TextAnalysis.tokens(col("t")),
        TextAnalysis.matchedKeywords(col("t"), Seq("TITLE", "CAF\u00c9")),
        MinHashText.minhash_text(col("t"), 2, 4)).head()
      assert(r.getSeq[String](0) == (0 until direct.numElements()).map(direct.getUTF8String(_).toString))
      // all-ASCII text and text with a non-ASCII letter lowercase on different paths
      val phrases = Seq("TITLE IN CAPS", text).toDF("t")
        .select(TextAnalysis.matchedPhrases(col("t"), Seq("TITLE IN", "CAF\u00c9"))).collect()
        .toSeq.map(_.getSeq[String](0))
      (r.getSeq[String](0), r.getSeq[String](1), phrases, r.getSeq[Long](2))
    }
    val prior = java.util.Locale.getDefault
    val enUs = try { java.util.Locale.setDefault(java.util.Locale.US); run() }
      finally java.util.Locale.setDefault(prior)
    assert(enUs._1 == Seq("title", "in", "caps", "caf\u00e9"))
    assert(enUs._2 == Seq("caf\u00e9", "title"))
    assert(enUs._3 == Seq(Seq("title in"), Seq("title in", "caf\u00e9")))
    val tr = try { java.util.Locale.setDefault(new java.util.Locale("tr", "TR")); run() }
      finally java.util.Locale.setDefault(prior)
    assert(tr == enUs, s"tr_TR gave $tr, en_US gave $enUs")
  }
}
