package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Adversarial codegen==interpreted differential over the WHOLE custom
  * expression ladder at once: one scalacheck-generated corpus of hostile
  * strings (control chars, lone and paired surrogates, NBSP/line-sep,
  * whitespace runs, heavy repetition, long runs) and one of float vectors
  * (NaN, ±Inf, ±0.0, denormals, length mismatches) drive every expression
  * through both evaluation paths in a single batch per mode.
  *
  * The per-expression specs pin hand cases and driver kernels; this spec
  * widens the input space. The corpus is freshly generated per run — on a
  * mismatch the assert prints the offending input as \\uXXXX escapes so the
  * case can be pinned in the expression's own spec.
  */
class CodegenPropertySpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSession.spark
  import spark.implicits._

  import PropertyTestKit.sampled

  private val corpus: Seq[String] = {
    import org.scalacheck.Gen
    val anyChar = Gen.frequency(
      5 -> Gen.alphaNumChar,
      2 -> Gen.oneOf(' ', '\t', '\n', '.', ',', '-', '_', '\''),
      2 -> Gen.choose(0x20.toChar, 0x7e.toChar),
      1 -> Gen.oneOf('\u00e9', '\u4e2d', '\u00df', '\u03a9', '\u00a0', '\u2028', '\u2026'),
      1 -> Gen.choose(0x00.toChar, 0x1f.toChar),
      1 -> Gen.oneOf('\ud83d', '\ude00')) // surrogate halves: paired AND lone
    val gen = Gen.chooseNum(0, 160).flatMap(n => Gen.listOfN(n, anyChar).map(_.mkString))
    val pinned = Seq("", " ", "a", "the the the the", "\u0000", "\ud83d\ude00\ud83d\ude00",
      "a" * 500, "\ud83d", "word1 word2\tword3\nword4", "\u00e9" * 80)
    pinned ++ Seq.fill(400)(sampled(gen))
  }

  /** Evaluate `cols` over `df` under both REAL execution paths (see
    * PropertyTestKit.withExecutedMode — naive factory-mode toggling is
    * vacuous over local frames), row-major, everything cast to string so
    * arrays/doubles/longs compare uniformly. Each leg asserts its plan
    * actually took the intended path.
    */
  private def bothModes(cols: Seq[Column], df: DataFrame): (Seq[Seq[String]], Seq[Seq[String]]) = {
    def run(mode: String): Seq[Seq[String]] =
      PropertyTestKit.withExecutedMode(spark, mode) {
        val out = df.select(cols.map(_.cast("string")): _*)
        val plan = out.queryExecution.executedPlan.toString
        // "*(n)" prefixes are the whole-stage-codegen markers in the
        // compact plan form; a surviving Project node proves the
        // projection EXECUTES instead of being pre-evaluated away. The
        // marker check only reads correctly on a shuffle-free plan — an
        // exchange would wrap everything in AdaptiveSparkPlan whose
        // pre-execution string has no markers — so fail loudly if a
        // future input violates the precondition instead of misreporting.
        assert(!plan.contains("AdaptiveSparkPlan"),
          s"bothModes requires a shuffle-free local frame (see PropertyTestKit):\n$plan")
        if (mode == "codegen")
          assert(plan.contains("*(") && plan.contains("Project"),
            s"codegen leg did not compile an executing stage:\n$plan")
        else
          assert(!plan.contains("*(") && plan.contains("Project"),
            s"interpreted leg not a plain interpreted projection:\n$plan")
        out.collect()
          .map(r => (0 until r.length).map(i =>
            if (r.isNullAt(i)) "<null>" else r.getString(i)).toSeq).toSeq
      }
    (run("codegen"), run("interpreted"))
  }

  private def escape(s: String): String =
    s.take(80).map(ch => f"\\u${ch.toInt}%04x").mkString

  test("string expressions: codegen == interpreted over an adversarial generated corpus") {
    import graft.functions._
    val df = corpus.toDF("s")
    val vocab = Seq("the", "a", "word", "é", "re", "search", "wo")
    val cols = Seq(
      FnvHash64.fnv_hash64(col("s")),
      Md5Hash60.md5_hash60(col("s")),
      CharEntropy.char_entropy(col("s")),
      WordTokens.word_tokens(col("s")),
      WordTokens.word_tokens(col("s"), minLen = 3),
      ShinglesFromTokens.shingles_from_tokens(WordTokens.word_tokens(col("s")), 3),
      TopFreqFraction.top_freq_fraction(WordTokens.word_tokens(col("s"))),
      HashedTokenCounts.hashed_token_counts(WordTokens.word_tokens(col("s")), 7),
      HashedTokenCounts.hashed_token_counts(WordTokens.word_tokens(col("s")), 7, "none"),
      HashedTokenCounts.hashed_token_counts(WordTokens.word_tokens(col("s")), 7, "l2"),
      GopherFlags.gopher_flags(col("s")),
      QualitySignals.quality_signals(col("s"), WordTokens.word_tokens(col("s"))),
      MinHashSignature.minhash_signature(
        ShinglesFromTokens.shingles_from_tokens(WordTokens.word_tokens(col("s")), 3), 4),
      VocabTokenCount.vocab_token_count(col("s"), vocab),
      VocabTokenCount.vocab_tokenize(col("s"), vocab),
      // the optimizer barrier must be value-identity in both modes — and
      // composing a kernel over it must not change the kernel's output
      OptBarrier.barrier(col("s")),
      CharEntropy.char_entropy(OptBarrier.barrier(col("s"))))
    val (cg, in) = bothModes(cols, df)
    corpus.indices.foreach { r =>
      assert(cg(r) == in(r),
        s"codegen!=interpreted for input ${escape(corpus(r))}: ${cg(r)} vs ${in(r)}")
    }
    // the hash columns also match the driver-side kernel byte-for-byte
    // (UTF8String.fromString and String.getBytes(UTF_8) agree on every
    // input including lone surrogates — both substitute '?')
    val fnv = PropertyTestKit.withExecutedMode(spark, "codegen") {
      df.select(FnvHash64.fnv_hash64(col("s"))).collect().map(_.getLong(0))
    }
    corpus.indices.foreach { r =>
      assert(fnv(r) == FnvHash64.hash(corpus(r).getBytes(java.nio.charset.StandardCharsets.UTF_8)),
        s"fnv_hash64 != driver kernel for ${escape(corpus(r))}")
    }
  }

  test("dot_product: codegen == interpreted over generated vectors incl. NaN/Inf/mismatch") {
    import org.scalacheck.Gen
    val f = Gen.frequency(
      6 -> Gen.chooseNum(-1e6f, 1e6f),
      1 -> Gen.oneOf(Float.NaN, Float.PositiveInfinity, Float.NegativeInfinity,
        0.0f, -0.0f, Float.MinPositiveValue))
    // ~1 in 8 pairs get independent lengths → exercises the
    // length-mismatch → null contract alongside the matched hot path
    val pair = for {
      n <- Gen.chooseNum(0, 24)
      m <- Gen.frequency(7 -> Gen.const(n), 1 -> Gen.chooseNum(0, 24))
      a <- Gen.listOfN(n, f)
      b <- Gen.listOfN(m, f)
    } yield (a.toArray, b.toArray)
    val pairs = Seq.fill(200)(sampled(pair))
    val df = pairs.toDF("a", "b")
    val (cg, in) = bothModes(
      Seq(graft.functions.DotProduct.dot_product(col("a"), col("b"))), df)
    pairs.indices.foreach { r =>
      assert(cg(r) == in(r),
        s"dot_product codegen!=interpreted for ${pairs(r)._1.mkString(",")} · ${pairs(r)._2.mkString(",")}: ${cg(r)} vs ${in(r)}")
    }
    // matched-length rows also agree with a driver-side left-to-right fold
    val got = PropertyTestKit.withExecutedMode(spark, "codegen") {
      df.select(graft.functions.DotProduct.dot_product(col("a"), col("b"))).collect()
    }
    pairs.indices.foreach { r =>
      val (a, b) = pairs(r)
      if (a.length == b.length) {
        var acc = 0.0
        var i = 0
        while (i < a.length) { acc += a(i).toDouble * b(i).toDouble; i += 1 }
        val g = got(r).getDouble(0)
        assert(java.lang.Double.doubleToRawLongBits(g) == java.lang.Double.doubleToRawLongBits(acc) ||
          (g.isNaN && acc.isNaN),
          s"dot_product != driver fold at row $r: $g vs $acc")
      } else assert(got(r).isNullAt(0), s"length mismatch must be null at row $r")
    }
  }

  test("withExecutedMode appends to pre-existing excludedRules and restores on exit") {
    val key = "spark.sql.optimizer.excludedRules"
    val localRel = "org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation"
    val callerRule = "org.apache.spark.sql.catalyst.optimizer.CombineFilters"
    val before = spark.conf.getOption(key)
    try {
      // caller-configured exclusion must SURVIVE inside the differential
      spark.conf.set(key, callerRule)
      PropertyTestKit.withExecutedMode(spark, "interpreted") {
        val rules = spark.conf.get(key).split(",").map(_.trim).toSet
        assert(rules.contains(callerRule), "caller exclusion clobbered")
        assert(rules.contains(localRel), "kit exclusion missing")
      }
      assert(spark.conf.get(key) == callerRule, "prior value not restored")
      // already-present kit rule must not duplicate
      spark.conf.set(key, localRel)
      PropertyTestKit.withExecutedMode(spark, "interpreted") {
        assert(spark.conf.get(key).split(",").count(_.trim == localRel) == 1)
      }
      // unset before → unset after
      spark.conf.unset(key)
      PropertyTestKit.withExecutedMode(spark, "interpreted") {
        assert(spark.conf.get(key) == localRel)
      }
      assert(spark.conf.getOption(key).isEmpty, "unset-ness not restored")
    } finally before match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }
}
