package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Session-extension registration (`SparkSessionExtensions` — the guide's
  * tier (c) integration point): installs graft's native expressions as SQL
  * functions on every session built with
  * `.withExtensions(new GraftExtensions)` or
  * `spark.sql.extensions=graft.functions.GraftExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach { case (name, builder) =>
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo(classOf[GraftExtensions].getName, name),
        builder))
    }
}

object GraftExtensions {

  val functions: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "fnv_hash64" -> ((exprs: Seq[Expression]) => FnvHash64(exprs.head)),
    "md5_hash60" -> ((exprs: Seq[Expression]) => Md5Hash60(exprs.head)),
    "dot_product" -> ((exprs: Seq[Expression]) => DotProduct(exprs.head, exprs(1))),
    "char_entropy" -> ((exprs: Seq[Expression]) => CharEntropy(exprs.head)),
    // SQL form takes the vocabulary as trailing string literals:
    //   vocab_token_count(text, 'the', 'ing', ...)
    "vocab_token_count" -> ((exprs: Seq[Expression]) =>
      VocabTokenCount(exprs.head, exprs.tail.map(literalString("vocab_token_count", _)))),
    "vocab_tokenize" -> ((exprs: Seq[Expression]) =>
      VocabTokenize(exprs.head, exprs.tail.map(literalString("vocab_tokenize", _)))),
    "product_exact" -> ((exprs: Seq[Expression]) => ProductAgg(exprs.head).toAggregateExpression()),
    // optional trailing int literal = minimum token length in code points:
    //   word_tokens(text), word_tokens(text, 2)
    "word_tokens" -> ((exprs: Seq[Expression]) =>
      if (exprs.size >= 2) WordTokens(exprs.head, literalInt("word_tokens", exprs(1)))
      else WordTokens(exprs.head)),
    // SQL form takes the shingle size as a trailing int literal:
    //   shingles_from_tokens(word_tokens(text), 3)
    "shingles_from_tokens" -> ((exprs: Seq[Expression]) =>
      ShinglesFromTokens(exprs.head, literalInt("shingles_from_tokens", exprs(1)))),
    // SQL form takes dim as an int literal and an optional norm literal
    // ('count' | 'none' | 'l2'):
    //   hashed_token_counts(word_tokens(text), 16, 'l2')
    "hashed_token_counts" -> ((exprs: Seq[Expression]) =>
      HashedTokenCounts(exprs.head, literalInt("hashed_token_counts", exprs(1)),
        if (exprs.size >= 3) literalString("hashed_token_counts", exprs(2)) else "count")),
    // SQL form takes the hash-function count as an int literal:
    //   minhash_signature(shingles_from_tokens(word_tokens(text), 3), 4)
    "minhash_signature" -> ((exprs: Seq[Expression]) =>
      MinHashSignature(exprs.head, literalInt("minhash_signature", exprs(1)))),
    // shingle size and hash-function count as int literals:
    //   minhash_text(text, 3, 4), shingle_hashes(text, 3)
    "minhash_text" -> ((exprs: Seq[Expression]) =>
      MinHashText(exprs.head, literalInt("minhash_text", exprs(1)), literalInt("minhash_text", exprs(2)))),
    "shingle_hashes" -> ((exprs: Seq[Expression]) =>
      ShingleHashes(exprs.head, literalInt("shingle_hashes", exprs(1)))),
    "sorted_jaccard" -> ((exprs: Seq[Expression]) => SortedJaccard(exprs.head, exprs(1))),
    "gopher_flags" -> ((exprs: Seq[Expression]) => GopherFlags(exprs.head)),
    "quality_signals" -> ((exprs: Seq[Expression]) => QualitySignals(exprs.head, exprs(1))))

  private def literalString(fn: String, e: Expression): String = {
    require(e.foldable, s"$fn string arguments must be literals, got $e")
    String.valueOf(e.eval(null))
  }

  private def literalInt(fn: String, e: Expression): Int = {
    require(e.foldable, s"$fn size argument must be an int literal, got $e")
    e.eval(null).asInstanceOf[Number].intValue()
  }

  /** Install into an ALREADY-RUNNING session (extensions config only applies
    * at session construction; `getOrCreate` on an active session ignores it).
    */
  def installInto(spark: org.apache.spark.sql.SparkSession): Unit =
    functions.foreach { case (name, builder) =>
      spark.sessionState.functionRegistry
        .createOrReplaceTempFunction(name, builder, "scala_udf")
    }
}
