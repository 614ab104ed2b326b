package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native word tokenizer — the hot kernel under every text operator
  * (quality scoring, MinHash shingles, BM25, bigram LM, decontamination;
  * reference behavior: bears' text processors tokenize with a unicode
  * word-class split, `src/bears/processor/...`). The Column spelling
  * `filter(split(lower(c), "[^\p{L}\p{N}_]+"), length >= 1)` evaluates the
  * regex split plus an interpreted per-element lambda (~µs/token); at 100 TB
  * the per-row CPU constant is the throughput wall. This expression is one
  * code-point scan per document inside whole-stage codegen.
  *
  * Semantics are pinned to the built-in spelling by a differential spec
  * (NativeProbeSpec): lowercase in the root locale, token chars are exactly
  * `[\p{L}\p{N}_]` (Unicode letter, any Unicode number category
  * Nd/Nl/No, underscore), maximal runs, empties dropped. Tokens do not
  * depend on the JVM's default locale. `lower()` lowercases non-ASCII text
  * in that locale, so the two agree under every locale whose case rules are
  * the root locale's (not tr, az or lt, where `I` lowercases otherwise).
  */
case class WordTokens(child: Expression, minLen: Int = 1) extends UnaryExpression {

  require(minLen >= 1, s"minimum token length must be >= 1, got $minLen")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other =>
        TypeCheckResult.TypeCheckFailure(s"word_tokens requires string input, got $other")
    }

  override protected def nullSafeEval(input: Any): Any =
    WordTokens.tokenize(input.asInstanceOf[UTF8String], minLen)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val obj = WordTokens.getClass.getName.stripSuffix("$") + "$.MODULE$"
    defineCodeGen(ctx, ev, c => s"$obj.tokenize($c, $minLen)")
  }

  override protected def withNewChildInternal(newChild: Expression): WordTokens =
    copy(child = newChild)

  override def prettyName: String = "word_tokens"
}

object WordTokens {

  /** True when the code point belongs to `[\p{L}\p{N}_]` — Java regex
    * `\p{L}` is the five Unicode letter categories (= Character.isLetter)
    * and `\p{N}` is Nd ∪ Nl ∪ No.
    */
  @inline private[functions] def isWordCp(cp: Int): Boolean =
    cp == '_' || Character.isLetter(cp) || {
      val t = Character.getType(cp)
      t == Character.DECIMAL_DIGIT_NUMBER || t == Character.LETTER_NUMBER ||
        t == Character.OTHER_NUMBER
    }

  /** The scalar kernel (shared by interpreted eval and codegen): lowercase
    * once (root locale), then emit maximal `[\p{L}\p{N}_]` runs of at least `minLen` code
    * points in a single code-point scan — no regex, no per-token closure.
    * (`minLen` counts code points, matching `length()` in the built-in
    * `filter(..., length(t) >= k)` spelling.)
    */
  def tokenize(s: UTF8String, minLen: Int): ArrayData = {
    val lower = s.toString.toLowerCase(java.util.Locale.ROOT)
    val n = lower.length
    val out = new java.util.ArrayList[AnyRef](Math.max(8, n / 6))
    var i = 0
    var start = -1
    var cps = 0
    while (i < n) {
      val cp = lower.codePointAt(i)
      if (isWordCp(cp)) {
        if (start < 0) { start = i; cps = 0 }
        cps += 1
      } else if (start >= 0) {
        if (cps >= minLen) out.add(UTF8String.fromString(lower.substring(start, i)))
        start = -1
      }
      i += Character.charCount(cp)
    }
    if (start >= 0 && cps >= minLen)
      out.add(UTF8String.fromString(lower.substring(start, n)))
    new GenericArrayData(out.toArray)
  }

  /** Column-facing constructor (Spark 4 Column↔Expression bridge). */
  def word_tokens(c: Column, minLen: Int = 1): Column =
    ColumnBridge.column(WordTokens(ColumnBridge.expression(c), minLen))
}

/** `lower()` in the root locale, the lowercasing [[WordTokens]] applies.
  * Spark's `lower()` lowercases non-ASCII text in the JVM's default locale
  * (under tr_TR, `TITLE café` becomes `tıtle café`); this does not. All-ASCII
  * text takes the same byte path as `lower()`.
  */
case class LowerRoot(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(s"lower_root requires string input, got $other")
    }

  override protected def nullSafeEval(input: Any): Any =
    LowerRoot.lower(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val obj = LowerRoot.getClass.getName.stripSuffix("$") + "$.MODULE$"
    defineCodeGen(ctx, ev, c => s"$obj.lower($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): LowerRoot =
    copy(child = newChild)

  override def prettyName: String = "lower_root"
}

object LowerRoot {

  /** The scalar kernel (shared by interpreted eval and codegen). */
  def lower(s: UTF8String): UTF8String =
    if (s.isFullAscii) s.toLowerCase
    else UTF8String.fromString(s.toString.toLowerCase(java.util.Locale.ROOT))

  /** Column-facing constructor (Spark 4 Column↔Expression bridge). */
  def lower_root(c: Column): Column = ColumnBridge.column(LowerRoot(ColumnBridge.expression(c)))
}

/** k-gram shingling over a token array as a native expression. The Column
  * spelling (`transform(sequence(...), i => concat_ws(" ", slice(toks, i,
  * k)))`) allocates a slice + evaluates an interpreted lambda per gram
  * (~24 µs/gram measured at sf0.1); this is one pass building each gram
  * with a single buffer inside codegen.
  *
  * Semantics pinned by differential spec: fewer than k tokens (including
  * zero) yields one gram joining all tokens (`[""]` for an empty array —
  * `concat_ws` over nothing); otherwise n-k+1 space-joined windows. Null
  * elements are skipped by the join exactly like `concat_ws`.
  */
case class ShinglesFromTokens(child: Expression, k: Int) extends UnaryExpression {

  require(k >= 1, s"shingle size must be >= 1, got $k")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case other =>
        TypeCheckResult.TypeCheckFailure(
          s"shingles_from_tokens requires array<string> input, got $other")
    }

  override protected def nullSafeEval(input: Any): Any =
    ShinglesFromTokens.shingle(input.asInstanceOf[ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val obj = ShinglesFromTokens.getClass.getName.stripSuffix("$") + "$.MODULE$"
    defineCodeGen(ctx, ev, c => s"$obj.shingle($c, $k)")
  }

  override protected def withNewChildInternal(newChild: Expression): ShinglesFromTokens =
    copy(child = newChild)

  override def prettyName: String = "shingles_from_tokens"
}

object ShinglesFromTokens {

  /** Space-join of tokens[from, until), skipping nulls like `concat_ws`. */
  private def joinWs(toks: Array[UTF8String], from: Int, until: Int): UTF8String = {
    val sb = new java.lang.StringBuilder(16 * (until - from))
    var first = true
    var i = from
    while (i < until) {
      val t = toks(i)
      if (t != null) {
        if (!first) sb.append(' ')
        sb.append(t.toString)
        first = false
      }
      i += 1
    }
    UTF8String.fromString(sb.toString)
  }

  /** The scalar kernel (shared by interpreted eval and codegen). */
  def shingle(arr: ArrayData, k: Int): ArrayData = {
    val n = arr.numElements()
    val toks = new Array[UTF8String](n)
    var i = 0
    while (i < n) {
      toks(i) = if (arr.isNullAt(i)) null else arr.getUTF8String(i)
      i += 1
    }
    if (n < k) {
      new GenericArrayData(Array[AnyRef](joinWs(toks, 0, n)))
    } else {
      val out = new Array[AnyRef](n - k + 1)
      var j = 0
      while (j < out.length) {
        out(j) = joinWs(toks, j, j + k)
        j += 1
      }
      new GenericArrayData(out)
    }
  }

  /** Column-facing constructor (Spark 4 Column↔Expression bridge). */
  def shingles_from_tokens(toks: Column, k: Int): Column =
    ColumnBridge.column(ShinglesFromTokens(ColumnBridge.expression(toks), k))
}
