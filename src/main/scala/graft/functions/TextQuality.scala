package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The Gopher document-quality rules as ONE native pass over the document's
  * UTF-8 bytes — the kernel under [[graft.ops.TextAnalysis.gopherFlags]].
  * The Column spelling ([[graft.ops.TextAnalysis.gopherFlagsReference]])
  * runs four regex extractions, a split and four interpreted `filter`
  * lambdas with a regex each per document.
  *
  * Pinned to the Column spelling by a differential spec. What it reproduces:
  *   - words are maximal runs outside Java regex `\s` (ASCII space, \t, \n,
  *     \x0B, \f, \r); a word is alphabetic when it holds an ASCII letter;
  *   - symbols are `#` plus `...`/`…` matches counted non-overlapping, left
  *     to right;
  *   - lines split on \n; Spark `trim` strips only U+0020, and a line
  *     counts when anything is left; a bullet line starts `*`, `•`, `-` or
  *     `[0-9]+[.)]` followed by a `\s` character; an ellipsis line ends in
  *     `...`/`…`, optionally followed by one final line terminator (\r,
  *     U+0085, U+2028, U+2029), which Java's `$` also matches before;
  *   - the gate compares the unrounded fractions; each reported fraction is
  *     `round(·, 4)` HALF_UP;
  *   - null text gives the struct the Column spelling gives, which depends
  *     on Spark's `size(null)` (-1 under `legacySizeOfNull`, else null),
  *     captured at construction as [[org.apache.spark.sql.catalyst
  *     .expressions.Size]] captures it.
  */
case class GopherFlags(child: Expression,
    legacySizeOfNull: Boolean = SQLConf.get.legacySizeOfNull) extends UnaryExpression {

  override def dataType: DataType = GopherFlags.Schema

  override def nullable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(s"gopher_flags requires string input, got $other")
    }

  override def eval(input: InternalRow): Any =
    GopherFlags.flags(child.eval(input).asInstanceOf[UTF8String], legacySizeOfNull)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val obj = GopherFlags.getClass.getName.stripSuffix("$") + "$.MODULE$"
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      |${c.code}
      |${CodeGenerator.javaType(dataType)} ${ev.value} =
      |  $obj.flags(${c.isNull} ? null : ${c.value}, $legacySizeOfNull);
      |""".stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): GopherFlags =
    copy(child = newChild)

  override def prettyName: String = "gopher_flags"
}

object GopherFlags {

  val Schema: StructType = StructType(Seq(
    StructField("alpha_word_frac", DoubleType),
    StructField("symbol_ratio", DoubleType),
    StructField("bullet_line_frac", DoubleType),
    StructField("ellipsis_line_frac", DoubleType),
    StructField("gopher_pass", BooleanType)))

  // UTF-8 bytes of the non-ASCII code points the rules name
  private val E2 = 0xe2.toByte
  private val X80 = 0x80.toByte

  @inline private def isSpace(b: Byte): Boolean =
    b == ' ' || (b >= '\t' && b <= '\r') // \t \n \x0B \f \r

  @inline private def isDigit(b: Byte): Boolean = b >= '0' && b <= '9'

  @inline private def isLetter(b: Byte): Boolean =
    (b >= 'a' && b <= 'z') || (b >= 'A' && b <= 'Z')

  /** `...` or `…` (E2 80 A6) starts at `i` and ends by `end`. */
  @inline private def ellipsisAt(b: Array[Byte], i: Int, end: Int): Boolean =
    i + 3 <= end && (
      (b(i) == '.' && b(i + 1) == '.' && b(i + 2) == '.') ||
        (b(i) == E2 && b(i + 1) == X80 && b(i + 2) == 0xa6.toByte))

  /** Byte length of the one line terminator Java's `$` matches before when
    * it ends `[from, end)`: \r, U+0085 (C2 85), U+2028/9 (E2 80 A8/A9).
    */
  private def finalTerminator(b: Array[Byte], from: Int, end: Int): Int =
    if (end - from >= 1 && b(end - 1) == '\r') 1
    else if (end - from >= 2 && b(end - 2) == 0xc2.toByte && b(end - 1) == 0x85.toByte) 2
    else if (end - from >= 3 && b(end - 3) == E2 && b(end - 2) == X80 &&
      (b(end - 1) == 0xa8.toByte || b(end - 1) == 0xa9.toByte)) 3
    else 0

  /** `^([*•\-]|[0-9]+[.)])\s` on the trimmed line `[from, end)`. */
  private def isBullet(b: Array[Byte], from: Int, end: Int): Boolean = {
    var p = from
    val c = b(p)
    if (c == '*' || c == '-') p += 1
    else if (p + 3 <= end && c == E2 && b(p + 1) == X80 && b(p + 2) == 0xa2.toByte) p += 3
    else if (isDigit(c)) {
      while (p < end && isDigit(b(p))) p += 1
      if (p < end && (b(p) == '.' || b(p) == ')')) p += 1 else return false
    } else return false
    p < end && isSpace(b(p))
  }

  /** `(\.\.\.|…)$` on the trimmed line `[from, end)`. */
  private def endsWithEllipsis(b: Array[Byte], from: Int, end: Int): Boolean =
    (end - 3 >= from && ellipsisAt(b, end - 3, end)) || {
      val t = finalTerminator(b, from, end)
      t > 0 && end - t - 3 >= from && ellipsisAt(b, end - t - 3, end - t)
    }

  /** The scalar kernel (shared by interpreted eval and codegen). */
  def flags(text: UTF8String, legacySizeOfNull: Boolean): InternalRow = {
    if (text == null) {
      // every count is size(null): -1 under legacySizeOfNull, else null
      return if (legacySizeOfNull) new GenericInternalRow(Array[Any](-1.0, -2.0, -1.0, -1.0, false))
      else new GenericInternalRow(5)
    }
    val b = text.getBytes
    val n = b.length
    var words, alphaWords, symbols, lines, bullets, ellipsisLines = 0
    var inWord, wordAlpha = false
    var nextEllipsis = 0 // matches are non-overlapping: none may start before this
    var lineStart = 0
    var i = 0
    while (i <= n) {
      if (i == n || b(i) == '\n') {
        var ts = lineStart
        while (ts < i && b(ts) == ' ') ts += 1
        if (ts < i) {
          var te = i
          while (b(te - 1) == ' ') te -= 1
          lines += 1
          if (isBullet(b, ts, te)) bullets += 1
          if (endsWithEllipsis(b, ts, te)) ellipsisLines += 1
        }
        lineStart = i + 1
      }
      if (i < n) {
        val c = b(i)
        if (isSpace(c)) {
          if (inWord) {
            words += 1
            if (wordAlpha) alphaWords += 1
            inWord = false
          }
        } else {
          if (!inWord) { inWord = true; wordAlpha = false }
          if (isLetter(c)) wordAlpha = true
        }
        if (c == '#') symbols += 1
        else if (i >= nextEllipsis && ellipsisAt(b, i, n)) {
          symbols += 1
          nextEllipsis = i + 3
        }
      }
      i += 1
    }
    if (inWord) {
      words += 1
      if (wordAlpha) alphaWords += 1
    }
    val nWords = Math.max(words, 1).toDouble
    val nLines = Math.max(lines, 1).toDouble
    val alphaFrac = alphaWords / nWords
    val symbolRatio = symbols / nWords
    val bulletFrac = bullets / nLines
    val ellipsisFrac = ellipsisLines / nLines
    val pass = alphaFrac >= 0.8 && symbolRatio <= 0.1 && bulletFrac <= 0.9 && ellipsisFrac <= 0.3
    new GenericInternalRow(Array[Any](QualitySignals.round4(alphaFrac),
      QualitySignals.round4(symbolRatio), QualitySignals.round4(bulletFrac),
      QualitySignals.round4(ellipsisFrac), pass))
  }

  /** Column-facing constructor (Spark 4 Column↔Expression bridge). */
  def gopher_flags(text: Column): Column =
    ColumnBridge.column(GopherFlags(ColumnBridge.expression(text)))
}

/** The pre-training quality signals (word count, mean word length,
  * punctuation ratio, stopword ratio and the [0,1] composite score) as ONE
  * native pass — the kernel under [[graft.ops.TextAnalysis.qualityStruct]]
  * and `qualityStructStaged`. The Column spelling
  * ([[graft.ops.TextAnalysis.qualityStructStagedReference]]) folds the
  * tokens through an interpreted `aggregate` and an `isin` `filter` and
  * strips punctuation with a regex replace. The stopword set is the
  * constant [[QualitySignals.Stopwords]], so the SQL form
  * `quality_signals(text, toks)` scores exactly as `qualityStruct` does.
  *
  * Pinned to the Column spelling by a differential spec. What it reproduces:
  *   - lengths count code points, as `length` does;
  *   - punctuation is the ASCII set `[!"#$%&'()*+,\-./:;<=>?@\[\]^_`{|}~]`
  *     (backslash is not in it);
  *   - a null token makes the mean word length null (the fold's sum goes
  *     null) and never counts as a stopword;
  *   - `greatest`/`least` skip null operands, so a null signal enters the
  *     score as its 1.0 cap; null text gives a null score;
  *   - the score keeps the Column spelling's left-to-right summation order,
  *     and each reported value is `round(·, 4)` HALF_UP;
  *   - `size` of a null token array is -1 under `legacySizeOfNull`, else
  *     null, captured at construction as `Size` captures it.
  */
case class QualitySignals(text: Expression, toks: Expression,
    legacySizeOfNull: Boolean = SQLConf.get.legacySizeOfNull) extends BinaryExpression {

  override def left: Expression = text
  override def right: Expression = toks

  override def dataType: DataType = QualitySignals.Schema

  override def nullable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult =
    (text.dataType, toks.dataType) match {
      case (StringType, ArrayType(StringType, _)) => TypeCheckResult.TypeCheckSuccess
      case (t, a) => TypeCheckResult.TypeCheckFailure(
        s"quality_signals requires (string, array<string>) input, got ($t, $a)")
    }

  override def eval(input: InternalRow): Any =
    QualitySignals.signals(text.eval(input).asInstanceOf[UTF8String],
      toks.eval(input).asInstanceOf[ArrayData], legacySizeOfNull)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val obj = QualitySignals.getClass.getName.stripSuffix("$") + "$.MODULE$"
    val t = text.genCode(ctx)
    val a = toks.genCode(ctx)
    ev.copy(code = code"""
      |${t.code}
      |${a.code}
      |${CodeGenerator.javaType(dataType)} ${ev.value} = $obj.signals(
      |  ${t.isNull} ? null : ${t.value}, ${a.isNull} ? null : ${a.value},
      |  $legacySizeOfNull);
      |""".stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): QualitySignals =
    copy(text = newLeft, toks = newRight)

  override def prettyName: String = "quality_signals"
}

object QualitySignals {

  val Schema: StructType = StructType(Seq(
    StructField("n_words", LongType),
    StructField("mean_word_len", DoubleType),
    StructField("punct_ratio", DoubleType),
    StructField("stopword_ratio", DoubleType),
    StructField("quality", DoubleType)))

  /** Frequent-word profiles of the language-ID heuristic
    * ([[graft.ops.TextAnalysis.langId]] reads them as `LangProfiles`).
    */
  val LangProfiles: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "is"),
    "de" -> Seq("der", "und", "die", "das", "ist"),
    "fr" -> Seq("le", "la", "et", "les", "est"),
    "es" -> Seq("el", "de", "la", "y", "es"),
    "zh" -> Seq.empty) // CJK detected by charset in langId

  /** The quality score's stopwords: every profile's words. */
  val Stopwords: Seq[String] = LangProfiles.values.flatten.toSeq.distinct

  private val StopSet: java.util.HashSet[UTF8String] = {
    val s = new java.util.HashSet[UTF8String]()
    Stopwords.foreach(w => s.add(UTF8String.fromString(w)))
    s
  }

  /** Spark's `round(x, 4)` on a double: HALF_UP on the shortest decimal
    * form, NaN and infinities unchanged.
    */
  def round4(x: Double): Double =
    if (x.isNaN || x.isInfinite) x
    else java.math.BigDecimal.valueOf(x).setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()

  private def round4(x: java.lang.Double): Any = if (x == null) null else round4(x.doubleValue)

  private def isPunct(b: Byte): Boolean =
    (b >= '!' && b <= '/') || (b >= ':' && b <= '@') ||
      (b >= '[' && b <= '`' && b != '\\') || (b >= '{' && b <= '~')

  /** `greatest(x, 1.0)` with null skipped. */
  private def atLeastOne(x: java.lang.Double): Double =
    if (x == null || x < 1.0) 1.0 else x

  /** `least(x, 1.0)` with null skipped (NaN orders above every double). */
  private def atMostOne(x: java.lang.Double): Double =
    if (x == null || x.isNaN || x > 1.0) 1.0 else x

  private def div(a: java.lang.Double, b: Double): java.lang.Double =
    if (a == null) null else a / b

  private def times(a: java.lang.Double, b: Double): java.lang.Double =
    if (a == null) null else a * b

  /** The scalar kernel (shared by interpreted eval and codegen). */
  def signals(text: UTF8String, toks: ArrayData, legacySizeOfNull: Boolean): InternalRow = {
    val nullSize: java.lang.Double = if (legacySizeOfNull) -1.0 else null
    var nWords, sumLen, stops: java.lang.Double = nullSize
    if (toks != null) {
      val n = toks.numElements()
      var len = 0L
      var lenNull = false
      var s = 0
      var i = 0
      while (i < n) {
        if (toks.isNullAt(i)) lenNull = true
        else {
          val t = toks.getUTF8String(i)
          len += t.numChars
          if (StopSet.contains(t)) s += 1
        }
        i += 1
      }
      nWords = n.toDouble
      sumLen = if (lenNull) null else len.toDouble
      stops = s.toDouble
    } else sumLen = null // aggregate over a null array is null
    val meanWordLen = div(sumLen, atLeastOne(nWords))
    val stopRatio = div(stops, atLeastOne(nWords))
    val punctRatio: java.lang.Double =
      if (text == null) null
      else {
        val b = text.getBytes
        var p = 0
        var i = 0
        while (i < b.length) { if (isPunct(b(i))) p += 1; i += 1 }
        p / atLeastOne(text.numChars.toDouble)
      }
    val score: java.lang.Double =
      if (text == null) null
      else atMostOne(div(nWords, 100.0)) * 0.4 +
        atMostOne(div(meanWordLen, 8.0)) * 0.2 +
        (1.0 - atMostOne(times(punctRatio, 5.0))) * 0.2 +
        atMostOne(times(stopRatio, 4.0)) * 0.2
    new GenericInternalRow(Array[Any](
      if (nWords == null) null else nWords.longValue,
      round4(meanWordLen), round4(punctRatio), round4(stopRatio), round4(score)))
  }

  /** Column-facing constructor (Spark 4 Column↔Expression bridge). */
  def quality_signals(text: Column, toks: Column): Column =
    ColumnBridge.column(QualitySignals(ColumnBridge.expression(text),
      ColumnBridge.expression(toks)))
}
