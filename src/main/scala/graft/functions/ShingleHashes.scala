package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** The word k-grams of one document, `shingles_from_tokens(word_tokens(text,
  * 1), k)`, as byte ranges of one buffer, built in a single pass over the
  * document's UTF-8 bytes: ASCII letters are lowercased, maximal
  * `[a-z0-9_]` runs are the tokens, and the buffer holds each token followed
  * by one space, so gram j is the contiguous range from token j to the end
  * of token j+k-1 (the space-joined gram the composed chain builds).
  *
  * The pass applies only when every word code point of the document is
  * ASCII. [[scan]] refuses a document holding a non-ASCII code point that is
  * a word code point before or after lowercasing (`É`, `İ`, `٣`, `Σ`), or a
  * malformed UTF-8 sequence; the caller then runs the composed chain. Any
  * other non-ASCII code point (curly quotes, dashes, NBSP, emoji) is a
  * separator in both, so such documents keep the fast pass. One instance per
  * thread, reused across rows.
  */
private[graft] final class TextGrams {
  private var buf = new Array[Byte](256)
  private var starts = new Array[Int](64)
  private var n = 0

  def bytes: Array[Byte] = buf

  /** Fills the buffer from `text`; false when the document needs the
    * composed chain.
    */
  def scan(text: UTF8String): Boolean = {
    val base = text.getBaseObject
    val off = text.getBaseOffset
    val len = text.numBytes
    if (buf.length < len + 1) buf = new Array[Byte](len + 1)
    if (starts.length < len / 2 + 2) starts = new Array[Int](len / 2 + 2)
    var i = 0
    var w = 0
    var t = 0
    var inToken = false
    while (i < len) {
      val b = Platform.getByte(base, off + i)
      val c = if (b >= 'A' && b <= 'Z') (b + 32).toByte else b
      if ((c >= 'a' && c <= 'z') || (c >= '0' && c <= '9') || c == '_') {
        if (!inToken) { starts(t) = w; t += 1; inToken = true }
        buf(w) = c
        w += 1
        i += 1
      } else {
        // any other ASCII byte is a separator; a non-ASCII code point must be one
        val step = if (b >= 0) 1 else TextGrams.separatorLength(base, off + i, len - i)
        if (step == 0) return false
        if (inToken) {
          buf(w) = ' '
          w += 1
          inToken = false
        }
        i += step
      }
    }
    if (inToken) { buf(w) = ' '; w += 1 }
    starts(t) = w
    n = t
    true
  }

  /** Number of k-grams: one when there are fewer than k tokens (the gram
    * joining them all, `""` for none), else n-k+1.
    */
  def grams(k: Int): Int = if (n < k) 1 else n - k + 1

  /** First byte of gram j. */
  def from(j: Int): Int = starts(j)

  /** Byte length of gram j of size k. */
  def length(j: Int, k: Int): Int = Math.max(starts(Math.min(j + k, n)) - 1 - starts(j), 0)
}

private[graft] object TextGrams {

  private val scratch = new ThreadLocal[TextGrams] {
    override def initialValue(): TextGrams = new TextGrams
  }

  def get(): TextGrams = scratch.get()

  /** The composed chain's grams, for a document [[TextGrams.scan]] refuses. */
  def chain(text: UTF8String, k: Int): ArrayData =
    ShinglesFromTokens.shingle(WordTokens.tokenize(text, 1), k)

  @inline private def continuation(base: AnyRef, at: Long): Int = {
    val c = Platform.getByte(base, at) & 0xff
    if ((c & 0xc0) == 0x80) c & 0x3f else -1
  }

  /** Byte length of the well-formed UTF-8 code point at `at` when it is a
    * separator before and after lowercasing; 0 when it is a word code point
    * or malformed.
    */
  def separatorLength(base: AnyRef, at: Long, left: Int): Int = {
    val b0 = Platform.getByte(base, at) & 0xff
    val need = if (b0 < 0xc2) 0 else if (b0 < 0xe0) 2 else if (b0 < 0xf0) 3 else if (b0 < 0xf5) 4 else 0
    if (need == 0 || left < need) return 0
    val min = if (need == 2) 0x80 else if (need == 3) 0x800 else 0x10000
    var cp = b0 & (0x7f >> need)
    var i = 1
    while (i < need) {
      val c = continuation(base, at + i)
      if (c < 0) return 0
      cp = (cp << 6) | c
      i += 1
    }
    if (cp < min || cp > Character.MAX_CODE_POINT || (cp >= 0xd800 && cp <= 0xdfff)) 0
    else if (WordTokens.isWordCp(cp) || WordTokens.isWordCp(Character.toLowerCase(cp))) 0
    else need
  }
}

/** MinHash signature of a document's text as ONE native pass — the kernel
  * under [[graft.ops.Dedup.minhashSignature]]. It is bit-identical to the
  * composed chain `minhash_signature(shingles_from_tokens(word_tokens(text,
  * 1), k), numHashes)`, which tokenizes into strings, joins each gram into
  * a new string and then hashes it; here each gram is a byte range of one
  * reused buffer ([[TextGrams]]) fed straight to the salted md5.
  *
  * A document with a non-ASCII word code point goes through the composed
  * chain itself. Null text gives `numHashes` null elements, as the chain
  * does; any other text has at least one gram (`""` for no tokens), so
  * every element is set.
  */
case class MinHashText(child: Expression, k: Int, numHashes: Int) extends UnaryExpression {

  require(k >= 1, s"shingle size must be >= 1, got $k")
  require(numHashes >= 1, s"numHashes must be >= 1, got $numHashes")

  override def dataType: DataType = ArrayType(LongType, containsNull = true)

  override def nullable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(s"minhash_text requires string input, got $other")
    }

  override def eval(input: InternalRow): Any =
    MinHashText.signature(child.eval(input).asInstanceOf[UTF8String], k, numHashes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val obj = MinHashText.getClass.getName.stripSuffix("$") + "$.MODULE$"
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      |${c.code}
      |${CodeGenerator.javaType(dataType)} ${ev.value} =
      |  $obj.signature(${c.isNull} ? null : ${c.value}, $k, $numHashes);
      |""".stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashText =
    copy(child = newChild)

  override def prettyName: String = "minhash_text"
}

object MinHashText {

  /** The scalar kernel (shared by interpreted eval and codegen). */
  def signature(text: UTF8String, k: Int, numHashes: Int): ArrayData = {
    val grams = TextGrams.get()
    if (text == null || !grams.scan(text))
      return MinHashSignature.signature(if (text == null) null else TextGrams.chain(text, k), numHashes)
    val salts = MinHashSignature.saltBytes(numHashes)
    val md = Md5Hash60.hasher()
    val b = grams.bytes
    val mins = Array.fill(numHashes)(Long.MaxValue)
    val n = grams.grams(k)
    var g = 0
    while (g < n) {
      val from = grams.from(g)
      val len = grams.length(g, k)
      var j = 0
      while (j < numHashes) {
        val h = md.hash(salts(j), b, from, len)
        if (h < mins(j)) mins(j) = h
        j += 1
      }
      g += 1
    }
    UnsafeArrayData.fromPrimitiveArray(mins)
  }

  /** Column-facing constructor (Spark 4 Column↔Expression bridge). */
  def minhash_text(text: Column, k: Int, numHashes: Int): Column =
    ColumnBridge.column(MinHashText(ColumnBridge.expression(text), k, numHashes))
}

/** The sorted, distinct 60-bit hashes of a document's word k-grams — the
  * per-document summary the near-dup verify shuffles instead of shingle
  * strings. Element-identical to `array_sort(array_distinct(transform(
  * shingles_from_tokens(word_tokens(text, 1), k), md5_hash60)))`, built in
  * the one pass of [[TextGrams]] (the composed chain for a document with a
  * non-ASCII word code point). Null text gives null.
  */
case class ShingleHashes(child: Expression, k: Int) extends UnaryExpression {

  require(k >= 1, s"shingle size must be >= 1, got $k")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(s"shingle_hashes requires string input, got $other")
    }

  override protected def nullSafeEval(input: Any): Any =
    ShingleHashes.hashes(input.asInstanceOf[UTF8String], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val obj = ShingleHashes.getClass.getName.stripSuffix("$") + "$.MODULE$"
    defineCodeGen(ctx, ev, c => s"$obj.hashes($c, $k)")
  }

  override protected def withNewChildInternal(newChild: Expression): ShingleHashes =
    copy(child = newChild)

  override def prettyName: String = "shingle_hashes"
}

object ShingleHashes {

  /** The scalar kernel (shared by interpreted eval and codegen). */
  def hashes(text: UTF8String, k: Int): ArrayData = {
    val grams = TextGrams.get()
    val hs =
      if (grams.scan(text)) {
        val md = Md5Hash60.hasher()
        val b = grams.bytes
        Array.tabulate(grams.grams(k))(g => md.hash(Md5Hash60.NoSalt, b, grams.from(g), grams.length(g, k)))
      } else {
        val sh = TextGrams.chain(text, k)
        Array.tabulate(sh.numElements())(g => Md5Hash60.hash(sh.getUTF8String(g).getBytes))
      }
    java.util.Arrays.sort(hs)
    var d = 0
    var i = 0
    while (i < hs.length) {
      if (d == 0 || hs(i) != hs(d - 1)) { hs(d) = hs(i); d += 1 }
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(java.util.Arrays.copyOf(hs, d))
  }

  /** Column-facing constructor (Spark 4 Column↔Expression bridge). */
  def shingle_hashes(text: Column, k: Int): Column =
    ColumnBridge.column(ShingleHashes(ColumnBridge.expression(text), k))
}

/** Jaccard similarity of two sorted, distinct `array<bigint>` sets (what
  * [[ShingleHashes]] builds) as one merge count: |A∩B| / |A∪B|, with
  * [[graft.ops.Dedup.jaccardShingles]]' edge semantics — two empty sets give
  * 0.0, and a null set gives what its `size(array_intersect(..)) /
  * size(array_union(..))` gives: null, or 1.0 under `legacySizeOfNull`
  * (-1 / -1), captured at construction as `Size` captures it. A null
  * element counts as one set member, as the array set functions count it.
  */
case class SortedJaccard(left: Expression, right: Expression,
    legacySizeOfNull: Boolean = SQLConf.get.legacySizeOfNull) extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def nullable: Boolean = !legacySizeOfNull && (left.nullable || right.nullable)

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) => TypeCheckResult.TypeCheckSuccess
      case (a, b) => TypeCheckResult.TypeCheckFailure(
        s"sorted_jaccard requires (array<bigint>, array<bigint>) input, got ($a, $b)")
    }

  override def eval(input: InternalRow): Any = {
    val a = left.eval(input).asInstanceOf[ArrayData]
    val b = right.eval(input).asInstanceOf[ArrayData]
    if (a == null || b == null) { if (legacySizeOfNull) 1.0 else null }
    else SortedJaccard.jaccard(a, b)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val obj = SortedJaccard.getClass.getName.stripSuffix("$") + "$.MODULE$"
    val a = left.genCode(ctx)
    val b = right.genCode(ctx)
    ev.copy(code = code"""
      |${a.code}
      |${b.code}
      |boolean ${ev.isNull} = false;
      |double ${ev.value} = 1.0;
      |if (!${a.isNull} && !${b.isNull}) {
      |  ${ev.value} = $obj.jaccard(${a.value}, ${b.value});
      |} else if (!$legacySizeOfNull) {
      |  ${ev.isNull} = true;
      |}
      |""".stripMargin)
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): SortedJaccard =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "sorted_jaccard"
}

object SortedJaccard {

  /** The scalar kernel (shared by interpreted eval and codegen). */
  def jaccard(a: ArrayData, b: ArrayData): Double = {
    val na = a.numElements()
    val nb = b.numElements()
    var i, j, inter = 0
    var nullA, nullB = false
    while (i < na || j < nb) {
      if (i < na && a.isNullAt(i)) { nullA = true; i += 1 }
      else if (j < nb && b.isNullAt(j)) { nullB = true; j += 1 }
      else if (i == na) j += 1
      else if (j == nb) i += 1
      else {
        val x = a.getLong(i)
        val y = b.getLong(j)
        if (x == y) { inter += 1; i += 1; j += 1 }
        else if (x < y) i += 1
        else j += 1
      }
    }
    if (nullA && nullB) inter += 1
    val union = na + nb - inter
    if (union == 0) 0.0 else inter.toDouble / union
  }

  /** Column-facing constructor (Spark 4 Column↔Expression bridge). */
  def sorted_jaccard(a: Column, b: Column): Column =
    ColumnBridge.column(SortedJaccard(ColumnBridge.expression(a), ColumnBridge.expression(b)))
}
