package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType, StringType}

/** Hashed bag-of-tokens counts (the hashing trick) as a native Catalyst
  * `Expression` — the kernel under [[graft.ops.TextAnalysis.hashedTokenFeatures]]
  * and the `HashedTextVectorization` processor. Token t increments bucket
  * `md5_hash60(t) % dim` (hash60 is never negative, so `%` is `pmod`).
  *
  * The Column spelling folds a dim-long accumulator through an interpreted
  * `transform` per token, and the vectorizer's L2 norm referenced the whole
  * fold from inside its divide lambda, re-running it once per element:
  * O(dim²·tokens) per row. This expression is one pass filling a primitive
  * `long[dim]` (O(tokens + dim)), with the norm fused on the same array.
  *
  * `norm` picks the output, each pinned bit-identical (values AND dataType)
  * to the Column spelling by a differential spec:
  *   - `count`: `array<bigint>` counts (the per-token `aggregate` fold);
  *   - `none`: the same counts as `array<double>`;
  *   - `l2`: the double counts divided by `sqrt` of their left-to-right sum
  *     of squares from 0.0; an all-zero vector stays all-zero. Its elements
  *     are declared nullable, as the Column spelling's `CaseWhen` over a
  *     division declared them.
  * Null input → null; null tokens are skipped.
  */
case class HashedTokenCounts(child: Expression, dim: Int, norm: String = "count")
    extends UnaryExpression {

  require(dim > 0, s"dim must be positive, got $dim")
  require(HashedTokenCounts.Norms.contains(norm),
    s"norm must be one of ${HashedTokenCounts.Norms.mkString("|")}, got $norm")

  override def dataType: DataType = norm match {
    case "count" => ArrayType(LongType, containsNull = false)
    case "none" => ArrayType(DoubleType, containsNull = false)
    case "l2" => ArrayType(DoubleType, containsNull = true)
  }

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case other =>
        TypeCheckResult.TypeCheckFailure(
          s"hashed_token_counts requires array<string> input, got $other")
    }

  override protected def nullSafeEval(input: Any): Any =
    HashedTokenCounts.vector(input.asInstanceOf[ArrayData], dim, norm)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val obj = HashedTokenCounts.getClass.getName.stripSuffix("$") + "$.MODULE$"
    defineCodeGen(ctx, ev, c => s"""$obj.vector($c, $dim, "$norm")""")
  }

  override protected def withNewChildInternal(newChild: Expression): HashedTokenCounts =
    copy(child = newChild)

  override def prettyName: String = "hashed_token_counts"
}

object HashedTokenCounts {

  private val Norms: Seq[String] = Seq("count", "none", "l2")

  /** One pass over the tokens into a primitive bucket-count array. */
  private def counts(toks: ArrayData, dim: Int): Array[Long] = {
    val out = new Array[Long](dim)
    val n = toks.numElements()
    var i = 0
    while (i < n) {
      if (!toks.isNullAt(i))
        out((Md5Hash60.hash(toks.getUTF8String(i).getBytes) % dim).toInt) += 1
      i += 1
    }
    out
  }

  /** The scalar kernel (shared by interpreted eval and codegen). */
  def vector(toks: ArrayData, dim: Int, norm: String): ArrayData = {
    val c = counts(toks, dim)
    if (norm == "count") return UnsafeArrayData.fromPrimitiveArray(c)
    val v = new Array[Double](dim)
    var j = 0
    while (j < dim) { v(j) = c(j).toDouble; j += 1 }
    if (norm == "l2") {
      var ss = 0.0
      j = 0
      while (j < dim) { ss += v(j) * v(j); j += 1 }
      val l2 = Math.sqrt(ss)
      if (l2 != 0.0) {
        j = 0
        while (j < dim) { v(j) = v(j) / l2; j += 1 }
      }
    }
    UnsafeArrayData.fromPrimitiveArray(v)
  }

  /** Column-facing constructor (Spark 4 Column↔Expression bridge). */
  def hashed_token_counts(toks: Column, dim: Int, norm: String = "count"): Column =
    ColumnBridge.column(HashedTokenCounts(ColumnBridge.expression(toks), dim, norm))
}
