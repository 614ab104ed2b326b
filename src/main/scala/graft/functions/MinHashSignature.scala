package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** MinHash signature of a shingle array as a native Catalyst `Expression` —
  * the kernel under [[graft.ops.Dedup.minhashFromShingles]]. Element j is
  * the minimum over the non-null shingles `s` of `md5_hash60(j ":" s)`.
  *
  * The Column spelling ([[graft.ops.Dedup.minhashFromShinglesReference]])
  * runs one interpreted `transform` per hash function, and each lambda call
  * builds a `concat` string before its md5. This is one pass over the
  * shingles: the digest is fed the `j:` prefix bytes and then the shingle
  * bytes, so no concatenated string is built.
  *
  * Pinned to the Column spelling by a differential spec, including the
  * degenerate inputs: a null array, an empty array or an all-null array
  * yields `numHashes` null elements (each `array_min` finds nothing), never
  * a null signature.
  */
case class MinHashSignature(child: Expression, numHashes: Int) extends UnaryExpression {

  require(numHashes >= 1, s"numHashes must be >= 1, got $numHashes")

  override def dataType: DataType = ArrayType(LongType, containsNull = true)

  override def nullable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case other =>
        TypeCheckResult.TypeCheckFailure(
          s"minhash_signature requires array<string> input, got $other")
    }

  override def eval(input: InternalRow): Any =
    MinHashSignature.signature(child.eval(input).asInstanceOf[ArrayData], numHashes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val obj = MinHashSignature.getClass.getName.stripSuffix("$") + "$.MODULE$"
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      |${c.code}
      |${CodeGenerator.javaType(dataType)} ${ev.value} =
      |  $obj.signature(${c.isNull} ? null : ${c.value}, $numHashes);
      |""".stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashSignature =
    copy(child = newChild)

  override def prettyName: String = "minhash_signature"
}

object MinHashSignature {

  private val prefixes = new ThreadLocal[Array[Array[Byte]]] {
    override def initialValue(): Array[Array[Byte]] = Array.empty
  }

  /** The `j:` salt bytes for j < numHashes, built once per thread. */
  private def saltBytes(numHashes: Int): Array[Array[Byte]] = {
    var p = prefixes.get()
    if (p.length < numHashes) {
      p = Array.tabulate(numHashes)(j => s"$j:".getBytes(java.nio.charset.StandardCharsets.UTF_8))
      prefixes.set(p)
    }
    p
  }

  /** The scalar kernel (shared by interpreted eval and codegen). */
  def signature(shingles: ArrayData, numHashes: Int): ArrayData = {
    val mins = Array.fill(numHashes)(Long.MaxValue)
    var seen = false
    if (shingles != null) {
      val salts = saltBytes(numHashes)
      val n = shingles.numElements()
      var i = 0
      while (i < n) {
        if (!shingles.isNullAt(i)) {
          seen = true
          val s = shingles.getUTF8String(i)
          var j = 0
          while (j < numHashes) {
            val h = Md5Hash60.hashSalted(salts(j), s)
            if (h < mins(j)) mins(j) = h
            j += 1
          }
        }
        i += 1
      }
    }
    val out = UnsafeArrayData.fromPrimitiveArray(mins)
    if (!seen) {
      var j = 0
      while (j < numHashes) { out.setNullAt(j); j += 1 }
    }
    out
  }

  /** Column-facing constructor (Spark 4 Column↔Expression bridge). */
  def minhash_signature(shingles: Column, numHashes: Int): Column =
    ColumnBridge.column(MinHashSignature(ColumnBridge.expression(shingles), numHashes))
}
