package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{BinaryType, DataType, LongType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** The first 60 bits of md5 as ONE codegen'd Expression — bit-identical to
  * the engine's portable-hash spelling
  * `conv(substring(md5(c), 1, 15), 16, 10)::long`
  * ([[graft.ops.TextAnalysis.hash60]]) but without its three string
  * round-trips (hex encode → substring → base-16 re-parse): the value is
  * read straight off the digest bytes (first 8 bytes big-endian, >>> 4).
  *
  * hash60 is the single hottest scalar in the engine — every fingerprint,
  * minhash shingle, shard assignment, and hash-sample evaluates it, often
  * once per TOKEN — which is exactly the custom-Expression tier of the
  * preference ladder (the FnvHash64/DotProduct/CharEntropy pattern). md5
  * (not xxhash) stays the algorithm because the DuckDB oracle replays it
  * verbatim.
  */
case class Md5Hash60(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType | BinaryType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"md5_hash60 requires string or binary input, got $other")
    }

  override protected def nullSafeEval(input: Any): Any = {
    val bytes = input match {
      case s: UTF8String => s.getBytes
      case b: Array[Byte] => b
    }
    Md5Hash60.hash(bytes)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val hasher = Md5Hash60.getClass.getName.stripSuffix("$") + "$.MODULE$"
    child.dataType match {
      case StringType =>
        defineCodeGen(ctx, ev, c => s"$hasher.hash($c.getBytes())")
      case _ =>
        defineCodeGen(ctx, ev, c => s"$hasher.hash($c)")
    }
  }

  override protected def withNewChildInternal(newChild: Expression): Md5Hash60 =
    copy(child = newChild)

  override def prettyName: String = "md5_hash60"
}

object Md5Hash60 {

  private val digests = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** First 15 hex chars of md5 as an unsigned long: the top 60 bits of the
    * digest = first 8 bytes big-endian, shifted right by the trailing
    * nibble. Shared by interpreted eval and codegen.
    */
  def hash(bytes: Array[Byte]): Long = {
    val md = digests.get()
    md.reset()
    top60(md.digest(bytes))
  }

  /** `hash(salt ++ s.getBytes)` without building the concatenation: the
    * digest reads the salt, then the string's bytes in place when they sit
    * in a heap array.
    */
  def hashSalted(salt: Array[Byte], s: UTF8String): Long = {
    val md = digests.get()
    md.reset()
    md.update(salt)
    s.getBaseObject match {
      case base: Array[Byte] =>
        md.update(base, (s.getBaseOffset - Platform.BYTE_ARRAY_OFFSET).toInt, s.numBytes)
      case _ => md.update(s.getBytes)
    }
    top60(md.digest())
  }

  private def top60(d: Array[Byte]): Long = {
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
    v >>> 4
  }

  /** Column-facing constructor (Spark 4 Column↔Expression bridge). */
  def md5_hash60(c: Column): Column =
    ColumnBridge.column(Md5Hash60(ColumnBridge.expression(c)))

  /** Register `md5_hash60` for SQL use on a session. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "md5_hash60", exprs => Md5Hash60(exprs.head), "scala_udf")
}
