package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.io.{FileMetadata, Format, Pickle, Readers, Writers}

/** Pickle codec specs — golden fixtures under `src/test/resources/pickle/`
  * were produced ONCE by CPython 3.11 `pickle.dump` of a canonical nested
  * blob at every protocol 0–5 (plus a class-instance pickle that must be
  * refused). The Scala writer's output was cross-checked against CPython
  * `pickle.loads` at generation time; round-trip identity pins it here.
  */
class PickleSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSession.spark

  private def fixture(name: String): Array[Byte] = {
    val url = getClass.getResource(s"/pickle/$name")
    assert(url != null, s"missing fixture $name")
    Files.readAllBytes(Paths.get(url.toURI))
  }

  /** The exact blob the fixtures pickled (see generation script values). */
  private def canonicalBlob: Map[Any, Any] = Map(
    "name" -> "graft",
    "version" -> 14L,
    "pi" -> 3.141592653589793,
    "neg" -> -123456789012345L,
    "big" -> (BigInt(2).pow(80) + 7),
    "nbig" -> -(BigInt(2).pow(70) + 3),
    "flag" -> true,
    "off" -> false,
    "nothing" -> null,
    "empty" -> "",
    "astral" -> "emoji 😀 CJK 中文",
    "bytes" -> Vector[Byte](0, 1, 0xfe.toByte, 0xff.toByte),
    "list" -> Vector(1L, 2.5, "three", null, Vector(4L, 5L), Map("k" -> "v")),
    "tuple" -> Vector(1L, "two", 3.0),
    "set" -> Set(1L, 2L, 3L),
    "dict" -> Map("a" -> 1L, "b" -> Vector(true, false), "c" -> Map("nested" -> "deep")),
    "bignums" -> Vector(255L, 256L, 65535L, 65536L, 2147483647L, -2147483648L,
      2147483648L, -2147483649L))

  /** Structural compare that tolerates container implementations and
    * compares byte arrays by content.
    */
  private def structEq(a: Any, b: Any): Boolean = (a, b) match {
    case (null, null) => true
    case (x: Array[Byte], y: Array[Byte]) => x.sameElements(y)
    case (x: Array[Byte], y: Seq[_]) => structEq(x.toVector, y)
    case (x: Seq[_], y: Array[Byte]) => structEq(x, y.toVector)
    case (x: collection.Map[_, _], y: collection.Map[_, _]) =>
      x.size == y.size && x.forall { case (k, v) =>
        y.asInstanceOf[collection.Map[Any, Any]].get(k).exists(structEq(v, _))
      }
    case (x: collection.Set[_], y: collection.Set[_]) => x == y
    case (x: Seq[_], y: Seq[_]) =>
      x.size == y.size && x.zip(y).forall { case (p, q) => structEq(p, q) }
    case (x: Byte, y: Long) => x.toLong == y
    case (x: Long, y: Byte) => x == y.toLong
    case (x: Double, y: Double) =>
      java.lang.Double.doubleToRawLongBits(x) == java.lang.Double.doubleToRawLongBits(y)
    case (x, y) => x == y
  }

  test("unpickle CPython fixtures at every protocol 0-5") {
    (0 to 5).foreach { proto =>
      val got = Pickle.loads(fixture(s"blob_p$proto.pkl"))
      assert(structEq(got, canonicalBlob), s"protocol $proto mismatch: $got")
    }
  }

  test("dict insertion order is preserved (Python 3.7+ semantics)") {
    val got = Pickle.loads(fixture("blob_p4.pkl")).asInstanceOf[collection.Map[Any, Any]]
    assert(got.keysIterator.take(4).toSeq == Seq("name", "version", "pi", "neg"))
  }

  test("memo back-references and protocol-5 bytearray") {
    val got = Pickle.loads(fixture("memo_shared_p5.pkl")).asInstanceOf[collection.Map[Any, Any]]
    assert(structEq(got("first"), Vector(1L, 2L, 3L)))
    assert(structEq(got("second"), Vector(1L, 2L, 3L)))
    assert(got("ba").asInstanceOf[Array[Byte]].sameElements("abc".getBytes))
  }

  test("class-instance pickle is refused loudly") {
    val e = intercept[IllegalArgumentException](Pickle.loads(fixture("reject_global.pkl")))
    assert(e.getMessage.contains("unsupported"))
    assert(e.getMessage.toLowerCase.contains("class-instance"))
  }

  test("Scala dump → Scala load round-trip identity") {
    val blob = canonicalBlob + ("raw" -> Array[Byte](1, 2, 3)) +
      ("long_str" -> ("x" * 300)) + ("long_bytes" -> Array.fill[Byte](300)(7)) +
      ("deep" -> Vector(Map("a" -> Vector(Map("b" -> Set(1L, 2L)))))) +
      ("negnan" -> java.lang.Double.longBitsToDouble(0xfff8000000000000L))
    val got = Pickle.loads(Pickle.dumps(blob))
    assert(structEq(got, blob))
    // CPython `pickle.dumps(x, 4)` of that NaN holds BINFLOAT ff f8 00 … 00:
    // the sign bit survives
    val negNan = Pickle.dumps(java.lang.Double.longBitsToDouble(0xfff8000000000000L))
    assert(negNan.containsSlice(Array[Byte]('G'.toByte, 0xff.toByte, 0xf8.toByte, 0, 0, 0, 0, 0, 0)))
  }

  test("writer emits protocol 4 with documented opcodes (golden prefix)") {
    val bytes = Pickle.dumps(Map("k" -> 1L))
    // PROTO 4, EMPTY_DICT, MARK, SHORT_BINUNICODE len=1 'k', BININT1 1,
    // SETITEMS, STOP — CPython-verified shape at fixture generation time
    assert(bytes.take(2).sameElements(Array[Byte](0x80.toByte, 4)))
    assert(bytes.last == '.'.toByte)
    assert(bytes.containsSlice(Array[Byte](0x8c.toByte, 1, 'k'.toByte)))
  }

  test("records blob (list-of-dicts) → DataFrame with inferred schema") {
    val df = Pickle.readRecords(spark, resourcePath("records_p4.pkl"))
    assert(df.columns.toSeq == Seq("id", "name", "score", "tags", "ok"))
    assert(df.schema("id").dataType.typeName == "long")
    assert(df.schema("score").dataType.typeName == "double")
    assert(df.schema("tags").dataType.typeName == "array")
    assert(df.schema("ok").dataType.typeName == "boolean")
    val rows = df.orderBy("id").collect()
    assert(rows.length == 3)
    assert(rows(0).getLong(0) == 1L && rows(0).getString(1) == "alpha")
    assert(rows(1).isNullAt(2) && rows(2).isNullAt(1))
    assert(rows(0).getSeq[String](3) == Seq("x", "y") && rows(1).getSeq[String](3).isEmpty)
  }

  test("columns blob (dict-of-lists) → DataFrame") {
    val df = Pickle.readRecords(spark, resourcePath("columns_p2.pkl"))
    assert(df.columns.toSeq == Seq("id", "label"))
    assert(df.orderBy("id").collect().map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((10L, "a"), (20L, "b"), (30L, "c")))
  }

  test("DataFrame → pickle sink → read-back round-trip via format dispatch") {
    import spark.implicits._
    val df = Seq(
      (1L, "a", Some(1.5), true),
      (2L, "b\nnewline", None, false),
      (3L, "emoji 😀", Some(-2.0), true)
    ).toDF("id", "txt", "num", "ok")
    val out = Files.createTempDirectory("pkl").resolve("t.pkl").toString
    Writers.write(df, FileMetadata.of(out))
    assert(Format.detect(out) == Format.Pickle)
    val back = Readers.read(spark, out).orderBy("id")
    assert(back.columns.toSeq == Seq("id", "txt", "num", "ok"))
    assert(back.collect().map(r => (r.getLong(0), r.getString(1), Option(r.get(2)), r.getBoolean(3))).toSeq ==
      Seq((1L, "a", Some(1.5), true), (2L, "b\nnewline", None, false),
        (3L, "emoji 😀", Some(-2.0), true)))
  }

  test("sink ceiling refuses loudly above MaxSinkRows") {
    import spark.implicits._
    val df = spark.range(5).toDF("id")
    assert(Pickle.MaxSinkRows == 1000000L)
    val out = Files.createTempDirectory("pkl").resolve("ok.pkl").toString
    Pickle.writeRecords(df.toDF(), out) // under ceiling: fine
    assert(Pickle.loads(Files.readAllBytes(Paths.get(out))).asInstanceOf[Seq[_]].size == 5)
    // and the REFUSAL path actually executes (r14 ADVICE: the old test only
    // asserted the constant): same require/limit interplay, tiny ceiling
    val over = Files.createTempDirectory("pkl").resolve("over.pkl").toString
    val e = intercept[IllegalStateException](
      Pickle.writeRecords(df.toDF(), over, maxRows = 3))
    assert(e.getMessage.contains("exceeds the driver ceiling"))
    assert(!Files.exists(Paths.get(over))) // refusal happens before any write
  }

  test("protocol-0 FLOAT parses CPython's inf/-inf/nan reprs") {
    // hand-built protocol-0 streams: 'F' + repr + '\n' + STOP
    def p0(repr: String): Array[Byte] = s"F$repr\n.".getBytes("ISO-8859-1")
    assert(Pickle.loads(p0("inf")) == Double.PositiveInfinity)
    assert(Pickle.loads(p0("-inf")) == Double.NegativeInfinity)
    assert(Pickle.loads(p0("nan")).asInstanceOf[Double].isNaN)
    assert(Pickle.loads(p0("2.5")) == 2.5)
    intercept[NumberFormatException](Pickle.loads(p0("bogus")))
  }

  test("bytes in dict-key / set-element position refuse loudly (JVM reference equality)") {
    // {b'k': 1} via MARK, SHORT_BINBYTES, BININT1, DICT
    val dictKey = Array[Byte]('(', 'C', 1, 'k', 'K', 1, 'd', '.')
    val e1 = intercept[IllegalArgumentException](Pickle.loads(dictKey))
    assert(e1.getMessage.contains("dict-key"))
    // frozenset({b'k'}) via MARK, SHORT_BINBYTES, FROZENSET
    val setElem = Array[Byte]('(', 'C', 1, 'k', 0x91.toByte, '.')
    val e2 = intercept[IllegalArgumentException](Pickle.loads(setElem))
    assert(e2.getMessage.contains("set-element"))
    // a tuple key smuggling bytes refuses too (Vector equality is element-wise)
    val tupleKey = Array[Byte]('(', 'C', 1, 'k', 0x85.toByte, 'K', 1, 'd', '.')
    val e3 = intercept[IllegalArgumentException](Pickle.loads(tupleKey))
    assert(e3.getMessage.contains("dict-key"))
    // a LIST key smuggling bytes refuses too (ArrayBuffer equality is
    // element-wise; hostile non-CPython-producible but well-formed stream)
    val listKey = Array[Byte]('}', ']', 'C', 1, 'k', 'a', 'K', 1, 's', '.')
    val e4 = intercept[IllegalArgumentException](Pickle.loads(listKey))
    assert(e4.getMessage.contains("dict-key"))
    // bytes VALUES stay fine
    val dictVal = Array[Byte]('(', 'K', 1, 'C', 1, 'k', 'd', '.')
    val m = Pickle.loads(dictVal).asInstanceOf[collection.Map[Any, Any]]
    assert(m(1L).asInstanceOf[Array[Byte]].toSeq == Seq('k'.toByte))
  }

  test("corrupt multi-GB claimed length hits EOF without pre-allocating") {
    // BINUNICODE claiming ~2 GB with 3 real bytes behind it: the chunked
    // reader must consume what exists and throw EOF, not allocate 2 GB or
    // spuriously reject via available() (which underreports on gzip/socket)
    val huge = Array[Byte]('X', 0x00, 0xff.toByte, 0xff.toByte, 0x7f, 'a', 'b', 'c')
    val e = intercept[java.io.EOFException](Pickle.loads(huge))
    assert(e.getMessage.contains("claimed payload"))
    // and a legitimate >1 MiB payload still loads through the chunked path
    val n = (1 << 20) + 17
    val body = Array.fill[Byte](n)('x')
    val big = Array[Byte]('X') ++
      java.nio.ByteBuffer.allocate(4).order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(n).array() ++
      body ++ Array[Byte]('.')
    assert(Pickle.loads(big).asInstanceOf[String].length == n)
  }

  test("self-referential pickle is refused, not a stack overflow") {
    val e = intercept[IllegalArgumentException](Pickle.loads(fixture("self_ref.pkl")))
    assert(e.getMessage.contains("self-referential"))
  }

  test("records column order is first-seen key order, not hash order") {
    // 6+ columns defeats Scala's small-Map insertion-order accident; rows
    // carry shuffled key orders and a late-appearing key
    val df = Pickle.readRecords(spark, resourcePath("records_order_p4.pkl"))
    assert(df.columns.toSeq == Seq("c1", "c2", "c3", "c4", "c5", "c6", "late"))
    val rows = df.orderBy("c1").collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    assert(rows(0).isNullAt(6) && rows(2).getString(6) == "tail")
    // row 2's reversed key order still lands values in the right columns
    assert(rows(1).getString(1) == "b" && rows(1).getLong(4) == 20L)
  }

  test("mixed int/float lists widen to double regardless of element order") {
    val blob = Vector(
      scala.collection.immutable.VectorMap[Any, Any]("v" -> Vector(1L, 2.5)),
      scala.collection.immutable.VectorMap[Any, Any]("v" -> Vector(3L)))
    val p = java.nio.file.Files.createTempDirectory("pkl").resolve("mix.pkl").toString
    Pickle.dump(blob, p)
    val df = Pickle.readRecords(spark, p)
    assert(df.schema("v").dataType.asInstanceOf[org.apache.spark.sql.types.ArrayType]
      .elementType.typeName == "double")
    import org.apache.spark.sql.functions.{col, size}
    assert(df.orderBy(size(col("v")).desc)
      .collect().head.getSeq[Double](0) == Seq(1.0, 2.5))
  }

  test("protocol-0 raw-unicode-escape astral text decodes to codepoints") {
    val got = Pickle.loads(fixture("blob_p0.pkl")).asInstanceOf[collection.Map[Any, Any]]
    val s = got("astral").asInstanceOf[String]
    assert(s == "emoji 😀 CJK 中文")
    assert(s.codePointCount(0, s.length) == 14)
  }

  private def resourcePath(name: String): String =
    Paths.get(getClass.getResource(s"/pickle/$name").toURI).toString
}
