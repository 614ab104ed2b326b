package graft

import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.arrow.memory.RootAllocator
import org.apache.arrow.vector.{FieldVector, LargeVarBinaryVector, LargeVarCharVector, VectorSchemaRoot}
import org.apache.arrow.vector.ipc.{ArrowStreamReader, ArrowStreamWriter}
import org.apache.arrow.vector.types.FloatingPointPrecision
import org.apache.arrow.vector.types.pojo.{ArrowType, Field, Schema}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.io.ArrowIpc

/** Pins what `ArrowIpc` puts on the wire, read with a bare
  * `ArrowStreamReader` (below graft's own reader), so a Spark upgrade that
  * changes the Arrow mapping fails here instead of passing silently. Also
  * pins the inputs Spark's mapping admits that a DataLoader may hand us:
  * `large_string`/`large_binary` columns and duplicate column names.
  */
class ArrowWireSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSession.spark

  private val everyType = StructType(Seq(
    StructField("l", LongType),
    StructField("i", IntegerType),
    StructField("d", DoubleType),
    StructField("f", FloatType),
    StructField("b", BooleanType),
    StructField("s", StringType),
    StructField("bin", BinaryType),
    StructField("emb", ArrayType(FloatType, containsNull = false)),
    StructField("tags", ArrayType(StringType, containsNull = true)),
    StructField("nested", ArrayType(ArrayType(LongType, containsNull = true), containsNull = false))))

  private val everyRow = Seq(
    Row(1L, 2, 0.5, 1.5f, true, "a😀", Array[Byte](1, 2), Seq(0.25f, -1f),
      Seq("x", null, "yz"), Seq(Seq(1L, null), Seq.empty[Long])),
    Row(null, null, null, null, null, null, null, null, null, null),
    Row(-3L, -4, -0.0, Float.NaN, false, "", Array.emptyByteArray, Seq.empty[Float],
      Seq.empty[String], Seq(Seq(Long.MaxValue))))

  private def rawSchema(path: String): Schema = {
    val alloc = new RootAllocator(Long.MaxValue)
    try {
      val in = Files.newInputStream(java.nio.file.Paths.get(path))
      val reader = new ArrowStreamReader(in, alloc)
      try reader.getVectorSchemaRoot.getSchema finally { reader.close(); in.close() }
    } finally alloc.close()
  }

  private def field(s: Schema, name: String): Field = s.findField(name)

  test("wire types: signed ints, floats, Bool, Utf8, Binary, List — never the Large* layouts") {
    val df = spark.createDataFrame(spark.sparkContext.parallelize(everyRow, 2), everyType)
    val out = Files.createTempDirectory("arrowwire").resolve("all.arrows").toString
    ArrowIpc.writeStream(df, out)
    val s = rawSchema(out)
    assert(s.getFields.asScala.map(_.getName) == everyType.fieldNames.toSeq)
    assert(field(s, "l").getType == new ArrowType.Int(64, true))
    assert(field(s, "i").getType == new ArrowType.Int(32, true))
    assert(field(s, "d").getType == new ArrowType.FloatingPoint(FloatingPointPrecision.DOUBLE))
    assert(field(s, "f").getType == new ArrowType.FloatingPoint(FloatingPointPrecision.SINGLE))
    assert(field(s, "b").getType == ArrowType.Bool.INSTANCE)
    assert(field(s, "s").getType == ArrowType.Utf8.INSTANCE)
    assert(field(s, "bin").getType == ArrowType.Binary.INSTANCE)
    Seq("emb", "tags", "nested").foreach { c =>
      assert(field(s, c).getType == ArrowType.List.INSTANCE, c)
      assert(field(s, c).getChildren.asScala.map(_.getName) == Seq("element"), c)
    }
    assert(field(s, "nested").getChildren.get(0).getType == ArrowType.List.INSTANCE)
    assert(s.getFields.asScala.forall(_.isNullable))
    // list-element nullability follows containsNull, at every depth
    def child(f: Field): Field = f.getChildren.get(0)
    assert(!child(field(s, "emb")).isNullable)
    assert(child(field(s, "tags")).isNullable)
    assert(!child(field(s, "nested")).isNullable && child(child(field(s, "nested"))).isNullable)
    assert(field(s, "emb").getChildren.get(0).getType ==
      new ArrowType.FloatingPoint(FloatingPointPrecision.SINGLE))
    // and graft's reader maps the header straight back, nullability included
    val back = ArrowIpc.readStream(spark, out)
    assert(back.schema == everyType)
  }

  test("every supported type round-trips values and nulls, including strings inside arrays") {
    val df = spark.createDataFrame(spark.sparkContext.parallelize(everyRow, 2), everyType)
      .withColumn("k", org.apache.spark.sql.functions.monotonically_increasing_id())
    val single = Files.createTempDirectory("arrowwire").resolve("all.arrows").toString
    ArrowIpc.writeStream(df, single, batchRows = 2)
    val dir = Files.createTempDirectory("arrowwiresh").toString
    ArrowIpc.writeStreamSharded(df, dir, numShards = 2, shardBy = Seq("k"))
    def norm(r: Row): Seq[Any] = r.toSeq.map {
      case b: Array[Byte] => b.toSeq
      case f: Float if f.isNaN => "NaN"
      case x => x
    }
    val want = df.orderBy("k").collect().map(norm).toSeq
    assert(ArrowIpc.readStream(spark, single).orderBy("k").collect().map(norm).toSeq == want)
    assert(ArrowIpc.readStreamSharded(spark, dir).orderBy("k").collect().map(norm).toSeq == want)
  }

  /** A two-row stream written with bare Arrow vectors. */
  private def writeRaw(path: String, vectors: Seq[FieldVector]): Unit = {
    val root = new VectorSchemaRoot(vectors.asJava)
    root.setRowCount(2)
    val out = Files.newOutputStream(java.nio.file.Paths.get(path))
    val w = new ArrowStreamWriter(root, null, out)
    try { w.start(); w.writeBatch(); w.end() } finally { w.close(); out.close(); root.close() }
  }

  test("large_string and large_binary columns are admitted as string and binary") {
    val alloc = new RootAllocator(Long.MaxValue)
    val out = Files.createTempDirectory("arrowlarge").resolve("large.arrows").toString
    try {
      val s = new LargeVarCharVector("s", alloc)
      val b = new LargeVarBinaryVector("b", alloc)
      s.allocateNew(); b.allocateNew()
      s.setSafe(0, "größe 😀".getBytes(StandardCharsets.UTF_8)); s.setNull(1)
      b.setNull(0); b.setSafe(1, Array[Byte](7, 8, 9))
      s.setValueCount(2); b.setValueCount(2)
      writeRaw(out, Seq(s, b))
    } finally alloc.close()
    val back = ArrowIpc.readStream(spark, out)
    assert(back.schema.map(_.dataType) == Seq(StringType, BinaryType))
    val rows = back.collect()
    assert(rows(0).getString(0) == "größe 😀" && rows(0).isNullAt(1))
    assert(rows(1).isNullAt(0) && rows(1).getAs[Array[Byte]](1).toSeq == Seq[Byte](7, 8, 9))
  }

  test("duplicate column names are admitted and round-trip by position") {
    import spark.implicits._
    val df = Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("id", "x", "x")
    val out = Files.createTempDirectory("arrowdup").resolve("dup.arrows").toString
    ArrowIpc.writeStream(df, out)
    assert(rawSchema(out).getFields.asScala.map(_.getName) == Seq("id", "x", "x"))
    val back = ArrowIpc.readStream(spark, out)
    assert(back.columns.toSeq == Seq("id", "x", "x"))
    assert(back.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sortBy(_._1).toSeq ==
      Seq((1L, "a", 10L), (2L, "b", 20L)))
  }

  test("types outside the DataLoader surface refuse on read") {
    val alloc = new RootAllocator(Long.MaxValue)
    val dir = Files.createTempDirectory("arrowrefuse")
    try {
      val small = new org.apache.arrow.vector.TinyIntVector("t", alloc)
      small.allocateNew(2); small.setSafe(0, 1); small.setSafe(1, 2); small.setValueCount(2)
      writeRaw(dir.resolve("int8.arrows").toString, Seq(small))
      val ll = org.apache.arrow.vector.complex.LargeListVector.empty("ll", alloc)
      ll.allocateNew(); ll.setValueCount(2)
      writeRaw(dir.resolve("largelist.arrows").toString, Seq(ll))
    } finally alloc.close()
    Seq("int8", "largelist").foreach { n =>
      val e = intercept[IllegalArgumentException](
        ArrowIpc.readStream(spark, dir.resolve(s"$n.arrows").toString))
      assert(e.getMessage.contains("Arrow IPC read"), n)
    }
  }

  test("dictionary-encoded columns refuse on read instead of reading back as their codes") {
    import org.apache.arrow.vector.{BigIntVector, VarCharVector}
    import org.apache.arrow.vector.dictionary.{Dictionary, DictionaryEncoder, DictionaryProvider}
    import org.apache.arrow.vector.types.pojo.DictionaryEncoding
    val dir = Files.createTempDirectory("arrowdict")
    val alloc = new RootAllocator(Long.MaxValue)
    try {
      val values = new VarCharVector("values", alloc)
      values.allocateNew()
      Seq("a", "b").zipWithIndex.foreach { case (v, i) => values.setSafe(i, v.getBytes(StandardCharsets.UTF_8)) }
      values.setValueCount(2)
      val dictionary = new Dictionary(values, new DictionaryEncoding(1L, false, null))
      val cat = new VarCharVector("cat", alloc)
      cat.allocateNew()
      Seq("a", "b", "a").zipWithIndex.foreach { case (v, i) => cat.setSafe(i, v.getBytes(StandardCharsets.UTF_8)) }
      cat.setValueCount(3)
      val codes = DictionaryEncoder.encode(cat, dictionary).asInstanceOf[FieldVector]
      val id = new BigIntVector("id", alloc)
      id.allocateNew(3)
      (0 until 3).foreach(i => id.setSafe(i, i + 1L))
      id.setValueCount(3)
      val root = new VectorSchemaRoot(Seq[FieldVector](id, codes).asJava)
      root.setRowCount(3)
      Seq(dir.resolve("dict.arrows"), dir.resolve("shard-00000.arrows")).foreach { p =>
        val out = Files.newOutputStream(p)
        val w = new ArrowStreamWriter(root, new DictionaryProvider.MapDictionaryProvider(dictionary), out)
        try { w.start(); w.writeBatch(); w.end() } finally { w.close(); out.close() }
      }
      root.close(); cat.close(); values.close()
    } finally alloc.close()
    Seq[() => Unit](
      () => ArrowIpc.readStream(spark, dir.resolve("dict.arrows").toString),
      () => ArrowIpc.readStreamSharded(spark, dir.toString)).foreach { read =>
      val e = intercept[IllegalArgumentException](read())
      assert(e.getMessage.contains("dictionary-encoded column cat"), e.getMessage)
      assert(e.getMessage.contains("decode it"), e.getMessage)
    }
  }
}
