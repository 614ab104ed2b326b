package graft.io

import java.io.{ByteArrayOutputStream, FileInputStream, FileOutputStream}
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets
import java.util.zip.{ZipEntry, ZipInputStream, ZipOutputStream}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import graft.core.DriverGather

/** NPZ / NPY source and sink — reference `reader/dataframe/NpzReader.py`
  * (~70 LoC: numpy `.npz` → columns) and the NPZ sink
  * (`ScalableDataFrame.py:2015-2017`, `DaskScalableDataFrame.py:217-233`:
  * driver-side `np.savez` per column).
  *
  * Pure-JVM implementation of the publicly documented NPY format (numpy
  * `lib/format.py` spec): magic `\x93NUMPY` + version + ASCII header dict
  * (`descr`, `fortran_order`, `shape`) padded to 64 bytes, then raw
  * little-endian C-order data. `.npz` is a zip archive with one `<name>.npy`
  * member per array; each 1-D member becomes a column, a 2-D `(n, m)` member
  * becomes an `ArrayType` column of length-m rows (the embedding case).
  *
  * Scale note: NPZ is a *driver-local interchange* format, exactly as in the
  * reference (its sink is a driver-side `np.savez`). Reads materialize on the
  * driver and parallelize to `defaultParallelism`; writes collect. The 100 TB
  * path is parquet — this exists for parity with numpy-centric workflows
  * (model artifacts, small label/embedding dumps), not as a big-data source.
  */
object Npz {

  private val Magic: Array[Byte] = Array(0x93.toByte, 'N', 'U', 'M', 'P', 'Y')

  // ---------------------------------------------------------------- read side

  /** Parsed NPY member: Spark element type + boxed values in row order. */
  final case class NpyColumn(dataType: DataType, values: IndexedSeq[Any])

  /** Parse one `.npy` payload (NPY v1/v2/v3 headers). */
  def parseNpy(bytes: Array[Byte]): NpyColumn = {
    require(bytes.length >= 10 && bytes.take(6).sameElements(Magic), "not an NPY payload")
    val major = bytes(6).toInt
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    val (headerLen, headerOff) =
      if (major >= 2) (bb.getInt(8), 12) else ((bb.getShort(8) & 0xffff), 10)
    val header = new String(bytes, headerOff, headerLen, StandardCharsets.ISO_8859_1)
    val descr = "'descr'\\s*:\\s*'([^']+)'".r.findFirstMatchIn(header)
      .getOrElse(throw new IllegalArgumentException(s"no descr in NPY header: $header")).group(1)
    val fortran = "'fortran_order'\\s*:\\s*(True|False)".r.findFirstMatchIn(header)
      .exists(_.group(1) == "True")
    val shape = "'shape'\\s*:\\s*\\(([^)]*)\\)".r.findFirstMatchIn(header)
      .getOrElse(throw new IllegalArgumentException(s"no shape in NPY header: $header"))
      .group(1).split(",").map(_.trim).filter(_.nonEmpty).map(_.toInt).toSeq
    require(shape.size <= 2, s"NPY rank ${shape.size} unsupported (1-D columns, 2-D embeddings)")
    require(!(fortran && shape.size > 1), "fortran_order 2-D NPY unsupported")

    val data = bb.position(headerOff + headerLen).slice().order(ByteOrder.LITTLE_ENDIAN)
    val n = if (shape.isEmpty) 1 else shape.head
    val (elemType, readElem) = scalarReader(descr, data)
    shape match {
      case Seq(_, m) =>
        val rows = IndexedSeq.tabulate(n)(_ => IndexedSeq.fill(m)(readElem()))
        NpyColumn(ArrayType(elemType, containsNull = true), rows)
      case _ =>
        NpyColumn(elemType, IndexedSeq.fill(n)(readElem()))
    }
  }

  /** descr → (Spark type, stateful element reader). Little-endian (`<`/`|`)
    * only; datetime64 NaT (Long.MinValue) and float NaN map to themselves
    * (NPY has no null concept).
    */
  private def scalarReader(descr: String, b: ByteBuffer): (DataType, () => Any) = descr match {
    case "<i8" | "|i8" => (LongType, () => b.getLong)
    case "<i4" | "|i4" => (IntegerType, () => b.getInt)
    case "<i2" | "|i2" => (ShortType, () => b.getShort)
    case "|i1" | "<i1" => (ByteType, () => b.get)
    case "<u4" => (LongType, () => b.getInt.toLong & 0xffffffffL)
    case "<u2" => (IntegerType, () => b.getShort.toInt & 0xffff)
    case "|u1" => (ShortType, () => (b.get.toInt & 0xff).toShort)
    case "<f8" | "|f8" => (DoubleType, () => b.getDouble)
    case "<f4" | "|f4" => (FloatType, () => b.getFloat)
    case "|b1" => (BooleanType, () => b.get != 0)
    case UDescr(lenStr) =>
      // '<U{n}': n UTF-32LE code points per element, NUL-padded
      val len = lenStr.toInt
      (StringType, () => {
        val cps = Array.fill(len)(b.getInt)
        val sb = new java.lang.StringBuilder(len)
        cps.takeWhile(_ != 0).foreach(sb.appendCodePoint)
        sb.toString
      })
    case SDescr(lenStr) =>
      // '|S{n}': raw bytes, NUL-padded; decoded as UTF-8 text
      val len = lenStr.toInt
      (StringType, () => {
        val raw = Array.ofDim[Byte](len)
        b.get(raw)
        val end = raw.indexOf(0.toByte) match { case -1 => len; case i => i }
        new String(raw, 0, end, StandardCharsets.UTF_8)
      })
    case MDescr(unit) =>
      val perMicro: Long = unit match {
        case "us" => 1L
        case "ms" => 1000L
        case "s" => 1000000L
        case "ns" => -1L // divide instead
        case other => throw new IllegalArgumentException(s"datetime64[$other] unsupported")
      }
      (TimestampType, () => {
        val v = b.getLong
        if (v == Long.MinValue) null // NaT
        else {
          val micros = if (perMicro == -1L) Math.floorDiv(v, 1000L) else v * perMicro
          java.time.Instant.EPOCH.plus(micros, java.time.temporal.ChronoUnit.MICROS)
        }
      })
    case other => throw new IllegalArgumentException(s"NPY descr '$other' unsupported")
  }

  private val UDescr = "<U(\\d+)".r
  private val SDescr = "\\|S(\\d+)".r
  private val MDescr = "<M8\\[(\\w+)\\]".r

  /** Read an `.npz` (zip of members → columns, zip order preserved) or a bare
    * `.npy` (single column named `value`) into a DataFrame.
    */
  def read(spark: SparkSession, path: String): DataFrame = {
    require(Storage.detect(path) == Storage.Local,
      s"NPZ is a driver-local interchange format; copy to local disk first (got: $path)")
    val cols: Seq[(String, NpyColumn)] =
      if (path.toLowerCase.endsWith(".npy"))
        Seq("value" -> parseNpy(readAllBytes(path)))
      else {
        val zin = new ZipInputStream(new FileInputStream(path))
        try {
          Iterator.continually(zin.getNextEntry).takeWhile(_ != null).map { e =>
            val name = e.getName.stripSuffix(".npy")
            val buf = new ByteArrayOutputStream()
            val chunk = Array.ofDim[Byte](1 << 16)
            Iterator.continually(zin.read(chunk)).takeWhile(_ > 0).foreach(buf.write(chunk, 0, _))
            name -> parseNpy(buf.toByteArray)
          }.toVector
        } finally zin.close()
      }
    require(cols.nonEmpty, s"empty npz: $path")
    val nRows = cols.head._2.values.size
    require(cols.forall(_._2.values.size == nRows),
      s"npz members disagree on length: ${cols.map { case (k, c) => s"$k=${c.values.size}" }.mkString(", ")}")
    val schema = StructType(cols.map { case (name, c) => StructField(name, c.dataType, nullable = true) })
    val rows = (0 until nRows).map { i => Row.fromSeq(cols.map(_._2.values(i))) }
    spark.createDataFrame(spark.sparkContext.parallelize(rows.toSeq,
      math.max(1, math.min(spark.sparkContext.defaultParallelism, nRows))), schema)
  }

  // --------------------------------------------------------------- write side

  /** Encode one column as an NPY v1.0 payload. Nulls: floats/timestamps map
    * to NaN/NaT; other types reject (NPY has no null representation).
    */
  def toNpy(dataType: DataType, values: IndexedSeq[Any]): Array[Byte] = {
    val n = values.size
    val (descr, itemSize, put): (String, Int, (ByteBuffer, Any) => Unit) = dataType match {
      case LongType => ("<i8", 8, (b, v) => b.putLong(nonNull(v, "i8").asInstanceOf[Long]))
      case IntegerType => ("<i4", 4, (b, v) => b.putInt(nonNull(v, "i4").asInstanceOf[Int]))
      case ShortType => ("<i2", 2, (b, v) => b.putShort(nonNull(v, "i2").asInstanceOf[Short]))
      case ByteType => ("|i1", 1, (b, v) => b.put(nonNull(v, "i1").asInstanceOf[Byte]))
      case DoubleType => ("<f8", 8,
        (b, v) => b.putDouble(if (v == null) Double.NaN else v.asInstanceOf[Double]))
      case FloatType => ("<f4", 4,
        (b, v) => b.putFloat(if (v == null) Float.NaN else v.asInstanceOf[Float]))
      case BooleanType => ("|b1", 1,
        (b, v) => b.put(if (nonNull(v, "b1").asInstanceOf[Boolean]) 1.toByte else 0.toByte))
      case TimestampType => ("<M8[us]", 8, (b, v) => b.putLong {
        if (v == null) Long.MinValue
        else {
          val inst = v.asInstanceOf[java.sql.Timestamp].toInstant
          inst.getEpochSecond * 1000000L + inst.getNano / 1000L
        }
      })
      case StringType =>
        val maxLen = values.foldLeft(1) {
          case (m, null) => m
          case (m, s: String) => math.max(m, s.codePointCount(0, s.length))
        }
        (s"<U$maxLen", maxLen * 4, (b, v) => {
          val s = if (v == null) "" else v.asInstanceOf[String]
          val cps = s.codePoints().toArray
          cps.foreach(b.putInt)
          (cps.length until maxLen).foreach(_ => b.putInt(0))
        })
      case other => throw new IllegalArgumentException(s"NPY sink for $other unsupported")
    }
    val header0 = s"{'descr': '$descr', 'fortran_order': False, 'shape': ($n,), }"
    // pad so magic(6)+version(2)+len(2)+header is a multiple of 64, '\n'-terminated
    val pad = (64 - ((10 + header0.length + 1) % 64)) % 64
    val header = header0 + (" " * pad) + "\n"
    val out = ByteBuffer.allocate(10 + header.length + n * itemSize).order(ByteOrder.LITTLE_ENDIAN)
    out.put(Magic).put(1.toByte).put(0.toByte).putShort(header.length.toShort)
    out.put(header.getBytes(StandardCharsets.ISO_8859_1))
    values.foreach(put(out, _))
    out.array()
  }

  private def nonNull(v: Any, descr: String): Any = {
    if (v == null) throw new IllegalArgumentException(
      s"null in non-nullable NPY column ($descr); fillna first or use a float/timestamp column")
    v
  }

  /** Driver-side collect → one deflated `<col>.npy` zip member per column
    * (the reference's `np.savez` sink, `ScalableDataFrame.py:2015-2017`).
    * Like the pickle sink it holds at most [[Pickle.MaxSinkRows]] rows and
    * refuses past them before any file is created.
    */
  def write(df: DataFrame, path: String): Unit = {
    require(Storage.detect(path) == Storage.Local,
      s"NPZ sink writes a driver-local file (got: $path)")
    df.schema.fields.foreach { f =>
      require(writable(f.dataType), s"NPY sink for ${f.dataType} unsupported (column ${f.name})")
    }
    val rows = DriverGather.atMost(df, Pickle.MaxSinkRows)(
      s"NPZ sink: over ${Pickle.MaxSinkRows} rows exceeds the driver ceiling — " +
        "npz is a driver-interchange format; write parquet for bulk data").toIndexedSeq
    val zout = new ZipOutputStream(new FileOutputStream(path))
    try {
      df.schema.fields.zipWithIndex.foreach { case (f, i) =>
        zout.putNextEntry(new ZipEntry(f.name + ".npy"))
        zout.write(toNpy(f.dataType, rows.map(_.get(i))))
        zout.closeEntry()
      }
    } finally zout.close()
  }

  private def writable(dt: DataType): Boolean = dt match {
    case LongType | IntegerType | ShortType | ByteType | DoubleType | FloatType |
         BooleanType | TimestampType | StringType => true
    case _ => false
  }

  private def readAllBytes(path: String): Array[Byte] =
    java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))
}
