package graft.io

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.nio.charset.StandardCharsets
import java.util.zip.{GZIPInputStream, GZIPOutputStream}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import graft.core.DriverGather

/** Frame wire compression — the reference's `compress()`/`decompress()`
  * (`src/bears/core/frame/ScalableDataFrame.py:336-393, 2057-2086`): rows as
  * minified JSON, compressed, optionally base64. Codecs: gzip (JVM stdlib,
  * the default) and zstd (via the zstd-jni Spark already ships for shuffle/
  * parquet — no new dependency). Brotli, the reference's other codec, has no
  * JVM-stdlib/Spark-bundled implementation and stays out of scope: Spark's
  * commons-compress ships only the `BrotliCompressorInputStream` WRAPPER,
  * whose `org.brotli:dec` backend is not on the distribution classpath —
  * and brotli has no JVM encoder at all, so even with the decode jar the
  * codec would be read-only. zstd strictly dominates it for this engine's
  * wire format anyway.
  *
  * Two regimes:
  *   - [[compress]]: driver-side single payload — the reference's use case
  *     (shipping a small frame over a wire);
  *   - [[compressPerPartition]]: executor-side, one payload per partition —
  *     the form that scales (no driver materialization).
  */
object Compress {

  /** Wire codec ids accepted by every entry point. */
  val Gzip = "gzip"
  val Zstd = "zstd"

  def gzip(s: String): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val gz = new GZIPOutputStream(bos) { `def`.setLevel(9) }
    gz.write(s.getBytes(StandardCharsets.UTF_8)); gz.close()
    bos.toByteArray
  }

  def gunzip(b: Array[Byte]): String = {
    val in = new GZIPInputStream(new ByteArrayInputStream(b))
    new String(in.readAllBytes(), StandardCharsets.UTF_8)
  }

  def zstd(s: String): Array[Byte] =
    com.github.luben.zstd.Zstd.compress(s.getBytes(StandardCharsets.UTF_8), 9)

  def unzstd(b: Array[Byte]): String = {
    // content size is embedded in the frame header by Zstd.compress
    val n = com.github.luben.zstd.Zstd.getFrameContentSize(b)
    require(n >= 0 && n <= Int.MaxValue, s"bad zstd frame content size: $n")
    new String(com.github.luben.zstd.Zstd.decompress(b, n.toInt), StandardCharsets.UTF_8)
  }

  private def encoder(codec: String): String => Array[Byte] = codec match {
    case Gzip => gzip
    case Zstd => zstd
    case other => throw new IllegalArgumentException(s"unknown codec: $other (gzip|zstd)")
  }

  private def decoder(codec: String): Array[Byte] => String = codec match {
    case Gzip => gunzip
    case Zstd => unzstd
    case other => throw new IllegalArgumentException(s"unknown codec: $other (gzip|zstd)")
  }

  /** Rows above which the driver-side [[compress]] refuses: 5M JSON lines is
    * hundreds of MB to a few GB of driver heap — already generous for a
    * "frame → one in-memory payload" API, and anything larger belongs on the
    * executors ([[compressPerPartition]]).
    */
  val DriverCompressRowCeiling: Int = 5000000

  /** Whole frame → one compressed JSON-lines payload (driver-side — the
    * reference's `ScalableDataFrame` compress contract, which is also
    * driver-side). Guarded: the payload materializes ALL rows on the driver,
    * so frames above [[DriverCompressRowCeiling]] rows refuse loudly and
    * point at the distributed [[compressPerPartition]] path. Guard and
    * collect are ONE bounded gather ([[graft.core.DriverGather]]): the
    * ceiling is checked on exactly the rows collected, and an over-ceiling
    * frame never materializes more than ceiling+1 rows before refusing.
    */
  def compress(df: DataFrame, codec: String = Gzip): Array[Byte] =
    compress(df, codec, DriverCompressRowCeiling)

  /** [[compress]] under a given row ceiling, so a spec reaches the refusal
    * with a tiny frame.
    */
  private[graft] def compress(df: DataFrame, codec: String, ceiling: Int): Array[Byte] = {
    val lines = DriverGather.atMost(df.toJSON, ceiling)(
      s"Compress.compress: frame exceeds $ceiling rows — a whole-frame " +
        "driver-side payload at this size risks driver OOM. Use compressPerPartition " +
        "(distributed, one payload per partition) or write a compressed file format instead.")
    encoder(codec)(lines.mkString("\n"))
  }

  /** Payload → frame, schema re-inferred from JSON (pass `schema` to pin
    * types exactly, mirroring the reference's layout round-trip).
    */
  def decompress(spark: SparkSession, payload: Array[Byte],
      schema: Option[org.apache.spark.sql.types.StructType] = None,
      codec: String = Gzip): DataFrame = {
    import spark.implicits._
    // compress(emptyDf) yields "" whose split gives one BLANK line — drop
    // blanks so an empty frame round-trips instead of the schemaless read
    // dying on "Unable to infer schema" (with a schema, return a properly
    // typed empty frame rather than parsing the blank as an all-null row)
    val lines0 = decoder(codec)(payload).split("\n").toSeq.filter(_.nonEmpty)
    if (lines0.isEmpty)
      return schema.fold(spark.emptyDataFrame)(s =>
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], s))
    val lines: Dataset[String] = spark.createDataset(lines0)
    schema.fold(spark.read.json(lines))(s => spark.read.schema(s).json(lines))
  }

  /** Optional base64 wrapping (`ScalableDataFrame.py:363, 380` base64
    * flag) for text-safe transport of the compressed payload.
    */
  def compressBase64(df: DataFrame, codec: String = Gzip): String =
    java.util.Base64.getEncoder.encodeToString(compress(df, codec))

  def decompressBase64(spark: SparkSession, payload: String,
      schema: Option[org.apache.spark.sql.types.StructType] = None,
      codec: String = Gzip): DataFrame =
    decompress(spark, java.util.Base64.getDecoder.decode(payload), schema, codec)

  /** Executor-side variant: one payload per partition, no driver hop. */
  def compressPerPartition(df: DataFrame, codec: String = Gzip): Dataset[Array[Byte]] = {
    import df.sparkSession.implicits._
    val enc = encoder(codec)
    df.toJSON.mapPartitions(rows => Iterator.single(enc(rows.mkString("\n"))))
  }
}
