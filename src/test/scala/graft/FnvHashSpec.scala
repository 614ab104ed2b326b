package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.FnvHash64
import graft.ops.Multimodal

/** Native Catalyst expression spec: interpreted eval == codegen eval ==
  * driver-side kernel, SQL registration, and agreement with the multimodal
  * decode checksum.
  */
class FnvHashSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSession.spark
  import spark.implicits._

  test("fnv_hash64 matches driver-side kernel on strings and binary") {
    val data = Seq("", "a", "hello world", "graft engine é中")
    val df = data.toDF("s")
      .withColumn("h", FnvHash64.fnv_hash64(col("s")))
      .withColumn("hb", FnvHash64.fnv_hash64(encode(col("s"), "UTF-8")))
    df.collect().zip(data).foreach { case (r, s) =>
      val expected = FnvHash64.hash(s.getBytes("UTF-8"))
      assert(r.getLong(1) == expected && r.getLong(2) == expected, s"mismatch for '$s'")
    }
  }

  test("kernel matches published canonical FNV-1a 64 test vectors (incl. non-ASCII)") {
    // regression: `h ^ bytes(i)` sign-extended bytes >= 0x80, diverging from
    // canonical FNV-1a on every non-ASCII/binary input
    val vectors = Seq(
      "" -> -3750763034362895579L, // 0xcbf29ce484222325 (offset basis)
      "a" -> -5808556873153909620L, // 0xaf63dc4c8601ec8c
      "foobar" -> -8821353812377114648L, // 0x85944171f73967e8
      "é中" -> -3520553697061967688L) // 0xcf247b10b1eee8b8 (non-ASCII bytes)
    vectors.foreach { case (s, expected) =>
      assert(FnvHash64.hash(s.getBytes("UTF-8")) == expected, s"vector '$s'")
    }
  }

  test("codegen and interpreted paths agree") {
    // via PropertyTestKit.withExecutedMode: a bare factory-mode toggle is
    // VACUOUS here (ConvertToLocalRelation pre-evaluates the projection)
    val df = (0 until 100).map(i => s"row-$i").toDF("s")
    def hashes(mode: String): Seq[Long] =
      PropertyTestKit.withExecutedMode(spark, mode) {
        df.withColumn("h", FnvHash64.fnv_hash64(col("s")))
          .collect().map(_.getLong(1)).toSeq
      }
    assert(hashes("codegen") == hashes("interpreted"))
  }

  test("SQL registration") {
    FnvHash64.register(spark)
    val out = spark.sql("SELECT fnv_hash64('abc') AS h").head().getLong(0)
    assert(out == FnvHash64.hash("abc".getBytes("UTF-8")))
  }

  test("GraftExtensions installs SQL functions (running-session path)") {
    graft.functions.GraftExtensions.installInto(spark)
    assert(spark.sql("SELECT fnv_hash64('abc') AS h").head().getLong(0)
      == FnvHash64.hash("abc".getBytes("UTF-8")))
    assert(spark.sql("SELECT round(product_exact(x), 4) AS p FROM VALUES (1.5),(2.0),(NULL) t(x)")
      .head().getDouble(0) == 3.0)
    // the curate kernels: each SQL form equals the op-level Column form,
    // quality_signals with qualityStruct's own stopword set
    import graft.ops.{Dedup, TextAnalysis}
    val text = "The cat sat on the mat...\n- a bullet line\n# heading"
    val sqlRow = spark.sql(
      s"""SELECT minhash_signature(shingles_from_tokens(word_tokens(t), 3), 4) AS m,
         |  gopher_flags(t) AS g, quality_signals(t, word_tokens(t)) AS q
         |FROM VALUES ('${text.replace("\n", "\\n")}') v(t)""".stripMargin).head()
    val t = col("t")
    val colRow = Seq(text).toDF("t").select(
      Dedup.minhashFromShinglesReference(TextAnalysis.shingles(t, 3), 4),
      TextAnalysis.gopherFlagsReference(t),
      TextAnalysis.qualityStructStagedReference(t, TextAnalysis.tokens(t))).head()
    assert(sqlRow.toSeq == colRow.toSeq)
    // 10 words, two of them "the"
    assert(sqlRow.getSeq[Long](0).forall(_ >= 0L) && sqlRow.getStruct(2).getLong(0) == 10L &&
      sqlRow.getStruct(2).getDouble(3) == 0.2)
  }

  test("expression checksum equals the multimodal decode stub checksum") {
    val docs = Seq((1L, "payload bytes here")).toDF("id", "t")
    val assets = docs.select(col("id"),
      Multimodal.assetStruct(concat(lit("d"), col("id")), encode(col("t"), "UTF-8"), map()).as("asset"))
    val decoded = Multimodal.decodeImages(assets, "asset").collect().head
    val viaExpr = docs.select(FnvHash64.fnv_hash64(encode(col("t"), "UTF-8"))).head().getLong(0)
    assert(decoded.checksum == viaExpr)
  }
}
