package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core.DriverGather
import graft.io.{Npz, Pickle}
import graft.ops.TextAnalysis
import graft.sdf.SDF

/** The one bounded driver gather ([[graft.core.DriverGather]]): its
  * boundary, the ceilings that refuse through it at their real size, and a
  * source scan that keeps hand-rolled witness-row gathers out of `src/main`.
  */
class DriverGatherSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSession.spark

  test("the boundary: ceiling rows are returned, ceiling + 1 are refused") {
    val five = spark.range(5).toDF("id")
    assert(DriverGather.atMost(five, 5)("unused").map(_.getLong(0)).sorted.toSeq == (0L until 5L))
    assert(DriverGather.upTo(five, 5).map(_.length).contains(5))
    val e = intercept[IllegalStateException](DriverGather.atMost(five, 4)("over 4 rows"))
    assert(e.getMessage == "over 4 rows")
    assert(DriverGather.upTo(five, 4).isEmpty)
    // the refusal is only built when it is thrown
    var built = 0
    DriverGather.atMost(five, 5) { built += 1; "never" }
    assert(built == 0)
  }

  test("ceiling 0 admits only an empty frame") {
    assert(DriverGather.atMost(spark.range(0).toDF("id"), 0)("unused").isEmpty)
    assert(DriverGather.upTo(spark.range(0).toDF("id"), 0).map(_.length).contains(0))
    assert(DriverGather.upTo(spark.range(1).toDF("id"), 0).isEmpty)
    intercept[IllegalStateException](DriverGather.atMost(spark.range(1).toDF("id"), 0)("over 0"))
    intercept[IllegalArgumentException](DriverGather.upTo(spark.range(1).toDF("id"), -1))
  }

  test("crosstab refuses past MaxPivotColumns distinct values") {
    assert(SDF.MaxPivotColumns == 1000)
    val df = spark.range(SDF.MaxPivotColumns + 1).select((col("id") % 3).as("r"), col("id").as("c"))
    val e = intercept[IllegalStateException](SDF(df).crosstab("r", "c"))
    assert(e.getMessage.contains("crosstab") && e.getMessage.contains("1000"))
    // at the ceiling the pivot runs: the row key plus one column per value
    val at = SDF(df.filter(col("c") < SDF.MaxPivotColumns)).crosstab("r", "c")
    assert(at.df.columns.length == SDF.MaxPivotColumns + 1)
  }

  test("getDummies refuses past MaxPivotColumns distinct values") {
    val df = spark.range(SDF.MaxPivotColumns + 1).toDF("c")
    val e = intercept[IllegalStateException](SDF(df).getDummies("c"))
    assert(e.getMessage.contains("getDummies") && e.getMessage.contains("1000"))
    val at = SDF(df.filter(col("c") < SDF.MaxPivotColumns)).getDummies("c")
    assert(at.df.columns.length == SDF.MaxPivotColumns + 1)
  }

  test("stripBoilerplate refuses past MaxBoilerplateLines hot lines") {
    assert(TextAnalysis.MaxBoilerplateLines == 100000)
    val docs = spark.range(TextAnalysis.MaxBoilerplateLines + 1)
      .select(col("id"), concat(lit("line "), col("id").cast("string")).as("t"))
    val e = intercept[IllegalStateException](
      TextAnalysis.stripBoilerplate(docs, col("t"), minDocFreq = 1L))
    assert(e.getMessage.contains("100000") && e.getMessage.contains("minDocFreq"))
  }

  test("Npz.write refuses past MaxSinkRows before creating the file") {
    val dir = Files.createTempDirectory("npz")
    val over = dir.resolve("over.npz")
    val e = intercept[IllegalStateException](
      Npz.write(spark.range(Pickle.MaxSinkRows + 1).toDF("id"), over.toString))
    assert(e.getMessage.contains("1000000") && e.getMessage.contains("parquet"))
    assert(!Files.exists(over), "the refusal left a file behind")
    Files.delete(dir)
  }

  /** `.limit(n + 1)`, `.limit((n + 2).toInt)` and the like: a witness-row
    * probe whose extra rows prove an overflow.
    */
  private val witnessLimit = "\\.limit\\(\\s*\\(?\\s*[\\w.]+\\s*\\+\\s*[12]\\s*\\)?(\\.toInt)?\\s*\\)".r

  /** Text that ends in an `orderBy(...)` call: a limit after it is a top-k
    * (TF-IDF's `max_features` keeps k terms plus its document-count row),
    * not a witness probe.
    */
  private val endsInOrderBy = "orderBy\\((?:[^()]|\\([^()]*\\))*\\)\\s*$".r

  test("src/main gathers past a ceiling only through DriverGather") {
    val main = Paths.get("src/main")
    assert(Files.isDirectory(main), s"run from the project root: ${main.toAbsolutePath}")
    val comment = "(?s)/\\*.*?\\*/|//[^\\n]*".r
    val hits = Files.walk(main).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && p.getFileName.toString != "DriverGather.scala")
      .flatMap { (p: Path) =>
        val code = comment.replaceAllIn(new String(Files.readAllBytes(p), "UTF-8"), "")
        witnessLimit.findAllMatchIn(code)
          .filterNot(m => endsInOrderBy.findFirstIn(code.substring(math.max(0, m.start - 300), m.start)).isDefined)
          .map(m => s"${main.relativize(p)}: ${m.matched}")
      }.toSeq.sorted
    assert(hits.isEmpty, hits.mkString("hand-rolled witness-row gathers outside DriverGather: ", ", ", ""))
  }
}
