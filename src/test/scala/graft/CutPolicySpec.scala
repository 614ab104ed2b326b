package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.CheckpointDirBridge.withCheckpointDir
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core.ResultDigest
import graft.ops.{Components, Dedup, Graph, Snapshots, TextAnalysis}

/** The one lineage-cut policy ([[graft.ops.Snapshots.cut]]): local
  * checkpoints while the application has no checkpoint dir, reliable ones
  * while it has one. Every operator family must give the same result either
  * way, write its checkpoints under the dir, and leave no persisted RDD.
  */
class CutPolicySpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSession.spark
  import spark.implicits._

  private def clearCaches(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  private def regularFiles(dir: Path): Seq[Path] =
    Files.walk(dir).iterator().asScala.filter(Files.isRegularFile(_)).toSeq

  private def deleteTree(dir: Path): Unit =
    Files.walk(dir).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)

  private def checkpointDirs(dir: Path): Seq[Path] =
    Files.walk(dir).iterator().asScala
      .filter(p => Files.isDirectory(p) && p.getFileName.toString.startsWith("rdd-")).toSeq

  /** `op` digested once in local mode and once with a fresh checkpoint dir;
    * `resultOnly`: no checkpoint but the result's stays on disk.
    */
  private def checkFamily(name: String, resultOnly: Boolean = false)(op: => DataFrame): Unit = {
    clearCaches()
    val local = ResultDigest.digest(op)
    val dir = Files.createTempDirectory("graft-cut")
    try {
      clearCaches()
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val reliable = withCheckpointDir(spark.sparkContext, dir.toString)(ResultDigest.digest(op))
      assert(regularFiles(dir).nonEmpty, s"$name wrote no checkpoint files under the dir")
      assert(reliable.matches(local), s"$name: reliable $reliable vs local $local")
      val held = (spark.sparkContext.getPersistentRDDs.keySet -- before).size
      assert(held == 0, s"$name left $held persisted RDDs in reliable mode")
      if (resultOnly) {
        val kept = checkpointDirs(dir)
        assert(kept.size == 1, s"$name left ${kept.size} checkpoint dirs: ${kept.mkString(", ")}")
      }
    } finally {
      clearCaches()
      deleteTree(dir)
    }
    assert(spark.sparkContext.getCheckpointDir.isEmpty, "checkpoint dir not restored")
  }

  private lazy val docs = ((1L to 60L).map(i => (i, s"some document body $i with shared words", "en")) ++
    Seq((900L, "alpha beta gamma delta epsilon", "de"), (901L, "alpha beta gamma delta zeta", "en")))
    .toDF("id", "t", "lang")

  test("connectedComponents on the distributed path cuts reliably under a checkpoint dir") {
    val chain = (0L until 60L).map(i => (i, i + 1)).toDF("a", "b")
    checkFamily("connectedComponents", resultOnly = true)(
      Components.connectedComponentsDistributed(chain, "a", "b", maxIter = 15)._1)
  }

  test("verifiedNearDupPairs cuts reliably under a checkpoint dir") {
    checkFamily("verifiedNearDupPairs")(
      Dedup.verifiedNearDupPairs(docs, col("t"), col("id"), threshold = 0.3))
  }

  test("dsirScoresWithin cuts reliably under a checkpoint dir") {
    checkFamily("dsirScoresWithin")(
      TextAnalysis.dsirScoresWithin(docs, col("id"), col("t"), col("lang") === "en", dim = 64))
  }

  test("removeDuplicateSpans cuts reliably under a checkpoint dir") {
    checkFamily("removeDuplicateSpans")(
      TextAnalysis.removeDuplicateSpans(docs, col("id"), col("t"), k = 3))
  }

  test("pageRank on the sort-merge tier cuts reliably under a checkpoint dir") {
    // node 40 dangles, so the snapshot window is 4 rounds: round 8's
    // snapshot supersedes round 4's
    val edges = ((0L until 40L).flatMap(i => Seq((i, (i * 7 + 1) % 40), (i, (i + 3) % 40))) :+
      ((0L, 40L))).toDF("src", "dst")
    checkFamily("pageRank", resultOnly = true)(
      Graph.pageRankSortMerge(edges, "src", "dst", iterations = 8))
  }

  test("a reliable cut is eager even when a lazy one is asked for, and computes its plan once") {
    val evaluated = spark.sparkContext.longAccumulator("cut-evaluations")
    val counted = udf { (x: Long) => evaluated.add(1L); x }
    val dir = Files.createTempDirectory("graft-cut")
    try {
      clearCaches()
      val out = withCheckpointDir(spark.sparkContext, dir.toString)(
        Snapshots.cut(spark.range(0, 100, 1, 4).select(counted(col("id")).as("id")), eager = false))
      assert(evaluated.sum == 100L, s"the cut evaluated ${evaluated.sum} rows for 100")
      assert(out.count() == 100L && evaluated.sum == 100L, "reading the cut recomputed its plan")
      assert(spark.sparkContext.getPersistentRDDs.isEmpty)
    } finally {
      clearCaches()
      deleteTree(dir)
    }
  }

  test("src/main cuts lineage only through Snapshots and never sets the checkpoint dir") {
    val main = Paths.get("src/main")
    assert(Files.isDirectory(main), s"run from the project root: ${main.toAbsolutePath}")
    val comment = "(?s)/\\*.*?\\*/|//[^\\n]*".r
    val cutCall = "\\.(localCheckpoint|checkpoint)\\b".r
    val setDir = "\\bsetCheckpointDir\\b".r
    val hits = Files.walk(main).iterator().asScala.filter(_.toString.endsWith(".scala"))
      .flatMap { p =>
        val code = comment.replaceAllIn(new String(Files.readAllBytes(p), "UTF-8"), "")
        val cuts = if (p.getFileName.toString == "Snapshots.scala") Nil
          else cutCall.findAllIn(code).toList
        (cuts ++ setDir.findAllIn(code)).map(m => s"${main.relativize(p)}: $m")
      }.toSeq.sorted
    assert(hits.isEmpty, hits.mkString("lineage cuts outside Snapshots.cut: ", ", ", ""))
  }
}
