package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.Components

class ComponentsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSession.spark
  import spark.implicits._

  test("connected components: chains, cliques, isolated pairs") {
    // components: {1,2,3,4} (chain), {10,11,12} (triangle), {20,21}
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L), (10L, 12L), (20L, 21L))
      .toDF("id_a", "id_b")
    val comps = Components.connectedComponents(edges, "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Seq(1L, 2L, 3L, 4L).forall(comps(_) == 1L))
    assert(Seq(10L, 11L, 12L).forall(comps(_) == 10L))
    assert(Seq(20L, 21L).forall(comps(_) == 20L))
  }

  test("high-diameter chain converges with bounded plan size; maxIter hit is surfaced") {
    // path graph 0-1-...-100: diameter 100. Plain min-label propagation would
    // need ~100 rounds; pointer jumping (from round 3) doubles the horizon
    // per round, so maxIter=15 proves the O(log d) path — across several
    // checkpoint cycles at CheckpointEvery=3
    val n = 100L
    val edges = (0L until n).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val (labels, converged) = Components.connectedComponentsWithStatus(
      edges, "id_a", "id_b", maxIter = 15, smallGraphMaxEdges = 0) // force the distributed path
    assert(converged, "diameter-100 chain must converge within 15 jumping rounds")
    val comps = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((0L to n).forall(comps(_) == 0L))
    // lineage truncation: the result's RDD lineage must stop at the last
    // localCheckpoint (<=CheckpointEvery rounds back), not chain every round
    def depth(r: org.apache.spark.rdd.RDD[_]): Int =
      if (r.dependencies.isEmpty) 1 else 1 + r.dependencies.map(d => depth(d.rdd)).max
    val d = depth(labels.rdd)
    assert(d < 40, s"RDD lineage depth $d — grew with iterations, checkpoint not truncating")

    val (_, hitCap) = Components.connectedComponentsWithStatus(
      edges, "id_a", "id_b", maxIter = 2, smallGraphMaxEdges = 0)
    assert(!hitCap, "maxIter=2 on a diameter-100 chain must report non-convergence")
  }

  test("small-graph fast path == distributed iterative labels") {
    // pseudo-random graph: chains + cliques + isolates mixed
    val rnd = new scala.util.Random(7)
    val edges = (0 until 400).map(_ => (rnd.nextInt(150).toLong, rnd.nextInt(150).toLong))
      .filter { case (a, b) => a != b }.toDF("id_a", "id_b")
    def labels(threshold: Long) = Components.connectedComponents(
      edges, "id_a", "id_b", maxIter = 20, smallGraphMaxEdges = threshold)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels(100000L) == labels(0L), "fast path must reproduce the iterative fixed point")
  }

  test("reliable checkpoint dir: same labels, checkpoint files actually written") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toFile
    try org.apache.spark.CheckpointDirBridge.withCheckpointDir(spark.sparkContext, dir.getAbsolutePath) {
      val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L), (6L, 7L))
        .toDF("id_a", "id_b")
      val (labels, converged) = Components.connectedComponentsWithStatus(
        edges, "id_a", "id_b", maxIter = 15,
        smallGraphMaxEdges = 0) // reliable checkpoints only exist on the distributed path
      assert(converged)
      val comps = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert((1L to 7L).forall(comps(_) == 1L))
      // the chain needs >= CheckpointEvery rounds, so at least one reliable
      // checkpoint must have been materialized on disk
      def files(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(files) else Seq(f)
      assert(files(dir).nonEmpty, "no reliable checkpoint files written")
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm); f.delete()
      }
      rm(dir)
    }
  }

  test("empty edge frame: converges immediately with empty labels") {
    val edges = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    val (labels, converged) = Components.connectedComponentsWithStatus(edges, "id_a", "id_b")
    assert(converged && labels.count() == 0)
  }

  test("dedupByCandidates keeps representatives + untouched rows") {
    val df = (1L to 6L).map(i => (i, s"doc$i")).toDF("id", "t")
    val cands = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    val out = Components.dedupByCandidates(df, "id", cands)
      .collect().map(_.getLong(0)).sorted.toSeq
    // {1,2,3} -> 1; {5,6} -> 5; 4 untouched
    assert(out == Seq(1L, 4L, 5L))
  }
}
