package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.{Graph, Sampling, TextAnalysis}

/** Randomized differentials for PageRank (both loops vs an
  * independent driver power iteration on random sparse digraphs) and the
  * budget/braid selection ops. GraphSpec pins hand cases and the
  * documented corners; these run fresh topologies every time — dangling
  * sinks, parallel edges, self-loops, multi-component graphs.
  */
class PageRankPropertySpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSession.spark
  import spark.implicits._

  import PropertyTestKit.sampled

  private def referencePageRank(edges: Seq[(String, String)], iterations: Int,
      d: Double): Map[String, Double] = {
    val dedup = edges.distinct
    val nodes = dedup.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    val n = nodes.size
    val out = dedup.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    var r = nodes.map(v => v -> 1.0 / n).toMap
    for (_ <- 1 to iterations) {
      val dangling = nodes.filterNot(out.contains).map(r).sum
      val incoming = dedup.groupBy(_._2).view.mapValues(
        _.map { case (s, _) => r(s) / out(s).size }.sum).toMap
      r = nodes.map(v => v ->
        ((1 - d) / n + d * (incoming.getOrElse(v, 0.0) + dangling / n))).toMap
    }
    r
  }

  test("pageRank matches the driver power iteration on random digraphs, all tiers") {
    import org.scalacheck.Gen
    val node = Gen.chooseNum(0, 60).map(i => s"v$i")
    val e = for { a <- node; b <- node } yield (a, b)
    for (trial <- 1 to 2) {
      val edges = Seq.fill(80)(sampled(e))
      val want = referencePageRank(edges, 10, 0.85)
      val df = edges.toDF("src", "dst")
      for ((tier, ranks) <- Seq(
        "local" -> Graph.pageRank(df, "src", "dst", iterations = 10),
        "smj" -> Graph.pageRankSortMerge(df, "src", "dst", iterations = 10))) {
        val got = ranks.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
        assert(got.keySet == want.keySet, s"trial $trial $tier node set")
        want.foreach { case (k, v) =>
          assert(math.abs(got(k) - v) < 1e-9, s"trial $trial $tier node $k: ${got(k)} vs $v")
        }
        assert(math.abs(got.values.sum - 1.0) < 1e-9, s"trial $trial $tier mass")
      }
    }
  }

  test("selectByTokenBudget keeps the quality prefix under the exclusive cumsum rule") {
    import org.scalacheck.Gen
    val docs = Seq.tabulate(250)(i => (f"d$i%04d",
      sampled(Gen.chooseNum(0.0, 10.0)), sampled(Gen.chooseNum(1L, 40L))))
    val budget = 900L
    val got = Sampling.selectByTokenBudget(docs.toDF("id", "score", "tokens"),
        col("id"), col("score"), col("tokens"), budget)
      .collect().map(_.getString(0)).toSet
    val ordered = docs.sortBy { case (id, s, _) => (-s, id) }
    var cum = 0L
    val want = ordered.takeWhile { case (_, _, t) =>
      val keep = cum < budget; cum += t; keep
    }.map(_._1).toSet
    assert(got == want, "budget selection diverged from the driver prefix scan")
    // only the LAST kept doc may overflow the budget
    val keptTokens = ordered.filter(d => want(d._1)).map(_._3)
    assert(keptTokens.init.sum < budget, "all but the last kept doc fit the budget")
  }

  test("interleaveBySource braid positions match the driver rank/weight rule") {
    import org.scalacheck.Gen
    val src = Gen.frequency(2 -> Gen.const("web"), 1 -> Gen.const("code"),
      1 -> Gen.const("books"))
    val rows = Seq.tabulate(200)(i => (f"d$i%04d", sampled(src)))
    val weights = Map("web" -> 2.0, "code" -> 1.0)
    val df = rows.toDF("id", "source")
    val hashes = df.select(col("id"), TextAnalysis.hash60(col("id").cast("string")).as("h"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val got = Sampling.interleaveBySource(df, col("source"), col("id"), weights)
      .collect().map(r => r.getString(0) -> r.getAs[Double]("braid_pos")).toMap
    rows.groupBy(_._2).foreach { case (s, rs) =>
      val w = weights.getOrElse(s, 1.0)
      rs.map(_._1).sortBy(id => (hashes(id), id)).zipWithIndex.foreach { case (id, i) =>
        val want = (i + 1).toDouble / w
        assert(math.abs(got(id) - want) < 1e-12, s"braid pos of $id: ${got(id)} vs $want")
      }
    }
    // the braid property itself: in (pos, id) order a weight-2 source emits
    // ~2 rows per weight-1 row over any prefix
    val orderAll = got.toSeq.sortBy { case (id, p) => (p, id) }.map(_._1)
    val srcOf = rows.toMap
    val firstHundred = orderAll.take(100).map(srcOf)
    val webShare = firstHundred.count(_ == "web").toDouble / 100
    assert(webShare > 0.3 && webShare < 0.9, s"braid grossly unbalanced: $webShare")
  }
}
