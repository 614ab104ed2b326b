package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.Components

/** Randomized differential for connected components: sparse random graphs
  * (many small components, self-loops, parallel and reversed edges) are
  * solved by a driver union-find and compared against BOTH tiers — the
  * driver fast path (integral ids under the edge threshold) and the
  * distributed pointer-jumping loop (forced via threshold 0, and again via
  * string ids which are ineligible for the fast path).
  */
class ComponentsPropertySpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSession.spark
  import spark.implicits._

  import PropertyTestKit.sampled

  private val edges: Seq[(Long, Long)] = {
    import org.scalacheck.Gen
    val node = Gen.chooseNum(0L, 120L)
    val e = for { a <- node; b <- node } yield (a, b) // self-loops included
    Seq.fill(130)(sampled(e)) // ~1.1 edges/node → a forest of components
  }

  private def reference: Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  test("both tiers match a driver union-find on random graphs") {
    val want = reference
    val df = edges.toDF("a", "b")
    // driver fast path (integral ids, under the default threshold)
    val fast = Components.connectedComponents(df, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fast == want, "driver fast path diverged from union-find")
    // distributed loop, forced
    val (dist, converged) = Components.connectedComponentsDistributed(
      df, "a", "b", maxIter = 12)
    assert(converged, "distributed loop must converge within 12 rounds")
    val distMap = dist.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(distMap == want, "distributed loop diverged from union-find")
  }

  test("string ids take the distributed path and agree after relabeling") {
    val want = reference
    val df = edges.map { case (a, b) => (s"n$a", s"n$b") }.toDF("a", "b")
    val (got, converged) = Components.connectedComponentsWithStatus(
      df, "a", "b", maxIter = 12)
    assert(converged)
    val gotMap = got.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    // min STRING id need not be the min NUMERIC id ("n100" < "n2"), so
    // compare the partitions, not the labels: same groups of nodes
    def groups(m: Map[String, String]): Set[Set[String]] =
      m.groupBy(_._2).values.map(_.keySet.toSet).toSet
    val wantStr = want.map { case (k, v) => s"n$k" -> s"n$v" }
    assert(groups(gotMap) == groups(wantStr), "string-id partitions diverged")
  }
}
