package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.Graph

class GraphSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSession.spark
  import spark.implicits._

  /** Driver-side reference PageRank with the exact same semantics (damped,
    * uniform teleport, dangling mass redistributed uniformly) — the
    * differential oracle for the distributed implementation.
    */
  private def referencePageRank(edges: Seq[(String, String)], iterations: Int,
      d: Double, sources: Option[Seq[String]] = None): Map[String, Double] = {
    val dedup = edges.distinct
    val nodes = dedup.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    val n = nodes.size
    val out = dedup.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val t: String => Double = sources match {
      case None => _ => 1.0 / n
      case Some(ss) => v => if (ss.contains(v)) 1.0 / ss.distinct.size else 0.0
    }
    var r = nodes.map(v => v -> t(v)).toMap
    for (_ <- 1 to iterations) {
      val dangling = nodes.filterNot(out.contains).map(r).sum
      val incoming = dedup.groupBy(_._2).view.mapValues(
        _.map { case (s, _) => r(s) / out(s).size }.sum).toMap
      r = nodes.map(v =>
        v -> ((1 - d) * t(v) + d * (incoming.getOrElse(v, 0.0) + dangling * t(v)))).toMap
    }
    r
  }

  test("pageRank matches the reference on a graph WITH dangling nodes") {
    // 1→2→3→1 cycle plus 1→4 where 4 has no out-edges (dangling): its rank
    // must recirculate uniformly, keeping Σr = 1
    val edges = Seq(("1", "2"), ("2", "3"), ("3", "1"), ("1", "4"))
    val got = Graph.pageRank(edges.toDF("src", "dst"), "src", "dst",
        iterations = 12, damping = 0.85)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val want = referencePageRank(edges, 12, 0.85)
    assert(got.keySet == want.keySet)
    for ((k, v) <- want) assert(math.abs(got(k) - v) < 1e-9, s"node $k: ${got(k)} vs $v")
    assert(math.abs(got.values.sum - 1.0) < 1e-9, "ranks must sum to 1 (dangling mass conserved)")
    // hub 1 receives from the cycle; sink 4 only via teleport+1's fan — strict order
    assert(got("1") > got("4"))
  }

  test("pageRank: parallel edges collapse, star hub dominates, determinism") {
    val star = Seq(("h", "a"), ("h", "b"), ("h", "c"),
      ("a", "h"), ("b", "h"), ("c", "h"), ("a", "h")) // duplicate a→h must not double-weight
    val df = star.toDF("src", "dst")
    val r1 = Graph.pageRank(df, "src", "dst", iterations = 10)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val want = referencePageRank(star, 10, 0.85)
    for ((k, v) <- want) assert(math.abs(r1(k) - v) < 1e-9)
    assert(r1("h") > r1("a") && r1("a") == r1("b") && r1("b") == r1("c"))
    // repeated run is bit-identical (no rand(), no partition-order sums at
    // this scale beyond the fixed join shape)
    val r2 = Graph.pageRank(df, "src", "dst", iterations = 10)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(r1 == r2)
  }

  test("personalized pageRank: proximity to the source set, matches reference; degrees profile") {
    // chain a->b->c->d plus back-edges: personalization on {a} should rank
    // nodes by proximity to a
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "d"),
      ("b", "a"), ("c", "b"), ("d", "c"))
    val got = Graph.personalizedPageRank(edges.toDF("src", "dst"), "src", "dst",
        sources = Seq("a"), iterations = 15)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val want = referencePageRank(edges, 15, 0.85, Some(Seq("a")))
    for ((k, v) <- want) assert(math.abs(got(k) - v) < 1e-9, s"node $k: ${got(k)} vs $v")
    // NOT monotone in hop distance generally (a pours its whole mass into
    // b, so b > a here); but nodes near the source beat far ones
    assert(got("a") > got("c") && got("b") > got("c") && got("c") > got("d"),
      s"near-source nodes must outrank far ones: $got")
    val degs = Graph.degrees(edges.toDF("src", "dst"), "src", "dst")
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(degs("a") == ((1L, 1L)) && degs("b") == ((2L, 2L)) && degs("d") == ((1L, 1L)))
  }

  /** The two loops: the driver loop every small graph here is admitted
    * to, and the sort-merge loop graphs past the driver budgets take.
    */
  private val loops: Seq[(String, DataFrame => Int => DataFrame)] = Seq(
    "local" -> (df => it => Graph.pageRank(df, "src", "dst", iterations = it)),
    "smj" -> (df => it => Graph.pageRankSortMerge(df, "src", "dst", iterations = it)))

  test("pageRank: both loops (driver-local / sort-merge) match the reference") {
    // node 5 is dangling, so each loop's dangling redistribution is hit too
    val edges = Seq(("1", "2"), ("2", "3"), ("3", "1"), ("1", "4"), ("4", "2"),
      ("2", "5"))
    val df = edges.toDF("src", "dst")
    val want = referencePageRank(edges, 12, 0.85)
    for ((loop, run) <- loops) {
      val got = run(df)(12).collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      for ((k, v) <- want) assert(math.abs(got(k) - v) < 1e-9, s"$loop node $k: ${got(k)} vs $v")
    }
  }

  test("pageRank: null-id edges behave identically on both loops (join semantics)") {
    // a null src never contributes (equi-joins drop null keys) but a null
    // dst IS a groupable node — the driver-local sweep must agree with the
    // sort-merge loop on both
    val edges = Seq((null.asInstanceOf[String], "a"), ("a", "b"), ("b", null),
      ("b", "a")).toDF("src", "dst")
    val Seq(local, smj) = loops.map { case (_, run) =>
      run(edges)(6).collect().map(r => Option(r.getString(0)) -> r.getDouble(1)).toMap
    }
    assert(local.keySet == smj.keySet && local.keySet.contains(None))
    for ((k, v) <- smj)
      assert(math.abs(local(k) - v) < 1e-12, s"local vs SMJ at $k: ${local(k)} vs $v")
  }

  test("pageRank: edgesDistinct=true on an already-distinct list matches the dedup path") {
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "a"), ("a", "c"))
    val df = edges.toDF("src", "dst")
    val fast = Graph.pageRank(df, "src", "dst", iterations = 8, edgesDistinct = true)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val safe = Graph.pageRank(df, "src", "dst", iterations = 8)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    for ((k, v) <- safe) assert(math.abs(fast(k) - v) < 1e-12, s"node $k")
  }

  test("pageRank: integral-id graphs keep LONG nodes on both loops and match the string path") {
    // same topology under both id regimes (string "1".."5" vs long 1..5,
    // node 5 dangling) — ranks must agree to the bit, the integral path's
    // output node column must be BIGINT, and both loops must take it
    val sEdges = Seq(("1", "2"), ("2", "3"), ("3", "1"), ("1", "4"), ("4", "2"), ("2", "5"))
    val lEdges = sEdges.map { case (a, b) => (a.toLong, b.toLong) }
    val want = Graph.pageRank(sEdges.toDF("src", "dst"), "src", "dst", iterations = 9)
      .collect().map(r => r.getString(0).toLong -> r.getDouble(1)).toMap
    for ((loop, run) <- loops) {
      val out = run(lEdges.toDF("src", "dst"))(9)
      assert(out.schema("node").dataType == org.apache.spark.sql.types.LongType,
        s"$loop: integral graph must keep LONG node ids, got ${out.schema("node").dataType}")
      val got = out.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(got.keySet == want.keySet, loop)
      for ((k, v) <- want) assert(math.abs(got(k) - v) < 1e-12, s"$loop node $k")
    }
  }

  test("pageRank: precomputedDegrees matches the engine degree pass; bad degrees refuse") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 4L), (4L, 2L), (2L, 5L))
    val df = edges.toDF("src", "dst")
    // exact out-degrees incl. the dangling node 5 (deg 0 → null)
    val degs = Seq((1L, 2L), (2L, 2L), (3L, 1L), (4L, 1L), (5L, 0L)).toDF("node", "out_degree")
    val want = Graph.pageRank(df, "src", "dst", iterations = 9, edgesDistinct = true)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val got = Graph.pageRank(df, "src", "dst", iterations = 9, edgesDistinct = true,
        precomputedDegrees = Some(degs))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got.keySet == want.keySet)
    for ((k, v) <- want) assert(math.abs(got(k) - v) < 1e-12, s"node $k: ${got(k)} vs $v")
    // requires edgesDistinct (the dedup path would change |E| under them)
    intercept[IllegalArgumentException] {
      Graph.pageRank(df, "src", "dst", iterations = 2, precomputedDegrees = Some(degs))
    }
    // inconsistent totals (Σ deg ≠ |E|) trip the |E| guard loudly
    val wrong = Seq((1L, 9L), (2L, 2L), (3L, 1L), (4L, 1L), (5L, 0L)).toDF("node", "out_degree")
    intercept[IllegalArgumentException] {
      Graph.pageRank(df, "src", "dst", iterations = 2, edgesDistinct = true,
        precomputedDegrees = Some(wrong)).collect()
    }
    // a missing dst-only node (deg 0, so Σ deg = |E| still holds): the
    // driver loop's gather finds no index for the edge into it and refuses
    val missingDst = Seq((1L, 2L), (2L, 2L), (3L, 1L), (4L, 1L)).toDF("node", "out_degree")
    val e = intercept[IllegalArgumentException] {
      Graph.pageRank(df, "src", "dst", iterations = 2, edgesDistinct = true,
        precomputedDegrees = Some(missingDst)).collect()
    }
    assert(e.getMessage.contains("edge-index join returned 5 rows for 6 edges"), e.getMessage)
  }

  test("edgesDistinct: both loops' |E| guards trip loudly on a nondeterministic lineage") {
    // The caller-asserted-distinct contract keeps the edge lineage LAZY, so
    // it evaluates once for the degree pass (which measures m) and again in
    // whichever loop runs. This lineage drops one more edge per evaluation
    // — the contract violation the guards exist for: both loops must refuse
    // loudly instead of silently dropping/duplicating edges.
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    val base = (0 until 50).map(i => (s"n$i", s"n${(i + 1) % 50}"))
    val schema = StructType(Seq(
      StructField("src", StringType), StructField("dst", StringType)))
    def nondet(): DataFrame = {
      // static object, NOT a captured counter: task closures deserialize
      // into copies, while a by-name object reference resolves to the one
      // shared instance in the local-mode JVM
      GraphSpecNondet.evals.set(0)
      val rdd = spark.sparkContext.parallelize(Seq(0), 1).mapPartitions { _ =>
        val k = GraphSpecNondet.evals.getAndIncrement()
        base.drop(k).iterator.map { case (s, d) => Row(s, d) }
      }
      spark.createDataFrame(rdd, schema)
    }
    try {
      // sort-merge loop: guard at the re-layout count
      val eSmj = intercept[IllegalArgumentException] {
        Graph.pageRankSortMerge(nondet(), "src", "dst", iterations = 2,
          edgesDistinct = true)
      }
      assert(eSmj.getMessage.contains("nondeterministic edge lineage"))
      // driver loop: the gather-count guard
      val eLocal = intercept[IllegalArgumentException] {
        Graph.pageRank(nondet(), "src", "dst", iterations = 2,
          edgesDistinct = true)
      }
      assert(eLocal.getMessage.contains("node index no longer covers"))
    } finally {
      // a tripped guard aborts mid-flight, so its loop caches stay behind
      // by design — release them UNCONDITIONALLY (a failing assertion above
      // must not leak blocks into the shared session for later suites)
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    }
  }

  test("pageRank: lineage truncates at checkpoints (plan does not grow with iterations)") {
    val edges = (0L until 200L).map(i => (i.toString, ((i + 1) % 200).toString))
      .toDF("src", "dst")
    def depth(r: org.apache.spark.rdd.RDD[_]): Int =
      if (r.dependencies.isEmpty) 1 else 1 + r.dependencies.map(d => depth(d.rdd)).max
    // both loops: the driver loop returns a local relation, the SMJ loop
    // snapshots on its window — neither may let lineage grow with rounds
    for ((loop, run) <- loops) {
      val d = depth(run(edges)(12).rdd)
      assert(d < 30,
        s"RDD lineage depth $d ($loop) — grew with iterations, checkpoint not truncating")
    }
  }

  test("pageRank releases every cache it creates, on BOTH join forks") {
    // the round-3 regression class: persisted frames outliving their call.
    // After pageRank returns, the only storage-holding RDD may be the
    // returned checkpointed rank frame — never the edge/degree caches or
    // intermediate round snapshots (each round releases its predecessor).
    val sc = spark.sparkContext
    val edges = (0L until 300L).map(i => (i.toString, ((i * 7 + 1) % 300).toString))
      .toDF("src", "dst")
    for ((loop, run) <- loops) {
      spark.catalog.clearCache()
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      val before = sc.getPersistentRDDs.keySet
      run(edges)(6).count()
      val held = (sc.getPersistentRDDs.keySet -- before).size
      assert(held <= 1,
        s"$held persisted RDDs after pageRank ($loop) — internal caches leaked")
    }
  }

  test("pageRank with a reliable checkpoint dir matches the reference on both forks") {
    // the SMJ loop cuts reliably on its window (dangling node 5: a 4-round
    // window, so 7 rounds cut at 4 and 7) — this pins the path's values;
    // the I/O cadence itself is the documented design
    val ckpt = java.nio.file.Files.createTempDirectory("pr_ckpt").toString
    val edges = Seq(("1", "2"), ("2", "3"), ("3", "1"), ("1", "4"), ("4", "2"), ("2", "5"))
    val df = edges.toDF("src", "dst")
    val want = referencePageRank(edges, 7, 0.85)
    org.apache.spark.CheckpointDirBridge.withCheckpointDir(spark.sparkContext, ckpt) {
      for ((loop, run) <- loops) {
        val got = run(df)(7).collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
        for ((k, v) <- want)
          assert(math.abs(got(k) - v) < 1e-9, s"$loop node $k: ${got(k)} vs $v")
      }
    }
  }

  // the driver loop's admission (admitsDriverLoop) holds the former
  // broadcast-fork node/id-byte budgets and the local-edge-tier edge budget
  test("broadcast-fork admission: byte budget rejects fat ids even under the row cap") {
    val rowCap = 1L << 20 // 1M nodes
    val rankBudget = 64L << 20 // rank rows: n * (avg id bytes + 32)
    val m = 1000L
    // 1M nodes of 20-byte ids ≈ 52 MB — inside the 64 MB budget, admitted
    assert(Graph.admitsDriverLoop(rowCap, avgIdLen = 20.0, m))
    // 1M nodes of 200-byte URL ids ≈ 232 MB — row cap passes, bytes refuse
    assert(!Graph.admitsDriverLoop(rowCap, avgIdLen = 200.0, m))
    // exact boundary: n*(len+32) == 64 MB admits; one more byte refuses
    val lenAtBudget = (rankBudget / rowCap) - 32L // 32
    assert(Graph.admitsDriverLoop(rowCap, lenAtBudget.toDouble, m))
    assert(!Graph.admitsDriverLoop(rowCap, (lenAtBudget + 1).toDouble, m))
    // row cap binds independently of bytes
    assert(!Graph.admitsDriverLoop(rowCap + 1, avgIdLen = 1.0, m))
  }

  test("driver-loop admission prices the edge gather at 16 B/edge (packed longs, not strings)") {
    val edgeBudget = 256L << 20 // packed gather: 16 B/edge
    // the sf1.0 bench graph (11.7M edges) is ADMITTED — 16 B/edge =
    // 179 MiB actual driver peak; a string-priced model (46 B/edge) would
    // bounce it off the driver loop
    assert(Graph.admitsDriverLoop(1000L, avgIdLen = 8.0, 11737420L))
    // exact edge boundary at the budget; one more edge refuses
    val mAtBudget = edgeBudget / 16L
    assert(Graph.admitsDriverLoop(1000L, avgIdLen = 8.0, mAtBudget))
    assert(!Graph.admitsDriverLoop(1000L, avgIdLen = 8.0, mAtBudget + 1))
  }

  test("pageRank byte guard: fat string ids refuse the driver loop") {
    // the guard multiplies n by avg id length, so a 3-cycle of 30 MB ids
    // passes any row cap but exceeds the 64 MB rank budget → must take the
    // SMJ loop and still compute correct ranks
    val fat = "x" * (30 << 20)
    assert(!Graph.admitsDriverLoop(3L, fat.length + 1.0, 3L))
    val edges = Seq((fat + "a", fat + "b"), (fat + "b", fat + "c"), (fat + "c", fat + "a"))
    val got = Graph.pageRank(edges.toDF("src", "dst"), "src", "dst", iterations = 4)
      .collect().map(r => r.getString(0).last -> r.getDouble(1)).toMap
    for (k <- "abc") assert(math.abs(got(k) - 1.0 / 3) < 1e-9, s"node $k: ${got(k)}")
  }

  test("pageRank never mutates the caller's session confs (set values and unset-ness both)") {
    // the loop runs on a CLONED session (Graph.pageRankImpl), so the
    // caller's conf must come back bit-identical — including UNSET-ness:
    // a restore-style implementation that pinned current defaults as
    // explicit session values would trip the settings-map asserts below
    // (bloom filter defaults TRUE — pinning it would mask a later
    // in-session default change)
    val keys = Seq("spark.sql.adaptive.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.shuffle.partitions")
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.adaptive.enabled", "true")
    s2.conf.unset("spark.sql.optimizer.runtime.bloomFilter.enabled")
    val before = keys.map(k => k -> scala.util.Try(s2.conf.getOption(k)).toOption.flatten)
    import s2.implicits._
    val edges = Seq(("a", "b"), ("b", "a")).toDF("src", "dst")
    val ranks = Graph.pageRank(edges, "src", "dst", iterations = 3)
    assert(ranks.sparkSession eq s2,
      "pageRank result must be bound to the CALLER's session, not the loop clone")
    ranks.count()
    val after = keys.map(k => k -> scala.util.Try(s2.conf.getOption(k)).toOption.flatten)
    assert(after == before, s"conf drift: $before -> $after")
    assert(!s2.sessionState.conf.contains("spark.sql.optimizer.runtime.bloomFilter.enabled"),
      "pageRank set a conf the caller had explicitly unset")
    assert(s2.sessionState.conf.contains("spark.sql.adaptive.enabled"),
      "pageRank dropped an explicitly-set conf")
    // the loop honors the caller's effective settings via the conf copy:
    // a caller-set shuffle width must carry into the clone (this is
    // observable only indirectly — the result is correct either way — so
    // pin the public contract instead: the caller's value is intact)
    assert(s2.conf.get("spark.sql.adaptive.enabled") == "true")
  }

  test("connectedComponents releases superseded mid-loop checkpoints") {
    // a high-diameter chain forces enough rounds to cross several
    // checkpoint boundaries on the distributed path
    val sc = spark.sparkContext
    spark.catalog.clearCache()
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    val before = sc.getPersistentRDDs.keySet
    val chain = (0L until 400L).map(i => (i, i + 1)).toDF("a", "b")
    val (comps, _) = graft.ops.Components.connectedComponentsDistributed(chain, "a", "b",
      maxIter = 20)
    import org.apache.spark.sql.functions.{col, count_distinct}
    assert(comps.select(count_distinct(col("component"))).head().getLong(0) == 1L)
    val held = (sc.getPersistentRDDs.keySet -- before).size
    assert(held <= 1,
      s"$held persisted RDDs after connectedComponents — superseded checkpoints leaked")
  }

  test("relayoutGuard releases both edge caches before throwing on |E| mismatch") {
    // the SMJ-loop guard fires between laid.persist() and the loop; a
    // failure must unpersist BOTH the laid-out layout and the caller-visible
    // edge cache, or a nondeterministic-lineage abort leaks BlockManager
    // memory (r10 advice item; deterministic trigger needs a
    // nondeterministic lineage, so the extracted guard is spec'd directly)
    import org.apache.spark.storage.StorageLevel
    val e = Seq(("a", "b"), ("b", "c")).toDF("src", "dst").persist()
    e.count()
    val laid = e.repartition(2).persist()
    laid.count()
    assert(e.storageLevel != StorageLevel.NONE && laid.storageLevel != StorageLevel.NONE)
    val ex = intercept[IllegalArgumentException] {
      Graph.relayoutGuard(laid, e, laidCount = 3L, m = 2L)
    }
    assert(ex.getMessage.contains("edge re-layout returned 3 rows for 2 profiled edges"))
    assert(laid.storageLevel == StorageLevel.NONE, "laid cache leaked on guard failure")
    assert(e.storageLevel == StorageLevel.NONE, "edge cache leaked on guard failure")
    // matching counts: a no-op that leaves caches alone
    val e2 = Seq(("x", "y")).toDF("src", "dst").persist()
    e2.count()
    Graph.relayoutGuard(e2, e2, laidCount = 1L, m = 1L)
    assert(e2.storageLevel != StorageLevel.NONE)
    e2.unpersist(true)
  }

  test("pageRank: empty edge list returns an empty frame; zero iterations is uniform") {
    val empty = Seq.empty[(String, String)].toDF("src", "dst")
    assert(Graph.pageRank(empty, "src", "dst", iterations = 3).count() == 0)
    val two = Seq(("a", "b"), ("b", "a")).toDF("src", "dst")
    val uniform = Graph.pageRank(two, "src", "dst", iterations = 0)
      .collect().map(_.getDouble(1)).toSeq
    assert(uniform == Seq(0.5, 0.5))
  }
}

/** Shared-JVM evaluation counter for the nondeterministic-lineage guard
  * spec: referenced by name from the task closure so every local-mode task
  * sees the SAME instance (a captured counter would be serialized into
  * per-task copies and never observe cross-evaluation drift).
  */
object GraphSpecNondet {
  val evals = new java.util.concurrent.atomic.AtomicInteger(0)
}
