package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.{BloomMightContain, TopFreqFraction}
import graft.ops.{Bloom, TextAnalysis}

/** Differential specs for the round-4 native expressions: each fast kernel
  * is checked against its independent Column-algebra spelling (the code it
  * replaced), on hand cases, pseudo-random grids, and real corpus text.
  */
class NativeProbeSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSession.spark
  import spark.implicits._

  // ---------------------------------------------------------------- TopFreq

  test("top_freq_fraction: hand cases (empty, uniform, ties, nulls group)") {
    val rows = Seq(
      (Seq.empty[String], 0.0),
      (Seq("a"), 1.0),
      (Seq("a", "b", "c", "d"), 0.25),
      (Seq("a", "a", "b", "b"), 0.5), // tie — max frequency, either winner
      (Seq("x", "x", "x"), 1.0),
      (Seq(null, "a", null, null), 0.75)) // nulls count as one group (<=>)
    val got = rows.map(_._1).toDF("g")
      .select(TopFreqFraction.top_freq_fraction(col("g"))).as[Double].collect()
    rows.map(_._2).zip(got).foreach { case (e, a) =>
      assert(math.abs(e - a) < 1e-12, s"expected $e got $a")
    }
  }

  test("top_freq_fraction native == staged HOF fold on a random grid and corpus bigrams") {
    val rnd = new scala.util.Random(271)
    val alphabet = Seq("aa", "bb", "cc", "dd", "ee", null)
    val grid = (1 to 200).map { _ =>
      Seq.fill(rnd.nextInt(40))(alphabet(rnd.nextInt(alphabet.length)))
    }
    val df = grid.toDF("g")
      .select(
        TextAnalysis.topNgramFraction(col("g")).as("fast"),
        TextAnalysis.topNgramFractionStaged(col("g")).as("ref"))
    df.collect().foreach { r =>
      assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-12,
        s"native ${r.getDouble(0)} != staged ${r.getDouble(1)}")
    }
    // real corpus text through the exact q102 staging (shingles projected first)
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .limit(200)
      .withColumn("grams", TextAnalysis.shingles(col("text"), 2))
      .select(
        TextAnalysis.topNgramFraction(col("grams")).as("fast"),
        TextAnalysis.topNgramFractionStaged(col("grams")).as("ref"))
    docs.collect().foreach { r =>
      assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-12)
    }
  }

  test("top_freq_fraction: null array stays null-safe through the q102 guard") {
    val out = Seq((1, null: Seq[String]), (2, Seq("a", "a")))
      .toDF("id", "g")
      .select(TextAnalysis.topNgramFraction(col("g")).as("f"))
      .as[Double].collect().toSeq
    assert(out == Seq(0.0, 1.0))
  }

  test("top_freq_fraction codegen == interpreted kernel") {
    val arrs = Seq(Seq("a", "b", "a"), Seq.empty[String], Seq("z"))
    val viaDf = arrs.toDF("g")
      .select(TopFreqFraction.top_freq_fraction(col("g"))).as[Double].collect().toSeq
    val direct = arrs.map { a =>
      val ad = org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(
        a.map(org.apache.spark.unsafe.types.UTF8String.fromString).toArray)
      TopFreqFraction.topFraction(ad)
    }
    viaDf.zip(direct).foreach { case (x, y) => assert(math.abs(x - y) < 1e-12) }
  }

  // ------------------------------------------------------------- BloomProbe

  test("bloom_might_contain native == Column-algebra probe on the full built-filter surface") {
    val vals = (1L to 500L).map(i => s"member value $i").toDF("t")
      .select(TextAnalysis.hash60(col("t")).as("h"))
    val bits = Bloom.build(vals, "h", bits = 1L << 13, k = 4)
    val probes = (1L to 3000L).map(i => s"probe value $i").toDF("t")
      .select(TextAnalysis.hash60(col("t")).as("h"))
      .unionByName(vals)
    val disagree = probes
      .filter(Bloom.mightContain(col("h"), bits, 4) =!=
        Bloom.mightContainAlgebra(col("h"), bits, 4))
      .count()
    assert(disagree == 0L, s"native and algebra probes disagree on $disagree rows")
    // and the native probe preserves the no-false-negative contract
    val misses = vals.filter(!Bloom.mightContain(col("h"), bits, 4)).count()
    assert(misses == 0L, "bloom false negative through the native probe")
  }

  test("bloom_might_contain: negative hashes and k sweep match the scalar kernel") {
    val bits = Array.fill(64)(0L)
    // set the probe positions for one specific negative hash at k=3
    val h = -987654321L
    val m = bits.length * 64L
    val h1 = h & ((1L << 30) - 1)
    val h2 = (h >> 30) | 1L
    (0 until 3).foreach { i =>
      val p = java.lang.Math.floorMod(h1 + i.toLong * h2, m)
      bits((p >>> 6).toInt) |= (1L << (p & 63L).toInt)
    }
    for (k <- 1 to 4) {
      val expected = BloomMightContain.contains(h, bits, k)
      val viaDf = Seq(h).toDF("h")
        .select(Bloom.mightContain(col("h"), bits, k)).as[Boolean].head()
      val viaAlg = Seq(h).toDF("h")
        .select(Bloom.mightContainAlgebra(col("h"), bits, k)).as[Boolean].head()
      assert(viaDf == expected && viaAlg == expected,
        s"k=$k: native=$viaDf algebra=$viaAlg kernel=$expected")
      assert(expected == (k <= 3)) // k=4 adds an unset probe -> miss
    }
  }

  test("bloom probe plan: bit array is a plan reference, not an inline array literal") {
    val bits = Array.fill(1 << 13)(0L) // 512 KB filter — the q144 regime
    val plan = Seq(1L).toDF("h")
      .filter(Bloom.mightContain(col("h"), bits, 4))
      .queryExecution.executedPlan.toString
    // the typedLit spelling embedded 65k literals into the plan string; the
    // native expression must keep the plan O(1) regardless of filter width
    assert(plan.length < 20000, s"plan blew up to ${plan.length} chars — literal leaked in")
  }

  // ------------------------------------------------- PageRank job accounting

  test("pageRank with dangling nodes: no per-iteration driver action (fused dangling mass)") {
    // count driver-blocking ACTIONS (SQL executions), not AQE stage jobs —
    // pre-fix every iteration ran its own dangling-mass first(), so the
    // execution count scaled with iterations; post-fix it scales only with
    // the snapshot cadence.
    val counter = new graft.core.JobCounter
    // star graph with a dangling center: 1..40 -> 0, node 0 has no out-edges.
    // broadcastNodeLimit=0 forces the web-scale SMJ loop — the invariant
    // under test is THAT path's: no action may scale with iterations when
    // |V| is too big to broadcast. (The broadcast fork snapshots per round
    // by design; its per-round work is |V|-bounded and locally measured.)
    val edges = (1 to 40).map(i => (i.toString, "0")).toDF("src", "dst")
    val ranks = counter.observe(spark.sparkContext)(
      graft.ops.Graph.pageRank(edges, "src", "dst", iterations = 8,
        broadcastNodeLimit = 0L))
    val execs = counter.sqlExecutions
    val total = ranks.agg(sum(col("rank"))).head().getDouble(0)
    assert(math.abs(total - 1.0) < 1e-9, s"rank mass not conserved: $total")
    // setup actions (node count, withDeg count, dangling probe) + snapshots
    // at i=4,8 + the final snapshot ≈ 6; pre-fix added 8 more (one per
    // iteration). The bound fails if the per-iteration action returns.
    assert(execs <= 9,
      s"pageRank ran $execs SQL executions for 8 iterations — dangling mass is driver-blocking again")
  }

  test("pageRank driver-held fork: per-iteration job cadence stays at its designed constant") {
    // Companion to the forced-SMJ guard above (ADVICE r5): the driver-held
    // fork's per-round driver-job count is a designed constant per tier —
    //   - local-edge tier (default on a small graph): ZERO jobs per round,
    //     every round is a driver array sweep;
    //   - distributed-gather tier (smallGraphMaxBytes=0): TWO jobs per round
    //     (the broadcast build — BroadcastExchange always collects via an
    //     RDD job, even for a LocalRelation child — plus the gather collect).
    // Measure jobs at 8 and 16 iterations on the same graph: the delta
    // isolates per-iteration cost from the fixed setup actions and fails an
    // accidental extra per-round action (old snapshot-per-round shape) on
    // either tier.
    def countJobs(iterations: Int, smallBytes: Long): Int = {
      val counter = new graft.core.JobCounter
      // symmetrized ring: every node has out-edges, so hasDangling=false
      val edges = (0 until 60).flatMap(i =>
        Seq((i.toString, ((i + 1) % 60).toString), (((i + 1) % 60).toString, i.toString)))
        .toDF("src", "dst")
      counter.observe(spark.sparkContext)(
        graft.ops.Graph.pageRank(edges, "src", "dst", iterations = iterations,
          smallGraphMaxBytes = smallBytes).count())
      counter.jobs
    }
    val localAt8 = countJobs(8, graft.ops.Graph.defaultSmallGraphMaxBytes)
    val localAt16 = countJobs(16, graft.ops.Graph.defaultSmallGraphMaxBytes)
    assert(localAt16 - localAt8 <= 2,
      s"local tier grew ${localAt16 - localAt8} jobs over 8 extra iterations — designed cadence is 0 jobs per round")
    assert(localAt8 <= 12, s"local tier ran $localAt8 jobs for 8 iterations — setup actions grew")
    val distAt8 = countJobs(8, 0L)
    val distAt16 = countJobs(16, 0L)
    // designed: 8 extra iterations = 16 extra jobs; <= 20 allows listener
    // noise but fails a third per-round action (24 extra) outright
    assert(distAt16 - distAt8 <= 20,
      s"distributed tier grew ${distAt16 - distAt8} jobs over 8 extra iterations — designed cadence is 2 jobs per round")
  }

  test("pageRank BENCH-SIZED graph (sf0.1 customer↔supplier): driver-local tier engages, 0 jobs/round") {
    // Round-12 verdict item 2: the spec graphs above prove the tier cadence
    // in isolation; this proves the FORK DECISION on the exact graph the
    // bench times (q184's symmetrized purchase graph at sf0.1 — ~7k nodes,
    // ~120k edges). A silent fall-through to the distributed-gather or SMJ
    // tier would add >= 1 job per round and read exactly like the r11
    // 1.84× bench anomaly.
    val dir = "/root/testdata/sf0.1"
    assume(new java.io.File(dir).isDirectory, s"$dir not present")
    def edgesOf(): org.apache.spark.sql.DataFrame = {
      // the exact q184 construction (OpQueries.q184_pagerank)
      val pairs = spark.read.parquet(s"$dir/orders.parquet").select(col("o_orderkey"), col("o_custkey"))
        .join(spark.read.parquet(s"$dir/lineitem.parquet").select(col("l_orderkey"), col("l_suppkey")),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("c"), col("l_suppkey").as("s"))
        .distinct()
        .localCheckpoint(true)
      pairs.select(concat(lit("c"), col("c")).as("src"), concat(lit("s"), col("s")).as("dst"))
        .unionByName(pairs.select(concat(lit("s"), col("s")).as("src"), concat(lit("c"), col("c")).as("dst")))
    }
    def countJobs(iterations: Int): Int = {
      val edges = edgesOf()
      val counter = new graft.core.JobCounter
      counter.observe(spark.sparkContext)(
        graft.ops.Graph.pageRank(edges, "src", "dst", iterations = iterations,
          damping = 0.85, edgesDistinct = true).count())
      counter.jobs
    }
    val at10 = countJobs(10) // the bench's iteration count
    val at20 = countJobs(20)
    assert(at20 - at10 <= 2,
      s"bench-sized graph grew ${at20 - at10} jobs over 10 extra iterations — " +
        "the driver-local tier no longer engages at sf0.1 (fork regression)")
    assert(at10 <= 12,
      s"bench-sized graph ran $at10 jobs for 10 iterations — setup actions grew " +
        "(designed: degree+profile+node collect+edge gather+result count ≈ 6-8)")
  }

  // ------------------------------------------------------------- WordTokens

  test("word_tokens: hand cases (case, unicode classes, empties, underscore)") {
    val cases = Seq(
      "Hello, World!" -> Seq("hello", "world"),
      "" -> Seq.empty[String],
      "  \t\n " -> Seq.empty[String],
      "!!!" -> Seq.empty[String],
      "snake_case stays-split" -> Seq("snake_case", "stays", "split"),
      "Ⅻ Ⅶ ½ ²" -> Seq("ⅻ", "ⅶ", "½", "²"), // Nl and No are \p{N}
      "Café über naïve" -> Seq("café", "über", "naïve"),
      "数字123と text" -> Seq("数字123と", "text"),
      "a" -> Seq("a"),
      "-lead trail-" -> Seq("lead", "trail"))
    val got = cases.map(_._1).toDF("t")
      .select(TextAnalysis.tokens(col("t"))).as[Seq[String]].collect().toSeq
    cases.map(_._2).zip(got).foreach { case (e, a) => assert(e == a, s"expected $e got $a") }
  }

  test("word_tokens native == built-in split spelling on a random unicode grid and corpus") {
    val rnd = new scala.util.Random(577)
    val chars = "aA zZ09_ .,!-€ 中文 αΩ í Ñ\n\t'\"(){}İß😀"
    val grid = (1 to 300).map { _ =>
      val len = rnd.nextInt(60)
      (0 until len).map(_ => chars.charAt(rnd.nextInt(chars.length))).mkString
    }
    val df = grid.toDF("t").select(
      TextAnalysis.tokens(col("t")).as("fast"),
      TextAnalysis.tokensReference(col("t")).as("ref"))
    df.collect().foreach { r =>
      assert(r.getSeq[String](0) == r.getSeq[String](1),
        s"native ${r.getSeq[String](0)} != reference ${r.getSeq[String](1)}")
    }
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(300)
      .select(
        TextAnalysis.tokens(col("text")).as("fast"),
        TextAnalysis.tokensReference(col("text")).as("ref"))
    docs.collect().foreach(r => assert(r.getSeq[String](0) == r.getSeq[String](1)))
  }

  test("word_tokens: null input stays null; codegen == interpreted kernel") {
    val viaDf = Seq(("x", "One two"), ("y", null)).toDF("id", "t")
      .select(TextAnalysis.tokens(col("t"))).collect()
    assert(viaDf(0).getSeq[String](0) == Seq("one", "two"))
    assert(viaDf(1).isNullAt(0))
    val direct = graft.functions.WordTokens.tokenize(
      org.apache.spark.unsafe.types.UTF8String.fromString("One two"), 1)
    assert(direct.numElements() == 2 && direct.getUTF8String(0).toString == "one")
  }

  test("word_tokens minLen=2 == the sklearn \\w\\w+ spelling (TfIdf tokenizer)") {
    val rnd = new scala.util.Random(911)
    val chars = "ab c1_ .!x Y Zé 中 ß"
    val grid = (1 to 200).map { _ =>
      (0 until rnd.nextInt(40)).map(_ => chars.charAt(rnd.nextInt(chars.length))).mkString
    } ++ Seq("a bb ccc", "x", "", "_ __ a1")
    grid.toDF("t").select(
      graft.functions.WordTokens.word_tokens(col("t"), minLen = 2).as("fast"),
      filter(split(lower(col("t")), "[^\\p{L}\\p{N}_]+"), t => length(t) >= 2).as("ref"))
      .collect().foreach { r =>
        assert(r.getSeq[String](0) == r.getSeq[String](1),
          s"native ${r.getSeq[String](0)} != reference ${r.getSeq[String](1)}")
      }
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(300)
      .select(
        graft.functions.WordTokens.word_tokens(col("text"), minLen = 2).as("fast"),
        filter(split(lower(col("text")), "[^\\p{L}\\p{N}_]+"), t => length(t) >= 2).as("ref"))
    docs.collect().foreach(r => assert(r.getSeq[String](0) == r.getSeq[String](1)))
  }

  // ----------------------------------------------------- ShinglesFromTokens

  test("shingles_from_tokens: hand cases (short, exact, windows, k=1, empty)") {
    val cases = Seq(
      (Seq.empty[String], 2, Seq("")),
      (Seq("a"), 2, Seq("a")),
      (Seq("a", "b"), 3, Seq("a b")),
      (Seq("a", "b", "c"), 3, Seq("a b c")),
      (Seq("a", "b", "c", "d"), 2, Seq("a b", "b c", "c d")),
      (Seq("a", "b"), 1, Seq("a", "b")))
    cases.foreach { case (toks, k, expect) =>
      val got = Seq(toks).toDF("g")
        .select(TextAnalysis.shinglesFromTokens(col("g"), k)).as[Seq[String]].head()
      assert(got == expect, s"k=$k toks=$toks: expected $expect got $got")
    }
  }

  test("shingles native == built-in transform spelling on random grids and corpus text") {
    val rnd = new scala.util.Random(733)
    val words = Seq("the", "quick", "brown", "fox", "ü", "1")
    for (k <- Seq(2, 3, 5)) {
      val grid = (1 to 150).map { _ =>
        Seq.fill(rnd.nextInt(12))(words(rnd.nextInt(words.length)))
      }
      grid.toDF("g").select(
        TextAnalysis.shinglesFromTokens(col("g"), k).as("fast"),
        TextAnalysis.shinglesFromTokensReference(col("g"), k).as("ref"))
        .collect().foreach { r =>
          assert(r.getSeq[String](0) == r.getSeq[String](1),
            s"k=$k: native ${r.getSeq[String](0)} != reference ${r.getSeq[String](1)}")
        }
    }
    // full pipeline parity on real corpus text: tokens+shingles native vs both reference
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(200)
      .select(
        TextAnalysis.shingles(col("text"), 3).as("fast"),
        TextAnalysis.shinglesFromTokensReference(
          TextAnalysis.tokensReference(col("text")), 3).as("ref"))
    docs.collect().foreach(r => assert(r.getSeq[String](0) == r.getSeq[String](1)))
  }

  test("shingles_from_tokens: null array stays null") {
    val out = Seq((1, Seq("a", "b")), (2, null: Seq[String])).toDF("id", "g")
      .select(TextAnalysis.shinglesFromTokens(col("g"), 2)).collect()
    assert(out(0).getSeq[String](0) == Seq("a b"))
    assert(out(1).isNullAt(0))
  }
}
