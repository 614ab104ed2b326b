package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.{Bm25, Dedup, TextAnalysis}

/** Randomized driver-reference differentials for the dedup/scoring text
  * ops. Documents are generated from a small lowercase vocabulary joined
  * by single spaces, so the engine's tokenizer (lowercase \p{L}\p{N}_ runs)
  * agrees with a plain split and every driver reference is unambiguous.
  * Near-dup documents are mutated copies of base documents, giving the
  * corpus a real pair structure without relying on LSH recall (which is
  * probabilistic): pair tests assert SOUNDNESS and value agreement.
  */
class DedupPropertySpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSession.spark
  import spark.implicits._

  import PropertyTestKit.sampled

  private val vocab = Vector("alpha", "bravo", "charlie", "delta", "echo",
    "foxtrot", "golf", "hotel", "india", "juliet", "kilo", "lima")

  private def tokenize(s: String): Seq[String] =
    s.toLowerCase.split("[^\\p{L}\\p{N}_]+").filter(_.nonEmpty).toSeq

  private def grams(s: String, k: Int): Set[Seq[String]] =
    tokenize(s).sliding(k).filter(_.length == k).map(_.toSeq).toSet

  // corpus: base docs + near-dup mutations + verbatim and re-spaced copies
  private val docs: Seq[(Long, String)] = {
    import org.scalacheck.Gen
    val word = Gen.oneOf(vocab)
    val base = Seq.tabulate(12) { i =>
      val n = sampled(Gen.chooseNum(8, 20))
      Seq.fill(n)(sampled(word)).mkString(" ")
    }
    val mutated = base.take(6).map { d =>
      val ws = d.split(" ").toVector
      val idx = sampled(Gen.chooseNum(0, ws.length - 1))
      ws.updated(idx, sampled(word)).mkString(" ")
    }
    val copies = base.take(3) ++ base.take(2).map(d => "  " + d.replace(" ", "\t ") + " ")
    (base ++ mutated ++ copies).zipWithIndex.map { case (d, i) => (i.toLong, d) }
  }

  private def docsDf = docs.toDF("id", "text")

  private def normalized(s: String): String =
    s.toLowerCase.replaceAll("\\s+", " ").trim

  test("exactDedup and exactDedupRows match a driver group-by-normalized-text") {
    val want = docs.groupBy { case (_, t) => normalized(t) }.values
      .map(g => (g.map(_._1).min, g.size.toLong)).toSet
    val got = Dedup.exactDedup(docsDf, col("text"), col("id"))
      .collect().map(r => (r.getAs[Long]("keep_id"), r.getAs[Long]("dups"))).toSet
    assert(got == want, "exactDedup groups diverged")
    val rows = Dedup.exactDedupRows(docsDf, col("text"), col("id"))
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[String]("text"))).toSet
    val wantRows = docs.groupBy { case (_, t) => normalized(t) }.values
      .map(g => g.minBy(_._1)).toSet
    assert(rows == wantRows, "surviving rows diverged")
  }

  test("n-gram jaccard matches the driver set computation on generated pairs") {
    val k = 3
    val pairs = for (i <- docs.indices; j <- (i + 1) until docs.length if j < i + 4)
      yield (docs(i)._2, docs(j)._2)
    val got = pairs.toDF("a", "b")
      .select(Dedup.jaccard(col("a"), col("b"), k).as("j"))
      .collect().map(_.getDouble(0))
    pairs.zip(got).foreach { case ((a, b), g) =>
      val (sa, sb) = (grams(a, k), grams(b, k))
      val want = if ((sa ++ sb).isEmpty) 0.0
        else sa.intersect(sb).size.toDouble / sa.union(sb).size.toDouble
      assert(math.abs(g - want) < 1e-12, s"jaccard($a | $b): $g vs $want")
    }
  }

  test("minhash signatures are content-determined: invariant under repartition") {
    def sigs(df: org.apache.spark.sql.DataFrame): Map[Long, Seq[Long]] =
      df.select(col("id"), Dedup.minhashSignature(col("text"), k = 3, numHashes = 8).as("s"))
        .collect().map(r => r.getAs[Long]("id") -> r.getSeq[Long](1)).toMap
    val a = sigs(docsDf)
    val b = sigs(docsDf.repartition(7, col("text")))
    assert(a == b, "minhash signature changed under repartition")
    // estimate stays in [0,1] and hits 1.0 on identical docs
    val est = docsDf.as("l").join(docsDf.as("r"), col("l.id") < col("r.id"))
      .select(col("l.id"), col("r.id"), Dedup.jaccardEstimate(
        Dedup.minhashSignature(col("l.text"), 3, 8),
        Dedup.minhashSignature(col("r.text"), 3, 8)).as("e"))
      .collect()
    est.foreach { r =>
      val e = r.getDouble(2)
      assert(e >= 0.0 && e <= 1.0)
      if (docs(r.getLong(0).toInt)._2 == docs(r.getLong(1).toInt)._2)
        assert(e == 1.0, "identical docs must estimate 1.0")
    }
  }

  test("verifiedNearDupPairs is sound: every returned pair passes driver jaccard") {
    val threshold = 0.5
    val out = Dedup.verifiedNearDupPairs(docsDf, col("text"), col("id"),
        k = 3, numHashes = 8, bands = 4, threshold = threshold)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
        r.getAs[Double]("jac")))
    assert(out.nonEmpty, "corpus has verbatim copies — some pair must survive")
    val byId = docs.toMap
    out.foreach { case (a, b, jac) =>
      val (sa, sb) = (grams(byId(a), 3), grams(byId(b), 3))
      val want = if ((sa ++ sb).isEmpty) 0.0
        else sa.intersect(sb).size.toDouble / sa.union(sb).size.toDouble
      assert(want >= threshold, s"pair ($a,$b) below threshold: $want")
      assert(math.abs(jac - math.rint(want * 10000) / 10000) < 1e-9,
        s"pair ($a,$b) jac $jac != rounded driver $want")
    }
  }

  // replica-cluster corpus (the collapse target): every cluster is one base
  // text plus per-replica suffixes
  private lazy val replicaCorpus = {
    val bases = Seq(
      "the quick brown fox jumps over the lazy dog near the river bank today",
      "machine learning systems process large volumes of text data every single day",
      "completely different content about cooking pasta with garlic and olive oil")
    (for {
      (t, c) <- bases.zipWithIndex
      r <- 0 until 5
    } yield (c * 100L + r, s"$t rep$r")).toDF("id", "text")
  }

  test("verifiedHubEdges: components match the clique's on replica clusters; cap drops hot buckets") {
    // hub-star edges must yield the SAME connected components as the
    // quadratic clique pairs
    val corpus = replicaCorpus
    val hub = Dedup.verifiedHubEdges(corpus, col("text"), col("id"),
      k = 3, numHashes = 4, bands = 2, threshold = 0.5, maxBucketSize = 64L)
    val clique = Dedup.verifiedNearDupPairs(corpus, col("text"), col("id"),
      k = 3, numHashes = 4, bands = 2, threshold = 0.5)
      .select(col("id_a"), col("id_b"))
    def comps(edges: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      graft.ops.Components.connectedComponents(edges, "id_a", "id_b")
        .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("component")).toMap
    assert(comps(hub) == comps(clique),
      "star-reduced components diverge from clique components on replica clusters")
    // star is linear PER BUCKET: each band may bucket the cluster
    // differently, so the bound is bands x (m-1) = 8 edges for a 5-replica
    // cluster — strictly below the clique's m(m-1)/2 = 10, and linear in m
    val perCluster = hub.collect().groupBy(_.getAs[Long]("id_a") / 100)
    perCluster.foreach { case (c, es) =>
      assert(es.length <= 8, s"cluster $c emitted ${es.length} edges — clique leaked through") }
    // cap: with every doc in one bucket-sized cluster and cap below the
    // cluster size, the bucket drops and no edges survive
    val capped = Dedup.verifiedHubEdges(corpus.filter(col("id") < 100), col("text"), col("id"),
      k = 3, numHashes = 4, bands = 2, threshold = 0.5, maxBucketSize = 3L)
    assert(capped.count() == 0, "over-cap bucket must be dropped entirely")
  }

  test("verifiedHubEdges logs the dropped-bucket count of a direct census; empty corpus gives no edges") {
    val corpus = replicaCorpus.filter(col("id") < 100)
    def census(cap: Long): Long =
      Dedup.minhashBands(corpus, col("text"), col("id"), k = 3, numHashes = 4, bands = 2)
        .groupBy(col("band"), col("band_hash")).count()
        .filter(col("count") > cap).count()
    // every bucket with a pair is over the cap, so nothing survives
    // downstream: the count must not depend on a surviving candidate
    def logged(op: String, cap: Long)(run: => Unit): Seq[Long] =
      LogCapture.warnings("graft.ops.Dedup$")(run)
        .flatMap(s"""$op: dropping (\\d+) LSH bucket""".r.findFirstMatchIn(_))
        .map(_.group(1).toLong)
    def hub(cap: Long) = logged("verifiedHubEdges", cap) {
      Dedup.verifiedHubEdges(corpus, col("text"), col("id"),
        k = 3, numHashes = 4, bands = 2, threshold = 0.5, maxBucketSize = cap)
    }
    def cands(cap: Long, prepass: Boolean) = logged("minhashCandidates", cap) {
      Dedup.minhashCandidates(corpus, col("text"), col("id"),
        k = 3, numHashes = 4, bands = 2, maxBucketSize = Some(cap), exactPrepass = prepass)
    }
    assert(census(3L) > 0, "the cap-3 corpus must have an over-cap bucket")
    assert(hub(3L) == Seq(census(3L)))
    assert(cands(3L, prepass = false) == Seq(census(3L)))
    assert(cands(3L, prepass = true) == Seq(census(3L)), "replicas differ, so the prepass keeps all")
    assert(census(64L) == 0 && hub(64L).isEmpty && cands(64L, prepass = false).isEmpty,
      "nothing dropped, nothing logged")
    val empty = corpus.filter(lit(false))
    val warned = LogCapture.warnings("graft.ops.Dedup$") {
      assert(Dedup.verifiedHubEdges(empty, col("text"), col("id"), maxBucketSize = 3L).count() == 0)
    }
    assert(warned.isEmpty, s"empty corpus logged $warned")
  }

  test("bm25 matches the driver formula") {
    val terms = Seq("alpha", "delta", "zulu") // zulu: df=0 exercises the idf guard
    val k1 = 1.2; val b = 0.75
    val got = Bm25.score(docsDf, col("text"), terms, "s", k1, b)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Double]("s")).toMap
    val toks = docs.map { case (id, t) => id -> tokenize(t) }
    val n = docs.size.toDouble
    val avgdl = toks.map(_._2.size).sum / n
    val dfs = terms.map(t => t -> toks.count(_._2.contains(t)).toDouble).toMap
    docs.foreach { case (id, _) =>
      val dl = toks.toMap.apply(id).size.toDouble
      val want = terms.map { t =>
        val tf = toks.toMap.apply(id).count(_ == t).toDouble
        val idf = math.log(1.0 + (n - dfs(t) + 0.5) / (dfs(t) + 0.5))
        idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl))
      }.sum
      assert(math.abs(got(id) - want) < 1e-9, s"bm25 doc $id: ${got(id)} vs $want")
    }
  }

  test("duplicateSpanFraction matches the driver gram-share computation") {
    val k = 3
    val got = TextAnalysis.duplicateSpanFraction(docsDf, col("id"), col("text"), k)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Double]("dup_span_frac")).toMap
    val gramSets = docs.map { case (id, t) => id -> grams(t, k) }
    docs.foreach { case (id, _) =>
      val mine = gramSets.toMap.apply(id)
      val want =
        if (mine.isEmpty) 0.0
        else mine.count(g =>
          gramSets.exists { case (oid, gs) => oid != id && gs.contains(g) }).toDouble / mine.size
      assert(math.abs(got(id) - want) < 1e-9, s"dupSpanFrac doc $id: ${got(id)} vs $want")
    }
  }
}
