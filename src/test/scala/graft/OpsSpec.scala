package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.{Dedup, Multimodal, Similarity, TextAnalysis}

/** Specs for the LLM-ops layer beyond what the oracle corpus covers:
  * driver-side/executor-side hash agreement, stub decode determinism, and
  * ANN recall sanity.
  */
class OpsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSession.spark
  import spark.implicits._

  test("driver-side planeSign parity agrees with executor-side hash60") {
    val pairs = for (p <- 0 until 4; i <- 0 until 8) yield (p, i)
    val df = pairs.toDF("p", "i")
      .withColumn("h", TextAnalysis.hash60(concat(col("p"), lit(":"), col("i"))))
      .withColumn("even", (col("h") % 2) === 0)
    df.collect().foreach { r =>
      assert(Similarity.planeSign(r.getInt(0), r.getInt(1)) == r.getBoolean(3),
        s"plane sign mismatch at (${r.getInt(0)},${r.getInt(1)})")
    }
  }

  test("simhash of identical texts has hamming 0; different texts differ") {
    val df = Seq(
      (1L, "the quick brown fox jumps"),
      (2L, "the quick brown fox jumps"),
      (3L, "entirely different words here altogether")).toDF("id", "t")
      .withColumn("sh", Dedup.simhash(col("t"), bits = 32))
    val m = df.collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(m(1L) == m(2L))
    assert(m(1L) != m(3L))
  }

  test("LSH hot-bucket cap bounds pairs on an adversarial all-identical corpus") {
    // 120 byte-identical docs: every band lands in one bucket -> uncapped
    // join would materialize 120*119/2 pairs per band
    val clones = (1L to 120L).map(i => (i, "the same exact document text repeated"))
    // plus one genuine near-dup pair in its own (cold) bucket
    val pair = Seq(
      (201L, "completely different rare tokens alpha beta gamma delta"),
      (202L, "completely different rare tokens alpha beta gamma zeta"))
    val df = (clones ++ pair).toDF("id", "t")
    val capped = Dedup.minhashCandidates(df, col("t"), col("id"), maxBucketSize = Some(10L))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!capped.exists { case (a, b) => a <= 120 && b <= 120 },
      "hot clone buckets must be dropped")
    assert(capped.contains((201L, 202L)), "cold near-dup bucket must survive the cap")
    // uncapped default keeps the old (oracle-checked) behavior
    val full = Dedup.minhashCandidates(df, col("t"), col("id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(full.contains((1L, 2L)) && full.contains((201L, 202L)))
  }

  test("exactPrepass: cap-independent candidates on a duplicate-heavy corpus") {
    // 4 distinct prototypes x 15 byte-identical copies (>50% duplicate mass):
    // without the prepass every clone bucket holds 15 docs and a cap of 10
    // drops them all; WITH the prepass the LSH sees one representative per
    // distinct content, so buckets stay size ~1 and the cap never fires —
    // cap-drops become purely adversarial, duplicates survive as linear
    // (representative, member) chains.
    val protos = Seq(
      "alpha bravo charlie delta echo foxtrot",
      "golf hotel india juliet kilo lima",
      "mike november oscar papa quebec romeo",
      "sierra tango uniform victor whiskey xray")
    val clones = protos.zipWithIndex.flatMap { case (t, g) =>
      (0 until 15).map(j => ((g * 100 + j).toLong, t))
    }
    val df = clones.toDF("id", "t")
    def cands(cap: Option[Long]): Set[(Long, Long)] =
      Dedup.minhashCandidates(df, col("t"), col("id"), maxBucketSize = cap,
        exactPrepass = true)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val uncapped = cands(None)
    val capped = cands(Some(10L))
    assert(uncapped == capped, "prepass must make the candidate set cap-independent")
    // every clone chains to its group representative (the min id), linearly
    for (g <- 0 until 4; j <- 1 until 15)
      assert(uncapped.contains(((g * 100).toLong, (g * 100 + j).toLong)),
        s"missing member chain for group $g member $j")
    // and no quadratic within-group pair blowup: only the 14 chains per group
    val withinGroup = uncapped.count { case (a, b) => a / 100 == b / 100 }
    assert(withinGroup == 4 * 14, s"expected linear chains only, got $withinGroup")
  }

  test("dedup operators release every cache they create (no persist leaks)") {
    // the round-3 regression class: persisted frames outliving their call
    // poison later queries' BlockManager memory. After the pipeline runs,
    // the only storage-holding RDDs may be the returned (checkpointed)
    // frames themselves — never the internal shingle/band/digest caches.
    val sc = spark.sparkContext
    spark.catalog.clearCache()
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    val docs = (1L to 80L).map(i => (i, s"some document body $i with shared words")) ++
      Seq((900L, "alpha beta gamma delta epsilon"), (901L, "alpha beta gamma delta zeta"))
    val df = docs.toDF("id", "t")
    // new RDD ids, not counts: the map holds weak values, so an earlier
    // result's RDD collected meanwhile would hide a leaked one
    def added(before: Set[Int]): Set[Int] = sc.getPersistentRDDs.keySet.toSet -- before
    val b0 = sc.getPersistentRDDs.keySet.toSet
    val pairs = Dedup.verifiedNearDupPairs(df, col("t"), col("id"), threshold = 0.3)
    pairs.count()
    val leaked = added(b0).size
    // verifiedNearDupPairs materializes exactly one checkpointed result
    assert(leaked <= 1, s"$leaked persisted RDDs after verifiedNearDupPairs (inputs not released)")
    val cands = Dedup.minhashCandidates(df, col("t"), col("id"), exactPrepass = true)
    cands.count()
    assert(added(b0).size <= 2,
      s"${added(b0).size} persisted RDDs after minhashCandidates (prepass caches not released)")
    val before = sc.getPersistentRDDs.keySet.toSet
    TextAnalysis.duplicateSpanFraction(df, col("id"), col("t")).count()
    assert(added(before).size <= 1,
      s"duplicateSpanFraction leaked its gram cache (${added(before).size} extra RDDs)")
    val b2 = sc.getPersistentRDDs.keySet.toSet
    TextAnalysis.removeDuplicateSpans(df, col("id"), col("t"), k = 3).count()
    assert(added(b2).size <= 1,
      s"removeDuplicateSpans leaked its token cache (${added(b2).size} extra RDDs)")
    val b3 = sc.getPersistentRDDs.keySet.toSet
    TextAnalysis.dsirScores(df, col("id"), col("t"),
      df.filter(col("id") > 800), col("t"), dim = 64).count()
    assert(added(b3).size <= 1,
      s"dsirScores leaked its bucket cache (${added(b3).size} extra RDDs)")
    // kendall returns a scalar, so it may leave no persisted RDD at all
    val b4 = sc.getPersistentRDDs.keySet.toSet
    val tau = graft.ops.RankStats.kendall(df.select(col("id"), (col("id") % 7).as("m")), "id", "m")
    assert(!tau.isNaN)
    assert(added(b4).isEmpty, s"kendall leaked its id-pinned checkpoint (RDDs ${added(b4).mkString(", ")})")
  }

  test("decontaminate removes exactly the docs sharing a k-gram with the benchmark") {
    import graft.ops.TextAnalysis
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "a completely unrelated sentence about databases"),
      (3L, "quick brown fox jumps high today"), // shares 3-gram "quick brown fox"
      (4L, "another clean document with original content")).toDF("id", "t")
    val bench = Seq((100L, "the quick brown fox runs")).toDF("id", "t")
    val cont = TextAnalysis.contaminatedIds(docs, col("t"), col("id"), bench, col("t"), k = 3)
      .collect().map(_.getLong(0)).toSet
    assert(cont == Set(1L, 3L), s"got $cont")
    val clean = TextAnalysis.decontaminate(docs, col("t"), col("id"), bench, col("t"), k = 3)
      .collect().map(_.getLong(0)).toSet
    assert(clean == Set(2L, 4L))
  }

  test("exactDedupIncremental: unseen content only, min-id within batch") {
    val existingDocs = Seq((1L, "doc alpha"), (2L, "doc beta")).toDF("id", "t")
    val existing = Dedup.contentDigests(existingDocs, col("t"))
    val batch = Seq(
      (10L, "doc alpha"),      // seen in existing -> dropped
      (11L, "doc gamma"),      // new -> kept
      (12L, "doc gamma"),      // within-batch dup of 11 -> dropped
      (13L, "DOC   beta"),     // normalizes to seen "doc beta" -> dropped
      (14L, "doc delta")).toDF("id", "t")
    val out = Dedup.exactDedupIncremental(batch, col("t"), col("id"), existing)
      .collect().map(_.getLong(0)).toSet
    assert(out == Set(11L, 14L), s"got $out")
  }

  test("nByHashPerGroup caps each stratum at n, deterministically across partitionings") {
    import graft.ops.Sampling
    val rows = (1 to 300).map(i => (i.toLong, if (i % 3 == 0) "a" else "b")) :+ ((9999L, "c"))
    def run(parts: Int) = Sampling.nByHashPerGroup(
      rows.toDF("id", "g").repartition(parts), col("g"), col("id"), n = 10)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val out = run(1)
    val perGroup = out.groupBy(_._2).view.mapValues(_.size).toMap
    assert(perGroup("a") == 10 && perGroup("b") == 10)
    assert(perGroup("c") == 1, "undersized strata keep everything")
    assert(run(8) == out, "selection must be partition-invariant")
  }

  test("charEntropy native kernel == HOF spelling bit-for-bit, incl. multilingual") {
    val texts = Seq(
      (1L, "The quick brown fox jumps over the lazy dog."),
      (2L, "aaaaaaaa"), (3L, ""), (4L, "日本語のテキストと English mixed 123!"),
      (5L, "x1!x1!x1!zzz   whitespace\ttabs\nnewlines"))
    val out = texts.toDF("id", "t")
      .select(col("id"),
        TextAnalysis.charEntropy(col("t")).as("native"),
        TextAnalysis.charEntropyHof(col("t")).as("hof"))
      .collect()
    out.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(1)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(2)),
        s"id=${r.getLong(0)}: native ${r.getDouble(1)} != hof ${r.getDouble(2)}")
    }
  }

  test("charEntropy: 0 for single-char spam, ln(k) for uniform, prose in band") {
    val out = Seq(
      (1L, "aaaaaaaa"), (2L, "abcdabcd"), (3L, "The quick brown fox jumps over the lazy dog."))
      .toDF("id", "t")
      .select(col("id"), TextAnalysis.charEntropy(col("t")).as("e"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(out(1L) == 0.0)
    assert(math.abs(out(2L) - math.log(4.0)) < 1e-12, "uniform 4-char -> ln 4")
    assert(out(3L) > 2.5 && out(3L) < 3.5, s"prose band, got ${out(3L)}")
  }

  test("jaccardEstimate: 1.0 on identical signatures, 0 on disjoint, unbiased-ish between") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"),
      (3L, "totally different words entirely here now")).toDF("id", "t")
      .select(col("id"), Dedup.minhashSignature(col("t"), k = 3, numHashes = 16).as("sig"))
    val a = docs.select(col("id").as("ia"), col("sig").as("sa"))
    val b = docs.select(col("id").as("ib"), col("sig").as("sb"))
    val est = a.join(b, col("ia") < col("ib"))
      .select(col("ia"), col("ib"), Dedup.jaccardEstimate(col("sa"), col("sb")).as("e"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(est((1L, 2L)) == 1.0, "identical docs agree on every component")
    assert(est((1L, 3L)) == 0.0 && est((2L, 3L)) == 0.0, "disjoint shingle sets share none")
  }

  test("duplicateSpanFraction: copies score 1.0, unique docs 0.0, partial overlap between") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta"), // exact copy of 1
      (3L, "one two three four five six seven eight nine"), // unique
      // shares the leading 5-gram window with doc 1 only partially
      (4L, "alpha beta gamma delta epsilon completely different tail here")
    ).toDF("id", "t")
    val out = TextAnalysis.duplicateSpanFraction(docs, col("id"), col("t"), k = 5)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(out(1L) == 1.0 && out(2L) == 1.0, "exact copies share every span")
    assert(out(3L) == 0.0, "unique doc shares nothing")
    assert(out(4L) > 0.0 && out(4L) < 1.0, s"partial overlap must land between, got ${out(4L)}")
  }

  test("weightedNByHash: exact n, partition-invariant, inclusion tracks weight") {
    import graft.ops.Sampling
    // 500 light rows (w=1) + 500 heavy rows (w=20): heavy rows should
    // dominate the 200-row sample (expected ~190 heavy)
    val rows = (1 to 500).map(i => (i.toLong, 1.0)) ++
      (501 to 1000).map(i => (i.toLong, 20.0))
    def run(parts: Int) = Sampling.weightedNByHash(
      rows.toDF("id", "w").repartition(parts), col("id"), col("w"), n = 200)
      .collect().map(_.getLong(0)).toSet
    val out = run(1)
    assert(out.size == 200, "exact n")
    val heavy = out.count(_ > 500)
    assert(heavy > 160, s"heavy rows must dominate ∝ weight, got $heavy/200")
    assert(run(8) == out, "selection must be partition-invariant")
  }

  test("toMixture hits the target domain mixture at max attainable volume") {
    import graft.ops.Sampling
    val rows = (1 to 2000).map(i => (i.toLong, "web")) ++
      (2001 to 3000).map(i => (i.toLong, "code")) ++
      (3001 to 7000).map(i => (i.toLong, "books")) ++
      (7001 to 7100).map(i => (i.toLong, "ignored"))
    val df = rows.toDF("id", "d")
    // n/w: web 2000/.5=4000 (binding), code 1000/.3=3333 (binding min),
    // books 4000/.2=20000 -> N=3333: web ~1666, code 1000 (all), books ~666
    val out = Sampling.toMixture(df, col("d"), col("id"),
      Map("web" -> 0.5, "code" -> 0.3, "books" -> 0.2))
    val byDomain = out.groupBy("d").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(!byDomain.contains("ignored"), "unweighted domains must be dropped")
    assert(byDomain("code") == 1000L, "the binding domain keeps everything")
    assert(math.abs(byDomain("web") - 1666.0) < 150, s"web=${byDomain("web")}")
    assert(math.abs(byDomain("books") - 666.0) < 100, s"books=${byDomain("books")}")
    // deterministic: same selection on a different partitioning
    val again = Sampling.toMixture(df.repartition(7), col("d"), col("id"),
      Map("web" -> 0.5, "code" -> 0.3, "books" -> 0.2))
      .collect().map(_.getLong(0)).toSet
    assert(again == out.collect().map(_.getLong(0)).toSet)
  }

  test("RangeJoin.pointInInterval == naive inequality join; plan avoids nested-loop") {
    import graft.ops.RangeJoin
    val points = (1 to 500).map(i => (i.toLong, i * 7.3)).toDF("pid", "v")
    val ivs = (0 to 50).map(i => (i.toLong, i * 60.0, i * 60.0 + 100.0)).toDF("iid", "lo", "hi")
    val fast = RangeJoin.pointInInterval(points, ivs, "v", "lo", "hi", bucketWidth = 64L)
    val got = fast.select("pid", "iid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val naive = points.crossJoin(ivs).filter(col("v") >= col("lo") && col("v") < col("hi"))
      .select("pid", "iid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == naive, "bucketized result must equal the naive inequality join")
    assert(got.nonEmpty && got.size > 500, "overlapping bands must multi-match") // spans overlap 100 > 60 step
    val plan = fast.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoop") && !plan.contains("Cartesian"),
      s"range join must plan as an equi-join, got:\n${plan.take(800)}")
    // inverted intervals match nothing instead of exploding a descending sequence
    val inverted = (0 to 5).map(i => (i.toLong, 100.0, 50.0)).toDF("iid", "lo", "hi")
    assert(RangeJoin.pointInInterval(points, inverted, "v", "lo", "hi", 64L).count() == 0)
    // a sentinel open-ended interval fails loudly, not with an OOM-sized sequence
    val openEnded = Seq((1L, 0.0, 1e15)).toDF("iid", "lo", "hi")
    val e = intercept[Exception] {
      RangeJoin.pointInInterval(points, openEnded, "v", "lo", "hi", 64L).count()
    }
    assert(e.getMessage != null)
  }

  test("asof backwardSalted routes null times like backward's nulls-first sort") {
    import graft.ops.AsOfJoin
    val left = Seq((1L, Some(100L), "at100"), (1L, Option.empty[Long], "atnull"))
      .toDF("k", "t", "lv")
    val right = Seq((1L, 50L, "r50"), (1L, 90L, "r90")).toDF("k", "t", "rv")
    def run(f: (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) => org.apache.spark.sql.DataFrame) =
      f(left, right).collect().map(r => r.getAs[String]("lv") -> r.getAs[String]("rv_m")).toMap
    val plain = run(AsOfJoin.backward(_, _, Seq("k"), "t", "t", Map("rv" -> "rv_m")))
    val salted = run(AsOfJoin.backwardSalted(_, _, Seq("k"), "t", "t", Map("rv" -> "rv_m"), salts = 4))
    assert(plain("atnull") == null, "null-time left row matches nothing in backward")
    assert(salted == plain, s"salted=$salted plain=$plain")
  }

  test("stripBoilerplate drops frequent lines, keeps order, empties all-boilerplate docs") {
    import graft.ops.TextAnalysis
    val docs = (1L to 10L).map(i => (i, s"unique line $i\ncommon footer\nsecond unique $i")) :+
      ((11L, "common footer"))
    val out = TextAnalysis.stripBoilerplate(docs.toDF("id", "t"), col("t"), minDocFreq = 5L)
      .select(col("id"), col("text_clean")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(3L) == "unique line 3\nsecond unique 3", s"got '${out(3L)}'")
    assert(out(11L) == "", "a doc that is pure boilerplate must come back empty")
  }

  test("unigramNll: rare-token docs score higher; partition-invariant") {
    import graft.ops.TextAnalysis
    val docs = (1L to 20L).map(i => (i, "the common words appear here")) :+
      ((99L, "zyzzyva qwerty xylophone"))
    def run(parts: Int) =
      TextAnalysis.unigramNll(docs.toDF("id", "t").repartition(parts), col("t"), col("id"))
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val m = run(1)
    assert(m(99L) > m(1L), "rare tokens must yield higher mean -ln p")
    assert(m(1L) == m(2L), "identical docs score identically")
    assert(run(5) == m, "sorted-order fold must be partition-invariant")
  }

  test("topGrams ranks corpus bigrams with deterministic tie-break") {
    import graft.ops.TextAnalysis
    val df = Seq("a b a b c", "a b x", "z z").toDF("t")
    // bigrams: "a b"x3; "b a","b c","b x","z z" x1 -> tie broken gram-asc
    val top = TextAnalysis.topGrams(df, col("t"), k = 2, topN = 2).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(top == Seq(("a b", 3L), ("b a", 1L)), s"got $top")
  }

  test("jaccard bounds and self-similarity") {
    val df = Seq(("a b c d e", "a b c d e"), ("a b c d e", "x y z w v")).toDF("l", "r")
      .withColumn("j", Dedup.jaccard(col("l"), col("r"), 2))
    val js = df.collect().map(_.getDouble(2))
    assert(js(0) == 1.0 && js(1) == 0.0)
  }

  test("multimodal decode stub: deterministic, partition-count invariant") {
    val docs = Seq((1L, "hello world"), (2L, "x" * 2000)).toDF("id", "t")
    def run(parts: Int) = {
      val assets = docs.repartition(parts).select(col("id"),
        Multimodal.assetStruct(concat(lit("doc://"), col("id")), encode(col("t"), "UTF-8"),
          map(lit("k"), lit("v"))).as("asset"))
      Multimodal.decodeImages(assets, "asset").collect().sortBy(_.path).toSeq
    }
    val a = run(1); val b = run(4)
    assert(a == b, "decode must not depend on partitioning")
    assert(a.head.width == 11 && a.head.channels == 3)
    assert(a.forall(_.checksum != 0L))
    // withTargetDims keeps identity except shape (metadata-only by design)
    val resized = Multimodal.withTargetDims(Multimodal.decodeImages(
      docs.select(col("id"), Multimodal.assetStruct(concat(lit("d"), col("id")),
        encode(col("t"), "UTF-8"), map()).as("asset")), "asset"), 224, 224).collect()
    assert(resized.forall(d => d.width == 224 && d.height == 224))
  }

  test("real PNG/JPEG payloads decode through javax.imageio with true shape") {
    def imageBytes(w: Int, h: Int, format: String): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      (0 until w).foreach(x => (0 until h).foreach(y => img.setRGB(x, y, (x * 31 + y * 7) & 0xFFFFFF)))
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, format, out)
      out.toByteArray
    }
    val png = imageBytes(5, 3, "png")
    val jpg = imageBytes(8, 6, "jpg")
    val txt = "not an image".getBytes("UTF-8")
    val rows = Seq(("png", png), ("jpg", jpg), ("txt", txt)).toDF("id", "payload")
    val assets = rows.select(col("id"),
      Multimodal.assetStruct(col("id"), col("payload"), map()).as("asset"))
    val decoded = Multimodal.decodeImages(assets, "asset")
      .collect().map(d => d.path -> d).toMap
    assert(decoded("png").width == 5 && decoded("png").height == 3 && decoded("png").channels == 3)
    assert(decoded("jpg").width == 8 && decoded("jpg").height == 6 && decoded("jpg").channels == 3)
    // non-image payloads keep the deterministic byte-derived fake
    assert(decoded("txt").width == txt.length % 640)
    assert(decoded.values.forall(_.checksum != 0L))
  }

  test("resizeImages rescales real pixels; imageChannelStats reads true means") {
    def solidPng(w: Int, h: Int, rgb: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      (0 until w).foreach(x => (0 until h).foreach(y => img.setRGB(x, y, rgb)))
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", out)
      out.toByteArray
    }
    val red = solidPng(10, 6, 0xFF0000)
    val txt = "not an image".getBytes("UTF-8")
    val assets = Seq(("red", red), ("txt", txt)).toDF("id", "payload")
      .select(Multimodal.assetStruct(col("id"), col("payload"), map()).as("asset"))
    // resize: output decodes to the target shape, pixels preserved for solid color
    val resized = Multimodal.resizeImages(assets, "asset", 4, 3)
      .collect().map(r => r.path -> r).toMap
    val back = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(resized("red").data))
    assert(back.getWidth == 4 && back.getHeight == 3)
    assert((back.getRGB(2, 1) & 0xFFFFFF) == 0xFF0000, "solid red survives bilinear rescale")
    assert(resized("txt").data.sameElements(txt), "non-image payloads pass through")
    // channel stats: solid red -> means (255, 0, 0); non-images dropped
    val stats = Multimodal.imageChannelStats(assets, "asset").collect()
    assert(stats.length == 1 && stats.head.path == "red")
    assert(stats.head.meanR == 255.0 && stats.head.meanG == 0.0 && stats.head.meanB == 0.0)
  }

  test("real WAV payloads decode through javax.sound.sampled with true format") {
    def wavBytes(sampleRate: Float, channels: Int, nFrames: Int): Array[Byte] = {
      val fmt = new javax.sound.sampled.AudioFormat(sampleRate, 16, channels, true, false)
      val pcm = Array.tabulate(nFrames * channels * 2)(i => ((i * 37) % 251).toByte)
      val in = new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, nFrames)
      val out = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(in, javax.sound.sampled.AudioFileFormat.Type.WAVE, out)
      out.toByteArray
    }
    val wav = wavBytes(8000f, 2, 1600)
    val txt = "not audio at all".getBytes("UTF-8")
    val assets = Seq(("wav", wav), ("txt", txt)).toDF("id", "payload")
      .select(Multimodal.assetStruct(col("id"), col("payload"), map()).as("asset"))
    val decoded = Multimodal.decodeAudio(assets, "asset")
      .collect().map(d => d.path -> d).toMap
    assert(decoded("wav").sampleRate == 8000f && decoded("wav").channels == 2)
    assert(decoded("wav").frames == 1600L)
    assert(math.abs(decoded("wav").durationSec - 0.2) < 1e-9)
    // non-audio payloads keep the deterministic byte-derived fake
    assert(decoded("txt").sampleRate == 16000f && decoded("txt").channels == 1)
    assert(decoded.values.forall(_.checksum != 0L))
  }

  test("pluggable AudioCodec seam: a registered codec claims compressed payloads") {
    // a fake "mp3 decoder" claiming the ID3 magic — stands in for any
    // user-supplied codec (the seam the mp3 non-goal closes with)
    val mp3ish = "ID3" .getBytes("UTF-8") ++ Array.tabulate(64)(i => (i * 13).toByte)
    val txt = "not audio".getBytes("UTF-8")
    val assets = Seq(("song.mp3", mp3ish), ("txt", txt)).toDF("id", "payload")
      .select(Multimodal.assetStruct(col("id"), col("payload"), map()).as("asset"))
    Multimodal.registerAudioCodec(new Multimodal.AudioCodec {
      def accepts(path: String, bytes: Array[Byte]): Boolean =
        bytes != null && bytes.length >= 3 &&
          bytes(0) == 'I'.toByte && bytes(1) == 'D'.toByte && bytes(2) == '3'.toByte
      def decode(path: String, bytes: Array[Byte]): Option[Multimodal.DecodedAudio] =
        Some(Multimodal.DecodedAudio(path, 44100f, 2, 12345L, 0.28, 7L))
    })
    try {
      val decoded = Multimodal.decodeAudio(assets, "asset")
        .collect().map(d => d.path -> d).toMap
      assert(decoded("song.mp3").sampleRate == 44100f &&
        decoded("song.mp3").frames == 12345L, "registered codec must claim the mp3 payload")
      // unclaimed payloads still fall through to the stub
      assert(decoded("txt").sampleRate == 16000f)
    } finally Multimodal.clearAudioCodecs()
    // with the registry empty the same payload falls back to the stub
    // (no SPI decoder on this classpath)
    val bare = Multimodal.decodeAudio(assets, "asset")
      .collect().map(d => d.path -> d).toMap
    assert(bare("song.mp3").sampleRate == 16000f)
  }

  test("drop-a-jar SPI proof: a META-INF/services AudioFileReader decodes through AudioSystem") {
    // the r15 verdict item: FakeOggSpiReader rides the TEST classpath via
    // META-INF/services — the exact mechanism a deployment uses to add
    // mp3spi/vorbisspi — and spiDecodeAudio reaches it through
    // AudioSystem's ServiceLoader with ZERO production-code changes; the
    // verified-absent mp3/ogg closure is demonstrated pluggable
    import scala.jdk.CollectionConverters._
    assert(java.util.ServiceLoader.load(classOf[javax.sound.sampled.spi.AudioFileReader])
      .iterator().asScala.exists(_.isInstanceOf[FakeOggSpiReader]),
      "ServiceLoader must discover the test-classpath SPI")
    val oggish = "OggS".getBytes("US-ASCII") ++ Array.tabulate(64)(i => (i * 11).toByte)
    val txt = "not audio".getBytes("UTF-8")
    val assets = Seq(("clip.ogg", oggish), ("txt", txt)).toDF("id", "payload")
      .select(Multimodal.assetStruct(col("id"), col("payload"), map()).as("asset"))
    // registry EMPTY: the decode must flow realDecodeAudio (refuses, not
    // RIFF/FORM) -> registry (empty) -> AudioSystem SPI (our fake claims
    // OggS and reports 44.1k stereo with UNKNOWN frame length)
    Multimodal.clearAudioCodecs()
    val decoded = Multimodal.decodeAudio(assets, "asset")
      .collect().map(d => d.path -> d).toMap
    assert(decoded("clip.ogg").sampleRate == 44100f && decoded("clip.ogg").channels == 2,
      "SPI decoder must claim the OggS payload through AudioSystem")
    assert(decoded("clip.ogg").frames == 0L && decoded("clip.ogg").durationSec == 0.0,
      "unknown compressed frame count (-1) normalizes to 0")
    assert(decoded("clip.ogg").checksum != 0L)
    // payloads no provider claims still fall through to the stub
    assert(decoded("txt").sampleRate == 16000f && decoded("txt").channels == 1)
  }

  test("pluggable VideoCodec seam: registered codec claims, stub is deterministic, null -> placeholder") {
    // the AudioCodec pattern applied to video (r13 verdict item 6): no JVM
    // video decoder exists on this classpath (verified-absent in COVERAGE),
    // so the registry is the only integration point and the stub keeps the
    // pipeline shape testable
    val mp4ish = Array[Byte](0, 0, 0, 24) ++ "ftypisom".getBytes("UTF-8") ++
      Array.tabulate(4096)(i => (i * 7).toByte)
    val txt = "not video".getBytes("UTF-8")
    val assets = Seq(("clip.mp4", mp4ish), ("txt", txt), ("nul", null: Array[Byte]))
      .toDF("id", "payload")
      .select(Multimodal.assetStruct(col("id"), col("payload"), map()).as("asset"))
    // stub path: byte-derived dims, 1024-bytes-per-frame (the
    // frameSampleExpr model), 24 fps, FNV checksum — fully deterministic
    val bare = Multimodal.decodeVideo(assets, "asset").collect().map(d => d.path -> d).toMap
    assert(bare("clip.mp4").frames == (mp4ish.length / 1024).toLong)
    assert(bare("clip.mp4").fps == 24.0 && bare("clip.mp4").checksum != 0L)
    assert(math.abs(bare("clip.mp4").durationSec - bare("clip.mp4").frames / 24.0) < 1e-12)
    assert(bare("txt").width == txt.length % 640 && bare("txt").frames == 1L)
    // null payload -> 1-frame 1x1 placeholder, row kept (the decodeImages rule)
    assert(bare("nul").width == 1 && bare("nul").height == 1 &&
      bare("nul").frames == 1L && bare("nul").checksum == 0L)
    // a registered codec claims its magic; unclaimed payloads keep the stub
    Multimodal.registerVideoCodec(new Multimodal.VideoCodec {
      def accepts(path: String, bytes: Array[Byte]): Boolean =
        bytes != null && bytes.length >= 12 &&
          new String(bytes, 4, 4, "UTF-8") == "ftyp"
      def decode(path: String, bytes: Array[Byte]): Option[Multimodal.DecodedVideo] =
        Some(Multimodal.DecodedVideo(path, 1920, 1080, 240L, 30.0, 8.0, 42L))
    })
    try {
      val decoded = Multimodal.decodeVideo(assets, "asset").collect().map(d => d.path -> d).toMap
      assert(decoded("clip.mp4").width == 1920 && decoded("clip.mp4").frames == 240L,
        "registered codec must claim the mp4 payload")
      assert(decoded("txt").frames == 1L, "unclaimed payloads keep the stub")
    } finally Multimodal.clearVideoCodecs()
  }

  test("WindowStats.ewmVar matches explicit pandas effective-weight formula") {
    import graft.ops.WindowStats
    val xs = Seq(1.0, 2.0, 3.0, 4.0)
    val alpha = 0.5; val beta = 1 - alpha
    // independent expected: materialize the effective weights per t, debias
    def expected(adjust: Boolean): Seq[Double] = xs.indices.map { t =>
      val w = (0 to t).map { i =>
        if (adjust) math.pow(beta, t - i)
        else if (i == 0) math.pow(beta, t) else alpha * math.pow(beta, t - i)
      }
      val sw = w.sum; val sw2 = w.map(v => v * v).sum
      val mean = w.zip(xs).map { case (wi, x) => wi * x }.sum / sw
      val biased = w.zip(xs).map { case (wi, x) => wi * (x - mean) * (x - mean) }.sum / sw
      if (sw * sw - sw2 <= 0) Double.NaN else biased * sw * sw / (sw * sw - sw2)
    }
    val df = xs.zipWithIndex.map { case (x, i) => (1, i, x) }.toDF("k", "t", "x")
    for (adjust <- Seq(true, false)) {
      val got = WindowStats.ewmVar(df, Seq("k"), "t", "x", alpha, adjust = adjust)
        .orderBy("t").collect().map(_.getAs[Double]("ewm_var")).toSeq
      val exp = expected(adjust)
      assert(got.head.isNaN && exp.head.isNaN, s"adjust=$adjust first var is NaN")
      got.tail.zip(exp.tail).foreach { case (g, e) =>
        assert(math.abs(g - e) < 1e-10, s"adjust=$adjust: got $g expected $e")
      }
    }
    // pandas cross-check: ewm(alpha=0.5, adjust=True).var() of [1,2,3,4]
    val adj = WindowStats.ewmVar(df, Seq("k"), "t", "x", alpha, adjust = true)
      .orderBy("t").collect().map(_.getAs[Double]("ewm_var"))
    assert(math.abs(adj(1) - 0.5) < 1e-9)
    assert(math.abs(adj(2) - 0.9285714286) < 1e-9)
    assert(math.abs(adj(3) - 1.3857142857) < 1e-9)
    // std = sqrt(var)
    val sd = WindowStats.ewmStd(df, Seq("k"), "t", "x", alpha, adjust = true)
      .orderBy("t").collect().map(_.getAs[Double]("ewm_std"))
    assert(math.abs(sd(3) - math.sqrt(adj(3))) < 1e-12)
  }

  test("quantizeInt8: codes bounded, dequantization error within half-scale") {
    val vecs = Seq(
      (1L, Array(0.5f, -1.0f, 0.25f, 0.0f)),
      (2L, Array(0.0f, 0.0f, 0.0f, 0.0f)), // zero vector: scale 1, codes 0
      (3L, Array(100.0f, -100.0f, 3.3f, -0.1f)))
    val out = vecs.toDF("id", "v")
      .select(col("id"), Similarity.quantizeInt8(col("v")).as("qz"))
      .select(col("id"), col("qz.scale").as("s"), col("qz.q").as("q"))
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getSeq[Int](2))).toMap
    assert(out(2L) == ((1.0, Seq(0, 0, 0, 0))))
    vecs.foreach { case (i, v) =>
      val (s, q) = out(i)
      assert(q.forall(c => c >= -127 && c <= 127), s"vec $i codes out of range: $q")
      v.zip(q).foreach { case (x, c) =>
        assert(math.abs(c * s - x) <= s / 2 + 1e-9, s"vec $i dequant error > scale/2")
      }
    }
  }

  test("minhashCandidatesAgainst finds identical and near-dup texts in the state") {
    val old = Seq((1L, "alpha beta gamma delta epsilon"), (2L, "totally different words here"))
      .toDF("id", "t")
    val state = Dedup.minhashBands(old, col("t"), col("id"), k = 3, numHashes = 4, bands = 2)
    val batch = Seq(
      (10L, "alpha beta gamma delta epsilon"), // exact dup of 1
      (11L, "unrelated novel content entirely")).toDF("id", "t")
    val pairs = Dedup.minhashCandidatesAgainst(batch, col("t"), col("id"), state,
        k = 3, numHashes = 4, bands = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((10L, 1L)), "identical text must collide with the state")
    assert(!pairs.exists(_._1 == 11L), "novel content must not match")
  }

  test("interpolateLinear: interior blend, trailing carry, leading null") {
    val df = Seq(
      // group a: [null, 1, null, null, 4, null] -> [null, 1, 2, 3, 4, 4]
      ("a", 1L, None: Option[Double]), ("a", 2L, Some(1.0)), ("a", 3L, None),
      ("a", 4L, None), ("a", 5L, Some(4.0)), ("a", 6L, None),
      // group b: all null stays all null
      ("b", 1L, None), ("b", 2L, None)).toDF("g", "o", "v")
    val out = graft.ops.WindowStats.interpolateLinear(df, Seq("g"), Seq(col("o")), "v")
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        (if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toMap
    assert(out(("a", 1L)).isEmpty, "leading null stays null")
    assert(out(("a", 3L)).contains(2.0) && out(("a", 4L)).contains(3.0), "interior blend")
    assert(out(("a", 6L)).contains(4.0), "trailing null carries last valid")
    assert(out(("b", 1L)).isEmpty && out(("b", 2L)).isEmpty)
  }

  test("rollingCorr/rollingCov match direct computation; null before full frame") {
    import org.apache.spark.sql.expressions.Window
    val xs = Seq(1.0, 2.0, 4.0, 3.0, 7.0, 5.0, 8.0)
    val ys = Seq(2.0, 1.0, 5.0, 4.0, 6.0, 7.0, 9.0)
    val df = xs.zip(ys).zipWithIndex.map { case ((x, y), i) => (i.toLong, x, y) }
      .toDF("i", "x", "y")
    val w = Window.partitionBy(lit(1)).orderBy(col("i"))
    val n = 3
    val got = df
      .withColumn("c", graft.ops.WindowStats.rollingCorr(col("x"), col("y"), n, w))
      .withColumn("v", graft.ops.WindowStats.rollingCov(col("x"), col("y"), n, w))
      .orderBy(col("i")).collect()
    assert(got.take(n - 1).forall(r => r.isNullAt(3) && r.isNullAt(4)),
      "null until the frame holds n rows")
    for (i <- (n - 1) until xs.size) {
      val fx = xs.slice(i - n + 1, i + 1); val fy = ys.slice(i - n + 1, i + 1)
      val mx = fx.sum / n; val my = fy.sum / n
      val cov = fx.zip(fy).map { case (a, b) => (a - mx) * (b - my) }.sum / (n - 1)
      val corr = cov / math.sqrt(fx.map(a => (a - mx) * (a - mx)).sum / (n - 1)) /
        math.sqrt(fy.map(b => (b - my) * (b - my)).sum / (n - 1))
      assert(math.abs(got(i).getDouble(3) - corr) < 1e-9, s"corr at $i")
      assert(math.abs(got(i).getDouble(4) - cov) < 1e-9, s"cov at $i")
    }
  }

  test("groupRanks: all five pandas rank methods on a tied series") {
    // values per group g: 10, 20, 20, 30 -> min 1,2,2,4; max 1,3,3,4;
    // dense 1,2,2,3; first 1,2,3,4; avg 1,2.5,2.5,4
    val df = Seq((1L, 10.0), (2L, 20.0), (3L, 20.0), (4L, 30.0))
      .map { case (id, v) => ("g", id, v) }.toDF("g", "id", "v")
    val r = graft.ops.RankStats.groupRanks(df, "g", "v", "id")
      .orderBy(col("id")).collect()
      .map(x => (x.getLong(1), x.getLong(3), x.getLong(4), x.getLong(5), x.getLong(6),
        x.getDouble(7), x.getDouble(8)))
    assert(r.toSeq == Seq(
      (1L, 1L, 1L, 1L, 1L, 1.0, 0.25), (2L, 2L, 3L, 2L, 2L, 2.5, 0.625),
      (3L, 2L, 3L, 2L, 3L, 2.5, 0.625), (4L, 4L, 4L, 3L, 4L, 4.0, 1.0)))
  }

  test("winsorize clips exactly at the type-7 quantile boundaries") {
    // 0..100: p05 = 5.0, p95 = 95.0 land exactly on data points
    val df = (0 to 100).map(_.toDouble).toDF("v")
    val clipped = df.select(graft.ops.RankStats.winsorize(df, "v", 0.05, 0.95).as("w"))
      .collect().map(_.getDouble(0))
    assert(clipped.min == 5.0 && clipped.max == 95.0)
    assert(clipped.count(_ == 5.0) == 6 && clipped.count(_ == 95.0) == 6)
    assert(clipped.sorted.toSeq.slice(6, 95) == (6 to 94).map(_.toDouble))
  }

  test("exactQuantiles matches the driver type-7 reference across partition layouts") {
    // pins the targeted-partition-read path: global ranks resolve through
    // per-partition size prefix sums, so EMPTY partitions (more partitions
    // than rows after the range split) and boundary ranks (p=0, p=1,
    // f=0 exact hits) must all land on the right (partition, offset)
    def ref(xs: Seq[Double], p: Double): Double = {
      val s = xs.sorted; val h = (s.length - 1) * p
      val lo = s(h.floor.toInt); val hi = s(h.ceil.toInt)
      lo + (hi - lo) * (h - h.floor)
    }
    val rnd = new scala.util.Random(7)
    val probes = Seq(0.0, 0.01, 0.25, 0.5, 0.75, 0.9, 1.0)
    for ((rows, parts) <- Seq((1, 8), (7, 32), (500, 4), (500, 64))) {
      val xs = Seq.fill(rows)(rnd.nextDouble() * 1000 - 500)
      val df = xs.toDF("v").repartition(parts)
      val got = graft.ops.RankStats.exactQuantiles(df, "v", probes)
      for ((p, g) <- probes.zip(got))
        assert(math.abs(g - ref(xs, p)) < 1e-12,
          s"rows=$rows parts=$parts p=$p: $g vs ${ref(xs, p)}")
    }
    // all-null column → NaN per probe; empty probe list → empty
    val nulls = Seq[Option[Double]](None, None).toDF("v")
    assert(graft.ops.RankStats.exactQuantiles(nulls, "v", Seq(0.5)).forall(_.isNaN))
    assert(graft.ops.RankStats.exactQuantiles(nulls, "v", Seq.empty).isEmpty)
  }

  test("quantizedTopK reproduces exact top-k ranks on well-separated vectors") {
    val emb = (0 until 20).map(i =>
      (i.toLong, Array.tabulate(16)(d => math.sin(i * 37 + d * 3).toFloat)))
      .toDF("id", "vec")
    val q = emb.filter(col("id") < 2)
      .select(col("id").as("q_id"), col("vec").as("q_vec"))
    val c = emb.select(col("id").as("c_id"), col("vec").as("c_vec"))
    val exact = Similarity.bruteForceTopK(q, c, "q_id", "q_vec", "c_id", "c_vec", k = 3)
      .select("q_id", "c_id", "rank").collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val quant = Similarity.quantizedTopK(q, c, "q_id", "q_vec", "c_id", "c_vec", k = 3)
      .select("q_id", "c_id", "rank").collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(quant == exact, "int8 rounding must not reorder well-separated neighbors")
  }

  test("randomProject: deterministic, linear, and roughly norm-preserving") {
    val vecs = (0 until 50).map(i =>
      (i.toLong, Array.tabulate(64)(d => math.sin(i * 64 + d).toFloat)))
    def run(parts: Int) = vecs.toDF("id", "v").repartition(parts)
      .select(col("id"), Similarity.randomProject(col("v"), 64, 16).as("p"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val m = run(1)
    assert(m.values.forall(_.length == 16))
    assert(run(4) == m, "projection must be partition-invariant")
    // JL: squared norms are preserved in expectation; with 16 dims the
    // per-vector distortion should stay well within a loose 3x band
    def norm2(xs: Seq[Double]) = xs.map(x => x * x).sum
    vecs.foreach { case (i, v) =>
      val in = norm2(v.map(_.toDouble).toSeq); val out = norm2(m(i))
      assert(out > in / 3 && out < in * 3, s"vec $i distorted: $in -> $out")
    }
  }

  test("bucketed ANN results are a subset of brute-force rankings' candidates") {
    val vecs = (0 until 40).map(i =>
      (i.toLong, Array.tabulate(8)(j => math.sin(i * 13 + j).toFloat)))
    val df = vecs.toDF("vec_id", "embedding")
    val q = df.filter(col("vec_id") < 2).select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val c = df.select(col("vec_id").as("c_id"), col("embedding").as("c_vec"))
    val brute = Similarity.bruteForceTopK(q, c, "q_id", "q_vec", "c_id", "c_vec", 40)
      .select("q_id", "c_id", "cos").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val bucketed = Similarity.bucketedTopK(q, c, "q_id", "q_vec", "c_id", "c_vec", 5, planes = 3, dim = 8)
      .collect()
    assert(bucketed.nonEmpty)
    bucketed.foreach { r =>
      val key = (r.getLong(0), r.getLong(1))
      assert(brute.contains(key) && math.abs(brute(key) - r.getDouble(2)) < 1e-9,
        s"bucketed pair $key must carry the exact cosine")
    }
  }

  test("repetition signals: duplicate-line fraction and top-bigram fraction") {
    val df = Seq(
      (1L, "a\na\nb"),                       // 3 lines, 2 distinct -> 1/3
      (2L, "x\n \ny"),                        // blank line ignored -> 0.0
      (3L, "one two one two one")).toDF("id", "t") // bigrams: "one two"×2, "two one"×2 of 4
      .withColumn("grams", TextAnalysis.shingles(col("t"), 2))
      .select(col("id"),
        TextAnalysis.duplicateLineFraction(col("t")).as("dl"),
        TextAnalysis.topNgramFractionStaged(col("grams")).as("tb"))
    val m = df.collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(math.abs(m(1L)._1 - 1.0 / 3) < 1e-12)
    assert(m(2L)._1 == 0.0)
    assert(math.abs(m(3L)._2 - 0.5) < 1e-12)
    // single-token doc: one degenerate gram -> fraction 1.0
    val single = Seq((1L, "hello")).toDF("id", "t")
      .withColumn("grams", TextAnalysis.shingles(col("t"), 2))
      .select(TextAnalysis.topNgramFractionStaged(col("grams"))).head().getDouble(0)
    assert(single == 1.0)
  }

  test("exactDedupRows keeps exactly the min-id row per duplicate group") {
    val df = Seq((1L, "same text"), (2L, "same text"), (3L, "other")).toDF("id", "t")
    val out = graft.ops.Dedup.exactDedupRows(df, col("t"), col("id"))
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(out == Seq(1L, 3L))
  }

  test("Retry.withRetry runs the body EXACTLY once per needed attempt (no success re-run)") {
    // regression: `return f` inside the old foreach closure compiled to a
    // NonLocalReturnControl that the Throwable catch swallowed — every
    // SUCCESS was recorded as a failure and the body re-ran on all remaining
    // attempts (3 downloads per url fetch), and a real exception from a
    // post-success re-run surfaced as the call's result
    var calls = 0
    val v = graft.io.Retry.withRetry(attempts = 3, initialWaitMs = 1) { calls += 1; "ok" }
    assert(v == "ok" && calls == 1, s"success must not re-run the body (ran $calls times)")
    var c2 = 0
    val v2 = graft.io.Retry.withRetry(attempts = 3, initialWaitMs = 1) {
      c2 += 1
      if (c2 < 2) throw new RuntimeException("flaky")
      if (c2 > 2) throw new IllegalStateException("post-success re-run!")
      7
    }
    assert(v2 == 7 && c2 == 2, s"attempt-2 success must end the loop (ran $c2 times)")
  }

  test("Retry.withRetry retries then succeeds / exhausts") {
    var calls = 0
    val v = graft.io.Retry.withRetry(attempts = 3, initialWaitMs = 1) {
      calls += 1; if (calls < 3) throw new RuntimeException("flaky"); 42
    }
    assert(v == 42 && calls == 3)
    intercept[RuntimeException] {
      graft.io.Retry.withRetry(attempts = 2, initialWaitMs = 1) {
        throw new RuntimeException("always")
      }
    }
    // attempts < 1 would skip the loop and NPE on `throw last` — refuse loudly
    intercept[IllegalArgumentException] {
      graft.io.Retry.withRetry(attempts = 0, initialWaitMs = 1) { 1 }
    }
  }

  test("IVF ANN: full-probe recovers brute-force top-k; fewer probes stay exact-cosine subsets") {
    val vecs = (0 until 60).map { i =>
      val center = i % 3 // 3 natural clusters
      (i.toLong, Array.tabulate(8)(j => (center * 10.0 + math.sin(i * 7 + j)).toFloat))
    }
    val df = vecs.toDF("vec_id", "embedding")
    val q = df.filter(col("vec_id") < 2).select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val c = df.select(col("vec_id").as("c_id"), col("embedding").as("c_vec"))
    val brute = Similarity.bruteForceTopK(q, c, "q_id", "q_vec", "c_id", "c_vec", 5)
      .collect().map(r => (r.getLong(0), r.getLong(3)) -> r.getLong(1)).toMap
    // probing ALL cells must reproduce brute-force exactly
    val full = Similarity.ivfTopK(q, c, "q_id", "q_vec", "c_id", "c_vec",
      k = 5, nlist = 3, nprobe = 3)
      .collect().map(r => (r.getLong(0), r.getLong(3)) -> r.getLong(1)).toMap
    assert(full == brute)
    // single-probe results carry exact cosines for whatever they return
    val one = Similarity.ivfTopK(q, c, "q_id", "q_vec", "c_id", "c_vec",
      k = 5, nlist = 3, nprobe = 1).collect()
    assert(one.nonEmpty)
  }

  test("IVF ANN: realistic nlist x dim stays a constant-size expression (no codegen blowout)") {
    // 256 centroids x 128 dims = 32k doubles: with round-1's inlined literal
    // terms this was ~100k expression nodes (Janino 64KB method-limit); as a
    // typedLit + HOF argmin it's one array literal and executes fine
    val nlist = 256; val dim = 128
    val centroids = Seq.tabulate(nlist)(i => Seq.tabulate(dim)(j => math.sin(i * dim + j)))
    val vecs = (0 until 6).map(i => (i.toLong, Array.tabulate(dim)(j => math.cos(i * 3 + j).toFloat)))
    val df = vecs.toDF("vec_id", "embedding")
    val q = df.filter(col("vec_id") < 2).select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val c = df.select(col("vec_id").as("c_id"), col("embedding").as("c_vec"))
    val out = Similarity.ivfTopKWithCentroids(q, c, "q_id", "q_vec", "c_id", "c_vec",
      k = 3, nprobe = nlist, centroids = centroids)
    // full probe == brute force, and the plan must actually execute
    val brute = Similarity.bruteForceTopK(q, c, "q_id", "q_vec", "c_id", "c_vec", 3)
      .collect().map(r => (r.getLong(0), r.getLong(3)) -> r.getLong(1)).toMap
    val got = out.collect().map(r => (r.getLong(0), r.getLong(3)) -> r.getLong(1)).toMap
    assert(got == brute)
  }

  test("asof strict vs inclusive at equal timestamps") {
    import graft.ops.AsOfJoin
    val left = Seq((1L, 100L)).toDF("k", "t")
    val right = Seq((1L, 100L, "at"), (1L, 50L, "before")).toDF("k", "t", "tag")
    def run(strict: Boolean): String = {
      val out = AsOfJoin.backward(left, right, Seq("k"), "t", "t",
        Map("tag" -> "matched"), strict = strict).collect().head
      out.getAs[String]("matched")
    }
    assert(run(strict = false) == "at", "inclusive picks the equal-time right row")
    assert(run(strict = true) == "before", "strict picks only earlier rows")
  }

  test("asof forward: earliest at-or-after; strict excludes equal time; nearest ties to backward") {
    import graft.ops.AsOfJoin
    val left = Seq((1L, 100L), (1L, 10L), (1L, 300L)).toDF("k", "t")
    val right = Seq((1L, 100L, "at"), (1L, 150L, "after"), (1L, 90L, "before"))
      .toDF("k", "t", "tag")
    def m(df: org.apache.spark.sql.DataFrame): Map[Long, String] =
      df.collect().map(r => r.getAs[Long]("t") -> r.getAs[String]("matched")).toMap
    val fwd = m(AsOfJoin.forward(left, right, Seq("k"), "t", "t", Map("tag" -> "matched")))
    assert(fwd(100L) == "at", "inclusive forward takes the equal-time row")
    assert(fwd(10L) == "before", "forward takes the earliest at-or-after")
    assert(fwd(300L) == null, "no later right row -> null")
    val fs = m(AsOfJoin.forward(left, right, Seq("k"), "t", "t", Map("tag" -> "matched"),
      strict = true))
    assert(fs(100L) == "after", "strict forward skips the equal-time row")
    // nearest: t=100 matches `at` (distance 0); t=120 is 30 from `before`@90?
    // no: 20 from `at`@100 vs 30 from `after`@150 -> `at`; exact tie prefers
    // backward: t=125 is 25 from both `at` and `after` -> backward (`at`)
    val left2 = Seq((1L, 120L), (1L, 125L), (1L, 10L), (1L, 300L)).toDF("k", "t")
    val near = m(AsOfJoin.nearest(left2, right, Seq("k"), "t", "t", Map("tag" -> "matched")))
    assert(near(120L) == "at" && near(125L) == "at")
    assert(near(10L) == "before", "only-forward side still matches")
    assert(near(300L) == "after", "only-backward side still matches")
  }

  test("asof carries the matched right row atomically, nulls included") {
    import graft.ops.AsOfJoin
    val left = Seq((1L, 100L)).toDF("k", "t")
    // matched right row (t=90) has a null in payload `a`; an older row (t=50)
    // has a value — merge_asof semantics demand the matched row's null, not a
    // per-column fallback mixing values from two different right rows
    val right = Seq(
      (1L, 90L, Option.empty[String], Option("new_b")),
      (1L, 50L, Option("old_a"), Option("old_b"))).toDF("k", "t", "a", "b")
    val out = AsOfJoin.backward(left, right, Seq("k"), "t", "t",
      Map("a" -> "a_m", "b" -> "b_m")).collect().head
    assert(out.getAs[String]("b_m") == "new_b")
    assert(out.getAs[String]("a_m") == null,
      "null in the matched row must not fall back to an older right row")
  }

  test("asof backwardSalted == backward on a 90%-hot-key workload, both strict modes") {
    import graft.ops.AsOfJoin
    // one key holds 90% of the rows — exactly the workload where backward's
    // single per-key window serializes; salting must not change the answer.
    // Distinct right timestamps per key (ties between equal-time right rows
    // are arbitrary in BOTH variants, like pandas).
    val hotLeft = (0 until 900).map(i => (1L, (i * 7 + 3).toLong, s"L$i"))
    val coldLeft = (0 until 100).map(i => (2L, (i * 11 + 5).toLong, s"l$i"))
    val left = (hotLeft ++ coldLeft).toDF("k", "t", "lv")
    val hotRight = (0 until 300).map(i => (1L, (i * 23).toLong, i.toDouble))
    val coldRight = (0 until 40).map(i => (2L, (i * 31).toLong, -i.toDouble))
    val right = (hotRight ++ coldRight).toDF("k", "t", "rv")
    for (strict <- Seq(false, true); salts <- Seq(1, 8)) {
      def canon(df: org.apache.spark.sql.DataFrame) =
        df.orderBy("k", "t", "lv").collect().map(_.toSeq).toSeq
      val plain = canon(AsOfJoin.backward(left, right, Seq("k"), "t", "t",
        Map("rv" -> "rv_m"), strict = strict))
      val salted = canon(AsOfJoin.backwardSalted(left, right, Seq("k"), "t", "t",
        Map("rv" -> "rv_m"), strict = strict, salts = salts))
      assert(salted == plain, s"strict=$strict salts=$salts diverged")
    }
  }

  test("frameSampleExpr strides synthetic frame indices") {
    val df = Seq(("x" * 3000)).toDF("t")
      .withColumn("frames", Multimodal.frameSampleExpr(encode(col("t"), "UTF-8"), 2))
    // 3000 bytes -> 2 frames (0,1); stride 2 keeps frame 0
    assert(df.head().getSeq[Int](1) == Seq(0))
  }

  test("langId picks CJK fast path and stopword winner") {
    val df = Seq("the cat and the dog of it is", "der hund und die katze ist da", "你好世界")
      .toDF("t").withColumn("l", TextAnalysis.langId(col("t")))
    assert(df.collect().map(_.getString(1)).toSeq == Seq("en", "de", "zh"))
  }

  test("Packing: bins fill to budget within shards, contiguous in id order") {
    import graft.ops.Packing
    val docs = (1 to 500).map(i => (i.toLong, 50L + (i % 7) * 30L)).toDF("id", "tok")
    val packed = Packing.packByTokenBudget(docs, col("id"), col("tok"), budget = 1000L, shards = 4)
      .collect().map(r => (r.getAs[Long]("shard"), r.getAs[Long]("id"),
        r.getAs[Long]("tok"), r.getAs[Long]("bin")))
    packed.groupBy(_._1).foreach { case (_, rows) =>
      val byId = rows.sortBy(_._2)
      // bins are non-decreasing along id order (contiguous packs)
      assert(byId.map(_._4).sliding(2).forall(p => p.length < 2 || p(0) <= p(1)))
      // every bin except the shard's last fills to budget minus at most one
      // doc's worth of prior-bin overflow (docs here are <= 230 tokens)
      val binTotals = byId.groupBy(_._4).toSeq.sortBy(_._1).map { case (b, rs) => (b, rs.map(_._3).sum) }
      binTotals.dropRight(1).foreach { case (b, total) =>
        assert(total > 1000L - 230L, s"bin $b underfilled: $total")
      }
    }
    // identical assignment under a different input partitioning
    val again = Packing.packByTokenBudget(docs.repartition(13), col("id"), col("tok"), 1000L, 4)
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[Long]("shard"), r.getAs[Long]("bin"))).toSet
    assert(again == packed.map(r => (r._2, r._1, r._4)).toSet)
  }

  test("Sampling: partition-invariant stratified selection; exact-n sample") {
    import graft.ops.Sampling
    val df = (1 to 2000).map(i => (i.toLong, if (i % 3 == 0) "a" else "b")).toDF("id", "cls")
    val picked = Sampling.stratifiedByHash(df, col("cls"), col("id"), Map("a" -> 0.5, "b" -> 0.1))
    val keys = picked.select("id").collect().map(_.getLong(0)).toSet
    // identical selection under a different partitioning (map-side determinism)
    val keys7 = Sampling.stratifiedByHash(df.repartition(7), col("cls"), col("id"),
      Map("a" -> 0.5, "b" -> 0.1)).select("id").collect().map(_.getLong(0)).toSet
    assert(keys == keys7 && keys.nonEmpty)
    // per-stratum rates land near the requested fractions
    val byCls = picked.groupBy("cls").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(math.abs(byCls("a") / 666.0 - 0.5) < 0.1 && math.abs(byCls("b") / 1334.0 - 0.1) < 0.05)
    assert(Sampling.nByHash(df, col("id"), 25).count() == 25)
    intercept[IllegalArgumentException] {
      Sampling.stratifiedByHash(df, col("cls"), col("id"), Map("a" -> 1.5))
    }
  }

  test("RankStats: average ranks with ties; spearman on monotone transform = 1") {
    import graft.ops.RankStats
    // values 10,20,20,30 → fractional ranks 1, 2.5, 2.5, 4 (pandas average)
    val df = Seq((1, 10.0), (2, 20.0), (3, 20.0), (4, 30.0)).toDF("id", "v")
    val ranked = RankStats.withAverageRank(df, "v", "r")
      .orderBy("id").collect().map(_.getAs[Double]("r")).toSeq
    assert(ranked == Seq(1.0, 2.5, 2.5, 4.0))
    // spearman is invariant under monotone transforms: rho(x, exp(x)) = 1
    val mono = (1 to 50).map(i => (i.toDouble, math.exp(i / 10.0))).toDF("a", "b")
    assert(math.abs(RankStats.spearman(mono, "a", "b") - 1.0) < 1e-12)
    // and detects perfect inverse ordering
    val inv = (1 to 50).map(i => (i.toDouble, -i.toDouble)).toDF("a", "b")
    assert(math.abs(RankStats.spearman(inv, "a", "b") + 1.0) < 1e-12)
    // pairwise-complete: nulls dropped before ranking
    val withNull = Seq((Some(1.0), Some(2.0)), (None, Some(9.0)), (Some(2.0), Some(4.0)),
      (Some(3.0), None), (Some(4.0), Some(5.0))).toDF("a", "b")
    assert(math.abs(RankStats.spearman(withNull, "a", "b") - 1.0) < 1e-12)
  }

  test("RankStats.kendall: tau-b matches hand-computed pair counts") {
    import graft.ops.RankStats
    // x=1..5, y=(1,2,3,5,4): one discordant pair, no ties -> (9-1)/10 = 0.8
    val noTies = Seq((1.0, 1.0), (2.0, 2.0), (3.0, 3.0), (4.0, 5.0), (5.0, 4.0)).toDF("a", "b")
    assert(math.abs(RankStats.kendall(noTies, "a", "b") - 0.8) < 1e-12)
    // ties: x=(1,1,2,3), y=(1,2,2,3): C=4, D=0, n0=6, n1=1, n2=1 -> 4/5
    val ties = Seq((1.0, 1.0), (1.0, 2.0), (2.0, 2.0), (3.0, 3.0)).toDF("a", "b")
    assert(math.abs(RankStats.kendall(ties, "a", "b") - 0.8) < 1e-12)
    // perfect inverse -> -1; constant column -> denom 0 -> NaN
    val inv = (1 to 20).map(i => (i.toDouble, -i.toDouble)).toDF("a", "b")
    assert(math.abs(RankStats.kendall(inv, "a", "b") + 1.0) < 1e-12)
    val const = Seq((1.0, 7.0), (2.0, 7.0), (3.0, 7.0)).toDF("a", "b")
    assert(RankStats.kendall(const, "a", "b").isNaN)
    // sampled path: a strict monotone relation keeps tau = 1 on any subset,
    // and the hash sample actually shrinks the input
    val big = (1 to 2000).map(i => (i.toLong, i.toDouble, i * 2.0)).toDF("id", "a", "b")
    assert(math.abs(RankStats.kendallSampled(big, "a", "b", "id", maxRows = 200) - 1.0) < 1e-12)
  }

  test("RankStats.hashSample: ppb granularity holds the cap when n >> 100*maxRows") {
    import graft.ops.RankStats
    // n = 400 * maxRows: the old integer-percent threshold floored at 1% and
    // would keep ~200 rows (4x the cap); ppb granularity keeps ~maxRows
    val n = 20000
    val df = spark.range(n).selectExpr("cast(id as string) as k")
    val kept = RankStats.hashSample(df, "k", maxRows = 50L).count()
    assert(kept >= 25 && kept <= 100,
      s"expected ~50 +- binomial noise, got $kept (percent-floor bug would give ~200)")
    // under the cap the frame passes through untouched
    assert(RankStats.hashSample(df.limit(40), "k", maxRows = 50L).count() == 40L)
  }

  test("WindowStats.ewmMean matches pandas ewm recursion (both adjust modes)") {
    import graft.ops.WindowStats
    val df = Seq((1, 1, 1.0), (1, 2, 2.0), (1, 3, 3.0), (1, 4, 4.0),
      (2, 1, 10.0)).toDF("k", "t", "x")
    // pandas ewm(alpha=0.5, adjust=False): y = [1, 1.5, 2.25, 3.125]
    val raw = WindowStats.ewmMean(df, Seq("k"), "t", "x", alpha = 0.5, adjust = false)
      .orderBy("k", "t").collect().map(_.getAs[Double]("ewm")).toSeq
    assert(raw.take(4).zip(Seq(1.0, 1.5, 2.25, 3.125)).forall { case (a, e) => math.abs(a - e) < 1e-12 })
    assert(raw(4) == 10.0, "single-row group is its own ewm")
    // pandas ewm(alpha=0.5, adjust=True): y_t = sum(b^i x_{t-i}) / sum(b^i)
    val adj = WindowStats.ewmMean(df, Seq("k"), "t", "x", alpha = 0.5, adjust = true)
      .orderBy("k", "t").collect().map(_.getAs[Double]("ewm")).toSeq
    val expected = Seq(1.0, 2.5 / 1.5, 4.25 / 1.75, 6.125 / 1.875)
    assert(adj.take(4).zip(expected).forall { case (a, e) => math.abs(a - e) < 1e-12 })
  }

  test("Bloom: membership has no false negatives; prefiltered decontamination == exact") {
    val bench = (1L to 300L).map(i => (i, s"benchmark snippet number $i with shared tokens")).toDF("id", "t")
    val hashes = bench.select(TextAnalysis.hash60(col("t")).as("h"))
    val bits = graft.ops.Bloom.build(hashes, "h", bits = 1L << 12, k = 4)
    // every inserted hash must probe positive (no false negatives, ever)
    val misses = hashes.filter(!graft.ops.Bloom.mightContain(col("h"), bits, 4)).count()
    assert(misses == 0L, "bloom false negative")
    // a disjoint value set mostly probes negative (the filter actually filters)
    val others = (1L to 1000L).map(i => s"unrelated probe value $i").toDF("t")
      .select(TextAnalysis.hash60(col("t")).as("h"))
    val fp = others.filter(graft.ops.Bloom.mightContain(col("h"), bits, 4)).count()
    assert(fp < 100L, s"false-positive rate implausibly high: $fp/1000")

    // end-to-end: bloom-prefiltered contamination == exact broadcast-set path
    val docs = (1L to 80L).map { i =>
      val extra = if (i % 4 == 0) "shared leak phrase alpha beta gamma delta epsilon" else s"clean body $i"
      (i, s"document $i $extra")
    }.toDF("doc_id", "text")
    val benchDocs = Seq((900L, "the shared leak phrase alpha beta gamma delta epsilon tail")).toDF("doc_id", "text")
    val exact = TextAnalysis.contaminatedIds(docs, col("text"), col("doc_id"), benchDocs, col("text"), k = 5)
      .collect().map(_.getLong(0)).toSet
    val viaBloom = TextAnalysis.contaminatedIdsBloom(docs, col("text"), col("doc_id"), benchDocs, col("text"), k = 5,
      bloomBits = 1L << 12, bloomK = 4)
      .collect().map(_.getLong(0)).toSet
    assert(viaBloom == exact, s"bloom path diverged: ${viaBloom.diff(exact)} / ${exact.diff(viaBloom)}")
    assert(exact.nonEmpty, "fixture must actually contaminate")
  }

  test("dHash: stable under rescale/brightness, far for unrelated images; fallback = hash60") {
    def png(img: java.awt.image.BufferedImage): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", out)
      out.toByteArray
    }
    def gradient(w: Int, h: Int, brightness: Int): java.awt.image.BufferedImage = {
      val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (x <- 0 until w; y <- 0 until h) {
        val v = math.min(255, x * 255 / w + brightness) // clamp, don't wrap
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
      }
      img
    }
    def checker(w: Int, h: Int): java.awt.image.BufferedImage = {
      val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (x <- 0 until w; y <- 0 until h)
        img.setRGB(x, y, if (((x / 4) + (y / 4)) % 2 == 0) 0xFFFFFF else 0x000000)
      img
    }
    val base = gradient(64, 48, 0)
    val rescaled = { // same scene at a different resolution
      val d = new java.awt.image.BufferedImage(32, 24, java.awt.image.BufferedImage.TYPE_INT_RGB)
      val g = d.createGraphics(); g.drawImage(base, 0, 0, 32, 24, null); g.dispose(); d
    }
    val assets = Seq(
      ("base", png(base)), ("rescaled", png(rescaled)),
      ("bright", png(gradient(64, 48, 16))), ("checker", png(checker(64, 48))),
      ("txt", "not an image at all".getBytes("UTF-8"))
    ).toDF("id", "payload")
      .select(Multimodal.assetStruct(col("id"), col("payload"), map()).as("asset"))
    val m = Multimodal.imageHashes(assets, "asset").collect().map(h => h.path -> h).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(m("base").real && m("rescaled").real && !m("txt").real)
    assert(ham(m("base").dhash, m("rescaled").dhash) <= 6,
      s"rescale moved dhash ${ham(m("base").dhash, m("rescaled").dhash)} bits")
    assert(ham(m("base").dhash, m("bright").dhash) <= 6, "brightness shift must be near")
    assert(ham(m("base").dhash, m("checker").dhash) >= 16, "unrelated image must be far")
    // fallback kernel == the relational hash60 of the same bytes
    val expected = Seq("not an image at all").toDF("t")
      .select(TextAnalysis.hash60(col("t"))).head().getLong(0)
    assert(m("txt").dhash == expected, "md5 fallback must equal hash60")
  }

  test("nearDupImagePairs: band join finds exactly the <= maxHamming pairs") {
    val rnd = new scala.util.Random(7)
    val bases = (1L to 40L).map(i => i -> rnd.nextLong())
    // derive near copies (flip 2 bits) and far entries
    val rows = bases.flatMap { case (i, h) =>
      Seq((i * 10, h), (i * 10 + 1, h ^ (1L << (i % 60)) ^ (1L << ((i + 17) % 60))))
    }
    val df = rows.toDF("id", "h")
    val got = Multimodal.nearDupImagePairs(df, "id", "h", maxHamming = 3, bands = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // brute-force expectation
    val expect = (for {
      (a, ha) <- rows; (b, hb) <- rows
      if a < b && java.lang.Long.bitCount(ha ^ hb) <= 3
    } yield (a, b)).toSet
    assert(got == expect, s"missing=${expect.diff(got)} extra=${got.diff(expect)}")
    assert(expect.size >= 40, "fixture must contain the planted near pairs")
  }

  test("semanticDedup drops only same-cell near-identical higher-id rows") {
    // two well-separated centroids; four base vectors + one exact copy and
    // one opposite-sign vector (cos = -1, same cell) that must survive
    val c0 = Seq(10.0, 0.0, 0.0); val c1 = Seq(0.0, 10.0, 0.0)
    val rows = Seq(
      (1L, Seq(9.0, 0.1, 0.0)),   // cell 0
      (2L, Seq(9.0, 0.1, 0.0)),   // exact copy of 1 -> dropped
      (3L, Seq(-9.0, -0.1, 0.0)), // cell ? opposite direction: far from both, lands somewhere, cos(1,3) = -1 -> kept
      (4L, Seq(0.2, 8.0, 0.0)),   // cell 1
      (5L, Seq(0.2, 8.0, 0.0)))   // exact copy of 4 -> dropped
      .toDF("id", "vec")
    val kept = graft.ops.Similarity.semanticDedup(rows, "id", "vec", Seq(c0, c1), eps = 0.999)
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 3L, 4L), s"got $kept")
  }

  test("FuzzyJoin: deletion blocking == brute-force levenshtein at k=1 and k=2") {
    val rnd = new scala.util.Random(11)
    def mutate(s: String, edits: Int): String = {
      var cur = s
      (1 to edits).foreach { _ =>
        val i = rnd.nextInt(math.max(1, cur.length))
        cur = rnd.nextInt(3) match {
          case 0 if cur.nonEmpty => cur.take(i) + cur.drop(i + 1)              // delete
          case 1 => cur.take(i) + ('a' + rnd.nextInt(26)).toChar + cur.drop(i) // insert
          case _ if cur.nonEmpty =>
            cur.take(i) + ('a' + rnd.nextInt(26)).toChar + cur.drop(i + 1)     // substitute
          case _ => cur + "x"
        }
      }
      cur
    }
    val base = (1 to 30).map(i => s"token$i${('a' + i % 26).toChar}valu")
    val rows = base.zipWithIndex.flatMap { case (s0, i) =>
      Seq((i * 10L, s0), (i * 10L + 1, mutate(s0, 1 + rnd.nextInt(2))))
    }
    val df = rows.toDF("id", "s")
    def levenshteinRef(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) => if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    for (k <- Seq(1, 2)) {
      val got = graft.ops.FuzzyJoin.selfByEditDistance(df, "id", "s", k)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val expect = (for {
        (a, sa) <- rows; (b, sb) <- rows
        if a < b; d = levenshteinRef(sa, sb) if d <= k
      } yield (a, b, d.toLong)).toSet
      assert(got == expect, s"k=$k missing=${expect.diff(got)} extra=${got.diff(expect)}")
      assert(expect.nonEmpty, s"k=$k fixture must contain pairs")
    }
  }

  test("dedupLinesGlobal: keep-first across docs, in-doc order preserved, all-dup doc -> ''") {
    val docs = Seq(
      (1L, "alpha\nshared\nbeta"),
      (2L, "shared\ngamma\nalpha"), // 'shared' and 'alpha' already seen in doc 1
      (3L, "shared\nalpha")).toDF("doc_id", "page") // everything seen -> ''
    val out = graft.ops.TextAnalysis
      .dedupLinesGlobal(docs, col("page"), col("doc_id"), out = "clean")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "alpha\nshared\nbeta")
    assert(out(2L) == "gamma")
    assert(out(3L) == "")
    // within-doc duplicate: first position wins
    val one = Seq((9L, "x\ny\nx")).toDF("doc_id", "page")
    val o1 = graft.ops.TextAnalysis
      .dedupLinesGlobal(one, col("page"), col("doc_id"), out = "clean")
      .collect().head.getString(1)
    assert(o1 == "x\ny")
  }

  test("AggState: merge == direct build; stats match; null-heavy keys") {
    val df = Seq(
      ("a", Some(1.0)), ("a", Some(3.0)), ("a", None),
      ("b", Some(5.0)), ("c", None)).toDF("k", "v")
    val full = graft.ops.AggState.build(df, Seq("k"), col("v"))
    val merged = graft.ops.AggState.merge(
      graft.ops.AggState.build(df.filter(col("v").isNull || col("v") <= 2), Seq("k"), col("v")),
      graft.ops.AggState.build(df.filter(col("v").isNotNull && col("v") > 2), Seq("k"), col("v")),
      Seq("k"))
    val f = full.collect().map(r => r.getString(0) -> r.toSeq.tail).toMap
    val m = merged.collect().map(r => r.getString(0) -> r.toSeq.tail).toMap
    assert(f.keySet == m.keySet)
    f.keys.foreach(k => assert(f(k) == m(k), s"state mismatch at $k: ${f(k)} vs ${m(k)}"))
    val stats = graft.ops.AggState.withStats(merged)
      .collect().map(r => r.getString(0) -> (r.getAs[Double]("mean"), r.getAs[Double]("std"))).toMap
    assert(stats("a")._1 == 2.0 && math.abs(stats("a")._2 - math.sqrt(2.0)) < 1e-12)
    assert(stats("b")._2.isNaN, "single observation -> NaN std")
    assert(stats("c")._1.isNaN, "all-null key -> NaN mean")
  }

  test("linearScore: zero weights -> sigmoid(bias); sentences() segments and trims") {
    val df = Seq((1L, "alpha beta gamma")).toDF("id", "t")
    val half = df.select(graft.ops.TextAnalysis.linearScore(col("t"), Seq.fill(4)(0.0), bias = 0.0))
      .head().getDouble(0)
    assert(math.abs(half - 0.5) < 1e-12, "zero model must score 0.5")
    // hand check: dim=1 puts every token in bucket 0 -> z = bias + 1.0 * w0
    val one = df.select(graft.ops.TextAnalysis.linearScore(col("t"), Seq(2.0), bias = -1.0))
      .head().getDouble(0)
    assert(math.abs(one - 1.0 / (1.0 + math.exp(-1.0))) < 1e-12)
    val sents = Seq(("First one. Second!  Third thing? ", "x"))
      .toDF("t", "d")
      .select(graft.ops.TextAnalysis.sentences(col("t")))
      .head().getSeq[String](0)
    assert(sents == Seq("First one", "Second", "Third thing"), s"got $sents")
  }

  test("rollingQuantile: exact median with min_periods=n nulls; interpolated p25") {
    import org.apache.spark.sql.expressions.Window
    val df = Seq((1, 1, 10.0), (1, 2, 20.0), (1, 3, 90.0), (1, 4, 40.0))
      .toDF("k", "i", "x")
    val w = Window.partitionBy(col("k")).orderBy(col("i"))
    val out = df
      .select(col("i"),
        graft.ops.WindowStats.rollingMedian(col("x"), 3, w).as("med"),
        graft.ops.WindowStats.rollingQuantile(col("x"), 0.25, 3, w).as("p25"))
      .orderBy(col("i")).collect()
    assert(out(0).isNullAt(1) && out(1).isNullAt(1), "frame not full -> null")
    assert(out(2).getDouble(1) == 20.0, "median of 10,20,90")
    assert(out(3).getDouble(1) == 40.0, "median of 20,90,40")
    // type-7 p25 of {20,40,90}: pos=0.5 between 20 and 40 -> 30
    assert(out(3).getDouble(2) == 30.0, s"p25 interpolation, got ${out(3).getDouble(2)}")
  }

  test("dedupByCandidatesCanonical keeps highest score (tie -> min id); non-graph rows survive") {
    val df = Seq((1L, 5.0), (2L, 9.0), (3L, 9.0), (4L, 1.0), (9L, 0.0))
      .toDF("id", "score")
    // component {1,2,3}: max score 9.0 tie between 2 and 3 -> keep 2; {4} alone via no edge; 9 never in graph
    val cand = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val kept = graft.ops.Components
      .dedupByCandidatesCanonical(df, "id", col("score"), cand)
      .select("id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(2L, 4L, 9L), s"got ${kept.toSeq}")
  }

  test("dedupByCandidatesCanonical: string ids tie-break to lexicographic min (no numeric cast)") {
    // pageRank-style ids ('c123'/'s45') are non-numeric: a (−id) tie key
    // would cast to double -> null and pick an arbitrary survivor
    val df = Seq(("c1", 5.0), ("c2", 9.0), ("c10", 9.0), ("s7", 2.0))
      .toDF("id", "score")
    val cand = Seq(("c1", "c2"), ("c2", "c10")).toDF("id_a", "id_b")
    val kept = graft.ops.Components
      .dedupByCandidatesCanonical(df, "id", col("score"), cand)
      .select("id").as[String].collect().sorted.toSeq
    // max score 9.0 tie between c2 and c10 -> lexicographic min "c10"; s7 untouched
    assert(kept == Seq("c10", "s7"), s"got $kept")
  }

  test("dedupByCandidatesCanonical: null scores lose; all-null component keeps min id") {
    // regression: struct ordering sorts null fields FIRST, so min_by over
    // struct(-score, id) picked a NULL-score member as the "best-quality"
    // survivor of its component; the null-last flag reverses that
    val df = Seq((1L, Some(0.1)), (2L, None: Option[Double]), (3L, Some(0.9)),
        (10L, None: Option[Double]), (11L, None: Option[Double]))
      .toDF("id", "score")
    // component {1,2,3}: 2 has null score and must NOT win; best real score
    // is 3. component {10,11}: all null -> keep min id 10, never zero rows.
    val cand = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val kept = graft.ops.Components
      .dedupByCandidatesCanonical(df, "id", col("score"), cand)
      .select("id").as[Long].collect().sorted.toSeq
    assert(kept == Seq(3L, 10L), s"got $kept")
  }

  test("stripHtml: blocks die, tags strip, entities decode with &amp; last") {
    val html = "<html><style>p{}</style><body>A &amp;lt; B<script>if(1<2){}</script>" +
      "<p>x &gt; y &amp; z&nbsp;&#39;q&#39;</p></body></html>"
    val out = Seq(html).toDF("h")
      .select(TextAnalysis.stripHtml(col("h"))).head().getString(0)
    // &amp;lt; decodes to the literal text "&lt;" (amp decodes LAST)
    assert(out == "A &lt; B x > y & z 'q'", s"got [$out]")
  }

  test("bucketByLength: same-bucket fixed-size batches, exact log2 buckets") {
    val df = (1 to 40).map(i => (i.toLong, if (i <= 20) 5L else 300L))
      .toDF("id", "n_tok")
    val b = graft.ops.Packing.bucketByLength(df, col("id"), col("n_tok"),
      batchSize = 4, shards = 2)
    val rows = b.select("id", "n_tok", "bucket", "shard", "batch").collect()
    rows.foreach { r =>
      val expected = 63 - java.lang.Long.numberOfLeadingZeros(r.getLong(1))
      assert(r.getLong(2) == expected, s"bucket of ${r.getLong(1)}")
    }
    val sizes = rows.groupBy(r => (r.getLong(2), r.getLong(3), r.getLong(4)))
      .map(_._2.length)
    assert(sizes.forall(_ <= 4), "no batch exceeds batchSize")
    assert(sizes.exists(_ == 4), "full batches form")
  }

  test("Profile.summary: one-pass stats; HLL distinct near exact; arrays null min/max") {
    val df = Seq(
      (1L, Some("a"), Seq(1.0f)), (2L, None, Seq(2.0f)), (3L, Some("b"), Seq(3.0f)))
      .toDF("id", "s", "vec")
    val exact = graft.ops.Profile.summary(df, exact = true).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(exact("id").getLong(1) == 3 && exact("id").getLong(2) == 0)
    assert(exact("s").getLong(1) == 2 && exact("s").getLong(2) == 1)
    assert(exact("s").getLong(3) == 2, "distinct non-null strings")
    assert(exact("vec").isNullAt(4) && exact("vec").isNullAt(5), "array min/max null")
    assert(exact("id").getDouble(6) == 2.0, "mean of ids")
    val approx = graft.ops.Profile.summary(df).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(math.abs(approx("id").getLong(3) - 3L) <= 1, "HLL within error at tiny n")
  }

  test("containmentShingles: substring doc scores 1.0 into container, Jaccard under-scores") {
    val k = 3
    val short = "alpha beta gamma delta epsilon zeta"
    val long = short + " plus lots of extra trailing context words here now"
    val df = Seq((short, long)).toDF("a", "b")
      .select(
        array_distinct(TextAnalysis.shingles(col("a"), k)).as("sa"),
        array_distinct(TextAnalysis.shingles(col("b"), k)).as("sb"))
    val r = df.select(
      Dedup.containmentShingles(col("sa"), col("sb")),
      Dedup.jaccardShingles(col("sa"), col("sb"))).head()
    assert(r.getDouble(0) == 1.0, s"contained doc must score 1.0, got ${r.getDouble(0)}")
    assert(r.getDouble(1) < 0.5, s"Jaccard under-scores containment: ${r.getDouble(1)}")
  }

  test("dedupLinesWithinDoc keeps first occurrence of each line, order intact") {
    val doc = Seq("menu", "body one", "menu", "body two", "body one", "footer")
      .mkString("\n")
    val out = Seq(doc).toDF("t")
      .select(TextAnalysis.dedupLinesWithinDoc(col("t"))).head().getString(0)
    assert(out == "menu\nbody one\nbody two\nfooter", s"got [$out]")
  }

  test("funnel: ordered steps, strict ordering, window cutoff") {
    import java.sql.Timestamp
    def t(min: Int) = new Timestamp(1700000000000L + min * 60000L)
    val ev = Seq(
      (1L, t(0), "view"), (1L, t(5), "click"), (1L, t(9), "buy"),   // full conversion
      (2L, t(0), "view"), (2L, t(3), "click"),                      // stops at click
      (3L, t(0), "click"), (3L, t(5), "view"),                      // click BEFORE view -> no step 2
      (4L, t(0), "view"), (4L, t(500), "click")                     // click outside 1h window
    ).toDF("u", "ts", "y")
    val out = graft.ops.Behavior.funnel(ev, col("u"), col("ts"), col("y"),
        Seq("view", "click", "buy"), window = Some("1 hour"))
      .orderBy(col("step")).collect()
    assert(out.map(_.getLong(2)).toSeq == Seq(4L, 2L, 1L),
      s"got ${out.map(_.getLong(2)).toSeq}")
  }

  test("cohortRetention: first-week cohort counted in later weeks") {
    import java.sql.Timestamp
    def day(d: Int) = new Timestamp(1704067200000L + d * 86400000L) // 2024-01-01 Mon
    val ev = Seq(
      (1L, day(0)), (1L, day(7)), (1L, day(15)),   // weeks 0,1,2
      (2L, day(1)), (2L, day(16)),                 // weeks 0,2
      (3L, day(8))                                 // cohort week 1
    ).toDF("u", "ts")
    val out = graft.ops.Behavior.cohortRetention(ev, col("u"), col("ts"), "week", 7)
      .collect().map(r => (r.getTimestamp(0).toString.take(10), r.getLong(1), r.getLong(2))).toSet
    assert(out == Set(
      ("2024-01-01", 0L, 2L), ("2024-01-01", 1L, 1L), ("2024-01-01", 2L, 2L),
      ("2024-01-08", 0L, 1L)), s"got $out")
  }

  test("interleaveBySource: braid prefix carries sources in weight proportion; partition-invariant") {
    val rows = (1 to 300).map(i => (i.toLong, if (i <= 200) "heavy" else "light"))
    val df = rows.toDF("id", "src")
    val braided = graft.ops.Sampling.interleaveBySource(
        df, col("src"), col("id"), Map("heavy" -> 2.0), default = 1.0)
      .orderBy(col("braid_pos"), col("id"))
    val prefix = braided.limit(120).select("src").as[String].collect()
    val heavy = prefix.count(_ == "heavy")
    // weight 2 vs 1 -> heavy should hold ~2/3 of any prefix (80 of 120)
    assert(math.abs(heavy - 80) <= 2, s"heavy rows in prefix: $heavy")
    val again = graft.ops.Sampling.interleaveBySource(
        df.repartition(13), col("src"), col("id"), Map("heavy" -> 2.0), default = 1.0)
      .orderBy(col("braid_pos"), col("id"))
      .limit(120).select("src").as[String].collect()
    assert(again.toSeq == prefix.toSeq, "braid order must not depend on partitioning")
  }

  test("snapshotDiff: all four statuses on a hand-built pair of snapshots") {
    val before = Seq((1L, "same"), (2L, "old"), (3L, "gone")).toDF("id", "t")
    val after = Seq((1L, "same"), (2L, "new"), (4L, "fresh")).toDF("id", "t")
    val st = Dedup.snapshotDiff(before, after, col("id"), col("t"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(st == Map(1L -> "unchanged", 2L -> "changed", 3L -> "removed", 4L -> "added"))
  }

  test("dupRateEstimate: HLL dup rate near exact without shuffling text") {
    val docs = ((1 to 80).map(i => s"unique doc $i") ++ Seq.fill(20)("the duplicate"))
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    val r = Dedup.dupRateEstimate(docs, col("text")).head()
    assert(r.getLong(0) == 100)
    // exact distinct = 81 -> dup rate 0.19; HLL error at n=81 is ~2%
    assert(math.abs(r.getLong(1) - 81L) <= 3, s"approx distinct ${r.getLong(1)}")
    assert(math.abs(r.getDouble(2) - 0.19) < 0.05, s"dup rate ${r.getDouble(2)}")
  }

  test("selectByTokenBudget: best-first fill, last kept doc may overflow, partition-invariant") {
    // scores 10..1, each doc 10 tokens, budget 35 -> keep scores 10,9,8,7
    // (exclusive cumsums 0,10,20,30 < 35; the 4th overflows to 40 total)
    val df = (1L to 10L).map(i => (i, (11 - i).toDouble, 10L)).toDF("id", "score", "n")
    val kept = graft.ops.Sampling
      .selectByTokenBudget(df, col("id"), col("score"), col("n"), budget = 35L)
      .select("id").as[Long].collect().sorted.toSeq
    assert(kept == Seq(1L, 2L, 3L, 4L), s"got $kept")
    val kept1 = graft.ops.Sampling
      .selectByTokenBudget(df.repartition(7), col("id"), col("score"), col("n"), budget = 35L)
      .select("id").as[Long].collect().sorted.toSeq
    assert(kept1 == kept, "selection must not depend on input partitioning")
  }

  test("normalizeText folds quotes/dashes/NBSP, strips zero-widths, expands ellipsis") {
    val messy = "“Hi” – it’s fine… a​b c"
    val out = Seq(messy).toDF("t")
      .select(TextAnalysis.normalizeText(col("t"))).head().getString(0)
    assert(out == "\"Hi\" - it's fine... ab c", s"got [$out]")
  }

  test("bigramNll: hand-checked add-1 smoothing on a two-doc corpus") {
    val df = Seq((1L, "a b a b"), (2L, "a b c")).toDF("id", "t")
    // grams: d1 = [a b, b a, a b], d2 = [a b, b c]; V = 3
    // bigram counts: c(a b)=3, c(b a)=1, c(b c)=1
    // context counts (grams starting with w): c(a)=3, c(b)=2
    val cAB = 3.0; val cBA = 1.0; val cBC = 1.0; val ctxA = 3.0; val ctxB = 2.0; val v = 3.0
    def p(cbg: Double, cctx: Double) = (cbg + 1.0) / (cctx + v)
    val nll1 = -(math.log(p(cAB, ctxA)) * 2 + math.log(p(cBA, ctxB))) / 3
    val nll2 = -(math.log(p(cAB, ctxA)) + math.log(p(cBC, ctxB))) / 2
    val out = TextAnalysis.bigramNll(df, col("t"), col("id"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(out(1L) - nll1) < 1e-12, s"doc1: ${out(1L)} vs $nll1")
    assert(math.abs(out(2L) - nll2) < 1e-12, s"doc2: ${out(2L)} vs $nll2")
  }

  test("Bm25.score: rarer term outranks common term; absent term scores 0") {
    val docs = Seq(
      (1L, "spark spark spark common"), (2L, "rare common"),
      (3L, "common common"), (4L, "common filler words here"))
      .toDF("id", "text")
    val out = graft.ops.Bm25.score(docs, col("text"), Seq("spark", "rare"), "score")
      .select("id", "score").collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(out(3) == 0.0 && out(4) == 0.0, "docs without query terms score 0")
    assert(out(1) > 0 && out(2) > 0)
    // 'rare' (df=1) in doc2 must outscore one 'spark' occurrence would in the
    // same doc — idf is monotone decreasing in df; doc2 has dl=2 like doc3
    val idf1 = math.log(1 + (4 - 1 + 0.5) / (1 + 0.5))
    assert(out(2) > idf1 * 0.5, "sanity: rare-term score in the idf ballpark")
  }

  test("scriptProfile: dominant follows the planted script mass") {
    val df = Seq(
      (1L, "hello world"), (2L, "привет мир да"), (3L, "你好世界呀 hi"))
      .toDF("id", "t")
    val rows = df.select(col("id"),
        TextAnalysis.scriptProfile(col("t")).as("sp"))
      .select(col("id"), col("sp.dominant"), col("sp.latin"), col("sp.cjk"))
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(rows(1).getString(1) == "latin" && rows(1).getDouble(2) == 1.0)
    assert(rows(2).getString(1) == "cyrillic")
    assert(rows(3).getString(1) == "cjk", s"got ${rows(3)}")
    assert(rows(3).getDouble(3) > 0.5, "CJK mass dominates doc 3")
  }

  test("adaptiveJoin == plain join on 90%-hot-key data; both paths populated") {
    val left = ((1 to 900).map(i => (1L, i.toLong)) ++
      (1 to 100).map(i => ((i % 10 + 2).toLong, i.toLong))).toDF("k", "v")
    val right = (1L to 12L).map(k => (k, s"name_$k")).toDF("k", "nm")
    val adaptive = graft.ops.Scale.adaptiveJoin(left, right, Seq("k"),
      salts = 4, hotThreshold = 100)
      .select("k", "v", "nm").collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sorted
    val plain = left.join(right, Seq("k"))
      .select("k", "v", "nm").collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sorted
    assert(adaptive.toSeq == plain.toSeq, "adaptive join must equal plain join")
    assert(adaptive.count(_._1 == 1L) == 900, "hot key intact through salting")
  }

  test("keyProfile: hottest keys first with exact shares") {
    val df = (Seq.fill(6)("a") ++ Seq.fill(3)("b") ++ Seq("c")).toDF("k")
    val rows = graft.ops.Scale.keyProfile(df, "k", 2).collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("a", "b"))
    assert(rows(0).getLong(1) == 6L && rows(0).getDouble(2) == 0.6)
    assert(rows(1).getLong(1) == 3L && rows(1).getDouble(2) == 0.3)
  }

  test("removeDuplicateSpans: full copies empty, shared boilerplate stripped, unique prose survives") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta SUBSCRIBE NOW AND SAVE MONEY TODAY"),
      (2L, "one two three four five six seven eight SUBSCRIBE NOW AND SAVE MONEY TODAY"),
      (3L, "alpha beta gamma delta epsilon zeta eta theta SUBSCRIBE NOW AND SAVE MONEY TODAY"), // copy of 1
      (4L, "totally unique words nowhere else repeated anywhere certainly"),
      (5L, "tiny doc"), (6L, "tiny doc") // < k tokens: whole-doc gram dedups
    ).toDF("doc_id", "text")
    val out = TextAnalysis.removeDuplicateSpans(docs, col("doc_id"), col("text"), k = 5)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    // docs 1 and 3 are verbatim copies — every gram duplicated, both emptied
    assert(out(1L) == ((14L, 0L, "")) && out(3L) == ((14L, 0L, "")))
    // doc 2: its own prose unique, but the 7-token boilerplate tail recurs in
    // docs 1/3 → the grams fully inside it are duplicated; tokens covered by
    // them vanish, the unique head stays
    assert(out(2L)._3 == "one two three four five six seven eight")
    assert(out(2L)._1 == 14L && out(2L)._2 == 8L)
    // doc 4: nothing duplicated anywhere — canonical token stream intact
    assert(out(4L)._3 == "totally unique words nowhere else repeated anywhere certainly")
    // short exact copies (< k tokens form one whole-doc gram) still dedup
    assert(out(5L) == ((2L, 0L, "")) && out(6L) == ((2L, 0L, "")))
    // null and empty text keep the never-a-dropped-row contract: the row
    // survives with n_kept = 0 and "" (not a null clean_text) — pins the
    // coalesced size guard on the map-side rebuild
    val edge = Seq((1L, null.asInstanceOf[String]), (2L, ""), (3L, "x y z w v u"))
      .toDF("doc_id", "text")
    val eo = TextAnalysis.removeDuplicateSpans(edge, col("doc_id"), col("text"), k = 5)
      .collect().map(r => r.getLong(0) -> ((r.getLong(2), r.getString(3)))).toMap
    assert(eo(1L) == ((0L, "")) && eo(2L) == ((0L, "")),
      s"null/empty text must yield (0, empty string): $eo")
    assert(eo(3L) == ((6L, "x y z w v u")))
  }

  test("removeDuplicateSpans: within-doc gram repetition is removed too") {
    val docs = Seq((1L, "spam spam spam spam spam spam spam spam ok unique tail here now")).toDF("doc_id", "text")
    val out = TextAnalysis.removeDuplicateSpans(docs, col("doc_id"), col("text"), k = 3)
      .collect().head
    // "spam spam spam" occurs 6 times within the doc — all spam tokens are
    // covered; the unique tail's grams occur once each and survive
    assert(out.getString(3) == "ok unique tail here now")
  }

  test("removeDuplicateSpans: lazy checkpoint — materialization costs the first action no extra job") {
    // r18 internals change (guide §5): the final localCheckpoint is LAZY, so
    // a caller's first full action (q208's kSel count) computes the chain
    // AND persists it inside its own jobs instead of paying a dedicated
    // materialization job first. Pin (a) the first action's job count equals
    // the job count of the same action over already-persisted blocks — no
    // separate materialization job, no completion job for missed
    // partitions — and (b) that the checkpoint really happened: a second
    // consumer reads the SAME persisted result.
    val sc = spark.sparkContext
    val docs = (1L to 40L).map(i => (i, s"body $i shared words here plus tail"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.removeDuplicateSpans(docs, col("doc_id"), col("text"), k = 3)
    // statusTracker is listener-fed: final once the bus is drained
    def jobs(group: String): Int = {
      org.apache.spark.sql.graftbridge.ListenerBridge.drain(sc)
      sc.statusTracker.getJobIdsForGroup(group).length
    }
    def countedJobs(tag: String): (Long, Int) = {
      val group = s"rds-lazy-ckpt-$tag-${System.nanoTime()}"
      sc.setJobGroup(group, "removeDuplicateSpans lazy-checkpoint probe")
      val n = out.filter(col("n_kept") >= 0).count()
      sc.clearJobGroup()
      (n, jobs(group))
    }
    // An identical count over the ALREADY-persisted blocks is the floor
    // (AQE alone decides how many jobs a count is); the FIRST action — the
    // one that computes the chain and finalizes the checkpoint — must not
    // exceed it: materialization rides inside it, no dedicated job, no
    // completion job for skipped partitions.
    val (n1, jobsFirst) = countedJobs("first")
    val (n2, jobsWarm) = countedJobs("warm")
    assert(n1 == 40L && n2 == n1)
    // both actions ran jobs: the drained status store saw them
    assert(jobsFirst >= 1 && jobsWarm >= 1, s"no job observed: $jobsFirst, $jobsWarm")
    assert(jobsFirst == jobsWarm,
      s"first action over the lazily-checkpointed result ran $jobsFirst jobs; " +
        s"the same action over persisted blocks ran $jobsWarm — materialization " +
        "must not cost an extra job")
  }

  test("dsirScores: target == raw gives exactly zero scores; target shifts ranking") {
    val docs = Seq(
      (1L, "the quick brown fox jumps"),
      (2L, "der schnelle braune fuchs springt"),
      (3L, "the lazy dog sleeps")).toDF("doc_id", "text")
    val zero = TextAnalysis.dsirScores(docs, col("doc_id"), col("text"),
        docs, col("text"), dim = 64)
      .collect().map(_.getDouble(1))
    assert(zero.forall(_ == 0.0), "identical target and raw models must cancel exactly")
    // English-only target: the German doc must score strictly lowest
    val en = TextAnalysis.dsirScores(docs, col("doc_id"), col("text"),
        docs.filter(col("doc_id") =!= 2L), col("text"), dim = 64)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(en(2L) < en(1L) && en(2L) < en(3L))
  }

  test("dsirScoresWithin == dsirScores on the same predicate-selected target") {
    // the within-corpus variant derives the target model from the staged
    // raw stream instead of re-tokenizing — the scores must be identical
    // to the two-frame spelling on the same slice
    val docs = Seq(
      (1L, "the quick brown fox jumps", "en"),
      (2L, "der schnelle braune fuchs springt", "de"),
      (3L, "the lazy dog sleeps", "en"),
      (4L, "", "en")).toDF("doc_id", "text", "lang")
    val general = TextAnalysis.dsirScores(docs, col("doc_id"), col("text"),
        docs.filter(col("lang") === "en"), col("text"), dim = 64)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val within = TextAnalysis.dsirScoresWithin(docs, col("doc_id"), col("text"),
        col("lang") === "en", dim = 64)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(within.keySet == general.keySet)
    for ((k, v) <- general)
      assert(math.abs(within(k) - v) < 1e-12, s"doc $k: ${within(k)} vs $v")
    // and it releases its staged caches like the general form
    val sc = spark.sparkContext
    spark.catalog.clearCache()
    sc.getPersistentRDDs.values.foreach(_.unpersist(true))
    val before = sc.getPersistentRDDs.keySet
    TextAnalysis.dsirScoresWithin(docs, col("doc_id"), col("text"),
      col("lang") === "en", dim = 64).count()
    val added = sc.getPersistentRDDs.keySet -- before
    assert(added.size <= 1,
      s"dsirScoresWithin leaked caches (${added.size} persisted RDDs)")
  }

  test("lshPlan: midpoint tracks the target threshold, bands divide the signature") {
    for (h <- Seq(8, 16, 32, 64, 128); t <- Seq(0.3, 0.5, 0.7, 0.9)) {
      val (b, r, mid) = Dedup.lshPlan(t, h)
      assert(b * r == h, s"bands must tile the signature: $b*$r != $h")
      assert(math.abs(mid - t) < 0.25, s"midpoint $mid too far from target $t at h=$h")
      // optimality: no other divisor gets closer
      (1 to h).filter(h % _ == 0).foreach { b2 =>
        val m2 = math.pow(1.0 / b2, 1.0 / (h / b2))
        assert(math.abs(mid - t) <= math.abs(m2 - t) + 1e-12)
      }
    }
    // high threshold -> few bands (strict); low threshold -> many (permissive)
    assert(Dedup.lshPlan(0.9, 32)._1 < Dedup.lshPlan(0.3, 32)._1)
  }

  test("conversionLag: pre-view purchases ignored, first-pair latency, non-converters dropped") {
    val rows = Seq(
      // user 1: purchase BEFORE first view (ignored), converts 60s after view
      (1L, "2024-01-01 00:00:00", "purchase", 1L),
      (1L, "2024-01-01 01:00:00", "view", 2L),
      (1L, "2024-01-01 01:01:00", "purchase", 3L),
      (1L, "2024-01-01 02:00:00", "purchase", 4L), // later purchase irrelevant
      // user 2: views but never purchases -> not counted
      (2L, "2024-01-01 00:00:00", "view", 5L))
      .toDF("user_id", "ts", "event_type", "event_id")
      .withColumn("ts", col("ts").cast("timestamp"))
    val r = graft.ops.Behavior.conversionLag(rows, col("user_id"), col("ts"),
      col("event_type"), "view", "purchase").head()
    assert(r.getLong(0) == 1L && r.getDouble(1) == 60.0 && r.getDouble(2) == 60.0, s"got $r")
  }

  test("fleschReadingEase: hand-computed sentence; empty text is null; kFold in range and stable") {
    val df = Seq((1L, "The cat sat. The dog ran!"), (2L, "???")).toDF("id", "t")
    val got = df.select(col("id"), TextAnalysis.fleschReadingEase(col("t")))
      .collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
    // words=6, vowel groups: e,a,a,e,o,a = 6, sentences=2:
    // 206.835 - 1.015*3 - 84.6*1 = 119.19
    assert(math.abs(got(1L).get.asInstanceOf[Double] - 119.19) < 1e-9)
    assert(got(2L).isEmpty, "no words -> null score")
    val folds = graft.ops.Sampling.kFold((1L to 1000L).toDF("id"), col("id"), 5)
      .groupBy("fold").count().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(folds.keySet.subsetOf((0L until 5L).toSet) && folds.values.sum == 1000L)
    assert(folds.values.forall(c => c > 120 && c < 280), s"folds badly unbalanced: $folds")
  }

  test("gumbelTopK: dominant log-weight always selected, n >= rows keeps all, seed-stable") {
    val df = (1L to 50L).map(i => (i, if (i == 7L) 1000.0 else 0.0)).toDF("id", "lw")
    val top = graft.ops.Sampling.gumbelTopK(df, col("id"), col("lw"), n = 1, seed = 3)
      .collect().map(_.getLong(0)).toSeq
    assert(top == Seq(7L), "a log-weight 1000 nats above the field must win any draw")
    assert(graft.ops.Sampling.gumbelTopK(df, col("id"), col("lw"), n = 100).count() == 50)
    val a = graft.ops.Sampling.gumbelTopK(df, col("id"), col("lw"), n = 10, seed = 9)
      .collect().map(_.getLong(0)).toSet
    val b = graft.ops.Sampling.gumbelTopK(df, col("id"), col("lw"), n = 10, seed = 9)
      .collect().map(_.getLong(0)).toSet
    assert(a == b, "same seed must select the same set")
  }

  test("rounding-boundary audit: q20/q97/q124 double-sum aggregates sit clear of the 4-decimal half boundary (q155 class)") {
    // These oracles round(4) values built from double sums whose partition
    // order is nondeterministic in Spark (and differs from DuckDB's fold
    // order). Reorder noise on 60k-row sums is <= ~1e-10 relative, so a
    // cross-engine hash flip needs the unrounded value within ~1e-8 of a
    // x.xxxx5 boundary; this audit asserts every such value at the gate's
    // own scale factor keeps a margin >= 1e-6 — two orders of magnitude of
    // head-room. (q134's expanding windows are frame-order sequential in
    // both engines — deterministic, not in this class. q155 itself now
    // accumulates decimals and is exact by construction.)
    val li = spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet")
    def margin(v: Double): Double = {
      val scaled = math.abs(v) * 1e4
      math.abs(scaled - math.floor(scaled) - 0.5)
    }
    val price = graft.sdf.SDF(li)("l_extendedprice")
    val qty = graft.sdf.SDF(li)("l_quantity")
    val growth = graft.sdf.SDF(li.filter(col("l_orderkey") < 10)
      .withColumn("g", lit(1.0) + col("l_discount")))("g")
    val scalars = Seq(
      "q20.kurt" -> price.kurt, "q20.skew" -> price.skew, "q20.mad" -> price.mad,
      "q20.prod_growth" -> growth.prod,
      "q124.geomean" -> qty.geomean, "q124.harmonic" -> qty.harmonicMean)
    val grouped = li.groupBy(col("l_returnflag"))
      .agg(
        graft.sdf.SCol.sampleSkew(col("l_extendedprice")).as("skew_g"),
        graft.sdf.SCol.sampleKurt(col("l_extendedprice")).as("kurt_g"),
        stddev_samp(col("l_extendedprice")).as("sd"))
      .collect().flatMap { r =>
        val g = r.getString(0)
        Seq(s"q97.skew[$g]" -> r.getDouble(1), s"q97.kurt[$g]" -> r.getDouble(2),
          s"q97.sd[$g]" -> r.getDouble(3))
      }
    (scalars ++ grouped).foreach { case (name, v) =>
      assert(margin(v) >= 1e-6,
        f"$name = $v%.10f sits ${margin(v)}%.2e from a 4-decimal rounding boundary — " +
          "move the planted query off the boundary or accumulate in decimal (see q155)")
    }
  }

  test("ewmMean: nulls carry the mean forward and decay weights (pandas ignore_na=False)") {
    import graft.ops.WindowStats
    import spark.implicits._
    // pandas: pd.Series([1, nan, 2]).ewm(alpha=.5, adjust=X).mean()
    //   adjust=True  -> [1.0, 1.0, 1.8]      (weights β²=0.25 on x0, 1 on x2)
    //   adjust=False -> [1.0, 1.0, 5/3]      ((0.25·1 + 0.5·2)/0.75)
    // regression: the old recursion nulled every output after the first null
    val df = Seq((1L, Option(1.0)), (2L, None: Option[Double]), (3L, Option(2.0)))
      .toDF("t", "x").withColumn("k", lit("g"))
    def vals(adjust: Boolean): Seq[Option[Double]] =
      WindowStats.ewmMean(df, Seq("k"), "t", "x", alpha = 0.5, adjust = adjust)
        .orderBy("t").collect()
        .map(r => if (r.isNullAt(r.fieldIndex("ewm"))) None
          else Some(r.getDouble(r.fieldIndex("ewm")))).toSeq
    val adjT = vals(adjust = true)
    assert(adjT.map(_.map(v => math.round(v * 1e9) / 1e9)) ==
      Seq(Some(1.0), Some(1.0), Some(1.8)), s"adjust=true: $adjT")
    val adjF = vals(adjust = false)
    assert(adjF.map(_.map(v => math.round(v * 1e9) / 1e9)) ==
      Seq(Some(1.0), Some(1.0), Some(1.666666667)), s"adjust=false: $adjF")
    // leading null: no valid observation yet -> null output, then normal
    val lead = Seq((1L, None: Option[Double]), (2L, Option(3.0)))
      .toDF("t", "x").withColumn("k", lit("g"))
    val got = WindowStats.ewmMean(lead, Seq("k"), "t", "x", alpha = 0.5)
      .orderBy("t").collect()
      .map(r => if (r.isNullAt(r.fieldIndex("ewm"))) None
        else Some(r.getDouble(r.fieldIndex("ewm")))).toSeq
    assert(got == Seq(None, Some(3.0)), s"leading null: $got")
  }

  test("ewmVar: a null gap decays the moments uniformly; value carries forward") {
    import graft.ops.WindowStats
    import spark.implicits._
    // pandas: pd.Series([1, nan, 2]).ewm(alpha=.5, adjust=X).var() ends at
    // 0.5 for BOTH adjust modes (hand-derived from the effective weights;
    // the gap position outputs the carried-forward debiased var = NaN here)
    val df = Seq((1L, Option(1.0)), (2L, None: Option[Double]), (3L, Option(2.0)))
      .toDF("t", "x").withColumn("k", lit("g"))
    Seq(true, false).foreach { adjust =>
      val got = WindowStats.ewmVar(df, Seq("k"), "t", "x", alpha = 0.5, adjust = adjust)
        .orderBy("t").collect()
        .map(r => if (r.isNullAt(r.fieldIndex("ewm_var"))) None
          else Some(r.getDouble(r.fieldIndex("ewm_var")))).toSeq
      assert(got.size == 3 && got(2).exists(v => math.abs(v - 0.5) < 1e-9),
        s"adjust=$adjust: $got")
      assert(got(0).forall(_.isNaN) && got(1).forall(_.isNaN),
        s"pre-second-observation var must be NaN: $got")
    }
  }

  test("rollingMeanByTime: closed='right' excludes the row exactly window earlier") {
    import graft.ops.WindowStats
    import spark.implicits._
    val w = 30L * 60 * 1000000 // 30 min in µs
    val df = Seq((0L * w / w, 0L, 1.0), (1L, w, 2.0), (2L, 2 * w, 3.0))
      .toDF("id", "t", "v").withColumn("k", lit("g"))
    def means(closed: String): Seq[Double] =
      WindowStats.rollingMeanByTime(df, Seq("k"), "t", "v", w, closed = closed)
        .orderBy("id").collect().map(r => r.getDouble(r.length - 1)).toSeq
    assert(means("both") == Seq(1.0, 1.5, 2.5), "SQL RANGE semantics: both inclusive")
    assert(means("right") == Seq(1.0, 2.0, 3.0), "pandas default: left endpoint open")
    intercept[IllegalArgumentException] {
      WindowStats.rollingMeanByTime(df, Seq("k"), "t", "v", w, closed = "left")
    }
  }

  test("nByHash: duplicate ids at the boundary select deterministically across partitionings") {
    import graft.ops.Sampling
    import spark.implicits._
    val df = Seq(1L, 1L, 2L, 3L, 4L, 5L).toDF("id")
    val picks = Seq(1, 7).map { p =>
      Sampling.nByHash(df.repartition(p), col("id"), 3)
        .collect().map(_.getLong(0)).sorted.toSeq
    }
    assert(picks(0) == picks(1),
      s"selection must not depend on partitioning: ${picks(0)} vs ${picks(1)}")
  }

  test("weightedNByHash fails LOUD on nonpositive or null weights") {
    import graft.ops.Sampling
    import spark.implicits._
    val bad = Seq((1L, 2.0), (2L, -1.0), (3L, 3.0)).toDF("id", "w")
    val err = intercept[Exception] {
      Sampling.weightedNByHash(bad, col("id"), col("w"), 2).collect()
    }
    assert(err.getMessage.contains("weights must be positive"), err.getMessage)
    val zero = Seq((1L, 2.0), (2L, 0.0)).toDF("id", "w")
    intercept[Exception] {
      Sampling.weightedNByHash(zero, col("id"), col("w"), 1).collect()
    }
    // valid weights still sample exactly n
    val ok = Seq((1L, 2.0), (2L, 1.0), (3L, 3.0)).toDF("id", "w")
    assert(Sampling.weightedNByHash(ok, col("id"), col("w"), 2).count() == 2L)
  }

  test("selectByTokenBudget: null-score rows rank LAST, never eat the budget first") {
    import graft.ops.Sampling
    import spark.implicits._
    // 5 scored docs + 5 unscored; budget covers exactly the 3 best scored
    val df = ((1 to 5).map(i => (i.toLong, Option(i.toDouble), 10L)) ++
      (6 to 10).map(i => (i.toLong, None: Option[Double], 10L)))
      .toDF("id", "score", "tok")
    val got = Sampling.selectByTokenBudget(df, col("id"), col("score"), col("tok"), 30L)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(got == Set(5L, 4L, 3L),
      s"expected the three highest-scored docs, got $got")
  }

  test("selectByTokenBudget: a -Infinity score still ranks ahead of a null score") {
    import graft.ops.Sampling
    import spark.implicits._
    // the null doc has the smaller id: a null -> +Inf stand-in key ties with
    // -(-Inf) and the id tie-break would hand it the budget
    val df = Seq((2L, Option(Double.NegativeInfinity), 10L), (1L, None: Option[Double], 10L))
      .toDF("id", "score", "tok")
    val got = Sampling.selectByTokenBudget(df, col("id"), col("score"), col("tok"), 10L)
      .select("id").collect().map(_.getLong(0)).toSeq
    assert(got == Seq(2L), s"the scored doc must take the one-doc budget, got $got")
  }

  test("selectByTokenBudget: null/negative token counts fail loud, not silent budget drift") {
    import graft.ops.Sampling
    import spark.implicits._
    // null count: the row's cumsum is null -> silently dropped without
    // consuming budget; negative count: deflates later cumsums -> overfill
    val withNull = Seq((1L, 2.0, Some(10L)), (2L, 1.0, None: Option[Long]))
      .toDF("id", "score", "tok")
    val e1 = intercept[Exception] {
      Sampling.selectByTokenBudget(withNull, col("id"), col("score"), col("tok"), 30L).collect()
    }
    assert(e1.getMessage.contains("token counts must be non-negative"), e1.getMessage)
    val withNeg = Seq((1L, 2.0, 10L), (2L, 1.0, -5L)).toDF("id", "score", "tok")
    val e2 = intercept[Exception] {
      Sampling.selectByTokenBudget(withNeg, col("id"), col("score"), col("tok"), 30L).collect()
    }
    assert(e2.getMessage.contains("token counts must be non-negative"), e2.getMessage)
  }

  test("exactPrepass with null-text docs links them like the non-prepass path (flag-invariant components)") {
    import graft.ops.Components
    import spark.implicits._
    val docs = Seq(
      (1L, Option("hello world hello again and again")),
      (2L, Option("hello world hello again and again")),
      (3L, None: Option[String]),
      (4L, None: Option[String]),
      (5L, None: Option[String])).toDF("id", "text")
    val comps = Seq(false, true).map { pp =>
      val pairs = Dedup.minhashCandidates(docs, col("text"), col("id"), exactPrepass = pp)
      Components.connectedComponents(pairs, "id_a", "id_b")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    }
    // regression: the null digest fell out of the member-chain equi-join, so
    // prepass=true left docs 4 and 5 unlinked while prepass=false paired them
    assert(comps(0) == comps(1),
      s"prepass flag changed dedup groups: ${comps(0)} vs ${comps(1)}")
    assert(comps(0)(4L) == comps(0)(5L) && comps(0)(3L) == comps(0)(4L),
      "null-text docs must form one duplicate group")
  }

  test("exactDedupIncremental drops null-text rows already digested in the state") {
    import spark.implicits._
    val old = Seq((1L, None: Option[String]), (2L, Option("seen text here")))
      .toDF("id", "text")
    val state = Dedup.contentDigests(old, col("text"))
    val batch = Seq(
      (10L, None: Option[String]), // digest in state via the null sentinel
      (11L, Option("seen text here")), // digest in state
      (12L, Option("brand new text"))).toDF("id", "text")
    val kept = Dedup.exactDedupIncremental(batch, col("text"), col("id"), state)
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(12L),
      s"null-text row must match the state's sentinel digest, kept: $kept")
  }

  test("connectedComponents: null edge endpoints fall through to the distributed path, no NPE") {
    import graft.ops.Components
    import spark.implicits._
    val edges = Seq(
      (Option(1L), Option(2L)),
      (Option(2L), Option(3L)),
      (None: Option[Long], Option(9L))).toDF("a", "b")
    // regression: the small-graph probe called r.getLong on the null cell
    val labels = Components.connectedComponents(edges, "a", "b")
      .collect()
    assert(labels.nonEmpty)
  }

  test("connectedComponents: fractional double ids converge exactly (no decimal-rounding blind spot)") {
    import graft.ops.Components
    import spark.implicits._
    // chain where every per-round label change is sub-integer: the old
    // NumericType probe cast to decimal(38,0), saw no sum change, and could
    // declare convergence with the chain under-merged
    val edges = Seq((1.2, 1.3), (1.3, 1.4), (1.4, 5.0)).toDF("a", "b")
    val labels = Components.connectedComponents(edges, "a", "b")
      .collect().map(r => (r.getDouble(0), r.getDouble(1))).toMap
    assert(labels.values.toSet == Set(1.2),
      s"all chain nodes must label to the min id 1.2: $labels")
  }

  test("scrubPii redacts emails, IPv4 addresses, and phone runs (Dolma/C4 set)") {
    val spark2 = spark
    import spark2.implicits._
    import org.apache.spark.sql.functions.col
    val rows = Seq(
      "mail bob.smith+x@sub.example.co.uk now",
      "server at 192.168.1.100 port 8080",
      "call +1 (555) 010-0042 today",
      "version 1.2.3 stays, 10.0.0.1.5 scrubs its first four octets",
      "clean text untouched")
      .toDF("t").select(graft.ops.TextAnalysis.scrubPii(col("t")).as("s"))
      .collect().map(_.getString(0)).toSeq
    assert(rows(0) == "mail [EMAIL] now")
    assert(rows(1) == "server at [IP] port 8080")
    assert(rows(2) == "call [PHONE] today")
    // documented pragmatic-bound behavior: a 3-octet version string is NOT
    // an IP; a 5-octet run scrubs its leading 4 (boundary at the 4th)
    assert(rows(3) == "version 1.2.3 stays, [IP].5 scrubs its first four octets")
    assert(rows(4) == "clean text untouched")
  }
}
