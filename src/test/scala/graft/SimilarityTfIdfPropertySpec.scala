package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.Similarity
import graft.core.{MLSchema, MLType}
import graft.functions.WordTokens
import graft.processor.{DataPipeline, PipelineConfig, TfIdfVectorization}

/** Randomized driver-reference differentials for the similarity primitives
  * and the TF-IDF vectorizer: brute-force cosine top-k against an exact
  * driver ranking, mean pooling against an element-wise average, JL random
  * projection against its linearity/determinism contract, and the fitted
  * vocabulary + staged sparse transform, called directly and through a
  * `DataPipeline` step, against the sklearn formulas (idf =
  * ln((1+n)/(1+df)) + 1, l2-normalized rows, alphabetical indices).
  */
class SimilarityTfIdfPropertySpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSession.spark
  import spark.implicits._

  import PropertyTestKit.sampled

  private val dim = 8
  private val vectors: Seq[(Long, Seq[Double])] = {
    import org.scalacheck.Gen
    val v = Gen.chooseNum(-5.0, 5.0)
    Seq.tabulate(40)(i => (i.toLong, Seq.fill(dim)(sampled(v))))
  }

  test("bruteForceTopK matches an exact driver cosine ranking") {
    val k = 4
    val queries = vectors.take(10).toDF("qid", "qvec")
    val corpus = vectors.toDF("cid", "cvec")
    val got = Similarity.bruteForceTopK(queries, corpus, "qid", "qvec", "cid", "cvec", k)
      .collect().map(r => (r.getAs[Long](0), r.getAs[Long](1),
        r.getAs[Double]("cos"), r.getAs[Long]("rank")))
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d / math.sqrt(a.map(x => x * x).sum) / math.sqrt(b.map(x => x * x).sum)
    }
    val byQ = got.groupBy(_._1)
    vectors.take(10).foreach { case (qid, qv) =>
      val want = vectors.filter(_._1 != qid)
        .map { case (cid, cv) => (cid, cos(qv, cv)) }
        .sortBy { case (cid, c) => (-c, cid) }.take(k)
      val rows = byQ(qid).sortBy(_._4)
      assert(rows.length == k)
      rows.zip(want).zipWithIndex.foreach { case (((_, gc, gcos, grank), (wc, wcos)), i) =>
        assert(grank == i + 1 && gc == wc,
          s"query $qid rank ${i + 1}: got $gc want $wc")
        assert(math.abs(gcos - math.rint(wcos * 10000) / 10000) < 1e-9,
          s"query $qid rank ${i + 1} cos: $gcos vs $wcos")
      }
    }
  }

  test("meanPool matches the element-wise driver average") {
    val grouped = vectors.map { case (id, v) => (s"g${id % 5}", v) }
    val got = Similarity.meanPool(grouped.toDF("g", "vec"), Seq("g"), col("vec"), "m")
      .collect().map(r => r.getString(0) -> r.getSeq[Double](1)).toMap
    grouped.groupBy(_._1).foreach { case (g, vs) =>
      val want = (0 until dim).map(i => vs.map(_._2(i)).sum / vs.size)
      got(g).zip(want).zipWithIndex.foreach { case ((a, b), i) =>
        assert(math.abs(a - b) < 1e-9, s"meanPool $g[$i]: $a vs $b")
      }
    }
  }

  test("randomProject is deterministic, linear, and fixed-dimension") {
    val outDim = 4
    val df = vectors.toDF("id", "vec")
    def proj(d: org.apache.spark.sql.DataFrame): Map[Long, Seq[Double]] =
      d.select(col("id"), Similarity.randomProject(col("vec"), dim, outDim).as("p"))
        .collect().map(r => r.getAs[Long](0) -> r.getSeq[Double](1)).toMap
    val a = proj(df)
    assert(a.values.forall(_.length == outDim))
    assert(a == proj(df.repartition(7)), "projection changed under repartition")
    // linearity: P(x) + P(y) == P(x + y) element-wise (it is a linear map)
    val (x, y) = (vectors(0)._2, vectors(1)._2)
    val summed = proj(Seq((99L, x.zip(y).map { case (p, q) => p + q })).toDF("id", "vec"))(99L)
    a(0L).zip(a(1L)).zip(summed).foreach { case ((px, py), ps) =>
      assert(math.abs(px + py - ps) < 1e-9, "projection must be linear")
    }
  }

  private val textVocab = Vector("alpha", "bravo", "charlie", "delta", "echo", "foxtrot")

  private val tfidfPipeline =
    """pipeline:
      |  - input: [text]
      |    transformer: TFIDFVectorization
      |    params: {output_sparse: true}
      |    output: "v"
      |""".stripMargin

  test("TfIdf fit + staged transform match the sklearn formulas") {
    import org.scalacheck.Gen
    val word = Gen.oneOf(textVocab)
    val docs = Seq.tabulate(20) { i =>
      (i.toLong, Seq.fill(sampled(Gen.chooseNum(3, 15)))(sampled(word)).mkString(" "))
    }
    val tk = docs.map { case (id, t) => id -> t.split(" ").toSeq }.toMap
    val n = docs.size
    val dfreq = tk.values.flatMap(_.distinct).groupBy(identity).view.mapValues(_.size).toMap
    val proc = new TfIdfVectorization(Map("output_sparse" -> true))
    proc.fit(docs.toDF("id", "text"), "text")
    // vocabulary: alphabetical indices, sklearn idf
    val fitted = proc.fittedVocabulary
    assert(fitted.map(_._1) == dfreq.keys.toSeq.sorted, "vocab terms/ordering")
    fitted.foreach { case (t, i, idf) =>
      val want = math.log((1.0 + n) / (1.0 + dfreq(t))) + 1.0
      assert(math.abs(idf - want) < 1e-12, s"idf($t)")
      assert(i == dfreq.keys.toSeq.sorted.indexOf(t), s"index($t)")
    }
    val idfMap = fitted.map { case (t, i, f) => t -> (i, f) }.toMap
    def entries(d: org.apache.spark.sql.DataFrame) =
      d.select(col("id"), col("v.size"), col("v.indices"), col("v.values"))
        .collect().map(r => r.getAs[Long](0) ->
          ((r.getAs[Int](1), r.getSeq[Int](2), r.getSeq[Double](3)))).toMap
    val direct = entries(proc.transformFrame(docs.toDF("id", "text"), "text", "v"))
    val piped = entries(new DataPipeline(PipelineConfig.fromYaml(tfidfPipeline))
      .fitTransform(docs.toDF("id", "text"), MLSchema(Map("text" -> MLType.Text))))
    for ((how, out) <- Seq("transformFrame" -> direct, "pipeline" -> piped); (id, _) <- docs) {
      val ws = tk(id)
      val present = ws.distinct.sorted
      val raw = present.map(t => ws.count(_ == t).toDouble * idfMap(t)._2)
      val nrm = math.sqrt(raw.map(x => x * x).sum)
      val (size, indices, values) = out(id)
      assert(size == fitted.size)
      assert(indices == present.map(t => idfMap(t)._1), s"$how doc $id indices")
      values.zip(raw.map(_ / nrm)).foreach { case (g, w) =>
        assert(math.abs(g - w) < 1e-9, s"$how doc $id value: $g vs $w")
      }
    }
  }

  test("a TF-IDF pipeline step tokenizes once per row: one WordTokens in the optimized plan") {
    // not a local Seq: the optimizer would fold a LocalRelation's whole
    // projection away and leave no expressions to count
    val docs = spark.range(4).select(col("id"),
      concat(lit("alpha bravo charlie "), col("id").cast("string")).as("text"))
    val plan = new DataPipeline(PipelineConfig.fromYaml(tfidfPipeline))
      .fitTransform(docs, MLSchema(Map("text" -> MLType.Text)))
      .queryExecution.optimizedPlan
    val exprs = plan.flatMap(_.expressions.flatMap(_.collect { case e => e }))
    assert(exprs.count(_.isInstanceOf[WordTokens]) == 1, plan.toString)
  }
}
