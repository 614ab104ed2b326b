package perfbench

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.core.ResultDigest

/** Checks that need a Spark session: generator determinism and the counting
  * of a corrupted output as a failed pass.
  */
class SessionSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = graft.core.GraftSession.local(2)

  override def afterAll(): Unit = spark.stop()

  test("the same seed gives the same corpus and table; another seed does not") {
    val spec = Gen.CorpusSpec(docs = 400)
    val (a, b, c) = (Gen.corpus(7L, spec), Gen.corpus(7L, spec), Gen.corpus(8L, spec))
    val da = ResultDigest.digest(Gen.corpusFrame(spark, a))
    assert(da.matches(ResultDigest.digest(Gen.corpusFrame(spark, b))))
    assert(!da.matches(ResultDigest.digest(Gen.corpusFrame(spark, c))))
    assert(a.nearDupPairs.sameElements(b.nearDupPairs))

    val fspec = Gen.FeedSpec(rows = 300)
    val fa = ResultDigest.digest(Gen.feedFrame(spark, Gen.feed(3L, fspec)))
    assert(fa.matches(ResultDigest.digest(Gen.feedFrame(spark, Gen.feed(3L, fspec)))))
    assert(!fa.matches(ResultDigest.digest(Gen.feedFrame(spark, Gen.feed(4L, fspec)))))
  }

  test("the corpus has the planted duplicate structure it reports") {
    val c = Gen.corpus(5L, Gen.CorpusSpec(docs = 1000))
    assert(c.texts.length == 1000)
    assert(c.distinctNormalized == 900, "10% exact duplicates under fingerprint normalization")
    assert(c.nearDupPairs.length == 50)
    assert(c.nearDupPairs.forall { case (a, b) => Text.jaccard(c.texts(a.toInt), c.texts(b.toInt)) >= 0.5 })
    val lens = c.texts.map(t => Text.tokens(t).length)
    assert(lens.min >= 100 && lens.max <= 400)
  }

  test("a pass whose output lost one row is counted as failed") {
    val work = Files.createTempDirectory("perfbench-spec").toString
    val ctx = new Ctx(spark, new Engine, new Tracer(spark.sparkContext), new HeapWatch,
      seed = 1L, seconds = 0.0, traced = false, work = work, sessionS = 0.0)
    val rows = 256L // four shards of two 32-row batches
    val feat = spark.range(rows).select(col("id"), (col("id") * 2).as("x"))
    val consumed = (0 until Feed.Shards).map { s =>
      Feed.Consumed(s, Seq(32L, 32L), (s * 64L until (s + 1) * 64L).toArray)
    }
    def out(dropped: Boolean) = Feed.PassOut(
      feat, if (dropped) feat.filter(col("id") =!= 17L) else feat, consumed,
      0.0, 0.0, 0.0, 0.0, 0.0)

    val want = ResultDigest.digest(feat)
    assert(Feed.check(out(dropped = false), rows, want).failures.isEmpty)
    val passes = Loop.run(ctx)(out(dropped = true))(Feed.check(_, rows, want))
    assert(passes.size == Loop.MinPasses)
    assert(passes.forall(_.failures.exists(_.contains("arrow readback digest"))))
    assert(passes.count(_.failures.nonEmpty) == Loop.MinPasses)

    val short = out(dropped = false).copy(shards = consumed.updated(1,
      Feed.Consumed(1, Seq(32L, 31L), (64L until 127L).toArray)))
    assert(Feed.check(short, rows, want).failures.exists(_.contains("shard 1 delivered")))
  }
}
