package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The driver mains' shared plumbing: failure as an outcome, isolation
  * between runs, query selection, job counting and the one session builder.
  */
class QueryRunnerSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSession.spark

  test("a throwing query becomes a failed outcome, not a throw") {
    val thrown = QueryRunner.run(spark)(throw new IllegalStateException("boom\nsecond line"))
    assert(!thrown.ok && thrown.secs >= 0.0 && thrown.failure.contains("boom"))
    // a failure inside a Spark job, surfaced at materialization
    val failed = QueryRunner.run(spark)(
      QueryRunner.materialize(spark.range(3).selectExpr("assert_true(id < 1)")))
    assert(!failed.ok && failed.failure.nonEmpty)
    assert(QueryRunner.run(spark)(throw new RuntimeException()).failure
      .contains("java.lang.RuntimeException"))
    val fine = QueryRunner.run(spark)(spark.range(5).count())
    assert(fine.ok && fine.result == Right(5L) && fine.failure.isEmpty)
  }

  test("isolate leaves no persisted RDD behind a localCheckpoint") {
    assert(spark.range(100).selectExpr("id * 2 AS x").localCheckpoint().count() == 100L)
    assert(spark.sparkContext.getPersistentRDDs.nonEmpty)
    QueryRunner.isolate(spark)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }

  test("select picks exact names and prefixes and rejects a filter that matches nothing") {
    val names = Seq("q01_agg", "q03_join", "q38_tfidf", "q380_wide")
    assert(QueryRunner.select(names, Seq.empty) == names)
    assert(QueryRunner.select(names, Seq("q03_join")) == Seq("q03_join"))
    assert(QueryRunner.select(names, Seq("q38", "q01_agg")) ==
      Seq("q01_agg", "q38_tfidf", "q380_wide"))
    val e = intercept[IllegalArgumentException](QueryRunner.select(names, Seq("q99", "x")))
    assert(e.getMessage.contains("q99,x"))
  }

  test("JobCounter counts are final when observe returns") {
    def measure(body: => Unit): graft.core.JobCounter = {
      val c = new graft.core.JobCounter
      c.observe(spark.sparkContext)(body)
      c
    }
    val idle = measure(())
    assert((idle.jobs, idle.sqlExecutions, idle.tasks, idle.taskTimeMs) == ((0, 0, 0, 0L)))
    // one action: its jobs and the tasks of its stages (4 range partitions
    // at least), the same on every repeat
    val counts = (1 to 3).map { _ =>
      val c = measure(spark.range(0, 1000, 1, 4).selectExpr("sum(id)").collect())
      (c.jobs, c.sqlExecutions, c.tasks)
    }
    assert(counts.forall { case (j, e, t) => j >= 1 && e == 1 && t >= 4 }, counts)
    assert(counts.distinct.size == 1, counts)
  }

  test("GraftSession holds the only SparkSession builder in src/main") {
    val main = Paths.get("src/main")
    assert(Files.isDirectory(main), s"run from the project root: ${main.toAbsolutePath}")
    val builder = """SparkSession\s*\.\s*builder""".r
    val offenders = Files.walk(main).iterator().asScala.filter(_.toString.endsWith(".scala"))
      .filter(p => builder.findFirstIn(Files.readString(p)).nonEmpty)
      .map(p => main.relativize(p).toString).toSeq
    assert(offenders == Seq("scala/graft/core/GraftSession.scala"), offenders)
  }
}
