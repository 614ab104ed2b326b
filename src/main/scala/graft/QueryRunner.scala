package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries.QueryCorpus

/** The run loop the driver mains share: which queries run, how one run is
  * isolated from the previous one and timed, and how a failure is reported
  * instead of aborting the loop.
  */
object QueryRunner {

  /** One timed run: wall seconds and the body's value or what it threw. */
  final case class Outcome[+A](secs: Double, result: Either[Throwable, A]) {
    def ok: Boolean = result.isRight

    /** The failure's first message line (else its class), at most 300 chars. */
    def failure: Option[String] = result.left.toOption.map { e =>
      Option(e.getMessage).flatMap(_.linesIterator.nextOption())
        .getOrElse(e.getClass.getName).take(300)
    }
  }

  /** Drop every cached plan AND every still-persisted RDD (localCheckpoint
    * blocks are not catalog-tracked), so one query's residue cannot occupy
    * BlockManager memory while the next one runs.
    */
  def isolate(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
  }

  /** Isolate, then time `body`; the time includes none of the cleanup. */
  def run[A](spark: SparkSession)(body: => A): Outcome[A] = {
    isolate(spark)
    val t0 = System.nanoTime()
    val result = try Right(body) catch { case e: Throwable => Left(e) }
    Outcome((System.nanoTime() - t0) / 1e9, result)
  }

  /** Compute every output column and keep no rows: a bare `count()` would
    * let Catalyst prune the plan to row counting.
    */
  def materialize(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** The names starting with any of `prefixes` (an exact name is its own
    * prefix), in `names` order; all of them when there are no prefixes.
    * Matching nothing is an error, so a typo cannot pass as an empty run.
    */
  def select(names: Seq[String], prefixes: Seq[String]): Seq[String] = {
    val kept =
      if (prefixes.isEmpty) names else names.filter(n => prefixes.exists(n.startsWith))
    require(kept.nonEmpty,
      s"query filter '${prefixes.mkString(",")}' matches none of: ${names.mkString(", ")}")
    kept
  }

  /** A dev tool's arguments as prefixes over the corpus; none: the bench queries. */
  def selectArgs(args: Seq[String]): Seq[String] =
    if (args.isEmpty) QueryCorpus.benchNames
    else select(QueryCorpus.queries.keys.toSeq.sorted, args)

  /** [[select]] by the comma-separated prefixes in `GRAFT_QUERY_FILTER`. */
  def selectFromEnv(names: Seq[String]): Seq[String] =
    select(names, sys.env.getOrElse("GRAFT_QUERY_FILTER", "").split(',').toSeq
      .map(_.trim).filter(_.nonEmpty))
}
