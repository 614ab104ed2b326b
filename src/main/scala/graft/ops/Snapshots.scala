package graft.ops

import org.apache.spark.sql.DataFrame

/** The one lineage-cut policy of graft's operators, and the lifecycle helper
  * for the snapshots it cuts.
  *
  * Every operator that truncates lineage goes through [[cut]], so the choice
  * between a local and a reliable checkpoint is made once, from application
  * state, never by a per-call knob (which would have to re-point the
  * application-global checkpoint dir behind every other workload's back).
  */
private[graft] object Snapshots {

  /** Cut `df`'s lineage, then unpersist the `release` caches it was built
    * from (cut first, so the cut's job still reads them).
    *
    *   - When the application has a checkpoint dir (set on the
    *     `SparkContext`, or by `spark.checkpoint.dir` at startup), a
    *     reliable `checkpoint`: the cut survives the loss of the
    *     executor that computed it, the rule Spark ML's periodic
    *     checkpointers follow. Reliable cuts are always eager, whatever
    *     `eager` says: the eager cut computes the chain and writes the files
    *     in one job, while a lazy one would recompute the chain in a second
    *     job after the first action. Checkpoint files outlive the job
    *     unless `spark.cleaner.referenceTracking.cleanCheckpoints=true` is
    *     set.
    *   - Otherwise a `localCheckpoint(eager)`: blocks on the executors, no
    *     file I/O, lost with their executor.
    */
  def cut(df: DataFrame, eager: Boolean = true, release: Seq[DataFrame] = Nil): DataFrame = {
    val out =
      if (df.sparkSession.sparkContext.getCheckpointDir.isEmpty) df.localCheckpoint(eager)
      else df.checkpoint(true)
    release.foreach(_.unpersist(false))
    out
  }

  /** Release a superseded snapshot.
    *
    * `Dataset.unpersist` is a NO-OP for checkpointed frames: `localCheckpoint`
    * persists its materialized RDD at the RDD level, outside the CacheManager
    * that `Dataset.unpersist` talks to. Iterative operators (PageRank,
    * connectedComponents) that snapshot per round must release each
    * superseded snapshot by unpersisting THAT RDD — reached through the
    * `LogicalRDD` the checkpoint wrapped it in — or every round's blocks
    * linger until session teardown (O(iterations) leaked caches per call).
    *
    * A reliable snapshot's checkpoint files are deleted too: Spark removes
    * them only when `spark.cleaner.referenceTracking.cleanCheckpoints` is
    * set, so every superseded round would otherwise stay on disk until the
    * dir is cleaned.
    *
    * Only safe once a SUCCESSOR snapshot has eagerly materialized: until then,
    * downstream lineage still reads the old snapshot's blocks and files.
    */
  def release(df: DataFrame): Unit = df.queryExecution.analyzed match {
    case lr: org.apache.spark.sql.execution.LogicalRDD =>
      lr.rdd.unpersist(false)
      lr.rdd.getCheckpointFile.foreach { f =>
        val path = new org.apache.hadoop.fs.Path(f)
        path.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration).delete(path, true)
      }
    case _ => df.unpersist(false)
  }
}
