package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.core.{GraftSession, ResultDigest}
import graft.queries.QueryCorpus
import java.nio.file.{Files, Paths}

/** Multi-JVM execution validation (dev/validation main, committed artifact
  * `CLUSTER_r<round>.json`): runs the full query corpus TWICE — once under the
  * usual `local[n]` (single JVM), once under `local-cluster[2,16,4096]`
  * (a real standalone master + workers that FORK separate executor JVMs,
  * with the application jar shipped via `spark.jars`, real task/closure
  * serialization, real BlockManager broadcast/shuffle transfer) — and
  * compares per-query [[ResultDigest]]s.
  *
  * `local[n]` structurally cannot catch: a closure capturing a
  * non-serializable driver object (same-JVM reference sharing hides it), a
  * Hadoop `Configuration` used executor-side without
  * `SerializableConfiguration`, codegen/expression classes missing from the
  * executor classpath, or driver-only filesystem assumptions. This main
  * exists to execute exactly those seams. The JVM boundary is PROVEN, not
  * assumed: a 64-partition probe job collects distinct executor JVM PIDs
  * and the record asserts none equals the driver PID.
  *
  * Beyond the corpus, three cluster-sensitive extras run in both modes:
  *   - `x_arrow_shard_roundtrip`: [[graft.io.ArrowIpc.writeStreamSharded]]
  *     (executor-side `FileSystem.create` + task-commit rename + driver
  *     existence re-check) → `readStreamSharded` (one shard = one task);
  *   - `x_pagerank_smj_forced`: the distributed SMJ PageRank loop with both
  *     small-graph admissions zeroed, so the per-round join/agg pipeline
  *     shuffles across executor JVMs even at validation scale;
  *   - `x_spread_barrier`: [[graft.ops.Scale.spreadForCompute]] +
  *     [[graft.functions.OptBarrier]] fencing, exercising the custom
  *     barrier expression through executor-side codegen.
  *
  * Usage: `sbt "runMain graft.ClusterValidate [sfDir] [outJson]"` (outJson
  * defaults to [[DefaultOut]], under `target/`, so a bare run never
  * overwrites a committed `CLUSTER_r<round>.json`), env
  * `GRAFT_CLUSTER_MASTER` (default `local-cluster[2,16,4096]`),
  * `GRAFT_QUERY_FILTER` (comma prefix filter, default all).
  */
object ClusterValidate {

  private type Outcome = QueryRunner.Outcome[ResultDigest.Digest]

  private def extras: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "x_arrow_shard_roundtrip" -> { (s: SparkSession, dir: String) =>
      import org.apache.spark.sql.functions._
      val docs = GraftSession.table(s, dir, "documents")
        .select(col("doc_id"), col("text"), col("lang"), col("n_chars"))
      val tag = s.sparkContext.master.replaceAll("""[^A-Za-z0-9]+""", "_")
      val feed = s"file:${sys.props("java.io.tmpdir")}/graft_cluster_arrow_$tag"
      graft.io.ArrowIpc.writeStreamSharded(docs, feed, numShards = 8,
        shardBy = Seq("doc_id"))
      graft.io.ArrowIpc.readStreamSharded(s, feed)
    },
    "x_pagerank_smj_forced" -> { (s: SparkSession, dir: String) =>
      import org.apache.spark.sql.functions._
      val e = GraftSession.table(s, dir, "lineitem")
        .select(concat(lit("o"), col("l_orderkey")).as("src"),
          concat(lit("p"), col("l_partkey")).as("dst"))
      // both admissions zeroed -> the web-scale SMJ loop tier, even here
      graft.ops.Graph.pageRank(e, "src", "dst", iterations = 3,
        broadcastNodeLimit = 0L, smallGraphMaxBytes = 0L)
    },
    "x_spread_barrier" -> { (s: SparkSession, dir: String) =>
      import org.apache.spark.sql.functions._
      val d = graft.ops.Scale.spreadForCompute(
        GraftSession.table(s, dir, "documents"), fence = Seq("text"))
      d.groupBy(col("lang")).agg(count(lit(1)).as("docs"),
        sum(length(col("text"))).as("chars"))
    })

  private def runAll(spark: SparkSession, sfDir: String, phase: String,
      qs: Seq[(String, (SparkSession, String) => DataFrame)]): Map[String, Outcome] =
    qs.map { case (name, fn) =>
      val out = QueryRunner.run(spark)(ResultDigest.digest(fn(spark, sfDir)))
      println(f"[cluster] $phase%-8s $name%-28s ${out.secs}%7.2fs " +
        out.result.fold(_ => "FAIL " + out.failure.get, d => s"rows=${d.rows}"))
      name -> out
    }.toMap

  /** Why `master` cannot fork executor JVMs here, or None. The Spark
    * launcher (`AbstractCommandBuilder`, spark-launcher 4.1.2) needs a Spark
    * home — `SPARK_HOME`, else the `spark.test.home` property — and a Scala
    * suffix: `SPARK_SCALA_VERSION`, else `<spark home>/launcher/target/scala-2.13`
    * must exist (a release distribution has no such build dir). Without them
    * every executor dies at fork and the master removes the app after 10
    * retries, leaving the cluster record unwritten.
    */
  def forkPreconditionError(master: String, env: Map[String, String],
      props: Map[String, String], isDir: String => Boolean): Option[String] = {
    val forks = master.startsWith("local-cluster") || master.startsWith("spark://")
    val home = env.get("SPARK_HOME").filter(_.nonEmpty)
      .orElse(props.get("spark.test.home").filter(_.nonEmpty))
    if (!forks) None
    else home match {
      case None => Some(s"master=$master forks executor JVMs: set SPARK_HOME to the " +
        "Spark distribution root so the launcher can locate the jars dir")
      case Some(h) if !env.contains("SPARK_SCALA_VERSION") &&
          !isDir(s"$h/launcher/target/scala-2.13") =>
        Some(s"master=$master forks executor JVMs: set SPARK_SCALA_VERSION (e.g. 2.13) " +
          s"— $h has no launcher/target/scala-2.13 for the launcher to infer it from")
      case _ => None
    }
  }

  /** Where a run writes its record when no path is given. */
  val DefaultOut = "target/cluster_validate.json"

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val outPath = if (args.length > 1) args(1) else DefaultOut
    val master = sys.env.getOrElse("GRAFT_CLUSTER_MASTER", "local-cluster[2,16,4096]")
    val all = (QueryCorpus.queries.toSeq ++ extras).toMap
    val qs = QueryRunner.selectFromEnv(all.keys.toSeq.sorted).map(n => n -> all(n))

    // fail loud and early, not after the local phase
    forkPreconditionError(master, sys.env, sys.props.toMap,
      new java.io.File(_).isDirectory).foreach(e => throw new IllegalArgumentException(e))

    val cpus = GraftSession.configuredCpus
    val tLocal0 = System.nanoTime()
    val local = GraftSession.local(cpus)
    val ref = runAll(local, sfDir, "local", qs)
    local.stop()
    val wallLocal = (System.nanoTime() - tLocal0) / 1e9

    val jar = {
      val dir = Paths.get("target/scala-2.13")
      val found = Files.list(dir).filter(_.toString.endsWith(".jar")).toList
      require(!found.isEmpty, "run `sbt package` first — executors need the jar")
      found.get(0).toAbsolutePath.toString
    }
    val driverPid = ProcessHandle.current().pid()
    val tClus0 = System.nanoTime()
    val spark = GraftSession.multiJvm(master, 32, Seq(jar))
    val pids = spark.sparkContext.parallelize(1 to 256, 64)
      .map(_ => ProcessHandle.current().pid()).distinct().collect().sorted.toSeq
    println(s"[cluster] driver pid=$driverPid executor pids=${pids.mkString(",")}")
    val clus = runAll(spark, sfDir, "cluster", qs)
    spark.stop()
    val wallClus = (System.nanoTime() - tClus0) / 1e9

    val names = qs.map(_._1)
    def matched(n: String): Boolean = (ref(n).result, clus(n).result) match {
      case (Right(a), Right(b)) => a.matches(b)
      case _ => false
    }
    val mismatches = names.filter(n => !matched(n) && ref(n).ok && clus(n).ok)
    val errored = names.filter(n => !ref(n).ok || !clus(n).ok)
    val ok = names.count(matched)
    val multiJvmProven = pids.nonEmpty && !pids.contains(driverPid)

    val perQuery = names.map { n =>
      val (r, c) = (ref(n), clus(n))
      val fields = Seq(
        Some(s""""match": ${matched(n)}"""),
        r.result.toOption.map(d => s""""rows": ${d.rows}"""),
        Some(f""""local_s": ${r.secs}%.3f"""),
        Some(f""""cluster_s": ${c.secs}%.3f"""),
        r.failure.map(e => s""""err_local": ${Bench.jstr(e)}"""),
        c.failure.map(e => s""""err_cluster": ${Bench.jstr(e)}""")).flatten
      s"${Bench.jstr(n)}: {${fields.mkString(", ")}}"
    }.mkString(",\n    ")

    val json =
      s"""{
  "metric": "multi_jvm_validation",
  "round": 18,
  "master": ${Bench.jstr(master)},
  "sf": ${Bench.jstr(sfDir)},
  "driver_pid": $driverPid,
  "executor_pids": [${pids.mkString(", ")}],
  "multi_jvm_proven": $multiJvmProven,
  "queries_total": ${names.size},
  "matched": $ok,
  "mismatched": [${mismatches.map(Bench.jstr).mkString(", ")}],
  "errored": [${errored.map(Bench.jstr).mkString(", ")}],
  "wall_local_s": ${f"$wallLocal%.1f"},
  "wall_cluster_s": ${f"$wallClus%.1f"},
  "note": "digest = order-independent xxhash64 fold (count + xor + wraparound sum), doubles canonicalized at 6 significant digits (see ResultDigest scaladoc); corpus queries + 3 cluster-sensitive extras, each run under local[$cpus] then under a forked-executor local-cluster, same box",
  "queries": {
    $perQuery
  }
}
"""
    Files.writeString(Paths.get(outPath), json)
    println(s"[cluster] $ok/${names.size} matched; mismatched=${mismatches.size} " +
      s"errored=${errored.size} multi_jvm_proven=$multiJvmProven -> $outPath")
  }
}
