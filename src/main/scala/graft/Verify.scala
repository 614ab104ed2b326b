package graft
import graft.core.GraftSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  * `GRAFT_QUERY_FILTER=q182,q183` dumps (and lists in oracle_sql.json) only
  * the queries whose name starts with a given prefix; unset, all of them.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val names = QueryRunner.selectFromEnv(SparkEntry.queries.keys.toSeq.sorted)
    val spark = GraftSession.local(GraftSession.configuredCpus)
    new java.io.File(outDir).mkdirs()
    for (name <- names) {
      val out = QueryRunner.run(spark)(SparkEntry.queries(name)(spark, sfDir)
        .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name"))
      out.failure.foreach(e => System.err.println(s"[verify] $name failed: $e"))
    }
    // Bench.jstr escapes every control char: a tab or CR in hand-written
    // oracle SQL would otherwise fail the compare's json.load and silently
    // zero the correctness record.
    val json = SparkEntry.oracleSql.filter(kv => names.contains(kv._1))
      .map { case (k, v) => s"${Bench.jstr(k)}: ${Bench.jstr(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
