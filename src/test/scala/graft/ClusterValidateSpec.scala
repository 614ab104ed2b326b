package graft

import org.scalatest.funsuite.AnyFunSuite

/** ClusterValidate's fork precondition mirrors the Spark launcher's checks,
  * and a run given no output path writes no committed file.
  */
class ClusterValidateSpec extends AnyFunSuite {

  test("forkPreconditionError: Spark home from SPARK_HOME or spark.test.home, Scala suffix from SPARK_SCALA_VERSION or the launcher build dir") {
    val scala = "SPARK_SCALA_VERSION" -> "2.13"
    val testHome = Map("spark.test.home" -> "/src/spark")
    // (master, env, props, existing dirs, expected: None or a word of the error)
    val cases: Seq[(String, Map[String, String], Map[String, String], Set[String], Option[String])] = Seq(
      ("local[4]", Map.empty, Map.empty, Set.empty, None),
      ("local-cluster[2,16,4096]", Map.empty, Map.empty, Set.empty, Some("SPARK_HOME")),
      ("spark://h:7077", Map(scala), Map.empty, Set.empty, Some("SPARK_HOME")),
      ("local-cluster[2,16,4096]", Map("SPARK_HOME" -> "", scala), Map.empty, Set.empty, Some("SPARK_HOME")),
      ("local-cluster[2,16,4096]", Map("SPARK_HOME" -> "/dist/spark", scala), Map.empty, Set.empty, None),
      ("local-cluster[2,16,4096]", Map("SPARK_HOME" -> "/dist/spark"), Map.empty,
        Set("/dist/spark/launcher/target/scala-2.13"), None),
      ("local-cluster[2,16,4096]", Map("SPARK_HOME" -> "/dist/spark"), Map.empty, Set.empty,
        Some("SPARK_SCALA_VERSION")),
      ("local-cluster[2,16,4096]", Map(scala), testHome, Set.empty, None),
      ("local-cluster[2,16,4096]", Map("SPARK_HOME" -> ""), testHome,
        Set("/src/spark/launcher/target/scala-2.13"), None),
      ("local-cluster[2,16,4096]", Map.empty, testHome, Set.empty, Some("SPARK_SCALA_VERSION")),
      // SPARK_HOME wins over the property, as in the launcher
      ("local-cluster[2,16,4096]", Map("SPARK_HOME" -> "/dist/spark"), testHome,
        Set("/src/spark/launcher/target/scala-2.13"), Some("SPARK_SCALA_VERSION")))
    for ((master, env, props, dirs, want) <- cases) {
      val got = ClusterValidate.forkPreconditionError(master, env, props, dirs)
      assert(got.isEmpty == want.isEmpty && want.forall(w => got.exists(_.contains(w))),
        s"$master $env $props $dirs: got $got, want $want")
    }
  }

  test("the default record path names no committed file: it sits under the ignored target/") {
    val out = java.nio.file.Paths.get(ClusterValidate.DefaultOut).normalize()
    assert(!out.isAbsolute && out.getNameCount > 1 && out.getName(0).toString == "target",
      s"default output $out is not under target/")
    val ignored = scala.io.Source.fromFile(".gitignore")
    try assert(ignored.getLines().map(_.trim).contains("target/"), ".gitignore no longer ignores target/")
    finally ignored.close()
    val name = out.getFileName.toString
    assert(!(name.startsWith("CLUSTER_") && name.endsWith(".json")),
      s"default output $name is named like a committed CLUSTER record")
  }
}
