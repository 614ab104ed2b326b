package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Source checks on `src/main` that need no Spark session. */
class ScaladocSpec extends AnyFunSuite {

  test("no scaladoc block sits directly above another (Scaladoc attaches it to nothing)") {
    val main = Paths.get("src/main")
    assert(Files.isDirectory(main), s"run from the project root: ${main.toAbsolutePath}")
    val orphans = Files.walk(main).iterator().asScala.filter(_.toString.endsWith(".scala"))
      .flatMap { p =>
        val lines = Files.readAllLines(p).asScala.toIndexedSeq.map(_.trim)
        lines.indices.flatMap { i =>
          if (!lines(i).startsWith("/**")) None
          else {
            val end = lines.indexWhere(_.contains("*/"), i)
            val next = lines.indexWhere(_.nonEmpty, end + 1)
            if (end >= 0 && next >= 0 && lines(next).startsWith("/**"))
              Some(s"${main.relativize(p)}:${i + 1}")
            else None
          }
        }
      }.toSeq.sorted
    assert(orphans.isEmpty, orphans.mkString("orphaned doc blocks: ", ", ", ""))
  }
}
