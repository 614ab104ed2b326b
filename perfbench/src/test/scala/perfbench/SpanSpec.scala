package perfbench

import org.scalatest.funsuite.AnyFunSuite

class SpanSpec extends AnyFunSuite {

  private def s(id: Int, name: String, parent: Int, a: Long, b: Long) = Span(id, name, parent, 1L, a, b)

  test("self time is duration minus the union of direct children, overlaps counted once") {
    val spans = Seq(
      s(0, "bench.pass", -1, 0, 10),
      s(1, "io.read", 0, 1, 3),
      s(2, "ops.exact_dedup", 0, 2, 5), // overlaps io.read on [2, 3)
      s(3, "ops.components", 0, 7, 8),
      s(4, "io.read", 3, 7, 8)) // grandchild: covers its parent, not the pass
    val self = Span.selfSeconds(spans).map { case (k, v) => k -> math.round(v * 1e9) }
    assert(self == Map(0 -> 5L, 1 -> 2L, 2 -> 3L, 3 -> 0L, 4 -> 1L))
  }

  test("self times by layer add up to the root span's duration") {
    val spans = Seq(
      s(0, "bench.pass", -1, 0, 100),
      s(1, "io.read", 0, 0, 30),
      s(2, "ops.lsh_edges", 0, 30, 90),
      s(3, "functions.md5", 2, 40, 50),
      s(4, "io.parquet_write", 0, 95, 100))
    val byLayer = Span.selfByLayer(spans)
    assert(math.round(byLayer.values.sum * 1e9) == 100L)
    assert(math.round(byLayer("io") * 1e9) == 35L)
    assert(math.round(byLayer("ops") * 1e9) == 50L)
    assert(math.round(byLayer("bench") * 1e9) == 5L)
  }

  test("job groups round-trip unit and span") {
    assert(Tracer.parseGroup(Tracer.group(7L, Some(3))).contains((7L, Some(3))))
    assert(Tracer.parseGroup(Tracer.group(-1L, None)).contains((-1L, None)))
    assert(Tracer.parseGroup("someone else's group").isEmpty)
    assert(Tracer.parseGroup(null).isEmpty)
  }
}
