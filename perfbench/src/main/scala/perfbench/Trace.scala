package perfbench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.SparkContext
import org.apache.spark.sql.DataFrame

/** One timed call into a layer. `unit` is the pass or request id the call
  * belongs to; `parent` is -1 for the unit's root span.
  */
final case class Span(id: Int, name: String, parent: Int, unit: Long,
    startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
  /** The layer a span belongs to: the name up to its first dot. */
  def layer: String = name.takeWhile(_ != '.')
}

object Span {

  /** Self time of every span: its duration minus the part of its interval
    * that its direct children cover (overlapping children count once).
    */
  def selfSeconds(spans: Seq[Span]): Map[Int, Double] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val kids = children.getOrElse(s.id, Nil)
        .map(k => (math.max(k.startNs, s.startNs), math.min(k.endNs, s.endNs)))
        .filter { case (a, b) => b > a }
        .sortBy(_._1)
      var covered = 0L
      var reach = s.startNs
      kids.foreach { case (a, b) =>
        val from = math.max(a, reach)
        if (b > from) { covered += b - from; reach = b }
      }
      s.id -> (s.endNs - s.startNs - covered) / 1e9
    }.toMap
  }

  /** Self seconds summed by layer over `spans` (one unit's spans). */
  def selfByLayer(spans: Seq[Span]): Map[String, Double] = {
    val self = selfSeconds(spans)
    spans.groupBy(_.layer).map { case (l, ss) => l -> ss.map(s => self(s.id)).sum }
  }
}

/** Records spans around calls into the program's layers and tags the Spark
  * jobs each call launches with its job group, so the engine listener can
  * attribute them.
  *
  * The unit (pass or request) id is set on every unit, traced or not: it
  * costs one thread-local property and lets output checks count jobs. Spans,
  * and the forcing of lazy results at a span's end, happen only inside a
  * traced unit.
  */
final class Tracer(sc: SparkContext) {
  private val recorded = ArrayBuffer[Span]()
  private var nextId = 0
  private var openSpans: List[Int] = Nil
  private var unit = -1L
  private var active = false

  def spans: Seq[Span] = recorded.toSeq

  /** Run one pass or request as unit `id`; when `traced`, under a root span. */
  def unitOf[T](name: String, id: Long, traced: Boolean)(body: => T): T = {
    unit = id
    active = traced
    try {
      if (traced) span(name)(body)
      else { setGroup(None); body }
    } finally { unit = -1L; active = false; sc.clearJobGroup() }
  }

  /** Time `body` as a span named `name` (`layer.call`). */
  def span[T](name: String)(body: => T): T = if (!active) body else {
    val id = nextId
    nextId += 1
    val parent = openSpans.headOption.getOrElse(-1)
    openSpans = id :: openSpans
    setGroup(Some(id))
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      openSpans = openSpans.tail
      recorded += Span(id, name, parent, unit, t0, t1)
      setGroup(openSpans.headOption)
    }
  }

  /** A call that returns a lazy frame: in a traced run the frame is
    * evaluated (into the no-op sink) inside the span, so the span holds the
    * work the call planned.
    */
  def lazySpan(name: String)(body: => DataFrame): DataFrame = span(name)(settle(body))

  /** `df`, evaluated first when inside a traced unit. */
  def settle(df: DataFrame): DataFrame = {
    if (active) Tracer.force(df)
    df
  }

  private def setGroup(span: Option[Int]): Unit =
    sc.setJobGroup(Tracer.group(unit, span), span.fold("")(id => s"span $id"),
      interruptOnCancel = false)
}

object Tracer {

  /** Job group id carrying the unit and span: `u<unit>` or `u<unit>.s<span>`. */
  def group(unit: Long, span: Option[Int]): String =
    s"u$unit" + span.fold("")(s => s".s$s")

  /** Inverse of [[group]]; None for jobs the benchmark did not tag. */
  def parseGroup(g: String): Option[(Long, Option[Int])] = g match {
    case null => None
    case s if s.startsWith("u") =>
      val (u, rest) = s.drop(1).span(_ != '.')
      scala.util.Try((u.toLong, if (rest.startsWith(".s")) Some(rest.drop(2).toInt) else None)).toOption
    case _ => None
  }

  /** Evaluate every value of `df`, keeping only a hash. A no-op sink is not
    * enough: the vectorized Parquet reader skips pages no one reads.
    */
  def force(df: DataFrame): Unit = {
    import org.apache.spark.sql.functions.{col, max, xxhash64}
    df.select(max(xxhash64(df.columns.toSeq.map(c => col(s"`$c`")): _*))).collect()
  }
}
