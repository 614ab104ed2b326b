package graft.processor

import org.apache.spark.sql.{Column, DataFrame}
import graft.core.MLType

/** A fit expressed as aggregate Columns over the input frame plus a
  * driver-side absorb of their values, in the same order. A pipeline fits a
  * run of these with one `agg`; a processor's standalone `fit` is the
  * one-processor case.
  */
final case class AggregateFit(aggregates: Seq[Column], absorb: Seq[Any] => Unit)

object AggregateFit {

  /** The fit of a stateless processor: no aggregate, nothing to absorb. */
  val Stateless: AggregateFit = AggregateFit(Nil, _ => ())

  /** Evaluate every fit's aggregates in one `agg` over `df` (no job when
    * there are none) and hand each fit its own values.
    */
  def run(df: DataFrame, fits: Seq[AggregateFit]): Unit = {
    val aggs = fits.flatMap(_.aggregates)
    val values = if (aggs.isEmpty) Seq.empty else df.agg(aggs.head, aggs.tail: _*).head().toSeq
    fits.foldLeft(0) { (i, f) =>
      val n = f.aggregates.size
      f.absorb(values.slice(i, i + n))
      i + n
    }
  }
}

/** Missing-column policy for pipeline steps — reference
  * `src/bears/constants/_DataProcessingConstants.py:108-111` and usage at
  * `src/bears/processor/_DataProcessor.py:11-30`: e.g. a label-encoding step
  * declared on the ground-truth column must be skippable at inference time
  * when that column is absent.
  */
sealed trait MissingColumnBehavior
object MissingColumnBehavior {
  case object Error extends MissingColumnBehavior
  case object Skip extends MissingColumnBehavior
  case object Execute extends MissingColumnBehavior
  def fromName(s: String): MissingColumnBehavior = s.toLowerCase match {
    case "error" => Error
    case "skip" => Skip
    case "execute" => Execute
    case other => throw new IllegalArgumentException(s"missing_column_behavior: $other")
  }
}

/** Base contract of the reference's `DataProcessor`
  * (`src/bears/processor/_DataProcessor.py:11-128`): declared input/output
  * MLTypes, a fit step (no-op for stateless processors), and a transform.
  *
  * The decisive architectural difference from the reference: `transform` here
  * does not run a per-element Python function — it COMPILES to a Catalyst
  * `Column` expression. A whole pipeline of these fuses into a single
  * whole-stage-codegen'd projection (SURVEY.md §3.2 "the whole pipeline
  * typically becomes a single projection"), which is what makes the same
  * pipeline viable on 100 TB: no serialization boundary, full pushdown, and
  * the fit statistics are aggregates: a pipeline fits each run of independent
  * steps with one distributed `agg` ([[AggregateFit]]).
  */
trait DataProcessor extends Serializable {
  def name: String
  def inputMLTypes: Seq[MLType]
  def outputMLType: MLType
  def missingColumnBehavior: MissingColumnBehavior = MissingColumnBehavior.Error

  /** Fitted state as plain values, for pipeline save/load — the reference
    * pickles the processor (`_DataPipeline.py:1040-1064`); graft saves
    * explicit state instead. Values are strings, longs, doubles, booleans,
    * null, and `Seq`s/`Map`s of those, the tree both the JSON and the pickle
    * codec carry ([[DataPipeline.saveState]]); empty when unfitted or
    * stateless. `restore` reads it back through [[FittedState]].
    */
  def state: Map[String, Any] = Map.empty
  def restore(state: Map[String, Any]): Unit = ()

  /** The fit over `inputCols` of `df` as an [[AggregateFit]], which a
    * pipeline fuses with its neighbours' into one `agg`; `None` for a
    * processor whose own `fit` runs its own actions. A stateless processor
    * fits with no aggregate.
    */
  def aggregateFit(df: DataFrame, inputCols: Seq[String]): Option[AggregateFit] =
    Some(AggregateFit.Stateless)

  protected def notFitted(what: String): Nothing =
    throw new IllegalStateException(s"$name: .fit() must be called before $what")
}

/** Readers for the plain values of [[DataProcessor.state]] as either codec
  * gives them back: JSON holds Java `Integer`s where pickle holds `Long`s, and
  * Jackson writes a non-finite double as the string `NaN`, `Infinity` or
  * `-Infinity`. Anything else refuses loudly rather than restore a
  * misread value.
  */
private[processor] object FittedState {
  def list(v: Any): Seq[Any] = v match {
    case xs: collection.Seq[_] => xs.toSeq
    case other => refuse("a list", other)
  }
  def string(v: Any): String = v match {
    case s: String => s
    case other => refuse("a string", other)
  }
  def strings(v: Any): Seq[String] = list(v).map(string)
  def long(v: Any): Long = v match {
    case n: java.lang.Long => n
    case n: java.lang.Integer => n.longValue
    case other => refuse("an integer", other)
  }
  def double(v: Any): Double = v match {
    case d: java.lang.Double => d
    case "NaN" => Double.NaN
    case "Infinity" => Double.PositiveInfinity
    case "-Infinity" => Double.NegativeInfinity
    case other => refuse("a double", other)
  }
  private def refuse(what: String, v: Any): Nothing =
    throw new IllegalArgumentException(s"fitted state: expected $what, got " +
      (if (v == null) "null" else s"${v.getClass.getSimpleName} $v"))
}

/** 1:1 processor shape (`src/bears/processor/_SingleColumnProcessor.py:15-65`). */
trait SingleColumnProcessor extends DataProcessor {

  /** Fit on one column: the one-processor case of [[aggregateFit]]. */
  final def fit(df: DataFrame, inputCol: String): this.type = {
    AggregateFit.run(df, aggregateFit(df, Seq(inputCol)).toSeq)
    this
  }

  /** The compiled transform: input column expression → output expression. */
  def transform(input: Column): Column

  def fitTransform(df: DataFrame, inputCol: String): Column = {
    fit(df, inputCol)
    transform(org.apache.spark.sql.functions.col(inputCol))
  }
}

/** N:1 processor shape (`src/bears/processor/_Nto1ColumnProcessor.py:19-61`).
  * Receives the frame so implementations can dispatch on physical column
  * types (e.g. VectorAssembler's scalar-vs-array handling).
  */
trait Nto1ColumnProcessor extends DataProcessor {
  def fit(df: DataFrame, inputCols: Seq[String]): this.type = this
  def transform(df: DataFrame, inputCols: Seq[String]): Column
}

/** 1:1 processor whose transform is a FRAME rewrite, not a per-row Column
  * expression — for operators whose fitted state is itself distributed (a
  * join against a fitted table) and therefore cannot compile to one scalar
  * expression. The pipeline applies these as `df → df` steps; everything
  * narrow on either side still fuses into single projections.
  */
trait FrameLevelProcessor extends DataProcessor {
  override def aggregateFit(df: DataFrame, inputCols: Seq[String]): Option[AggregateFit] = None
  def fit(df: DataFrame, inputCol: String): this.type = this
  def transformFrame(df: DataFrame, inputCol: String, outputCol: String): DataFrame
}

/** Name/alias registry — reference `Registry.get_subclass` keyed lookup
  * (`src/bears/reader/Reader.py:83-87`, `util/language/_typing.py:155-371`).
  * Factories take the raw params map from a pipeline config step.
  */
object ProcessorRegistry {
  type Params = Map[String, Any]
  private val factories = scala.collection.mutable.Map[String, Params => DataProcessor]()

  def register(names: Seq[String])(f: Params => DataProcessor): Unit =
    names.foreach(n => factories(n.toLowerCase) = f)

  def create(name: String, params: Params): DataProcessor =
    factories.getOrElse(name.toLowerCase,
      throw new IllegalArgumentException(
        s"unknown processor '$name'; known: ${factories.keys.toSeq.sorted.mkString(", ")}"))
      .apply(params)

  def known: Seq[String] = factories.keys.toSeq.sorted

  // touch the registrant objects so their registrations run before first lookup
  Processors.registerAll()
  ScalableEncoders.registerAll()
}
