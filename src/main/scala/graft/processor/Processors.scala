package graft.processor

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType}
import graft.core.MLType

/** The reference's 13 processors (SURVEY.md §2.10), each compiled to native
  * Column expressions — no UDFs anywhere, so every pipeline stays inside
  * whole-stage codegen and scales with the scan.
  */
object Processors {

  private[processor] object P {
    def str(p: Map[String, Any], k: String, d: => String): String =
      p.get(k).map(_.toString).getOrElse(d)
    def opt(p: Map[String, Any], k: String): Option[String] = p.get(k).map(_.toString)
    def bool(p: Map[String, Any], k: String, d: Boolean): Boolean =
      p.get(k).map(_.toString.toBoolean).getOrElse(d)
    /** Backtick-quoted identifier for SQL-string fragments (`` doubling). */
    def quoted(name: String): String = "`" + name.replace("`", "``") + "`"
    /** A list element must be a scalar — a container (or a pair) here means
      * a corrupt config shape (e.g. a bean-serialized Scala collection) that
      * would otherwise `toString` into a silent no-op; fail loud instead.
      */
    private def scalarString(k: String, v: Any): String = v match {
      case _: java.util.Map[_, _] | _: Map[_, _] | _: java.util.List[_] |
          _: Seq[_] | _: (_, _) =>
        throw new IllegalArgumentException(
          s"expected a string element in list param '$k', got container $v")
      case s => s.toString
    }
    def strList(p: Map[String, Any], k: String): Seq[String] = p.get(k) match {
      case Some(xs: Seq[_]) => xs.map(scalarString(k, _))
      case Some(xs: java.util.List[_]) => xs.toArray.toSeq.map(scalarString(k, _))
      case Some(m @ (_: java.util.Map[_, _] | _: Map[_, _])) =>
        throw new IllegalArgumentException(s"expected a list for param '$k', got map $m")
      // the single-scalar promotion path; scalarString keeps a stray pair or
      // container from silently stringifying (e.g. "(a,b)")
      case Some(other) => Seq(scalarString(k, other))
      case None => Seq.empty
    }
    def pairList(p: Map[String, Any], k: String): Seq[(String, String)] = p.get(k) match {
      case Some(xs: Seq[_]) => xs.map {
        case (a, b) => (scalarString(k, a), scalarString(k, b))
        case pair: Seq[_] if pair.length == 2 =>
          (scalarString(k, pair.head), scalarString(k, pair(1)))
        case pair: java.util.List[_] if pair.size == 2 =>
          (scalarString(k, pair.get(0)), scalarString(k, pair.get(1)))
        case other => throw new IllegalArgumentException(s"expected pair in '$k', got $other")
      }
      case Some(xs: java.util.List[_]) =>
        xs.toArray.toSeq.map {
          case pair: java.util.List[_] if pair.size == 2 =>
            (scalarString(k, pair.get(0)), scalarString(k, pair.get(1)))
          case other => throw new IllegalArgumentException(s"expected pair in '$k', got $other")
        }
      case Some(other) =>
        throw new IllegalArgumentException(s"expected a list of pairs for param '$k', got $other")
      case None => Seq.empty
    }
  }
  import P._

  // ---- text (§2.10) -----------------------------------------------------

  /** upper/lower (`_text/_CaseTransformation.py:16-34`); null in → null out. */
  final class CaseTransformation(params: Map[String, Any]) extends SingleColumnProcessor {
    val name = "CaseTransformation"
    val inputMLTypes = Seq(MLType.Text)
    val outputMLType = MLType.Text
    private val mode = str(params, "case", "lower").toLowerCase
    require(mode == "lower" || mode == "upper", s"case must be lower|upper: $mode")
    def transform(in: Column): Column = if (mode == "lower") lower(in) else upper(in)
  }

  /** strip `<.*?>` (`_text/_HtmlTagRemoval.py:12-23`). */
  final class HtmlTagRemoval(params: Map[String, Any]) extends SingleColumnProcessor {
    val name = "HtmlTagRemoval"
    val inputMLTypes = Seq(MLType.Text)
    val outputMLType = MLType.Text
    def transform(in: Column): Column = regexp_replace(in, "<.*?>", "")
  }

  /** punctuation → replacement char (`_text/_PunctuationCleaner.py:12-25`):
    * `translate` over Python's `string.punctuation` set.
    */
  final class PunctuationCleaner(params: Map[String, Any]) extends SingleColumnProcessor {
    val name = "PunctuationCleaner"
    val inputMLTypes = Seq(MLType.Text)
    val outputMLType = MLType.Text
    private val repl = str(params, "replacement_char", " ")
    require(repl.length == 1, "replacement_char must be a single character")
    def transform(in: Column): Column =
      translate(in, PunctuationCleaner.Punctuation, repl.toString * PunctuationCleaner.Punctuation.length)
  }
  object PunctuationCleaner {
    /** Python `string.punctuation`. */
    val Punctuation = """!"#$%&'()*+,-./:;<=>?@[\]^_`{|}~"""
  }

  /** ordered (pattern → substitution) list with ignorecase/multiline flags
    * (`_text/_RegexSubstitution.py:16-61`): chained regexp_replace with
    * embedded `(?i)(?m)` flags — still one codegen'd projection.
    */
  final class RegexSubstitution(params: Map[String, Any]) extends SingleColumnProcessor {
    val name = "RegexSubstitution"
    val inputMLTypes = Seq(MLType.Text)
    val outputMLType = MLType.Text
    private val subs = pairList(params, "substitution_list")
    require(subs.nonEmpty, "substitution_list must be non-empty")
    private val flags =
      (if (bool(params, "ignorecase", d = false)) "i" else "") +
        (if (bool(params, "multiline", d = true)) "m" else "")
    private val prefix = if (flags.isEmpty) "" else s"(?$flags)"
    def transform(in: Column): Column =
      subs.foldLeft(in) { case (c, (pat, sub)) => regexp_replace(c, prefix + pat, sub) }
  }

  /** literal substring removal (`_text/_StringRemoval.py:9-31`) — `replace`,
    * no regex semantics.
    */
  final class StringRemoval(params: Map[String, Any]) extends SingleColumnProcessor {
    val name = "StringRemoval"
    val inputMLTypes = Seq(MLType.Text)
    val outputMLType = MLType.Text
    private val removals = strList(params, "removal_list")
    require(removals.nonEmpty, "removal_list must be non-empty")
    def transform(in: Column): Column =
      removals.foldLeft(in)((c, s) => replace(c, lit(s), lit("")))
  }

  /** N:1 text concat (`_text/_TextConcatenation.py:27-105`): column order
    * fixed at fit (name asc/desc, shortest-avg-length-first via one
    * aggregate, or user order); nulls become empty strings with separators
    * kept — the reference's DataFrame-path semantics (`fillna('')`).
    */
  final class TextConcatenation(params: Map[String, Any]) extends Nto1ColumnProcessor {
    val name = "TextConcatenation"
    val inputMLTypes = Seq(MLType.Text)
    val outputMLType = MLType.Text
    private val sep = str(params, "sep", " ")
    private val order = str(params, "column_order", "sort_by_name_ascending").toLowerCase
    private val prefixColName = bool(params, "prefix_col_name", d = false)
    private val prefixColSep = str(params, "prefix_col_sep", ": ")
    private var orderedCols: Option[Seq[String]] = strList(params, "input_ordering") match {
      case xs if xs.nonEmpty && order == "input_order" => Some(xs)
      case _ => None
    }

    override def aggregateFit(df: DataFrame, inputCols: Seq[String]): Option[AggregateFit] = None
    override def fit(df: DataFrame, inputCols: Seq[String]): this.type = {
      orderedCols = Some(order match {
        case "sort_by_name_ascending" => inputCols.sorted
        case "sort_by_name_descending" => inputCols.sorted.reverse
        case "sort_by_shortest_first" =>
          // one aggregate over all columns: avg string length of non-nulls
          val lens = df.select(inputCols.map(c => avg(length(col(c).cast("string"))).as(c)): _*).head()
          inputCols.sortBy(c => (Option(lens.getAs[Any](c)).fold(0.0)(_.toString.toDouble), c))
        case "input_order" =>
          orderedCols.getOrElse(throw new IllegalArgumentException(
            "input_ordering required for column_order=input_order"))
        case other => throw new IllegalArgumentException(s"column_order: $other")
      })
      this
    }

    def transform(df: DataFrame, inputCols: Seq[String]): Column = {
      val cols = orderedCols.getOrElse(notFitted("transform"))
      val parts = cols.map { c =>
        val v = coalesce(col(c).cast("string"), lit(""))
        if (prefixColName) concat(lit(c + prefixColSep), v) else v
      }
      concat_ws(sep, parts: _*)
    }

    override def state: Map[String, Any] =
      orderedCols.fold(Map.empty[String, Any])(c => Map("ordered_cols" -> c))
    override def restore(s: Map[String, Any]): Unit =
      s.get("ordered_cols").foreach(v => orderedCols = Some(FittedState.strings(v)))
  }

  // ---- categorical (§2.10) ---------------------------------------------

  /** Label → dense int codes (`_categorical/_LabelEncoding.py:45-218`).
    * Fit: distinct labels sorted by the column's own type, like np.unique
    * → index per `encoding_range`; one sorted `collect_set` aggregate,
    * vocabulary broadcast as a literal map.
    * Transform: `element_at(map, label)` + unknown-label fill
    * (`ENCODING_RANGE_TO_UNKNOWN_LABELS_MAP`). Inverse transform included.
    */
  final class LabelEncoding(params: Map[String, Any]) extends SingleColumnProcessor {
    val name = "LabelEncoding"
    val inputMLTypes = Seq(MLType.Text, MLType.Categorical, MLType.Int)
    val outputMLType = MLType.Int
    override val missingColumnBehavior: MissingColumnBehavior = MissingColumnBehavior.Skip

    private val range = str(params, "encoding_range", "one_to_n").toLowerCase
    private val missingFill = opt(params, "missing_input_fill_value")
    private val unknownValue: Long = opt(params, "unknown_input_encoding_value")
      .map(_.toLong).getOrElse(LabelEncoding.UnknownByRange(range))
    private var encoding: Option[Seq[(String, Long)]] = None

    override def aggregateFit(df: DataFrame, inputCols: Seq[String]): Option[AggregateFit] = {
      // Driver-memory contract (the Spark-ML StringIndexer contract): the
      // fitted label space collects to the driver. Label encoding is for
      // categorical columns — a high-cardinality (≈ row-count) key column
      // fit would gather the whole key space; encode such columns with a
      // hash/dense-rank instead.
      val c = col(inputCols.head)
      val filled = missingFill.fold(c)(f => coalesce(c, lit(f)))
      // sorted in the column's own type, so longs above 2^53 and wide
      // decimals keep their order; NaN is no label and -0.0 is the label 0.0
      val label = df.select(filled).schema.head.dataType match {
        case dt @ (FloatType | DoubleType) =>
          when(!isnan(filled), when(filled === 0, lit(0).cast(dt)).otherwise(filled))
        case _ => filled
      }
      Some(AggregateFit(Seq(sort_array(collect_set(label))),
        v => fitLabels(v.head.asInstanceOf[collection.Seq[Any]].map(_.toString).toSeq)))
    }

    private[processor] def fitLabels(sortedLabels: Seq[String]): Unit = {
      require(sortedLabels.nonEmpty, "input must contain at least one non-null label")
      encoding = Some(range match {
        case "zero_to_n_minus_one" => sortedLabels.zipWithIndex.map { case (l, i) => l -> i.toLong }
        case "one_to_n" => sortedLabels.zipWithIndex.map { case (l, i) => l -> (i + 1).toLong }
        case "binary_zero_one" =>
          require(sortedLabels.length <= 2, s"binary_zero_one supports <=2 labels, found ${sortedLabels.length}")
          sortedLabels.zipWithIndex.map { case (l, i) => l -> i.toLong }
        case "binary_plus_minus_one" =>
          require(sortedLabels.length <= 2, s"binary_plus_minus_one supports <=2 labels, found ${sortedLabels.length}")
          sortedLabels.zipWithIndex.map { case (l, i) => l -> (if (i == 0) -1L else 1L) }
        case other => throw new IllegalArgumentException(s"encoding_range: $other")
      })
    }

    def transform(in: Column): Column = {
      val enc = encoding.getOrElse(notFitted("transform"))
      val filled = missingFill.fold(in)(f => coalesce(in, lit(f)))
      val mapped = element_at(typedLit(enc.toMap), filled.cast("string"))
      // null input (no missing fill) stays null, like map(na_action="ignore")
      when(filled.isNull, lit(null)).otherwise(coalesce(mapped, lit(unknownValue)))
    }

    /** `inverse_transform_series` (`_LabelEncoding.py:191-202`). */
    def inverseTransform(in: Column): Column = {
      val enc = encoding.getOrElse(notFitted("inverseTransform"))
      element_at(typedLit(enc.map { case (l, i) => i -> l }.toMap), in.cast("long"))
    }

    override def state: Map[String, Any] = encoding.fold(Map.empty[String, Any])(e =>
      Map("labels" -> e.map(_._1), "codes" -> e.map(_._2)))
    override def restore(s: Map[String, Any]): Unit = s.get("labels").foreach { l =>
      val labels = FittedState.strings(l)
      val codes = FittedState.list(s("codes")).map(FittedState.long)
      require(labels.size == codes.size, s"$name state: ${labels.size} labels, ${codes.size} codes")
      encoding = Some(labels.zip(codes))
    }
  }
  object LabelEncoding {
    val UnknownByRange: Map[String, Long] = Map(
      "one_to_n" -> 0L, "binary_zero_one" -> -1L,
      "binary_plus_minus_one" -> 0L, "zero_to_n_minus_one" -> -1L)
    val BinaryPositive = Set("1", "Y", "YES", "TRUE", "T")
    val BinaryNegative = Set("0", "-1", "N", "NO", "FALSE", "F")

    /** `from_labelspace` binary auto-detect (`_LabelEncoding.py:85-121`):
      * a 2-label space whose values look boolean maps negative→0 positive→1
      * regardless of sort order.
      */
    def fromLabelspace(labels: Seq[String]): LabelEncoding = {
      val p = new LabelEncoding(Map("encoding_range" -> "binary_zero_one"))
      labels match {
        case Seq(a, b) if BinaryNegative.contains(a.toUpperCase) && BinaryPositive.contains(b.toUpperCase) =>
          p.fitLabels(Seq(a, b))
        case Seq(a, b) if BinaryPositive.contains(a.toUpperCase) && BinaryNegative.contains(b.toUpperCase) =>
          p.fitLabels(Seq(b, a))
        case _ =>
          val p2 = new LabelEncoding(Map("encoding_range" -> "one_to_n"))
          p2.fitLabels(labels.sorted)
          return p2
      }
      p
    }
  }

  /** prefix/suffix affix (`_categorical/_LabelAffix.py:16-36`); null-safe
    * via concat's null propagation.
    */
  final class LabelAffix(params: Map[String, Any]) extends SingleColumnProcessor {
    val name = "LabelAffix"
    val inputMLTypes = Seq(MLType.Text, MLType.Categorical)
    val outputMLType = MLType.Categorical
    private val prefix = str(params, "prefix", "")
    private val suffix = str(params, "suffix", "")
    def transform(in: Column): Column =
      concat(lit(prefix), in.cast("string"), lit(suffix))
  }

  /** mode/constant fill (`_categorical/_CategoricalMissingValueImputation
    * .py:21-77`): fit = one `mode(col)` aggregate (deterministic=min on ties,
    * matching pandas `mode().iloc[0]`).
    */
  final class CategoricalMissingValueImputation(params: Map[String, Any]) extends SingleColumnProcessor {
    val name = "CategoricalMissingValueImputation"
    val inputMLTypes = Seq(MLType.Categorical)
    val outputMLType = MLType.Categorical
    private val strategy = str(params, "strategy", "mode").toLowerCase
    private var imputed: Option[String] = opt(params, "fill_value") match {
      case some @ Some(_) =>
        require(strategy == "constant", "fill_value only valid with strategy=constant")
        some
      case None =>
        require(strategy != "constant", "strategy=constant requires fill_value")
        None
    }

    override def aggregateFit(df: DataFrame, inputCols: Seq[String]): Option[AggregateFit] =
      Some(if (strategy != "mode") AggregateFit.Stateless
      else AggregateFit(
        // backtick-escape (the SCol.mode_ discipline): a space/dot in the
        // column name would otherwise break the SQL or resolve a nested field
        Seq(expr(s"mode(${P.quoted(inputCols.head)}, true)")),
        v => imputed = Option(v.head).map(_.toString)))
    def transform(in: Column): Column = {
      val v = imputed.getOrElse(notFitted("transform"))
      coalesce(in, lit(v))
    }
    override def state: Map[String, Any] = imputed.fold(Map.empty[String, Any])(v => Map("imputed" -> v))
    override def restore(s: Map[String, Any]): Unit =
      s.get("imputed").foreach(v => imputed = Some(FittedState.string(v)))
  }

  // ---- numeric (§2.10) --------------------------------------------------

  /** mean/median/mode/min/max/constant fill
    * (`_numeric/_NumericMissingValueImputation.py:27-87`); each strategy
    * but constant fits as one aggregate.
    */
  final class NumericMissingValueImputation(params: Map[String, Any]) extends SingleColumnProcessor {
    val name = "NumericMissingValueImputation"
    val inputMLTypes = Seq(MLType.Int, MLType.Float)
    val outputMLType = MLType.Float
    private val strategy = str(params, "strategy", "mean").toLowerCase
    private var imputed: Option[Double] = opt(params, "fill_value") match {
      case Some(v) =>
        require(strategy == "constant", "fill_value only valid with strategy=constant")
        Some(v.toDouble)
      case None =>
        require(strategy != "constant", "strategy=constant requires fill_value")
        None
    }

    override def aggregateFit(df: DataFrame, inputCols: Seq[String]): Option[AggregateFit] = {
      val c = col(inputCols.head)
      val agg = strategy match {
        case "mean" => avg(c)
        // backtick-escape: see CategoricalMissingValueImputation.aggregateFit
        case "median" => expr(s"median(${P.quoted(inputCols.head)})")
        case "mode" => expr(s"mode(${P.quoted(inputCols.head)}, true)")
        case "min" => min(c)
        case "max" => max(c)
        case "constant" => return Some(AggregateFit.Stateless)
        case other => throw new IllegalArgumentException(s"strategy: $other")
      }
      // a NaN fit (Inf - Inf in avg gives a sign-set NaN) is stored as
      // Java's canonical NaN, the one NaN both state codecs carry, so a
      // loaded pipeline imputes the same bits
      Some(AggregateFit(Seq(agg.cast("double")), v => imputed = Option(v.head)
        .map(_.asInstanceOf[Double]).map(d => if (d.isNaN) Double.NaN else d)))
    }
    def transform(in: Column): Column = {
      val v = imputed.getOrElse(notFitted("transform"))
      coalesce(in, lit(v))
    }
    override def state: Map[String, Any] = imputed.fold(Map.empty[String, Any])(v => Map("imputed" -> v))
    override def restore(s: Map[String, Any]): Unit =
      s.get("imputed").foreach(v => imputed = Some(FittedState.double(v)))
  }

  // ---- vector (§2.10) ---------------------------------------------------

  /** N:1 assembly of int/float/vector columns into one dense array
    * (`_vector/_VectorAssembler.py:25-75`): sorted column order, KEEP keeps
    * null elements, ERROR adds a runtime assert. Pure `concat(array(...))` —
    * no spark.ml VectorUDT in the hot path, arrays stay codegen-friendly.
    */
  final class VectorAssembler(params: Map[String, Any]) extends Nto1ColumnProcessor {
    val name = "VectorAssembler"
    val inputMLTypes = Seq(MLType.Int, MLType.Float, MLType.Vector, MLType.SparseVector)
    val outputMLType = MLType.Vector
    private val handleInvalid = str(params, "handle_invalid", "keep").toLowerCase

    /** Scalars wrap to 1-element arrays; array columns flatten in (null
      * array → single null element, mirroring `as_list(None)`).
      */
    def transform(df: DataFrame, inputCols: Seq[String]): Column = {
      val parts = inputCols.sorted.map { n =>
        val c = col(n)
        df.schema(n).dataType match {
          case _: org.apache.spark.sql.types.ArrayType =>
            val arr = c.cast("array<double>")
            if (handleInvalid == "error")
              when(arr.isNull, raise_error(lit(s"VectorAssembler: null array in $n")).cast("array<double>"))
                .otherwise(arr)
            else coalesce(arr, array(lit(null).cast("double")))
          case _ =>
            if (handleInvalid == "error")
              array(when(c.isNull, raise_error(lit(s"VectorAssembler: null in $n")).cast("double"))
                .otherwise(c.cast("double")))
            else array(c.cast("double"))
        }
      }
      concat(parts: _*)
    }
  }

  /** sparse → dense expansion (`_vector/_VectorDensifier.py:13-38`). Sparse
    * representation = struct(size, indices, values); expansion is a codegen'd
    * `transform(sequence(...))` — no UDF.
    */
  final class VectorDensifier(params: Map[String, Any]) extends SingleColumnProcessor {
    val name = "VectorDensifier"
    val inputMLTypes = Seq(MLType.SparseVector)
    val outputMLType = MLType.Vector
    def transform(in: Column): Column = {
      val size = in.getField("size")
      val indices = in.getField("indices")
      val values = in.getField("values")
      transform_(size, indices, values)
    }
    private def transform_(size: Column, indices: Column, values: Column): Column =
      // size == 0 guard: sequence(0, -1) DESCENDS (start > stop steps -1),
      // so an empty sparse vector would densify to 2-element garbage
      // [0.0, 0.0] instead of an empty array
      when(size === 0, array().cast("array<double>"))
        .otherwise(org.apache.spark.sql.functions.transform(
          sequence(lit(0), size - 1),
          i => {
            val pos = array_position(indices, i)
            when(pos > 0, element_at(values, pos.cast("int"))).otherwise(lit(0.0))
          }))
  }

  def registerAll(): Unit = if (!registered) {
    registered = true
    ProcessorRegistry.register(Seq("CaseTransformation", "CaseTransformer"))(new CaseTransformation(_))
    ProcessorRegistry.register(Seq("HtmlTagRemoval"))(new HtmlTagRemoval(_))
    ProcessorRegistry.register(Seq("PunctuationCleaner"))(new PunctuationCleaner(_))
    ProcessorRegistry.register(Seq("RegexSubstitution"))(new RegexSubstitution(_))
    ProcessorRegistry.register(Seq("StringRemoval"))(new StringRemoval(_))
    ProcessorRegistry.register(Seq("TextConcatenation"))(new TextConcatenation(_))
    ProcessorRegistry.register(Seq("TFIDFVectorization", "TFIDF"))(new TfIdfVectorization(_))
    ProcessorRegistry.register(Seq("LabelEncoding", "LabelEncoder"))(new LabelEncoding(_))
    ProcessorRegistry.register(Seq("LabelAffix"))(new LabelAffix(_))
    ProcessorRegistry.register(Seq("CategoricalMissingValueImputation"))(
      new CategoricalMissingValueImputation(_))
    ProcessorRegistry.register(Seq("NumericMissingValueImputation"))(
      new NumericMissingValueImputation(_))
    ProcessorRegistry.register(Seq("VectorAssembler"))(new VectorAssembler(_))
    ProcessorRegistry.register(Seq("VectorDensifier"))(new VectorDensifier(_))
  }
  private var registered = false
}
