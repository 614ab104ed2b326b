package graft.processor

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.{MLType, Positions}

/** Unbounded-cardinality encoders — the scale companions to
  * [[Processors.LabelEncoding]] and [[TfIdfVectorization]], whose fitted
  * state collects to the driver (fine for categorical/vocab spaces, a
  * driver OOM for key-like spaces). Both reference semantics
  * (`_categorical/_LabelEncoding.py:45-218`, `_text/_TFIDFVectorization
  * .py:16-76`) re-expressed with DISTRIBUTED fitted state:
  *
  *   - [[DenseRankLabelEncoding]]: the same sorted-distinct → dense-code
  *     mapping as LabelEncoding, but the code table is a DataFrame built by
  *     a parallel range sort (never a single-task global window, never a
  *     driver collect) and applied as a join — works on a key column with a
  *     billion distinct values.
  *   - [[HashedTextVectorization]]: the hashing-trick vectorizer (sklearn
  *     HashingVectorizer) — no vocabulary pass AT ALL; fit is a no-op and
  *     transform is one shuffle-free native kernel,
  *     [[graft.functions.HashedTokenCounts]].
  */
object ScalableEncoders {

  /** Label → dense int codes with a DISTRIBUTED code table. Same surface as
    * [[Processors.LabelEncoding]] (all four `encoding_range` modes,
    * `missing_input_fill_value`, `unknown_input_encoding_value`), same code
    * assignment (sorted distinct labels, numeric sort for numeric inputs),
    * but:
    *
    *   - fit = distinct (one shuffle of the label space) → one parallel
    *     sort numbered by [[graft.core.Positions.of]]: each label's global
    *     position is its exact dense index, and the returned row count is
    *     the label count. No global one-task window, no driver collect.
    *   - transform = a left equi-join on the label (AQE picks
    *     broadcast-vs-shuffle by measured size); unseen labels take the
    *     range's unknown value, null inputs stay null (pandas
    *     `map(na_action="ignore")`), both matching LabelEncoding.
    *
    * Fitted-state serialization is distributed too: set `state_path` to a
    * parquet location and `state`/`restore` write/read the code table there;
    * without it, saving a pipeline containing this processor refuses loudly
    * (the table does not fit in a driver-side state file by design).
    */
  final class DenseRankLabelEncoding(params: Map[String, Any]) extends FrameLevelProcessor {
    import Processors.P._

    val name = "DenseRankLabelEncoding"
    val inputMLTypes = Seq(MLType.Text, MLType.Categorical, MLType.Int)
    val outputMLType = MLType.Int
    override val missingColumnBehavior: MissingColumnBehavior = MissingColumnBehavior.Skip

    private val range = str(params, "encoding_range", "one_to_n").toLowerCase
    private val missingFill = opt(params, "missing_input_fill_value")
    private val unknownValue: Long = opt(params, "unknown_input_encoding_value")
      .map(_.toLong).getOrElse(Processors.LabelEncoding.UnknownByRange.getOrElse(range,
        throw new IllegalArgumentException(s"encoding_range: $range")))
    private val statePath = opt(params, "state_path")

    /** (`__dre_label__` string, `__dre_code__` long) — fitted code table. */
    private var codes: Option[DataFrame] = None

    /** The fitted (label, code) table — distributed; for tests and export. */
    def fittedCodes: DataFrame = codes.getOrElse(notFitted("fittedCodes"))

    override def fit(df: DataFrame, inputCol: String): this.type = {
      val c = col(inputCol)
      val filled = missingFill.fold(c)(f => coalesce(c, lit(f)))
      // sorted in the column's own type, as LabelEncoding sorts its labels
      // (np.unique); the JOIN key is always the string form so restore()d
      // tables round-trip type-exactly
      val d = df.select(filled.cast("string").as("__dre_label__"),
          filled.as("__dre_sort__"))
        .na.drop("any", Seq("__dre_label__"))
        .dropDuplicates("__dre_label__")
      // zero-based exact global dense index: the label's position in
      // (sort value, label) order — the label breaks sort-value ties such
      // as -0.0 and 0.0; the returned row count is the label count
      // (LabelEncoding's non-empty contract and the binary modes' ≤2 bound)
      val (indexed, cnt) = Positions.of(d, Seq(col("__dre_sort__"), col("__dre_label__")))
      require(cnt > 0, "input must contain at least one non-null label")
      val idx = col(Positions.PosCol)
      val code: Column = range match {
        case "zero_to_n_minus_one" => idx
        case "one_to_n" => idx + 1L
        case "binary_zero_one" =>
          require(cnt <= 2, s"binary_zero_one supports <=2 labels, found $cnt")
          idx
        case "binary_plus_minus_one" =>
          require(cnt <= 2, s"binary_plus_minus_one supports <=2 labels, found $cnt")
          when(idx === 0L, lit(-1L)).otherwise(lit(1L))
        case other => throw new IllegalArgumentException(s"encoding_range: $other")
      }
      codes = Some(indexed.select(col("__dre_label__"), code.as("__dre_code__")))
      this
    }

    /** First `base`, `base1`, `base2`, … not already taken — the join-side
      * temp names must not collide with the INPUT frame's columns (an input
      * that legitimately carries a `__dre_key__` column would otherwise be
      * silently dropped or make the join ambiguous). The fitted table's own
      * `__dre_label__`/`__dre_code__` names are a private, parquet-persisted
      * contract, so they are renamed here rather than at the source.
      */
    private def fresh(base: String, taken: Set[String]): String =
      Iterator.from(0).map(i => if (i == 0) base else base + i).filterNot(taken).next()

    def transformFrame(df: DataFrame, inputCol: String, outputCol: String): DataFrame = {
      val table = codes.getOrElse(notFitted("transformFrame"))
      val taken = df.columns.toSet
      val keyC = fresh("__dre_key__", taken)
      val labelC = fresh("__dre_label__", taken + keyC)
      val codeC = fresh("__dre_code__", taken + keyC + labelC)
      val renamed = table.toDF(labelC, codeC)
      val in = col(inputCol)
      val filled = missingFill.fold(in)(f => coalesce(in, lit(f)))
      val keyed = df.withColumn(keyC, filled.cast("string"))
      val joined = keyed.join(renamed, keyed(keyC) === renamed(labelC), "left")
      // null input (no missing fill) stays null; unseen label → unknownValue
      joined
        .withColumn(outputCol,
          when(col(keyC).isNull, lit(null).cast("long"))
            .otherwise(coalesce(col(codeC), lit(unknownValue))))
        .drop(keyC, labelC, codeC)
    }

    /** Inverse mapping as a frame rewrite (LabelEncoding
      * `inverse_transform_series` analog): code column → original label.
      */
    def inverseTransformFrame(df: DataFrame, inputCol: String, outputCol: String): DataFrame = {
      val table = codes.getOrElse(notFitted("inverseTransformFrame"))
      val taken = df.columns.toSet
      val labelC = fresh("__dre_label__", taken)
      val codeC = fresh("__dre_code__", taken + labelC)
      val renamed = table.toDF(labelC, codeC)
      val joined = df.join(renamed, df(inputCol).cast("long") === renamed(codeC), "left")
      joined.withColumn(outputCol, col(labelC)).drop(labelC, codeC)
    }

    override def state: Map[String, Any] = codes match {
      case None => Map.empty
      case Some(table) =>
        val p = statePath.getOrElse(throw new IllegalStateException(
          s"$name: the fitted code table is DISTRIBUTED (that is the point of this " +
            "processor) and cannot serialize into the pipeline state — set the state_path " +
            "param to a parquet location, or use LabelEncoding for driver-sized label spaces"))
        table.write.mode("overwrite").parquet(p)
        Map("state_path" -> p)
    }
    override def restore(s: Map[String, Any]): Unit = s.get("state_path").foreach { p =>
      codes = Some(org.apache.spark.sql.SparkSession.active.read.parquet(FittedState.string(p)))
    }
  }

  /** Hashing-trick text vectorizer (sklearn `HashingVectorizer` shape): each
    * token buckets by the shared md5-based hash into `dim` slots, features
    * are bucket counts, optionally L2-normalized. NO fit pass, NO vocabulary,
    * NO driver state — the unbounded-vocab TF path a 100 TB corpus needs
    * (the trade: no inverse mapping, collisions fold rare terms together).
    * Shuffle-free: the [[graft.ops.TextAnalysis.hashedTokenFeatures]] counts
    * with the L2 norm fused into the same native kernel
    * ([[graft.functions.HashedTokenCounts]]), O(tokens + dim) per row.
    */
  final class HashedTextVectorization(params: Map[String, Any]) extends SingleColumnProcessor {
    import Processors.P._

    val name = "HashedTextVectorization"
    val inputMLTypes = Seq(MLType.Text)
    val outputMLType = MLType.Vector

    private val dim: Int = opt(params, "dim").map(_.toInt).getOrElse(1024)
    private val norm: String = str(params, "norm", "l2").toLowerCase
    require(dim > 0, s"dim must be positive, got $dim")
    require(norm == "l2" || norm == "none", s"norm must be l2|none, got $norm")

    def transform(in: Column): Column =
      graft.functions.HashedTokenCounts.hashed_token_counts(
        graft.ops.TextAnalysis.tokens(in), dim, norm)
  }

  def registerAll(): Unit = if (!registered) {
    registered = true
    ProcessorRegistry.register(Seq("DenseRankLabelEncoding", "ScalableLabelEncoding"))(
      new DenseRankLabelEncoding(_))
    ProcessorRegistry.register(Seq("HashedTextVectorization", "HashingVectorizer"))(
      new HashedTextVectorization(_))
  }
  private var registered = false
}
