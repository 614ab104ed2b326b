package graft.processor

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.{DriverGather, MLType}

/** TF-IDF vectorization (`src/bears/processor/_text/_TFIDFVectorization
  * .py:16-76`, which wraps sklearn's TfidfVectorizer).
  *
  * We re-derive the same math Spark-first instead of calling a vectorizer:
  *
  *   - tokenization = sklearn's default `(?u)\b\w\w+\b` on lowercased text
  *     (runs of ≥2 word chars);
  *   - fit = one distributed `explode → groupBy(term) → count` document
  *     frequency pass, `min_df` / `max_features` pruning, smooth idf
  *     `ln((1+n)/(1+df)) + 1`, vocabulary indexed by sorted term (sklearn's
  *     convention); the vocabulary broadcasts to executors as literal maps;
  *   - transform = a frame rewrite over higher-order functions producing
  *     the sparse vector struct(size, indices, values), L2 normalized
  *     (sklearn `norm='l2'`). No UDF, no Python, no per-row vectorizer
  *     call.
  *
  * Scale: fit shuffles one row per distinct term (partial-aggregated);
  * transform is embarrassingly parallel. The vocabulary must fit in the
  * driver/broadcast, which is the same constraint sklearn+bears has — but
  * here the corpus itself never leaves the cluster. `max_features` caps it
  * to the top k terms; without it the fit gathers at most
  * [[TfIdfVectorization.UncappedVocabCeiling]] terms and refuses past them.
  */
final class TfIdfVectorization(params: Map[String, Any]) extends FrameLevelProcessor {
  import Processors.P._

  val name = "TFIDFVectorization"
  val inputMLTypes = Seq(MLType.Text)
  val outputMLType =
    if (bool(params, "output_sparse", d = false)) MLType.SparseVector else MLType.Vector

  private val maxFeatures: Option[Int] = opt(params, "max_features").map(_.toInt)
  private val minDf: Long = opt(params, "min_df").map(_.toLong).getOrElse(1L)
  private val outputSparse: Boolean = bool(params, "output_sparse", d = false)

  /** term → (index, idf); index dense over sorted vocabulary. */
  private var vocab: Option[Seq[(String, (Int, Double))]] = None

  /** Fitted vocabulary as (term, index, idf) — sklearn's
    * `get_feature_names_out` + `idf_` surface; bounded by `max_features`.
    */
  def fittedVocabulary: Seq[(String, Int, Double)] =
    vocab.getOrElse(notFitted("fittedVocabulary"))
      .map { case (t, (i, f)) => (t, i, f) }

  /** sklearn's `(?u)\b\w\w+\b`: word runs of >= 2 code points, evaluated by
    * the native [[graft.functions.WordTokens]] codegen kernel (the built-in
    * `filter(split(lower(in), ...), length >= 2)` spelling is pinned
    * element-identical by NativeProbeSpec and remains documented in the
    * q38 oracle SQL).
    */
  private def tokenize(in: Column): Column =
    graft.functions.WordTokens.word_tokens(in, minLen = 2)

  /** Doc-count sentinel woven into the frequency pass: tokens are `\w` runs
    * of ≥2 chars, so a NUL pair can never collide with a real term, and in
    * the (df desc, term asc) ordering the sentinel is provably FIRST — its
    * count n ≥ every term's document frequency, and a term present in all n
    * docs ties but loses the ascending-term break ('\u0000' < every word
    * char).
    */
  private val DocSentinel = "\u0000\u0000"

  override def fit(df: DataFrame, inputCol: String): this.type =
    fit(df, inputCol, TfIdfVectorization.UncappedVocabCeiling)

  /** [[fit]] under a given vocabulary ceiling, so a spec reaches the
    * refusal with a tiny corpus.
    */
  private[graft] def fit(df: DataFrame, inputCol: String, vocabCeiling: Int): this.type = {
    // Driver-memory contract (the sklearn/Spark-ML CountVectorizer
    // contract): the fitted vocabulary lives on the driver. With
    // max_features set, the top-k limit bounds the collect to k+1 rows.
    // With max_features UNSET the collect would gather EVERY distinct term
    // passing minDf — at web scale an effectively unbounded term space — so
    // it gathers at most the ceiling's terms and refuses loudly past them.
    // ONE corpus pass for n AND the document frequencies: every non-null
    // doc emits the sentinel row alongside its distinct tokens, so the
    // doc count rides the same explode → groupBy(term) aggregate instead
    // of a separate full scan (the count carries through minDf/top-k
    // because the sentinel always sorts first — see DocSentinel).
    val exploded = df.filter(col(inputCol).isNotNull)
      .select(explode(concat(array(lit(DocSentinel)),
        array_distinct(tokenize(col(inputCol))))).as("term"))
    val dfreq = exploded
      .groupBy("term").agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf)
    val rows = (maxFeatures match {
      // +1: the sentinel provably heads this ordering and occupies row 0
      case Some(k) => dfreq.orderBy(col("df").desc, col("term")).limit(k + 1).collect()
      // no feature cap: the ceiling's terms plus the sentinel, unordered
      // (find() locates the sentinel); past them the fit refuses LOUDLY
      // instead of gathering an unbounded term space onto the driver (a
      // config-driven pipeline on a web-scale corpus would otherwise OOM
      // the driver by omission)
      case None => DriverGather.atMost(dfreq, vocabCeiling + 1)(
        s"$name.fit: vocabulary exceeds $vocabCeiling terms with " +
          "max_features unset — an unbounded driver collect at this scale. Set max_features " +
          "(top-k by document frequency, the sklearn contract) or use the HashedTextVectorization " +
          "processor (hashing trick — no vocabulary pass, unbounded term space).")
    }).map(r => r.getString(0) -> r.getLong(1))
    // minDf > n leaves no terms AND no sentinel (every df ≤ n < minDf):
    // empty vocabulary, n vacuous
    val n = rows.find(_._1 == DocSentinel).map(_._2).getOrElse {
      require(rows.isEmpty, s"document-count sentinel missing from ${rows.length} fit rows")
      0L
    }
    val terms = rows.filter(_._1 != DocSentinel)
    val sorted = terms.sortBy(_._1)
    vocab = Some(sorted.zipWithIndex.map { case ((t, docf), i) =>
      t -> (i, math.log((1.0 + n) / (1.0 + docf)) + 1.0)
    }.toSeq)
    this
  }

  /** Staged transform: materializes each stage (tokens → entries → norm) as
    * its own projection so every subexpression evaluates ONCE per row. A
    * single Column expression would inline the whole tree at every
    * reference — the HOF lambdas capture the token array and the norm, so
    * tokenization re-runs per term, exponential in stage depth (measured
    * 168s → ~2s at sf0.1). This is why TF-IDF is a frame-level processor.
    */
  def transformFrame(df: DataFrame, inputCol: String, outCol: String): DataFrame = {
    val v = vocab.getOrElse(notFitted("transformFrame"))
    val idxMap = typedLit(v.map { case (t, (i, _)) => t -> i }.toMap)
    val idfMap = typedLit(v.map { case (t, (_, f)) => t -> f }.toMap)
    val size = v.size
    val toks = "__tfidf_toks__"; val entries = "__tfidf_entries__"; val nrm = "__tfidf_norm__"
    val staged = df
      .withColumn(toks, filter(tokenize(col(inputCol)), t => element_at(idxMap, t).isNotNull))
      .withColumn(entries, transform_hof(array_sort(array_distinct(col(toks))), t =>
        struct(
          element_at(idxMap, t).as("i"),
          (size_of_matches(col(toks), t) * element_at(idfMap, t)).as("v"))))
      .withColumn(nrm, sqrt(aggregate(col(entries), lit(0.0),
        (acc, e) => acc + e.getField("v") * e.getField("v"))))
      .withColumn(outCol, struct(
        lit(size).as("size"),
        transform_hof(col(entries), _.getField("i")).as("indices"),
        transform_hof(col(entries), e => (e.getField("v") / col(nrm)).as("v")).as("values")))
      .drop(toks, entries, nrm)
    if (outputSparse) staged
    else staged.withColumn(outCol, new Processors.VectorDensifier(Map.empty).transform(col(outCol)))
  }

  private def transform_hof(arr: Column, f: Column => Column): Column =
    org.apache.spark.sql.functions.transform(arr, f)
  private def size_of_matches(arr: Column, t: Column): Column =
    size(filter(arr, x => x === t)).cast("double")

  /** The vocabulary as a list of (term, index, idf) lists. */
  override def state: Map[String, Any] = vocab.fold(Map.empty[String, Any])(v =>
    Map("vocab" -> v.map { case (t, (i, f)) => Seq(t, i.toLong, f) }))
  override def restore(s: Map[String, Any]): Unit = s.get("vocab").foreach { v =>
    vocab = Some(FittedState.list(v).map(e => FittedState.list(e) match {
      case Seq(t, i, f) => FittedState.string(t) -> (FittedState.long(i).toInt, FittedState.double(f))
      case other => throw new IllegalArgumentException(s"$name state: vocabulary entry $other")
    }))
  }
}

object TfIdfVectorization {
  /** Ceiling for the max_features-UNSET fit collect: 1M (term, df) rows ≈
    * tens of MB of driver heap / broadcast — comfortably safe, far above any
    * vocabulary worth an uncapped dense index, and far below the term space
    * of a web corpus. Past it the fit refuses and points at `max_features`
    * or the hashing-trick `HashedTextVectorization`.
    */
  val UncappedVocabCeiling: Int = 1000000
}
