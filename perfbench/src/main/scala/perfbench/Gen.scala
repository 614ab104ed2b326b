package perfbench

import java.util.SplittableRandom
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generators. The engine never sees the generator: the
  * benchmark writes what it generates as Parquet and the workloads read that.
  * The same seed gives the same rows, in the same order and the same files.
  */
object Gen {

  /** The English stopwords of `TextAnalysis.LangProfiles`: they head the
    * skewed vocabulary, as in real text, so the quality score sees prose.
    */
  val Stopwords: Seq[String] = Seq("the", "and", "of", "to", "is")

  final case class CorpusSpec(
      docs: Int,
      minTokens: Int = 100,
      maxTokens: Int = 400,
      vocab: Int = 5000,
      zipfS: Double = 1.1,
      exactDupFrac: Double = 0.10,
      nearDupFrac: Double = 0.05,
      junkFrac: Double = 0.03,
      editFrac: Double = 0.04)

  /** A generated corpus. `nearDupPairs` are (id, id) of each planted
    * near-duplicate and the document it was edited from; `distinctNormalized`
    * counts distinct texts under `TextAnalysis.fingerprint`'s normalization.
    */
  final case class Corpus(
      spec: CorpusSpec,
      ids: Array[Long],
      texts: Array[String],
      nearDupPairs: Array[(Long, Long)],
      distinctNormalized: Int) {

    def properties: Seq[(String, Any)] = {
      val lens = texts.map(t => Text.tokens(t).length)
      Seq(
        "rows" -> texts.length,
        "tokens_min" -> lens.min,
        "tokens_max" -> lens.max,
        "vocab" -> spec.vocab,
        "zipf_s" -> spec.zipfS,
        "exact_dup_frac" -> (texts.length - distinctNormalized).toDouble / texts.length,
        "near_dup_frac" -> nearDupPairs.length.toDouble / texts.length,
        "junk_frac" -> spec.junkFrac)
    }
  }

  final case class FeedSpec(
      rows: Int,
      minTokens: Int = 8,
      maxTokens: Int = 40,
      vocab: Int = 5000,
      zipfS: Double = 1.1,
      catALevels: Int = 6,
      catBLevels: Int = 40,
      nullCatFrac: Double = 0.08,
      nullNumFrac: Double = 0.10)

  val FeedSchema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("text", StringType),
    StructField("cat_a", StringType),
    StructField("cat_b", StringType),
    StructField("num_x", DoubleType),
    StructField("num_y", DoubleType)))

  val CorpusSchema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("text", StringType)))

  final case class Feed(spec: FeedSpec, rows: Array[Row]) {
    def properties: Seq[(String, Any)] = {
      def nullFrac(i: Int) = rows.count(_.isNullAt(i)).toDouble / rows.length
      val lens = rows.map(r => Text.tokens(r.getString(1)).length)
      Seq(
        "rows" -> rows.length,
        "tokens_min" -> lens.min,
        "tokens_max" -> lens.max,
        "vocab" -> spec.vocab,
        "zipf_s" -> spec.zipfS,
        "null_frac_cat_a" -> nullFrac(2),
        "null_frac_cat_b" -> nullFrac(3),
        "null_frac_num_x" -> nullFrac(4),
        "null_frac_num_y" -> nullFrac(5))
    }
  }

  /** Vocabulary ranked by frequency: stopwords first, then distinct random
    * lower-case words.
    */
  private def vocabulary(rng: SplittableRandom, n: Int): Array[String] = {
    val words = scala.collection.mutable.LinkedHashSet[String](Stopwords: _*)
    while (words.size < n) {
      val len = 2 + rng.nextInt(9)
      words += Iterator.fill(len)(('a' + rng.nextInt(26)).toChar).mkString
    }
    words.toArray
  }

  /** Zipf sampler over ranks 0 until n. */
  private final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = Array.tabulate(n)(r => 1.0 / math.pow(r + 1, s))
      val total = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / total)
    }
    def draw(rng: SplittableRandom): Int = {
      val i = java.util.Arrays.binarySearch(cdf, rng.nextDouble())
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  /** Render tokens as prose: sentences of 6 to 18 words, capitalized and
    * ended with a period, three to five sentences per line. The layout comes
    * from `layoutSeed` alone, so an edited token list keeps its layout.
    */
  private def render(words: Array[String], layoutSeed: Long): String = {
    val rng = new SplittableRandom(layoutSeed)
    val sb = new StringBuilder
    var i = 0
    var sentences = 0
    var lineBreakAt = 3 + rng.nextInt(3)
    while (i < words.length) {
      val n = math.min(words.length - i, 6 + rng.nextInt(13))
      if (sb.nonEmpty) {
        if (sentences == lineBreakAt) { sb.append('\n'); sentences = 0; lineBreakAt = 3 + rng.nextInt(3) }
        else sb.append(' ')
      }
      var j = 0
      while (j < n) {
        val w = words(i + j)
        if (j > 0) sb.append(' ')
        sb.append(if (j == 0) w.capitalize else w)
        j += 1
      }
      sb.append('.')
      sentences += 1
      i += n
    }
    sb.toString
  }

  /** Same text under `fingerprint`'s normalization, different bytes: case
    * and whitespace noise only.
    */
  private def formattingVariant(text: String, rng: SplittableRandom): String = {
    val cased = if (rng.nextBoolean()) text.toUpperCase(java.util.Locale.ROOT)
      else text.split(" ", -1).map(_.capitalize).mkString(" ")
    val spaced = cased.flatMap(c => if (c == ' ' && rng.nextInt(10) == 0) "  " else c.toString)
    " \t" + spaced + "\n "
  }

  def corpus(seed: Long, spec: CorpusSpec): Corpus = {
    val rng = new SplittableRandom(seed)
    val vocab = vocabulary(rng, spec.vocab)
    val zipf = new Zipf(spec.vocab, spec.zipfS)
    val nExact = (spec.docs * spec.exactDupFrac).round.toInt
    val nNear = (spec.docs * spec.nearDupFrac).round.toInt
    val nBase = spec.docs - nExact - nNear
    val nJunk = (spec.docs * spec.junkFrac).round.toInt
    require(nNear + nExact <= nBase - nJunk, s"too many duplicates for $spec")

    val baseTokens = Array.tabulate(nBase) { b =>
      val len = spec.minTokens + rng.nextInt(spec.maxTokens - spec.minTokens + 1)
      Array.tabulate(len) { _ =>
        // junk documents are mostly numbers, which the Gopher rules reject
        if (b < nJunk && rng.nextInt(10) < 6) (1000 + rng.nextInt(9000)).toString
        else vocab(zipf.draw(rng))
      }
    }
    val layouts = Array.fill(nBase)(rng.nextLong())
    val baseTexts = Array.tabulate(nBase)(b => render(baseTokens(b), layouts(b)))

    // distinct clean bases for the near and exact copies
    val order = shuffled((nJunk until nBase).toArray, rng)
    val nearBases = order.take(nNear)
    val exactBases = order.slice(nNear, nNear + nExact)
    val nearTexts = nearBases.map { b =>
      val toks = baseTokens(b).clone()
      val edits = math.max(1, (toks.length * spec.editFrac).round.toInt)
      var changed = 0
      while (changed < edits) {
        val i = rng.nextInt(toks.length)
        val w = vocab(zipf.draw(rng))
        if (w != toks(i)) { toks(i) = w; changed += 1 }
      }
      render(toks, layouts(b))
    }
    val exactTexts = exactBases.map(b => formattingVariant(baseTexts(b), rng))

    // (text, base index, kind); ids are positions after a shuffle
    val (base, near, exact) = (0, 1, 2)
    val all = baseTexts.indices.map(b => (baseTexts(b), b, base)) ++
      nearBases.indices.map(i => (nearTexts(i), nearBases(i), near)) ++
      exactBases.indices.map(i => (exactTexts(i), exactBases(i), exact))
    val placed = shuffled(all.toArray, rng)
    val idOfBase = new Array[Long](nBase)
    placed.zipWithIndex.foreach { case ((_, b, kind), id) => if (kind == base) idOfBase(b) = id }
    val nearPairs = placed.zipWithIndex.collect {
      case ((_, b, `near`), id) => (idOfBase(b), id.toLong)
    }
    val texts = placed.map(_._1)
    Corpus(spec, texts.indices.map(_.toLong).toArray, texts, nearPairs,
      texts.map(Text.normalize).distinct.length)
  }

  def feed(seed: Long, spec: FeedSpec): Feed = {
    val rng = new SplittableRandom(seed)
    val vocab = vocabulary(rng, spec.vocab)
    val zipf = new Zipf(spec.vocab, spec.zipfS)
    val catB = new Zipf(spec.catBLevels, 1.0)
    def maybe[T](frac: Double)(v: => T): Any = if (rng.nextDouble() < frac) null else v
    val rows = Array.tabulate(spec.rows) { i =>
      val len = spec.minTokens + rng.nextInt(spec.maxTokens - spec.minTokens + 1)
      val text = render(Array.fill(len)(vocab(zipf.draw(rng))), rng.nextLong())
      Row(i.toLong, text,
        maybe(spec.nullCatFrac)(s"a${rng.nextInt(spec.catALevels)}"),
        maybe(spec.nullCatFrac)(s"b${catB.draw(rng)}"),
        maybe(spec.nullNumFrac)(math.round(rng.nextGaussian() * 1000) / 100.0),
        maybe(spec.nullNumFrac)(math.round(math.exp(rng.nextGaussian()) * 1000) / 1000.0))
    }
    Feed(spec, rows)
  }

  private def shuffled[T](xs: Array[T], rng: SplittableRandom): Array[T] = {
    val a = xs.clone()
    var i = a.length - 1
    while (i > 0) {
      val j = rng.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a
  }

  /** The generated rows as a frame with a fixed partitioning (four slices),
    * so the written files are the same for the same seed.
    */
  def frame(spark: SparkSession, rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema)

  def corpusFrame(spark: SparkSession, c: Corpus): DataFrame =
    frame(spark, c.ids.indices.map(i => Row(c.ids(i), c.texts(i))), CorpusSchema)

  def feedFrame(spark: SparkSession, f: Feed): DataFrame =
    frame(spark, f.rows.toSeq, FeedSchema)

  def writeParquet(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").parquet(path)
}

/** Driver-side references for the engine's text functions, used by output
  * checks. Each mirrors the engine function named in its doc.
  */
object Text {

  /** `TextAnalysis.fingerprint`'s normalization: lower case, whitespace
    * runs to one space, trimmed.
    */
  def normalize(t: String): String =
    t.toLowerCase(java.util.Locale.ROOT).replaceAll("\\s+", " ").trim

  /** `TextAnalysis.tokens`: lower-cased runs of letters, digits and `_`. */
  def tokens(t: String): Array[String] =
    t.toLowerCase(java.util.Locale.ROOT).split("[^\\p{L}\\p{N}_]+").filter(_.nonEmpty)

  /** `Dedup.jaccard` over distinct word `k`-shingles, rounded to 4 places
    * as `Dedup.verifiedHubEdges` rounds it.
    */
  def jaccard(a: String, b: String, k: Int = 3): Double = {
    def sh(t: String) = tokens(t).sliding(k).filter(_.length == k).map(_.mkString(" ")).toSet
    val (x, y) = (sh(a), sh(b))
    val union = (x | y).size
    val j = if (union == 0) 0.0 else (x & y).size.toDouble / union
    BigDecimal(j).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
  }
}
