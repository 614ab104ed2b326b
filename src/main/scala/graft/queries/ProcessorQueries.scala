package graft.queries

import org.apache.spark.sql.functions._
import graft.core.GraftSession.table
import graft.ops.Snapshots
import graft.processor.Processors._
import graft.processor.TfIdfVectorization

/** Processor corpus (SURVEY.md §2.10): every reference processor driven
  * through the [[graft.processor]] implementations and verified against a
  * from-scratch SQL re-derivation in DuckDB.
  */
object ProcessorQueries {

  /** CaseTransformation + HtmlTagRemoval + PunctuationCleaner chained — all
    * three compile into one codegen'd projection.
    */
  val q30_text_cleaning: Q = Q(
    fn = (s, dir) => {
      val lowerP = new CaseTransformation(Map("case" -> "lower"))
      val html = new HtmlTagRemoval(Map.empty)
      val punct = new PunctuationCleaner(Map.empty)
      table(s, dir, "documents")
        .withColumn("tagged", concat(lit("<p class='x'>"), col("text"), lit("</p>")))
        .withColumn("cleaned", punct.transform(html.transform(lowerP.transform(col("tagged")))))
        .select(col("doc_id"), substring(col("cleaned"), 1, 80).as("cleaned_prefix"))
        .orderBy(col("doc_id"))
    },
    oracle = Some("""
      SELECT doc_id,
             substr(translate(regexp_replace(lower('<p class=''x''>' || text || '</p>'),
                                             '<.*?>', '', 'g'),
                              '!"#$%&''()*+,-./:;<=>?@[\]^_`{|}~',
                              '                                '),
                    1, 80) AS cleaned_prefix
      FROM documents
      ORDER BY doc_id"""))

  /** RegexSubstitution (ordered, ignorecase) + StringRemoval (literal). */
  val q31_regex_removal: Q = Q(
    fn = (s, dir) => {
      val re = new RegexSubstitution(Map(
        "substitution_list" -> Seq(Seq("ba+tch", "chunk"), Seq("SPARK", "engine")),
        "ignorecase" -> true))
      val rm = new StringRemoval(Map("removal_list" -> Seq("the ", "slow ")))
      table(s, dir, "documents")
        .withColumn("out", rm.transform(re.transform(col("text"))))
        .select(col("doc_id"), substring(col("out"), 1, 80).as("out_prefix"))
        .orderBy(col("doc_id"))
    },
    oracle = Some("""
      SELECT doc_id,
             substr(replace(replace(regexp_replace(regexp_replace(text, '(?i)ba+tch', 'chunk', 'g'),
                                                   '(?i)SPARK', 'engine', 'g'),
                            'the ', ''), 'slow ', ''),
                    1, 80) AS out_prefix
      FROM documents
      ORDER BY doc_id"""))

  /** TextConcatenation (N:1): fit orders columns by name ascending; prefix
    * mode on; nulls → '' with separators kept.
    */
  val q32_text_concat: Q = Q(
    fn = (s, dir) => {
      val docs = table(s, dir, "documents")
        .withColumn("src", when(col("doc_id") % 7 === 0, lit(null)).otherwise(col("source")))
      val tc = new TextConcatenation(Map(
        "sep" -> " | ", "prefix_col_name" -> true, "prefix_col_sep" -> "="))
      tc.fit(docs, Seq("lang", "src"))
      docs.withColumn("combined", tc.transform(docs, Seq("lang", "src")))
        .select(col("doc_id"), col("combined"))
        .orderBy(col("doc_id"))
    },
    oracle = Some("""
      SELECT doc_id,
             'lang=' || coalesce(lang, '') || ' | ' || 'src=' ||
             coalesce(CASE WHEN doc_id % 7 = 0 THEN NULL ELSE source END, '') AS combined
      FROM documents
      ORDER BY doc_id"""))

  /** LabelEncoding one_to_n: sorted distinct labels → 1..N — equivalent to
    * dense_rank over the label sort; plus unknown-label fill (0) for labels
    * absent at fit, and the inverse transform round-trip.
    */
  val q33_label_encoding: Q = Q(
    fn = (s, dir) => {
      val docs = table(s, dir, "documents")
      val enc = new LabelEncoding(Map("encoding_range" -> "one_to_n"))
      // fit only on non-'zh' docs, so 'zh' becomes an unknown label at transform
      enc.fit(docs.filter(col("lang") =!= "zh"), "lang")
      docs
        .withColumn("lang_enc", enc.transform(col("lang")))
        .withColumn("lang_back", enc.inverseTransform(col("lang_enc")))
        .groupBy(col("lang"), col("lang_enc"), col("lang_back"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("lang"))
    },
    oracle = Some("""
      WITH enc AS (
        SELECT lang AS l, row_number() OVER (ORDER BY lang) AS code
        FROM (SELECT DISTINCT lang FROM documents WHERE lang <> 'zh'))
      SELECT lang,
             CASE WHEN lang IS NULL THEN NULL
                  ELSE coalesce(enc.code, 0) END AS lang_enc,
             enc.l AS lang_back, count(*) AS n
      FROM documents LEFT JOIN enc ON documents.lang = enc.l
      GROUP BY lang, enc.code, enc.l
      ORDER BY lang"""))

  /** LabelAffix prefix/suffix; null labels preserved as null. */
  val q34_label_affix: Q = Q(
    fn = (s, dir) => {
      val affix = new LabelAffix(Map("prefix" -> "lang_", "suffix" -> "_v1"))
      table(s, dir, "documents")
        .withColumn("lang_tag", affix.transform(col("lang")))
        .groupBy(col("lang_tag")).agg(count(lit(1)).as("n"))
        .orderBy(col("lang_tag"))
    },
    oracle = Some("""
      SELECT 'lang_' || lang || '_v1' AS lang_tag, count(*) AS n
      FROM documents
      GROUP BY lang
      ORDER BY lang_tag"""))

  /** Numeric (mean/median/min) + categorical (mode) imputation: fit
    * statistics on the non-null population, fill synthesized nulls.
    */
  val q35_imputation: Q = Q(
    fn = (s, dir) => {
      val ev = table(s, dir, "events")
        .withColumn("v", when(col("value") < 50, lit(null)).otherwise(col("value")))
        .withColumn("et", when(col("value") < 50, lit(null)).otherwise(col("event_type")))
      val meanImp = new NumericMissingValueImputation(Map("strategy" -> "mean")).fit(ev, "v")
      val medImp = new NumericMissingValueImputation(Map("strategy" -> "median")).fit(ev, "v")
      val minImp = new NumericMissingValueImputation(Map("strategy" -> "min")).fit(ev, "v")
      val modeImp = new CategoricalMissingValueImputation(Map("strategy" -> "mode")).fit(ev, "et")
      ev.select(
        col("event_id"),
        round(meanImp.transform(col("v")), 4).as("v_mean"),
        round(medImp.transform(col("v")), 4).as("v_median"),
        round(minImp.transform(col("v")), 4).as("v_min"),
        modeImp.transform(col("et")).as("et_mode"))
        .orderBy(col("event_id"))
    },
    oracle = Some("""
      WITH base AS (
        SELECT event_id,
               CASE WHEN value < 50 THEN NULL ELSE value END AS v,
               CASE WHEN value < 50 THEN NULL ELSE event_type END AS et
        FROM events)
      SELECT event_id,
             round(coalesce(v, (SELECT avg(v) FROM base)), 4) AS v_mean,
             round(coalesce(v, (SELECT median(v) FROM base)), 4) AS v_median,
             round(coalesce(v, (SELECT min(v) FROM base)), 4) AS v_min,
             coalesce(et, (SELECT mode(et) FROM base)) AS et_mode
      FROM base
      ORDER BY event_id"""))

  /** VectorAssembler (N:1): scalar + array columns flatten into one dense
    * array<double>; verified via element/shape projections.
    */
  val q36_vector_assembler: Q = Q(
    fn = (s, dir) => {
      val emb = table(s, dir, "embeddings")
      val va = new VectorAssembler(Map("handle_invalid" -> "keep"))
      emb.withColumn("vec", va.transform(emb, Seq("embedding", "label")))
        .select(
          col("vec_id"),
          size(col("vec")).cast("long").as("dim"),
          round(element_at(col("vec"), 1), 4).as("first"),
          round(element_at(col("vec"), -1), 4).as("last"))
        .orderBy(col("vec_id"))
    },
    oracle = Some("""
      SELECT vec_id,
             len(embedding) + 1 AS dim,
             round(CAST(embedding[1] AS DOUBLE), 4) AS first,
             round(CAST(label AS DOUBLE), 4) AS last
      FROM embeddings
      ORDER BY vec_id"""))

  /** VectorDensifier: sparse struct(size, indices, values) → dense array,
    * expanded without a UDF; first-match semantics on duplicate indices.
    */
  val q37_vector_densifier: Q = Q(
    fn = (s, dir) => {
      val vd = new VectorDensifier(Map.empty)
      val emb = table(s, dir, "embeddings")
        .withColumn("sparse", struct(
          lit(8).as("size"),
          array(lit(0), (col("label") % 8).cast("int")).as("indices"),
          array(lit(1.0), lit(2.0)).as("values")))
      emb.withColumn("dense", vd.transform(col("sparse")))
        .select(
          col("vec_id"),
          element_at(col("dense"), 1).as("d0"),
          element_at(col("dense"), 3).as("d2"),
          round(aggregate(col("dense"), lit(0.0), (a, x) => a + x), 4).as("total"))
        .orderBy(col("vec_id"))
    },
    oracle = Some("""
      SELECT vec_id,
             CAST(1.0 AS DOUBLE) AS d0,
             CAST(CASE WHEN label % 8 = 2 THEN 2.0 ELSE 0.0 END AS DOUBLE) AS d2,
             -- null label -> null second index: the densifier skips it, so
             -- only the index-0 write (1.0) lands
             CAST(CASE WHEN label IS NULL OR label % 8 = 0 THEN 1.0
                       ELSE 3.0 END AS DOUBLE) AS total
      FROM embeddings
      ORDER BY vec_id"""))

  /** TF-IDF end-to-end: fit vocabulary (max_features=20) on the corpus,
    * transform every doc, emit the non-zero (doc, term-index, weight)
    * entries — the oracle re-derives the whole computation (tokenize → df →
    * smooth idf → L2 norm) from first principles in SQL.
    */
  val q38_tfidf: Q = Q(
    fn = (s, dir) => {
      // spread before the tokenize/HOF kernels — the corpus is one parquet
      // row group, i.e. ONE scan task (see LlmOpsQueries.docsC)
      val docs = graft.ops.Scale.spreadForCompute(table(s, dir, "documents"),
        fence = Seq("text"))
      val tfidf = new TfIdfVectorization(Map("max_features" -> 20, "output_sparse" -> true))
      tfidf.fit(docs, "text")
      // eager cut before the global sort: a range exchange SAMPLES its
      // child before shuffling it, and this child (tokenize + HOF
      // vectorization) is shuffle-free — unstaged, the whole transform
      // would execute twice (once for range bounds, once for real)
      val entries = Snapshots.cut(tfidf.transformFrame(docs, "text", "vec")
        .select(col("doc_id"),
          posexplode(arrays_zip(col("vec.indices"), col("vec.values"))).as(Seq("pos", "entry")))
        .select(
          col("doc_id"),
          col("entry.indices").cast("long").as("term_idx"),
          round(col("entry.values"), 4).as("w")))
      entries.orderBy(col("doc_id"), col("term_idx"))
    },
    oracle = Some("""
      WITH toks AS (
        SELECT doc_id, u.t
        FROM documents,
             UNNEST(list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}_]+'),
                                x -> length(x) >= 2)) AS u(t)),
      -- n counts NON-NULL docs: the engine's fit filters null text before
      -- emitting its doc-count sentinel (sklearn would raise on None)
      n AS (SELECT count(*) AS n FROM documents WHERE text IS NOT NULL),
      dfreq AS (SELECT t, count(DISTINCT doc_id) AS df FROM toks GROUP BY t),
      vocab AS (
        SELECT t, df, row_number() OVER (ORDER BY t) - 1 AS idx
        FROM (SELECT * FROM dfreq ORDER BY df DESC, t LIMIT 20)),
      tf AS (SELECT doc_id, t, count(*) AS tf FROM toks GROUP BY doc_id, t),
      ent AS (
        SELECT doc_id, idx, tf * (ln((1 + n.n) / (1 + vocab.df)) + 1) AS v
        FROM tf JOIN vocab USING (t) CROSS JOIN n),
      nrm AS (SELECT doc_id, sqrt(sum(v * v)) AS nrm FROM ent GROUP BY doc_id)
      SELECT ent.doc_id AS doc_id, idx AS term_idx, round(v / nrm.nrm, 4) AS w
      FROM ent JOIN nrm ON ent.doc_id = nrm.doc_id
      ORDER BY ent.doc_id, term_idx"""),
    bench = true)

  /** Per-doc keyword extraction: top-3 TF-IDF terms
    * ([[TfIdfVectorization.fittedVocabulary]] maps indices back to terms;
    * ties break by vocabulary index, exact because equal (tf, df) pairs
    * produce bit-identical weights in both engines).
    */
  val q211_keywords: Q = Q(
    fn = (s, dir) => {
      val docs = table(s, dir, "documents")
      val tfidf = new TfIdfVectorization(Map("max_features" -> 20, "output_sparse" -> true))
      tfidf.fit(docs, "text")
      val entries = tfidf.transformFrame(docs, "text", "vec")
        .select(col("doc_id"),
          posexplode(arrays_zip(col("vec.indices"), col("vec.values"))).as(Seq("pos", "entry")))
        .select(col("doc_id"), col("entry.indices").cast("long").as("term_idx"),
          col("entry.values").as("w"))
      val vocabDf = s.createDataFrame(
        tfidf.fittedVocabulary.map { case (t, i, _) => (i.toLong, t) })
        .toDF("term_idx", "term")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id")).orderBy(col("w").desc, col("term_idx"))
      entries.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .join(broadcast(vocabDf), Seq("term_idx"))
        .select(col("doc_id"), col("rank").cast("long").as("rank"),
          col("term"), round(col("w"), 4).as("w"))
        .orderBy(col("doc_id"), col("rank"))
    },
    oracle = Some("""
      WITH toks AS (
        SELECT doc_id, u.t
        FROM documents,
             UNNEST(list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}_]+'),
                                x -> length(x) >= 2)) AS u(t)),
      -- n counts NON-NULL docs: the engine's fit filters null text before
      -- emitting its doc-count sentinel (sklearn would raise on None)
      n AS (SELECT count(*) AS n FROM documents WHERE text IS NOT NULL),
      dfreq AS (SELECT t, count(DISTINCT doc_id) AS df FROM toks GROUP BY t),
      vocab AS (
        SELECT t, df, row_number() OVER (ORDER BY t) - 1 AS idx
        FROM (SELECT * FROM dfreq ORDER BY df DESC, t LIMIT 20)),
      tf AS (SELECT doc_id, t, count(*) AS tf FROM toks GROUP BY doc_id, t),
      ent AS (
        SELECT doc_id, t, idx, tf * (ln((1 + n.n) / (1 + vocab.df)) + 1) AS v
        FROM tf JOIN vocab USING (t) CROSS JOIN n),
      nrm AS (SELECT doc_id, sqrt(sum(v * v)) AS nrm FROM ent GROUP BY doc_id),
      wtd AS (
        SELECT ent.doc_id, ent.t AS term, ent.idx, v / nrm.nrm AS w,
               row_number() OVER (PARTITION BY ent.doc_id
                 ORDER BY v / nrm.nrm DESC, ent.idx) AS rank
        FROM ent JOIN nrm ON ent.doc_id = nrm.doc_id)
      SELECT doc_id, CAST(rank AS BIGINT) AS rank, term, round(w, 4) AS w
      FROM wtd WHERE rank <= 3
      ORDER BY doc_id, rank"""))

  /** DenseRankLabelEncoding — the distributed-fitted-state LabelEncoding for
    * unbounded label cardinality (round-12 verdict item 4): all four range
    * modes on lineitem — one_to_n over the high-cardinality numeric
    * l_partkey (numeric sort, like np.unique), zero_to_n_minus_one over
    * l_returnflag, both binary modes over the 2-value l_linestatus. The
    * oracle re-derives each code table as row_number over sorted distinct
    * labels and joins — exactly the semantics, independently spelled.
    */
  val q214_dense_rank_encoding: Q = Q(
    fn = (s, dir) => {
      import graft.processor.ScalableEncoders.DenseRankLabelEncoding
      val li = table(s, dir, "lineitem")
      def fitted(range: String, c: String): DenseRankLabelEncoding = {
        val e = new DenseRankLabelEncoding(Map("encoding_range" -> range))
        e.fit(li, c); e
      }
      val encPart = fitted("one_to_n", "l_partkey")
      val encMode = fitted("zero_to_n_minus_one", "l_returnflag")
      val encBin = fitted("binary_zero_one", "l_linestatus")
      val encPm = fitted("binary_plus_minus_one", "l_linestatus")
      var out = encPart.transformFrame(li, "l_partkey", "part_code")
      out = encMode.transformFrame(out, "l_returnflag", "mode_code")
      out = encBin.transformFrame(out, "l_linestatus", "status01")
      out = encPm.transformFrame(out, "l_linestatus", "status_pm")
      out.select(col("l_orderkey"), col("l_linenumber"), col("part_code"),
          col("mode_code"), col("status01"), col("status_pm"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    },
    oracle = Some("""
      WITH pc AS (SELECT k, CAST(row_number() OVER (ORDER BY k) AS BIGINT) AS c
                  FROM (SELECT DISTINCT l_partkey AS k FROM lineitem)),
           mc AS (SELECT k, CAST(row_number() OVER (ORDER BY k) - 1 AS BIGINT) AS c
                  FROM (SELECT DISTINCT l_returnflag AS k FROM lineitem)),
           sc AS (SELECT k,
                         CAST(row_number() OVER (ORDER BY k) - 1 AS BIGINT) AS c01,
                         CAST(CASE WHEN row_number() OVER (ORDER BY k) = 1
                              THEN -1 ELSE 1 END AS BIGINT) AS cpm
                  FROM (SELECT DISTINCT l_linestatus AS k FROM lineitem))
      SELECT l.l_orderkey, l.l_linenumber, pc.c AS part_code, mc.c AS mode_code,
             sc.c01 AS status01, sc.cpm AS status_pm
      FROM lineitem l
      JOIN pc ON l.l_partkey = pc.k
      JOIN mc ON l.l_returnflag = mc.k
      JOIN sc ON l.l_linestatus = sc.k
      ORDER BY l.l_orderkey, l.l_linenumber"""))

  val all: Map[String, Q] = Map(
    "q211_keywords" -> q211_keywords,
    "q214_dense_rank_encoding" -> q214_dense_rank_encoding,
    "q30_text_cleaning" -> q30_text_cleaning,
    "q31_regex_removal" -> q31_regex_removal,
    "q32_text_concat" -> q32_text_concat,
    "q33_label_encoding" -> q33_label_encoding,
    "q34_label_affix" -> q34_label_affix,
    "q35_imputation" -> q35_imputation,
    "q36_vector_assembler" -> q36_vector_assembler,
    "q37_vector_densifier" -> q37_vector_densifier,
    "q38_tfidf" -> q38_tfidf)
}
