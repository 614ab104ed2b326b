package graft.queries

import org.apache.spark.sql.functions._
import graft.core.GraftSession.table
import graft.ops.{Bpe, Dedup, Multimodal, Similarity, Snapshots, TextAnalysis}

/** LLM-training-data operator corpus (SURVEY.md §7 M5b; graded first-class):
  * dedup (exact / MinHash+LSH / SimHash / n-gram Jaccard / embedding-cosine),
  * similarity search (brute-force + LSH-bucketed ANN), text analysis, and
  * multimodal plumbing — every oracle re-derives the full computation in SQL
  * from the shared engine-portable md5-based hash.
  */
object LlmOpsQueries {

  /** Shared SQL fragment: 60-bit hash of an expression (= TextAnalysis.hash60). */
  private def h60(sqlExpr: String): String =
    s"CAST(('0x' || substr(md5($sqlExpr), 1, 15)) AS BIGINT)"

  /** The documents table spread for COMPUTE-heavy per-doc kernels
    * ([[graft.ops.Scale.spreadForCompute]]): the corpus ships as one parquet
    * row group, so scan parallelism is 1 task no matter the core count —
    * tokenization/entropy/n-gram kernels then run single-threaded (measured
    * 6-9 s single-task stages at sf1.0, ~0.5 s once spread). Used by the
    * kernel-heavy queries; plain projections keep the bare scan.
    */
  private def docsC(s: org.apache.spark.sql.SparkSession, dir: String) =
    graft.ops.Scale.spreadForCompute(table(s, dir, "documents"), fence = Seq("text"))

  /** Whitespace + BPE-ish token counting. */
  val q50_token_counts: Q = Q(
    fn = (s, dir) =>
      table(s, dir, "documents")
        .select(
          col("doc_id"),
          TextAnalysis.tokenCount(col("text")).as("n_tokens"),
          TextAnalysis.bpeishTokenCount(col("text")).as("n_bpeish"))
        .orderBy(col("doc_id")),
    oracle = Some("""
      SELECT doc_id,
             len(list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}_]+'),
                             x -> length(x) >= 1)) AS n_tokens,
             len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')) AS n_bpeish
      FROM documents
      ORDER BY doc_id"""))

  /** Exact dedup via normalized 60-bit fingerprint: duplicate half the
    * corpus under new ids, dedup keeps the min id per digest group.
    */
  val q51_exact_dedup: Q = Q(
    fn = (s, dir) => {
      val docs = docsC(s, dir).select(col("doc_id"), col("text"))
      val dupes = docs.filter(col("doc_id") % 2 === 0)
        .withColumn("doc_id", col("doc_id") + 1000000)
      val corpus = docs.unionByName(dupes)
      Dedup.exactDedup(corpus, col("text"), col("doc_id"))
        .select(col("keep_id"), col("dups"))
        .orderBy(col("keep_id"))
    },
    oracle = Some(s"""
      WITH corpus AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 2 = 0)
      SELECT min(doc_id) AS keep_id, count(*) AS dups
      FROM corpus
      GROUP BY ${h60("trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))")}
      ORDER BY keep_id"""),
    bench = true)

  /** MinHash signatures: 8 salted hash functions over 3-shingles — the
    * oracle recomputes every signature element.
    */
  val q52_minhash_signature: Q = Q(
    fn = (s, dir) =>
      table(s, dir, "documents").filter(col("doc_id") < 100)
        .select(
          col("doc_id"),
          posexplode(Dedup.minhashSignature(col("text"), k = 3, numHashes = 4)).as(Seq("h", "sig")))
        .select(col("doc_id"), col("h").cast("long").as("h"), col("sig"))
        .orderBy(col("doc_id"), col("h")),
    oracle = Some(s"""
      WITH toks AS (
        SELECT doc_id, list_filter(string_split_regex(lower(text), '[^\\p{L}\\p{N}_]+'),
                                   x -> length(x) >= 1) AS t
        FROM documents WHERE doc_id < 100),
      sh AS (
        SELECT doc_id,
               CASE WHEN len(t) < 3 THEN [coalesce(array_to_string(t, ' '), '')]
                    ELSE list_transform(generate_series(1, len(t) - 2),
                                        i -> array_to_string(t[i:i+2], ' ')) END AS shingles
        FROM toks),
      ex AS (SELECT doc_id, u.s FROM sh, UNNEST(shingles) u(s)),
      salted AS (
        SELECT doc_id, r.h, min(${h60("(r.h || ':' || s)")}) AS sig
        FROM ex CROSS JOIN range(4) r(h)
        GROUP BY doc_id, r.h)
      -- full doc x h grid: a null-text doc has NULL shingles (dropped by the
      -- UNNEST above) but the engine still emits its 4 (h, NULL-sig) rows —
      -- transform() over the literal hash sequence is null-tolerant
      SELECT d.doc_id, r.h, s.sig
      FROM (SELECT doc_id FROM documents WHERE doc_id < 100) d
      CROSS JOIN range(4) r(h)
      LEFT JOIN salted s ON s.doc_id = d.doc_id AND s.h = r.h
      ORDER BY d.doc_id, r.h"""))

  /** MinHash LSH banding → candidate pairs (band bucket join), then exact
    * n-gram Jaccard verification of each candidate — the full near-dup
    * pipeline. Near-dups are synthesized by appending a word to half the
    * docs under shifted ids.
    */
  val q53_minhash_lsh_jaccard: Q = Q(
    fn = (s, dir) => {
      val docs = docsC(s, dir).filter(col("doc_id") < 200)
        .select(col("doc_id"), col("text"))
      val near = docs.filter(col("doc_id") % 2 === 0)
        .withColumn("doc_id", col("doc_id") + 1000000)
        .withColumn("text", concat(col("text"), lit(" appended")))
      val corpus = docs.unionByName(near)
      // candidates + Jaccard verification with cache lifecycle handled by the
      // operator (shingle frame persisted across both pair sides, released
      // after the verified pairs materialize)
      Dedup.verifiedNearDupPairs(corpus, col("text"), col("doc_id"),
        k = 3, numHashes = 4, bands = 2, threshold = 0.5)
        .orderBy(col("id_a"), col("id_b"))
    },
    oracle = Some(s"""
      WITH corpus AS (
        SELECT doc_id, text FROM documents WHERE doc_id < 200
        UNION ALL
        SELECT doc_id + 1000000, text || ' appended' FROM documents
        WHERE doc_id < 200 AND doc_id % 2 = 0),
      toks AS (
        SELECT doc_id, list_filter(string_split_regex(lower(text), '[^\\p{L}\\p{N}_]+'),
                                   x -> length(x) >= 1) AS t
        FROM corpus),
      sh AS (
        SELECT doc_id,
               CASE WHEN len(t) < 3 THEN [coalesce(array_to_string(t, ' '), '')]
                    ELSE list_transform(generate_series(1, len(t) - 2),
                                        i -> array_to_string(t[i:i+2], ' ')) END AS shingles
        FROM toks),
      ex AS (SELECT doc_id, u.s FROM sh, UNNEST(shingles) u(s)),
      sig AS (
        SELECT doc_id, r.h, min(${h60("(r.h || ':' || s)")}) AS sig
        FROM ex CROSS JOIN range(4) r(h)
        GROUP BY doc_id, r.h),
      band AS (
        SELECT doc_id, h // 2 AS band,
               ${h60("array_to_string(list(sig ORDER BY h), ',')")} AS band_hash
        FROM sig
        GROUP BY doc_id, h // 2),
      cand AS (
        SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
        FROM band l JOIN band r
          ON l.band = r.band AND l.band_hash = r.band_hash AND l.doc_id < r.doc_id),
      jacs AS (
        SELECT id_a, id_b,
               round(
                 len(list_intersect(list_distinct(sa.shingles), list_distinct(sb.shingles)))::DOUBLE /
                 len(list_distinct(list_concat(list_distinct(sa.shingles), list_distinct(sb.shingles)))),
                 4) AS jac
        FROM cand
        JOIN sh sa ON sa.doc_id = id_a
        JOIN sh sb ON sb.doc_id = id_b)
      SELECT id_a, id_b, jac FROM jacs
      WHERE jac >= 0.5
      ORDER BY id_a, id_b"""),
    bench = true)

  /** SimHash (16-bit here; 32/64 in the library) + hamming distance to the
    * corpus medoid doc 0 — bit-level oracle via range cross join.
    */
  val q54_simhash_hamming: Q = Q(
    fn = (s, dir) => {
      val docs = table(s, dir, "documents").filter(col("doc_id") < 100)
      val withSim = docs.select(col("doc_id"),
        Dedup.simhash(col("text"), bits = 16).as("simhash"))
      val ref = withSim.filter(col("doc_id") === 0).select(col("simhash").as("ref_sim"))
      withSim.crossJoin(broadcast(ref))
        .select(col("doc_id"), col("simhash"),
          Dedup.hamming(col("simhash"), col("ref_sim")).as("ham"))
        .orderBy(col("doc_id"))
    },
    oracle = Some(s"""
      WITH toks AS (
        SELECT doc_id, u.t
        FROM (SELECT doc_id, list_filter(string_split_regex(lower(text), '[^\\p{L}\\p{N}_]+'),
                                         x -> length(x) >= 1) AS t
              FROM documents WHERE doc_id < 100) d, UNNEST(d.t) u(t)),
      h AS (SELECT doc_id, ${h60("t")} AS hv FROM toks),
      bits AS (
        SELECT doc_id, r.k,
               CASE WHEN sum(2 * ((hv >> r.k) & 1) - 1) > 0
                    THEN CAST(1 AS BIGINT) << r.k ELSE 0 END AS bit
        FROM h CROSS JOIN range(16) r(k)
        GROUP BY doc_id, r.k),
      sh AS (SELECT doc_id, CAST(sum(bit) AS BIGINT) AS simhash FROM bits GROUP BY doc_id)
      -- full doc set: a null/empty-token doc has no token rows (dropped by
      -- the UNNEST) but the engine's simhash is the all-zero bit vector (no
      -- bit sum goes positive) — emit simhash 0, not a dropped row
      SELECT a.doc_id,
             coalesce(s.simhash, 0) AS simhash,
             CAST(bit_count(xor(coalesce(s.simhash, 0),
               (SELECT coalesce(max(simhash), 0) FROM sh WHERE doc_id = 0))) AS BIGINT) AS ham
      FROM (SELECT doc_id FROM documents WHERE doc_id < 100) a
      LEFT JOIN sh s USING (doc_id)
      ORDER BY a.doc_id"""))

  /** Brute-force cosine top-k over embeddings (queries = vec_id < 3): the
    * exact ANN baseline. The oracle computes the dot products with the same
    * sequential summation order.
    */
  val q55_cosine_topk: Q = Q(
    fn = (s, dir) => {
      val emb = table(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 3)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      val corpus = emb.select(col("vec_id").as("c_id"), col("embedding").as("c_vec"))
      Similarity.bruteForceTopK(queries, broadcast(corpus), "q_id", "q_vec", "c_id", "c_vec", k = 5)
        .orderBy(col("q_id"), col("rank"))
    },
    oracle = Some("""
      WITH q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 3),
      c AS (SELECT vec_id AS c_id, embedding::DOUBLE[] AS cv FROM embeddings),
      scored AS (
        SELECT q_id, c_id,
               list_sum(list_transform(range(1, 65), i -> qv[i] * cv[i])) /
               sqrt(list_sum(list_transform(range(1, 65), i -> qv[i] * qv[i]))) /
               sqrt(list_sum(list_transform(range(1, 65), i -> cv[i] * cv[i]))) AS cos
        FROM q CROSS JOIN c
        WHERE q_id <> c_id),
      ranked AS (
        SELECT q_id, c_id, cos,
               row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rank
        FROM scored)
      SELECT q_id, c_id, round(cos, 4) AS cos, rank
      FROM ranked WHERE rank <= 5
      ORDER BY q_id, rank"""),
    bench = true)

  /** Hyperplane-LSH bucketed ANN (the scale path): 4 deterministic
    * hash-derived hyperplanes bucket both sides; top-3 within bucket. The
    * oracle recomputes the plane signs from the same md5 parity.
    */
  val q56_cosine_bucketed_ann: Q = Q(
    fn = (s, dir) => {
      val emb = table(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 3)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      val corpus = emb.select(col("vec_id").as("c_id"), col("embedding").as("c_vec"))
      Similarity.bucketedTopK(queries, corpus, "q_id", "q_vec", "c_id", "c_vec",
        k = 3, planes = 4, dim = 64)
        .orderBy(col("q_id"), col("rank"))
    },
    oracle = Some(s"""
      WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
      planes AS (
        SELECT p.p, i.i,
               CASE WHEN (${h60("(p.p || ':' || i.i)")} & 1) = 0 THEN 1.0 ELSE -1.0 END AS sign
        FROM range(4) p(p) CROSS JOIN range(64) i(i)),
      dots AS (
        SELECT vec_id, p, sum(vec[i + 1] * sign) AS d
        FROM v CROSS JOIN planes
        GROUP BY vec_id, p),
      buckets AS (
        SELECT vec_id, CAST(sum(CASE WHEN d >= 0 THEN CAST(1 AS BIGINT) << p ELSE 0 END) AS BIGINT) AS bucket
        FROM dots GROUP BY vec_id),
      q AS (SELECT v.vec_id AS q_id, vec AS qv, bucket FROM v JOIN buckets USING (vec_id) WHERE vec_id < 3),
      c AS (SELECT v.vec_id AS c_id, vec AS cv, bucket FROM v JOIN buckets USING (vec_id)),
      scored AS (
        SELECT q_id, c_id,
               list_sum(list_transform(range(1, 65), i -> qv[i] * cv[i])) /
               sqrt(list_sum(list_transform(range(1, 65), i -> qv[i] * qv[i]))) /
               sqrt(list_sum(list_transform(range(1, 65), i -> cv[i] * cv[i]))) AS cos
        FROM q JOIN c USING (bucket)
        WHERE q_id <> c_id),
      ranked AS (
        SELECT q_id, c_id, cos,
               row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rank
        FROM scored)
      SELECT q_id, c_id, round(cos, 4) AS cos, rank
      FROM ranked WHERE rank <= 3
      ORDER BY q_id, rank"""))

  /** Embedding-cosine near-dup detection: LSH buckets + exact cosine >= τ
    * within buckets, on a corpus with planted near-duplicates.
    */
  val q57_cosine_neardup: Q = Q(
    fn = (s, dir) => {
      val emb = table(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val planted = emb.filter(col("vec_id") % 5 === 0)
        .withColumn("vec_id", col("vec_id") + 1000000)
      val corpus = emb.unionByName(planted)
      Dedup.cosineCandidates(corpus, col("embedding"), col("vec_id"),
        planes = 6, dim = 64, threshold = 0.999)
        .orderBy(col("id_a"), col("id_b"))
    },
    oracle = Some(s"""
      WITH corpus AS (
        SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings
        UNION ALL
        SELECT vec_id + 1000000, embedding::DOUBLE[] FROM embeddings WHERE vec_id % 5 = 0),
      planes AS (
        SELECT p.p, i.i,
               CASE WHEN (${h60("(p.p || ':' || i.i)")} & 1) = 0 THEN 1.0 ELSE -1.0 END AS sign
        FROM range(6) p(p) CROSS JOIN range(64) i(i)),
      dots AS (
        SELECT vec_id, p, sum(vec[i + 1] * sign) AS d
        FROM corpus CROSS JOIN planes GROUP BY vec_id, p),
      buckets AS (
        SELECT vec_id, CAST(sum(CASE WHEN d >= 0 THEN CAST(1 AS BIGINT) << p ELSE 0 END) AS BIGINT) AS bucket
        FROM dots GROUP BY vec_id),
      t AS (SELECT corpus.vec_id, vec, bucket FROM corpus JOIN buckets USING (vec_id)),
      pairs AS (
        SELECT l.vec_id AS id_a, r.vec_id AS id_b,
               list_sum(list_transform(range(1, 65), i -> l.vec[i] * r.vec[i])) /
               sqrt(list_sum(list_transform(range(1, 65), i -> l.vec[i] * l.vec[i]))) /
               sqrt(list_sum(list_transform(range(1, 65), i -> r.vec[i] * r.vec[i]))) AS cos
        FROM t l JOIN t r ON l.bucket = r.bucket AND l.vec_id < r.vec_id)
      SELECT id_a, id_b, round(cos, 4) AS cos
      FROM pairs WHERE cos >= 0.999
      ORDER BY id_a, id_b"""))

  /** Language-ID heuristic + quality scoring — the text-filtering stage of a
    * pre-training pipeline, aggregated per (true) lang label.
    */
  val q58_langid_quality: Q = Q(
    fn = (s, dir) => {
      val docs = table(s, dir, "documents")
      docs.select(col("lang"),
        TextAnalysis.langId(col("text")).as("pred_lang"),
        TextAnalysis.qualityStruct(col("text")).as("q"))
        .groupBy(col("lang"), col("pred_lang"))
        .agg(
          count(lit(1)).as("n"),
          round(avg(col("q.quality")), 4).as("avg_quality"),
          round(avg(col("q.stopword_ratio")), 4).as("avg_stop"))
        .orderBy(col("lang"), col("pred_lang"))
    },
    oracle = Some("""
      WITH toks AS (
        SELECT doc_id, lang, text,
               list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}_]+'),
                           x -> length(x) >= 1) AS t
        FROM documents),
      scores AS (
        SELECT doc_id, lang, text, t,
          len(list_filter(t, x -> x IN ('der','und','die','das','ist'))) AS s_de,
          len(list_filter(t, x -> x IN ('the','and','of','to','is'))) AS s_en,
          len(list_filter(t, x -> x IN ('el','de','la','y','es'))) AS s_es,
          len(list_filter(t, x -> x IN ('le','la','et','les','est'))) AS s_fr
        FROM toks),
      folded AS (
        SELECT *,
          CASE WHEN s_fr > greatest(s_es, s_en, s_de) THEN 'fr'
               WHEN s_es > greatest(s_en, s_de) THEN 'es'
               WHEN s_en > s_de THEN 'en'
               ELSE 'de' END AS best_lang,
          greatest(s_de, s_en, s_es, s_fr) AS best_score
        FROM scores),
      pred AS (
        SELECT doc_id, lang,
               -- CJK short-circuit first, mirroring the engine's langId
               -- (a mixed-script doc with zero Latin stopwords is 'zh',
               -- never 'und')
               CASE WHEN regexp_matches(text, '[\p{Han}\p{Hiragana}\p{Katakana}]') THEN 'zh'
                    WHEN best_score > 0 THEN best_lang ELSE 'und' END AS pred_lang,
               len(t)::DOUBLE AS n_words,
               -- coalesce 0: list_sum([]) is NULL in DuckDB and least()
               -- SKIPS nulls, so a zero-token doc would otherwise score a
               -- phantom word-length credit the engine's 0.0 never pays
               coalesce(list_sum(list_transform(t, x -> length(x))), 0)::DOUBLE /
                 greatest(len(t)::DOUBLE, 1.0) AS mean_word_len,
               (length(text) - length(regexp_replace(text,
                  '[!"#$%&''()*+,\-./:;<=>?@\[\]^_`{|}~]', '', 'g')))::DOUBLE /
                 greatest(length(text)::DOUBLE, 1.0) AS punct_ratio,
               len(list_filter(t, x -> x IN ('the','and','of','to','is','der','und','die','das','ist',
                                             'le','la','et','les','est','el','de','y','es')))::DOUBLE /
                 greatest(len(t)::DOUBLE, 1.0) AS stop_ratio
        FROM folded),
      quality AS (
        -- null text -> NULL quality (the engine's explicit null gate;
        -- least() in BOTH engines skips null operands, so the formula
        -- alone would award a contentless doc its 1.0 ceilings)
        SELECT lang, pred_lang,
               CASE WHEN n_words IS NULL THEN NULL ELSE
               round(least(n_words / 100.0, 1.0) * 0.4 +
                     least(mean_word_len / 8.0, 1.0) * 0.2 +
                     (1.0 - least(punct_ratio * 5.0, 1.0)) * 0.2 +
                     least(stop_ratio * 4.0, 1.0) * 0.2, 4) END AS q,
               round(stop_ratio, 4) AS sr
        FROM pred)
      SELECT lang, pred_lang, count(*) AS n,
             round(avg(q), 4) AS avg_quality, round(avg(sr), 4) AS avg_stop
      FROM quality
      GROUP BY lang, pred_lang
      ORDER BY lang, pred_lang"""))

  /** Multimodal asset plumbing: documents → binary payload + metadata
    * struct; the stubbed decode's shape math is oracle-checked on byte
    * lengths (the checksum path is spec-tested — see MultimodalSpec).
    */
  val q59_multimodal_assets: Q = Q(
    fn = (s, dir) => {
      val docs = table(s, dir, "documents")
      val assets = docs.select(
        col("doc_id"),
        Multimodal.assetStruct(
          concat(lit("doc://"), col("doc_id")),
          encode(col("text"), "UTF-8"),
          map(lit("lang"), col("lang"))).as("asset"))
      Multimodal.decodeImages(assets, "asset").toDF()
        .select(col("path"), col("width").cast("long").as("width"),
          col("height").cast("long").as("height"), col("channels").cast("long").as("channels"))
        .orderBy(col("path"))
    },
    oracle = Some("""
      SELECT 'doc://' || doc_id AS path,
             greatest(1, octet_length(encode(text)) % 640) AS width,
             -- null text -> the engine's 1x1 placeholder asset (width falls
             -- out of greatest already, DuckDB greatest ignores NULLs)
             coalesce((octet_length(encode(text)) // 640) % 480 + 1, 1) AS height,
             CAST(3 AS BIGINT) AS channels
      FROM documents
      ORDER BY path"""))

  /** IVF ANN with deterministic-by-construction centroids: the 8 cell
    * centers are fixed corpus rows (vec_id seed list, present at every SF),
    * so DuckDB replays the squared-L2 cell assignment, the nprobe=2 probe
    * set and the per-cell cosine top-k exactly. The library API path
    * ([[Similarity.ivfTopK]]) fits KMeans instead; full-probe==brute-force
    * stays spec-verified (OpsSpec).
    */
  val q76_cosine_ivf: Q = Q(
    fn = (s, dir) => {
      val emb = table(s, dir, "embeddings")
      val seedIds = Seq(7L, 61L, 113L, 167L, 211L, 263L, 317L, 373L)
      // bounded driver collect: nlist rows, same budget as a KMeans model
      val centroids = emb.filter(col("vec_id").isin(seedIds: _*))
        .orderBy(col("vec_id"))
        .select(col("embedding").cast("array<double>"))
        .collect().map(_.getSeq[Double](0).toSeq).toSeq
      val queries = emb.filter(col("vec_id") < 3)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      val corpus = emb.select(col("vec_id").as("c_id"), col("embedding").as("c_vec"))
      Similarity.ivfTopKWithCentroids(queries, corpus, "q_id", "q_vec", "c_id", "c_vec",
        k = 3, nprobe = 2, centroids = centroids)
        .orderBy(col("q_id"), col("rank"))
    },
    oracle = Some("""
      WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
      ctr AS (
        SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, vec AS cv
        FROM v WHERE vec_id IN (7, 61, 113, 167, 211, 263, 317, 373)),
      dist AS (
        SELECT v.vec_id, ctr.cell,
               list_sum(list_transform(range(1, 65), i -> (vec[i] - cv[i]) * (vec[i] - cv[i]))) AS d
        FROM v CROSS JOIN ctr),
      cells AS (
        SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
        FROM dist),
      c AS (
        SELECT a.vec_id AS c_id, vec AS ccv, a.cell
        FROM cells a JOIN v ON v.vec_id = a.vec_id WHERE a.rn = 1),
      q AS (
        SELECT p.vec_id AS q_id, vec AS qv, p.cell
        FROM cells p JOIN v ON v.vec_id = p.vec_id WHERE p.rn <= 2 AND p.vec_id < 3),
      scored AS (
        SELECT q_id, c_id,
               list_sum(list_transform(range(1, 65), i -> qv[i] * ccv[i])) /
               sqrt(list_sum(list_transform(range(1, 65), i -> qv[i] * qv[i]))) /
               sqrt(list_sum(list_transform(range(1, 65), i -> ccv[i] * ccv[i]))) AS cos
        FROM q JOIN c USING (cell)
        WHERE q_id <> c_id),
      ranked AS (
        SELECT q_id, c_id, cos,
               row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rank
        FROM scored)
      SELECT q_id, c_id, round(cos, 4) AS cos, rank
      FROM ranked WHERE rank <= 3
      ORDER BY q_id, rank"""))

  /** Deterministic stratified sampling (class rebalancing): per-stratum
    * Bernoulli on the portable id-hash ([[graft.ops.Sampling]]) — map-side
    * filter, no shuffle, identical selection on any partitioning/engine.
    */
  val q82_stratified_sample: Q = Q(
    fn = (s, dir) =>
      graft.ops.Sampling.stratifiedByHash(
        table(s, dir, "orders"),
        stratum = col("o_orderstatus"), id = col("o_orderkey"),
        fractions = Map("O" -> 0.10, "F" -> 0.05, "P" -> 1.0))
        .select(col("o_orderkey"), col("o_orderstatus"))
        .orderBy(col("o_orderkey")),
    oracle = Some(s"""
      SELECT o_orderkey, o_orderstatus
      FROM orders
      WHERE ${h60("CAST(o_orderkey AS VARCHAR)")} % 10000 <
            CASE o_orderstatus WHEN 'O' THEN 1000 WHEN 'F' THEN 500 ELSE 10000 END
      ORDER BY o_orderkey"""))

  /** pandas `sample(n=...)` as deterministic top-n by id-hash
    * (TakeOrderedAndProject — per-partition top-n, no global sort).
    */
  val q83_sample_n: Q = Q(
    fn = (s, dir) =>
      graft.sdf.SDF(table(s, dir, "customer")).sampleN(100, col("c_custkey")).df
        .select(col("c_custkey"), col("c_mktsegment"))
        .orderBy(col("c_custkey")),
    oracle = Some(s"""
      SELECT c_custkey, c_mktsegment FROM (
        SELECT c_custkey, c_mktsegment
        FROM customer
        ORDER BY ${h60("CAST(c_custkey AS VARCHAR)")}
        LIMIT 100)
      ORDER BY c_custkey"""))

  /** Context-window chunking: overlapping 200-char windows, step 150 —
    * each document expands in place (no shuffle), the LLM-corpus splitting
    * primitive.
    */
  val q88_text_chunks: Q = Q(
    fn = (s, dir) =>
      table(s, dir, "documents")
        .filter(col("doc_id") < 50)
        .select(col("doc_id"),
          posexplode(TextAnalysis.chunkWindows(col("text"), size = 200, overlap = 50))
            .as(Seq("chunk_idx", "chunk")))
        .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"), col("chunk"))
        .orderBy(col("doc_id"), col("chunk_idx")),
    oracle = Some("""
      SELECT doc_id, k AS chunk_idx, substr(text, CAST(k * 150 AS INT) + 1, 200) AS chunk
      FROM documents,
           UNNEST(generate_series(0, (length(text) - 1) // 150)) AS t(k)
      -- length > 0: the engine's chunkWindows('') is the EMPTY array (no
      -- chunk rows), while DuckDB's truncating -1 // 150 = 0 would emit a
      -- phantom ''-chunk for an empty doc
      WHERE doc_id < 50 AND length(text) > 0
      ORDER BY doc_id, chunk_idx"""))

  /** PII scrubbing (emails + IPv4 + phone-like digit runs — the Dolma/C4
    * scrub set) over synthesized contact strings — replacement text
    * identical across engines.
    */
  val q89_pii_scrub: Q = Q(
    fn = (s, dir) => {
      val synth = concat(
        col("c_name"), lit(" <"),
        lower(regexp_replace(col("c_name"), "[^A-Za-z0-9]", ".")),
        lit("@example.com> call +1 (555) 010-"),
        lpad(col("c_custkey").cast("string"), 4, "0"),
        lit(" from 10."), pmod(col("c_custkey"), lit(256)).cast("string"),
        lit(".0.99 logged"))
      table(s, dir, "customer")
        .select(col("c_custkey"), TextAnalysis.scrubPii(synth).as("scrubbed"))
        .orderBy(col("c_custkey"))
    },
    oracle = Some("""
      SELECT c_custkey,
             regexp_replace(
               regexp_replace(
                 regexp_replace(
                   c_name || ' <' || lower(regexp_replace(c_name, '[^A-Za-z0-9]', '.', 'g'))
                     || '@example.com> call +1 (555) 010-' || lpad(CAST(c_custkey AS VARCHAR), 4, '0')
                     || ' from 10.' || CAST(c_custkey % 256 AS VARCHAR) || '.0.99 logged',
                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
                 '\b([0-9]{1,3}\.){3}[0-9]{1,3}\b', '[IP]', 'g'),
               '\+?[0-9][0-9()\- ]{6,}[0-9]', '[PHONE]', 'g') AS scrubbed
      FROM customer
      ORDER BY c_custkey"""))

  /** Shard-parallel sequence packing: documents binned to ~1000-token packs
    * inside 8 hash-shards — the batch-construction op for fixed context
    * windows, deterministic on any partitioning.
    */
  val q90_sequence_packing: Q = Q(
    fn = (s, dir) => {
      val docs = table(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.tokenCount(col("text")).as("n_tok"))
      graft.ops.Packing.packByTokenBudget(
        docs, id = col("doc_id"), tokens = col("n_tok"), budget = 1000L, shards = 8)
        .select(col("doc_id"), col("n_tok"), col("shard"), col("bin"))
        .orderBy(col("doc_id"))
    },
    oracle = Some(s"""
      WITH toks AS (
        SELECT doc_id,
               len(list_filter(string_split_regex(lower(text), '[^\\p{L}\\p{N}_]+'),
                               x -> length(x) >= 1)) AS n_tok,
               ${h60("CAST(doc_id AS VARCHAR)")} % 8 AS shard
        FROM documents)
      SELECT doc_id, n_tok, shard,
             CAST((sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok)
                  // 1000 AS BIGINT) AS bin
      FROM toks
      ORDER BY doc_id"""),
    bench = true)

  /** End-to-end near-dup clustering: q53's verified MinHash+Jaccard pairs →
    * distributed min-label connected components ([[graft.ops.Components]]) →
    * one survivor per cluster. The graph step is oracle-checked against a
    * DuckDB recursive-CTE transitive closure — the only iterative oracle in
    * the corpus.
    */
  val q91_dedup_clusters: Q = Q(
    fn = (s, dir) => {
      // Corpus-synthesis constants, spelled ONCE (r17 ADVICE): the corpus
      // below and the raw-table id spine further down must describe the
      // SAME id set (ids < idCap ∪ even ids < idCap shifted by nearOffset)
      // or the spine's left join silently drops/invents rows. Same Long
      // literal type on both sides — no implicit coercion.
      val idCap = 200L
      val nearOffset = 1000000L
      def nearSeed(id: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
        id % 2 === 0
      val docs = docsC(s, dir).filter(col("doc_id") < idCap)
        .select(col("doc_id"), col("text"))
      val near = docs.filter(nearSeed(col("doc_id")))
        .withColumn("doc_id", col("doc_id") + nearOffset)
        .withColumn("text", concat(col("text"), lit(" appended")))
      val corpus = docs.unionByName(near)
      val pairs = Dedup.verifiedNearDupPairs(corpus, col("text"), col("doc_id"),
        k = 3, numHashes = 4, bands = 2, threshold = 0.5)
        .select(col("id_a"), col("id_b"))
      val comps = graft.ops.Components.connectedComponents(pairs, "id_a", "id_b")
        .withColumnRenamed("id", "doc_id")
      // id spine respelled off the raw table (same ids as corpus, by the
      // shared constants above): a one-column projection has no kernel to
      // parallelize, so re-deriving it through docsC paid two
      // spreadForCompute exchanges for nothing (the q208 lang-join lesson,
      // guide §2.4)
      val rawIds = table(s, dir, "documents").select(col("doc_id"))
        .filter(col("doc_id") < idCap)
      val full = rawIds
        .unionByName(rawIds.filter(nearSeed(col("doc_id")))
          .select((col("doc_id") + nearOffset).as("doc_id")))
        .join(comps, Seq("doc_id"), "left")
        .withColumn("component", coalesce(col("component"), col("doc_id")))
      val survivors = full.groupBy(col("component")).agg(min(col("doc_id")).as("survivor"))
      full.join(survivors, "component")
        .select(col("doc_id"), col("component"), (col("doc_id") === col("survivor")).as("keep"))
        .orderBy(col("doc_id"))
    },
    oracle = Some(s"""
      WITH RECURSIVE corpus AS (
        SELECT doc_id, text FROM documents WHERE doc_id < 200
        UNION ALL
        SELECT doc_id + 1000000, text || ' appended' FROM documents
        WHERE doc_id < 200 AND doc_id % 2 = 0),
      toks AS (
        SELECT doc_id, list_filter(string_split_regex(lower(text), '[^\\p{L}\\p{N}_]+'),
                                   x -> length(x) >= 1) AS t
        FROM corpus),
      sh AS (
        SELECT doc_id,
               CASE WHEN len(t) < 3 THEN [coalesce(array_to_string(t, ' '), '')]
                    ELSE list_transform(generate_series(1, len(t) - 2),
                                        i -> array_to_string(t[i:i+2], ' ')) END AS shingles
        FROM toks),
      ex AS (SELECT doc_id, u.s FROM sh, UNNEST(shingles) u(s)),
      sig AS (
        SELECT doc_id, r.h, min(${h60("(r.h || ':' || s)")}) AS sig
        FROM ex CROSS JOIN range(4) r(h)
        GROUP BY doc_id, r.h),
      band AS (
        SELECT doc_id, h // 2 AS band,
               ${h60("array_to_string(list(sig ORDER BY h), ',')")} AS band_hash
        FROM sig
        GROUP BY doc_id, h // 2),
      cand AS (
        SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
        FROM band l JOIN band r
          ON l.band = r.band AND l.band_hash = r.band_hash AND l.doc_id < r.doc_id),
      pairs AS (
        SELECT id_a, id_b
        FROM cand
        JOIN sh sa ON sa.doc_id = id_a
        JOIN sh sb ON sb.doc_id = id_b
        WHERE round(
                len(list_intersect(list_distinct(sa.shingles), list_distinct(sb.shingles)))::DOUBLE /
                len(list_distinct(list_concat(list_distinct(sa.shingles), list_distinct(sb.shingles)))),
                4) >= 0.5),
      edges AS (SELECT id_a AS a, id_b AS b FROM pairs
                UNION SELECT id_b, id_a FROM pairs),
      reach AS (
        SELECT doc_id AS n, doc_id AS lbl FROM corpus
        UNION
        SELECT e.b, r.lbl FROM reach r JOIN edges e ON r.n = e.a),
      comp AS (SELECT n AS doc_id, min(lbl) AS component FROM reach GROUP BY n)
      SELECT c.doc_id, c.component, c.doc_id = m.survivor AS keep
      FROM comp c
      JOIN (SELECT component, min(doc_id) AS survivor FROM comp GROUP BY component) m
        USING (component)
      ORDER BY c.doc_id"""),
    bench = true)

  /** Gopher-rule repetition signals (quality-filter pillar): duplicate-line
    * fraction over a synthesized 3-line doc (the corpus text is single-line,
    * so the query injects a repeated 50-char prefix line deterministically on
    * both sides) and most-frequent-bigram fraction. Spark side is
    * shuffle-free per-doc Column algebra — grams staged once, one native
    * hash-count pass in codegen ([[graft.functions.TopFreqFraction]]); the
    * oracle re-derives the max frequency by exploding grams.
    */
  val q102_repetition: Q = Q(
    fn = (s, dir) =>
      docsC(s, dir)
        .withColumn("multi", concat_ws("\n", col("text"),
          substring(col("text"), 1, 50), substring(col("text"), 1, 50)))
        .withColumn("grams", TextAnalysis.shingles(col("text"), 2))
        .select(col("doc_id"),
          round(TextAnalysis.duplicateLineFraction(col("multi")), 4).as("dup_line_frac"),
          round(TextAnalysis.topNgramFraction(col("grams")), 4).as("top_bigram_frac"))
        .orderBy(col("doc_id")),
    oracle = Some("""
      WITH lf AS (
        SELECT doc_id,
               list_filter(string_split(text || chr(10) || substr(text, 1, 50)
                                        || chr(10) || substr(text, 1, 50), chr(10)),
                           x -> length(trim(x)) > 0) AS lines
        FROM documents),
      toks AS (
        SELECT doc_id, list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}_]+'),
                                   x -> length(x) >= 1) AS t
        FROM documents),
      sh AS (
        SELECT doc_id,
               CASE WHEN len(t) < 2 THEN [coalesce(array_to_string(t, ' '), '')]
                    ELSE list_transform(generate_series(1, len(t) - 1),
                                        i -> array_to_string(t[i:i+1], ' ')) END AS grams
        FROM toks),
      freq AS (
        SELECT doc_id, gr, count(*) AS c
        FROM (SELECT doc_id, unnest(grams) AS gr FROM sh)
        GROUP BY doc_id, gr),
      tops AS (
        SELECT doc_id, round(max(c)::DOUBLE / sum(c), 4) AS top_bigram_frac
        FROM freq GROUP BY doc_id)
      SELECT l.doc_id,
             round(CASE WHEN l.lines IS NULL OR len(l.lines) = 0 THEN 0.0
                        ELSE 1.0 - len(list_distinct(l.lines))::DOUBLE / len(l.lines) END,
                   4) AS dup_line_frac,
             coalesce(t.top_bigram_frac, 0.0) AS top_bigram_frac
      FROM lf l LEFT JOIN tops t USING (doc_id)
      ORDER BY l.doc_id"""),
    bench = true)

  /** The corpus-to-training-batches composition (flagship pipeline shape):
    * exact dedup (digest groupBy — text never shuffles) → staged token
    * counts + length gate → shard-parallel sequence packing → deterministic
    * train/val/test split. THREE shuffles end to end at any corpus size
    * (digest groupBy, keeper semi-join, per-shard packing window — the split
    * is map-side) plus the presentation sort; every stage is the
    * independently-oracled operator (q51/q50/q90/q94), composed here so the
    * whole pipeline is hash-verified as one plan.
    */
  val q106_training_pipeline: Q = Q(
    fn = (s, dir) => {
      val docs = docsC(s, dir).select(col("doc_id"), col("text"))
      val deduped = Dedup.exactDedupRows(docs, col("text"), col("doc_id"))
      val gated = deduped
        .withColumn("n_tok", TextAnalysis.tokenCount(col("text")))
        .filter(col("n_tok") >= 10)
      val packed = graft.ops.Packing.packByTokenBudget(
        gated, id = col("doc_id"), tokens = col("n_tok"), budget = 1000L, shards = 4)
      graft.ops.Sampling.split(packed, id = col("doc_id"),
        fractions = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select(col("doc_id"), col("n_tok"), col("shard"), col("bin"), col("split"))
        .orderBy(col("doc_id"))
    },
    oracle = Some(s"""
      WITH fp AS (
        SELECT doc_id, text,
               ${h60("trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))")} AS f
        FROM documents),
      keep AS (SELECT min(doc_id) AS doc_id FROM fp GROUP BY f),
      ded AS (SELECT fp.doc_id, fp.text FROM fp JOIN keep USING (doc_id)),
      toks AS (
        SELECT doc_id,
               len(list_filter(string_split_regex(lower(text), '[^\\p{L}\\p{N}_]+'),
                               x -> length(x) >= 1)) AS n_tok
        FROM ded),
      gated AS (SELECT doc_id, n_tok FROM toks WHERE n_tok >= 10),
      sh AS (SELECT doc_id, n_tok, ${h60("CAST(doc_id AS VARCHAR)")} % 4 AS shard FROM gated),
      packed AS (
        SELECT doc_id, n_tok, shard,
               CAST((sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok)
                    // 1000 AS BIGINT) AS bin
        FROM sh)
      SELECT doc_id, n_tok, shard, bin,
             CASE WHEN ${h60("CAST(doc_id AS VARCHAR)")} % 10000 < 8000 THEN 'train'
                  WHEN ${h60("CAST(doc_id AS VARCHAR)")} % 10000 < 9000 THEN 'val'
                  ELSE 'test' END AS split
      FROM packed
      ORDER BY doc_id"""),
    bench = true)

  /** Deterministic train/val/test split: hash-range bucketing, identical
    * assignment on any engine/partitioning.
    */
  val q94_train_val_test: Q = Q(
    fn = (s, dir) =>
      graft.ops.Sampling.split(
        table(s, dir, "documents").select(col("doc_id")),
        id = col("doc_id"),
        fractions = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .orderBy(col("doc_id")),
    oracle = Some(s"""
      SELECT doc_id,
             CASE WHEN ${h60("CAST(doc_id AS VARCHAR)")} % 10000 < 8000 THEN 'train'
                  WHEN ${h60("CAST(doc_id AS VARCHAR)")} % 10000 < 9000 THEN 'val'
                  ELSE 'test' END AS split
      FROM documents
      ORDER BY doc_id"""))

  /** C4-style corpus cleaning, end-to-end in one plan: language filter +
    * quality threshold + token-length band + exact-dup collapse — the
    * composition every training-data pipeline runs, entirely narrow ops
    * plus ONE shuffle (the fingerprint groupBy).
    */
  val q95_corpus_clean: Q = Q(
    fn = (s, dir) => {
      val docs = docsC(s, dir)
      // tokens staged ONCE; langId/quality/count all read the staged column
      // (unstaged, each consumer re-tokenizes — 4 regex passes per row)
      docs
        .withColumn("__toks__", TextAnalysis.tokens(col("text")))
        .select(
          col("doc_id"),
          TextAnalysis.langIdStaged(col("text"), col("__toks__")).as("pred_lang"),
          TextAnalysis.qualityStructStaged(col("text"), col("__toks__")).as("q"),
          size(col("__toks__")).cast("long").as("n_tok"),
          TextAnalysis.fingerprint(col("text")).as("fp"))
        .filter(col("pred_lang") === "en" &&
          round(col("q.quality"), 4) >= 0.45 &&
          col("n_tok").between(20, 10000))
        .groupBy(col("fp"))
        .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("dups"))
        .select(col("doc_id"), col("dups"))
        .orderBy(col("doc_id"))
    },
    oracle = Some(s"""
      WITH toks AS (
        SELECT doc_id, text,
               list_filter(string_split_regex(lower(text), '[^\\p{L}\\p{N}_]+'),
                           x -> length(x) >= 1) AS t
        FROM documents),
      scores AS (
        SELECT doc_id, text, t,
          len(list_filter(t, x -> x IN ('der','und','die','das','ist'))) AS s_de,
          len(list_filter(t, x -> x IN ('the','and','of','to','is'))) AS s_en,
          len(list_filter(t, x -> x IN ('el','de','la','y','es'))) AS s_es,
          len(list_filter(t, x -> x IN ('le','la','et','les','est'))) AS s_fr
        FROM toks),
      folded AS (
        SELECT *,
          CASE WHEN s_fr > greatest(s_es, s_en, s_de) THEN 'fr'
               WHEN s_es > greatest(s_en, s_de) THEN 'es'
               WHEN s_en > s_de THEN 'en'
               ELSE 'de' END AS best_lang,
          greatest(s_de, s_en, s_es, s_fr) AS best_score
        FROM scores),
      pred AS (
        SELECT doc_id, text,
               CASE WHEN best_score > 0 THEN best_lang ELSE 'und' END AS pred_lang,
               len(t) AS n_tok,
               len(t)::DOUBLE AS n_words,
               -- coalesce 0: list_sum([]) is NULL in DuckDB and least()
               -- SKIPS nulls, so a zero-token doc would otherwise score a
               -- phantom word-length credit the engine's 0.0 never pays
               coalesce(list_sum(list_transform(t, x -> length(x))), 0)::DOUBLE /
                 greatest(len(t)::DOUBLE, 1.0) AS mean_word_len,
               (length(text) - length(regexp_replace(text,
                  '[!"#$$%&''()*+,\\-./:;<=>?@\\[\\]^_`{|}~]', '', 'g')))::DOUBLE /
                 greatest(length(text)::DOUBLE, 1.0) AS punct_ratio,
               len(list_filter(t, x -> x IN ('the','and','of','to','is','der','und','die','das','ist',
                                             'le','la','et','les','est','el','de','y','es')))::DOUBLE /
                 greatest(len(t)::DOUBLE, 1.0) AS stop_ratio
        FROM folded),
      kept AS (
        SELECT doc_id, text
        FROM pred
        WHERE pred_lang = 'en'
          AND round(least(n_words / 100.0, 1.0) * 0.4 +
                    least(mean_word_len / 8.0, 1.0) * 0.2 +
                    (1.0 - least(punct_ratio * 5.0, 1.0)) * 0.2 +
                    least(stop_ratio * 4.0, 1.0) * 0.2, 4) >= 0.45
          AND n_tok BETWEEN 20 AND 10000)
      SELECT min(doc_id) AS doc_id, count(*) AS dups
      FROM kept
      GROUP BY ${h60("trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))")}
      ORDER BY doc_id"""),
    bench = true)

  /** Per-class embedding centroids (mean pooling): distributed
    * explode → per-dim partial agg → reassemble; compared in long form so
    * the full pooled array round-trips through the oracle.
    */
  val q93_mean_pool: Q = Q(
    fn = (s, dir) => {
      val pooled = graft.ops.Similarity.meanPool(
        table(s, dir, "embeddings"), Seq("label"), col("embedding"), "centroid")
      pooled
        .select(col("label"), posexplode(col("centroid")).as(Seq("dim", "mean_v")))
        .select(col("label").cast("long").as("label"), col("dim").cast("long").as("dim"),
          round(col("mean_v"), 4).as("mean_v"))
        .orderBy(col("label"), col("dim"))
    },
    oracle = Some("""
      SELECT CAST(label AS BIGINT) AS label, pos - 1 AS dim,
             round(avg(embedding[pos]::DOUBLE), 4) AS mean_v
      FROM embeddings,
           UNNEST(generate_series(1, len(embedding))) AS t(pos)
      GROUP BY label, pos
      ORDER BY label, dim"""))

  /** Benchmark decontamination: flag every doc sharing any 5-gram with a
    * "benchmark" slice of the corpus (test-set overlap removal). The
    * benchmark's distinct gram hashes broadcast; the corpus side is a
    * map-side semi-join over exploded grams — the text never shuffles.
    */
  val q107_decontamination: Q = Q(
    fn = (s, dir) => {
      val docs = table(s, dir, "documents").select(col("doc_id"), col("text"))
      val bench = docs.filter(col("doc_id") % 7 === 0)
      val cont = TextAnalysis
        .contaminatedIds(docs, col("text"), col("doc_id"), bench, col("text"), k = 5)
        .withColumnRenamed("id", "doc_id")
        .withColumn("contaminated", lit(true))
      docs.select(col("doc_id"))
        .join(cont, Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("contaminated"), lit(false)).as("contaminated"))
        .orderBy(col("doc_id"))
    },
    oracle = Some(s"""
      WITH toks AS (
        SELECT doc_id, list_filter(string_split_regex(lower(text), '[^\\p{L}\\p{N}_]+'),
                                   x -> length(x) >= 1) AS t
        FROM documents),
      sh AS (
        SELECT doc_id,
               CASE WHEN len(t) < 5 THEN [coalesce(array_to_string(t, ' '), '')]
                    ELSE list_transform(generate_series(1, len(t) - 4),
                                        i -> array_to_string(t[i:i+4], ' ')) END AS gs
        FROM toks),
      bg AS (
        SELECT DISTINCT ${h60("u.g")} AS gh
        FROM sh, UNNEST(gs) u(g) WHERE doc_id % 7 = 0),
      cont AS (
        SELECT DISTINCT s.doc_id
        FROM sh s, UNNEST(s.gs) u(g)
        WHERE ${h60("u.g")} IN (SELECT gh FROM bg))
      SELECT t.doc_id, t.doc_id IN (SELECT doc_id FROM cont) AS contaminated
      FROM toks t
      ORDER BY t.doc_id"""))

  /** Incremental (snapshot-over-snapshot) exact dedup: new batch vs the
    * digest state of an existing corpus — survivors are unseen-content,
    * min-id-within-batch rows. Within-batch dupes synthesized under shifted
    * ids; the 200-249 overlap with the "existing" slice must vanish.
    */
  val q108_incremental_dedup: Q = Q(
    fn = (s, dir) => {
      val docs = table(s, dir, "documents").select(col("doc_id"), col("text"))
      val existing = Dedup.contentDigests(docs.filter(col("doc_id") < 250), col("text"))
      val batch = docs.filter(col("doc_id") >= 200)
      val withDupes = batch.unionByName(
        batch.filter(col("doc_id") % 3 === 0).withColumn("doc_id", col("doc_id") + 1000000))
      Dedup.exactDedupIncremental(withDupes, col("text"), col("doc_id"), existing)
        .select(col("doc_id"))
        .orderBy(col("doc_id"))
    },
    oracle = Some(s"""
      WITH existing AS (
        -- coalesce(-1): the engine's joinDigest sentinel for null text —
        -- a raw NULL digest here would poison NOT IN for EVERY batch row
        -- (the SQL three-valued-logic trap) and empty the whole result
        SELECT DISTINCT coalesce(${h60("trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))")}, -1) AS digest
        FROM documents WHERE doc_id < 250),
      batch AS (
        SELECT doc_id, text FROM documents WHERE doc_id >= 200
        UNION ALL
        SELECT doc_id + 1000000, text FROM documents
        WHERE doc_id >= 200 AND doc_id % 3 = 0),
      keepers AS (
        SELECT min(doc_id) AS keep_id
        FROM batch
        WHERE coalesce(${h60("trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))")}, -1)
              NOT IN (SELECT digest FROM existing)
        GROUP BY coalesce(${h60("trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))")}, -1))
      SELECT keep_id AS doc_id FROM keepers
      ORDER BY doc_id"""))

  /** Target-mixture downsampling (DoReMi / Pile source weighting): resample
    * three sources to a 50/30/20 output mixture keeping the max possible
    * rows. The oracle replays the fraction arithmetic in the same IEEE
    * op order, so thresholds are bit-identical.
    */
  val q109_mixture_sampling: Q = Q(
    fn = (s, dir) =>
      graft.ops.Sampling.toMixture(
        table(s, dir, "documents").select(col("doc_id"), col("source")),
        stratum = col("source"), id = col("doc_id"),
        weights = Map("src1" -> 0.5, "src2" -> 0.3, "src3" -> 0.2))
        .select(col("doc_id"), col("source"))
        .orderBy(col("doc_id")),
    oracle = Some(s"""
      WITH w(src, wt) AS (VALUES
        ('src1', CAST(0.5 AS DOUBLE)),
        ('src2', CAST(0.3 AS DOUBLE)),
        ('src3', CAST(0.2 AS DOUBLE))),
      counts AS (
        SELECT source AS src, count(*) AS n FROM documents
        WHERE source IN (SELECT src FROM w) GROUP BY source),
      mx AS (
        SELECT min(CAST(n AS DOUBLE) / wt) AS mn
        FROM counts JOIN w USING (src)),
      thr AS (
        SELECT src,
               CAST(floor(least(CAST(1 AS DOUBLE),
                                (wt * mn) / CAST(n AS DOUBLE)) * 10000) AS BIGINT) AS t
        FROM counts JOIN w USING (src) CROSS JOIN mx)
      SELECT d.doc_id, d.source
      FROM documents d JOIN thr ON d.source = thr.src
      WHERE ${h60("CAST(d.doc_id AS VARCHAR)")} % 10000 < thr.t
      ORDER BY d.doc_id"""))

  /** Corpus-wide top-30 bigrams (stopword/boilerplate discovery): explode →
    * map-side-combined count → TakeOrderedAndProject. Deterministic
    * tie-break (freq desc, gram asc) keeps the cut line engine-portable.
    */
  val q110_top_grams: Q = Q(
    fn = (s, dir) =>
      TextAnalysis.topGrams(table(s, dir, "documents"), col("text"), k = 2, topN = 30),
    oracle = Some("""
      WITH toks AS (
        SELECT doc_id, list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}_]+'),
                                   x -> length(x) >= 1) AS t
        FROM documents),
      sh AS (
        SELECT doc_id,
               CASE WHEN len(t) < 2 THEN [coalesce(array_to_string(t, ' '), '')]
                    ELSE list_transform(generate_series(1, len(t) - 1),
                                        i -> array_to_string(t[i:i+1], ' ')) END AS gs
        FROM toks)
      SELECT u.g AS gram, count(*) AS freq
      FROM sh, UNNEST(gs) u(g)
      GROUP BY u.g
      ORDER BY freq DESC, gram
      LIMIT 30"""))

  /** Boilerplate-line removal: every doc gets a shared footer (and every
    * third doc a second shared line); lines recurring in >= 40 docs are
    * stripped, original line order preserved. The boilerplate hash set
    * collects to the driver (tiny by construction) and removal is a
    * map-side HOF filter — document text never shuffles.
    */
  val q111_boilerplate: Q = Q(
    fn = (s, dir) => {
      val docs = table(s, dir, "documents").select(col("doc_id"),
        concat(col("text"), lit("\nall rights reserved contact support"),
          when(col("doc_id") % 3 === 0, lit("\nsubscribe to our newsletter"))
            .otherwise(lit(""))).as("page"))
      TextAnalysis.stripBoilerplate(docs, col("page"), minDocFreq = 40L, out = "clean")
        .select(col("doc_id"), col("clean"))
        .orderBy(col("doc_id"))
    },
    oracle = Some(s"""
      WITH docs AS (
        SELECT doc_id,
               text || chr(10) || 'all rights reserved contact support' ||
               CASE WHEN doc_id % 3 = 0 THEN chr(10) || 'subscribe to our newsletter'
                    ELSE '' END AS page
        FROM documents),
      perdoc AS (
        SELECT doc_id, u.l
        FROM docs, UNNEST(list_distinct(string_split(page, chr(10)))) u(l)),
      bp AS (
        SELECT ${h60("l")} AS lh
        FROM perdoc GROUP BY ${h60("l")} HAVING count(*) >= 40),
      bps AS (SELECT coalesce(list(lh), []) AS hs FROM bp)
      -- coalesce: a NULL page (null text, concat propagates) reassembles to
      -- '' in the engine (concat_ws skips nulls, never yields null)
      SELECT doc_id,
             coalesce(array_to_string(
               list_filter(string_split(page, chr(10)),
                           l -> NOT list_contains(hs, ${h60("l")})),
               chr(10)), '') AS clean
      FROM docs CROSS JOIN bps
      ORDER BY doc_id"""))

  /** Unigram-LM quality (CCNet perplexity proxy): per-doc mean −ln p(token)
    * under the corpus unigram distribution. The per-doc fold runs in sorted
    * token order on BOTH engines, and the final score is quantized with the
    * tie-stable floor(x·1e4 + 0.5)/1e4 — bit-identical doubles end to end.
    */
  val q113_unigram_quality: Q = Q(
    fn = (s, dir) =>
      TextAnalysis.unigramNll(table(s, dir, "documents"), col("text"), col("doc_id"))
        .select(col("id").as("doc_id"), (floor(col("nll") * 1e4 + 0.5) / 1e4).as("nll"))
        .orderBy(col("doc_id")),
    oracle = Some("""
      WITH toks AS (
        SELECT doc_id, u.t
        FROM (SELECT doc_id, list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}_]+'),
                                         x -> length(x) >= 1) AS ts
              FROM documents), UNNEST(ts) u(t)),
      freq AS (SELECT t, count(*) AS cnt FROM toks GROUP BY t),
      tot AS (SELECT count(*) AS n FROM toks),
      j AS (
        SELECT doc_id, toks.t, ln(cnt / CAST(n AS DOUBLE)) AS logp
        FROM toks JOIN freq USING (t) CROSS JOIN tot),
      g AS (SELECT doc_id, list(logp ORDER BY t) AS xs FROM j GROUP BY doc_id)
      SELECT doc_id,
             floor(-list_reduce(xs, (a, b) -> a + b) / len(xs) * 1e4 + 0.5) / 1e4 AS nll
      FROM g
      ORDER BY doc_id"""))

  /** Packed training sequences — the trainer-facing output of [[q90]]'s
    * binning: per (shard, bin), documents concatenated in id order with an
    * EOS separator plus doc/token tallies. The concat orders inside the
    * aggregate (sorted struct list), so the text is deterministic on any
    * partitioning.
    */
  val q114_packed_sequences: Q = Q(
    fn = (s, dir) => {
      val toks = table(s, dir, "documents")
        .select(col("doc_id"), col("text"))
        .withColumn("n_tok", TextAnalysis.tokenCount(col("text")))
      graft.ops.Packing.packByTokenBudget(toks, col("doc_id"), col("n_tok"),
          budget = 1000L, shards = 4)
        .groupBy(col("shard"), col("bin"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_tok")).as("n_tokens"),
          array_join(
            transform(sort_array(collect_list(struct(col("doc_id"), col("text")))),
              e => e.getField("text")),
            "<eos>").as("seq"))
        .orderBy(col("shard"), col("bin"))
    },
    oracle = Some(s"""
      WITH toks AS (
        SELECT doc_id, text,
               len(list_filter(string_split_regex(lower(text), '[^\\p{L}\\p{N}_]+'),
                               x -> length(x) >= 1)) AS n_tok,
               ${h60("CAST(doc_id AS VARCHAR)")} % 4 AS shard
        FROM documents),
      binned AS (
        SELECT doc_id, text, n_tok, shard,
               CAST((sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok)
                    // 1000 AS BIGINT) AS bin
        FROM toks)
      SELECT shard, bin,
             count(*) AS n_docs,
             CAST(sum(n_tok) AS BIGINT) AS n_tokens,
             -- all-null-text group: engine array_join skips nulls -> ''
             coalesce(string_agg(text, '<eos>' ORDER BY doc_id), '') AS seq
      FROM binned
      GROUP BY shard, bin
      ORDER BY shard, bin"""))

  /** Per-source exact-n cap (balanced domain quotas): the 20 smallest-
    * id-hash docs per source — deterministic window per stratum, replayed
    * by the oracle with the same (hash, id) tie-break.
    */
  val q115_per_group_cap: Q = Q(
    fn = (s, dir) =>
      graft.ops.Sampling.nByHashPerGroup(
        table(s, dir, "documents").select(col("doc_id"), col("source")),
        stratum = col("source"), id = col("doc_id"), n = 20)
        .orderBy(col("doc_id")),
    oracle = Some(s"""
      SELECT doc_id, source FROM (
        SELECT doc_id, source,
               row_number() OVER (PARTITION BY source
                 ORDER BY ${h60("CAST(doc_id AS VARCHAR)")}, doc_id) AS rn
        FROM documents)
      WHERE rn <= 20
      ORDER BY doc_id"""))

  /** Deterministic JL random projection 64→16 dims: the hash-derived sign
    * matrix means another engine can rebuild the exact same "random"
    * projection — the oracle replays sign, fold order, and scaling
    * bit-identically.
    */
  val q116_random_projection: Q = Q(
    fn = (s, dir) =>
      table(s, dir, "embeddings")
        .select(col("vec_id"),
          Similarity.randomProject(col("embedding"), dim = 64, outDim = 16).as("p"))
        .select(col("vec_id"), posexplode(col("p")).as(Seq("j", "v")))
        .select(col("vec_id"), col("j").cast("long").as("j"),
          (floor(col("v") * 1e4 + 0.5) / 1e4).as("v"))
        .orderBy(col("vec_id"), col("j")),
    oracle = Some(s"""
      SELECT vec_id, j, floor(v * 1e4 + 0.5) / 1e4 AS v FROM (
        SELECT vec_id, u.j,
               list_reduce(
                 list_transform(generate_series(1, 64), i ->
                   embedding[i]::DOUBLE *
                   (CASE WHEN ${h60("CAST(u.j AS VARCHAR) || ':' || CAST(i - 1 AS VARCHAR)")} % 2 = 0
                         THEN CAST(1 AS DOUBLE) ELSE CAST(-1 AS DOUBLE) END)),
                 (a, b) -> a + b)
               * (CAST(1 AS DOUBLE) / sqrt(CAST(16 AS DOUBLE))) AS v
        FROM embeddings, UNNEST(generate_series(0, 15)) u(j))
      ORDER BY vec_id, j"""))

  /** Symmetric int8 embedding quantization: per-vector max-abs scale +
    * half-up rounded codes — the 4× storage cut for ANN corpora, replayed
    * bit-exactly by the oracle (division + floor are IEEE-identical).
    */
  val q117_int8_quantization: Q = Q(
    fn = (s, dir) =>
      table(s, dir, "embeddings")
        .select(col("vec_id"), Similarity.quantizeInt8(col("embedding")).as("qz"))
        // per-dim rows: the compare harness hashes scalar columns only
        .select(col("vec_id"),
          (floor(col("qz.scale") * 1e6 + 0.5) / 1e6).as("scale"),
          posexplode(col("qz.q")).as(Seq("j", "q")))
        .select(col("vec_id"), col("scale"), col("j").cast("long").as("j"), col("q"))
        .orderBy(col("vec_id"), col("j")),
    oracle = Some("""
      SELECT vec_id,
             floor((CASE WHEN mx = 0 THEN CAST(1 AS DOUBLE) ELSE mx / 127.0 END) * 1e6 + 0.5) / 1e6 AS scale,
             u.j - 1 AS j,
             CAST(floor(embedding[u.j]::DOUBLE /
               (CASE WHEN mx = 0 THEN CAST(1 AS DOUBLE) ELSE mx / 127.0 END) + 0.5) AS INT) AS q
      FROM (
        SELECT vec_id, embedding,
               list_max(list_transform(embedding, x -> abs(x::DOUBLE))) AS mx
        FROM embeddings),
        UNNEST(generate_series(1, len(embedding))) u(j)
      ORDER BY vec_id, j"""))

  /** Cross-snapshot near-dup candidates: a new batch (shifted ids, half
    * with an appended word) against the banded-signature STATE of the
    * existing corpus — only the new batch is signed; the state never
    * re-tokenizes. The oracle recomputes both band sets and replays the
    * band-bucket join.
    */
  val q118_incremental_minhash: Q = Q(
    fn = (s, dir) => {
      val docs = table(s, dir, "documents").select(col("doc_id"), col("text"))
      val state = Dedup.minhashBands(docs.filter(col("doc_id") < 250),
        col("text"), col("doc_id"), k = 3, numHashes = 4, bands = 2)
      val batch = docs.filter(col("doc_id") >= 200 && col("doc_id") < 300)
        .withColumn("doc_id", col("doc_id") + 1000000)
        .withColumn("text",
          when(col("doc_id") % 2 === 1, concat(col("text"), lit(" appended")))
            .otherwise(col("text")))
      Dedup.minhashCandidatesAgainst(batch, col("text"), col("doc_id"), state,
          k = 3, numHashes = 4, bands = 2)
        .orderBy(col("new_id"), col("old_id"))
    },
    oracle = Some(s"""
      WITH corpus AS (
        SELECT doc_id, text, 'old' AS side FROM documents WHERE doc_id < 250
        UNION ALL
        SELECT doc_id + 1000000,
               CASE WHEN (doc_id + 1000000) % 2 = 1 THEN text || ' appended' ELSE text END,
               'new'
        FROM documents WHERE doc_id >= 200 AND doc_id < 300),
      toks AS (
        SELECT doc_id, side, list_filter(string_split_regex(lower(text), '[^\\p{L}\\p{N}_]+'),
                                         x -> length(x) >= 1) AS t
        FROM corpus),
      sh AS (
        SELECT doc_id, side,
               CASE WHEN len(t) < 3 THEN [coalesce(array_to_string(t, ' '), '')]
                    ELSE list_transform(generate_series(1, len(t) - 2),
                                        i -> array_to_string(t[i:i+2], ' ')) END AS shingles
        FROM toks),
      ex AS (SELECT doc_id, side, u.s FROM sh, UNNEST(shingles) u(s)),
      sigx AS (
        SELECT doc_id, side, r.h, min(${h60("(r.h || ':' || s)")}) AS sig
        FROM ex CROSS JOIN range(4) r(h)
        GROUP BY doc_id, side, r.h),
      -- full doc x h grid (the q52 discipline): a null-text doc has NULL
      -- shingles but the engine still bands its all-null signature — the
      -- band hash degrades to hash60('') (concat_ws skips nulls), making
      -- null-text docs mutual candidates BY CONTRACT (they are mutual
      -- exact duplicates; see Dedup.minhashCandidates). array_to_string skips
      -- NULLs the same way, so the grid reproduces that constant.
      sig AS (
        SELECT c.doc_id, c.side, r.h, s.sig
        FROM (SELECT DISTINCT doc_id, side FROM corpus) c
        CROSS JOIN range(4) r(h)
        LEFT JOIN sigx s ON s.doc_id = c.doc_id AND s.h = r.h),
      band AS (
        -- coalesce '': list() skips NULL sigs entirely, and the engine's
        -- concat_ws over an all-null band slice is '' — hash60('') is the
        -- shared band key that makes null-text docs mutual candidates
        SELECT doc_id, side, h // 2 AS band,
               ${h60("coalesce(array_to_string(list(sig ORDER BY h), ','), '')")} AS band_hash
        FROM sig
        GROUP BY doc_id, side, h // 2)
      SELECT DISTINCT n.doc_id AS new_id, o.doc_id AS old_id
      FROM band n JOIN band o
        ON n.band = o.band AND n.band_hash = o.band_hash
       AND n.side = 'new' AND o.side = 'old' AND n.doc_id != o.doc_id
      ORDER BY new_id, old_id"""))

  /** Asymmetric int8-quantized ANN: full-precision queries scored against
    * the int8-stored corpus (the 4×-smaller storage path for 100 TB ANN).
    * The oracle replays quantize → dequantize → cosine with the identical
    * op order (int·scale products are exact; only the half-scale rounding
    * differs from q55's fp scores).
    */
  val q119_quantized_ann: Q = Q(
    fn = (s, dir) => {
      val emb = table(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 3)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      val corpus = emb.select(col("vec_id").as("c_id"), col("embedding").as("c_vec"))
      Similarity.quantizedTopK(queries, corpus, "q_id", "q_vec", "c_id", "c_vec", k = 5)
        .orderBy(col("q_id"), col("rank"))
    },
    oracle = Some("""
      WITH q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 3),
      cz AS (
        SELECT vec_id AS c_id, embedding::DOUBLE[] AS ev,
               list_max(list_transform(embedding, x -> abs(x::DOUBLE))) AS mx
        FROM embeddings),
      c AS (
        SELECT c_id,
               list_transform(ev, x -> CAST(floor(x /
                   (CASE WHEN mx = 0 THEN CAST(1 AS DOUBLE) ELSE mx / 127.0 END) + 0.5) AS INT)
                 * (CASE WHEN mx = 0 THEN CAST(1 AS DOUBLE) ELSE mx / 127.0 END)) AS cv
        FROM cz),
      scored AS (
        SELECT q_id, c_id,
               list_sum(list_transform(range(1, 65), i -> qv[i] * cv[i])) /
               sqrt(list_sum(list_transform(range(1, 65), i -> qv[i] * qv[i]))) /
               sqrt(list_sum(list_transform(range(1, 65), i -> cv[i] * cv[i]))) AS cos
        FROM q CROSS JOIN c
        WHERE q_id <> c_id),
      ranked AS (
        SELECT q_id, c_id, cos,
               row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rank
        FROM scored)
      SELECT q_id, c_id, round(cos, 4) AS cos, rank
      FROM ranked WHERE rank <= 5
      ORDER BY q_id, rank"""))

  /** Per-doc duplicate-span fraction (RefinedWeb/Dolma memorization
    * signal): share of each doc's distinct 5-gram hashes appearing in ≥1
    * other doc. 50 exact copies are injected so the metric has known mass;
    * the oracle replays shingling → distinct hashes → doc-count → fraction.
    */
  val q129_dup_spans: Q = Q(
    fn = (s, dir) => {
      val docs = table(s, dir, "documents").select(col("doc_id"), col("text"))
      val aug = docs.unionByName(
        docs.filter(col("doc_id") < 50).withColumn("doc_id", col("doc_id") + lit(1000000L)))
      TextAnalysis.duplicateSpanFraction(aug, col("doc_id"), col("text"), k = 5)
        .select(col("id").as("doc_id"),
          (floor(col("dup_span_frac") * 1e4 + 0.5) / 1e4).as("dup_span_frac"))
        .orderBy(col("doc_id"))
    },
    oracle = Some(s"""
      WITH corpus AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 1000000, text FROM documents WHERE doc_id < 50),
      toks AS (
        SELECT doc_id, list_filter(string_split_regex(lower(text), '[^\\p{L}\\p{N}_]+'),
                                   x -> length(x) >= 1) AS t
        FROM corpus),
      sh AS (
        SELECT doc_id,
               CASE WHEN len(t) < 5 THEN [coalesce(array_to_string(t, ' '), '')]
                    ELSE list_transform(generate_series(1, len(t) - 4),
                                        i -> array_to_string(t[i:i+4], ' ')) END AS shingles
        FROM toks),
      ex AS (SELECT DISTINCT doc_id, ${h60("u.s")} AS g FROM sh, UNNEST(shingles) u(s)),
      cnt AS (SELECT g, count(*) AS nd FROM ex GROUP BY g)
      SELECT doc_id,
             floor(CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS DOUBLE) /
                   CAST(count(*) AS DOUBLE) * 1e4 + 0.5) / 1e4 AS dup_span_frac
      FROM ex JOIN cnt USING (g)
      GROUP BY doc_id
      ORDER BY doc_id"""))

  /** Signature-based Jaccard ESTIMATE vs exact shingle Jaccard on
    * (original, near-copy) pairs: the MinHash estimator verifies candidates
    * from 8·numHashes-byte signatures alone — no shingle re-staging, ~100×
    * less verify-join traffic at corpus scale. The oracle recomputes both
    * values from scratch.
    */
  val q135_jaccard_estimate: Q = Q(
    fn = (s, dir) => {
      val docs = table(s, dir, "documents").filter(col("doc_id") < 20)
        .select(col("doc_id"), col("text"))
      val near = docs.withColumn("doc_id", col("doc_id") + 1000000)
        .withColumn("text", concat(col("text"), lit(" tail words added")))
      val corpus = docs.unionByName(near)
      val sigs = corpus.select(col("doc_id"),
        Dedup.minhashSignature(col("text"), k = 3, numHashes = 8).as("sig"),
        TextAnalysis.shingles(col("text"), 3).as("sh"))
      val a = sigs.filter(col("doc_id") < 20)
        .select(col("doc_id").as("id_a"), col("sig").as("sig_a"), col("sh").as("sh_a"))
      val b = sigs.filter(col("doc_id") >= 1000000)
        .select(col("doc_id").as("id_b"), col("sig").as("sig_b"), col("sh").as("sh_b"))
      a.join(b, col("id_b") === col("id_a") + 1000000)
        .select(col("id_a"), col("id_b"),
          (floor(Dedup.jaccardEstimate(col("sig_a"), col("sig_b")) * 1e4 + 0.5) / 1e4).as("jac_est"),
          (floor(Dedup.jaccardShingles(col("sh_a"), col("sh_b")) * 1e4 + 0.5) / 1e4).as("jac_true"))
        .orderBy(col("id_a"))
    },
    oracle = Some(s"""
      WITH corpus AS (
        SELECT doc_id, text FROM documents WHERE doc_id < 20
        UNION ALL
        SELECT doc_id + 1000000, text || ' tail words added' FROM documents WHERE doc_id < 20),
      toks AS (
        SELECT doc_id, list_filter(string_split_regex(lower(text), '[^\\p{L}\\p{N}_]+'),
                                   x -> length(x) >= 1) AS t
        FROM corpus),
      sh AS (
        SELECT doc_id,
               CASE WHEN len(t) < 3 THEN [coalesce(array_to_string(t, ' '), '')]
                    ELSE list_transform(generate_series(1, len(t) - 2),
                                        i -> array_to_string(t[i:i+2], ' ')) END AS shingles
        FROM toks),
      ex AS (SELECT doc_id, u.s FROM sh, UNNEST(shingles) u(s)),
      sig AS (
        SELECT doc_id, r.h, min(${h60("(r.h || ':' || s)")}) AS sig
        FROM ex CROSS JOIN range(8) r(h)
        GROUP BY doc_id, r.h),
      sigv AS (SELECT doc_id, list(sig ORDER BY h) AS sig FROM sig GROUP BY doc_id)
      -- LEFT JOIN sigv + coalesce 0.0: a null-text doc has no sig rows here
      -- but the engine's all-null signature pair scores est 0.0 (null ==
      -- null matches no position) with a NULL exact jaccard — the row stays
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             coalesce(floor(CAST(list_sum(list_transform(generate_series(1, 8),
                     i -> CASE WHEN sa.sig[i] = sb.sig[i] THEN 1 ELSE 0 END)) AS DOUBLE)
                   / CAST(8 AS DOUBLE) * 1e4 + 0.5) / 1e4, 0.0) AS jac_est,
             floor(len(list_intersect(list_distinct(ha.shingles), list_distinct(hb.shingles)))::DOUBLE /
                   len(list_distinct(list_concat(list_distinct(ha.shingles), list_distinct(hb.shingles))))
                   * 1e4 + 0.5) / 1e4 AS jac_true
      FROM (SELECT doc_id FROM corpus WHERE doc_id < 20) a
      JOIN (SELECT doc_id FROM corpus WHERE doc_id >= 1000000) b
        ON b.doc_id = a.doc_id + 1000000
      LEFT JOIN sigv sa ON sa.doc_id = a.doc_id
      LEFT JOIN sigv sb ON sb.doc_id = b.doc_id
      JOIN sh ha ON ha.doc_id = a.doc_id
      JOIN sh hb ON hb.doc_id = b.doc_id
      ORDER BY id_a"""))

  /** Character-entropy quality signal per doc — the oracle replays the
    * identical sorted probability fold (`acc − p·ln p` ascending char
    * order), so the doubles agree bit-for-bit before the tie-stable
    * quantize.
    */
  val q136_char_entropy: Q = Q(
    fn = (s, dir) =>
      table(s, dir, "documents")
        .withColumn("ent", TextAnalysis.charEntropy(col("text")))
        .select(col("doc_id"),
          (floor(col("ent") * 1e4 + 0.5) / 1e4).as("char_entropy"))
        .orderBy(col("doc_id")),
    oracle = Some("""
      WITH c AS (
        SELECT doc_id,
               list_filter(string_split(lower(text), ''), x -> x != '') AS chars
        FROM documents),
      u AS (
        SELECT doc_id, chars,
               list_sort(list_distinct(chars)) AS uniq,
               len(chars) AS n
        FROM c)
      SELECT doc_id,
             CASE WHEN n IS NULL THEN NULL ELSE
             floor(list_reduce(
               list_prepend(CAST(0 AS DOUBLE),
                 list_transform(uniq, ch ->
                   CAST(len(list_filter(chars, x -> x = ch)) AS DOUBLE) / n)),
               (acc, p) -> acc - p * ln(p)) * 1e4 + 0.5) / 1e4 END AS char_entropy
      FROM u
      ORDER BY doc_id"""))

  /** Hashing-trick token features (fastText-style): 16-dim hashed
    * bag-of-tokens per doc, zero vocabulary pass. Oracle replays the
    * bucket hash and left-joins the zero dims back in.
    */
  val q139_hashed_features: Q = Q(
    fn = (s, dir) =>
      table(s, dir, "documents").filter(col("doc_id") < 100)
        .select(col("doc_id"),
          posexplode(TextAnalysis.hashedTokenFeatures(col("text"), dim = 16))
            .as(Seq("j", "cnt")))
        .select(col("doc_id"), col("j").cast("long").as("j"), col("cnt"))
        .orderBy(col("doc_id"), col("j")),
    oracle = Some(s"""
      WITH toks AS (
        SELECT doc_id, u.t
        FROM (SELECT doc_id, list_filter(string_split_regex(lower(text), '[^\\p{L}\\p{N}_]+'),
                                         x -> length(x) >= 1) AS t
              FROM documents WHERE doc_id < 100) d, UNNEST(d.t) u(t)),
      b AS (SELECT doc_id, ${h60("t")} % 16 AS j FROM toks),
      g AS (SELECT doc_id, j, count(*) AS cnt FROM b GROUP BY doc_id, j)
      SELECT d.doc_id, r.j, COALESCE(g.cnt, CAST(0 AS BIGINT)) AS cnt
      FROM (SELECT doc_id FROM documents
            WHERE doc_id < 100 AND text IS NOT NULL) d
      CROSS JOIN range(16) r(j)
      LEFT JOIN g ON g.doc_id = d.doc_id AND g.j = r.j
      ORDER BY d.doc_id, r.j"""))

  /** Curation pipeline v2 — this round's new operators composed in ONE
    * lazy plan: exact dedup (min-id per digest, only digests shuffle) →
    * entropy-band + token-floor quality gates (map-side) → token-weighted
    * Efraimidis–Spirakis sample of 200 → shard-parallel sequence packing.
    * Three digest/id shuffles + one TakeOrdered + partition-local packing
    * windows end-to-end; the oracle replays every stage.
    */
  val q141_curation_v2: Q = Q(
    fn = (s, dir) => {
      val docs = docsC(s, dir).select(col("doc_id"), col("text"))
      val dupes = docs.filter(col("doc_id") % 3 === 0)
        .withColumn("doc_id", col("doc_id") + 1000000)
      // stage the synthesized corpus once (the q175 multi-consumer pattern):
      // exact dedup reads its input twice (digest groupBy + keeper
      // semi-join) and the quality gates read it again — unstaged, this
      // plan scanned the documents parquet SIX times
      val corpus = Snapshots.cut(docs.unionByName(dupes))
      val keepers = Dedup.exactDedupRows(corpus, col("text"), col("doc_id"))
      val gated = keepers
        .withColumn("n_tok", TextAnalysis.tokenCount(col("text")))
        .withColumn("ent", TextAnalysis.charEntropy(col("text")))
        .filter(col("ent") >= 2.0 && col("ent") <= 4.5 && col("n_tok") >= 20)
      val sampled = graft.ops.Sampling.weightedNByHash(
        gated.select(col("doc_id"), col("n_tok")), col("doc_id"), col("n_tok"), n = 200)
      graft.ops.Packing.packByTokenBudget(
          sampled, id = col("doc_id"), tokens = col("n_tok"), budget = 512L, shards = 4)
        .select(col("doc_id"), col("n_tok"), col("shard"), col("bin"))
        .orderBy(col("doc_id"))
    },
    oracle = Some(s"""
      WITH corpus AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 3 = 0),
      keep AS (
        SELECT min(doc_id) AS doc_id
        FROM corpus
        GROUP BY ${h60("trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))")}),
      kd AS (SELECT c.doc_id, c.text FROM corpus c JOIN keep USING (doc_id)),
      ch AS (
        SELECT doc_id, text,
               list_filter(string_split(lower(text), ''), x -> x != '') AS chars
        FROM kd),
      feat AS (
        SELECT doc_id,
               len(list_filter(string_split_regex(lower(text), '[^\\p{L}\\p{N}_]+'),
                               x -> length(x) >= 1)) AS n_tok,
               list_reduce(
                 list_prepend(CAST(0 AS DOUBLE),
                   list_transform(list_sort(list_distinct(chars)), c ->
                     CAST(len(list_filter(chars, x -> x = c)) AS DOUBLE) / len(chars))),
                 (acc, p) -> acc - p * ln(p)) AS ent
        FROM ch),
      gated AS (
        SELECT doc_id, n_tok FROM feat
        WHERE ent >= 2.0 AND ent <= 4.5 AND n_tok >= 20),
      sampled AS (
        SELECT doc_id, n_tok FROM (
          SELECT *,
                 ln((CAST(${h60("CAST(doc_id AS VARCHAR)")} % 1000000000 AS DOUBLE)
                     + CAST(0.5 AS DOUBLE)) / 1e9) / CAST(n_tok AS DOUBLE) AS score
          FROM gated)
        ORDER BY score DESC, doc_id
        LIMIT 200),
      packed AS (
        SELECT doc_id, n_tok, ${h60("CAST(doc_id AS VARCHAR)")} % 4 AS shard
        FROM sampled)
      SELECT doc_id, n_tok, shard,
             CAST((sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok)
                  // 512 AS BIGINT) AS bin
      FROM packed
      ORDER BY doc_id"""),
    bench = true) // regression-watch the composed new-op pipeline

  /** [[q107_decontamination]] through the broadcast Bloom pre-filter
    * ([[TextAnalysis.contaminatedIdsBloom]]): the corpus grams probe a
    * 512 KB bit array map-side before the exact verify semi-join — the
    * shape for benchmark suites whose gram SET outgrows broadcast while the
    * filter bits stay constant-size. Result is exact (no false negatives by
    * construction; false positives die in the verify join), so the oracle
    * is the same plain anti-join SQL — the bloom is invisible to semantics.
    */
  val q144_bloom_decontamination: Q = Q(
    fn = (s, dir) => {
      val docs = docsC(s, dir).select(col("doc_id"), col("text"))
      val bench = docs.filter(col("doc_id") % 5 === 0)
      val cont = TextAnalysis
        .contaminatedIdsBloom(docs, col("text"), col("doc_id"), bench, col("text"), k = 5)
        .withColumnRenamed("id", "doc_id")
        .withColumn("contaminated", lit(true))
      // id spine from the raw table, not docsC: a one-column (doc_id)
      // projection has no kernel to parallelize, so the spreadForCompute
      // exchange would be a pure extra shuffle+job (the q208 lang-join
      // lesson, guide §2.4)
      table(s, dir, "documents").select(col("doc_id"))
        .join(cont, Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("contaminated"), lit(false)).as("contaminated"))
        .orderBy(col("doc_id"))
    },
    oracle = Some(s"""
      WITH toks AS (
        SELECT doc_id, list_filter(string_split_regex(lower(text), '[^\\p{L}\\p{N}_]+'),
                                   x -> length(x) >= 1) AS t
        FROM documents),
      sh AS (
        SELECT doc_id,
               CASE WHEN len(t) < 5 THEN [coalesce(array_to_string(t, ' '), '')]
                    ELSE list_transform(generate_series(1, len(t) - 4),
                                        i -> array_to_string(t[i:i+4], ' ')) END AS gs
        FROM toks),
      bg AS (
        SELECT DISTINCT ${h60("u.g")} AS gh
        FROM sh, UNNEST(gs) u(g) WHERE doc_id % 5 = 0),
      cont AS (
        SELECT DISTINCT s.doc_id
        FROM sh s, UNNEST(s.gs) u(g)
        WHERE ${h60("u.g")} IN (SELECT gh FROM bg))
      SELECT t.doc_id, t.doc_id IN (SELECT doc_id FROM cont) AS contaminated
      FROM toks t
      ORDER BY t.doc_id"""),
    bench = true)

  /** Perceptual-hash image near-dup ([[Multimodal.imageHashes]] dHash +
    * band-bucketed hamming pairs): the multimodal counterpart of MinHash
    * dedup — 64-bit fingerprints band-join on (band, slice) keys, never all
    * pairs; `bands(8) > maxHamming(3)` pigeonholes guaranteed recall. The
    * corpus payloads here are text bytes, so the deterministic md5 fallback
    * kernel runs (= hash60 of the bytes — the oracle replays it end to end
    * with a brute-force `bit_count(xor)` pair scan, exactly equivalent
    * given the recall guarantee); the REAL dHash kernel is golden-image
    * spec-tested (OpsSpec).
    */
  val q145_image_neardup: Q = Q(
    fn = (s, dir) => {
      val docs = table(s, dir, "documents")
      val assets = docs.select(
        Multimodal.assetStruct(col("doc_id").cast("string"),
          encode(col("text"), "UTF-8"), map(lit("src"), lit("doc"))).as("asset"))
      val hashes = Multimodal.imageHashes(assets, "asset").toDF()
        .select(col("path").cast("long").as("doc_id"), col("dhash"))
      Multimodal.nearDupImagePairs(hashes, "doc_id", "dhash", maxHamming = 3, bands = 8)
        .orderBy(col("id_a"), col("id_b"))
    },
    oracle = Some(s"""
      WITH h AS (
        -- null/empty payloads hash to the engine's md5Hash60 zero sentinel
        -- (Multimodal.md5Hash60: null or empty bytes -> 0L); non-empty text
        -- bytes replay as the same md5-prefix the engine computes
        SELECT doc_id,
               CASE WHEN text IS NULL OR text = '' THEN 0
                    ELSE ${h60("text")} END AS h
        FROM documents)
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(bit_count(xor(a.h, b.h)) AS BIGINT) AS hamming
      FROM h a JOIN h b ON a.doc_id < b.doc_id
      WHERE bit_count(xor(a.h, b.h)) <= 3
      ORDER BY id_a, id_b"""))

  /** SemDeDup-shaped semantic dedup ([[Similarity.semanticDedup]]):
    * embeddings cluster to deterministic seed-row centroids (the q76
    * device — DuckDB replays assignment exactly), then near-duplicates are
    * dropped within cells only (cosine ≥ 0.999 to a lower-id cellmate).
    * Planted exact copies (vec_id % 7, shifted ids) are the duplicates; the
    * max natural pairwise cosine in this corpus is ≈0.6 at every SF, so the
    * threshold decision is never borderline.
    */
  val q147_semantic_dedup: Q = Q(
    fn = (s, dir) => {
      val emb = table(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val planted = emb.filter(col("vec_id") % 7 === 0)
        .withColumn("vec_id", col("vec_id") + 1000000)
      val corpus = emb.unionByName(planted)
      val seedIds = Seq(7L, 61L, 113L, 167L, 211L, 263L, 317L, 373L)
      // bounded driver collect: nlist seed rows, same budget as a KMeans model
      val centroids = emb.filter(col("vec_id").isin(seedIds: _*))
        .orderBy(col("vec_id"))
        .select(col("embedding").cast("array<double>"))
        .collect().map(_.getSeq[Double](0).toSeq).toSeq
      Similarity.semanticDedup(corpus, "vec_id", "embedding", centroids, eps = 0.999)
        .orderBy(col("vec_id"))
    },
    oracle = Some("""
      WITH corpus AS (
        SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings
        UNION ALL
        SELECT vec_id + 1000000, embedding::DOUBLE[] FROM embeddings WHERE vec_id % 7 = 0),
      ctr AS (
        SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, embedding::DOUBLE[] AS cv
        FROM embeddings WHERE vec_id IN (7, 61, 113, 167, 211, 263, 317, 373)),
      dist AS (
        SELECT vec_id, cell,
               list_sum(list_transform(range(1, 65), i -> (vec[i] - cv[i]) * (vec[i] - cv[i]))) AS d
        FROM corpus CROSS JOIN ctr),
      assigned AS (
        SELECT c.vec_id, c.vec, x.cell
        FROM corpus c JOIN (
          SELECT vec_id, cell,
                 row_number() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
          FROM dist) x ON x.vec_id = c.vec_id AND x.rn = 1),
      dropped AS (
        SELECT DISTINCT b.vec_id
        FROM assigned a JOIN assigned b ON a.cell = b.cell AND a.vec_id < b.vec_id
        WHERE list_sum(list_transform(range(1, 65), i -> a.vec[i] * b.vec[i])) /
              sqrt(list_sum(list_transform(range(1, 65), i -> a.vec[i] * a.vec[i]))) /
              sqrt(list_sum(list_transform(range(1, 65), i -> b.vec[i] * b.vec[i]))) >= 0.999)
      SELECT vec_id FROM assigned WHERE vec_id NOT IN (SELECT vec_id FROM dropped)
      ORDER BY vec_id"""))

  /** Lexicon tagging + blocklist gate ([[TextAnalysis.matchedKeywords]] /
    * [[matchedPhrases]]): word-level matches against a broadcast lexicon
    * (sorted, distinct) and substring phrase matches in lexicon order;
    * `blocked` is the phrase-gate verdict. Shuffle-free map-side Column
    * algebra — the topic-routing / policy-filter shape.
    */
  val q152_keyword_tag: Q = Q(
    fn = (s, dir) =>
      table(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.matchedKeywords(col("text"),
            Seq("join", "merge", "window", "stream")).as("kwa"),
          TextAnalysis.matchedPhrases(col("text"),
            Seq("table scan", "batch batch")).as("pha"))
        // arrays flattened to csv for the driver's value hash
        .select(col("doc_id"), concat_ws(",", col("kwa")).as("kw"),
          concat_ws(",", col("pha")).as("ph"), (size(col("pha")) > 0).as("blocked"))
        .orderBy(col("doc_id")),
    oracle = Some("""
      WITH toks AS (
        SELECT doc_id, text,
               list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}_]+'),
                           x -> length(x) >= 1) AS t
        FROM documents)
      SELECT doc_id,
             coalesce(array_to_string(list_sort(list_filter(['join', 'merge', 'window', 'stream'],
                                                            w -> list_contains(t, w))), ','), '') AS kw,
             coalesce(array_to_string(list_filter(['table scan', 'batch batch'],
                                                  p -> contains(lower(text), p)), ','), '') AS ph,
             len(list_filter(['table scan', 'batch batch'],
                             p -> contains(lower(text), p))) > 0 AS blocked
      FROM toks
      ORDER BY doc_id"""))

  /** Global keep-first line dedup ([[TextAnalysis.dedupLinesGlobal]], the
    * RefinedWeb/Dolma cross-doc span rewrite): a shared header survives
    * only in the first doc; the `% 4` promo line only at doc 0; byte-identical
    * document bodies (the corpus has exact dupes) vanish from every doc but
    * their first. Window on line hashes + ordered in-aggregate reassembly.
    */
  val q154_line_dedup: Q = Q(
    fn = (s, dir) => {
      val pages = docsC(s, dir).select(col("doc_id"),
        concat(lit("shared header line\n"), col("text"),
          when(col("doc_id") % 4 === 0, lit("\ncommunity guidelines apply"))
            .otherwise(concat(lit("\nfooter "), col("doc_id").cast("string")))).as("page"))
      TextAnalysis.dedupLinesGlobal(pages, col("page"), col("doc_id"), out = "clean")
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("doc_id"))
    },
    oracle = Some(s"""
      WITH pages AS (
        SELECT doc_id,
               'shared header line' || chr(10) || text ||
               CASE WHEN doc_id % 4 = 0 THEN chr(10) || 'community guidelines apply'
                    ELSE chr(10) || 'footer ' || doc_id END AS page
        FROM documents),
      lines AS (
        SELECT doc_id, i - 1 AS pos, ls[i] AS l
        FROM (SELECT doc_id, string_split(page, chr(10)) AS ls FROM pages),
             UNNEST(generate_series(1, len(ls))) t(i)),
      kept AS (
        SELECT doc_id, pos, l,
               row_number() OVER (PARTITION BY ${h60("l")} ORDER BY doc_id, pos) AS rn
        FROM lines),
      rebuilt AS (
        SELECT doc_id, string_agg(l, chr(10) ORDER BY pos) AS clean
        FROM kept WHERE rn = 1 GROUP BY doc_id)
      SELECT d.doc_id, coalesce(r.clean, '') AS clean
      FROM documents d LEFT JOIN rebuilt r ON d.doc_id = r.doc_id
      ORDER BY d.doc_id"""),
    bench = true) // regression-watch the cross-doc text-shuffle workload

  /** Quality-classifier APPLY ([[TextAnalysis.linearScore]], the
    * fastText/FineWeb-Edu gate shape): sigmoid of broadcast weights dotted
    * with mean hashed-token features + bias, thresholded to a keep flag.
    * Deterministic rational weights so the oracle replays coefficient
    * arithmetic exactly; shuffle-free map-side scoring.
    */
  val q157_quality_classifier: Q = Q(
    fn = (s, dir) => {
      val weights = (0 until 16).map(j => (j % 7 - 3) / 10.0)
      table(s, dir, "documents")
        .select(col("doc_id"),
          round(TextAnalysis.linearScore(col("text"), weights, bias = 0.1), 4).as("score"))
        .withColumn("keep", col("score") >= 0.5)
        .orderBy(col("doc_id"))
    },
    oracle = Some(s"""
      WITH toks AS (
        SELECT doc_id, list_filter(string_split_regex(lower(text), '[^\\p{L}\\p{N}_]+'),
                                   x -> length(x) >= 1) AS t
        FROM documents),
      b AS (
        SELECT doc_id, list_transform(t, x -> ${h60("x")} % 16) AS bk,
               -- null text scores NULL in the engine (null passthrough);
               -- a NULL n poisons z the same way
               CASE WHEN t IS NULL THEN NULL
                    ELSE greatest(len(t), 1)::DOUBLE END AS n
        FROM toks),
      z AS (
        SELECT doc_id,
               0.1 + list_reduce(
                 list_prepend(CAST(0 AS DOUBLE),
                   list_transform(bk, q -> (q % 7 - 3) / 10.0)),
                 (a, v) -> a + v) / n AS z
        FROM b)
      SELECT doc_id, round(1.0 / (1.0 + exp(-z)), 4) AS score,
             round(1.0 / (1.0 + exp(-z)), 4) >= 0.5 AS keep
      FROM z
      ORDER BY doc_id"""))

  /** Canonical-document near-dup dedup ([[graft.ops.Components
    * .dedupByCandidatesCanonical]]): same clustered corpus as q91, but each
    * cluster keeps its BEST member by quality score (here: text length, so
    * the planted longer variant wins) instead of the min-id survivor — the
    * RefinedWeb/FineWeb retention policy. Selection is one `max_by` over a
    * (score, −id) struct; payload text never rides the component join.
    */
  val q158_canonical_dedup: Q = Q(
    fn = (s, dir) => {
      val docs = table(s, dir, "documents").filter(col("doc_id") < 200)
        .select(col("doc_id"), col("text"))
      val near = docs.filter(col("doc_id") % 2 === 0)
        .withColumn("doc_id", col("doc_id") + 1000000)
        .withColumn("text", concat(col("text"), lit(" appended")))
      val corpus = docs.unionByName(near)
      val pairs = Dedup.verifiedNearDupPairs(corpus, col("text"), col("doc_id"),
        k = 3, numHashes = 4, bands = 2, threshold = 0.5)
        .select(col("id_a"), col("id_b"))
      graft.ops.Components.dedupByCandidatesCanonical(
          corpus, "doc_id", length(col("text")), pairs)
        .select(col("doc_id"), length(col("text")).cast("long").as("len"))
        .orderBy(col("doc_id"))
    },
    oracle = Some(s"""
      WITH RECURSIVE corpus AS (
        SELECT doc_id, text FROM documents WHERE doc_id < 200
        UNION ALL
        SELECT doc_id + 1000000, text || ' appended' FROM documents
        WHERE doc_id < 200 AND doc_id % 2 = 0),
      toks AS (
        SELECT doc_id, list_filter(string_split_regex(lower(text), '[^\\p{L}\\p{N}_]+'),
                                   x -> length(x) >= 1) AS t
        FROM corpus),
      sh AS (
        SELECT doc_id,
               CASE WHEN len(t) < 3 THEN [coalesce(array_to_string(t, ' '), '')]
                    ELSE list_transform(generate_series(1, len(t) - 2),
                                        i -> array_to_string(t[i:i+2], ' ')) END AS shingles
        FROM toks),
      ex AS (SELECT doc_id, u.s FROM sh, UNNEST(shingles) u(s)),
      sig AS (
        SELECT doc_id, r.h, min(${h60("(r.h || ':' || s)")}) AS sig
        FROM ex CROSS JOIN range(4) r(h)
        GROUP BY doc_id, r.h),
      band AS (
        SELECT doc_id, h // 2 AS band,
               ${h60("array_to_string(list(sig ORDER BY h), ',')")} AS band_hash
        FROM sig
        GROUP BY doc_id, h // 2),
      cand AS (
        SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
        FROM band l JOIN band r
          ON l.band = r.band AND l.band_hash = r.band_hash AND l.doc_id < r.doc_id),
      pairs AS (
        SELECT id_a, id_b
        FROM cand
        JOIN sh sa ON sa.doc_id = id_a
        JOIN sh sb ON sb.doc_id = id_b
        WHERE round(
                len(list_intersect(list_distinct(sa.shingles), list_distinct(sb.shingles)))::DOUBLE /
                len(list_distinct(list_concat(list_distinct(sa.shingles), list_distinct(sb.shingles)))),
                4) >= 0.5),
      edges AS (SELECT id_a AS a, id_b AS b FROM pairs
                UNION SELECT id_b, id_a FROM pairs),
      reach AS (
        SELECT doc_id AS n, doc_id AS lbl FROM corpus
        UNION
        SELECT e.b, r.lbl FROM reach r JOIN edges e ON r.n = e.a),
      comp AS (SELECT n AS doc_id, min(lbl) AS component FROM reach GROUP BY n)
      SELECT c.doc_id, CAST(length(co.text) AS BIGINT) AS len
      FROM comp c
      JOIN corpus co ON co.doc_id = c.doc_id
      QUALIFY row_number() OVER (PARTITION BY c.component
                                 ORDER BY length(co.text) DESC, c.doc_id) = 1
      ORDER BY c.doc_id"""))

  /** HTML → text ingest ([[TextAnalysis.stripHtml]], the C4/CCNet first
    * stage): script/style blocks die, tags strip, entities decode (`&amp;`
    * last), whitespace collapses. The HTML wrapper is planted around the
    * corpus text deterministically; patterns stay RE2-compatible (no
    * backreferences) so the oracle replays them verbatim.
    */
  val q163_html_strip: Q = Q(
    fn = (s, dir) =>
      table(s, dir, "documents")
        .withColumn("html", concat(
          lit("<html><head><style>p{color:red}</style></head><body><p class=\"x\">"),
          col("text"),
          lit("</p><script>var x = 1 &amp;&amp; 2;</script><br/>Done &amp; done</body></html>")))
        .select(col("doc_id"), TextAnalysis.stripHtml(col("html")).as("clean"))
        .orderBy(col("doc_id")),
    oracle = Some("""
      WITH h AS (
        SELECT doc_id,
               '<html><head><style>p{color:red}</style></head><body><p class="x">'
               || text ||
               '</p><script>var x = 1 &amp;&amp; 2;</script><br/>Done &amp; done</body></html>' AS html
        FROM documents)
      SELECT doc_id,
             trim(regexp_replace(
               replace(replace(replace(replace(replace(replace(
                 regexp_replace(
                   regexp_replace(
                     regexp_replace(html, '<script[^>]*>.*?</script>', ' ', 'gis'),
                     '<style[^>]*>.*?</style>', ' ', 'gis'),
                   '<[^>]*>', ' ', 'gs'),
                 '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'),
                 '&quot;', '"'), '&#39;', ''''), '&amp;', '&'),
               '\s+', ' ', 'g')) AS clean
      FROM h
      ORDER BY doc_id"""))

  /** Length-bucketed batching ([[graft.ops.Packing.bucketByLength]]) — the
    * padding-minimizing trainer layout: log₂-length buckets (exact
    * binary-string math, no float log), fixed-size batches from
    * length-sorted runs inside each (bucket, shard). Output: per-batch
    * padding waste `max·n − Σlen`, the number the policy exists to shrink.
    */
  val q164_length_batches: Q = Q(
    fn = (s, dir) => {
      val withLen = table(s, dir, "documents")
        .select(col("doc_id"),
          greatest(TextAnalysis.tokenCount(col("text")), lit(1L)).as("n_tok"))
      graft.ops.Packing
        .bucketByLength(withLen, col("doc_id"), col("n_tok"), batchSize = 8, shards = 4)
        .groupBy(col("bucket"), col("shard"), col("batch"))
        .agg(count(lit(1)).as("n"), max(col("n_tok")).as("max_len"),
          sum(col("n_tok")).as("sum_len"),
          (max(col("n_tok")) * count(lit(1)) - sum(col("n_tok"))).as("waste"))
        .orderBy(col("bucket"), col("shard"), col("batch"))
    },
    oracle = Some(s"""
      WITH lens AS (
        SELECT doc_id,
               greatest(len(list_filter(string_split_regex(lower(text), '[^\\p{L}\\p{N}_]+'),
                                        x -> length(x) >= 1)), 1) AS n_tok
        FROM documents),
      assigned AS (
        SELECT doc_id, n_tok,
               length(bin(n_tok)) - 1 AS bucket,
               ${h60("CAST(doc_id AS VARCHAR)")} % 4 AS shard
        FROM lens),
      batched AS (
        SELECT bucket, shard, n_tok,
               (row_number() OVER (PARTITION BY bucket, shard
                                   ORDER BY n_tok, doc_id) - 1) // 8 AS batch
        FROM assigned)
      SELECT bucket, shard, batch, count(*) AS n,
             max(n_tok) AS max_len, CAST(sum(n_tok) AS BIGINT) AS sum_len,
             CAST(max(n_tok) * count(*) - sum(n_tok) AS BIGINT) AS waste
      FROM batched
      GROUP BY 1, 2, 3
      ORDER BY 1, 2, 3"""))

  /** BM25 corpus scoring against a fixed term set ([[graft.ops.Bm25]]) —
    * retrieval-based selection (topic mining, rank-against-benchmark).
    * Corpus stats reduce in one aggregate to a broadcast row; tf is a
    * literal-term map-side projection; the score is a fixed-order fold the
    * oracle replays factor for factor (k1+1 and 1−b spelled as the same
    * IEEE expressions, not pre-folded constants).
    */
  val q165_bm25: Q = Q(
    fn = (s, dir) =>
      graft.ops.Bm25.score(
          table(s, dir, "documents").select(col("doc_id"), col("text")),
          col("text"), Seq("spark", "join", "vector"), "score")
        .select(col("doc_id"), round(col("score"), 4).as("score"))
        .orderBy(col("doc_id")),
    oracle = Some("""
      WITH toks AS (
        SELECT doc_id, list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}_]+'),
                                   x -> length(x) >= 1) AS t
        FROM documents),
      d AS (
        SELECT doc_id, len(t)::DOUBLE AS dl,
               len(list_filter(t, x -> x = 'spark'))::DOUBLE AS tf0,
               len(list_filter(t, x -> x = 'join'))::DOUBLE AS tf1,
               len(list_filter(t, x -> x = 'vector'))::DOUBLE AS tf2
        FROM toks),
      s AS (
        SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl,
               sum((tf0 > 0)::BIGINT)::DOUBLE AS df0,
               sum((tf1 > 0)::BIGINT)::DOUBLE AS df1,
               sum((tf2 > 0)::BIGINT)::DOUBLE AS df2
        FROM d)
      SELECT doc_id, round(
          ln(1 + (n - df0 + 0.5) / (df0 + 0.5)) * tf0 * (1.2 + 1) /
            (tf0 + 1.2 * ((1 - 0.75) + 0.75 * dl / avgdl))
        + ln(1 + (n - df1 + 0.5) / (df1 + 0.5)) * tf1 * (1.2 + 1) /
            (tf1 + 1.2 * ((1 - 0.75) + 0.75 * dl / avgdl))
        + ln(1 + (n - df2 + 0.5) / (df2 + 0.5)) * tf2 * (1.2 + 1) /
            (tf2 + 1.2 * ((1 - 0.75) + 0.75 * dl / avgdl)), 4) AS score
      FROM d, s
      ORDER BY doc_id"""))

  /** Unicode-script routing ([[TextAnalysis.scriptProfile]]): per-doc
    * Latin/Cyrillic/CJK/Arabic character mass + dominant script, over text
    * with planted non-Latin suffixes. Explicit codepoint ranges keep the
    * regexes identical across Java regex and RE2.
    */
  val q166_script_detect: Q = Q(
    fn = (s, dir) =>
      table(s, dir, "documents")
        .withColumn("mixed", concat(col("text"),
          when(col("doc_id") % 3 === 0, lit(" привет мир"))
            .when(col("doc_id") % 3 === 1, lit(" 你好世界"))
            .otherwise(lit(" hello"))))
        .select(col("doc_id"), TextAnalysis.scriptProfile(col("mixed")).as("sp"))
        .select(col("doc_id"), col("sp.latin").as("latin"),
          col("sp.cyrillic").as("cyrillic"), col("sp.cjk").as("cjk"),
          col("sp.arabic").as("arabic"), col("sp.dominant").as("dominant"))
        .orderBy(col("doc_id")),
    oracle = Some("""
      WITH m AS (
        SELECT doc_id,
               text || CASE WHEN doc_id % 3 = 0 THEN ' привет мир'
                            WHEN doc_id % 3 = 1 THEN ' 你好世界'
                            ELSE ' hello' END AS mixed
        FROM documents),
      ns AS (
        SELECT doc_id, regexp_replace(mixed, '\s', '', 'g') AS x
        FROM m),
      f AS (
        SELECT doc_id,
               greatest(length(x), 1)::DOUBLE AS total,
               (length(x) - length(regexp_replace(x, '[a-zA-Z]', '', 'g')))::DOUBLE AS n_latin,
               (length(x) - length(regexp_replace(x, '[Ѐ-ӿ]', '', 'g')))::DOUBLE AS n_cyr,
               (length(x) - length(regexp_replace(x, '[぀-ヿ一-鿿]', '', 'g')))::DOUBLE AS n_cjk,
               (length(x) - length(regexp_replace(x, '[؀-ۿ]', '', 'g')))::DOUBLE AS n_ar
        FROM ns)
      SELECT doc_id,
             round(n_latin / total, 4) AS latin,
             round(n_cyr / total, 4) AS cyrillic,
             round(n_cjk / total, 4) AS cjk,
             round(n_ar / total, 4) AS arabic,
             CASE WHEN round(n_latin / total, 4) >= round(n_cyr / total, 4)
                   AND round(n_latin / total, 4) >= round(n_cjk / total, 4)
                   AND round(n_latin / total, 4) >= round(n_ar / total, 4) THEN 'latin'
                  WHEN round(n_cyr / total, 4) >= round(n_cjk / total, 4)
                   AND round(n_cyr / total, 4) >= round(n_ar / total, 4) THEN 'cyrillic'
                  WHEN round(n_cjk / total, 4) >= round(n_ar / total, 4) THEN 'cjk'
                  ELSE 'arabic' END AS dominant
      FROM f
      ORDER BY doc_id"""))

  /** Bigram-LM quality scoring ([[TextAnalysis.bigramNll]], add-1
    * smoothing): context-aware perplexity proxy over corpus-derived bigram
    * and context frequencies. The oracle replays gram construction, both
    * frequency tables, the vocab scalar, and the decimal(28,14)-quantized
    * exact per-doc sum (order-independent in both engines, so the hash is
    * deterministic without pinning a fold order).
    */
  val q168_bigram_lm: Q = Q(
    fn = (s, dir) =>
      TextAnalysis.bigramNll(docsC(s, dir), col("text"), col("doc_id"))
        .select(col("id").as("doc_id"), (floor(col("nll") * 1e4 + 0.5) / 1e4).as("nll"))
        .orderBy(col("doc_id")),
    oracle = Some("""
      WITH toks AS (
        SELECT doc_id, list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}_]+'),
                                   x -> length(x) >= 1) AS t
        FROM documents),
      grams AS (
        SELECT doc_id, u.bg,
               string_split(u.bg, ' ')[1] AS ctx
        FROM (SELECT doc_id,
                     CASE WHEN len(t) < 2 THEN [coalesce(array_to_string(t, ' '), '')]
                          ELSE list_transform(generate_series(1, len(t) - 1),
                                              i -> array_to_string(t[i:i+1], ' ')) END AS bgs
              FROM toks), UNNEST(bgs) u(bg)),
      vocab AS (SELECT count(DISTINCT u.tok) AS v
                FROM toks, UNNEST(t) u(tok)),
      bgf AS (SELECT bg, count(*) AS cbg FROM grams GROUP BY bg),
      ctxf AS (SELECT ctx, count(*) AS cctx FROM grams GROUP BY ctx),
      j AS (
        SELECT doc_id, grams.bg,
               ln((cbg + 1.0) / (cctx + 1.0 * v)) AS lp
        FROM grams JOIN bgf USING (bg) JOIN ctxf USING (ctx) CROSS JOIN vocab),
      g AS (SELECT doc_id, sum(CAST(lp AS DECIMAL(28,14))) AS s, count(*) AS n
            FROM j GROUP BY doc_id)
      SELECT doc_id,
             floor(-CAST(s AS DOUBLE) / n * 1e4 + 0.5) / 1e4 AS nll
      FROM g
      ORDER BY doc_id"""),
    bench = true)

  /** Near-dup cluster-size histogram — dedup observability: how much mass
    * each cluster size holds (the number that says whether dedup is
    * removing boilerplate families or single twins). Rides the q91
    * machinery: components → per-component size → size histogram.
    */
  val q169_cluster_sizes: Q = Q(
    fn = (s, dir) => {
      val docs = table(s, dir, "documents").filter(col("doc_id") < 200)
        .select(col("doc_id"), col("text"))
      val near = docs.filter(col("doc_id") % 2 === 0)
        .withColumn("doc_id", col("doc_id") + 1000000)
        .withColumn("text", concat(col("text"), lit(" appended")))
      val corpus = docs.unionByName(near)
      val pairs = Dedup.verifiedNearDupPairs(corpus, col("text"), col("doc_id"),
        k = 3, numHashes = 4, bands = 2, threshold = 0.5)
        .select(col("id_a"), col("id_b"))
      val comps = graft.ops.Components.connectedComponents(pairs, "id_a", "id_b")
        .withColumnRenamed("id", "doc_id")
      val full = corpus.select(col("doc_id"))
        .join(comps, Seq("doc_id"), "left")
        .withColumn("component", coalesce(col("component"), col("doc_id")))
      full.groupBy(col("component")).agg(count(lit(1)).as("sz"))
        .groupBy(col("sz")).agg(count(lit(1)).as("n_clusters"),
          (col("sz") * count(lit(1))).as("n_docs"))
        .orderBy(col("sz"))
    },
    oracle = Some(s"""
      WITH RECURSIVE corpus AS (
        SELECT doc_id, text FROM documents WHERE doc_id < 200
        UNION ALL
        SELECT doc_id + 1000000, text || ' appended' FROM documents
        WHERE doc_id < 200 AND doc_id % 2 = 0),
      toks AS (
        SELECT doc_id, list_filter(string_split_regex(lower(text), '[^\\p{L}\\p{N}_]+'),
                                   x -> length(x) >= 1) AS t
        FROM corpus),
      sh AS (
        SELECT doc_id,
               CASE WHEN len(t) < 3 THEN [coalesce(array_to_string(t, ' '), '')]
                    ELSE list_transform(generate_series(1, len(t) - 2),
                                        i -> array_to_string(t[i:i+2], ' ')) END AS shingles
        FROM toks),
      ex AS (SELECT doc_id, u.s FROM sh, UNNEST(shingles) u(s)),
      sig AS (
        SELECT doc_id, r.h, min(${h60("(r.h || ':' || s)")}) AS sig
        FROM ex CROSS JOIN range(4) r(h)
        GROUP BY doc_id, r.h),
      band AS (
        SELECT doc_id, h // 2 AS band,
               ${h60("array_to_string(list(sig ORDER BY h), ',')")} AS band_hash
        FROM sig
        GROUP BY doc_id, h // 2),
      cand AS (
        SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
        FROM band l JOIN band r
          ON l.band = r.band AND l.band_hash = r.band_hash AND l.doc_id < r.doc_id),
      pairs AS (
        SELECT id_a, id_b
        FROM cand
        JOIN sh sa ON sa.doc_id = id_a
        JOIN sh sb ON sb.doc_id = id_b
        WHERE round(
                len(list_intersect(list_distinct(sa.shingles), list_distinct(sb.shingles)))::DOUBLE /
                len(list_distinct(list_concat(list_distinct(sa.shingles), list_distinct(sb.shingles)))),
                4) >= 0.5),
      edges AS (SELECT id_a AS a, id_b AS b FROM pairs
                UNION SELECT id_b, id_a FROM pairs),
      reach AS (
        SELECT doc_id AS n, doc_id AS lbl FROM corpus
        UNION
        SELECT e.b, r.lbl FROM reach r JOIN edges e ON r.n = e.a),
      comp AS (SELECT n AS doc_id, min(lbl) AS component FROM reach GROUP BY n),
      sizes AS (SELECT component, count(*) AS sz FROM comp GROUP BY component)
      SELECT sz, count(*) AS n_clusters, CAST(sz * count(*) AS BIGINT) AS n_docs
      FROM sizes
      GROUP BY sz
      ORDER BY sz"""))

  /** Token-budget corpus selection ([[graft.ops.Sampling
    * .selectByTokenBudget]]): keep the best documents (by n_chars, tie →
    * doc_id) until the token budget fills. The implementation numbers one
    * parallel sort with exclusive token sums ([[graft.core.Positions]],
    * never a single-task global window); the oracle is the equivalent
    * single global window.
    */
  val q170_token_budget_select: Q = Q(
    fn = (s, dir) => {
      // coalesce(0): a NULL-text doc costs zero tokens; the op itself fails
      // loud on null counts (the silent-budget-drift guard), so the CALLER
      // decides what a missing count means
      val docs = table(s, dir, "documents")
        .select(col("doc_id"), col("n_chars"),
          coalesce(TextAnalysis.tokenCount(col("text")), lit(0L)).as("n_tok"))
      graft.ops.Sampling.selectByTokenBudget(
          docs, col("doc_id"), col("n_chars"), col("n_tok"), budget = 1000L)
        .select(col("doc_id"), col("n_chars"))
        .orderBy(col("doc_id"))
    },
    oracle = Some("""
      WITH lens AS (
        SELECT doc_id, n_chars,
               coalesce(len(list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}_]+'),
                               x -> length(x) >= 1)), 0) AS n_tok
        FROM documents),
      c AS (
        SELECT doc_id, n_chars,
               sum(n_tok) OVER (ORDER BY n_chars DESC, doc_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 - n_tok AS cum
        FROM lens)
      SELECT doc_id, n_chars FROM c WHERE cum < 1000
      ORDER BY doc_id"""))

  /** Unicode normalization ([[TextAnalysis.normalizeText]]): curly
    * quotes/dashes/NBSP fold via one `translate`, zero-width chars strip,
    * ellipsis expands — over text with planted unicode junk.
    */
  val q172_normalize_text: Q = Q(
    fn = (s, dir) =>
      table(s, dir, "documents")
        .withColumn("messy", concat(col("text"),
          lit(" “quoted” – it’s… zero​width end")))
        .select(col("doc_id"), TextAnalysis.normalizeText(col("messy")).as("clean"))
        .orderBy(col("doc_id")),
    oracle = Some("""
      WITH m AS (
        SELECT doc_id,
               text || ' “quoted” – it’s… zero​width end' AS messy
        FROM documents)
      SELECT doc_id,
             trim(regexp_replace(
               regexp_replace(
                 translate(messy, '‘’“”–— ', e'''''""-- '),
                 '[​‌‍­﻿]', '', 'g'),
               '…', '...', 'g')) AS clean
      FROM m
      ORDER BY doc_id"""))

  /** Asymmetric containment detection ([[Dedup.containmentShingles]]):
    * |A∩B|/|A| over LSH candidates — "doc A lives inside doc B" (the
    * planted `+" appended"` variants contain their originals at ≈1.0 while
    * symmetric Jaccard under-scores them). Shingle arrays stage once per
    * doc; only pairs that collide in a band are ever compared.
    */
  val q173_containment: Q = Q(
    fn = (s, dir) => {
      val docs = table(s, dir, "documents").filter(col("doc_id") < 200)
        .select(col("doc_id"), col("text"))
      val near = docs.filter(col("doc_id") % 2 === 0)
        .withColumn("doc_id", col("doc_id") + 1000000)
        .withColumn("text", concat(col("text"), lit(" appended")))
      val corpus = docs.unionByName(near)
      val cands = Dedup.minhashCandidates(corpus, col("text"), col("doc_id"),
        k = 3, numHashes = 4, bands = 2)
      val sh = corpus.select(col("doc_id"),
        array_distinct(TextAnalysis.shingles(col("text"), 3)).as("sh"))
      cands
        .join(sh.select(col("doc_id").as("id_a"), col("sh").as("sh_a")), "id_a")
        .join(sh.select(col("doc_id").as("id_b"), col("sh").as("sh_b")), "id_b")
        .select(col("id_a"), col("id_b"),
          round(Dedup.containmentShingles(col("sh_a"), col("sh_b")), 4).as("a_in_b"),
          round(Dedup.containmentShingles(col("sh_b"), col("sh_a")), 4).as("b_in_a"))
        .filter(col("a_in_b") >= 0.9)
        .orderBy(col("id_a"), col("id_b"))
    },
    oracle = Some(s"""
      WITH corpus AS (
        SELECT doc_id, text FROM documents WHERE doc_id < 200
        UNION ALL
        SELECT doc_id + 1000000, text || ' appended' FROM documents
        WHERE doc_id < 200 AND doc_id % 2 = 0),
      toks AS (
        SELECT doc_id, list_filter(string_split_regex(lower(text), '[^\\p{L}\\p{N}_]+'),
                                   x -> length(x) >= 1) AS t
        FROM corpus),
      sh AS (
        SELECT doc_id,
               CASE WHEN len(t) < 3 THEN [coalesce(array_to_string(t, ' '), '')]
                    ELSE list_transform(generate_series(1, len(t) - 2),
                                        i -> array_to_string(t[i:i+2], ' ')) END AS shingles
        FROM toks),
      ex AS (SELECT doc_id, u.s FROM sh, UNNEST(shingles) u(s)),
      sig AS (
        SELECT doc_id, r.h, min(${h60("(r.h || ':' || s)")}) AS sig
        FROM ex CROSS JOIN range(4) r(h)
        GROUP BY doc_id, r.h),
      band AS (
        SELECT doc_id, h // 2 AS band,
               ${h60("array_to_string(list(sig ORDER BY h), ',')")} AS band_hash
        FROM sig
        GROUP BY doc_id, h // 2),
      cand AS (
        SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
        FROM band l JOIN band r
          ON l.band = r.band AND l.band_hash = r.band_hash AND l.doc_id < r.doc_id),
      scored AS (
        SELECT id_a, id_b,
               round(len(list_intersect(list_distinct(sa.shingles), list_distinct(sb.shingles)))::DOUBLE /
                     len(list_distinct(sa.shingles)), 4) AS a_in_b,
               round(len(list_intersect(list_distinct(sa.shingles), list_distinct(sb.shingles)))::DOUBLE /
                     len(list_distinct(sb.shingles)), 4) AS b_in_a
        FROM cand
        JOIN sh sa ON sa.doc_id = id_a
        JOIN sh sb ON sb.doc_id = id_b)
      SELECT id_a, id_b, a_in_b, b_in_a
      FROM scored
      WHERE a_in_b >= 0.9
      ORDER BY id_a, id_b"""))

  /** Within-doc line dedup ([[TextAnalysis.dedupLinesWithinDoc]]): first
    * occurrence of each line survives — the in-document complement of
    * q154's global pass, over docs synthesized with repeated lines.
    * Shuffle-free per-doc algebra; the oracle replays the first-index test.
    */
  val q174_within_doc_lines: Q = Q(
    fn = (s, dir) =>
      table(s, dir, "documents")
        .withColumn("multi", concat_ws("\n", col("text"),
          substring(col("text"), 1, 50), col("text"), substring(col("text"), 1, 50)))
        .select(col("doc_id"),
          TextAnalysis.dedupLinesWithinDoc(col("multi")).as("clean"))
        .orderBy(col("doc_id")),
    oracle = Some("""
      WITH m AS (
        -- split the REJOINED string on newlines (not the 4 components as a
        -- list): a text carrying its own newlines makes the two differ, and
        -- the engine folds over real lines — concat_ws skips NULLs in both
        -- engines, so a null text becomes '' -> [''] -> '' on both sides
        SELECT doc_id,
               string_split(concat_ws(chr(10), text, substr(text, 1, 50),
                                      text, substr(text, 1, 50)), chr(10)) AS ls
        FROM documents)
      SELECT doc_id,
             array_to_string(
               list_transform(
                 list_filter(
                   list_transform(generate_series(1, len(ls)),
                                  i -> {'i': i, 'x': ls[i]}),
                   s -> list_position(ls, s.x) = s.i),
                 s -> s.x),
               chr(10)) AS clean
      FROM m
      ORDER BY doc_id"""))

  /** Web-corpus pipeline v3 — the round's flagship end-to-end: raw HTML →
    * [[TextAnalysis.stripHtml]] → token-floor + [[TextAnalysis.linearScore]]
    * classifier gate → exact dedup ([[Dedup.exactDedupRows]]) →
    * quality-ranked token-budget selection
    * ([[graft.ops.Sampling.selectByTokenBudget]]). Every stage is
    * individually oracle-verified elsewhere (q163/q157/q51/q170); this query
    * hash-verifies their composition and the bench watches it. Shuffle
    * census: digest groupBy + keeper semi-join + the budget's one
    * positioning sort — text crosses the wire exactly once.
    */
  val q175_web_pipeline: Q = Q(
    fn = (s, dir) => {
      val weights = (0 until 16).map(j => (j % 5 - 2) / 10.0)
      val cleaned = docsC(s, dir).select(col("doc_id"), col("text"))
        .withColumn("html", concat(lit("<html><body><p>"), col("text"),
          lit("</p><script>x()</script> Done &amp; done</body></html>")))
        .withColumn("clean", TextAnalysis.stripHtml(col("html")))
      // token array staged once (the q95 discipline): the token floor and
      // the classifier both read it — unstaged, the tokenizer runs twice
      // per row over the stripped text
      val gated = cleaned
        .withColumn("__toks__", TextAnalysis.tokens(col("clean")))
        .withColumn("n_tok", size(col("__toks__")).cast("long"))
        .withColumn("score",
          round(TextAnalysis.linearScoreStaged(col("__toks__"), weights, bias = 0.1), 4))
        .filter(col("n_tok") >= 30 && col("score") >= 0.45)
      // materialize the cleaned+gated intermediate once: exact dedup reads
      // it twice (digest groupBy + keeper semi-join) and re-running the
      // regex/scoring lineage per consumer doubles the CPU — at 100 TB this
      // is the disk-backed staging dataset every multi-consumer pipeline
      // writes between phases
      val staged = Snapshots.cut(gated
        .select(col("doc_id"), col("clean"), col("n_tok"), col("score")))
      val keepers = Dedup.exactDedupRows(staged, col("clean"), col("doc_id"))
      graft.ops.Sampling.selectByTokenBudget(
          keepers.select(col("doc_id"), col("n_tok"), col("score")),
          col("doc_id"), col("score"), col("n_tok"), budget = 5000L)
        .orderBy(col("doc_id"))
    },
    oracle = Some(s"""
      WITH h AS (
        SELECT doc_id,
               '<html><body><p>' || text ||
               '</p><script>x()</script> Done &amp; done</body></html>' AS html
        FROM documents),
      c AS (
        SELECT doc_id,
               trim(regexp_replace(
                 replace(replace(replace(replace(replace(replace(
                   regexp_replace(
                     regexp_replace(
                       regexp_replace(html, '<script[^>]*>.*?</script>', ' ', 'gis'),
                       '<style[^>]*>.*?</style>', ' ', 'gis'),
                     '<[^>]*>', ' ', 'gs'),
                   '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'),
                   '&quot;', '"'), '&#39;', ''''), '&amp;', '&'),
                 '\\s+', ' ', 'g')) AS clean
        FROM h),
      t AS (
        SELECT doc_id, clean,
               list_filter(string_split_regex(lower(clean), '[^\\p{L}\\p{N}_]+'),
                           x -> length(x) >= 1) AS tk
        FROM c),
      f AS (
        SELECT doc_id, clean, len(tk) AS n_tok,
               list_transform(tk, x -> ${h60("x")} % 16) AS bk,
               greatest(len(tk), 1)::DOUBLE AS n
        FROM t),
      sc AS (
        SELECT doc_id, clean, n_tok,
               round(1.0 / (1.0 + exp(-(0.1 +
                 list_reduce(
                   list_prepend(CAST(0 AS DOUBLE),
                     list_transform(bk, q -> (q % 5 - 2) / 10.0)),
                   (a, v) -> a + v) / n))), 4) AS score
        FROM f),
      g AS (SELECT * FROM sc WHERE n_tok >= 30 AND score >= 0.45),
      keep AS (
        SELECT min(doc_id) AS doc_id
        FROM g
        GROUP BY ${h60("trim(regexp_replace(lower(clean), '\\s+', ' ', 'g'))")}),
      kd AS (SELECT g.doc_id, g.n_tok, g.score FROM g JOIN keep USING (doc_id)),
      cum AS (
        SELECT doc_id, n_tok, score,
               sum(n_tok) OVER (ORDER BY score DESC, doc_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 - n_tok AS cm
        FROM kd)
      SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tok, score
      FROM cum WHERE cm < 5000
      ORDER BY doc_id"""),
    bench = true) // regression-watch the composed ingest->select pipeline

  /** Corpus snapshot diff ([[Dedup.snapshotDiff]]): per-doc
    * added/removed/changed/unchanged between two planted snapshots —
    * incremental-crawl observability. One id+digest full-outer join; the
    * oracle replays the digest compare with the same hash.
    */
  val q176_snapshot_diff: Q = Q(
    fn = (s, dir) => {
      val docs = table(s, dir, "documents").select(col("doc_id"), col("text"))
      val before = docs
      val after = docs.filter(col("doc_id") % 10 =!= 0)
        .withColumn("text",
          when(col("doc_id") % 10 === 1, concat(col("text"), lit(" v2")))
            .otherwise(col("text")))
        .unionByName(docs.filter(col("doc_id") % 10 === 2)
          .withColumn("doc_id", col("doc_id") + 2000000))
      Dedup.snapshotDiff(before, after, col("doc_id"), col("text"))
        .groupBy(col("status")).agg(count(lit(1)).as("n"))
        .orderBy(col("status"))
    },
    oracle = Some(s"""
      WITH before AS (SELECT doc_id, text FROM documents),
      aft AS (
        SELECT doc_id,
               CASE WHEN doc_id % 10 = 1 THEN text || ' v2' ELSE text END AS text
        FROM documents WHERE doc_id % 10 != 0
        UNION ALL
        SELECT doc_id + 2000000, text FROM documents WHERE doc_id % 10 = 2),
      db AS (SELECT doc_id, ${h60("trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))")} AS d FROM before),
      da AS (SELECT doc_id, ${h60("trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))")} AS d FROM aft),
      st AS (
        SELECT CASE WHEN db.doc_id IS NULL THEN 'added'
                    WHEN da.doc_id IS NULL THEN 'removed'
                    -- null-safe: identical null texts are 'unchanged'
                    WHEN da.d IS NOT DISTINCT FROM db.d THEN 'unchanged'
                    ELSE 'changed' END AS status
        FROM db FULL OUTER JOIN da ON db.doc_id = da.doc_id)
      SELECT status, count(*) AS n FROM st GROUP BY status ORDER BY status"""))

  /** Mixture-weighted source interleave ([[graft.ops.Sampling
    * .interleaveBySource]]): braid positions proportional to per-source
    * weights over a hash-shuffled within-source order — the deterministic
    * training-order op. The oracle replays rank/weight arithmetic; the
    * first 200 braid rows also pin the ORDER itself.
    */
  val q177_source_interleave: Q = Q(
    fn = (s, dir) =>
      graft.ops.Sampling.interleaveBySource(
          table(s, dir, "documents").select(col("doc_id"), col("source")),
          col("source"), col("doc_id"),
          Map("src0" -> 3.0, "src1" -> 2.0), default = 1.0)
        .orderBy(col("braid_pos"), col("doc_id"))
        .limit(200)
        .select(col("doc_id"), col("source"), round(col("braid_pos"), 4).as("braid_pos")),
    oracle = Some(s"""
      WITH r AS (
        SELECT doc_id, source,
               row_number() OVER (PARTITION BY source
                 ORDER BY ${h60("CAST(doc_id AS VARCHAR)")}, doc_id) AS rk
        FROM documents),
      b AS (
        SELECT doc_id, source,
               rk::DOUBLE / (CASE source WHEN 'src0' THEN 3.0
                                         WHEN 'src1' THEN 2.0
                                         ELSE 1.0 END) AS braid_pos
        FROM r)
      SELECT doc_id, source, round(braid_pos, 4) AS braid_pos
      FROM b
      ORDER BY b.braid_pos, doc_id
      LIMIT 200"""))

  /** Duplicate-span REMOVAL ([[TextAnalysis.removeDuplicateSpans]]) — the
    * ExactSubstr-style rewrite: half the corpus gets a shared boilerplate
    * sentence appended (its 5-grams recur corpus-wide → stripped from every
    * doc), and the first 50 docs are fully copied under new ids (every gram
    * duplicated → both copies rewritten to empty). The oracle replays
    * gram-positions → duplicated grams → covered positions → token
    * anti-join → ordered rebuild.
    */
  val q182_remove_dup_spans: Q = Q(
    fn = (s, dir) => {
      // spread before the tokenize/gram kernels (the docsC discipline):
      // removeDuplicateSpans re-derives tokens over its input THREE times
      // (grams twice + rebuild), and an un-spread scan pins all three
      // passes to the parquet file-split count — measured 10 tasks on 32
      // cores at the sf3 spot point, 3x the wall of the spread plan
      val docs = docsC(s, dir).select(col("doc_id"), col("text"))
      val boiler = docs.withColumn("text",
        when(col("doc_id") % 2 === 0,
          concat(col("text"), lit(" subscribe to our newsletter for free updates every day")))
          .otherwise(col("text")))
      val corpus = boiler.unionByName(
        boiler.filter(col("doc_id") < 50).withColumn("doc_id", col("doc_id") + lit(1000000L)))
      TextAnalysis.removeDuplicateSpans(corpus, col("doc_id"), col("text"), k = 5)
        .select(col("id").as("doc_id"), col("n_tokens"), col("n_kept"), col("clean_text"))
        .orderBy(col("doc_id"))
    },
    oracle = Some(s"""
      WITH corpus AS (
        SELECT doc_id,
               CASE WHEN doc_id % 2 = 0
                    THEN text || ' subscribe to our newsletter for free updates every day'
                    ELSE text END AS text
        FROM documents
        UNION ALL
        SELECT doc_id + 1000000,
               CASE WHEN doc_id % 2 = 0
                    THEN text || ' subscribe to our newsletter for free updates every day'
                    ELSE text END
        FROM documents WHERE doc_id < 50),
      toks AS (
        SELECT doc_id, list_filter(string_split_regex(lower(text), '[^\\p{L}\\p{N}_]+'),
                                   x -> length(x) >= 1) AS t
        FROM corpus),
      grams AS (
        SELECT doc_id, len(t) AS n, gi,
               ${h60("array_to_string(t[gi:CASE WHEN len(t) < 5 THEN len(t) ELSE gi + 4 END], ' ')")} AS g
        FROM toks, UNNEST(generate_series(1,
               CASE WHEN len(t) < 5 THEN 1 ELSE len(t) - 4 END)) u(gi)),
      dup AS (SELECT g FROM grams GROUP BY g HAVING count(*) > 1),
      covered AS (
        SELECT DISTINCT doc_id, p
        FROM grams JOIN dup USING (g),
             UNNEST(generate_series(gi - 1, gi - 2 + least(5, n))) c(p)),
      tp AS (
        SELECT doc_id, i - 1 AS p, t[i] AS tok
        FROM toks, UNNEST(generate_series(1, len(t))) u(i)),
      kept AS (
        SELECT tp.doc_id, tp.p, tp.tok
        FROM tp LEFT JOIN covered c ON tp.doc_id = c.doc_id AND tp.p = c.p
        WHERE c.p IS NULL),
      res AS (
        SELECT doc_id, count(*) AS n_kept,
               string_agg(tok, ' ' ORDER BY p) AS clean_text
        FROM kept GROUP BY doc_id)
      SELECT t.doc_id, CAST(len(t.t) AS BIGINT) AS n_tokens,
             CAST(coalesce(r.n_kept, 0) AS BIGINT) AS n_kept,
             coalesce(r.clean_text, '') AS clean_text
      FROM toks t LEFT JOIN res r USING (doc_id)
      ORDER BY t.doc_id"""))

  /** DSIR importance selection ([[TextAnalysis.dsirScoresWithin]] +
    * [[graft.ops.Sampling.gumbelTopK]]): hashed-unigram log importance of
    * the English subset (target) against the whole corpus (raw), then a
    * deterministic Gumbel top-100 draw on the log-weights. The oracle
    * replays both bucket LMs, the smoothed log-ratio sum, and the
    * hash-seeded Gumbel race.
    */
  val q183_dsir_select: Q = Q(
    fn = (s, dir) => {
      val docs = table(s, dir, "documents")
      val scores = TextAnalysis.dsirScoresWithin(
        docs, col("doc_id"), col("text"), col("lang") === "en",
        dim = 1024, alpha = 0.5)
      graft.ops.Sampling.gumbelTopK(scores, col("id"), col("dsir_score"),
          n = 100, seed = 7)
        .select(col("id").as("doc_id"), round(col("dsir_score"), 4).as("dsir_score"))
        .orderBy(col("doc_id"))
    },
    oracle = Some(s"""
      WITH toks AS (
        SELECT doc_id, u.tok
        FROM (SELECT doc_id, list_filter(string_split_regex(lower(text), '[^\\p{L}\\p{N}_]+'),
                                         x -> length(x) >= 1) AS t
              FROM documents) d, UNNEST(d.t) u(tok)),
      bt AS (SELECT doc_id, ${h60("tok")} % 1024 AS b FROM toks),
      tgt AS (
        SELECT b, count(*) AS ct
        FROM bt JOIN documents USING (doc_id) WHERE lang = 'en' GROUP BY b),
      raw AS (SELECT b, count(*) AS cr FROM bt GROUP BY b),
      tots AS (
        SELECT (SELECT count(*) FROM bt JOIN documents USING (doc_id)
                WHERE lang = 'en') AS tt,
               (SELECT count(*) FROM bt) AS rt),
      ratio AS (
        SELECT r.b,
               ln((coalesce(t.ct, 0) + CAST(0.5 AS DOUBLE)) / (tots.tt + CAST(0.5 AS DOUBLE) * 1024)) -
               ln((r.cr + CAST(0.5 AS DOUBLE)) / (tots.rt + CAST(0.5 AS DOUBLE) * 1024)) AS lr
        FROM raw r LEFT JOIN tgt t USING (b) CROSS JOIN tots),
      scores AS (
        SELECT doc_id, sum(lr) AS s
        FROM bt JOIN ratio USING (b) GROUP BY doc_id),
      keyed AS (
        SELECT doc_id, s,
               round(s - ln(-ln((${h60("doc_id || ':7'")} % 1000000000 + CAST(0.5 AS DOUBLE)) / 1e9)), 6) AS gk
        FROM scores)
      SELECT doc_id, round(s, 4) AS dsir_score
      FROM (SELECT doc_id, s FROM keyed ORDER BY gk DESC, doc_id LIMIT 100)
      ORDER BY doc_id"""))

  /** Deterministic k-fold assignment ([[graft.ops.Sampling.kFold]]):
    * hash-mod folds, engine-replayable.
    */
  val q189_kfold: Q = Q(
    fn = (s, dir) =>
      graft.ops.Sampling.kFold(table(s, dir, "documents"), col("doc_id"), k = 5)
        .select(col("doc_id"), col("fold"))
        .orderBy(col("doc_id")),
    oracle = Some(s"""
      SELECT doc_id, ${h60("CAST(doc_id AS VARCHAR)")} % 5 AS fold
      FROM documents
      ORDER BY doc_id"""))

  /** Flesch reading-ease ([[TextAnalysis.fleschReadingEase]]): regex
    * word/vowel-group/sentence counts, the classic readability gate.
    */
  val q190_readability: Q = Q(
    fn = (s, dir) =>
      table(s, dir, "documents")
        .select(col("doc_id"),
          round(TextAnalysis.fleschReadingEase(col("text")), 4).as("flesch"))
        .orderBy(col("doc_id")),
    oracle = Some("""
      SELECT doc_id,
             CASE WHEN words = 0 THEN NULL
                  ELSE round(206.835 - 1.015 * (words / sents) - 84.6 * (sylls / words), 4)
             END AS flesch
      FROM (
        SELECT doc_id,
               CAST(len(regexp_extract_all(text, '[A-Za-z]+')) AS DOUBLE) AS words,
               CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS DOUBLE) AS sylls,
               CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS DOUBLE) AS sents
        FROM documents)
      ORDER BY doc_id"""))

  /** Remaining Gopher quality rules ([[TextAnalysis.gopherFlags]]):
    * alpha-word fraction, symbol ratio, bullet/ellipsis line fractions and
    * the composite gate, on a corpus salted with bullet lists and ellipsis
    * endings so every rule fires somewhere.
    */
  val q196_gopher_flags: Q = Q(
    fn = (s, dir) => {
      val docs = table(s, dir, "documents").select(col("doc_id"), col("text"))
        .withColumn("text",
          when(col("doc_id") % 3 === 0,
            concat(col("text"), lit("\n* bullet item\n* second bullet\n- third one")))
            .otherwise(col("text")))
        .withColumn("text",
          when(col("doc_id") % 5 === 0,
            concat(col("text"), lit("\nto be continued...")))
            .otherwise(col("text")))
      docs.select(col("doc_id"), TextAnalysis.gopherFlags(col("text")).as("g"))
        .select(col("doc_id"), col("g.alpha_word_frac").as("alpha_word_frac"),
          col("g.symbol_ratio").as("symbol_ratio"),
          col("g.bullet_line_frac").as("bullet_line_frac"),
          col("g.ellipsis_line_frac").as("ellipsis_line_frac"),
          col("g.gopher_pass").as("gopher_pass"))
        .orderBy(col("doc_id"))
    },
    oracle = Some("""
      WITH corpus AS (
        SELECT doc_id,
          (CASE WHEN doc_id % 3 = 0
                THEN text || chr(10) || '* bullet item' || chr(10) || '* second bullet' || chr(10) || '- third one'
                ELSE text END) ||
          (CASE WHEN doc_id % 5 = 0 THEN chr(10) || 'to be continued...' ELSE '' END) AS text
        FROM documents),
      feats AS (
        SELECT doc_id,
          regexp_extract_all(text, '\S+') AS words,
          list_filter(string_split(text, chr(10)), l -> length(trim(l)) > 0) AS lines,
          CAST(len(regexp_extract_all(text, '#')) + len(regexp_extract_all(text, '\.\.\.|…')) AS DOUBLE) AS symbols
        FROM corpus),
      calc AS (
        SELECT doc_id,
          CAST(len(list_filter(words, w -> regexp_matches(w, '[A-Za-z]'))) AS DOUBLE)
            / greatest(len(words), 1) AS af,
          symbols / greatest(len(words), 1) AS sr,
          CAST(len(list_filter(lines, l -> regexp_matches(trim(l), '^([*•\-]|[0-9]+[.)])\s'))) AS DOUBLE)
            / greatest(len(lines), 1) AS bf,
          CAST(len(list_filter(lines, l -> regexp_matches(trim(l), '(\.\.\.|…)$'))) AS DOUBLE)
            / greatest(len(lines), 1) AS ef
        FROM feats)
      SELECT doc_id,
             round(af, 4) AS alpha_word_frac,
             round(sr, 4) AS symbol_ratio,
             round(bf, 4) AS bullet_line_frac,
             round(ef, 4) AS ellipsis_line_frac,
             (af >= 0.8 AND sr <= 0.1 AND bf <= 0.9 AND ef <= 0.3) AS gopher_pass
      FROM calc
      ORDER BY doc_id"""))

  /** Plan-constant sample vocabulary for q198 (subwords + whole words from
    * the corpus domain; single space so runs of prose tokenize densely).
    * Declared BEFORE q198 — object-initialization order.
    */
  private val VocabSample: Seq[String] = Seq(
    "the ", "scan", "join", "order", "batch ", "stream", "spark", "window",
    "merge", "sort", "hash", "key", "table", "part", "an", "in", "er", "re",
    "or", "st", " ")

  /** Greedy longest-match vocab token budget
    * ([[graft.functions.VocabTokenCount]] — native codegen Expression): the
    * tiktoken/WordPiece-style scan the regex token counters (q50) only
    * approximate. The oracle replays the EXACT sequential scan as a
    * recursive CTE: per position, a LATERAL longest-prefix probe advances
    * the cursor, single char on no match.
    */
  val q198_vocab_tokens: Q = Q(
    fn = (s, dir) => {
      val out = table(s, dir, "documents")
        .select(col("doc_id"),
          graft.functions.VocabTokenCount.vocab_token_count(
            lower(col("text")), VocabSample).as("n_tokens"),
          length(col("text")).cast("long").as("n_chars"))
      out.select(col("doc_id"), col("n_tokens"), col("n_chars"),
          when(col("n_tokens") === 0, lit(null).cast("double"))
            .otherwise(round(col("n_chars").cast("double") / col("n_tokens"), 4))
            .as("chars_per_token"))
        .orderBy(col("doc_id"))
    },
    oracle = Some(s"""
      WITH RECURSIVE vocab(v) AS (
        SELECT * FROM (VALUES ${VocabSample.map(v => s"('${v}')").mkString(", ")}) t(v)),
      docs AS (SELECT doc_id, lower(text) AS t FROM documents),
      step(doc_id, pos, n) AS (
        SELECT doc_id, 1, 0 FROM docs
        UNION ALL
        SELECT s.doc_id, s.pos + CAST(coalesce(m.adv, 1) AS INTEGER), s.n + 1
        FROM step s
        JOIN docs d ON s.doc_id = d.doc_id
        LEFT JOIN LATERAL (
          SELECT max(len(v)) AS adv FROM vocab
          WHERE v = substr(d.t, s.pos, len(v))) m ON true
        WHERE s.pos <= len(d.t))
      SELECT d.doc_id,
             CASE WHEN d.t IS NULL THEN NULL
                  ELSE CAST(max(s.n) AS BIGINT) END AS n_tokens,
             CAST(len(d.t) AS BIGINT) AS n_chars,
             CASE WHEN d.t IS NULL OR max(s.n) = 0 THEN NULL
                  ELSE round(CAST(len(d.t) AS DOUBLE) / max(s.n), 4) END AS chars_per_token
      FROM step s JOIN docs d USING (doc_id)
      GROUP BY d.doc_id, d.t
      ORDER BY d.doc_id"""))

  /** Piece-level vocab tokenization ([[graft.functions.VocabTokenize]]):
    * the q198 scan returning the pieces themselves; the oracle's recursive
    * CTE accumulates the piece string with a LATERAL longest-prefix probe
    * (arg-max by length — two distinct same-length prefixes at one position
    * are impossible, so the probe is deterministic).
    */
  val q200_vocab_pieces: Q = Q(
    fn = (s, dir) =>
      table(s, dir, "documents")
        .select(col("doc_id"),
          graft.functions.VocabTokenCount.vocab_tokenize(
            lower(col("text")), VocabSample).as("p"))
        .select(col("doc_id"), size(col("p")).cast("long").as("n_pieces"),
          array_join(col("p"), "|").as("pieces_str"))
        .orderBy(col("doc_id")),
    oracle = Some(s"""
      WITH RECURSIVE vocab(v) AS (
        SELECT * FROM (VALUES ${VocabSample.map(v => s"('${v}')").mkString(", ")}) t(v)),
      docs AS (SELECT doc_id, lower(text) AS t FROM documents),
      step(doc_id, pos, n, acc) AS (
        SELECT doc_id, 1, 0, '' FROM docs
        UNION ALL
        SELECT s.doc_id, s.pos + CAST(len(coalesce(m.piece, substr(d.t, s.pos, 1))) AS INTEGER),
               s.n + 1,
               s.acc || CASE WHEN s.acc = '' THEN '' ELSE '|' END ||
                 coalesce(m.piece, substr(d.t, s.pos, 1))
        FROM step s
        JOIN docs d ON s.doc_id = d.doc_id
        LEFT JOIN LATERAL (
          SELECT v AS piece FROM vocab
          WHERE v = substr(d.t, s.pos, len(v))
          ORDER BY len(v) DESC LIMIT 1) m ON true
        WHERE s.pos <= len(d.t))
      SELECT s.doc_id,
             CASE WHEN d.t IS NULL THEN NULL
                  ELSE CAST(max(s.n) AS BIGINT) END AS n_pieces,
             CASE WHEN d.t IS NULL THEN NULL
                  ELSE coalesce(max_by(s.acc, s.pos), '') END AS pieces_str
      FROM step s JOIN docs d USING (doc_id)
      GROUP BY s.doc_id, d.t
      ORDER BY s.doc_id"""))

  /** Curation pipeline v3 — THIS round's machinery composed end-to-end:
    * boilerplate-salted corpus → NEAR-DUP COLLAPSE ([[Dedup
    * .verifiedHubEdges]]: capped LSH buckets, star-reduced hub edges,
    * exact-Jaccard verify → q91's connected components → min-id survivor
    * per replica cluster) → duplicate-span REMOVAL (q182) →
    * minimum-surviving-length gate → DSIR importance scoring against the
    * English subset (q183) → deterministic Gumbel top-k → shard-parallel
    * token-budget packing (q90). The collapse runs BEFORE span removal on
    * purpose — the curation-order lesson the sf1.0 scale point taught:
    * ExactSubstr-style span removal over a corpus carrying near-identical
    * replicas marks essentially every 5-gram of every replica duplicated
    * and shreds ALL of them to nothing; collapsing replica clusters to one
    * survivor first leaves span removal the within-corpus duplication it is
    * meant for (the order real curation stacks use for the same reason).
    * Selection k is scale-adaptive — max(150, 5% of the gated corpus), the
    * count a near-free job over the span-removal stage's checkpoint — so
    * the selection stage exerts the same relative pressure at any corpus
    * size instead of degenerating to a fixed 150 at 100×. The oracle
    * stitches the verified spellings of every stage; the DSIR token stream
    * reuses the span-removal chain's kept-token rows directly (the
    * canonical clean-text join/split roundtrip is token-exact).
    */
  val q208_curation_v3: Q = Q(
    fn = (s, dir) => {
      val docs = docsC(s, dir).select(col("doc_id"), col("text"))
      val boiler = docs.withColumn("text",
        when(col("doc_id") % 2 === 0,
          concat(col("text"), lit(" subscribe to our newsletter for free updates every day")))
          .otherwise(col("text")))
      // replica-cluster collapse: banded LSH (text never all-pairs),
      // hot-bucket cap (the shared boilerplate suffix otherwise floods a
      // bucket), STAR-reduced hub→member edges with exact-Jaccard
      // verification (linear per cluster, not clique-quadratic), then
      // pointer-jumping components and a min-id survivor policy
      val pairs = Dedup.verifiedHubEdges(boiler, col("text"), col("doc_id"),
        k = 3, numHashes = 4, bands = 2, threshold = 0.5, maxBucketSize = 64L)
      val comps = graft.ops.Components.connectedComponents(pairs, "id_a", "id_b")
        .withColumnRenamed("id", "doc_id")
      val clusterSurv = comps.groupBy(col("component"))
        .agg(min(col("doc_id")).as("doc_id")).select(col("doc_id"))
      val survivorIds = boiler.select(col("doc_id"))
        .join(comps.select(col("doc_id")), Seq("doc_id"), "left_anti")
        .unionByName(clusterSurv)
      val collapsed = boiler.join(survivorIds, Seq("doc_id"), "left_semi")
      val cleaned = TextAnalysis.removeDuplicateSpans(collapsed, col("doc_id"), col("text"), k = 5)
      val kept = cleaned.filter(col("n_kept") >= 20)
      // scale-adaptive selection k. The span-removal checkpoint is LAZY
      // (r18, guide §5): this count is its materializing action — ONE job
      // computes the span-removal chain, persists the blocks, and returns
      // the gated row count, where r17 paid a dedicated materialization job
      // plus this count as a second job. Downstream consumers (the lang
      // join, the DSIR totals, the packing join) read the persisted blocks.
      val kSel = math.max(150L, kept.count() / 20L).toInt
      // raw table read, NOT docsC: this is a dim-style (id, lang)
      // projection with no text kernel to parallelize, so the
      // spreadForCompute repartition exchange would be a pure extra
      // shuffle+job in front of a broadcast join (guide §2.4 — remove
      // exchanges that buy nothing)
      val withLang = kept.join(
        table(s, dir, "documents").select(col("doc_id").as("id"), col("lang")), Seq("id"))
      val scores = TextAnalysis.dsirScoresWithin(
        withLang, col("id"), col("clean_text"), col("lang") === "en",
        dim = 1024, alpha = 0.5)
      val sel = graft.ops.Sampling.gumbelTopK(scores, col("id"), col("dsir_score"),
        n = kSel, seed = 11)
      val packed = graft.ops.Packing.packByTokenBudget(
        sel.join(kept.select(col("id"), col("n_kept")), Seq("id")),
        id = col("id"), tokens = col("n_kept"), budget = 500L, shards = 4)
      packed.select(col("id").as("doc_id"), col("n_kept"),
          col("shard"), col("bin"), round(col("dsir_score"), 4).as("dsir_score"))
        .orderBy(col("doc_id"))
    },
    // MATERIALIZED on every multi-referenced CTE: inside a WITH RECURSIVE,
    // DuckDB stops auto-materializing shared CTEs, so `comp`/`toks`/`bt`
    // (referenced 2-4x each) would re-evaluate the whole upstream collapse
    // chain multiplicatively — measured >75 min at sf1.0 unhinted, ~3 min
    // hinted, identical results (and identical sf0.01/0.001 gate output).
    oracle = Some(s"""
      WITH RECURSIVE corpus AS MATERIALIZED (
        SELECT doc_id,
               CASE WHEN doc_id % 2 = 0
                    THEN text || ' subscribe to our newsletter for free updates every day'
                    ELSE text END AS text
        FROM documents),
      ntoks AS (
        SELECT doc_id, list_filter(string_split_regex(lower(text), '[^\\p{L}\\p{N}_]+'),
                                   x -> length(x) >= 1) AS t
        FROM corpus),
      nsh AS MATERIALIZED (
        SELECT doc_id,
               CASE WHEN len(t) < 3 THEN [coalesce(array_to_string(t, ' '), '')]
                    ELSE list_transform(generate_series(1, len(t) - 2),
                                        i -> array_to_string(t[i:i+2], ' ')) END AS shingles
        FROM ntoks),
      nex AS (SELECT doc_id, u.s FROM nsh, UNNEST(shingles) u(s)),
      nsig AS (
        SELECT doc_id, r.h, min(${h60("(r.h || ':' || s)")}) AS sig
        FROM nex CROSS JOIN range(4) r(h)
        GROUP BY doc_id, r.h),
      nband AS (
        SELECT doc_id, h // 2 AS band,
               ${h60("array_to_string(list(sig ORDER BY h), ',')")} AS band_hash
        FROM nsig
        GROUP BY doc_id, h // 2),
      nhot AS (
        SELECT band, band_hash FROM nband
        GROUP BY band, band_hash HAVING count(*) > 64),
      npr AS (
        SELECT doc_id, band, band_hash FROM nband nb
        WHERE NOT EXISTS (SELECT 1 FROM nhot h
                          WHERE h.band = nb.band AND h.band_hash = nb.band_hash)),
      nhub AS (
        SELECT band, band_hash, min(doc_id) AS hub
        FROM npr GROUP BY band, band_hash),
      ncand AS (
        SELECT DISTINCT u.hub AS id_a, p.doc_id AS id_b
        FROM npr p JOIN nhub u USING (band, band_hash)
        WHERE p.doc_id > u.hub),
      npairs AS MATERIALIZED (
        SELECT id_a, id_b
        FROM ncand
        JOIN nsh sa ON sa.doc_id = id_a
        JOIN nsh sb ON sb.doc_id = id_b
        WHERE round(
                len(list_intersect(list_distinct(sa.shingles), list_distinct(sb.shingles)))::DOUBLE /
                len(list_distinct(list_concat(list_distinct(sa.shingles), list_distinct(sb.shingles)))),
                4) >= 0.5),
      nedges AS (SELECT id_a AS a, id_b AS b FROM npairs
                 UNION SELECT id_b, id_a FROM npairs),
      reach AS (
        SELECT doc_id AS n, doc_id AS lbl FROM corpus
        UNION
        SELECT e.b, r.lbl FROM reach r JOIN nedges e ON r.n = e.a),
      comp AS MATERIALIZED (SELECT n AS doc_id, min(lbl) AS component FROM reach GROUP BY n),
      scorpus AS MATERIALIZED (
        SELECT c.doc_id, c.text
        FROM corpus c
        JOIN comp p USING (doc_id)
        JOIN (SELECT component, min(doc_id) AS survivor
              FROM comp GROUP BY component) m
          ON p.component = m.component
        WHERE c.doc_id = m.survivor),
      toks AS MATERIALIZED (
        SELECT doc_id, list_filter(string_split_regex(lower(text), '[^\\p{L}\\p{N}_]+'),
                                   x -> length(x) >= 1) AS t
        FROM scorpus),
      grams AS MATERIALIZED (
        SELECT doc_id, len(t) AS n, gi,
               ${h60("array_to_string(t[gi:CASE WHEN len(t) < 5 THEN len(t) ELSE gi + 4 END], ' ')")} AS g
        FROM toks, UNNEST(generate_series(1,
               CASE WHEN len(t) < 5 THEN 1 ELSE len(t) - 4 END)) u(gi)),
      dup AS (SELECT g FROM grams GROUP BY g HAVING count(*) > 1),
      covered AS (
        SELECT DISTINCT doc_id, p
        FROM grams JOIN dup USING (g),
             UNNEST(generate_series(gi - 1, gi - 2 + least(5, n))) c(p)),
      tp AS (
        SELECT doc_id, i - 1 AS p, t[i] AS tok
        FROM toks, UNNEST(generate_series(1, len(t))) u(i)),
      ktoks AS MATERIALIZED (
        SELECT tp.doc_id, tp.p, tp.tok
        FROM tp LEFT JOIN covered c ON tp.doc_id = c.doc_id AND tp.p = c.p
        WHERE c.p IS NULL),
      keepers AS MATERIALIZED (
        SELECT k.doc_id, count(*) AS n_kept
        FROM ktoks k GROUP BY k.doc_id
        HAVING count(*) >= 20),
      bt AS MATERIALIZED (
        SELECT k.doc_id, ${h60("k.tok")} % 1024 AS b
        FROM ktoks k JOIN keepers USING (doc_id)),
      tgt AS (
        SELECT b, count(*) AS ct
        FROM bt JOIN documents USING (doc_id) WHERE lang = 'en' GROUP BY b),
      raw AS (SELECT b, count(*) AS cr FROM bt GROUP BY b),
      tots AS (
        SELECT (SELECT count(*) FROM bt JOIN documents USING (doc_id)
                WHERE lang = 'en') AS tt,
               (SELECT count(*) FROM bt) AS rt),
      ratio AS (
        SELECT r.b,
               ln((coalesce(t.ct, 0) + CAST(0.5 AS DOUBLE)) / (tots.tt + CAST(0.5 AS DOUBLE) * 1024)) -
               ln((r.cr + CAST(0.5 AS DOUBLE)) / (tots.rt + CAST(0.5 AS DOUBLE) * 1024)) AS lr
        FROM raw r LEFT JOIN tgt t USING (b) CROSS JOIN tots),
      scores AS MATERIALIZED (
        SELECT doc_id, sum(lr) AS s
        FROM bt JOIN ratio USING (b) GROUP BY doc_id),
      sel AS (
        SELECT doc_id, s FROM (
          SELECT doc_id, s,
                 row_number() OVER (
                   ORDER BY round(s - ln(-ln((${h60("doc_id || ':11'")} % 1000000000 + CAST(0.5 AS DOUBLE)) / 1e9)), 6) DESC,
                            doc_id) AS rn,
                 count(*) OVER () AS nk
          FROM scores)
        WHERE rn <= greatest(150, nk // 20)),
      packed AS (
        SELECT sel.doc_id, kp.n_kept, sel.s,
               ${h60("CAST(sel.doc_id AS VARCHAR)")} % 4 AS shard
        FROM sel JOIN keepers kp USING (doc_id))
      SELECT doc_id, CAST(n_kept AS BIGINT) AS n_kept, shard,
             CAST((sum(n_kept) OVER (PARTITION BY shard ORDER BY doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_kept)
                  // 500 AS BIGINT) AS bin,
             round(s, 4) AS dsir_score
      FROM packed
      ORDER BY doc_id"""),
    bench = true)

  /** BPE tokenizer training ([[graft.ops.Bpe]]): the distributed word-count
    * pass + the exact driver merge loop (Sennrich et al. 2016).
    *
    * ORACLED BY UNROLLING (r15 verdict item 7 — retires the corpus's last
    * `no_oracle` entry): a recursive CTE cannot aggregate over the
    * recursive term, but the merge count is a FIXED constant, so the loop
    * unrolls into 40 chained CTE rounds — each round recomputes pair
    * counts from the symbol state, takes the deterministic arg-max
    * (count DESC, left ASC, right ASC), and applies the merge through the
    * parity law: within a maximal run of consecutive mergeable positions
    * (only possible when left==right), the engine's left-scan-no-advance
    * loop merges exactly the odd-indexed streak members — a
    * gaps-and-islands window, no recursion. Every round CTE is
    * MATERIALIZED: multiply-referenced CTEs otherwise inline
    * exponentially across 40 rounds. Verified identical to the engine
    * output at sf0.001/sf0.01/sf0.1 (~9 s in DuckDB at sf0.1; the word
    * table grows Heaps-sublinearly, so sf1 stays tractable).
    */
  val q219_bpe_train: Q = Q(
    fn = (s, dir) => {
      val wc = Bpe.wordCounts(table(s, dir, "documents"), "text")
      val ms = Bpe.train(wc, numMerges = 40)
      Bpe.merges(s, ms).orderBy(col("rank"))
    },
    oracle = Some(bpeReplayOracleSql(40)),
    bench = true)

  /** The unrolled per-round BPE replay (see [[q219_bpe_train]]). One round:
    * adjacent pairs via `lead`, pair counts via SUM(word count) per
    * occurrence (overlaps included — the trainer's per-position law),
    * arg-max with the lexicographic tie-break, then the parity-law merge
    * application and a row_number re-index.
    *
    * Tie-break unicode contract: `ORDER BY cnt DESC, l ASC, r ASC` compares
    * strings in DuckDB's UTF-8/codepoint order, while the engine's merge
    * heap uses `Ordering.String` — UTF-16 code-UNIT order. The two orders
    * diverge only when a count-tied pair compares an astral token
    * (U+10000+, surrogate code units 0xD800–0xDFFF) against one in
    * U+E000–U+FFFF. That corner is part of the tokenizer's documented
    * hostile-unicode out-of-contract class (same adjudication as
    * [[graft.ops.Bpe]]'s vocabulary note): corpora whose count-tied merge
    * candidates straddle the astral boundary are outside the hash-exact
    * contract. The testdata and adversarial corpora are BMP-only at merge
    * depth, so both sides agree everywhere exercised.
    */
  private def bpeReplayOracleSql(numMerges: Int): String = {
    def round(k: Int): String = s"""
      p$k AS MATERIALIZED (
        SELECT w, n, pos, sym,
               lead(sym) OVER (PARTITION BY w ORDER BY pos) AS nxt
        FROM s${k - 1}),
      c$k AS MATERIALIZED (
        SELECT sym AS l, nxt AS r, SUM(n) AS cnt
        FROM p$k WHERE nxt IS NOT NULL GROUP BY sym, nxt),
      m$k AS MATERIALIZED (
        SELECT l, r, cnt FROM c$k ORDER BY cnt DESC, l ASC, r ASC LIMIT 1),
      f$k AS MATERIALIZED (
        SELECT p.w, p.n, p.pos, p.sym, p.nxt,
               (p.sym = m.l AND p.nxt = m.r) AS mg
        FROM p$k p CROSS JOIN m$k m),
      j$k AS MATERIALIZED (
        SELECT w, pos,
               (row_number() OVER (PARTITION BY w, isl ORDER BY pos) % 2 = 1) AS dm
        FROM (SELECT w, pos,
                     pos - row_number() OVER (PARTITION BY w ORDER BY pos) AS isl
              FROM f$k WHERE mg)),
      s$k AS MATERIALIZED (
        SELECT w, n,
               row_number() OVER (PARTITION BY w ORDER BY pos) AS pos,
               CASE WHEN dm THEN sym || nxt ELSE sym END AS sym
        FROM (SELECT f.w, f.n, f.pos, f.sym, f.nxt,
                     coalesce(j.dm, false) AS dm,
                     coalesce(jp.dm, false) AS consumed
              FROM f$k f
              LEFT JOIN j$k j ON j.w = f.w AND j.pos = f.pos
              LEFT JOIN j$k jp ON jp.w = f.w AND jp.pos = f.pos - 1)
        WHERE NOT consumed),
      r$k AS MATERIALIZED (
        SELECT ${k - 1} AS rank, l AS "left", r AS "right", l || r AS token,
               CAST(cnt AS BIGINT) AS pair_count FROM m$k)"""
    val rounds = (1 to numMerges).map(round).mkString(",")
    val union = (1 to numMerges).map(k => s"SELECT * FROM r$k").mkString(" UNION ALL ")
    s"""
      WITH words AS MATERIALIZED (
        SELECT word, CAST(count(*) AS BIGINT) AS n
        FROM (SELECT unnest(string_split_regex(lower(text), '[^\\p{L}\\p{N}_]+')) AS word
              FROM documents)
        WHERE word <> '' GROUP BY word),
      base AS MATERIALIZED (
        SELECT word AS w, n,
               list_append(regexp_extract_all(word, '.'), '</w>') AS syms
        FROM words),
      s0 AS MATERIALIZED (
        SELECT w, n, i AS pos, syms[i] AS sym
        FROM base, UNNEST(generate_series(1, len(syms))) AS u(i)),
      $rounds
      SELECT CAST(rank AS INTEGER) AS rank, "left", "right", token, pair_count
      FROM ($union) ORDER BY rank"""
  }

  /** The BPE phase-1 word table, oracle-paired (r14 verdict item 3: the
    * merge loop is legitimately non-SQL-expressible, but the distributed
    * word-count pass it trains from IS — this pins it against DuckDB, so
    * the corpus's one sanctioned oracle-less entry narrows to the merge
    * loop alone).
    */
  val q220_bpe_word_counts: Q = Q(
    fn = (s, dir) =>
      Bpe.wordCounts(table(s, dir, "documents"), "text")
        .select(col("word"), col("n"))
        .orderBy(col("word")),
    oracle = Some("""
      SELECT word, CAST(count(*) AS BIGINT) AS n
      FROM (SELECT unnest(string_split_regex(lower(text), '[^\p{L}\p{N}_]+')) AS word
            FROM documents)
      WHERE word <> ''
      GROUP BY word
      ORDER BY word"""))

  /** Fixed trained-CONSISTENT merge table for the exact-apply oracle
    * (every merge's constituents are base symbols or tokens created at an
    * earlier rank — the invariant [[graft.ops.Bpe.train]] always upholds,
    * under which the native min-rank loop and rank-order replay provably
    * coincide; see [[graft.functions.BpeEncode]]). Literal by necessity:
    * the oracle cannot run the trainer.
    */
  private val ExactMerges: Seq[(String, String)] = Seq(
    "t" -> "h", "th" -> "e", "i" -> "n", "a" -> "n", "e" -> "r",
    "an" -> "d", "o" -> "n", "e" -> "</w>", "s" -> "</w>", "the" -> "</w>",
    "i" -> "s", "er" -> "</w>", "in" -> "g", "ing" -> "</w>", "o" -> "r",
    "t" -> "e</w>")

  /** EXACT merge-order BPE apply at corpus scale (r14 verdict item 2 — the
    * train→apply closure): the native [[graft.functions.BpeEncode]]
    * min-rank loop over every distinct corpus word, piece-level verified.
    * The oracle replays the merges in RANK ORDER as a recursive CTE over a
    * space-joined symbol string (leftmost-restart single replacement ==
    * left-fold: merging a pair never creates an earlier occurrence of
    * itself), so the query pins exactly the equivalence the expression's
    * Scaladoc argues.
    */
  val q221_bpe_exact_encode: Q = Q(
    fn = (s, dir) =>
      Bpe.wordCounts(table(s, dir, "documents"), "text")
        .select(col("word"),
          graft.functions.BpeEncode.bpe_encode(col("word"), ExactMerges).as("p"))
        .select(col("word"),
          size(col("p")).cast("long").as("n_pieces"),
          array_join(col("p"), "|").as("pieces_str"))
        .orderBy(col("word")),
    oracle = Some(s"""
      WITH RECURSIVE merges(rk, pat, rep) AS (
        SELECT * FROM (VALUES ${ExactMerges.zipWithIndex.map {
          case ((l, r), i) => s"($i, ' $l $r ', ' $l$r ')"
        }.mkString(", ")}) t(rk, pat, rep)),
      words AS (
        SELECT DISTINCT word FROM (
          SELECT unnest(string_split_regex(lower(text), '[^\\p{L}\\p{N}_]+')) AS word
          FROM documents)
        WHERE word <> ''),
      init AS (
        SELECT word,
               ' ' || array_to_string(
                 list_transform(range(1, length(word) + 1),
                   i -> substr(word, CAST(i AS INTEGER), 1)), ' ') || ' </w> ' AS st
        FROM words),
      step(word, st, rk) AS (
        SELECT word, st, 0 FROM init
        UNION ALL
        SELECT s.word,
               CASE WHEN strpos(s.st, m.pat) > 0
                    THEN substr(s.st, 1, strpos(s.st, m.pat) - 1) || m.rep ||
                         substr(s.st, strpos(s.st, m.pat) + length(m.pat))
                    ELSE s.st END,
               s.rk + CASE WHEN strpos(s.st, m.pat) > 0 THEN 0 ELSE 1 END
        FROM step s JOIN merges m ON m.rk = s.rk)
      SELECT word,
             CAST(len(string_split(trim(st), ' ')) AS BIGINT) AS n_pieces,
             replace(trim(st), ' ', '|') AS pieces_str
      FROM step WHERE rk = ${ExactMerges.size}
      ORDER BY word"""))

  val all: Map[String, Q] = Map(
    "q219_bpe_train" -> q219_bpe_train,
    "q220_bpe_word_counts" -> q220_bpe_word_counts,
    "q221_bpe_exact_encode" -> q221_bpe_exact_encode,
    "q208_curation_v3" -> q208_curation_v3,
    "q200_vocab_pieces" -> q200_vocab_pieces,
    "q198_vocab_tokens" -> q198_vocab_tokens,
    "q196_gopher_flags" -> q196_gopher_flags,
    "q189_kfold" -> q189_kfold,
    "q190_readability" -> q190_readability,
    "q182_remove_dup_spans" -> q182_remove_dup_spans,
    "q183_dsir_select" -> q183_dsir_select,
    "q173_containment" -> q173_containment,
    "q174_within_doc_lines" -> q174_within_doc_lines,
    "q175_web_pipeline" -> q175_web_pipeline,
    "q176_snapshot_diff" -> q176_snapshot_diff,
    "q177_source_interleave" -> q177_source_interleave,
    "q158_canonical_dedup" -> q158_canonical_dedup,
    "q163_html_strip" -> q163_html_strip,
    "q164_length_batches" -> q164_length_batches,
    "q165_bm25" -> q165_bm25,
    "q166_script_detect" -> q166_script_detect,
    "q168_bigram_lm" -> q168_bigram_lm,
    "q169_cluster_sizes" -> q169_cluster_sizes,
    "q170_token_budget_select" -> q170_token_budget_select,
    "q172_normalize_text" -> q172_normalize_text,
    "q144_bloom_decontamination" -> q144_bloom_decontamination,
    "q147_semantic_dedup" -> q147_semantic_dedup,
    "q152_keyword_tag" -> q152_keyword_tag,
    "q154_line_dedup" -> q154_line_dedup,
    "q157_quality_classifier" -> q157_quality_classifier,
    "q145_image_neardup" -> q145_image_neardup,
    "q141_curation_v2" -> q141_curation_v2,
    "q139_hashed_features" -> q139_hashed_features,
    "q136_char_entropy" -> q136_char_entropy,
    "q135_jaccard_estimate" -> q135_jaccard_estimate,
    "q129_dup_spans" -> q129_dup_spans,
    "q119_quantized_ann" -> q119_quantized_ann,
    "q117_int8_quantization" -> q117_int8_quantization,
    "q118_incremental_minhash" -> q118_incremental_minhash,
    "q116_random_projection" -> q116_random_projection,
    "q115_per_group_cap" -> q115_per_group_cap,
    "q114_packed_sequences" -> q114_packed_sequences,
    "q113_unigram_quality" -> q113_unigram_quality,
    "q110_top_grams" -> q110_top_grams,
    "q111_boilerplate" -> q111_boilerplate,
    "q107_decontamination" -> q107_decontamination,
    "q108_incremental_dedup" -> q108_incremental_dedup,
    "q109_mixture_sampling" -> q109_mixture_sampling,
    "q82_stratified_sample" -> q82_stratified_sample,
    "q88_text_chunks" -> q88_text_chunks,
    "q89_pii_scrub" -> q89_pii_scrub,
    "q90_sequence_packing" -> q90_sequence_packing,
    "q91_dedup_clusters" -> q91_dedup_clusters,
    "q102_repetition" -> q102_repetition,
    "q106_training_pipeline" -> q106_training_pipeline,
    "q93_mean_pool" -> q93_mean_pool,
    "q94_train_val_test" -> q94_train_val_test,
    "q95_corpus_clean" -> q95_corpus_clean,
    "q83_sample_n" -> q83_sample_n,
    "q76_cosine_ivf" -> q76_cosine_ivf,
    "q50_token_counts" -> q50_token_counts,
    "q51_exact_dedup" -> q51_exact_dedup,
    "q52_minhash_signature" -> q52_minhash_signature,
    "q53_minhash_lsh_jaccard" -> q53_minhash_lsh_jaccard,
    "q54_simhash_hamming" -> q54_simhash_hamming,
    "q55_cosine_topk" -> q55_cosine_topk,
    "q56_cosine_bucketed_ann" -> q56_cosine_bucketed_ann,
    "q57_cosine_neardup" -> q57_cosine_neardup,
    "q58_langid_quality" -> q58_langid_quality,
    "q59_multimodal_assets" -> q59_multimodal_assets)
}
