package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines
  * (parity-plus over the reference — SURVEY.md §7 M5b): language ID, quality
  * scoring, token counting, fingerprinting. Everything is a codegen'd Column
  * expression over built-ins — per-row cost is O(len), no UDF, no shuffle.
  */
object TextAnalysis {

  /** Whitespace-lowered word tokens. Evaluated by the native
    * [[graft.functions.WordTokens]] codegen Expression (one code-point scan
    * per document — no regex split, no interpreted filter lambda);
    * [[tokensReference]] keeps the built-in spelling for the differential
    * spec and SQL replay documentation.
    */
  def tokens(c: Column): Column = graft.functions.WordTokens.word_tokens(c)

  /** The portable built-in spelling of [[tokens]] — pinned element-identical
    * to the native kernel by FunctionsSpec.
    */
  def tokensReference(c: Column): Column =
    filter(split(lower(c), "[^\\p{L}\\p{N}_]+"), t => length(t) >= 1)

  /** Whitespace token count. */
  def tokenCount(c: Column): Column = size(tokens(c)).cast("long")

  /** BPE-ish token count: letter runs, single digits, single punctuation
    * marks — the classic GPT-2 pre-tokenizer shape, as a portable regex.
    */
  def bpeishTokenCount(c: Column): Column =
    size(regexp_extract_all(c, lit("[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]"), lit(0))).cast("long")

  /** 60-bit content hash usable identically in any engine with md5:
    * first 15 hex chars of md5 as a non-negative long. The basis for
    * fingerprints, MinHash and SimHash below. Evaluated by the native
    * [[graft.functions.Md5Hash60]] codegen Expression (digest bytes read
    * directly — no hex/substring/re-parse string round-trips);
    * [[hash60Reference]] keeps the built-in spelling for the differential
    * spec and SQL replay documentation.
    */
  def hash60(c: Column): Column = graft.functions.Md5Hash60.md5_hash60(c)

  /** The portable string spelling of [[hash60]] — what the DuckDB oracle
    * executes; pinned bit-identical to the native kernel by FunctionsSpec.
    */
  def hash60Reference(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** Document fingerprint: 60-bit hash of the whitespace-normalized,
    * lowercased text (stable under formatting noise).
    */
  def fingerprint(c: Column): Column =
    hash60(trim(regexp_replace(lower(c), "\\s+", " ")))

  /** Frequent-word profiles for the n-gram language-ID heuristic; their
    * union is [[qualityStruct]]'s stopword set.
    */
  val LangProfiles: Map[String, Seq[String]] = graft.functions.QualitySignals.LangProfiles

  /** Language-ID heuristic: score each profile by stopword hits per token;
    * CJK characters short-circuit to zh; zero scores → "und" (undetermined);
    * ties between nonzero scores keep the alphabetically-first language (the
    * fold only replaces on a STRICTLY greater score — the q58 oracle pins
    * this tie-break). Deterministic, engine-portable.
    */
  def langId(c: Column): Column = langIdStaged(c, tokens(c))

  /** [[langId]] over a pre-tokenized column — stage `tokens(c)` once with a
    * `withColumn` when combining with other token consumers (quality, count,
    * TF-IDF): Catalyst inlines Column trees at every reference, so an
    * unstaged composition re-tokenizes per consumer (the TfIdf
    * transformFrame lesson).
    */
  def langIdStaged(c: Column, toks: Column): Column = {
    def score(words: Seq[String]): Column =
      size(filter(toks, t => t.isin(words.map(lit): _*)))
    val scored = LangProfiles.toSeq.filter(_._2.nonEmpty).sortBy(_._1).map {
      case (lang, words) => (lit(lang), score(words))
    }
    val best = scored.tail.foldLeft(scored.head) { case ((bl, bs), (l, s)) =>
      (when(s > bs, l).otherwise(bl), greatest(s, bs))
    }
    when(c.rlike("[\\p{IsHan}\\p{IsHiragana}\\p{IsKatakana}]"), "zh")
      .when(best._2 > 0, best._1)
      .otherwise("und")
  }

  /** Quality signals (`documents` regime): word count, mean word length,
    * punctuation ratio, stopword ratio, plus a [0,1] composite score — the
    * usual pre-training filter features.
    */
  def qualityStruct(c: Column): Column = qualityStructStaged(c, tokens(c))

  /** [[qualityStruct]] over a pre-tokenized column (see [[langIdStaged]]).
    * Evaluated by the native [[graft.functions.QualitySignals]] codegen
    * Expression (one pass over the tokens and one over the text's bytes);
    * [[qualityStructStagedReference]] keeps the built-in spelling for the
    * differential spec.
    */
  def qualityStructStaged(c: Column, toks: Column): Column =
    graft.functions.QualitySignals.quality_signals(c, toks)

  /** The built-in spelling of [[qualityStructStaged]] — pinned
    * field-identical to the native kernel by CurateKernelsSpec.
    */
  def qualityStructStagedReference(c: Column, toks: Column): Column = {
    val nWords = size(toks).cast("double")
    val meanWordLen = aggregate(toks, lit(0L), (a, t) => a + length(t)).cast("double") /
      greatest(nWords, lit(1.0))
    val punct = (length(c) - length(regexp_replace(c, "[!\"#$%&'()*+,\\-./:;<=>?@\\[\\]^_`{|}~]", "")))
      .cast("double")
    val punctRatio = punct / greatest(length(c).cast("double"), lit(1.0))
    val stopwords = graft.functions.QualitySignals.Stopwords
    val stop = size(filter(toks, t => t.isin(stopwords.map(lit): _*))).cast("double")
    val stopRatio = stop / greatest(nWords, lit(1.0))
    // null gate: Spark's least()/greatest() SKIP null operands, so without
    // it a NULL document scored 0.8 — every least() clause silently
    // resolved to its 1.0 ceiling and a contentless doc outranked real
    // prose through any quality filter (r14 adversarial replay find)
    val score = when(c.isNull, lit(null).cast("double")).otherwise(
      least(nWords / 100.0, lit(1.0)) * 0.4 +
        least(meanWordLen / 8.0, lit(1.0)) * 0.2 +
        (lit(1.0) - least(punctRatio * 5.0, lit(1.0))) * 0.2 +
        least(stopRatio * 4.0, lit(1.0)) * 0.2)
    struct(
      nWords.cast("long").as("n_words"),
      round(meanWordLen, 4).as("mean_word_len"),
      round(punctRatio, 4).as("punct_ratio"),
      round(stopRatio, 4).as("stopword_ratio"),
      round(score, 4).as("quality"))
  }

  /** The Gopher document-quality rules not already covered by
    * [[qualityStruct]] (word counts/lengths/stopwords) and
    * [[repetitionSignals]] (dup lines/grams): fraction of words containing
    * an alphabetic character, symbol-to-word ratio (# and …), fraction of
    * lines starting with a bullet and ending with an ellipsis, plus the
    * composite `gopher_pass` gate at the published thresholds (≥80% alpha
    * words, symbol ratio ≤0.1, ≤90% bullet starts, ≤30% ellipsis ends).
    * Shuffle-free: evaluated by the native [[graft.functions.GopherFlags]]
    * codegen Expression (one pass over the text's bytes);
    * [[gopherFlagsReference]] keeps the built-in spelling, where every
    * count is a portable regex, for the differential spec and SQL replay
    * documentation.
    */
  def gopherFlags(c: Column): Column = graft.functions.GopherFlags.gopher_flags(c)

  /** The built-in spelling of [[gopherFlags]] — pinned field-identical to
    * the native kernel by CurateKernelsSpec.
    */
  def gopherFlagsReference(c: Column): Column = {
    val words = regexp_extract_all(c, lit("\\S+"), lit(0))
    val nWords = greatest(size(words), lit(1)).cast("double")
    val alphaFrac = size(filter(words, w => w.rlike("[A-Za-z]"))).cast("double") / nWords
    val symbols = (size(regexp_extract_all(c, lit("#"), lit(0))) +
      size(regexp_extract_all(c, lit("\\.\\.\\.|…"), lit(0)))).cast("double")
    val symbolRatio = symbols / nWords
    val lines = filter(split(c, "\n"), l => length(trim(l)) > 0)
    val nLines = greatest(size(lines), lit(1)).cast("double")
    val bulletFrac = size(filter(lines,
      l => trim(l).rlike("^([*•\\-]|[0-9]+[.)])\\s"))).cast("double") / nLines
    val ellipsisFrac = size(filter(lines,
      l => trim(l).rlike("(\\.\\.\\.|…)$"))).cast("double") / nLines
    val pass = alphaFrac >= 0.8 && symbolRatio <= 0.1 &&
      bulletFrac <= 0.9 && ellipsisFrac <= 0.3
    struct(
      round(alphaFrac, 4).as("alpha_word_frac"),
      round(symbolRatio, 4).as("symbol_ratio"),
      round(bulletFrac, 4).as("bullet_line_frac"),
      round(ellipsisFrac, 4).as("ellipsis_line_frac"),
      pass.as("gopher_pass"))
  }

  /** Word k-shingles: contiguous k-grams joined by a space — the MinHash
    * input unit.
    */
  def shingles(c: Column, k: Int): Column = shinglesFromTokens(tokens(c), k)

  /** [[shingles]] over an already-tokenized array column — callers that
    * stage tokens as their own materialized column use this form so the
    * tokenizer never re-evaluates inside the gram lambda. Evaluated by the
    * native [[graft.functions.ShinglesFromTokens]] codegen Expression
    * (single-buffer gram construction — no per-gram slice allocation or
    * interpreted lambda); [[shinglesFromTokensReference]] keeps the
    * built-in spelling for the differential spec.
    */
  def shinglesFromTokens(toks: Column, k: Int): Column =
    graft.functions.ShinglesFromTokens.shingles_from_tokens(toks, k)

  /** The portable built-in spelling of [[shinglesFromTokens]] — pinned
    * element-identical to the native kernel by FunctionsSpec.
    */
  def shinglesFromTokensReference(toks: Column, k: Int): Column =
    when(size(toks) < k, array(concat_ws(" ", toks)))
      .otherwise(transform(
        sequence(lit(1), size(toks) - (k - 1)),
        i => concat_ws(" ", slice(toks, i, lit(k)))))

  /** Hashed bag-of-tokens feature vector (fastText/Vowpal hashing trick):
    * token t increments bucket `hash60(t) mod dim` — a fixed-width integer
    * feature vector with no vocabulary pass, the standard input for cheap
    * quality/language classifiers over a corpus. Shuffle-free, O(tokens +
    * dim) per doc: evaluated by the native
    * [[graft.functions.HashedTokenCounts]] codegen Expression (one pass into
    * a primitive count array); engine-portable because the bucket hash is
    * the shared md5-based [[hash60]]. HashedTokenCountsSpec keeps the
    * built-in spelling as its differential reference.
    */
  def hashedTokenFeatures(text: Column, dim: Int): Column =
    graft.functions.HashedTokenCounts.hashed_token_counts(tokens(text), dim)

  /** Within-doc line dedup — keep the FIRST occurrence of every line inside
    * one document (navigation menus, repeated footers): line i survives iff
    * its first index in the doc is i. Pure per-doc Column algebra —
    * shuffle-free, O(lines²) string compares per doc (bounded by doc size) —
    * the in-document complement of the global [[dedupLinesGlobal]].
    */
  def dedupLinesWithinDoc(c: Column): Column =
    // seen-accumulator fold: the first-index spelling
    // (`array_position(lines, l) === i + 1`) captures the split expression
    // in the lambda and re-splits the whole document once per line
    array_join(
      aggregate(
        split(c, "\n"),
        typedLit(Seq.empty[String]),
        (acc, l) => when(array_contains(acc, l), acc)
          .otherwise(concat(acc, array(l)))),
      "\n")

  /** Unicode normalization, curation-pragmatic subset (the text-cleaning
    * sibling of [[stripHtml]]): curly quotes/dashes/NBSP fold to ASCII via
    * one `translate` (1:1, no regex engine), zero-width chars / soft hyphen /
    * BOM strip, ellipsis expands to "...". Shuffle-free; every piece has an
    * identical plain-SQL spelling.
    */
  def normalizeText(c: Column): Column = {
    val folded = translate(c, "‘’“”–— ", "''\"\"-- ")
    val stripped = regexp_replace(folded, "[​‌‍­﻿]", "")
    trim(regexp_replace(stripped, "…", "..."))
  }

  /** Bigram-LM NLL with add-k smoothing — the context-aware step up from
    * [[unigramNll]] (CCNet-style perplexity proxy): per-doc
    * −mean log P(w_i | w_{i−1}) with P = (c(bigram)+k) / (c(context)+k·V),
    * frequencies from the corpus itself. Shape at scale: ONE exploded gram
    * frame feeds both frequency aggregates; scoring joins ride 8-byte
    * [[hash60]] keys (the dedup-family rule — gram STRINGS never shuffle);
    * V is an in-plan broadcast scalar; the per-doc sum quantizes each log-prob
    * to `decimal(28,14)` and sums exactly, so the score is bit-identical
    * on any partitioning without a sorted fold.
    *
    * Lineage determinism: the unstaged gram frame evaluates `df` more than
    * once (both frequency aggregates + the scoring join) — as with
    * [[Graph.pageRank]]'s edge contract, a nondeterministic input lineage
    * (e.g. `limit()` on unordered data) yields undefined scores; checkpoint
    * or stage such inputs first.
    */
  def bigramNll(df: org.apache.spark.sql.DataFrame, textCol: Column,
      idCol: Column, k: Double = 1.0, out: String = "nll"): org.apache.spark.sql.DataFrame = {
    // the hashed gram frame is deliberately UNSTAGED (r7 staging verdict,
    // same as DSIR/unigramNll/removeDuplicateSpans): its three consumers
    // (both frequency aggregates + the scoring join) re-run the
    // tokenize/shingle/hash codegen kernels, which measured ~45% less
    // total task time than writing the O(corpus grams) frame through the
    // BlockManager (16→13 jobs — the cache-materialization barriers
    // disappear), and at cluster scale a cache here is unbounded memory
    // for a CPU-cheap derivation.
    val grams = df.select(idCol.as("id"), explode(shingles(textCol, 2)).as("bg"))
      .select(col("id"), hash60(col("bg")).as("__bgh__"),
        hash60(element_at(split(col("bg"), " "), 1)).as("__ctxh__"))
    // V rides INSIDE the plan as a broadcast 1-row aggregate (the
    // broadcast-scalar pattern) — no driver-blocking vocab pre-pass
    val vocab = df.select(explode(tokens(textCol)).as("t"))
      .agg(count_distinct(col("t")).cast("double").as("__v__"))
    val bgFreq = grams.groupBy(col("__bgh__")).agg(count(lit(1)).as("__cbg__"))
    val ctxFreq = grams.groupBy(col("__ctxh__")).agg(count(lit(1)).as("__cctx__"))
    val result = grams.join(bgFreq, "__bgh__").join(ctxFreq, "__ctxh__")
      .crossJoin(broadcast(vocab))
      .withColumn("__lp__",
        log((col("__cbg__") + lit(k)) / (col("__cctx__") + lit(k) * col("__v__"))))
      .groupBy(col("id"))
      .agg(sum(col("__lp__").cast("decimal(28,14)")).as("__s__"),
        count(lit(1)).as("__n__"))
      .select(col("id"),
        (-col("__s__").cast("double") / col("__n__")).as(out))
    Snapshots.cut(result)
  }

  /** Unicode-script profile (CCNet's routing signal next to [[langId]]):
    * per-doc fraction of non-space characters in the basic Latin, Cyrillic,
    * CJK, and Arabic ranges plus the dominant script. Explicit codepoint
    * ranges (not `\p{script=}` classes) so the regexes run identically on
    * Java regex and RE2-family engines. Shuffle-free map-side algebra.
    */
  def scriptProfile(c: Column): Column = {
    val nonSpace = regexp_replace(c, "\\s", "")
    val total = greatest(length(nonSpace), lit(1)).cast("double")
    def frac(rangePat: String): Column =
      round((length(nonSpace) -
        length(regexp_replace(nonSpace, rangePat, ""))).cast("double") / total, 4)
    val latin = frac("[a-zA-Z]")
    val cyr = frac("[Ѐ-ӿ]")
    val cjk = frac("[぀-ヿ一-鿿]")
    val arabic = frac("[؀-ۿ]")
    val dominant = when(latin >= cyr && latin >= cjk && latin >= arabic, "latin")
      .when(cyr >= cjk && cyr >= arabic, "cyrillic")
      .when(cjk >= arabic, "cjk")
      .otherwise("arabic")
    struct(latin.as("latin"), cyr.as("cyrillic"), cjk.as("cjk"),
      arabic.as("arabic"), dominant.as("dominant"))
  }

  /** HTML → text (C4/CCNet ingest pillar): drop script/style blocks, strip
    * tags, decode the common entities, collapse whitespace. Regexes stay in
    * the RE2-compatible subset (no backreferences — script and style get
    * separate lazy patterns) so any engine replays them; `&amp;` decodes
    * LAST so escaped entities (`&amp;lt;`) surface as their literal text.
    * Shuffle-free map-side Column algebra.
    */
  def stripHtml(c: Column): Column = {
    val noScript = regexp_replace(c, "(?is)<script[^>]*>.*?</script>", " ")
    val noStyle = regexp_replace(noScript, "(?is)<style[^>]*>.*?</style>", " ")
    val noTags = regexp_replace(noStyle, "(?s)<[^>]*>", " ")
    val decoded = Seq(
      "&nbsp;" -> " ", "&lt;" -> "<", "&gt;" -> ">",
      "&quot;" -> "\"", "&#39;" -> "'", "&amp;" -> "&")
      .foldLeft(noTags) { case (acc, (k, v)) => replace(acc, lit(k), lit(v)) }
    trim(regexp_replace(decoded, "\\s+", " "))
  }

  /** Linear classifier score over [[hashedTokenFeatures]] — the fastText /
    * quality-classifier APPLY path (DSIR/FineWeb-Edu style gating): mean
    * token-bucket features dot a broadcast weight vector + bias through a
    * sigmoid. Weights ship as one `typedLit` array (a trained model's
    * coefficients; any source). Pure Column algebra: index-aligned fold in
    * ascending bucket order — bit-deterministic, shuffle-free, and
    * SQL-replayable. Use with a threshold for binary gates or keep the
    * probability as a mixing weight.
    */
  def linearScore(text: Column, weights: Seq[Double], bias: Double): Column =
    linearScoreStaged(tokens(text), weights, bias)

  /** [[linearScore]] over an already-tokenized column — the staged form for
    * pipelines that hold the token array in a column shared with other
    * consumers (token floor, quality signals): the tokenizer then runs once
    * per row for ALL of them (the q95 staging discipline).
    */
  def linearScoreStaged(toks0: Column, weights: Seq[Double], bias: Double): Column = {
    // fold in TOKEN order (z = bias + (Σ_t w[bucket(t)]) / n), hashing each
    // token exactly once and keeping the lambda CLOSED over nothing but its
    // own arguments: any outer expression referenced inside a HOF lambda is
    // re-evaluated per element (a captured token-count expression turned the
    // fold quadratic — re-tokenizing the doc once per token, benched 10×
    // slower corpus-wide), and the per-dim count spelling re-hashes every
    // token once per dim. Single division outside the fold.
    val toks = toks0
    val nTok = greatest(size(toks), lit(1)).cast("double")
    val wLit = typedLit(weights)
    val z = lit(bias) + aggregate(
      transform(toks, t => pmod(hash60(t), lit(weights.size.toLong))),
      lit(0.0),
      (acc, b) => acc + element_at(wLit, (b + 1).cast("int"))) / nTok
    lit(1.0) / (lit(1.0) + exp(-z))
  }

  /** Sentence segmentation (regex heuristic): split on `.`/`!`/`?` runs
    * followed by whitespace, trimmed, empties dropped. The unit for
    * sentence-level dedup/packing when line boundaries don't exist.
    */
  def sentences(text: Column): Column =
    filter(transform(split(text, "[.!?]+\\s+"), s => trim(s)), s => length(s) > 0)

  /** Per-doc character-distribution Shannon entropy (nats) — the classic
    * gibberish/encoded-blob detector rounding out the quality suite: random
    * base64 ≈ ln 64, natural prose ≈ 2.8–3.2, single-char spam → 0.
    * Shuffle-free column algebra: probabilities fold in SORTED char order so
    * the sum is bit-deterministic on any partitioning and replayable by the
    * SQL oracle with the same op order (the q113 sorted-fold discipline).
    * O(distinct·len) per doc — distinct chars are ≤ a few hundred.
    */
  def charEntropy(text: Column): Column =
    graft.functions.CharEntropy.char_entropy(lower(text))

  /** The HOF spelling of [[charEntropy]] — run-length fold over the sorted
    * char array. Semantically (and bit-for-bit) identical to the native
    * kernel; kept as the differential-testing reference (the
    * [[graft.ops.Similarity.dotHof]] pattern). ~5× slower on corpus scans:
    * one single-char string per input character plus a struct per fold step.
    */
  def charEntropyHof(text: Column): Column = {
    val chars = filter(split(lower(text), ""), c => length(c) > 0)
    val n = size(chars).cast("double")
    def term(acc: Column): Column = {
      val p = acc.getField("run").cast("double") / n
      when(acc.getField("run") > 0L, acc.getField("ent") - p * log(p))
        .otherwise(acc.getField("ent"))
    }
    val zero = struct(lit("").as("prev"), lit(0L).as("run"), lit(0.0).as("ent"))
    aggregate(
      array_sort(chars), zero,
      (acc, c) => when(acc.getField("prev") === c,
        struct(c.as("prev"), (acc.getField("run") + 1L).as("run"),
          acc.getField("ent").as("ent")))
        .otherwise(
          struct(c.as("prev"), lit(1L).as("run"), term(acc).as("ent"))),
      acc => term(acc))
  }

  /** Per-doc duplicate-span fraction (RefinedWeb/Dolma-style memorization
    * signal): the share of a document's distinct word k-grams that appear in
    * at least one OTHER document. Three hash-parallel stages — per-doc
    * distinct gram hashes (map-side `array_distinct`, the text never leaves
    * its partition), gram → doc-count aggregate, hash-keyed join back +
    * per-doc fraction. Only 8-byte gram hashes ever shuffle; at corpus scale
    * the gram-count frame is the reusable index (persist it across audits).
    *
    * Lineage determinism: the unstaged gram frame evaluates `df` once per
    * join side — as with [[Graph.pageRank]]'s edge contract, a
    * nondeterministic input lineage (e.g. `limit()` on unordered data)
    * yields undefined fractions; checkpoint or stage such inputs first.
    */
  def duplicateSpanFraction(df: org.apache.spark.sql.DataFrame, idCol: Column,
      textCol: Column, k: Int = 5,
      out: String = "dup_span_frac"): org.apache.spark.sql.DataFrame = {
    // the gram frame feeds BOTH sides of the count join and is
    // deliberately UNSTAGED (r7 staging verdict): each side re-runs the
    // tokenize→shingle→hash codegen kernels (Spark does not CSE across
    // join inputs either way), which measured cheaper than writing the
    // O(corpus grams) frame through the BlockManager — and leaves the op
    // with no unbounded cache. The per-doc result still materializes
    // eagerly (lineage-free return, the Dedup lifecycle discipline).
    val grams = df.select(idCol.as("id"), textCol.as("__t__"))
      .select(col("id"), explode(array_distinct(
        transform(shingles(col("__t__"), k), s => hash60(s)))).as("__g__"))
    // grams are distinct per doc, so count(*) = number of docs holding it
    val counts = grams.groupBy(col("__g__")).agg(count(lit(1)).as("__nd__"))
    val result = grams.join(counts, "__g__")
      .groupBy(col("id"))
      .agg((sum(when(col("__nd__") > 1, 1L).otherwise(0L)).cast("double") /
        count(lit(1)).cast("double")).as(out))
    Snapshots.cut(result)
  }

  /** Duplicate-span REMOVAL — the rewrite counterpart of
    * [[duplicateSpanFraction]] (which only audits): every token covered by a
    * k-gram that occurs more than once in the corpus (any doc, including a
    * second occurrence in the same doc) is dropped, and the document is
    * rebuilt from the surviving tokens. This is the deduplicate-training-data
    * "ExactSubstr" shape at k-token granularity: verbatim boilerplate and
    * cross-doc copies vanish while unique prose survives.
    *
    * Output text is the canonical token stream (lowercased, single-space
    * joined — the same normalization [[fingerprint]] uses); a fully
    * duplicated document becomes the empty string, never a dropped row.
    *
    * Scale shape: everything row-shuffled is numeric — (1) gram hashes with
    * start positions, (2) gram-keyed count (map-side combined), (3) covered
    * positions = explode of the ≤k-wide window per duplicated gram,
    * gathered per doc as ONE id-keyed `collect_set` (map-side partially
    * combined; only positions of DUPLICATED grams ever shuffle — unique
    * prose costs nothing), (4) one id-keyed join of that set against the
    * token arrays, where the surviving positions fall out map-side
    * as `array_except(sequence(0, n−1), covered)` (hash-set membership:
    * O(n + |covered|) per doc, order-preserving so the rebuild keeps token
    * order) and the text re-materializes via `element_at` — the only point
    * where text crosses the wire, once, in array form. No corpus-wide
    * position stream, no anti-join, no per-doc quadratic HOF — a doc that
    * is 100% duplicated costs O(tokens·k) row traffic, not O(tokens²)
    * lambda work. The per-group set is bounded by the doc's own token
    * count — the same memory the doc's token array already holds. Docs
    * shorter than k tokens form one whole-doc gram (the [[shingles]]
    * convention), so short exact copies still dedup.
    */
  def removeDuplicateSpans(df: org.apache.spark.sql.DataFrame, idCol: Column,
      textCol: Column, k: Int = 5,
      out: String = "clean_text"): org.apache.spark.sql.DataFrame = {
    require(k >= 1, "k must be positive")
    // The token-array frame is deliberately NOT staged, same verdict as the
    // grams below: its three readers (the two gram derivations and the
    // rebuild join) re-run the tokenize kernel over the input, and that
    // recompute MEASURED less than HALF the total task time of persisting
    // (serializing array-typed rows through the BlockManager cost more
    // than two extra codegen passes; 3 jobs fewer too, since the cache
    // materialization barriers disappear) — and at cluster scale a cache
    // here would hold O(corpus tokens) memory for a CPU-cheap derivation.
    // Callers whose upstream lineage is expensive should stage THAT before
    // calling (the q175/q208 pipelines feed a scan or a checkpoint).
    val base = df.select(idCol.as("id"), tokens(textCol).as("__t__"))
    // (id, gidx 1-based, gram hash); short docs: one gram covering all
    // tokens. Deliberately NOT staged even though the self-join below reads
    // it twice: both readers re-derive it through the native
    // tokenize/shingle/hash kernels, and caching the ~|tokens|-row frame
    // measured SLOWER than the recompute (the BlockManager write of 10M
    // 4-column rows costs more than two codegen passes).
    val grams = base.select(col("id"), size(col("__t__")).as("__n__"),
        posexplode(transform(shinglesFromTokens(col("__t__"), k), s => hash60(s))))
      .select(col("id"), col("__n__"), (col("pos") + 1).as("__gi__"), col("col").as("__g__"))
    val dupGrams = grams.join(
      grams.groupBy(col("__g__")).agg(count(lit(1)).as("__c__"))
        .filter(col("__c__") > 1).select(col("__g__")),
      "__g__")
    // covered token positions (0-based), gathered per doc in ONE id-keyed
    // collect_set (dedup rides inside the aggregate, partially combined
    // map-side); window width = min(k, doc len). Only positions under
    // DUPLICATED grams enter this shuffle — a mostly-unique corpus moves
    // almost nothing here.
    val coveredSets = dupGrams
      .select(col("id"),
        explode(sequence(col("__gi__") - 1,
          col("__gi__") - 2 + least(lit(k), col("__n__")))).as("__p__"))
      .groupBy(col("id"))
      .agg(collect_set(col("__p__")).as("__cov__"))
    // one id-keyed join against the token arrays; survivors fall out
    // MAP-SIDE as array_except(all positions, covered) — hash-set
    // membership per doc, order-preserving (sequence is ascending, so the
    // rebuild keeps token order) — and the text re-materializes via
    // element_at. Docs with no duplicated grams miss coveredSets (left
    // join → empty covered set); a fully covered doc becomes "" in place,
    // never a dropped row. The coalesced size guard keeps sequence() off
    // BOTH empty docs (sequence(0, −1) would descend, not return empty)
    // and null-text docs (null tokens must yield n_kept = 0 and "", the
    // same never-a-dropped-row contract, not a null row).
    val keptExpr = when(coalesce(size(col("__t__")), lit(0)) === 0,
        array().cast("array<int>"))
      .otherwise(array_except(
        sequence(lit(0), size(col("__t__")) - 1),
        coalesce(col("__cov__"), array().cast("array<int>"))))
    // LAZY checkpoint (r18, guide §5 — one blocking driver job fewer per
    // call at every scale): eager=true ran a dedicated materialization job
    // and every caller's first action then re-read the blocks as a second
    // job. Only the FINAL result stage is deferred: under AQE the call
    // still executes the adaptive plan, so every upstream exchange stage
    // materializes here, at the cut. The caller's first
    // full action (q208's kSel count, q182's noop write, a test's collect)
    // then computes that last stage AND persists it in one job; Spark
    // finalizes the local checkpoint at that job's end, launching a
    // completion job only for partitions the action skipped (none of the
    // callers take/limit). Callers that fan out CONCURRENT jobs before any
    // full action would compute the last stage twice — none do; keep a
    // materializing action first if one appears. With a checkpoint dir set
    // the cut is reliable and therefore eager (see Snapshots.cut).
    val result = base
      .join(coveredSets, Seq("id"), "left")
      .withColumn("__ps__", keptExpr)
      .select(col("id"), size(col("__t__")).cast("long").as("n_tokens"),
        size(col("__ps__")).cast("long").as("n_kept"),
        array_join(
          transform(col("__ps__"), p => element_at(col("__t__"), p + 1)), " ")
          .as(out))
    Snapshots.cut(result, eager = false)
  }

  /** Unigram-LM quality score — the CCNet-style perplexity proxy without an
    * external model: per-doc mean negative log-probability of its tokens
    * under the CORPUS unigram distribution. High nll = rare-token gibberish,
    * low nll = stopword soup; the middle band is "normal" prose (CCNet keeps
    * the head/middle of the perplexity distribution). Two passes, both
    * hash-parallel: (1) token frequencies (explode → map-side-combined
    * count), (2) token-keyed join + per-doc fold. The per-doc sum folds over
    * tokens in SORTED order so the result is bit-deterministic on any
    * partitioning (and replayable by another engine folding in the same
    * order).
    *
    * Lineage determinism: the unstaged token stream evaluates `df` more
    * than once (total, frequency table, scoring join) — as with
    * [[Graph.pageRank]]'s edge contract, a nondeterministic input lineage
    * (e.g. `limit()` on unordered data) yields undefined scores; checkpoint
    * or stage such inputs first.
    */
  def unigramNll(df: org.apache.spark.sql.DataFrame, textCol: Column,
      idCol: Column, out: String = "nll"): org.apache.spark.sql.DataFrame = {
    // the token stream is deliberately UNSTAGED (r7 staging verdict, same
    // as DSIR/bigramNll/removeDuplicateSpans): its three consumers (the
    // in-plan total, the frequency table, the scoring join) re-run the
    // tokenize codegen kernel, which measured cheaper than writing an
    // O(corpus tokens) STRING stream through the BlockManager — and at
    // cluster scale that cache is an unbounded-memory hazard. The corpus
    // total rides INSIDE the plan as a broadcast aggregate (the
    // Scale.keyProfile broadcast-scalar pattern) — scoring has no
    // driver-blocking pre-pass.
    val toks = df.select(idCol.as("id"), explode(tokens(textCol)).as("tok"))
    val total = toks.agg(count(lit(1)).cast("double").as("__tot__"))
    val freqs = toks.groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
    val result = toks.join(freqs, "tok")
      .crossJoin(broadcast(total))
      .withColumn("__logp__", log(col("cnt") / col("__tot__")))
      .groupBy(col("id"))
      .agg(sort_array(collect_list(struct(col("tok"), col("__logp__").as("lp")))).as("__xs__"))
      .select(col("id"),
        (-aggregate(col("__xs__"), lit(0.0), (a, x) => a + x.getField("lp"))
          / size(col("__xs__"))).as(out))
    Snapshots.cut(result)
  }

  /** Flesch reading-ease estimate from portable regex counts — the classic
    * readability quality signal (`206.835 − 1.015·(words/sentences) −
    * 84.6·(syllables/words)`), with syllables approximated by vowel-group
    * runs per word (the standard regex proxy) and sentences by terminal
    * punctuation runs (min 1). Shuffle-free column algebra; every count is
    * replayable in any engine with regex extraction.
    */
  def fleschReadingEase(c: Column): Column = {
    val words = size(regexp_extract_all(c, lit("[A-Za-z]+"), lit(0))).cast("double")
    val syllables = size(regexp_extract_all(lower(c), lit("[aeiouy]+"), lit(0))).cast("double")
    val sentences = greatest(size(regexp_extract_all(c, lit("[.!?]+"), lit(0))), lit(1)).cast("double")
    when(words === 0, lit(null).cast("double"))
      .otherwise(lit(206.835) - lit(1.015) * (words / sentences)
        - lit(84.6) * (syllables / words))
  }

  /** DSIR-style importance score (Data Selection via Importance Resampling):
    * per-doc log importance weight of a TARGET distribution against the RAW
    * corpus distribution, over hashed unigram features —
    * `score(d) = Σ_{tok ∈ d} ln( p_target(bucket(tok)) / p_raw(bucket(tok)) )`
    * with add-α smoothing on both hashed-bucket models. High scores mark raw
    * docs that look like the target domain; feed the scores to
    * [[Sampling.gumbelTopK]] (log-weights) to draw the selected subset.
    *
    * Scale shape: only `dim`-row bucket-count frames are ever cached — the
    * (id, bucket) token stream itself is NOT staged. It has two consumers
    * (the raw bucket model and the final scoring sum), but re-deriving it
    * means re-running the tokenize/hash codegen kernels over the input,
    * and — like the [[removeDuplicateSpans]] grams decision — that
    * recompute MEASURED cheaper at sf0.1 than writing an O(corpus tokens)
    * frame through the BlockManager (≈35% less total task time and it
    * releases the unbounded-memory hazard a token-stream cache is at
    * cluster scale). Both bucket models are `dim`-row map-side-combined
    * aggregates broadcast back onto the stream; per-doc score is one more
    * map-side-combined sum. (A per-doc (id, bucket, cnt) pre-aggregation
    * was tried and measured SLOWER at dim ≥ 1024: short docs rarely repeat
    * a bucket, so the extra shuffle collapses almost nothing.) Both corpus
    * totals fold from the dim-row count frames INSIDE the plan as broadcast
    * 1-row aggregates — no driver-blocking count action anywhere. No
    * vocabulary pass, no text shuffle.
    *
    * Lineage determinism: the unstaged token streams evaluate `raw` and
    * `target` more than once — as with [[Graph.pageRank]]'s edge contract,
    * a nondeterministic input lineage (e.g. `limit()` on unordered data)
    * yields undefined scores; checkpoint or stage such inputs first.
    */
  def dsirScores(raw: org.apache.spark.sql.DataFrame, idCol: Column, textCol: Column,
      target: org.apache.spark.sql.DataFrame, targetTextCol: Column,
      dim: Int = 4096, alpha: Double = 0.5,
      out: String = "dsir_score"): org.apache.spark.sql.DataFrame = {
    require(dim > 0, "dim must be positive")
    // the raw (id, bucket) stream — deliberately unstaged (see scaladoc)
    val rawBuckets = raw
      .select(idCol.as("id"), explode(tokens(textCol)).as("__tok__"))
      .select(col("id"), pmod(hash60(col("__tok__")), lit(dim.toLong)).as("__b__"))
    // staged (dim rows, bounded): read by the count merge below AND by the
    // target-total fold — unstaged each consumer would re-tokenize the
    // whole target corpus
    val tgtCounts = target
      .select(explode(tokens(targetTextCol)).as("__tok__"))
      .select(pmod(hash60(col("__tok__")), lit(dim.toLong)).as("__b__"))
      .groupBy(col("__b__")).agg(count(lit(1)).as("__ct__"))
      .persist()
    // one left join merges the two models; target-ONLY buckets drop out,
    // which is sound because the scoring join below can only ever look up
    // buckets that occur in the raw stream — but the TARGET total must
    // still count those dropped buckets' tokens, so it folds from
    // tgtCounts, not from the merged frame
    val counts = rawBuckets.groupBy(col("__b__")).agg(count(lit(1)).as("__cr__"))
      .join(tgtCounts, Seq("__b__"), "left")
      .persist()
    val totals = counts.agg(
        coalesce(sum(col("__cr__")), lit(0L)).cast("double").as("__rt__"))
      .crossJoin(tgtCounts.agg(
        coalesce(sum(col("__ct__")), lit(0L)).cast("double").as("__tt__")))
    val result = dsirTail(rawBuckets, counts, totals, dim, alpha, out)
    tgtCounts.unpersist(false)
    result
  }

  /** [[dsirScores]] when the target IS a subset of the raw corpus (the
    * common curation shape: "score everything against the English / the
    * high-quality / the in-domain slice of itself"). BOTH bucket models
    * fall out of ONE conditional aggregate over one pass of the token
    * stream (`count(*)` beside `count(when(pred))` per bucket) — the
    * target text is never tokenized a second time, no second aggregate, no
    * model merge join. The subset property also lets the target total fold
    * from the merged count frame directly (every target token lives in
    * some raw bucket, so no target mass can drop out of the merge).
    *
    * @param targetPred boolean Column over `raw`'s columns selecting the
    *                   target slice (e.g. `col("lang") === "en"`).
    */
  def dsirScoresWithin(raw: org.apache.spark.sql.DataFrame, idCol: Column,
      textCol: Column, targetPred: Column,
      dim: Int = 4096, alpha: Double = 0.5,
      out: String = "dsir_score"): org.apache.spark.sql.DataFrame = {
    require(dim > 0, "dim must be positive")
    val rawBuckets = raw
      .select(idCol.as("id"), targetPred.as("__tgt__"),
        explode(tokens(textCol)).as("__tok__"))
      .select(col("id"), col("__tgt__"),
        pmod(hash60(col("__tok__")), lit(dim.toLong)).as("__b__"))
    // a null predicate (e.g. lang IS NULL) counts as not-target, matching
    // the filter() semantics of the two-corpora path
    val counts = rawBuckets.groupBy(col("__b__"))
      .agg(count(lit(1)).as("__cr__"),
        count(when(col("__tgt__"), lit(1))).as("__ct__"))
      .persist()
    val totals = counts.agg(
      coalesce(sum(col("__cr__")), lit(0L)).cast("double").as("__rt__"),
      coalesce(sum(col("__ct__")), lit(0L)).cast("double").as("__tt__"))
    dsirTail(rawBuckets.select(col("id"), col("__b__")), counts, totals,
      dim, alpha, out)
  }

  /** Shared DSIR scoring tail: smoothed log-ratio table from the merged
    * `(__b__, __cr__, __ct__)` bucket-count frame (dim rows, persisted by
    * the caller — released here after the result's eager cut) and the
    * 1-row `(__rt__, __tt__)` totals frame, broadcast back onto the
    * unstaged (id, bucket) stream, per-doc sum. Every total rides INSIDE
    * the plan as a broadcast scalar — the op has no driver-blocking action
    * before its single materializing cut.
    */
  private def dsirTail(rawBuckets: org.apache.spark.sql.DataFrame,
      counts: org.apache.spark.sql.DataFrame,
      totals: org.apache.spark.sql.DataFrame,
      dim: Int, alpha: Double, out: String): org.apache.spark.sql.DataFrame = {
    val ratios = counts.crossJoin(broadcast(totals))
      .select(col("__b__"),
        (log((coalesce(col("__ct__"), lit(0L)).cast("double") + lit(alpha)) /
             (col("__tt__") + lit(alpha * dim))) -
         log((coalesce(col("__cr__"), lit(0L)).cast("double") + lit(alpha)) /
             (col("__rt__") + lit(alpha * dim)))).as("__lr__"))
    val result = rawBuckets
      .join(broadcast(ratios), Seq("__b__"))
      .groupBy(col("id"))
      .agg(sum(col("__lr__")).as(out))
    Snapshots.cut(result, release = Seq(counts))
  }

  /** Corpus-wide top-N k-grams by occurrence count (stopword/boilerplate
    * discovery, tokenizer vocab seeding). One explode → gram-keyed partial
    * aggregate → TakeOrderedAndProject(topN): the shuffle carries (gram,
    * partial count) pairs after map-side combine, and only topN rows reach
    * the driver side of the sort. Deterministic tie-break: count desc, gram
    * asc.
    */
  def topGrams(df: org.apache.spark.sql.DataFrame, textCol: Column,
      k: Int, topN: Int): org.apache.spark.sql.DataFrame =
    df.select(explode(shingles(textCol, k)).as("gram"))
      .groupBy(col("gram")).agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("gram"))
      .limit(topN)

  /** Boilerplate-line removal (the CCNet/Common-Crawl cleaning step): drop
    * every line that appears in at least `minDocFreq` distinct documents
    * (nav menus, cookie banners, copyright footers), preserving the order
    * of surviving lines. Frequencies come from one line-hash-keyed
    * aggregate over per-doc DISTINCT lines; the resulting boilerplate set
    * is tiny by construction (a line must recur across `minDocFreq` docs to
    * qualify), so it collects to the driver (capped) and the removal itself
    * is a map-side HOF filter — document text never shuffles.
    */
  def stripBoilerplate(df: org.apache.spark.sql.DataFrame, textCol: Column,
      minDocFreq: Long, out: String = "text_clean",
      maxBoilerplateLines: Int = 100000): org.apache.spark.sql.DataFrame = {
    val lines = split(textCol, "\n")
    val hot = df
      .select(explode(array_distinct(lines)).as("__l__"))
      .groupBy(hash60(col("__l__")).as("__lh__"))
      .agg(count(lit(1)).as("__df__")) // per-doc distinct => count == doc freq
      .filter(col("__df__") >= minDocFreq)
      .select(col("__lh__"))
      .limit(maxBoilerplateLines + 1)
      .collect().map(_.getLong(0))
    require(hot.length <= maxBoilerplateLines,
      s"boilerplate set exceeds $maxBoilerplateLines lines; raise minDocFreq")
    val hotSet = typedLit(hot.toSeq)
    val kept = filter(lines, l => !array_contains(hotSet, hash60(l)))
    df.withColumn(out, concat_ws("\n", kept))
  }

  /** Global exact line dedup with keep-first semantics (the RefinedWeb /
    * Dolma cross-doc span dedup): a duplicated line survives only at its
    * FIRST corpus occurrence — min id, then min position — and is removed
    * everywhere else. One window shuffle keyed on the 60-bit line hash
    * picks firsts (the window compares 8-byte hashes + (id, pos), never
    * strings); one groupBy reassembles each doc's surviving lines in order
    * via an in-aggregate sorted concat. Docs whose every line is a later
    * duplicate come back as ''. The corpus text crosses the wire twice (by
    * line hash, then by doc) — inherent to cross-doc span REWRITING; use
    * [[stripBoilerplate]] when a doc-frequency threshold is enough.
    * Returns `(id, out)`.
    */
  def dedupLinesGlobal(df: org.apache.spark.sql.DataFrame, textCol: Column, idCol: Column,
      out: String = "text_dedup"): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val exploded = df.select(idCol.as("id"),
        posexplode(split(textCol, "\n")).as(Seq("__pos__", "__l__")))
      .withColumn("__lh__", hash60(col("__l__")))
    val w = Window.partitionBy(col("__lh__")).orderBy(col("id"), col("__pos__"))
    val rebuilt = exploded
      .withColumn("__rn__", row_number().over(w))
      .filter(col("__rn__") === 1)
      .groupBy(col("id"))
      .agg(concat_ws("\n", transform(
        array_sort(collect_list(struct(col("__pos__"), col("__l__")))),
        _.getField("__l__"))).as(out))
    df.select(idCol.as("id")).join(rebuilt, Seq("id"), "left")
      .select(col("id"), coalesce(col(out), lit("")).as(out))
  }

  /** Benchmark decontamination — ids of docs sharing ANY k-gram with a
    * benchmark corpus (the test-set-overlap removal every serious training
    * pipeline runs before training). Scale shape: the benchmark's distinct
    * gram hashes are tiny next to the corpus (benchmarks are thousands of
    * docs, the corpus is billions), so they BROADCAST and the corpus side is
    * a map-side semi-join over its exploded grams — the full text never
    * shuffles; only the matched ids do (for the distinct).
    */
  def contaminatedIds(docs: org.apache.spark.sql.DataFrame, textCol: Column, idCol: Column,
      bench: org.apache.spark.sql.DataFrame, benchText: Column, k: Int): org.apache.spark.sql.DataFrame = {
    val benchGrams = bench
      .select(explode(shingles(benchText, k)).as("__g__"))
      .select(hash60(col("__g__")).as("__gh__"))
      .distinct()
    docs.select(idCol.as("id"), explode(shingles(textCol, k)).as("__g__"))
      .select(col("id"), hash60(col("__g__")).as("__gh__"))
      .join(broadcast(benchGrams), Seq("__gh__"), "left_semi")
      .select(col("id"))
      .distinct()
  }

  /** Rows of `docs` that share no k-gram with the benchmark — the surviving
    * training corpus ([[contaminatedIds]] complement, one anti-join).
    */
  def decontaminate(docs: org.apache.spark.sql.DataFrame, textCol: Column, idCol: Column,
      bench: org.apache.spark.sql.DataFrame, benchText: Column, k: Int): org.apache.spark.sql.DataFrame = {
    val cont = contaminatedIds(docs, textCol, idCol, bench, benchText, k)
      .withColumnRenamed("id", "__cid__")
    docs.join(cont, idCol === col("__cid__"), "left_anti")
  }

  /** [[contaminatedIds]] through a broadcast Bloom pre-filter — the shape
    * for benchmark suites too large to broadcast as an exact gram set
    * (10^8–10^9 distinct grams): the corpus side probes a fixed-size bit
    * array map-side (no UDF — [[Bloom.mightContain]] is codegen'd Column
    * algebra), so only `matches + fp·n` gram rows reach the exact semi-join
    * shuffle instead of every gram in the corpus. The result is EXACT —
    * bloom false positives are eliminated by the verify join; no false
    * negatives exist by construction. Identical output to
    * [[contaminatedIds]], oracle-shared.
    */
  def contaminatedIdsBloom(docs: org.apache.spark.sql.DataFrame, textCol: Column, idCol: Column,
      bench: org.apache.spark.sql.DataFrame, benchText: Column, k: Int,
      bloomBits: Long = 1L << 22, bloomK: Int = 4): org.apache.spark.sql.DataFrame = {
    val benchGrams = bench
      .select(explode(shingles(benchText, k)).as("__g__"))
      .select(hash60(col("__g__")).as("__gh__"))
      .distinct()
      .persist() // read twice: bloom build (an action) + the verify join
    val bloom = Bloom.build(benchGrams, "__gh__", bloomBits, bloomK)
    val out = docs
      .select(idCol.as("id"), explode(shingles(textCol, k)).as("__g__"))
      .select(col("id"), hash60(col("__g__")).as("__gh__"))
      .filter(Bloom.mightContain(col("__gh__"), bloom, bloomK))
      .join(benchGrams, Seq("__gh__"), "left_semi")
      .select(col("id"))
      .distinct()
    Snapshots.cut(out, release = Seq(benchGrams)) // small id frame, lineage-free
  }

  /** Keyword tagging against a broadcast lexicon: the word-level matches of
    * `keywords` in the document's token set, sorted. The lexicon ships as
    * one `typedLit` array (constant expression size); the match is
    * shuffle-free Column algebra — the corpus-scale shape for topic
    * routing, policy lexicons and blocklists.
    */
  def matchedKeywords(textCol: Column, keywords: Seq[String]): Column =
    array_sort(array_intersect(
      array_distinct(tokens(textCol)), typedLit(keywords.map(_.toLowerCase))))

  /** Phrase (substring) matches of `phrases` in the lowercased text, in
    * lexicon order — catches multi-word and intra-word patterns the
    * token-level [[matchedKeywords]] cannot.
    */
  def matchedPhrases(textCol: Column, phrases: Seq[String]): Column =
    filter(typedLit(phrases.map(_.toLowerCase)), p => contains(lower(textCol), p))

  /** Overlapping fixed-width character chunks (context-window splitting for
    * LLM corpora): chunk k covers `[k·(size−overlap), … + size)`. Pure HOF
    * expression — narrow, codegen'd, rows expand in place when exploded.
    */
  def chunkWindows(c: Column, size: Int, overlap: Int): Column = {
    require(size > 0 && overlap >= 0 && overlap < size, s"bad chunking ($size, $overlap)")
    val step = size - overlap
    when(c.isNull, lit(null))
      .when(length(c) === 0, array())
      .otherwise(transform(
        sequence(lit(0L), ((length(c) - 1) / step).cast("long")),
        k => substring(c, (k * step + 1).cast("int"), lit(size))))
  }

  /** Gopher-style repetition signal #1 (public rule set from the Gopher
    * paper's quality filters): fraction of non-blank lines that duplicate an
    * earlier line. Pure per-document Column algebra — shuffle-free, scans
    * once at any corpus size.
    */
  def duplicateLineFraction(c: Column): Column = {
    val lines = filter(split(c, "\n"), l => length(trim(l)) > 0)
    when(c.isNull || size(lines) === 0, lit(0.0))
      .otherwise(lit(1.0) - size(array_distinct(lines)).cast("double") / size(lines))
  }

  /** Gopher-style repetition signal #2: occurrences of the most frequent
    * word n-gram over total n-grams. Computed per document without
    * exploding: one hash-count pass per doc inside whole-stage codegen
    * ([[graft.functions.TopFreqFraction]]). Takes the PRE-STAGED gram
    * array — stage [[shingles]] in its own projection first (nested-HOF
    * re-eval trap).
    */
  def topNgramFraction(grams: Column): Column =
    when(grams.isNull, lit(0.0))
      .otherwise(graft.functions.TopFreqFraction.top_freq_fraction(grams))

  /** The HOF spelling of [[topNgramFraction]] — a sorted linear fold
    * tracking the longest equal-run. Kept as the independent differential
    * reference for the native expression (the lambda evaluates interpreted
    * per element, ~100 µs/gram — correct, but the fast path is
    * [[graft.functions.TopFreqFraction]]'s one hash-count pass in codegen).
    * Takes the PRE-STAGED gram array — stage [[shingles]] in its own
    * projection first (nested-HOF re-eval trap).
    */
  def topNgramFractionStaged(grams: Column): Column = {
    val zero = struct(
      lit(null).cast("string").as("prev"),
      lit(0L).as("run"), lit(0L).as("best"))
    val folded = aggregate(
      array_sort(grams), zero,
      (acc, g) => {
        val run = when(g <=> acc.getField("prev"), acc.getField("run") + 1L).otherwise(1L)
        struct(g.as("prev"), run.as("run"),
          greatest(acc.getField("best"), run).as("best"))
      },
      acc => acc.getField("best"))
    when(grams.isNull || size(grams) === 0, lit(0.0))
      .otherwise(folded.cast("double") / size(grams))
  }

  /** PII redaction (training-data scrubbing): emails, then IPv4 addresses,
    * then phone-like digit runs (the Dolma/C4 scrub set) — patterns chosen
    * to mean the same thing in Java and RE2 regex dialects so the scrub is
    * engine-portable. Order matters: email first (it may contain digits and
    * dots), IP before phone (dots break the phone charclass so an IP can
    * never match as a phone, but scrubbing IPs first keeps octets out of
    * any future phone-pattern widening).
    */
  def scrubPii(c: Column): Column = {
    val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val ip = "\\b(?:[0-9]{1,3}\\.){3}[0-9]{1,3}\\b"
    val phone = "\\+?[0-9][0-9()\\- ]{6,}[0-9]"
    regexp_replace(
      regexp_replace(regexp_replace(c, email, "[EMAIL]"), ip, "[IP]"),
      phone, "[PHONE]")
  }
}
