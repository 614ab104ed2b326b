package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import TextAnalysis.{hash60, shingles}

/** Deduplication operators for training-data pipelines (parity-plus,
  * SURVEY.md §7 M5b): exact, MinHash+LSH, SimHash, n-gram Jaccard,
  * embedding-cosine. All hash math is the engine-portable 60-bit md5 basis
  * ([[TextAnalysis.hash60]]) so every stage is oracle-verifiable.
  *
  * Scale shape: exact dedup is one hash shuffle on the digest (not the
  * document); MinHash/LSH turns the O(N²) pair space into per-band bucket
  * joins (shuffle keys = (band, bandHash), so only colliding candidates
  * meet); SimHash buckets by prefix. Nothing materializes pairs except
  * within buckets.
  */
object Dedup {

  /** Exact dedup on a normalized digest: keep the smallest `idCol` per
    * digest group. One shuffle on the 60-bit digest; the full text never
    * moves (hash-groupBy pattern).
    */
  def exactDedup(df: DataFrame, textCol: Column, idCol: Column): DataFrame = {
    val digest = TextAnalysis.fingerprint(textCol)
    df.withColumn("__digest__", digest)
      .groupBy(col("__digest__"))
      .agg(min(idCol).as("keep_id"), count(lit(1)).as("dups"))
  }

  /** Surviving-rows form of [[exactDedup]]: keep exactly the min-id row per
    * digest group (semi-join back on the keeper ids — the id set shuffles,
    * never the documents).
    */
  def exactDedupRows(df: DataFrame, textCol: Column, idCol: Column): DataFrame = {
    val keepers = exactDedup(df, textCol, idCol).select(col("keep_id"))
    df.join(keepers, idCol === col("keep_id"), "left_semi")
  }

  /** Join-safe content digest: [[TextAnalysis.fingerprint]] with null text
    * mapped to the -1 sentinel (hash60 is 60-bit nonnegative — no
    * collision). Digest-keyed JOINS (state anti-joins, member chains) must
    * use this form: a raw null digest never matches in SQL join semantics,
    * silently unlinking null-text duplicates. GroupBy-shaped paths
    * ([[exactDedup]]) keep the raw null digest — grouping already treats
    * nulls as one group, and the oracle pins that shape.
    */
  def joinDigest(textCol: Column): Column =
    coalesce(TextAnalysis.fingerprint(textCol), lit(-1L))

  /** Distinct content digests of a corpus — the state to persist between
    * pipeline runs for [[exactDedupIncremental]] (8 bytes per distinct doc,
    * parquet-friendly). Null text stores the [[joinDigest]] sentinel so the
    * incremental anti-join can actually match it.
    */
  def contentDigests(df: DataFrame, textCol: Column): DataFrame =
    df.select(joinDigest(textCol).as("digest")).distinct()

  /** Incremental exact dedup — the snapshot-over-snapshot shape of a real
    * crawl pipeline: keep rows of `newDf` whose content digest is (a) absent
    * from `existingDigests` (a one-column frame from [[contentDigests]],
    * e.g. the previous snapshots' state) and (b) the min-id row within the
    * new batch. Two digest-keyed shuffles (anti-join + groupBy) over 8-byte
    * digests plus one id semi-join — the documents themselves never shuffle.
    */
  def exactDedupIncremental(newDf: DataFrame, textCol: Column, idCol: Column,
      existingDigests: DataFrame): DataFrame = {
    val seen = existingDigests.select(
      col(existingDigests.columns.head).as("__digest__"))
    val keepers = newDf
      .select(idCol.as("__id__"), joinDigest(textCol).as("__digest__"))
      .join(seen, Seq("__digest__"), "left_anti")
      .groupBy(col("__digest__"))
      .agg(min(col("__id__")).as("keep_id"))
      .select(col("keep_id"))
    newDf.join(keepers, idCol === col("keep_id"), "left_semi")
  }

  /** MinHash signature: H independent hash functions simulated by salting
    * the shingle hash with the function index — `min_j over shingles of
    * hash60(j || ':' || shingle)`. Pure expression, one pass per row.
    */
  def minhashSignature(textCol: Column, k: Int, numHashes: Int): Column =
    minhashFromShingles(shingles(textCol, k), numHashes)

  /** Signature from a precomputed shingles column. Evaluated by the native
    * [[graft.functions.MinHashSignature]] codegen Expression, which reads
    * its input once (one pass, every hash function per shingle), so the
    * shingles need no staging projection of their own;
    * [[minhashFromShinglesReference]] keeps the built-in spelling for the
    * differential spec.
    */
  def minhashFromShingles(shinglesCol: Column, numHashes: Int): Column =
    graft.functions.MinHashSignature.minhash_signature(shinglesCol, numHashes)

  /** The built-in spelling of [[minhashFromShingles]] — one interpreted
    * `transform` per hash function; pinned element-identical to the native
    * kernel by CurateKernelsSpec.
    */
  def minhashFromShinglesReference(shinglesCol: Column, numHashes: Int): Column = {
    val sigs = (0 until numHashes).map { j =>
      array_min(transform(shinglesCol, s => hash60(concat(lit(s"$j:"), s))))
    }
    array(sigs: _*)
  }

  /** LSH parameter advisor: choose `bands` for a signature of `numHashes`
    * so the banding S-curve threshold `(1/b)^(1/r)` (the Jaccard value with
    * ~50% candidate probability, r = numHashes/b) lands closest to the
    * target similarity. Candidates are the divisors of `numHashes` (bands
    * must tile the signature). Returns (bands, rowsPerBand, curveMidpoint).
    * Pure driver math — the standard MMDS recipe, so callers stop
    * hand-tuning (b, r) per corpus.
    */
  def lshPlan(threshold: Double, numHashes: Int): (Int, Int, Double) = {
    require(threshold > 0 && threshold < 1, s"threshold must be in (0,1): $threshold")
    require(numHashes >= 2, s"need at least 2 hashes: $numHashes")
    val candidates = (1 to numHashes).filter(numHashes % _ == 0)
    val best = candidates.minBy { b =>
      val r = numHashes / b
      math.abs(math.pow(1.0 / b, 1.0 / r) - threshold)
    }
    val r = numHashes / best
    (best, r, math.pow(1.0 / best, 1.0 / r))
  }

  /** LSH banding: split the signature into `bands` rows of
    * `numHashes/bands`, hash each band — docs sharing any band bucket are
    * candidate near-dups. Returns (bandId, bandHash) rows via posexplode;
    * join candidates on both.
    */
  def lshBands(sigCol: Column, numHashes: Int, bands: Int): Column = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rowsPer = numHashes / bands
    transform(
      sequence(lit(0), lit(bands - 1)),
      b => struct(
        b.as("band"),
        hash60(concat_ws(",", slice(sigCol, b * rowsPer + 1, lit(rowsPer)))).as("band_hash")))
  }

  /** Candidate near-dup pairs via MinHash LSH: explode bands, self-join on
    * (band, band_hash), dedupe pairs. At scale the join shuffles only
    * bucket keys; bucket skew is bounded by band width — EXCEPT on
    * pathological corpora (thousands of byte-identical documents land every
    * band in one bucket, and the within-bucket self-join is quadratic).
    * Two guards, composable:
    *   - `exactPrepass`: collapse byte-identical texts to one representative
    *     per content digest BEFORE the LSH (one linear digest groupBy; the
    *     text itself never shuffles — only (id, digest) pairs and the
    *     semi-join keeper ids move). Exact-duplicate groups re-enter the
    *     output as LINEAR (representative, member) chains — enough for
    *     connected components to merge the cluster without the m² pair
    *     blowup. With the prepass on, the LSH sees at most one doc per
    *     distinct content, so duplicate mass can never flood a bucket.
    *   - `maxBucketSize`: buckets above the cap are dropped with a logged
    *     count before the pair join, bounding work to `buckets × cap²`
    *     pairs. With `exactPrepass` the cap only ever fires on genuinely
    *     adversarial NEAR-dup mass (e.g. one template with per-doc noise).
    * Both off by default; [[verifiedNearDupPairs]] and the oracle queries
    * replay the uncapped join without a prepass.
    *
    * Lifecycle: the banded-signature (and prepass digest) frames are
    * persisted only for the duration of the call — the candidate id pairs
    * (two longs per row, orders of magnitude smaller than the corpus) are
    * eagerly cut through [[Snapshots.cut]] and every input cache is
    * released before returning, so repeated calls on a long-lived session
    * cannot leak BlockManager memory.
    */
  def minhashCandidates(df: DataFrame, textCol: Column, idCol: Column,
      k: Int = 3, numHashes: Int = 8, bands: Int = 4,
      maxBucketSize: Option[Long] = None,
      exactPrepass: Boolean = false): DataFrame = {
    val docs = df.select(idCol.as("id"), textCol.as("__text__"))
    val (plan, release) =
      if (!exactPrepass) lshPairPlan(docs, k, numHashes, bands, maxBucketSize)
      else {
        // joinDigest, not raw fingerprint: a null __digest__ would silently
        // fall out of the member-chain equi-join below — every null-text doc
        // except the rep would then SURVIVE dedup, making the prepass flag
        // (documented as a pure performance guard) change results. Null-text
        // docs are mutual exact duplicates here, exactly as the non-prepass
        // path treats them (identical all-null signatures).
        val digests = docs
          .select(col("id"), joinDigest(col("__text__")).as("__digest__"))
          .persist()
        // rep = min id per digest; groups frame is (digest, rep_id) only
        val groups = digests.groupBy(col("__digest__"))
          .agg(min(col("id")).as("rep_id"))
          .persist()
        val reps = docs.join(groups.select(col("rep_id")),
          docs("id") === col("rep_id"), "left_semi")
        val (repPairs, release) = lshPairPlan(reps, k, numHashes, bands, maxBucketSize)
        // rep_id is the group minimum, so (rep_id, id) is already (lo, hi)
        val memberPairs = digests.join(groups, "__digest__")
          .filter(col("id") =!= col("rep_id"))
          .select(col("rep_id").as("id_a"), col("id").as("id_b"))
        (repPairs.unionByName(memberPairs), release ++ Seq(digests, groups))
      }
    Snapshots.cut(plan.distinct(), release = release)
  }

  /** Banded LSH signatures `(id, band, band_hash)` — the persistable
    * near-dup STATE for incremental pipelines: write this frame to parquet
    * after each run and feed it to [[minhashCandidatesAgainst]] on the next
    * snapshot (8+4+8 bytes per band-row; the text never leaves the run that
    * signed it).
    */
  def minhashBands(df: DataFrame, textCol: Column, idCol: Column,
      k: Int = 3, numHashes: Int = 8, bands: Int = 4): DataFrame =
    bandedSignatures(df.select(idCol.as("id"), textCol.as("__text__")), k, numHashes, bands)

  /** Cross-snapshot near-dup candidates: NEW docs against an EXISTING
    * banded-signature state (from [[minhashBands]]) — the incremental form
    * of [[minhashCandidates]]. Only the new batch is tokenized and signed;
    * the join shuffles band keys, never text, and there is no self-join —
    * fully lazy, nothing persisted. Returns distinct (new_id, old_id).
    */
  def minhashCandidatesAgainst(newDf: DataFrame, textCol: Column, idCol: Column,
      stateBands: DataFrame, k: Int = 3, numHashes: Int = 8, bands: Int = 4): DataFrame = {
    val newBands = bandedSignatures(
      newDf.select(idCol.as("id"), textCol.as("__text__")), k, numHashes, bands)
    val old = stateBands.select(
      col(stateBands.columns.head).as("old_id"), col("band"), col("band_hash"))
    newBands.join(old, Seq("band", "band_hash"))
      .filter(col("id") =!= col("old_id"))
      .select(col("id").as("new_id"), col("old_id"))
      .distinct()
  }

  private def bandedSignatures(docs: DataFrame, k: Int, numHashes: Int,
      bands: Int): DataFrame =
    docs
      .select(col("id"), minhashSignature(col("__text__"), k, numHashes).as("__sig__"))
      .select(col("id"), explode(lshBands(col("__sig__"), numHashes, bands)).as("b"))
      .select(col("id"), col("b.band").as("band"), col("b.band_hash").as("band_hash"))

  /** Lazy candidate-pair plan over `(id, __text__)` docs plus the frames the
    * caller must unpersist once the plan has been materialized. A pair
    * repeats once per band its two documents share: [[minhashCandidates]]
    * dedupes in its `distinct`, [[verifiedNearDupPairs]] in the verify
    * stage's pair-keyed aggregate.
    */
  private def lshPairPlan(docs: DataFrame, k: Int, numHashes: Int, bands: Int,
      maxBucketSize: Option[Long]): (DataFrame, Seq[DataFrame]) = {
    // persist the banded signatures: the candidate self-join reads this
    // frame on both sides, and uncached each side would recompute the whole
    // tokenize→shingle→minhash pipeline (measured ~2× on the q91 profile).
    // The cached rows are (id, band, band_hash) — three scalars.
    val withBands = bandedSignatures(docs, k, numHashes, bands).persist()
    val (pruned, scratch) = maxBucketSize match {
      case None => (withBands, Seq.empty[DataFrame])
      case Some(cap) =>
        val (kept, hot) = dropHotBuckets(withBands, cap, "minhashCandidates")
        (kept, Seq(hot))
    }
    val l = pruned.as("l")
    val r = pruned.as("r")
    val pairs = l.join(r,
      col("l.band") === col("r.band") && col("l.band_hash") === col("r.band_hash") &&
        col("l.id") < col("r.id"))
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"))
    (pairs, withBands +: scratch)
  }

  /** Drop LSH buckets over `cap` docs, logging their count under `op`.
    * Returns the kept band rows and the persisted hot-bucket frame to release.
    */
  private def dropHotBuckets(withBands: DataFrame, cap: Long,
      op: String): (DataFrame, DataFrame) = {
    val hot = withBands.groupBy(col("band"), col("band_hash"))
      .agg(count(lit(1)).as("__bsz__"))
      .filter(col("__bsz__") > cap)
      .persist()
    val nHot = hot.count()
    if (nHot > 0)
      org.apache.log4j.Logger.getLogger(getClass)
        .warn(s"$op: dropping $nHot LSH bucket(s) over cap=$cap " +
          "(pathological duplicate mass — run exactDedup first)")
    (withBands.join(hot.select(col("band"), col("band_hash")),
      Seq("band", "band_hash"), "left_anti"), hot)
  }

  /** Verify candidate `(id_a, id_b)` pairs by exact shingle Jaccard ≥
    * `threshold`, returning distinct (id_a, id_b, jac) with jac rounded to 4
    * (the oracle-portable quantum). `cands` may repeat a pair. The pair list
    * is first grouped by member document — one row per document in some
    * candidate pair, carrying the set of that document's pairs, which also
    * dedupes them — and joined to `(id, text)`, so the distinct shingles
    * are derived once per candidate document: never for the rest of the
    * corpus, and never once per pair (in a clique-shaped pair list a
    * replica cluster of m docs gives m(m−1)/2 pairs, yet each doc is
    * shingled once). Only then are the pairs exploded, and a pair-keyed
    * aggregate puts each pair's two arrays on one row. The grouped pair list
    * carries ids only, so the join never needs the corpus's text or
    * shingles on its small side.
    */
  private def verifyPairs(cands: DataFrame, df: DataFrame, textCol: Column, idCol: Column,
      k: Int, threshold: Double): DataFrame = {
    def member(id: String, isA: Boolean) =
      struct(col(id).as("doc_id"), col("id_a"), col("id_b"), lit(isA).as("is_a"))
    val pairsByDoc = cands
      .select(explode(array(member("id_a", isA = true), member("id_b", isA = false))).as("m"))
      .groupBy(col("m.doc_id").as("doc_id"))
      .agg(collect_set(struct(col("m.id_a"), col("m.id_b"), col("m.is_a"))).as("pairs"))
    df.select(idCol.as("doc_id"), textCol.as("text"))
      .join(pairsByDoc, "doc_id")
      .select(array_distinct(shingles(col("text"), k)).as("sh"), col("pairs"))
      .select(col("sh"), explode(col("pairs")).as("p"))
      .groupBy(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"))
      .agg(first(when(col("p.is_a"), col("sh")), ignoreNulls = true).as("sh_a"),
        first(when(!col("p.is_a"), col("sh")), ignoreNulls = true).as("sh_b"))
      .withColumn("jac", round(jaccardShingles(col("sh_a"), col("sh_b")), 4))
      .filter(col("jac") >= threshold)
      .select(col("id_a"), col("id_b"), col("jac"))
  }

  /** Full near-dup pipeline: LSH candidate pairs verified by exact n-gram
    * Jaccard ≥ `threshold` ([[verifyPairs]]). Returns (id_a, id_b, jac) with
    * jac rounded to 4. Verified pairs are eagerly materialized, so callers
    * still get a small lineage-free pair frame.
    *
    * Lineage determinism: the verify stage reads `df` a second time, after
    * the candidate stage — as with [[Graph.pageRank]]'s edge contract, a
    * nondeterministic input lineage (e.g. `limit()` on unordered data)
    * yields undefined pairs; checkpoint or stage such inputs first.
    */
  def verifiedNearDupPairs(df: DataFrame, textCol: Column, idCol: Column,
      k: Int = 3, numHashes: Int = 8, bands: Int = 4,
      threshold: Double = 0.5): DataFrame = {
    val (cands, release) = lshPairPlan(
      df.select(idCol.as("id"), textCol.as("__text__")), k, numHashes, bands, None)
    Snapshots.cut(verifyPairs(cands, df, textCol, idCol, k, threshold), release = release)
  }

  /** Star-reduced verified near-dup EDGES for component building — the
    * collapse-scale companion to [[verifiedNearDupPairs]]. Within every LSH
    * bucket only (hub = min id) → member candidate edges are emitted and
    * Jaccard-verified: m−1 edges per bucket instead of the clique's
    * m(m−1)/2 pairs, so a replica cluster of ANY size costs LINEAR verify
    * traffic (the clique is quadratic in cluster size — a 10×-replicated
    * corpus pays 45 shingle-array joins per cluster where the star pays 9).
    * Buckets above `maxBucketSize` are dropped with a logged count before
    * any pair forms (the [[lshPairPlan]] cap, mandatory here: a token run
    * shared by a large corpus fraction — boilerplate — otherwise floods one
    * bucket and the hub fan-out alone becomes the corpus). Connectivity
    * through the hub is exactly what connected components consume; the star
    * loses only the corner where two members verify against each other but
    * neither verifies against the bucket's min-id doc — for replica
    * clusters (what collapse exists for) the hub is itself a replica and
    * the corner is empty. Returns distinct verified (id_a, id_b) with
    * id_a < id_b, eagerly materialized, all internal caches released.
    */
  def verifiedHubEdges(df: DataFrame, textCol: Column, idCol: Column,
      k: Int = 3, numHashes: Int = 4, bands: Int = 2,
      threshold: Double = 0.5, maxBucketSize: Long = 64L): DataFrame = {
    require(maxBucketSize >= 2, s"maxBucketSize must be >= 2: $maxBucketSize")
    val docs = df.select(idCol.as("id"), textCol.as("__text__"))
    val withBands = bandedSignatures(docs, k, numHashes, bands).persist()
    val (pruned, hot) = dropHotBuckets(withBands, maxBucketSize, "verifiedHubEdges")
    // the hub is a window minimum over the bucket: no bucket-keyed join, so
    // no broadcast of the band rows
    val cands = pruned
      .withColumn("id_a", min(col("id")).over(Window.partitionBy(col("band"), col("band_hash"))))
      .filter(col("id") > col("id_a"))
      .select(col("id_a"), col("id").as("id_b"))
    // the pair frame carries only ids until the verify join, and that join
    // sees star-linear traffic; a pair repeats once per shared band, and
    // verifyPairs dedupes it
    val verified = verifyPairs(cands, df, textCol, idCol, k, threshold)
      .select(col("id_a"), col("id_b"))
    Snapshots.cut(verified, release = Seq(withBands, hot))
  }

  /** Jaccard ESTIMATE from minhash signatures: the fraction of agreeing
    * signature components — E[estimate] = true Jaccard (the MinHash
    * guarantee), s.e. ≈ √(J(1−J)/numHashes). At scale this verifies LSH
    * candidates WITHOUT re-staging shingles: signatures are 8·numHashes
    * bytes/doc vs the full shingle set, so the verify join shuffles ~100×
    * less. Use [[jaccardShingles]] when the exact value is required.
    */
  def jaccardEstimate(sigA: Column, sigB: Column): Column =
    // empty-signature guard (ANSI 0/0 throws; engine-built signatures have
    // numHashes >= 1 components, but the function accepts any array)
    when(size(sigA) > 0,
      aggregate(zip_with(sigA, sigB, (a, b) => when(a === b, 1L).otherwise(0L)),
        lit(0L), (acc, v) => acc + v).cast("double") / size(sigA).cast("double"))

  /** Exact n-gram Jaccard similarity of two texts (the verification stage
    * after LSH candidates): |A∩B| / |A∪B| over distinct shingles.
    */
  def jaccard(a: Column, b: Column, k: Int): Column =
    jaccardShingles(array_distinct(shingles(a, k)), array_distinct(shingles(b, k)))

  /** Jaccard over precomputed distinct-shingle arrays — compute the arrays
    * once per document and attach them to the pair rows, never once per
    * pair (see [[verifyPairs]]).
    */
  def jaccardShingles(sa: Column, sb: Column): Column = {
    val inter = size(array_intersect(sa, sb)).cast("double")
    val union = size(array_union(sa, sb)).cast("double")
    when(union === 0, 0.0).otherwise(inter / union)
  }

  /** Asymmetric containment |A∩B| / |A| over precomputed distinct-shingle
    * arrays — detects "document A is INSIDE document B" (wire-copy snippets,
    * quote farms), which symmetric Jaccard under-scores when the container
    * is much longer. Same staging discipline as [[jaccardShingles]]: arrays
    * once per doc, never per pair.
    */
  def containmentShingles(sa: Column, sb: Column): Column = {
    val inter = size(array_intersect(sa, sb)).cast("double")
    val na = size(sa).cast("double")
    when(na === 0, 0.0).otherwise(inter / na)
  }

  /** Duplicate-rate preview WITHOUT running dedup: digest per doc map-side,
    * HyperLogLog distinct — zero shuffles of text, one partial-aggregable
    * pass (the estimate you run on 100 TB before deciding the dedup budget).
    * Returns one row: (n_docs, approx_distinct, dup_rate).
    */
  def dupRateEstimate(df: DataFrame, textCol: Column): DataFrame =
    df.select(TextAnalysis.fingerprint(textCol).as("__d__"))
      .agg(count(lit(1)).as("n_docs"),
        approx_count_distinct(col("__d__")).as("approx_distinct"))
      // n_docs == 0 (empty corpus) would ANSI-throw on the ratio; the dup
      // rate of nothing is null, not a crash
      .select(col("n_docs"), col("approx_distinct"),
        when(col("n_docs") > 0,
          round(lit(1.0) - col("approx_distinct") / col("n_docs"), 4)).as("dup_rate"))

  /** Snapshot diff — incremental-pipeline observability: per-id status
    * between two corpus snapshots (`added` / `removed` / `changed` /
    * `unchanged`), where "changed" means the content [[TextAnalysis
    * .fingerprint]] digests differ. One full-outer join carrying only ids +
    * 8-byte digests; the documents themselves never shuffle.
    */
  def snapshotDiff(before: DataFrame, after: DataFrame,
      idCol: Column, textCol: Column): DataFrame = {
    // presence flags, NOT digest nullness: a null-text row carries a null
    // digest while still PRESENT in its snapshot — testing __db__.isNull
    // for "absent from before" misclassified such rows as 'added' (r14
    // adversarial replay, 33 null-text docs). The digest compare is
    // null-safe (<=>): identical null texts are 'unchanged'.
    def digests(df: DataFrame) =
      df.select(idCol.as("id"), TextAnalysis.fingerprint(textCol).as("d"))
    val b = digests(before).withColumnRenamed("d", "__db__")
      .withColumn("__inb__", lit(true))
    val a = digests(after).withColumnRenamed("d", "__da__")
      .withColumn("__ina__", lit(true))
    b.join(a, Seq("id"), "full_outer")
      .select(col("id"),
        when(col("__inb__").isNull, "added")
          .when(col("__ina__").isNull, "removed")
          .when(col("__da__") <=> col("__db__"), "unchanged")
          .otherwise("changed").as("status"))
  }

  /** SimHash over token hashes: bit k of the output is the sign of
    * `sum over tokens of (2*bit_k(hash(token)) - 1)`. Near-dups have small
    * hamming distance ([[hamming]]). `bits` ≤ 60.
    */
  def simhash(textCol: Column, bits: Int = 32): Column = {
    val hashes = transform(TextAnalysis.tokens(textCol), t => hash60(t))
    val bitCols = (0 until bits).map { b =>
      val votes = aggregate(hashes, lit(0L),
        (acc, h) => acc + (shiftright(h, b).bitwiseAND(1) * 2 - 1))
      when(votes > 0, lit(1L) * (1L << b)).otherwise(0L)
    }
    bitCols.reduce(_ + _)
  }

  /** Hamming distance between two simhashes. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b)).cast("long")

  /** Embedding-cosine near-dup pairs: brute-force within hyperplane-LSH
    * buckets (random hyperplanes derived from the portable hash so the
    * bucketing itself is deterministic and verifiable). `planes` sign bits
    * make the bucket key; exact cosine filters within buckets.
    */
  def cosineCandidates(df: DataFrame, vecCol: Column, idCol: Column,
      planes: Int, dim: Int, threshold: Double): DataFrame = {
    val bucket = Similarity.hyperplaneBucket(vecCol, planes, dim)
    // norms precomputed per vector, not per pair (see Similarity.l2norm)
    val tagged = df.select(idCol.as("id"), vecCol.cast("array<double>").as("v"),
      bucket.as("bucket"))
      .withColumn("nrm", Similarity.l2norm(col("v")))
    val l = tagged.as("l"); val r = tagged.as("r")
    l.join(r, col("l.bucket") === col("r.bucket") && col("l.id") < col("r.id"))
      .withColumn("cos", Similarity.cosineWithNorms(
        Similarity.dot(col("l.v"), col("r.v")), col("l.nrm"), col("r.nrm")))
      .filter(col("cos") >= threshold)
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"), round(col("cos"), 4).as("cos"))
  }
}
