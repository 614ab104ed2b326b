package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Skew-stress point for the band-join family (round-12 verdict item 6):
  * times the full-corpus text ops on a UNIFORM corpus vs a SKEWED one
  * (`tools/make_skew.py`: 6% byte-identical template docs + 4%
  * near-template — the duplicate-mass pathology the guards exist for) and
  * prints one JSON line with per-op uniform/skew seconds and the ratio.
  * "Uniform" means no duplicate mass, not cap-free: on the sf1.0 corpus the
  * guarded `minhash_candidates_guarded` leg (cap 64) still drops 5 buckets.
  *
  * The contract being measured: with the guards ON — `exactPrepass`
  * collapsing identical texts to one representative before the LSH, and
  * `maxBucketSize` dropping (with a logged count) the buckets the
  * near-template mass floods — the band join stays LINEAR in corpus size,
  * so the skewed run must land within ~2x of the uniform run. The cap
  * sizes each bucket with a window over `(band, band_hash)`, so a hot
  * bucket's band rows still reach one window task before they drop; what
  * the cap bounds is the pair join behind it. Without
  * them the template cluster alone contributes C(5000,2) ≈ 12.5M verify
  * pairs and the ratio explodes. The agg-based ops (global line dedup,
  * duplicate-span removal) carry duplicate mass through map-side partial
  * aggregation — no pair join exists — and ride along as the control
  * group.
  *
  * Usage (dirs from `tools/make_sf1.py` + `tools/make_skew.py`):
  *   SPARK_GRAFT_SF_DIR=/tmp/sf1.0 GRAFT_SKEW_DIR=/tmp/sf1.0skew \
  *     sbt "runMain graft.SkewBench"
  */
object SkewBench {

  def main(args: Array[String]): Unit = {
    val uniformDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/tmp/sf1.0")
    val skewDir = sys.env.getOrElse("GRAFT_SKEW_DIR", "/tmp/sf1.0skew")
    val spark = graft.core.GraftSession.local(graft.core.GraftSession.configuredCpus)

    def docs(dir: String): DataFrame =
      spark.read.parquet(s"$dir/documents.parquet").select(col("doc_id"), col("text"))

    // each op materializes via count() — the outputs are id/pair frames
    // (already eagerly cut by the ops' own checkpoint discipline), so the
    // count measures the op, not a wide result serialization
    val ops: Seq[(String, String => Long)] = Seq(
      "minhash_candidates_guarded" -> { dir: String =>
        graft.ops.Dedup.minhashCandidates(docs(dir), col("text"), col("doc_id"),
          k = 3, numHashes = 4, bands = 2,
          maxBucketSize = Some(64L), exactPrepass = true).count()
      },
      "dedup_lines_global" -> { dir: String =>
        graft.ops.TextAnalysis.dedupLinesGlobal(docs(dir), col("text"), col("doc_id")).count()
      },
      "remove_duplicate_spans" -> { dir: String =>
        graft.ops.TextAnalysis.removeDuplicateSpans(docs(dir), col("doc_id"), col("text"), k = 5)
          .count()
      })

    // a failed op aborts the run: a ratio needs both legs
    def time(f: => Long): (Double, Long) = {
      val out = QueryRunner.run(spark)(f)
      (out.secs, out.result.toTry.get)
    }

    // warm-up pass (JIT + parquet footers) then min-of-2, the Bench estimator
    for ((_, f) <- ops) { f(uniformDir); () }
    val results = ops.map { case (name, f) =>
      val (u1, _) = time(f(uniformDir)); val (u2, uRows) = time(f(uniformDir))
      val (s1, _) = time(f(skewDir)); val (s2, sRows) = time(f(skewDir))
      val u = math.min(u1, u2); val s = math.min(s1, s2)
      (name, u, s, uRows, sRows)
    }
    val line = results.map { case (n, u, s, ur, sr) =>
      val ratio = if (u > 0) s / u else -1.0
      s""""$n":{"uniform_sec":$u,"skew_sec":$s,"ratio":$ratio,"uniform_rows":$ur,"skew_rows":$sr}"""
    }.mkString(
      s"""{"metric":"skew_stress","uniform":${Bench.jstr(uniformDir)},"skew":${Bench.jstr(skewDir)},"ops":{""",
      ",", "}}")
    val outPath = sys.env.getOrElse("GRAFT_SKEW_OUT", "skew_out.json")
    java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    println(line)
    spark.stop()
  }
}
