package graft

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** The bench's self-healing spread rule (VERDICT r4 #7): a >3× divergence
  * between a query's two timed runs means one hit a degraded window and one
  * extra run is scheduled; failures and healthy spreads never retry. The
  * record and summary lines are checked with a real JSON parser.
  */
class BenchSpec extends AnyFunSuite {

  private val mapper = new ObjectMapper()
  private def parse(line: String): JsonNode = mapper.readTree(line)
  private def times(node: JsonNode): Map[String, Double] =
    node.properties().asScala.map(e => e.getKey -> e.getValue.asDouble).toMap

  test("needsHealing fires only on >3x spread between two valid runs") {
    assert(Bench.needsHealing(10.69, 1.98)) // r4's actual q144 run pair
    assert(Bench.needsHealing(1.98, 10.69)) // order-independent
    assert(Bench.needsHealing(2.20, 6.64)) // r4's q168 pair: 3.02x, just over
    assert(!Bench.needsHealing(1.0, 2.9))
    assert(!Bench.needsHealing(1.0, 3.0)) // boundary: exactly 3x is not >3x
    assert(Bench.needsHealing(1.0, 3.01))
  }

  test("failed runs (-1) never trigger healing") {
    assert(!Bench.needsHealing(-1.0, 5.0))
    assert(!Bench.needsHealing(5.0, -1.0))
    assert(!Bench.needsHealing(-1.0, -1.0))
  }

  test("sentinel rule is two-sided: deviation past 1.5x either way is degraded") {
    // r6's actual official record: sentinel 0.54 — the run STARTED degraded
    // (early queries inflated, warm anchors poisoned with them) and the old
    // one-sided reading ignored it
    assert(Bench.sentinelDegraded(0.54))
    assert(Bench.sentinelDegraded(2.0)) // classic late-run degradation
    assert(!Bench.sentinelDegraded(1.0))
    assert(!Bench.sentinelDegraded(1.4))
    assert(!Bench.sentinelDegraded(1.0 / 1.4))
    // boundary: exactly 1.5x (either side) is not > 1.5x
    assert(!Bench.sentinelDegraded(1.5))
    assert(!Bench.sentinelDegraded(1.0 / 1.5))
    assert(Bench.sentinelDegraded(1.51))
    assert(Bench.sentinelDegraded(1.0 / 1.51))
    // failed sentinel legs (ratio -1) are labeled, not "degraded"
    assert(!Bench.sentinelDegraded(-1.0))
    assert(!Bench.sentinelDegraded(0.0))
  }

  test("recordLine is JSON: every query's raw runs and min round-trip, no anchor fields") {
    // q53's healed runs from the committed bench_prior.json, one failed
    // query, and a sentinel query name that needs escaping
    val raw = Seq("q53_minhash_lsh_jaccard" -> Seq(1.13, 4.33, 0.74),
      "q01_agg_pricing_summary" -> Seq(0.72, 0.75), "q99_broken" -> Seq(-1.0, -1.0))
    val warm = Seq("q53_minhash_lsh_jaccard" -> 0.9, "q01_agg_pricing_summary" -> 0.8,
      "q99_broken" -> -1.0)
    val line = Bench.recordLine(raw, warm, sentinel = 1.6, sentinelQuery = "q\"01",
      sf = "/data/sf0.1", small = Some(Seq("q01_agg_pricing_summary" -> 0.3)))
    assert(!line.contains("\n"))
    val r = parse(line)
    assert(r.get("metric").asText == "total" && r.get("unit").asText == "sec")
    assert(math.abs(r.get("value").asDouble - (0.74 + 0.72 - 1.0)) < 1e-12)
    val rawBack = r.get("queries_raw").properties().iterator().asScala
      .map(e => e.getKey -> e.getValue.elements().asScala.map(_.asDouble).toSeq).toSeq
    assert(rawBack == raw)
    assert(times(r.get("queries")) == Map("q53_minhash_lsh_jaccard" -> 0.74,
      "q01_agg_pricing_summary" -> 0.72, "q99_broken" -> -1.0))
    assert(times(r.get("queries_warm")) == warm.toMap)
    assert(r.get("healed").elements().asScala.map(_.asText).toSeq == Seq("q53_minhash_lsh_jaccard"))
    assert(r.get("noise_sentinel").asDouble == 1.6 && r.get("sentinel_degraded").asBoolean)
    assert(r.get("noise_sentinel_query").asText == "q\"01")
    assert(r.get("sf").asText == "/data/sf0.1")
    assert(r.get("r1_shared_total").asDouble == 0.72 + 0.74)
    assert(r.get("sf_small").asText == "sf0.01")
    assert(times(r.get("queries_small")) == Map("q01_agg_pricing_summary" -> 0.3))
    for (gone <- Seq("retimed", "prior_anchor", "prior_inflated", "total_vs_prior",
        "run_inflated", "rerun", "total_first_pass"))
      assert(!r.has(gone), gone)
    // no curve timed: no curve fields
    val bare = parse(Bench.recordLine(raw, warm, 1.0, "q01", "/data/sf0.1", None))
    assert(!bare.has("sf_small") && !bare.has("queries_small"))
  }

  test("summaryLine is short, complete JSON carrying the headline numbers") {
    // The driver keeps the TAIL of stdout (r8 lesson: eight consecutive
    // `parsed: null` records) — the contract is that the summary is the
    // FINAL stdout line, short enough to survive any tail-truncation, and
    // self-contained (metric/value plus the gate-relevant scalars and the
    // path to the full record).
    // per-query map included since r18 (r17 verdict item 2: PERF per_query
    // was empty because only this line survives the driver's tail capture);
    // a realistic 25-entry map must still keep the line far under the
    // observed multi-KB tail window
    val qs = (1 to 25).map(i => f"q$i%03d_some_query_name" -> (0.123456789 * i))
    val s = Bench.summaryLine(total = 21.2134, sharedTotal = 6.0912,
      sentinel = 0.93, sentinelDegraded = false,
      sf = "/data/sf0.1", see = "/work/bench_out.json",
      queries = qs)
    assert(s.length < 2048, s"summary must stay well under truncation size: ${s.length}")
    assert(!s.contains("\n"))
    val j = parse(s)
    // the driver's original read contract: metric/value/unit present
    assert(j.get("metric").asText == "total")
    assert(j.get("value").asDouble == 21.2134)
    assert(j.get("unit").asText == "sec")
    // gate-relevant scalars + the pointer to the full record
    assert(j.get("r1_shared_total").asDouble == 6.0912)
    assert(j.get("noise_sentinel").asDouble == 0.93)
    assert(!j.get("sentinel_degraded").asBoolean)
    assert(j.get("see").asText == "/work/bench_out.json")
    assert(j.get("sf").asText == "/data/sf0.1")
    assert(!j.has("prior_inflated") && !j.has("total_vs_prior") && !j.has("run_inflated"))
    // the per-query map round-trips — a reader of the last line sees
    // every query
    val parsed = times(j.get("queries"))
    assert(parsed.size == 25)
    assert(math.abs(parsed("q001_some_query_name") - 0.123456789) < 1e-12)
    // empty map stays valid JSON and parses to no queries
    val s0 = Bench.summaryLine(total = 1.0, sharedTotal = 0.5, sentinel = 1.0,
      sentinelDegraded = false, sf = "sf0.1", see = "/x.json")
    assert(s0.contains(""""queries":{}"""))
    assert(times(parse(s0).get("queries")).isEmpty)
  }

  test("summaryLine escapes quotes/backslashes/controls in env-controlled paths") {
    // sf and see come from env vars; a quote in a path must not malform the
    // one line whose entire purpose is guaranteed parseability
    val s = Bench.summaryLine(total = 1.0, sharedTotal = 0.5, sentinel = 1.0,
      sentinelDegraded = false,
      sf = "/weird\"dir\\name\t", see = "/out\"file.json")
    assert(s.contains("/weird\\\"dir\\\\name\\" + "u0009"))
    assert(s.contains("/out\\\"file.json"))
    assert(!s.contains("\t"))
    // the parser reads back the original strings
    val j = parse(s)
    assert(j.get("sf").asText == "/weird\"dir\\name\t")
    assert(j.get("see").asText == "/out\"file.json")
  }

  test("summaryLine stays parseable JSON when a numeric input is non-finite") {
    // raw interpolation of NaN/Infinity would malform the one line whose
    // contract is guaranteed parseability; jnum renders them as JSON null
    assert(Bench.jnum(1.5) == "1.5")
    assert(Bench.jnum(Double.NaN) == "null")
    assert(Bench.jnum(Double.PositiveInfinity) == "null")
    assert(Bench.jnum(Double.NegativeInfinity) == "null")
    val s = Bench.summaryLine(total = Double.NaN, sharedTotal = 6.0,
      sentinel = Double.PositiveInfinity, sentinelDegraded = true,
      sf = "sf0.1", see = "/x.json", queries = Seq("q01" -> Double.NegativeInfinity))
    assert(s.contains(""""value":null"""))
    assert(s.contains(""""noise_sentinel":null"""))
    assert(s.contains(""""r1_shared_total":6.0"""))
    assert(!s.contains("NaN") && !s.contains("Infinity"))
    val j = parse(s)
    assert(j.get("value").isNull && j.get("noise_sentinel").isNull)
    assert(j.get("queries").get("q01").isNull)
    assert(j.get("r1_shared_total").asDouble == 6.0)
  }

  test("summaryBudgetWarning: silent within the 2048-byte budget, loud past it") {
    def line(n: Int) = Bench.summaryLine(total = 1.0, sharedTotal = 0.5, sentinel = 1.0,
      sentinelDegraded = false, sf = "sf0.1", see = "/x.json",
      queries = (1 to n).map(i => f"q$i%03d_some_query_name" -> (0.123456789 * i)))
    assert(Bench.summaryBudgetWarning(line(25)).isEmpty)
    // a grown bench list: the warning names the size, the line is not cut
    val big = line(100)
    assert(big.getBytes("UTF-8").length > Bench.SummaryBudgetBytes)
    val warn = Bench.summaryBudgetWarning(big)
    assert(warn.exists(_.contains(s"${big.getBytes("UTF-8").length} bytes")), warn)
    assert(times(parse(big).get("queries")).size == 100)
  }
}
