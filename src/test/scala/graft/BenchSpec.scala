package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench's self-healing spread rule (VERDICT r4 #7): a >3× divergence
  * between a query's two timed runs means one hit a degraded window and one
  * extra run is scheduled; failures and healthy spreads never retry.
  */
class BenchSpec extends AnyFunSuite {

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

  test("warm anchor fires when the whole timed pair sits in one degraded window") {
    // r5's actual records: both timed runs mutually consistent (spread rule
    // silent) but 4-5x the out-of-window warm-up measurement
    assert(Bench.needsWarmAnchorHeal(Seq(6.39, 5.71), warmTime = 1.2)) // q144
    assert(Bench.needsWarmAnchorHeal(Seq(4.77, 5.73), warmTime = 1.3)) // q168
    // healthy pair near its warm-up time: no retry
    assert(!Bench.needsWarmAnchorHeal(Seq(1.31, 1.25), warmTime = 1.2))
    // boundary: exactly 2x warm is not > 2x
    assert(!Bench.needsWarmAnchorHeal(Seq(2.4, 3.0), warmTime = 1.2))
    assert(Bench.needsWarmAnchorHeal(Seq(2.401, 3.0), warmTime = 1.2))
  }

  test("warm anchor judges the BEST timed run, never the worst") {
    // one clean run among the pair means the estimator (min) is already
    // sound — no retry even if the other run was 10x
    assert(!Bench.needsWarmAnchorHeal(Seq(1.3, 12.0), warmTime = 1.2))
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

  test("repair gating: only a front-degraded run earns end-of-run re-times") {
    // start degraded (r6's 0.54): the end window is healthy — repair valid
    assert(Bench.frontDegraded(0.54))
    // end degraded: re-times would sample the degraded window — no repair,
    // the early mins already measured the healthy side
    assert(!Bench.frontDegraded(2.0))
    assert(!Bench.frontDegraded(1.0))
    // boundary mirrors sentinelDegraded's 1.5x
    assert(!Bench.frontDegraded(1.0 / 1.5))
    assert(Bench.frontDegraded(1.0 / 1.51))
    // failed sentinel legs never trigger
    assert(!Bench.frontDegraded(-1.0))
    assert(!Bench.frontDegraded(0.0))
  }

  test("whole-run self-heal: rerun fires on run_inflated, merges by append, min wins (r16 lesson)") {
    // decision: the rerun is gated by the same runInflated(totalVsPrior)
    // label that three rounds of official records shipped true — >1.2x the
    // matched prior total after per-query repairs
    val prior = Map("a" -> 1.0, "b" -> 1.0)
    val uniform = Seq("a" -> 1.3, "b" -> 1.3) // uniform 1.3x: per-query 1.5x bar silent
    assert(Bench.runInflated(Bench.totalVsPrior(uniform, prior)))
    assert(!Bench.runInflated(Bench.totalVsPrior(Seq("a" -> 1.1, "b" -> 1.1), prior)))
    // merge law: second-pass runs APPEND per query (raw evidence never
    // rewritten), queries without a rerun entry pass through untouched
    val first = Seq("a" -> Seq(1.3, 1.25), "b" -> Seq(1.3, 1.35))
    val merged = Bench.mergeRerun(first, Map("a" -> Seq(0.9, 1.0)))
    assert(merged == Seq("a" -> Seq(1.3, 1.25, 0.9, 1.0), "b" -> Seq(1.3, 1.35)))
    // min across both passes: the merged record is at least as good as
    // either pass, and a regression slow in BOTH windows stays visible
    val best = merged.map { case (n, rs) => n -> rs.filter(_ >= 0).min }
    assert(best == Seq("a" -> 0.9, "b" -> 1.3))
  }

  test("parsePriorQueries reads the bench's own one-line record format") {
    val line = """{"metric":"total","value":22.08,"unit":"sec","runs":2,""" +
      """"healed":[],"queries":{"q01_agg_pricing_summary":0.2782,""" +
      """"q184_pagerank":3.65,"q64_asof_join":0.8433},""" +
      """"queries_raw":{"q01_agg_pricing_summary":[0.3,0.2782]},"sf":"/x"}"""
    val m = Bench.parsePriorQueries(line)
    assert(m == Map("q01_agg_pricing_summary" -> 0.2782,
      "q184_pagerank" -> 3.65, "q64_asof_join" -> 0.8433))
  }

  test("parsePriorQueries degrades to empty on malformed or foreign input") {
    assert(Bench.parsePriorQueries("").isEmpty)
    assert(Bench.parsePriorQueries("not json at all").isEmpty)
    assert(Bench.parsePriorQueries("""{"metric":"total","value":1.0}""").isEmpty)
    // a queries object with junk values keeps the parseable pairs only
    assert(Bench.parsePriorQueries("""{"queries":{"a":1.5,"b":oops}}""") ==
      Map("a" -> 1.5))
  }

  test("retimeCandidates picks >1.5x-inflated queries, worst first, capped") {
    val prior = Map("a" -> 1.0, "b" -> 1.0, "c" -> 1.0, "d" -> 1.0)
    val now = Seq("a" -> 3.0, "b" -> 1.4, "c" -> 2.0, "d" -> 5.0)
    assert(Bench.retimeCandidates(now, prior) == Seq("d", "a", "c"))
    assert(Bench.retimeCandidates(now, prior, cap = 2) == Seq("d", "a"))
    // boundary: exactly 1.5x the prior is not inflated
    assert(Bench.retimeCandidates(Seq("a" -> 1.5), prior).isEmpty)
    assert(Bench.retimeCandidates(Seq("a" -> 1.501), prior) == Seq("a"))
  }

  test("retimeSet re-times >2x-prior queries regardless of sentinel state (r12 q175 lesson)") {
    val prior = Map("a" -> 1.0, "b" -> 1.0, "c" -> 1.0, "d" -> 1.0)
    // the r12 failure shape: sentinel IN-BAND (0.72 — not front-degraded),
    // yet one query sits at 4x the committed healthy anchor. The hard rule
    // must fire on the prior alone.
    val now = Seq("a" -> 4.0, "b" -> 1.2, "c" -> 1.8, "d" -> 1.0)
    assert(Bench.retimeSet(now, prior, sentinel = 0.72) == Seq("a"))
    // sentinel fully healthy — hard rule still fires
    assert(Bench.retimeSet(now, prior, sentinel = 1.0) == Seq("a"))
    // end-of-run degradation (>>1, no front repair) — hard rule still fires
    assert(Bench.retimeSet(now, prior, sentinel = 3.0) == Seq("a"))
    // front-degraded sentinel: union of the 1.5x front list and the 2x hard
    // list, worst-first, deduplicated ("a" appears in both, listed once)
    assert(Bench.retimeSet(now, prior, sentinel = 0.5) == Seq("a", "c"))
    // boundary: exactly 2x the prior does not trip the hard rule
    assert(Bench.retimeSet(Seq("a" -> 2.0), prior, sentinel = 1.0).isEmpty)
    assert(Bench.retimeSet(Seq("a" -> 2.001), prior, sentinel = 1.0) == Seq("a"))
    // healthy run, healthy sentinel: no re-times at all
    assert(Bench.retimeSet(Seq("a" -> 1.1, "b" -> 0.9), prior, sentinel = 1.0).isEmpty)
    // no anchor → the hard rule is mute (never a false re-time)
    assert(Bench.retimeSet(now, Map.empty, sentinel = 1.0).isEmpty)
  }

  test("retimeSet: combined front+hard list is capped once (r13 ADVICE)") {
    // 12 queries, all 3x their prior: front list (sentinel degraded) and
    // hard list each see all 12; the union must still honor the single cap.
    val prior = (1 to 12).map(i => f"q$i%02d" -> 1.0).toMap
    val now = (1 to 12).map(i => f"q$i%02d" -> 3.0)
    assert(Bench.retimeSet(now, prior, sentinel = 0.5).size == 8)
    assert(Bench.retimeSet(now, prior, sentinel = 0.5, cap = 3).size == 3)
  }

  test("sf1.0 anchor: committed SF-keyed record parses and arms the hard rule (r13 item 3)") {
    assert(Bench.sfKeyedAnchorName("/tmp/sf1.0") == "bench_prior_sf1.0.json")
    assert(Bench.sfKeyedAnchorName("/root/testdata/sf0.1") == "bench_prior_sf0.1.json")
    val p = java.nio.file.Paths.get("bench_prior_sf1.0.json")
    assume(java.nio.file.Files.isRegularFile(p), "sf1.0 anchor not committed in this checkout")
    val txt = java.nio.file.Files.readString(p)
    // the anchor must carry the sf1.0 data dir (SF guard accepts it at the
    // scale point) and a non-empty per-query map (the hard rule has teeth)
    assert(Bench.parsePriorSf(txt).contains("/tmp/sf1.0"))
    val qs = Bench.parsePriorQueries(txt)
    assert(qs.size >= 20, s"sf1.0 anchor carries only ${qs.size} query times")
    assert(qs.values.forall(t => t > 0 && t < 120), "anchor times must be sane seconds")
    // the r13-healthy heavy queries are present — the exact ones the sf1.0
    // retime rule exists to police
    assert(qs.contains("q184_pagerank") && qs.contains("q208_curation_v3"))
  }

  test("retimeSet: sub-second anchors trip the hard rule at 1.5x (r13 q99 lesson)") {
    // the q99 shape: 0.29 s anchor, 0.52 s run = 1.81x — must now re-time
    val prior = Map("q99" -> 0.29, "sub" -> 0.5, "big" -> 5.0)
    assert(Bench.retimeSet(Seq("q99" -> 0.52), prior, sentinel = 1.0) == Seq("q99"))
    // boundary: exactly 1.5x a sub-second anchor does not trip
    // (binary-exact operands: 0.5 * 1.5 == 0.75 exactly)
    assert(Bench.retimeSet(Seq("sub" -> 0.75), prior, sentinel = 1.0).isEmpty)
    assert(Bench.retimeSet(Seq("sub" -> 0.76), prior, sentinel = 1.0) == Seq("sub"))
    // >=1 s anchors keep the 2x bar: 1.8x on a 5 s query is NOT re-timed
    assert(Bench.retimeSet(Seq("big" -> 9.0), prior, sentinel = 1.0).isEmpty)
    assert(Bench.retimeSet(Seq("big" -> 10.1), prior, sentinel = 1.0) == Seq("big"))
  }

  test("parsePriorSf reads the anchor's scale factor (SF-local anchoring)") {
    assert(Bench.parsePriorSf("""{"queries":{"a":1.0},"sf":"/root/testdata/sf0.1"}""")
      .contains("/root/testdata/sf0.1"))
    assert(Bench.parsePriorSf("""{"queries":{"a":1.0}}""").isEmpty)
    assert(Bench.parsePriorSf("not json").isEmpty)
  }

  test("retimeCandidates skips failed runs, missing priors, and bad priors") {
    val prior = Map("a" -> 1.0, "z" -> -1.0, "y" -> 0.0)
    assert(Bench.retimeCandidates(Seq("a" -> -1.0), prior).isEmpty) // this run failed
    assert(Bench.retimeCandidates(Seq("new_q" -> 9.0), prior).isEmpty) // not in prior
    assert(Bench.retimeCandidates(Seq("z" -> 9.0, "y" -> 9.0), prior).isEmpty) // prior failed
    assert(Bench.retimeCandidates(Seq.empty, prior).isEmpty)
    assert(Bench.retimeCandidates(Seq("a" -> 9.0), Map.empty).isEmpty) // no anchor at all
  }

  test("priorInflatedFraction labels uniform slowdowns the sentinel cannot see") {
    val prior = Map("a" -> 1.0, "b" -> 1.0, "c" -> 1.0, "d" -> 1.0)
    // healthy box: everything near prior
    assert(Bench.priorInflatedFraction(Seq("a" -> 1.1, "b" -> 0.9), prior) == 0.0)
    // uniformly loaded box: every line >1.5x prior, sentinel would be ~1
    assert(Bench.priorInflatedFraction(Seq("a" -> 1.8, "b" -> 2.0), prior) == 1.0)
    // mixed: half inflated
    assert(Bench.priorInflatedFraction(
      Seq("a" -> 1.8, "b" -> 1.0, "c" -> 2.0, "d" -> 1.2), prior) == 0.5)
    // failed runs / missing priors are excluded from the denominator
    assert(Bench.priorInflatedFraction(Seq("a" -> -1.0, "x" -> 9.0), prior) == -1.0)
    assert(Bench.priorInflatedFraction(Seq.empty, prior) == -1.0)
    assert(Bench.priorInflatedFraction(Seq("a" -> 2.0), Map.empty) == -1.0)
    // boundary: exactly 1.5x is not inflated
    assert(Bench.priorInflatedFraction(Seq("a" -> 1.5), prior) == 0.0)
  }

  test("a degraded prior only shrinks the re-time set, never inflates it") {
    // prior itself recorded 2x-inflated times → current healthy run looks
    // FASTER than prior → ratio < 1 → no false re-time
    assert(Bench.retimeCandidates(Seq("a" -> 1.0), Map("a" -> 2.0)).isEmpty)
  }

  test("whole-run secondary sentinel: uniform drift is flagged even when per-query checks are quiet (r14 lesson)") {
    // the r14 shape: every query ~1.23x its anchor — under the 1.5x
    // per-query bar (prior_inflated = 0) and invisible to the positional
    // sentinel, yet the run total is plainly inflated
    val prior = Map("a" -> 2.0, "b" -> 4.0, "c" -> 6.0)
    val drifted = Seq("a" -> 2.46, "b" -> 4.92, "c" -> 7.38)
    val r = Bench.totalVsPrior(drifted, prior)
    assert(math.abs(r - 1.23) < 1e-9)
    assert(Bench.runInflated(r))
    assert(Bench.priorInflatedFraction(drifted, prior) == 0.0) // the blind spot
    // healthy run: ratio ~1, no flag; boundary: exactly 1.2 is not > 1.2
    assert(!Bench.runInflated(Bench.totalVsPrior(Seq("a" -> 2.0, "b" -> 4.1), prior)))
    assert(!Bench.runInflated(1.2))
    assert(Bench.runInflated(1.201))
    // matched-only: failed queries and anchor gaps drop out of both sums
    val partial = Seq("a" -> 2.0, "zz" -> 99.0, "b" -> -1.0)
    assert(Bench.totalVsPrior(partial, prior) == 1.0)
    // no anchor → -1 sentinel value, label stays quiet
    assert(Bench.totalVsPrior(drifted, Map.empty) == -1.0)
    assert(!Bench.runInflated(-1.0))
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
      sentinel = 0.93, sentinelDegraded = false, priorInflated = 0.0,
      totalVsPrior = 1.04, runInflated = false,
      sf = "/root/testdata/sf0.1", see = "/root/repo/bench_out.json",
      queries = qs)
    assert(s.length < 2048, s"summary must stay well under truncation size: ${s.length}")
    assert(!s.contains("\n"))
    assert(s.startsWith("{") && s.endsWith("}"))
    // the driver's original read contract: metric/value/unit present
    assert(s.contains(""""metric":"total""""))
    assert(s.contains(""""value":21.2134"""))
    assert(s.contains(""""unit":"sec""""))
    // gate-relevant scalars + the pointer to the full record
    assert(s.contains(""""r1_shared_total":6.0912"""))
    assert(s.contains(""""noise_sentinel":0.93"""))
    assert(s.contains(""""sentinel_degraded":false"""))
    assert(s.contains(""""prior_inflated":0.0"""))
    assert(s.contains(""""see":"/root/repo/bench_out.json""""))
    // the per-query map round-trips through the same parser the anchor
    // reader uses — the driver's PERF extraction sees every query
    val parsed = Bench.parsePriorQueries(s)
    assert(parsed.size == 25)
    assert(math.abs(parsed("q001_some_query_name") - 0.123456789) < 1e-12)
    // empty map stays valid JSON and parses to no queries
    val s0 = Bench.summaryLine(total = 1.0, sharedTotal = 0.5, sentinel = 1.0,
      sentinelDegraded = false, priorInflated = 0.0, totalVsPrior = 1.0,
      runInflated = false, sf = "sf0.1", see = "/x.json")
    assert(s0.contains(""""queries":{}"""))
    assert(Bench.parsePriorQueries(s0).isEmpty)
    // balanced braces/quotes — a cheap structural-JSON check without a parser
    assert(s.count(_ == '{') == s.count(_ == '}'))
    assert(s.count(_ == '"') % 2 == 0)
  }

  test("summaryLine escapes quotes/backslashes/controls in env-controlled paths") {
    // sf and see come from env vars; a quote in a path must not malform the
    // one line whose entire purpose is guaranteed parseability
    val s = Bench.summaryLine(total = 1.0, sharedTotal = 0.5, sentinel = 1.0,
      sentinelDegraded = false, priorInflated = 0.0,
      totalVsPrior = 1.0, runInflated = false,
      sf = "/weird\"dir\\name\t", see = "/out\"file.json")
    assert(s.contains("/weird\\\"dir\\\\name\\" + "u0009"))
    assert(s.contains("/out\\\"file.json"))
    // after dropping the escape pairs, quote count stays balanced (every
    // interior quote was escaped) and no raw control char survives
    val unescaped = s.replace("\\\\", "").replace("\\\"", "")
    assert(unescaped.count(_ == '"') % 2 == 0)
    assert(!s.contains("\t"))
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
      priorInflated = 0.0, totalVsPrior = Double.NaN, runInflated = false,
      sf = "sf0.1", see = "/x.json")
    assert(s.contains(""""value":null"""))
    assert(s.contains(""""noise_sentinel":null"""))
    assert(s.contains(""""r1_shared_total":6.0"""))
    assert(!s.contains("NaN") && !s.contains("Infinity"))
    assert(s.count(_ == '{') == s.count(_ == '}') && s.count(_ == '"') % 2 == 0)
  }

  test("summaryBudgetWarning: silent within the 2048-byte budget, loud past it") {
    def line(n: Int) = Bench.summaryLine(total = 1.0, sharedTotal = 0.5, sentinel = 1.0,
      sentinelDegraded = false, priorInflated = 0.0, totalVsPrior = 1.0,
      runInflated = false, sf = "sf0.1", see = "/x.json",
      queries = (1 to n).map(i => f"q$i%03d_some_query_name" -> (0.123456789 * i)))
    assert(Bench.summaryBudgetWarning(line(25)).isEmpty)
    // a grown bench list: the warning names the size, the line is not cut
    val big = line(100)
    assert(big.getBytes("UTF-8").length > Bench.SummaryBudgetBytes)
    val warn = Bench.summaryBudgetWarning(big)
    assert(warn.exists(_.contains(s"${big.getBytes("UTF-8").length} bytes")), warn)
    assert(Bench.parsePriorQueries(big).size == 100)
  }

  test("warm anchor: degraded or failed warm-up never false-triggers") {
    // inflated warm-up only RAISES the anchor
    assert(!Bench.needsWarmAnchorHeal(Seq(5.0, 5.2), warmTime = 4.0))
    // failed warm-up (-1) or failed timed runs disable the rule
    assert(!Bench.needsWarmAnchorHeal(Seq(5.0, 5.2), warmTime = -1.0))
    assert(!Bench.needsWarmAnchorHeal(Seq(-1.0, -1.0), warmTime = 1.0))
    assert(!Bench.needsWarmAnchorHeal(Seq.empty, warmTime = 1.0))
    // a failed run in the pair is ignored, not treated as slow
    assert(!Bench.needsWarmAnchorHeal(Seq(-1.0, 1.3), warmTime = 1.2))
  }
}
