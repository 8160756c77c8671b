package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench self-defense policy against scripted run sequences — the
  * logic exists because BENCH_r03 recorded 135 s for a query whose
  * steady cost is ~2.7 s (every run landed in a host CPU-steal burst
  * and nothing questioned the number), so it gets real tests: no
  * SparkSession, no wall clock, just the decision rules.
  */
class BenchPolicySpec extends AnyFunSuite {

  /** Scripted runner: returns the next value per call; fails the test
    * if the policy asks for more runs than scripted. */
  private def scripted(vals: Double*): () => Double = {
    val it = vals.iterator
    () => { assert(it.hasNext, "policy requested more runs than scripted"); it.next() }
  }

  test("quiet host: 3 runs, no flags, steady = hot run") {
    val m = BenchPolicy.measure(scripted(2.5, 2.0, 2.1), steadyMode = true, None)
    assert(m.value === 2.0 && m.steady === Some(2.1))
    assert(m.extraRuns === 0 && m.flags.isEmpty)
  }

  test("min2 mode with agreeing runs: exactly 2 runs, no steady") {
    val m = BenchPolicy.measure(scripted(2.0, 2.2), steadyMode = false, None)
    assert(m.value === 2.0 && m.steady === None && m.flags.isEmpty)
  }

  test("min2 mode re-runs on >30% disagreement") {
    val m = BenchPolicy.measure(scripted(2.0, 4.0, 2.1), steadyMode = false, None)
    assert(m.value === 2.0 && m.steady === None)
  }

  test("a steal burst on the steady run is re-measured and flagged, value unharmed") {
    // runs 1-2 quiet, run 3 contaminated 12x, re-measure recovers
    val m = BenchPolicy.measure(scripted(2.0, 2.0, 24.0, 2.1), steadyMode = true, None)
    assert(m.value === 2.0 && m.steady === Some(2.1))
    assert(m.extraRuns === 1 && m.flags === List("steady_remeasured"))
  }

  test("persistent steady outlier is flagged unresolved after two re-measures") {
    val m = BenchPolicy.measure(scripted(2.0, 2.0, 24.0, 30.0, 28.0), steadyMode = true, None)
    assert(m.value === 2.0)
    assert(m.extraRuns === 2)
    assert(m.flags === List("steady_remeasured", "steady_outlier_unresolved"))
    // steady reports the LEAST contaminated hot run, still visibly bad
    assert(m.steady === Some(24.0))
  }

  test("the BENCH_r03 scenario: every run contaminated, prior-round reference catches it") {
    // true steady 2.7 s (prior round); every run this session ~135 s
    val m = BenchPolicy.measure(scripted(135.2, 133.0, 134.5, 136.0),
      steadyMode = true, priorSteady = Some(2.7))
    assert(m.value === 133.0)
    assert(m.extraRuns === 1)
    assert(m.flags.contains("exceeds_prior_steady"),
      s"the 49x-contaminated number must be flagged, got ${m.flags}")
    // the disputed entry carries BOTH numbers, not just the flag
    assert(m.flagDetail === Some("best=133.000,prior_steady=2.700"),
      s"flag detail must name the re-measured best and the prior, got ${m.flagDetail}")
  }

  test("the round-5 dedup_char_ngram scenario: 3.7x-contaminated min is now flagged") {
    // committed steady 1.70 s; this session's min 6.36 s — under the
    // old 5x rule this sailed through unflagged
    val m = BenchPolicy.measure(scripted(6.36, 6.5, 6.4, 6.45),
      steadyMode = true, priorSteady = Some(1.70))
    assert(m.flags.contains("exceeds_prior_steady"),
      s"a 3.7x excess over the committed prior must be flagged, got ${m.flags}")
  }

  test("prior-reference re-measure that recovers is flagged as remeasured, not exceeded") {
    // first three runs in a burst, the defensive re-run lands quiet
    val m = BenchPolicy.measure(scripted(20.0, 21.0, 20.5, 2.6),
      steadyMode = true, priorSteady = Some(2.7))
    assert(m.value === 2.6)
    assert(m.flags.contains("prior_ref_remeasured") &&
      !m.flags.contains("exceeds_prior_steady"))
    assert(m.flagDetail === None, "a recovered entry is not disputed — no detail")
  }

  test("a query that throws is reported failed with no time, even after fast runs") {
    // two quick runs, then the third throws: the seconds measured
    // before the failure must not surface as the query's cost
    val runs = Iterator[() => Double](() => 0.4, () => 0.3,
      () => throw new IllegalStateException("boom"))
    val r = BenchPolicy.attempt(() => runs.next()(), steadyMode = true, None)
    assert(r === Left("boom"))
    assert(BenchPolicy.attempt(scripted(2.5, 2.0, 2.1), steadyMode = true, None)
      .map(_.value) === Right(2.0))
  }

  test("an honestly slower query (<2.5x prior) is NOT flagged") {
    val m = BenchPolicy.measure(scripted(5.0, 5.2, 5.1), steadyMode = true,
      priorSteady = Some(2.7))
    assert(m.extraRuns === 0 && m.flags.isEmpty)
  }

  test("flat min + contaminated steady is AUTO-adjudicated as jitter: one re-measure, " +
    "informational flag, both numbers in the detail") {
    // the round-6 shape that cost four human adjudications (all
    // resolved "jitter"): min flat vs the committed prior, every hot
    // run in a burst below the 5x within-session bar
    val m = BenchPolicy.measure(scripted(1.7, 1.75, 5.9, 5.8),
      steadyMode = true, priorSteady = Some(1.7))
    assert(m.value === 1.7)
    assert(m.extraRuns === 1, "jitter class re-measures steady ONCE")
    assert(m.flags === List("steady_jitter_auto"), s"got ${m.flags}")
    assert(m.flagDetail === Some("steady=5.800,min=1.700,prior_steady=1.700"))
    assert(m.steady === Some(5.8), "steady still reports the least contaminated hot run")
    assert(!BenchPolicy.needsAttention(m.flags),
      "auto-adjudicated jitter must not demand human attention")
  }

  test("elevated min + contaminated steady still demands human adjudication") {
    // min at 1.47x the prior (above the 1.25 flat bar, below the 2.5
    // flag bar) with a 3.5x steady: could be a real plan change whose
    // min is partially masked — keep the human flag
    val m = BenchPolicy.measure(scripted(2.5, 2.55, 5.9, 5.8, 6.0),
      steadyMode = true, priorSteady = Some(1.7))
    assert(m.value === 2.5)
    assert(m.extraRuns === 2)
    assert(m.flags === List("steady_exceeds_prior"),
      s"a steady 3.4x over the committed prior must be flagged, got ${m.flags}")
    assert(m.flagDetail === Some("steady=5.800,prior_steady=1.700"))
    assert(BenchPolicy.needsAttention(m.flags))
  }

  test("steady-vs-prior re-measure that recovers is flagged as remeasured only") {
    val m = BenchPolicy.measure(scripted(1.7, 1.75, 5.9, 1.8),
      steadyMode = true, priorSteady = Some(1.7))
    assert(m.value === 1.7 && m.steady === Some(1.8))
    assert(m.extraRuns === 1)
    assert(m.flags === List("steady_prior_remeasured"))
    assert(m.flagDetail === None)
  }

  test("degradedHost thresholds") {
    assert(!BenchPolicy.degradedHost(nQueries = 117, nFlagged = 2, extraRuns = 4))
    assert(BenchPolicy.degradedHost(nQueries = 117, nFlagged = 24, extraRuns = 0))
    assert(BenchPolicy.degradedHost(nQueries = 117, nFlagged = 0, extraRuns = 30))
    // small suites keep absolute floors
    assert(!BenchPolicy.degradedHost(nQueries = 5, nFlagged = 2, extraRuns = 4))
    assert(BenchPolicy.degradedHost(nQueries = 5, nFlagged = 3, extraRuns = 0))
  }

  test("the BENCH_r07 scenario: 42 re-measures over 213 queries trips the marker") {
    // the exact session the old two-condition form waved through as
    // false (31 < 213/5 flags, 42 < 213/4 extras): the 10% re-measure
    // tripwire alone now catches it
    assert(BenchPolicy.degradedHost(nQueries = 213, nFlagged = 31, extraRuns = 42))
  }

  test("degradedHost trips on >=5 unresolved prior-excess flags alone") {
    assert(BenchPolicy.degradedHost(nQueries = 213, nFlagged = 5, extraRuns = 5,
      nExceedsPrior = 5))
    assert(!BenchPolicy.degradedHost(nQueries = 213, nFlagged = 4, extraRuns = 5,
      nExceedsPrior = 4))
  }

  test("degradedHost trips on aggregate steady >1.5x committed alone") {
    // r7's aggregate: 419.0 s steady vs 238.5 s committed = 1.76x
    assert(BenchPolicy.degradedHost(nQueries = 213, nFlagged = 0, extraRuns = 0,
      nExceedsPrior = 0, aggSteadyRatio = Some(1.76)))
    // the documented ±15% host drift band stays quiet
    assert(!BenchPolicy.degradedHost(nQueries = 213, nFlagged = 0, extraRuns = 0,
      nExceedsPrior = 0, aggSteadyRatio = Some(1.15)))
    assert(!BenchPolicy.degradedHost(nQueries = 213, nFlagged = 0, extraRuns = 0,
      nExceedsPrior = 0, aggSteadyRatio = None))
  }

  test("aggregate tripwire needs MinAggCoverage committed entries behind it") {
    // Bench passes aggSteadyRatio=None to the verdict when fewer than
    // MinAggCoverage ref-covered queries ran (a dev subset of new
    // queries tripped degraded_host on a SINGLE 0.3 s committed entry
    // reading 1.75x — one short query's jitter is not a session
    // verdict). The policy constant is what Bench keys the gate on.
    assert(BenchPolicy.MinAggCoverage === 5)
    // and with the gate applied (None reaches the verdict), nothing trips
    assert(!BenchPolicy.degradedHost(nQueries = 8, nFlagged = 0, extraRuns = 0,
      nExceedsPrior = 0, aggSteadyRatio = None))
  }

  test("sessionMedianRatio: median of steady/prior, clamped to [1, 2], " +
    "needs MinAggCoverage entries") {
    // a 1.4x-slow session with one real 4x regression: the median
    // reads the host, not the regression
    val pairs = Seq((1.4, 1.0), (2.8, 2.0), (14.0, 10.0), (0.7, 0.5), (4.0, 1.0))
    assert(BenchPolicy.sessionMedianRatio(pairs) === Some(1.4))
    // fast sessions clamp UP to 1 (never scale priors down)
    assert(BenchPolicy.sessionMedianRatio(
      Seq((0.8, 1.0), (1.6, 2.0), (8.0, 10.0), (0.4, 0.5), (0.9, 1.0))) === Some(1.0))
    // wholesale ≥2x clamps at MaxSessionScale (re-take territory; the
    // aggregate tripwire fires anyway)
    assert(BenchPolicy.sessionMedianRatio(
      Seq((3.0, 1.0), (6.0, 2.0), (30.0, 10.0), (1.5, 0.5), (3.0, 1.0))) === Some(2.0))
    // a dev subset must not self-normalize
    assert(BenchPolicy.sessionMedianRatio(Seq((1.4, 1.0), (2.8, 2.0))) === None)
    // zero/negative priors are ignored, and can drop below coverage
    assert(BenchPolicy.sessionMedianRatio(
      Seq((1.0, 0.0), (1.4, 1.0), (2.8, 2.0), (1.4, 1.0))) === None)
  }

  test("normalizeFlags: host-explained prior-excess demotes to host_scaled_ok; " +
    "real regressions keep their flag") {
    import BenchPolicy.Measurement
    // the r8 shape: graph_bfs best 3.57 vs prior 2.41 on a 1.45x
    // session — 3.57 > 2.5×2.41 is false... use the driver numbers:
    // best 8.53 vs prior 2.41 flagged; a 1.45x session scale gives bar
    // 2.5×2.41×1.45 = 8.74 → demoted
    val flagged = Measurement(8.53, Some(8.6), 1,
      List("exceeds_prior_steady"), Some("best=8.530,prior_steady=2.410"))
    val demoted = BenchPolicy.normalizeFlags(flagged, Some(2.41), Some(1.45))
    assert(demoted.flags === List(BenchPolicy.HostScaledFlag))
    assert(!BenchPolicy.needsAttention(demoted.flags))
    assert(demoted.flagDetail.get.contains("session_scale=1.45"))
    // a REAL 10x regression exceeds even the scaled bar → flag kept
    val real = Measurement(24.1, Some(24.5), 1,
      List("exceeds_prior_steady"), Some("best=24.100,prior_steady=2.410"))
    assert(BenchPolicy.normalizeFlags(real, Some(2.41), Some(1.45)).flags ===
      List("exceeds_prior_steady"))
    // steady-side flag demotes on the steady value
    val steadyFlag = Measurement(2.5, Some(7.9), 1, List("steady_exceeds_prior"))
    assert(BenchPolicy.normalizeFlags(steadyFlag, Some(2.41), Some(1.45)).flags ===
      List(BenchPolicy.HostScaledFlag))
    // no session scale (dev subset) or clean session (scale 1.0):
    // untouched
    assert(BenchPolicy.normalizeFlags(flagged, Some(2.41), None).flags ===
      List("exceeds_prior_steady"))
    assert(BenchPolicy.normalizeFlags(flagged, Some(2.41), Some(1.0)).flags ===
      List("exceeds_prior_steady"))
  }
}
