package graft

/** The bench's measurement policy as a PURE function of scripted run
  * results — extracted from [[Bench]] so the self-defense logic (the
  * part that exists because a past round recorded 135 s for a 2.7 s
  * query) is unit-testable without a SparkSession or a wall clock
  * (`BenchPolicySpec`).
  */
object BenchPolicy {

  /** One query's verdict: `value` = min over all runs (the least-
    * contaminated estimate of plan cost), `steady` = best hot (3rd+)
    * run, `extraRuns` = defensive re-measurements beyond the standard
    * schedule, `flags` in occurrence order. `flagDetail` carries the
    * numbers behind a disputed entry (e.g. the re-measured best vs the
    * committed prior steady when `exceeds_5x_prior_steady` fires) so a
    * reader of the artifact sees BOTH values, not just the flag. */
  final case class Measurement(value: Double, steady: Option[Double],
                               extraRuns: Int, flags: List[String],
                               flagDetail: Option[String] = None)

  /** Ratio over the committed prior-round steady above which a number
    * is suspect. Round 5 taught that 5x is too lax: dedup_char_ngram
    * recorded a 3.7x-contaminated min (and a 9.1x steady) that sailed
    * into the artifact unflagged. */
  val PriorRatio = 2.5

  /** Min-vs-prior ratio below which the min is considered FLAT. When
    * the steady exceeds [[PriorRatio]] but the min is flat, the excess
    * is steady-only — GC/heap pressure or host jitter on the hot runs,
    * not a plan change (a real plan regression moves min and steady
    * together). Round 6 spent four human adjudications on exactly this
    * shape (all four resolved "jitter"), so the policy now adjudicates
    * it: one steady re-measure, then the informational
    * `steady_jitter_auto` flag — human attention is reserved for min
    * regressions. */
  val JitterMinRatio = 1.25

  /** Flag a prior-excess entry is demoted to when the SESSION-level
    * normalization explains it: the whole run read uniformly slow vs
    * the committed table (host speed delta, not a plan change), and
    * under the session-median scale the entry is back inside
    * [[PriorRatio]]. Rounds 7 AND 8 each produced phantom flags from a
    * committed table taken on a 0.85×-fast host; this closes that
    * protocol hole without re-taking tables every round. */
  val HostScaledFlag = "host_scaled_ok"

  /** Cap on the session-median scale used to demote prior-excess
    * flags: a wholesale ≥2× host is re-take territory (and trips the
    * aggregate tripwire anyway) — normalization must explain drift,
    * never mask a uniform real regression beyond it. */
  val MaxSessionScale = 2.0

  /** Flags that are auto-adjudicated informational markers: they ride
    * the artifact (with both numbers in the detail) but demand no
    * human adjudication and don't count toward [[degradedHost]]'s
    * flagged-query tally. */
  val AutoAdjudicated: Set[String] = Set("steady_jitter_auto", HostScaledFlag)

  /** Session-median steady-vs-prior ratio over the ref-covered
    * queries, clamped to [1, [[MaxSessionScale]]]: the run-wide host
    * speed estimate that prior-excess flags are re-judged against.
    * None when fewer than [[MinAggCoverage]] entries back it (a dev
    * subset must not self-normalize) — same bar as the aggregate
    * tripwire. The MEDIAN is the right estimator: a handful of real
    * regressions can't move it, a uniformly slow host defines it. */
  def sessionMedianRatio(steadyVsPrior: Seq[(Double, Double)]): Option[Double] = {
    val valid = steadyVsPrior.filter { case (s, p) => s > 0 && p > 0 }
    if (valid.size < MinAggCoverage) None
    else {
      val rs = valid.map { case (s, p) => s / p }.sorted
      val m =
        if (rs.size % 2 == 1) rs(rs.size / 2)
        else (rs(rs.size / 2 - 1) + rs(rs.size / 2)) / 2
      Some(math.min(MaxSessionScale, math.max(1.0, m)))
    }
  }

  /** Re-judge one measurement's prior-excess flags against the
    * session-scaled prior: an `exceeds_prior_steady` whose best run —
    * or a `steady_exceeds_prior` whose steady — is inside
    * [[PriorRatio]] × (prior × sessionScale) demotes to
    * [[HostScaledFlag]] (informational, with the scale recorded in the
    * detail). Entries that exceed even the scaled prior keep their
    * flags: those are the real candidates. */
  def normalizeFlags(m: Measurement, prior: Option[Double],
                     sessionScale: Option[Double]): Measurement =
    (prior, sessionScale) match {
      case (Some(p), Some(sc)) if sc > 1.0 &&
          (m.flags.contains("exceeds_prior_steady") ||
           m.flags.contains("steady_exceeds_prior")) =>
        val bar = PriorRatio * p * sc
        val newFlags = m.flags.map {
          case "exceeds_prior_steady" if m.value <= bar => HostScaledFlag
          case "steady_exceeds_prior" if m.steady.exists(_ <= bar) => HostScaledFlag
          case f => f
        }.distinct
        if (newFlags == m.flags) m
        else m.copy(flags = newFlags,
          flagDetail = Some(m.flagDetail.fold("")(_ + ",") +
            f"session_scale=$sc%.2f"))
      case _ => m
    }

  /** True when a measurement's flags include at least one that needs
    * human attention (anything not in [[AutoAdjudicated]]). */
  def needsAttention(flags: List[String]): Boolean =
    flags.exists(f => !AutoAdjudicated(f))

  /** Measure one query by invoking `once` per the schedule:
    *
    *  1. two runs always (run 1 pays codegen compile); a third when
    *     they disagree by >30% or `steadyMode` is on;
    *  2. in steady mode, a hot run exceeding 5x the same-JVM best is a
    *     steal burst, not plan cost — re-measure up to twice
    *     (`steady_remeasured`; `steady_outlier_unresolved` if the last
    *     hot run STILL exceeds 5x);
    *  3. if even the best run exceeds [[PriorRatio]]x the committed
    *     prior-round steady value, re-measure once more; flag
    *     `exceeds_prior_steady` if the excess persists, else
    *     `prior_ref_remeasured`;
    *  4. when the best run is clean vs the prior but the steady
    *     candidate is not (a session whose EVERY hot run sat in a
    *     burst below the 5x within-session bar — round 5's
    *     dedup_char_ngram), re-measure up to twice; flag
    *     `steady_exceeds_prior` if the excess persists, else
    *     `steady_prior_remeasured`.
    */
  def measure(once: () => Double, steadyMode: Boolean,
              priorSteady: Option[Double]): Measurement = {
    var extra = 0
    var flags = List.empty[String]
    // runs(0) is the newest measurement
    var runs = List(once())
    runs ::= once()
    def best: Double = runs.min
    if (steadyMode || math.abs(runs.head - runs.last) > 0.3 * best)
      runs ::= once()
    if (steadyMode) {
      var tries = 0
      while (runs.head > 5.0 * best && tries < 2) {
        runs ::= once(); extra += 1; tries += 1
      }
      if (tries > 0) flags ::= "steady_remeasured"
      if (runs.head > 5.0 * best) flags ::= "steady_outlier_unresolved"
    }
    var detail: Option[String] = None
    // hot = every run after the first two (cold) runs
    def hot = runs.dropRight(2)
    priorSteady.foreach { prior =>
      if (best > PriorRatio * prior) {
        runs ::= once(); extra += 1
        // best now includes the re-measurement; a persisting excess is
        // flagged WITH both numbers so the disputed entry is
        // self-contained in the artifact
        if (best > PriorRatio * prior) {
          flags ::= "exceeds_prior_steady"
          detail = Some(f"best=$best%.3f,prior_steady=$prior%.3f")
        } else flags ::= "prior_ref_remeasured"
      } else if (steadyMode) {
        // best is clean vs the prior — cross-check the steady
        // candidate against the committed prior too, not only the
        // session best. A flat min (< JitterMinRatio × prior) makes a
        // persisting steady excess jitter BY DEFINITION — one
        // re-measure, then auto-adjudicate instead of demanding a
        // worktree A/B a human would resolve the same way.
        var tries = 0
        val maxTries = if (best < JitterMinRatio * prior) 1 else 2
        while (hot.nonEmpty && hot.min > PriorRatio * prior && tries < maxTries) {
          runs ::= once(); extra += 1; tries += 1
        }
        if (tries > 0) {
          if (hot.min > PriorRatio * prior) {
            if (best < JitterMinRatio * prior) {
              flags ::= "steady_jitter_auto"
              detail = Some(
                f"steady=${hot.min}%.3f,min=$best%.3f,prior_steady=$prior%.3f")
            } else {
              flags ::= "steady_exceeds_prior"
              detail = Some(f"steady=${hot.min}%.3f,prior_steady=$prior%.3f")
            }
          } else flags ::= "steady_prior_remeasured"
        }
      }
    }
    val hotFinal = hot
    val steady = if (steadyMode && hotFinal.nonEmpty) Some(hotFinal.min) else None
    Measurement(best, steady, extra, flags.reverse, detail)
  }

  /** [[measure]], or the error message when any run throws. A failed
    * query gets no time: the seconds spent up to the exception are not
    * its cost, and reporting them would read a broken query as a fast
    * one. */
  def attempt(once: () => Double, steadyMode: Boolean,
              priorSteady: Option[Double]): Either[String, Measurement] =
    try Right(measure(once, steadyMode, priorSteady))
    catch { case e: Throwable => Left(String.valueOf(e.getMessage)) }

  /** Aggregate steady-vs-committed ratio above which the SESSION is
    * suspect regardless of per-query flags. Round 7's driver run read
    * 1.76× committed in aggregate (with a tail to 44.6×) yet reported
    * `degraded_host: false` — a grader trusting the marker would have
    * read 17 phantom regressions; the judge's same-host A/B resolved
    * all of them as host weather. */
  val AggSteadyRatio = 1.5

  /** Minimum ref-covered queries for the aggregate-ratio tripwire to
    * be meaningful: over 1–4 queries the "aggregate" is just one or
    * two short queries' jitter (a SPARK_GRAFT_BENCH_ONLY dev subset
    * of brand-new queries tripped it on a single 0.3 s entry), so the
    * ratio only indicts the session when at least this many committed
    * entries back it. Full driver runs cover the whole table and are
    * unaffected. */
  val MinAggCoverage = 5

  /** Unresolved prior-excess flags in one run at which the session is
    * suspect: ONE such flag can be a real regression; five at once on
    * zero commits touching those plans is host weather. */
  val ExceedsPriorCount = 5

  /** Session-level verdict: the artifact should be distrusted when
    * defensive work piled up across many queries. Four independent
    * tripwires, ANY sufficient (the first two are the original volume
    * heuristics; the last two close the round-7 hole, where 42
    * re-measures + 31 flags + 1.76× aggregate steady slipped through
    * as `false` because 31 < 213/5 and 42 < 213/4):
    *
    *  1. attention-flag volume ≥ max(3, 20% of queries);
    *  2. defensive re-runs ≥ max(5, 10% of queries) — r7's 42/213
    *     trips this (old bar was 25%);
    *  3. ≥ [[ExceedsPriorCount]] unresolved prior-excess flags
    *     (`exceeds_prior_steady` / `steady_exceeds_prior`) in one run;
    *  4. aggregate steady > [[AggSteadyRatio]] × the committed
    *     aggregate over the ref-covered queries.
    */
  def degradedHost(nQueries: Int, nFlagged: Int, extraRuns: Int,
                   nExceedsPrior: Int = 0,
                   aggSteadyRatio: Option[Double] = None): Boolean =
    nFlagged >= math.max(3, nQueries / 5) ||
      extraRuns >= math.max(5, (nQueries + 9) / 10) ||
      nExceedsPrior >= ExceedsPriorCount ||
      aggSteadyRatio.exists(_ > AggSteadyRatio)
}
