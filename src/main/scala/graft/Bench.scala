package graft

/** Per-round benchmark main. Runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR and prints one JSON line with per-query seconds.
  *
  * Each query is fully materialized through the `noop` sink — a bare
  * `.count()` would let Catalyst prune most of the projection work and
  * under-report.
  *
  * The artifact DEFENDS ITSELF against host weather (this box shows
  * bursty CPU steal; one past round recorded 135 s for a query whose
  * steady cost is ~2.7 s because every run of it landed in a burst):
  *
  *  - per-query GC time is recorded (`queries_gc`) so allocation
  *    pressure vs host contention is distinguishable in the artifact;
  *  - a steady run that exceeds 5× the query's best run is re-measured
  *    (up to twice) — a plan does not get 5× slower between run 2 and
  *    run 3 of the same JVM, so the gap IS contamination;
  *  - if even the BEST run exceeds 2.5× the committed prior-round
  *    steady value (tools/bench_steady_ref.json, sf-matched), the
  *    query is re-measured once more and flagged
  *    `exceeds_prior_steady` if the excess persists — a reader of the
  *    JSON sees the number is disputed instead of trusting it;
  *  - the STEADY candidate is cross-checked against the committed
  *    prior the same way (`steady_exceeds_prior`): a session whose
  *    every hot run sat in a burst below the 5× within-session bar
  *    can no longer push a contaminated steady into the artifact
  *    unflagged (round 5's dedup_char_ngram, 9.1× prior);
  *  - when many queries needed defensive re-runs — OR ≥5 prior-excess
  *    flags landed in one run, OR the aggregate steady reads >1.5× the
  *    committed aggregate (`agg_steady_ratio` in the line; round 7's
  *    1.76×/42-re-measure session slipped the old volume-only bars) —
  *    the whole line carries `"degraded_host":true` and a loud
  *    DEGRADED_HOST marker goes to stderr: the round's numbers should
  *    be re-taken, not graded;
  *  - prior-excess flags are re-judged against the SESSION-median
  *    host factor (`session_scale` in the line, BenchPolicy
  *    `sessionMedianRatio`/`normalizeFlags`): a committed table taken
  *    on a fast host produced phantom flags two rounds running —
  *    flags the run-wide factor explains demote to informational
  *    `host_scaled_ok`; real regressions exceed even the scaled bar.
  */
object Bench {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = Session.local(cpus)
    // Untimed warmup: JVM/codegen/file-listing costs land here, not on
    // the first measured query.
    graft.sources.Tables.normalize(spark)
    Seq("lineitem", "events", "documents", "embeddings").foreach { t =>
      try spark.read.parquet(s"$sfDir/$t.parquet").limit(1)
        .write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => () }
    }
    val gcBeans = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    def gcMs: Long = {
      var s = 0L
      gcBeans.forEach(b => s += math.max(b.getCollectionTime, 0L))
      s
    }
    // Prior-round steady reference, committed alongside BASELINE.md.
    val refPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_REF", "tools/bench_steady_ref.json")
    val ref = BenchPolicy.steadyRef(
      scala.util.Try(java.nio.file.Files.readString(java.nio.file.Paths.get(refPath))).getOrElse(""),
      sfDir)
    // Min of two runs per query (the first pays codegen compile), plus
    // an adaptive third run when the two disagree by >30% — a burst
    // during either run would otherwise be reported as plan cost.
    //
    // SPARK_GRAFT_BENCH_RUNS=steady (the default) ALSO reports a
    // steady-state value per query (`value_steady`/`queries_steady`):
    // by run 3 codegen caches are hot and a steal burst on an early run
    // no longer moves the number, so round-over-round deltas compare
    // steady-state plan cost, not host weather. =min2 opts out (fast
    // mode for local iteration).
    def once(fn: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    val steadyMode = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "steady") != "min2"
    // SPARK_GRAFT_BENCH_ONLY=a,b,c restricts to named queries (local
    // diagnosis of a single regression without paying the full suite)
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
    val selected = only match {
      case Some(names) => SparkEntry.queries.filter { case (n, _) => names(n) }
      case None => SparkEntry.queries
    }
    // The measurement schedule and outlier defense live in
    // BenchPolicy.measure (pure, unit-tested in BenchPolicySpec). A
    // query that throws on any run is listed in `failed` and has no
    // entry in the time maps or totals.
    val attempts = selected.toSeq.map { case (name, fn) =>
      val gc0 = gcMs
      val r = BenchPolicy.attempt(() => once(fn), steadyMode, ref.get(name))
      r.swap.foreach(msg => System.err.println(s"[bench] $name failed: $msg"))
      name -> r.map(m => (m, (gcMs - gc0) / 1000.0))
    }
    val failed = attempts.collect { case (k, Left(_)) => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    val rawResults = scala.collection.immutable.ListMap(
      attempts.collect { case (k, Right(v)) => k -> v }: _*)
    // Session-ratio normalization (round-9 protocol fix): a committed
    // table taken on a fast host produced phantom prior-excess flags
    // two rounds running. Estimate the run-wide host factor as the
    // MEDIAN steady-vs-prior ratio and re-judge prior-excess flags
    // against the scaled prior — entries the host factor explains
    // demote to informational host_scaled_ok; real regressions (which
    // exceed even the scaled bar, or sit in a session whose median is
    // clean) keep their flags.
    val sessionScale = BenchPolicy.sessionMedianRatio(
      rawResults.toSeq.flatMap { case (k, (m, _)) =>
        for (s <- m.steady; p <- ref.get(k)) yield (s, p)
      })
    val results = rawResults.map { case (k, (m, g)) =>
      k -> ((BenchPolicy.normalizeFlags(m, ref.get(k), sessionScale), g))
    }
    val extraRuns = results.values.map(_._1.extraRuns).sum
    def fmt(m: Iterable[(String, Double)]): String =
      m.map { case (k, v) => "\"" + k + f"\":$v%.3f" }.mkString("{", ",", "}")
    val qs = fmt(results.map { case (k, (m, _)) => k -> m.value })
    val total = results.values.map(_._1.value).sum
    val steadyPart = if (steadyMode) {
      val sq = results.collect { case (k, (m, _)) if m.steady.isDefined => k -> m.steady.get }
      f""","value_steady":${sq.values.sum}%.3f,"queries_steady":${fmt(sq)}"""
    } else ""
    val gcTotal = results.values.map(_._2).sum
    val gcPart = f""","gc_sec":$gcTotal%.3f,"queries_gc":${fmt(results.map { case (k, (_, g)) => k -> g })}"""
    val flagged = results.collect { case (k, (m, _)) if m.flags.nonEmpty =>
      "\"" + k + "\":\"" + m.flags.mkString("+") + "\"" }
    // a disputed entry carries its numbers (re-measured best vs the
    // committed prior steady) next to the flag
    val flagDetails = results.collect { case (k, (m, _)) if m.flagDetail.isDefined =>
      "\"" + k + "\":\"" + m.flagDetail.get + "\"" }
    // auto-adjudicated informational flags (steady-only jitter with a
    // flat min) ride the artifact but don't indict the host
    val attention = results.count { case (_, (m, _)) => BenchPolicy.needsAttention(m.flags) }
    // the two session-level tripwires that close the round-7 hole:
    // unresolved prior-excess flag count and the aggregate
    // steady-vs-committed ratio over the ref-covered queries
    val exceedsPrior = results.count { case (_, (m, _)) =>
      m.flags.contains("exceeds_prior_steady") ||
        m.flags.contains("steady_exceeds_prior") }
    val (steadySum, refSum, nCovered) = results.toSeq.foldLeft((0.0, 0.0, 0)) {
      case ((a, b, c), (k, (m, _))) =>
        (for (s <- m.steady; r <- ref.get(k)) yield (a + s, b + r, c + 1))
          .getOrElse((a, b, c))
    }
    // the ratio is reported whenever computable but only counts toward
    // degraded_host with enough committed entries behind it (a dev
    // subset of new queries must not indict the host on one entry)
    val aggRatio = if (refSum > 0) Some(steadySum / refSum) else None
    val aggRatioForVerdict =
      if (nCovered >= BenchPolicy.MinAggCoverage) aggRatio else None
    val scalePart = sessionScale
      .map(sc => f""","session_scale":$sc%.3f""").getOrElse("")
    val degraded = BenchPolicy.degradedHost(results.size, attention, extraRuns,
      exceedsPrior, aggRatioForVerdict)
    if (degraded)
      System.err.println("[bench] DEGRADED_HOST: " +
        s"$attention queries flagged, $extraRuns defensive re-runs, " +
        s"$exceedsPrior prior-excess, aggregate steady ratio " +
        aggRatio.map(r => f"$r%.2f").getOrElse("n/a") + "x — " +
        "host contention corrupted this session; re-take the numbers.")
    val ratioPart = aggRatio.map(r => f""","agg_steady_ratio":$r%.3f""").getOrElse("")
    val defendPart =
      s""","remeasured":$extraRuns,"degraded_host":$degraded$ratioPart$scalePart,"flags":${flagged.mkString("{", ",", "}")}""" +
        s""","flag_detail":${flagDetails.mkString("{", ",", "}")}"""
    val line =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qs$steadyPart$gcPart$defendPart,"failed":$failed,"sf":"$sfDir"}"""
    // The stdout line is the driver contract, but every BENCH_r0N so
    // far shows the capture keeping only a ~2000-char TAIL of it
    // ("parsed": null since round 3) — the ~18 KB four-map line never
    // survives whole. Repo-side fix (round-10): stdout carries ONE
    // COMPACT line — the contract keys (metric/value/unit/queries/sf)
    // plus the host verdict (`degraded_host`, and `flag_count`, the
    // number of flagged queries) so a stdout-only capture still sees
    // a corrupted session — per-query seconds trimmed to 3 decimals with
    // trailing zeros stripped — and the full four-map artifact
    // (steady/gc/flags/flag_detail at fixed precision) goes to the
    // file only. The compact line is still ~6 KB (256 query names
    // alone are ~4 KB — no line carrying every declared name can fit
    // a 2000-char tail), so one SUMMARY line under 200 chars follows
    // it and is printed last: the contract keys without the per-query
    // map, the host verdict and the failed-query count, whole in any
    // tail capture.
    def compactNum(v: Double): String = {
      val s = f"$v%.3f"
      val t = s.reverse.dropWhile(_ == '0').reverse
      if (t.endsWith(".")) t.dropRight(1) else t
    }
    val qsCompact = results
      .map { case (k, (m, _)) => "\"" + k + "\":" + compactNum(m.value) }
      .mkString("{", ",", "}")
    // Per-cpus artifact name by default: round 9's 8-core verification
    // run overwrote the 32-core run's map because both defaulted to
    // the same path — the round's primary per-query table was lost.
    val lastPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", s"tools/bench_last_c$cpus.json")
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(lastPath), line + "\n")
    catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $lastPath: ${e.getMessage}")
    }
    println(
      s"""{"metric":"total","value":${compactNum(total)},"unit":"sec","queries":$qsCompact,"failed":$failed,"degraded_host":$degraded,"flag_count":${flagged.size},"sf":"$sfDir","detail":"$lastPath"}""")
    println(
      s"""{"metric":"total","value":${compactNum(total)},"unit":"sec","sf":"$sfDir","detail":"$lastPath","degraded_host":$degraded,"failed_count":${attempts.count(_._2.isLeft)}}""")
    spark.stop()
  }
}
