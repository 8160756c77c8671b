package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Generic relational building blocks used by the query surface.
  *
  * Everything is declarative DataFrame composition — Catalyst plans the
  * physical side (broadcast vs shuffle join, partial aggregation,
  * whole-stage codegen). Helpers only encode the *shape* decisions that
  * matter at 100 TB: broadcast hints for genuinely small dimensions,
  * per-group windows instead of global sorts, map-side-combinable
  * aggregates.
  */
object Relational {

  /** Attach named metrics to a frame via the Observation API: the
    * aggregates are computed accumulator-style WHILE the next action
    * runs — no extra job, no second scan of the input. This is how a
    * 100 TB pipeline gets its per-stage row counts and quality tallies
    * for free, vs the `.count()`-per-stage pattern which re-runs (or
    * forces caching of) every stage. Read `observation.get` after the
    * first action on the returned frame. */
  def observed(df: DataFrame, name: String,
               metrics: (String, Column)*): (DataFrame, org.apache.spark.sql.Observation) = {
    require(metrics.nonEmpty, "observed needs at least one metric")
    val obs = org.apache.spark.sql.Observation(name)
    val named = metrics.map { case (n, c) => c.as(n) }
    (df.observe(obs, named.head, named.tail: _*), obs)
  }

  /** Top-N rows per group without a global sort: window `row_number`
    * over (part, order) then filter — one shuffle on the partition
    * keys, no driver involvement, scales with #groups. */
  def topNPerGroup(df: DataFrame, partitionCols: Seq[Column],
                   orderCols: Seq[Column], n: Int, rankCol: String = "rn"): DataFrame = {
    val w = Window.partitionBy(partitionCols: _*).orderBy(orderCols: _*)
    df.withColumn(rankCol, row_number().over(w)).filter(col(rankCol) <= n)
  }

  /** Last-writer-wins compaction by key — the batch equivalent of the
    * reference's REPLACE-INTO upsert sink (SinkToMySQL.java:35): keep
    * only the newest version of each key. One shuffle on the key. */
  def latestByKey(df: DataFrame, keys: Seq[Column], versionOrder: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keys: _*).orderBy(versionOrder.map(_.desc): _*)
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** Global top-k: Spark's `orderBy.limit` plans a TakeOrderedAndProject
    * — per-partition partial top-k then a k-row merge on the driver, no
    * full sort/shuffle of the input. */
  def topK(df: DataFrame, orderCols: Seq[Column], k: Int): DataFrame =
    df.orderBy(orderCols: _*).limit(k)

  /** Tagged set-op comparison of two keyed sets (both / left-only /
    * right-only). Distinct + intersect/except shuffle once on the key. */
  def setCompare(left: DataFrame, right: DataFrame, keyCol: String,
                 leftTag: String, rightTag: String): DataFrame = {
    val l = left.distinct()
    val r = right.distinct()
    l.intersect(r).withColumn("tag", lit("both"))
      .unionByName(l.except(r).withColumn("tag", lit(leftTag)))
      .unionByName(r.except(l).withColumn("tag", lit(rightTag)))
      .select(col("tag"), col(keyCol))
  }

  /** As-of join (temporal join): for each probe row, the build row
    * with the same key and the greatest timestamp ≤ the probe's.
    *
    * Implementation is the scalable union + carry-forward form — tag
    * both sides, sort within key by (ts, side, tie), carry the last
    * non-null build payload forward with an unbounded-preceding
    * window, keep probe rows. ONE shuffle on the key, no per-pair
    * range scan (a range join would be O(probe×build) per key).
    * Build rows sort before probes at equal ts (inclusive as-of).
    *
    * `buildPayload` columns are appended to the probe rows (null when
    * no build row precedes). `tieCol` must order build versions at
    * equal timestamps (e.g. an id); the greatest wins.
    */
  def asOfJoin(probe: DataFrame, build: DataFrame, key: String, tsCol: String,
               tieCol: String, buildPayload: Seq[String]): DataFrame = {
    val probeCols = probe.columns
    val nulled = buildPayload.foldLeft(
      probe.withColumn("__side", lit(1)))((d, c) =>
        d.withColumn(s"__b_$c", lit(null).cast(build.schema(c).dataType)))
    val tagged = buildPayload.foldLeft(
      build.select((key +: tsCol +: tieCol +: buildPayload).distinct.map(col): _*)
        .withColumn("__side", lit(0)))((d, c) => d.withColumn(s"__b_$c", col(c)))
      .select((Seq(key, tsCol, tieCol, "__side") ++ buildPayload.map(c => s"__b_$c")).map(col): _*)
    val unioned = nulled
      .select((Seq(key, tsCol, tieCol, "__side") ++ buildPayload.map(c => s"__b_$c")
        ++ probeCols.filterNot(Seq(key, tsCol, tieCol).contains)).map(col): _*)
      .unionByName(tagged, allowMissingColumns = true)
    val w = Window.partitionBy(col(key))
      .orderBy(col(tsCol), col("__side"), col(tieCol))
      .rowsBetween(Window.unboundedPreceding, 0)
    val carried = buildPayload.foldLeft(unioned)((d, c) =>
      d.withColumn(s"asof_$c", last(col(s"__b_$c"), ignoreNulls = true).over(w)))
    carried.filter(col("__side") === 1)
      .drop("__side").drop(buildPayload.map(c => s"__b_$c"): _*)
  }

  /** SCD-2 interval builder: per key, order versions by (ts, tie) and
    * derive [valid_from, valid_to) with `lead`; the open interval is
    * the current version. One shuffle on the key. */
  def scd2(df: DataFrame, key: String, tsCol: String, tieCol: String): DataFrame = {
    val w = Window.partitionBy(col(key)).orderBy(col(tsCol), col(tieCol))
    df.withColumn("valid_from", col(tsCol))
      .withColumn("valid_to", lead(col(tsCol), 1).over(w))
      .withColumn("is_current", col("valid_to").isNull)
  }

  /** Two-stage skew-safe aggregation: stage 1 pre-aggregates by
    * (keys, salt) — map-side combine plus a `saltBuckets`-way spread of
    * each hot key's rows across reducers — stage 2 merges the partials
    * by the keys alone. For decomposable aggregates (sum/count here)
    * the result is IDENTICAL to a direct groupBy; the win at 100 TB is
    * that no single reducer materializes a hot key's full row stream.
    * The salt derives from
    * `saltFrom` (any well-distributed column, e.g. the row's unique
    * id) so stage 1's grouping is deterministic. */
  def saltedAggregate(df: DataFrame, keys: Seq[String], saltFrom: Column,
                      sumCol: Column, saltBuckets: Int): DataFrame = {
    require(saltBuckets > 0, "saltBuckets must be positive")
    val partial = df
      .withColumn("__salt", pmod(saltFrom, lit(saltBuckets)))
      .groupBy((keys.map(col) :+ col("__salt")): _*)
      .agg(sum(sumCol).as("__psum"), count(lit(1)).as("__pcnt"))
    partial
      .groupBy(keys.map(col): _*)
      .agg(sum(col("__psum")).as("sum_value"), sum(col("__pcnt")).as("n"))
  }

  /** Gap-based sessionization over integer epoch seconds: flag
    * session-starts with `lag`, number sessions with a running sum.
    * Two stacked windows over the same (user, time) order = one shuffle
    * on the user key; the streaming twin lives in
    * [[graft.streaming.Sessionize]]. */
  def sessionize(df: DataFrame, userCol: Column, tsSecCol: Column,
                 tieBreak: Column, gapSeconds: Long): DataFrame = {
    val order = Seq(tsSecCol, tieBreak)
    val w = Window.partitionBy(userCol).orderBy(order: _*)
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val isNew = when(lag(tsSecCol, 1).over(w).isNull
      || tsSecCol - lag(tsSecCol, 1).over(w) > gapSeconds, 1).otherwise(0)
    df.withColumn("__is_new", isNew)
      .withColumn("session_id", sum(col("__is_new")).over(wRun))
      .drop("__is_new")
  }

  /** INTERVAL UNION COVERAGE (gaps-and-islands sweep): per key, the
    * total length covered by a set of possibly-overlapping [start,
    * end) integer intervals, the merged-island count, and the
    * utilization of the overall span — [[sessionize]]'s range-typed
    * sibling (points with a gap rule there; explicit extents merged by
    * overlap here). The reference's domain is exactly this shape:
    * occupied-minutes of a meeting room under overlapping bookings
    * (README.md:10's occupancy goal, time fields of Main.java:43–151's
    * meeting rows).
    *
    * One shuffle on the keys, two stacked windows over the same
    * (start, end) order: an island breaks where start exceeds the
    * running max of all previous ends (running max, not lag — an
    * interval can swallow several successors), islands are numbered by
    * a running sum of breaks. Equal-(start, end) tie order can permute
    * island IDs but never island MEMBERSHIP, so the per-key aggregate
    * is a pure function of the interval multiset — the determinism the
    * oracle replay needs. Output: keys, n_intervals, n_islands,
    * covered (Σ island extents), span (max end − min start),
    * utilization_permille (covered·1000 div span). */
  def intervalCoverage(df: DataFrame, keys: Seq[Column], startCol: Column,
                       endCol: Column): DataFrame = {
    val isl = islandExtents(intervalRows(df, keys, startCol, endCol))
    val kc = isl.columns.dropRight(3).map(col).toSeq
    isl.groupBy(kc: _*)
      .agg(sum(col("__n")).as("n_intervals"),
        count(lit(1)).as("n_islands"),
        sum(col("__ie") - col("__is")).as("covered"),
        (max(col("__ie")) - min(col("__is"))).as("span"))
      .withColumn("utilization_permille",
        expr("(covered * 1000) div greatest(span, 1)"))
  }

  /** Normalize to keys ++ (__s, __e) long intervals, dropping empties. */
  private def intervalRows(df: DataFrame, keys: Seq[Column], startCol: Column,
                           endCol: Column): DataFrame =
    df.select(keys ++ Seq(startCol.cast("long").as("__s"),
        endCol.cast("long").as("__e")): _*)
      .filter(col("__s").isNotNull && col("__e") > col("__s"))

  /** The canonical merged-island set of keys ++ (__s, __e) interval
    * rows — [[intervalCoverage]]'s sweep, shared with the mergeable
    * [[coverageState]]. Output: keys ++ (__n, __is, __ie) per island. */
  private def islandExtents(rows: DataFrame): DataFrame = {
    val kc = rows.columns.dropRight(2).map(col).toSeq
    val w = Window.partitionBy(kc: _*).orderBy(col("__s"), col("__e"))
    val prevMax = max(col("__e")).over(
      w.rowsBetween(Window.unboundedPreceding, -1))
    val brk = when(prevMax.isNull || col("__s") > prevMax, 1).otherwise(0)
    rows.withColumn("__isl", sum(brk).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(kc :+ col("__isl"): _*)
      .agg(count(lit(1)).as("__n"), min(col("__s")).as("__is"),
        max(col("__e")).as("__ie"))
      .drop("__isl")
  }

  /** COVERAGE STATE — the mergeable (and, unusually for this family,
    * IDEMPOTENT) summary behind [[intervalCoverage]]: the canonical
    * merged-island set per key. Coverage is a POINT-SET union, which
    * is associative, commutative and idempotent, and the island set is
    * a canonical function of that point set — so
    * merge(state(deltas)) ≡ state(all) EXACTLY (not just bounded), a
    * replayed segment merges away for free (the [[kmvState]] contract,
    * no partition-overwrite needed), and a daily delta maintains the
    * stored occupancy map without rescanning history. State size is
    * O(#islands) per key — bounded by the key's busy/idle alternation,
    * not by event volume (a room booked all day is ONE row however
    * many meetings produced it). */
  def coverageState(df: DataFrame, keys: Seq[Column], startCol: Column,
                    endCol: Column): DataFrame = {
    val isl = islandExtents(intervalRows(df, keys, startCol, endCol))
    val kc = isl.columns.dropRight(3).map(col).toSeq
    isl.select(kc ++ Seq(col("__is").as("s"), col("__ie").as("e")): _*)
  }

  /** Union → one re-sweep: the k+1 smallest argument of [[kmvState]]
    * doesn't apply here — EVERY island row participates, and the
    * re-sweep re-merges islands that grew together across deltas. */
  def mergeCoverageStates(states: Seq[DataFrame], keyCols: Seq[String]): DataFrame = {
    require(states.nonEmpty, "need at least one state to merge")
    val u = states.reduce(_ unionByName _)
    val rows = u.select(keyCols.map(col) ++ Seq(col("s").as("__s"),
      col("e").as("__e")): _*)
    val isl = islandExtents(rows)
    isl.select(keyCols.map(col) ++ Seq(col("__is").as("s"), col("__ie").as("e")): _*)
  }

  /** [[intervalCoverage]]'s readout off a merged [[coverageState]]
    * (n_intervals is gone by design — idempotence costs the source
    * count; [[aggState]] keeps it if needed). */
  def coverageReadout(state: DataFrame, keyCols: Seq[String]): DataFrame = {
    val kc = keyCols.map(col)
    state.groupBy(kc: _*)
      .agg(count(lit(1)).as("n_islands"),
        sum(col("e") - col("s")).as("covered"),
        (max(col("e")) - min(col("s"))).as("span"))
      .withColumn("utilization_permille",
        expr("(covered * 1000) div greatest(span, 1)"))
  }

  /** TRAILING Z-SCORE ANOMALY FLAGS over a keyed integer series — the
    * ops staple (traffic spike / drop detection) in EXACT integer
    * arithmetic: with trailing-window count m, sum s1 and sum-of-
    * squares s2, the z statistic squares to the pure integer ratio
    *   z² = (m·x − s1)² / (m·s2 − s1²)
    * (both sides scaled by m², so no float mean/stddev ever exists and
    * the DuckDB oracle replays every verdict). A row is anomalous when
    * m ≥ minPeriods and (m·x − s1)² > thresholdSq · (m·s2 − s1²) — or,
    * when the window is perfectly constant (variance 0), when x
    * deviates at all. The window is a RANGE frame over the integer
    * order column `[−trailing, −1]` (the current row is excluded —
    * a spike must not dilute its own baseline), so GAPS in the series
    * age out by distance, not by row count.
    *
    * One shuffle on the keys; the three window sums share one frame.
    * Overflow note: (m·x)² must fit a long — with trailing ≤ 10³ the
    * series values must stay under ~10⁸ per bucket; pre-scale the
    * series (e.g. div 1000) beyond that. */
  def zscoreFlags(series: DataFrame, keys: Seq[Column], orderCol: Column,
                  valueCol: Column, trailing: Long, minPeriods: Long,
                  thresholdSq: Long): DataFrame = {
    require(trailing >= 1 && minPeriods >= 2 && thresholdSq >= 1,
      "zscoreFlags needs trailing >= 1, minPeriods >= 2, thresholdSq >= 1")
    val rows = series.select(keys ++ Seq(orderCol.cast("long").as("t"),
      valueCol.cast("long").as("x")): _*)
    val kc = rows.columns.dropRight(2).map(col).toSeq
    val w = Window.partitionBy(kc: _*).orderBy(col("t"))
      .rangeBetween(-trailing, -1)
    rows
      .withColumn("m_window", count(col("x")).over(w))
      .withColumn("__s1", sum(col("x")).over(w))
      .withColumn("__s2", sum(col("x") * col("x")).over(w))
      .withColumn("__num",
        (col("m_window") * col("x") - col("__s1")) *
        (col("m_window") * col("x") - col("__s1")))
      .withColumn("__den",
        col("m_window") * col("__s2") - col("__s1") * col("__s1"))
      .withColumn("z2_permille",
        when(col("m_window") >= minPeriods && col("__den") > 0,
          expr("(__num * 1000) div __den")).otherwise(lit(-1L)))
      .withColumn("is_anomaly",
        col("m_window") >= minPeriods &&
          ((col("__den") > 0 && col("__num") > lit(thresholdSq) * col("__den")) ||
           (col("__den") === 0 && col("__num") > 0)))
      .drop("__s1", "__s2", "__num", "__den")
  }

  /** PER-KEY LINEAR TREND in exact integer arithmetic — the level
    * companion to [[zscoreFlags]] (that one asks "is this point off
    * the recent baseline", this one asks "is the series drifting"):
    * ordinary least squares over (t, x) with every statistic a pure
    * integer ratio, so the oracle replays slope and fit quality
    * exactly. With m points and sums st=Σt, sx=Σx, stx=Σtx, stt=Σt²,
    * sxx=Σx²:
    *   slope_ppm    = (m·stx − st·sx) · 10⁶ div (m·stt − st²)
    *   r2_permille  = ((num·1000) div dent) · num div denx
    *                  (num = m·stx − st·sx, dent = m·stt − st²,
    *                   denx = m·sxx − sx²)
    * — the r² quotient is CHAINED rather than num²·1000 div
    * (dent·denx): num² alone would overflow 64-bit on long series,
    * while the chained form divides down first; it is a deterministic
    * integer rule both engines replay identically (it can differ from
    * the exact floor by a rounding step, which is fine — the CONTRACT
    * is the rule, not the real number).
    * The time axis is re-based per key (t − min(t), one extra window
    * pass) so the sums stay small — epoch-hours squared would sit one
    * digit under Long.MAX and cancel catastrophically in (m·stt − st²).
    * One shuffle on the keys; a single map-side-combinable aggregate
    * carries all five sums. Degenerate keys (one point, constant t or
    * constant x) emit NULL slope/r² rather than a fake fit. */
  def linearTrend(series: DataFrame, keys: Seq[Column], orderCol: Column,
                  valueCol: Column): DataFrame =
    trendReadout(trendState(series, keys, orderCol, valueCol))

  /** Mergeable LINEAR-TREND state — the five moment sums of
    * [[linearTrend]] carried WITH their per-key time base
    * (t_base = min t), so partial states from disjoint deltas merge
    * EXACTLY: moments are linear in the rows once the bases agree, and
    * a base shift by d is the exact integer transform
    *   st → st + m·d,  stx → stx + d·sx,  stt → stt + 2d·st + m·d²
    * (x-moments are shift-invariant). merge(state(deltas)) ≡
    * state(all) down to the last digit — the trend joins the
    * incremental-maintenance family (NOT idempotent: replayed deltas
    * double the sums, the [[aggState]] contract). State: keys, t_base, m, st, sx, stx,
    * stt, sxx. */
  def trendState(series: DataFrame, keys: Seq[Column], orderCol: Column,
                 valueCol: Column): DataFrame = {
    val rows = series.select(keys ++ Seq(orderCol.cast("long").as("__t0"),
      valueCol.cast("long").as("x")): _*)
    val kc = rows.columns.dropRight(2).map(col).toSeq
    val rebased = rows.withColumn("t_base",
        min(col("__t0")).over(Window.partitionBy(kc: _*)))
      .withColumn("t", col("__t0") - col("t_base"))
    rebased.groupBy(kc: _*)
      .agg(min(col("t_base")).as("t_base"), count(lit(1)).as("m"),
        sum(col("t")).as("st"), sum(col("x")).as("sx"),
        sum(col("t") * col("x")).as("stx"),
        sum(col("t") * col("t")).as("stt"),
        sum(col("x") * col("x")).as("sxx"))
  }

  /** Shift every partial to the merged (minimum) base with the exact
    * moment transform, then sum-merge. */
  def mergeTrendStates(states: Seq[DataFrame], keyCols: Seq[String]): DataFrame = {
    require(states.nonEmpty, "need at least one state to merge")
    val u = states.reduce(_ unionByName _)
    val kc = keyCols.map(col)
    val base = u.groupBy(kc: _*).agg(min(col("t_base")).as("__nb"))
    u.join(broadcast(base), keyCols)
      .withColumn("__d", col("t_base") - col("__nb"))
      .groupBy(kc: _*)
      .agg(min(col("__nb")).as("t_base"), sum(col("m")).as("m"),
        sum(col("st") + col("m") * col("__d")).as("st"),
        sum(col("sx")).as("sx"),
        sum(col("stx") + col("__d") * col("sx")).as("stx"),
        sum(col("stt") + lit(2L) * col("__d") * col("st")
          + col("m") * col("__d") * col("__d")).as("stt"),
        sum(col("sxx")).as("sxx"))
  }

  /** Fit off a (merged) [[trendState]] — shared tail of
    * [[linearTrend]]. Key columns are everything except the seven
    * state columns. */
  def trendReadout(state: DataFrame): DataFrame = {
    val stateCols = Set("t_base", "m", "st", "sx", "stx", "stt", "sxx")
    val kc = state.columns.filterNot(stateCols).map(col).toSeq
    state
      .withColumn("__num", col("m") * col("stx") - col("st") * col("sx"))
      .withColumn("__dent", col("m") * col("stt") - col("st") * col("st"))
      .withColumn("__denx", col("m") * col("sxx") - col("sx") * col("sx"))
      // num goes NEGATIVE on a downtrend: Spark `div` and DuckDB's
      // integer `//` BOTH truncate toward zero (verified empirically:
      // -7 // 2 = -3 in DuckDB), so plain div replays exactly
      .withColumn("slope_ppm",
        when(col("__dent") > 0, expr("(__num * 1000000) div __dent")))
      // __q1 is computed unconditionally (the when-guard below only
      // gates its USE) — clamp the divisor so a degenerate key can
      // never divide by zero
      .withColumn("__q1",
        expr("(__num * 1000) div greatest(__dent, 1)"))
      .withColumn("r2_permille",
        when(col("__dent") > 0 && col("__denx") > 0,
          expr("(__q1 * __num) div __denx")))
      .select(kc ++ Seq(col("m"), col("slope_ppm"), col("r2_permille")): _*)
  }

  /** OUT-OF-ORDER AUDIT — the measurement that sizes a watermark
    * BEFORE deploying the streaming job: per key, how many events
    * arrive with an event time older than something already seen
    * (late), and how old (lateness = running max of event time at
    * arrival − own event time). `withWatermark("ts", "X")` silently
    * DROPS every event later than X behind the max — this operator
    * reads the drop rate off history instead of guessing: set X at
    * p95/max lateness and know the loss. One shuffle on the keys, one
    * running-max window in ARRIVAL order, then exact order statistics
    * over the late rows (the [[topNPerGroup]] ranking idiom — no
    * collect). Output per key: n_events, n_late, late_permille,
    * max_late (units of tsCol), p95_late (95th percentile of lateness
    * among LATE rows; 0 when nothing is late). */
  def disorderAudit(df: DataFrame, keys: Seq[Column], arrivalCol: Column,
                    tsCol: Column): DataFrame =
    disorderStats(latenessScores(df, keys, arrivalCol, tsCol))

  /** [[disorderAudit]] on the [[latenessScoresBucketed]] two-pass
    * scoring — same output, no per-key serial window, so one hot key
    * (one topic-partition audited as one key) cannot serialize the
    * 100 TB audit. Proven ≡ the exact form in `TemporalOpsSpec`. */
  def disorderAuditBucketed(df: DataFrame, keys: Seq[Column],
      arrivalCol: Column, tsCol: Column, numBuckets: Int = 64): DataFrame =
    disorderStats(latenessScoresBucketed(df, keys, arrivalCol, tsCol, numBuckets))

  private def disorderStats(scored: DataFrame): DataFrame = {
    val keyNames = scored.columns.dropRight(3).toSeq
    val kc = keyNames.map(col)
    val rows = scored
    // exact p95 over the late rows: rank by lateness, lift the
    // (n_late−1)·95 div 100 + 1 order statistic (lower-index rule —
    // the corpus_length_quantiles idiom)
    val lateRanked = scored.filter(col("__late") > 0)
      .withColumn("__rn", row_number().over(
        Window.partitionBy(kc: _*).orderBy(col("__late"), col("__arr"))))
      .withColumn("__nl", count(lit(1)).over(Window.partitionBy(kc: _*)))
    val lateStats = lateRanked.groupBy(kc: _*)
      .agg(count(lit(1)).as("n_late"), max(col("__late")).as("max_late"),
        max(when(col("__rn") === expr("(__nl - 1) * 95 div 100 + 1"),
          col("__late"))).as("p95_late"))
    rows.groupBy(kc: _*).agg(count(lit(1)).as("n_events"))
      .join(lateStats, keyNames, "left")
      .na.fill(0L, Seq("n_late", "max_late", "p95_late"))
      .withColumn("late_permille", expr("(n_late * 1000) div n_events"))
  }

  /** Shared lateness scoring of [[disorderAudit]] and
    * [[watermarkCurve]]: keys ++ (__arr, __ts, __late), __late = how
    * far behind the running event-time max each event arrives, 0 when
    * on time. TIE RULE: the frame is a RANGE over `__arr`, so the max
    * covers rows with STRICTLY EARLIER arrival — rows sharing an
    * arrival stamp are simultaneous and never count toward each
    * other's lateness (deterministic under ties, where a ROWS frame
    * would be planner-ordered). */
  private[graft] def latenessScores(df: DataFrame, keys: Seq[Column],
                                    arrivalCol: Column, tsCol: Column): DataFrame = {
    val rows = df.select(keys ++ Seq(arrivalCol.cast("long").as("__arr"),
      tsCol.cast("long").as("__ts")): _*)
    val kc = rows.columns.dropRight(2).map(col).toSeq
    val w = Window.partitionBy(kc: _*).orderBy(col("__arr"))
      .rangeBetween(Window.unboundedPreceding, -1)
    rows.withColumn("__late",
      greatest(coalesce(max(col("__ts")).over(w) - col("__ts"), lit(0L)),
        lit(0L)))
  }

  /** [[latenessScores]] WITHOUT the per-key serial window — the
    * 100 TB form. The exact form's running max puts one key's entire
    * arrival history into one task (a topic-partition audited as one
    * key = one straggler). Two passes instead: (1) cut each key's
    * arrival axis into `numBuckets` equal ranges and take per-bucket
    * event-time maxima (map-side-combinable, keys×buckets rows);
    * (2) prefix-max those maxima per key (a window over the TINY
    * bucket table) and broadcast-join back, so inside a bucket the
    * running max only needs the bucket's own rows — parallelism
    * numBuckets per key. Equivalent to the exact form BY CONSTRUCTION:
    * bucket is a function of `__arr`, so equal arrivals share a bucket
    * and the strictly-earlier tie rule survives the split
    * (equivalence spec in `TemporalOpsSpec`). */
  private[graft] def latenessScoresBucketed(df: DataFrame, keys: Seq[Column],
      arrivalCol: Column, tsCol: Column, numBuckets: Int = 64): DataFrame = {
    require(numBuckets > 0, "numBuckets must be positive")
    val rows = df.select(keys ++ Seq(arrivalCol.cast("long").as("__arr"),
      tsCol.cast("long").as("__ts")): _*)
    val keyNames = rows.columns.dropRight(2).toSeq
    val kc = keyNames.map(col)
    // per-key arrival span → equal-range bucket of each row
    val span = rows.groupBy(kc: _*)
      .agg(min(col("__arr")).as("__lo"), max(col("__arr")).as("__hi"))
    val bucketed = rows.join(broadcast(span), keyNames)
      .withColumn("__bkt",
        expr(s"cast(((__arr - __lo) * $numBuckets) div (__hi - __lo + 1) as int)"))
      .drop("__lo", "__hi")
    // pass 1: bucket maxima; pass 2: per-key prefix max over buckets
    // STRICTLY BEFORE each bucket (tiny: keys × numBuckets rows)
    val bucketMax = bucketed.groupBy(kc :+ col("__bkt"): _*)
      .agg(max(col("__ts")).as("__bmax"))
    val prefix = bucketMax.withColumn("__pmax",
      max(col("__bmax")).over(Window.partitionBy(kc: _*).orderBy(col("__bkt"))
        .rowsBetween(Window.unboundedPreceding, -1)))
      .select(kc ++ Seq(col("__bkt"), col("__pmax")): _*)
    // in-bucket strictly-earlier running max, parallel across buckets
    val wIn = Window.partitionBy(kc :+ col("__bkt"): _*).orderBy(col("__arr"))
      .rangeBetween(Window.unboundedPreceding, -1)
    bucketed.join(broadcast(prefix), keyNames :+ "__bkt")
      // greatest() skips nulls; null only when BOTH sides are null
      // (the key's very first arrivals) — then lateness is 0
      .withColumn("__cand",
        greatest(max(col("__ts")).over(wIn), col("__pmax")))
      .withColumn("__late",
        greatest(coalesce(col("__cand") - col("__ts"), lit(0L)), lit(0L)))
      .drop("__bkt", "__pmax", "__cand")
  }

  /** WATERMARK LOSS CURVE — [[disorderAudit]] turned into the decision
    * artifact: for every candidate watermark delay, the EXACT fraction
    * of history `withWatermark(delay)` would have dropped (events late
    * by MORE than the delay). The sweep explodes the delay list
    * against the per-event lateness scores (rows × |delays|, one
    * map-side-combinable aggregate) — pick the knee of the measured
    * curve instead of guessing a delay. */
  def watermarkCurve(df: DataFrame, keys: Seq[Column], arrivalCol: Column,
                     tsCol: Column, delays: Seq[Long]): DataFrame = {
    require(delays.nonEmpty && delays.forall(_ >= 0),
      "watermarkCurve needs at least one non-negative candidate delay")
    val scored = latenessScores(df, keys, arrivalCol, tsCol)
    val kc = scored.columns.dropRight(3).map(col).toSeq
    scored.select(kc ++ Seq(col("__late"),
        explode(array(delays.map(lit): _*)).as("delay_sec")): _*)
      .groupBy(kc :+ col("delay_sec"): _*)
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("__late") > col("delay_sec"), 1L).otherwise(0L))
          .as("n_dropped"))
      .withColumn("drop_permille", expr("(n_dropped * 1000) div n_events"))
  }

  /** FIRST-DIGIT (Benford) AUDIT — the fraud / fabricated-data staple:
    * per key, the observed leading-digit distribution of a positive
    * integer measure against Benford's law (expected share of digit d
    * = log₁₀(1 + 1/d), carried as the fixed integer permille table
    * [301, 176, …, 46]). Naturally-grown multi-decade quantities track
    * the table; fabricated, capped, or narrow-range data deviates —
    * the audit REPORTS the deviation per digit and leaves judgment to
    * the reader (synthetic fixtures deviate, correctly). The leading
    * digit is exact string arithmetic (first char of the decimal
    * rendering — no float log), one map-side-combinable count per
    * (key, digit), totals joined back, all 9 digits scaffolded so
    * missing digits audit as 0 rather than vanishing. */
  def firstDigitAudit(df: DataFrame, keys: Seq[Column],
                      valueCol: Column): DataFrame = {
    val rows = df.select(keys :+ valueCol.cast("long").as("__c"): _*)
      .filter(col("__c") > 0)
    val keyNames = rows.columns.dropRight(1).toSeq
    val kc = keyNames.map(col)
    val dig = rows.withColumn("digit",
      expr("cast(substring(cast(__c as string), 1, 1) as bigint)"))
    val cnt = dig.groupBy(kc :+ col("digit"): _*).agg(count(lit(1)).as("n"))
    val benford = Seq(301L, 176L, 125L, 97L, 79L, 67L, 58L, 51L, 46L)
    val scaffold = dig.groupBy(kc: _*).agg(count(lit(1)).as("__total"))
      .select(kc ++ Seq(col("__total"),
        explode(sequence(lit(1L), lit(9L))).as("digit")): _*)
      .withColumn("benford_permille",
        element_at(array(benford.map(lit): _*), col("digit").cast("int")))
    scaffold.join(cnt, keyNames :+ "digit", "left")
      .na.fill(0L, Seq("n"))
      .withColumn("obs_permille", expr("(n * 1000) div __total"))
      .withColumn("dev_permille", col("obs_permille") - col("benford_permille"))
      .drop("__total")
  }

  /** SECOND-DIGIT (Benford) AUDIT — the companion screen that catches
    * fabrication the first-digit test passes: people inventing numbers
    * get the leading digit roughly right (anchoring on magnitude) and
    * the second digit wrong. Expected share of second digit d =
    * Σ_{d₁=1..9} log₁₀(1 + 1/(10·d₁ + d)), carried as the fixed
    * integer permille table [120, 114, …, 85] (sums to exactly 1000).
    * Values below 10 have no second digit and are excluded (the
    * standard convention). Same exact string arithmetic, scaffold and
    * map-side-combinable shape as [[firstDigitAudit]]. */
  def secondDigitAudit(df: DataFrame, keys: Seq[Column],
                       valueCol: Column): DataFrame = {
    val rows = df.select(keys :+ valueCol.cast("long").as("__c"): _*)
      .filter(col("__c") >= 10)
    val keyNames = rows.columns.dropRight(1).toSeq
    val kc = keyNames.map(col)
    val dig = rows.withColumn("digit",
      expr("cast(substring(cast(__c as string), 2, 1) as bigint)"))
    val cnt = dig.groupBy(kc :+ col("digit"): _*).agg(count(lit(1)).as("n"))
    val benford2 = Seq(120L, 114L, 109L, 104L, 100L, 97L, 93L, 90L, 88L, 85L)
    val scaffold = dig.groupBy(kc: _*).agg(count(lit(1)).as("__total"))
      .select(kc ++ Seq(col("__total"),
        explode(sequence(lit(0L), lit(9L))).as("digit")): _*)
      .withColumn("benford_permille",
        element_at(array(benford2.map(lit): _*), col("digit").cast("int") + 1))
    scaffold.join(cnt, keyNames :+ "digit", "left")
      .na.fill(0L, Seq("n"))
      .withColumn("obs_permille", expr("(n * 1000) div __total"))
      .withColumn("dev_permille", col("obs_permille") - col("benford_permille"))
      .drop("__total")
  }

  /** FIRST-TWO-DIGITS (digit-pair) Benford audit — the fine-grained
    * member of the family (Nigrini's practitioner standard): expected
    * share of leading pair d ∈ [10, 99] is log₁₀(1 + 1/d), carried as
    * a fixed 90-entry permille table (hard-coded in BOTH engines — no
    * float log anywhere, so the audit is bit-stable cross-engine).
    * 90 scaffolded rows per key; values below 10 excluded. */
  def digitPairAudit(df: DataFrame, keys: Seq[Column],
                     valueCol: Column): DataFrame = {
    val rows = df.select(keys :+ valueCol.cast("long").as("__c"): _*)
      .filter(col("__c") >= 10)
    val keyNames = rows.columns.dropRight(1).toSeq
    val kc = keyNames.map(col)
    val dig = rows.withColumn("pair",
      expr("cast(substring(cast(__c as string), 1, 2) as bigint)"))
    val cnt = dig.groupBy(kc :+ col("pair"): _*).agg(count(lit(1)).as("n"))
    val scaffold = dig.groupBy(kc: _*).agg(count(lit(1)).as("__total"))
      .select(kc ++ Seq(col("__total"),
        explode(sequence(lit(10L), lit(99L))).as("pair")): _*)
      .withColumn("benford_permille",
        element_at(array(BenfordPairPermille.map(lit): _*),
          col("pair").cast("int") - 9))
    scaffold.join(cnt, keyNames :+ "pair", "left")
      .na.fill(0L, Seq("n"))
      .withColumn("obs_permille", expr("(n * 1000) div __total"))
      .withColumn("dev_permille", col("obs_permille") - col("benford_permille"))
      .drop("__total")
  }

  /** round(log₁₀(1 + 1/d)·1000) for d = 10..99 — fixed so neither
    * engine computes a float log (d=96 sits 5·10⁻⁴ above a rounding
    * boundary; a live log10 would be one ulp from flipping it). */
  private[graft] val BenfordPairPermille: Seq[Long] = Seq(
    41L, 38L, 35L, 32L, 30L, 28L, 26L, 25L, 23L, 22L,
    21L, 20L, 19L, 18L, 18L, 17L, 16L, 16L, 15L, 15L,
    14L, 14L, 13L, 13L, 13L, 12L, 12L, 12L, 11L, 11L,
    11L, 10L, 10L, 10L, 10L, 10L, 9L, 9L, 9L, 9L,
    9L, 8L, 8L, 8L, 8L, 8L, 8L, 8L, 7L, 7L,
    7L, 7L, 7L, 7L, 7L, 7L, 7L, 6L, 6L, 6L,
    6L, 6L, 6L, 6L, 6L, 6L, 6L, 6L, 6L, 5L,
    5L, 5L, 5L, 5L, 5L, 5L, 5L, 5L, 5L, 5L,
    5L, 5L, 5L, 5L, 5L, 5L, 5L, 4L, 4L, 4L)

  /** COMPACTION PLAN (small-files → target-size output groups): the
    * table-maintenance pass every 100 TB parquet table runs daily —
    * streaming ingests land thousands of KB-sized files per partition,
    * and scan throughput dies on file-open overhead until they are
    * rewritten into ~targetBytes outputs. Per key (= table partition),
    * files are laid on a byte axis in `orderCol` order (keep it the
    * cluster order — ingest time, or a [[zorderBy]]/[[hilbertBy]] key
    * — so compaction preserves locality) and cut into bins at
    * targetBytes boundaries: bin = (running_bytes − bytes) div target,
    * i.e. a file opens bin b when the bytes before it already fill b
    * bins. Every bin but the key's last lands within ONE input file of
    * targetBytes on either side (a bin undershoots exactly when its
    * successor's first file straddles the cut — measured in
    * `SourcesSinksSpec`), and the whole plan is one window cumsum — no
    * driver loop, no collect, deterministic for the oracle replay.
    * Output:
    * keys, bin, n_files, bytes, fill_permille (bytes·1000 div target). */
  def compactionPlan(files: DataFrame, keys: Seq[Column], orderCol: Column,
                     sizeCol: Column, targetBytes: Long): DataFrame = {
    require(targetBytes >= 1, s"targetBytes must be >= 1, got $targetBytes")
    val rows = files.select(keys ++ Seq(orderCol.as("__o"),
        sizeCol.cast("long").as("__b")): _*)
      .filter(col("__b") > 0)
    val kc = rows.columns.dropRight(2).map(col).toSeq
    val run = Window.partitionBy(kc: _*).orderBy(col("__o"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    rows.withColumn("__cum", sum(col("__b")).over(run))
      .withColumn("bin", expr(s"(__cum - __b) div ${targetBytes}L"))
      .groupBy(kc :+ col("bin"): _*)
      .agg(count(lit(1)).as("n_files"), sum(col("__b")).as("bytes"))
      .withColumn("fill_permille", expr(s"(bytes * 1000) div ${targetBytes}L"))
  }

  /** One-pass table profiling — the ANALYZE surface: per column,
    * row/null counts, EXACT distinct count, min/max (stringified so
    * heterogeneous columns stack into one frame). One global aggregate
    * (all stats partial-aggregated map-side into a single row, then
    * unpivoted driver-free via explode). The exact multi-column
    * distinct is the one scale caveat: Spark plans it as an Expand —
    * one scan branch per profiled column; the 100 TB routine swaps
    * `countDistinct` for `approx_count_distinct` (HLL, no Expand,
    * same shape otherwise), which is why sketch profiling exists as
    * `rel_approx_sketches`. Avoid float columns in oracle-checked
    * profiles (double→string formatting is engine-specific). */
  def profile(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "profile needs at least one column")
    val aggs = cols.flatMap { c =>
      Seq(count(col(c)).as(s"__cnt_$c"),
        countDistinct(col(c)).as(s"__nd_$c"),
        min(col(c)).cast("string").as(s"__min_$c"),
        max(col(c)).cast("string").as(s"__max_$c"))
    }
    val row = df.agg(count(lit(1)).as("__total"), aggs: _*)
    val stacked = cols.map { c =>
      struct(lit(c).as("column"),
        col("__total").as("n_rows"),
        (col("__total") - col(s"__cnt_$c")).as("n_nulls"),
        col(s"__nd_$c").as("n_distinct"),
        col(s"__min_$c").as("min_str"),
        col(s"__max_$c").as("max_str"))
    }
    row.select(explode(array(stacked: _*)).as("s")).select(col("s.*"))
  }

  /** Key-skew diagnostics for a prospective join/aggregation key — the
    * measurement run BEFORE deciding whether salting (e.g.
    * [[saltedAggregate]]) is needed. One row: total rows, distinct
    * keys, max/avg per-key counts, and the share of rows held by the
    * hottest key and the hottest `topN` keys (permille, integer-exact).
    * `skew_ratio_permille` = 1000·max/avg; 1000 means perfectly
    * uniform, ≥ ~5000 means the hot key dominates its task and salting
    * pays.
    *
    * Cost: one map-side-combinable groupBy on the key, then only
    * key-cardinality rows flow into two tiny aggregates (one all-keys,
    * one TakeOrderedAndProject top-N) — no window, no global sort, no
    * driver materialization beyond two single-row frames. */
  /** Ordered-funnel analysis: how many users performed step 1, then
    * step 2 STRICTLY after their first step 1, then step 3 strictly
    * after that, … First-occurrence semantics per stage (the standard
    * product-analytics funnel): stage i's timestamp is the user's
    * earliest step-i event after their stage-(i−1) time.
    *
    * Shape: one filtered groupBy per step plus one user-keyed
    * equi-join per stage transition — state per stage is ONE ROW PER
    * SURVIVING USER (never the event history), so the funnel scales
    * with users, not events, and skips any per-user event-array
    * materialization (a bot with 10⁸ events costs its groupBy, not
    * memory). Stage counts are single-row aggregates unioned lazily —
    * no driver action. `conv_permille` is vs stage 1. */
  def funnel(events: DataFrame, steps: Seq[String], userCol: String = "user_id",
             tsSecCol: String = "ts_sec", typeCol: String = "event_type"): DataFrame = {
    require(steps.size >= 2, s"a funnel needs >= 2 steps, got ${steps.size}")
    def stageOne(step: String): DataFrame =
      events.where(col(typeCol) === step)
        .groupBy(col(userCol).as("user")).agg(min(col(tsSecCol)).as("t"))
    val stages = steps.tail.scanLeft(stageOne(steps.head)) { (cur, step) =>
      events.where(col(typeCol) === step)
        .select(col(userCol).as("user"), col(tsSecCol).as("t2"))
        .join(cur, "user")
        .where(col("t2") > col("t"))
        .groupBy(col("user")).agg(min(col("t2")).as("t"))
    }
    val base = broadcast(stages.head.agg(count(lit(1)).as("base_users")))
    stages.zip(steps).zipWithIndex.map { case ((s, step), i) =>
      s.agg(count(lit(1)).as("n_users"))
        .select(lit((i + 1).toLong).as("stage"), lit(step).as("step"), col("n_users"))
    }.reduce(_ unionAll _)
      .crossJoin(base)
      .select(col("stage"), col("step"), col("n_users"),
        when(col("base_users") > 0, expr("(n_users * 1000) DIV base_users"))
          .as("conv_permille"))
  }

  /** Cohort retention: users bucketed by their first-activity period
    * (cohort), counted again in every later period they return.
    * Output: (cohort, offset, n_users, retained_permille vs offset 0).
    *
    * Shape: one distinct over (user, period) — the only corpus-sized
    * shuffle — then a min-per-user cohort (map-side combinable), a
    * user-keyed join of one row per user, and a final small groupBy on
    * (cohort, offset). Distinct activity is bounded by users × periods
    * regardless of raw event volume. */
  def retention(events: DataFrame, periodSec: Long, userCol: String = "user_id",
                tsSecCol: String = "ts_sec"): DataFrame = {
    require(periodSec > 0, s"periodSec must be positive, got $periodSec")
    val act = events
      .select(col(userCol).as("user"),
        expr(s"$tsSecCol DIV $periodSec").as("period"))
      .distinct()
    val cohort = act.groupBy(col("user")).agg(min(col("period")).as("cohort"))
    val counts = act.join(cohort, "user")
      .groupBy(col("cohort"), (col("period") - col("cohort")).as("offset"))
      .agg(count(lit(1)).as("n_users"))
    val base = counts.where(col("offset") === 0)
      .select(col("cohort"), col("n_users").as("base_users"))
    counts.join(base, "cohort")
      .select(col("cohort"), col("offset"), col("n_users"),
        expr("(n_users * 1000) DIV base_users").as("retained_permille"))
  }

  /** Referential-integrity audit across a set of FK edges: for each
    * (child, fkCol) → (parent, pkCol) relation, the child row count
    * and how many child rows point at no parent (orphans; NULL FKs
    * counted separately). The lake QA check run before trusting a
    * join. Each edge is one LEFT ANTI join on the key — Catalyst
    * broadcasts the parent when small; orphan counting never shuffles
    * more than the child's keys. */
  def fkAudit(edges: Seq[(String, DataFrame, String, DataFrame, String)]): DataFrame = {
    require(edges.nonEmpty, "fkAudit needs at least one FK edge")
    edges.map { case (name, child, fkCol, parent, pkCol) =>
      val total = child.agg(count(lit(1)).as("n_rows"),
        count(lit(1)).minus(count(col(fkCol))).as("n_null_fk"))
      val orphans = child.where(col(fkCol).isNotNull)
        .join(parent.select(col(pkCol)).distinct(),
          col(fkCol) === col(pkCol), "left_anti")
        .agg(count(lit(1)).as("n_orphans"))
      total.crossJoin(orphans)
        .select(lit(name).as("relation"), col("n_rows"), col("n_null_fk"),
          col("n_orphans"))
    }.reduce(_ unionAll _)
  }

  def keySkewProfile(df: DataFrame, keyCol: String, topN: Int = 10): DataFrame = {
    val counts = df.groupBy(col(keyCol)).agg(count(lit(1)).as("cnt"))
    val totals = counts.agg(sum(col("cnt")).as("n_rows"),
      count(lit(1)).as("n_keys"), max(col("cnt")).as("max_cnt"))
    val top = topK(counts, Seq(col("cnt").desc, col(keyCol)), topN)
      .agg(coalesce(sum(col("cnt")), lit(0L)).as("topn_rows"))
    totals.crossJoin(top).select(
      col("n_rows"), col("n_keys"), col("max_cnt"),
      expr("n_rows DIV n_keys").as("avg_cnt"),
      expr("(max_cnt * n_keys * 1000) DIV n_rows").as("skew_ratio_permille"),
      expr("(max_cnt * 1000) DIV n_rows").as("top1_permille"),
      expr("(topn_rows * 1000) DIV n_rows").as("topn_permille"))
  }

  /** Mergeable per-key aggregate state — the incremental
    * materialized-view pattern: a daily/hourly ingest computes state
    * over its DELTA only, and the serving table is the MERGE of
    * states, never a recompute over history. At 100 TB that converts
    * an O(corpus) nightly aggregation into O(delta): each state is
    * one map-side-combinable groupBy over its slice, and the merge
    * aggregates |keys|-sized state tables, not rows.
    *
    * State columns are chosen mergeable by construction: count and
    * sum merge by sum, min/max by min/max (avg is derived at read
    * time as sum÷count — never stored, since avg does not merge).
    * `valueCents` must be an exact-integer column (cents fixed-point
    * — float sums would make merge order observable). */
  def aggState(df: DataFrame, keys: Seq[Column], valueCents: Column): DataFrame =
    df.groupBy(keys: _*)
      .agg(count(lit(1)).as("n_rows"),
        sum(valueCents).as("sum_cents"),
        min(valueCents).as("min_cents"),
        max(valueCents).as("max_cents"))

  /** Snapshot diff — the data-reconciliation operator: given two
    * versions of a keyed table, classify every key as `insert`
    * (new-only), `delete` (old-only), or `update` (present in both
    * with any compared column changed). The daily "what changed
    * between yesterday's export and today's" audit, and the input to
    * a CDC backfill when no binlog exists.
    *
    * Change detection hashes the compared columns per side (one
    * md5 per row — null-safe via a sentinel, field-separated so
    * ("a","bc") ≠ ("ab","c")) and compares hashes INSIDE the engine;
    * the emitted verdicts are hash-free, so an oracle can reach the
    * identical classification with plain IS DISTINCT FROM — no
    * cross-engine hash-format coupling. Scale shape: one
    * hash-partitioned full-outer join on the key; the hash collapses
    * arbitrarily wide compare lists to one 32-char column before the
    * shuffle, so shuffle width is keys + 32 bytes per side. */
  def snapshotDiff(oldSnap: DataFrame, newSnap: DataFrame,
                   keys: Seq[String], compareCols: Seq[String]): DataFrame = {
    require(keys.nonEmpty && compareCols.nonEmpty, "need keys and compare columns")
    def hashed(df: DataFrame, h: String): DataFrame =
      df.select(keys.map(col) :+
        md5(concat_ws("\u0001",
          compareCols.map(c => coalesce(col(c).cast("string"), lit("\u0000"))): _*))
          .as(h): _*)
    val o = hashed(oldSnap, "__oh")
    val n = hashed(newSnap, "__nh")
    o.join(n, keys, "full_outer")
      .withColumn("change",
        when(col("__oh").isNull, lit("insert"))
          .when(col("__nh").isNull, lit("delete"))
          .when(col("__oh") =!= col("__nh"), lit("update"))
          .otherwise(lit("same")))
      .filter(col("change") =!= "same")
      .select(keys.map(col) :+ col("change"): _*)
  }

  /** Merge aggregate states produced by [[aggState]] over disjoint
    * slices: one union + one groupBy over state-table-sized input.
    * Associative and commutative — slices can merge in any order or
    * stepwise (yesterday's merged state + today's delta). */
  def mergeAggStates(states: Seq[DataFrame], keyCols: Seq[String]): DataFrame = {
    require(states.nonEmpty, "need at least one state to merge")
    states.reduce(_ unionByName _)
      .groupBy(keyCols.map(col): _*)
      .agg(sum(col("n_rows")).as("n_rows"),
        sum(col("sum_cents")).as("sum_cents"),
        min(col("min_cents")).as("min_cents"),
        max(col("max_cents")).as("max_cents"))
  }

  /** EXACT incremental COUNT DISTINCT state — the exact twin of a
    * per-key `hll_sketch_agg` state: per-delta state is the distinct
    * (key, value) pair set, so state size is bounded by the true cardinality
    * (vs the sketch's O(1) registers at ±2% error — pick per key
    * budget). Same algebra as the sketch: merge is union+distinct —
    * associative, commutative, and idempotent per value, so replayed
    * deltas are harmless. NULL values are excluded, matching SQL
    * COUNT(DISTINCT) and the HLL sketch (both skip nulls); a key whose
    * values are ALL null carries no state and is absent from
    * [[distinctCountExact]] (state-based counting cannot represent
    * empty groups — join against the key dimension if 0-rows are
    * needed). */
  def distinctStateExact(df: DataFrame, keys: Seq[Column], valueCol: Column): DataFrame =
    df.select(keys :+ valueCol.as("v"): _*).filter(col("v").isNotNull).distinct()

  /** Union [[distinctStateExact]] states across delta slices. The
    * distinct re-dedups values appearing in several slices — one
    * shuffle on (keys, v), map-side combinable. */
  def mergeDistinctStatesExact(states: Seq[DataFrame]): DataFrame = {
    require(states.nonEmpty, "need at least one state to merge")
    states.reduce(_ unionByName _).distinct()
  }

  /** Exact distinct counts off a merged [[distinctStateExact]] table. */
  def distinctCountExact(state: DataFrame, keyCols: Seq[String]): DataFrame =
    state.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("n_distinct"))

  /** Mergeable HISTOGRAM state for incremental quantile maintenance —
    * the missing mergeable profile aggregate (count/sum/min/max merge
    * in [[aggState]], distinct in [[distinctStateExact]]; order
    * statistics don't merge, bucket counts do): per (key, bucket =
    * value DIV bucketWidth) row counts. State is O(value range /
    * bucketWidth) per key regardless of row count; merge is a plain
    * count sum — associative and commutative (NOT idempotent: a
    * replayed delta double-counts, same contract as [[aggState]]).
    * `valueCol` must be integer-valued (the engine's exactness
    * discipline — floats go through fixed-point first). Negative
    * values floor correctly (`floorDiv`, not truncation). */
  def histogramState(df: DataFrame, keys: Seq[Column], valueCol: Column,
                     bucketWidth: Long): DataFrame = {
    require(bucketWidth > 0, "bucketWidth must be positive")
    df.select(keys :+ valueCol.cast("long").as("__v"): _*)
      .filter(col("__v").isNotNull)
      .withColumn("bucket", // exact integer floor division (pmod → div)
        expr(s"(__v - pmod(__v, ${bucketWidth}L)) div ${bucketWidth}L"))
      .groupBy(keys :+ col("bucket"): _*)
      .agg(count(lit(1)).as("n"))
  }

  def mergeHistogramStates(states: Seq[DataFrame], keyCols: Seq[String]): DataFrame = {
    require(states.nonEmpty, "need at least one state to merge")
    states.reduce(_ unionByName _)
      .groupBy((keyCols :+ "bucket").map(col): _*)
      .agg(sum(col("n")).as("n"))
  }

  /** Bucket-grain quantiles off a merged [[histogramState]]: for each
    * requested q (permille), the smallest bucket whose cumulative
    * count reaches ⌈q·total/1000⌉, reported as the bucket's LOWER
    * BOUND (bucket·width) — a deterministic integer rule both engines
    * compute identically, with error bounded by bucketWidth. One
    * window pass per key; the q list is broadcast via explode. */
  def histogramQuantiles(state: DataFrame, keyCols: Seq[String],
                         qsPermille: Seq[Int], bucketWidth: Long): DataFrame = {
    require(qsPermille.nonEmpty && qsPermille.forall(q => q >= 1 && q <= 1000),
      "quantiles must be permille values in [1, 1000]")
    val kc = keyCols.map(col)
    val w = Window.partitionBy(kc: _*).orderBy(col("bucket"))
    val cum = state
      .withColumn("cum", sum(col("n")).over(w))
      .withColumn("total", sum(col("n")).over(Window.partitionBy(kc: _*)))
    cum.withColumn("q", explode(array(qsPermille.map(lit): _*)))
      .filter(col("cum") * 1000 >= col("q") * col("total"))
      .groupBy((kc :+ col("q")): _*)
      .agg(min(col("bucket")).as("__b"))
      .select(kc ++ Seq(col("q"),
        (col("__b") * bucketWidth).as("quantile_lo")): _*)
  }

  /** K-MINIMUM-VALUES distinct sketch (bottom-k, Bar-Yossef 2002) —
    * the O(k)-state approximate COUNT DISTINCT whose ESTIMATE is a
    * deterministic integer both engines reproduce exactly: state is
    * the k smallest 32-bit md5-prefix hashes of the distinct values
    * per key. Mergeable like the HLL registers (union → re-take
    * bottom-k; idempotent per value, so replayed deltas are
    * harmless) — but where HLL register bytes are engine-specific,
    * the KMV state and estimate are portable md5 arithmetic, so the
    * sketch itself hash-matches a DuckDB replay. Estimate:
    * (k−1)·2³²/h₍ₖ₎, exact below k. One shuffle on (keys, hash);
    * the bottom-k window is per-key. */
  def kmvState(df: DataFrame, keys: Seq[Column], valueCol: Column,
               k: Int): DataFrame = {
    require(k >= 2, "kmv needs k >= 2")
    import graft.functions.HexSliceLong.hex_slice_long
    val hashed = df.select(keys :+ valueCol.cast("string").as("__s"): _*)
      .filter(col("__s").isNotNull)
      .withColumn("h",
        hex_slice_long(md5(concat(lit("kmv|"), col("__s")).cast("binary")), 0))
      .drop("__s").distinct()
    topNPerGroup(hashed, keys, Seq(col("h")), k, rankCol = "__rn").drop("__rn")
  }

  def mergeKmvStates(states: Seq[DataFrame], keyCols: Seq[String],
                     k: Int): DataFrame = {
    require(states.nonEmpty, "need at least one state to merge")
    topNPerGroup(states.reduce(_ unionByName _).distinct(),
      keyCols.map(col), Seq(col("h")), k, rankCol = "__rn").drop("__rn")
  }

  /** (key, n_state, est_distinct) off a merged [[kmvState]]. */
  def kmvDistinctEstimate(state: DataFrame, keyCols: Seq[String],
                          k: Int): DataFrame =
    state.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("n_state"), max(col("h")).as("__hk"))
      .withColumn("est_distinct",
        when(col("n_state") < k, col("n_state"))
          .otherwise(expr(s"(${k - 1}L * 4294967296L) div __hk")))
      .drop("__hk")

  /** Pairwise SET-OPERATION estimates between every two keys' KMV
    * sketches (Beyer et al., SIGMOD 2007): union, intersection and
    * Jaccard/containment for each unordered key pair (key_a < key_b),
    * computed entirely from the O(#keys · k) sketch — the corpus is
    * never joined against itself. KMV set algebra: the bottom-k of
    * the two sketches' hash union IS the union's sketch (so
    * [[kmvDistinctEstimate]]'s estimator applies directly), and
    * within those state rows the fraction carried by BOTH input
    * sketches estimates Jaccard (ρ/k); intersection = Jaccard ×
    * union. Every output is a deterministic integer off the md5
    * hashes, so a DuckDB replay hash-matches it exactly.
    *
    * Shape: the only corpus-sized work is building `state` upstream;
    * here the model-small distinct-key list is broadcast under an
    * inequality condition to enumerate pairs (BroadcastNestedLoopJoin
    * of a sketch against #keys rows — sketch-sized, never data×data),
    * then one groupBy on (pair, h) and one per-pair window. At any
    * corpus size the cost is O(#keys² · k). */
  def kmvOverlap(state: DataFrame, keyCol: String, k: Int): DataFrame = {
    val keys = state.select(col(keyCol)).distinct()
    // each sketch row, replicated into every pair it belongs to —
    // once as the left member, once as the right
    val asA = state.join(broadcast(keys.select(col(keyCol).as("key_b"))),
        col(keyCol) < col("key_b"))
      .select(col(keyCol).as("key_a"), col("key_b"), col("h"),
        lit(1).as("in_a"), lit(0).as("in_b"))
    val asB = state.join(broadcast(keys.select(col(keyCol).as("key_a"))),
        col("key_a") < col(keyCol))
      .select(col("key_a"), col(keyCol).as("key_b"), col("h"),
        lit(0).as("in_a"), lit(1).as("in_b"))
    val memb = asA.unionByName(asB)
      .groupBy(col("key_a"), col("key_b"), col("h"))
      .agg(max(col("in_a")).as("in_a"), max(col("in_b")).as("in_b"))
    // bottom-k of the hash union = the union's own KMV sketch
    val st = topNPerGroup(memb, Seq(col("key_a"), col("key_b")),
      Seq(col("h")), k, rankCol = "__rn").drop("__rn")
    st.groupBy(col("key_a"), col("key_b"))
      .agg(count(lit(1)).as("n_state"), max(col("h")).as("__hk"),
        sum(col("in_a") * col("in_b")).as("n_shared"))
      .withColumn("est_union",
        when(col("n_state") < k, col("n_state"))
          .otherwise(expr(s"(${k - 1}L * 4294967296L) div __hk")))
      .withColumn("est_inter",
        expr("(n_shared * est_union) div n_state"))
      .withColumn("jaccard_permille",
        expr("(1000 * n_shared) div n_state"))
      .drop("__hk")
  }

  /** WEIGHTED PRIORITY SAMPLE state (Duffield–Lund–Thorup, JACM 2007)
    * — the mergeable SAMPLING summary completing the profile-state
    * family: [[aggState]] keeps totals, [[kmvState]] cardinality,
    * [[histogramState]] quantiles, [[cmsState]] point frequencies,
    * [[bloomState]] membership — this keeps k REPRESENTATIVE ROWS,
    * weight-biased, from which any a-posteriori subset-sum (a
    * predicate decided AFTER the pass) is estimated without
    * rescanning the corpus. Priority sampling is within a 1+O(1/√k)
    * factor of the optimal subset-sum variance for ANY weight
    * distribution (Szegedy 2006), which is why it beats both uniform
    * sampling (misses heavy items) and threshold sampling (variable
    * size) as the one sample a profile store should carry.
    *
    * Determinism contract: item priority q_i = w_i/u_i with
    * u_i ∈ (0,1] uniform is encoded as the integer sort key
    * r_i = (u32_i · 2²⁰) div w_i (u32 = md5 32-bit slice + 1; small
    * r = large priority), a pure function of (id, weight) — so the
    * state is idempotent under replayed segments (distinct() absorbs
    * them, the [[kmvState]] contract) and mergeable by union →
    * re-bottom-(k+1). The (k+1)-th smallest key defines the
    * threshold τ; the first k rows are the sample. Requires `weight`
    * to be a pure attribute of `id` (the same id must not carry
    * different weights across segments).
    *
    * Scale shape: one narrow scan computing r (one md5 per row), one
    * shuffle on the group keys, per-group bottom-(k+1) window —
    * state is O(#keys · k) forever, like every sketch in the family. */
  def sampleState(df: DataFrame, keys: Seq[Column], idCol: Column,
                  weightCol: Column, k: Int,
                  payload: Seq[Column] = Nil): DataFrame = {
    require(k >= 2, s"priority sample needs k >= 2, got $k")
    import graft.functions.HexSliceLong.hex_slice_long
    // payload columns ride along so a-posteriori predicates can read
    // item attributes off the sample; like `weight`, each must be a
    // pure attribute of `id` or segment-replay idempotence breaks
    val rows = df.select(keys ++ payload ++ Seq(idCol.cast("string").as("id"),
        weightCol.cast("long").as("w")): _*)
      .filter(col("id").isNotNull && col("w") > 0)
      .withColumn("u32",
        hex_slice_long(md5(concat(lit("samp|"), col("id")).cast("binary")), 0) + 1)
      .withColumn("skey", expr("(u32 * 1048576) div w"))
      .distinct()
    topNPerGroup(rows, keys, Seq(col("skey"), col("id")), k + 1, rankCol = "__rn")
      .drop("__rn")
  }

  /** Union → dedup (idempotent: skey is a pure function of the row) →
    * re-bottom-(k+1): sample-of-union ≡ union-of-samples, because the
    * k+1 smallest keys of a union are among each part's k+1 smallest. */
  def mergeSampleStates(states: Seq[DataFrame], keyCols: Seq[String],
                        k: Int): DataFrame = {
    require(states.nonEmpty, "need at least one state to merge")
    topNPerGroup(states.reduce(_ unionByName _).distinct(),
      keyCols.map(col), Seq(col("skey"), col("id")), k + 1, rankCol = "__rn")
      .drop("__rn")
  }

  /** Subset-sum estimate off a merged [[sampleState]]: per key group,
    * Σ over sampled rows (rank ≤ k) matching `predicate` of
    * max(w_i, τ̂) — the DLT estimator, exact when the group holds ≤ k
    * items (τ̂ = 0: the "sample" is a census). τ̂ converts the
    * (k+1)-th smallest sort key back to weight units:
    * r = u·2²⁰/w  ⇒  boundary weight ≈ u32·2²⁰/r ≤ 2⁵²/r, encoded as
    * the deterministic integer rule τ̂ = 2⁵² div max(r_{k+1}, 1) —
    * every number replays exactly in DuckDB. Output: (keys, n_sample,
    * n_match, est_sum, with n_match/est_sum over the predicate). */
  def prioritySampleEstimate(state: DataFrame, keyCols: Seq[String],
                             k: Int, predicate: Column): DataFrame = {
    val kc = keyCols.map(col)
    val win = Window.partitionBy(kc: _*).orderBy(col("skey"), col("id"))
    val grp = Window.partitionBy(kc: _*)
    // one sort pass attaches rank, then the group window lifts the
    // (k+1)-th key to every row as τ̂ (NULL = group is a census, τ̂=0);
    // the state is O(#keys · k), so this is model-sized work however
    // large the corpus that built it was
    val ranked = state.withColumn("__rn", row_number().over(win))
      .withColumn("__k1",
        max(when(col("__rn") === k + 1, col("skey"))).over(grp))
      .withColumn("__tau",
        when(col("__k1").isNull, lit(0L)).otherwise(
          expr("4503599627370496 div (CASE WHEN __k1 > 0 THEN __k1 ELSE 1 END)")))
    ranked.filter(col("__rn") <= k)
      .groupBy(kc: _*)
      .agg(
        count(lit(1)).as("n_sample"),
        sum(when(predicate, 1L).otherwise(0L)).as("n_match"),
        sum(when(predicate, greatest(col("w"), col("__tau"))).otherwise(0L))
          .as("est_sum"))
  }

  /** MISRA–GRIES heavy-hitters state (Misra & Gries 1982; merge rule
    * of Agarwal et al., "Mergeable Summaries", PODS 2012) — the
    * mergeable FREQUENT-ITEMS summary joining the profile-state
    * family: where [[cmsState]] answers point-frequency probes with a
    * one-sided OVERcount, this keeps the ≤ k candidate heavy values
    * themselves with a one-sided UNDERcount — the two sketches bracket
    * the truth from opposite sides. This is the STORED, mergeable form
    * of the same summary the [[graft.functions.FreqTopK]] native
    * aggregate computes in-query: that one streams per-partition and
    * merges inside one aggregation; this one keeps per-delta partials
    * and re-merges them at read time. Guarantees (n = total items in the
    * key group, at ANY merge topology): every stored counter satisfies
    * n̂(v) ≤ n(v) ≤ n̂(v) + n div (k+1), and every value with
    * n(v) > n/(k+1) is present. The bound survives merging because each
    * trim subtracts its δ from ≥ k+1 positive counters, so Σδ ≤
    * n/(k+1) by mass accounting — the PODS 2012 potential argument.
    *
    * Determinism contract (why the DuckDB oracle hash-matches): the
    * state is a pure function of the input MULTISET, not of any
    * processing order — counts are exact pre-trim, and the trim
    * subtracts the (k+1)-st largest count from ALL counters, so
    * boundary ties zero out together no matter how row_number broke
    * them. No hashing anywhere: every number is an exact integer.
    *
    * Scale shape: exact counts first — one map-side-combinable shuffle
    * on (keys, v), so nothing downstream ever touches the event
    * stream; the trim finds c₍k+1₎ through the count-of-counts
    * histogram (see [[mgTrim]] — no per-key sort of the counter
    * table), and the stored state is O(#keys · k) forever. Merge is
    * a sum + re-trim (associative/commutative, NOT idempotent —
    * replayed deltas double-count, the [[aggState]] contract). */
  def mgState(df: DataFrame, keys: Seq[Column], valueCol: Column,
              k: Int): DataFrame = {
    require(k >= 1, s"Misra-Gries needs k >= 1 counters, got $k")
    val rows = df.select(keys :+ valueCol.cast("string").as("v"): _*)
      .filter(col("v").isNotNull)
    mgTrim(rows.groupBy(rows.columns.map(col): _*)
      .agg(count(lit(1)).as("n")), k)
  }

  /** One deterministic MG trim: subtract the (k+1)-st largest count
    * (0 when the group is a ≤ k census) from every counter, keep the
    * strictly positive ones — at most k survive, and survivors are
    * exactly {v : n(v) > c₍k+1₎} regardless of tie order.
    *
    * The (k+1)-st largest is found through the COUNT-OF-COUNTS
    * histogram, not a per-key sort of the counter table: c₍k+1₎ is the
    * largest count level whose descending cumulative multiplicity
    * reaches k+1. The windowed relation is count LEVELS per key
    * (bounded by the max multiplicity — thousands, not the value
    * domain), so a key with 10⁸ distinct values never funnels through
    * one reducer's sort; the boundary table is one row per key,
    * broadcast back into the counter scan. */
  private def mgTrim(counts: DataFrame, k: Int): DataFrame = {
    val kc = counts.columns.filterNot(Set("v", "n")).map(col).toSeq
    val keyNames = counts.columns.filterNot(Set("v", "n")).toSeq
    val hist = counts.groupBy(kc :+ col("n"): _*).agg(count(lit(1)).as("__nv"))
    val w = Window.partitionBy(kc: _*).orderBy(col("n").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val boundary = hist.withColumn("__cum", sum(col("__nv")).over(w))
      .filter(col("__cum") >= k + 1)
      .groupBy(kc: _*).agg(max(col("n")).as("__ck1"))
    // left: a ≤ k census key has no boundary row → subtract 0
    val joined =
      if (keyNames.isEmpty) // global (un-keyed) state: one boundary row
        counts.join(broadcast(boundary), lit(true), "left")
      else counts.join(broadcast(boundary), keyNames, "left")
    joined
      .withColumn("n", col("n") - coalesce(col("__ck1"), lit(0L)))
      .filter(col("n") > 0)
      .drop("__ck1")
  }

  /** Union → counter sum → one re-trim. The multi-way form trims once
    * over the summed counters, so merge(AB) ≡ merge(BA) by
    * construction and the n/(k+1) bound holds by the same mass
    * accounting as the pairwise rule. */
  def mergeMgStates(states: Seq[DataFrame], keyCols: Seq[String],
                    k: Int): DataFrame = {
    require(states.nonEmpty, "need at least one state to merge")
    mgTrim(states.reduce(_ unionByName _)
      .groupBy((keyCols :+ "v").map(col): _*)
      .agg(sum(col("n")).as("n")), k)
  }

  /** COUNT-MIN SKETCH state (Cormode & Muthukrishnan 2005) — the
    * mergeable POINT-FREQUENCY sketch completing the profile-state
    * family: [[aggState]] keeps totals, [[kmvState]]/[[distinctStateExact]]
    * keep cardinality, the CMS answers "how often does value v occur
    * under key k" in O(depth · width) state per key regardless of the
    * value domain. State rows are (keys, row_i, pos, n): each input
    * value lands in one bucket per hash row (pos = 32-bit md5 slice of
    * "cms<i>|<value>" mod width), so the state is a plain bucket-count
    * table — merge is a count sum (associative/commutative, NOT
    * idempotent: replayed deltas double-count, the [[aggState]]
    * contract). Every number is deterministic integer
    * md5 arithmetic, so a DuckDB replay hash-matches the sketch AND
    * its estimates exactly.
    *
    * Scale shape: the explode multiplies scan rows by `depth` (the d
    * hashes per item CMS requires), but the shuffle output is capped
    * at O(#keys · depth · width) by map-side combine — the corpus
    * never moves. */
  /** All `depth` row positions for one value off ⌈depth/4⌉ digests —
    * row i reads the (i mod 4)-th 32-bit slice of digest "cms|" (i<4)
    * or "cms2|" (i≥4); one digest carries four hash rows, so the scan
    * path pays ¼ the md5 work of a digest-per-row scheme (the
    * [[amsState]] coin economy). */
  private def cmsPositions(s: Column, depth: Int, width: Int): Seq[Column] = {
    import graft.functions.HexSliceLong.hex_slice_long
    (0 until depth).map { i =>
      val m = md5(concat(lit(if (i < 4) "cms|" else "cms2|"), s).cast("binary"))
      pmod(hex_slice_long(m, (i % 4) * 8), lit(width.toLong))
    }
  }

  def cmsState(df: DataFrame, keys: Seq[Column], valueCol: Column,
               depth: Int = 4, width: Int = 512): DataFrame = {
    require(depth >= 1 && depth <= 8, s"depth must be in [1, 8], got $depth")
    require(width >= 16, s"width must be >= 16, got $width")
    df.select(keys :+ valueCol.cast("string").as("__s"): _*)
      .filter(col("__s").isNotNull)
      .select(keys :+ posexplode(array(cmsPositions(col("__s"), depth, width): _*))
        .as(Seq("row_i", "pos")): _*)
      .groupBy(keys ++ Seq(col("row_i"), col("pos")): _*)
      .agg(count(lit(1)).as("n"))
  }

  /** Sum-merge [[cmsState]] partials across delta slices (bucket
    * counts are linear, so merge(state(deltas)) ≡ recompute). */
  def mergeCmsStates(states: Seq[DataFrame], keyCols: Seq[String]): DataFrame = {
    require(states.nonEmpty, "need at least one state to merge")
    states.reduce(_ unionByName _)
      .groupBy((keyCols ++ Seq("row_i", "pos")).map(col): _*)
      .agg(sum(col("n")).as("n"))
  }

  /** Point-frequency estimates off a merged [[cmsState]]: for each
    * probe row (keys, v), n_est = min over the depth hash rows of that
    * row's bucket count — the classic CMS upper bound (n_est ≥ true
    * count always; overshoot is collision mass, E ≤ N/width per row,
    * min over depth rows). A probe whose buckets are not ALL present
    * in the state has true count 0 and estimates 0. `probes` must be
    * distinct (keys, probeCol) rows and model-small — it is broadcast
    * into one hash join against the state; the corpus is never
    * touched. */
  def cmsEstimate(state: DataFrame, keyCols: Seq[String], probes: DataFrame,
                  probeCol: String, depth: Int, width: Int): DataFrame = {
    val pr = probes
      .select(probes.columns.map(col) :+ posexplode(array(
        cmsPositions(col(probeCol).cast("string"), depth, width): _*))
        .as(Seq("row_i", "pos")): _*)
    // inner hash join state→broadcast probes, then re-attach probes
    // that hit no bucket at all (their estimate is 0)
    val hits = state.join(broadcast(pr), keyCols ++ Seq("row_i", "pos"))
      .groupBy((keyCols :+ probeCol).map(col): _*)
      .agg(min(col("n")).as("__minn"), count(lit(1)).as("__found"))
    probes.join(hits, keyCols :+ probeCol, "left")
      .withColumn("n_est",
        when(col("__found") === depth, col("__minn")).otherwise(0L))
      .drop("__minn", "__found")
  }

  /** AMS (Alon–Matias–Szegedy 1996) SECOND-FREQUENCY-MOMENT sketch —
    * estimates F₂ = Σ_v f(v)², the SELF-JOIN SIZE on the value column
    * (the statistic a join planner wants before committing to a
    * shuffle: F₂ big ⇒ the equi-join on this key explodes / is
    * skewed), in O(k) counters per key at any value-domain size.
    * State: Z_j = Σ_v s_j(v)·f(v) for k independent ±1 md5 sign coins
    * s_j — E[Z_j²] = F₂. Counters are LINEAR in the counts, so merge
    * is a plain sum (associative/commutative, NOT idempotent — the
    * [[aggState]] contract).
    * Deterministic integer arithmetic end to end: the oracle replays
    * state AND estimate exactly.
    *
    * Scale shape: counts aggregate FIRST (one map-side-combinable
    * shuffle on (keys, v)); the k-way explode runs over the DISTINCT
    * value table, never the event stream — shuffle output is
    * O(#keys · k). */
  def amsState(df: DataFrame, keys: Seq[Column], valueCol: Column,
               k: Int = 64): DataFrame = {
    require(k >= 8 && k <= 64 && k % 8 == 0,
      s"k must be a multiple of 8 in [8, 64]; got $k")
    import graft.functions.HexSliceLong.hex_slice_long
    val cnt = df.select(keys :+ valueCol.cast("string").as("__s"): _*)
      .filter(col("__s").isNotNull)
      .groupBy(keys :+ col("__s"): _*).agg(count(lit(1)).as("__n"))
    // ONE digest per distinct value carries all k sign coins (bit j of
    // the first two 32-bit slices) — not a digest per (value, j)
    def slice(pos: Int) = hex_slice_long(
      md5(concat(lit("ams|"), col("__s")).cast("binary")), pos)
    cnt.withColumn("__h1", slice(0)).withColumn("__h2", slice(8))
      .withColumn("j", explode(array((0 until k).map(lit): _*)))
      .withColumn("__sign", expr(
        "(shiftright(CASE WHEN j < 32 THEN __h1 ELSE __h2 END, j % 32) & 1) * 2 - 1"))
      .groupBy(keys :+ col("j"): _*)
      .agg(sum(col("__sign") * col("__n")).as("z"))
  }

  /** Sum-merge [[amsState]] partials (counters are linear). */
  def mergeAmsStates(states: Seq[DataFrame], keyCols: Seq[String]): DataFrame = {
    require(states.nonEmpty, "need at least one state to merge")
    states.reduce(_ unionByName _)
      .groupBy((keyCols :+ "j").map(col): _*)
      .agg(sum(col("z")).as("z"))
  }

  /** F₂ estimate off a merged [[amsState]]: the classic
    * median-of-means — mean of Z² within each group of 8 counters
    * (integer div), LOWER median across the k/8 group means (the
    * ⌈g/2⌉-th ascending value — a deterministic integer rule both
    * engines compute identically). Range note: Z² stays in Long up to
    * \|Z\| ≈ 3·10⁹ (≳ 3 billion rows per key); beyond that Spark's
    * ANSI mode fails LOUDLY (never a silent wrap) — lift the squaring
    * to DECIMAL(38,0) on BOTH engines if a key ever carries that. */
  def amsF2Estimate(state: DataFrame, keyCols: Seq[String], k: Int): DataFrame = {
    val g = k / 8
    val means = state
      .withColumn("grp", expr("j div 8"))
      .groupBy((keyCols :+ "grp").map(col): _*)
      .agg(expr("sum(z * z) div 8").as("gm"))
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(col("gm"), col("grp"))
    means.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === (g + 1) / 2)
      .select(keyCols.map(col) :+ col("gm").as("f2_est"): _*)
  }

  /** JOIN-SIZE estimate from two [[amsState]]s built with the SAME
    * sign coins over the join column: |A ⋈ B| = Σ_v f_A(v)·f_B(v) and
    * E[Z_A,j·Z_B,j] is exactly that inner product — the pre-shuffle
    * cardinality estimate a planner wants before picking a strategy,
    * computed from 2·k counters without executing (or even
    * co-locating) the join. Same mean-of-8 / lower-median-of-8
    * estimator as [[amsF2Estimate]]; the k-row counter join is
    * model-sized. NOTE: products can go negative on near-disjoint
    * inputs — that IS the estimator (E ≈ 0 there), not an error. */
  def amsJoinSizeEstimate(stateA: DataFrame, stateB: DataFrame, k: Int): DataFrame = {
    val g = k / 8
    val prod = stateA.select(col("j"), col("z").as("__za"))
      .join(stateB.select(col("j"), col("z").as("__zb")), Seq("j"))
      .select(col("j"), (col("__za") * col("__zb")).as("p"))
    // products can be negative: DuckDB's integer `//` TRUNCATES
    // toward zero (verified: -7 // 2 = -3) exactly like Spark's
    // `div`, so plain div matches the oracle — a pmod floor here
    // would diverge on any group with a negative non-multiple-of-8
    // product sum (near-disjoint joins)
    val means = prod.withColumn("grp", expr("j div 8"))
      .groupBy(col("grp"))
      .agg(expr("sum(p) div 8").as("gm"))
    means.withColumn("__rn", row_number().over(
        Window.orderBy(col("gm"), col("grp"))))
      .filter(col("__rn") === (g + 1) / 2)
      .select(col("gm").as("join_size_est"))
  }

  /** All `numHashes` bit positions for one value off ⌈n/4⌉ digests
    * (the [[cmsPositions]] economy, prefixes "bloom|"/"bloom2|"). */
  private def bloomPositions(s: Column, numHashes: Int, bits: Int): Seq[Column] = {
    import graft.functions.HexSliceLong.hex_slice_long
    (0 until numHashes).map { i =>
      val m = md5(concat(lit(if (i < 4) "bloom|" else "bloom2|"), s).cast("binary"))
      pmod(hex_slice_long(m, (i % 4) * 8), lit(bits.toLong))
    }
  }

  /** BLOOM membership sketch (Bloom 1970) — the set-membership state
    * completing the sketch suite (cardinality: [[kmvState]]; point
    * frequency: [[cmsState]]; moments: [[amsState]]; membership:
    * here): the set bits of a k-hash Bloom filter as a POSITION-SET
    * relation — rows (keys…, pos) with pos = 32-bit md5 slice of
    * "bloom<i>|<value>" mod `bits`, distinct. Row-per-set-bit is the
    * Spark-native bit array: state is O(min(k·n, bits)) ≤ `bits` rows
    * per key at ANY input size, merge is union+distinct (IDEMPOTENT —
    * replayed deltas are harmless, like [[distinctStateExact]]), and
    * every bit is deterministic md5 integer arithmetic a DuckDB
    * replay reproduces exactly. Use: shipping "does this key exist in
    * that 100 TB table" to the other side of a join at sketch size
    * (the engine-level twin is Spark's runtime bloom join; this one
    * is a MERGEABLE STORED artifact a daily ingest maintains). */
  def bloomState(df: DataFrame, keys: Seq[Column], valueCol: Column,
                 numHashes: Int = 4, bits: Int = 1 << 17): DataFrame = {
    require(numHashes >= 1 && numHashes <= 8, s"numHashes in [1,8], got $numHashes")
    require(bits >= 64, s"bits must be >= 64, got $bits")
    df.select(keys :+ valueCol.cast("string").as("__s"): _*)
      .filter(col("__s").isNotNull)
      .select(keys :+ explode(array(
        bloomPositions(col("__s"), numHashes, bits): _*)).as("pos"): _*)
      .distinct()
  }

  /** Union-merge [[bloomState]] partials (bit OR = position union —
    * idempotent, so at-least-once replays need no segment store). */
  def mergeBloomStates(states: Seq[DataFrame]): DataFrame = {
    require(states.nonEmpty, "need at least one state to merge")
    states.reduce(_ unionByName _).distinct()
  }

  /** Membership probe against a merged [[bloomState]]: for each probe
    * row (keys, v), `might_contain` = ALL `numHashes` positions set —
    * no false negatives ever; false-positive odds ≈ (1−e^(−kn/m))^k.
    * Probes are broadcast (model-small) into one equi-join against
    * the position set. */
  def bloomMightContain(state: DataFrame, keyCols: Seq[String], probes: DataFrame,
                        probeCol: String, numHashes: Int, bits: Int): DataFrame = {
    val pr = probes
      .select(probes.columns.map(col) :+ posexplode(array(
        bloomPositions(col(probeCol).cast("string"), numHashes, bits): _*))
        .as(Seq("__i", "pos")): _*)
    val hits = state.join(broadcast(pr), keyCols :+ "pos")
      .groupBy((keyCols :+ probeCol).map(col): _*)
      .agg(countDistinct(col("__i")).as("__found"))
    probes.join(hits, keyCols :+ probeCol, "left")
      .withColumn("might_contain",
        coalesce(col("__found") === numHashes, lit(false)))
      .drop("__found")
  }
}
