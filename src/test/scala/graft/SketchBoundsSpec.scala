package graft

import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Error-bound validation for the sketch query (`rel_approx_sketches`),
  * which has no cross-engine oracle by design: sketch internals differ
  * per engine, but the DOCUMENTED error bounds can be asserted against
  * the exact answers. Guards against a regression to garbage sketch
  * values that the rows-only driver check would wave through.
  */
class SketchBoundsSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.01"

  test("approx_count_distinct is within 3×rsd of the exact distinct count") {
    val approx = SparkEntry.queries("rel_approx_sketches")(spark, dir)
      .select("l_returnflag", "approx_parts")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = Tables.lineitem(spark, dir)
      .groupBy("l_returnflag")
      .agg(countDistinct(col("l_partkey")).as("nd"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(approx.keySet === exact.keySet)
    exact.foreach { case (flag, nd) =>
      val err = math.abs(approx(flag) - nd).toDouble / nd
      assert(err <= 0.06, s"flag $flag: approx ${approx(flag)} vs exact $nd (err $err > 3×rsd)")
    }
  }

  test("freq_topk honors the Misra–Gries bounds in the approximate regime") {
    import spark.implicits._
    import graft.functions.FreqTopK.freq_topk
    import org.apache.spark.sql.functions._
    // Zipf-ish stream with 200 distinct items, k=16 ≪ 200
    val rnd = new scala.util.Random(7)
    val items = Seq.fill(20000)(s"t${math.min(199, math.abs(rnd.nextGaussian() * 40).toInt)}")
    val k = 16
    val n = items.size.toLong
    val err = n / (k + 1)
    val truth = items.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val est = items.toDF("t").repartition(8)
      .agg(freq_topk(col("t"), k).as("hh"))
      .select(explode(col("hh")).as("x"))
      .select(col("x.item"), col("x.est")).as[(String, Long)].collect().toMap
    assert(est.size <= k)
    est.foreach { case (item, e) =>
      val t = truth(item)
      assert(e <= t && e >= t - err, s"$item: est $e vs true $t (err bound $err)")
    }
    // every heavy item (true > n/(k+1)) must be present
    truth.filter(_._2 > err).keys.foreach { heavy =>
      assert(est.contains(heavy), s"heavy item $heavy missing")
    }
  }

  test("approx percentiles fall within the rank tolerance of the exact order statistics") {
    val res = SparkEntry.queries("rel_approx_sketches")(spark, dir)
      .select("l_returnflag", "p50_price", "p99_price")
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val sorted = Tables.lineitem(spark, dir)
      .groupBy("l_returnflag")
      .agg(sort_array(collect_list(col("l_extendedprice").cast("double"))).as("ps"))
      .collect().map(r => r.getString(0) -> r.getSeq[Double](1)).toMap
    for ((flag, (p50, p99)) <- res; ps = sorted(flag); n = ps.length) {
      // percentile_approx(accuracy=1000) guarantees rank error ≤ n/1000;
      // allow 2× slack plus a floor for tiny groups
      val tol = math.max(2, 2 * n / 1000)
      def within(v: Double, p: Double): Boolean = {
        val target = math.min(n - 1, math.max(0, math.ceil(p * n).toInt - 1))
        val lo = ps(math.max(0, target - tol))
        val hi = ps(math.min(n - 1, target + tol))
        v >= lo && v <= hi
      }
      assert(within(p50, 0.5), s"flag $flag p50 $p50 outside rank tolerance")
      assert(within(p99, 0.99), s"flag $flag p99 $p99 outside rank tolerance")
    }
  }

  test("freq_topk Misra–Gries bounds hold over sf0.1 testdata with k ≪ distinct") {
    import graft.functions.FreqTopK.freq_topk
    import graft.operators.Dedup
    // The synthetic corpus vocabulary is uniform (31 tokens, no natural
    // Zipf), so impose a deterministic power-law skew over the REAL
    // token stream: tokens starting with 's' weigh 64×. ~2.5M-row
    // stream, k=8 ≪ 31 distinct — the genuine approximate regime
    // (decrement + summary-merge paths) at bench scale, with exact
    // counts computed in-Spark over the same stream.
    val toks = Tables.documents(spark, "/root/testdata/sf0.1")
      .select(explode(Dedup.tokens(col("text"))).as("t0"))
      .select(explode(array_repeat(col("t0"),
        when(col("t0").startsWith("s"), 64).otherwise(1))).as("t"))
    val k = 8
    val exact = toks.groupBy(col("t")).agg(count(lit(1)).as("c"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = exact.values.sum
    val err = n / (k + 1)
    assert(exact.size >= 3 * k, s"need k ≪ distinct (k=$k, distinct=${exact.size})")
    val est = toks.repartition(8)
      .agg(freq_topk(col("t"), k).as("hh"))
      .select(explode(col("hh")).as("x"))
      .select(col("x.item"), col("x.est"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(est.size <= k)
    est.foreach { case (item, e) =>
      val t = exact(item)
      assert(e <= t && e >= t - err, s"$item: est $e vs exact $t (bound $err)")
    }
    val heavy = exact.filter(_._2 > err).keys
    assert(heavy.nonEmpty, "skew construction produced no heavy items — test is vacuous")
    heavy.foreach(h => assert(est.contains(h), s"guaranteed-present heavy item $h missing"))
  }

  test("freq_topk runs as a streaming aggregation (complete mode, state = k counters)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions._
    import graft.functions.FreqTopK.freq_topk
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[String]
    val q = mem.toDF().toDF("t")
      .agg(freq_topk(col("t"), 4).as("hh"))
      .writeStream.outputMode("complete").format("memory")
      .queryName("mg_stream").start()
    try {
      mem.addData("a", "a", "b", "a", "c")
      q.processAllAvailable()
      mem.addData("a", "d", "a") // second batch merges into the MG state
      q.processAllAvailable()
      val got = spark.table("mg_stream")
        .select(explode(col("hh")).as("x"))
        .select(col("x.item"), col("x.est")).as[(String, Long)].collect().toMap
      // k = distinct = 4 → the summary degrades to exact counts
      assert(got === Map("a" -> 5L, "b" -> 1L, "c" -> 1L, "d" -> 1L))
    } finally q.stop()
  }

  test("distinctStateExact skips NULLs like COUNT(DISTINCT) and the HLL twin") {
    import spark.implicits._
    import graft.operators.Relational
    val df = Seq(("a", Some(1L)), ("a", Some(1L)), ("a", None), ("b", None))
      .toDF("k", "v")
    val counts = Relational.distinctCountExact(
        Relational.mergeDistinctStatesExact(Seq(
          Relational.distinctStateExact(df, Seq(col("k")), col("v")))), Seq("k"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // a: one non-null distinct value; b: all-null → carries no state
    assert(counts === Map("a" -> 1L))
  }

  test("KMV bottom-k: merge ≡ direct, replay-idempotent, estimate within error bounds") {
    import spark.implicits._
    import graft.operators.Relational
    val k = 256
    val df = (0 until 5000).map(i => ("t", i.toLong)).toDF("k", "v")
    val direct = Relational.kmvState(df, Seq(col("k")), col("v"), k)
    val slices = (0 to 2).map(i =>
      Relational.kmvState(df.filter(col("v") % 3 === i), Seq(col("k")), col("v"), k))
    val merged = Relational.mergeKmvStates(slices, Seq("k"), k)
    def hs(d: org.apache.spark.sql.DataFrame): Set[Long] =
      d.select("h").as[Long].collect().toSet
    assert(hs(merged) === hs(direct), "sketch-of-union must equal union-of-sketches")
    // replayed delta: idempotent per value
    val replayed = Relational.mergeKmvStates(slices :+ slices.head, Seq("k"), k)
    assert(hs(replayed) === hs(direct))
    val est = Relational.kmvDistinctEstimate(merged, Seq("k"), k)
      .select("est_distinct").as[Long].head()
    // rsd ≈ 1/√(k−2) ≈ 6.3% at k=256; allow 4σ
    assert(math.abs(est - 5000L) <= 1250L, s"KMV estimate $est vs exact 5000")
    // below k the estimate is exact
    val small = Relational.kmvDistinctEstimate(
      Relational.kmvState((0 until 40).map(i => ("s", i.toLong)).toDF("k", "v"),
        Seq(col("k")), col("v"), k), Seq("k"), k)
    assert(small.select("est_distinct").as[Long].head() === 40L)
  }

  test("priority sample: merge ≡ direct, replay-idempotent, census exact, DLT tracks subset sums") {
    import spark.implicits._
    import graft.operators.Relational
    val k = 64
    // heavy-tailed weights (quadratic-residue spread), so a uniform
    // sample would miss the mass; weight and payload are pure
    // functions of id (the state's determinism contract)
    val df = (0 until 3000).map { i =>
      ("t", i.toLong, (i.toLong * i % 9973) + 1, if (i % 3 == 0) "F" else "O")
    }.toDF("k", "id", "w", "st")
    val direct = Relational.sampleState(df, Seq(col("k")), col("id"), col("w"),
      k, payload = Seq(col("st")))
    val slices = (0 to 2).map(i =>
      Relational.sampleState(df.filter(col("id") % 3 === i), Seq(col("k")),
        col("id"), col("w"), k, payload = Seq(col("st"))))
    val merged = Relational.mergeSampleStates(slices, Seq("k"), k)
    def rows(d: org.apache.spark.sql.DataFrame): Set[(String, Long, Long)] =
      d.select("id", "w", "skey").as[(String, Long, Long)].collect().toSet
    assert(rows(merged) === rows(direct),
      "bottom-(k+1) of union-of-samples must equal the direct sample")
    // replayed segment: every row a pure function of (id, w) → idempotent
    val replayed = Relational.mergeSampleStates(slices :+ slices.head, Seq("k"), k)
    assert(rows(replayed) === rows(direct))
    // a-posteriori subset-sum (predicate chosen after the state froze)
    val est = Relational.prioritySampleEstimate(merged, Seq("k"), k,
      col("st") === "F").select("est_sum").as[Long].head()
    val exact = df.filter(col("st") === "F")
      .agg(sum(col("w"))).as[Long].head()
    val rel = math.abs(est - exact).toDouble / exact
    // DLT relative σ ≲ 1/√(matched sample − 1) ≈ 22% here; allow ~2.5σ
    assert(rel <= 0.55, s"priority-sample estimate $est vs exact $exact (rel err $rel)")
    // census regime: group ≤ k items ⇒ τ̂ = 0 and the estimate IS the sum
    val small = df.filter(col("id") < 40)
    val cen = Relational.prioritySampleEstimate(
      Relational.sampleState(small, Seq(col("k")), col("id"), col("w"), k,
        payload = Seq(col("st"))),
      Seq("k"), k, col("st") === "F")
    assert(cen.select("n_sample").as[Long].head() === 40L)
    assert(cen.select("est_sum").as[Long].head() ===
      small.filter(col("st") === "F").agg(sum(col("w"))).as[Long].head())
  }

  test("Misra-Gries: never overshoots, deficit ≤ n/(k+1), heavy values survive, census exact") {
    import spark.implicits._
    import graft.operators.Relational
    val k = 8
    // Zipf-ish frequencies: value j appears 1200/(j+1) times — a real
    // heavy-hitter profile, so survival and deficit both get exercised
    val rows = (0 until 60).flatMap(j => Seq.fill(1200 / (j + 1))(j))
      .zipWithIndex.map { case (v, i) => ("t", i.toLong, v.toLong) }
    val df = rows.toDF("k", "id", "v")
    val exact = rows.groupBy(_._3).map { case (v, g) => v.toString -> g.size.toLong }
    val nTotal = rows.size.toLong
    val bound = nTotal / (k + 1)
    def laws(state: org.apache.spark.sql.DataFrame, label: String): Unit = {
      val got = state.select("v", "n").as[(String, Long)].collect().toMap
      assert(got.nonEmpty && got.size <= k, s"$label: ${got.size} counters > k")
      got.foreach { case (v, n) =>
        assert(n >= 1 && n <= exact(v), s"$label: counter $v=$n overshoots ${exact(v)}")
        assert(exact(v) - n <= bound, s"$label: deficit of $v exceeds n/(k+1)=$bound")
      }
      exact.filter(_._2 > bound).keys.foreach(v =>
        assert(got.contains(v), s"$label: heavy value $v (${exact(v)} > $bound) missing"))
    }
    laws(Relational.mgState(df, Seq(col("k")), col("v"), k), "direct")
    // the PODS-2012 guarantee survives any merge topology — here a
    // 3-way slice by row id (values spread across every slice)
    val slices = (0 to 2).map(i =>
      Relational.mgState(df.filter(col("id") % 3 === i), Seq(col("k")), col("v"), k))
    laws(Relational.mergeMgStates(slices, Seq("k"), k), "merged")
    // census: ≤ k distinct values ⇒ no trim ever fires, state is exact
    val small = df.filter(col("v") < k)
    val cen = Relational.mgState(small, Seq(col("k")), col("v"), k)
      .select("v", "n").as[(String, Long)].collect().toMap
    assert(cen === exact.filter(_._1.toLong < k), "census must be the exact counts")
    // a stream folds one micro-batch partial at a time: the running
    // merge honors the same laws after every batch
    val folded = slices.reduceLeft((acc, b) =>
      Relational.mergeMgStates(Seq(acc, b), Seq("k"), k))
    laws(folded, "folded")
  }

  test("coverage state: merge ≡ direct EXACTLY, replay-idempotent, canonical, streamed agrees") {
    import spark.implicits._
    import graft.operators.Relational
    // overlapping, nested and touching intervals across two keys
    val df = (0 until 400).map { i =>
      val s = (i * 37 % 1000).toLong
      ("r" + (i % 2), i.toLong, s, s + 5 + (i % 40))
    }.toDF("k", "id", "s0", "e0")
    def rows(d: org.apache.spark.sql.DataFrame): Set[(String, Long, Long)] =
      d.select("k", "s", "e").as[(String, Long, Long)].collect().toSet
    val direct = Relational.coverageState(df, Seq(col("k")), col("s0"), col("e0"))
    val want = rows(direct)
    // canonical form: per key the islands are disjoint and non-touching
    want.groupBy(_._1).foreach { case (k, is) =>
      is.toSeq.sortBy(_._2).sliding(2).foreach {
        case Seq((_, _, e1), (_, s2, _)) =>
          assert(s2 > e1, s"islands of $k touch or overlap")
        case _ =>
      }
    }
    // point-set union is associative + idempotent ⇒ merge ≡ direct and
    // a replayed slice merges away without any overwrite protocol
    val slices = (0 to 2).map(i => Relational.coverageState(
      df.filter(col("id") % 3 === i), Seq(col("k")), col("s0"), col("e0")))
    assert(rows(Relational.mergeCoverageStates(slices, Seq("k"))) === want)
    assert(rows(Relational.mergeCoverageStates(slices :+ slices(0), Seq("k"))) === want)
    // readout off the state ≡ the one-shot intervalCoverage aggregate
    val ic = Relational.intervalCoverage(df, Seq(col("k")), col("s0"), col("e0"))
      .select("k", "n_islands", "covered", "span", "utilization_permille")
      .as[(String, Long, Long, Long, Long)].collect().toSet
    val ro = Relational.coverageReadout(direct, Seq("k"))
      .select("k", "n_islands", "covered", "span", "utilization_permille")
      .as[(String, Long, Long, Long, Long)].collect().toSet
    assert(ro === ic, "state readout must equal the direct aggregate")
    // a stream folds one micro-batch partial at a time; a crash-retried
    // batch merges in again without drift (idempotent state)
    val streamed = (slices :+ slices(1)).reduceLeft((acc, b) =>
      Relational.mergeCoverageStates(Seq(acc, b), Seq("k")))
    assert(rows(streamed) === want, "folded micro-batches must read the direct islands")
  }

  test("anomaly monitor: merged per-batch hourly counts → zscoreFlags ≡ batch-direct") {
    import spark.implicits._
    import graft.operators.Relational
    // the composition a live ops monitor runs: each micro-batch's
    // per-hour partial counts (aggState) are merged and the series is
    // scored; flags must equal the batch-direct ones
    val ev = Tables.events(spark, dir)
      .select(col("event_type"), expr("ts_sec div 3600").as("hour_num"),
        floor(col("value") * 100 + 0.5).cast("long").as("cents"))
    val partials = (0 to 2).map(i => Relational.aggState(
      ev.filter(pmod(col("cents"), lit(3)) === i),
      Seq(col("event_type"), col("hour_num")), col("cents")))
    def flags(series: org.apache.spark.sql.DataFrame): Set[(String, Long, Long, Long, Boolean)] =
      Relational.zscoreFlags(
          series.select(col("event_type"), col("hour_num"), col("n_rows")),
          Seq(col("event_type")), col("hour_num"), col("n_rows"),
          trailing = 24L, minPeriods = 12L, thresholdSq = 4L)
        .select(col("event_type"), col("t"), col("x"), col("z2_permille"),
          col("is_anomaly"))
        .as[(String, Long, Long, Long, Boolean)].collect().toSet
    val streamed = flags(
      Relational.mergeAggStates(partials, Seq("event_type", "hour_num")))
    val direct = flags(ev.groupBy(col("event_type"), col("hour_num"))
      .agg(count(lit(1)).as("n_rows")))
    assert(streamed === direct,
      "merged hourly counts must score identically to batch-direct")
    assert(direct.exists(_._5), "fixture must produce at least one anomaly")
  }

  test("histogram state: merge ≡ direct; bucket quantile brackets the exact order stat") {
    import spark.implicits._
    import graft.operators.Relational
    val df = (0 until 1000).map(i => ("t", i.toLong)).toDF("k", "v")
    val w = 10L
    val direct = Relational.histogramState(df, Seq(col("k")), col("v"), w)
    val slices = (0 to 2).map(i =>
      Relational.histogramState(df.filter(col("v") % 3 === i), Seq(col("k")), col("v"), w))
    val merged = Relational.mergeHistogramStates(slices, Seq("k"))
    def m(d: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      d.select("bucket", "n").as[(Long, Long)].collect().toMap
    assert(m(merged) === m(direct), "bucket-count merge must equal direct counts")
    val qs = Relational.histogramQuantiles(merged, Seq("k"), Seq(500, 990), w)
      .select("q", "quantile_lo").as[(Int, Long)].collect().toMap
    // q500 over 0..999: cum reaches 500 in bucket 49 → lower bound 490
    assert(qs(500) === 490L && qs(990) === 980L)
    // negative values floor into negative buckets (no truncation-toward-zero)
    val neg = Relational.histogramState(
      Seq(("n", -1L), ("n", -10L), ("n", -11L)).toDF("k", "v"), Seq(col("k")), col("v"), w)
      .select("bucket", "n").as[(Long, Long)].collect().toMap
    assert(neg === Map(-1L -> 2L, -2L -> 1L))
  }

  test("histogram state over two micro-batches: merged quantiles ≡ batch-direct") {
    import spark.implicits._
    import graft.operators.Relational
    val batches = Seq(0 until 500, 500 until 1000).map(r =>
      Relational.histogramState(r.map(i => ("t", i.toLong)).toDF("k", "v"),
        Seq(col("k")), col("v"), 10L))
    val quantiles = Relational.histogramQuantiles(
        Relational.mergeHistogramStates(batches, Seq("k")), Seq("k"), Seq(500, 990), 10L)
      .select("q", "quantile_lo").as[(Int, Long)].collect().toMap
    assert(quantiles === Map(500 -> 490L, 990 -> 980L),
      "merged per-batch state must reproduce the batch-direct quantiles")
  }

  test("count-min sketch: one-sided error, merge ≡ recompute, estimates agree") {
    import spark.implicits._
    import graft.operators.Relational
    val (depth, width) = (4, 128)
    // CMS guarantee on the shipped query: estimates NEVER undercount
    val q = SparkEntry.queries("rel_cms_topk")(spark, dir).collect()
    assert(q.nonEmpty)
    q.foreach { r =>
      assert(r.getAs[Long]("n_est") >= r.getAs[Long]("n_exact"),
        s"CMS undercounted: $r")
      assert(r.getAs[Long]("overcount") ===
        r.getAs[Long]("n_est") - r.getAs[Long]("n_exact"))
    }
    // expected collision mass is N_key/width per hash row; min over
    // depth rows keeps the WORST probe well under a few multiples
    val ev = Tables.events(spark, dir).select(col("event_type"), col("user_id"))
    val nPerKey = ev.groupBy("event_type").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    q.foreach { r =>
      val bound = 8L * nPerKey(r.getAs[String]("event_type")) / width
      assert(r.getAs[Long]("overcount") <= math.max(bound, 8L),
        s"overcount ${r.getAs[Long]("overcount")} implausibly large: $r")
    }
    // merge(state(deltas)) ≡ recompute(whole): bucket counts are linear
    val whole = Relational.cmsState(ev, Seq(col("event_type")), col("user_id"),
      depth, width)
    val slices = (0 to 1).map(i =>
      Relational.cmsState(ev.filter(pmod(col("user_id"), lit(2)) === i),
        Seq(col("event_type")), col("user_id"), depth, width))
    val merged = Relational.mergeCmsStates(slices, Seq("event_type"))
    assert(merged.exceptAll(whole).isEmpty && whole.exceptAll(merged).isEmpty,
      "merged delta states must equal the single-shot state bucket for bucket")
    // point estimates read off the merged state equal the whole-set ones
    val probes = ev.select("event_type").distinct()
      .crossJoin(broadcast(Seq("1", "7", "42").toDF("v")))
    def est(state: org.apache.spark.sql.DataFrame): Map[(String, String), Long] =
      Relational.cmsEstimate(state, Seq("event_type"), probes, "v", depth, width)
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getAs[Long]("n_est")).toMap
    assert(est(merged) === est(whole), "merged state must estimate like the whole-set state")
  }

  test("AMS F2 sketch: estimate tracks the exact self-join size; merge ≡ recompute") {
    import graft.operators.Relational
    val q = SparkEntry.queries("rel_ams_f2")(spark, dir).collect()
    assert(q.nonEmpty)
    q.foreach { r =>
      val (ex, est) = (r.getAs[Long]("f2_exact"), r.getAs[Long]("f2_est"))
      // median-of-means with k=64 (8 groups of 8): rel. error typically
      // ~1/√8 ≈ 35%; a factor-2 band catches a broken estimator while
      // staying robust to the fixture
      assert(est >= ex / 2 && est <= ex * 2,
        s"F2 estimate $est implausible vs exact $ex: $r")
      assert(r.getAs[Long]("err_permille") ===
        math.abs(est - ex) * 1000 / ex)
    }
    // linear counters: merged delta states equal the single-shot state
    val ev = Tables.events(spark, dir).select(col("event_type"), col("user_id"))
    val whole = Relational.amsState(ev, Seq(col("event_type")), col("user_id"), 64)
    val merged = Relational.mergeAmsStates((0 to 1).map(i =>
      Relational.amsState(ev.filter(pmod(col("user_id"), lit(2)) === i),
        Seq(col("event_type")), col("user_id"), 64)), Seq("event_type"))
    assert(merged.exceptAll(whole).isEmpty && whole.exceptAll(merged).isEmpty,
      "merged AMS counters must equal the single-shot counters")
    // the inner-product twin: join-size estimate within a factor-2
    // band of the executed join's count (same coins on both sides)
    val js = SparkEntry.queries("rel_ams_join_size")(spark, dir).collect()
    assert(js.length === 1)
    val (exJ, estJ) = (js(0).getAs[Long]("join_size_exact"),
      js(0).getAs[Long]("join_size_est"))
    assert(estJ >= exJ / 2 && estJ <= exJ * 2,
      s"join-size estimate $estJ implausible vs exact $exJ")
  }

  test("Bloom sketch: zero false negatives, FP rate near theory, merge idempotent") {
    import graft.operators.Relational
    val q = SparkEntry.queries("rel_bloom_filter")(spark, dir)
      .collect().map(r => r.getString(0) -> (r.getAs[Long]("n_probes"), r.getAs[Long]("n_pass"))).toMap
    val (np, pp) = q("present")
    assert(pp === np, "a Bloom filter NEVER false-negatives a present key")
    val (na, pa) = q("absent")
    // theory: (1−e^(−kn/m))^k with k=4, n=#orders keys, m=2^17 — allow
    // a 3× band around it (the count is deterministic; the band keeps
    // the assertion sf-portable)
    val n = Tables.orders(spark, dir).count()
    val theo = math.pow(1 - math.exp(-4.0 * n / (1 << 17)), 4)
    assert(pa.toDouble / na <= theo * 3 + 0.001,
      s"FP rate ${pa.toDouble / na} vs theory $theo")
    assert(pa > 0, "at this load factor the FP class cannot be empty")
    // OR-merge is idempotent: slices merged (twice) ≡ whole-set build
    val keys = Tables.orders(spark, dir).select(col("o_orderkey"))
    val whole = Relational.bloomState(keys, Seq(), col("o_orderkey"), 4, 1 << 17)
    val slices = (0 to 1).map(i =>
      Relational.bloomState(keys.filter(pmod(col("o_orderkey"), lit(2)) === i),
        Seq(), col("o_orderkey"), 4, 1 << 17))
    val merged = Relational.mergeBloomStates(slices ++ Seq(slices(1)))
    assert(merged.exceptAll(whole).isEmpty && whole.exceptAll(merged).isEmpty,
      "replayed-slice OR-merge must equal the single-shot position set")
  }

  test("kmvOverlap estimates track the exact pairwise set sizes (k=64)") {
    import graft.operators.Corpus
    import graft.functions.WordShingles.word_shingles
    val docs = Tables.documents(spark, dir)
    val est = Corpus.sourceOverlap(docs, k = 64)
      .collect().map(r => (r.getAs[String]("source_a"), r.getAs[String]("source_b")) ->
        (r.getAs[Long]("n_state"), r.getAs[Long]("est_union"),
          r.getAs[Long]("jaccard_permille"))).toMap
    // exact pairwise union/intersection over the distinct 3-gram sets
    val d = docs.select(col("source"),
        explode(word_shingles(col("text"), 3)).as("g")).distinct()
    val sizes = d.groupBy("source").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val inter = d.as("a").join(d.as("b"),
        col("a.g") === col("b.g") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("sa"), col("b.source").as("sb")).count()
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(est.size === sizes.size * (sizes.size - 1) / 2,
      "one row per unordered source pair")
    est.foreach { case ((sa, sb), (nState, estU, jacPm)) =>
      val exU = sizes(sa) + sizes(sb) - inter.getOrElse((sa, sb), 0L)
      val exJ = inter.getOrElse((sa, sb), 0L).toDouble / exU
      if (nState < 64) {
        // below k the sketch IS the set: estimates are exact
        assert(estU === exU, s"($sa,$sb): sub-k state must be exact")
      } else {
        // (k-1)/h_k estimator: rsd = 1/sqrt(k-2) ≈ 12.7%; allow ~3σ
        val relErr = math.abs(estU - exU).toDouble / exU
        assert(relErr <= 0.40, s"($sa,$sb): union est $estU vs exact $exU")
        // ρ/k Jaccard estimator: binomial sd ≤ 1/(2√k) ≈ 6.3%; ~1.6σ
        // plus the integer floor — generous but regression-catching
        assert(math.abs(jacPm / 1000.0 - exJ) <= 0.10,
          s"($sa,$sb): jaccard ${jacPm / 1000.0} vs exact $exJ")
      }
    }
    // aggregate sanity: the mean union error must look like 1/√k
    // noise, not bias (a wrong estimator constant shifts every pair)
    val full = est.collect { case ((sa, sb), (n, estU, _)) if n >= 64 =>
      val exU = sizes(sa) + sizes(sb) - inter.getOrElse((sa, sb), 0L)
      math.abs(estU - exU).toDouble / exU
    }
    if (full.nonEmpty)
      assert(full.sum / full.size <= 0.15,
        s"mean union rel-err ${full.sum / full.size} exceeds 0.15")
  }
}
