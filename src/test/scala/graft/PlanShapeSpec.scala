package graft

import org.apache.spark.sql.functions._

import graft.operators.{Corpus, Dedup, Relational}
import graft.sources.Tables

/** Plan-shape regression guards for the round-3 operators: the plans
  * that make them scale-safe must stay that way (a planner fallback to
  * a sort aggregate or a cartesian product passes correctness at test
  * scale and dies at 100 TB).
  */
class PlanShapeSpec extends SparkSpec {

  test("saltedAggregate plans two hash aggregation stages, no sort aggregate") {
    val li = Tables.lineitem(spark, sf)
      .withColumn("qty_cents", round(col("l_quantity") * 100).cast("long"))
    val plan = Relational.saltedAggregate(li, Seq("l_returnflag"),
        col("l_orderkey"), col("qty_cents"), 16)
      .queryExecution.executedPlan.toString
    assert(plan.contains("HashAggregate"), plan.take(2000))
    assert(!plan.contains("SortAggregate"), plan.take(2000))
  }

  test("skipAudit: one data scan feeds all layouts; manifest/probe joins broadcast") {
    import spark.implicits._
    import graft.functions.HilbertIndex.hilbert_index
    val li = Tables.lineitem(spark, sf).select("l_partkey", "l_suppkey")
    val probes = Seq(("w1", "l_partkey", 0L, 10L), ("w2", "l_suppkey", 0L, 10L))
      .toDF("workload", "on_col", "lo", "hi")
    val plan = graft.operators.Partitioning.skipAudit(li, Seq(
        "single" -> col("l_partkey").cast("long"),
        "hilbert" -> hilbert_index(col("l_partkey"), col("l_suppkey"), 16)),
        Seq("l_partkey", "l_suppkey"), nFiles = 16, probes = probes)
      .queryExecution.executedPlan.toString
    // exactly TWO scans — the stats pass (per-layout max) and the
    // assign pass; adding a layout must not add a scan (the explode
    // multiplies rows, not passes)
    assert(plan.split("Scan parquet").length - 1 === 2, plan.take(3000))
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"),
      plan.take(3000))
    assert(!plan.contains("SortMergeJoin"), plan.take(3000))
  }

  test("mgState trim: boundary joins broadcast — the counter table never re-shuffles") {
    val ev = Tables.events(spark, sf).select(col("event_type"), col("user_id"))
    val plan = Relational.mgState(ev, Seq(col("event_type")), col("user_id"), 16)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(3000))
    assert(!plan.contains("SortMergeJoin"), plan.take(3000))
  }

  test("groupingSets plans one Expand, not one scan per set") {
    val plan = Tables.lineitem(spark, sf)
      .groupingSets(
        Seq(Seq(col("l_returnflag"), col("l_linestatus")),
          Seq(col("l_returnflag")), Seq()),
        col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"))
      .queryExecution.executedPlan.toString
    assert(plan.split("Expand").length - 1 === 1, plan.take(2000))
    assert(plan.split("Scan parquet").length - 1 === 1, plan.take(2000))
  }

  test("banded pairs: shuffle-exchange budget holds (signature agg, bucket join, verify joins)") {
    // expected shuffles: fan-out repartition, the (id, strata)
    // signature aggregate, the band-bucket self-join sides, the
    // candidate distinct, and the two verify-side token-set joins (9
    // through round 4) + the hot-bucket-cap count aggregate, which
    // STATICALLY re-plans the fan-out + signature subtree under the
    // population count (9 → 13); at runtime AQE collapses the repeats
    // into ReusedExchange (asserted below), and the count itself is
    // map-side combinable so a pathological clone mass never shuffles
    // on the cap path. A regression that adds an exchange (e.g. the
    // strata join-back this budget was tightened after removing) fails
    // here.
    val df = Dedup.jaccardPairsBanded(Tables.documents(spark, sf),
      Seq("source", "lang"), 900)
    val v = PlanLint.violations(df, maxExchanges = 13)
    assert(v.isEmpty, v.mkString("; "))
  }

  test("banded pairs: AQE reuses the duplicated signature exchange at runtime") {
    // the static plan pays the hot-bucket count's copy of the
    // signature subtree; prove the runtime plan dedups it
    val prev = spark.conf.get("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    try {
      val df = Dedup.jaccardPairsBanded(Tables.documents(spark, sf),
        Seq("source", "lang"), 900)
      df.collect()
      val finalPlan = df.queryExecution.executedPlan.toString
      assert(finalPlan.contains("ReusedExchange") || finalPlan.contains("ReusedQueryStage"),
        finalPlan.take(3000))
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("char-ngram banded pairs: AQE reuses the census's signature exchange at runtime") {
    // the round-5 hot-bucket census re-plans the shingle + signature
    // subtree statically; the ~30-40% cost question from the round-5
    // bench dispute hinges on the runtime plan actually deduplicating
    // it — assert the reuse, so a regression that breaks it (e.g. a
    // non-deterministic expression splitting the subtrees) fails here
    // rather than surfacing as a silent bench drift
    val prev = spark.conf.get("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    try {
      val df = Dedup.charNgramPairsBanded(Tables.documents(spark, sf),
        Seq("source", "lang"), 800)
      df.collect()
      val finalPlan = df.queryExecution.executedPlan.toString
      assert(finalPlan.contains("ReusedExchange") || finalPlan.contains("ReusedQueryStage"),
        finalPlan.take(3000))
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("banded pairs: equi-joins only, signatures hash-aggregate, no sort-aggregate") {
    val plan = Dedup.jaccardPairsBanded(Tables.documents(spark, sf),
        Seq("source", "lang"), 900)
      .queryExecution.executedPlan.toString
    // candidate generation must be keyed joins (band+strata), never a product
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
    // the minhash mins aggregate over numeric slices → HashAggregate;
    // SortAggregate here would re-sort the exploded token stream per doc
    assert(plan.contains("HashAggregate"), plan.take(2000))
    assert(!plan.contains("SortAggregate"), plan.take(2000))
  }

  test("upsample stays narrow: no shuffle below the explode") {
    val plan = Corpus.upsample(Tables.documents(spark, sf), "source",
        Map("src0" -> 2500), defaultPermille = 1000)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan.take(2000))
  }

  test("contaminationReport broadcasts the eval grams") {
    val docs = Tables.documents(spark, sf)
    val plan = Corpus.contaminationReport(docs.filter(col("doc_id") >= 50),
        docs.filter(col("doc_id") < 50), n = 8)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
  }

  test("stripBoilerplate broadcasts the common-segment set, never a cartesian") {
    val plan = Corpus.stripBoilerplate(Tables.documents(spark, sf))
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    assert(!plan.contains("SortAggregate"), plan.take(2000))
  }

  test("sq8TopK broadcasts the query side; candidates never shuffle before top-k") {
    val emb = Tables.embeddings(spark, sf)
    val df = graft.operators.Similarity.sq8TopK(
      emb.filter(col("vec_id") < 10), emb, k = 5)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"),
      plan.take(2000))
    // the only exchange is the per-query top-k rank partitioning
    val exchanges = plan.split("Exchange hashpartitioning").length - 1
    assert(exchanges <= 1, plan.take(3000))
  }

  test("shuffleOrder plans exactly one range exchange and no global window") {
    val plan = Corpus.shuffleOrder(Tables.documents(spark, sf), "e0")
      .queryExecution.executedPlan.toString
    assert(plan.split("Exchange rangepartitioning").length - 1 === 1, plan.take(2000))
    assert(!plan.contains("Window"), plan.take(2000))
  }

  test("tfIdfTopTerms: hash aggregates, keyed term join, no cartesian") {
    val plan = graft.operators.TextAnalysis
      .tfIdfTopTerms(Tables.documents(spark, sf), k = 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("HashAggregate"), plan.take(2000))
    assert(!plan.contains("SortAggregate"), plan.take(2000))
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
  }

  test("bm25TopK: query terms broadcast before any shuffle; top-k never a full sort") {
    val plan = graft.operators.TextAnalysis
      .bm25TopK(Tables.documents(spark, sf), Seq("spark", "filter", "join"), k = 20)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
    assert(plan.contains("TakeOrderedAndProject"), plan.take(2000))
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
  }

  test("repeatedSpans: gram-keyed survivor join, never all-pairs") {
    val plan = Dedup.repeatedSpans(Tables.documents(spark, sf), spanTokens = 8)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
  }

  test("keySkewProfile: aggregates + top-k only — no window, no full sort") {
    val plan = Relational.keySkewProfile(Tables.lineitem(spark, sf), "l_suppkey")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), plan.take(2000))
    assert(plan.contains("TakeOrderedAndProject"), plan.take(2000))
    assert(!plan.contains("SortAggregate"), plan.take(2000))
  }

  test("retention: the only event-volume shuffle is the (user, period) distinct") {
    val ev = Tables.events(spark, sf)
    val plan = Relational.retention(ev, periodSec = 86400L)
      .queryExecution.executedPlan.toString
    assert(plan.contains("HashAggregate"), plan.take(2000))
    assert(!plan.contains("SortAggregate"), plan.take(2000))
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
  }

  test("PlanLint: flags cartesians and sort-aggregates, budgets exchanges") {
    import spark.implicits._
    val a = Seq((1, "x")).toDF("id", "v")
    val b = Seq((1, "y")).toDF("id", "w")
    // clean equi-join passes every rule
    assert(PlanLint.violations(a.join(b, Seq("id")), maxExchanges = 3,
      allowSortAggregate = false) === Seq.empty)
    // cartesian flagged
    assert(PlanLint.violations(a.crossJoin(b)).exists(_.startsWith("cartesian")))
    // exchange budget: a groupBy needs one exchange; budget 0 trips
    val agg = Tables.documents(spark, sf).groupBy("source").count()
    assert(PlanLint.violations(agg, maxExchanges = 0).exists(_.startsWith("exchanges")))
    assert(PlanLint.violations(agg, maxExchanges = 1) === Seq.empty)
  }

  test("CartesianGuard rejects condition-free inner joins only when enabled; equi and range joins pass") {
    import spark.implicits._
    val guard = new graft.plans.CartesianGuard(spark)
    val a = Seq((1, "x")).toDF("id", "v")
    val b = Seq((1, "y")).toDF("id", "w")
    // disabled (default): everything passes
    guard(a.crossJoin(b).queryExecution.analyzed)
    spark.conf.set(graft.plans.CartesianGuard.Flag, "true")
    try {
      guard(a.join(b, Seq("id")).queryExecution.analyzed) // equi: legal
      guard(a.join(b, a("id") < b("id")).queryExecution.analyzed) // range: legal
      val e = intercept[IllegalStateException](
        guard(a.crossJoin(b).queryExecution.analyzed))
      assert(e.getMessage.contains("condition-free"))
      // the session's own guard (Session.local installs it) sees the
      // optimized plan: a using-join passes, an unkeyed join does not
      a.join(b, Seq("id")).queryExecution.optimizedPlan
      val s = intercept[IllegalStateException](a.join(b).queryExecution.optimizedPlan)
      assert(s.getMessage.contains("condition-free"))
    } finally spark.conf.unset(graft.plans.CartesianGuard.Flag)
  }

  test("AQE splits a skewed sort-merge join at runtime (skew=true in the final plan)") {
    import spark.implicits._
    val confs = Map(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1.0",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "1KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1KB",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      // one hot key carrying ~50k rows vs 100 cold keys: without AQE
      // skew handling one task owns the hot partition end-to-end
      val left = ((1 to 50000).map(i => (0L, i.toLong)) ++
        (1 to 100).map(i => (i.toLong, i.toLong))).toDF("k", "v")
      val right = (0 to 100).flatMap(k => (1 to 5).map(j => (k.toLong, j.toLong)))
        .toDF("k", "w")
      // global agg, not groupBy(k): an agg keyed on the join key would
      // REQUIRE the join's hash partitioning, and AQE declines to
      // split skewed partitions when that breaks a required
      // distribution (unless forced)
      val joined = left.join(right, "k").agg(count(lit(1)).as("n"))
      joined.collect() // AQE re-plans during execution
      val finalPlan = joined.queryExecution.executedPlan.toString
      assert(finalPlan.contains("skew=true"), finalPlan.take(3000))
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("identical aggregation subtrees reuse one exchange (ReusedExchange)") {
    // the diamond shape every self-comparison query has: aggregate
    // once, join the aggregate with itself — the second subtree's
    // shuffle must be a ReusedExchange, not a recomputation
    val agg = Tables.lineitem(spark, sf)
      .groupBy("l_orderkey").agg(sum("l_quantity").as("q"))
    val j = agg.join(agg.withColumnRenamed("q", "q2"), "l_orderkey")
    j.collect() // AQE finalizes reuse at runtime
    assert(j.queryExecution.executedPlan.toString.contains("ReusedExchange"),
      j.queryExecution.executedPlan.toString.take(3000))
  }

  test("gopherRules stays narrow: no exchange, streaming-composable") {
    val plan = graft.operators.TextAnalysis
      .gopherRules(Tables.documents(spark, sf))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan.take(2000))
  }

  test("cmsState: one exchange, hash aggregate — the explode stays below the shuffle") {
    val plan = Relational.cmsState(Tables.events(spark, sf),
        Seq(col("event_type")), col("user_id"), depth = 4, width = 128)
      .queryExecution.executedPlan.toString
    val exchanges = plan.split("Exchange hashpartitioning").length - 1
    assert(exchanges === 1, plan.take(3000))
    assert(!plan.contains("SortAggregate"), plan.take(3000))
  }

  test("imageResize stays narrow: per-partition decode+resample, no exchange") {
    import graft.operators.Multimodal
    val plan = Multimodal.imageResize(
        Multimodal.syntheticPixelBlobs(Tables.documents(spark, sf)))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan.take(2000))
  }

  test("runtime bloom-filter join pruning injects might_contain on the probe side") {
    // Spark's own bloom-filter prune: for a selective
    // shuffle join, Catalyst builds a bloom filter on the small side
    // and pushes might_contain into the big side's scan — rows that
    // can't match never reach the exchange. Thresholds are tuned so
    // the optimization (on by default at scale) triggers at test size.
    val confs = Map(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      val li = Tables.lineitem(spark, sf)
      val pt = Tables.part(spark, sf).filter(col("p_size") === 1)
      val plan = li.join(pt, li("l_partkey") === pt("p_partkey"))
        .queryExecution.executedPlan.toString
      assert(plan.contains("might_contain"), plan.take(3000))
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("wordpiece vocab top-k plans TakeOrderedAndProject, never a full sort") {
    import graft.operators.TextAnalysis
    val plan = TextAnalysis.wordpieceVocab(Tables.documents(spark, sf))
      .queryExecution.executedPlan.toString
    // the k-selection must be the streaming top-k operator — a global
    // Sort over the piece table would grow with the corpus vocabulary
    assert(plan.contains("TakeOrderedAndProject"), plan.take(3000))
    val posPlan = TextAnalysis.wordpieceVocabPositional(Tables.documents(spark, sf))
      .queryExecution.executedPlan.toString
    assert(posPlan.contains("TakeOrderedAndProject"), posPlan.take(3000))
    val uniPlan = TextAnalysis.unigramVocab(Tables.documents(spark, sf))
      .queryExecution.executedPlan.toString
    assert(uniPlan.contains("TakeOrderedAndProject"), uniPlan.take(3000))
  }

  test("componentsUpdate: the stored map is relabeled via broadcast — " +
    "nothing corpus-sized shuffles or sort-merge-joins") {
    import spark.implicits._
    val stored = Dedup.connectedComponents(
      Seq((1L, 2L), (3L, 4L)).toDF("doc_a", "doc_b"))
    val plan = Dedup.componentsUpdate(stored,
        Seq((2L, 3L), (5L, 6L)).toDF("doc_a", "doc_b"))
      .queryExecution.executedPlan.toString
    // every join in the update path must be broadcast (delta-sized
    // build sides); a sort-merge join here means the planner shuffled
    // the stored map — the thing the operator exists to avoid
    assert(plan.contains("BroadcastHashJoin"), plan.take(3000))
    assert(!plan.contains("SortMergeJoin"), plan.take(3000))
  }

  test("ANN family plan budget: the round-9 structural wins stay pinned " +
    "(zero sort-aggregates, bounded exchanges)") {
    // sim_ann_ivfpq went 32 → 16 Exchanges / 12 → 0 SortAggregates in
    // round 9 (narrow nearest_cell assignment, fused encode);
    // sim_ivf_assign 8 → 4 / 4 → 0. Pin the budgets so a planner or
    // operator regression fails here instead of silently rotting the
    // wins (round-10, per the round-9 verdict).
    val ivfpq = graft.SparkEntry.queries("sim_ann_ivfpq")(spark, sf)
    val v1 = PlanLint.violations(ivfpq, maxExchanges = 16,
      allowSortAggregate = false)
    assert(v1.isEmpty, v1.mkString("; "))
    val assign = graft.SparkEntry.queries("sim_ivf_assign")(spark, sf)
    val v2 = PlanLint.violations(assign, maxExchanges = 4,
      allowSortAggregate = false)
    assert(v2.isEmpty, v2.mkString("; "))
  }

  test("ivfFlatScore: the cell table never shuffles — probe set broadcasts into it") {
    import graft.operators.Similarity
    val emb = Tables.embeddings(spark, sf)
    val index = Similarity.ivfFlatBuild(emb, k = 4, iters = 1)
    val plan = Similarity.ivfFlatScore(
        emb.filter(col("vec_id") < 5), index, nprobe = 2)
      .queryExecution.executedPlan.toString
    // the corpus-sized cells side must meet the (small) probe frame
    // through a broadcast join only — a sort-merge join would shuffle
    // the whole index per probe batch
    assert(plan.contains("BroadcastHashJoin"), plan.take(3000))
    assert(!plan.contains("SortMergeJoin"), plan.take(3000))
  }

  test("compactBatch: one hash exchange, no Sort, Window or SortAggregate in the executed plan") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import spark.implicits._
    def nodes(p: SparkPlan): Seq[String] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => nodes(q.plan)
      case _ => p.nodeName +: p.children.flatMap(nodes)
    }
    val sorting = Set("Sort", "Window", "WindowGroupLimit", "SortAggregate")
    val batch = (1 to 60).map(i => (i % 7, s"c$i", i.toLong)).toDF("k", "code", "es")
      .repartition(3)
    def executed(df: org.apache.spark.sql.DataFrame) = {
      df.collect()
      nodes(df.queryExecution.executedPlan)
    }
    val compacted = executed(graft.streaming.Changelog.compactBatch(batch, Seq("k"), "es"))
    assert(compacted.toSet.intersect(sorting).isEmpty, compacted.mkString(" <- "))
    // the key's hash exchange (it replaces the input's round-robin one)
    assert(compacted.count(_ == "Exchange") === 1, compacted.mkString(" <- "))
    // control: the window form the sink used to run does plan a sort
    val window = executed(Relational.latestByKey(batch, Seq(col("k")), Seq(col("es"))))
    assert(window.toSet.intersect(sorting).nonEmpty, window.mkString(" <- "))
  }

  test("meeting stream: at most 2 Spark jobs per non-empty micro-batch, no broadcast " +
    "exchange or join in the micro-batch plan") {
    import java.util.concurrent.ConcurrentHashMap
    import java.util.concurrent.atomic.AtomicInteger
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, StreamingQueryWrapper}
    import org.apache.spark.sql.streaming.Trigger
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val url = "jdbc:derby:memory:jobbudget;create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    Seq("CREATE TABLE meeting_result (meeting_id INT PRIMARY KEY, meeting_code VARCHAR(64), " +
        "meetingroom_id INT, meetingroom_name VARCHAR(64), location_name VARCHAR(64), city VARCHAR(64))",
      "CREATE TABLE room (meetingroom_id INT PRIMARY KEY, meetingroom_name VARCHAR(64), " +
        "location_id INT, location_name VARCHAR(64), city VARCHAR(64))",
      "INSERT INTO room VALUES (3, 'Room A', 10, 'Floor 1', 'Shanghai'), " +
        "(4, 'Room B', 11, 'Floor 2', 'Beijing')"
    ).foreach(conn.createStatement().execute)
    conn.close()
    def resultRows(): Int = {
      val c = java.sql.DriverManager.getConnection(url)
      try { val rs = c.createStatement().executeQuery("SELECT COUNT(*) FROM meeting_result"); rs.next(); rs.getInt(1) }
      finally c.close()
    }
    // a JDBC dimension, as the job reads it (a local one would broadcast without a job)
    val dim = graft.sources.Jdbc.query(spark, url, "SELECT * FROM room")
    // jobs per micro-batch, read from the batch id streaming puts on each job
    val jobs = new ConcurrentHashMap[String, AtomicInteger]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("streaming.sql.batchId")))
          .orElse(Option(e.properties).flatMap(p => Option(p.getProperty("budget.marker"))))
          .foreach(b => jobs.computeIfAbsent(b, _ => new AtomicInteger()).incrementAndGet())
    }
    spark.sparkContext.addSparkListener(listener)
    val mem = MemoryStream[String]
    val q = graft.streaming.CdcStreamJob.start(
      graft.streaming.CdcStreamJob.enriched(mem.toDF(), dim),
      tempDir("jobbudget"),
      graft.sinks.JdbcUpsertSink.writer(url, "meeting_result", keyCols = Seq("meeting_id"),
        valCols = Seq("meeting_code", "meetingroom_id", "meetingroom_name", "location_name", "city"),
        opCol = Some("op"), versionCol = Some("es")),
      trigger = Trigger.ProcessingTime(0))
    try {
      for (b <- 0 until 3) {
        mem.addData((0 until 20).map { i =>
          val id = b * 7 + i
          s"""{"data":[{"id":"$id","meeting_code":"mc-$id-$b","address_id":"${3 + i % 3}",""" +
            s""""mstart_date":"2024-05-01 09:00:00","mend_date":"2024-05-01 10:00:00"}],""" +
            s""""database":"mrbs","es":${1700000000000L + b * 100 + i},"id":1,"isDdl":false,""" +
            s""""mysqlType":{},"old":null,"sql":"","sqlType":{},"table":"t_meeting_info",""" +
            s""""ts":1,"type":"${if (b == 0) "INSERT" else "UPDATE"}"}"""
        }: _*)
        // processAllAvailable can return before the batch just added is
        // processed; wait for its rows so each addData is its own batch
        val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
        do q.processAllAvailable() while (resultRows() < 20 + 7 * b && System.nanoTime() < deadline)
      }
      // listener events arrive in order: once a marker job is seen, every batch job has been
      spark.sparkContext.setLocalProperty("budget.marker", "marker")
      try spark.range(1).collect() finally spark.sparkContext.setLocalProperty("budget.marker", null)
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!jobs.containsKey("marker") && System.nanoTime() < deadline) Thread.sleep(20)
      val perBatch = q.recentProgress.filter(_.numInputRows > 0).map(_.batchId).distinct
        .map(b => b -> Option(jobs.get(b.toString)).map(_.get).getOrElse(0)).toMap
      assert(perBatch.size === 3, perBatch)
      assert(perBatch.values.forall(n => n >= 1 && n <= 2), s"jobs per micro-batch: $perBatch")
      val plan = q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution.executedPlan
      assert(plan.collectFirst { case p: BroadcastExchangeExec => p }.isEmpty, plan.toString)
      assert(plan.collectFirst { case p: BroadcastHashJoinExec => p }.isEmpty, plan.toString)
      // one lookup per event, not one per room column
      assert(plan.collect { case p => p.expressions.flatMap(_.collect {
        case l: graft.streaming.SnapshotLookup => l }) }.flatten.size === 1, plan.toString)
    } finally {
      q.stop()
      spark.sparkContext.removeSparkListener(listener)
    }
  }

  /** Spark jobs started by this thread while `body` ran. Listener
    * events arrive in order: once a marker job run after `body` is seen,
    * every job `body` started has been counted. */
  private def jobsDuring(body: => Unit): Int = {
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    import java.util.concurrent.atomic.AtomicInteger
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val run = java.util.UUID.randomUUID().toString
    val jobs = new AtomicInteger()
    val marked = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("jobs.run"))).foreach {
          case `run` => jobs.incrementAndGet()
          case r if r == run + "-marker" => marked.countDown()
          case _ =>
        }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty("jobs.run", run)
      try body finally sc.setLocalProperty("jobs.run", run + "-marker")
      try spark.range(1).collect() finally sc.setLocalProperty("jobs.run", null)
      assert(marked.await(30, TimeUnit.SECONDS), "marker job never reached the listener")
      jobs.get
    } finally sc.removeSparkListener(listener)
  }

  test("a small suite query's final ORDER BY sorts on one partition, without range sampling") {
    def plan() = SparkEntry.queries("cdc_filter")(spark, sf).queryExecution.executedPlan.toString
    val small = plan()
    assert(small.split("Exchange SinglePartition").length - 1 === 1, small.take(2000))
    assert(!small.contains("rangepartitioning"), small.take(2000))
    // -1 switches the rewrite off with broadcasting: range partitioning is back
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "-1")
    val off = try plan() finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    assert(off.split("Exchange rangepartitioning").length - 1 === 1, off.take(2000))
    assert(!off.contains("SinglePartition"), off.take(2000))
  }

  test("cdc_filter runs at most 2 Spark jobs per run: no schema-inference or range-sampling job") {
    def run(): Unit = SparkEntry.queries("cdc_filter")(spark, sf)
      .write.format("noop").mode("overwrite").save()
    run() // the first read of a file infers its schema once
    val jobs = jobsDuring(run())
    info(s"cdc_filter: $jobs jobs per run")
    assert(jobs >= 1 && jobs <= 2, s"cdc_filter ran $jobs jobs")
  }
}
