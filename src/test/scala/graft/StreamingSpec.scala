package graft

import java.sql.{DriverManager, Timestamp}

import scala.concurrent.duration.Duration

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.sinks.JdbcUpsertSink
import graft.streaming.{CdcStreamJob, Changelog, Windows}

/** End-to-end streaming semantics: Canal JSON MemoryStream → enrich →
  * Derby upsert sink; watermarked windows; stateful changelog
  * compaction. This is the reference's whole-job shape (Main.java)
  * under test — something the reference itself never had.
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._
  implicit lazy val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private var esSeq: Long = 1700000000000L
  private def canal(id: Int, code: String, addr: Integer, op: String): String = {
    val addrJson = if (addr == null) "null" else "\"" + addr + "\""
    esSeq += 1 // binlog event times are monotonically increasing
    s"""{"data":[{"id":"$id","meeting_code":"$code","address_id":$addrJson,
       |"mstart_date":"2024-05-01 09:00:00","mend_date":"2024-05-01 10:00:00"}],
       |"database":"mrbs","es":$esSeq,"id":1,"isDdl":false,
       |"mysqlType":{},"old":null,"sql":"","sqlType":{},
       |"table":"t_meeting_info","ts":1,"type":"$op"}""".stripMargin.replace("\n", "")
  }

  private lazy val dim = Seq(
    (3, "Room A", 10, "Floor 1", "Shanghai"),
    (4, "Room B", 11, "Floor 2", "Beijing")
  ).toDF("meetingroom_id", "meetingroom_name", "location_id", "location_name", "city")

  test("cdc stream end-to-end: insert, update, delete land correctly in Derby") {
    val url = "jdbc:derby:memory:cdcdb;create=true"
    val conn = DriverManager.getConnection(url)
    conn.createStatement().execute(
      """CREATE TABLE meeting_result (
        |meeting_id INT PRIMARY KEY, meeting_code VARCHAR(64),
        |meetingroom_id INT, meetingroom_name VARCHAR(64),
        |location_name VARCHAR(64), city VARCHAR(64))""".stripMargin)

    val mem = MemoryStream[String]
    val enriched = CdcStreamJob.enriched(mem.toDF().withColumnRenamed("value", "value"), dim)
    val ckpt = java.nio.file.Files.createTempDirectory("ckpt").toString
    val q = CdcStreamJob.start(enriched, ckpt,
      JdbcUpsertSink.writer(url, "meeting_result",
        keyCols = Seq("meeting_id"),
        valCols = Seq("meeting_code", "meetingroom_id", "meetingroom_name", "location_name", "city"),
        opCol = Some("op"), versionCol = Some("es")),
      trigger = Trigger.ProcessingTime("100 milliseconds"))

    def table(): Map[Int, (String, Any)] = {
      val rs = conn.createStatement().executeQuery(
        "SELECT meeting_id, meeting_code, city FROM meeting_result")
      val b = Map.newBuilder[Int, (String, Any)]
      while (rs.next()) b += rs.getInt(1) -> (rs.getString(2), rs.getString(3))
      b.result()
    }

    // batch 1: two inserts (one with a dim match, one dangling FK)
    mem.addData(canal(1, "mc-1", 3, "INSERT"), canal(2, "mc-2", 99, "INSERT"))
    q.processAllAvailable()
    assert(table() === Map(1 -> ("mc-1", "Shanghai"), 2 -> ("mc-2", null)))

    // batch 2: update meeting 1 to room 4 + insert-then-update same key in one batch
    mem.addData(canal(1, "mc-1b", 4, "UPDATE"), canal(3, "mc-3", 3, "INSERT"),
      canal(3, "mc-3b", 4, "UPDATE"))
    q.processAllAvailable()
    assert(table() === Map(1 -> ("mc-1b", "Beijing"), 2 -> ("mc-2", null),
      3 -> ("mc-3b", "Beijing")))

    // batch 3: delete meeting 2 (the reference dropped DELETEs entirely)
    mem.addData(canal(2, "mc-2", 99, "DELETE"))
    q.processAllAvailable()
    assert(table() === Map(1 -> ("mc-1b", "Beijing"), 3 -> ("mc-3b", "Beijing")))

    q.stop()
    conn.close()
  }

  /** Rooms and locations in a fresh in-memory Derby database, and the
    * pushed-down dimension query over them, as `MeetingStreamJob` reads it. */
  private def derbyDim(db: String, roomKey: String = "PRIMARY KEY"): (String, String) = {
    val url = s"jdbc:derby:memory:$db;create=true"
    val c = DriverManager.getConnection(url)
    try Seq(
      "CREATE TABLE location (location_id INT PRIMARY KEY, location_name VARCHAR(64), city VARCHAR(64))",
      s"CREATE TABLE meetingroom (meetingroom_id INT $roomKey, meetingroom_name VARCHAR(64), location_id INT)",
      "INSERT INTO location VALUES (10, 'Floor 1', 'Shanghai'), (11, 'Floor 2', 'Beijing')",
      "INSERT INTO meetingroom VALUES (3, 'Room A', 10), (4, 'Room B', 11)"
    ).foreach(c.createStatement().execute) finally c.close()
    (url, """SELECT r.meetingroom_id, r.meetingroom_name, l.location_id, l.location_name, l.city
            |FROM meetingroom r JOIN location l ON r.location_id = l.location_id""".stripMargin)
  }

  private def exec(url: String, sql: String): Unit = {
    val c = DriverManager.getConnection(url)
    try c.createStatement().execute(sql) finally c.close()
  }

  /** One meeting stream over a Derby dimension, fed by its own
    * `MemoryStream` (a MemoryStream drops what one query commits, so two
    * queries cannot share one); `cities` is `meeting id → city` as written. */
  private final class HeldStream(url: String, sql: String, refresh: Duration) {
    val mem = MemoryStream[String]
    private val seen = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    val q: StreamingQuery = CdcStreamJob.enriched(mem.toDF(), graft.sources.Jdbc.query(spark, url, sql),
      dimRefresh = refresh).writeStream.foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.select("meeting_id", "city").collect().foreach(r => seen.put(r.getInt(0), r.getString(1)))
      }.start()
    def cities: Map[Int, String] = {
      import scala.jdk.CollectionConverters._
      seen.asScala.toMap
    }
  }

  /** Adds an UPDATE of meeting `id` into room 3 to each stream and waits
    * until it is written: `processAllAvailable` alone can return early,
    * when a trigger that looked for data just before the add reports
    * "no new data" just after. */
  private def step(streams: HeldStream*)(id: Int): Unit = {
    val event = canal(id, s"mc-$id", 3, "UPDATE")
    streams.foreach(_.mem.addData(event))
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    for (s <- streams) {
      do s.q.processAllAvailable() while (!s.cities.contains(id) && System.nanoTime() < deadline)
      assert(s.cities.contains(id), s"meeting $id missing after 30 s: ${s.q.status}")
    }
  }

  /** Steps meetings after `from` through `streams` until the first shows
    * `city` for the last one, or 30 s pass; returns the last id. */
  private def stepUntil(city: String, from: Int, streams: HeldStream*): Int = {
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    var id = from
    while (streams.head.cities(id) != city && System.nanoTime() < deadline) {
      Thread.sleep(100); id += 1; step(streams: _*)(id)
    }
    id
  }

  test("held dimension matches the left join it replaces: rows, null rooms and schema, " +
    "for Seq- and Derby-built dimensions") {
    val raw = Seq(canal(1, "mc-1", 3, "INSERT"), canal(2, "mc-2", 99, "INSERT"),
      canal(3, "mc-3", null, "UPDATE"), canal(4, "mc-4", 4, "DELETE")).toDF("value")
    val (url, sql) = derbyDim("heldparity")
    for (d <- Seq(dim, graft.sources.Jdbc.query(spark, url, sql))) {
      // the replaced form, kept here as the oracle
      val events = graft.codec.CanalCodec.meetingPipeline(raw,
        ops = Set("INSERT", "UPDATE", "DELETE"))
      val joined = events.join(broadcast(d), events("address_id") === d("meetingroom_id"), "left")
        .select(events("meeting_id"), events("meeting_code"),
          d("meetingroom_id"), d("meetingroom_name"), d("location_name"), d("city"),
          events("op"), events("es"))
      val held = CdcStreamJob.enriched(raw, d, dimRefresh = scala.concurrent.duration.Duration.Inf)
      // names (exact case: the sink looks columns up by name), order and types
      assert(held.schema.map(f => (f.name, f.dataType)) ===
        joined.schema.map(f => (f.name, f.dataType)))
      assert(held.schema.map(_.name).take(3) === Seq("meeting_id", "meeting_code", "meetingroom_id"))
      val rows = held.collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Int]).toSeq
      assert(rows === joined.collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Int]).toSeq)
      assert(rows.map(r => r(0) -> r(5)) ===
        Seq(1 -> "Shanghai", 2 -> null, 3 -> null, 4 -> "Beijing"))
    }
  }

  test("held dimension: a committed city change reaches the stream after one short " +
    "dimRefresh, and a stream that has not re-read it keeps the old city") {
    import scala.concurrent.duration._
    val (url, sql) = derbyDim("heldfresh")
    val fresh = new HeldStream(url, sql, 200.millis)
    val held = new HeldStream(url, sql, 1.hour)
    step(fresh, held)(1)
    assert(fresh.cities === Map(1 -> "Shanghai") && held.cities === Map(1 -> "Shanghai"))
    exec(url, "UPDATE location SET city = 'Hangzhou' WHERE location_id = 10")
    val last = stepUntil("Hangzhou", 1, fresh, held)
    assert(fresh.cities(last) === "Hangzhou", "the 200 ms refresh never delivered the change")
    // no per-batch re-read: the hour-refresh stream ran the same batches
    assert(held.cities.values.toSet === Set("Shanghai"))
    fresh.q.stop(); held.q.stop()
    // a stopped stream's dimension is no longer re-read: after a re-read
    // already under way ends, no job in five refresh periods
    Thread.sleep(500)
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try Thread.sleep(1000) finally spark.sparkContext.removeSparkListener(listener)
    assert(jobs.get === 0)
  }

  test("held dimension: a duplicate key fails the first load; a failing re-read " +
    "keeps the previous snapshot") {
    import scala.concurrent.duration._
    val raw = Seq(canal(1, "mc-1", 3, "INSERT")).toDF("value")
    val dup = dim.union(Seq((3, "Room A2", 12, "Floor 3", "Shenzhen")).toDF(dim.columns.toSeq: _*))
    intercept[IllegalArgumentException](CdcStreamJob.enriched(raw, dup))
    // a room table without a primary key, so a duplicate can be committed later
    val (url, sql) = derbyDim("heldfail", roomKey = "")
    val s = new HeldStream(url, sql, 200.millis)
    step(s)(1)
    exec(url, "INSERT INTO meetingroom VALUES (3, 'Room A2', 11)")
    exec(url, "UPDATE location SET city = 'Hangzhou' WHERE location_id = 10")
    // several refresh periods, each re-read failing on the duplicate
    Thread.sleep(1500)
    step(s)(2)
    assert(s.cities === Map(1 -> "Shanghai", 2 -> "Shanghai"))
    assert(s.q.isActive)
    // the refreshes kept running: once the duplicate goes, the change arrives
    exec(url, "DELETE FROM meetingroom WHERE meetingroom_name = 'Room A2'")
    val last = stepUntil("Hangzhou", 2, s)
    assert(s.cities(last) === "Hangzhou")
    s.q.stop()
  }

  test("tumbling window with watermark aggregates by event time") {
    val mem = MemoryStream[(Timestamp, String, Double)]
    val df = mem.toDF().toDF("ts", "event_type", "value")
    val out = Windows.tumbling(df, "ts", "event_type", "1 hour", "10 minutes")
    val q = out.writeStream.outputMode("update").format("memory")
      .queryName("tumbling_out").start()
    mem.addData(
      (Timestamp.valueOf("2024-01-01 10:05:00"), "click", 1.0),
      (Timestamp.valueOf("2024-01-01 10:55:00"), "click", 2.0),
      (Timestamp.valueOf("2024-01-01 11:05:00"), "click", 4.0))
    q.processAllAvailable()
    val rows = spark.table("tumbling_out")
      .select("win_start", "n", "sum_value").as[(Timestamp, Long, Double)]
      .collect().toSet
    assert(rows === Set(
      (Timestamp.valueOf("2024-01-01 10:00:00"), 2L, 3.0),
      (Timestamp.valueOf("2024-01-01 11:00:00"), 1L, 4.0)))
    q.stop()
  }

  test("session windows split on gap") {
    val mem = MemoryStream[(Timestamp, Long)]
    val df = mem.toDF().toDF("ts", "user_id")
    val out = Windows.sessions(df, "ts", "user_id", "30 minutes", "1 minute")
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("sessions_out").start()
    mem.addData(
      (Timestamp.valueOf("2024-01-01 10:00:00"), 7L),
      (Timestamp.valueOf("2024-01-01 10:10:00"), 7L),
      (Timestamp.valueOf("2024-01-01 12:00:00"), 7L))
    q.processAllAvailable()
    // advance the watermark far enough to close all three
    mem.addData((Timestamp.valueOf("2024-01-02 00:00:00"), 8L))
    q.processAllAvailable()
    val sess = spark.table("sessions_out")
      .select("user_id", "n_events").as[(Long, Long)].collect().toSet
    assert(sess === Set((7L, 2L), (7L, 1L)))
    q.stop()
  }

  test("upsert sink compacts composite keys and replays idempotently") {
    val url = "jdbc:derby:memory:compdb;create=true"
    val conn = DriverManager.getConnection(url)
    conn.createStatement().execute(
      """CREATE TABLE kv2 (k1 INT NOT NULL, k2 VARCHAR(8) NOT NULL,
        |v VARCHAR(16), ver BIGINT, PRIMARY KEY (k1, k2))""".stripMargin)
    val w = JdbcUpsertSink.writer(url, "kv2", keyCols = Seq("k1", "k2"),
      valCols = Seq("v", "ver"), versionCol = Some("ver"))
    // two versions of the same composite key inside ONE batch: without
    // compaction the second INSERT violates the PK / lands nondeterministically
    val batch = Seq(
      (1, "a", "old", 1L), (1, "a", "new", 2L),
      (1, "b", "x", 1L), (2, "a", "y", 1L)
    ).toDF("k1", "k2", "v", "ver")
    w(batch, 0L)
    w(batch, 1L) // micro-batch replay after a simulated failure
    val rs = conn.createStatement().executeQuery("SELECT k1, k2, v FROM kv2 ORDER BY k1, k2")
    val got = Iterator.continually(rs)
      .takeWhile(_.next()).map(r => (r.getInt(1), r.getString(2), r.getString(3))).toList
    assert(got === List((1, "a", "new"), (1, "b", "x"), (2, "a", "y")))
    conn.close()
  }

  test("streaming funnel emits stage advances with strictly-after semantics") {
    import graft.streaming.FunnelStream
    import graft.streaming.FunnelStream.FunnelEvent
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(s: String): Timestamp = Timestamp.valueOf(s"2024-01-01 $s")
    val mem = MemoryStream[FunnelEvent]
    val out = FunnelStream.stageAdvances(mem.toDS(),
      Seq("view", "click", "purchase"), "10 minutes", ttlMs = 3600000L)
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("funnel_out").start()
    mem.addData(
      FunnelEvent(1L, "view", ts("10:00:00")),
      FunnelEvent(1L, "click", ts("10:01:00")))
    q.processAllAvailable()
    mem.addData(
      FunnelEvent(1L, "purchase", ts("10:02:00")), // completes the funnel
      FunnelEvent(2L, "click", ts("10:00:00")),    // click BEFORE first view
      FunnelEvent(2L, "view", ts("10:03:00")),     // → stage 1 only
      FunnelEvent(3L, "view", ts("10:05:00")),     // same-batch disorder:
      FunnelEvent(3L, "click", ts("10:04:00")))    // click is pre-view → no stage 2
    q.processAllAvailable()
    val got = spark.table("funnel_out")
      .select("user", "stage", "step").as[(Long, Int, String)].collect().toSet
    q.stop()
    assert(got === Set(
      (1L, 1, "view"), (1L, 2, "click"), (1L, 3, "purchase"),
      (2L, 1, "view"), (3L, 1, "view")))
    // batch parity: the same events through Relational.funnel
    val batch = graft.operators.Relational.funnel(
      Seq((1L, "view", 36000L), (1L, "click", 36060L), (1L, "purchase", 36120L),
        (2L, "click", 36000L), (2L, "view", 36180L),
        (3L, "view", 36300L), (3L, "click", 36240L))
        .toDF("user_id", "event_type", "ts_sec"),
      Seq("view", "click", "purchase"))
      .select("stage", "n_users").as[(Long, Long)].collect().toMap
    val streamed = got.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    assert(batch === Map(1L -> 3L, 2L -> 1L, 3L -> 1L))
    assert(streamed.map { case (k, v) => k.toLong -> v } ===
      Map(1L -> 3L, 2L -> 1L, 3L -> 1L))
  }

  test("Trigger.AvailableNow drains a file backfill and terminates by itself") {
    // the batch-shaped run of a streaming pipeline: process everything
    // present, commit the checkpoint, exit — how a nightly backfill
    // reuses the exact streaming code path
    val inDir = java.nio.file.Files.createTempDirectory("an_in").toString
    (1 to 3).foreach(i =>
      Seq((i.toLong, s"v$i")).toDF("id", "v").write.mode("append").parquet(inDir))
    val schema = spark.read.parquet(inDir).schema
    val q = spark.readStream.schema(schema).parquet(inDir)
      .writeStream.format("memory").queryName("an_out")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000L), "AvailableNow query did not self-terminate")
    assert(spark.table("an_out").count() === 3L)
  }

  test("freq_topk heavy hitters run inside a watermarked streaming window agg") {
    // the O(k)-state sketch composes with Structured Streaming's
    // windowed aggregation: partials per micro-batch, MG-merged across
    // batches by the state store — same code path as batch
    import graft.functions.FreqTopK.freq_topk
    graft.plans.GraftExtensions.register(spark)
    val mem = MemoryStream[(Timestamp, String)]
    val out = mem.toDF().toDF("ts", "page")
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour").as("w"))
      .agg(freq_topk(col("page"), 3).as("hh"))
    // complete mode: the memory table holds only the LATEST state per
    // window, so the assertion reads final merged counters directly
    val q = out.writeStream.outputMode("complete").format("memory")
      .queryName("hh_stream").start()
    val t = Timestamp.valueOf("2026-01-01 10:30:00")
    mem.addData((t, "a"), (t, "a"), (t, "b"))
    q.processAllAvailable()
    mem.addData((t, "a"), (t, "b"), (t, "c")) // merges into the SAME window's state
    q.processAllAvailable()
    val hh = spark.table("hh_stream")
      .selectExpr("explode(hh) AS x").select("x.item", "x.est")
      .as[(String, Long)].collect().toMap
    // k=3 ≥ distinct=3 → exact across both micro-batches
    assert(hh === Map("a" -> 3L, "b" -> 2L, "c" -> 1L))
    q.stop()
  }

  test("expiring changelog state: key state is dropped after the event-time TTL") {
    def ev(k: Long, v: Long, p: String, t: String) =
      Changelog.TimedVersionedEvent(k, v, p, Timestamp.valueOf(t))
    val mem = MemoryStream[Changelog.TimedVersionedEvent]
    val q = Changelog.compactExpiring(mem.toDS(), "0 seconds", ttlMs = 60000L)
      .writeStream.outputMode("append").format("memory").queryName("exp_out").start()
    mem.addData(ev(1, 10, "a", "2024-01-01 10:00:00"))
    q.processAllAvailable()
    // stale version within TTL: dropped by state
    mem.addData(ev(1, 9, "stale", "2024-01-01 10:00:30"))
    q.processAllAvailable()
    // other-key traffic advances the watermark past key 1's expiry
    mem.addData(ev(2, 1, "x", "2024-01-01 10:10:00"))
    q.processAllAvailable()
    mem.addData(ev(2, 2, "x2", "2024-01-01 10:10:01"))
    q.processAllAvailable()
    // key 1's state expired → the same stale version is now re-accepted,
    // which is only possible if the TTL removed the state
    mem.addData(ev(1, 9, "after-expiry", "2024-01-01 10:10:02"))
    q.processAllAvailable()
    val got = spark.table("exp_out").as[Changelog.TimedVersionedEvent]
      .collect().map(e => (e.key, e.version, e.payload)).toSet
    assert(got === Set((1L, 10L, "a"), (2L, 1L, "x"), (2L, 2L, "x2"),
      (1L, 9L, "after-expiry")))
    q.stop()
  }

  test("changelog compaction emits only version advances") {
    val mem = MemoryStream[Changelog.VersionedEvent]
    val q = Changelog.compact(mem.toDS()).writeStream
      .outputMode("append").format("memory").queryName("compact_out").start()
    mem.addData(
      Changelog.VersionedEvent(1, 10, "a"),
      Changelog.VersionedEvent(1, 12, "b"),
      Changelog.VersionedEvent(2, 5, "x"))
    q.processAllAvailable()
    mem.addData(
      Changelog.VersionedEvent(1, 11, "stale"), // below state version: dropped
      Changelog.VersionedEvent(2, 6, "y"))
    q.processAllAvailable()
    val out = spark.table("compact_out").as[Changelog.VersionedEvent]
      .collect().map(e => (e.key, e.version, e.payload)).toSet
    assert(out === Set((1L, 12L, "b"), (2L, 5L, "x"), (2L, 6L, "y")))
    q.stop()
  }

  test("watermark loop closes: the measured curve's drop count IS the observed " +
    "streaming loss at each candidate delay") {
    // The decision loop rel_watermark_curve exists for: measure the
    // loss curve on history, pick a delay, deploy withWatermark(delay)
    // — this test PROVES the measured curve predicts the deployment.
    // With one event per micro-batch, Spark's watermark before event i
    // is max(ts of events < i) − delay, and a 1-second window is
    // dropped iff ts + 1 ≤ watermark ⟺ lateness > delay — exactly the
    // curve's `__late > delay_sec` predicate (strictly-earlier RANGE
    // rule), so the match is EXACT, not approximate.
    import graft.operators.Relational
    val base = 1700000000L
    def tsSec(i: Int): Long =
      base + i - (if (i % 5 == 2) 4L else 0L) - (if (i % 7 == 3) 8L else 0L)
    val n = 24
    val events = (0 until n).map(i => (i.toLong, tsSec(i)))
    val delays = Seq(2L, 5L, 10L)
    val curve = Relational.watermarkCurve(
        events.toDF("arr", "ts_sec").withColumn("k", lit("a")),
        Seq(col("k")), col("arr"), col("ts_sec"), delays)
      .collect().map(r => r.getAs[Long]("delay_sec") -> r.getAs[Long]("n_dropped"))
      .toMap
    // spread: 7 drops at delay 2, 3 at 5, 1 at 10 (the i=17 row sits
    // in BOTH jitter dips — lateness 11)
    assert(curve(2L) > curve(5L) && curve(5L) > curve(10L) && curve(10L) > 0L,
      s"fixture must spread drops across the delays, got $curve")
    for (delay <- delays) {
      val mem = MemoryStream[(Timestamp, Long)]
      val agg = mem.toDF().toDF("ts", "v")
        .withWatermark("ts", s"$delay seconds")
        .groupBy(window(col("ts"), "1 second")).count()
      val q = agg.writeStream.outputMode("append").format("memory")
        .queryName(s"wm_loop_$delay").start()
      // one event per micro-batch: the watermark advances per event,
      // matching the curve's arrival-order running max exactly
      events.foreach { case (_, t) =>
        mem.addData((new Timestamp(t * 1000L), t)); q.processAllAvailable()
      }
      // two flushers push the watermark past every real window (the
      // second triggers the batch that emits what the first unlocked)
      val flush = base + 100000L
      mem.addData((new Timestamp(flush * 1000L), -1L)); q.processAllAvailable()
      mem.addData((new Timestamp((flush + 100L) * 1000L), -2L)); q.processAllAvailable()
      val accepted = spark.table(s"wm_loop_$delay")
        .filter(col("window.start") < new Timestamp(flush * 1000L))
        .agg(coalesce(sum("count"), lit(0L))).head().getLong(0)
      q.stop()
      assert(n - accepted === curve(delay),
        s"delay=$delay: observed streaming loss ${n - accepted} != " +
          s"measured curve ${curve(delay)}")
    }
  }
}
