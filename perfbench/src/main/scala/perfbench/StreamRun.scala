package perfbench

import java.lang.reflect.{InvocationHandler, InvocationTargetException, Method, Proxy}
import java.nio.file.{Files => NioFiles, Paths, StandardCopyOption}
import java.nio.file.attribute.FileTime
import java.sql.{Connection, DriverManager, PreparedStatement}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.concurrent.Await
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryException, Trigger}

import graft.sinks.JdbcUpsertSink
import graft.sources.{Files, Jdbc, Tables}
import graft.streaming.{CdcStreamJob, Changelog}

/** The meeting CDC stream, driven through the calls `MeetingStreamJob`
  * makes: a text file source, `Jdbc.query` for the room dimension,
  * `CdcStreamJob.enriched` / `start`, and the body of
  * `JdbcUpsertSink.writer` (`Changelog.compactBatch` then
  * `JdbcUpsertSink.write`) so the traced run can hand the sink its own
  * connection factory. An in-memory Derby stands in for MySQL. */
object StreamRun {

  val keyCols = Seq("meeting_id")
  val valCols = Seq("meeting_code", "meetingroom_id", "meetingroom_name", "location_name", "city")

  /** Commit time and compaction counts per micro-batch, as the writer saw them. */
  final class BatchLog {
    val commits = new ConcurrentLinkedQueue[Map[String, Any]]()
  }

  def writer(url: String, traced: Boolean, log: BatchLog): (DataFrame, Long) => Unit =
    (batch, batchId) => {
      val parent = s"trigger-$batchId"
      val obsIn = Observation(s"changelog_in_$batchId")
      val obsOut = Observation(s"changelog_out_$batchId")
      val in = if (traced) batch.observe(obsIn, count(lit(1)).as("rows")) else batch
      val compacted = Trace.span("changelog.compact", parent) { _ =>
        Changelog.compactBatch(in, keyCols, "es")
      }
      val out = if (!traced) compacted else compacted.observe(obsOut, count(lit(1)).as("rows"),
        sum(when(col("op") === "DELETE", 1L).otherwise(0L)).as("deletes"))
      val connect: () => Connection =
        if (traced) () => JdbcTrace.connect(url) else () => DriverManager.getConnection(url)
      Trace.span("sinks.write", parent, Map("batch" -> batchId)) { id =>
        JdbcTrace.writeSpan = id
        Trace.planParent = id
        JdbcUpsertSink.write(out, "meeting_result", keyCols, valCols, connect, opCol = Some("op"))
      }
      val counts: Map[String, Any] = if (!traced) Map.empty else {
        def got(o: Observation) = Await.result(o.future, 30.seconds)
        val i = got(obsIn); val o = got(obsOut)
        Map("rows_in" -> i.getLong(0), "rows_out" -> o.getLong(0), "deletes" -> o.getLong(1))
      }
      log.commits.add(Map("batch" -> batchId, "commit" -> Trace.nowMs) ++ counts)
    }

  private def manifest(dir: String) =
    new ObjectMapper().readTree(new java.io.File(s"$dir/manifest.json"))

  /** Micro-batch progress, one entry per batch that read input. */
  private def progress(q: StreamingQuery): Seq[Map[String, Any]] =
    q.recentProgress.filter(_.numInputRows > 0).map { p =>
      Map("batch" -> p.batchId,
        "start" -> java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
        "rows" -> p.numInputRows,
        "duration" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap)
    }.groupBy(_("batch")).values.map(_.last).toSeq.sortBy(_("batch").asInstanceOf[Long])

  private def committedRows(q: StreamingQuery): Long =
    q.recentProgress.map(p => p.batchId -> p.numInputRows).toMap.values.sum

  private def startQuery(spark: SparkSession, raw: DataFrame, url: String, ckpt: String,
                         traced: Boolean, log: BatchLog, trigger: Trigger): StreamingQuery = {
    val dim = Jdbc.query(spark, url, Derby.dimSql)
    CdcStreamJob.start(CdcStreamJob.enriched(raw, dim), ckpt, writer(url, traced, log), trigger)
  }

  /** Time `CanalCodec.meetingPipeline` alone over `dir` into the noop sink. */
  private def decodeProbe(spark: SparkSession, dir: String): Double = {
    val t0 = Trace.nowMs
    graft.codec.CanalCodec.meetingPipeline(spark.read.text(dir),
      ops = Set("INSERT", "UPDATE", "DELETE")).write.format("noop").mode("overwrite").save()
    (Trace.nowMs - t0) / 1e3
  }

  private def finish(q: StreamingQuery, log: BatchLog, url: String, sub: String,
                     traced: Boolean): Map[String, Any] = {
    val error = q.exception.map(e => String.valueOf(e.getMessage).take(500))
    q.stop()
    Derby.dump(url, s"$sub/result.tsv")
    Map("traced" -> traced, "progress" -> progress(q),
      "commits" -> log.commits.asScala.toSeq, "error" -> error,
      "jdbc" -> JdbcTrace.snapshot())
  }

  /** Open loop: files land on a fixed schedule whatever the stream does.
    * The warm-up files (which insert the live meeting set) go in first
    * and are waited for; then the schedule runs for `warm_ms` before the
    * measured window, so the measured files meet a query whose code
    * paths have already been compiled. */
  def paced(spark: SparkSession, args: Main.Args, sub: String, traced: Boolean): Map[String, Any] = {
    val dir = s"$sub/stream"
    val m = manifest(dir)
    val (nFiles, warm, interval) = (m.get("files").asInt, m.get("warm_files").asInt,
      m.get("interval_ms").asDouble)
    val totalLines = m.get("total_lines").asLong
    val url = s"jdbc:derby:memory:pb_paced_${if (traced) "t" else "p"};create=true"
    Derby.setup(url, s"${args.work}/dim.tsv")
    val in = s"$dir/in"
    NioFiles.createDirectories(Paths.get(in))
    val log = new BatchLog
    val q = startQuery(spark, Files.textStream(spark, in), url, s"$sub/ckpt", traced, log,
      Trigger.ProcessingTime(0))
    (0 until warm).foreach(i => Mover.land(s"$dir/staging", in, i, Trace.nowMs - warm + i))
    val warmLines = m.get("warm_lines").asLong
    while (q.isActive && committedRows(q) < warmLines) Thread.sleep(10)
    val t0 = Trace.nowMs + 100
    val mover = new Mover(s"$dir/staging", in, warm until nFiles, t0, interval)
    mover.start()
    val ready = t0 + m.get("warm_ms").asDouble
    Thread.sleep((ready - Trace.nowMs).toLong max 0L)
    val cpuReady = Main.cpu()
    Trace.on = traced
    JdbcTrace.reset()
    val bucket = new Trace.Bucket
    if (traced) Trace.switchBucket(spark, bucket)
    val dash = new Dashboard(url)
    dash.start()
    mover.join()
    val deadline = Trace.nowMs + 60000
    while (q.isActive && committedRows(q) < totalLines && Trace.nowMs < deadline) Thread.sleep(10)
    val cpuEnd = Main.cpu()
    dash.finish()
    if (traced) Trace.switchBucket(spark, new Trace.Bucket)
    val res = finish(q, log, url, sub, traced)
    val probe = if (traced) Map("decode_s" -> decodeProbe(spark, in)) else Map.empty
    Trace.on = false
    res ++ probe ++ Map("ready" -> ready, "t0" -> t0, "moves" -> mover.moves,
      "dashboard" -> dash.polls, "spark" -> bucket.asMap) ++ cpuEnd.since(cpuReady)
  }

  /** A consumer restart: the whole backlog is present at start and drains
    * `max_files_per_trigger` files per micro-batch. */
  def backlog(spark: SparkSession, args: Main.Args, sub: String, traced: Boolean): Map[String, Any] = {
    val dir = s"$sub/stream"
    val m = manifest(dir)
    val url = s"jdbc:derby:memory:pb_backlog_${if (traced) "t" else "p"};create=true"
    Derby.setup(url, s"${args.work}/dim.tsv")
    def source(files: String) = Tables.normalize(spark).readStream
      .option("maxFilesPerTrigger", m.get("max_files_per_trigger").asInt)
      .text(files)
    // warm-up micro-batches of the measured size, then an empty table again
    val warm = startQuery(spark, source(s"$dir/warm"), url, s"$sub/ckpt-warm",
      traced = false, new BatchLog, Trigger.AvailableNow())
    warm.awaitTermination()
    Derby.exec(url, "DELETE FROM meeting_result")
    val ready = Trace.nowMs
    val cpuReady = Main.cpu()
    Trace.on = traced
    JdbcTrace.reset()
    val bucket = new Trace.Bucket
    if (traced) Trace.switchBucket(spark, bucket)
    val log = new BatchLog
    val q = startQuery(spark, source(s"$dir/backlog"), url, s"$sub/ckpt", traced, log,
      Trigger.AvailableNow())
    // a query that dies is reported by finish(); its uncommitted changes count as failed
    try q.awaitTermination(150000) catch { case _: StreamingQueryException => () }
    val cpuEnd = Main.cpu()
    if (traced) Trace.switchBucket(spark, new Trace.Bucket)
    val res = finish(q, log, url, sub, traced)
    val probe = if (traced) Map("decode_s" -> decodeProbe(spark, s"$dir/backlog")) else Map.empty
    Trace.on = false
    res ++ probe ++ Map("ready" -> ready, "t0" -> ready, "spark" -> bucket.asMap) ++
      cpuEnd.since(cpuReady)
  }
}

/** The load generator's one thread: moves pre-rendered files into the
  * watched directory on schedule (file `files(k)` is due at
  * `t0 + k * intervalMs`) and records when each really landed. */
final class Mover(staging: String, in: String, files: Seq[Int], t0: Double, intervalMs: Double)
    extends Thread("perfbench-mover") {
  setDaemon(true)
  private val landed = new Array[Double](files.size)
  def moves: Seq[Map[String, Any]] = files.indices.map(k =>
    Map("file" -> files(k), "due" -> (t0 + k * intervalMs), "moved" -> landed(k)))
  override def run(): Unit = files.indices.foreach { k =>
    val due = t0 + k * intervalMs
    val wait = due - Trace.nowMs
    if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
    Mover.land(staging, in, files(k), due)
    landed(k) = Trace.nowMs
  }
}

object Mover {
  /** Stamp file i with `mtimeMs` (the file source takes new files in
    * modification-time order) and rename it into the watched directory. */
  def land(staging: String, in: String, i: Int, mtimeMs: Double): Unit = {
    val name = f"f$i%06d.json"
    val src = Paths.get(staging, name)
    NioFiles.setLastModifiedTime(src, FileTime.fromMillis(mtimeMs.toLong))
    NioFiles.move(src, Paths.get(in, name), StandardCopyOption.ATOMIC_MOVE)
  }
}

/** The dashboard's single reader connection: once a second, distinct
  * booked rooms per city (the reservation rate's numerator). */
final class Dashboard(url: String) extends Thread("perfbench-dashboard") {
  setDaemon(true)
  @volatile private var running = true
  private val log = new ConcurrentLinkedQueue[Map[String, Any]]()
  def polls: Seq[Map[String, Any]] = log.asScala.toSeq
  def finish(): Unit = { running = false; interrupt(); join() }
  override def run(): Unit = {
    val conn = DriverManager.getConnection(url)
    try {
      var next = Trace.nowMs
      while (running) {
        val start = Trace.nowMs
        val ok = try {
          Trace.span("dashboard.poll", "") { _ =>
            val rs = conn.createStatement().executeQuery(Derby.dashboardSql)
            while (rs.next()) rs.getLong(2)
            rs.close()
          }
          true
        } catch { case _: Exception if !running => false }
        if (running || ok) log.add(Map("start" -> start, "ms" -> (Trace.nowMs - start), "ok" -> ok))
        next += 1000
        val wait = next - Trace.nowMs
        if (wait > 0 && running) try Thread.sleep(wait.toLong) catch { case _: InterruptedException => () }
      }
    } finally conn.close()
  }
}

object Derby {
  val dimSql: String =
    """SELECT r.meetingroom_id, r.meetingroom_name, l.location_id, l.location_name, l.city
      |FROM meetingroom r JOIN location l ON r.location_id = l.location_id""".stripMargin
  val dashboardSql: String =
    "SELECT city, COUNT(DISTINCT meetingroom_id) FROM meeting_result GROUP BY city"

  def exec(url: String, sql: String*): Unit = {
    val c = DriverManager.getConnection(url)
    try sql.foreach(c.createStatement().execute) finally c.close()
  }

  /** Dimension tables from `dim.tsv` (room id, room name, location id,
    * location name, city) and an empty result table. */
  def setup(url: String, dimTsv: String): Unit = {
    exec(url,
      "CREATE TABLE location (location_id INT PRIMARY KEY, location_name VARCHAR(64), city VARCHAR(64))",
      "CREATE TABLE meetingroom (meetingroom_id INT PRIMARY KEY, meetingroom_name VARCHAR(64), location_id INT)",
      """CREATE TABLE meeting_result (meeting_id INT PRIMARY KEY, meeting_code VARCHAR(64),
        |meetingroom_id INT, meetingroom_name VARCHAR(64), location_name VARCHAR(64),
        |city VARCHAR(64))""".stripMargin)
    val rows = NioFiles.readAllLines(Paths.get(dimTsv)).asScala.map(_.split('\t'))
    val c = DriverManager.getConnection(url)
    try {
      val room = c.prepareStatement("INSERT INTO meetingroom VALUES (?, ?, ?)")
      val loc = c.prepareStatement("INSERT INTO location VALUES (?, ?, ?)")
      rows.foreach { r =>
        room.setInt(1, r(0).toInt); room.setString(2, r(1)); room.setInt(3, r(2).toInt)
        room.addBatch()
      }
      rows.map(r => (r(2), r(3), r(4))).distinct.foreach { case (id, name, city) =>
        loc.setInt(1, id.toInt); loc.setString(2, name); loc.setString(3, city); loc.addBatch()
      }
      room.executeBatch(); loc.executeBatch()
    } finally c.close()
  }

  def dump(url: String, tsv: String): Unit = {
    val c = DriverManager.getConnection(url)
    try {
      val rs = c.createStatement().executeQuery(
        "SELECT meeting_id, meeting_code, meetingroom_id, meetingroom_name, location_name, city " +
          "FROM meeting_result ORDER BY meeting_id")
      val out = Seq.newBuilder[String]
      while (rs.next())
        out += (1 to 6).map(i => Option(rs.getString(i)).getOrElse("\\N")).mkString("\t")
      NioFiles.write(Paths.get(tsv), out.result().asJava)
    } finally c.close()
  }
}

/** The traced run's connection factory: the same Derby connections,
  * wrapped to time `executeBatch` and `commit` and count what they carry. */
object JdbcTrace {
  @volatile var writeSpan = ""
  private val connections = new AtomicLong()
  private val executes = new AtomicLong()
  private val txnRows = new ConcurrentLinkedQueue[java.lang.Long]()

  def reset(): Unit = { connections.set(0); executes.set(0); txnRows.clear() }

  def snapshot(): Map[String, Any] = Map("connections" -> connections.get,
    "execute_batches" -> executes.get, "txn_rows" -> txnRows.asScala.map(_.longValue).toSeq)

  private def proxy[T](iface: Class[T], target: AnyRef)(
      around: (Method, () => AnyRef) => AnyRef): T =
    Proxy.newProxyInstance(getClass.getClassLoader, Array[Class[_]](iface),
      new InvocationHandler {
        def invoke(p: AnyRef, m: Method, a: Array[AnyRef]): AnyRef =
          around(m, () => try m.invoke(target, (if (a == null) Array.empty[AnyRef] else a): _*)
            catch { case e: InvocationTargetException => throw e.getCause })
      }).asInstanceOf[T]

  def connect(url: String): Connection = {
    connections.incrementAndGet()
    val parent = writeSpan
    val pending = new AtomicLong()
    val conn = DriverManager.getConnection(url)
    proxy(classOf[Connection], conn) { (m, call) =>
      m.getName match {
        case "prepareStatement" =>
          val st = call().asInstanceOf[PreparedStatement]
          proxy(classOf[PreparedStatement], st) { (sm, scall) =>
            sm.getName match {
              case "addBatch" => pending.incrementAndGet(); scall()
              case "executeBatch" =>
                executes.incrementAndGet()
                Trace.span("jdbc.executeBatch", parent)(_ => scall())
              case _ => scall()
            }
          }
        case "commit" =>
          txnRows.add(pending.getAndSet(0))
          Trace.span("jdbc.commit", parent)(_ => call())
        case _ => call()
      }
    }
  }
}
