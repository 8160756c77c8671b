package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import java.lang.management.ManagementFactory
import javax.management.{Notification, NotificationEmitter}
import javax.management.openmbean.CompositeData

import com.fasterxml.jackson.databind.ObjectMapper
import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.sql.SparkSession

/** JVM half of the benchmark. `run.py` renders the inputs, starts this
  * process, and turns the raw record it writes (`--out`) into metrics.
  *
  * {{{
  * perfbench.Main --workload <name> --work <dir> --out <json> --seconds <s>
  *                --cores <n> --trace <0|1> [--queries a,b,c]
  * }}}
  *
  * One process runs the workload once, with tracing off or on; a traced
  * run starts one process of each, so both get the same set-up and
  * warm-up. */
object Main {

  final case class Args(workload: String, work: String, out: String, seconds: Double,
                        cores: Int, trace: Boolean, queries: Seq[String])

  def parse(argv: Array[String]): Args = {
    val a = argv.sliding(2, 2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(a("workload"), a("work"), a("out"), a("seconds").toDouble, a("cores").toInt,
      a.getOrElse("trace", "0") == "1",
      a.get("queries").map(_.split(',').toSeq.filter(_.nonEmpty)).getOrElse(Nil))
  }

  def session(args: Args): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${args.cores}]")
      .appName(s"perfbench-${args.workload}")
      .config("spark.sql.shuffle.partitions", args.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${args.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${args.work}/warehouse")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** CPU time used so far, in ms, by the whole process and by the JIT
    * compiler's threads alone. */
  final case class Cpu(all: Double, jit: Double) {
    def since(o: Cpu): Map[String, Any] = Map("cpu_ms" -> (all - o.all), "jit_ms" -> (jit - o.jit))
  }

  /** The compiler threads are found by name in /proc (utime + stime, in
    * 10 ms ticks). `run.py` starts the JVM with a fixed set of them, so
    * none exits and takes its time along. */
  def cpu(): Cpu = {
    val all = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e6
    val tasks = Option(new java.io.File("/proc/self/task").listFiles).getOrElse(Array.empty)
    val jit = tasks.iterator.map { t =>
      try {
        val comm = new String(Files.readAllBytes(t.toPath.resolve("comm"))).trim
        if (!comm.matches("C[12] CompilerThre.*")) 0L else {
          val stat = new String(Files.readAllBytes(t.toPath.resolve("stat")))
          val f = stat.substring(stat.lastIndexOf(')') + 2).split(' ')
          f(11).toLong + f(12).toLong // utime, stime: fields 14 and 15 of stat
        }
      } catch { case _: java.io.IOException => 0L } // the thread ended meanwhile
    }.sum * 10.0
    Cpu(all, jit)
  }

  /** Peak resident memory of this process (VmHWM), in MB. */
  def rssPeakMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  /** The most memory, heap and non-heap, in use right after any
    * collection so far, in MB: the peak of what the process retains,
    * without the garbage that peak RSS also counts. */
  @volatile var afterGcPeakMb = 0.0

  def watchCollections(): Unit =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener((n: Notification, _: Any) =>
        if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
          val mb = info.getGcInfo.getMemoryUsageAfterGc.values.asScala.map(_.getUsed).sum / 1048576.0
          if (mb > afterGcPeakMb) afterGcPeakMb = mb
        }, null, null)
      case _ => ()
    }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    watchCollections()
    Trace.runId = s"${args.workload}-${jvmStart.toLong}"
    System.setProperty("derby.system.home", args.work)
    System.setProperty("derby.stream.error.file", s"${args.work}/derby.log")
    // Each partition of a micro-batch is one transaction; Derby's
    // default escalates a transaction past 5000 row locks to a table
    // lock, which serializes (and can deadlock) the parallel writers.
    System.setProperty("derby.locks.escalationThreshold", "100000000")
    val spark = session(args)
    if (args.trace) Trace.install(spark)
    val record = new java.util.LinkedHashMap[String, Any]()
    record.put("jvm_start", jvmStart)
    record.put("session_ready", Trace.nowMs)
    val (traced, sub) = (args.trace, s"${args.work}/${if (args.trace) "traced" else "plain"}")
    val result = args.workload match {
      case "batch_etl" => BatchRun.run(spark, args, sub, traced)
      case "cdc_stream_paced" => StreamRun.paced(spark, args, sub, traced)
      case "cdc_stream_backlog" => StreamRun.backlog(spark, args, sub, traced)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    record.put("half", Json.java(result))
    record.put("spans", Trace.all.map(s => Json.java(Map(
      "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
      "start" -> s.start, "end" -> s.end, "attrs" -> s.attrs))).asJava)
    record.put("rss_peak_mb", rssPeakMb())
    record.put("mem_after_gc_peak_mb", afterGcPeakMb)
    new ObjectMapper().writeValue(new java.io.File(args.out), record)
    spark.stop()
  }
}

/** Scala values → Java collections, so Jackson writes them as plain JSON. */
object Json {
  def java(v: Any): Any = v match {
    case m: scala.collection.Map[_, _] =>
      val out = new _root_.java.util.LinkedHashMap[String, Any]()
      m.foreach { case (k, x) => out.put(k.toString, java(x)) }
      out
    case s: Iterable[_] => s.map(java).toSeq.asJava
    case a: Array[_] => a.toSeq.map(java).asJava
    case o: Option[_] => o.map(java).orNull
    case x => x
  }
}
