package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, DoubleAdder}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory spans and counters, written out once at the end of a run.
  *
  * Spans are recorded only while `on` is set, so the untimed warm-up
  * and the measured part of a run share one code path. Times are epoch
  * milliseconds with sub-millisecond precision (from `nanoTime`
  * anchored once), so spans from driver and task threads line up. */
object Trace {
  @volatile var on = false
  @volatile var runId = "run"

  final case class Span(id: String, parent: String, name: String,
                        start: Double, end: Double, attrs: Map[String, Any])

  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong()
  private val anchorNs = System.nanoTime()
  private val anchorMs = System.currentTimeMillis().toDouble

  def nowMs: Double = anchorMs + (System.nanoTime() - anchorNs) / 1e6

  def newId(prefix: String): String = s"$prefix-${ids.incrementAndGet()}"

  def record(id: String, parent: String, name: String, start: Double, end: Double,
             attrs: Map[String, Any] = Map.empty): Unit =
    if (on) spans.add(Span(id, parent, name, start, end, attrs + ("run" -> runId)))

  /** Time `body` as a span named `name`; the span id is passed in so
    * children started inside can name it as their parent. */
  def span[T](name: String, parent: String, attrs: Map[String, Any] = Map.empty)
             (body: String => T): T = {
    val id = newId(name)
    val t0 = nowMs
    try body(id) finally record(id, parent, name, t0, nowMs, attrs)
  }

  def all: Seq[Span] = spans.asScala.toSeq

  // ---- counters from Spark's own listeners, per bucket ----

  /** One bucket of listener counts. The driver sets `current` at each
    * span boundary after draining the listener bus, so every event is
    * credited to the span it belongs to. */
  final class Bucket {
    val jobs = new AtomicLong(); val stages = new AtomicLong(); val tasks = new AtomicLong()
    val runMs = new AtomicLong(); val cpuNs = new AtomicLong(); val gcMs = new AtomicLong()
    val shuffleBytes = new AtomicLong(); val spillBytes = new AtomicLong()
    val planMs = new DoubleAdder()
    def asMap: Map[String, Any] = Map(
      "jobs" -> jobs.get, "stages" -> stages.get, "tasks" -> tasks.get,
      "exec_s" -> runMs.get / 1e3, "task_cpu_s" -> cpuNs.get / 1e9, "gc_s" -> gcMs.get / 1e3,
      "shuffle_mb" -> shuffleBytes.get / 1048576.0, "spill_mb" -> spillBytes.get / 1048576.0,
      "plan_ms" -> planMs.sum)
  }

  @volatile var current: Bucket = new Bucket
  /** Parent for the `plan` spans the query-execution listener records. */
  @volatile var planParent = ""

  /** Drain the bus, then point new events at `next`; returns the
    * bucket that was current. */
  def switchBucket(spark: SparkSession, next: Bucket): Bucket = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    val prev = current
    current = next
    prev
  }

  /** Register the listeners; they count only while `on` is set. */
  def install(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (on) current.jobs.incrementAndGet()
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (on) current.stages.incrementAndGet()
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (on) {
        val b = current
        b.tasks.incrementAndGet()
        val m = e.taskMetrics
        if (m != null) {
          b.runMs.addAndGet(m.executorRunTime)
          b.cpuNs.addAndGet(m.executorCpuTime)
          b.gcMs.addAndGet(m.jvmGCTime)
          b.shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          b.spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        }
      }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (on) {
          val phases = Seq("analysis", "optimization", "planning").flatMap(qe.tracker.phases.get)
          current.planMs.add(phases.map(_.durationMs.toDouble).sum)
          if (phases.nonEmpty)
            record(newId("plan"), planParent, "plan", phases.map(_.startTimeMs).min.toDouble,
              phases.map(_.endTimeMs).max.toDouble, Map("action" -> funcName))
        }
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    })
  }
}
