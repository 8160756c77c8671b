package graft.streaming

import java.lang.ref.WeakReference
import java.util.concurrent.{Executors, ScheduledExecutorService, TimeUnit}

import scala.concurrent.duration.Duration
import scala.util.control.NonFatal

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, GraftColumnBridge, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{Expression, NonSQLExpression, UnaryExpression, Unevaluable}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.types.{DataType, StructType}

/** A small dimension table held on the driver as one broadcast
  * key → row hash map, so a stream is enriched by a per-row lookup
  * instead of a join: no per-micro-batch dimension read, broadcast job
  * or hash-relation build, and the lookup fuses into the stage that
  * produces the key.
  *
  * Freshness contract: the dimension is read once when the holder is
  * built (failing fast), then re-read on a background thread, never
  * on the micro-batch or scheduler thread, every `refresh` (start to
  * start) while an active streaming query runs it. Each plan binds the
  * snapshot current when it is optimized ([[BindHeldDimensions]]), so
  * a committed dimension change reaches every micro-batch that starts
  * more than `refresh` plus one reload after it. A re-read that fails
  * (including on a duplicate key) is logged and the previous snapshot
  * stays. A replaced snapshot is unpersisted from the executors; the
  * driver keeps it until no plan holds it. `refresh = Duration.Inf`
  * reads the dimension once.
  *
  * Semantics are a left equi-join's with at most one match per key: an
  * unmatched or null key yields a null row. The dimension must fit in
  * driver memory, as a broadcast join's build side already had to.
  *
  * @param key    dimension column matched against the looked-up value;
  *               it is cast to `keyType` (the probe column's type)
  * @param cols   dimension columns of the looked-up row, in order
  */
final class HeldDimension(dim: DataFrame, key: String, cols: Seq[String], keyType: DataType,
                          refresh: Duration) {
  require(refresh > Duration.Zero, s"refresh must be positive, got $refresh")

  /** The looked-up row's type. Column names are the ones `dim(c)`
    * resolves to, as a join's select on the dimension would output. */
  val rowType: StructType = dim.select(cols.map(dim(_)): _*).schema

  @volatile private var current: Broadcast[HeldDimension.Rows] = load()

  HeldDimension.bindLookups(dim.sparkSession)
  if (refresh.isFinite)
    HeldDimension.scheduleReload(new WeakReference(this), refresh.toMillis, refresh.toMillis)

  /** The snapshot a plan optimized now binds to. */
  def snapshot: Broadcast[HeldDimension.Rows] = current

  /** The row struct for the probe column `k`. */
  def apply(k: Column): Column =
    GraftColumnBridge.column(DimLookup(GraftColumnBridge.expression(k), this))

  override def toString: String = s"HeldDimension($key, refresh = $refresh)"

  /** One Spark job: the dimension, keyed, into a fresh broadcast. */
  private def load(): Broadcast[HeldDimension.Rows] = {
    val rows = dim.select(dim(key).cast(keyType) +: cols.map(dim(_)): _*).collect()
    val toRow = CatalystTypeConverters.createToCatalystConverter(rowType)
    val map = new HeldDimension.Rows(rows.length * 2)
    rows.iterator.filterNot(_.isNullAt(0)).foreach { r =>
      val k = CatalystTypeConverters.convertToCatalyst(r.get(0))
      val row = toRow(Row.fromSeq(r.toSeq.tail)).asInstanceOf[InternalRow]
      require(map.put(k, row) == null, s"dimension key $key is not unique: ${r.get(0)} repeats")
    }
    dim.sparkSession.sparkContext.broadcast(map)
  }

  private def stopped: Boolean = dim.sparkSession.sparkContext.isStopped

  /** Whether an active streaming query's plan looks this holder up. */
  private def inUse: Boolean = dim.sparkSession.streams.active.exists {
    case w: StreamingQueryWrapper => w.streamingQuery.analyzedPlan.exists(_.expressions.exists(_.exists {
      case l: DimLookup => l.dim eq this
      case _ => false
    }))
    case _ => false
  }

  /** Re-reads the dimension if a running stream uses it; on failure the
    * previous snapshot stays. */
  private def refreshIfInUse(): Unit =
    try if (inUse) {
      val old = current
      current = load()
      old.unpersist(blocking = false)
    } catch {
      case NonFatal(e) => HeldDimension.log.warn(s"$this: re-read failed, keeping the previous snapshot: $e")
    }
}

object HeldDimension {
  /** Catalyst key value → the dimension's row (null when absent). */
  type Rows = java.util.HashMap[Any, InternalRow]

  private val log = org.slf4j.LoggerFactory.getLogger(classOf[HeldDimension])

  private lazy val timer: ScheduledExecutorService =
    Executors.newSingleThreadScheduledExecutor { r =>
      val t = new Thread(r, "graft-dimension-refresh")
      t.setDaemon(true)
      t
    }

  /** Every `everyMs` from one tick's start to the next (so a slow read
    * does not stretch the contract's bound), re-read when a running
    * stream uses the holder. Ticks go on while the holder is reachable
    * and its SparkContext runs; the timer holds it only weakly, so a
    * dropped stream plan ends them. */
  private def scheduleReload(ref: WeakReference[HeldDimension], everyMs: Long, delayMs: Long): Unit =
    timer.schedule(new Runnable {
      def run(): Unit = Option(ref.get).filterNot(_.stopped).foreach { h =>
        val start = System.nanoTime()
        h.refreshIfInUse()
        scheduleReload(ref, everyMs, everyMs - (System.nanoTime() - start) / 1000000L max 0L)
      }
    }, delayMs, TimeUnit.MILLISECONDS)

  /** Adds [[BindHeldDimensions]] to the session's optimizer, once. */
  private def bindLookups(spark: SparkSession): Unit = synchronized {
    if (!spark.experimental.extraOptimizations.contains(BindHeldDimensions))
      spark.experimental.extraOptimizations = spark.experimental.extraOptimizations :+ BindHeldDimensions
  }
}

/** `dim(child)` as written in a plan; the optimizer replaces it with a
  * [[SnapshotLookup]] on the holder's current snapshot. */
case class DimLookup(child: Expression, dim: HeldDimension)
    extends UnaryExpression with Unevaluable with NonSQLExpression {
  override def dataType: DataType = dim.rowType
  override def nullable: Boolean = true
  override protected def withNewChildInternal(newChild: Expression): DimLookup =
    copy(child = newChild)
}

/** Binds each [[DimLookup]] to its holder's current snapshot. Runs in
  * every optimization, so each micro-batch plans against the snapshot
  * current at its start, and its plan keeps that broadcast on the
  * driver while the batch runs. */
object BindHeldDimensions extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformAllExpressions {
    case DimLookup(child, dim) => SnapshotLookup(child, dim.snapshot, dim.rowType)
  }
}

/** `child`'s row in one broadcast dimension snapshot, or null.
  * Whole-stage codegen calls [[lookup]] directly. */
case class SnapshotLookup(child: Expression, rows: Broadcast[HeldDimension.Rows], dataType: StructType)
    extends UnaryExpression with NonSQLExpression {

  override def nullable: Boolean = true

  @transient private lazy val map = rows.value

  def lookup(k: Any): InternalRow = map.get(k)

  override protected def nullSafeEval(k: Any): Any = lookup(k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("dim", this, classOf[SnapshotLookup].getName)
    val boxed = CodeGenerator.boxedType(child.dataType)
    nullSafeCodeGen(ctx, ev, k => {
      val key = if (CodeGenerator.isPrimitiveType(child.dataType)) s"$boxed.valueOf($k)" else k
      s"${ev.value} = $ref.lookup($key);\n${ev.isNull} = ${ev.value} == null;"
    })
  }

  override protected def withNewChildInternal(newChild: Expression): SnapshotLookup =
    copy(child = newChild)
}
