package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.ConcurrentHashMap
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.SparkContext
import org.apache.spark.executor.TaskMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageSubmitted, SparkListenerTaskEnd}

/** Task-metric totals of one op or one span. */
final class TaskTotals {
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L

  def add(m: TaskMetrics): Unit = synchronized {
    runMs += m.executorRunTime
    cpuNs += m.executorCpuTime
    gcMs += m.jvmGCTime
    shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
    spillBytes += m.diskBytesSpilled
  }
}

/** Local properties the benchmark sets on the driver thread before each
  * call; every job submitted from that thread carries them to its stages. */
object Keys {
  val Op = "perfbench.op"
  val Span = "perfbench.span"
}

/** Attributes finished tasks to the op and the span that submitted their
  * stage, read from the stage's local properties. */
final class TaskListener(sc: SparkContext) extends SparkListener {
  private val stageKeys = new ConcurrentHashMap[Int, Seq[String]]()
  private val totals = new ConcurrentHashMap[String, TaskTotals]()

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val p = e.properties
    if (p != null)
      stageKeys.put(e.stageInfo.stageId,
        Seq(p.getProperty(Keys.Op), p.getProperty(Keys.Span)).filter(_ != null))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val keys = stageKeys.get(e.stageId)
    if (e.taskMetrics != null && keys != null)
      keys.foreach(k => totals.computeIfAbsent(k, _ => new TaskTotals).add(e.taskMetrics))
  }

  /** Totals of `key` once every event posted so far has been delivered. */
  def totalsOf(key: String): TaskTotals = {
    org.apache.spark.perfbench.ListenerBus.drain(sc)
    totals.getOrDefault(key, new TaskTotals)
  }
}

/** One call into a layer. Times are System.nanoTime. */
final case class Span(id: Int, name: String, parent: Int, op: Int,
    startNs: Long, endNs: Long, rowsOut: Long) {
  def wallS: Double = (endNs - startNs) / 1e9
  def key: String = Tracer.spanKey(id)
}

/** Records a span around each call into a layer while an op is traced.
  * Untraced ops still carry the op property, so their task totals are
  * attributed, but record no spans. */
final class Tracer(sc: SparkContext) {
  private val spans = ArrayBuffer.empty[Span]
  private var nextId = 1
  private var current = 0
  private var currentOp = -1
  private var tracing = false
  private var rows = -1L

  def recorded: Seq[Span] = spans.toSeq

  /** Runs one op: `body` sees the op id on every job it submits. */
  def op[T](opId: Int, traced: Boolean)(body: => T): T = {
    currentOp = opId
    tracing = traced
    sc.setLocalProperty(Keys.Op, Tracer.opKey(opId))
    try if (traced) span("op")(body) else body
    finally {
      sc.setLocalProperty(Keys.Op, null)
      tracing = false
    }
  }

  /** Sets the rows the innermost open span produced. */
  def rowsOut(n: Long): Unit = rows = n

  def span[T](name: String)(body: => T): T =
    if (!tracing) body
    else {
      val id = nextId
      nextId += 1
      val parent = current
      current = id
      rows = -1L
      sc.setLocalProperty(Keys.Span, Tracer.spanKey(id))
      val t0 = System.nanoTime()
      try body
      finally {
        spans += Span(id, name, parent, currentOp, t0, System.nanoTime(), rows)
        current = parent
        sc.setLocalProperty(Keys.Span, if (parent == 0) null else Tracer.spanKey(parent))
      }
    }
}

/** The figures reported for each layer, summed over its spans in one op. */
object LayerFigures {
  val Figures = Seq(("wall_s", "s"), ("cpu_s", "s"), ("gc_s", "s"), ("idle_core_s", "s"),
    ("shuffle_write_mb", "MB"), ("spill_mb", "MB"), ("rows_out", "count"))

  def names(layer: String): Seq[String] = Figures.map { case (n, _) => s"$layer.$n" }

  def of(spans: Seq[Span], listener: TaskListener): Seq[Double] = {
    val ts = spans.map(s => listener.totalsOf(s.key))
    val wall = spans.map(_.wallS).sum
    Seq(wall, ts.map(_.cpuNs).sum / 1e9, ts.map(_.gcMs).sum / 1e3,
      // cores x wall - task time: time the cores sat idle, e.g. while the
      // driver planned or ran serial code
      Main.Cores * wall - ts.map(_.runMs).sum / 1e3,
      ts.map(_.shuffleWriteBytes).sum / 1048576.0, ts.map(_.spillBytes).sum / 1048576.0,
      spans.map(s => math.max(0L, s.rowsOut)).sum.toDouble)
  }
}

object Tracer {
  def opKey(op: Int): String = s"op:$op"
  def spanKey(id: Int): String = s"span:$id"
}

/** Peak heap: the largest heap occupancy left after any collection in the
  * window since `reset()`, which starts with a full collection. Unlike raw
  * occupancy it does not track how full the young generation happened to
  * be, but after a young collection it still counts old-generation garbage
  * promoted since the window began, so it depends on when collections
  * fall. */
object HeapProbe extends NotificationListener {
  private val heapPools: Set[String] = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  @volatile private var peakBytes = 0L

  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(this, null, null)
    case _ =>
  }

  override def handleNotification(n: Notification, handback: AnyRef): Unit =
    if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
      val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
        .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
      synchronized { if (used > peakBytes) peakBytes = used }
    }

  /** Collects, then starts a new window. */
  def reset(): Unit = {
    System.gc()
    synchronized { peakBytes = 0L }
  }

  /** Collects once more, so the window always holds one reading, and
    * returns the window's peak in MB. */
  def peakMb(): Double = {
    System.gc()
    val afterFull = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => heapPools(p.getName))
      .map(p => Option(p.getCollectionUsage).map(_.getUsed).getOrElse(0L)).sum
    synchronized { math.max(peakBytes, afterFull) / 1048576.0 }
  }
}
