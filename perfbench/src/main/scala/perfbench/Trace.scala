package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch nanoseconds with nanoTime resolution, so spans line
  * up with the epoch-millisecond times Spark puts on tasks and queries. */
object Clock {
  private val offset = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def now: Long = offset + System.nanoTime()
}

/** One traced interval: `parent` is the id of the enclosing span or -1. */
final case class Span(id: Int, name: String, parent: Int, pass: Int,
                      startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
  def coversMs(epochMs: Long): Boolean =
    epochMs * 1000000L >= startNs - 1000000L && epochMs * 1000000L <= endNs
  def json: String =
    s"""{"id":$id,"name":"$name","parent":$parent,"pass":$pass,"start_ns":$startNs,"end_ns":$endNs}"""
}

/** Spans of one pass, kept in memory and written out when the run ends.
  * A disabled tracer runs the body and records nothing. */
final class Tracer(val pass: Int, val enabled: Boolean) {
  private val buf = ArrayBuffer.empty[Span]
  private var stack: List[Int] = List(-1)
  private var next = 0

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = next
      next += 1
      val parent = stack.head
      stack = id :: stack
      val t0 = Clock.now
      try body
      finally {
        stack = stack.tail
        buf += Span(id, name, parent, pass, t0, Clock.now)
      }
    }

  /** Records an interval measured elsewhere (an OSM step read from the
    * program's own timing lines) under the innermost open span. */
  def add(name: String, startNs: Long, endNs: Long): Unit = if (enabled) {
    buf += Span(next, name, stack.head, pass, startNs, endNs)
    next += 1
  }

  def spans: Seq[Span] = buf.toSeq
  def find(name: String): Option[Span] = buf.find(_.name == name)
  def seconds(name: String): Double = buf.filter(_.name == name).map(_.seconds).sum
}

final case class TaskRec(stage: Int, launchMs: Long, durationMs: Long,
                         shuffleWriteBytes: Long, diskSpillBytes: Long,
                         bytesRead: Long, recordsWritten: Long)

/** Per-task metrics plus job and stage start times, collected by a
  * SparkListener that only the traced pass registers. */
final class TaskCollector extends SparkListener {
  val tasks = new ConcurrentLinkedQueue[TaskRec]()
  val jobStartsMs = new ConcurrentLinkedQueue[java.lang.Long]()
  val stageStartsMs = new ConcurrentLinkedQueue[java.lang.Long]()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val i = e.taskInfo
    if (m != null && i != null)
      tasks.add(TaskRec(e.stageId, i.launchTime, i.duration,
        m.shuffleWriteMetrics.bytesWritten, m.diskBytesSpilled,
        m.inputMetrics.bytesRead, m.outputMetrics.recordsWritten))
  }
  override def onJobStart(e: SparkListenerJobStart): Unit = jobStartsMs.add(e.time)
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val at: Long = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    stageStartsMs.add(at)
  }

  def tasksIn(s: Span): Seq[TaskRec] = tasks.asScala.filter(t => s.coversMs(t.launchMs)).toSeq
  def jobsIn(s: Span): Int = jobStartsMs.asScala.count(t => s.coversMs(t))
  def stagesIn(s: Span): Int = stageStartsMs.asScala.count(t => s.coversMs(t))
}

object TaskCollector {
  /** `<step>.shuffle_mb`, `.spill_mb`, `.tasks` and `.task_skew` of the
    * tasks launched inside a step. Skew is max over median task time of
    * the step's heaviest stage (largest summed task time); 0 when the
    * step ran no task. */
  def stepMetrics(step: String, ts: Seq[TaskRec]): Seq[Metric] = {
    val skew =
      if (ts.isEmpty) 0.0
      else {
        val heaviest = ts.groupBy(_.stage).values.maxBy(_.map(_.durationMs).sum)
        val med = Main.median(heaviest.map(_.durationMs.toDouble))
        heaviest.map(_.durationMs).max / math.max(med, 1.0)
      }
    Seq(Metric(s"$step.shuffle_mb", ts.map(_.shuffleWriteBytes).sum / 1e6, "MB"),
      Metric(s"$step.spill_mb", ts.map(_.diskSpillBytes).sum / 1e6, "MB"),
      Metric(s"$step.tasks", ts.size.toDouble, "count"),
      Metric(s"$step.task_skew", skew, "ratio"))
  }
}

final case class QueryRec(endOfPlanningMs: Long, planMs: Long, execNs: Long)

/** Analysis + optimization + planning time and execution time of every
  * Dataset action, from the query's own planning tracker. */
final class QueryCollector extends QueryExecutionListener {
  val queries = new ConcurrentLinkedQueue[QueryRec]()
  private def rec(qe: QueryExecution, durationNs: Long): Unit = {
    val ph = qe.tracker.phases
    val plan = Seq("analysis", "optimization", "planning").flatMap(ph.get).map(_.durationMs).sum
    val end = ph.get("planning").map(_.endTimeMs).getOrElse(System.currentTimeMillis())
    queries.add(QueryRec(end, plan, durationNs))
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    rec(qe, durationNs)
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = rec(qe, 0L)
  def in(s: Span): Seq[QueryRec] = queries.asScala.filter(q => s.coversMs(q.endOfPlanningMs)).toSeq
}

/** Registers both collectors for the duration of `body` (the traced pass)
  * and waits until they have seen every event it caused. */
object Collectors {
  def around[T](spark: SparkSession, tc: TaskCollector, qc: QueryCollector)(body: => T): T = {
    spark.sparkContext.addSparkListener(tc)
    spark.listenerManager.register(qc)
    try {
      val r = body
      org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)
      r
    } finally {
      spark.listenerManager.unregister(qc)
      spark.sparkContext.removeSparkListener(tc)
    }
  }
}

/** Largest heap still live right after a garbage collection, from the
  * collectors' notifications; `reset` starts a new window. */
object HeapWatch {
  private val peak = new AtomicLong(0L)
  private val listener = new NotificationListener {
    def handleNotification(n: Notification, hb: Any): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        // pauses of a concurrent cycle (remark, cleanup) evacuate nothing,
        // so their "after" is not live heap
        if (!info.getGcAction.contains("concurrent")) {
          val used = info.getGcInfo.getMemoryUsageAfterGc.values.asScala.map(_.getUsed).sum
          peak.accumulateAndGet(used, (a, b) => math.max(a, b))
        }
      }
  }
  def install(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ => ()
  }
  def reset(): Unit = peak.set(0L)
  def peakBytes: Long = peak.get
}

object Jvm {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuNs: Long = os.getProcessCpuTime
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum
  def heapUsedBytes: Long = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
}

/** Spark's codegen histograms: compilation time and generated method
  * size. The histograms keep up to 1028 samples; while a run stays under
  * that the sums are exact, past it they are count times sampled mean. */
object Codegen {
  final case class Snap(count: Long, compileMs: Double, maxMethodBytes: Long)
  def snap(): Snap = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    val s = h.getSnapshot
    val n = h.getCount
    val sum = if (n <= s.size) s.getValues.sum.toDouble else n * s.getMean
    Snap(n, sum, CodegenMetrics.METRIC_GENERATED_METHOD_BYTECODE_SIZE.getSnapshot.getMax)
  }
}
