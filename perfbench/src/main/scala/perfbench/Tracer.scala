package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.{BusDrain, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** Layer counters from Spark's public listener APIs: the scheduler
  * (`SparkListener`), the SQL planner (`QueryExecutionListener` and the
  * executed plan's scan metrics) and a log appender that counts the
  * "Block rdd_N already exists" warnings. Nothing inside the engine is
  * instrumented; [[traced]] installs all three around one measured call. */
final class Tracer(spark: SparkSession) extends AdaptiveSparkPlanHelper {
  private val c = Map(Tracer.CounterNames.map(_ -> new AtomicLong()): _*)
  private val spans = new ConcurrentLinkedQueue[(Long, Long)]()

  private def add(k: String, v: Long): Unit = c(k).addAndGet(v)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = add("sched.jobs", 1)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      add("sched.stages", 1)
      for (s <- si.submissionTime; f <- si.completionTime) spans.add((s, f))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      add("sched.tasks", 1)
      if (e.reason != Success) add("exec.failed_tasks", 1)
      val m = e.taskMetrics
      if (m != null) {
        add("exec.task_run_ms", m.executorRunTime)
        add("exec.task_cpu_ns", m.executorCpuTime)
        add("exec.gc_ms", m.jvmGCTime)
        add("shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten)
        add("shuffle.read_bytes", m.shuffleReadMetrics.totalBytesRead)
        add("shuffle.spill_bytes", m.diskBytesSpilled + m.memoryBytesSpilled)
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val b = e.blockUpdatedInfo
      if (b.blockId.isRDD && b.storageLevel.isValid) add("storage.blocks_cached", 1)
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      add("plan.analysis_ms", ph.get("analysis").map(_.durationMs).getOrElse(0L))
      add("plan.optimizer_ms", ph.get("optimization").map(_.durationMs).getOrElse(0L))
      add("plan.physical_ms", ph.get("planning").map(_.durationMs).getOrElse(0L))
      collectWithSubqueries(qe.executedPlan) { case s: FileSourceScanExec => s }.foreach { s =>
        add("scan.files_read", s.metrics.get("numFiles").map(_.value).getOrElse(0L))
        add("scan.rows_read", s.metrics.get("numOutputRows").map(_.value).getOrElse(0L))
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val appender = new AbstractAppender("perfbench-dup-blocks", null, null,
      true, Array.empty[Property]) {
    override def append(e: LogEvent): Unit =
      if (e.getMessage.getFormattedMessage.contains("already exists"))
        add("storage.dup_block_warnings", 1)
  }

  appender.start()
  // the warning is logged by the block manager at WARN
  org.apache.logging.log4j.core.config.Configurator.setLevel(
    "org.apache.spark.storage.BlockManager", Level.WARN)

  private def install(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    ctx.getConfiguration.getRootLogger.addAppender(appender, Level.WARN, null)
    ctx.updateLoggers()
  }

  private def remove(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    ctx.getConfiguration.getRootLogger.removeAppender(appender.getName)
    ctx.updateLoggers()
  }

  /** Run `f` with the tracer installed: its value, the engine metrics of
    * the window and the raw counters (for the scan metrics). */
  def traced[A](f: => A): (A, Map[String, Double], Tracer.Snap) = {
    install()
    try {
      val s0 = snapshot()
      val t0 = System.currentTimeMillis()
      val a = f
      val t1 = System.currentTimeMillis()
      val d = snapshot() - s0
      (a, Tracer.engineMetrics(d, t0, t1), d)
    } finally remove()
  }

  /** Wait until every posted listener event has been delivered. */
  private def drain(): Unit = BusDrain(spark.sparkContext)

  /** Counters so far, and every completed stage's span. */
  private def snapshot(): Tracer.Snap = {
    drain()
    Tracer.Snap(c.map { case (k, v) => k -> v.get }, spans.asScala.toVector)
  }
}

object Tracer {
  val CounterNames: Seq[String] = Seq(
    "plan.analysis_ms", "plan.optimizer_ms", "plan.physical_ms",
    "sched.jobs", "sched.stages", "sched.tasks",
    "exec.task_run_ms", "exec.task_cpu_ns", "exec.gc_ms", "exec.failed_tasks",
    "shuffle.write_bytes", "shuffle.read_bytes", "shuffle.spill_bytes",
    "storage.blocks_cached", "storage.dup_block_warnings",
    "scan.files_read", "scan.rows_read")

  final case class Snap(counters: Map[String, Long], spans: Vector[(Long, Long)]) {
    def -(o: Snap): Snap = Snap(counters.map { case (k, v) => k -> (v - o.counters(k)) },
      spans.drop(o.spans.length))
    def apply(k: String): Long = counters(k)
  }

  /** Run `f` untraced and traced, alternating which side runs first so the
    * warmer second run does not bias the overhead: (untraced value, traced
    * value, traced engine metrics, traced counters). */
  def pair[A](tracer: Tracer, i: Int)(f: => A): (A, A, Map[String, Double], Snap) =
    if (i % 2 == 0) {
      val u = f
      val (t, m, d) = tracer.traced(f)
      (u, t, m, d)
    } else {
      val (t, m, d) = tracer.traced(f)
      (f, t, m, d)
    }

  def sum(ms: Seq[Map[String, Double]]): Map[String, Double] =
    ms.flatten.groupMapReduce(_._1)(_._2)(_ + _)

  /** Engine-layer metrics of one measured window [t0, t1] (epoch ms). */
  def engineMetrics(d: Snap, t0: Long, t1: Long): Map[String, Double] = {
    val base = d.counters.collect {
      case ("exec.task_cpu_ns", v) => "exec.task_cpu_ms" -> v / 1e6
      case (k, v) if !k.startsWith("scan.") => k -> v.toDouble
    }
    base + ("driver.unattributed_ms" ->
      ((t1 - t0) - Stats.unionLength(d.spans, t0, t1)).toDouble)
  }
}

/** Peak heap occupancy after garbage collection (the live-set peak) seen
  * by every collector since [[GcPeak.start]]. Post-collection occupancy is
  * used instead of raw usage, which mostly measures when the collector
  * happened to run. */
object GcPeak {
  import java.lang.management.ManagementFactory
  import javax.management.{Notification, NotificationEmitter, NotificationListener}
  import javax.management.openmbean.CompositeData
  import com.sun.management.GarbageCollectionNotificationInfo

  private val peak = new AtomicLong(0L)

  def start(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case em: NotificationEmitter =>
      em.addNotificationListener(new NotificationListener {
        override def handleNotification(n: Notification, hb: Any): Unit =
          if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
            val info = GarbageCollectionNotificationInfo.from(
              n.getUserData.asInstanceOf[CompositeData])
            val used = info.getGcInfo.getMemoryUsageAfterGc.asScala.values
              .map(_.getUsed).sum
            peak.accumulateAndGet(used, (a, b) => math.max(a, b))
          }
      }, null, null)
    case _ => ()
  }

  def peakMb: Double = {
    val now = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    math.max(peak.get, if (peak.get == 0) now else 0L) / (1024.0 * 1024.0)
  }
}
