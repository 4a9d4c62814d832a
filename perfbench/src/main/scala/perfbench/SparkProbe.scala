package perfbench

import scala.collection.mutable

import org.apache.spark.PerfbenchBridge
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark runtime totals over one interval of the run. */
final case class SparkStats(
    jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
    taskRunS: Double = 0, taskCpuS: Double = 0, gcS: Double = 0,
    shuffleWriteMiB: Double = 0, shuffleReadMiB: Double = 0, spillMiB: Double = 0,
    taskSkew: Double = 0, exchanges: Long = 0, compileS: Double = 0) {
  def +(o: SparkStats): SparkStats = SparkStats(jobs + o.jobs, stages + o.stages,
    tasks + o.tasks, taskRunS + o.taskRunS, taskCpuS + o.taskCpuS, gcS + o.gcS,
    shuffleWriteMiB + o.shuffleWriteMiB, shuffleReadMiB + o.shuffleReadMiB,
    spillMiB + o.spillMiB, math.max(taskSkew, o.taskSkew), exchanges + o.exchanges,
    compileS + o.compileS)
}

/** Collects Spark's own task, stage, job and plan metrics while `active`.
  * [[take]] drains the listener bus before reading, so no event of the
  * interval is still queued when its totals are reported. */
final class SparkProbe(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  @volatile private var active = false
  private var s = SparkStats()
  private val stageTasks = mutable.Map.empty[(Int, Int), mutable.ArrayBuffer[Long]]
  private var compileCount0 = 0L

  spark.sparkContext.addSparkListener(this)
  spark.listenerManager.register(this)

  /** start an interval: drop whatever earlier, inactive work left queued */
  def start(): Unit = {
    PerfbenchBridge.drainListenerBus(spark.sparkContext)
    synchronized { s = SparkStats(); stageTasks.clear() }
    compileCount0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    active = true
  }

  /** end the interval and return its totals */
  def take(): SparkStats = {
    PerfbenchBridge.drainListenerBus(spark.sparkContext)
    active = false
    // the compile-time histogram keeps a decaying sample, not a sum: the
    // interval's compile seconds are its compile count times the sample mean
    val hist = CodegenMetrics.METRIC_COMPILATION_TIME
    val compileS = (hist.getCount - compileCount0) * hist.getSnapshot.getMean / 1000.0
    synchronized { s.copy(compileS = compileS) }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit =
    if (active) synchronized { s = s.copy(jobs = s.jobs + 1) }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (active && e.taskMetrics != null) {
    val m = e.taskMetrics
    synchronized {
      s = s.copy(tasks = s.tasks + 1,
        taskRunS = s.taskRunS + m.executorRunTime / 1e3,
        taskCpuS = s.taskCpuS + m.executorCpuTime / 1e9,
        gcS = s.gcS + m.jvmGCTime / 1e3,
        shuffleWriteMiB = s.shuffleWriteMiB + m.shuffleWriteMetrics.bytesWritten / SparkProbe.MiB,
        shuffleReadMiB = s.shuffleReadMiB + m.shuffleReadMetrics.totalBytesRead / SparkProbe.MiB,
        spillMiB = s.spillMiB + m.diskBytesSpilled / SparkProbe.MiB)
      stageTasks.getOrElseUpdate((e.stageId, e.stageAttemptId), mutable.ArrayBuffer.empty) +=
        m.executorRunTime
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (active) synchronized {
    val key = (e.stageInfo.stageId, e.stageInfo.attemptNumber())
    val skew = stageTasks.remove(key).map(ts => SparkProbe.skew(ts.toSeq)).getOrElse(0.0)
    s = s.copy(stages = s.stages + 1, taskSkew = math.max(s.taskSkew, skew))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (active) {
      val n = SparkProbe.exchanges(qe.executedPlan)
      synchronized { s = s.copy(exchanges = s.exchanges + n) }
    }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

object SparkProbe extends AdaptiveSparkPlanHelper {
  val MiB: Double = 1024.0 * 1024.0

  /** a stage's slowest task over its median task. Stages whose slowest
    * task ran under 100 ms are left out: their ratios are scheduling
    * noise, not skew anyone waits for. */
  def skew(runMs: Seq[Long]): Double =
    if (runMs.size < 2 || runMs.max < 100) 0.0
    else {
      val sorted = runMs.sorted
      val median = (sorted((sorted.size - 1) / 2) + sorted(sorted.size / 2)) / 2.0
      sorted.last / math.max(median, 1.0)
    }

  /** Exchange operators in the final plan, looking through adaptive query
    * stages and subqueries */
  def exchanges(plan: SparkPlan): Int = collectWithSubqueries(plan) { case e: Exchange => e }.size
}

/** Largest heap occupancy right after a collection, over the whole run:
  * what stays live, as opposed to garbage awaiting collection. */
object HeapWatch {
  import java.lang.management.{ManagementFactory, MemoryType}
  import javax.management.{Notification, NotificationEmitter, NotificationListener}
  import javax.management.openmbean.CompositeData
  import com.sun.management.GarbageCollectionNotificationInfo
  import scala.jdk.CollectionConverters._

  private val heapPools: Set[String] = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  @volatile private var peakBytes = 0L

  def install(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case emitter: NotificationEmitter =>
      emitter.addNotificationListener(new NotificationListener {
        override def handleNotification(n: Notification, handback: Any): Unit =
          if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
            val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
            val after = info.getGcInfo.getMemoryUsageAfterGc.asScala
              .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
            if (after > peakBytes) peakBytes = after
          }
      }, null, null)
    case _ => ()
  }

  def peakMiB: Double = peakBytes / SparkProbe.MiB
}
