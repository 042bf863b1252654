package graft.perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** Task-level totals of one scope (the whole run, one operation, ...). */
final class TaskTotals {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var cpuNs = 0L
  var schedDelayMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  val stageTaskMs = ArrayBuffer.empty[ArrayBuffer[Long]]

  /** Median over stages with at least two tasks of max / median task time. */
  def skew: Double = {
    val ratios = stageTaskMs.filter(_.size >= 2).map { ms =>
      val med = Stats.median(ms.map(_.toDouble).toSeq)
      ms.max / math.max(med, 1.0)
    }
    if (ratios.isEmpty) 1.0 else Stats.median(ratios.toSeq)
  }
}

/** SparkListener attached by the benchmark. Each job is attributed to the
  * operation named in the `perfbench.op` local property of the thread that
  * launched it; micro-batch jobs carry Spark's own batch id property. */
final class SparkCounters extends SparkListener {
  val OpKey = "perfbench.op"
  private val BatchKey = "streaming.sql.batchId"

  val total = new TaskTotals
  private val byOp = new ConcurrentHashMap[String, TaskTotals]()
  private val stageOp = new ConcurrentHashMap[Int, String]()
  private val stageTasks = new ConcurrentHashMap[Int, ArrayBuffer[Long]]()

  private def opOf(props: java.util.Properties): String =
    Option(props).flatMap(p =>
      Option(p.getProperty(OpKey)).orElse(Option(p.getProperty(BatchKey)).map("batch-" + _)))
      .getOrElse("")

  def forOp(op: String): TaskTotals = byOp.computeIfAbsent(op, _ => new TaskTotals)

  private def both(op: String)(f: TaskTotals => Unit): Unit = synchronized {
    f(total)
    if (op.nonEmpty) f(forOp(op))
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val op = opOf(e.properties)
    e.stageIds.foreach(stageOp.put(_, op))
    both(op)(_.jobs += 1)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val op = opOf(e.properties)
    stageOp.put(e.stageInfo.stageId, op)
    stageTasks.put(e.stageInfo.stageId, ArrayBuffer.empty[Long])
    both(op)(_.stages += 1)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val id = e.stageInfo.stageId
    val ms = stageTasks.remove(id)
    if (ms != null) both(stageOp.getOrDefault(id, ""))(_.stageTaskMs += ms)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val info = e.taskInfo
    if (m != null && info != null) {
      val ms = stageTasks.get(e.stageId)
      if (ms != null) ms.synchronized(ms += info.duration)
      val delay = math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime)
      both(stageOp.getOrDefault(e.stageId, "")) { t =>
        t.tasks += 1
        t.cpuNs += m.executorCpuTime
        t.schedDelayMs += delay
        t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        t.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        t.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }
}

/** JVM-wide counters: cumulative GC and JIT time, and the peak old-generation
  * occupancy right after a collection, from GC notifications. */
final class JvmCounters {
  @volatile private var oldPeak = 0L

  private val listener = new javax.management.NotificationListener {
    override def handleNotification(n: javax.management.Notification, hb: Any): Unit =
      if (n.getType == com.sun.management.GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = com.sun.management.GarbageCollectionNotificationInfo.from(
          n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
        info.getGcInfo.getMemoryUsageAfterGc.asScala.foreach { case (pool, u) =>
          if (isOld(pool)) synchronized { oldPeak = math.max(oldPeak, u.getUsed) }
        }
      }
  }

  private def isOld(pool: String): Boolean =
    pool.contains("Old Gen") || pool.contains("Tenured")

  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq

  def start(): Unit = gcBeans.foreach {
    case e: javax.management.NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ =>
  }

  def stop(): Unit = gcBeans.foreach {
    case e: javax.management.NotificationEmitter =>
      try e.removeNotificationListener(listener) catch {
        case _: javax.management.ListenerNotFoundException => ()
      }
    case _ =>
  }

  def gcMs: Long = gcBeans.map(_.getCollectionTime).filter(_ > 0).sum
  def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  /** Starts a new peak window. */
  def resetPeak(): Unit = synchronized { oldPeak = 0L }

  /** Peak old-generation bytes after GC in the window; a full collection
    * at the end of the window makes sure it holds at least one sample. */
  def oldPeakAfterGcBytes(): Long = {
    System.gc()
    val pools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => isOld(p.getName)).flatMap(p => Option(p.getCollectionUsage))
    synchronized { oldPeak = math.max(oldPeak, pools.map(_.getUsed).sum) }
    oldPeak
  }
}
