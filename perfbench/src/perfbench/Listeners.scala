package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** What Spark's listener channels reported over one measurement window
  * (a pass, or a set of passes). Filled on the listener-bus thread,
  * read by the benchmark after the bus is drained. */
final class Counters {
  var stages = 0L
  var tasks = 0L
  var executorRunMs = 0L
  var executorCpuNs = 0L
  var inputBytes = 0L
  var outputBytes = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  def +=(o: Counters): Unit = {
    stages += o.stages; tasks += o.tasks; executorRunMs += o.executorRunMs
    executorCpuNs += o.executorCpuNs; inputBytes += o.inputBytes; outputBytes += o.outputBytes
    shuffleReadBytes += o.shuffleReadBytes; shuffleWriteBytes += o.shuffleWriteBytes
    spillBytes += o.spillBytes
  }
}

/** What Spark's listener channels reported over one timed pass, by the
  * tag (query name) of the job that ran the work. Filled on the
  * listener-bus thread, read by the benchmark after the bus is drained. */
final class Window {
  var jobs = 0L
  var firstJobMs = 0L
  val byTag = mutable.Map[String, Counters]()
  /** stage id -> (tag, executor run ms of each task) */
  val stageTasks = mutable.LinkedHashMap[Int, (String, mutable.ArrayBuffer[Long])]()
  // streaming progress, summed over batches
  var batches = 0L
  var inputRows = 0L
  val durations = mutable.Map[String, Long]().withDefaultValue(0L)
  var stateCommitMs = 0L
  /** (query, operator index) -> last reported rows and memory */
  val lastState = mutable.Map[(String, Int), (Long, Long)]()

  def counters(tag: String): Counters = byTag.getOrElseUpdate(tag, new Counters)

  /** Counters summed over the tags `keep` accepts. */
  def total(keep: String => Boolean = _ => true): Counters = {
    val c = new Counters
    byTag.foreach { case (t, v) => if (keep(t)) c += v }
    c
  }

  /** max/median executor run time over the stages that have at least two
    * tasks and a slowest task of at least 20 ms; (ratio, tag, stage). */
  def skewMax(keep: String => Boolean = _ => true): (Double, String, Int) = {
    val cands = stageTasks.toSeq.collect {
      case (sid, (tag, ts)) if keep(tag) && ts.size >= 2 && ts.max >= 20 =>
        val sorted = ts.sorted
        val med = math.max(1L, sorted(sorted.size / 2))
        (ts.max.toDouble / med, tag, sid)
    }
    if (cands.isEmpty) (1.0, "", -1) else cands.maxBy(_._1)
  }
}

object Probe {
  val QueryKey = "perfbench.query"
  val SpanKey = "perfbench.span"
  @volatile var window = new Window
  /** Parent span of jobs that carry no span property (ExtractJob's). */
  @volatile var defaultParent = 0L
  private val stageTag = mutable.Map[Int, (String, Long)]()
  private val jobSpan = mutable.Map[Int, (Long, Long, Long, String)]()

  def reset(): Window = synchronized { val w = window; window = new Window; w }

  private[perfbench] def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val tag = props.flatMap(p => Option(p.getProperty(QueryKey))).getOrElse("untagged")
    val parent = props.flatMap(p => Option(p.getProperty(SpanKey))).map(_.toLong).getOrElse(defaultParent)
    val id = Trace.nextId()
    jobSpan(e.jobId) = (id, parent, e.time, tag)
    e.stageIds.foreach(s => stageTag(s) = (tag, id))
    window.jobs += 1
    if (window.firstJobMs == 0L) window.firstJobMs = e.time
  }

  private[perfbench] def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobSpan.remove(e.jobId).foreach { case (id, parent, t0, tag) =>
      Trace.record(Trace.Span(id, parent, "spark", s"job ${e.jobId} $tag", t0 * 1000L, e.time * 1000L))
    }
  }

  private[perfbench] def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    val (tag, job) = stageTag.getOrElse(info.stageId, ("untagged", 0L))
    window.counters(tag).stages += 1
    for (a <- info.submissionTime; b <- info.completionTime)
      Trace.record(Trace.Span(Trace.nextId(), job, "spark", s"stage ${info.stageId} $tag", a * 1000L, b * 1000L))
  }

  private[perfbench] def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val tag = stageTag.get(e.stageId).map(_._1).getOrElse("untagged")
    val w = window.counters(tag)
    w.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      w.executorRunMs += m.executorRunTime
      w.executorCpuNs += m.executorCpuTime
      w.inputBytes += m.inputMetrics.bytesRead
      w.outputBytes += m.outputMetrics.bytesWritten
      w.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      w.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      w.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      window.stageTasks.getOrElseUpdate(e.stageId, (tag, mutable.ArrayBuffer[Long]()))._2 += m.executorRunTime
    }
  }

  private[perfbench] def onProgress(p: org.apache.spark.sql.streaming.StreamingQueryProgress): Unit = synchronized {
    val w = window
    w.batches += 1
    w.inputRows += p.numInputRows
    p.durationMs.forEach((k, v) => w.durations(k) += v.longValue)
    p.stateOperators.zipWithIndex.foreach { case (op, i) =>
      w.stateCommitMs += op.commitTimeMs
      w.lastState((p.name, i)) = (op.numRowsTotal, op.memoryUsedBytes)
    }
  }
}

/** Attached through `spark.extraListeners`, so it also reaches the
  * sessions that ExtractJob and Verify build themselves. */
class BenchListener extends SparkListener {
  override def onJobStart(e: SparkListenerJobStart): Unit = Probe.onJobStart(e)
  override def onJobEnd(e: SparkListenerJobEnd): Unit = Probe.onJobEnd(e)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Probe.onStageCompleted(e)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Probe.onTaskEnd(e)
}

/** Attached through `spark.sql.streaming.streamingQueryListeners`, so it
  * reaches the child sessions every stream runs on. */
class StreamListener extends StreamingQueryListener {
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = Probe.onProgress(e.progress)
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
}

/** JVM-wide counters: GC time, the largest heap left live after a
  * collection, peak thread count, process CPU time. */
object Jvm {
  import java.lang.management.ManagementFactory
  import scala.jdk.CollectionConverters._

  @volatile var heapLiveMaxBytes = 0L

  def installGcWatch(): Unit =
    for (gc <- ManagementFactory.getGarbageCollectorMXBeans.asScala) gc match {
      case em: javax.management.NotificationEmitter =>
        em.addNotificationListener((n: javax.management.Notification, _: AnyRef) => {
          if (n.getType == com.sun.management.GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
            val info = com.sun.management.GarbageCollectionNotificationInfo.from(
              n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
            val live = info.getGcInfo.getMemoryUsageAfterGc.values.asScala.map(_.getUsed).sum
            if (live > heapLiveMaxBytes) heapLiveMaxBytes = live
          }
        }, null, null)
      case _ => ()
    }

  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  def cpuNs(): Long = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
    case _ => 0L
  }

  def threadsPeak(): Int = ManagementFactory.getThreadMXBean.getPeakThreadCount

  def heapMaxMb(): Long = Runtime.getRuntime.maxMemory >> 20

  def threadAllocatedBytes(): Long = ManagementFactory.getThreadMXBean match {
    case t: com.sun.management.ThreadMXBean => t.getThreadAllocatedBytes(Thread.currentThread.getId)
    case _ => 0L
  }
}
