package graft.exbench

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Per-job-group scheduler counters, summed from listener events. */
final class GroupCounters {
  var jobs = 0
  var tasks = 0L
  var runMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
}

/**
 * Spark listener that rolls jobs, tasks, executor run time, shuffle
 * bytes written and spill up to the job group that was set when
 * each job started (the tracer sets one group per span).
 *
 * The listener bus is asynchronous, so a reader first calls
 * [[awaitJobsEnded]]: it returns once every job whose start event has
 * arrived has also delivered its end event. Task-end events of a job are
 * posted before its job-end event on the same queue, so at that point the
 * counters hold every finished task. Job counts are reported, never gated:
 * adaptive query execution can add or drop one job between identical runs
 * (37 vs 38 jobs were seen on the same explain fixture).
 */
final class GroupListener extends SparkListener {
  private val byGroup = mutable.Map.empty[String, GroupCounters]
  private val stageGroup = mutable.Map.empty[Int, String]
  private var started = 0
  private var ended = 0

  private def counters(g: String) = byGroup.getOrElseUpdate(g, new GroupCounters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("none")
    e.stageIds.foreach(stageGroup(_) = g)
    counters(g).jobs += 1
    started += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized { ended += 1 }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = counters(stageGroup.getOrElse(e.stageId, "none"))
    c.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      c.runMs += m.executorRunTime
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  def awaitJobsEnded(timeoutMs: Long = 60000L): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (synchronized(ended < started)) {
      if (System.currentTimeMillis() > deadline)
        throw new IllegalStateException("listener: job end events did not arrive")
      Thread.sleep(2)
    }
  }

  def group(g: String): GroupCounters = synchronized(byGroup.getOrElse(g, new GroupCounters))
}

final case class Span(id: Int, name: String, parent: Int, startNs: Long, var endNs: Long = -1L) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/**
 * In-memory span recorder. Each span sets the Spark job group to its
 * name, so the listener attributes the span's jobs to it; the parent's
 * group is restored when the span closes. Spans are recorded only around
 * calls the benchmark makes into the engine's public functions.
 */
final class Tracer(sc: SparkContext, val listener: GroupListener) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil

  def span[A](name: String)(body: => A): A = {
    val s = Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1), System.nanoTime())
    spans += s
    stack = s :: stack
    sc.setJobGroup(name, name)
    try body
    finally {
      s.endNs = System.nanoTime()
      stack = stack.tail
      stack.headOption match {
        case Some(p) => sc.setJobGroup(p.name, p.name)
        case None => sc.clearJobGroup()
      }
    }
  }

  def seconds(name: String): Double = spans.filter(_.name == name).map(_.seconds).sum

  /** Span duration minus the part of it covered by its child spans. */
  def selfSeconds(s: Span): Double =
    s.seconds - spans.filter(_.parent == s.id).map(_.seconds).sum

  def spansJson: String = spans.map { s =>
    val parent = if (s.parent < 0) "null" else s.parent.toString
    s"""{"id": ${s.id}, "name": "${s.name}", "parent": $parent, "start_ns": ${s.startNs}, """ +
      s""""end_ns": ${s.endNs}, "self_s": ${selfSeconds(s)}}"""
  }.mkString("[\n", ",\n", "\n]\n")
}

object Jvm {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def cpuSeconds: Double = os.getProcessCpuTime / 1e9

  def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ > 0).sum / 1e3

  @volatile private var postGcPeak = 0L

  /** Start recording the heap in use after each collection (summed over
    * the heap pools); [[postGcHeapPeakBytes]] is the highest since then. */
  def trackPostGcHeap(): Unit = {
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
    val listener = new javax.management.NotificationListener {
      def handleNotification(n: javax.management.Notification, hb: AnyRef): Unit =
        if (n.getType == com.sun.management.GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = com.sun.management.GarbageCollectionNotificationInfo.from(
            n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
          postGcPeak = math.max(postGcPeak, used)
        }
    }
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: javax.management.NotificationEmitter => e.addNotificationListener(listener, null, null)
      case _ =>
    }
  }

  def postGcHeapPeakBytes: Long = postGcPeak

  def processStartMs: Long = ManagementFactory.getRuntimeMXBean.getStartTime
}
