package perfbench

import java.lang.management.ManagementFactory

import com.sun.management.GarbageCollectionNotificationInfo

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.{PerfbenchBridge, SparkContext, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval: a pass, a public call into a layer, or the
  * construct/execute half of that call. Times are epoch milliseconds.
  */
case class Span(id: Int, parent: Int, name: String, layer: String,
                kind: String, start: Long, var end: Long = -1L)

/** Counters of the Spark work attributed to one span. */
class Work {
  var jobs = 0L
  var cpuNs = 0L
  var runMs = 0L
  var waitMs = 0L
  var gcMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var resultBytes = 0L
  var readBytes = 0L
  var readRows = 0L
  var writeBytes = 0L
  var failedTasks = 0L
}

/** Tracing for the per-layer run. Each span sets the Spark local property
  * `perfbench.span`, so every job, stage and task it issues is attributed
  * to the innermost open span. Spans stay in memory until the run ends.
  */
class Tracer(spark: SparkSession, val runId: String) extends SparkListener {
  private val sc = spark.sparkContext
  val spans = mutable.ArrayBuffer[Span]()
  private val open = mutable.Stack[Span]()
  val work = mutable.HashMap[Int, Work]()
  /** (start, end, span) of every finished job, epoch ms. */
  val jobIntervals = mutable.ArrayBuffer[(Long, Long, Int)]()
  private val jobStart = mutable.HashMap[Int, (Long, Int)]()
  private val stageSpan = mutable.HashMap[Int, Int]()
  private val stageSubmit = mutable.HashMap[Int, Long]()
  var planNs = 0L

  private def spanOf(p: java.util.Properties): Int =
    Option(p).flatMap(x => Option(x.getProperty(Tracer.Key))).map(_.toInt).getOrElse(0)

  private def w(span: Int): Work = work.getOrElseUpdate(span, new Work)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val s = spanOf(e.properties)
    jobStart(e.jobId) = (e.time, s)
    w(s).jobs += 1
    e.stageInfos.foreach(si => stageSpan(si.stageId) = s)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (t0, s) => jobIntervals += ((t0, e.time, s)) }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageSpan(e.stageInfo.stageId) = spanOf(e.properties)
    e.stageInfo.submissionTime.foreach(t => stageSubmit(e.stageInfo.stageId) = t)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = w(stageSpan.getOrElse(e.stageId, 0))
    if (e.reason != Success) c.failedTasks += 1
    stageSubmit.get(e.stageId).foreach(t => c.waitMs += math.max(0L, e.taskInfo.launchTime - t))
    val m = e.taskMetrics
    if (m != null) {
      c.cpuNs += m.executorCpuTime
      c.runMs += m.executorRunTime
      c.gcMs += m.jvmGCTime
      c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      c.spillBytes += m.diskBytesSpilled
      c.resultBytes += m.resultSize
      c.readBytes += m.inputMetrics.bytesRead
      c.readRows += m.inputMetrics.recordsRead
      c.writeBytes += m.outputMetrics.bytesWritten
    }
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = Tracer.this.synchronized {
      planNs += qe.tracker.phases.values.map(p => p.durationMs).sum * 1000000L
    }
  }

  def install(): Unit = {
    sc.addSparkListener(this)
    spark.listenerManager.register(planListener)
  }

  def remove(): Unit = {
    PerfbenchBridge.drain(sc)
    sc.removeSparkListener(this)
    spark.listenerManager.unregister(planListener)
  }

  /** Run `body` inside a new span, child of the innermost open span. */
  def span[T](name: String, layer: String, kind: String)(body: => T): T = {
    val s = synchronized {
      val sp = Span(spans.size + 1, open.headOption.map(_.id).getOrElse(0), name, layer,
        kind, System.currentTimeMillis())
      spans += sp
      sp
    }
    open.push(s)
    sc.setLocalProperty(Tracer.Key, s.id.toString)
    try body
    finally {
      s.end = System.currentTimeMillis()
      open.pop()
      sc.setLocalProperty(Tracer.Key, open.headOption.map(_.id.toString).orNull)
    }
  }

  def writeSpans(path: String): Unit = {
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val lines = spans.map(s =>
      s"""{"run":${q(runId)},"id":${s.id},"parent":${s.parent},"name":${q(s.name)},""" +
        s""""layer":${q(s.layer)},"kind":${q(s.kind)},"start_ms":${s.start},"end_ms":${s.end}}""")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), lines.mkString("", "\n", "\n"))
  }
}

object Tracer {
  val Key = "perfbench.span"

  /** Total length of the union of intervals. */
  def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** Whole-pass counters for the untraced runs, read from Spark's own status
  * store and the JVM's memory pools.
  */
object Counters {
  case class Snap(cpuNs: Long, shuffleBytes: Long)

  def snap(sc: SparkContext): Snap = {
    PerfbenchBridge.drain(sc)
    val st = PerfbenchBridge.stages(sc)
    Snap(st.map(_.executorCpuTime).sum, st.map(_.shuffleWriteBytes).sum)
  }

  /** Largest heap in use right after a collection since the last reset:
    * the live-data high-water mark, which does not depend on when the
    * collector happens to run.
    */
  @volatile private var liveMax = 0L

  private lazy val gcWatch: Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: javax.management.NotificationEmitter =>
      e.addNotificationListener((n: javax.management.Notification, _: AnyRef) =>
        if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = GarbageCollectionNotificationInfo.from(
            n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
          val used = info.getGcInfo.getMemoryUsageAfterGc.values.asScala.map(_.getUsed).sum
          synchronized { liveMax = math.max(liveMax, used) }
        }, null, null)
    case _ => ()
  }

  def resetHeapPeak(): Unit = { gcWatch; liveMax = 0L }

  /** Peak live heap of the interval since `resetHeapPeak`, closed by a
    * full collection so that every interval ends with a sample.
    */
  def heapPeakMb(): Double = {
    System.gc()
    Thread.sleep(50)
    val peak = liveMax
    peak / 1048576.0
  }

  /** Heap still in use after full collections. */
  def heapRetainedMb: Double = {
    System.gc(); System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** CPU time of the calling thread, which issues every call of a pass. */
  def threadCpuNs: Long = ManagementFactory.getThreadMXBean.getCurrentThreadCpuTime

  /** CPU time of the whole JVM, every thread, JIT and GC included. */
  def processCpuNs: Long = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
    case _ => 0L
  }

  /** Milliseconds the JIT compilers have spent so far. */
  def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  /** Seconds the hypervisor has run other guests on this VM's CPUs, summed
    * over CPUs (the steal column of /proc/stat; 0 where it is missing).
    */
  def stealSeconds: Double = try {
    val f = java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/stat")).get(0)
      .trim.split("\\s+")
    if (f(0) == "cpu" && f.length > 8) f(8).toLong / 100.0 else 0.0
  } catch { case _: Exception => 0.0 }

  def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1000.0
}
