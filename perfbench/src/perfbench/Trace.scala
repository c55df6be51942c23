package perfbench

import java.io.File
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spans recorded around the benchmark's own calls into engine modules.
  * Spans live in memory and are written out once the run ends; with
  * tracing off every `span` call is a plain invocation of its body. */
final class Trace(val on: Boolean) {
  import Trace.Span

  private val ids = new AtomicLong(0)
  private val buf = mutable.ArrayBuffer[Span]()
  private val stack = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }

  def span[T](name: String, req: String)(body: => T): T =
    if (!on) body
    else {
      val id = ids.incrementAndGet()
      val parent = stack.get.headOption.getOrElse(0L)
      stack.set(id :: stack.get)
      val t0 = System.nanoTime()
      val wall0 = System.currentTimeMillis()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(stack.get.tail)
        buf.synchronized(buf += Span(id, parent, name, req, wall0, t0, t1))
      }
    }

  def spans: Seq[Span] = buf.synchronized(buf.toList)
}

object Trace {
  /** `startMs` is wall-clock (to line spans up with Spark's job events);
    * the duration comes from the monotonic clock. */
  final case class Span(id: Long, parent: Long, name: String, req: String,
      startMs: Long, startNs: Long, endNs: Long) {
    def ms: Double = (endNs - startNs) / 1e6
    def endMs: Double = startMs + ms
  }

  def write(f: File, spans: Seq[Span]): Unit =
    Main.writeText(f, spans.map(s => Json.obj(Map(
      "id" -> s.id, "parent" -> s.parent, "name" -> s.name, "req" -> s.req,
      "start_ms" -> s.startMs, "dur_ms" -> s.ms))).mkString("", "\n", "\n"))

  /** Duration of `[lo, hi]` covered by the union of `iv`. */
  def covered(iv: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    var total = 0.0
    var end = lo
    iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > end) { total += b - math.max(a, end); end = b }
      }
    total
  }
}

/** Spark's public listener events, kept per job. A job is attributed
  * to an engine family by the call-site stack Spark records for its
  * result stage (`StageInfo.details`); stage metrics are summed per
  * job. */
final class JobLog extends SparkListener {
  final case class Job(id: Int, startMs: Long, var endMs: Long,
      details: String, stages: Seq[Int])
  final case class StageM(tasks: Int, bytesRead: Long)

  private val jobs = mutable.LinkedHashMap[Int, Job]()
  private val stages = mutable.HashMap[Int, StageM]()
  @volatile private var sentinelSeen = false

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val result = e.stageInfos.maxBy(_.stageId)
    jobs(e.jobId) = Job(e.jobId, e.time, -1L, result.details,
      e.stageInfos.map(_.stageId))
    if (Option(e.properties).exists(_.getProperty(JobLog.SentinelProp) != null))
      sentinelSeen = true
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val i = e.stageInfo
      val m = i.taskMetrics
      stages(i.stageId) = StageM(i.numTasks,
        if (m == null) 0 else m.inputMetrics.bytesRead)
    }

  /** Jobs that started inside `[lo, hi]` (wall ms), with their summed
    * stage metrics. Stages that ran (not skipped) count once. */
  def jobsIn(lo: Double, hi: Double): Seq[(Job, StageM)] = synchronized {
    jobs.values.filter(j => j.startMs >= lo && j.startMs <= hi && j.endMs >= 0)
      .map { j =>
        val ms = j.stages.flatMap(stages.get)
        j -> StageM(ms.map(_.tasks).sum, ms.map(_.bytesRead).sum)
      }.toList
  }

  /** Block until every event posted before this call was delivered:
    * listener queues are FIFO, so seeing a sentinel job's start means
    * all earlier job and stage events have been handled. */
  def drain(sc: SparkContext): Unit = {
    sentinelSeen = false
    sc.setLocalProperty(JobLog.SentinelProp, "1")
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(JobLog.SentinelProp, null)
    val deadline = System.currentTimeMillis() + 30000
    while (!sentinelSeen && System.currentTimeMillis() < deadline) Thread.sleep(5)
  }
}

object JobLog {
  val SentinelProp = "perfbench.sentinel"

  /** Per-span job statistics: (jobs, tasks, bytes read, driver gap
    * ms = span time no job covered). */
  final case class SpanJobs(jobs: Int, tasks: Long, bytesRead: Long,
      driverGapMs: Double)

  def forSpan(log: JobLog, s: Trace.Span): SpanJobs = {
    val js = log.jobsIn(s.startMs, s.endMs)
    val iv = js.map { case (j, _) => (j.startMs.toDouble, j.endMs.toDouble) }
    SpanJobs(js.size, js.map(_._2.tasks.toLong).sum,
      js.map(_._2.bytesRead).sum,
      s.ms - Trace.covered(iv, s.startMs, s.endMs))
  }
}

/** Attribution of a job to an engine family by its call-site stack. */
object Families {
  /** The maintained-index append entry points (metric -> method). */
  val Appends = Seq(
    "operators.LexIndex.append_ms" -> "LexIndex$.appendToLexIndex",
    "operators.AnnIndex.append_ms" -> "AnnIndex$.appendToAnnIndex",
    "operators.KnnGraphIndex.append_ms" -> "KnnGraphIndex$.appendToKnnGraph")

  /** The metric of the innermost stack frame that names one of
    * `families` (metric -> method pattern, e.g. "LexIndex$.appendToLexIndex"). */
  def first(details: String, families: Seq[(String, String)]): Option[String] =
    details.linesIterator.flatMap(l => families.find(f => l.contains(f._2)))
      .map(_._1).nextOption()
}

/** Peak live heap: the largest heap occupancy a garbage collection left
  * behind since the last reset, from the JVM's GC notifications. */
object HeapPeak {
  import java.lang.management.ManagementFactory
  import javax.management.{Notification, NotificationEmitter, NotificationListener}
  import com.sun.management.GarbageCollectionNotificationInfo
  import javax.management.openmbean.CompositeData
  import scala.jdk.CollectionConverters._

  private val peak = new AtomicLong(0)
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
    .map(_.getName).toSet

  private val listener = new NotificationListener {
    override def handleNotification(n: Notification, hb: Any): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(
          n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        peak.accumulateAndGet(used, math.max)
      }
  }

  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ =>
  }

  def reset(): Unit = peak.set(0)

  def mb: Double = peak.get / 1048576.0
}
