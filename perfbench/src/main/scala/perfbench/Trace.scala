package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Spark counters billed to one span (or to one streaming query). */
final class Counters {
  var jobs, stages, tasks = 0L
  var runMs, cpuNs, gcMs = 0L
  var shuffleRead, shuffleWrite, memSpill, diskSpill = 0L
  var bytesRead, bytesWritten, recordsRead, recordsWritten = 0L
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]

  def taskS: Double = runMs / 1e3
  def cpuS: Double = cpuNs / 1e9
  def shuffleBytes: Long = shuffleRead + shuffleWrite
  def spillBytes: Long = memSpill + diskSpill

  /** Milliseconds covered by the union of this span's job intervals. */
  def jobCoverMs: Long = {
    var covered, curS, curE = 0L
    var open = false
    for ((s, e) <- jobIntervals.sortBy(_._1)) {
      if (!open || s > curE) {
        if (open) covered += curE - curS
        curS = s; curE = e; open = true
      } else curE = math.max(curE, e)
    }
    if (open) covered += curE - curS
    covered
  }

  def add(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    runMs += o.runMs; cpuNs += o.cpuNs; gcMs += o.gcMs
    shuffleRead += o.shuffleRead; shuffleWrite += o.shuffleWrite
    memSpill += o.memSpill; diskSpill += o.diskSpill
    bytesRead += o.bytesRead; bytesWritten += o.bytesWritten
    recordsRead += o.recordsRead; recordsWritten += o.recordsWritten
  }
}

/** One timed call into a layer. Times are wall-clock milliseconds so
  * they compare with the listener's job start/end stamps. */
final case class Span(id: Int, name: String, parent: Int, runId: String,
    startMs: Long, var endMs: Long = -1L) {
  val counters = new Counters
  /** Counts the benchmark adds itself, e.g. files a write left on disk. */
  val notes = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  def wallMs: Long = endMs - startMs
  def planningGapMs: Long = math.max(0L, wallMs - counters.jobCoverMs)
}

/** Span recorder plus a `SparkListener` that bills Spark's own job,
  * stage and task counters to the span that was open when each job was
  * submitted. Attribution rides on Spark job groups: opening a span
  * sets the thread's job group to the span id, so every job a lazily
  * composed layer forces inside the eager call lands on that call.
  * Jobs of a streaming query carry the query's run id as their group;
  * [[bindGroup]] names those.
  *
  * When `enabled` is false nothing is registered and [[span]] only runs
  * its body: the untraced run measures the program alone. Spans stay in
  * memory until the run writes them out.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  val runId: String = java.util.UUID.randomUUID().toString
  private val sc = spark.sparkContext
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var current: Option[Span] = None
  private val groups = new ConcurrentHashMap[String, Counters]()
  private val groupNames = new ConcurrentHashMap[String, String]()
  private val jobGroup = new ConcurrentHashMap[Int, Counters]()
  private val jobStart = new ConcurrentHashMap[Int, Long]()
  private val stageGroup = new ConcurrentHashMap[Int, Counters]()
  @volatile private var selfNs = 0L

  private def groupOf(props: java.util.Properties): Option[Counters] =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .flatMap(g => Option(groups.get(g)))

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = timed {
      groupOf(e.properties).foreach { c =>
        c.synchronized { c.jobs += 1; c.stages += e.stageIds.size }
        jobGroup.put(e.jobId, c)
        jobStart.put(e.jobId, e.time)
        e.stageIds.foreach(s => stageGroup.put(s, c))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
      Option(jobGroup.remove(e.jobId)).foreach { c =>
        val s = jobStart.remove(e.jobId)
        c.synchronized { c.jobIntervals += ((s, e.time)) }
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
      val m = e.taskMetrics
      Option(stageGroup.get(e.stageId)).filter(_ => m != null).foreach { c =>
        c.synchronized {
          c.tasks += 1
          c.runMs += m.executorRunTime
          c.cpuNs += m.executorCpuTime
          c.gcMs += m.jvmGCTime
          c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          c.memSpill += m.memoryBytesSpilled
          c.diskSpill += m.diskBytesSpilled
          c.bytesRead += m.inputMetrics.bytesRead
          c.recordsRead += m.inputMetrics.recordsRead
          c.bytesWritten += m.outputMetrics.bytesWritten
          c.recordsWritten += m.outputMetrics.recordsWritten
        }
      }
    }
  }

  private def timed(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    body
    selfNs += System.nanoTime() - t0
  }

  if (enabled) sc.addSparkListener(listener)

  /** Runs `body` as one span named `name`; nested spans record their
    * parent, and jobs bill to the innermost open span. */
  def span[T](name: String)(body: => T): T =
    if (!active) body
    else {
      val t0 = System.nanoTime()
      val parent = current
      val s = Span(spans.size, name, parent.map(_.id).getOrElse(-1), runId,
        System.currentTimeMillis())
      spans += s
      groups.put(groupId(s), s.counters)
      current = Some(s)
      sc.setJobGroup(groupId(s), name, interruptOnCancel = false)
      selfNs += System.nanoTime() - t0
      try body
      finally {
        val t1 = System.nanoTime()
        s.endMs = System.currentTimeMillis()
        current = parent
        parent match {
          case Some(p) => sc.setJobGroup(groupId(p), p.name, interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
        selfNs += System.nanoTime() - t1
      }
    }

  @volatile private var paused = false

  /** True while spans are being recorded. */
  def active: Boolean = enabled && !paused

  /** Runs `body` untraced unless `on`: the listener is detached and no
    * span is recorded, so the same work can be timed both ways. */
  def suspendedUnless[T](on: Boolean)(body: => T): T =
    if (!active || on) body
    else {
      drain()
      sc.removeSparkListener(listener)
      paused = true
      try body
      finally { paused = false; sc.addSparkListener(listener) }
    }

  /** Adds `v` to the count `key` of the innermost open span. */
  def note(key: String, v: Double): Unit =
    current.foreach(s => s.notes(key) += v)

  private def groupId(s: Span): String = s"perfbench-${s.id}"

  /** Bills jobs whose group is `group` (a streaming query's run id) to
    * the counters named `name`. */
  def bindGroup(group: String, name: String): Unit =
    if (enabled) {
      groupNames.put(group, name)
      groups.put(group, new Counters)
    }

  /** Waits until the listener bus has delivered every event posted so
    * far, so the counters are complete. */
  def drain(): Unit =
    if (enabled) {
      val f = sc.getClass.getMethod("listenerBus")
      val bus = f.invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
    }

  def all: Seq[Span] = spans.toSeq

  /** (name, counters) of every bound streaming query. */
  def groupCounters: Seq[(String, Counters)] =
    groupNames.asScala.toSeq.map { case (g, n) => n -> groups.get(g) }

  /** Seconds spent inside tracing code (listener callbacks and span
    * bookkeeping). */
  def selfS: Double = selfNs / 1e9

  def close(): Unit = if (enabled) { drain(); sc.removeSparkListener(listener) }
}

object Gc {
  /** Cumulative collection time of every JVM collector, in seconds. In
    * local mode the Spark driver and executors share the JVM. */
  def seconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3
}
