package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed call into a layer's public function. `startMs` is epoch ms,
  * so the span lines up with the scheduler's job timestamps; the duration
  * comes from the monotonic clock. */
final case class Span(id: Int, name: String, parent: Int, startMs: Double,
    startNs: Long, var endNs: Long = 0L) {
  def ms: Double = (endNs - startNs) / 1e6
  def endMs: Double = startMs + ms
}

/** What the Spark scheduler did on behalf of one span. */
final class SpanWork {
  var jobs = 0
  var stages = 0
  var tasks = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var spill = 0L
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]

  /** Wall time covered by at least one running job, clipped to the span. */
  def busyMs(span: Span): Double = {
    val iv = jobIntervals.map { case (a, b) =>
      (math.max(a.toDouble, span.startMs), math.min(b.toDouble, span.endMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    iv.foreach { case (a, b) =>
      if (curA.isNaN || a > curB) {
        if (!curA.isNaN) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curA.isNaN) total += curB - curA
    total
  }
}

/** Streaming progress of one micro-batch (from `StreamingQueryListener`). */
final case class Progress(runId: java.util.UUID, triggerMs: Long, addBatchMs: Long)

/** Span recorder plus the two listeners that attribute Spark work to
  * spans. A span tags its thread with `sc.setLocalProperty(SpanKey, id)`;
  * every job submitted under that tag (including jobs of a streaming query
  * started inside the span, whose thread inherits local properties) has
  * its jobs, stages, tasks, CPU, shuffle, spill and GC credited to the
  * span. With tracing off, `span` is a plain call and nothing is recorded;
  * the job counter stays on because the memo guard needs it. */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val SpanKey = "perfbench.span"

  /** Record spans for calls made while this is true. */
  var on: Boolean = false

  val spans = mutable.ArrayBuffer.empty[Span]
  private var current = -1
  private val work = new ConcurrentHashMap[Int, SpanWork]()
  private val jobSpan = new ConcurrentHashMap[Int, Int]()
  private val jobStart = new ConcurrentHashMap[Int, Long]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val progressLog = new java.util.concurrent.ConcurrentLinkedQueue[Progress]()
  val jobsStarted = new AtomicLong()

  private def workOf(id: Int): SpanWork = work.computeIfAbsent(id, _ => new SpanWork)

  sc.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobsStarted.incrementAndGet()
      Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey))).foreach { s =>
        val id = s.toInt
        jobSpan.put(e.jobId, id)
        jobStart.put(e.jobId, e.time)
        e.stageIds.foreach(st => stageSpan.putIfAbsent(st, id))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobSpan.remove(e.jobId)).foreach { id =>
        val w = workOf(id)
        val t0 = jobStart.remove(e.jobId)
        w.synchronized { w.jobs += 1; w.jobIntervals += ((t0, e.time)) }
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val info = e.stageInfo
      Option(stageSpan.get(info.stageId)).foreach { id =>
        val w = workOf(id)
        val m = info.taskMetrics
        w.synchronized {
          w.stages += 1
          w.tasks += info.numTasks
          if (m != null) {
            w.cpuNs += m.executorCpuTime
            w.gcMs += m.jvmGCTime
            w.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
            w.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          }
        }
      }
    }
  })

  spark.streams.addListener(new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs
      if (d.containsKey("addBatch"))
        progressLog.add(Progress(p.runId, d.get("triggerExecution"), d.get("addBatch")))
    }
  })

  /** Time `body` as a span named `name` (a no-op wrapper when off). */
  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val s = Span(spans.size, name, current, System.currentTimeMillis().toDouble,
        System.nanoTime())
      spans += s
      val prevProp = sc.getLocalProperty(SpanKey)
      val prev = current
      current = s.id
      sc.setLocalProperty(SpanKey, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime()
        current = prev
        sc.setLocalProperty(SpanKey, prevProp)
      }
    }

  /** Wait until every posted listener event has been handled. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(sc)

  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq
  def workFor(s: Span): SpanWork = Option(work.get(s.id)).getOrElse(new SpanWork)
  def progress: Seq[Progress] = progressLog.asScala.toSeq

  /** All spans as JSON lines, for offline inspection. */
  def write(path: java.nio.file.Path): Unit = {
    val lines = spans.map { s =>
      val w = workFor(s)
      f"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"start_ms":${s.startMs}%.0f,""" +
        f""""end_ms":${s.endMs}%.0f,"jobs":${w.jobs},"stages":${w.stages},"tasks":${w.tasks},""" +
        f""""cpu_ms":${w.cpuNs / 1e6}%.1f,"gc_ms":${w.gcMs},"shuffle_write":${w.shuffleWrite},""" +
        f""""spill":${w.spill}}"""
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}

/** JVM-level numbers read from the management beans and `/proc`. */
object Jvm {
  import java.lang.management.{ManagementFactory, MemoryType}

  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum

  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP)

  def resetHeapPeak(): Unit = heapPools.foreach(_.resetPeakUsage())

  def heapPeakMb: Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0

  /** CPU time of this process, all threads, in ns. */
  def cpuNs: Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** CPU time of the JVM's own service threads, in ns, from
    * `/proc/self/task` (clock ticks of 10 ms): (JIT compiler threads, GC
    * threads). The runner fixes the number of compiler threads, so they live
    * as long as the JVM and a difference of two readings is their share of
    * an interval. */
  def serviceCpuNs: (Long, Long) = {
    var jit = 0L
    var gc = 0L
    val tasks = new java.io.File("/proc/self/task").listFiles()
    if (tasks != null) tasks.foreach { t =>
      val comm = scala.util.Try(new String(java.nio.file.Files.readAllBytes(
        t.toPath.resolve("comm"))).trim).getOrElse("")
      val isJit = comm.contains("CompilerThre")
      val isGc = comm.startsWith("GC Thread") || comm.startsWith("G1 ") || comm == "VM Thread"
      if (isJit || isGc) scala.util.Try {
        val stat = new String(java.nio.file.Files.readAllBytes(t.toPath.resolve("stat")))
        val f = stat.substring(stat.lastIndexOf(')') + 2).split(" ")
        val ns = (f(11).toLong + f(12).toLong) * 10000000L // utime + stime, in ticks
        if (isJit) jit += ns else gc += ns
      }
    }
    (jit, gc)
  }

  /** Peak resident set (`VmHWM`) of this JVM in MB. */
  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0)
    finally src.close()
  }
}
