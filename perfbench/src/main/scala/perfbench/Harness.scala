package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** One metric as the result line reports it. */
final case class Metric(name: String, value: Double, unit: String)

/** What a workload hands back: its output check, its operation
  * counts, its metrics, and (traced runs) its spans.
  */
final case class Outcome(correct: Boolean, attempted: Long, failed: Long,
    metrics: Seq[Metric], notes: Seq[String] = Nil)

/** Command line of the benchmark JVM (run.py builds it). */
final case class Opts(workload: String, seed: Long, seconds: Int,
    trace: Boolean, work: File, data: File, t0Ms: Long, pin: Boolean) {
  /** Wall seconds since the process was launched. */
  def sinceStart: Double = (System.currentTimeMillis() - t0Ms) / 1e3

  /** Marks a phase of the run in the log (stderr). */
  def phase(name: String): Unit = System.err.println(f"[perfbench] $sinceStart%8.2f s  $name")
}

object Harness {
  val Cores = 4

  /** One local session, the same on every workload: 4 cores and 4
    * shuffle partitions, all scratch space inside the run directory.
    */
  def session(work: File): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def json(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)

  def resultLine(o: Outcome): String = {
    val ms = o.metrics.map(m =>
      s""""${json(m.name)}": {"value": ${num(m.value)}, "unit": "${json(m.unit)}"}""")
    s"""{"correct": ${o.correct}, "attempted": ${o.attempted}, "failed": ${o.failed}, "metrics": {${ms.mkString(", ")}}}"""
  }

  def writeFile(f: File, text: String): Unit = {
    f.getParentFile.mkdirs()
    val w = new PrintWriter(f, "UTF-8")
    try w.write(text) finally w.close()
  }
}

/** Largest heap occupancy right after a GC while armed: what the run
  * retains (state, buffered input, caches), not its garbage. A full
  * collection is forced once at the end of the timed window so that
  * every run has at least one reading taken the same way.
  */
final class HeapMonitor {
  @volatile private var armed = false
  @volatile private var peakBytes = 0L
  private val listener = new NotificationListener {
    override def handleNotification(n: Notification, hb: Any): Unit =
      if (armed && n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
          .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        synchronized { peakBytes = peakBytes max used }
      }
  }
  private val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .collect { case e: NotificationEmitter => e }
  beans.foreach(_.addNotificationListener(listener, null, null))

  def arm(): Unit = armed = true

  /** Forces a full collection, waits for its notification, disarms,
    * and returns the peak in MB.
    */
  def finish(): Double = {
    System.gc()
    Thread.sleep(200) // GC notifications arrive on their own thread
    armed = false
    beans.foreach(b => try b.removeNotificationListener(listener) catch { case _: Exception => () })
    val peak = synchronized(peakBytes)
    peak / 1e6
  }
}

/** A traced interval. `parent` is -1 for a root. Spans live in memory
  * and are written once, when the run ends.
  */
final case class Span(id: Int, parent: Int, layer: String, name: String,
    startNs: Long, endNs: Long, attrs: Map[String, Double] = Map.empty) {
  def durNs: Long = endNs - startNs
}

final class Spans {
  private val buf = ArrayBuffer.empty[Span]
  private var next = 0

  def add(parent: Int, layer: String, name: String, startNs: Long, endNs: Long,
      attrs: Map[String, Double] = Map.empty): Int = synchronized {
    val id = next; next += 1
    buf += Span(id, parent, layer, name, startNs, endNs, attrs)
    id
  }

  /** Times `body` as a span and returns its result and span id. */
  def timed[T](parent: Int, layer: String, name: String)(body: => T): (T, Int) = {
    val t0 = System.nanoTime()
    val r = body
    (r, add(parent, layer, name, t0, System.nanoTime()))
  }

  def all: Seq[Span] = synchronized(buf.toVector)

  /** Duration minus the part of it that the span's children cover. */
  def selfNs(s: Span, children: Seq[Span]): Long = {
    val iv = children.map(c => (c.startNs max s.startNs, c.endNs min s.endNs))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L; var curA = Long.MinValue; var curB = Long.MinValue
    for ((a, b) <- iv) {
      if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
      else curB = curB max b
    }
    if (curB > curA) covered += curB - curA
    s.durNs - covered
  }

  /** Writes one JSON line per span, then a layer summary: per layer,
    * the span count, summed duration and summed self time.
    */
  def write(spansFile: File, summaryFile: File, extra: Seq[Metric]): Unit = {
    val spans = all
    val kids = spans.groupBy(_.parent)
    val lines = spans.map { s =>
      val attrs = s.attrs.map { case (k, v) => s""""${Harness.json(k)}": ${Harness.num(v)}""" }
      s"""{"id": ${s.id}, "parent": ${s.parent}, "layer": "${Harness.json(s.layer)}", "name": "${Harness.json(s.name)}", """ +
        s""""start_ns": ${s.startNs}, "end_ns": ${s.endNs}, "self_ns": ${selfNs(s, kids.getOrElse(s.id, Nil))}, "attrs": {${attrs.mkString(", ")}}}"""
    }
    Harness.writeFile(spansFile, lines.mkString("", "\n", "\n"))
    val byLayer = spans.groupBy(_.layer).toSeq.sortBy(_._1).map { case (layer, ss) =>
      val self = ss.map(s => selfNs(s, kids.getOrElse(s.id, Nil))).sum
      s""""${Harness.json(layer)}": {"spans": ${ss.size}, "total_s": ${Harness.num(ss.map(_.durNs).sum / 1e9)}, "self_s": ${Harness.num(self / 1e9)}}"""
    }
    val ms = extra.map(m => s""""${Harness.json(m.name)}": {"value": ${Harness.num(m.value)}, "unit": "${Harness.json(m.unit)}"}""")
    Harness.writeFile(summaryFile,
      s"""{"layers": {${byLayer.mkString(", ")}},\n "metrics": {${ms.mkString(",\n  ")}}}\n""")
  }
}

/** Every Spark job of the run with its scheduler counters, from a
  * SparkListener. Jobs are attributed to queries and micro-batches
  * afterwards by the time window they started in: the benchmark's
  * main loop is single-threaded, so windows do not overlap.
  */
final class JobLog extends SparkListener {
  final class Job(val id: Int, val startMs: Long) {
    @volatile var endMs: Long = -1L
    @volatile var stages = 0
    @volatile var tasks = 0
    @volatile var taskMs = 0L
    @volatile var cpuNs = 0L
    @volatile var shuffleRead = 0L
    @volatile var shuffleWrite = 0L
    @volatile var spill = 0L
  }
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Job]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val j = new Job(e.jobId, e.time)
    jobs.put(e.jobId, j)
    e.stageIds.foreach(s => stageJob.put(s, j))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageJob.get(e.stageInfo.stageId)).foreach { j =>
      j.synchronized {
        j.stages += 1
        val m = e.stageInfo.taskMetrics
        if (m != null) {
          j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageJob.get(e.stageId)).foreach { j =>
      j.synchronized {
        j.tasks += 1
        if (e.taskMetrics != null) {
          j.taskMs += e.taskMetrics.executorRunTime
          j.cpuNs += e.taskMetrics.executorCpuTime
        }
      }
    }

  /** Jobs that started in [fromMs, toMs), by start time. */
  def startedIn(fromMs: Long, toMs: Long): Seq[Job] =
    jobs.values().asScala.filter(j => j.startMs >= fromMs && j.startMs < toMs)
      .toSeq.sortBy(_.startMs)
}

object JobLog {
  /** Summed counters of a set of jobs, as layer metrics under `prefix`. */
  def totals(prefix: String, js: Seq[JobLog#Job]): Seq[Metric] = Seq(
    Metric(s"$prefix.jobs", js.size, "count"),
    Metric(s"$prefix.stages", js.map(_.stages).sum, "count"),
    Metric(s"$prefix.tasks", js.map(_.tasks).sum, "count"),
    Metric(s"$prefix.task_s", js.map(_.taskMs).sum / 1e3, "s"),
    Metric(s"$prefix.cpu_s", js.map(_.cpuNs).sum / 1e9, "s"))
}
