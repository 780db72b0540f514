package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

import graft.ingest.ReportSource

/** Spark cost of one phase: jobs, stages, tasks, shuffle bytes written,
  * executor CPU, and the summed wall time of its jobs.
  */
final class PhaseCounters {
  var jobs = 0L; var stages = 0L; var tasks = 0L; var shuffleBytes = 0L
  var cpuNs = 0L; var jobNs = 0L
}

/** Attributes every Spark job to a phase, from outside the program. A job
  * run under a job group the benchmark set is that group's phase; a job
  * started inside `EtlMain.run` is attributed by its call site.
  */
final class PhaseListener extends SparkListener {
  @volatile var enabled = false
  private val jobPhase = new ConcurrentHashMap[Int, (String, Long)]
  private val stagePhase = new ConcurrentHashMap[Int, String]
  private val counters = mutable.Map.empty[String, PhaseCounters]

  private def of(phase: String): PhaseCounters = counters.getOrElseUpdate(phase, new PhaseCounters)

  private def classify(e: SparkListenerJobStart): String = {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    if (group.nonEmpty && group != PhaseListener.ByCallSite) group
    else {
      val site = e.stageInfos.map(_.details).mkString("\n")
      if (site.contains("Monitoring$.append")) "monitoring"
      else if (site.contains("Orchestrator$.tasksFor")) "config"
      else if (site.contains("Orchestrator$.run")) "fanout"
      else "analytics"
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = if (enabled) synchronized {
    val phase = classify(e)
    jobPhase.put(e.jobId, (phase, e.time))
    e.stageIds.foreach(stagePhase.put(_, phase))
    of(phase).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    Option(jobPhase.remove(e.jobId)).foreach { case (phase, t0) => of(phase).jobNs += (e.time - t0) * 1000000L }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    Option(stagePhase.remove(e.stageInfo.stageId)).foreach { phase =>
      val c = of(phase)
      c.stages += 1
      c.tasks += e.stageInfo.numTasks
      Option(e.stageInfo.taskMetrics).foreach { m =>
        c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        c.cpuNs += m.executorCpuTime
      }
    }
  }

  /** Counters since the last call, by phase. Drain the listener bus first. */
  def take(): Map[String, PhaseCounters] = synchronized {
    val out = counters.toMap
    counters.clear()
    out
  }
}

object PhaseListener {
  /** Job group under which the benchmark runs `EtlMain.run`: its jobs are
    * attributed by call site.
    */
  val ByCallSite = "etl"
}

/** Client-side timing of the wire calls, around any [[ReportSource]]. The
  * accumulators live in this JVM-wide object, so the decorator stays
  * serializable for the distributed orchestrator (local mode: executors
  * share the JVM).
  */
object Wire {
  val generateNs = new AtomicLong
  val generateCalls = new AtomicLong
  val downloadNs = new AtomicLong
  val downloadCalls = new AtomicLong

  def reset(): Unit = Seq(generateNs, generateCalls, downloadNs, downloadCalls).foreach(_.set(0))
}

final class TimedSource(inner: ReportSource) extends ReportSource {
  override def generateReport(token: String, reportName: String, fromDate: String, toDate: String): String = {
    val t0 = System.nanoTime()
    try inner.generateReport(token, reportName, fromDate, toDate)
    finally { Wire.generateNs.addAndGet(System.nanoTime() - t0); Wire.generateCalls.incrementAndGet() }
  }

  override def downloadReport(token: String, reportId: String): String = {
    val t0 = System.nanoTime()
    try inner.downloadReport(token, reportId)
    finally { Wire.downloadNs.addAndGet(System.nanoTime() - t0); Wire.downloadCalls.incrementAndGet() }
  }
}

/** Standard output of a call, line by line, with the time each line was
  * printed. `EtlMain.run` prints a header before each of its steps, on the
  * thread that runs them, so the gaps between headers time the steps of
  * the real call.
  */
final class Lines extends java.io.OutputStream {
  private val lines = mutable.ArrayBuffer.empty[(String, Long)]
  private val cur = new java.io.ByteArrayOutputStream()

  override def write(b: Int): Unit = synchronized {
    if (b == '\n') { lines += ((cur.toString("UTF-8"), System.nanoTime())); cur.reset() }
    else cur.write(b)
  }

  def text: String = synchronized((lines.map(_._1) :+ cur.toString("UTF-8")).mkString("\n"))

  /** When the first line that satisfies `p` was printed. */
  def at(p: String => Boolean): Option[Long] = synchronized(lines.collectFirst { case (l, t) if p(l) => t })
}

/** JVM-wide readings from the management beans. */
object Jvm {
  private val threads = ManagementFactory.getThreadMXBean
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum
  def allocBytes: Long = threads.asInstanceOf[com.sun.management.ThreadMXBean].getTotalThreadAllocatedBytes
  def resetPeakThreads(): Unit = threads.resetPeakThreadCount()
  def peakThreads: Int = threads.getPeakThreadCount
}

/** Named intervals at layer boundaries, tagged with their job, held in
  * memory and written as JSON lines at the end.
  */
final class Spans {
  private val buf = mutable.ArrayBuffer.empty[(String, Int, Long, Long)]
  private val origin = System.nanoTime()
  def apply[T](name: String, job: Int)(f: => T): T = {
    val t0 = System.nanoTime()
    try f finally synchronized { buf += ((name, job, t0 - origin, System.nanoTime() - origin)) }
  }
  def write(path: java.nio.file.Path): Unit = synchronized {
    val lines = buf.map { case (n, j, a, b) =>
      f"""{"span": "$n", "job": $j, "start_ms": ${a / 1e6}%.3f, "end_ms": ${b / 1e6}%.3f}""" }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.asJava)
  }
}

/** Per-layer metrics read per traced job (averaged over traced jobs), with
  * their units. Run-level readings are added by the harness.
  */
object Layer {
  val Names: Seq[(String, String)] = Seq(
    "ingest.token_calls" -> "count", "ingest.generate_calls" -> "count",
    "ingest.download_calls" -> "count", "ingest.retried_calls" -> "count",
    "ingest.useful_ratio" -> "ratio", "ingest.bytes" -> "bytes",
    "ingest.generate_ms" -> "ms", "ingest.download_ms" -> "ms",
    "run.tasks_ms" -> "ms", "run.fanout_ms" -> "ms", "run.report_self_ms" -> "ms",
    "run.monitoring_append_ms" -> "ms", "run.monitoring_files" -> "count", "run.monitoring_bytes" -> "bytes",
    "analytics.latest_ms" -> "ms", "analytics.b1_ms" -> "ms", "analytics.b2_ms" -> "ms",
    "analytics.b3_ms" -> "ms", "analytics.b4_ms" -> "ms",
    "sink.bytes_ratio" -> "ratio") ++
    Seq("fanout", "monitoring", "analytics").flatMap(ph => Seq(
      s"spark.$ph.jobs" -> "count", s"spark.$ph.stages" -> "count", s"spark.$ph.tasks" -> "count",
      s"spark.$ph.shuffle_bytes" -> "bytes", s"spark.$ph.cpu_ms" -> "ms")) ++
    Seq("jvm.gc_ms" -> "ms", "jvm.alloc_mb" -> "MB") ++
    QueryProbe.Queries.flatMap(q => Seq(
      s"query.$q.ms" -> "ms", s"query.$q.jobs" -> "count", s"query.$q.shuffle_bytes" -> "bytes"))
}
