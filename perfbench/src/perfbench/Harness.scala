package perfbench

import java.io.PrintStream
import java.nio.file.{Files, Path, Paths}
import java.sql.Timestamp
import java.time.{Instant, LocalDate}
import java.util.UUID

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Encoders, SparkSession}
import org.apache.spark.sql.graftshim.PlanBridge

import graft.{EtlMain, Graft}
import graft.ingest.{CsvIO, HttpReportSource, HttpTokenFetcher, ReportSource, TokenManager}
import graft.model.{JobRun, ReportRun, Status}
import graft.run.{Monitoring, Orchestrator, Secrets}

/** What one ETL job did, as seen from outside the program. */
final case class JobOutcome(
    jobS: Double,
    extractS: Double,
    attempted: Int,
    ok: Int,            // SUCCESS, CSV byte-identical, rows_written right
    hardFailed: Int,    // FAILED, or the CSV at its final path is wrong
    reportMs: Seq[Double],
    problems: Seq[String],
    layer: Map[String, Double])

/** Everything a workload's jobs run against: one Spark session, the stub,
  * and the work directory.
  */
final class Env(val spark: SparkSession, val stub: Stub, val listener: Option[PhaseListener],
    val dir: Path, val seed: Long, val cache: Path) {
  def close(): Unit = {
    listener.foreach(spark.sparkContext.removeSparkListener)
    spark.stop()
    stub.stop()
  }
}

/** One benchmark workload: set-up of its inputs, and one job — an ETL job
  * or a probe pass.
  */
abstract class Workload(val name: String) {
  /** Jobs a run measures at the least, whatever `--seconds` says: enough
    * that the run's job count, and so the median's position in the JIT
    * warm-up, does not vary from run to run.
    */
  def minJobs: Int
  /** Untimed work between the last set-up and the measured jobs, so that
    * they do not take the JVM's first, cold run of their code.
    */
  def beforeJobs(env: Env): Unit
  /** Report names and payload rows per report. */
  def reports: Seq[(String, Int)]
  def session(): SparkSession = Harness.session()
  /** Inputs beyond payloads (the monitoring history), inside `env.dir`. */
  def prepare(env: Env): Unit = ()
  def job(env: Env, j: Int, traced: Boolean): JobOutcome
}

object Harness {

  /** Set-ups a run makes; it reports their median time. */
  val SetupReps = 5
  /** Spans of the measured jobs and their phases, written when the run ends. */
  val spans = new Spans
  val BaseDate: LocalDate = LocalDate.parse("2024-03-01")
  val BenchSecrets: Map[String, String] = Map(
    "client_id" -> Stub.ClientId, "client_secret" -> Stub.ClientSecret,
    "storage_client_id" -> "bench", "storage_client_secret" -> "bench", "storage_tenant_id" -> "bench",
    "storage_account" -> "bench", "storage_container" -> "bench")

  def isFreeText(report: String): Boolean = report.startsWith("call_details")

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean, dir: Path, out: Path,
      cache: Path)

  private def parse(argv: Array[String]): Opts = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      Paths.get(need("dir")), Paths.get(need("out")), Paths.get(need("cache")))
  }

  def main(argv: Array[String]): Unit = {
    // without it, every call on a kept-alive connection stalls ~40 ms in
    // the JDK server (Nagle + delayed ACK): a harness artifact
    System.setProperty("sun.net.httpserver.nodelay", "true")
    val o = parse(argv)
    val status = try { run(o); 0 } catch {
      case t: Throwable => t.printStackTrace(); 1
    }
    System.exit(status)
  }

  def session(): SparkSession = {
    val spark = Graft.session(appName = "perfbench")
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def run(o: Opts): Unit = {
    val w: Workload = o.workload match {
      case "etl_nightly" => new Nightly
      case "etl_fanout" => new Fanout
      case "query_probe" => new QueryProbe
      case other => sys.error(s"unknown workload $other (etl_nightly, etl_fanout, query_probe)")
    }
    val cores = Runtime.getRuntime.availableProcessors()

    // set-up, repeated: session, stub, payloads, inputs, warm-up
    var env: Env = null
    val setupS = (0 until SetupReps).map { rep =>
      if (env != null) env.close()
      val t0 = System.nanoTime()
      val spark = w.session()
      val stub = new Stub(cores)
      w.reports.foreach { case (r, rows) => stub.payloads.put(r, Payload.csv(o.seed, r, rows, isFreeText(r))) }
      val listener = if (o.trace) Some(new PhaseListener) else None
      listener.foreach(spark.sparkContext.addSparkListener)
      val dir = o.dir.resolve(s"setup$rep")
      Files.createDirectories(dir)
      env = new Env(spark, stub, listener, dir, o.seed, o.cache)
      w.prepare(env)
      // warm the new session as graft.Bench does: scheduler, codegen, shuffle
      val tw = System.nanoTime()
      spark.range(1000).selectExpr("sum(id) s").write.format("noop").mode("overwrite").save()
      System.err.println(f"perfbench: set-up $rep: ${secs(t0)}%.3f s (warm-up ${secs(tw)}%.3f s)")
      secs(t0)
    }

    val tb = System.nanoTime()
    w.beforeJobs(env)
    System.err.println(f"perfbench: before the measured jobs: ${secs(tb)}%.3f s")

    // closed loop: the next job starts when the previous one returned
    Jvm.resetPeakThreads()
    env.stub.inflightMax.set(0)
    val t0 = System.nanoTime()
    val jobs = scala.collection.mutable.ArrayBuffer.empty[(JobOutcome, Boolean)]
    // a traced run runs each job index twice, traced and untraced, in
    // alternating order (jobs speed up over a run), and reports tracing's
    // overhead from the pairs
    val minJobs = if (o.trace) math.max(4, w.minJobs + w.minJobs % 2) else w.minJobs
    while (jobs.size < minJobs || (System.nanoTime() - t0) / 1e9 < o.seconds || (o.trace && jobs.size % 2 == 1)) {
      val n = jobs.size
      val (j, traced) = if (o.trace) (n / 2, (n / 2) % 2 == n % 2) else (n, false)
      env.listener.foreach(_.enabled = traced)
      jobs += (spans(s"${w.name}.job", j)(w.job(env, j, traced)) -> traced)
      System.err.println(f"perfbench: job $j${if (traced) " (traced)" else ""}: ${jobs.last._1.jobS}%.3f s, " +
        f"fan-out ${jobs.last._1.extractS}%.3f s, run so far ${secs(t0)}%.3f s")
    }
    val inflightMax = env.stub.inflightMax.get
    val threadsPeak = Jvm.peakThreads
    // one free-text export, for the quote-aware cross-check of its record count
    env.stub.payloads.asScala.toSeq.sortBy(_._1).collectFirst { case (n, p) if isFreeText(n) => p }.foreach { sample =>
      Files.write(o.dir.resolve("sample.csv"), sample.bytes)
      Files.write(o.dir.resolve("sample.json"), s"""{"records": ${sample.records}}""".getBytes("UTF-8"))
    }
    env.close()

    val all = jobs.map(_._1).toSeq
    val attempted = all.map(_.attempted).sum
    val failed = all.map(_.hardFailed).sum
    val problems = all.flatMap(_.problems)
    problems.take(20).foreach(p => System.err.println(s"check: $p"))
    val correct = failed == 0 && problems.isEmpty

    val lat = all.flatMap(_.reportMs)
    val okShare = all.map(_.ok).sum.toDouble / attempted
    val metrics: Seq[(String, Double, String)] =
      if (!o.trace) Seq(
        ("setup_s", median(setupS), "s"),
        ("job_s", median(all.map(_.jobS)), "s"),
        ("reports_per_s", all.map(_.ok).sum / all.map(_.jobS).sum, "1/s"),
        ("ok_share", okShare, "ratio"))
      else {
        val traced = jobs.collect { case (j, true) => j }.toSeq
        val overhead = jobs.grouped(2).map { pair =>
          val t = pair.collectFirst { case (j, true) => j.jobS }.get
          val u = pair.collectFirst { case (j, false) => j.jobS }.get
          t / u - 1
        }.toSeq
        def mean(k: String) = traced.map(_.layer.getOrElse(k, 0.0)).sum / traced.size
        Layer.Names.map { case (k, unit) => (k, mean(k), unit) } ++ Seq(
          ("run.extract_s", median(all.map(_.extractS)), "s"),
          ("run.report_ms_p50", pct(lat, 0.50), "ms"),
          ("run.report_ms_p95", pct(lat, 0.95), "ms"),
          ("run.inflight_max", inflightMax.toDouble, "count"),
          ("jvm.threads_peak", threadsPeak.toDouble, "count"),
          ("failed_share", 1.0 - okShare, "ratio"),
          ("trace.overhead_pct", 100.0 * median(overhead), "%"))
      }
    spans.write(o.dir.resolve("spans.jsonl"))
    val body = metrics.map { case (k, v, u) => s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }.mkString(", ")
    val json = s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {$body}}"""
    Files.write(o.out, json.getBytes("UTF-8"))
  }

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v)

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Nearest-rank percentile. */
  def pct(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else s(math.max(0, math.ceil(p * s.size).toInt - 1))
  }

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Microseconds since the epoch: the precision the monitoring store keeps. */
  def micros(t: Timestamp): Long = Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000
  def millis(a: Timestamp, b: Timestamp): Double = (micros(b) - micros(a)) / 1000.0

  def group[T](spark: SparkSession, g: String)(f: => T): T = {
    spark.sparkContext.setJobGroup(g, g, interruptOnCancel = false)
    try f finally spark.sparkContext.clearJobGroup()
  }

  /** Runs `f` with its standard output captured line by line. */
  def quietly[T](f: => T): (T, Lines) = {
    val lines = new Lines
    val ps = new PrintStream(lines, true, "UTF-8")
    val r = Console.withOut(ps)(f)
    ps.flush()
    (r, lines)
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).iterator().asScala.foreach(Files.delete)
      finally s.close()
    }

  def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.iterator().asScala.foreach { p =>
      val q = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(q) else Files.copy(p, q)
    } finally s.close()
  }

  /** Data files under a monitoring directory and their total size. */
  def listing(dir: Path): Map[String, Long] =
    if (!Files.isDirectory(dir)) Map.empty
    else {
      val s = Files.list(dir)
      try s.iterator().asScala.filter { p =>
        val n = p.getFileName.toString
        n.endsWith(".parquet")
      }.map(p => p.toString -> Files.size(p)).toMap
      finally s.close()
    }

  def dates(j: Int): (String, String) = (BaseDate.plusDays(j.toLong).toString, BaseDate.plusDays(j + 1L).toString)

  /** Check every report of a job against what the stub served: status, the
    * CSV at its final path byte for byte, and `rows_written` against the
    * quote-aware record count.
    */
  def checkReports(env: Env, csvDir: String, from: String, to: String,
      runs: Seq[ReportRun], expected: Seq[String]): (Int, Int, Seq[String], Long) = {
    var ok = 0; var hard = 0; var bytes = 0L
    val problems = scala.collection.mutable.ArrayBuffer.empty[String]
    val byName = runs.map(r => r.report_name -> r).toMap
    if (runs.size != expected.size) problems += s"${runs.size} report rows for ${expected.size} reports"
    expected.foreach { name =>
      val p = env.stub.payloads.get(name)
      byName.get(name) match {
        case None => hard += 1; problems += s"$name: no report_monitoring row"
        case Some(r) if r.status != Status.Success =>
          hard += 1; problems += s"$name: ${r.status} ${r.error_message.getOrElse("")}"
        case Some(r) =>
          val path = Paths.get(CsvIO.outputPath(csvDir, name, from, to))
          val onDisk = if (Files.exists(path)) Files.readAllBytes(path) else Array.emptyByteArray
          bytes += onDisk.length
          if (!java.util.Arrays.equals(onDisk, p.bytes)) {
            hard += 1; problems += s"$name: CSV at $path differs from the bytes served"
          } else if (r.rows_written == p.records) ok += 1
      }
    }
    (ok, hard, problems.toSeq, bytes)
  }

  /** Monitoring-store size: data files and bytes of both directories. */
  def storeSize(out: Path): (Double, Double) = {
    val files = listing(out.resolve("report_monitoring")) ++ listing(out.resolve("job_monitoring"))
    (files.size.toDouble, files.values.sum.toDouble)
  }

  /** Per-job layer readings shared by all workloads. */
  final class Probe(env: Env) {
    private val s = env.stub
    private val c0 = Seq(s.tokenCalls.get, s.generateCalls.get, s.downloadCalls.get, s.retriedCalls.get,
      s.bytesServed.get, s.generateNs.get, s.downloadNs.get)
    private val gc0 = Jvm.gcMs
    private val alloc0 = Jvm.allocBytes
    Wire.reset()

    def finish(reports: Int, okReports: Int, sinkBytes: Long, fanoutS: Double, reportS: Double,
        spark: Map[String, PhaseCounters], extra: Map[String, Double]): Map[String, Double] = {
      val c1 = Seq(s.tokenCalls.get, s.generateCalls.get, s.downloadCalls.get, s.retriedCalls.get,
        s.bytesServed.get, s.generateNs.get, s.downloadNs.get)
      val d = c1.zip(c0).map { case (a, b) => (a - b).toDouble }
      val calls = d(0) + d(1) + d(2)
      // client-side timing where the benchmark owns the ReportSource;
      // EtlMain builds its own client, so there the stub's view is used
      val (gMs, dMs, wireS) =
        if (Wire.generateCalls.get > 0)
          (Wire.generateNs.get / 1e6 / Wire.generateCalls.get, Wire.downloadNs.get / 1e6 / math.max(1L, Wire.downloadCalls.get),
            (Wire.generateNs.get + Wire.downloadNs.get) / 1e9)
        else (d(5) / 1e6 / math.max(1.0, d(1)), d(6) / 1e6 / math.max(1.0, d(2)), (d(5) + d(6)) / 1e9)
      val phases = Seq("fanout", "monitoring", "analytics").flatMap { ph =>
        val c = spark.getOrElse(ph, new PhaseCounters)
        Seq(s"spark.$ph.jobs" -> c.jobs.toDouble, s"spark.$ph.stages" -> c.stages.toDouble,
          s"spark.$ph.tasks" -> c.tasks.toDouble, s"spark.$ph.shuffle_bytes" -> c.shuffleBytes.toDouble,
          s"spark.$ph.cpu_ms" -> c.cpuNs / 1e6)
      }
      Map(
        "ingest.token_calls" -> d(0), "ingest.generate_calls" -> d(1), "ingest.download_calls" -> d(2),
        "ingest.retried_calls" -> d(3), "ingest.useful_ratio" -> (if (calls > 0) okReports / calls else 0.0),
        "ingest.bytes" -> d(4), "ingest.generate_ms" -> gMs, "ingest.download_ms" -> dMs,
        "run.fanout_ms" -> fanoutS * 1000,
        "run.report_self_ms" -> (reportS - wireS) * 1000 / math.max(1, reports),
        "sink.bytes_ratio" -> (if (d(4) > 0) sinkBytes / d(4) else 0.0),
        "jvm.gc_ms" -> (Jvm.gcMs - gc0).toDouble,
        "jvm.alloc_mb" -> (Jvm.allocBytes - alloc0) / 1048576.0) ++ phases ++ extra
    }
  }

  def phaseCounters(env: Env): Map[String, PhaseCounters] = env.listener match {
    case Some(l) => PlanBridge.drainListenerBus(env.spark); l.take()
    case None => Map.empty
  }

  /** The monitoring appends `EtlMain.run` makes after the fan-out. */
  def appendMonitoring(env: Env, out: Path, result: Orchestrator.RunResult): Double = {
    val spark = env.spark
    import spark.implicits._
    val t0 = System.nanoTime()
    group(spark, "monitoring") {
      Monitoring.appendReportRuns(result.reports.toDS(), out.resolve("report_monitoring").toString)
      Monitoring.appendJobEvents(Seq(result.job).toDS(), out.resolve("job_monitoring").toString)
    }
    secs(t0) * 1000
  }

  /** One job of the distributed orchestrator, as `EtlMain.run` wires it:
    * config → RUNNING event → fan-out → monitoring appends. The job state is
    * read back, untimed, to check it.
    */
  def distributedJob(env: Env, j: Int, traced: Boolean, names: Seq[String], timeoutSec: Int,
      spec: FaultSpec): JobOutcome = {
    val spark = env.spark
    import spark.implicits._
    val (from, to) = dates(j)
    val out = env.dir.resolve(s"job$j")
    val csvDir = out.resolve("csv").toString
    env.stub.startJob(new FaultPlan(env.seed, from, names, spec))
    val probe = new Probe(env)
    val base = env.stub.base
    val wrap: ReportSource => ReportSource = if (traced) new TimedSource(_) else identity
    val t0 = System.nanoTime()
    // like the fault plan, fixed per job index: the distributed fan-out
    // sorts task rows (run_id included) before its round-robin split, so
    // the run id decides which partition a faulted report lands in
    val runId = new UUID(Mix.hash(FaultPlan.PlacementSeed, "run", j.toString), j.toLong).toString
    val tc = System.nanoTime()
    val templates = spans("config", j)(group(spark, "config")(Orchestrator.tasksFor(spark, "prod", runId, from, to)))
    val tasksMs = secs(tc) * 1000
    val tasks = names.zipWithIndex.map { case (n, i) =>
      val t = templates(i % templates.size)
      t.copy(report_name = n, timeout_sec = timeoutSec)
    }
    val tr = System.nanoTime()
    spans("monitoring", j)(group(spark, "monitoring") {
      Monitoring.appendJobEvents(Seq(JobRun(runId, from, to, Timestamp.from(Instant.now()), None,
        Status.Running, tasks.size, 0, 0, None)).toDS(), out.resolve("job_monitoring").toString)
    })
    val runningMs = secs(tr) * 1000
    val tf = System.nanoTime()
    val tokenUrl = env.stub.tokenUrl
    val result = spans("fanout", j)(group(spark, "fanout") {
      Orchestrator.runDistributed(spark, () => wrap(new HttpReportSource(base)),
        () => new TokenManager(() => HttpTokenFetcher.fetch(tokenUrl, Stub.ClientId, Stub.ClientSecret)),
        tasks, csvDir, from, to)
    })
    val fanoutS = secs(tf)
    val appendMs = spans("monitoring", j)(appendMonitoring(env, out, result))
    val jobS = secs(t0)
    val stateProblems = group(spark, "check") {
      val latest = Monitoring.latestJobState(Monitoring.reportMonitoring(spark, out.resolve("job_monitoring").toString))
        .collect()
      Option.when(!latest.exists(r => r.getAs[String]("run_id") == runId &&
        r.getAs[String]("status") == result.job.status))(s"latest job state lacks terminal ${result.job.status}").toSeq
    }

    val (ok, hard, problems, sinkBytes) = checkReports(env, csvDir, from, to, result.reports, names)
    val reportMs = result.reports.map(r => millis(r.start_time, r.end_time))
    val layer = if (!traced) Map.empty[String, Double] else {
      val (files, bytes) = storeSize(out)
      probe.finish(names.size, ok, sinkBytes, fanoutS, reportMs.sum / 1000, phaseCounters(env),
        Map("run.tasks_ms" -> tasksMs, "run.monitoring_append_ms" -> (runningMs + appendMs),
          "run.monitoring_files" -> files, "run.monitoring_bytes" -> bytes))
    }
    deleteTree(out)
    JobOutcome(jobS, fanoutS, names.size, ok, hard, reportMs, problems ++ stateProblems, layer)
  }

}

/** `EtlMain.run` itself, driver mode, `--source http`, over the 8 seeded
  * reports × 10k rows, on a monitoring store that already holds
  * `PastJobs` past jobs, each as the append files `EtlMain.run` leaves.
  */
final class Nightly extends Workload("etl_nightly") {
  import Harness._

  val minJobs = 4
  val Rows = 10000
  val PastJobs = 167

  override def reports: Seq[(String, Int)] =
    graft.config.ConfigTables.seedReports.filter(_.env == "prod").map(_.report_name).map(_ -> Rows)

  private def store(env: Env) = env.dir.resolve("etl")

  /** Past jobs in the layout `EtlMain.run` leaves: per job one file per
    * job event (RUNNING, then terminal) and one per slice of its report
    * rows, which a local `toDS` splits over min(cores, reports) slices.
    * The history is the same for every seed: it is written once per build
    * into the cache and copied per set-up.
    */
  override def prepare(env: Env): Unit = {
    val slices = math.min(env.spark.sparkContext.defaultParallelism, reports.size)
    val template = env.cache.resolve(s"history-$PastJobs-$slices")
    if (!Files.isDirectory(template)) {
      val t0 = System.nanoTime()
      val tmp = env.cache.resolve(s"history-$PastJobs-$slices.tmp")
      deleteTree(tmp)
      writeHistory(env, tmp, slices)
      Files.move(tmp, template, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      System.err.println(f"perfbench: history of $PastJobs jobs written in ${secs(t0)}%.3f s")
    }
    copyTree(template, store(env))
  }

  private def writeHistory(env: Env, dir: Path, slices: Int): Unit = {
    val spark = env.spark
    val names = reports.map(_._1)
    val rnd = new java.util.SplittableRandom(Mix.hash(0L, "history"))
    val end = BaseDate.atStartOfDay(java.time.ZoneOffset.UTC).toInstant
    val jobs = (0 until PastJobs).map { p =>
      val start = end.minusSeconds(90L * 86400 * (PastJobs - p) / PastJobs + rnd.nextInt(3600))
      val runId = new UUID(Mix.hash(0L, "run", p.toString), p.toLong).toString
      val from = LocalDate.ofInstant(start, java.time.ZoneOffset.UTC)
      val runs = names.map { n =>
        val failed = rnd.nextInt(40) == 0
        val s = Timestamp.from(start.plusMillis(rnd.nextInt(500).toLong))
        ReportRun(runId, n, from.toString, from.plusDays(1).toString, s,
          new Timestamp(s.getTime + 20 + rnd.nextInt(200)),
          if (failed) Status.Failed else Status.Success, if (failed) 0 else Rows,
          if (failed) Some("retry exhausted after 3 attempts: HTTP 503") else None)
      }
      val ok = runs.count(_.status == Status.Success)
      val events = Seq(
        JobRun(runId, from.toString, from.plusDays(1).toString, Timestamp.from(start), None,
          Status.Running, names.size, 0, 0, None),
        JobRun(runId, from.toString, from.plusDays(1).toString, Timestamp.from(start),
          Some(Timestamp.from(start.plusSeconds(2))), Status.derive(ok, names.size - ok),
          names.size, ok, names.size - ok, None))
      (events, runs)
    }
    // one write per directory, a task per file: parallelize cuts slice k
    // of n at k * size / n, so every job's rows split as its own would
    group(spark, "history") {
      spark.createDataset(spark.sparkContext.parallelize(jobs.flatMap(_._1), 2 * PastJobs))(Encoders.product[JobRun])
        .write.parquet(dir.resolve("job_monitoring").toString)
      spark.createDataset(spark.sparkContext.parallelize(jobs.flatMap(_._2), slices * PastJobs))(
        Encoders.product[ReportRun]).write.parquet(dir.resolve("report_monitoring").toString)
    }
  }

  /** Two jobs on the seeded store: the measured jobs keep speeding up
    * over the first few (JIT).
    */
  override def beforeJobs(env: Env): Unit = {
    Seq(-2, -1).foreach(j => etl(env, store(env), j))
    deleteTree(store(env).resolve("csv"))
  }

  private def etl(env: Env, out: Path, j: Int): (Int, Lines) = {
    val (from, to) = dates(j)
    val args = EtlMain.Args(from, to, "prod", out.toString, "driver", "http", Some(env.stub.base))
    val secrets = BenchSecrets + (Secrets.TokenUrlKey -> env.stub.tokenUrl)
    group(env.spark, PhaseListener.ByCallSite)(quietly(EtlMain.run(env.spark, args, () => secrets)))
  }

  override def job(env: Env, j: Int, traced: Boolean): JobOutcome = {
    val spark = env.spark
    val out = store(env)
    val names = reports.map(_._1)
    val (from, to) = dates(j)
    val before = listing(out.resolve("report_monitoring")).keySet ++ listing(out.resolve("job_monitoring")).keySet
    env.stub.startJob(new FaultPlan(env.seed, from, names, FaultSpec()))
    val probe = new Probe(env)
    val t0 = System.nanoTime()
    val (code, lines) = spans("etl_main.run", j)(etl(env, out, j))
    val log = lines.text
    val jobS = secs(t0)
    val layerSpark = phaseCounters(env)

    // read back only what this job appended
    def added(sub: String) = listing(out.resolve(sub)).keySet.diff(before).toSeq.sorted
    val (runs, events) = group(spark, "check") {
      (spark.read.schema(Encoders.product[ReportRun].schema).parquet(added("report_monitoring"): _*)
        .as(Encoders.product[ReportRun]).collect().toSeq,
        spark.read.schema(Encoders.product[JobRun].schema).parquet(added("job_monitoring"): _*)
          .as(Encoders.product[JobRun]).collect().toSeq)
    }
    val csvDir = out.resolve("csv").toString
    val (ok, hard, problems, sinkBytes) = checkReports(env, csvDir, from, to, runs, names)
    val jobProblems = Seq(
      Option.when(code != 0)(s"EtlMain.run returned $code"),
      Option.when(!events.exists(e => e.status == Status.Running))("no RUNNING job event"),
      Option.when(!events.exists(e => e.status != Status.Running && e.end_time.isDefined &&
        e.success_count + e.failed_count == names.size))("no terminal job event"),
      Option.when(!log.contains(s"(${runs.count(_.status == Status.Success)}/${names.size} ok)"))(
        "EtlMain's summary line disagrees with its report rows")).flatten
    val reportMs = runs.map(r => millis(r.start_time, r.end_time))
    val extractS = if (runs.isEmpty) 0.0
      else millis(runs.map(_.start_time).minBy(micros), runs.map(_.end_time).maxBy(micros)) / 1000

    val layer = if (!traced) Map.empty[String, Double] else {
      val (files, bytes) = storeSize(out)
      probe.finish(names.size, ok, sinkBytes, extractS, reportMs.sum / 1000, layerSpark,
        steps(lines, extractS) ++ Map("run.monitoring_files" -> files, "run.monitoring_bytes" -> bytes))
    }
    deleteTree(Paths.get(csvDir))
    JobOutcome(jobS, extractS, names.size, ok, hard, reportMs, problems ++ jobProblems, layer)
  }

  /** Wall time of the steps inside `EtlMain.run`, from the headers it
    * prints before each: `tasksFor` (from "Running from" to "N reports to
    * process"), the latest-wins view and B1–B4 (each `.show` up to the
    * next header, B4 up to the closing "Job …" line), and the monitoring
    * layer: from `tasksFor`'s return to the first analytics header — the
    * RUNNING append, the final appends and opening the store — less the
    * fan-out, from the first report's start to the last one's end.
    */
  private def steps(lines: Lines, fanoutS: Double): Map[String, Double] = {
    val marks = Seq[(String, String => Boolean)](
      "start" -> (_.startsWith("Running from")), "tasks" -> (_.endsWith(" reports to process")),
      "latest" -> (_.startsWith("— job state")), "b1" -> (_.startsWith("— B1")), "b2" -> (_.startsWith("— B2")),
      "b3" -> (_.startsWith("— B3")), "b4" -> (_.startsWith("— B4")), "end" -> (_.startsWith("Job ")))
      .map { case (k, p) => k -> lines.at(p) }.toMap
    def ms(a: String, b: String): Double = (marks(a), marks(b)) match {
      case (Some(x), Some(y)) => (y - x) / 1e6
      case _ => System.err.println(s"perfbench: EtlMain printed no '$a' or '$b' header"); 0.0
    }
    Map("run.tasks_ms" -> ms("start", "tasks"),
      "run.monitoring_append_ms" -> math.max(0.0, ms("tasks", "latest") - fanoutS * 1000),
      "analytics.latest_ms" -> ms("latest", "b1"), "analytics.b1_ms" -> ms("b1", "b2"),
      "analytics.b2_ms" -> ms("b2", "b3"), "analytics.b3_ms" -> ms("b3", "b4"), "analytics.b4_ms" -> ms("b4", "end"))
  }
}

/** `runDistributed` on 1,000 reports × 2k rows at 100 reports per
  * partition, the production retry schedule (1 s base), seeded per-call
  * latency at the stub, one 503, one 429 and one stall per job, and a 1 s
  * task timeout so a stall costs seconds.
  */
final class Fanout extends Workload("etl_fanout") {
  val minJobs = 1
  val Reports = 1000
  val Rows = 2000
  val TimeoutSec = 1
  val Spec = FaultSpec(generate503 = 1, download429 = 1, stalls = 1,
    stallMs = TimeoutSec * 1000L + 500, latencyMinMs = 20, latencyMaxMs = 30)
  private val templates = graft.config.ConfigTables.seedReports.filter(_.env == "prod").map(_.report_name).sorted

  def names: Seq[String] = (0 until Reports).map(i => f"${templates(i % templates.size)}_$i%04d")
  override def reports: Seq[(String, Int)] = names.map(_ -> Rows)
  /** A job of 40 reports. */
  override def beforeJobs(env: Env): Unit =
    Harness.distributedJob(env, -7, traced = false, names.take(40), TimeoutSec, FaultSpec())
  override def job(env: Env, j: Int, traced: Boolean): JobOutcome =
    Harness.distributedJob(env, j, traced, names, TimeoutSec, Spec)
}
