package perfbench

import java.net.{InetSocketAddress, URLDecoder}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{ConcurrentHashMap, Executors, ThreadFactory, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import com.fasterxml.jackson.databind.ObjectMapper
import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** One CSV export as the stub serves it: the exact bytes and the number of
  * data records a quote-aware reader (Python's `csv`, `pandas.read_csv`)
  * finds in them.
  */
final case class Payload(bytes: Array[Byte], records: Int)

object Payload {

  private val Queues = Array("billing", "support", "sales", "retention", "onboarding", "vip", "overflow")
  private val Words = Array("customer", "asked", "about", "refund", "agent", "escalated", "to", "tier",
    "callback", "requested", "line", "dropped", "invoice", "plan", "upgrade", "said", "ok", "thanks")

  /** RFC 4180 CSV (CRLF record ends, header row). A `call_details`-style
    * report adds a free-text `notes` column whose quoted values carry
    * commas, doubled quotes and, on a seeded few records, an embedded line
    * break — as real call-detail exports do.
    */
  def csv(seed: Long, report: String, rows: Int, freeText: Boolean): Payload = {
    val rnd = new java.util.SplittableRandom(Mix.hash(seed, report, "payload"))
    val sb = new java.lang.StringBuilder(rows * (if (freeText) 90 else 40))
    sb.append("interaction_id,date,queue,agent_id,calls,answered,abandoned,avg_wait_sec")
    if (freeText) sb.append(",notes")
    sb.append("\r\n")
    // about one record in a thousand, and at least one, has a line break
    // inside its quoted notes
    val breakEvery = math.max(1, math.min(rows, 1000))
    val breakAt = rnd.nextInt(breakEvery)
    var i = 0
    while (i < rows) {
      val calls = 1 + rnd.nextInt(400)
      val answered = calls - rnd.nextInt(math.min(calls, 20) + 1)
      sb.append(i).append(",2024-02-").append(10 + rnd.nextInt(19)).append(',')
        .append(Queues(rnd.nextInt(Queues.length))).append(",a").append(100 + rnd.nextInt(900)).append(',')
        .append(calls).append(',').append(answered).append(',').append(calls - answered).append(',')
        .append(rnd.nextInt(600)).append('.').append(rnd.nextInt(10))
      if (freeText) {
        sb.append(",\"")
        val n = 2 + rnd.nextInt(6)
        var w = 0
        while (w < n) {
          if (w > 0) sb.append(if (rnd.nextInt(4) == 0) ", " else " ")
          sb.append(Words(rnd.nextInt(Words.length)))
          w += 1
        }
        if (rnd.nextInt(5) == 0) sb.append(", quote \"\"ok\"\"")
        if (i % breakEvery == breakAt) sb.append("\nfollow-up, next day")
        sb.append('"')
      }
      sb.append("\r\n")
      i += 1
    }
    Payload(sb.toString.getBytes(UTF_8), rows)
  }
}

/** Seeded 64-bit hashing: every choice the stub makes (payload content,
  * latency, faults) is a pure function of the seed and the call's identity,
  * never of thread timing.
  */
object Mix {
  def mix64(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def hash(seed: Long, parts: String*): Long =
    parts.foldLeft(mix64(seed))((h, p) => mix64(h ^ p.hashCode.toLong * 0x100000001B3L))
}

/** What the stub does to one call: answer after `delayMs`, with `status`
  * (a stall is a 200 that arrives after the caller has timed out).
  */
final case class Fault(status: Int, delayMs: Long)

/** The fault plan for one job: which (report, endpoint, attempt) fail and
  * how, and the latency of every other call. Fixed counts per job; which
  * reports they hit is a hashed ranking of (report, endpoint) under the
  * job's key and a fixed placement seed, so job j meets the same faults
  * whatever the run's seed: where a fault lands in the distributed
  * fan-out moves the job's time by seconds, and the seed should vary the
  * inputs, not that. Latency is hashed under the run's seed. Every fault
  * clears by the report's second attempt.
  */
final case class FaultSpec(generate503: Int = 0, download429: Int = 0,
    stalls: Int = 0, stallMs: Long = 0, latencyMinMs: Int = 0, latencyMaxMs: Int = 0)

final class FaultPlan(seed: Long, job: String, reports: Seq[String], spec: FaultSpec) {
  private def pick(endpoint: String, n: Int, skip: Set[String]): Seq[String] =
    reports.filterNot(skip).sortBy(r => Mix.hash(FaultPlan.PlacementSeed, job, r, endpoint)).take(n)

  private val plan: Map[(String, String, Int), Fault] = {
    val stalled = pick("stall", spec.stalls, Set.empty)
    val gen503 = pick("generate", spec.generate503, stalled.toSet)
    val dl429 = pick("download", spec.download429, Set.empty)
    (stalled.map(r => (r, "generate", 1) -> Fault(200, spec.stallMs)) ++
      gen503.map(r => (r, "generate", 1) -> Fault(503, 0)) ++
      dl429.map(r => (r, "download", 1) -> Fault(429, 0))).toMap
  }

  def apply(report: String, endpoint: String, attempt: Int): Fault =
    plan.getOrElse((report, endpoint, attempt), {
      val span = spec.latencyMaxMs - spec.latencyMinMs
      val lat = if (endpoint != "generate" || spec.latencyMaxMs <= 0) 0L
        else spec.latencyMinMs + java.lang.Math.floorMod(Mix.hash(seed, job, report, endpoint, attempt.toString), span + 1L)
      Fault(200, lat)
    })
}

object FaultPlan {
  val PlacementSeed = 20240301L
}

/** Loopback Talkdesk Explore stub speaking the wire protocol of
  * `HttpReportSource` / `HttpTokenFetcher`: form-POST token, JSON-POST
  * generate, GET download with `Accept: text/csv`.
  *
  * Handlers never sleep: a delayed answer is completed later by one
  * scheduler thread, so the handler pool (at most `threads`) never limits
  * how many calls the client has in flight. Counters are kept at the wire.
  */
final class Stub(threads: Int) {
  import Stub._

  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
  private val pool = Executors.newFixedThreadPool(threads, daemon("stub-http"))
  private val timer = Executors.newSingleThreadScheduledExecutor(daemon("stub-timer"))
  private val mapper = new ObjectMapper()

  val base: String = s"http://127.0.0.1:${server.getAddress.getPort}"
  val tokenUrl: String = base + "/oauth/token"

  val tokenCalls = new AtomicLong
  val generateCalls = new AtomicLong
  val downloadCalls = new AtomicLong
  val retriedCalls = new AtomicLong
  val bytesServed = new AtomicLong
  /** Nanoseconds from request arrival to the response being written. */
  val generateNs = new AtomicLong
  val downloadNs = new AtomicLong
  private val inflight = new AtomicInteger
  val inflightMax = new AtomicInteger

  /** Payload per report name; the same export is served on every job. */
  val payloads = new ConcurrentHashMap[String, Payload]
  @volatile private var faults: FaultPlan = new FaultPlan(0L, "", Nil, FaultSpec())
  private val attempts = new ConcurrentHashMap[String, AtomicInteger]

  /** Before each job: its fault plan, and attempts counted afresh. */
  def startJob(plan: FaultPlan): Unit = {
    attempts.clear()
    faults = plan
  }

  private def attempt(key: String): Int = {
    val n = attempts.computeIfAbsent(key, _ => new AtomicInteger).incrementAndGet()
    if (n > 1) retriedCalls.incrementAndGet()
    n
  }

  private def send(ex: HttpExchange, status: Int, body: Array[Byte], cType: String,
      t0: Long, busy: AtomicLong): Unit = {
    try {
      ex.getResponseHeaders.add("Content-Type", cType)
      ex.sendResponseHeaders(status, body.length.toLong)
      ex.getResponseBody.write(body)
    } catch { case _: java.io.IOException => () } // caller gave up on a stalled call
    finally {
      ex.close()
      busy.addAndGet(System.nanoTime() - t0)
      inflight.decrementAndGet()
    }
  }

  private def reply(ex: HttpExchange, f: Fault, ok: => Array[Byte], cType: String,
      t0: Long, busy: AtomicLong): Unit = {
    val (status, body, ct) =
      if (f.status == 200) (200, ok, cType)
      else (f.status, s"""{"error": "injected ${f.status}"}""".getBytes(UTF_8), "application/json")
    if (f.delayMs <= 0) send(ex, status, body, ct, t0, busy)
    else timer.schedule((() => send(ex, status, body, ct, t0, busy)): Runnable, f.delayMs, TimeUnit.MILLISECONDS)
  }

  private def enter(): Long = {
    val n = inflight.incrementAndGet()
    inflightMax.accumulateAndGet(n, math.max)
    System.nanoTime()
  }

  server.createContext("/oauth/token", (ex: HttpExchange) => {
    val t0 = enter()
    tokenCalls.incrementAndGet()
    val form = new String(ex.getRequestBody.readAllBytes(), UTF_8)
    val ok = form.contains(s"client_id=$ClientId") && form.contains(s"client_secret=$ClientSecret")
    if (ok) send(ex, 200, s"""{"access_token": "$Token", "expires_in": 3600}""".getBytes(UTF_8),
      "application/json", t0, new AtomicLong)
    else send(ex, 401, """{"error": "bad_client"}""".getBytes(UTF_8), "application/json", t0, new AtomicLong)
  })

  server.createContext("/reports/generate", (ex: HttpExchange) => {
    val t0 = enter()
    generateCalls.incrementAndGet()
    val body = mapper.readTree(ex.getRequestBody.readAllBytes())
    val name = body.path("report_name").asText()
    val from = body.path("from").asText()
    val to = body.path("to").asText()
    if (ex.getRequestHeaders.getFirst("Authorization") != s"Bearer $Token")
      send(ex, 401, """{"error": "unauthorized"}""".getBytes(UTF_8), "application/json", t0, generateNs)
    else {
      val f = faults(name, "generate", attempt(s"g|$name|$from|$to"))
      reply(ex, f, s"""{"report_id": "$name|$from|$to"}""".getBytes(UTF_8), "application/json", t0, generateNs)
    }
  })

  server.createContext("/reports/download", (ex: HttpExchange) => {
    val t0 = enter()
    downloadCalls.incrementAndGet()
    val q = Option(ex.getRequestURI.getRawQuery).getOrElse("")
    val id = URLDecoder.decode(q.stripPrefix("report_id="), UTF_8)
    val name = id.split('|').head
    val p = payloads.get(name)
    if (ex.getRequestHeaders.getFirst("Authorization") != s"Bearer $Token")
      send(ex, 401, """{"error": "unauthorized"}""".getBytes(UTF_8), "application/json", t0, downloadNs)
    else if (p == null)
      send(ex, 404, """{"error": "unknown report"}""".getBytes(UTF_8), "application/json", t0, downloadNs)
    else {
      val f = faults(name, "download", attempt(s"d|$id"))
      if (f.status == 200) bytesServed.addAndGet(p.bytes.length.toLong)
      reply(ex, f, p.bytes, "text/csv", t0, downloadNs)
    }
  })

  server.setExecutor(pool)
  server.start()

  def stop(): Unit = {
    server.stop(0)
    timer.shutdownNow()
    pool.shutdownNow()
    timer.awaitTermination(10, TimeUnit.SECONDS)
    pool.awaitTermination(10, TimeUnit.SECONDS)
  }
}

object Stub {
  val ClientId = "bench-client"
  val ClientSecret = "bench-secret"
  val Token = "bench-token"

  def daemon(name: String): ThreadFactory = {
    val n = new AtomicInteger
    (r: Runnable) => {
      val t = new Thread(r, s"$name-${n.incrementAndGet()}")
      t.setDaemon(true)
      t
    }
  }
}
