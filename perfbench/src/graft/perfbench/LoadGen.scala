package graft.perfbench

import java.net.{HttpURLConnection, URL}
import java.nio.charset.StandardCharsets
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** One HTTP request of the mix. `route` is the metric family it
  * belongs to (block, tx, logs, stats, bad); `key` is the height and
  * tx index a point lookup names, for the oracle. */
final case class Req(route: String, method: String, path: String, body: String = "",
                     key: Option[(Long, Int)] = None)

/** One answered (or failed) request. Times are epoch nanoseconds:
  * `due` is when the open-loop schedule wanted it sent. */
final case class Sample(route: String, dueNs: Long, sendNs: Long, endNs: Long,
                        code: Int, ok: Boolean) {
  def latencyMs: Double = (endNs - dueNs) / 1e6
  def lateMs: Double = (sendNs - dueNs) / 1e6
}

/** Open-loop HTTP load: request `i` is due at `start + i / rate`, sent
  * by one of `clients` threads (one keep-alive connection each) and
  * timed from its due time to its full response, so a stall also
  * counts against the requests queued behind it. Every answer goes
  * through `check` (the oracle); a failed check, a 5xx or a transport
  * error is a failure. The client threads' CPU time (sending, parsing
  * and checking) is counted in `cpuNs`, so that it can be left out of
  * the server's. */
final class LoadGen(baseUrl: String, clients: Int, trace: Trace) {
  private val mapper = new ObjectMapper()
  val inflightMax = new AtomicInteger()
  private val inflight = new AtomicInteger()
  private val ids = new AtomicLong()
  private val cpu = new AtomicLong()
  def cpuNs: Long = cpu.get()

  def run(rate: Double, seconds: Double, next: Long => Req,
          check: (Req, Int, JsonNode, Long, Long) => Boolean): Seq[Sample] = {
    val out = new ConcurrentLinkedQueue[Sample]()
    val start = trace.nowNs + 20000000L
    val end = start + (seconds * 1e9).toLong
    val intervalNs = 1e9 / rate
    val counter = new AtomicLong()
    val threads = (0 until clients).map { c =>
      val t = new Thread(() => {
        var i = counter.getAndIncrement()
        var due = start + (i * intervalNs).toLong
        while (due < end) {
          val wait = due - trace.nowNs
          if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
          out.add(send(next(i), due, check))
          i = counter.getAndIncrement()
          due = start + (i * intervalNs).toLong
        }
      }, s"loadgen-$c")
      t.start(); t
    }
    threads.foreach(_.join())
    out.asScala.toSeq
  }

  /** Closed loop on the calling thread: request `i` is sent as soon as
    * request `i - 1` has answered, until `seconds` have passed. A
    * request is due when it is sent, so its latency is its service
    * time. */
  def closed(seconds: Double, next: Long => Req,
             check: (Req, Int, JsonNode, Long, Long) => Boolean): Seq[Sample] = {
    val end = trace.nowNs + (seconds * 1e9).toLong
    Iterator.from(0).map(_.toLong).takeWhile(_ => trace.nowNs < end)
      .map(i => send(next(i), trace.nowNs, check)).toVector
  }

  /** Send one request now and check its answer. */
  def send(req: Req, dueNs: Long, check: (Req, Int, JsonNode, Long, Long) => Boolean): Sample = {
    val c0 = Main.threadCpuNs()
    try sendChecked(req, dueNs, check) finally cpu.addAndGet(Main.threadCpuNs() - c0)
  }

  private def sendChecked(req: Req, dueNs: Long, check: (Req, Int, JsonNode, Long, Long) => Boolean): Sample = {
    val n = inflight.incrementAndGet()
    inflightMax.accumulateAndGet(n, math.max)
    val sendNs = trace.nowNs
    val (code, body) =
      try call(req)
      catch { case _: java.io.IOException => (-1, null) }
      finally inflight.decrementAndGet()
    val endNs = trace.nowNs
    val id = s"req-${ids.incrementAndGet()}"
    trace.add(Span("loadgen.queue", "loadgen", Trace.threadKey, id, dueNs, sendNs))
    trace.add(Span("http." + req.route, "loadgen", Trace.threadKey, id, dueNs, endNs))
    val ok = code > 0 && code < 500 &&
      (try check(req, code, body, sendNs, endNs) catch { case _: Exception => false })
    trace.count(s"api.status.${if (code > 0) code.toString else "error"}")
    if (!ok) System.err.println(s"[perfbench] wrong answer: ${req.method} ${req.path} ${req.body} -> $code $body")
    Sample(req.route, dueNs, sendNs, endNs, code, ok)
  }

  private def call(req: Req): (Int, JsonNode) = {
    val c = new URL(baseUrl + req.path).openConnection().asInstanceOf[HttpURLConnection]
    c.setConnectTimeout(5000)
    c.setReadTimeout(30000)
    c.setRequestMethod(req.method)
    if (req.method == "POST") {
      c.setDoOutput(true)
      c.setRequestProperty("Content-Type", "application/json")
      val o = c.getOutputStream
      try o.write(req.body.getBytes(StandardCharsets.UTF_8)) finally o.close()
    }
    val code = c.getResponseCode
    val in = if (code >= 400) c.getErrorStream else c.getInputStream
    val bytes = if (in == null) Array.emptyByteArray else try in.readAllBytes() finally in.close()
    (code, if (bytes.isEmpty) null else mapper.readTree(bytes))
  }
}

object LoadGen {
  /** Nearest-rank percentile; failed samples count as infinitely slow. */
  def pct(s: Seq[Sample], p: Double): Double = Stats.pct(s.map(x => if (x.ok) x.latencyMs else Double.PositiveInfinity), p)
}

object Stats {
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(p * s.size).toInt - 1)))
    }
  def median(xs: Seq[Double]): Double = pct(xs, 0.5)
}
