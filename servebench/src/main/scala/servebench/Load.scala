package servebench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.Duration
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, Executors, ThreadFactory, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

/** One answered (or failed) request. Times are ms; `lateMs` is how late
  * the open-loop generator sent it (0 in a closed loop). `versions` is the
  * range of data versions the answer may legally come from.
  */
final case class Sample(req: Int, status: Int, latencyMs: Double, lateMs: Double,
    bodyHash: Int, dueMs: Double, versionLo: Int, versionHi: Int)

/** Samples plus one exemplar body per distinct (request, body) pair: the
  * correctness check looks at every distinct answer, not every response.
  */
final class Recorder {
  val samples = new ConcurrentLinkedQueue[Sample]()
  val bodies = new ConcurrentHashMap[(Int, Int), String]()
  def add(s: Sample, body: String): Unit = {
    samples.add(s)
    if (s.status == 200) bodies.putIfAbsent((s.req, s.bodyHash), body)
  }
  def all: IndexedSeq[Sample] = samples.asScala.toIndexedSeq
}

/** HTTP load from one process, with at most `clients` threads. A request
  * that does not answer within `timeoutSec` is a failure (status -1), so a
  * stuck server shows as failed operations, not as a hung benchmark.
  */
final class Load(port: Int, timeoutSec: Int) {

  private val client = HttpClient.newBuilder()
    .version(HttpClient.Version.HTTP_1_1)
    .connectTimeout(Duration.ofSeconds(timeoutSec.toLong)).build()

  /** (status, body); status -1 on timeout or I/O error. */
  def get(uri: String): (Int, String) =
    try {
      val req = HttpRequest.newBuilder(URI.create(s"http://localhost:$port$uri"))
        .timeout(Duration.ofSeconds(timeoutSec.toLong)).GET().build()
      val res = client.send(req, HttpResponse.BodyHandlers.ofString())
      (res.statusCode(), res.body())
    } catch { case e: Exception => (-1, e.toString) }

  private def daemons(n: Int) = Executors.newFixedThreadPool(n, new ThreadFactory {
    private val k = new AtomicInteger()
    def newThread(r: Runnable): Thread = {
      val t = new Thread(r, s"servebench-client-${k.incrementAndGet()}")
      t.setDaemon(true)
      t
    }
  })

  /** Closed loop: `clients` callers, each sends its next request when the
    * previous one answered, walking `reqs` in order, for `seconds` and
    * then to the end of the current block of `block` requests (with
    * `seconds` = 0: each request once). Returns the wall seconds until the
    * last answer.
    */
  def closedLoop(reqs: IndexedSeq[Req], clients: Int, seconds: Double,
      rec: Recorder, block: Int = 1): Double = {
    val pool = daemons(clients)
    val next = new AtomicInteger()
    val t0 = System.nanoTime()
    val stop = t0 + (seconds * 1e9).toLong
    val limit = new java.util.concurrent.atomic.AtomicInteger(
      if (seconds > 0) Int.MaxValue else reqs.size)
    (1 to clients).foreach(_ => pool.submit(new Runnable {
      def run(): Unit = {
        var k = next.getAndIncrement()
        while ({
          if (System.nanoTime() >= stop)
            limit.compareAndSet(Int.MaxValue, (k + block - 1) / block * block)
          k < limit.get()
        }) {
          val i = k % reqs.size
          val s = System.nanoTime()
          val (status, body) = get(reqs(i).uri)
          val ms = (System.nanoTime() - s) / 1e6
          rec.add(Sample(i, status, ms, 0.0, body.hashCode, (s - t0) / 1e6, 0, 0), body)
          k = next.getAndIncrement()
        }
      }
    }))
    pool.shutdown()
    pool.awaitTermination((seconds + 2 * timeoutSec + 5).toLong, TimeUnit.SECONDS)
    pool.shutdownNow()
    (System.nanoTime() - t0) / 1e9
  }

  /** Open loop: request k is due at `dueMs(k)` after the start, whether or
    * not earlier ones answered; latency counts from the due time, so a
    * stall also charges the requests queued behind it. `version()` gives
    * the (lo, hi) data versions that may serve a request at that instant.
    */
  def openLoop(schedule: IndexedSeq[(Double, Int)], reqs: IndexedSeq[Req],
      clients: Int, rec: Recorder, version: () => (Int, Int)): Double = {
    val pool = daemons(clients)
    val t0 = System.nanoTime()
    schedule.foreach { case (dueMs, i) =>
      val due = t0 + (dueMs * 1e6).toLong
      var wait = due - System.nanoTime()
      while (wait > 0) { java.util.concurrent.locks.LockSupport.parkNanos(wait); wait = due - System.nanoTime() }
      pool.submit(new Runnable {
        def run(): Unit = {
          val s = System.nanoTime()
          val (lo, _) = version()
          val (status, body) = get(reqs(i).uri)
          val end = System.nanoTime()
          val (_, hi) = version()
          rec.add(Sample(i, status, (end - due) / 1e6, (s - due) / 1e6, body.hashCode,
            dueMs, lo, hi), body)
        }
      })
    }
    pool.shutdown()
    pool.awaitTermination((2 * timeoutSec + 5).toLong, TimeUnit.SECONDS)
    pool.shutdownNow()
    (System.nanoTime() - t0) / 1e9
  }
}

object Stats {
  /** Harrell–Davis estimate of quantile p (in [0, 1]): a Beta-weighted
    * average of all order statistics. With a run's 20 requests (or six
    * queries) of different templates, the nearest-rank median jumps
    * between the costs of the two templates next to it; this estimate
    * moves smoothly.
    */
  def pct(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    val n = s.size
    if (n < 2) s.headOption.getOrElse(0.0)
    else {
      val (a, b) = (p * (n + 1), (1 - p) * (n + 1))
      s.indices.map(i => (betaI(a, b, (i + 1.0) / n) - betaI(a, b, i.toDouble / n)) * s(i)).sum
    }
  }

  def median(xs: Seq[Double]): Double = pct(xs, 0.5)

  /** Regularized incomplete beta I_x(a, b) (continued fraction, Lentz). */
  private def betaI(a: Double, b: Double, x: Double): Double =
    if (x <= 0) 0.0 else if (x >= 1) 1.0 else {
      val front = math.exp(lnGamma(a + b) - lnGamma(a) - lnGamma(b) +
        a * math.log(x) + b * math.log(1 - x))
      if (x < (a + 1) / (a + b + 2)) front * betaCf(a, b, x) / a
      else 1 - front * betaCf(b, a, 1 - x) / b
    }

  private def betaCf(a: Double, b: Double, x: Double): Double = {
    def tiny(v: Double) = if (math.abs(v) < 1e-300) 1e-300 else v
    var c = 1.0
    var d = 1 / tiny(1 - (a + b) * x / (a + 1))
    var h = d
    var m = 1
    var done = false
    while (m <= 300 && !done) {
      val even = m * (b - m) * x / ((a - 1 + 2 * m) * (a + 2 * m))
      d = 1 / tiny(1 + even * d); c = tiny(1 + even / c); h *= d * c
      val odd = -(a + m) * (a + b + m) * x / ((a + 2 * m) * (a + 1 + 2 * m))
      d = 1 / tiny(1 + odd * d); c = tiny(1 + odd / c)
      val delta = d * c
      h *= delta
      done = math.abs(delta - 1) < 3e-14
      m += 1
    }
    h
  }

  /** ln Γ(x) for x > 0 (Lanczos). */
  private def lnGamma(x: Double): Double = {
    val cof = Array(76.18009172947146, -86.50532032941677, 24.01409824083091,
      -1.231739572450155, 0.1208650973866179e-2, -0.5395239384953e-5)
    var ser = 1.000000000190015
    var y = x
    cof.foreach { c => y += 1; ser += c / y }
    val t = x + 5.5
    -(t - (x + 0.5) * math.log(t)) + math.log(2.5066282746310005 * ser / x)
  }
}
