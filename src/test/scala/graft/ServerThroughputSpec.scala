package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import graft.registry.CubeRegistry
import graft.server.GraftServer

/** Serving-throughput artifact: requests/sec and latency percentiles for
  * the HTTP facade at the reference's record-limit page size (500 cells,
  * slicer.ini:9), published as COVERAGE.md's server-throughput block
  * ([[CoverageBlock]]) next to the recall tables.
  * ServerSpec proves a concurrent storm is CORRECT; this records how fast
  * the served path actually is, so regressions in the per-request
  * plan-build + collect cost are visible round over round.
  *
  * Two rows: UNCACHED (every request a distinct URL — the Spark compute
  * path) and CACHED (repeat URL — the response-cache replay path a
  * dashboard's polling traffic takes). The floors only catch a mechanism
  * collapsing (uncached single-digit would mean a full re-scan crept in;
  * cached must be orders faster than compute).
  */
class ServerThroughputSpec extends SparkSpec {

  private lazy val registry = {
    val r = new CubeRegistry
    r.register(TestCubes.lineitemModel, TestCubes.lineitemDf(spark, sf()))
    r
  }
  private lazy val server = { val s = new GraftServer(registry); s.start(); s }
  private lazy val client = HttpClient.newHttpClient()

  override def afterAll(): Unit = { server.stop(); super.afterAll() }

  private def get(path: String): Int = {
    val req = HttpRequest.newBuilder(
      URI.create(s"http://localhost:${server.boundPort}$path")).GET().build()
    client.send(req, HttpResponse.BodyHandlers.ofString()).statusCode()
  }

  private final case class Meas(rps: Double, p50: Double, p95: Double, p99: Double)

  /** Fire the i-th URL from `paths` round-robin at fixed concurrency;
    * returns reqs/sec + latency percentiles (ms).
    */
  private def storm(paths: IndexedSeq[String], total: Int,
      concurrency: Int): Meas = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    val pool = java.util.concurrent.Executors.newFixedThreadPool(concurrency)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val idx = new java.util.concurrent.atomic.AtomicInteger(0)
    val t0 = System.nanoTime()
    val lats = Await.result(Future.traverse(1 to concurrency) { _ =>
      Future {
        Iterator.continually(idx.getAndIncrement()).takeWhile(_ < total)
          .map { i =>
            val s = System.nanoTime()
            assert(get(paths(i % paths.size)) == 200)
            (System.nanoTime() - s) / 1e6 // ms
          }.toVector
      }
    }, 10.minutes).flatten.sorted
    val wallSec = (System.nanoTime() - t0) / 1e9
    pool.shutdown()
    def pct(p: Double): Double = lats((p * (lats.size - 1)).round.toInt)
    Meas(lats.size / wallSec, pct(0.50), pct(0.95), pct(0.99))
  }

  test("gated throughput at 500-cell aggregate pages; COVERAGE.md block refreshed") {
    // l_orderkey drilldown at sf0.001 has ~1.4k groups; pagesize ~500 is
    // the reference record limit — a full slicer-sized page per request.
    // THREE tiers: cold (nocache=1 — the full scan+aggregate per request),
    // frame-cached (distinct page URLs over ONE drilldown — response cache
    // misses, but the server reuses the collected rolled frame, so each
    // request is a sort+limit over the cells already on the driver), and
    // the response-cache replay (repeat URL).
    def cold(ps: Int) =
      s"/cube/lineitem/aggregate?drilldown=l_orderkey&page=0&pagesize=$ps&nocache=1"
    def page(ps: Int) =
      s"/cube/lineitem/aggregate?drilldown=l_orderkey&page=0&pagesize=$ps"
    (1 to 3).foreach(i => get(cold(400 + i))) // warmup: codegen + plan cache
    val coldM = storm((441 to 500).map(cold), total = 60, concurrency = 4)
    get(page(440)) // build the shared frame once
    val frameM = storm((441 to 500).map(page), total = 60, concurrency = 4)
    get(page(500)) // prime the response cache for the repeat-URL row
    val cachedM = storm(Vector(page(500)), total = 200, concurrency = 4)
    info(f"cold:    ${coldM.rps}%.1f req/s, p50 ${coldM.p50}%.0f ms, " +
      f"p95 ${coldM.p95}%.0f ms")
    info(f"frame:   ${frameM.rps}%.1f req/s, p50 ${frameM.p50}%.0f ms, " +
      f"p95 ${frameM.p95}%.0f ms")
    info(f"cached:  ${cachedM.rps}%.1f req/s, p50 ${cachedM.p50}%.2f ms, " +
      f"p95 ${cachedM.p95}%.2f ms")
    assert(coldM.rps > 1.0, f"compute path collapsed: ${coldM.rps}%.2f req/s")
    // the r12 verdict's serving target: page N+1 of a drilldown must not
    // re-run the aggregation — uncached (but frame-reusing) p95 < 500 ms
    assert(frameM.p95 < 500.0,
      f"frame-cache paging too slow: p95 ${frameM.p95}%.0f ms")
    assert(cachedM.rps > 50.0, f"cache path not serving: ${cachedM.rps}%.2f req/s")

    CoverageBlock.write("server-throughput",
      s"""Measured by ServerThroughputSpec on the live HTTP facade over the
         |sf0.001 lineitem cube, concurrency 4, after 3 warmup requests:
         |"cold" = 60 distinct 500-cell aggregate pages with nocache=1
         |(every request pays the scan + aggregation — the reference record
         |limit, slicer.ini:9); "frame-cached" = the same 60 distinct URLs
         |with the drilldown frame cache on (response-cache misses; each
         |request pages the collected rolled frame); "cached" = 200 repeats
         |of one URL (the generation-stamped response-cache replay path).
         |
         || path | requests/sec | p50 | p95 | p99 |
         ||---|---|---|---|---|""".stripMargin + "\n" +
        f"| cold (nocache=1 compute) | ${coldM.rps}%.1f | ${coldM.p50}%.0f ms | ${coldM.p95}%.0f ms | ${coldM.p99}%.0f ms |%n" +
        f"| frame-cached paging | ${frameM.rps}%.1f | ${frameM.p50}%.0f ms | ${frameM.p95}%.0f ms | ${frameM.p99}%.0f ms |%n" +
        f"| cached (replay) | ${cachedM.rps}%.0f | ${cachedM.p50}%.2f ms | ${cachedM.p95}%.2f ms | ${cachedM.p99}%.2f ms |"): Unit
  }
}
