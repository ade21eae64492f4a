package graft.server

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.Executors

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, struct, to_json}

import graft.engine.Browser
import graft.query.{CubeQuery, QueryParser}
import graft.registry.CubeRegistry

/** Thin HTTP JSON facade over the cube engine — the Spark-native stand-in
  * for the reference's slicer blueprint mount (/root/reference/
  * olap_server.py:3,11) with the endpoint surface documented in
  * /root/reference/HOWTO.md:
  *
  *   GET /info                        → workspace metadata blob
  *                                                        (slicer.ini:11 info_file)
  *   GET /cubes                       → cube list         (HOWTO.md:31-33)
  *   GET /cube/<c>/model              → cube model        (HOWTO.md:69-71)
  *   GET /cube/<c>/aggregate?cut&drilldown&order&page&pagesize&after&format=csv
  *                                    → {summary, cells, total_cell_count}
  *                                      (format=csv: the cells as CSV, the
  *                                      summary row without a drilldown)
  *                                                        (HOWTO.md:44-91)
  *   GET /cube/<c>/aggregate?drilldown&share=<agg>
  *                                    → {cells, cell_count} with
  *                                      <agg>_pct share-of-total per cell
  *   GET /cube/<c>/facts?cut&order&page&pagesize&fields&format=csv
  *                                    → row list          (HOWTO.md:35-42,93-104;
  *                                      fields/format are cubes-server params)
  *   GET /cube/<c>/fact/<id>          → single fact by factKey (cubes server
  *                                      surface; SURVEY §1.3)
  *   GET /cube/<c>/members/<dim>      → distinct values   (HOWTO.md:5 → cubes docs)
  *
  * Every aggregate body (JSON, CSV, `share=`) is one path: frame-cached
  * [[Browser.rolledFrame]] → share column → [[Browser.pageOf]] → render;
  * only the rendering looks at whether there is a drilldown.
  *
  * The JDK's built-in HttpServer keeps the facade dependency-free; all data
  * work stays in Spark (`toJSON` / `to_json`), nothing is post-processed on
  * the driver beyond string assembly. `recordLimit` mirrors the reference's
  * `json_record_limit: 500` (slicer.ini:6): pagesize is capped, and an
  * unpaginated facts listing is truncated to the limit.
  */
final class GraftServer(val registry: CubeRegistry, port: Int = 0,
    recordLimit: Int = 500) {

  private val server = HttpServer.create(new InetSocketAddress(port), 0)
  // kept so stop() can end its (non-daemon) workers: HttpServer.stop
  // does not, and they would keep the JVM from exiting
  private val pool = Executors.newFixedThreadPool(4)
  server.setExecutor(pool)
  server.createContext("/", (ex: HttpExchange) => handle(ex))

  def start(): Unit = server.start()
  def stop(): Unit = {
    server.stop(0)
    pool.shutdown()
  }
  def boundPort: Int = server.getAddress.getPort

  // ---- response cache ---------------------------------------------------

  /** LRU response cache for successful GETs. Every endpoint is a pure
    * function of (request URI, registry snapshot), so a 200 response can
    * be replayed byte-identically until the registry changes — entries
    * are stamped with the generation of the snapshot their body was
    * computed from, and every registry publish bumps it, so a reload makes
    * them unreachable without any coordinated flush. The serving win is
    * the point at scale: the repeat aggregate page costs a map lookup
    * instead of a Spark job. Access-ordered LinkedHashMap, capped —
    * ~500-cell JSON bodies are ≤100 KB, so the cache is bounded at tens of
    * MB of heap.
    */
  private val ResponseCacheCap = 512
  private val respCache =
    new java.util.LinkedHashMap[String, (Long, String, String)](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, (Long, String, String)]): Boolean =
        size() > ResponseCacheCap
    }

  private def cached(key: String, gen: Long): Option[(String, String)] =
    respCache.synchronized {
      Option(respCache.get(key)).collect {
        case (g, body, ct) if g == gen => (body, ct)
      }
    }

  private def cachePut(key: String, gen: Long, body: String, ct: String): Unit =
    // gen < 0 = the nocache hatch: don't populate either
    if (gen >= 0) respCache.synchronized(respCache.put(key, (gen, body, ct))): Unit

  // ---- drilldown frame cache --------------------------------------------

  /** LRU cache of collected [[Browser.rolledFrame]]s keyed by
    * (generation, cube, cuts, drilldown): page N+1 of the same drilldown
    * — any page=, pagesize=, order=, after= — pages the cells already on
    * the driver instead of re-running the scan + aggregation, so deep
    * dashboard paging costs a sort+limit over a LocalRelation. Response
    * bytes are unchanged (the per-page work runs on exactly the frame the
    * uncached path builds). Entries are driver-heap rows: at most
    * `FrameCacheCap` entries holding at most `Browser.ShareCollectCap`
    * cells in total (plus one summary row each) — least-recently-used
    * entries are evicted past either bound, and a persisted (past-the-cap)
    * frame is never admitted: its request's CacheScope drain releases it.
    * Entries of an older registry generation are unreachable and age
    * out. `nocache=1` (`gen` < 0) bypasses this cache too (the
    * compute-path hatch).
    */
  private val FrameCacheCap = 16
  private val frameCache =
    new java.util.LinkedHashMap[String, Browser.RolledFrame](16, 0.75f, true)

  private def rolledFor(b: Browser, gen: Long, q: CubeQuery): Browser.RolledFrame =
    if (gen < 0) b.rolledFrame(q)
    else {
      val key = s"$gen|${b.model.name}|${q.cuts}|${q.drilldown}"
      frameCache.synchronized(Option(frameCache.get(key))).getOrElse {
        // built OUTSIDE the lock: concurrent first-pagers may race the
        // same aggregation (the last one's frame stays) — never a Spark
        // job under the cache lock
        val rf = b.rolledFrame(q)
        if (rf.totalCellCount <= Browser.ShareCollectCap) frameCache.synchronized {
          frameCache.put(key, rf)
          var cells = frameCache.values().stream().mapToLong(_.totalCellCount).sum()
          val lru = frameCache.values().iterator()
          while (frameCache.size > FrameCacheCap || cells > Browser.ShareCollectCap) {
            cells -= lru.next().totalCellCount
            lru.remove()
          }
        }
        rf
      }
    }

  // ---- routing ----------------------------------------------------------

  private def handle(ex: HttpExchange): Unit =
    try {
      // CORS parity with the reference server (olap_server.py:7-8 applies
      // flask-cors globally): every response — success, error, and the
      // OPTIONS preflight — carries Access-Control-Allow-Origin, so a
      // browser-hosted frontend (the YAML configs' treemap consumer) can
      // call the API cross-origin. Set here once: all exits below
      // (respond / the catch arms) share this exchange.
      ex.getResponseHeaders.set("Access-Control-Allow-Origin", "*")
      if (ex.getRequestMethod.equalsIgnoreCase("OPTIONS")) {
        ex.getResponseHeaders.set("Access-Control-Allow-Methods", "GET, OPTIONS")
        ex.getResponseHeaders.set("Access-Control-Allow-Headers", "Content-Type")
        ex.sendResponseHeaders(204, -1)
        return
      }
      // the request's one registry read: the cache stamps and every cube
      // lookup below come from this snapshot, whatever a reload publishes
      // meanwhile
      val snap = registry.snapshot
      val key = ex.getRequestURI.toString
      val params = queryParams(ex)
      // nocache=1: bypass AND don't populate — the debugging/benchmark
      // hatch for measuring the compute path on a warm server
      val noCache = params.get("nocache").contains("1")
      if (!noCache) cached(key, snap.generation) match {
        case Some((body, ct)) => respond(ex, 200, body, ct); return
        case None =>
      }
      // both caches key on the snapshot's generation; -1 reads and fills neither
      val gen = if (noCache) -1L else snap.generation
      val path = ex.getRequestURI.getPath.split('/').toSeq.filter(_.nonEmpty)
      // facts AND aggregate support the cubes `format=csv` rendering
      if (path.length == 3 && path(0) == "cube" &&
          (path(2) == "facts" || path(2) == "aggregate") &&
          params.get("format").contains("csv")) {
        val b = snap.browser(path(1))
        val csv = if (path(2) == "facts") factsCsv(b, params) else aggregateCsv(b, gen, params)
        cachePut(key, gen, csv, "text/csv; charset=utf-8")
        respond(ex, 200, csv, "text/csv; charset=utf-8")
        return
      }
      val body = path match {
        case Seq("info") => snap.infoJson
        case Seq("cubes") => snap.listJson
        case Seq("cube", c, "model") => snap.browser(c).model.toJson
        case Seq("cube", c, "aggregate") => aggregateJson(snap.browser(c), gen, params)
        case Seq("cube", c, "facts") => factsJson(snap.browser(c), params)
        // fact ids may themselves contain '/' (DOIs): everything after
        // /fact/ is the id
        case Seq("cube", c, "fact", idParts @ _*) if idParts.nonEmpty =>
          factJson(snap.browser(c), idParts.mkString("/"))
        case Seq("cube", c, "members", dim) => membersJson(snap.browser(c), dim, params)
        case _ => throw new NoSuchElementException(s"no such endpoint: ${ex.getRequestURI.getPath}")
      }
      cachePut(key, gen, body, "application/json; charset=utf-8")
      respond(ex, 200, body)
    } catch {
      case e: NoSuchElementException => respond(ex, 404, errJson(e))
      case e: IllegalArgumentException => respond(ex, 400, errJson(e))
      case e: Exception => respond(ex, 500, errJson(e))
    } finally {
      // Per-REQUEST cache scope: a request is handled synchronously on one
      // executor thread, and CacheScope.drain() releases only the CALLING
      // thread's tracked frames — so this drains exactly what this request
      // registered (a past-the-cap aggregate's persisted rollup), never
      // frames a concurrent request on another pool thread is still
      // computing over.
      graft.engine.CacheScope.drain()
      ex.close()
    }

  private def errJson(e: Exception): String =
    s"""{"error":${jstr(Option(e.getMessage).getOrElse(e.getClass.getSimpleName))}}"""

  private def jstr(s: String): String = graft.util.Json.str(s)

  private def respond(ex: HttpExchange, code: Int, body: String,
      contentType: String = "application/json; charset=utf-8"): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", contentType)
    ex.sendResponseHeaders(code, bytes.length)
    ex.getResponseBody.write(bytes)
  }

  private def queryParams(ex: HttpExchange): Map[String, String] =
    Option(ex.getRequestURI.getRawQuery).getOrElse("").split('&').toSeq
      .filter(_.nonEmpty).map { kv =>
        val i = kv.indexOf('=')
        val (k, v) = if (i < 0) (kv, "") else (kv.take(i), kv.drop(i + 1))
        java.net.URLDecoder.decode(k, "UTF-8") ->
          java.net.URLDecoder.decode(v, "UTF-8")
      }.toMap

  // ---- endpoints --------------------------------------------------------

  /** Cap the client's pagesize at the record limit (slicer.ini:6 parity). */
  private def parseQuery(params: Map[String, String]) = {
    val q = QueryParser.parse(params)
    q.copy(page = q.page.map(p =>
      p.copy(pagesize = math.min(p.pagesize, recordLimit))))
  }

  /** The page behind every `/aggregate` body: the frame-cached
    * [[Browser.rolledFrame]] (an atomic snapshot of summary, cells and
    * total), `<agg>_pct` cells for `share=<agg>`, paged.
    */
  private def aggregatePage(b: Browser, gen: Long, params: Map[String, String])
      : (CubeQuery, Option[String], Browser.AggregateResponse) = {
    val q = parseQuery(params)
    val share = params.get("share").filter(_.nonEmpty)
    share.foreach(requireShareable(b, q, _))
    val rf = rolledFor(b, gen, q)
    (q, share, b.pageOf(share.fold(rf)(a => b.withShare(rf, a, s"${a}_pct")), q))
  }

  /** `{summary, cells, total_cell_count}` (HOWTO.md:44-91); with no
    * drilldown the summary IS the result (HOWTO.md:51-55), one cell.
    *
    * `share=<aggregate>` (extension; the treemap frontend's
    * `total_percentage` relates_to semantics, YAML_STATIC_PART_APC:23-27,
    * served engine-side): `{cells, cell_count}`, each cell carrying
    * `<aggregate>_pct`; cell_count counts the cells in THIS response (the
    * page, when paginated), not the unpaged total.
    */
  private def aggregateJson(b: Browser, gen: Long, params: Map[String, String]): String = {
    val (q, share, r) = aggregatePage(b, gen, params)
    val cells = jsonRows(r.cells)
    if (share.nonEmpty)
      s"""{"cells":[${cells.mkString(",")}],"cell_count":${cells.length}}"""
    else {
      val total = if (q.drilldown.isEmpty) 1L else r.totalCellCount
      s"""{"summary":${jsonRows(r.summary).head},"cells":[${cells.mkString(",")}],""" +
        s""""total_cell_count":$total}"""
    }
  }

  /** `Dataset.toJSON`'s objects (its Jackson generator, via `to_json`) as
    * a projection, which Catalyst folds into an unsorted collected frame
    * (the summary row): no Spark job.
    */
  private def jsonRows(d: DataFrame): Array[String] =
    d.select(to_json(struct(col("*")))).collect().map(_.getString(0))

  /** The three `share=` guards, checked before any Spark work. */
  private def requireShareable(b: Browser, q: CubeQuery, aggName: String): Unit = {
    if (q.drilldown.isEmpty) throw new IllegalArgumentException(
      "share= needs a drilldown (a grand total has no cells to share)")
    if (b.model.aggregate(aggName).isEmpty) throw new IllegalArgumentException(
      s"unknown aggregate '$aggName' for share=")
    if (q.after.nonEmpty) throw new IllegalArgumentException(
      "after= is not supported with share= (share cells page by offset)")
  }

  /** `GET /cube/<c>/fact/<id>`: single fact by factKey (comma-separated
    * parts for composite keys); 404 when absent.
    */
  private def factJson(b: Browser, id: String): String =
    b.fact(id).toJSON.collect().headOption.getOrElse(
      throw new NoSuchElementException(s"no fact '$id' in cube '${b.model.name}'"))

  private def factsJson(b: Browser, params: Map[String, String]): String = {
    val q = parseQuery(params)
    val rows = q.page match {
      case Some(_) => b.facts(q).toJSON.collect()
      // unpaginated listing: truncate at the record limit like the
      // reference server, over the stable factKey order
      case None => b.facts(q.copy(page = Some(graft.query.Page(0, recordLimit))))
        .toJSON.collect()
    }
    rows.mkString("[", ",", "]")
  }

  /** `GET /cube/<c>/facts?format=csv` (cubes server alternative rendering):
    * header row + RFC-4180-quoted values over the same stable listing the
    * JSON form serves. Bounded by the record limit, so the driver-side
    * string assembly stays small.
    */
  private def factsCsv(b: Browser, params: Map[String, String]): String = {
    val q = parseQuery(params)
    val frame = b.facts(q.page match {
      case Some(_) => q
      case None => q.copy(page = Some(graft.query.Page(0, recordLimit)))
    })
    csvRender(frame.columns, frame.collect())
  }

  /** `GET /cube/<c>/aggregate?format=csv` (cubes server alternative
    * rendering): the drilldown cells — or the single summary row when
    * there is no drilldown — as CSV over the same ordered, paginated
    * listing the JSON form serves. Cells are bounded by the drilldown's
    * group count (and the pagesize cap when paginated), so the
    * driver-side string assembly stays small.
    */
  private def aggregateCsv(b: Browser, gen: Long, params: Map[String, String]): String = {
    val (q, _, r) = aggregatePage(b, gen, params)
    val rows = if (q.drilldown.isEmpty) r.summary else r.cells
    csvRender(rows.columns, rows.collect())
  }

  private def csvRender(columns: Seq[String], rows: Array[Row]): String = {
    def cell(v: Any): String = v match {
      case null => ""
      case s =>
        val t = s.toString
        if (t.exists(c => c == ',' || c == '"' || c == '\n' || c == '\r'))
          "\"" + t.replace("\"", "\"\"") + "\""
        else t
    }
    val header = columns.map(cell).mkString(",")
    val body = rows.map(r =>
      (0 until r.length).map(i => cell(r.get(i))).mkString(","))
    (header +: body).mkString("\r\n")
  }

  private def membersJson(b: Browser, dim: String, params: Map[String, String]): String = {
    val q = parseQuery(params)
    val vals = b.members(dim, q.cuts, q.page, q.after).toJSON.collect()
    s"""{"dimension":${jstr(dim)},"values":[${vals.mkString(",")}]}"""
  }
}
