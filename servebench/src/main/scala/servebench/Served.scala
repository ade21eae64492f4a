package servebench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.BenchBus
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{OpenApcMain, TestCubes}
import graft.etl.{Assets, CubeBuilder, ManifestEntry}
import graft.query.{Page, QueryParser}
import graft.registry.CubeRegistry
import graft.server.GraftServer

/** The two served workloads: a live `GraftServer` driven over HTTP. */
object Served {

  /** A request not answered within this many seconds counts as failed. */
  val OpTimeoutSec = 30
  /** Latency limits for `slo_frac` (ms), above the p95 measured on a quiet
    * 4-core host (~1.9 s for `agg_compute`), so the share drops when the
    * tail degrades.
    */
  val AggSloMs = 2500.0
  val DashSloMs = 1000.0
  /** Closed-loop clients of `agg_compute`: one, so a request's latency is
    * its own plan and jobs, not the queue behind other requests' jobs
    * (with `nproc` clients the median moved 30% between runs of the same
    * mix on a 4-core host).
    */
  val AggClients = 1
  /** Set-up is repeated this many times per run; `setup_s` is the median. */
  val SetupReps = 3

  // ---- agg_compute --------------------------------------------------------

  def aggCompute(run: Run): Result = {
    val o = run.o
    val data = run.dir("data").toString
    val rows = Tables.lineitemRows(o.seed, Tables.Sizes())
    val keys = (0 until 500).map(i => rows(i * 97 % rows.size))
      .map(r => (r.getLong(0), r.getInt(3)))
    val reqs = Mix.aggCompute(o.seed, 5000, keys)
    // plan shapes compiled once, before the timed phase (not set-up: a
    // long-running server pays this once per process, not per deploy)
    val warm = Mix.aggCompute(o.seed + 1, Mix.AggBlock, keys)
    val summaryUri = Req("lineitem", "aggregate", Seq("nocache" -> "1")).uri

    val spark = run.session("server")
    Tables.write(spark, data, o.seed, Seq("lineitem"))
    def register(r: CubeRegistry): Unit =
      r.register(TestCubes.lineitemModel, TestCubes.lineitemDf(spark, data), cache = true)
    // set-up: register the cached cube, start the server, answer the first
    // request (which materializes the cube's cache)
    var server: GraftServer = null
    val setups = (1 to SetupReps).map { _ =>
      if (server != null) { server.stop(); server.registry.unregisterAll() }
      val t0 = System.nanoTime()
      val registry = new CubeRegistry
      register(registry)
      server = new GraftServer(registry)
      server.start()
      new Load(server.boundPort, OpTimeoutSec).get(summaryUri)
      (System.nanoTime() - t0) / 1e9
    }
    val load = new Load(server.boundPort, OpTimeoutSec)
    load.closedLoop(warm, run.nproc, 0.0, new Recorder)
    run.log("setup and warm-up done")

    run.markFirstTimedOp()
    run.timedStart()
    run.telemetry.markStorage()
    val rec = new Recorder
    val wall = load.closedLoop(reqs, AggClients, o.seconds, rec, Mix.AggBlock)
    val storage = run.telemetry.meanHeldMb()
    val persisted = spark.sparkContext.getPersistentRDDs.size
    run.timedEnd()

    run.log(s"closed loop done: ${rec.all.size} answers")
    val samples = rec.all
    val lat = samples.filter(_.status == 200).map(_.latencyMs)
    val untracedP50 = Stats.median(lat)
    val layers =
      if (!o.trace) Map.empty[String, Double]
      else traced(run, spark, server.registry, load, reqs, o.seconds) ++ Map(
        "client.untraced_p50_ms" -> untracedP50,
        "engine.persisted_rdds" -> persisted.toDouble,
        "registry.register_s" -> timeS(register(new CubeRegistry)))

    val schema = server.registry.browser("lineitem").df.schema
    val oracle = new OracleSql(TestCubes.lineitemModel, schema, "lineitem")
    val tables = Map("lineitem" ->
      (s"SELECT *, CAST(year(l_shipdate) AS INTEGER) AS l_shipyear " +
        s"FROM read_parquet('$data/lineitem.parquet/*.parquet')"))
    Result(
      e2e = Map("setup_s" -> Stats.median(setups), "p50_ms" -> untracedP50,
        "p95_ms" -> Stats.pct(lat, 0.95), "p75_ms" -> Stats.pct(lat, 0.75),
        "p90_ms" -> Stats.pct(lat, 0.9),
        "cycle_s" -> wall / math.max(1, samples.size / Mix.AggBlock),
        "storage_mb" -> storage, "slo_limit_ms" -> AggSloMs,
        "samples" -> lat.size.toDouble),
      layers = layers,
      attempted = samples.size, errors = samples.count(_.status != 200),
      checks = checks(rec, reqs, (req, _) => Seq(oracle.spec(req))),
      tables = tables, groups = groups(samples, AggSloMs), wallSec = wall)
  }

  // ---- dashboard_reload ---------------------------------------------------

  /** Open-loop arrival rate (req/s) and the reload points (fractions of the
    * run) at which the writer starts a rebuild-plus-reload cycle.
    */
  val DashRate = 6.0
  val ReloadAt: Seq[Double] = Seq(0.2)

  def dashboardReload(run: Run): Result = {
    val o = run.o
    val csv = (0 to ReloadAt.size).map(v =>
      Corpus.write(run.dir(s"csv-v$v"), o.seed, v).toString)

    var spark: SparkSession = null
    var server: GraftServer = null
    var outDir: Path = null
    val setups = (1 to SetupReps).map { rep =>
      if (server != null) { server.stop(); spark.stop() }
      val t0 = System.nanoTime()
      spark = run.session("server")
      outDir = run.dir(s"setup-$rep")
      run.log(s"setup $rep: launch")
      server = OpenApcMain.launch(spark, csv(0), outDir.toString)
      run.log(s"setup $rep: warm-up")
      val load = new Load(server.boundPort, OpTimeoutSec)
      load.get(Req("openapc", "aggregate", Seq("nocache" -> "1")).uri)
      (System.nanoTime() - t0) / 1e9
    }
    run.log("setup done")
    val registry = server.registry
    val load = new Load(server.boundPort, OpTimeoutSec)

    // cube name → (institution, type); static cubes map to their own type
    val manifest = readManifest(spark, s"$outDir/cubes/institutional_cubes.csv")
    val staticType = Map("openapc" -> "apc", "combined" -> "apc", "openapc_ac" -> "apc_ac",
      "bpc" -> "bpc", "deal" -> "deal", "transformative_agreements" -> "ta")
    val ranked = (Seq("openapc", "combined").map(c => c -> staticType(c)) ++
      manifest.sortBy(_.cubeName).map(e => e.cubeName -> e.cubeType) ++
      Seq("deal", "bpc", "openapc_ac", "transformative_agreements").map(c => c -> staticType(c)))
      .toIndexedSeq
    val dois = registry.browser("openapc").df.select("doi")
      .where("doi != 'NA'").orderBy("doi").limit(300).collect().map(_.getString(0)).toIndexedSeq
    val reqs = Mix.dashboard(o.seed, (DashRate * o.seconds * 1.5).toInt + 10, ranked, dois)
    val schedule = {
      val r = new java.util.SplittableRandom(o.seed ^ 0x5eedL)
      Iterator.iterate(0.0)(t => t - math.log(1.0 - r.nextDouble()) * 1000.0 / DashRate)
        .drop(1).takeWhile(_ < o.seconds * 1000.0).zipWithIndex.toIndexedSeq
    }

    // the writer: rebuild version v through the production ETL, then reload
    val versionDir = scala.collection.mutable.Map(0 -> s"$outDir/cubes")
    @volatile var committed = 0
    @volatile var inflight = 0
    val windows = java.util.Collections.synchronizedList(new java.util.ArrayList[(Double, Double)]())
    val cycleTimes = java.util.Collections.synchronizedList(new java.util.ArrayList[Double]())
    val etl = java.util.Collections.synchronizedList(new java.util.ArrayList[(String, Double)]())
    val writtenMb = new java.util.concurrent.atomic.AtomicReference[Double](0.0)
    def cycle(v: Int, t0: Long): Unit = {
      val id = s"reload-$v"
      val cubesDir = run.dir(s"v$v").resolve("cubes").toString
      val start = System.nanoTime()
      def step[T](name: String)(f: => T): T = {
        val s = System.nanoTime()
        try run.spans(id, name)(f) finally etl.add(name -> (System.nanoTime() - s) / 1e9)
      }
      run.log(s"reload $v: start")
      val inputs = step("etl.read")(CubeBuilder.readInputs(spark, csv(v)))
      val outputs = step("etl.build") {
        val out = CubeBuilder.build(inputs)
        require(out.unknownInstitutions.collect().isEmpty, "strict mode: unknown institutions")
        out
      }
      step("etl.write")(CubeBuilder.writeCubes(outputs, cubesDir,
        partitionCols = OpenApcMain.servedPartitionCols, sortedCols = OpenApcMain.servedSortedCols))
      val entries = step("etl.assets") {
        val m = Assets.manifestEntries(outputs.institutionalManifest)
        Assets.writeModelJson(m, run.dir(s"v$v").toString)
        Assets.writeYamls(m, Assets.institutionInfo(inputs.institutions),
          run.dir(s"v$v").resolve("yamls").toString)
        m
      }
      writtenMb.set(dirBytes(java.nio.file.Paths.get(cubesDir)) / 1e6)
      versionDir.synchronized(versionDir(v) = cubesDir)
      inflight = v
      step("registry.reload")(OpenApcMain.reload(spark, registry, cubesDir, entries))
      committed = v
      run.log(s"reload $v: done")
      val end = System.nanoTime()
      cycleTimes.add((end - start) / 1e9)
      windows.add(((start - t0) / 1e6, (end - t0) / 1e6))
    }

    run.markFirstTimedOp()
    run.timedStart()
    run.telemetry.markStorage()
    val rec = new Recorder
    val t0 = System.nanoTime()
    val writer = new Thread(() => ReloadAt.zipWithIndex.foreach { case (at, i) =>
      val due = t0 + (at * o.seconds * 1e9).toLong
      while (System.nanoTime() < due) Thread.sleep(5)
      try cycle(i + 1, t0)
      catch { case e: Throwable => run.log(s"reload failed: $e"); inflight = committed }
    }, "servebench-writer")
    writer.setDaemon(true)
    writer.start()
    val wall = load.openLoop(schedule.map { case (due, k) => (due, k) }, reqs, run.nproc, rec,
      () => (committed, inflight))
    run.log(s"open loop done: ${rec.all.size} answers")
    writer.join(OpTimeoutSec * 3000L)
    run.log("writer done")
    val storage = run.telemetry.meanHeldMb()
    val persisted = spark.sparkContext.getPersistentRDDs.size
    run.timedEnd()

    val samples = rec.all
    val ok = samples.filter(_.status == 200)
    val lat = ok.map(_.latencyMs)
    val win = windows.asScala.toSeq
    val inWindow = ok.filter(s => win.exists { case (a, b) => s.dueMs >= a && s.dueMs <= b })
    val untracedP50 = Stats.median(lat)
    val finalDir = versionDir(committed)
    val layers =
      if (!o.trace) Map.empty[String, Double]
      else {
        val entries = manifest.map(e => ManifestEntry(e.institution, e.cubeName, "", e.cubeType, 0))
        traced(run, spark, registry, load, reqs, o.seconds) ++ Map(
          "client.untraced_p50_ms" -> untracedP50,
          "client.late_ms_p95" -> Stats.pct(samples.map(_.lateMs), 0.95),
          "client.sent_rps" -> samples.size / (schedule.last._1 / 1000.0),
          "server.reload_p95_ms" -> Stats.pct(inWindow.map(_.latencyMs), 0.95),
          "engine.persisted_rdds" -> persisted.toDouble,
          "etl.written_mb" -> writtenMb.get(),
          "registry.register_s" -> timeS(OpenApcMain.registerAll(spark, new CubeRegistry,
            finalDir, entries, cache = false))) ++
          etl.asScala.groupBy(_._1).map { case (k, xs) =>
            (if (k == "registry.reload") "registry.reload_s" else s"${k}_s") ->
              Stats.median(xs.map(_._2).toSeq) }
      }

    // DuckDB relations per data version; institutional cubes are filters
    val parentOf = Map("apc" -> "openapc", "apc_ac" -> "openapc_ac", "bpc" -> "bpc",
      "ta" -> "transformative_agreements", "deal" -> "deal")
    val inst = manifest.map(e => e.cubeName -> e).toMap
    val tables = versionDir.toMap.flatMap { case (v, d) =>
      graft.etl.OpenApcModels.staticModels.map { m =>
        val hive = if (OpenApcMain.servedPartitionCols.contains(m.name))
          ", hive_partitioning = true, hive_types = {'period': VARCHAR}" else ""
        s"v${v}_${m.name}" -> s"SELECT * FROM read_parquet('$d/${m.name}.parquet/**/*.parquet'$hive)"
      }
    }
    def relation(cube: String, v: Int): String = inst.get(cube) match {
      case Some(e) => s"(SELECT * FROM v${v}_${parentOf(e.cubeType)} " +
        s"WHERE institution = '${e.institution.replace("'", "''")}')"
      case None => s"v${v}_$cube"
    }
    val specs = (req: Req, s: Sample) => (s.versionLo to s.versionHi).map { v =>
      val b = registry.browser(req.cube)
      new OracleSql(b.model, b.df.schema, relation(req.cube, v)).spec(req)
    }
    Result(
      e2e = Map("setup_s" -> Stats.median(setups), "p50_ms" -> untracedP50,
        "p95_ms" -> Stats.pct(lat, 0.95), "p75_ms" -> Stats.pct(lat, 0.75),
        "p90_ms" -> Stats.pct(lat, 0.9),
        "cycle_s" -> (if (cycleTimes.isEmpty) -1.0 else Stats.median(cycleTimes.asScala.toSeq)),
        "storage_mb" -> storage, "slo_limit_ms" -> DashSloMs, "samples" -> lat.size.toDouble),
      layers = layers,
      attempted = samples.size, errors = samples.count(_.status != 200),
      checks = checks(rec, reqs, specs), tables = tables,
      groups = groups(samples, DashSloMs), wallSec = wall)
  }

  final case class Inst(institution: String, cubeName: String, cubeType: String)

  private def readManifest(spark: SparkSession, path: String): Seq[Inst] =
    spark.read.option("header", true).csv(path).collect().toSeq.map(r =>
      Inst(r.getAs[String]("institution"), r.getAs[String]("cube_name"),
        r.getAs[String]("cube_type")))

  private def dirBytes(p: Path): Long =
    Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum

  private def timeS(f: => Unit): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }

  // ---- shared: answers to check, per-answer counts -----------------------

  /** One check per distinct (request, body) answer. */
  private def checks(rec: Recorder, reqs: IndexedSeq[Req],
      specs: (Req, Sample) => Seq[java.util.Map[String, Any]]): Seq[java.util.Map[String, Any]] = {
    // every response with this answer must match one of the versions
    // that could have served any of them
    rec.all.filter(_.status == 200).groupBy(s => (s.req, s.bodyHash)).toSeq.sortBy(_._1)
      .map { case ((i, h), ss) =>
        val m = new java.util.LinkedHashMap[String, Any]()
        m.put("req", i); m.put("hash", h); m.put("uri", reqs(i).uri)
        m.put("body", rec.bodies.get((i, h)))
        val span = ss.head.copy(versionLo = ss.map(_.versionLo).min,
          versionHi = ss.map(_.versionHi).max)
        m.put("alts", java.util.Arrays.asList(specs(reqs(i), span): _*))
        m
      }
  }

  /** Per distinct answer (or error status): how many responses, and how
    * many within the latency limit.
    */
  private def groups(samples: Seq[Sample], limitMs: Double): Seq[java.util.Map[String, Any]] =
    samples.groupBy(s => (s.req, s.status, if (s.status == 200) s.bodyHash else 0)).toSeq
      .sortBy(_._1).map { case ((i, st, h), ss) =>
        val m = new java.util.LinkedHashMap[String, Any]()
        m.put("req", i); m.put("status", st); m.put("hash", h)
        m.put("n", ss.size); m.put("within", ss.count(_.latencyMs <= limitMs))
        m
      }

  // ---- traced run ------------------------------------------------------------

  /** Concurrency-1 traced pass over `reqs` for `seconds`: each request is
    * sent to the live server (span `server.http`, whose jobs the listener
    * attributes by time window), then replayed in process through the
    * public functions of each layer the handler calls, each in its own
    * span: query.parse, registry.lookup, engine.build (the Browser call
    * that returns the frame), engine.analyze/optimize/plan (forcing the
    * query-execution phases) and engine.exec (toJSON.collect).
    */
  private def traced(run: Run, spark: SparkSession, registry: CubeRegistry, load: Load,
      reqs: IndexedSeq[Req], seconds: Double): Map[String, Double] = {
    val sc = spark.sparkContext
    val spans = run.spans
    val windows = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Long)]
    val stop = System.nanoTime() + (seconds * 1e9).toLong
    var k = 0
    while (System.nanoTime() < stop) {
      val req = reqs(k % reqs.size)
      val id = s"req-$k"
      val w0 = System.currentTimeMillis()
      spans(id, "server.http")(load.get(req.uri))
      val w1 = System.currentTimeMillis()
      windows += ((id, w0, w1))
      sc.setJobGroup(id, "servebench mirror", interruptOnCancel = false)
      try spans(id, "mirror")(mirror(spans, id, registry, req))
      catch { case _: Exception => () }
      finally { sc.clearJobGroup(); graft.engine.CacheScope.drain() }
      k += 1
    }
    BenchBus.drain(sc)
    val tel = run.telemetry
    val per = windows.map { case (_, a, b) => tel.inWindow(a, b) }
    val all = spans.all
    def sumMs(name: String) = all.filter(_.name == name).map(_.ms).sum
    val n = math.max(1, windows.size).toDouble
    val http = all.filter(_.name == "server.http")
    val mirrorMs = all.filter(_.name == "mirror").map(s => s.request -> s.ms).toMap
    val self = http.zip(per).map { case (h, t) =>
      if (t.jobs == 0) h.ms else h.ms - mirrorMs.getOrElse(h.request, 0.0) }
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    Map(
      "query.parse_ms" -> sumMs("query.parse") / n,
      "registry.lookup_ms" -> sumMs("registry.lookup") / n,
      "engine.build_ms" -> sumMs("engine.build") / n,
      "engine.analyze_ms" -> sumMs("engine.analyze") / n,
      "engine.optimize_ms" -> sumMs("engine.optimize") / n,
      "engine.plan_ms" -> sumMs("engine.plan") / n,
      "engine.exec_ms" -> sumMs("engine.exec") / n,
      "engine.jobs_per_req" -> mean(per.map(_.jobs.toDouble).toSeq),
      "engine.stages_per_req" -> mean(per.map(_.stages.toDouble).toSeq),
      "engine.tasks_per_req" -> mean(per.map(_.tasks.toDouble).toSeq),
      "engine.job_ms_per_req" -> mean(per.map(_.jobMs.toDouble).toSeq),
      "engine.exec_run_ms_per_req" -> mean(per.map(_.runMs.toDouble).toSeq),
      "engine.exec_cpu_ms_per_req" -> mean(per.map(_.cpuMs).toSeq),
      "engine.shuffle_bytes_per_req" -> mean(per.map(_.shuffleBytes.toDouble).toSeq),
      "server.http_ms" -> mean(http.map(_.ms)),
      "server.self_ms" -> mean(self),
      "server.zero_job_frac" -> per.count(_.jobs == 0) / n,
      "client.traced_p50_ms" -> Stats.median(http.map(_.ms)))
  }

  /** What GraftServer's handler does for `req`, layer by layer. */
  private def mirror(spans: Spans, id: String, registry: CubeRegistry, req: Req): Unit = {
    val q = spans(id, "query.parse")(QueryParser.parse(req.params.toMap))
    val b = spans(id, "registry.lookup")(registry.browser(req.cube))
    val share = req.param("share").filter(_.nonEmpty)
    val (frames, release) = spans(id, "engine.build") {
      req.endpoint match {
        case "aggregate" if share.nonEmpty =>
          (Seq(b.aggregateWithShare(q, share.get, share.get + "_pct")), () => ())
        case "aggregate" if q.drilldown.isEmpty => (Seq(b.summary(q)), () => ())
        case "aggregate" =>
          val rf = b.rolledFrame(q)
          val r = b.pageOf(rf, q)
          (Seq(r.summary, r.cells), rf.release)
        case "facts" => (Seq(b.facts(q.copy(page = q.page.orElse(Some(Page(0, 500)))))), () => ())
        case "fact" => (Seq(b.fact(req.arg)), () => ())
        case "members" => (Seq(b.members(req.arg, q.cuts, q.page, q.after)), () => ())
      }
    }
    try frames.foreach { (df: DataFrame) =>
      spans(id, "engine.analyze")(df.queryExecution.analyzed)
      spans(id, "engine.optimize")(df.queryExecution.optimizedPlan)
      spans(id, "engine.plan")(df.queryExecution.executedPlan)
      spans(id, "engine.exec")(df.toJSON.collect())
    } finally release()
  }
}
