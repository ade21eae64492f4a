package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.ObjectMapper

import graft.server.GraftServer

/** The full `update_olap.sh` parity path, end to end: OpenAPC-shaped CSV
  * directory → OpenApcMain.launch (build → strict-validate → write parquet
  * → emit model.json + YAMLs → register static + institutional cubes →
  * serve) → the 14 HOWTO.md example queries over a live socket.
  */
class OpenApcE2eSpec extends SparkSpec {

  private lazy val outDir = Files.createTempDirectory("graft-e2e").toString
  private lazy val csvDir = EtlFixture.create().toString
  private lazy val server: GraftServer =
    OpenApcMain.launch(spark, csvDir, outDir)
  private lazy val client = HttpClient.newHttpClient()
  private val mapper = new ObjectMapper()

  override def afterAll(): Unit = { server.stop(); super.afterAll() }

  private def get(path: String): (Int, String) = {
    val req = HttpRequest.newBuilder(
      URI.create(s"http://localhost:${server.boundPort}$path")).GET().build()
    val res = client.send(req, HttpResponse.BodyHandlers.ofString())
    (res.statusCode(), res.body())
  }

  private def ok(path: String): String = {
    val (code, body) = get(path)
    assert(code == 200, s"GET $path -> $code: $body")
    body
  }

  test("HOWTO q1: /cubes lists the 8 static cubes AND the institutional ones") {
    val body = ok("/cubes")
    Seq("openapc", "openapc_ac", "bpc", "transformative_agreements",
      "combined", "deal", "doi_lookup", "springer_compact_coverage",
      // institutional: bielefeld has all five types (EtlSpec manifest test)
      "bielefeld", "bielefeld_apc_ac", "bielefeld_bpc", "bielefeld_ta",
      "bielefeld_deal",
      // konstanz/mit get their own apc cubes; Wellcome (cubes_name=NA) none
      "konstanz", "mit")
      .foreach(c => assert(body.contains(s""""name":"$c""""), s"missing cube $c"))
    assert(!body.contains("wellcome"))
  }

  test("GET /info serves the instance's info.json verbatim (slicer.ini:11)") {
    val body = ok("/info")
    assert(body == Files.readString(Paths.get(csvDir, "info.json")),
      "/info must serve the workspace info_file byte-for-byte")
    // and it parses as the metadata object the treemaps frontend expects
    val node = mapper.readTree(body)
    assert(node.get("name").asText() == "fixture.olap.test")
    assert(node.get("visualizers").isArray)
  }

  test("HOWTO q2-q4: institutional facts listing paginates stably") {
    val all = ok("/cube/bielefeld/facts")
    assert(all.contains("\"Bielefeld U\""))
    val p0 = ok("/cube/bielefeld/facts?pagesize=2&page=0")
    val p1 = ok("/cube/bielefeld/facts?pagesize=2&page=1")
    val both = ok("/cube/bielefeld/facts?pagesize=4&page=0")
    assert(both == p0.dropRight(1) + "," + p1.drop(1))
  }

  test("HOWTO q5≡q10: institutional aggregate == parent cube cut to the institution") {
    val viaView = ok("/cube/bielefeld/aggregate")
    val viaCut = ok("/cube/openapc/aggregate?cut=institution:Bielefeld%20U")
    assert(viaView == viaCut)
    // 3 Bielefeld APC rows, 1000.5 + 800 + 900 euro (EtlFixture)
    assert(viaView.contains("\"apc_num_items\":3"))
    assert(viaView.contains("\"apc_amount_sum\":2700.5"))
  }

  test("HOWTO q6-q8: drilldowns, aggregate ordering, multi-dim drilldown") {
    val drill = ok("/cube/bielefeld/aggregate?drilldown=publisher")
    val cells = mapper.readTree(drill).get("cells")
    assert(cells.size() == 3) // EMBO, Wiley-Blackwell, Elsevier BV
    val ordered = ok(
      "/cube/bielefeld/aggregate?drilldown=publisher&order=apc_amount_sum:desc")
    val first = mapper.readTree(ordered).get("cells").get(0)
    assert(first.get("publisher").asText() == "EMBO") // 1000.5 is the max
    val multi = ok(
      "/cube/bielefeld/aggregate?drilldown=publisher%7Cjournal_full_title")
    assert(mapper.readTree(multi).get("cells").size() == 3) // 1 journal each
  }

  test("HOWTO q9: institutional model lists dimensions incl. institution_ror") {
    val body = ok("/cube/bielefeld/model")
    val model = mapper.readTree(body)
    assert(model.get("label").asText() == "Bielefeld University openAPC data cube")
    val dims = (0 until model.get("dimensions").size())
      .map(model.get("dimensions").get(_).get("name").asText())
    assert(dims.contains("institution_ror") && dims.contains("period"))
  }

  test("HOWTO q11: range cut on period (the one rangeable dim)") {
    val body = ok("/cube/openapc/aggregate?cut=period:2019~2020")
    // fixture apc rows in [2019, 2020]: abc1, abc2, abc3, paper4, abc6
    assert(mapper.readTree(body).get("summary").get("apc_num_items").asInt() == 5)
  }

  test("HOWTO q12: drilldown + cut composed on the full data set") {
    val body = ok("/cube/openapc/aggregate?drilldown=institution&cut=country:DEU")
    val cells = mapper.readTree(body).get("cells")
    val insts = (0 until cells.size()).map(cells.get(_).get("institution").asText())
    assert(insts.sorted == Seq("Bielefeld U", "Konstanz U"))
  }

  test("HOWTO q13: the full combination — 2-dim drilldown, 2 cuts, order, page") {
    val body = ok("/cube/combined/aggregate?drilldown=publisher%7Cinstitution" +
      "&cut=country:DEU%7Cis_hybrid:FALSE&order=apc_num_items&pagesize=500&page=0")
    val tree = mapper.readTree(body)
    assert(tree.get("cells").size() == tree.get("total_cell_count").asInt())
    assert(tree.get("summary").get("apc_num_items").asInt() > 0)
  }

  test("HOWTO q14: DOI lookup via doi_lookup facts cut, with back-link url") {
    val hit = ok("/cube/doi_lookup/facts?cut=doi:10.99/book1")
    assert(hit.contains(
      "https://olap.openapc.net/cube/bpc/facts?cut=doi:10.99/book1"))
    assert(ok("/cube/doi_lookup/facts?cut=doi:10.9999/absent") == "[]")
  }

  test("fact/<id> resolves a DOI directly on the openapc cube") {
    val body = ok("/cube/openapc/fact/10.1002/abc1")
    assert(body.contains("\"euro\":1000.5"))
    assert(get("/cube/openapc/fact/10.9999/absent")._1 == 404)
  }

  test("model.json: parseable, institutional entries between openapc and the rest") {
    val model = mapper.readTree(Files.readString(Paths.get(outDir, "model.json")))
    assert(model.get("name").asText() == "openapc_model")
    val cubes = model.get("cubes")
    val names = (0 until cubes.size()).map(cubes.get(_).get("name").asText())
    assert(names.head == "openapc")
    assert(names.containsSlice(Seq("bielefeld", "bielefeld_apc_ac")))
    assert(names.count(_ == "openapc") == 1)
    // the AC institutional entry carries the count_distinct dedup aggregate
    val acEntry = cubes.get(names.indexOf("bielefeld_apc_ac"))
    val aggs = (0 until acEntry.get("aggregates").size()).map(acEntry.get("aggregates").get(_))
    assert(aggs.exists(a => a.get("name").asText() == "apc_num_items" &&
      a.get("function").asText() == "count_distinct"))
    // dimension catalog present with descriptions
    assert(model.get("dimensions").size() > 20)
  }

  test("yamls: one per institution, hierarchies in priority order, default first") {
    val y = Files.readString(Paths.get(outDir, "yamls", "bielefeld.yaml"))
    assert(y.contains("name: \"Bielefeld University\""))
    assert(y.contains("default: apc"))
    Seq("cube: bielefeld", "cube: bielefeld_apc_ac", "cube: bielefeld_bpc",
      "cube: bielefeld_ta", "cube: bielefeld_deal")
      .foreach(c => assert(y.contains(c), s"missing $c"))
    // priority order: apc hierarchy before deal
    assert(y.indexOf("    apc:") < y.indexOf("    deal:"))
    // konstanz is not a deal participant -> no deal hierarchy
    val k = Files.readString(Paths.get(outDir, "yamls", "konstanz.yaml"))
    assert(!k.contains("deal:"))
    // Wellcome has cubes_name=NA -> no yaml at all
    assert(!Files.exists(Paths.get(outDir, "yamls", "NA.yaml")))
  }

  test("springer_compact_coverage is served from the written parquet") {
    val body = ok("/cube/springer_compact_coverage/aggregate?drilldown=period")
    val tree = mapper.readTree(body)
    assert(tree.get("summary").get("springer_compact_articles").asInt() == 1)
    assert(tree.get("total_cell_count").asInt() == 2)
  }

  // ---- served layouts: the engine's own Layout machinery behind the
  // ---- flagship instance (round-4 wiring) --------------------------------

  /** Rows the parquet reader actually produced (post row-group pruning). */
  private def scanOutputRows(df: org.apache.spark.sql.DataFrame): Long = {
    df.collect()
    val plan = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    plan.collectLeaves().collectFirst {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.metrics("numOutputRows").value
    }.getOrElse(fail("no FileSourceScanExec in plan"))
  }

  test("served doi_lookup uses the range-sorted layout: point lookup prunes row groups") {
    val _ = server // force the launch so the cubes exist on disk
    val path = s"$outDir/cubes/doi_lookup.parquet"
    // subset schema: the full-schema read canonicalizes to the SERVED
    // cube's cached InMemoryRelation (which is itself evidence caching
    // works) — this test is about the DISK layout, so read a projection
    // the cache cannot substitute
    val df = spark.read.schema("doi STRING, url STRING").parquet(path)
    val total = df.count()
    assert(total > 1)
    val read = scanOutputRows(df.filter(
      org.apache.spark.sql.functions.col("doi") === "10.99/book1"))
    assert(read < total,
      s"DOI lookup decoded $read of $total rows — sorted layout not pruning")
    // and the lookup still resolves (same row the HTTP facts cut serves)
    assert(df.filter(org.apache.spark.sql.functions.col("doi") === "10.99/book1")
      .count() == 1)
  }

  test("served openapc members page prunes row groups via the dim-sorted layout") {
    val _ = server
    import org.apache.spark.sql.functions.col
    // subset schema dodges the served cube's cache (see doi_lookup test):
    // the member keyset predicate is on the SORT key, so parquet min/max
    // skips the files/row groups whose publisher range is below the token
    val df = spark.read.schema("publisher STRING, period STRING")
      .parquet(s"$outDir/cubes/openapc.parquet")
    val total = df.count()
    assert(total > 1)
    val publishers = df.select("publisher").distinct()
      .collect().map(_.getString(0)).sorted
    assert(publishers.length > 1, "fixture needs >1 publisher for a keyset page")
    val token = publishers(publishers.length / 2)
    val keyed = df.filter(col("publisher") > token)
    val read = scanOutputRows(keyed)
    assert(read < total,
      s"members keyset page decoded $read of $total rows — dim-sorted layout not pruning")
    // and the HTTP members page itself serves the continuation correctly
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val tok = java.net.URLEncoder.encode(token, "UTF-8")
    val t = mapper.readTree(ok(s"/cube/openapc/members/publisher?after=$tok"))
    val vals = (0 until t.get("values").size())
      .map(t.get("values").get(_).get("publisher").asText())
    assert(vals == publishers.filter(_ > token).toSeq,
      s"served members page $vals != expected strictly-after listing")
  }

  test("served openapc is period-partitioned: range cut prunes directories, schema stays string") {
    val _ = server
    // the SERVED read keeps period a string despite directory-name inference
    assert(OpenApcMain.readCube(spark, s"$outDir/cubes/openapc.parquet")
      .schema("period").dataType == org.apache.spark.sql.types.StringType)
    // subset schema dodges the served cube's cache (see doi_lookup test) —
    // partition pruning is a property of the DISK layout
    val df = spark.read.schema("doi STRING, period STRING")
      .parquet(s"$outDir/cubes/openapc.parquet")
    val b = new graft.engine.Browser(graft.etl.OpenApcModels.openapc, df)
    val q = df.filter(b.cutPredicate(
      graft.query.RangeCut("period", Some("2019"), Some("2020"))))
    q.collect()
    val plan = q.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    val scan = plan.collectLeaves().collectFirst {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.getOrElse(fail("no FileSourceScanExec in plan"))
    assert(scan.partitionFilters.nonEmpty,
      "period cut did not become a partition filter")
    assert(scan.relation.location.inputFiles.length >
      scan.metrics("numFiles").value,
      "period range cut did not prune partition directories")
    // the cut itself still answers correctly (5 rows in [2019, 2020])
    assert(q.count() == 5)
  }

  test("registered static cubes are cached: the served plan reuses InMemoryRelation") {
    val b = server.registry.browser("openapc")
    b.df.count() // materialize
    val cached = b.df.queryExecution.withCachedData.collect {
      case r: org.apache.spark.sql.execution.columnar.InMemoryRelation => r
    }
    assert(cached.nonEmpty, "served openapc frame is not cached")
    // institutional views resolve THROUGH the cached parent (no second copy)
    val view = server.registry.browser("bielefeld")
    val viewCached = view.df.queryExecution.withCachedData.collect {
      case r: org.apache.spark.sql.execution.columnar.InMemoryRelation => r
    }
    assert(viewCached.nonEmpty,
      "institutional view does not resolve through the cached parent")
  }

  test("reload hook: rebuilt cube data is served fresh, stale cache dropped") {
    import graft.etl.CubeBuilder
    val dir2 = Files.createTempDirectory("graft-reload").toString
    val outputs = CubeBuilder.build(
      CubeBuilder.readInputs(spark, EtlFixture.create().toString))
    CubeBuilder.writeCubes(outputs, s"$dir2/cubes")
    val reg = new graft.registry.CubeRegistry
    OpenApcMain.registerAll(spark, reg, s"$dir2/cubes", Nil)
    val srv = new GraftServer(reg); srv.start()
    try {
      def agg(): Int = {
        val req = HttpRequest.newBuilder(URI.create(
          s"http://localhost:${srv.boundPort}/cube/openapc/aggregate")).GET().build()
        mapper.readTree(client.send(req, HttpResponse.BodyHandlers.ofString())
          .body()).get("summary").get("apc_num_items").asInt()
      }
      assert(agg() == 6) // full fixture, now materialized in cache
      // "rebuild": Konstanz drops out of the data; rewrite the cube
      outputs.cubes("openapc")
        .filter(org.apache.spark.sql.functions.col("institution") =!= "Konstanz U")
        .write.mode("overwrite").parquet(s"$dir2/cubes/openapc.parquet")
      OpenApcMain.reload(spark, reg, s"$dir2/cubes", Nil)
      assert(agg() == 5, "reload did not serve the rebuilt data")
      // a fresh read of the rewritten path shares the old frame's cache
      // entry (CacheManager matches plans by sameResult): releasing the
      // old frames must not uncache the reloaded ones
      val cached = reg.browser("openapc").df.queryExecution.withCachedData.collect {
        case r: org.apache.spark.sql.execution.columnar.InMemoryRelation => r
      }
      assert(cached.nonEmpty, "the reloaded openapc frame is not cached")
    } finally srv.stop()
  }

  test("reload storm: every request is served wholly from one version, one bump per reload") {
    import java.util.concurrent.ConcurrentLinkedQueue
    import java.util.concurrent.atomic.AtomicBoolean
    import graft.etl.CubeBuilder
    import org.apache.spark.sql.functions.col
    // two rebuilt versions in their own directories: v1 drops Konstanz U
    // from the two apc cubes the clients read
    val outputs = CubeBuilder.build(
      CubeBuilder.readInputs(spark, EtlFixture.create().toString))
    val dirs = Seq("v0", "v1").map { v =>
      val d = s"${Files.createTempDirectory(s"graft-storm-$v")}/cubes"
      CubeBuilder.writeCubes(outputs, d)
      d
    }
    Seq("openapc", "combined").foreach(c => outputs.cubes(c)
      .filter(col("institution") =!= "Konstanz U")
      .write.mode("overwrite").parquet(s"${dirs(1)}/$c.parquet"))
    val reg = new graft.registry.CubeRegistry
    OpenApcMain.registerAll(spark, reg, dirs(0), Nil)
    val srv = new GraftServer(reg); srv.start()
    val paths = Seq("/cube/openapc/aggregate", "/cube/combined/aggregate",
      "/cube/openapc/aggregate?drilldown=period", "/cube/openapc/aggregate?nocache=1")
    def fetch(path: String): (Int, String) = {
      val req = HttpRequest.newBuilder(
        URI.create(s"http://localhost:${srv.boundPort}$path")).GET().build()
      val res = client.send(req, HttpResponse.BodyHandlers.ofString())
      (res.statusCode(), res.body())
    }
    def items(body: String): Int =
      mapper.readTree(body).get("summary").get("apc_num_items").asInt()
    val stop = new AtomicBoolean(false)
    try {
      // each version's answer per cube, served with no reload running
      val answers = (0 to 1).map { v =>
        if (v > 0) OpenApcMain.reload(spark, reg, dirs(v), Nil)
        Seq("openapc", "combined").map(c =>
          c -> items(fetch(s"/cube/$c/aggregate?nocache=1")._2)).toMap
      }
      assert(answers(0)("openapc") == 6 && answers(1)("openapc") == 5)
      val seen = new ConcurrentLinkedQueue[(String, Int, String)]()
      val clients = (0 until 4).map { t =>
        val th = new Thread(() => {
          var i = t
          while (!stop.get()) {
            val path = paths(i % paths.size)
            val (code, body) =
              try fetch(path) catch { case e: Exception => (-1, e.toString) }
            seen.add((path, code, body)); i += 1
          }
        })
        th.setDaemon(true); th.start(); th
      }
      val bumps = (2 to 7).map { k =>
        val (before, at) = (reg.generation, seen.size)
        OpenApcMain.reload(spark, reg, dirs(k % 2), Nil)
        val bump = reg.generation - before
        // 8 more answers: at most 4 were in flight at the swap, so at least
        // 4 ran on this version
        val deadline = System.nanoTime() + 60e9.toLong
        while (seen.size < at + 8 && System.nanoTime() < deadline) Thread.sleep(10)
        bump
      }
      stop.set(true); clients.foreach(_.join())
      val failed = seen.toArray(Array.empty[(String, Int, String)]).filter(_._2 != 200)
      assert(failed.length == 0, s"requests failed out of ${seen.size} " +
        s"(statuses ${failed.map(_._2).distinct.mkString(",")}), first: ${failed.headOption}")
      seen.forEach { case (path, _, body) =>
        val cube = if (path.contains("combined")) "combined" else "openapc"
        assert(answers.exists(_(cube) == items(body)), s"$path served neither version: $body")
      }
      assert((0 to 1).forall(v => seen.stream().anyMatch(s =>
        !s._1.contains("combined") && items(s._3) == answers(v)("openapc"))),
        "the storm did not serve both versions")
      assert(bumps.forall(_ == 1), s"generation bumps per reload: $bumps")
    } finally { stop.set(true); srv.stop() }
  }
}
