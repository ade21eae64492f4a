package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.engine.Browser
import graft.model.{Aggregate, CubeModel, Dimension}
import graft.query._

class BrowserSpec extends SparkSpec {

  private lazy val li = TestCubes.lineitem(spark, sf())

  test("summary = single row with all declared aggregates (HOWTO q5)") {
    val rows = li.summary(CubeQuery()).collect()
    assert(rows.length === 1)
    val r = rows.head
    assert(r.getAs[Long]("n_items") === 6000L)
    assert(r.getAs[Double]("price_sum") > 0)
    assert(r.getAs[Long]("n_orders") <= 1500L)
  }

  test("drilldown partitions the cell: group counts sum to summary count (HOWTO q6)") {
    val cells = li.aggregate(CubeQuery(drilldown = Seq("l_returnflag"))).collect()
    assert(cells.map(_.getAs[Long]("n_items")).sum === 6000L)
    assert(cells.map(_.getAs[String]("l_returnflag")).toSeq === Seq("A", "N", "R"))
  }

  test("q10 equivalence: point cut on a dim == summary over pre-filtered cube (HOWTO.md:73-77)") {
    val viaCut = li.summary(CubeQuery(cuts = Seq(PointCut("l_returnflag", "R")))).collect().head
    val filtered = new Browser(li.model, li.df.filter(col("l_returnflag") === "R"))
      .summary(CubeQuery()).collect().head
    assert(viaCut === filtered)
  }

  test("range cut is inclusive and numeric; open ends one-sided (HOWTO q11)") {
    def years(cut: String): Seq[Int] =
      li.members("l_shipyear", QueryParser.parseCuts(cut)).collect()
        .map(_.getInt(0)).toSeq
    val all = years("l_shipyear:1000~9999")
    assert(all.nonEmpty)
    val mid = all(all.size / 2)
    assert(years(s"l_shipyear:${all.head}~$mid") === all.filter(_ <= mid))
    assert(years(s"l_shipyear:~$mid") === all.filter(_ <= mid))
    assert(years(s"l_shipyear:$mid~") === all.filter(_ >= mid))
  }

  test("string range cut: NA falls out, leading-zero values exact, bounds sargable") {
    import spark.implicits._
    val df = Seq(("2013", 1.0), ("2014", 2.0), ("2016", 3.0), ("2017", 4.0),
      ("NA", 5.0), ("901", 6.0), ("0500", 7.0)).toDF("period", "euro")
    val m = graft.model.CubeModel("c", "c",
      dimensions = Seq(graft.model.Dimension("period", rangeable = true)),
      aggregates = Seq(graft.model.Aggregate("s", "sum", Some("euro"))))
    val b = new Browser(m, df)
    def vals(lo: String, hi: String) =
      b.applyCuts(Seq(RangeCut("period", Some(lo), Some(hi))))
        .select("period").collect().map(_.getString(0)).toSet
    // closed range: numeric semantics (NA out; 901 < 2014 out)
    assert(vals("2014", "2016") == Set("2014", "2016"))
    // NON-CANONICAL numeric spellings the long cast accepts must not be
    // excluded by the sargable conjunct (they fail the raw lexicographic
    // range but pass the numeric one)
    val odd = Seq(("02015", 1.0), ("+2015", 1.0), (" 2015", 1.0),
      ("2015 ", 1.0), ("2016 ", 1.0), ("2016x", 1.0), ("2017 ", 1.0))
      .toDF("period", "euro")
    val bo = new Browser(m, df.unionByName(odd))
    def ovals(lo: String, hi: String) =
      bo.applyCuts(Seq(RangeCut("period", Some(lo), Some(hi))))
        .select("period").collect().map(_.getString(0)).toSet
    assert(ovals("2014", "2016") ==
      Set("2014", "2016", "02015", "+2015", " 2015", "2015 ", "2016 "))
    // bounds spanning digit lengths: no sargable conjunct, still exact
    assert(vals("500", "2016") == Set("2013", "2014", "2016", "901", "0500"))
    // open end: NA must not sneak in lexicographically
    assert(b.applyCuts(Seq(RangeCut("period", Some("2014"), None)))
      .select("period").collect().map(_.getString(0)).toSet == Set("2014", "2016", "2017"))
    // the equal-length digit bounds must reach a parquet scan as pushed
    // filters (the try_cast alone would block row-group pruning)
    val tmp = java.nio.file.Files.createTempDirectory("graft-sarg").toString
    df.write.mode("overwrite").parquet(tmp)
    val bp = new Browser(m, spark.read.parquet(tmp))
    // read the scan's pushed filters directly — the rendered plan string
    // truncates long filter lists
    val pushed = bp.applyCuts(Seq(RangeCut("period", Some("2014"), Some("2016"))))
      .queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.metadata("PushedFilters")
      }.mkString
    assert(pushed.contains("GreaterThanOrEqual(period,2014)"), pushed)
    assert(pushed.contains("LessThanOrEqual(period,2016)"), pushed)
    assert(pushed.contains("StringStartsWith(period,2016)"), pushed)
  }

  test("approx_count_distinct opt-in stays within HLL error (A15 scale path)") {
    val m = graft.model.CubeModel("li", "li",
      dimensions = Seq(graft.model.Dimension("l_returnflag")),
      aggregates = Seq(
        graft.model.Aggregate("n_exact", "count_distinct", Some("l_orderkey")),
        graft.model.Aggregate("n_approx", "approx_count_distinct", Some("l_orderkey"))))
    val b = new Browser(m, TestCubes.lineitemDf(spark, sf("sf0.01")))
    val r = b.summary(CubeQuery()).collect().head
    val (exact, approx) = (r.getAs[Long]("n_exact"), r.getAs[Long]("n_approx"))
    // HLL++ default relative SD is 0.05; allow 3 sigma
    assert(math.abs(approx - exact).toDouble / exact <= 0.15,
      s"approx=$approx exact=$exact")
  }

  test("range cut rejected on non-rangeable dim (HOWTO.md:79)") {
    intercept[IllegalArgumentException] {
      li.aggregate(CubeQuery(cuts = Seq(RangeCut("l_returnflag", Some("A"), Some("R")))))
    }
  }

  test("set cut and negated cut") {
    val both = li.summary(CubeQuery(cuts =
      Seq(SetCut("l_returnflag", Seq("A", "R"))))).collect().head.getAs[Long]("n_items")
    val notN = li.summary(CubeQuery(cuts =
      Seq(PointCut("l_returnflag", "N", invert = true)))).collect().head.getAs[Long]("n_items")
    assert(both === notN)
    assert(both < 6000L)
  }

  test("pagination: page concatenation == full result, no overlap (HOWTO q3/q4)") {
    val q = CubeQuery(drilldown = Seq("l_partkey"),
      orders = Seq(Order("n_items", desc = true)))
    val full = li.aggregate(q).collect().map(_.toSeq).toSeq
    val paged = (0 until 20).flatMap { p =>
      li.aggregate(q.copy(page = Some(Page(p, 97)))).collect().map(_.toSeq)
    }.take(full.size)
    assert(paged === full)
  }

  test("facts pagination is deterministic over factKey (SURVEY §7.4.4)") {
    val a = li.facts(CubeQuery(page = Some(Page(5, 50)))).collect().map(_.toSeq)
    val b = li.facts(CubeQuery(page = Some(Page(5, 50)))).collect().map(_.toSeq)
    assert(a.toSeq === b.toSeq)
    assert(a.length === 50)
  }

  test("point lookup on absent key returns empty, not error (HOWTO q14 / HOWTO.md:99)") {
    val rows = li.facts(CubeQuery(cuts = Seq(PointCut("l_orderkey", "99999999")))).collect()
    assert(rows.isEmpty)
  }

  test("NA sentinel is a value: it groups and counts (SURVEY §1.2/§7.4.1)") {
    import spark.implicits._
    val df = Seq(("NA", 1.0), ("NA", 2.0), ("x", 3.0)).toDF("institution", "euro")
    val m = CubeModel("t", "t",
      dimensions = Seq(Dimension("institution")),
      aggregates = Seq(
        Aggregate("amount_sum", "sum", Some("euro")),
        Aggregate("num_items", "count", None)))
    val cells = new Browser(m, df)
      .aggregate(CubeQuery(drilldown = Seq("institution"))).collect()
    assert(cells.length === 2)
    val na = cells.find(_.getString(0) == "NA").get
    assert(na.getAs[Long]("num_items") === 2L)
    assert(na.getAs[Double]("amount_sum") === 3.0)
  }

  test("stddev of single-row group is null, not 0/NaN (SURVEY §7.4.2)") {
    import spark.implicits._
    val df = Seq(("a", 5.0)).toDF("d", "euro")
    val m = CubeModel("t", "t", dimensions = Seq(Dimension("d")),
      aggregates = Seq(Aggregate("sd", "stddev", Some("euro"))))
    val r = new Browser(m, df).aggregate(CubeQuery(drilldown = Seq("d"))).collect().head
    assert(r.isNullAt(r.fieldIndex("sd")))
  }

  test("rolledFrame of a nothing-matches cut: summary == summary(q), every aggregate function") {
    // the rolled frame has no grand row there and writes the zero-row
    // values itself; they must be the ungrouped aggregate's, per function
    val fns = Seq("sum", "count", "avg", "stddev", "count_distinct",
      "approx_count_distinct", "min", "max")
    val measures = Seq("l_extendedprice", "l_quantity")
    val m = li.model.copy(aggregates = for (f <- fns; (mn, i) <- measures.zipWithIndex)
      yield Aggregate(s"${f}_$i", f, Some(mn)))
    // approx_count_distinct does not merge: the plain-ROLLUP plan; `li`'s
    // own aggregates take the two-level mergeable plan
    for (b <- Seq(new Browser(m, li.df), li);
         dd <- Seq(Nil, Seq("l_returnflag"), Seq("l_returnflag", "l_linestatus"))) {
      val q = CubeQuery(cuts = Seq(PointCut("l_returnflag", "ZZZ")), drilldown = dd)
      val rf = b.rolledFrame(q)
      assert(rf.summary.collect().map(_.toSeq).toSeq ==
        b.summary(q).collect().map(_.toSeq).toSeq, dd)
      assert(rf.summary.schema.map(_.dataType) == b.summary(q).schema.map(_.dataType), dd)
      assert(rf.cells.isEmpty && rf.totalCellCount == 0L, dd)
    }
  }

  test("share-of-total sums to 100% (A17)") {
    val cells = li.aggregateWithShare(
      CubeQuery(drilldown = Seq("l_returnflag")), "price_sum", "pct").collect()
    val total = cells.map(_.getAs[Double]("pct")).sum
    assert(math.abs(total - 100.0) < 1e-9)
  }

  test("share-of-total past ShareCollectCap: persisted-rollup fallback, identical cells, cache released") {
    import graft.engine.CacheScope
    val q = CubeQuery(drilldown = Seq("l_returnflag", "l_linestatus"))
    CacheScope.drain()
    val before = CacheScope.trackedCount
    // the served page (rolledFrame + pageOf) through both branches: the
    // collected one tracks nothing, the fallback one frame until drained
    val pq = q.copy(orders = QueryParser.parseOrders("price_sum:desc"),
      page = Some(Page(1, 2)))
    def page(cap: Int) = {
      val rf = li.rolledFrame(pq, collectCap = cap)
      val r = li.pageOf(rf, pq)
      val parts = (r.summary.collect().map(_.toSeq).toSeq,
        r.cells.collect().map(_.toSeq).toSeq, r.totalCellCount)
      rf.release()
      parts
    }
    val collectedPage = page(Browser.ShareCollectCap)
    assert(CacheScope.trackedCount == before, "the collected branch must persist nothing")
    val fallbackPage = page(1)
    assert(CacheScope.trackedCount == before + 1,
      "fallback must track its persisted rollup with CacheScope")
    assert(fallbackPage == collectedPage)
    assert(collectedPage._2.size == 2 && collectedPage._3 > 2)
    CacheScope.drain()
    assert(CacheScope.trackedCount == before)
    val viaCollect = li.aggregateWithShare(q, "price_sum", "pct").collect()
    assert(viaCollect.length > 1, "need a multi-cell drilldown to exercise the cap")
    assert(CacheScope.trackedCount == before)
    // cap of 1 forces the distributed branch (probe sees cap+2 rows)
    val viaFallback = li.aggregateWithShare(q, "price_sum", "pct", collectCap = 1)
    val fallbackRows = viaFallback.collect()
    // the fallback registered its persisted rollup for the owner's drain
    assert(CacheScope.trackedCount == before + 1,
      "fallback must track its persisted rollup with CacheScope")
    // identical result, row for row, through either branch
    assert(fallbackRows.map(_.toSeq).toSeq == viaCollect.map(_.toSeq).toSeq)
    // shares still sum to 100 through the fallback
    assert(math.abs(fallbackRows.map(_.getAs[Double]("pct")).sum - 100.0) < 1e-9)
    // and the terminal-action owner's drain releases the cache
    CacheScope.drain()
    assert(CacheScope.trackedCount == before)
  }

  test("keyset continuation is strictly-after, lexicographic on the composite factKey") {
    import graft.query.{CubeQuery, Page}
    val rows = li.facts(CubeQuery(after = Some("5,2"), page = Some(Page(0, 20))))
      .select("l_orderkey", "l_linenumber").collect()
      .map(r => (r.getLong(0), r.getInt(1)))
    assert(rows.nonEmpty)
    // every returned key is > (5, 2) lexicographically; none ties the token
    assert(rows.forall { case (o, l) => o > 5 || (o == 5 && l > 2) })
    // and the page is the sorted prefix of the remaining keys
    assert(rows.sortBy(identity).toSeq == rows.toSeq)
  }

  test("keyset cell pages concatenate to the offset cell listing, pushed below the aggregation") {
    import graft.query.{CubeQuery, Page}
    val dd = Seq("l_returnflag", "l_linestatus")
    val all = li.aggregate(CubeQuery(drilldown = dd)).collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    // walk the whole cell space 2 cells per page: the first page is a
    // plain offset page, every later one continues from the last cell's
    // drilldown-key tuple
    var walked = Seq.empty[(String, String)]
    var last: Option[(String, String)] = None
    var done = false
    while (!done) {
      val q = last match {
        case Some((a, b)) => CubeQuery(drilldown = dd,
          after = Some(s"$a,$b"), page = Some(Page(0, 2)))
        case None => CubeQuery(drilldown = dd, page = Some(Page(0, 2)))
      }
      val page = li.aggregate(q).collect()
        .map(r => (r.getString(0), r.getString(1))).toSeq
      walked ++= page
      if (page.isEmpty) done = true else last = Some(page.last)
    }
    assert(walked == all, s"keyset cell walk $walked != offset listing $all")
    // the token predicate sits BELOW the aggregation: it reaches the scan
    val keyed = li.aggregate(CubeQuery(drilldown = dd,
      after = Some("A,F"), page = Some(Page(0, 3))))
    keyed.collect()
    val pushed = keyed.queryExecution.executedPlan.toString
    assert(pushed.contains("PushedFilters: [IsNotNull(l_returnflag), " +
      "GreaterThanOrEqual(l_returnflag,A)") ||
      pushed.contains("GreaterThanOrEqual(l_returnflag,A)"),
      s"keyset predicate not pushed to the scan:\n$pushed")
  }

  test("aggregate-ordered keyset pages concatenate to the offset listing (A24)") {
    import graft.query.{CubeQuery, Page}
    val dd = Seq("l_partkey")
    val orders = graft.query.QueryParser.parseOrders("n_items:desc")
    val all = li.aggregate(CubeQuery(drilldown = dd, orders = orders)).collect()
      .map(r => (r.getAs[Long]("n_items"), r.getAs[Long]("l_partkey"))).toSeq
    // walk the whole sorted drilldown 40 cells per page, continuing from
    // the (order value, key) of each page's last cell
    var walked = Seq.empty[(Long, Long)]
    var last: Option[(Long, Long)] = None
    var done = false
    while (!done) {
      val q = last match {
        case Some((v, k)) => CubeQuery(drilldown = dd, orders = orders,
          after = Some(s"$v,$k"), page = Some(Page(0, 40)))
        case None => CubeQuery(drilldown = dd, orders = orders,
          page = Some(Page(0, 40)))
      }
      val page = li.aggregate(q).collect()
        .map(r => (r.getAs[Long]("n_items"), r.getAs[Long]("l_partkey"))).toSeq
      walked ++= page
      if (page.isEmpty) done = true else last = Some(page.last)
    }
    assert(walked == all.toSeq,
      s"agg-ordered keyset walk diverged: ${walked.size} vs ${all.size} cells")
    // ascending order works through the same token shape
    val asc = li.aggregate(CubeQuery(drilldown = dd,
      orders = graft.query.QueryParser.parseOrders("n_items:asc"),
      after = Some("1,0"), page = Some(Page(0, 5)))).collect()
      .map(r => (r.getAs[Long]("n_items"), r.getAs[Long]("l_partkey")))
    assert(asc.forall { case (v, k) => v > 1 || (v == 1 && k > 0) })
    // a dim order key with after= is still the dim-token path's job
    intercept[IllegalArgumentException](li.aggregate(CubeQuery(
      drilldown = dd, orders = graft.query.QueryParser.parseOrders("l_partkey:asc"),
      after = Some("1,1"))))
  }

  test("summary+cells rollup: grand total row matches summary (A18)") {
    val rolled = li.aggregateWithSummary(CubeQuery(drilldown = Seq("l_returnflag")))
      .collect()
    val totalRow = rolled.filter(_.getAs[Long]("grouping_level") > 0)
    assert(totalRow.length === 1)
    assert(totalRow.head.getAs[Long]("n_items") === 6000L)
    assert(rolled.length === 4)
  }

  test("cube: every grouping level partitions the summary count") {
    val cube = li.aggregateCube(
      CubeQuery(drilldown = Seq("l_returnflag", "l_linestatus"))).collect()
    val total = li.summary(CubeQuery()).collect().head.getAs[Long]("n_items")
    // levels 0 (both dims), 1 (flag only aggregated away), 2, 3 (grand total)
    (0L to 3L).foreach { lvl =>
      val rows = cube.filter(_.getAs[Long]("grouping_level") == lvl)
      assert(rows.nonEmpty, s"level $lvl empty")
      assert(rows.map(_.getAs[Long]("n_items")).sum === total, s"level $lvl")
    }
    assert(cube.count(_.getAs[Long]("grouping_level") == 3L) === 1)
  }

  test("property: drilldown partitions summary under random cut/dim combos (SURVEY §5)") {
    // "drilling down will never reduce the amount of cells" (HOWTO.md:73):
    // for ANY cut set and ANY drilldown, per-group counts sum to the
    // summary count and per-group sums to the summary sum
    val dims = Seq("l_returnflag", "l_linestatus", "l_suppkey", "l_shipyear")
    val cutPool = Seq(
      Nil,
      Seq(PointCut("l_returnflag", "R")),
      Seq(RangeCut("l_shipyear", Some("1994"), Some("1996"))),
      Seq(PointCut("l_linestatus", "F"), RangeCut("l_shipyear", None, Some("1995"))),
      Seq(SetCut("l_returnflag", Seq("A", "N"))))
    val rnd = new scala.util.Random(42)
    (1 to 8).foreach { _ =>
      val cuts = cutPool(rnd.nextInt(cutPool.size))
      val dd = rnd.shuffle(dims).take(1 + rnd.nextInt(2))
      val s = li.summary(CubeQuery(cuts = cuts)).collect().head
      val cells = li.aggregate(CubeQuery(cuts = cuts, drilldown = dd)).collect()
      assert(cells.map(_.getAs[Long]("n_items")).sum === s.getAs[Long]("n_items"),
        s"cuts=$cuts dd=$dd")
      assert(math.abs(cells.map(_.getAs[Double]("price_sum")).sum -
        s.getAs[Double]("price_sum")) < 1e-4, s"cuts=$cuts dd=$dd")
    }
  }

  test("unknown dimension/aggregate raise useful errors") {
    intercept[IllegalArgumentException] { li.aggregate(CubeQuery(drilldown = Seq("nope"))) }
    intercept[IllegalArgumentException] { li.summary(CubeQuery(), Seq("nope")) }
  }

  test("members returns sorted distinct values (cubes /members)") {
    val m = li.members("l_returnflag").collect().map(_.getString(0)).toSeq
    assert(m === Seq("A", "N", "R"))
  }
}
