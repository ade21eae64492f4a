package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.query._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every `a##_*` query routes through the model-driven Browser
  * (graft.engine.Browser) — the queries are numbered after SURVEY.md §2.A's
  * operator inventory. `b##_*` queries exercise the ETL dataflow operators
  * (§2.B) and `x_*` the beyond-reference extensions (§2.C / §7.6).
  *
  * Float-valued aggregates are rounded identically on both the Spark and the
  * DuckDB oracle side: summation order differs between engines, so the last
  * ulps of a double sum are not comparable — the rounded value is.
  */
object SparkEntry {

  /** Round the named double columns post-aggregation (both sides round). */
  private def rounded(df: DataFrame, cols: (String, Int)*): DataFrame =
    cols.foldLeft(df) { case (d, (c, n)) => d.withColumn(c, graft.functions.EngineMath.roundAway(col(c), n)) }

  private val aggRound = Seq(
    "price_sum" -> 2, "price_avg" -> 4, "price_stddev" -> 4, "qty_sum" -> 2)

  /** Shared SELECT list fragments for the lineitem-cube oracles.
    *
    * Money aggregates mirror Browser.aggExpr's EXACT decimal accumulation
    * (model.Measure.decimalScale): sums run on DECIMAL(18,2) casts, then
    * avg/stddev arithmetic on the resulting engine-identical doubles —
    * double sums would differ in the last ulps by summation order and flip
    * rounding boundaries (observed at sf0.1 before this).
    */
  private def exactSumSql(c: String) =
    s"CAST(sum(CAST($c AS DECIMAL(18,2))) AS DOUBLE)"
  private def stddevSql(c: String) =
    s"CASE WHEN count($c) > 1 THEN sqrt(greatest(" +
      s"(count($c) * CAST(sum(CAST($c AS DECIMAL(18,2)) * CAST($c AS DECIMAL(18,2))) AS DOUBLE) " +
      s"- ${exactSumSql(c)} * ${exactSumSql(c)}) / (count($c) * (count($c) - 1.0)), 0.0)) " +
      "ELSE NULL END"
  private val aggSql =
    s"""round(${exactSumSql("l_extendedprice")},2) AS price_sum, count(*) AS n_items,
      | round(${exactSumSql("l_extendedprice")} / count(l_extendedprice),4) AS price_avg,
      | round(${stddevSql("l_extendedprice")},4) AS price_stddev,
      | count(DISTINCT l_orderkey) AS n_orders,
      | round(${exactSumSql("l_quantity")},2) AS qty_sum""".stripMargin.replace("\n", "")

  /** lineitem with the derived rangeable year dim, as the oracle sees it. */
  private val liSql =
    "(SELECT *, CAST(year(l_shipdate) AS INTEGER) AS l_shipyear FROM lineitem)"

  /** Facts total order, mirroring Browser.facts: factKey then every other
    * column in frame order (the testdata's (orderkey, linenumber) is NOT
    * unique, so factKey alone would leave page boundaries to engine tie
    * order). NULLS FIRST = Spark's asc default.
    */
  private val factsOrderSql = Seq(
    "l_orderkey", "l_linenumber", // factKey
    "l_partkey", "l_suppkey", "l_quantity", "l_extendedprice", "l_discount",
    "l_tax", "l_returnflag", "l_linestatus", "l_shipdate", "l_shipyear")
    .map(c => s"$c NULLS FIRST").mkString(", ")

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    TestCubes.lineitem(spark, "/root/testdata/sf0.001")
      .aggregate(CubeQuery(drilldown = Seq("l_returnflag", "l_linestatus")))

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    aQueries ++ EtlQueries.queries ++ ExtensionQueries.queries

  /** The [[queries]] that `patterns` name, sorted by name: exact names or
    * prefix globs (`x8*`); no patterns selects every query. The one
    * selector of the Bench, Profile and Explain command lines.
    */
  def select(patterns: Seq[String]): Seq[(String, (SparkSession, String) => DataFrame)] =
    queries.toSeq.sortBy(_._1).filter { case (name, _) =>
      patterns.isEmpty || patterns.exists(p =>
        if (p.endsWith("*")) name.startsWith(p.dropRight(1)) else name == p)
    }

  private def aQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // A1: facts scan + stable pagination (HOWTO.md:35-42)
    "a01_facts_page" -> ((s, dir) =>
      TestCubes.lineitem(s, dir).facts(CubeQuery(page = Some(Page(2, 100))))),
    // A2: fact point-lookup on a high-cardinality dim (HOWTO.md:93-104)
    "a02_point_lookup" -> ((s, dir) =>
      TestCubes.lineitem(s, dir).facts(CubeQuery(
        cuts = Seq(PointCut("l_orderkey", "1")),
        page = Some(Page(0, 500))))),
    // A3: aggregate without drilldown = grand total (HOWTO.md:51-55)
    "a03_summary" -> ((s, dir) =>
      rounded(TestCubes.lineitem(s, dir).summary(CubeQuery()), aggRound: _*)),
    // A4: single-dim drilldown (HOWTO.md:57-63)
    "a04_drilldown" -> ((s, dir) =>
      rounded(TestCubes.lineitem(s, dir).aggregate(
        CubeQuery(drilldown = Seq("l_returnflag"))), aggRound: _*)),
    // A5: multi-dim drilldown (HOWTO.md:65-67)
    "a05_drilldown_multi" -> ((s, dir) =>
      rounded(TestCubes.lineitem(s, dir).aggregate(
        CubeQuery(drilldown = Seq("l_returnflag", "l_linestatus"))), aggRound: _*)),
    // A6: point cut composed with drilldown (HOWTO.md:73-77,81-85)
    "a06_point_cut" -> ((s, dir) =>
      rounded(TestCubes.lineitem(s, dir).aggregate(CubeQuery(
        cuts = QueryParser.parseCuts("l_returnflag:R"),
        drilldown = Seq("l_linestatus"))), aggRound: _*)),
    // A7: inclusive range cut on the rangeable dim (HOWTO.md:77-79)
    "a07_range_cut" -> ((s, dir) =>
      rounded(TestCubes.lineitem(s, dir).aggregate(CubeQuery(
        cuts = QueryParser.parseCuts("l_shipyear:1994~1996"),
        drilldown = Seq("l_shipyear"))), aggRound: _*)),
    // A8: conjunctive multi-cut incl. open-ended range (HOWTO.md:87-91)
    "a08_multi_cut" -> ((s, dir) =>
      rounded(TestCubes.lineitem(s, dir).aggregate(CubeQuery(
        cuts = QueryParser.parseCuts("l_returnflag:A|l_linestatus:F|l_shipyear:~1995"),
        drilldown = Seq("l_shipyear"))), aggRound: _*)),
    // A9: order by aggregate, desc (HOWTO.md:61-63)
    "a09_order_by_agg" -> ((s, dir) =>
      rounded(TestCubes.lineitem(s, dir).aggregate(CubeQuery(
        drilldown = Seq("l_suppkey"),
        orders = QueryParser.parseOrders("price_sum:desc"))), aggRound: _*)),
    // A10: aggregate pagination over a stable total order (HOWTO.md:15,89)
    "a10_agg_page" -> ((s, dir) =>
      rounded(TestCubes.lineitem(s, dir).aggregate(CubeQuery(
        drilldown = Seq("l_partkey"),
        orders = QueryParser.parseOrders("n_items:desc"),
        page = Some(Page(3, 50)))), aggRound: _*)),
    // a19: full CUBE over two dims (beyond-reference grouping-sets surface)
    "a19_cube" -> ((s, dir) =>
      rounded(TestCubes.lineitem(s, dir).aggregateCube(
        CubeQuery(drilldown = Seq("l_returnflag", "l_linestatus"))), aggRound: _*)),
    // A16: members — distinct dimension values (cubes /members endpoint)
    "a16_members" -> ((s, dir) =>
      TestCubes.lineitem(s, dir).members("l_shipyear")),
    // A17: percentage-of-total over the served rolled frame
    "a17_share_of_total" -> ((s, dir) =>
      rounded(TestCubes.lineitem(s, dir).aggregateWithShare(
        CubeQuery(drilldown = Seq("l_returnflag")),
        "price_sum", "price_pct"), (aggRound :+ ("price_pct" -> 4)): _*)),
    // A18: summary + cells from the served rollup plan (response shape HOWTO.md:51-67)
    "a18_summary_cells" -> ((s, dir) =>
      rounded(TestCubes.lineitem(s, dir).aggregateWithSummary(
        CubeQuery(drilldown = Seq("l_returnflag"))), aggRound: _*)),
    // a20: keyset continuation (after=) — deep pagination as a pushable
    // factKey range predicate + top-pagesize instead of a global
    // top-(offset+limit) sort (the A1/A10 scale blemish)
    "a20_keyset_page" -> ((s, dir) =>
      TestCubes.lineitem(s, dir).facts(CubeQuery(
        after = Some("7000,2"), page = Some(Page(0, 100))))),
    // a21: set cut (`dim:v1;v2` disjunction-within-dim) + negated cut
    // (`!dim:v`) — the cubes dialect beyond HOWTO's point/range cuts,
    // parsed by QueryParser and compiled to isin / NOT predicates
    "a21_set_cut" -> ((s, dir) =>
      rounded(TestCubes.lineitem(s, dir).aggregate(CubeQuery(
        cuts = QueryParser.parseCuts("l_returnflag:A;R|!l_linestatus:O"),
        drilldown = Seq("l_returnflag"))), aggRound: _*)),
    // a22: keyset continuation over aggregate CELLS — the drilldown key IS
    // the group key, so the token predicate pushes below the aggregation
    // onto the scan (already-served groups are never aggregated again)
    "a22_keyset_cells" -> ((s, dir) =>
      rounded(TestCubes.lineitem(s, dir).aggregate(CubeQuery(
        drilldown = Seq("l_returnflag", "l_linestatus"),
        after = Some("A,F"), page = Some(Page(0, 3)))), aggRound: _*)),
    // a23: keyset continuation over MEMBERS — the token predicate is on
    // the dim column itself, below both the distinct and the scan
    "a23_keyset_members" -> ((s, dir) =>
      TestCubes.lineitem(s, dir).members("l_partkey",
        after = Some("50"), page = Some(Page(0, 100)))),
    // a24: keyset continuation over AGGREGATE-ORDERED cells (the HOWTO
    // query-7 sorted-drilldown idiom) — token = (order value, group key)
    // of the last cell; compiles to a post-aggregation strictly-after
    // filter + top-pagesize instead of the offset path's global
    // top-(offset+limit). Integer order key (n_items) so the token
    // comparison is engine-exact
    "a24_keyset_agg_page" -> ((s, dir) =>
      rounded(TestCubes.lineitem(s, dir).aggregate(CubeQuery(
        drilldown = Seq("l_partkey"),
        orders = QueryParser.parseOrders("n_items:desc"),
        after = Some("30,1000"), page = Some(Page(0, 50)))), aggRound: _*)),
  )

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] = Map(
    "a01_facts_page" ->
      s"SELECT * FROM $liSql ORDER BY $factsOrderSql LIMIT 100 OFFSET 200",
    "a02_point_lookup" ->
      s"SELECT * FROM $liSql WHERE l_orderkey = 1 ORDER BY $factsOrderSql LIMIT 500",
    "a03_summary" ->
      s"SELECT $aggSql FROM lineitem",
    "a04_drilldown" ->
      s"SELECT l_returnflag, $aggSql FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag",
    "a05_drilldown_multi" ->
      (s"SELECT l_returnflag, l_linestatus, $aggSql FROM lineitem " +
        "GROUP BY 1, 2 ORDER BY 1, 2"),
    "a06_point_cut" ->
      (s"SELECT l_linestatus, $aggSql FROM lineitem WHERE l_returnflag = 'R' " +
        "GROUP BY 1 ORDER BY 1"),
    "a07_range_cut" ->
      (s"SELECT l_shipyear, $aggSql FROM $liSql WHERE l_shipyear BETWEEN 1994 AND 1996 " +
        "GROUP BY 1 ORDER BY 1"),
    "a08_multi_cut" ->
      (s"SELECT l_shipyear, $aggSql FROM $liSql " +
        "WHERE l_returnflag = 'A' AND l_linestatus = 'F' AND l_shipyear <= 1995 " +
        "GROUP BY 1 ORDER BY 1"),
    "a09_order_by_agg" ->
      // order by the SAME exact sum the projection uses (double sums could
      // order near-ties differently)
      (s"SELECT l_suppkey, $aggSql FROM lineitem GROUP BY 1 " +
        s"ORDER BY ${exactSumSql("l_extendedprice")} DESC, l_suppkey"),
    "a10_agg_page" ->
      (s"SELECT l_partkey, $aggSql FROM lineitem GROUP BY 1 " +
        "ORDER BY count(*) DESC, l_partkey LIMIT 50 OFFSET 150"),
    "a19_cube" ->
      (s"SELECT l_returnflag, l_linestatus, $aggSql, " +
        "CAST(grouping(l_returnflag, l_linestatus) AS BIGINT) AS grouping_level " +
        "FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus) " +
        "ORDER BY grouping_level, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST"),
    "a16_members" ->
      s"SELECT DISTINCT l_shipyear FROM $liSql ORDER BY l_shipyear",
    "a17_share_of_total" ->
      // pct operand ORDER mirrors Browser.aggregateWithShare exactly:
      // (group / total) * 100 — IEEE is not associative
      (s"SELECT l_returnflag, $aggSql, " +
        s"round(${exactSumSql("l_extendedprice")} / " +
        s"(SELECT ${exactSumSql("l_extendedprice")} FROM lineitem) * 100.0, 4) AS price_pct " +
        "FROM lineitem GROUP BY 1 ORDER BY 1"),
    "a18_summary_cells" ->
      (s"SELECT l_returnflag, $aggSql, CAST(grouping(l_returnflag) AS BIGINT) AS grouping_level " +
        "FROM lineitem GROUP BY ROLLUP(l_returnflag) " +
        "HAVING grouping(l_returnflag) IN (0, 1) ORDER BY grouping_level, l_returnflag"),
    "a20_keyset_page" ->
      // keyset: strictly after (7000, 2) lexicographically on the factKey
      (s"SELECT * FROM $liSql WHERE l_orderkey >= 7000 AND " +
        "(l_orderkey > 7000 OR (l_orderkey = 7000 AND l_linenumber > 2)) " +
        s"ORDER BY $factsOrderSql LIMIT 100"),
    "a21_set_cut" ->
      (s"SELECT l_returnflag, $aggSql FROM lineitem " +
        "WHERE l_returnflag IN ('A', 'R') AND NOT (l_linestatus = 'O') " +
        "GROUP BY 1 ORDER BY 1"),
    "a22_keyset_cells" ->
      // cells strictly after ('A','F') in drilldown-key order; the filter
      // sits BELOW the GROUP BY, mirroring the pre-aggregation pushdown
      (s"SELECT l_returnflag, l_linestatus, $aggSql FROM lineitem " +
        "WHERE l_returnflag >= 'A' AND (l_returnflag > 'A' OR " +
        "(l_returnflag = 'A' AND l_linestatus > 'F')) " +
        "GROUP BY 1, 2 ORDER BY 1, 2 LIMIT 3"),
    "a23_keyset_members" ->
      ("SELECT DISTINCT l_partkey FROM lineitem WHERE l_partkey > 50 " +
        "ORDER BY 1 LIMIT 100"),
    "a24_keyset_agg_page" ->
      // cells strictly after (n_items=30, l_partkey=1000) in
      // (n_items DESC, l_partkey ASC) order — post-aggregation HAVING,
      // mirroring the engine's filter over the aggregated cells
      (s"SELECT l_partkey, $aggSql FROM lineitem GROUP BY 1 " +
        "HAVING count(*) < 30 OR (count(*) = 30 AND l_partkey > 1000) " +
        "ORDER BY count(*) DESC, l_partkey LIMIT 50"),
  ) ++ EtlQueries.oracleSql ++ ExtensionQueries.oracleSql
}
