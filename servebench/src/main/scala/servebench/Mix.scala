package servebench

import java.net.URLEncoder
import java.nio.charset.StandardCharsets
import java.util.SplittableRandom

import org.apache.spark.sql.types._

import graft.model.{Aggregate, CubeModel}
import graft.query._

/** One HTTP request of a workload: an endpoint of the HOWTO surface over
  * one cube. `arg` is the fact id (`fact`) or the dimension (`members`).
  */
final case class Req(cube: String, endpoint: String, params: Seq[(String, String)],
    arg: String = "") {
  private def enc(s: String) = URLEncoder.encode(s, StandardCharsets.UTF_8)
  def uri: String = {
    val q = if (params.isEmpty) "" else
      params.map { case (k, v) => s"${enc(k)}=${enc(v)}" }.mkString("?", "&", "")
    endpoint match {
      case "fact" => s"/cube/${enc(cube)}/fact/${arg.split('/').map(enc).mkString("/")}$q"
      case "members" => s"/cube/${enc(cube)}/members/${enc(arg)}$q"
      case e => s"/cube/${enc(cube)}/$e$q"
    }
  }
  def param(k: String): Option[String] = params.collectFirst { case (`k`, v) => v }
  def query: CubeQuery = QueryParser.parse(params.toMap)
}

/** Seeded request mixes. */
object Mix {

  private def pick[T](r: SplittableRandom, xs: IndexedSeq[T]): T = xs(r.nextInt(xs.size))

  /** `agg_compute`: the HOWTO surface over the lineitem cube, every URL
    * with `nocache=1` so both server caches are bypassed. `keys` are
    * (l_orderkey, l_linenumber) pairs that exist, for `fact/<id>`.
    *
    * Requests come in blocks of [[AggBlock]]: one per template below, in a
    * seeded order, with seeded cut values, page numbers and keyset tokens.
    * The seeded values keep each template's selectivity in a narrow band
    * (keyset tokens mid-range, open year ranges over about half the years),
    * so every block costs about the same and runs that complete whole
    * blocks compare across seeds.
    */
  val AggBlock = 20

  def aggCompute(seed: Long, n: Int, keys: IndexedSeq[(Long, Int)]): IndexedSeq[Req] = {
    val r = new SplittableRandom(seed ^ 0xa99L)
    def flag = pick(r, IndexedSeq("A", "N", "R"))
    def key = { val (o, l) = pick(r, keys); s"$o,$l" }
    def mid = 900 + r.nextInt(200)
    def agg(params: (String, String)*) = Req("lineitem", "aggregate", params :+ ("nocache" -> "1"))
    def template(t: Int): Req = t match {
      case 0 => agg()
      case 1 => agg("cut" -> s"l_returnflag:$flag")
      case 2 => agg("drilldown" -> "l_returnflag", "order" -> "price_sum:desc")
      case 3 => agg("drilldown" -> "l_suppkey", "page" -> r.nextInt(2).toString, "pagesize" -> "50")
      case 4 => val y = 1995 + r.nextInt(4)
        agg("cut" -> s"l_shipyear:$y~${y + 2}", "drilldown" -> "l_shipyear")
      case 5 => agg("drilldown" -> "l_partkey", "order" -> "n_items:desc",
        "page" -> r.nextInt(4).toString, "pagesize" -> "200")
      case 6 => agg("cut" -> s"l_suppkey:${r.nextInt(50)};${50 + r.nextInt(50)}",
        "drilldown" -> "l_returnflag|l_linestatus")
      case 7 => agg("cut" -> s"l_shipyear:~${1997 + r.nextInt(2)}", "drilldown" -> "l_shipyear|l_suppkey",
        "order" -> "qty_sum:desc", "page" -> "0", "pagesize" -> "500")
      case 8 => agg("drilldown" -> "l_partkey", "after" -> mid.toString, "pagesize" -> "100")
      case 9 => agg("drilldown" -> "l_partkey", "order" -> "n_items:desc",
        "after" -> s"${25 + r.nextInt(10)},$mid", "pagesize" -> "100")
      case 10 => Req("lineitem", "facts", Seq("cut" -> s"l_returnflag:$flag",
        "page" -> r.nextInt(4).toString, "pagesize" -> "100", "nocache" -> "1"))
      case 11 => Req("lineitem", "facts", Seq("cut" -> s"!l_linestatus:F|l_shipyear:${1995 + r.nextInt(7)}",
        "page" -> "0", "pagesize" -> "500", "nocache" -> "1"))
      case 12 => Req("lineitem", "facts", Seq("after" -> key, "pagesize" -> "100", "nocache" -> "1"))
      case 13 => Req("lineitem", "fact", Seq("nocache" -> "1"), key)
      case 14 => Req("lineitem", "members", Seq("cut" -> s"l_returnflag:$flag", "nocache" -> "1"),
        "l_shipyear")
      case 15 => Req("lineitem", "members", Seq("after" -> mid.toString,
        "pagesize" -> "100", "nocache" -> "1"), "l_partkey")
      case 16 => agg("cut" -> s"l_linestatus:${pick(r, IndexedSeq("F", "O"))}",
        "drilldown" -> "l_returnflag", "share" -> "price_sum")
      case 17 => agg("drilldown" -> "l_suppkey", "share" -> "n_items")
      case 18 => agg("drilldown" -> "l_linestatus", "order" -> "price_avg:desc",
        "format" -> "csv")
      case _ => agg("cut" -> s"l_shipyear:${1997 + r.nextInt(2)}~", "drilldown" -> "l_suppkey",
        "order" -> "n_orders:desc", "page" -> r.nextInt(2).toString, "pagesize" -> "50",
        "format" -> "csv")
    }
    Iterator.continually(shuffled(r, 0 until AggBlock)).flatten.take(n).map(template).toIndexedSeq
  }

  private def shuffled(r: SplittableRandom, xs: Seq[Int]): Seq[Int] = {
    val a = xs.toArray
    for (i <- a.indices.reverse) {
      val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toSeq
  }

  /** `dashboard_reload`: treemap-frontend-shaped traffic over the static
    * and institutional OpenAPC cubes, Zipf-skewed over cubes, drilldowns,
    * cuts and page numbers. `cubes` is (cube name, cube type), ranked so
    * earlier cubes are hotter; `dois` exist in the `openapc` cube.
    */
  def dashboard(seed: Long, n: Int, cubes: IndexedSeq[(String, String)],
      dois: IndexedSeq[String]): IndexedSeq[Req] = {
    val r = new SplittableRandom(seed ^ 0xda5L)
    val cubeZ = new Corpus.Zipf(cubes.size, 1.0)
    val sumAgg = Map("apc" -> "apc_amount_sum", "apc_ac" -> "apc_amount_sum",
      "bpc" -> "bpc_amount_sum", "deal" -> "apc_amount_sum", "ta" -> "num_items")
    val drills = Map(
      "apc" -> IndexedSeq("publisher", "period", "journal_full_title", "is_hybrid", "institution", "country"),
      "apc_ac" -> IndexedSeq("cost_type", "publisher", "period", "institution"),
      "bpc" -> IndexedSeq("publisher", "period", "backlist_oa", "institution"),
      "deal" -> IndexedSeq("publisher", "opt_out", "period", "institution"),
      "ta" -> IndexedSeq("agreement", "publisher", "period", "institution"))
    val cutZ = new Corpus.Zipf(10, 1.2)
    def cut(t: String): Seq[(String, String)] = cutZ.sample(r) match {
      case 0 => Nil
      case 1 => Seq("cut" -> "period:2023")
      case 2 => Seq("cut" -> s"period:${2024 - new Corpus.Zipf(10, 1.0).sample(r)}")
      case 3 if t != "bpc" => Seq("cut" -> s"is_hybrid:${if (r.nextBoolean()) "TRUE" else "FALSE"}")
      case 4 => Seq("cut" -> "period:2018~2022")
      case 5 => Seq("cut" -> s"period:${2016 + r.nextInt(6)}~")
      case 6 => Seq("cut" -> s"publisher:${Corpus.publishers(new Corpus.Zipf(10, 1.0).sample(r))}")
      case _ => Seq("cut" -> s"period:${2015 + r.nextInt(10)}")
    }
    def one(): Req = {
      val (c, t) = cubes(cubeZ.sample(r))
      val dz = new Corpus.Zipf(drills(t).size, 1.1)
      r.nextInt(20) match {
        case k if k < 10 =>
          Req(c, "aggregate", cut(t) ++ Seq("drilldown" -> drills(t)(dz.sample(r)),
            "order" -> s"${sumAgg(t)}:desc"))
        case k if k < 14 => Req(c, "aggregate", cut(t))
        case k if k < 17 =>
          Req(c, "facts", cut(t) ++ Seq("page" -> new Corpus.Zipf(20, 1.2).sample(r).toString,
            "pagesize" -> "20"))
        case 17 => Req(c, "members", Seq("page" -> new Corpus.Zipf(5, 1.0).sample(r).toString,
            "pagesize" -> "50"), if (t == "bpc") "publisher" else "journal_full_title")
        case 18 => Req("openapc", "fact", Nil, pick(r, dois))
        case _ =>
          Req(c, "aggregate", cut(t) ++ Seq("drilldown" -> drills(t)(dz.sample(r)),
            "page" -> new Corpus.Zipf(4, 1.0).sample(r).toString, "pagesize" -> "25"))
      }
    }
    IndexedSeq.fill(n)(one())
  }
}

/** DuckDB SQL that recomputes what the server should have answered for a
  * request, mirroring graft.engine.Browser's semantics: cuts, exact-decimal
  * aggregates, ROLLUP summary, ordering with the drilldown-key tie-break,
  * offset and keyset pages, facts' full-width total order.
  *
  * `table` is a DuckDB relation with the cube frame's columns.
  */
final class OracleSql(model: CubeModel, schema: StructType, table: String) {

  private def id(c: String) = "\"" + c.replace("\"", "\"\"") + "\""
  private def str(s: String) = "'" + s.replace("'", "''") + "'"
  private def typ(c: String): DataType = schema(c).dataType

  /** A literal for column c (try_cast semantics: a malformed number → NULL). */
  private def lit(c: String, v: String): String = typ(c) match {
    case StringType => str(v)
    case _: NumericType => s"TRY_CAST(${str(v)} AS ${sqlType(typ(c))})"
    case t => s"TRY_CAST(${str(v)} AS ${sqlType(t)})"
  }
  private def sqlType(t: DataType): String = t match {
    case LongType => "BIGINT"
    case IntegerType => "INTEGER"
    case DoubleType => "DOUBLE"
    case StringType => "VARCHAR"
    case TimestampNTZType => "TIMESTAMP"
    case other => throw new IllegalArgumentException(s"no SQL type for $other")
  }

  def pred(cut: Cut): String = {
    val p = cut match {
      case PointCut(d, v, _) => s"${id(d)} = ${lit(d, v)}"
      case SetCut(d, vs, _) => s"${id(d)} IN (${vs.map(lit(d, _)).mkString(", ")})"
      case RangeCut(d, lo, hi, _) =>
        val c = if (typ(d) == StringType) s"TRY_CAST(${id(d)} AS BIGINT)" else id(d)
        val bound = (v: String) => if (typ(d) == StringType) v.toLong.toString else lit(d, v)
        (lo.map(l => s"$c >= ${bound(l)}") ++ hi.map(h => s"$c <= ${bound(h)}"))
          .reduceOption(_ + " AND " + _).getOrElse("TRUE")
    }
    if (cut.invert) s"NOT ($p)" else s"($p)"
  }

  private def where(cuts: Seq[Cut], extra: Seq[String] = Nil): String = {
    val ps = cuts.map(pred) ++ extra
    if (ps.isEmpty) "" else ps.mkString(" WHERE ", " AND ", "")
  }

  private def aggExpr(a: Aggregate): String = {
    def m = id(a.measure.get)
    val scale = a.measure.flatMap(mn => model.measures.find(_.name == mn)).flatMap(_.decimalScale)
    def dec(s: Int) = s"CAST($m AS DECIMAL(18,$s))"
    def exactSum(s: Int) = s"CAST(sum(${dec(s)}) AS DOUBLE)"
    val e = a.function match {
      case "sum" => scale.map(exactSum).getOrElse(s"sum($m)")
      case "count" => "count(*)"
      case "avg" => scale.map(s => s"${exactSum(s)} / count($m)").getOrElse(s"avg($m)")
      case "stddev" => scale.map { s =>
        val n = s"CAST(count($m) AS DOUBLE)"
        val s2 = s"CAST(sum(${dec(s)} * ${dec(s)}) AS DOUBLE)"
        s"CASE WHEN count($m) > 1 THEN sqrt(greatest(($n * $s2 - ${exactSum(s)} * ${exactSum(s)}) " +
          s"/ ($n * ($n - 1.0)), 0.0)) END"
      }.getOrElse(s"stddev_samp($m)")
      case "count_distinct" => s"count(DISTINCT $m)"
      case "min" => s"min($m)"
      case "max" => s"max($m)"
      case other => throw new IllegalArgumentException(s"no oracle for $other")
    }
    s"$e AS ${id(a.name)}"
  }

  private def aggList: String = model.aggregates.map(aggExpr).mkString(", ")

  private def dimNames(q: CubeQuery) = q.drilldown.map(model.requireDimension(_).name)

  private def orderBy(keys: Seq[Order]): String =
    if (keys.isEmpty) "" else keys.map(o =>
      if (o.desc) s"${id(o.key)} DESC NULLS LAST" else s"${id(o.key)} ASC NULLS FIRST")
      .mkString(" ORDER BY ", ", ", "")

  private def limit(p: Option[Page]): String =
    p.map(p => s" LIMIT ${p.pagesize} OFFSET ${p.offset}").getOrElse("")

  /** Lexicographic strictly-after over (column, literal, descending). */
  private def after(keys: Seq[(String, String, Boolean)]): String =
    keys.indices.map { i =>
      (keys.take(i).map { case (c, v, _) => s"${id(c)} = $v" } :+ {
        val (c, v, desc) = keys(i); if (desc) s"${id(c)} < $v" else s"${id(c)} > $v"
      }).mkString("(", " AND ", ")")
    }.mkString("(", " OR ", ")")

  private def parts(token: String, arity: Int): Seq[String] =
    if (arity == 1) Seq(token) else token.split(",", -1).toSeq

  def summary(q: CubeQuery): String = s"SELECT $aggList FROM $table${where(q.cuts)}"

  private def grouped(q: CubeQuery): String = {
    val ds = dimNames(q).map(id).mkString(", ")
    s"SELECT $ds, $aggList FROM $table${where(q.cuts)} GROUP BY $ds"
  }

  def cellCount(q: CubeQuery): String = s"SELECT count(*) AS n FROM (${grouped(q)})"

  private def tie(q: CubeQuery): Seq[Order] =
    q.drilldown.filterNot(d => q.orders.exists(_.key == d)).map(Order(_))

  def cells(q: CubeQuery): String = {
    val dims = dimNames(q)
    val post = q.after.map { token =>
      if (q.orders.nonEmpty) {
        val o = q.orders.head
        val ps = parts(token, 1 + dims.size)
        val aggT = if (model.aggregate(o.key).exists(a =>
          a.function.startsWith("count"))) "BIGINT" else "DOUBLE"
        after((o.key, s"TRY_CAST(${str(ps.head)} AS $aggT)", o.desc) +:
          dims.zip(ps.tail).map { case (d, v) => (d, lit(d, v), false) })
      } else after(dims.zip(parts(token, dims.size)).map { case (d, v) => (d, lit(d, v), false) })
    }
    s"SELECT * FROM (${grouped(q)}) c${post.map(" WHERE " + _).getOrElse("")}" +
      orderBy(q.orders ++ tie(q)) + limit(q.page)
  }

  def share(q: CubeQuery, agg: String): String =
    s"SELECT c.*, c.${id(agg)} / (SELECT ${id(agg)} FROM (${summary(q)})) * 100.0 " +
      s"AS ${id(agg + "_pct")} FROM (${grouped(q)}) c" + orderBy(q.orders ++ tie(q)) + limit(q.page)

  private def factsOrder: Seq[Order] =
    (model.factKey ++ (if (model.factKeyUnique) Nil
      else schema.fieldNames.filterNot(model.factKey.contains).toSeq)).map(Order(_))

  def facts(q: CubeQuery, recordLimit: Int = 500): String = {
    val page = q.page.orElse(Some(Page(0, recordLimit)))
    val keyset = q.after.map(t => after(model.factKey.zip(parts(t, model.factKey.size))
      .map { case (k, v) => (k, lit(k, v), false) }))
    s"SELECT * FROM $table${where(q.cuts, keyset.toSeq)}" +
      orderBy(q.orders ++ factsOrder) + limit(page)
  }

  def fact(idValue: String): String = {
    val eq = model.factKey.zip(parts(idValue, model.factKey.size))
      .map { case (k, v) => s"${id(k)} = ${lit(k, v)}" }
    s"SELECT * FROM $table WHERE ${eq.mkString(" AND ")}" + orderBy(factsOrder) + " LIMIT 1"
  }

  def members(dim: String, q: CubeQuery): String = {
    val d = model.requireDimension(dim).name
    val keyset = q.after.map(t => s"${id(d)} > ${lit(d, t)}")
    s"SELECT DISTINCT ${id(d)} FROM $table${where(q.cuts, keyset.toSeq)}" +
      orderBy(Seq(Order(d))) + limit(q.page)
  }

  /** The check spec for one request: the SQL of each part of the expected
    * response, in the response's shape.
    */
  def spec(req: Req): java.util.Map[String, Any] = {
    val q = req.query
    val m = new java.util.LinkedHashMap[String, Any]()
    val csv = req.param("format").contains("csv")
    val share = req.param("share").filter(_.nonEmpty)
    req.endpoint match {
      case "aggregate" if share.nonEmpty =>
        m.put("shape", if (csv) "csv" else "share"); m.put("rows", this.share(q, share.get))
      case "aggregate" if q.drilldown.isEmpty =>
        m.put("shape", if (csv) "csv" else "aggregate"); m.put("summary", summary(q))
        if (csv) m.put("rows", summary(q))
      case "aggregate" =>
        m.put("shape", if (csv) "csv" else "aggregate")
        m.put("summary", summary(q)); m.put("cells", cells(q)); m.put("count", cellCount(q))
        if (csv) m.put("rows", cells(q))
      case "facts" => m.put("shape", "facts"); m.put("rows", facts(q))
      case "fact" => m.put("shape", "fact"); m.put("rows", fact(req.arg))
      case "members" =>
        m.put("shape", "members"); m.put("dimension", req.arg); m.put("rows", members(req.arg, q))
    }
    m
  }
}
