package graft.query

/** The slicer query dialect as an AST + parser.
  *
  * Grammar observed in the reference's usage doc (/root/reference/HOWTO.md):
  *   - `cut=dim:value` — point cut (HOWTO.md:73-77)
  *   - `cut=dim:lo~hi` — inclusive range cut, open ends allowed
  *     (`~2016`, `2014~`; HOWTO.md:77-79)
  *   - `cut=a:x|b:y` — `|`-separated conjunction (HOWTO.md:87-91)
  *   - `dim:v1;v2` — set cut (cubes dialect; `;`-separated members)
  *   - `!dim:v` — negated cut (cubes dialect)
  *   - `drilldown=d1|d2` — group-by dimensions (HOWTO.md:59,65-67)
  *   - `order=key` / `order=key:desc` — sort by attribute or aggregate name,
  *     comma-separated list (HOWTO.md:61-63,89)
  *   - `page`+`pagesize` — 0-based pagination, both required (HOWTO.md:15,41-42)
  *
  * Colons inside data values are impossible by construction — the reference
  * scrubs them at ETL time (assets_generator.py:429-431), so `:` always
  * separates dimension from value.
  */
sealed trait Cut {
  def dim: String
  def invert: Boolean
  def render: String
}

final case class PointCut(dim: String, value: String, invert: Boolean = false) extends Cut {
  def render: String = s"${if (invert) "!" else ""}$dim:$value"
}

/** `;`-separated member set (disjunction within one dimension). */
final case class SetCut(dim: String, values: Seq[String], invert: Boolean = false) extends Cut {
  def render: String = s"${if (invert) "!" else ""}$dim:${values.mkString(";")}"
}

/** Inclusive range; only legal on a `rangeable` dimension (HOWTO.md:79:
  * "period is the only dimension where this is possible"). Values compare
  * numerically (the column may be a string year).
  */
final case class RangeCut(dim: String, lo: Option[String], hi: Option[String],
    invert: Boolean = false) extends Cut {
  def render: String =
    s"${if (invert) "!" else ""}$dim:${lo.getOrElse("")}~${hi.getOrElse("")}"
}

final case class Order(key: String, desc: Boolean = false)

/** 0-based page. The reference caps pagesize at 500 (slicer.ini:6). */
final case class Page(page: Int, pagesize: Int) {
  require(page >= 0, "page must be >= 0")
  require(pagesize > 0, "pagesize must be > 0")
  def offset: Int = page * pagesize
}

final case class CubeQuery(
    cuts: Seq[Cut] = Nil,
    drilldown: Seq[String] = Nil,
    orders: Seq[Order] = Nil,
    page: Option[Page] = None,
    // facts-listing column projection (cubes `fields=` param, comma-sep)
    fields: Seq[String] = Nil,
    // keyset continuation token (`after=` param): the factKey of the last
    // row already seen — O(page) deep pagination instead of O(offset+page)
    after: Option[String] = None) {
  def renderCut: String = cuts.map(_.render).mkString("|")
}

object QueryParser {
  /** Parse a full parameter map (already URL-decoded values). */
  def parse(params: Map[String, String]): CubeQuery = {
    val cuts = params.get("cut").filter(_.nonEmpty).map(parseCuts).getOrElse(Nil)
    val dd = params.get("drilldown").filter(_.nonEmpty)
      .map(_.split('|').toSeq.map(_.trim).filter(_.nonEmpty)).getOrElse(Nil)
    val orders = params.get("order").filter(_.nonEmpty).map(parseOrders).getOrElse(Nil)
    val after = params.get("after").filter(_.nonEmpty)
    val page = (params.get("page"), params.get("pagesize")) match {
      case (Some(p), Some(ps)) =>
        if (after.isDefined) throw new IllegalArgumentException(
          "after= (keyset) and page= (offset) pagination are mutually exclusive")
        Some(Page(p.toInt, ps.toInt))
      // keyset pagination: the token replaces the page number; pagesize
      // alone gives the limit
      case (None, Some(ps)) if after.isDefined => Some(Page(0, ps.toInt))
      case (None, None) => None
      case _ => throw new IllegalArgumentException(
        "pagination requires BOTH page and pagesize (HOWTO.md:15)")
    }
    val fields = params.get("fields").filter(_.nonEmpty)
      .map(_.split(',').toSeq.map(_.trim).filter(_.nonEmpty)).getOrElse(Nil)
    CubeQuery(cuts, dd, orders, page, fields, after)
  }

  def parseCuts(s: String): Seq[Cut] = s.split('|').toSeq.filter(_.nonEmpty).map(parseCut)

  def parseCut(s0: String): Cut = {
    val invert = s0.startsWith("!")
    val s = if (invert) s0.substring(1) else s0
    val i = s.indexOf(':')
    if (i < 0) throw new IllegalArgumentException(s"malformed cut '$s0' (expected dim:value)")
    val dim = s.substring(0, i)
    val v = s.substring(i + 1)
    if (v.contains('~')) {
      val j = v.indexOf('~')
      val lo = v.substring(0, j); val hi = v.substring(j + 1)
      RangeCut(dim, Some(lo).filter(_.nonEmpty), Some(hi).filter(_.nonEmpty), invert)
    } else if (v.contains(';')) {
      SetCut(dim, v.split(';').toSeq.filter(_.nonEmpty), invert)
    } else PointCut(dim, v, invert)
  }

  def parseOrders(s: String): Seq[Order] =
    s.split(',').toSeq.map(_.trim).filter(_.nonEmpty).map { o =>
      o.split(':') match {
        case Array(k) => Order(k)
        case Array(k, dir) => Order(k, dir.equalsIgnoreCase("desc"))
        case _ => throw new IllegalArgumentException(s"malformed order '$o'")
      }
    }
}
