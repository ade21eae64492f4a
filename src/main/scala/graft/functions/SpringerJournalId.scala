package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Springer journal-id extraction from a DOI — the deterministic part of the
  * reference's `_get_springer_journal_id_from_doi`
  * (springer_compact_coverage.py:295-339), expressed as a codegen-friendly
  * `when`-chain instead of a UDF (SURVEY.md B20).
  *
  * Rules (same order as the reference):
  *   1. regular prefixes -> digits 10..14 of the DOI, left-stripped of zeros
  *   2. three hardcoded irregular prefixes
  *   3. EPJ-family / CPHA prefixes (10.1140, 10.17269) -> resolvable only
  *      via the issn-keyed cache (journal_ids.json; the reference's HTTP
  *      landing-page fallback stays outside the engine) — this function
  *      returns NULL for those, callers coalesce with a broadcast-joined
  *      cache column.
  *   4. anything else is not a Springer DOI -> NULL (the reference raises;
  *      strict-mode validation is a separate anti-join step, SURVEY.md B23).
  */
object SpringerJournalId {

  val regularPrefixes: Seq[String] = Seq(
    "10.1007/s", "10.3758/s", "10.1245/s", "10.1617/s", "10.1186/s",
    "10.1208/s", "10.1365/s", "10.1038/s", "10.1057/s", "10.2478/s",
    "10.1557/s")

  private def startsWithAny(c: Column, prefixes: Seq[String]): Column =
    prefixes.map(p => c.startsWith(p)).reduce(_ || _)

  /** doi[9:14].lstrip("0") — substring is 1-based in Spark SQL. */
  private def idFromDoi(doi: Column): Column =
    regexp_replace(substring(doi, 10, 5), "^0+", "")

  /** Direct (cache-free) extraction; NULL where the cache or validation must
    * take over. Pure expression — inlines into whole-stage codegen.
    */
  def directJournalId(doi: Column): Column =
    when(startsWithAny(doi, regularPrefixes), idFromDoi(doi))
      .when(doi.startsWith("10.14283"), lit("42415")) // Journal of Frailty & Aging
      .when(doi.startsWith("10.1631"), lit("11582"))  // J Zhejiang Univ-SCIENCE A
      .when(doi.startsWith("10.3938/jkps"), lit("40042")) // J Korean Phys Soc
      .otherwise(lit(null))
}
