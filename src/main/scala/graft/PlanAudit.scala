package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

/** Physical-plan audit: executes each (batch) SparkEntry query and reports
  * the plan properties the scale story rests on — shuffle count, join
  * strategies, parquet filter pushdown, whole-stage-codegen coverage.
  * `main` writes PLANS.md; PlanSpec pins the key invariants.
  */
object PlanAudit {

  final case class Audit(name: String, shuffles: Int, broadcastJoins: Int,
      sortMergeJoins: Int, nestedLoopJoins: Int, cartesian: Int,
      codegenSpans: Int, scans: Int, scansWithPushdown: Int)

  /** The FINAL adaptive plan, with query stages unwrapped for traversal. */
  private def finalPlan(p: SparkPlan): Seq[SparkPlan] = {
    val root = p match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case other => other
    }
    // flatten: QueryStageExec is a leaf in collect(), so recurse into it
    def walk(n: SparkPlan): Seq[SparkPlan] = n match {
      case q: QueryStageExec => n +: walk(q.plan)
      case a: AdaptiveSparkPlanExec => n +: walk(a.executedPlan)
      case _ => Seq(n) ++ n.children.flatMap(walk) ++ n.subqueries.flatMap(walk)
    }
    walk(root)
  }

  def audit(name: String, df: DataFrame): Audit = {
    df.collect() // materialize so AQE settles on the real plan
    val nodes = finalPlan(df.queryExecution.executedPlan)
    def count(pred: SparkPlan => Boolean) = nodes.count(pred)
    val scans = nodes.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    Audit(
      name,
      shuffles = count(_.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeLike]),
      broadcastJoins = count(n =>
        n.isInstanceOf[org.apache.spark.sql.execution.joins.BroadcastHashJoinExec]),
      sortMergeJoins = count(_.isInstanceOf[org.apache.spark.sql.execution.joins.SortMergeJoinExec]),
      nestedLoopJoins = count(_.isInstanceOf[org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec]),
      cartesian = count(_.isInstanceOf[org.apache.spark.sql.execution.joins.CartesianProductExec]),
      codegenSpans = count(_.isInstanceOf[org.apache.spark.sql.execution.WholeStageCodegenExec]),
      scans = scans.size,
      scansWithPushdown = scans.count(_.metadata.get("PushedFilters")
        .exists(s => s != "[]" && s.nonEmpty)))
  }

  /** Batch queries only (streaming/DDL-driven ones manage their own runs).
    * Shared with PlanSpec so the two lists cannot drift.
    */
  val skip: Set[String] = Set("x20_stream_tumbling", "x22_stream_sessionize",
    "x23_incremental_cube", "x28_bucketed_join", "x30_stream_dedup",
    "x49_stream_incr_dedup", "x77_stream_funnel", "x84_stream_interval_join",
    "x93_stream_enrich")

  /** Appendix: every UNPARTITIONED ordered window in main (the one plan
    * shape that cannot scale when its frame is rows-sized), classified by
    * the frame it actually runs over. The sweep is AUTOMATED since round
    * 12: WindowSweepSpec scans src/main on every build (comments/strings
    * stripped), labels each bare `Window.orderBy` by its enclosing query,
    * and fails if the multiset drifts from its audited list — adding a
    * NEW unpartitioned window over a rows-scale frame breaks `sbt test`
    * until the author rides `operators/Ranks` (globalRowNumber /
    * globalCumSums / ntileOfRank) instead, as x63/x139/x193/x170 do, or
    * classifies the new site's frame bound both there and here.
    */
  val WindowAuditAppendix: String =
    """
      |## Appendix: unpartitioned-window audit (frame bounds)
      |
      |Every `Window.orderBy` with NO `partitionBy` in `src/main`, and the
      |bound on the frame it sorts. "value-grouped" = the window input is a
      |`groupBy` on a quantized value, so the frame is |distinct values|
      |(bounded by the quantization, not by rows). Rows-scale ranks and
      |cumsums ride the `Ranks` bucket-prefix-sum device (RanksSpec pins
      |device ≡ naive window; the DuckDB oracles keep the naive forms, so
      |every hash match re-proves losslessness).
      |
      || site | frame the window sorts | bound | verdict |
      ||---|---|---|---|
      || Ranks.globalRowNumber / globalCumSums offsets | per-bucket counts | #buckets (caller-chosen, ≪ rows) | safe |
      || Shards.epochShards offsets | (priority × ticket-prefix) counts | bands × 16^hexChars | safe |
      || x63 / x139 / x193 rank (via Ranks) | — replaced by device | no global sort | safe |
      || x170 cumsums (via Ranks.globalCumSums) | — replaced by device | no global sort | safe |
      || x88 / x162 / x192 / x201 / x203 cum | groupBy(score) | distinct 6-dp scores (quantization-bounded) | safe |
      || x134 / x166 / x167 cum | groupBy(micro-quantized value) | distinct micro-ints | safe |
      || x196 q̂ cum | groupBy(nano-quantized nonconformity) | distinct values | safe |
      || x151 / x152 histogram prefix | count-of-counts | distinct counts, O(√T) under Zipf | safe |
      || x197 p99 cum + daily cums | count-of-counts; per-day | distinct counts; #days | safe |
      || x191 / x198 risk-set cums | death times | #distinct days | safe |
      || x113 offsets | n_chars div 64 buckets | max doc len / 64 | safe |
      || x127 retention | funnel stages | 5 | safe |
      || x128 quota remainders | per-source rows | #sources | safe |
      || x225 Neyman remainders | per-source rows | #sources | safe |
      || x142 Zipf rank / x153 Hill | top-100 / top-51 cut upstream | ≤ 100 / ≤ 51 | safe |
      || x169 HITS rank | top-10 cut upstream (TakeOrderedAndProject) | ≤ 10 | safe |
      || x211 slope rank | pairwise day slopes | #days² (calendar-bounded) | safe |
      || x213 budget cumsum | per-source token totals | #sources | safe |
      || x217 rank maps | value histograms | distinct lengths (range-bounded) | safe |
      || x171 BH rank | per-source χ² rows | #sources | safe |
      || x193 decile cum | decile aggregates | 10 | safe |
      |
      |No unpartitioned window in main sorts a rows-scale frame.
      |""".stripMargin

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val out = args.lift(1).getOrElse("PLANS.md")
    val spark = graft.engine.GraftSession(logLevel = "ERROR")
    val rows = SparkEntry.queries.toSeq.sortBy(_._1)
      .filterNot(q => skip(q._1))
      .map { case (name, fn) =>
        val a = try audit(name, fn(spark, sfDir))
        catch { case e: Throwable =>
          System.err.println(s"[plan] $name failed: ${e.getMessage}")
          Audit(name, -1, -1, -1, -1, -1, -1, -1, -1)
        }
        graft.engine.CacheScope.drain()
        a
      }
    val sb = new StringBuilder
    sb ++= "# PLANS — physical-plan audit of every batch query\n\n"
    sb ++= s"Generated by `graft.PlanAudit` on `$sfDir`. Counts are over the\n"
    sb ++= "FINAL adaptive plan after execution (AQE query stages unwrapped).\n"
    sb ++= "`pushdown` = scans whose PushedFilters is non-empty / total scans.\n"
    sb ++= "Streaming queries (x20/x22/x23) and the DDL-driven x28 are audited\n"
    sb ++= "by their specs instead (StreamingSpec, LayoutSpec no-shuffle proof).\n"
    sb ++= "An all-zero row (x79 at this sf) means the query returned no rows\n"
    sb ++= "and AQE propagated empty relations through the whole plan — the\n"
    sb ++= "join shape for those is locked by spec instead (MultimodalSpec's\n"
    sb ++= "banding-vs-brute-force equality on planted near-dups).\n\n"
    sb ++= "Reading the table — the patterns behind the counts:\n\n"
    sb ++= "- **No CartesianProductExec anywhere** (PlanSpec pins this): the\n"
    sb ++= "  all-pairs-shaped operators (x06/x09/x10/x29) pair rows through\n"
    sb ++= "  equi-joins on shingle hashes / LSH buckets / broadcast of a\n"
    sb ++= "  bounded query set, never a shuffled cross product.\n"
    sb ++= "- `a*` queries carry 2-3 shuffles because the cube model includes\n"
    sb ++= "  an EXACT `count_distinct` aggregate — Catalyst plans distinct\n"
    sb ++= "  aggregation as two exchange phases (expand → partial → final) —\n"
    sb ++= "  plus the contract's globally ordered output. The opt-in\n"
    sb ++= "  `approx_count_distinct` aggregate collapses those to one pass\n"
    sb ++= "  at scale (SURVEY A15).\n"
    sb ++= "- BNLJ appearances are deliberate broadcasts of O(1)-row sides:\n"
    sb ++= "  x09/x10/x13 broadcast a bounded query/centroid set against the\n"
    sb ++= "  item scan — the stream side stays partition-parallel with no\n"
    sb ++= "  shuffle. a17 goes one further: the two-level rollup's output is\n"
    sb ++= "  cells-sized, so it is collected ONCE and the served cells frame\n"
    sb ++= "  is a LocalRelation with the grand total embedded as a foldable\n"
    sb ++= "  literal — no persist, no join, no second scan (scans 0/0);\n"
    sb ++= "  PlanSpec pins the no-rescan invariant.\n"
    sb ++= "- `pushdown 0/N` rows are queries with no filter to push (full\n"
    sb ++= "  scans by construction) or inputs arriving through exploded/\n"
    sb ++= "  persisted intermediates rather than a direct file scan.\n"
    sb ++= "- AQE picks broadcast joins (BHJ) for the self-join sides at test\n"
    sb ++= "  SF; at cluster scale the same plans degrade gracefully to\n"
    sb ++= "  shuffled hash / sort-merge joins on the same keys — nothing in\n"
    sb ++= "  the plan shape depends on a side fitting in memory.\n\n"
    sb ++= "| query | shuffles | BHJ | SMJ | BNLJ | cartesian | codegen spans | pushdown |\n"
    sb ++= "|---|---|---|---|---|---|---|---|\n"
    rows.foreach { a =>
      sb ++= s"| ${a.name} | ${a.shuffles} | ${a.broadcastJoins} | " +
        s"${a.sortMergeJoins} | ${a.nestedLoopJoins} | ${a.cartesian} | " +
        s"${a.codegenSpans} | ${a.scansWithPushdown}/${a.scans} |\n"
    }
    sb ++= WindowAuditAppendix
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), sb.toString)
    println(s"wrote $out (${rows.size} queries)")
    spark.stop()
  }
}
