package graft

import scala.util.chaining._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables.table
import graft.functions.TextFunctions
import graft.operators.{Dedup, Similarity}

/** Stream-maintained twins and streaming extension queries (additive-state decompositions gated by their batch oracles) — extracted verbatim from ExtensionQueries in the
  * r14 per-family split; shared helpers live in
  * [[ExtQueriesBase]] (self-type), the aggregated maps in
  * [[ExtensionQueries]]. */
private[graft] trait ExtStreamQueries { this: ExtQueriesBase =>

  private[graft] def streamQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // x19: bucketized range join — every event assigned to the session
    // interval containing it (equi-key user_id + ts∈[start,end]); the
    // nested-loop-free interval join, oracle = plain BETWEEN join
    "x19_range_join" -> ((s, dir) => {
      val sess = graft.streaming.StreamOps
        .sessionizeBatch(Tables.events(s, dir), gapMinutes = 30)
        .select(col("user_id"), col("session_seq"),
          unix_micros(col("session_start")).as("lo"),
          unix_micros(col("session_end")).as("hi"))
      val ev = Tables.events(s, dir)
        .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("t"))
      graft.operators.RangeJoin.intervalJoin(ev, sess, Seq("user_id"),
        pointCol = "t", loCol = "lo", hiCol = "hi",
        bucketWidth = 30L * 60 * 1000000) // 30 min in micros ≈ session gap
        .groupBy(col("user_id"), col("session_seq"))
        .agg(count(lit(1)).as("n_events"))
        .orderBy(col("user_id"), col("session_seq"))
    }),
    // x49: STREAMING incremental dedup — x47's shape as the crawl lands:
    // odd doc_ids stream in, each micro-batch signs itself and joins the
    // static even-id corpus index (foreachBatch; batch_id-partitioned
    // idempotent append). The staged batch-side tables recompute the same
    // deterministic signatures the stream computes per batch (minhash is
    // a pure function of text), so the DuckDB re-derivation is exact.
    "x49_stream_incr_dedup" -> ((s, dir) => {
      val d = table(s, dir, "documents")
      val corpus = Dedup.minhashIndex(
        d.filter(col("doc_id") % 2 === 0), "doc_id", "text", k = 3)
      val batch = Dedup.minhashIndex(
        d.filter(col("doc_id") % 2 === 1), "doc_id", "text", k = 3)
      Stage.write(corpus.bands, dir, "x49_corpus_bands")
      Stage.write(corpus.shingles, dir, "x49_corpus_sh")
      Stage.write(batch.bands, dir, "x49_batch_bands")
      Stage.write(batch.shingles, dir, "x49_batch_sh")
      graft.streaming.StreamOps.incrementalDedupStream(s,
        s"$dir/documents.parquet", "doc_id", "text", corpus, threshold = 0.8,
        pairsDir = graft.streaming.StreamOps.scratchDir("incrdedup", dir),
        where = col("doc_id") % 2 === 1)
        .orderBy(col("id_new"), col("id_corpus"))
    }),
    // x67: STREAMING ANN index maintenance — embeddings stream in,
    // each micro-batch IVF-assigns + PQ-encodes against the fitted
    // (Fitted-cached) models and appends batch_id-partitioned index rows
    // (exactly-once dynamic overwrite). Assignment/encoding are per-item
    // pure functions of (vector, model), so the stream-built index must
    // equal the batch build ROW FOR ROW: the staged batch index IS the
    // oracle.
    "x67_stream_index" -> ((s, dir) => {
      val centroids = ivfCentroids(s, dir)
      val cb = pqCodebooks(s, dir)
      val e = embeddingsD(s, dir)
      Stage.write(
        graft.operators.Ivf.assign(e, "vec_id", "vec", centroids)
          .join(graft.operators.Pq.encode(e, "vec_id", "vec", cb,
            dim = 64, m = 4), Seq("id")),
        dir, "x67_batch_index")
      graft.streaming.StreamOps.indexMaintenanceStream(s,
        s"$dir/embeddings.parquet", "vec_id", "vec", centroids, cb,
        dim = 64, m = 4,
        indexDir = graft.streaming.StreamOps.scratchDir("streamindex", dir),
        prep = b => b.withColumn("vec",
          transform(col("embedding"), x => x.cast("double"))),
        maxFilesPerTrigger = Some(1))
        .select(col("id").as("vec_id"), col("centroid_id"), col("sub"),
          col("code"))
        .orderBy(col("vec_id"), col("sub"))
    }),
    // x20: tumbling-window streaming aggregate (actual readStream +
    // AvailableNow + memory sink); oracle = the batch-equivalent SQL
    "x20_stream_tumbling" -> ((s, dir) =>
      graft.streaming.StreamOps
        .tumblingAggStreaming(s, s"$dir/events.parquet", "1 hour")
        .orderBy(col("window_start"), col("event_type"))),
    // x21: batch sessionization (gaps-and-islands, 30-min gap)
    "x21_sessionize_batch" -> ((s, dir) =>
      graft.streaming.StreamOps
        .sessionizeBatch(Tables.events(s, dir), gapMinutes = 30)
        .orderBy(col("user_id"), col("session_seq"))),
    // x22: streaming sessionization via flatMapGroupsWithState (rows-only;
    // equality with the batch result is locked by StreamingSpec)
    "x22_stream_sessionize" -> ((s, dir) =>
      graft.streaming.StreamOps
        .sessionizeStreaming(s, s"$dir/events.parquet", gapMinutes = 30)
        .orderBy(col("user_id"), col("session_seq"))),
    // x23: incremental cube maintenance — foreachBatch upsert with dynamic
    // partition overwrite (replaces the reference's full rebuild,
    // update_olap.sh:12-16); oracle = the batch aggregate over all events
    "x23_incremental_cube" -> ((s, dir) => {
      val tmp = graft.streaming.StreamOps.scratchDir("x23", dir)
      graft.streaming.StreamOps.incrementalCubeMaintenance(s,
        s"$dir/events.parquet", s"$tmp/cube", s"$tmp/ckpt")
      graft.streaming.StreamOps.readCube(s, s"$tmp/cube")
        .select(col("day"), col("event_type"), col("n"),
          graft.functions.EngineMath.roundAway(col("value_sum"), 2).as("value_sum"))
        .orderBy(col("day"), col("event_type"))
    }),
    // x61: STREAM-maintained count-min sketch — per-micro-batch sketches
    // merged by element-wise sum (CMS merge is exact), scored with the
    // same top-20 candidate read as x55 and gated by the SAME oracle:
    // stream-merge ≡ batch build is the claim, and DuckDB's independent
    // sketch rebuild is the judge.
    "x61_stream_cms" -> ((s, dir) => {
      val sk = graft.streaming.StreamOps.sketchStream(s,
        s"$dir/documents.parquet", "text", CmsDepth, CmsWidth,
        graft.streaming.StreamOps.scratchDir("cms", dir))
      cmsTop20(table(s, dir, "documents")
        .select(explode(TextFunctions.tokens(col("text"))).as("term")), sk.toSeq)
    }),
    // x77: the x75 funnel as an ACTUAL streaming query (AvailableNow
    // drain, O(1)/user state) — oracle: the batch-equivalent SQL
    "x77_stream_funnel" -> ((s, dir) =>
      graft.streaming.StreamOps.funnelStreaming(s, s"$dir/events.parquet",
        Seq("view", "click", "purchase"))),
    // x84: stream-STREAM interval join (click attribution as two live
    // streams) — both sides watermarked, the join condition time-bounded,
    // so buffered state evicts at the watermark horizon; the AvailableNow
    // drain equals the batch interval join the oracle re-derives
    "x84_stream_interval_join" -> ((s, dir) =>
      graft.streaming.StreamOps.intervalJoinStreaming(s,
        s"$dir/events.parquet",
        leftType = "view", rightType = "click", withinMinutes = 30)),
    // x93: stream-STATIC broadcast enrichment (B5's dimension join as a
    // live stream) — the dim never streams and never builds state; the
    // oracle is the batch join+aggregate the Complete-mode drain equals
    "x93_stream_enrich" -> ((s, dir) =>
      graft.streaming.StreamOps.enrichedCountStreaming(s,
        s"$dir/events.parquet",
        dim = table(s, dir, "customer"), dimKey = "c_custkey",
        dimAttr = "c_mktsegment")),
    // x30: STREAMING exact dedup — the x05 aggregate maintained statefully
    // as documents arrive (readStream + Complete mode); same oracle as the
    // batch dedup, proving stream≡batch for the dedup-group contract
    "x30_stream_dedup" -> ((s, dir) =>
      graft.streaming.StreamOps
        .dedupStreaming(s, s"$dir/documents.parquet", "doc_id", "text")
        .orderBy(col("fingerprint"))),
    // x32: sliding-window aggregate (1h window / 30m slide — each event in
    // exactly 2 overlapping buckets); oracle enumerates the slide-grid
    // starts per event in DuckDB
    "x32_sliding_window" -> ((s, dir) =>
      graft.streaming.StreamOps
        .slidingAggBatch(Tables.events(s, dir), "1 hour", "30 minutes")
        .orderBy(col("window_start"), col("event_type"))),
    // x123: the STREAM-maintained twin of x121 — the additive daily
    // counts build incrementally in one stateful aggregate (the only
    // rows-scale work); the shared read-time fold derives the smoother
    // over the bounded day axis. Same oracle as x121: the whole point is
    // stream ≡ batch.
    "x123_stream_ewma" -> ((s, dir) =>
      ewmaOverDaily(graft.streaming.StreamOps.dailyCountsStreaming(
        s, s"$dir/events.parquet"))),
    // x149: the STREAM-maintained twin of x144 — daily counts build
    // incrementally in x123's stateful aggregate (re-summed over the
    // bounded type axis at read time; addition is exact, so stream ≡
    // batch), then the SAME shared CUSUM read. Same oracle as x144:
    // the changepoint monitor must land exactly where the batch scan
    // does.
    "x149_stream_cusum" -> ((s, dir) =>
      cusumOverDaily(graft.streaming.StreamOps.dailyCountsStreaming(
        s, s"$dir/events.parquet")
        .groupBy(col("day")).agg(sum(col("n")).as("c")))),
    // x176: the STREAM-maintained twin of x166 — drift monitoring is
    // the production use of PSI, so the additive (source, bin) counts
    // build incrementally in ONE stateful aggregate (the only
    // rows-scale work; the x123/x149 decomposition) and the SHARED
    // read-time derivation computes PSI over the bounded |sources|×10
    // cell table. Same oracle as x166: stream ≡ batch is the point.
    "x176_stream_psi" -> ((s, dir) =>
      psiOverBinCounts(s, graft.streaming.StreamOps
        .qualityBinCountsStreaming(s, s"$dir/documents.parquet"))),
    // x177: the STREAM-maintained twin of x167 — per-micro-value cohort
    // counts accumulate in one stateful aggregate; the SHARED read-time
    // cumsum + exact pre-widened integer numerator derive W₁ over the
    // bounded distinct-value axis. Same oracle as x167.
    "x177_stream_w1" -> ((s, dir) =>
      w1OverCounts(graft.streaming.StreamOps
        .valueCohortCountsStreaming(s, s"$dir/events.parquet"))),
    // x199: the STREAM-maintained twin of x190 — the ACF's state is one
    // ADDITIVE (type, day) aggregate (the x123/x149/x176 decomposition:
    // accumulate integers in the stream, derive at read time), so the
    // seasonality fingerprint is maintainable incrementally; the SHARED
    // acfOverDaily read derives moments, lag pairs, and AcfSql over the
    // bounded (types × days) frame. Same oracle as x190: stream ≡ batch
    // is the point.
    "x199_stream_acf" -> ((s, dir) =>
      acfOverDaily(graft.streaming.StreamOps
        .dailyValueSumsStreaming(s, s"$dir/events.parquet"))),
    // x238: the STREAM-MAINTAINED twin of x234 — sequential monitoring is
    // the production use of an always-valid p-value, and the per-(day,
    // variant) cells it reads are ADDITIVE, so they accumulate in one
    // stateful aggregate (StreamOps.abDayCellsStreaming, Complete mode);
    // the non-additive mSPRT derivation stays the read-time fold shared
    // verbatim with x234 (the x176/x177/x190 decomposition contract).
    "x238_stream_msprt" -> ((s, dir) =>
      msprtOverDayCells(graft.streaming.StreamOps
        .abDayCellsStreaming(s, s"$dir/events.parquet"))),
    // x247: the STREAM-MAINTAINED twin of x242 — governance scanning is
    // a scan-on-ingest job, and since the per-token entropy is computed
    // per ROW (HOF fold of integer ticks — no intermediate aggregate),
    // the per-source cells are additive and accumulate in ONE stateful
    // aggregate (StreamOps.secretCellsStreaming); the rollup division is
    // read-time, shared verbatim with x242.
    "x247_stream_secret_scan" -> ((s, dir) =>
      secretRollup(graft.streaming.StreamOps
        .secretCellsStreaming(s, s"$dir/documents.parquet"))),
    // x250: STREAM-MAINTAINED exact percentiles — P50/P95/P99 per type
    // from the additive (type, micro-value) histogram
    // (StreamOps.valueHistStreaming): a sort-requiring statistic made
    // streamable because the histogram is the sufficient state and the
    // quantile_cont interpolation is read-time arithmetic over cumsums
    // (sloOverValueHist — the window frame is |distinct micro-values|,
    // value-domain-bounded, the x177 contract). The oracle re-derives
    // quantile_cont over the same micro-quantized values from the raw
    // table — a genuinely different evaluation strategy (sort vs
    // histogram walk) proving the interpolation exact.
    "x250_stream_slo" -> ((s, dir) =>
      sloOverValueHist(s, graft.streaming.StreamOps
        .valueHistStreaming(s, s"$dir/events.parquet"))),
    // x263: the STREAM-MAINTAINED twin of x254 — a privacy-preserving
    // datacard maintained on ingest: per-source counts are the trivially
    // ADDITIVE state (one stateful aggregate), and the ENTIRE DP
    // mechanism (budget explode, ticket, inverse-CDF draw) is read-time,
    // shared verbatim with the batch via dpCountRelease — so the
    // released numbers cannot drift between engine halves, and x254's
    // oracle gates the stream bit-for-bit.
    "x263_stream_dp_counts" -> ((s, dir) =>
      dpCountRelease(graft.streaming.StreamOps
        .sourceCountsStreaming(s, s"$dir/documents.parquet"),
        ticketSalt = "dp1")),
    // x258: the STREAM-MAINTAINED twin of x255 — source-concentration
    // monitoring is the production use, and Gini is a SORT-requiring
    // statistic: the additive per-(source, length) histogram is the
    // sufficient state (one stateful aggregate, length-domain-bounded
    // per the x177 contract) and the rank-block arithmetic is read-time
    // (giniOverLengthHist). Gated bit-for-bit by x255's oracle — the
    // x250 exact-percentile device applied to a Lorenz functional.
    "x258_stream_gini" -> ((s, dir) =>
      giniOverLengthHist(graft.streaming.StreamOps
        .docLengthHistStreaming(s, s"$dir/documents.parquet"))),
  )

  private[graft] def streamOracles: Map[String, String] = Map(
    // batch join+aggregate the Complete-mode streaming drain equals
    "x93_stream_enrich" ->
      ("SELECT c.c_mktsegment, e.event_type, CAST(count(*) AS BIGINT) AS n " +
        "FROM events e JOIN customer c ON e.user_id = c.c_custkey " +
        "GROUP BY 1, 2 ORDER BY 1, 2"),
    "x20_stream_tumbling" ->
      ("SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start, event_type, " +
        "count(*) AS n, round(sum(value), 2) AS value_sum " +
        "FROM events GROUP BY 1, 2 ORDER BY 1, 2"),
    "x23_incremental_cube" ->
      ("SELECT CAST(ts AS DATE) AS day, event_type, count(*) AS n, " +
        "round(sum(value), 2) AS value_sum FROM events GROUP BY 1, 2 ORDER BY 1, 2"),
    "x21_sessionize_batch" ->
      (s"$sessionCte " +
        "SELECT user_id, session_seq, min(ts) AS session_start, max(ts) AS session_end, " +
        "count(*) AS n_events FROM g GROUP BY 1, 2 ORDER BY 1, 2"),
    // streaming emits CLOSED sessions: every batch session except each
    // user's open tail (the last session, which no later event closes)
    "x22_stream_sessionize" ->
      (s"$sessionCte, s AS (SELECT user_id, session_seq, min(ts) AS session_start, " +
        "max(ts) AS session_end, count(*) AS n_events FROM g GROUP BY 1, 2) " +
        "SELECT user_id, session_seq, session_start, session_end, n_events FROM s " +
        "WHERE session_seq < (SELECT max(session_seq) FROM s s2 WHERE s2.user_id = s.user_id) " +
        "ORDER BY user_id, session_seq"),
    "x19_range_join" ->
      (s"$sessionCte, s AS (SELECT user_id, session_seq, min(ts) AS session_start, " +
        "max(ts) AS session_end FROM g GROUP BY 1, 2) " +
        "SELECT ev.user_id, s.session_seq, count(*) AS n_events " +
        "FROM events ev JOIN s ON ev.user_id = s.user_id " +
        "AND ev.ts BETWEEN s.session_start AND s.session_end " +
        "GROUP BY 1, 2 ORDER BY 1, 2"),
    // x61 reads the SAME estimates from the STREAM-merged sketch — CMS
    // merge is exact, so the one-shot-build oracle is the gate
    "x61_stream_cms" -> cmsSql,
    "x67_stream_index" ->
      // the stream-maintained index must equal the staged one-shot batch
      // build exactly (same models, same items, pure per-item functions)
      (s"""SELECT id AS vec_id, centroid_id, sub, code
         |FROM ${Stage.sqlRef("x67_batch_index")}
         |ORDER BY vec_id, sub""".stripMargin.replace("\n", " ")),
    "x77_stream_funnel" -> funnelSql,
    // same equi + time-range condition as the streaming join; inner join,
    // so the generous test watermark drops nothing and batch == stream
    "x84_stream_interval_join" ->
      ("SELECT v.user_id, v.event_id AS left_id, c.event_id AS right_id, " +
        "v.ts AS left_ts, c.ts AS right_ts FROM events v JOIN events c " +
        "ON v.user_id = c.user_id AND c.ts >= v.ts " +
        "AND c.ts <= v.ts + INTERVAL 30 MINUTE " +
        "WHERE v.event_type = 'view' AND c.event_type = 'click' " +
        "ORDER BY v.user_id, left_id, right_id"),
    "x49_stream_incr_dedup" ->
      // identical derivation as x47 over the x49-staged tables (the
      // streaming path must find exactly the batch path's pairs)
      (s"""WITH cb AS (SELECT id, band, band_key FROM ${Stage.sqlRef("x49_corpus_bands")}),
         |nb AS (SELECT id, band, band_key FROM ${Stage.sqlRef("x49_batch_bands")}),
         |cand AS (SELECT DISTINCT nb.id AS id_new, cb.id AS id_corpus
         |  FROM nb JOIN cb ON nb.band = cb.band AND nb.band_key = cb.band_key),
         |ns AS (SELECT id, sh FROM ${Stage.sqlRef("x49_batch_sh")}),
         |cs AS (SELECT id, sh FROM ${Stage.sqlRef("x49_corpus_sh")}),
         |p AS (SELECT cand.id_new, cand.id_corpus,
         |  CAST(len(list_intersect(ns.sh, cs.sh)) AS DOUBLE)
         |    / (len(ns.sh) + len(cs.sh) - len(list_intersect(ns.sh, cs.sh))) AS j
         |  FROM cand JOIN ns ON ns.id = cand.id_new
         |  JOIN cs ON cs.id = cand.id_corpus)
         |SELECT id_new, id_corpus, round(j, 4) AS jaccard FROM p WHERE j >= 0.8
         |ORDER BY id_new, id_corpus""".stripMargin.replace("\n", " ")),
    "x30_stream_dedup" ->
      (s"SELECT md5(lower(array_to_string($toks, ' '))) AS fingerprint, " +
        "min(doc_id) AS keep_id, count(*) AS n_dups FROM documents " +
        "GROUP BY 1 ORDER BY 1"),
    "x32_sliding_window" ->
      ("WITH b AS (SELECT event_type, unnest([" +
        "time_bucket(INTERVAL '30 minutes', ts), " +
        "time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes'" +
        "]) AS window_start FROM events) " +
        "SELECT window_start, event_type, count(*) AS n FROM b " +
        "GROUP BY 1, 2 ORDER BY 1, 2"),
    // x123 ≡ x121's oracle verbatim: the stream-maintained daily counts
    // must land exactly where the batch aggregate does
    "x123_stream_ewma" ->
      ("""WITH d AS (SELECT event_type, CAST(ts AS DATE) AS day,
         |    CAST(count(*) AS BIGINT) AS n FROM events GROUP BY 1, 2),
         |v AS (SELECT event_type, list_transform(list(n ORDER BY day),
         |    x -> CAST(x AS DOUBLE)) AS vals FROM d GROUP BY 1)
         |SELECT event_type, CAST(len(vals) AS BIGINT) AS n_days,
         |  round(list_reduce(vals, (acc, x) ->
         |    CAST(0.3 AS DOUBLE) * x + CAST(0.7 AS DOUBLE) * acc), 6) AS ewma
         |FROM v ORDER BY event_type""".stripMargin.replace("\n", " ")),
    // x149 ≡ x144's oracle verbatim: the stream-maintained daily counts
    // must land exactly where the batch aggregate does
    "x149_stream_cusum" -> CusumOracleSql,
    // the stream-maintained twins answer with the BATCH oracles
    // verbatim — stream ≡ batch is exactly the claim under test
    "x176_stream_psi" -> PsiDriftOracleSql,
    "x177_stream_w1" -> W1DriftOracleSql,
    // the stream-maintained twin MUST equal the batch ACF (exactly-once
    // state accumulation) — one oracle gates both
    "x199_stream_acf" -> AcfOracleSql,
    // sort-based quantile_cont over the SAME micro-quantized doubles the
    // engine's histogram walk interpolates — different evaluation
    // strategy, identical definition h = (n−1)p, v₁ + frac·(v₂ − v₁)
    "x250_stream_slo" ->
      (s"""WITH e AS (SELECT event_type,
         |    CAST(floor(value * 1e6 + 0.5) AS BIGINT) AS vm FROM events)
         |""".stripMargin +
        SloPs.map(p =>
          s"SELECT event_type, CAST($p AS DOUBLE) AS p, CAST(count(*) AS BIGINT) AS n, " +
            s"round(quantile_cont(CAST(vm AS DOUBLE) / 1e6, $p), 6) AS slo_value " +
            "FROM e GROUP BY 1").mkString("", " UNION ALL ", " ") +
        "ORDER BY event_type, p").replace("\n", " "),
  )
}
