package graft.streaming

import java.util.concurrent.atomic.{AtomicLong, AtomicReference}

import org.apache.spark.sql.{AnalysisException, Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.engine.CacheScope
import graft.engine.Ckpt.BarrierOps

/** Structured-Streaming path (SURVEY.md §7.6) over the `events` table: the
  * reference rebuilds its cubes in full batch (update_olap.sh:12-16); here
  * the same aggregations run incrementally — `readStream → watermark →
  * windowed agg → sink`, with `flatMapGroupsWithState` for session state
  * the built-in windows can't express.
  *
  * Batch/stream parity is the test contract: every streaming op has a
  * batch-equivalent DataFrame expression, and the specs assert the
  * `Trigger.AvailableNow` streaming result equals the batch result on the
  * same files. That equivalence is also what makes the op oracle-checkable
  * (DuckDB runs the batch SQL).
  *
  * One streaming scaffold: every op is its own transform over four shared
  * helpers (and [[OpenApcRefresh]] rides the last two):
  *  - [[parquetStream]] — the parquet file-stream source;
  *  - [[drain]] — the AvailableNow memory-sink drain of a verification read;
  *  - [[runBatches]] — the AvailableNow `foreachBatch` runner, optionally
  *    checkpointed;
  *  - [[writePartitions]] — the batch-keyed dynamic-partition-overwrite
  *    write, behind both the `batch_id`-partitioned appends
  *    ([[batchKeyedStream]]) and the replay-guarded merge
  *    ([[mergePartitions]]).
  *
  * Barrier/drain rule: every materialization barrier goes through
  * [[graft.engine.Ckpt]], and a barrier is released by the
  * [[graft.engine.CacheScope.drain]] of the thread that made it. A drained
  * result is a barrier on the CALLER's thread (its runner drains after the
  * terminal action); a micro-batch body runs on the stream thread, so the
  * runner ends every body with `CacheScope.drain()`.
  */
object StreamOps {

  /** Spark's file stream source requires a DIRECTORY; the testdata ships
    * single parquet files. Bridge: a per-path temp directory holding a
    * symlink to the file (created once, reused).
    */
  def streamableDir(path: String): String = {
    val f = new java.io.File(path)
    if (f.isDirectory) path
    else {
      val dir = java.nio.file.Paths.get(
        sys.props("java.io.tmpdir"), "graft-stream",
        Integer.toHexString(f.getAbsolutePath.hashCode))
      java.nio.file.Files.createDirectories(dir)
      val link = dir.resolve(f.getName)
      if (!java.nio.file.Files.exists(link))
        java.nio.file.Files.createSymbolicLink(link, f.toPath.toAbsolutePath)
      dir.toString
    }
  }

  /** The parquet file-stream source every op reads: the directory bridge,
    * the schema probe a file stream needs up front, an optional
    * `maxFilesPerTrigger` rate limit (several micro-batches over a
    * multi-file input), and optional event-ts normalization
    * ([[graft.Tables.normalizeEventTs]]).
    */
  private def parquetStream(spark: SparkSession, path: String,
      maxFilesPerTrigger: Option[Int] = None,
      normalizeTs: Boolean = false): DataFrame = {
    val dir = streamableDir(path)
    val reader = spark.readStream.schema(spark.read.parquet(dir).schema)
    val raw = maxFilesPerTrigger
      .fold(reader)(n => reader.option("maxFilesPerTrigger", n)).parquet(dir)
    if (normalizeTs) graft.Tables.normalizeEventTs(raw) else raw
  }

  private val drainSeq = new AtomicLong()

  /** The AvailableNow memory-sink drain every verification read ends in:
    * run `out` to completion into a memory sink under a generated name,
    * hand the terminated query to `onFinish` (specs read its progress to
    * prove multi-batch runs), then put the rows behind a Ckpt barrier and
    * drop the sink's temp view, so sink names never pile up in a
    * long-lived session. The barrier also makes the result a plan leaf: a
    * MemorySink view referenced more than once in one read-time plan
    * trips analyzer attribute-conflict resolution.
    */
  private def drain(out: DataFrame, mode: OutputMode,
      onFinish: StreamingQuery => Unit = _ => ()): DataFrame = {
    val spark = out.sparkSession
    val name = s"graft_drain_${drainSeq.incrementAndGet()}"
    try {
      val q = out.writeStream.format("memory").queryName(name)
        .outputMode(mode)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      onFinish(q)
      spark.table(name).ckpt()
    } finally { spark.catalog.dropTempView(name); () }
  }

  /** The AvailableNow `foreachBatch` runner: run `body` over every
    * micro-batch of `src` — checkpointed under `checkpointDir` when given,
    * so a restart resumes from the last committed batch — and return once
    * the input is drained. Every body ends with `CacheScope.drain()`: the
    * body runs on the stream thread and CacheScope releases per thread, so
    * the caller's drain could never reach the body's barriers.
    */
  private[streaming] def runBatches(src: DataFrame,
      checkpointDir: Option[String] = None,
      mode: OutputMode = OutputMode.Append())(
      body: (DataFrame, Long) => Unit): Unit = {
    val w = src.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        try body(batch, batchId) finally CacheScope.drain()
      }
      .outputMode(mode)
      .trigger(Trigger.AvailableNow())
    checkpointDir.fold(w)(d => w.option("checkpointLocation", d))
      .start().awaitTermination()
  }

  /** The batch-keyed write: dynamic partition overwrite of `df` into `dir`
    * by `partCol` — only the partitions `df` holds are replaced, so a
    * replayed batch rewrites exactly what its earlier attempt wrote.
    */
  private def writePartitions(df: DataFrame, partCol: String,
      dir: String): Unit =
    df.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partCol)
      .parquet(dir)

  /** The `batch_id`-partitioned append: each micro-batch's `perBatch` rows
    * land in their own `batch_id` partition of `outDir` (a replayed batch
    * overwrites only itself, so retries stay exactly-once without a state
    * store), and the table is read back here, `batch_id` dropped. `outDir`
    * holds this run's table: it is emptied first, because dynamic
    * overwrite replaces only the batch ids THIS run produces and an
    * earlier run that emitted more micro-batches would leave stale
    * partitions behind. A run whose batches all produced zero rows wrote
    * no parquet footers — that is an EMPTY table of the rows' schema, not
    * an error.
    */
  private def batchKeyedStream(src: DataFrame, outDir: String)(
      perBatch: DataFrame => DataFrame): DataFrame = {
    removeTree(new java.io.File(outDir))
    val rowSchema = new AtomicReference[StructType]()
    runBatches(src) { (batch, batchId) =>
      val rows = perBatch(batch)
      rowSchema.set(rows.schema)
      writePartitions(rows.withColumn("batch_id", lit(batchId)), "batch_id",
        outDir)
    }
    val spark = src.sparkSession
    try spark.read.parquet(outDir).drop("batch_id")
    catch { case _: AnalysisException if rowSchema.get != null =>
      spark.createDataFrame(java.util.Collections.emptyList[Row](),
        rowSchema.get)
    }
  }

  /** The replay-guarded partition merge behind [[mergeCubeBatch]] and
    * [[OpenApcRefresh.mergeApcBatch]]: `rows` (tagged `batchCol` =
    * `batchId`) replace the `partCol` partitions they touch, unioned with
    * those partitions' stored rows minus any an earlier attempt of THIS
    * batch wrote — so a batch whose overwrite committed but whose
    * checkpoint commit did not is re-merged without double-counting. Only
    * the touched partitions are read (pruning, under the caller's pinned
    * `schema` when given) and rewritten; `prepareExisting` is the caller's
    * own step over the kept rows. The union goes behind a Ckpt barrier
    * BEFORE the write: the merge reads the path it overwrites, and Spark
    * (correctly) refuses a write whose plan still references its target
    * files.
    */
  private[streaming] def mergePartitions(rows: DataFrame, batchId: Long,
      dir: String, partCol: String, batchCol: String,
      schema: Option[StructType] = None)(
      prepareExisting: DataFrame => DataFrame): Unit = {
    // negative ids are stored-history sentinels (the cube's compacted −1,
    // APC's base build): a caller passing one would make the replay guard
    // delete that history
    require(batchId >= 0, s"batchId must be non-negative, got $batchId")
    // the affected-partition list is O(partitions in the batch) — tiny
    val parts = rows.select(partCol).distinct().collect().map(_.get(0)).toSeq
    if (parts.nonEmpty) {
      val merged =
        if (!new java.io.File(dir).exists()) rows
        else {
          val reader = rows.sparkSession.read
          rows.unionByName(prepareExisting(
            schema.fold(reader)(reader.schema).parquet(dir)
              .filter(col(partCol).isin(parts: _*)) // partition pruning
              .filter(!(col(batchCol) <=> batchId)))) // replay guard
        }
      writePartitions(merged.ckpt(), partCol, dir)
    }
  }

  /** A scratch directory for one stream x-query run,
    * `<java.io.tmpdir>/graft-<name>-<hash of key>-<pid>`: emptied before
    * use (every invocation is a fresh run) and removed when the JVM exits.
    */
  private[graft] def scratchDir(name: String, key: String): String = {
    val d = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft-$name-${Integer.toHexString(key.hashCode)}-" +
        ProcessHandle.current().pid())
    removeTree(d)
    scratchDirs.add(d)
    d.toString
  }

  private lazy val scratchDirs = {
    val dirs = java.util.concurrent.ConcurrentHashMap.newKeySet[java.io.File]()
    sys.addShutdownHook(dirs.forEach(d => removeTree(d)))
    dirs
  }

  /** Recursive delete; a symlink is removed, never followed. */
  private def removeTree(f: java.io.File): Unit = {
    if (!java.nio.file.Files.isSymbolicLink(f.toPath))
      Option(f.listFiles()).foreach(_.foreach(removeTree))
    f.delete(): Unit
  }

  /** Tumbling-window aggregate, batch form: per (window-start, event_type)
    * count + value sum. `window()` keys the shuffle by coarse time bucket —
    * at 100 TB this partitions by (bucket, type), no skew beyond real
    * hot-hours (AQE splits those).
    */
  def tumblingAggBatch(events: DataFrame, interval: String): DataFrame =
    events
      .groupBy(window(col("ts"), interval).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), graft.functions.EngineMath.roundAway(sum(col("value")), 2).as("value_sum"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n"), col("value_sum"))

  /** The same aggregate as an actual streaming query over the parquet
    * directory, drained with Trigger.AvailableNow into a memory sink and
    * returned as a DataFrame. Watermark bounds state: late events beyond
    * 1 hour are dropped instead of growing the window map forever.
    */
  def tumblingAggStreaming(spark: SparkSession, eventsDir: String,
      interval: String): DataFrame =
    drain(tumblingAggBatch(
        parquetStream(spark, eventsDir, normalizeTs = true)
          .withWatermark("ts", "1 hour"),
        interval),
      OutputMode.Complete())

  /** Sliding-window variant (1h window / 30m slide) — same mechanics,
    * overlapping buckets.
    */
  def slidingAggBatch(events: DataFrame, win: String, slide: String): DataFrame =
    events
      .groupBy(window(col("ts"), win, slide).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("window_start"), col("event_type"), col("n"))

  // ---- sessionization ---------------------------------------------------

  /** Batch sessionization (gaps-and-islands): a new session starts when the
    * gap to the previous event of the same user exceeds `gapMinutes`.
    * Output: one row per session with bounds and event count. The window
    * shuffles once on user_id — the same key the streaming version groups
    * by.
    */
  def sessionizeBatch(events: DataFrame, gapMinutes: Int): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val flagged = events
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      // microsecond arithmetic: unix_timestamp() truncates sub-second and
      // would mis-classify gaps straddling the boundary
      .withColumn("new_sess",
        when(col("prev_ts").isNull ||
          unix_micros(col("ts")) - unix_micros(col("prev_ts")) > gapMinutes * 60000000L,
          1L).otherwise(0L))
      .withColumn("session_seq", sum(col("new_sess")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    flagged.groupBy(col("user_id"), col("session_seq"))
      .agg(min(col("ts")).as("session_start"), max(col("ts")).as("session_end"),
        count(lit(1)).as("n_events"))
      .select(col("user_id"), col("session_seq"), col("session_start"),
        col("session_end"), col("n_events"))
  }

  /** Session state in epoch-micros (exact integer arithmetic, matches the
    * batch path's unix_micros).
    */
  case class SessState(startUs: Long, endUs: Long, n: Long, seq: Long)
  final case class SessionOut(user_id: Long, session_seq: Long,
      start_us: Long, end_us: Long, n_events: Long)

  /** Streaming sessionization via flatMapGroupsWithState: custom per-user
    * state the built-in session_window can also express for this simple
    * case, but the state-store shape here generalises to richer session
    * payloads (carts, funnels). Emits CLOSED sessions; with AvailableNow
    * over a finite directory the final watermark flush closes the rest —
    * for test parity we emit on timeout AND at the end via a sentinel.
    *
    * State per user is O(1) (current session bounds only), so the state
    * store scales with |users|, not |events|.
    */
  def sessionizeStreaming(spark: SparkSession, eventsDir: String,
      gapMinutes: Int): DataFrame = {
    import spark.implicits._
    val raw = parquetStream(spark, eventsDir)
    val stream = raw
      .select(col("user_id").cast("long").as("user_id"),
        graft.Tables.eventTsMicros(raw).as("ts_us"), // → epoch micros
        col("event_id").cast("long").as("event_id"))
      .as[(Long, Long, Long)]
    val gapUs = gapMinutes * 60000000L

    val out = stream.groupByKey(_._1).flatMapGroupsWithState(
      OutputMode.Append(), GroupStateTimeout.NoTimeout())(
      (user: Long, rows: Iterator[(Long, Long, Long)],
       state: GroupState[SessState]) => {
        // State = the single still-open session (O(1) per user). Events of
        // a batch are sorted (ts, event_id) — the same total order the
        // batch window uses; a session closes when the gap is exceeded and
        // is emitted exactly once.
        val events = rows.map(r => (r._2, r._3)).toArray.sorted
        val closed = scala.collection.mutable.ArrayBuffer.empty[SessState]
        var open: Option[SessState] = state.getOption
        for ((tsUs, _) <- events) {
          open = open match {
            case Some(cur) if tsUs - cur.endUs <= gapUs =>
              Some(cur.copy(endUs = tsUs, n = cur.n + 1))
            case Some(cur) =>
              closed += cur
              Some(SessState(tsUs, tsUs, 1, cur.seq + 1))
            case None =>
              Some(SessState(tsUs, tsUs, 1, 1))
          }
        }
        open.foreach(state.update)
        closed.map(s => SessionOut(user, s.seq, s.startUs, s.endUs, s.n)).iterator
      })

    drain(out.toDF(), OutputMode.Append())
      .select(col("user_id"), col("session_seq"),
        timestamp_micros(col("start_us")).as("session_start"),
        timestamp_micros(col("end_us")).as("session_end"),
        col("n_events"))
  }

  /** Per-user funnel progress: next stage index + the previous stage's
    * first-completion time in epoch micros (O(1) per user, like
    * [[SessState]]).
    */
  final case class FunnelState(idx: Int, lastTs: Long)
  final case class FunnelOut(user_id: Long, completed: Long)

  /** Streaming first-touch funnel — the batch
    * [[graft.operators.EventAnalytics.funnel]] as per-user
    * flatMapGroupsWithState: a single sorted scan advances the stage
    * pointer exactly along the batch path's min-timestamp chain (the
    * first stage-i event strictly after stage i−1's first completion IS
    * the chain minimum in (ts, event_id) order), so with an ordered
    * arrival the final counts match the batch funnel exactly. State is
    * O(1) per user; each micro-batch emits the user's furthest stage,
    * and stage progress is MONOTONE, so the final per-user stage is a
    * max over the appended updates — no Complete-mode state growth.
    * Cross-batch caveat (same as [[sessionizeStreaming]]): batches are
    * assumed time-ordered per user; a stage event arriving in an earlier
    * batch than its predecessor stage's completion is not revisited.
    */
  def funnelStreaming(spark: SparkSession, eventsDir: String,
      stages: Seq[String]): DataFrame = {
    import spark.implicits._
    val raw = parquetStream(spark, eventsDir)
    val stream = raw
      .select(col("user_id").cast("long").as("user_id"),
        graft.Tables.eventTsMicros(raw).as("ts_us"),
        col("event_type"),
        col("event_id").cast("long").as("event_id"))
      .as[(Long, Long, String, Long)]
    val stageArr = stages.toArray
    val out = stream.groupByKey(_._1).flatMapGroupsWithState(
      OutputMode.Append(), GroupStateTimeout.NoTimeout())(
      (user: Long, rows: Iterator[(Long, Long, String, Long)],
       state: GroupState[FunnelState]) => {
        val events = rows.map(r => (r._2, r._4, r._3)).toArray
          .sortBy(e => (e._1, e._2))
        var st = state.getOption.getOrElse(FunnelState(0, Long.MinValue))
        for ((tsUs, _, et) <- events if st.idx < stageArr.length)
          if (et == stageArr(st.idx) && (st.idx == 0 || tsUs > st.lastTs))
            st = FunnelState(st.idx + 1, tsUs)
        state.update(st)
        Iterator.single(FunnelOut(user, st.idx.toLong))
      })
    val per = drain(out.toDF(), OutputMode.Append())
      .groupBy(col("user_id")).agg(max(col("completed")).as("completed"))
    stages.zipWithIndex.map { case (st, i) =>
      per.filter(col("completed") >= (i + 1).toLong)
        .agg(count(lit(1)).as("n_users"))
        .select(lit(i.toLong).as("stage_idx"), lit(st).as("stage"),
          col("n_users"))
    }.reduce(_.unionByName(_)).orderBy(col("stage_idx"))
  }

  /** Stream-STREAM interval join (the x19 batch range join as two live
    * streams): every `leftType` event joined to the same user's `rightType`
    * events that land within `withinMinutes` after it. Both sides carry an
    * event-time watermark and the join condition carries the time bound, so
    * Spark derives a state-retention horizon per side — buffered left rows
    * are evicted once the right watermark passes `left_ts + within`, and
    * vice versa. State is O(events inside the watermark window), not
    * O(stream).
    *
    * At 100 TB/day this is the canonical click-attribution join: both
    * streams shuffle-partition on user_id (the equi half of the
    * condition), each partition keeps a time-bounded buffer, and the
    * watermark turns the unbounded join into a sliding co-group. The
    * test watermark is generous (nothing dropped on the finite corpus) so
    * the result equals the batch interval join, which is what the DuckDB
    * oracle re-derives.
    */
  def intervalJoinStreaming(spark: SparkSession, eventsDir: String,
      leftType: String, rightType: String, withinMinutes: Int): DataFrame = {
    def side(tp: String, pfx: String) =
      parquetStream(spark, eventsDir, normalizeTs = true)
        .filter(col("event_type") === tp)
        .select(col("user_id").as(s"${pfx}_user"),
          col("event_id").as(s"${pfx}_id"), col("ts").as(s"${pfx}_ts"))
        .withWatermark(s"${pfx}_ts", "30 days")
    val joined = side(leftType, "v").join(side(rightType, "c"),
      col("v_user") === col("c_user") &&
        col("c_ts") >= col("v_ts") &&
        col("c_ts") <= col("v_ts") + expr(s"INTERVAL $withinMinutes MINUTES"))
    drain(joined, OutputMode.Append())
      .select(col("v_user").as("user_id"), col("v_id").as("left_id"),
        col("c_id").as("right_id"), col("v_ts").as("left_ts"),
        col("c_ts").as("right_ts"))
      .orderBy(col("user_id"), col("left_id"), col("right_id"))
  }

  /** Stream-maintained DAILY COUNTS for the x121 EWMA read: one stateful
    * aggregate keyed (event_type, day) in Complete mode — the heavy,
    * rows-scale work happens incrementally as events arrive; the EWMA
    * fold itself is a READ-TIME derivation over the bounded day axis
    * (applied by the caller, shared verbatim with the batch x121), so
    * stream and batch cannot drift in the recursion. Chaining the fold
    * INTO the streaming query would need a second stateful aggregate,
    * which Structured Streaming rejects — maintaining the additive state
    * and deriving the non-additive smoother at read is the correct
    * streaming decomposition at any scale.
    */
  def dailyCountsStreaming(spark: SparkSession, eventsDir: String): DataFrame =
    drain(parquetStream(spark, eventsDir, normalizeTs = true)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n")),
      OutputMode.Complete())

  /** Stream-maintained per-(source, quality-bin) counts for the x166 PSI
    * read — drift monitoring is the PRODUCTION use of the statistic, so
    * the additive, rows-scale half (binned counts) accumulates in ONE
    * stateful aggregate in Complete mode, and the non-additive PSI
    * derivation stays a read-time fold over the bounded |sources|×10
    * cell table, shared verbatim with the batch x166
    * (ExtensionQueries.psiOverBinCounts — the x123/x149 decomposition:
    * chaining the derivation INTO the streaming query would need a
    * second stateful aggregate, which Structured Streaming rejects).
    * Binning shares ExtensionQueries.qualityBins, so bin boundaries
    * cannot drift between engine halves. `onFinish` receives the
    * terminated query (specs read progress to prove multi-batch runs).
    */
  def qualityBinCountsStreaming(spark: SparkSession, docsDir: String,
      maxFilesPerTrigger: Option[Int] = None,
      onFinish: StreamingQuery => Unit = _ => ()): DataFrame =
    drain(graft.ExtensionQueries
        .qualityBins(parquetStream(spark, docsDir, maxFilesPerTrigger))
        .groupBy(col("source"), col("bin")).agg(count(lit(1)).as("cc")),
      OutputMode.Complete(), onFinish)

  /** Stream-maintained (event_type, day) exact micro-tick daily value
    * sums for the x190 ACF read: the daily series is ADDITIVE (one
    * stateful sum), so the seasonality fingerprint is maintainable
    * incrementally; the moments/lag-pair/AcfSql derivation is read-time,
    * shared verbatim with the batch x190
    * (ExtensionQueries.acfOverDaily). Same decomposition contract as
    * [[qualityBinCountsStreaming]]; state is bounded by
    * |types| × |observation-window days|.
    */
  def dailyValueSumsStreaming(spark: SparkSession, eventsDir: String,
      maxFilesPerTrigger: Option[Int] = None,
      onFinish: StreamingQuery => Unit = _ => ()): DataFrame =
    drain(parquetStream(spark, eventsDir, maxFilesPerTrigger, normalizeTs = true)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(sum(floor(col("value") * 1e6 + lit(0.5)).cast("long")).as("vm")),
      OutputMode.Complete(), onFinish)

  /** Stream-maintained per-day A/B experiment cells for the x238 mSPRT
    * read: counts, micro-sums, and decimal sums-of-squares per variant
    * are ADDITIVE, so the whole sequential monitor's rows-scale input
    * accumulates in one stateful aggregate (≤ |days| state rows); the
    * always-valid p derivation is read-time, shared verbatim with the
    * batch x234 (ExtensionQueries.msprtOverDayCells). Same decomposition
    * contract as [[qualityBinCountsStreaming]] — and the natural
    * production shape: events stream in, the monitor is re-read daily.
    */
  def abDayCellsStreaming(spark: SparkSession, eventsDir: String,
      maxFilesPerTrigger: Option[Int] = None,
      onFinish: StreamingQuery => Unit = _ => ()): DataFrame =
    drain({
        val aggs = graft.ExtensionQueries.abDayCellAggs
        graft.ExtensionQueries.abDayProject(parquetStream(spark, eventsDir,
            maxFilesPerTrigger, normalizeTs = true))
          .groupBy(col("d")).agg(aggs.head, aggs.tail: _*)
      }, OutputMode.Complete(), onFinish)

  /** Stream-maintained per-source secret-scan cells for the x247 read:
    * because the per-token entropy is a PER-ROW HOF fold (integer
    * ticks), the whole governance scan reduces to one stateful
    * per-source aggregate over (candidates, flagged, entropy mass); the
    * rollup division is read-time, shared verbatim with the batch x242
    * (ExtensionQueries.secretRollup). Scan-on-ingest is the production
    * shape for this job — documents stream in, the datacard is re-read
    * on demand.
    */
  def secretCellsStreaming(spark: SparkSession, docsDir: String,
      maxFilesPerTrigger: Option[Int] = None,
      plantSynthetic: Boolean = true,
      onFinish: StreamingQuery => Unit = _ => ()): DataFrame =
    drain({
        val aggs = graft.ExtensionQueries.secretCellAggs
        graft.ExtensionQueries.secretTokens(
            parquetStream(spark, docsDir, maxFilesPerTrigger), plantSynthetic)
          .groupBy(col("source")).agg(aggs.head, aggs.tail: _*)
      }, OutputMode.Complete(), onFinish)

  /** Stream-maintained (event_type, micro-value) histogram for the x250
    * exact-percentile read: value counts are ADDITIVE, so exact P50/P95/
    * P99 — normally a sort-requiring statistic — become stream-
    * maintainable: one stateful aggregate holds the histogram (bounded
    * by the value domain, the x177 contract) and the interpolation
    * arithmetic is read-time (ExtensionQueries.sloOverValueHist).
    */
  def valueHistStreaming(spark: SparkSession, eventsDir: String,
      maxFilesPerTrigger: Option[Int] = None,
      onFinish: StreamingQuery => Unit = _ => ()): DataFrame =
    drain(parquetStream(spark, eventsDir, maxFilesPerTrigger, normalizeTs = true)
        .groupBy(col("event_type"),
          floor(col("value") * 1e6 + lit(0.5)).cast("long").as("vm"))
        .agg(count(lit(1)).as("c")),
      OutputMode.Complete(), onFinish)

  /** Stream-maintained per-(source, doc-length) histogram for the x258
    * Gini read: the length histogram is ADDITIVE, so a SORT-requiring
    * concentration statistic (Gini needs ranks) becomes stream-
    * maintainable — one stateful aggregate holds the histogram (bounded
    * by the length domain, the x177 contract), and the rank-block
    * arithmetic Σ r·x = Σ x·(c·cb + c(c+1)/2) is a read-time cumsum over
    * the bounded cells (ExtensionQueries.giniOverLengthHist), gated by
    * the batch x255's oracle — the x250 sort-statistic-via-histogram
    * device applied to a Lorenz-curve functional.
    */
  def docLengthHistStreaming(spark: SparkSession, docsDir: String,
      maxFilesPerTrigger: Option[Int] = None,
      onFinish: StreamingQuery => Unit = _ => ()): DataFrame =
    drain(docLengthCells(parquetStream(spark, docsDir, maxFilesPerTrigger)),
      OutputMode.Complete(), onFinish)

  /** The x255/x258 shared cell transform: per-(source, token-length)
    * counts — ONE definition so the drained twin and the checkpointed
    * maintained variant aggregate the identical state shape.
    */
  private def docLengthCells(src: DataFrame): DataFrame =
    src.select(col("source"),
        size(graft.functions.TextFunctions.tokens(col("text")))
          .cast("long").as("x"))
      .groupBy(col("source"), col("x")).agg(count(lit(1)).as("c"))

  /** Fault-tolerant MAINTAINED form of [[docLengthHistStreaming]]: the
    * same one-stateful-aggregate histogram, CHECKPOINTED, each trigger
    * publishing the full updated cell table to `snapshotDir` (Complete
    * mode hands foreachBatch the whole aggregate; the overwrite is
    * idempotent, so a replayed trigger republishes identical bytes).
    * Unlike the memory-sink drain — which is a verification read that
    * rebuilds state per run — this is the production shape: the state
    * store + offset log under `checkpointDir` survive a crash, and a
    * restarted query RESUMES from the last committed micro-batch's
    * state instead of rescanning history (the 100 TB operational
    * requirement; StreamingSpec kills one mid-stream and proves the
    * restarted release is bit-identical to batch x255). `onBatch` fires
    * at the start of each foreachBatch — observability plus the
    * fault-injection point the crash-recovery spec throws from.
    */
  def docLengthHistMaintained(spark: SparkSession, docsDir: String,
      checkpointDir: String, snapshotDir: String,
      maxFilesPerTrigger: Option[Int] = None,
      onBatch: Long => Unit = _ => ()): Unit =
    runBatches(docLengthCells(parquetStream(spark, docsDir, maxFilesPerTrigger)),
        Some(checkpointDir), OutputMode.Complete()) { (cells, batchId) =>
      onBatch(batchId)
      // materialize before the write: the snapshot overwrite must not
      // observe its own target (same discipline as mergePartitions)
      cells.ckpt().write.mode("overwrite").parquet(snapshotDir)
    }

  /** Stream-maintained per-source document counts for the x263 DP
    * release: counts are the trivially additive state; the entire DP
    * mechanism (budgets, tickets, Laplace draw) is read-time, shared
    * verbatim with the batch x254 (ExtensionQueries.dpCountRelease).
    */
  def sourceCountsStreaming(spark: SparkSession, docsDir: String,
      maxFilesPerTrigger: Option[Int] = None,
      onFinish: StreamingQuery => Unit = _ => ()): DataFrame =
    drain(parquetStream(spark, docsDir, maxFilesPerTrigger)
        .groupBy(col("source")).agg(count(lit(1)).as("n")),
      OutputMode.Complete(), onFinish)

  /** Stream-maintained per-micro-value cohort counts for the x167 W₁
    * read: the additive (vm, ca, cb) table accumulates in one stateful
    * aggregate; the exact-integer cumsum/numerator derivation is
    * read-time, shared verbatim with the batch x167
    * (ExtensionQueries.w1OverCounts). Same decomposition contract as
    * [[qualityBinCountsStreaming]].
    */
  def valueCohortCountsStreaming(spark: SparkSession, eventsDir: String,
      maxFilesPerTrigger: Option[Int] = None,
      onFinish: StreamingQuery => Unit = _ => ()): DataFrame =
    drain(graft.ExtensionQueries.valueCohorts(parquetStream(spark, eventsDir,
          maxFilesPerTrigger, normalizeTs = true))
        .groupBy(col("vm"))
        .agg(sum(when(col("isA"), 1L).otherwise(0L)).as("ca"),
          sum(when(!col("isA"), 1L).otherwise(0L)).as("cb")),
      OutputMode.Complete(), onFinish)

  /** Stream-STATIC enrichment join + aggregate: the streaming analogue of
    * the B5 broadcast dimension join — each micro-batch joins the live
    * event stream against a STATIC dimension frame (no state store for
    * the join: Spark broadcasts the dim per batch exactly as batch plans
    * do) and feeds a stateful aggregate. The dimension is the thing that
    * does NOT stream; at 100 TB/day the events shuffle only for the
    * aggregate, keyed on the (dim-attr, type) group key.
    */
  def enrichedCountStreaming(spark: SparkSession, eventsDir: String,
      dim: DataFrame, dimKey: String, dimAttr: String): DataFrame =
    drain(parquetStream(spark, eventsDir, normalizeTs = true)
        .join(broadcast(dim.select(col(dimKey).as("__k"), col(dimAttr))),
          col("user_id") === col("__k"))
        .groupBy(col(dimAttr), col("event_type"))
        .agg(count(lit(1)).as("n")),
      OutputMode.Complete())
      .orderBy(col(dimAttr), col("event_type"))

  /** Streaming exact deduplication: the x05 dedup-group aggregate as a
    * stateful streaming query — per content fingerprint, the smallest id
    * seen so far and the duplicate count, maintained incrementally as
    * documents arrive (Complete output into the memory sink here; at scale
    * the same aggregate writes through foreachBatch like the cube).
    *
    * State is O(distinct contents): one (fingerprint, min, count) row per
    * group in the state store — it does NOT hold documents. For unbounded
    * streams where even that is too much, compose `dropDuplicatesWithin
    * Watermark(fingerprint)` upstream: state then holds only the watermark
    * window, trading global dedup for windowed dedup.
    */
  def dedupStreaming(spark: SparkSession, docsDir: String,
      idCol: String, textCol: String): DataFrame =
    drain(parquetStream(spark, docsDir)
        .select(col(idCol),
          graft.functions.TextFunctions.fingerprint(col(textCol)).as("fingerprint"))
        .groupBy(col("fingerprint"))
        .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups")),
      OutputMode.Complete())

  /** STREAMING incremental near-dup dedup: every micro-batch of arriving
    * documents is checked against a static corpus [[graft.operators.Dedup
    * .MinhashIndex]] — the "dedup the crawl as it lands" shape. Each batch
    * runs the batch-side half of [[graft.operators.Dedup
    * .minhashPairsBetween]] (sign the batch, band-join against the stored
    * index, exact-Jaccard verify) via `foreachBatch`: the index is a plain
    * static frame, so the per-batch work is O(batch) and carries NO
    * streaming state — exactly-once comes from the idempotent append of
    * (id_new, id_corpus) pairs keyed by the batch's own ids. Returns the
    * accumulated pair table (memory sink here; a real deployment appends
    * to a table the keeper/split pass reads).
    */
  def incrementalDedupStream(spark: SparkSession, docsDir: String,
      idCol: String, textCol: String,
      corpus: graft.operators.Dedup.MinhashIndex, threshold: Double,
      pairsDir: String, where: Column = lit(true),
      maxFilesPerTrigger: Option[Int] = None): DataFrame =
    batchKeyedStream(
        parquetStream(spark, docsDir, maxFilesPerTrigger).filter(where),
        pairsDir) { batch =>
      val idx = graft.operators.Dedup.minhashIndex(batch, idCol, textCol,
        corpus.k, corpus.numBands, corpus.rowsPerBand)
      graft.operators.Dedup.minhashPairsBetween(idx, corpus, threshold)
    }

  /** STREAMING ANN index maintenance: each arriving micro-batch of
    * embedding rows is coarse-assigned against the FITTED centroids
    * ([[graft.operators.Ivf.assign]]) and PQ-encoded against the FITTED
    * codebooks ([[graft.operators.Pq.encode]]) — the "index the crawl's
    * embeddings as they land" shape that keeps an IVF×PQ serving index
    * (x52) fresh without rebuilding it. The fitted artifacts are static
    * broadcasts (models fit at index-build time, exactly what
    * [[graft.operators.Fitted]] caches), so each batch is O(batch) work
    * with NO streaming state; exactly-once comes from the batch_id-
    * partitioned dynamic-overwrite append, the same replay guard the
    * incremental cube and incremental dedup use. Because assignment and
    * encoding are per-item pure functions of (vector, model), the
    * stream-maintained index equals a one-shot batch build row-for-row —
    * that equality is the spec/oracle contract.
    *
    * `prep` adapts raw arriving rows to the (idCol, vecCol) the models
    * expect (e.g. float→double vector cast) — it runs INSIDE each batch
    * so the stream source stays schema-stable.
    */
  def indexMaintenanceStream(spark: SparkSession, itemsDir: String,
      idCol: String, vecCol: String, centroids: DataFrame,
      codebooks: DataFrame, dim: Int, m: Int, indexDir: String,
      prep: DataFrame => DataFrame = identity,
      maxFilesPerTrigger: Option[Int] = None): DataFrame =
    batchKeyedStream(parquetStream(spark, itemsDir, maxFilesPerTrigger),
        indexDir) { batch =>
      val e = prep(batch)
      graft.operators.Ivf.assign(e, idCol, vecCol, centroids)
        .join(graft.operators.Pq.encode(e, idCol, vecCol, codebooks, dim, m),
          Seq("id"))
        .select(col("id"), col("centroid_id"), col("sub"), col("code"))
    }

  /** STREAMING count-min sketch maintenance: each arriving micro-batch
    * folds its tokens into its OWN depth×width sketch (the mergeable
    * [[graft.functions.CountMin.Agg]] — map-side partials, only d×w long
    * arrays move), appended batch_id-partitioned with dynamic overwrite —
    * a replayed batch overwrites only itself, the same exactly-once guard
    * the incremental cube uses. The corpus sketch is the element-wise SUM
    * of the batch sketches: count-min merge is exact (not lossy-on-merge),
    * so the stream-maintained sketch equals a one-shot batch build
    * bit-for-bit (StreamingSpec pins ==; x61 gates the estimates against
    * DuckDB's independently rebuilt sketch). Streaming state: NONE (no
    * state store) — the sketch table IS the state, d×w longs per batch,
    * and any time-window of batches can be merged after the fact.
    */
  def sketchStream(spark: SparkSession, docsDir: String, textCol: String,
      depth: Int, width: Int, sketchDir: String,
      maxFilesPerTrigger: Option[Int] = None): Array[Long] = {
    val sketchOf = graft.functions.CountMin.sketchUdaf(depth, width)
    batchKeyedStream(parquetStream(spark, docsDir, maxFilesPerTrigger),
        sketchDir) {
      _.select(explode(
          graft.functions.TextFunctions.tokens(col(textCol))).as("term"))
        .agg(sketchOf(col("term")).as("sk"))
    }
      .select(posexplode(col("sk")).as(Seq("pos", "v")))
      .groupBy(col("pos")).agg(sum(col("v")).as("v"))
      .orderBy(col("pos"))
      .collect().map(_.getLong(1))
  }

  /** Incremental cube maintenance — the Structured-Streaming replacement
    * for the reference's full drop/recreate rebuild (update_olap.sh:12-16,
    * assets_generator.py:570-573): instead of rebuilding every cube table
    * from scratch on each refresh, a streaming query folds each micro-batch
    * of new facts into a day-partitioned aggregate cube with dynamic
    * partition overwrite.
    *
    * Mechanics per micro-batch (`foreachBatch`):
    *  1. aggregate the batch to (day, event_type) partials;
    *  2. read ONLY the affected day partitions of the existing cube
    *     (partition pruning — the unaffected history is never touched);
    *  3. merge (sum partials) and overwrite just those partitions
    *     (`partitionOverwriteMode=dynamic`).
    *
    * At 100 TB this is the difference between an O(history) rebuild and an
    * O(new data + touched partitions) upsert.
    *
    * Exactly-once: the cube stores per-batch PARTIALS keyed by `batch_id`
    * (readers aggregate them away — [[readCube]]). If a batch's overwrite
    * commits but the checkpoint update then fails, the replayed batch
    * first DROPS its own batch_id's rows from the affected partitions, so
    * re-merging cannot double-count. Rows from earlier batches are
    * compacted into a single batch_id = −1 row per group at each merge —
    * safe because a micro-batch only starts after its predecessor's
    * checkpoint commit, so every other batch_id present is final — which
    * keeps each partition at (groups × 2) rows, not (groups × batches).
    */
  def incrementalCubeMaintenance(spark: SparkSession, eventsDir: String,
      cubeDir: String, checkpointDir: String,
      onMerged: Long => Unit = _ => ()): Unit =
    // bounded batches: exercise several foreachBatch merges, not one
    runBatches(parquetStream(spark, eventsDir, Some(1), normalizeTs = true),
        Some(checkpointDir)) { (batch, batchId) =>
      mergeCubeBatch(batch, batchId, cubeDir)
      // fires AFTER the merge committed but BEFORE Spark writes the
      // batch's checkpoint commit — the fault-injection point for the
      // torn-state crash the replay guard exists for (StreamingSpec
      // kills here and proves the replayed merge dedupes)
      onMerged(batchId)
    }

  /** One idempotent micro-batch merge (see [[incrementalCubeMaintenance]]).
    * Public so the replay path is directly testable: calling this twice
    * with the same batchId must leave the cube unchanged.
    */
  def mergeCubeBatch(batch: DataFrame, batchId: Long, cubeDir: String): Unit =
    mergePartitions(
      batch.withColumn("day", to_date(col("ts")))
        .groupBy(col("day"), col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("value")).as("value_sum"))
        .withColumn("batch_id", lit(batchId)),
      batchId, cubeDir, partCol = "day", batchCol = "batch_id") {
      // every other batch_id present is final: compact it to batch_id −1
      _.groupBy(col("day"), col("event_type"))
        .agg(sum(col("n")).as("n"), sum(col("value_sum")).as("value_sum"))
        .withColumn("batch_id", lit(-1L))
    }

  /** The cube as readers consume it: per-batch partials aggregated away. */
  def readCube(spark: SparkSession, cubeDir: String): DataFrame =
    spark.read.parquet(cubeDir)
      .groupBy(col("day"), col("event_type"))
      .agg(sum(col("n")).as("n"), sum(col("value_sum")).as("value_sum"))

  /** Finalize streaming sessions for comparison against the batch result:
    * the streaming query emits closed sessions; open tails live in state.
    * For a finite input the batch result == emitted ∪ open-tails, so specs
    * compare emitted sessions against batch sessions minus each user's
    * last.
    */
  def batchWithoutOpenTails(batchSessions: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("session_seq").desc)
    batchSessions
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") > 1).drop("__rk")
  }
}
