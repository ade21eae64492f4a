package graft

import org.apache.spark.sql.functions._

import graft.streaming.StreamOps

/** Batch ↔ stream parity: the streaming ops must produce exactly the batch
  * results on the same finite input (SURVEY.md §7.6 contract).
  */
class StreamingSpec extends SparkSpec {

  private def eventsDir = s"${sf()}/events.parquet"
  private lazy val events = Tables.events(spark, sf())

  test("tumbling streaming agg == batch agg (AvailableNow drain)") {
    val stream = StreamOps.tumblingAggStreaming(spark, eventsDir, "1 hour")
    val batch = StreamOps.tumblingAggBatch(events, "1 hour")
    assert(stream.count() > 0)
    assert(stream.exceptAll(batch).isEmpty && batch.exceptAll(stream).isEmpty)
  }

  test("sliding windows overlap correctly (each event lands in 2 buckets)") {
    val slid = StreamOps.slidingAggBatch(events, "1 hour", "30 minutes")
    val tumb = StreamOps.tumblingAggBatch(events, "1 hour")
    val slidTotal = slid.agg(sum("n")).collect().head.getLong(0)
    val total = events.count()
    assert(slidTotal == 2 * total, s"sliding total $slidTotal != 2×$total")
    assert(slid.count() > tumb.count())
  }

  test("streaming sessionization emits exactly the closed batch sessions") {
    val batch = StreamOps.sessionizeBatch(events, gapMinutes = 30)
    val streamed = StreamOps.sessionizeStreaming(spark, eventsDir,
      gapMinutes = 30)
    val expected = StreamOps.batchWithoutOpenTails(batch)
    val missing = expected.exceptAll(streamed).count()
    val extra = streamed.exceptAll(expected).count()
    assert(missing == 0 && extra == 0,
      s"stream/batch session mismatch: missing=$missing extra=$extra " +
        s"(batch=${batch.count()}, closed=${expected.count()}, streamed=${streamed.count()})")
  }

  test("streaming funnel == batch funnel (AvailableNow drain)") {
    val stages = Seq("view", "click", "purchase")
    val batch = graft.operators.EventAnalytics
      .funnel(events, "user_id", "event_type", "ts", stages)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    val streamed = StreamOps.funnelStreaming(spark, eventsDir, stages)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(streamed == batch,
      s"stream/batch funnel mismatch: $streamed vs $batch")
    graft.engine.CacheScope.drain()
  }

  test("incremental cube maintenance == full batch rebuild, partition-wise") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-inc").toString
    // split events into several files so AvailableNow+maxFilesPerTrigger=1
    // produces several foreachBatch merges (the interesting path)
    val srcDir = s"$tmp/src"
    events.repartition(4).write.parquet(srcDir)
    StreamOps.incrementalCubeMaintenance(spark,
      srcDir, s"$tmp/cube", s"$tmp/ckpt")
    def cubeNow() = StreamOps.readCube(spark, s"$tmp/cube")
      .select(col("day"), col("event_type"), col("n"),
        round(col("value_sum"), 4).as("value_sum"))
    val cube = cubeNow()
    val batch = events.withColumn("day", to_date(col("ts")))
      .groupBy(col("day"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("value_sum"))
    assert(cube.count() == batch.count())
    assert(cube.exceptAll(batch).isEmpty && batch.exceptAll(cube).isEmpty)
    // incremental run over already-consumed input is a no-op (checkpoint)
    StreamOps.incrementalCubeMaintenance(spark,
      srcDir, s"$tmp/cube", s"$tmp/ckpt")
    assert(cubeNow().count() == batch.count())
    // REPLAY: overwrite committed but checkpoint lost — re-merging the
    // same (batch, batchId) must not double-count (exactly-once)
    val lastBatch = spark.read.parquet(srcDir).filter(col("event_id") % 97 === 0)
    StreamOps.mergeCubeBatch(lastBatch, batchId = 99L, s"$tmp/cube")
    val afterOnce = cubeNow().collect().toSet
    StreamOps.mergeCubeBatch(lastBatch, batchId = 99L, s"$tmp/cube")
    assert(cubeNow().collect().toSet == afterOnce,
      "replayed batchId changed the cube — merge is not idempotent")
  }

  test("stream-stream interval join == batch interval join") {
    val streamed = StreamOps.intervalJoinStreaming(spark, eventsDir,
      leftType = "view", rightType = "click", withinMinutes = 30)
    val v = events.filter(col("event_type") === "view")
      .select(col("user_id"), col("event_id").as("left_id"),
        col("ts").as("left_ts"))
    val c = events.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("event_id").as("right_id"),
        col("ts").as("right_ts"))
    val batch = v.join(c, col("user_id") === col("c_user") &&
        col("right_ts") >= col("left_ts") &&
        col("right_ts") <= col("left_ts") + expr("INTERVAL 30 MINUTES"))
      .select("user_id", "left_id", "right_id", "left_ts", "right_ts")
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("stream-static enrichment == batch broadcast join + aggregate") {
    val dim = Tables.table(spark, sf(), "customer")
    val streamed = StreamOps.enrichedCountStreaming(spark, eventsDir,
      dim, "c_custkey", "c_mktsegment")
    val batch = events
      .join(dim.select(col("c_custkey"), col("c_mktsegment")),
        col("user_id") === col("c_custkey"))
      .groupBy(col("c_mktsegment"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("streaming dedup == batch dedup groups") {
    val docs = Tables.table(spark, sf(), "documents")
    val streamed = StreamOps.dedupStreaming(spark,
      s"${sf()}/documents.parquet", "doc_id", "text")
    val batch = graft.operators.Dedup.exactGroups(docs, "doc_id", "text")
    assert(streamed.count() == batch.count())
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("streaming incremental dedup across MULTIPLE micro-batches == the one-shot batch pairs") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.table(spark, sf(), "documents")
    val corpus = graft.operators.Dedup.minhashIndex(
      docs.filter(col("doc_id") % 2 === 0), "doc_id", "text", k = 3)
    // odd docs written as several files + maxFilesPerTrigger=1 → the
    // stream really processes multiple foreachBatch micro-batches
    val tmp = java.nio.file.Files.createTempDirectory("graft-incr-spec").toString
    docs.filter(col("doc_id") % 2 === 1).repartition(3)
      .write.mode("overwrite").parquet(s"$tmp/batchdocs")
    val streamed = graft.streaming.StreamOps.incrementalDedupStream(spark,
      s"$tmp/batchdocs", "doc_id", "text", corpus, threshold = 0.8,
      pairsDir = s"$tmp/pairs", maxFilesPerTrigger = Some(1))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val batchIdx = graft.operators.Dedup.minhashIndex(
      docs.filter(col("doc_id") % 2 === 1), "doc_id", "text", k = 3)
    val oneShot = graft.operators.Dedup
      .minhashPairsBetween(batchIdx, corpus, threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed == oneShot,
      s"multi-batch streamed pairs $streamed != one-shot $oneShot")
    assert(streamed.nonEmpty)
    graft.engine.CacheScope.drain()
  }

  test("stream-maintained ANN index across MULTIPLE micro-batches == one-shot batch build") {
    import org.apache.spark.sql.functions.{col, transform}
    val e = Tables.table(spark, sf(), "embeddings")
      .withColumn("vec", transform(col("embedding"), x => x.cast("double")))
    val centroids = graft.operators.Ivf.fit(e, "vec", k = 4, maxIter = 3)
    val cb = graft.operators.Pq.fit(e, "vec", dim = 64, m = 4, ksub = 8,
      maxIter = 3)
    val tmp = java.nio.file.Files.createTempDirectory("graft-idx-spec").toString
    e.drop("vec").repartition(3).write.mode("overwrite").parquet(s"$tmp/items")
    val streamed = StreamOps.indexMaintenanceStream(spark, s"$tmp/items",
      "vec_id", "vec", centroids, cb, dim = 64, m = 4,
      indexDir = s"$tmp/index",
      prep = b => b.withColumn("vec",
        transform(col("embedding"), x => x.cast("double"))),
      maxFilesPerTrigger = Some(1))
      .collect().map(r => (r.getLong(0), r.getInt(2)) ->
        ((r.getLong(1), r.getLong(3)))).toMap
    val batch = graft.operators.Ivf.assign(e, "vec_id", "vec", centroids)
      .join(graft.operators.Pq.encode(e, "vec_id", "vec", cb,
        dim = 64, m = 4), Seq("id"))
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[Int]("sub")) ->
        ((r.getAs[Long]("centroid_id"), r.getAs[Long]("code")))).toMap
    assert(streamed == batch)
    assert(streamed.nonEmpty)
    val nBatches = spark.read.parquet(s"$tmp/index")
      .select("batch_id").distinct().count()
    assert(nBatches > 1, s"expected multiple micro-batches, got $nBatches")
    graft.engine.CacheScope.drain()
  }

  test("stream-merged count-min sketch == one-shot batch sketch, bit for bit") {
    val docs = Tables.table(spark, sf(), "documents")
    val tmp = java.nio.file.Files.createTempDirectory("graft-cms-spec").toString
    // several files + maxFilesPerTrigger=1 → real multi-batch merge path
    docs.repartition(3).write.mode("overwrite").parquet(s"$tmp/docs")
    val streamed = StreamOps.sketchStream(spark, s"$tmp/docs", "text",
      depth = 4, width = 256, sketchDir = s"$tmp/sketches",
      maxFilesPerTrigger = Some(1))
    val batch = docs
      .select(explode(graft.functions.TextFunctions.tokens(col("text"))).as("term"))
      .agg(graft.functions.CountMin.sketchUdaf(4, 256)(col("term")).as("sk"))
      .collect().head.getAs[scala.collection.Seq[Long]]("sk")
    assert(streamed.toSeq == batch.toSeq)
    // and the stream really ran more than one batch
    val nBatches = spark.read.parquet(s"$tmp/sketches")
      .select("batch_id").distinct().count()
    assert(nBatches > 1, s"expected multiple micro-batches, got $nBatches")
  }

  test("stream-maintained PSI/W1 counts across MULTIPLE micro-batches == batch counts (exactly-once)") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-drift-spec").toString
    // several files + maxFilesPerTrigger=1 → the stateful aggregate
    // really accumulates over multiple micro-batches; equality with the
    // one-shot batch counts is the exactly-once proof (double-counted or
    // dropped rows would show as a differing (source, bin) cell)
    val docs = Tables.table(spark, sf(), "documents")
    docs.repartition(3).write.mode("overwrite").parquet(s"$tmp/docs")
    var psiBatches = 0
    val psiCounts = StreamOps.qualityBinCountsStreaming(spark, s"$tmp/docs",
      maxFilesPerTrigger = Some(1),
      onFinish = q => psiBatches = q.recentProgress.count(_.numInputRows > 0))
    assert(psiBatches > 1, s"expected multiple micro-batches, got $psiBatches")
    val psiBatch = ExtensionQueries.qualityBins(docs)
      .groupBy(col("source"), col("bin")).agg(count(lit(1)).as("cc"))
    assert(psiCounts.count() > 0)
    assert(psiCounts.exceptAll(psiBatch).isEmpty &&
      psiBatch.exceptAll(psiCounts).isEmpty)
    events.write.mode("overwrite").parquet(s"$tmp/events-raw")
    // rewrite through repartition so the stream sees >1 file
    spark.read.parquet(s"$tmp/events-raw").repartition(3)
      .write.mode("overwrite").parquet(s"$tmp/events")
    var w1Batches = 0
    val w1Counts = StreamOps.valueCohortCountsStreaming(spark, s"$tmp/events",
      maxFilesPerTrigger = Some(1),
      onFinish = q => w1Batches = q.recentProgress.count(_.numInputRows > 0))
    assert(w1Batches > 1, s"expected multiple micro-batches, got $w1Batches")
    val w1Batch = ExtensionQueries.valueCohorts(events)
      .groupBy(col("vm"))
      .agg(sum(when(col("isA"), 1L).otherwise(0L)).as("ca"),
        sum(when(!col("isA"), 1L).otherwise(0L)).as("cb"))
    assert(w1Counts.count() > 0)
    assert(w1Counts.exceptAll(w1Batch).isEmpty &&
      w1Batch.exceptAll(w1Counts).isEmpty)
  }

  test("stream-maintained ACF daily sums across MULTIPLE micro-batches == batch sums (exactly-once)") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-acf-spec").toString
    events.write.mode("overwrite").parquet(s"$tmp/events-raw")
    spark.read.parquet(s"$tmp/events-raw").repartition(3)
      .write.mode("overwrite").parquet(s"$tmp/events")
    var nBatches = 0
    val streamed = StreamOps.dailyValueSumsStreaming(spark, s"$tmp/events",
      maxFilesPerTrigger = Some(1),
      onFinish = q => nBatches = q.recentProgress.count(_.numInputRows > 0))
    assert(nBatches > 1, s"expected multiple micro-batches, got $nBatches")
    val batch = events
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(sum(floor(col("value") * 1e6 + lit(0.5)).cast("long")).as("vm"))
    assert(streamed.count() > 0)
    // a dropped or double-counted row would shift a daily micro-tick sum
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("sessions partition the event count") {
    val batch = StreamOps.sessionizeBatch(events, gapMinutes = 30)
    assert(batch.agg(sum("n_events")).collect().head.getLong(0) == events.count())
  }

  test("stream-maintained mSPRT day cells across MULTIPLE micro-batches == batch cells (exactly-once)") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-msprt-spec").toString
    events.write.mode("overwrite").parquet(s"$tmp/events-raw")
    spark.read.parquet(s"$tmp/events-raw").repartition(3)
      .write.mode("overwrite").parquet(s"$tmp/events")
    var nBatches = 0
    val streamed = StreamOps.abDayCellsStreaming(spark, s"$tmp/events",
      maxFilesPerTrigger = Some(1),
      onFinish = q => nBatches = q.recentProgress.count(_.numInputRows > 0))
    assert(nBatches > 1, s"expected multiple micro-batches, got $nBatches")
    val aggs = ExtensionQueries.abDayCellAggs
    val batch = ExtensionQueries.abDayProject(events)
      .groupBy(col("d")).agg(aggs.head, aggs.tail: _*)
    assert(streamed.count() > 0)
    // a dropped or double-counted event shifts a count, a micro-sum, or
    // a decimal sum-of-squares — all three cell families are checked
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("stream-maintained secret-scan cells across MULTIPLE micro-batches == batch cells (exactly-once)") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-secret-spec").toString
    val docs = spark.read.parquet(sf() + "/documents.parquet")
    docs.repartition(3).write.mode("overwrite").parquet(s"$tmp/documents")
    var nBatches = 0
    val streamed = StreamOps.secretCellsStreaming(spark, s"$tmp/documents",
      maxFilesPerTrigger = Some(1),
      onFinish = q => nBatches = q.recentProgress.count(_.numInputRows > 0))
    assert(nBatches > 1, s"expected multiple micro-batches, got $nBatches")
    val aggs = ExtensionQueries.secretCellAggs
    val batch = ExtensionQueries.secretTokens(docs)
      .groupBy(col("source")).agg(aggs.head, aggs.tail: _*)
    assert(streamed.count() > 0)
    // a dropped or double-counted document shifts a candidate count, a
    // flag count, or the flagged entropy mass
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("stream-maintained value histogram across MULTIPLE micro-batches == batch histogram (exactly-once)") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-slo-spec").toString
    events.write.mode("overwrite").parquet(s"$tmp/events-raw")
    spark.read.parquet(s"$tmp/events-raw").repartition(3)
      .write.mode("overwrite").parquet(s"$tmp/events")
    var nBatches = 0
    val streamed = StreamOps.valueHistStreaming(spark, s"$tmp/events",
      maxFilesPerTrigger = Some(1),
      onFinish = q => nBatches = q.recentProgress.count(_.numInputRows > 0))
    assert(nBatches > 1, s"expected multiple micro-batches, got $nBatches")
    val batch = events
      .groupBy(col("event_type"),
        floor(col("value") * 1e6 + lit(0.5)).cast("long").as("vm"))
      .agg(count(lit(1)).as("c"))
    assert(streamed.count() > 0)
    // any dropped/duplicated event shifts a histogram cell, and every
    // percentile downstream of it
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  /** Walk a failure's cause chain looking for the injected marker. */
  private def causedBy(t: Throwable, marker: String): Boolean =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(20)
      .exists(e => Option(e.getMessage).exists(_.contains(marker)))

  private def committedBatches(ckpt: String): Set[String] =
    Option(new java.io.File(s"$ckpt/commits").listFiles)
      .map(_.map(_.getName).filterNot(_.startsWith(".")).toSet)
      .getOrElse(Set.empty)

  test("CRASH RECOVERY: x258 histogram killed mid-stream resumes from checkpointed state; restarted release == batch x255 bit-for-bit") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-crash1").toString
    spark.read.parquet(s"${sf()}/documents.parquet").repartition(4)
      .write.parquet(s"$tmp/docs")
    // run 1: kill at the START of micro-batch 1 — batch 0's state-store
    // delta and commit are durable, batch 1 is not
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      StreamOps.docLengthHistMaintained(spark, s"$tmp/docs",
        s"$tmp/ckpt", s"$tmp/snap", maxFilesPerTrigger = Some(1),
        onBatch = id => if (id == 1) sys.error("injected crash r14"))
    }
    assert(causedBy(ex, "injected crash r14"), s"unexpected failure: $ex")
    assert(committedBatches(s"$tmp/ckpt") == Set("0"),
      "crash landed wrong: exactly micro-batch 0 should be committed")
    // run 2: restart the SAME production entry point on the SAME
    // checkpoint — it must RESUME (first processed batch is the replayed
    // id 1, never 0: state recovered, history not rescanned)
    var replayed = List.empty[Long]
    StreamOps.docLengthHistMaintained(spark, s"$tmp/docs",
      s"$tmp/ckpt", s"$tmp/snap", maxFilesPerTrigger = Some(1),
      onBatch = id => replayed = replayed :+ id)
    assert(replayed.nonEmpty && replayed.head == 1L,
      s"restart did not resume from the checkpoint (processed $replayed)")
    assert(committedBatches(s"$tmp/ckpt").size > 1)
    // the released statistic off the recovered state is bit-identical to
    // the batch x255 release (the stream-twin contract, post-crash)
    val streamRelease = ExtensionQueries
      .giniOverLengthHist(spark.read.parquet(s"$tmp/snap"))
      .collect().map(_.toSeq)
    val batchRelease = SparkEntry.queries("x255_source_gini")(spark, sf())
      .collect().map(_.toSeq)
    assert(streamRelease.nonEmpty)
    assert(streamRelease.toSeq == batchRelease.toSeq,
      "post-crash stream release drifted from the batch statistic")
  }

  test("CRASH RECOVERY: incremental cube killed AFTER a merge commits but BEFORE its checkpoint commit; restart dedupes the replayed batch") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-crash2").toString
    events.repartition(4).write.parquet(s"$tmp/src")
    // run 1: kill right after micro-batch 1's merge lands in the cube —
    // the sink is now AHEAD of the checkpoint (the torn state the
    // batch_id replay guard exists for)
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      StreamOps.incrementalCubeMaintenance(spark, s"$tmp/src",
        s"$tmp/cube", s"$tmp/ckpt",
        onMerged = id => if (id == 1) sys.error("injected torn state r14"))
    }
    assert(causedBy(ex, "injected torn state r14"), s"unexpected failure: $ex")
    assert(committedBatches(s"$tmp/ckpt") == Set("0"))
    // the tear is REAL: the cube already holds batch 1's partials
    assert(spark.read.parquet(s"$tmp/cube")
      .filter(col("batch_id") === 1L).count() > 0,
      "fault injection missed — batch 1 partials absent, nothing torn")
    // run 2: plain restart. Spark replays batch 1 from the offset log;
    // mergeCubeBatch first drops the batch_id=1 rows the dead attempt
    // committed, so the re-merge cannot double-count
    StreamOps.incrementalCubeMaintenance(spark, s"$tmp/src",
      s"$tmp/cube", s"$tmp/ckpt")
    val cube = StreamOps.readCube(spark, s"$tmp/cube")
      .select(col("day"), col("event_type"), col("n"),
        round(col("value_sum"), 4).as("value_sum"))
    val batch = events.withColumn("day", to_date(col("ts")))
      .groupBy(col("day"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("value_sum"))
    assert(cube.count() == batch.count())
    assert(cube.exceptAll(batch).isEmpty && batch.exceptAll(cube).isEmpty,
      "post-crash cube drifted from the full batch rebuild")
  }

  test("multi-batch runners release every micro-batch barrier: no persisted RDD outlives the run") {
    val sc = spark.sparkContext
    val tmp = java.nio.file.Files.createTempDirectory("graft-release").toString
    // several files + maxFilesPerTrigger=1 → several micro-batches each,
    // every one of which makes barriers on the stream thread
    events.repartition(4).write.parquet(s"$tmp/events")
    val docs = Tables.table(spark, sf(), "documents")
    docs.filter(col("doc_id") % 2 === 1).repartition(3)
      .write.parquet(s"$tmp/docs")
    val corpus = graft.operators.Dedup.minhashIndex(
      docs.filter(col("doc_id") % 2 === 0), "doc_id", "text", k = 3)
    // the corpus index is this thread's: materialize its persisted frames
    // now, so only what the stream threads make is measured
    corpus.bands.count(); corpus.shingles.count()
    val before = sc.getPersistentRDDs.size
    StreamOps.incrementalCubeMaintenance(spark,
      s"$tmp/events", s"$tmp/cube", s"$tmp/ckpt")
    assert(committedBatches(s"$tmp/ckpt").size > 1)
    val afterCube = sc.getPersistentRDDs.size
    assert(afterCube <= before,
      s"persisted RDDs grew $before → $afterCube over the cube merges")
    val pairs = StreamOps.incrementalDedupStream(spark, s"$tmp/docs",
      "doc_id", "text", corpus, threshold = 0.8, pairsDir = s"$tmp/pairs",
      maxFilesPerTrigger = Some(1))
    assert(pairs.count() > 0)
    val after = sc.getPersistentRDDs.size
    graft.engine.CacheScope.drain()
    assert(after <= before,
      s"persisted RDDs grew $before → $after over the multi-batch runs")
  }
}
