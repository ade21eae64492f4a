package graft.operators

import graft.engine.Ckpt.BarrierOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Deduplication operators for training-data pipelines (SURVEY.md §2.C) —
  * exact, MinHash+LSH, SimHash, n-gram Jaccard, embedding-cosine.
  *
  * Scale design (the point of every choice here):
  *  - exact dedup is one hash-groupBy — a single shuffle on a 16-byte key.
  *  - the all-pairs Jaccard join exists as the small-data oracle; the scale
  *    path is MinHash banding, whose cost is O(docs × K hashes) + a shuffle
  *    on band keys, and whose candidate set is tiny compared to the cross
  *    product (pairs agreeing on ≥1 of B bands).
  *  - ubiquitous shingles are the skew hazard in the shingle self-join: a
  *    shingle in f docs contributes f² candidate rows. `maxDocFreq` caps it
  *    (drop boilerplate shingles), the standard trick before salting.
  *  - the exact-dedup fingerprint is md5 so it is engine-portable (same
  *    value in Spark, DuckDB, anything) — deterministic oracles. The
  *    MinHash/SimHash internals use codegen'd `xxhash64` longs instead:
  *    those hashes only steer candidate generation (verification is exact),
  *    so the cheapest good hash family wins — no hex-string allocation, no
  *    interpreted md5 per shingle.
  */
object Dedup {

  /** Ensure at least the session's shuffle parallelism before compute-heavy
    * per-row expressions. A small parquet input arrives as 1-2 partitions,
    * which would serialize the expensive text expressions on 1-2 cores; on
    * a real cluster the input already has ≥ target partitions and this is
    * a no-op (no shuffle inserted).
    */
  private[graft] def widen(df: DataFrame): DataFrame = {
    val target = df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200").toInt
    if (df.rdd.getNumPartitions < target) df.repartition(target) else df
  }

  // ---- exact ------------------------------------------------------------

  /** Exact duplicate groups by normalised-text fingerprint: one row per
    * distinct content, keeping the smallest id (`keep_id`), with the
    * duplicate count. Single hash-aggregate; scales to any size.
    */
  def exactGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), TextFunctions.fingerprint(col(textCol)).as("fingerprint"))
      .groupBy(col("fingerprint"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))

  /** The deduplicated view: rows whose id is the keeper of its group. */
  def exactDeduplicate(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.withColumn("fingerprint", TextFunctions.fingerprint(col(textCol)))
      .withColumn("__rn",
        row_number().over(Window.partitionBy(col("fingerprint")).orderBy(col(idCol))))
      .filter(col("__rn") === 1).drop("__rn", "fingerprint")

  /** LINE-level global dedup with document reassembly — the sub-document
    * boilerplate pass (CCNet's paragraph dedup, C4's line dedup: navbars,
    * cookie banners, license footers repeat across pages while the
    * documents themselves are unique, so document-level dedup never sees
    * them). A "line" here is a fixed `lineTokens` token window (real
    * corpora split on newlines; the synthetic corpus has none — the
    * operator takes the split as given either way); a line whose hash
    * occurs in more than `maxDocFreq` DISTINCT documents is boilerplate
    * and is dropped from every document, and each document is rebuilt
    * from its surviving lines in original order.
    *
    * Output: (id, n_lines, n_kept, clean_text) — one row per non-empty
    * input document, including documents reduced to nothing (n_kept = 0,
    * clean_text ''): a pipeline records those, it doesn't lose them.
    *
    * Scale shape: explode → two hash aggregates (line doc-frequency, then
    * per-doc reassembly) + one anti-join against the (small) boilerplate
    * hash set — the same bounded-shuffle shape as exact dedup, O(total
    * lines), no pairwise anything. The per-doc collect_list is bounded by
    * document length, not corpus size. At 100 TB the boilerplate set
    * (df > cap) is tiny by construction — broadcastable — while the line
    * table never needs to exist materialized beyond its two aggregations.
    */
  def lineDeduplicate(df: DataFrame, idCol: String, textCol: String,
      lineTokens: Int = 12, maxDocFreq: Long = 1): DataFrame = {
    require(lineTokens > 0, s"lineTokens must be positive, got $lineTokens")
    val toks = widen(df)
      .select(col(idCol).as("id"), TextFunctions.tokens(col(textCol)).as("ts"))
      .filter(size(col("ts")) > 0)
    // persisted: feeds the doc-frequency aggregate, the anti-join stream
    // side, and the per-doc line count (3 consumers)
    val lines = graft.engine.CacheScope.persistTracked(
      toks.select(col("id"),
        posexplode(transform(
          sequence(lit(0), ceil(size(col("ts")) / lit(lineTokens.toDouble)).cast("int") - 1),
          i => slice(col("ts"), i * lineTokens + 1, lit(lineTokens))))
          .as(Seq("line_idx", "lt")))
        .select(col("id"), col("line_idx"),
          concat_ws(" ", col("lt")).as("line_txt"))
        .withColumn("lh", md5(col("line_txt"))))
    val boiler = lines.groupBy(col("lh"))
      .agg(countDistinct(col("id")).as("__df"))
      .filter(col("__df") > maxDocFreq).select(col("lh"))
    val kept = lines.join(boiler, Seq("lh"), "left_anti")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_kept"),
        concat_ws(" ", transform(
          sort_array(collect_list(struct(col("line_idx"), col("line_txt")))),
          x => x("line_txt"))).as("clean_text"))
    lines.groupBy(col("id")).agg(count(lit(1)).as("n_lines"))
      .join(kept, Seq("id"), "left")
      .select(col("id"), col("n_lines"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  // ---- n-gram Jaccard (exact all-pairs — the oracle path) ---------------

  /** (id, shingle) long table; distinct per doc. `maxDocFreq` drops
    * shingles occurring in more than that many documents (skew guard — at
    * 100 TB a boilerplate shingle in 10⁶ docs would otherwise emit 10¹²
    * join rows).
    */
  def shingleTable(df: DataFrame, idCol: String, textCol: String, k: Int,
      maxDocFreq: Option[Long] = None): DataFrame = {
    val base = widen(df)
      .select(col(idCol).as("id"),
        explode(TextFunctions.shingles(col(textCol), k)).as("shingle"))
    maxDocFreq match {
      case None => base
      case Some(cap) =>
        val freq = base.groupBy("shingle").agg(count(lit(1)).as("__df"))
          .filter(col("__df") <= cap).select("shingle")
        base.join(freq, Seq("shingle")) // inner: keeps only rare-enough shingles
    }
  }

  /** (id_a, id_b, common, sz_a, sz_b) for every pair sharing ≥ 1 shingle —
    * the overlap statistics both Jaccard and containment derive from.
    */
  private def overlapPairs(df: DataFrame, idCol: String, textCol: String,
      k: Int, maxDocFreq: Option[Long]): DataFrame = {
    // localCheckpoint, NOT persist (r14): the shingle expression is the
    // expensive part and this subtree feeds three consumers (sizes + both
    // self-join sides) IN ONE PLAN — a persisted subtree referenced twice
    // per plan loses cache substitution (DeduplicateRelations re-aliases
    // it) and recomputes the shingling per consumer; the checkpointed
    // frame is a plan leaf every reference block-reads.
    // The self-join keys on xxhash64(shingle) longs, not the shingle
    // strings: 8-byte fixed-width shuffle keys and comparisons instead of
    // ~25-byte UTF8 strings. The hash only pairs up rows (the count is of
    // matching hashes); a cross-document collision would need two distinct
    // shingles with equal xxhash64 in the same doc pair — P ≈ 2⁻⁶⁴ per
    // co-occurring shingle pair, negligible even at 100 TB.
    val sh = shingleTable(df, idCol, textCol, k, maxDocFreq)
      .select(col("id"), xxhash64(col("shingle")).as("shash"))
      .ckpt()
    val sizes = sh.groupBy("id").agg(count(lit(1)).as("sz"))
    val common = sh.as("a")
      .join(sh.as("b"), col("a.shash") === col("b.shash") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("common"))
    common
      .join(sizes.select(col("id").as("id_a"), col("sz").as("sz_a")), Seq("id_a"))
      .join(sizes.select(col("id").as("id_b"), col("sz").as("sz_b")), Seq("id_b"))
  }

  /** Exact n-gram Jaccard pairs ≥ threshold via shingle self-join:
    * |A∩B| from the join, |A∪B| = |A|+|B|−|A∩B|. Quadratic in the worst
    * case — use `minhashPairs` at scale; this is the ground truth.
    */
  def jaccardPairs(df: DataFrame, idCol: String, textCol: String, k: Int,
      threshold: Double, maxDocFreq: Option[Long] = None): DataFrame =
    overlapPairs(df, idCol, textCol, k, maxDocFreq)
      .withColumn("jaccard",
        col("common").cast("double") / (col("sz_a") + col("sz_b") - col("common")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), graft.functions.EngineMath.roundAway(col("jaccard"), 4).as("jaccard"))

  /** Prefix-filtered EXACT Jaccard pairs (Bayardo et al. 2007 AllPairs /
    * PPJoin family) — the deterministic sub-quadratic path between the
    * all-pairs truth ([[jaccardPairs]]) and the probabilistic MinHash
    * banding ([[minhashPairs]]): candidates come only from pairs whose
    * PREFIXES intersect, and the prefix theorem makes that LOSSLESS.
    *
    * Under a global total order on shingles (rarest-first: (doc-freq,
    * hash)), a set s keeps only its first |s| − ⌈t·|s|⌉ + 1 shingles as
    * its prefix; any pair with Jaccard ≥ t must share a prefix shingle,
    * so the self-join runs over the prefix table — a vanishing fraction
    * of the shingle table for high t (t=0.8 keeps ~20% of each set, and
    * candidate volume scales with PREFIX-shingle collisions, not all
    * collisions). The float ⌈t·|s|⌉ errs only upward (0.8 rounds up in
    * binary), which lengthens prefixes — still lossless. Verification
    * is the exact overlap count restricted to candidate pairs.
    *
    * Scale: rarest-first ordering puts the fewest-collision shingles in
    * prefixes (the AllPairs heuristic), `maxDocFreq` still caps true
    * boilerplate, and every join is an equi-join on 8-byte hashes.
    *
    * When it wins, measured honestly: the prefix filter pays for a
    * partitioned sort of the shingle table (rank-within-doc) plus a
    * verify pass, and saves on CANDIDATE volume. On corpora where
    * collisions ≈ true-pair overlap (this synthetic corpus: no natural
    * boilerplate, x06's self-join output IS the verify work) it is
    * ~2× slower than the direct join (sf0.1: 2.9 s vs 1.5 s; 10×
    * near-dup: 89 s vs 15 s — dense replica cliques inflate candidates
    * and verify identically for both). Its regime is heavy-tailed
    * shingle frequencies — web-scale boilerplate shared by millions of
    * NON-duplicate pages, where the direct join's collision volume is
    * orders beyond its output and `maxDocFreq` cannot cap it without
    * losing recall; the prefix sort itself amortizes at index-build
    * time. Kept as the deterministic-LOSSLESS sub-quadratic path beside
    * the probabilistic banding ([[minhashPairs]]).
    */
  def jaccardPairsPrefix(df: DataFrame, idCol: String, textCol: String,
      k: Int, threshold: Double,
      maxDocFreq: Option[Long] = None): DataFrame = {
    // persist, NOT ckpt — re-tested at 10× in r15 and the r14 revert
    // still stands: swapping sh/prefix to eager checkpoint leaves measured
    // x92 13.6 → 17.3 s and x161 28.5 → 31.8 s at dense-10× (paired runs).
    // The big verify stage's CPU is genuine per-candidate work (shingle
    // re-read + join + count), not duplicate-reference recompute; the
    // barriers only unfuse the pipeline and serialize its actions. Twice
    // negative (r14 at sf0.1, r15 at 10×) — don't try a third time.
    val sh = graft.engine.CacheScope.persistTracked(
      shingleTable(df, idCol, textCol, k, maxDocFreq)
        .select(col("id"), xxhash64(col("shingle")).as("shash")))
    val sizes = sh.groupBy("id").agg(count(lit(1)).as("sz"))
    val freq = sh.groupBy("shash").agg(count(lit(1)).as("df"))
    val prefix = graft.engine.CacheScope.persistTracked(
      sh.join(freq, "shash")
        .withColumn("r", row_number().over(
          Window.partitionBy(col("id")).orderBy(col("df"), col("shash"))))
        .join(sizes, "id")
        .filter(col("r") <= col("sz") - ceil(lit(threshold) * col("sz")) + 1)
        .select(col("id"), col("shash")))
    val cand = prefix.as("a")
      .join(prefix.as("b"),
        col("a.shash") === col("b.shash") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b")).distinct()
    val common = cand
      .join(sh.select(col("id").as("id_a"), col("shash")), Seq("id_a"))
      .join(sh.select(col("id").as("id_b"), col("shash")), Seq("id_b", "shash"))
      .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("common"))
    common
      .join(sizes.select(col("id").as("id_a"), col("sz").as("sz_a")), Seq("id_a"))
      .join(sizes.select(col("id").as("id_b"), col("sz").as("sz_b")), Seq("id_b"))
      .withColumn("jaccard",
        col("common").cast("double") / (col("sz_a") + col("sz_b") - col("common")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"),
        graft.functions.EngineMath.roundAway(col("jaccard"), 4).as("jaccard"))
  }

  /** Benchmark DECONTAMINATION scan: corpus documents sharing at least
    * `minShared` k-gram shingles with ANY benchmark document — the
    * test-set-overlap check a training pipeline runs before releasing a
    * corpus (flagged documents are dropped or audited). Cross-dataset by
    * construction, unlike the self-join dedup family above.
    *
    * Scale shape: the benchmark side (eval sets) is small — its gram table
    * is broadcast, so the corpus side joins map-side with NO shuffle of
    * corpus grams; the only shuffle is the per-corpus-document aggregation.
    * `maxDocFreq` (applied to the CORPUS side) drops boilerplate grams
    * that would flag everything. Output: (idCol, n_shared_shingles,
    * n_bench_docs) per flagged corpus document.
    */
  def contaminationScan(corpus: DataFrame, benchmark: DataFrame,
      idCol: String, textCol: String, k: Int, minShared: Long = 1,
      maxDocFreq: Option[Long] = None): DataFrame = {
    val cg = shingleTable(corpus, idCol, textCol, k, maxDocFreq)
    val bg = shingleTable(benchmark, idCol, textCol, k, None)
      .select(col("id").as("__bench_id"), col("shingle"))
    cg.join(broadcast(bg), Seq("shingle"))
      .groupBy(col("id"))
      .agg(countDistinct(col("shingle")).as("n_shared_shingles"),
        countDistinct(col("__bench_id")).as("n_bench_docs"))
      .filter(col("n_shared_shingles") >= minShared)
      .withColumnRenamed("id", idCol)
  }

  /** [[contaminationScan]] with a BLOOM-FILTER pre-prune of the corpus gram
    * stream — the shape for when the benchmark gram table outgrows an exact
    * broadcast (hundreds of eval sets ≈ 10⁹ grams: tens of GB as exact
    * strings, ~1.2 GB as a 1% bloom). Same output, bit-for-bit:
    *
    *  1. the benchmark's distinct grams fold into a `BloomFilter`
    *     (spark.util.sketch — mergeable, built distributed via
    *     `stat.bloomFilter`'s treeAggregate) broadcast to every task;
    *  2. corpus grams filter through `mightContain` IN the scan stage — no
    *     false negatives, so nothing real is lost; ~fpp of clean grams
    *     survive falsely;
    *  3. survivors (a sliver of the corpus stream) join the exact benchmark
    *     gram table, which removes the false positives. This join SHUFFLES
    *     both sides — correct at this size precisely because the bloom
    *     already discarded the corpus bulk map-side.
    *
    * The equality `contaminationScanBloom ≡ contaminationScan` is the
    * correctness gate (x56 runs the bloom path against the exact oracle).
    */
  def contaminationScanBloom(corpus: DataFrame, benchmark: DataFrame,
      idCol: String, textCol: String, k: Int, minShared: Long = 1,
      maxDocFreq: Option[Long] = None, fpp: Double = 0.01): DataFrame = {
    val cg = shingleTable(corpus, idCol, textCol, k, maxDocFreq)
    // persisted: the benchmark gram table feeds THREE actions (sizing
    // count, bloom build, exact join) — the overlapPairs precedent
    val bg = graft.engine.CacheScope.persistTracked(
      shingleTable(benchmark, idCol, textCol, k, None)
        .select(col("id").as("__bench_id"), col("shingle")))
    val distinctGrams = bg.select(col("shingle")).distinct()
    val nGrams = math.max(distinctGrams.count(), 1L)
    val bloom = distinctGrams.stat.bloomFilter("shingle", nGrams, fpp)
    val bc = corpus.sparkSession.sparkContext.broadcast(bloom)
    val mightContain = udf((s: String) => s != null && bc.value.mightContainString(s))
    cg.filter(mightContain(col("shingle")))
      .join(bg, Seq("shingle"))
      .groupBy(col("id"))
      .agg(countDistinct(col("shingle")).as("n_shared_shingles"),
        countDistinct(col("__bench_id")).as("n_bench_docs"))
      .filter(col("n_shared_shingles") >= minShared)
      .withColumnRenamed("id", idCol)
  }

  /** Asymmetric shingle CONTAINMENT pairs: C(A⊆B) = |A∩B| / |A|. Catches
    * sub-document duplication Jaccard misses — a paragraph pasted into a
    * much larger document has high containment but low Jaccard (the size
    * imbalance dilutes the union). Emits both directions for pairs where
    * either containment ≥ threshold; same cost shape as `jaccardPairs`
    * (one shingle self-join), same skew guard (`maxDocFreq`).
    */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String, k: Int,
      threshold: Double, maxDocFreq: Option[Long] = None): DataFrame =
    overlapPairs(df, idCol, textCol, k, maxDocFreq)
      .withColumn("c_ab", col("common").cast("double") / col("sz_a"))
      .withColumn("c_ba", col("common").cast("double") / col("sz_b"))
      .filter(greatest(col("c_ab"), col("c_ba")) >= threshold)
      .select(col("id_a"), col("id_b"),
        graft.functions.EngineMath.roundAway(col("c_ab"), 4).as("c_ab"),
        graft.functions.EngineMath.roundAway(col("c_ba"), 4).as("c_ba"))

  // ---- MinHash + banded LSH (the scale path) ----------------------------

  /** MinHash signature: `numHashes` independent permutations simulated by
    * min over xxhash64(i, shingle) — seeding with the permutation index as
    * an extra hash input gives independent families; 64-bit longs make the
    * array_min and band hashing integer ops (no hex-string allocation).
    *
    * Over an ALREADY-MATERIALIZED shingle array column. Callers
    * scoring many hashes must materialize `sh` first (checkpoint/persist
    * boundary): Catalyst's CollapseProject inlines a shingle EXPRESSION
    * into every one of the `numHashes` elements, re-tokenizing and
    * re-building the shingle strings numHashes× per row (measured 450 s
    * vs 6 s at sf0.1 with 128 hashes).
    */
  def minhashSignatureOf(sh: Column, numHashes: Int): Column =
    array((0 until numHashes).map { i =>
      array_min(transform(sh, s => xxhash64(lit(i), s)))
    }: _*)

  /** (id, band, bandKey): one row per document per band; bandKey hashes
    * `rowsPerBand` consecutive signature components. Documents sharing any
    * (band, bandKey) are candidates. Probability a pair with Jaccard j
    * collides: 1 − (1 − j^r)^b.
    */
  def minhashBands(df: DataFrame, idCol: String, textCol: String, k: Int,
      bands: Int, rowsPerBand: Int): DataFrame =
    bandsOf(sigFrame(df, idCol, textCol, k, bands * rowsPerBand),
      bands, rowsPerBand)

  /** Reusable MinHash index of a corpus: the banded signature table +
    * shingle-set table a 100 TB pipeline builds ONCE per corpus and
    * dedups every incoming batch against ([[minhashPairsBetween]]).
    * At scale both frames are written out (`bands` partitioned/bucketed
    * by (band, band_key), `shingles` by id) so indexing cost — the only
    * pass over the full corpus — is paid once and amortized over every
    * subsequent crawl increment.
    */
  final case class MinhashIndex(bands: DataFrame, shingles: DataFrame,
      k: Int, numBands: Int, rowsPerBand: Int)

  /** Build the [[MinhashIndex]]: one pass — shingle sets (persisted once,
    * see [[sigFrame]]), signatures, band keys.
    */
  def minhashIndex(df: DataFrame, idCol: String, textCol: String, k: Int,
      bands: Int = 4, rowsPerBand: Int = 3): MinhashIndex = {
    val withSig = sigFrame(df, idCol, textCol, k, bands * rowsPerBand)
    MinhashIndex(bandsOf(withSig, bands, rowsPerBand),
      withSig.select(col("id"), col("sh")), k, bands, rowsPerBand)
  }

  /** INCREMENTAL cross-corpus near-dup pairs: every batch document whose
    * Jaccard with some corpus document clears the threshold — the "dedup
    * the new crawl against the existing corpus" shape. Only the batch
    * side is freshly signed; the corpus index is reused as-is, so the
    * per-batch cost is O(batch × K hashes) + a join of the (small) batch
    * band table against the corpus bands — with the index stored
    * band-bucketed, that join co-locates (or broadcasts the batch side)
    * and the corpus is never re-shuffled. Candidates verify with the
    * exact shingle-set Jaccard, same as [[minhashPairs]]; recall
    * characteristics are identical (1 − (1 − j^r)^b per pair).
    */
  def minhashPairsBetween(batch: MinhashIndex, corpus: MinhashIndex,
      threshold: Double): DataFrame = {
    require(batch.k == corpus.k && batch.numBands == corpus.numBands &&
      batch.rowsPerBand == corpus.rowsPerBand,
      "batch and corpus indexes must share (k, bands, rowsPerBand)")
    val cand = batch.bands.as("n").join(corpus.bands.as("c"),
        col("n.band") === col("c.band") &&
          col("n.band_key") === col("c.band_key"))
      .select(col("n.id").as("id_new"), col("c.id").as("id_corpus"))
      .distinct()
    cand
      .join(batch.shingles.select(col("id").as("id_new"), col("sh").as("sh_n")),
        Seq("id_new"))
      .join(corpus.shingles.select(col("id").as("id_corpus"), col("sh").as("sh_c")),
        Seq("id_corpus"))
      .withColumn("common", size(array_intersect(col("sh_n"), col("sh_c"))))
      .withColumn("jaccard", col("common").cast("double") /
        (size(col("sh_n")) + size(col("sh_c")) - col("common")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_new"), col("id_corpus"),
        graft.functions.EngineMath.roundAway(col("jaccard"), 4).as("jaccard"))
  }

  /** (id, sh, sig), with the shingle set persisted first: Catalyst's
    * CollapseProject inlines a projected alias into every consumer and
    * lambda-bearing expressions are excluded from subexpression
    * elimination, so WITHOUT the materialization barrier the shingle HOF
    * would be re-evaluated once per hash function (measured 10-20×
    * slow-down). The persist caps that at exactly one evaluation per doc.
    */
  private def sigFrame(df: DataFrame, idCol: String, textCol: String, k: Int,
      numHashes: Int): DataFrame = {
    // localCheckpoint, NOT persist (r14): through minhashPairs the shingle
    // frame is referenced up to 4x in ONE plan (both band-join sides +
    // both verification sides), and a persisted subtree referenced twice
    // per plan loses cache substitution and re-tokenizes per reference.
    val docs = widen(df).select(col(idCol).as("id"),
        TextFunctions.shingles(col(textCol), k).as("sh"))
      .ckpt()
    docs.select(col("id"), col("sh"),
      minhashSignatureOf(col("sh"), numHashes).as("sig"))
  }

  /** (id, band, band_key) from an (id, sig) frame: band_key is xxhash64 of
    * the band's `rowsPerBand` signature longs (an integer-only hash).
    */
  private def bandsOf(sig: DataFrame, bands: Int, rowsPerBand: Int): DataFrame =
    sig.select(col("id"), explode(
      array((0 until bands).map { b =>
        struct(lit(b).as("band"),
          xxhash64(slice(col("sig"), b * rowsPerBand + 1, rowsPerBand))
            .as("band_key"))
      }: _*)).as("bk"))
      .select(col("id"), col("bk.band").as("band"), col("bk.band_key").as("band_key"))

  /** Candidate pairs from banded LSH: distinct (id_a < id_b) sharing a
    * band bucket. The self-join shuffles on (band, band_key) — tiny keys,
    * and bucket sizes stay small unless documents truly collide.
    */
  def minhashCandidates(df: DataFrame, idCol: String, textCol: String, k: Int,
      bands: Int, rowsPerBand: Int): DataFrame = {
    val bk = minhashBands(df, idCol, textCol, k, bands, rowsPerBand)
    bk.as("a").join(bk.as("b"),
        col("a.band") === col("b.band") &&
          col("a.band_key") === col("b.band_key") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
  }

  /** MinHash-LSH dedup pairs: LSH candidates verified with the exact
    * Jaccard of their shingle sets. The verification joins the (id,
    * shingle-set) frame onto the candidate pairs and intersects arrays
    * directly — it touches O(candidates) pairs, not O(n²), and the
    * expensive md5 signature is computed exactly once per document.
    */
  def minhashPairs(df: DataFrame, idCol: String, textCol: String, k: Int,
      threshold: Double, bands: Int = 4, rowsPerBand: Int = 3): DataFrame = {
    // one pass: shingle set per doc, persisted — it feeds the signature AND
    // both sides of the verification join (3 consumers)
    val withSig = sigFrame(df, idCol, textCol, k, bands * rowsPerBand)
    val docs = withSig.select(col("id"), col("sh"))
    val bk = bandsOf(withSig, bands, rowsPerBand)
    val cand = bk.as("a").join(bk.as("b"),
        col("a.band") === col("b.band") &&
          col("a.band_key") === col("b.band_key") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    // exact verify on the candidate pairs via set intersection — same
    // Jaccard value as the explode/self-join oracle path (both distinct sets)
    cand
      .join(docs.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(docs.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .withColumn("common", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("jaccard", col("common").cast("double") /
        (size(col("sh_a")) + size(col("sh_b")) - col("common")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), graft.functions.EngineMath.roundAway(col("jaccard"), 4).as("jaccard"))
  }

  // ---- SimHash ----------------------------------------------------------

  /** The low 60 bits of xxhash64 — the per-token hash both simhash
    * variants share (must be value-identical between them).
    */
  private def tokenHash60(t: Column): Column =
    xxhash64(t).bitwiseAND((1L << 60) - 1)

  /** 60-bit SimHash over whitespace tokens: per token take the low 60 bits
    * of xxhash64; output bit j is 1 iff more tokens set bit j than clear
    * it. Near-duplicates land within a small Hamming distance. Pure
    * expression — no UDF. (Column form, for per-row use; `simhashTable`
    * is the fast path for whole-table computation.)
    */
  def simhash(text: Column): Column = {
    val hashes = transform(TextFunctions.tokens(text), t => tokenHash60(t))
    val n = size(hashes)
    // for each bit j: set iff 2 * count_of_ones > n (majority vote).
    // call_function("shiftright", …) because the Scala API only takes a
    // literal Int shift; the SQL expression accepts a column.
    aggregate(
      sequence(lit(0), lit(59)),
      lit(0L),
      (acc, j) => {
        val ones = aggregate(hashes, lit(0L),
          (c, h) => c + call_function("shiftright", h, j).bitwiseAND(1L))
        acc + when(ones * 2 > n,
          call_function("shiftleft", lit(1L), j)).otherwise(0L)
      })
  }

  def hammingDistance(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** (id, simhash) via explode + hash-aggregate — the FAST path: the same
    * majority-vote simhash as `simhash(Column)`, but computed as one
    * codegen'd HashAggregate with 60 bit-count sums instead of a 60-way
    * nested higher-order-function expression per row (which executes
    * interpreted and quadratically). Documents with zero tokens get
    * simhash 0, matching the Column version.
    */
  def simhashTable(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    // Bit-sliced counting: the 60 per-bit counters are packed 4-per-long as
    // 16-bit fields (safe for documents up to 65535 tokens), so the
    // HashAggregate has 16 agg columns instead of 61 — a far smaller
    // generated class (Janino compile time was the dominant cold cost) and
    // a quarter of the aggregation buffer.
    val slots = 4; val w = 16; val groups = 15 // 15 longs × 4 counters
    val tok = widen(df).select(col(idCol).as("id"),
      explode_outer(TextFunctions.tokens(col(textCol))).as("tok"))
      .withColumn("h", when(col("tok").isNotNull,
        tokenHash60(col("tok"))).otherwise(lit(null)))
    val packs = (0 until groups).map { g =>
      sum((0 until slots).map(s =>
        shiftright(col("h"), g * slots + s).bitwiseAND(1L) * lit(1L << (w * s)))
        .reduce(_ + _)).as(s"p$g")
    }
    val agg = tok.groupBy(col("id"))
      .agg(count(col("h")).as("n"), packs: _*)
    val sh = (0 until 60).map { j =>
      val cnt = shiftright(col(s"p${j / slots}"), w * (j % slots))
        .bitwiseAND((1L << w) - 1)
      when(cnt * 2 > col("n"), lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)
    agg.select(col("id"), sh.as("sh"))
  }

  /** SimHash near-dup pairs with Hamming distance ≤ maxDist, found by
    * pigeonhole banding: the 60-bit hash is split into `maxDist + 1`
    * chunks, so any pair within distance ≤ maxDist differs in at most
    * maxDist chunks and therefore agrees exactly on ≥ 1 chunk — the join
    * on (chunk, chunk_val) is COMPLETE, not approximate (Manku et al.,
    * WWW'07 §3). The exact `hamming ≤ maxDist` filter after the join
    * removes false candidates, so the result is exact.
    *
    * Scale note: single-chunk keys are 60/(maxDist+1) bits wide, so large
    * maxDist means coarse chunks and bucket sizes ~n/2^6 at maxDist=10 —
    * quadratic pain at billions of rows. For maxDist > 5 the banding
    * therefore switches to TWO-CHUNK keys: with `maxDist + 2` chunks any
    * pair within the bound still agrees on ≥ 2 chunks (pigeonhole), hence
    * on at least one PAIR of chunks — the join key carries both chunks'
    * bits (double the key entropy, squared bucket shrinkage) at the cost
    * of C(maxDist+2, 2) explode rows per doc. Still COMPLETE and exact.
    */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
      maxDist: Int = 3): DataFrame =
    // localCheckpoint (r14): the simhash aggregate feeds both self-join
    // sides of ONE plan — the duplicate-reference cache trap.
    simhashPairsOf(simhashTable(df, idCol, textCol).ckpt(),
      maxDist)

  /** The pigeonhole chunk layout for a given distance bound: (chunk index,
    * bit offset, value mask). Uneven split — the first (60 % nChunks)
    * chunks get one extra bit. Shared by the banding join AND the oracle
    * SQL builder, so the two cannot drift.
    */
  def simhashChunkSpec(maxDist: Int): Seq[(Int, Int, Long)] =
    chunkSpecOf(maxDist + 1)

  /** Even-as-possible split of the 60 signature bits into nChunks chunks:
    * (chunk index, bit offset, value mask); the first 60 % nChunks chunks
    * get one extra bit.
    */
  private def chunkSpecOf(nChunks: Int): Seq[(Int, Int, Long)] = {
    require(nChunks >= 1 && nChunks <= 60,
      s"chunk count must be in [1, 60], got $nChunks")
    val base = 60 / nChunks; val rem = 60 % nChunks
    val widths = (0 until nChunks).map(c => if (c < rem) base + 1 else base)
    val offsets = widths.scanLeft(0)(_ + _).init
    (0 until nChunks).map(c => (c, offsets(c), (1L << widths(c)) - 1))
  }

  /** The banding + verification over an existing (id, sh) simhash table —
    * the downstream half of [[simhashPairs]], callable over a staged/
    * persisted signature frame (the per-doc signature computation is the
    * engine-specific part; everything from here is relational algebra).
    * maxDist ≤ 5 bands on single chunks; above that on chunk PAIRS (see
    * [[simhashPairs]]'s scale note) — the result set is identical either
    * way (both schemes are complete; the hamming filter is exact).
    */
  /** `maxBucket` (opt-in): drop every banding bucket holding more than
    * this many signatures BEFORE the self-join. At permissive distances
    * (maxDist 14 → ~8 effective band bits) correlated signatures make
    * some buckets scale with the corpus — candidate volume then grows as
    * a constant fraction of ALL pairs (measured 26.9× on 10× constant-
    * density data, BASELINE.md round 8). The cap bounds any bucket's
    * contribution to maxBucket² candidates, restoring linear growth; a
    * pair is LOST only if every band it agrees on is oversized — i.e.
    * boilerplate-shaped content, the same trade the MinHash path's
    * maxDocFreq makes. Leave at MaxValue where the exact pair set is the
    * contract (the oracle-gated x08/x69 queries do).
    */
  def simhashPairsOf(sh: DataFrame, maxDist: Int,
      maxBucket: Int = Int.MaxValue): DataFrame = {
    // the two-chunk scheme needs maxDist+2 chunks within the 60 bits
    require(maxDist >= 0 && (maxDist <= 5 || maxDist + 2 <= 60),
      s"maxDist must be in [0, 58], got $maxDist")
    // (bucket id, chunk spec(s)) per explode row for the chosen scheme
    val keySpecs: Seq[(Int, Seq[(Int, Long)])] =
      if (maxDist <= 5)
        chunkSpecOf(maxDist + 1).map { case (c, off, mask) =>
          (c, Seq((off, mask)))
        }
      else {
        // pigeonhole on pairs: maxDist+2 chunks → ≥2 agreeing chunks →
        // ≥1 agreeing chunk PAIR; key = both chunks' values
        val spec = chunkSpecOf(maxDist + 2)
        for {
          (c1, o1, m1) <- spec
          (c2, o2, m2) <- spec if c2 > c1
        } yield (c1 * 64 + c2, Seq((o1, m1), (o2, m2)))
      }
    val keys: Seq[Column] = keySpecs.map { case (id, parts) =>
      val vs = parts.zipWithIndex.map { case ((off, mask), i) =>
        shiftright(col("sh"), off).bitwiseAND(mask).as(s"v${i + 1}")
      }
      val v2 = if (parts.size > 1) vs(1) else lit(0L).as("v2")
      struct(lit(id).as("chunk") +: vs.head +: v2 +: Nil: _*)
    }
    bandedSelfJoin(sh, keys, Seq("sh"),
      hammingDistance(col("a.sh"), col("b.sh")), maxDist, maxBucket)
  }

  /** Banding over a TWO-WORD (120-bit) signature frame (id, sh_hi, sh_lo),
    * each word carrying 60 signature bits — the production path for
    * PERMISSIVE distance bounds. At maxDist 14 the 60-bit scheme's chunk
    * pairs carry only ~7.5 key bits, and when signature bits are
    * correlated (measured on the dHash of byte-sampled media: candidate
    * volume a constant fraction of ALL pairs, 26.9× growth on 10×
    * constant-density data — BASELINE.md round 8) the buckets scale with
    * the corpus. Keeping the SAME absolute bound over twice the bits
    * doubles every chunk's width: 16 chunks of 7-8 bits, chunk-pair keys
    * ~15 bits vs ~7.5 — expected bucket occupancy shrinks by ~2^7.5, and
    * candidate volume returns to near-linear. The completeness argument
    * is word-width-independent: maxDist+2 chunks partition all 120 bits,
    * a pair within the bound has ≥2 clean chunks, hence ≥1 clean chunk
    * PAIR; chunks never cross the word boundary (each word splits
    * independently), so key extraction stays one shift+mask per part.
    */
  /** The two-word chunk layout: n chunks distributed across the words —
    * hi gets ceil(n/2) chunks of its 60 bits, lo the rest of its own 60;
    * chunk ids are unique across words. (chunk id, word column, bit
    * offset, value mask) rows; for n == 1 the single chunk covers hi
    * only — still complete (≤ maxDist dirty bits dirty ≤ maxDist of the
    * covered chunks; with maxDist+1 covered chunks ≥1 stays clean).
    * Public for the same reason as [[simhashChunkSpec]]: specs measuring
    * bucket occupancy must use the EXACT layout the join uses.
    */
  def wideWordSpec(n: Int): Seq[(Int, String, Int, Long)] = {
    val nHi = (n + 1) / 2; val nLo = n - nHi
    val hi = chunkSpecOf(nHi).map { case (c, o, m) => (c, "sh_hi", o, m) }
    val lo = if (nLo == 0) Nil
      else chunkSpecOf(nLo).map { case (c, o, m) => (nHi + c, "sh_lo", o, m) }
    hi ++ lo
  }

  def simhashPairsOfWide(sh: DataFrame, maxDist: Int,
      maxBucket: Int = Int.MaxValue): DataFrame = {
    require(maxDist >= 0 && (maxDist <= 5 || maxDist + 2 <= 120),
      s"maxDist must be in [0, 118], got $maxDist")
    val keySpecs: Seq[(Int, Seq[(String, Int, Long)])] =
      if (maxDist <= 5)
        wideWordSpec(maxDist + 1).map { case (c, w, off, mask) =>
          (c, Seq((w, off, mask)))
        }
      else {
        val spec = wideWordSpec(maxDist + 2)
        for {
          (c1, w1, o1, m1) <- spec
          (c2, w2, o2, m2) <- spec if c2 > c1
        } yield (c1 * 128 + c2, Seq((w1, o1, m1), (w2, o2, m2)))
      }
    val keys: Seq[Column] = keySpecs.map { case (id, parts) =>
      val vs = parts.zipWithIndex.map { case ((w, off, mask), i) =>
        shiftright(col(w), off).bitwiseAND(mask).as(s"v${i + 1}")
      }
      val v2 = if (parts.size > 1) vs(1) else lit(0L).as("v2")
      struct(lit(id).as("chunk") +: vs.head +: v2 +: Nil: _*)
    }
    bandedSelfJoin(sh, keys, Seq("sh_hi", "sh_lo"),
      (hammingDistance(col("a.sh_hi"), col("b.sh_hi")) +
        hammingDistance(col("a.sh_lo"), col("b.sh_lo"))).cast("int"),
      maxDist, maxBucket)
  }

  /** The shared banding tail: explode each signature row to its bucket
    * keys, optionally cap bucket sizes, self-join on the bucket key,
    * verify with the exact distance. `dist` references the join sides as
    * `a`/`b`; `sigCols` are carried through the explode so `dist` can
    * read them.
    */
  private def bandedSelfJoin(sh: DataFrame, keys: Seq[Column],
      sigCols: Seq[String], dist: Column, maxDist: Int,
      maxBucket: Int): DataFrame = {
    // widen: the signature frame may arrive narrow (a small staged parquet
    // is ONE partition) and the explode + bucket self-join below must not
    // serialize on one core (see `widen`'s scaladoc)
    val chunkedRaw = widen(sh).select(col("id") +: sigCols.map(col) :+
        explode(array(keys: _*)).as("ck"): _*)
      .select(col("id") +: sigCols.map(col) :+
        col("ck.chunk") :+ col("ck.v1") :+ col("ck.v2"): _*)
    // the window shuffles by the same key the self-join below uses, so
    // the cap costs one exchange that the join re-uses
    val chunked =
      if (maxBucket == Int.MaxValue) chunkedRaw
      else {
        val w = Window.partitionBy(col("chunk"), col("v1"), col("v2"))
        BucketCapMetrics.observed(
            chunkedRaw.withColumn("__bn", count(lit(1)).over(w)), maxBucket)
          .filter(col("__bn") <= maxBucket).drop("__bn")
      }
    // A pair within the bound shares MANY buckets, so the bucket join
    // emits it several times; distinct() dedups. (Measured alternative:
    // deciding the pair's canonical agreeing bucket inline from
    // sh_a XOR sh_b avoids the dedup shuffle but pushes a large
    // conditional into the join residual, knocking it out of codegen —
    // 10-25x SLOWER than the narrow-row distinct at bench scale.)
    // (r14 note: the two self-join sides are IDENTICAL canonical subtrees,
    // so ReuseExchange already computes the explode once — a checkpoint
    // barrier here measured SLOWER (x08 2.0 -> 4.0 s) by unfusing the
    // explode from the join stage.)
    chunked.as("a").join(chunked.as("b"),
        col("a.chunk") === col("b.chunk") &&
          col("a.v1") === col("b.v1") && col("a.v2") === col("b.v2") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        dist.as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxDist)
  }

  // ---- winnowing (rolling-hash local fingerprints) -----------------------

  /** Winnowing fingerprints (the MOSS scheme): hash every character k-gram
    * (rolling hash via [[TextFunctions.charGramHashes]]), slide a window of
    * `w` consecutive gram hashes, keep each window's minimum, dedup.
    * Guarantee: any shared substring of length ≥ w+k−1 between two
    * documents yields at least one shared fingerprint — local, position-
    * independent overlap detection, unlike the whole-document
    * `TextFunctions.fingerprint`.
    *
    * Shape: explode the gram array once, take the sliding min with a
    * window function (one shuffle on id, each gram hashed exactly once),
    * then distinct. A nested-HOF formulation would re-evaluate the gram
    * array per window — O(n²) per document (the CSE trap, see `sigFrame`).
    *
    * Output: (id, fp) — one row per distinct selected fingerprint.
    */
  def winnowFingerprints(df: DataFrame, idCol: String, textCol: String,
      k: Int = 5, w: Int = 4): DataFrame =
    winnowFingerprintsOf(winnowGrams(df, idCol, textCol, k), w)

  /** (id, pos, g): the positional k-gram rolling-hash table — the
    * engine-specific half of winnowing (xxhash64 per char k-gram), staged
    * separately so the selection logic below can be oracle-checked over it.
    */
  def winnowGrams(df: DataFrame, idCol: String, textCol: String,
      k: Int = 5): DataFrame = {
    // persist the normalised text FIRST: charGramHashes' lambda captures
    // its input per element, so it must see a materialised attribute, not
    // the tokenizer expression (else O(n²) per doc — see its Scaladoc)
    val norm = graft.engine.CacheScope.persistTracked(
      widen(df).select(col(idCol).as("id"),
        TextFunctions.normalizedText(col(textCol)).as("t")))
    norm.select(col("id"),
      posexplode(TextFunctions.charGramHashes(col("t"), k))
        .as(Seq("pos", "g")))
  }

  /** Window-min fingerprint selection over an (id, pos, g) gram table —
    * the downstream half of [[winnowFingerprints]] (plain relational
    * algebra: one window pass + distinct).
    */
  def winnowFingerprintsOf(grams: DataFrame, w: Int): DataFrame = {
    val win = Window.partitionBy(col("id")).orderBy(col("pos"))
      .rowsBetween(-(w - 1), Window.currentRow)
    grams
      .withColumn("wmin", min(col("g")).over(win))
      // rows before the first full window only contribute for documents
      // shorter than w grams (their single overall min is the fingerprint)
      .withColumn("ng", count(lit(1)).over(Window.partitionBy(col("id"))))
      .filter(col("pos") >= w - 1 || (col("ng") < w && col("pos") === col("ng") - 1))
      .select(col("id"), col("wmin").as("fp"))
      .distinct()
  }

  /** Documents sharing ≥ `minShared` winnow fingerprints — the local-
    * overlap near-dup relation (finds partial plagiarism/quotation overlap
    * that whole-document similarity misses). Self-join on fp: the skew
    * guard is the same df-cap idea as shingles — drop ubiquitous
    * fingerprints via `maxDocFreq`.
    */
  def winnowOverlapPairs(df: DataFrame, idCol: String, textCol: String,
      k: Int = 5, w: Int = 4, minShared: Int = 2,
      maxDocFreq: Option[Long] = None): DataFrame =
    winnowOverlapPairsOf(winnowFingerprints(df, idCol, textCol, k, w),
      minShared, maxDocFreq)

  /** Pairing over an existing (id, fp) fingerprint frame — the downstream
    * half of [[winnowOverlapPairs]]. Persists its input: the fp frame
    * feeds the doc-frequency count and both self-join sides.
    */
  def winnowOverlapPairsOf(fingerprints: DataFrame, minShared: Int = 2,
      maxDocFreq: Option[Long] = None): DataFrame = {
    val fps0 = graft.engine.CacheScope.persistTracked(fingerprints)
    val fps = maxDocFreq match {
      case None => fps0
      case Some(cap) =>
        val rare = fps0.groupBy("fp").agg(count(lit(1)).as("__df"))
          .filter(col("__df") <= cap).select("fp")
        fps0.join(rare, Seq("fp"))
    }
    fps.as("a").join(fps.as("b"),
        col("a.fp") === col("b.fp") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  // ---- connected components (pairs → dedup groups) ----------------------

  /** Connected components over an undirected pair list: every node gets the
    * smallest id reachable from it (`component`). Near-dup PAIRS only
    * become droppable once closed transitively — a≈b, b≈c must collapse to
    * one keeper even when a≉c directly.
    *
    * Distributed algorithm: the large-star/small-star alternation (Kiveris
    * et al., "Connected Components in MapReduce and Beyond", SoCC'14):
    * each round rewires every node's strictly-larger neighbors
    * (large-star), then its smaller-or-equal neighbors (small-star), to
    * the minimum of its neighborhood. Converges to per-component stars
    * rooted at the minimum id in O(log n) rounds on ANY graph shape —
    * unlike min-label propagation, whose round count is the component
    * DIAMETER (a 10⁶-long chain would need 10⁶ shuffles; the star
    * alternation needs ~20). Each half-step is one groupBy + one join,
    * all distributed; the driver only compares a per-round checksum for
    * the fixpoint test.
    */
  def components(pairs: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 50, collectThreshold: Long = 5000000L,
      checkpointDir: Option[String] = None): DataFrame = {
    import org.apache.spark.sql.types.LongType
    // Size-adaptive: the candidate-pair graph is tiny relative to the
    // corpus (it exists only where near-dups exist), so up to
    // `collectThreshold` edges a driver-side union-find (milliseconds)
    // beats an iterative distributed loop (seconds of per-job fixed cost).
    // Above the threshold — or for non-long ids — the star alternation
    // below is the scale path.
    val longIds = pairs.schema(aCol).dataType == LongType &&
      pairs.schema(bCol).dataType == LongType
    // persist BEFORE the size probe: the threshold count and the
    // local-path collect (or the distributed loop's first pass) would
    // otherwise evaluate the full upstream pair computation twice
    val cachedPairs = graft.engine.CacheScope.persistTracked(
      pairs.select(col(aCol), col(bCol)))
    if (longIds &&
        cachedPairs.limit((collectThreshold + 1).toInt).count() <= collectThreshold)
      return componentsLocal(cachedPairs, aCol, bCol)

    /** large-star: for every node u with m = min(N(u) ∪ {u}), connect each
      * strictly-larger neighbor to m. One aggregation + one join.
      */
    def largeStar(e: DataFrame): DataFrame = {
      val bidir = e.unionByName(e.select(col("dst").as("src"), col("src").as("dst")))
      val m = bidir.groupBy(col("src"))
        .agg(least(min(col("dst")), first(col("src"))).as("m"))
      bidir.join(m, Seq("src"))
        .filter(col("dst") > col("src"))
        .select(col("dst").as("src"), col("m").as("dst"))
        .filter(col("src") =!= col("dst"))
        .distinct()
    }

    /** small-star: direct each edge large→small; for every node a with
      * m = min of its smaller neighbors, connect those neighbors AND a
      * itself to m.
      */
    def smallStar(e: DataFrame): DataFrame = {
      val directed = e.select(greatest(col("src"), col("dst")).as("a"),
        least(col("src"), col("dst")).as("b")).filter(col("a") =!= col("b"))
      val m = directed.groupBy(col("a")).agg(min(col("b")).as("m"))
      directed.join(m, Seq("a"))
        .select(col("b").as("src"), col("m").as("dst"))
        .unionByName(m.select(col("a").as("src"), col("m").as("dst")))
        .filter(col("src") =!= col("dst"))
        .distinct()
    }

    /** (count, hash-xor) fingerprint of a canonicalized edge set — the
      * driver-side fixpoint test (two tiny numbers per round, not a
      * collected edge list). bit_xor is order-insensitive and cannot
      * overflow under ANSI; the edge set is distinct so nothing cancels.
      */
    def checksum(e: DataFrame): (Long, Long) = {
      val r = e.select(least(col("src"), col("dst")).as("a"),
          greatest(col("src"), col("dst")).as("b"))
        .agg(count(lit(1)), coalesce(bit_xor(xxhash64(col("a"), col("b"))), lit(0L)))
        .collect().head
      (r.getLong(0), r.getLong(1))
    }

    // Lineage truncation each round: an iterative plan built on its own
    // previous round grows multiplicatively (each half-step references
    // its input several times) — without truncation the logical plan
    // explodes exponentially in the round count. Checkpointing
    // materializes the (small) edge frame and restarts the plan from it.
    // Two flavors, same contract:
    //  - localCheckpoint (default): executor-local blocks, no filesystem —
    //    fastest, but blocks die with their executor, so a lost executor
    //    fails the job (fine in local mode / short loops);
    //  - reliable checkpoint (`checkpointDir = Some(dir)`): rounds persist
    //    to the (fault-tolerant) checkpoint filesystem — a mid-loop
    //    executor loss recomputes from the last round's files instead of
    //    failing, the right trade on a 1000-executor cluster where churn
    //    over a 20-round loop is routine.
    checkpointDir.foreach(pairs.sparkSession.sparkContext.setCheckpointDir)
    def barrier(df: DataFrame): DataFrame =
      if (checkpointDir.isDefined) df.checkpoint() else df.ckpt()
    var edges = barrier(cachedPairs
      .select(col(aCol).as("src"), col(bCol).as("dst"))
      .filter(col("src") =!= col("dst")).distinct())
    var sig = checksum(edges)
    var i = 0
    var converged = false
    while (!converged && i < maxIter) {
      val next = barrier(smallStar(largeStar(edges)))
      val nextSig = checksum(next)
      converged = nextSig == sig
      edges.unpersist()
      edges = next
      sig = nextSig
      i += 1
    }
    // fixpoint: `edges` is a star forest (child → component root). Roots
    // appear only on the dst side; nodes from the ORIGINAL pairs that are
    // roots (or isolated after self-loop removal) label themselves.
    val nodes = cachedPairs.select(col(aCol).as("id"))
      .unionByName(cachedPairs.select(col(bCol).as("id"))).distinct()
    graft.engine.CacheScope.track(edges)
    // min per src: at the fixpoint each child has exactly one root edge,
    // but if maxIter cut the loop short the min keeps the result a function
    val roots = edges.groupBy(col("src")).agg(min(col("dst")).as("root"))
    nodes.join(roots.select(col("src").as("id"), col("root")), Seq("id"), "left")
      .select(col("id"), coalesce(col("root"), col("id")).as("component"))
  }

  /** Driver-side union-find with path compression + union-by-min: the
    * component of each node is its smallest reachable id — identical
    * contract to the distributed loop, O(E α(E)) on collected edges.
    */
  private def componentsLocal(pairs: DataFrame, aCol: String, bCol: String): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    val edges = pairs.select(col(aCol).cast("long"), col(bCol).cast("long"))
      .as[(Long, Long)].collect()
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      var c = x // path compression
      while (parent.getOrElse(c, c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edges.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { // union by MIN root so the component id is the min id
        if (ra < rb) parent(rb) = ra else parent(ra) = rb
      }
    }
    parent.keys.toSeq.map(id => (id, find(id))).toDF("id", "component")
  }

  /** One row per near-dup GROUP (component, keep_id = smallest member,
    * n_members), given a pair list. Singletons are not listed — they are
    * trivially their own keepers.
    */
  def pairGroups(pairs: DataFrame, aCol: String, bCol: String): DataFrame =
    components(pairs, aCol, bCol)
      .groupBy(col("component"))
      .agg(min(col("id")).as("keep_id"), count(lit(1)).as("n_members"))

  /** The deduplicated view: drop every row whose id belongs to a component
    * but is not its keeper. Rows in no pair pass through untouched.
    */
  def deduplicateByPairs(df: DataFrame, idCol: String, pairs: DataFrame,
      aCol: String = "id_a", bCol: String = "id_b"): DataFrame = {
    val drop = components(pairs, aCol, bCol)
      .filter(col("id") =!= col("component")) // non-keepers
      .select(col("id").as("__drop_id"))
    df.join(drop, df(idCol) === col("__drop_id"), "left_anti")
  }

  /** Keeper selection by SCORE: keep the best-scoring member of each
    * near-dup group — the production policy (longest document, highest
    * quality score) rather than [[deduplicateByPairs]]'s min-id
    * convention. Ties break by smallest id, so an integer score keeps the
    * whole selection engine-exact.
    *
    * Scale shape: only dup-group MEMBERS (the tiny component table) go
    * through the per-component ranking window; everything else passes
    * through via anti-join — no window over the full corpus.
    */
  def deduplicateByPairsKeepBest(df: DataFrame, idCol: String,
      pairs: DataFrame, score: Column,
      aCol: String = "id_a", bCol: String = "id_b"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val comp = components(pairs, aCol, bCol)
      .select(col("id").as("__cid"), col("component").as("__component"))
    val members = df.join(comp, df(idCol) === col("__cid"))
    val w = Window.partitionBy(col("__component"))
      .orderBy(score.desc, df(idCol).asc)
    val keepers = members.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") === 1)
      .drop("__cid", "__component", "__rk")
    val untouched = df.join(comp, df(idCol) === col("__cid"), "left_anti")
    untouched.unionByName(keepers)
  }

  /** LEAKAGE-SAFE train/val/test split: the deterministic md5 split
    * ([[Sampling.assignSplit]]) keyed by near-dup GROUP instead of
    * document id — near-duplicates land in the SAME split by construction,
    * so a test document can never have a training-set twin (the classic
    * eval-contamination failure of id-keyed splits). Singletons key by
    * their own id; group members key by their component id. Adds
    * `group_key` and `split` columns.
    */
  def groupAwareSplit(df: DataFrame, idCol: String, pairs: DataFrame,
      weights: Seq[(String, Double)],
      aCol: String = "id_a", bCol: String = "id_b"): DataFrame = {
    val comp = components(pairs, aCol, bCol)
      .select(col("id").as("__cid"), col("component").as("__component"))
    df.join(comp, df(idCol) === col("__cid"), "left")
      .withColumn("group_key", coalesce(col("__component"), df(idCol)))
      .withColumn("split", Sampling.assignSplit(col("group_key"), weights))
      .drop("__cid", "__component")
  }

  // ---- embedding cosine -------------------------------------------------

  /** Cosine similarity of two float-array columns — built-in `zip_with` +
    * `aggregate`, fully codegen-compatible, no UDF.
    */
  def cosine(a: Column, b: Column): Column = {
    def dot(x: Column, y: Column) =
      aggregate(zip_with(x, y, (p, q) => p * q), lit(0.0d), (acc, v) => acc + v)
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))
  }

  /** Embedding near-duplicate pairs (cosine ≥ threshold). All-pairs — the
    * small-data oracle; the scale path is `Similarity.lshBuckets` banding
    * or an IVF pre-cluster, both reducing the candidate space before this
    * verification step.
    */
  def embeddingPairs(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double): DataFrame = {
    // native codegen'd dot product (graft.functions.DotProduct): the HOF
    // aggregate(zip_with(…)) allocates per pair and runs interpreted —
    // measured 3-4× slower on the all-pairs join
    graft.functions.GraftFunctions.ensureRegistered(df.sparkSession)
    import graft.functions.GraftFunctions.dot
    // norms once per ROW (not per pair): cos = dot / (norm_a * norm_b) is
    // the identical double arithmetic to dot/(sqrt(dot_aa)*sqrt(dot_bb)),
    // at a third of the per-pair flops
    // widen: the `a.id < b.id` join is a nested-loop whose parallelism is
    // the stream side's partition count — a single-file input would
    // otherwise run the whole cross product on one core
    val v = widen(df).select(col(idCol).as("id"), col(vecCol).as("vec"),
      sqrt(dot(col(vecCol), col(vecCol))).as("norm"))
    v.as("a").join(v.as("b"), col("a.id") < col("b.id"))
      .withColumn("cos",
        dot(col("a.vec"), col("b.vec")) / (col("a.norm") * col("b.norm")))
      .filter(col("cos") >= threshold)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        graft.functions.EngineMath.roundAway(col("cos"), 4).as("cos"))
  }
}

/** Observability for the banding bucket cap: `maxBucket` drops oversized
  * buckets BY DESIGN (see [[Dedup.simhashPairsOf]]'s scaladoc), and the
  * drop is invisible at oracle-checked SFs where no bucket exceeds the
  * cap — at unchecked scale a biting cap would silently shrink the pair
  * set. `observed` piggybacks a named `Dataset.observe` on the capped
  * frame (computed inside the existing exchange — zero extra passes, no
  * hot-path UDF), and a once-per-session QueryExecutionListener logs a
  * WARNING whenever the cap actually dropped rows: the "no silent caps"
  * convention the rest of the engine follows.
  */
object BucketCapMetrics {
  private val log = org.slf4j.LoggerFactory.getLogger("graft.bucketcap")
  private val seq = new java.util.concurrent.atomic.AtomicLong()
  // Keyed WEAKLY: a strong SparkSession set would pin every session ever
  // seen (test suites / repeated restarts churn sessions). The listener
  // itself is registered ON the session (the session references us, not
  // the reverse), so once the session is collected both sides go away.
  private val registered =
    java.util.Collections.synchronizedSet(
      java.util.Collections.newSetFromMap(
        new java.util.WeakHashMap[org.apache.spark.sql.SparkSession, java.lang.Boolean]()))

  /** Attach drop metrics to a frame carrying `__bn` (its bucket's size).
    * Names are sequence-suffixed so several capped joins can share one
    * query plan (observation names must be unique per execution).
    */
  def observed(withBucketSize: DataFrame, maxBucket: Int): DataFrame = {
    ensureListener(withBucketSize.sparkSession)
    withBucketSize.observe(s"graft.bucket_cap.${seq.incrementAndGet()}",
      sum(when(col("__bn") > maxBucket, lit(1L)).otherwise(lit(0L)))
        .as("dropped_sig_rows"),
      max(col("__bn")).as("max_bucket_size"),
      lit(maxBucket.toLong).as("cap"))
  }

  private def ensureListener(s: org.apache.spark.sql.SparkSession): Unit =
    if (registered.add(s)) {
      s.listenerManager.register(
        new org.apache.spark.sql.util.QueryExecutionListener {
          override def onSuccess(funcName: String,
              qe: org.apache.spark.sql.execution.QueryExecution,
              durationNs: Long): Unit =
            qe.observedMetrics.foreach { case (name, row) =>
              if (name.startsWith("graft.bucket_cap.")) {
                val dropped = Option(row.getAs[java.lang.Long]("dropped_sig_rows"))
                  .map(_.longValue()).getOrElse(0L)
                if (dropped > 0L)
                  log.warn(s"[$name] bucket cap ${row.getAs[Any]("cap")} dropped " +
                    s"$dropped signature rows (largest bucket " +
                    s"${row.getAs[Any]("max_bucket_size")}): the banded pair set " +
                    "is incomplete for boilerplate-shaped content at this scale")
              }
            }
          override def onFailure(funcName: String,
              qe: org.apache.spark.sql.execution.QueryExecution,
              exception: Exception): Unit = ()
        })
      ()
    }
}
