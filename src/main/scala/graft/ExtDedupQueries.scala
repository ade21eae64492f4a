package graft

import graft.engine.Ckpt.BarrierOps
import scala.util.chaining._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables.table
import graft.functions.GraftFunctions.dot
import graft.functions.TextFunctions
import graft.operators.{Dedup, Similarity}

/** Deduplication + similarity-join extension queries (exact/fuzzy dedup, MinHash/SimHash near-dup, prefix-filtered joins, decontamination) — extracted verbatim from ExtensionQueries in the
  * r14 per-family split; shared helpers live in
  * [[ExtQueriesBase]] (self-type), the aggregated maps in
  * [[ExtensionQueries]]. */
private[graft] trait ExtDedupQueries { this: ExtQueriesBase =>

  private[graft] def dedupannQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // x40: benchmark decontamination — corpus docs sharing 5-gram shingles
    // with the benchmark split (every 50th doc); benchmark grams broadcast,
    // corpus grams never shuffled before the per-doc aggregation
    "x40_decontaminate" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      graft.operators.Dedup.contaminationScan(
        docs.filter(col("doc_id") % 50 =!= 0),
        docs.filter(col("doc_id") % 50 === 0),
        "doc_id", "text", k = 5)
        .orderBy(col("doc_id"))
    }),
    // x42: TF-IDF top terms per document — ONE linear plan: the exploded
    // token table aggregates to per-(doc, term) tf, document frequency is
    // a count over a term-partitioned window on that SAME frame (no second
    // aggregate + self-join — the round-4 shape referenced the persisted
    // token table twice in one plan, the exact DeduplicateRelations
    // cache-substitution trap that bit a17). Ranked on INTEGER keys
    // (tf desc, df asc, term) so the ranking is engine-exact; the tfidf
    // value itself is rounded. At scale the term window concentrates a
    // stopword-grade hot term in one task — the same skew the
    // groupBy(term)+join shape had; a production df over a skewed corpus
    // would two-phase it with a salt (operators/Skew.scala pattern).
    "x42_tfidf" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      val tf = docs.select(col("doc_id"),
          explode(TextFunctions.tokens(col("text"))).as("term"))
        .groupBy(col("doc_id"), col("term"))
        .agg(count(lit(1)).as("tf"))
      val wTerm = org.apache.spark.sql.expressions.Window.partitionBy(col("term"))
      val total = docs.agg(count(lit(1)).as("__N"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id"))
        .orderBy(col("tf").desc, col("df").asc, col("term").asc)
      tf.withColumn("df", count(lit(1)).over(wTerm))
        .crossJoin(broadcast(total))
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 3)
        .select(col("doc_id"), col("rank"), col("term"), col("tf"), col("df"),
          graft.functions.EngineMath.roundAway(
            col("tf").cast("double") *
              log(col("__N").cast("double") / col("df").cast("double")), 4)
            .as("tfidf"))
        .orderBy(col("doc_id"), col("rank"))
    }),
    // x05: exact dedup groups (hash-groupBy)
    "x05_dedup_exact" -> ((s, dir) =>
      Dedup.exactGroups(table(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("fingerprint"))),
    // x06: exact n-gram Jaccard near-dup pairs (the all-pairs ground truth)
    "x06_jaccard_pairs" -> ((s, dir) =>
      Dedup.jaccardPairs(table(s, dir, "documents"), "doc_id", "text",
        k = 3, threshold = 0.8)
        .orderBy(col("id_a"), col("id_b"))),
    // x07: MinHash+LSH near-dup pairs — banded candidates + exact verify;
    // oracle = the all-pairs truth (at j≥0.8 with 4 bands × 3 rows the
    // miss probability is <1e-4 per pair; the planted pairs sit at j≈0.99)
    "x07_minhash_pairs" -> ((s, dir) =>
      Dedup.minhashPairs(table(s, dir, "documents"), "doc_id", "text",
        k = 3, threshold = 0.8, bands = 4, rowsPerBand = 3)
        .orderBy(col("id_a"), col("id_b"))),
    // x15: winnowing local-overlap pairs (rolling-hash fingerprints, MOSS
    // scheme). The positional gram-hash table (the engine-specific xxhash64
    // half) is STAGED to parquet; the window-min selection + pairing run
    // over the staged table and are oracle-checked in DuckDB over the same
    // files (gram-hash correctness itself is locked by DedupSimilaritySpec)
    "x15_winnow_overlap" -> ((s, dir) => {
      val grams = graft.engine.CacheScope.persistTracked(
        Dedup.winnowGrams(table(s, dir, "documents"), "doc_id", "text", k = 7))
      Stage.write(grams, dir, "x15_grams")
      Dedup.winnowOverlapPairsOf(Dedup.winnowFingerprintsOf(grams, w = 8),
        minShared = 2, maxDocFreq = Some(20))
        .orderBy(col("id_a"), col("id_b"))
    }),
    // x43: keeper selection by SCORE — keep the LONGEST member of each
    // near-dup group (the production policy; min-id is x14's convention).
    // Integer score + id tie-break keeps the selection engine-exact. The
    // pair source here is the exact oracle path (x06); at scale the same
    // keeper composes with minhashPairs (x07) unchanged.
    "x43_keep_best" -> ((s, dir) => {
      val docs = table(s, dir, "documents").select(col("doc_id"), col("text"),
        TextFunctions.tokenCount(col("text")).cast("long").as("n_tokens"))
      val pairs = Dedup.jaccardPairs(docs, "doc_id", "text",
        k = 3, threshold = 0.8)
      Dedup.deduplicateByPairsKeepBest(docs, "doc_id", pairs, col("n_tokens"))
        .select(col("doc_id"), col("n_tokens"))
        .orderBy(col("doc_id"))
    }),
    // x44: LEAKAGE-SAFE split — the md5 split keyed by near-dup GROUP, so
    // duplicates can never straddle train/test (the eval-contamination
    // failure of id-keyed splits)
    "x44_group_split" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      val pairs = Dedup.jaccardPairs(docs, "doc_id", "text",
        k = 3, threshold = 0.8)
      Dedup.groupAwareSplit(docs.select(col("doc_id")), "doc_id", pairs,
        splitWeights)
        .orderBy(col("doc_id"))
    }),
    // x46: the BANDED-SOURCE composition — x43/x44 gate keeper selection
    // and the leakage-safe split over the quadratic jaccardPairs ORACLE
    // source; this gates the same downstream logic over the PRODUCTION
    // pair source (MinHash+LSH banding, the 100 TB path). The banded pair
    // table is staged so DuckDB re-derives components, keeper choice, and
    // the no-straddle split from exactly the pairs the engine found.
    "x46_banded_keep_split" -> ((s, dir) => {
      val d = table(s, dir, "documents")
      val pairs = graft.engine.CacheScope.persistTracked(
        Dedup.minhashPairs(d, "doc_id", "text", k = 3, threshold = 0.8))
      Stage.write(pairs.select(col("id_a"), col("id_b")), dir, "x46_pairs")
      val base = d.select(col("doc_id"),
        TextFunctions.tokenCount(col("text")).cast("long").as("n_tokens"))
      val kept = Dedup.deduplicateByPairsKeepBest(base, "doc_id", pairs,
          col("n_tokens"))
        .select(col("doc_id"), lit(true).as("__kept"))
      Dedup.groupAwareSplit(base, "doc_id", pairs, splitWeights)
        .join(kept, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_tokens"),
          coalesce(col("__kept"), lit(false)).as("kept"),
          col("group_key"), col("split"))
        .orderBy(col("doc_id"))
    }),
    // x47: INCREMENTAL cross-corpus dedup — the 100 TB "dedup the new
    // crawl batch against the existing corpus index" shape: even doc_ids
    // play the indexed corpus, odd ones the incoming batch; only the
    // batch is signed fresh, candidates join its band keys against the
    // reusable index, verification is the exact shingle Jaccard. All four
    // engine-specific tables (bands + shingle sets per side) are staged;
    // DuckDB re-derives candidates, intersection counts, and the
    // threshold independently.
    "x47_incremental_dedup" -> ((s, dir) => {
      val d = table(s, dir, "documents")
      val corpus = Dedup.minhashIndex(
        d.filter(col("doc_id") % 2 === 0), "doc_id", "text", k = 3)
      val batch = Dedup.minhashIndex(
        d.filter(col("doc_id") % 2 === 1), "doc_id", "text", k = 3)
      Stage.write(corpus.bands, dir, "x47_corpus_bands")
      Stage.write(corpus.shingles, dir, "x47_corpus_sh")
      Stage.write(batch.bands, dir, "x47_batch_bands")
      Stage.write(batch.shingles, dir, "x47_batch_sh")
      Dedup.minhashPairsBetween(batch, corpus, threshold = 0.8)
        .orderBy(col("id_new"), col("id_corpus"))
    }),
    // x08: SimHash near-dup pairs. The (id, simhash) signature table (the
    // engine-specific xxhash64 majority-vote half) is STAGED to parquet;
    // the pigeonhole banding + hamming verification run over the staged
    // table and are oracle-checked in DuckDB (BIGINT bit ops) over the
    // same files (signature semantics locked by DedupSimilaritySpec)
    "x08_simhash_pairs" -> ((s, dir) => {
      val sh = graft.engine.CacheScope.persistTracked(
        Dedup.simhashTable(table(s, dir, "documents"), "doc_id", "text"))
      Stage.write(sh, dir, "x08_simhash")
      Dedup.simhashPairsOf(sh, maxDist = 10)
        .orderBy(col("id_a"), col("id_b"))
    }),
    // x09: embedding-cosine near-dup pairs
    "x09_embed_pairs" -> ((s, dir) =>
      Dedup.embeddingPairs(embeddingsD(s, dir), "vec_id", "vec",
        threshold = 0.45)
        .orderBy(col("id_a"), col("id_b"))),
    // x69: IMAGE near-dup pairs — the PRODUCTION default. Routes through
    // Multimodal.imageNearDupPairs, i.e. the wide 120-bit dHash + wide
    // hamming banding: round 8 measured the old 60-bit default quadratic
    // at any duplicate density (candidates a constant fraction of ALL
    // pairs), so round 9 made the scale-safe signature the default
    // surface. The 60-bit path survives only as the documented
    // counter-example (MultimodalSpec pins the candidate-volume gap).
    // The oracle re-derives the ENTIRE wide pipeline independently:
    // 132-cell byte-grid downsample, per-row gradient bits, two 60-bit
    // folds, all-pairs summed hamming — the banding is an engine
    // optimization; the pair SET is the contract. (x79 keeps the
    // explicitly-named wide path as the structural A/B measurement pin
    // from BASELINE.md §10×; x69 is the default-surface routing of the
    // same contract.)
    "x69_image_dhash" -> ((s, dir) => {
      val media = graft.multimodal.Multimodal.toMedia(
        graft.multimodal.Multimodal.mediaTable(table(s, dir, "documents")))
      graft.multimodal.Multimodal.imageNearDupPairs(media, maxDist = 14)
        .withColumn("hamming", col("hamming").cast("long"))
        .orderBy(col("id_a"), col("id_b"))
    }),
    // x79: the x69 STRUCTURAL SCALE FIX — same image near-dup search at
    // the same absolute bound (hamming ≤ 14) over a 120-bit two-long
    // dHash (11×12 grid). Twice the signature bits at the same bound
    // doubles every pigeonhole band's key entropy (~15 key bits vs
    // ~7.5), so bucket occupancy — and with it candidate volume, which
    // the 60-bit scheme measured as a constant fraction of ALL pairs —
    // shrinks by ~2^7.5. Oracle re-derives the whole pipeline: 132-cell
    // byte grid, per-row gradient bits, two 60-bit folds, all-pairs
    // summed hamming (the banding is an engine optimization; the pair
    // SET is the contract).
    "x79_image_dhash_wide" -> ((s, dir) => {
      val media = graft.multimodal.Multimodal.toMedia(
        graft.multimodal.Multimodal.mediaTable(table(s, dir, "documents")))
      val dh = graft.engine.CacheScope.persistTracked(
        graft.multimodal.Multimodal.dhashTableWide(media))
      Dedup.simhashPairsOfWide(dh, maxDist = 14)
        .withColumn("hamming", col("hamming").cast("long"))
        .orderBy(col("id_a"), col("id_b"))
    }),
    // x56: bloom-pruned decontamination — identical INPUTS and OUTPUT to
    // x40 (same oracle SQL): the corpus gram stream is pre-filtered by a
    // broadcast BloomFilter of the benchmark grams before the exact join,
    // the shape for benchmark sets too big to broadcast exactly. Equality
    // with the exact path IS the gate (bloom admits no false negatives;
    // the exact join removes its false positives).
    "x56_bloom_decontaminate" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      graft.operators.Dedup.contaminationScanBloom(
        docs.filter(col("doc_id") % 50 =!= 0),
        docs.filter(col("doc_id") % 50 === 0),
        "doc_id", "text", k = 5)
        .orderBy(col("doc_id"))
    }),
    // x57: content-defined chunking — boundaries where the md5 ticket of
    // the trailing token window lands in 1/16 of hash space, so chunk
    // edges survive insertions (the rsync/FastCDC property; ChunkingSpec
    // pins shift-invariance). Fully SQL-expressible: DuckDB re-derives
    // every boundary from the same md5.
    "x57_cdc_chunk" -> ((s, dir) =>
      graft.operators.Chunking.chunkByContent(
        table(s, dir, "documents"), "doc_id", "text",
        window = 3, divisor = 16)
        .orderBy(col("doc_id"), col("chunk_idx"))),
    // x60: repeated-span accounting (the token-level exact-substring
    // duplication signal of "Deduplicating Training Data Makes LMs
    // Better"): per document, how many of its 8-token spans occur ≥2
    // times corpus-wide. ONE linear plan like x42: positional k-grams →
    // per-(doc,gram) counts → corpus totals as a gram-window sum — no
    // self-join, no second scan. At scale the gram key would be
    // xxhash64'd to 8-byte shuffle keys (the x06 trick); the skew-heavy
    // boilerplate gram concentrates one window partition → salt as in
    // operators/Skew.
    "x60_repeated_spans" -> ((s, dir) => {
      val k = 8
      val grams = table(s, dir, "documents")
        .select(col("doc_id"), TextFunctions.tokens(col("text")).as("ts"))
        .filter(size(col("ts")) >= k)
        .select(col("doc_id"), explode(transform(
          sequence(lit(1), size(col("ts")) - (k - 1)),
          i => array_join(slice(col("ts"), i, lit(k)), " "))).as("gram"))
      val perDoc = grams.groupBy(col("doc_id"), col("gram"))
        .agg(count(lit(1)).as("c"))
      val wG = org.apache.spark.sql.expressions.Window.partitionBy(col("gram"))
      perDoc.withColumn("tot", sum(col("c")).over(wG))
        .groupBy(col("doc_id"))
        .agg(sum(col("c")).as("n_spans"),
          sum(when(col("tot") >= 2, col("c")).otherwise(lit(0L))).as("n_repeated"))
        .select(col("doc_id"), col("n_spans"), col("n_repeated"),
          graft.functions.EngineMath.roundAway(
            col("n_repeated") / col("n_spans"), 4).as("repeated_frac"))
        .orderBy(col("doc_id"))
    }),
    // x62: cross-source duplication MATRIX — who duplicates whom: near-dup
    // pairs from the banded MinHash scale path, joined to each side's
    // source and aggregated per unordered source pair (least/greatest
    // canonicalization). The contamination-audit view a multi-source
    // corpus runs before setting mixture weights. Pairs staged; DuckDB
    // re-derives the matrix from them + the documents table.
    "x62_source_dup_matrix" -> ((s, dir) => {
      val d = table(s, dir, "documents")
      val pairs = graft.engine.CacheScope.persistTracked(
        Dedup.minhashPairs(d, "doc_id", "text", k = 3, threshold = 0.8))
      Stage.write(pairs.select(col("id_a"), col("id_b")), dir, "x62_pairs")
      val src = d.select(col("doc_id"), col("source"))
      pairs
        .join(src.select(col("doc_id").as("id_a"), col("source").as("sa")),
          Seq("id_a"))
        .join(src.select(col("doc_id").as("id_b"), col("source").as("sb")),
          Seq("id_b"))
        .select(least(col("sa"), col("sb")).as("source_x"),
          greatest(col("sa"), col("sb")).as("source_y"))
        .groupBy(col("source_x"), col("source_y"))
        .agg(count(lit(1)).as("n_dup_pairs"))
        .orderBy(col("source_x"), col("source_y"))
    }),
    // x64: feature-hashing (hashing-trick) TF vectorizer — tokens hashed
    // into a fixed 64-dim count vector, L2-normalized: the vocabulary-free
    // text→vector bridge (Weinberger et al. 2009) that feeds embedding
    // operators (x09-x13 ANN, x54 semantic dedup) without a fitted vocab.
    // Scale shape: explode → per-(doc,bucket) count → per-doc dense
    // rebuild — two hash aggregates, no vocabulary table, no fit; dim is
    // a constant so row width is bounded. Bucket hash = the CountMin md5
    // bucket (row 0), so DuckDB re-derives every vector exactly.
    // Output is the exploded (doc_id, dim_idx, weight) triple form — the
    // natural sparse exchange shape for a TF matrix, and hashable by any
    // comparator (an array<double> column is not).
    "x64_hashed_tf" -> ((s, dir) => {
      val dim = 64
      graft.functions.GraftFunctions.ensureRegistered(s)
      val b = table(s, dir, "documents")
        .select(col("doc_id"), explode(TextFunctions.tokens(col("text"))).as("term"))
        .select(col("doc_id"),
          graft.functions.CountMin.bucketCol(0, col("term"), dim).as("b"))
        .groupBy(col("doc_id"), col("b")).agg(count(lit(1)).as("c"))
      val m = b.groupBy(col("doc_id"))
        .agg(map_from_entries(sort_array(collect_list(struct(col("b"), col("c")))))
          .as("m"))
      val counts = transform(sequence(lit(0L), lit((dim - 1).toLong)),
        i => coalesce(element_at(col("m"), i), lit(0L)).cast("double"))
      m.select(col("doc_id"), counts.as("cs"))
        // hoist the norm OUT of the per-element lambda: inside it the dot
        // product would re-evaluate per dimension (64 x 64 multiplies per
        // doc instead of 64 — measured as the query's hot spot)
        .select(col("doc_id"), col("cs"),
          sqrt(dot(col("cs"), col("cs"))).as("nrm"))
        .select(col("doc_id"),
          transform(col("cs"), x => graft.functions.EngineMath.roundAway(
            x / col("nrm"), 6)).as("vec"))
        .select(col("doc_id"), posexplode(col("vec")).as(Seq("dim_idx", "weight")))
        .select(col("doc_id"), col("dim_idx").cast("long").as("dim_idx"),
          col("weight"))
        .orderBy(col("doc_id"), col("dim_idx"))
    }),
    // x65: the round-5 CURATION CAPSTONE — the operators composed the way
    // a real corpus release runs them: quality gate (x03 score ≥ 0.55) →
    // exact dedup keep-min-id (x05) → benchmark decontamination drop
    // (x40) → domain-mixture temperature sampling (x58, α=0.5, k=100).
    // Every stage is deterministic, so the whole pipeline is one DuckDB
    // oracle. Stage boundaries are separate scans by design — each stage
    // output is a maintained artifact in a real pipeline.
    "x65_curation_pipeline" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      // widen before tokenize+quality (r15, guide §2): the expression
      // chain is per-row CPU on a 1-2-row-group parquet scan (the x163/
      // x168/x57 pattern, profiled at 10×); no-op on wide inputs
      val toks = Dedup.widen(docs)
        .select(col("doc_id"), col("source"), col("text"),
          TextFunctions.tokens(col("text")).as("ts"))
      val scored = toks.select(col("doc_id"), col("source"), col("text"),
        size(col("ts")).cast("long").as("n_tokens"),
        TextFunctions.qualityScoreOf(col("ts"), col("text")).as("q"))
        .filter(col("q") >= 0.55)
      val deduped = Dedup.exactDeduplicate(scored, "doc_id", "text")
      // barrier (r15): corpus is referenced TWICE in the one final plan —
      // the contamination scan's corpus-gram side AND the anti-join's left
      // side — so the whole tokenize/quality/window-dedup chain recomputed
      // per reference (the x71/x127 duplicate-reference trap, r14's
      // central finding; this query composes the same operators and was
      // the verdict's named untouched-expensive item)
      val corpus = deduped.filter(col("doc_id") % 50 =!= 0).ckpt()
      val flagged = Dedup.contaminationScan(corpus,
        docs.filter(col("doc_id") % 50 === 0), "doc_id", "text", k = 5)
        .select(col("doc_id"))
      val clean = corpus.join(flagged, Seq("doc_id"), "left_anti")
      graft.operators.Sampling.temperatureMix(
        clean.select(col("doc_id"), col("source"), col("n_tokens"), col("q")),
        "doc_id", "source", alpha = 0.5, k = 100)
        .orderBy(col("doc_id"))
    }),
    // x66: LINE-level global dedup + document reassembly (CCNet paragraph
    // dedup / C4 line dedup): fixed 12-token lines, a line hash seen in
    // >1 distinct documents is boilerplate and drops from EVERY document,
    // survivors reassemble in order. Bounded-shuffle shape (two hash
    // aggregates + an anti-join against the small boilerplate set) — the
    // sub-document pass document-level dedup (x05) cannot perform.
    // Output hashes the rebuilt text so rows stay narrow.
    "x66_line_dedup" -> ((s, dir) =>
      Dedup.lineDeduplicate(table(s, dir, "documents"), "doc_id", "text",
        lineTokens = 12, maxDocFreq = 1)
        .select(col("id").as("doc_id"), col("n_lines"), col("n_kept"),
          md5(col("clean_text")).as("clean_hash"))
        .orderBy(col("doc_id"))),
    // x71: the ROUND-6 CURATION COMPOSITION — the new operators chained
    // the way a corpus release uses them: model-based quality gate (x70
    // logit, top 400) → line-level boilerplate dedup with reassembly
    // (x66) → DSIR importance selection (x68) computed over the CLEANED
    // text (dedup feeds selection — the stages genuinely compose, the
    // downstream distributions shift with the upstream edits). One DuckDB
    // oracle re-derives all three stages; only the LR weights stage.
    "x71_curation_v2" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      val model = graft.operators.Fitted.getOrFit(s,
        graft.operators.Fitted.key(dir, "qlr",
          "maxIter" -> 25, "reg" -> 0.01, "target" -> "src0")) {
        graft.operators.QualityFilter.fit(docs, "doc_id", "text",
          isTarget = col("source") === "src0")
      }
      Stage.write(model, dir, "x71_weights")
      val gated = graft.operators.QualityFilter
        .logits(docs, "doc_id", "text", model)
        .orderBy(col("logit").desc, col("id").asc).limit(400)
        .select(col("id").as("doc_id"))
      val survivors = docs.join(gated, Seq("doc_id"))
      // localCheckpoint (r14): cleaned is referenced twice in the final
      // plan with DIFFERENT projections (the DSIR input and the n_kept
      // join-back), so the whole line-dedup pipeline ran twice (52 s
      // executor for a 4 s query). Identical-subtree ReuseExchange does
      // not apply across different projections; the leaf barrier does.
      val cleaned = Dedup.lineDeduplicate(survivors, "doc_id", "text",
          lineTokens = 12, maxDocFreq = 1)
        .filter(col("n_kept") >= 1)
        .select(col("id").as("doc_id"), col("n_kept"), col("clean_text"))
        .ckpt()
      val withSrc = cleaned.join(docs.select(col("doc_id"), col("source")),
        Seq("doc_id"))
      graft.operators.Sampling.dsirWeights(withSrc, "doc_id", "clean_text",
          isTarget = col("source") === "src0")
        .orderBy(col("weight").desc, col("id").asc).limit(150)
        .select(col("id").as("doc_id"),
          graft.functions.EngineMath.roundAway(col("weight"), 4).as("weight"))
        .join(cleaned.select(col("doc_id"), col("n_kept")), Seq("doc_id"))
        .orderBy(col("doc_id"))
    }),
    // x74: cross-document EXACT SUBSTRING dedup (Lee et al. 2022 — see
    // operators/SubstringDedup for semantics + scale shape): duplicated
    // 8-gram spans island-merged per doc, cut out, survivors reassembled
    "x74_substring_dedup" -> ((s, dir) =>
      graft.operators.SubstringDedup.dedup(
        table(s, dir, "documents"), "doc_id", "text")),
    // x91: sorted-neighborhood dedup (window w=5 over a lang-blocked
    // prefix sort — see operators/Snm for the O(n·w) scale shape)
    "x91_snm_pairs" -> ((s, dir) =>
      graft.operators.Snm.pairs(table(s, dir, "documents"),
        "doc_id", "text", blockCol = "lang", w = 5, prefixLen = 24,
        threshold = 0.5)),
    // x92: prefix-filtered EXACT Jaccard (AllPairs/PPJoin) — same truth
    // as x06's quadratic join, sub-quadratic candidates, zero recall
    // loss by the prefix theorem; shares x06's all-pairs oracle, which
    // is precisely the losslessness gate
    "x92_ppjoin_pairs" -> ((s, dir) =>
      Dedup.jaccardPairsPrefix(table(s, dir, "documents"), "doc_id", "text",
        k = 3, threshold = 0.8)
        .orderBy(col("id_a"), col("id_b"))),
    // x29: shingle containment pairs — sub-document duplication (a doc
    // pasted inside a bigger one) that Jaccard's union-dilution misses
    "x29_containment_pairs" -> ((s, dir) =>
      Dedup.containmentPairs(table(s, dir, "documents"), "doc_id", "text",
        k = 3, threshold = 0.9)
        .orderBy(col("id_a"), col("id_b"))),
    // x31: the COMPOSED training-data pipeline — language-ID → stratified
    // downsample → clean → exact-dedup (keep smallest id per cleaned
    // fingerprint) → train/val/test split → per-(lang, split) corpus
    // stats. Every stage is deterministic and engine-portable, so the
    // WHOLE pipeline oracle-matches DuckDB end to end. One scan, two
    // shuffles (dedup window + final stats), no collects.
    "x31_pipeline" -> ((s, dir) => {
      import graft.operators.Sampling
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("fingerprint")).orderBy(col("doc_id"))
      // two persist stages: (1) tokens materialized once (langId over raw
      // text re-tokenizes per marker scan); (2) sample+clean results —
      // langIdOf/cleanText are each consumed by 2+ downstream operators
      // and CollapseProject would inline (re-evaluate) them per consumer
      val toks = graft.engine.CacheScope.persistTracked(
        table(s, dir, "documents").select(col("doc_id"), col("text"),
          TextFunctions.tokens(col("text")).as("ts")))
      val sampled = graft.engine.CacheScope.persistTracked(
        toks
          .select(col("doc_id"), col("text"),
            TextFunctions.langIdOf(col("ts")).as("lang"))
          .filter(Sampling.stratifiedKeep(
            col("doc_id"), col("lang"), sampleRates, defaultRate = 1.0))
          .withColumn("t", TextFunctions.cleanText(col("text")))
          .drop("text"))
      sampled
        .withColumn("fingerprint", TextFunctions.fingerprint(col("t")))
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .withColumn("split", Sampling.assignSplit(col("doc_id"), splitWeights))
        .groupBy(col("lang"), col("split"))
        .agg(count(lit(1)).as("n_docs"),
          sum(TextFunctions.tokenCount(col("t")).cast("long")).as("n_tokens"))
        .orderBy(col("lang"), col("split"))
    }),
    // x112: matryoshka truncation recall probe — brute-force top-10 over
    // the full vectors vs the first-16-dims prefix, per-query overlap.
    // The operational question behind dimension-truncated indexes (use a
    // 4× cheaper prefix scan, what recall is left?); both rankings are
    // the x10 broadcast-queries shape, so the probe costs two scans and
    // zero extra shuffles. The left join keeps zero-overlap queries.
    "x112_matryoshka_recall" -> ((s, dir) => {
      val e = embeddingsD(s, dir)
      val q = e.filter(col("vec_id") < 5)
      val full = Similarity.bruteForceTopK(
        e, "vec_id", "vec", q, "vec_id", "vec", k = 10)
        .select(col("query_id"), col("item_id"))
      val et = e.select(col("vec_id"), slice(col("vec"), 1, 16).as("vec"))
      val trunc = Similarity.bruteForceTopK(
        et, "vec_id", "vec", et.filter(col("vec_id") < 5), "vec_id", "vec",
        k = 10)
        .select(col("query_id"), col("item_id"))
      val inter = full.join(trunc, Seq("query_id", "item_id"))
        .groupBy(col("query_id")).agg(count(lit(1)).as("overlap"))
      q.select(col("vec_id").as("query_id"))
        .join(inter, Seq("query_id"), "left")
        .select(col("query_id"),
          coalesce(col("overlap"), lit(0L)).as("overlap"),
          graft.functions.EngineMath.roundAway(
            coalesce(col("overlap"), lit(0L)).cast("double") / lit(10.0), 4)
            .as("recall_at_10"))
        .orderBy(col("query_id"))
    }),
    // x115: rank-biased overlap (p=0.9, depth 10) between the full-dim
    // and 16-dim-prefix brute rankings — the order-aware companion to
    // x112's set overlap (RBO weights agreement at the top, which is
    // what an index that feeds a re-ranker actually needs). The per-depth
    // overlap explodes a 10-row literal per query (bounded fan-out); the
    // Σ p^d·|A∩B|/d fold runs in depth order on both engines.
    "x115_rbo" -> ((s, dir) => {
      val e = embeddingsD(s, dir)
      val q = e.filter(col("vec_id") < 5)
      val full = Similarity.bruteForceTopK(
        e, "vec_id", "vec", q, "vec_id", "vec", k = 10)
        .select(col("query_id"), col("item_id"), col("rank").as("ra"))
      val et = e.select(col("vec_id"), slice(col("vec"), 1, 16).as("vec"))
      val trunc = Similarity.bruteForceTopK(
        et, "vec_id", "vec", et.filter(col("vec_id") < 5), "vec_id", "vec",
        k = 10)
        .select(col("query_id"), col("item_id"), col("rank").as("rb"))
      val joined = full.join(trunc, Seq("query_id", "item_id"))
        .select(col("query_id"), greatest(col("ra"), col("rb")).as("dmin"))
      val depths = joined
        .select(col("query_id"),
          explode(sequence(lit(1L), lit(10L))).as("d"), col("dmin"))
        .filter(col("dmin") <= col("d"))
        .groupBy(col("query_id"), col("d")).agg(count(lit(1)).as("ov"))
      val rboPerQ = depths
        .groupBy(col("query_id"))
        .agg(sort_array(collect_list(struct(col("d"), col("ov")))).as("cs"))
        .select(col("query_id"), graft.functions.EngineMath.roundAway(
          expr("aggregate(cs, 0.0d, (acc, x) -> acc + " +
            s"(${rboWeightCase("x.d")}) * CAST(x.ov AS DOUBLE)) * (1.0 - 0.9) / 0.9"),
          6).as("rbo"))
      q.select(col("vec_id").as("query_id"))
        .join(rboPerQ, Seq("query_id"), "left")
        .select(col("query_id"), coalesce(col("rbo"), lit(0.0)).as("rbo"))
        .orderBy(col("query_id"))
    }),
    // x125: vocabulary-novelty rate — per 50-doc arrival bucket, the
    // share of its distinct tokens seen for the FIRST time in that
    // bucket (the corpus-growth / drift metric a crawl pipeline tracks).
    // Two hash aggregates on the token key; the first-seen table is the
    // same min-reduction every incremental-dedup index maintains.
    "x125_vocab_novelty" -> ((s, dir) => {
      val tb = table(s, dir, "documents")
        .select(expr("doc_id div 50").as("bucket"),
          explode(TextFunctions.tokens(col("text"))).as("t"))
        .distinct()
      val first = tb.groupBy(col("t")).agg(min(col("bucket")).as("fb"))
      tb.join(first, "t")
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_distinct"),
          sum(when(col("fb") === col("bucket"), 1L).otherwise(0L)).as("n_new"))
        .select(col("bucket"), col("n_distinct"), col("n_new"),
          graft.functions.EngineMath.roundAway(
            col("n_new").cast("double") / col("n_distinct"), 6).as("novelty"))
        .orderBy(col("bucket"))
    }),
    // x127: pipeline survival funnel — the per-stage retention report a
    // curation run ships (how many docs each gate costs): non-empty →
    // quality ≥ 0.5 → exact-dedup keeper → decontaminated, over the
    // corpus half (benchmark docs are the contamination reference, not
    // pipeline input). Each stage count is a 1-row aggregate; the lag
    // retention is a window over 5 rows. Same gates as x03/x05/x40, so
    // the funnel IS the composition contract of those operators.
    "x127_pipeline_funnel" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      // TWO barriers, not four (r15, reverting half of r14): the r14 cut
      // put a chained eager checkpoint on every funnel stage, which DID
      // kill the per-reference recompute (23.6 → 8.6 s executor) but
      // serialized the funnel into four sequential materializations and
      // DOUBLED driver wall vs the clean r13 close (1.48 → 2.99 s,
      // r14 verdict). Stages 0-2 are cascading row-filters on the same
      // row, so their three counts collapse into ONE conditional
      // aggregate over the tokenized frame — count(when(...)) ≡ the
      // count over the filtered stage, bit-identical longs. Only two
      // frames are genuinely multiply-referenced and keep a barrier:
      // toks (the 3-count aggregate + the s3 build) and s3 (its count +
      // the contamination scan + the anti-join).
      val toks = docs.filter(col("doc_id") % 50 =!= 0)
          .select(col("doc_id"), col("text"),
            TextFunctions.tokens(col("text")).as("ts"))
          .ckpt()
      val nonEmpty = size(col("ts")) > 0
      val quality = nonEmpty &&
        floor(TextFunctions.qualityScoreOf(col("ts"), col("text"))
          * 10000 + lit(0.5)).cast("long") >= 5000L
      val s012 = toks.agg(
        count(lit(1)).as("n0"),
        count(when(nonEmpty, lit(1))).as("n1"),
        count(when(quality, lit(1))).as("n2"))
      val wFp = org.apache.spark.sql.expressions.Window
        .partitionBy(col("fp")).orderBy(col("doc_id"))
      val s3 = toks.filter(quality)
          .withColumn("fp", TextFunctions.fingerprint(col("text")))
          .withColumn("__rn", row_number().over(wFp))
          .filter(col("__rn") === 1)
          .select(col("doc_id"), col("text"))
        .ckpt()
      val contaminated = graft.operators.Dedup.contaminationScan(
        s3, docs.filter(col("doc_id") % 50 === 0), "doc_id", "text", k = 5)
        .select(col("doc_id"))
      val s4 = s3.join(contaminated, Seq("doc_id"), "left_anti")
      def stageCount(df: DataFrame, i: Int, name: String) =
        df.agg(count(lit(1)).as("n_docs"))
          .select(lit(i.toLong).as("stage"), lit(name).as("gate"), col("n_docs"))
      val funnel = s012.select(expr(
          "stack(3, 0L, 'corpus', n0, 1L, 'non_empty', n1, " +
            "2L, 'quality', n2) AS (stage, gate, n_docs)"))
        .unionByName(stageCount(s3, 3, "dedup_keeper"))
        .unionByName(stageCount(s4, 4, "decontaminated"))
      val wStage = org.apache.spark.sql.expressions.Window.orderBy(col("stage"))
      funnel
        .withColumn("retention", coalesce(
          graft.functions.EngineMath.roundAway(
            col("n_docs").cast("double") / lag(col("n_docs"), 1).over(wStage), 6),
          lit(1.0)))
        .orderBy(col("stage"))
    }),
    // x137: greedy set-cover data selection (submodular curation lite) —
    // 5 rounds of "pick the doc covering the most yet-uncovered tokens".
    // The argmax per round runs distributed; only the PICKED doc's token
    // set and the covered-vocabulary set come to the driver (bounded by
    // vocabulary, documented — at 100 TB the covered set rides a
    // broadcast bloom/set, the loop shape unchanged). Oracle = the same
    // 5 rounds unrolled in SQL.
    "x137_greedy_cover" -> ((s, dir) => {
      val t = graft.engine.CacheScope.persistTracked(
        table(s, dir, "documents")
          .select(col("doc_id"),
            array_distinct(TextFunctions.tokens(col("text"))).as("ts"))
          .filter(size(col("ts")) > 0))
      var covered = Array.empty[String]
      var picked = List.empty[Long]
      val rows = (1 to 5).map { step =>
        val pool =
          if (picked.isEmpty) t else t.filter(!col("doc_id").isin(picked: _*))
        val best = pool
          .select(col("doc_id"),
            size(array_except(col("ts"), typedlit(covered.toSeq)))
              .cast("long").as("gain"), col("ts"))
          .orderBy(col("gain").desc, col("doc_id")).limit(1)
          .collect().head
        covered = (covered ++ best.getSeq[String](2)).distinct
        picked ::= best.getLong(0)
        (step.toLong, best.getLong(0), best.getLong(1), covered.length.toLong)
      }
      import s.implicits._
      rows.toDF("step", "doc_id", "gain", "covered_total")
    }),
    // x138: reciprocal-rank fusion — the standard zero-tuning way to
    // merge two retrieval rankings (full-dim exact × 16-dim prefix):
    // score = Σ 1/(60+rank) over the rankings that contain the item,
    // re-ranked per query. Both inputs are the x10/x112 broadcast brute
    // shapes; the fusion is one outer join + window over ≤20 rows/query.
    "x138_rrf_fusion" -> ((s, dir) => {
      val e = embeddingsD(s, dir)
      val full = Similarity.bruteForceTopK(
        e, "vec_id", "vec", e.filter(col("vec_id") < 5), "vec_id", "vec",
        k = 10).select(col("query_id"), col("item_id"), col("rank").as("ra"))
      val et = e.select(col("vec_id"), slice(col("vec"), 1, 16).as("vec"))
      val trunc = Similarity.bruteForceTopK(
        et, "vec_id", "vec", et.filter(col("vec_id") < 5), "vec_id", "vec",
        k = 10).select(col("query_id"), col("item_id"), col("rank").as("rb"))
      val wR = org.apache.spark.sql.expressions.Window
        .partitionBy(col("query_id")).orderBy(col("score").desc, col("item_id"))
      full.join(trunc, Seq("query_id", "item_id"), "full_outer")
        .withColumn("score",
          coalesce(lit(1.0) / (lit(60.0) + col("ra")), lit(0.0)) +
            coalesce(lit(1.0) / (lit(60.0) + col("rb")), lit(0.0)))
        .withColumn("rank", row_number().over(wR))
        .filter(col("rank") <= 10)
        .select(col("query_id"), col("rank").cast("long").as("rank"),
          col("item_id"),
          graft.functions.EngineMath.roundAway(col("score"), 6).as("score"))
        .orderBy(col("query_id"), col("rank"))
    }),
    // x122: typo-grade near-dup pairs — x91's sorted-neighborhood
    // candidates verified by CHARACTER-level Levenshtein ≤ 60 (unit-cost
    // DP, identical in both engines) instead of token Jaccard: catches
    // edit-distance duplicates whose token sets already diverged.
    "x122_edit_pairs" -> ((s, dir) =>
      graft.operators.Snm.editPairs(table(s, dir, "documents"),
        "doc_id", "text", blockCol = "lang", w = 5, prefixLen = 24,
        maxDist = 60)),
    // x164: dedup impact report — per-source before/after accounting of
    // exact text dedup (keeper = min doc_id per md5 group, GLOBAL — a
    // keeper in one source removes copies in every other): the
    // "what did dedup cost each domain" datacard row. All integer; the
    // keeper window is md5-partitioned (hash-keyed, never one
    // partition).
    "x164_dedup_impact" -> ((s, dir) => {
      val wH = org.apache.spark.sql.expressions.Window
        .partitionBy(col("h")).orderBy(col("doc_id"))
      table(s, dir, "documents")
        .select(col("doc_id"), col("source"), md5(col("text")).as("h"),
          TextFunctions.tokenCount(col("text")).cast("long").as("ntk"))
        .withColumn("keep", (row_number().over(wH) === 1).cast("long"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("keep")).as("n_kept"),
          sum(col("ntk")).as("tokens"),
          sum(col("keep") * col("ntk")).as("tokens_kept"))
        .select(col("source"), col("n_docs"), col("n_kept"),
          col("tokens"), (col("tokens") - col("tokens_kept")).as("tokens_removed"),
          graft.functions.EngineMath.roundAway(
            expr("CAST(tokens - tokens_kept AS DOUBLE) / tokens"), 6)
            .as("pct_removed"))
        .orderBy(col("source"))
    }),
    // x161: SimHash candidate-quality evaluation — precision/recall/F1
    // of the banded hamming≤10 pairs (x08's index shape) against the
    // LOSSLESS prefix-filtered exact-Jaccard truth at 0.8 (x92's path,
    // sub-quadratic on BOTH sides — no all-pairs join anywhere in the
    // engine). The three ratios are integer-count divisions; this is
    // the measurement that justifies (or indicts) shipping the cheap
    // signature index.
    "x161_simhash_eval" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      val sh = graft.engine.CacheScope.persistTracked(
        Dedup.simhashTable(docs, "doc_id", "text"))
      Stage.write(sh, dir, "x161_simhash")
      // localCheckpoint (r14): pred and truth each feed the tp join AND
      // their own count aggregate in ONE plan — without the leaf barrier
      // both pair pipelines run twice (measured 245 s of executor time for
      // a 9.6 s query; the duplicate-reference cache trap).
      val pred = Dedup.simhashPairsOf(sh, maxDist = 10)
        .select(col("id_a"), col("id_b")).ckpt()
      val truth = Dedup.jaccardPairsPrefix(docs, "doc_id", "text",
        k = 3, threshold = 0.8).select(col("id_a"), col("id_b"))
        .ckpt()
      val tp = pred.join(truth, Seq("id_a", "id_b")).agg(count(lit(1)).as("tp"))
      pred.agg(count(lit(1)).as("n_pred"))
        .crossJoin(broadcast(truth.agg(count(lit(1)).as("n_truth"))))
        .crossJoin(broadcast(tp))
        .select(col("n_truth"), col("n_pred"), col("tp"),
          graft.functions.EngineMath.roundAway(
            expr("CAST(tp AS DOUBLE) / n_pred"), 6).as("precision"),
          graft.functions.EngineMath.roundAway(
            expr("CAST(tp AS DOUBLE) / n_truth"), 6).as("recall"),
          graft.functions.EngineMath.roundAway(
            expr("CAST(2 * tp AS DOUBLE) / (n_pred + n_truth)"), 6).as("f1"))
    }),
    // x148: NDCG@10 of the 16-dim-prefix ranking against the full-dim
    // ranking as graded truth (rel = 11 − full rank) — the ranking-
    // quality lens on x112's overlap question: position-aware, so a
    // prefix index that finds the right items in the wrong order is
    // penalized. Discount weights are Scala-computed literals (CASE
    // table — both engines parse the identical IEEE doubles, the x115
    // device); the per-query fold runs over 10 bounded rows in rank
    // order.
    "x148_ndcg" -> ((s, dir) => {
      val e = embeddingsD(s, dir)
      val full = Similarity.bruteForceTopK(
        e, "vec_id", "vec", e.filter(col("vec_id") < 5), "vec_id", "vec",
        k = 10).select(col("query_id"), col("item_id"),
        (lit(11L) - col("rank")).as("rel"))
      val et = e.select(col("vec_id"), slice(col("vec"), 1, 16).as("vec"))
      val trunc = Similarity.bruteForceTopK(
        et, "vec_id", "vec", et.filter(col("vec_id") < 5), "vec_id", "vec",
        k = 10).select(col("query_id"), col("item_id"), col("rank"))
      trunc.join(full, Seq("query_id", "item_id"), "left")
        .withColumn("rel", coalesce(col("rel"), lit(0L)))
        .withColumn("contrib", expr(NdcgContribSql))
        .groupBy(col("query_id"))
        .agg(sort_array(collect_list(struct(col("rank"), col("contrib"))))
          .as("cs"))
        .select(col("query_id"),
          graft.functions.EngineMath.roundAway(
            expr("aggregate(transform(cs, x -> x.contrib), 0.0d, " +
              "(acc, v) -> acc + v)"), 6).as("dcg"),
          graft.functions.EngineMath.roundAway(
            expr("aggregate(transform(cs, x -> x.contrib), 0.0d, " +
              s"(acc, v) -> acc + v) / CAST($IdcgVal AS DOUBLE)"), 6)
            .as("ndcg"))
        .orderBy(col("query_id"))
    }),
    // x180: cross-source duplication matrix — near-dup pair counts
    // between (and within) sources off the banded MinHash pairs: the
    // "how much of source A recycles source B" datacard that decides
    // which source to drop when mixtures overlap. The engine-specific
    // LSH half STAGES (the x46 hand-off device — DuckDB re-derives the
    // attribution + matrix from the staged pair table); sides
    // canonicalize by SOURCE so the matrix is upper-triangular with
    // the within-source diagonal. Pairs are banded (sub-quadratic);
    // the matrix is |sources|²-bounded.
    "x180_source_overlap" -> ((s, dir) => {
      val d = table(s, dir, "documents")
      val pairs = graft.engine.CacheScope.persistTracked(
        Dedup.minhashPairs(d, "doc_id", "text", k = 3, threshold = 0.8))
      Stage.write(pairs.select(col("id_a"), col("id_b")), dir, "x180_pairs")
      val srcOf = d.select(col("doc_id"), col("source"))
      val m = pairs
        .join(srcOf.select(col("doc_id").as("id_a"), col("source").as("sa0")),
          "id_a")
        .join(srcOf.select(col("doc_id").as("id_b"), col("source").as("sb0")),
          "id_b")
        .select(least(col("sa0"), col("sb0")).as("src_a"),
          greatest(col("sa0"), col("sb0")).as("src_b"))
        .groupBy(col("src_a"), col("src_b")).agg(count(lit(1)).as("n_pairs"))
      val tot = m.agg(sum(col("n_pairs")).as("tt"))
      m.crossJoin(broadcast(tot))
        .select(col("src_a"), col("src_b"), col("n_pairs"),
          graft.functions.EngineMath.roundAway(
            col("n_pairs").cast("double") / col("tt"), 6).as("pct"))
        .orderBy(col("src_a"), col("src_b"))
    }),
    // x182: dedup cluster-size distribution — the histogram that says
    // whether duplication is a long tail of pairs or a few mega-clusters
    // (the two need different dedup budgets; mega-clusters also break
    // LSH bucket caps). Components close over the banded MinHash pairs
    // (scale path, staged for the oracle's recursive-CTE re-derivation
    // — the x46 hand-off); unmatched docs enter as size-1 clusters from
    // two scalar aggregates, not a row-scale anti-join.
    "x182_cluster_sizes" -> ((s, dir) => {
      val d = table(s, dir, "documents")
      val pairs = graft.engine.CacheScope.persistTracked(
        Dedup.minhashPairs(d, "doc_id", "text", k = 3, threshold = 0.8))
      Stage.write(pairs.select(col("id_a"), col("id_b")), dir, "x182_pairs")
      val sz = graft.engine.CacheScope.persistTracked(
        Dedup.pairGroups(pairs, "id_a", "id_b")
          .select(col("n_members").cast("long").as("m")))
      val h = sz.groupBy(col("m").as("cluster_size"))
        .agg(count(lit(1)).as("n_clusters"))
      val dd = d.agg(count(lit(1)).as("dd"))
      val mt = sz.agg(coalesce(sum(col("m")), lit(0L)).as("mm"))
      val singles = dd.crossJoin(broadcast(mt))
        .select(lit(1L).as("cluster_size"), (col("dd") - col("mm")).as("n_clusters"))
        .filter(col("n_clusters") > 0)
      h.union(singles)
        .groupBy(col("cluster_size"))
        .agg(sum(col("n_clusters")).as("n_clusters"))
        .select(col("cluster_size"), col("n_clusters"),
          (col("cluster_size") * col("n_clusters")).as("n_docs"))
        .orderBy(col("cluster_size"))
    }),
    // x187: AUDIO near-dup pairs, oracle-gated end to end — the x102
    // device applied to the audio modality: per doc a structurally-real
    // 16-bit PCM WAV is SYNTHESIZED from pure integer arithmetic over
    // the text bytes (Multimodal.synthesizeWav), decoded back through
    // the INDEPENDENT javax.sound path (WavCodec.samples), fingerprinted
    // as a 120-band energy-envelope signature in the image dHash's
    // two-long contract, and paired through the SHARED wide hamming
    // banding engine. Every stage is exact dyadic arithmetic
    // ((b−128)/256 samples), so the oracle re-derives the WHOLE
    // pipeline — waveform, band energies, bits, pairs — from ord()
    // arithmetic without touching a BLOB; generation and decode are
    // independent code paths, and the hash breaks if either drifts.
    "x187_audio_neardup" -> ((s, dir) => {
      import s.implicits._
      val media = table(s, dir, "documents")
        .select(col("doc_id"), col("text"))
        .filter(length(col("text")) > 0)
        .as[(Long, String)]
        .map { case (id, t) =>
          graft.multimodal.Multimodal.MediaRow(id, "wav",
            graft.multimodal.Multimodal.synthesizeWav(t)) }
      // maxBucket 256: at maxDist 20 the paired band keys carry only
      // ~11 bits, so a 10x corpus measured 7.5x growth uncapped (the
      // x69 lesson); the cap bounds each bucket's candidate
      // contribution. The drop is SILENT by design (a bare filter in
      // Dedup.bandedSelfJoin — no accumulator on the hot path); the
      // oracle gate is the detector: at the oracle-checked SFs every
      // bucket is under the cap, so the pair set is EXACTLY the
      // all-pairs truth (verified), and a cap that ever bit at those
      // SFs would hash-mismatch loudly.
      graft.multimodal.Multimodal.audioNearDupPairs(media,
          maxDist = 20, maxBucket = 256)
        .withColumn("hamming", col("hamming").cast("long"))
        .orderBy(col("id_a"), col("id_b"))
    }),
    // x202: split-leakage audit — QUANTIFIES the eval contamination the
    // x44/x46 group-aware split exists to prevent: of the banded
    // near-dup pairs (the production x46 pair source), how many straddle
    // train/val/test under a naive id-keyed split vs the group-keyed
    // split (which must be exactly 0 — a straddling pair would mean a
    // test doc has a near-duplicate in train, the classic benchmark
    // leak). Same md5 split arithmetic on both key choices, banded pairs
    // staged so the oracle re-derives components and both splits
    // independently. Scale: the pair source is the banded x46 path;
    // splits are per-row md5s; the audit is two equi-joins + one
    // aggregate to 4 scalars.
    "x202_split_leakage" -> ((s, dir) => {
      val d = table(s, dir, "documents")
      val pairs = graft.engine.CacheScope.persistTracked(
        Dedup.minhashPairs(d, "doc_id", "text", k = 3, threshold = 0.8))
      Stage.write(pairs.select(col("id_a"), col("id_b")), dir, "x202_pairs")
      val base = d.select(col("doc_id"))
      val splits = Dedup.groupAwareSplit(base, "doc_id", pairs, splitWeights)
        .select(col("doc_id"), col("split").as("gsplit"),
          graft.operators.Sampling.assignSplit(col("doc_id"), splitWeights)
            .as("nsplit"))
      pairs
        .join(splits.select(col("doc_id").as("id_a"), col("gsplit").as("ga"),
          col("nsplit").as("na")), "id_a")
        .join(splits.select(col("doc_id").as("id_b"), col("gsplit").as("gb"),
          col("nsplit").as("nb")), "id_b")
        .agg(count(lit(1)).as("n_pairs"),
          sum(when(col("na") =!= col("nb"), 1L).otherwise(0L))
            .as("n_straddle_naive"),
          sum(when(col("ga") =!= col("gb"), 1L).otherwise(0L))
            .as("n_straddle_group"))
        .select(col("n_pairs"), col("n_straddle_naive"),
          col("n_straddle_group"),
          graft.functions.EngineMath.roundAway(expr(LeakRateSql), 6)
            .as("leak_rate_naive"))
    }),
    // x212: pairwise Jensen–Shannon divergence between source unigram
    // distributions over the global top-300 terms — the mixture-design
    // read ("which sources are near-duplicates distributionally, which
    // add diversity") behind reweighting decisions. Scale shape: ONE
    // rows-scale term explode + (source, term) agg; the top-300 cut,
    // the |sources|×300 grid, the pair join (|sources|²×300) and the
    // per-pair fold are all aggregate-bounded and broadcast. Per-term
    // contributions fold in sorted term order on both engines (the x96
    // device), so the double sum carries no order drift.
    "x212_jsd_matrix" -> ((s, dir) => {
      val per = table(s, dir, "documents")
        .select(col("source"), explode(TextFunctions.tokens(col("text")))
          .as("t"))
        .groupBy(col("source"), col("t")).agg(count(lit(1)).as("c"))
        .ckpt() // consumers: global top-300 + the selected join
      val top = per.groupBy(col("t")).agg(sum(col("c")).as("g"))
        .orderBy(col("g").desc, col("t").asc).limit(300).select(col("t"))
      val sel = per.join(broadcast(top), "t")
      val tots = sel.groupBy(col("source")).agg(sum(col("c")).as("tot"))
      val cells = tots.crossJoin(broadcast(top))
        .join(sel, Seq("source", "t"), "left")
        .select(col("source"), col("t"), coalesce(col("c"), lit(0L)).as("c"),
          col("tot"))
      cells.as("a").join(broadcast(cells.as("b")),
          col("a.t") === col("b.t") && col("a.source") < col("b.source"))
        .select(col("a.source").as("src_a"), col("b.source").as("src_b"),
          col("a.t").as("t"), col("a.c").as("ca"), col("a.tot").as("ta"),
          col("b.c").as("cb"), col("b.tot").as("tb"))
        .withColumn("contrib", expr(JsdTermSql))
        .groupBy(col("src_a"), col("src_b"))
        .agg(sort_array(collect_list(struct(col("t"), col("contrib"))))
          .as("cs"))
        .select(col("src_a"), col("src_b"),
          graft.functions.EngineMath.roundAway(
            expr("aggregate(cs, 0.0d, (acc, x) -> acc + x.contrib)"), 6)
            .as("jsd"))
        .orderBy(col("src_a"), col("src_b"))
    }),
    // x222: URL canonicalization + canonical-URL dedup — the web-corpus
    // front gate (C4/RefinedWeb dedupe by canonical URL before any text
    // pass). Documents carry no URL, so deterministic variants are
    // synthesized from doc_id (host case, trailing slash, utm_* tracking
    // params, mixed real+junk query, fragment). Canonical form:
    // lowercase the scheme+host, strip the fragment, strip utm_* params
    // (mid-string first, then the [?&]-prefixed tail — one non-capturing
    // two-pass form shared verbatim with RE2; capture-group replacements
    // differ between Java ($1) and RE2 (\1), so none are used), then
    // collapse "/?"→"?" and the trailing slash. Scale shape: one
    // projection of codegen'd regexp builtins, one (domain, curl)
    // map-side-combined distinct-count, |domains| output rows.
    "x222_url_canonical" -> ((s, dir) => {
      val hosts = array(lit("Example.COM"), lit("news.example.com"),
        lit("Blog.Example.org"), lit("cdn.example.net"))
      val url = concat(lit("https://"),
        element_at(hosts, (col("doc_id") % 4 + 1).cast("int")),
        lit("/p/"), (col("doc_id") % 97).cast("string"),
        when(col("doc_id") % 2 === 0, lit("/")).otherwise(lit("")),
        when(col("doc_id") % 15 === 0,
          lit("?utm_source=feed&ref=home&utm_medium=rss"))
          .when(col("doc_id") % 3 === 0, lit("?utm_source=feed&utm_medium=rss"))
          .when(col("doc_id") % 5 === 0, lit("?ref=home"))
          .otherwise(lit("")),
        when(col("doc_id") % 7 === 0, lit("#sec2")).otherwise(lit("")))
      val hostRe = "^[A-Za-z]+://[^/?#]+"
      val lowered = concat(
        lower(regexp_extract(col("u"), hostRe, 0)),
        regexp_replace(col("u"), hostRe, ""))
      val canon = regexp_replace(regexp_replace(regexp_replace(
        regexp_replace(regexp_replace(lowered,
          "#.*", ""),
          "utm_[a-z]+=[^&#?]*&", ""),
          "[?&]utm_[a-z]+=[^&#?]*", ""),
          "/\\?", "?"),
          "/$", "")
      table(s, dir, "documents").select(col("doc_id"), url.as("u"))
        .select(col("doc_id"), canon.as("curl"))
        .withColumn("domain",
          regexp_extract(col("curl"), "^[a-z]+://([^/?#]+)", 1))
        .groupBy(col("domain"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("curl")).as("n_canonical"))
        .withColumn("n_dups", col("n_docs") - col("n_canonical"))
        .withColumn("dup_rate", graft.functions.EngineMath.roundAway(
          col("n_dups").cast("double") / col("n_docs"), 6))
        .orderBy(col("domain"))
    }),
    // x257: per-document n-gram novelty — the share of a doc's distinct
    // 5-grams whose GLOBAL first occurrence (min doc_id) is this doc:
    // the curriculum/dedup-adjacent signal separating originals from
    // recombinations. Two hash aggregates (per-doc distinct grams,
    // per-gram min doc) + one gram-keyed join back — the x60 span
    // machinery pointed at origin instead of repetition.
    "x257_gram_novelty" -> ((s, dir) => {
      val k = 5
      // localCheckpoint (r14): grams feeds the first-occurrence aggregate
      // AND the join-back in one plan with different shapes — the
      // duplicate-reference cache trap (gram explode ran twice, 17 s
      // executor for a 1.9 s query).
      val grams = table(s, dir, "documents")
          .select(col("doc_id"), TextFunctions.tokens(col("text")).as("ts"))
          .filter(size(col("ts")) >= k)
          .select(col("doc_id"), explode(transform(
            sequence(lit(1), size(col("ts")) - (k - 1)),
            i => array_join(slice(col("ts"), i, lit(k)), " "))).as("gram"))
          .distinct()
          .ckpt()
      val first = grams.groupBy(col("gram")).agg(min(col("doc_id")).as("fd"))
      grams.join(first, Seq("gram"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_grams"),
          sum(when(col("fd") === col("doc_id"), 1L).otherwise(0L))
            .as("n_novel"))
        .select(col("doc_id"), col("n_grams"), col("n_novel"),
          graft.functions.EngineMath.roundAway(
            col("n_novel") / col("n_grams"), 4).as("novel_frac"))
        .orderBy(col("doc_id"))
    }),
  )

  private[graft] def dedupannOracles: Map[String, String] = Map(
    "x05_dedup_exact" ->
      (s"SELECT md5(lower(array_to_string($toks, ' '))) AS fingerprint, " +
        "min(doc_id) AS keep_id, count(*) AS n_dups FROM documents " +
        "GROUP BY 1 ORDER BY 1"),
    "x06_jaccard_pairs" -> jaccardCte,
    "x07_minhash_pairs" -> jaccardCte, // LSH must find the same pairs (see above),
    "x92_ppjoin_pairs" -> jaccardCte,  // prefix filter is LOSSLESS — same truth,
    "x09_embed_pairs" ->
      ("WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings) " +
        "SELECT id_a, id_b, round(cos, 4) AS cos FROM (" +
        "SELECT a.vec_id AS id_a, b.vec_id AS id_b, " +
        "list_dot_product(a.vec, b.vec) / (sqrt(list_dot_product(a.vec, a.vec)) * " +
        "sqrt(list_dot_product(b.vec, b.vec))) AS cos " +
        "FROM v a JOIN v b ON a.vec_id < b.vec_id) WHERE cos >= 0.45 " +
        "ORDER BY id_a, id_b"),
    "x57_cdc_chunk" ->
      // every boundary re-derived from the same md5 window ticket; chunks
      // re-assembled by lock-step unnest of the starts/ends lists
      (s"""WITH m AS (SELECT doc_id, $toks AS s FROM documents WHERE len($toks) > 0),
         |c AS (SELECT doc_id, s, [i for i in range(3, len(s))
         |    if ('0x' || substr(md5(array_to_string(list_slice(s, i - 2, i), ' ')), 1, 8))::BIGINT % 16 = 0] AS cuts
         |  FROM m),
         |h AS (SELECT doc_id, s, list_prepend(1, [c + 1 for c in cuts]) AS starts,
         |    list_append(cuts, len(s)) AS ends FROM c),
         |e AS (SELECT doc_id, s, unnest(starts) AS st, unnest(ends) AS en,
         |    generate_subscripts(starts, 1) AS ci FROM h)
         |SELECT doc_id, CAST(ci - 1 AS BIGINT) AS chunk_idx,
         |  CAST(en - st + 1 AS BIGINT) AS n_tokens,
         |  md5(array_to_string(list_slice(s, st, en), ' ')) AS chunk_hash
         |FROM e ORDER BY doc_id, chunk_idx""".stripMargin.replace("\n", " ")),
    "x64_hashed_tf" ->
      // identical md5 bucket (CountMin row 0), dense rebuild by list
      // comprehension, L2 norm via the same sequential dot product;
      // exploded to (doc_id, dim_idx, weight) triples to match the engine
      (s"""WITH m AS (SELECT doc_id, $toks AS ts FROM documents WHERE len($toks) > 0),
         |b AS (SELECT doc_id,
         |    [('0x' || substr(md5('0:' || t), 1, 8))::BIGINT % 64 for t in ts] AS bs FROM m),
         |c AS (SELECT doc_id,
         |    [CAST(len(list_filter(bs, x -> x = i)) AS DOUBLE) for i in range(0, 64)] AS cs FROM b),
         |v AS (SELECT doc_id,
         |    [round(x / sqrt(list_dot_product(cs, cs)), 6) for x in cs] AS vec FROM c)
         |SELECT doc_id, CAST(generate_subscripts(vec, 1) - 1 AS BIGINT) AS dim_idx,
         |  unnest(vec) AS weight
         |FROM v ORDER BY doc_id, dim_idx""".stripMargin.replace("\n", " ")),
    "x62_source_dup_matrix" ->
      // matrix re-derived from the STAGED banded pairs + the documents
      // table (the MinHash half is engine-specific; the join + canonical
      // pair aggregation is relational)
      (s"""WITH pr AS (SELECT id_a, id_b FROM ${Stage.sqlRef("x62_pairs")}),
         |j AS (SELECT least(a.source, b.source) AS source_x,
         |    greatest(a.source, b.source) AS source_y
         |  FROM pr JOIN documents a ON a.doc_id = pr.id_a
         |  JOIN documents b ON b.doc_id = pr.id_b)
         |SELECT source_x, source_y, count(*) AS n_dup_pairs FROM j
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin.replace("\n", " ")),
    "x60_repeated_spans" ->
      // identical positional 8-gram derivation; corpus totals joined back
      // (the relational twin of the engine's gram-window sum)
      (s"""WITH m AS (SELECT doc_id, $toks AS s FROM documents WHERE len($toks) >= 8),
         |g AS (SELECT doc_id, unnest([array_to_string(list_slice(s, i, i + 7), ' ')
         |    for i in range(1, len(s) - 6)]) AS gram FROM m),
         |pd AS (SELECT doc_id, gram, count(*) AS c FROM g GROUP BY 1, 2),
         |t AS (SELECT gram, CAST(sum(c) AS BIGINT) AS tot FROM pd GROUP BY 1),
         |a AS (SELECT pd.doc_id, CAST(sum(pd.c) AS BIGINT) AS n_spans,
         |    CAST(sum(CASE WHEN t.tot >= 2 THEN pd.c ELSE 0 END) AS BIGINT) AS n_repeated
         |  FROM pd JOIN t USING (gram) GROUP BY 1)
         |SELECT doc_id, n_spans, n_repeated,
         |  round(CAST(n_repeated AS DOUBLE) / n_spans, 4) AS repeated_frac
         |FROM a ORDER BY doc_id""".stripMargin.replace("\n", " ")),
    "x65_curation_pipeline" ->
      // the composed pipeline re-derived stage for stage: shared quality
      // CTEs, x05's fingerprint dedup, x40's shingle flag, x58's quota
      // arithmetic — one oracle gates the composition end to end
      (s"""$qualityCtes,
         |s0 AS (SELECT c.doc_id, CAST(c.n AS BIGINT) AS n_tokens, $qualityExprSql AS q FROM c),
         |sc AS (SELECT s0.doc_id, d.source, d.text, s0.n_tokens, s0.q
         |  FROM s0 JOIN documents d USING (doc_id) WHERE s0.q >= 0.55),
         |dd AS (SELECT min(doc_id) AS doc_id FROM sc
         |  GROUP BY md5(lower(array_to_string($toks, ' ')))),
         |corp AS (SELECT sc.* FROM sc JOIN dd USING (doc_id) WHERE sc.doc_id % 50 <> 0),
         |tt AS (SELECT doc_id, unnest(list_distinct(
         |    [array_to_string(list_slice(s, i, i + 4), ' ') for i in range(1, len(s) - 3)])) AS sh
         |  FROM (SELECT doc_id, $toks AS s FROM documents)),
         |flag AS (SELECT DISTINCT tt.doc_id FROM tt
         |  JOIN (SELECT sh FROM tt WHERE doc_id % 50 = 0) b USING (sh)
         |  WHERE tt.doc_id IN (SELECT doc_id FROM corp)),
         |clean AS (SELECT * FROM corp WHERE doc_id NOT IN (SELECT doc_id FROM flag)),
         |cn AS (SELECT source, count(*) AS n_domain FROM clean GROUP BY 1),
         |zl AS (SELECT list(pow(CAST(n_domain AS DOUBLE), 0.5) ORDER BY source) AS ws FROM cn),
         |z AS (SELECT list_reduce(list_prepend(0.0, ws), (x, y) -> x + y) AS z FROM zl),
         |qt AS (SELECT source, n_domain, least(n_domain,
         |    CAST(floor(100.0 * pow(CAST(n_domain AS DOUBLE), 0.5) / (SELECT z FROM z)) AS BIGINT)) AS quota
         |  FROM cn),
         |r AS (SELECT doc_id, source, n_tokens, q, row_number() OVER (PARTITION BY source
         |    ORDER BY substr(md5('tmix:' || CAST(doc_id AS VARCHAR)), 1, 4), doc_id) AS domain_rank
         |  FROM clean)
         |SELECT r.source, r.doc_id, r.n_tokens, r.q, qt.n_domain, qt.quota,
         |  CAST(r.domain_rank AS BIGINT) AS domain_rank
         |FROM r JOIN qt USING (source) WHERE domain_rank <= qt.quota
         |ORDER BY doc_id""".stripMargin.replace("\n", " ")),
    "x66_line_dedup" ->
      // same 12-token line windows, md5 line hashes, >1-distinct-doc
      // boilerplate rule, and ordered reassembly (string_agg ORDER BY ↔
      // sort_array(collect_list)); fully-boilerplate docs keep their row
      // with n_kept 0 and the hash of the empty string
      (s"""WITH m AS (SELECT doc_id, $toks AS ts FROM documents WHERE len($toks) > 0),
         |l AS (SELECT doc_id, unnest(range(CAST(ceil(len(ts) / 12.0) AS BIGINT))) AS line_idx, ts FROM m),
         |t AS (SELECT doc_id, line_idx,
         |    array_to_string(list_slice(ts, line_idx * 12 + 1, line_idx * 12 + 12), ' ') AS line_txt
         |  FROM l),
         |h AS (SELECT doc_id, line_idx, line_txt, md5(line_txt) AS lh FROM t),
         |b AS (SELECT lh FROM h GROUP BY lh HAVING count(DISTINCT doc_id) > 1),
         |k AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
         |    md5(string_agg(line_txt, ' ' ORDER BY line_idx)) AS clean_hash
         |  FROM h WHERE lh NOT IN (SELECT lh FROM b) GROUP BY doc_id),
         |n AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lines FROM h GROUP BY doc_id)
         |SELECT n.doc_id, n.n_lines, coalesce(k.n_kept, 0) AS n_kept,
         |  coalesce(k.clean_hash, md5('')) AS clean_hash
         |FROM n LEFT JOIN k USING (doc_id) ORDER BY doc_id""".stripMargin.replace("\n", " ")),
    "x69_image_dhash" ->
      // full independent re-derivation of the PRODUCTION (wide 120-bit)
      // pipeline: 132-cell (i*len)//132 nearest-lower byte sampling (the
      // blob is the text's UTF-8 bytes — ASCII, so ord(char) IS the
      // byte), 10 gradient bits per row × 12 rows, rows 0-5 folded
      // MSB-first into hi / rows 6-11 into lo, exact summed hamming over
      // all pairs (the banding is an engine optimization; the pair SET
      // is the contract)
      (s"""WITH m AS (SELECT doc_id AS id, text FROM documents WHERE len(text) > 0),
         |px AS (SELECT id,
         |    [ord(substr(text, CAST((i * len(text)) // 132 AS INT) + 1, 1)) for i in range(132)] AS p
         |  FROM m),
         |bits AS (SELECT id,
         |    flatten([[CASE WHEN p[r * 11 + c + 1] > p[r * 11 + c + 2] THEN 1 ELSE 0 END
         |      for c in range(10)] for r in range(6)]) AS bhi,
         |    flatten([[CASE WHEN p[r * 11 + c + 1] > p[r * 11 + c + 2] THEN 1 ELSE 0 END
         |      for c in range(10)] for r in range(6, 12)]) AS blo FROM px),
         |h AS (SELECT id,
         |    list_reduce(list_prepend(CAST(0 AS BIGINT), bhi), (a, b) -> a * 2 + b) AS shi,
         |    list_reduce(list_prepend(CAST(0 AS BIGINT), blo), (a, b) -> a * 2 + b) AS slo
         |  FROM bits),
         |pr AS (SELECT a.id AS id_a, b.id AS id_b,
         |    CAST(bit_count(xor(a.shi, b.shi)) + bit_count(xor(a.slo, b.slo)) AS BIGINT) AS hamming
         |  FROM h a JOIN h b ON a.id < b.id)
         |SELECT id_a, id_b, hamming FROM pr WHERE hamming <= 14
         |ORDER BY id_a, id_b""".stripMargin.replace("\n", " ")),
    "x79_image_dhash_wide" ->
      // the 120-bit variant: 132-cell byte grid (same (i*len)//132
      // nearest-lower sampling), 10 gradient bits per row x 12 rows,
      // rows 0-5 fold MSB-first into hi, rows 6-11 into lo; exact
      // summed hamming over all pairs
      (s"""WITH m AS (SELECT doc_id AS id, text FROM documents WHERE len(text) > 0),
         |px AS (SELECT id,
         |    [ord(substr(text, CAST((i * len(text)) // 132 AS INT) + 1, 1)) for i in range(132)] AS p
         |  FROM m),
         |bits AS (SELECT id,
         |    flatten([[CASE WHEN p[r * 11 + c + 1] > p[r * 11 + c + 2] THEN 1 ELSE 0 END
         |      for c in range(10)] for r in range(6)]) AS bhi,
         |    flatten([[CASE WHEN p[r * 11 + c + 1] > p[r * 11 + c + 2] THEN 1 ELSE 0 END
         |      for c in range(10)] for r in range(6, 12)]) AS blo FROM px),
         |h AS (SELECT id,
         |    list_reduce(list_prepend(CAST(0 AS BIGINT), bhi), (a, b) -> a * 2 + b) AS shi,
         |    list_reduce(list_prepend(CAST(0 AS BIGINT), blo), (a, b) -> a * 2 + b) AS slo
         |  FROM bits),
         |pr AS (SELECT a.id AS id_a, b.id AS id_b,
         |    CAST(bit_count(xor(a.shi, b.shi)) + bit_count(xor(a.slo, b.slo)) AS BIGINT) AS hamming
         |  FROM h a JOIN h b ON a.id < b.id)
         |SELECT id_a, id_b, hamming FROM pr WHERE hamming <= 14
         |ORDER BY id_a, id_b""".stripMargin.replace("\n", " ")),
    "x74_substring_dedup" ->
      // same tokens; duplicated 8-gram positions re-derived via
      // list_slice, the island merge via the identical running-max
      // window, survivors re-assembled positionally with a range
      // anti-join (the engine uses an equivalent per-doc HOF filter)
      (s"""WITH t AS (SELECT doc_id, $toks AS ts FROM documents),
         |gr AS (SELECT doc_id, unnest(range(1, greatest(len(ts) - 6, 1))) AS i, ts
         |  FROM t),
         |gs AS (SELECT doc_id, i,
         |  array_to_string(list_slice(ts, i, i + 7), ' ') AS g FROM gr),
         |dup AS (SELECT g FROM gs GROUP BY g
         |  HAVING count(DISTINCT doc_id) >= 2),
         |pos AS (SELECT doc_id, CAST(i AS BIGINT) AS s,
         |  CAST(i + 7 AS BIGINT) AS e FROM gs JOIN dup USING (g)),
         |isl AS (SELECT doc_id, s, e, CASE WHEN s > coalesce(max(e) OVER
         |    (PARTITION BY doc_id ORDER BY s
         |     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) + 1
         |  THEN 1 ELSE 0 END AS brk FROM pos),
         |isl2 AS (SELECT doc_id, s, e, sum(brk) OVER
         |    (PARTITION BY doc_id ORDER BY s
         |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
         |  FROM isl),
         |sp AS (SELECT doc_id, min(s) AS s, max(e) AS e FROM isl2
         |  GROUP BY doc_id, island),
         |spn AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
         |  CAST(sum(e - s + 1) AS BIGINT) AS n_removed FROM sp GROUP BY 1),
         |tok AS (SELECT doc_id, unnest(ts) AS tok,
         |  generate_subscripts(ts, 1) AS i FROM t),
         |keep AS (SELECT tok.doc_id, tok.i, tok.tok FROM tok
         |  LEFT JOIN sp ON sp.doc_id = tok.doc_id
         |    AND tok.i BETWEEN sp.s AND sp.e
         |  WHERE sp.doc_id IS NULL),
         |fp AS (SELECT doc_id,
         |  md5(array_to_string(array_agg(tok ORDER BY i), ' ')) AS clean_fp
         |  FROM keep GROUP BY 1)
         |SELECT t2.doc_id, CAST(len(t2.ts) AS BIGINT) AS n_tokens,
         |  coalesce(spn.n_spans, 0) AS n_spans,
         |  coalesce(spn.n_removed, 0) AS n_removed,
         |  coalesce(fp.clean_fp, md5('')) AS clean_fp
         |FROM t t2 LEFT JOIN spn ON spn.doc_id = t2.doc_id
         |LEFT JOIN fp ON fp.doc_id = t2.doc_id
         |ORDER BY t2.doc_id""".stripMargin.replace("\n", " ")),
    // identical blocking key (alnum prefix of the lowercased text),
    // identical lang-blocked (key, id) ranking, identical w=5 offsets,
    // identical set-Jaccard verify
    "x91_snm_pairs" ->
      (s"""WITH k AS (SELECT doc_id, lang,
         |    list_distinct($toks) AS ts,
         |    substr(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'), 1, 24) AS bk
         |  FROM documents),
         |r AS (SELECT doc_id, lang, ts, row_number() OVER
         |    (PARTITION BY lang ORDER BY bk, doc_id) AS rnk FROM k),
         |p AS (SELECT a.doc_id AS ida, b.doc_id AS idb,
         |    CAST(len(list_intersect(a.ts, b.ts)) AS DOUBLE)
         |      / len(list_distinct(list_concat(a.ts, b.ts))) AS j
         |  FROM r a JOIN r b ON a.lang = b.lang
         |    AND b.rnk - a.rnk BETWEEN 1 AND 5)
         |SELECT least(ida, idb) AS id_a, greatest(ida, idb) AS id_b,
         |  round(j, 4) AS jaccard FROM p WHERE j >= 0.5
         |ORDER BY id_a, id_b""".stripMargin.replace("\n", " ")),
    "x71_curation_v2" ->
      // the three stages re-derived in one WITH chain: x70's gate from
      // the shared quality CTEs + staged weights, x66's line dedup over
      // the gated survivors, x68's DSIR over the REASSEMBLED clean text
      (s"$qualityCtes, " +
        "qf AS (SELECT doc_id, CAST(mk / n AS DOUBLE) AS f0, punct AS f1, mtl AS f2, " +
        "least(CAST(n AS DOUBLE) / 100, 1.0) AS f3 FROM c), " +
        s"qw AS (SELECT weights, intercept FROM ${Stage.sqlRef("x71_weights")}), " +
        "gate AS (SELECT doc_id FROM (SELECT qf.doc_id, intercept + weights[1] * f0 + " +
        "weights[2] * f1 + weights[3] * f2 + weights[4] * f3 AS logit " +
        "FROM qf CROSS JOIN qw) ORDER BY logit DESC, doc_id LIMIT 400), " +
        "sv AS (SELECT m.doc_id, m.ts FROM m JOIN gate USING (doc_id) WHERE len(m.ts) > 0), " +
        "ll AS (SELECT doc_id, unnest(range(CAST(ceil(len(ts) / 12.0) AS BIGINT))) AS li, ts FROM sv), " +
        "lt AS (SELECT doc_id, li, array_to_string(list_slice(ts, li * 12 + 1, li * 12 + 12), ' ') AS ltx FROM ll), " +
        "lh AS (SELECT doc_id, li, ltx, md5(ltx) AS h FROM lt), " +
        "bo AS (SELECT h FROM lh GROUP BY h HAVING count(DISTINCT doc_id) > 1), " +
        "kp AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept, " +
        "string_agg(ltx, ' ' ORDER BY li) AS clean FROM lh " +
        "WHERE h NOT IN (SELECT h FROM bo) GROUP BY doc_id), " +
        raw"tk2 AS (SELECT kp.doc_id, d.source, unnest(list_filter(string_split_regex(trim(clean), '\s+'), t -> len(t) > 0)) AS term " +
        "FROM kp JOIN documents d USING (doc_id)), " +
        "bk2 AS (SELECT doc_id, source, ('0x' || substr(md5('0:' || term), 1, 8))::BIGINT % 64 AS b FROM tk2), " +
        "sp2 AS (SELECT unnest(range(64)) AS b), " +
        "ct2 AS (SELECT b, count(*) AS c FROM bk2 WHERE source = 'src0' GROUP BY 1), " +
        "cr2 AS (SELECT b, count(*) AS c FROM bk2 GROUP BY 1), " +
        "lr2 AS (SELECT sp2.b, ln((coalesce(ct2.c, 0) + 1) / ((SELECT sum(c) FROM ct2) + 64)) - " +
        "ln((coalesce(cr2.c, 0) + 1) / ((SELECT sum(c) FROM cr2) + 64)) AS ratio " +
        "FROM sp2 LEFT JOIN ct2 USING (b) LEFT JOIN cr2 USING (b)), " +
        "dc2 AS (SELECT doc_id, b, count(*) AS c FROM bk2 GROUP BY 1, 2), " +
        "ws2 AS (SELECT doc_id, list_reduce(list_prepend(0.0, " +
        "list(CAST(c AS DOUBLE) * ratio ORDER BY b)), (x, y) -> x + y) AS w " +
        "FROM dc2 JOIN lr2 USING (b) GROUP BY doc_id), " +
        "sel AS (SELECT doc_id, w FROM ws2 ORDER BY w DESC, doc_id LIMIT 150) " +
        "SELECT sel.doc_id, round(sel.w, 4) AS weight, kp.n_kept " +
        "FROM sel JOIN kp USING (doc_id) ORDER BY sel.doc_id"),
    "x40_decontaminate" -> decontaminateSql,
    // x56 computes the SAME result through the bloom-pruned path — result
    // equality with the exact derivation is the gate
    "x56_bloom_decontaminate" -> decontaminateSql,
    "x42_tfidf" ->
      (s"WITH t AS (SELECT doc_id, unnest($toks) AS term FROM documents), " +
        "tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM t GROUP BY 1, 2), " +
        "fd AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1), " +
        "n AS (SELECT CAST(count(*) AS DOUBLE) AS nn FROM documents), " +
        "r AS (SELECT doc_id, term, tf, df, " +
        "row_number() OVER (PARTITION BY doc_id ORDER BY tf DESC, df ASC, term ASC) AS rank " +
        "FROM tf JOIN fd USING (term)) " +
        "SELECT doc_id, CAST(rank AS BIGINT) AS rank, term, tf, df, " +
        "round(CAST(tf AS DOUBLE) * ln(nn / CAST(df AS DOUBLE)), 4) AS tfidf " +
        "FROM r, n WHERE rank <= 3 ORDER BY doc_id, rank"),
    "x43_keep_best" ->
      (s"""WITH RECURSIVE pr AS ($jaccardCte),
         |edges AS (SELECT id_a AS src, id_b AS dst FROM pr
         |  UNION ALL SELECT id_b, id_a FROM pr),
         |nodes AS (SELECT DISTINCT src AS id FROM edges),
         |reach(id, r) AS (
         |  SELECT id, id FROM nodes
         |  UNION
         |  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id),
         |comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id),
         |d AS (SELECT doc_id, CAST(len($toks) AS BIGINT) AS n_tokens FROM documents),
         |m AS (SELECT d.doc_id, d.n_tokens, comp.component FROM d JOIN comp ON d.doc_id = comp.id),
         |k AS (SELECT doc_id, n_tokens FROM (
         |  SELECT doc_id, n_tokens, row_number() OVER (
         |    PARTITION BY component ORDER BY n_tokens DESC, doc_id ASC) AS rk
         |  FROM m) WHERE rk = 1),
         |nm AS (SELECT doc_id, n_tokens FROM d
         |  WHERE doc_id NOT IN (SELECT id FROM comp))
         |SELECT doc_id, n_tokens FROM (SELECT * FROM k UNION ALL SELECT * FROM nm)
         |ORDER BY doc_id""".stripMargin.replace("\n", " ")),
    "x44_group_split" -> x44Sql,
    "x46_banded_keep_split" ->
      // components + keeper rank + group-keyed split, all re-derived in
      // DuckDB from the STAGED banded pair table (the engine-specific
      // MinHash/LSH half is the hand-off; everything downstream is
      // recomputed independently). Singletons form their own group →
      // rk = 1 → kept, matching the engine's anti-join pass-through.
      (s"""WITH RECURSIVE pr AS (SELECT id_a, id_b FROM ${Stage.sqlRef("x46_pairs")}),
         |edges AS (SELECT id_a AS src, id_b AS dst FROM pr
         |  UNION ALL SELECT id_b, id_a FROM pr),
         |nodes AS (SELECT DISTINCT src AS id FROM edges),
         |reach(id, r) AS (
         |  SELECT id, id FROM nodes
         |  UNION
         |  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id),
         |comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id),
         |d AS (SELECT doc_id, CAST(len($toks) AS BIGINT) AS n_tokens FROM documents),
         |g AS (SELECT d.doc_id, d.n_tokens,
         |    coalesce(comp.component, d.doc_id) AS group_key
         |  FROM d LEFT JOIN comp ON d.doc_id = comp.id),
         |k AS (SELECT doc_id, row_number() OVER (
         |    PARTITION BY group_key ORDER BY n_tokens DESC, doc_id ASC) AS rk
         |  FROM g)
         |SELECT g.doc_id, g.n_tokens, (k.rk = 1) AS kept, g.group_key,
         |  ${splitCaseOver("group_key")} AS split
         |FROM g JOIN k ON g.doc_id = k.doc_id
         |ORDER BY g.doc_id""".stripMargin.replace("\n", " ")),
    "x08_simhash_pairs" -> x08Sql,
    "x47_incremental_dedup" ->
      // candidates + exact Jaccard re-derived from the four STAGED
      // engine tables (bands + shingle sets per side); the division
      // mirrors minhashPairsBetween operand-for-operand
      (s"""WITH cb AS (SELECT id, band, band_key FROM ${Stage.sqlRef("x47_corpus_bands")}),
         |nb AS (SELECT id, band, band_key FROM ${Stage.sqlRef("x47_batch_bands")}),
         |cand AS (SELECT DISTINCT nb.id AS id_new, cb.id AS id_corpus
         |  FROM nb JOIN cb ON nb.band = cb.band AND nb.band_key = cb.band_key),
         |ns AS (SELECT id, sh FROM ${Stage.sqlRef("x47_batch_sh")}),
         |cs AS (SELECT id, sh FROM ${Stage.sqlRef("x47_corpus_sh")}),
         |p AS (SELECT cand.id_new, cand.id_corpus,
         |  CAST(len(list_intersect(ns.sh, cs.sh)) AS DOUBLE)
         |    / (len(ns.sh) + len(cs.sh) - len(list_intersect(ns.sh, cs.sh))) AS j
         |  FROM cand JOIN ns ON ns.id = cand.id_new
         |  JOIN cs ON cs.id = cand.id_corpus)
         |SELECT id_new, id_corpus, round(j, 4) AS jaccard FROM p WHERE j >= 0.8
         |ORDER BY id_new, id_corpus""".stripMargin.replace("\n", " ")),
    "x15_winnow_overlap" -> x15Sql,
    "x31_pipeline" -> x31Sql,
    "x29_containment_pairs" ->
      (s"""WITH t AS (SELECT doc_id, $shingleSql AS sh
         | FROM (SELECT doc_id, $toks AS s FROM documents)),
         |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |  CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / len(a.sh) AS c_ab,
         |  CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / len(b.sh) AS c_ba
         | FROM t a JOIN t b ON a.doc_id < b.doc_id)
         |SELECT id_a, id_b, round(c_ab, 4) AS c_ab, round(c_ba, 4) AS c_ba
         | FROM p WHERE greatest(c_ab, c_ba) >= 0.9
         |ORDER BY id_a, id_b""".stripMargin.replace("\n", " ")),
    // two x10-shape rankings (full vs 16-dim prefix slice), overlap join,
    // zero-overlap queries kept by the left join
    "x112_matryoshka_recall" ->
      (s"""WITH qf AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
         |  FROM embeddings WHERE vec_id < 5),
         |itf AS (SELECT vec_id AS item_id, embedding::DOUBLE[] AS iv FROM embeddings),
         |rf AS (SELECT query_id, item_id FROM (
         |  SELECT query_id, item_id, row_number() OVER (PARTITION BY query_id
         |      ORDER BY $cosSql DESC, item_id) AS rank
         |  FROM itf CROSS JOIN qf WHERE item_id != query_id) WHERE rank <= 10),
         |qt AS (SELECT query_id, qv[1:16] AS qv FROM qf),
         |itt AS (SELECT item_id, iv[1:16] AS iv FROM itf),
         |rt AS (SELECT query_id, item_id FROM (
         |  SELECT query_id, item_id, row_number() OVER (PARTITION BY query_id
         |      ORDER BY $cosSql DESC, item_id) AS rank
         |  FROM itt CROSS JOIN qt WHERE item_id != query_id) WHERE rank <= 10),
         |o AS (SELECT rf.query_id, CAST(count(*) AS BIGINT) AS overlap
         |  FROM rf JOIN rt USING (query_id, item_id) GROUP BY 1)
         |SELECT q.query_id, CAST(coalesce(o.overlap, 0) AS BIGINT) AS overlap,
         |  round(CAST(coalesce(o.overlap, 0) AS DOUBLE) / 10.0, 4) AS recall_at_10
         |FROM (SELECT DISTINCT query_id FROM qf) q LEFT JOIN o USING (query_id)
         |ORDER BY query_id""".stripMargin.replace("\n", " ")),
    // same two rankings as x112, same literal weight table (no pow() —
    // last-ulp portability), same depth-ordered fold and (1−p)/p factor
    "x115_rbo" ->
      (s"""WITH qf AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
         |  FROM embeddings WHERE vec_id < 5),
         |itf AS (SELECT vec_id AS item_id, embedding::DOUBLE[] AS iv FROM embeddings),
         |rf AS (SELECT query_id, item_id, rank FROM (
         |  SELECT query_id, item_id, row_number() OVER (PARTITION BY query_id
         |      ORDER BY $cosSql DESC, item_id) AS rank
         |  FROM itf CROSS JOIN qf WHERE item_id != query_id) WHERE rank <= 10),
         |qt AS (SELECT query_id, qv[1:16] AS qv FROM qf),
         |itt AS (SELECT item_id, iv[1:16] AS iv FROM itf),
         |rt AS (SELECT query_id, item_id, rank FROM (
         |  SELECT query_id, item_id, row_number() OVER (PARTITION BY query_id
         |      ORDER BY $cosSql DESC, item_id) AS rank
         |  FROM itt CROSS JOIN qt WHERE item_id != query_id) WHERE rank <= 10),
         |j AS (SELECT rf.query_id, greatest(rf.rank, rt.rank) AS dmin
         |  FROM rf JOIN rt USING (query_id, item_id)),
         |dep AS (SELECT query_id, dd.d AS d, CAST(count(*) AS BIGINT) AS ov
         |  FROM j CROSS JOIN (SELECT unnest(range(1, 11)) AS d) dd
         |  WHERE dmin <= dd.d GROUP BY 1, 2),
         |tm AS (SELECT query_id, d, (${rboWeightCase("d")}) * CAST(ov AS DOUBLE) AS term FROM dep),
         |f AS (SELECT query_id, list(term ORDER BY d) AS cs FROM tm GROUP BY 1),
         |o AS (SELECT query_id, round(list_reduce(list_prepend(0.0, cs),
         |    (x, y) -> x + y) * (1.0 - 0.9) / 0.9, 6) AS rbo FROM f)
         |SELECT q.query_id, coalesce(o.rbo, 0.0) AS rbo
         |FROM (SELECT DISTINCT query_id FROM qf) q LEFT JOIN o USING (query_id)
         |ORDER BY query_id""".stripMargin.replace("\n", " ")),
    // same per-bucket distinct token sets, same min-bucket first-seen
    // reduction, same division
    "x125_vocab_novelty" ->
      (s"""WITH tb AS (SELECT DISTINCT bucket, t FROM (
         |    SELECT doc_id // 50 AS bucket, unnest($toks) AS t FROM documents)),
         |f AS (SELECT t, min(bucket) AS fb FROM tb GROUP BY 1)
         |SELECT tb.bucket, CAST(count(*) AS BIGINT) AS n_distinct,
         |  CAST(sum(CASE WHEN f.fb = tb.bucket THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
         |  round(CAST(sum(CASE WHEN f.fb = tb.bucket THEN 1 ELSE 0 END) AS DOUBLE)
         |    / count(*), 6) AS novelty
         |FROM tb JOIN f USING (t) GROUP BY tb.bucket
         |ORDER BY tb.bucket""".stripMargin.replace("\n", " ")),
    // same gates re-derived stage by stage: x03's quality CTEs, x04's
    // fingerprint keeper, x40's 5-gram contamination join
    "x127_pipeline_funnel" ->
      (s"""$qualityCtes,
         |s0 AS (SELECT d.doc_id, d.text FROM documents d WHERE d.doc_id % 50 <> 0),
         |s1 AS (SELECT s0.doc_id, s0.text FROM s0 JOIN c USING (doc_id) WHERE c.n > 0),
         |s2 AS (SELECT s1.doc_id, s1.text FROM s1 JOIN c USING (doc_id)
         |  WHERE CAST(floor(($qualityExprSql) * 10000 + 0.5) AS BIGINT) >= 5000),
         |fp AS (SELECT doc_id, text, md5(lower(array_to_string($toks, ' '))) AS f FROM s2),
         |s3 AS (SELECT doc_id, text FROM (SELECT *, row_number() OVER (
         |    PARTITION BY f ORDER BY doc_id) AS rn FROM fp) WHERE rn = 1),
         |sh3 AS (SELECT doc_id, unnest(list_distinct(
         |    [array_to_string(list_slice(s, i, i + 4), ' ') for i in range(1, len(s) - 3)])) AS sh
         |  FROM (SELECT doc_id, $toks AS s FROM s3)),
         |shb AS (SELECT doc_id, unnest(list_distinct(
         |    [array_to_string(list_slice(s, i, i + 4), ' ') for i in range(1, len(s) - 3)])) AS sh
         |  FROM (SELECT doc_id, $toks AS s FROM documents WHERE doc_id % 50 = 0)),
         |cont AS (SELECT DISTINCT sh3.doc_id FROM sh3 JOIN shb ON sh3.sh = shb.sh),
         |s4 AS (SELECT s3.doc_id FROM s3 LEFT JOIN cont ON cont.doc_id = s3.doc_id
         |  WHERE cont.doc_id IS NULL),
         |cnt AS (SELECT 0 AS stage, 'corpus' AS gate, (SELECT count(*) FROM s0) AS n_docs
         |  UNION ALL SELECT 1, 'non_empty', (SELECT count(*) FROM s1)
         |  UNION ALL SELECT 2, 'quality', (SELECT count(*) FROM s2)
         |  UNION ALL SELECT 3, 'dedup_keeper', (SELECT count(*) FROM s3)
         |  UNION ALL SELECT 4, 'decontaminated', (SELECT count(*) FROM s4))
         |SELECT CAST(stage AS BIGINT) AS stage, gate, CAST(n_docs AS BIGINT) AS n_docs,
         |  coalesce(round(CAST(n_docs AS DOUBLE) / lag(n_docs) OVER (ORDER BY stage), 6),
         |    1.0) AS retention
         |FROM cnt ORDER BY stage""".stripMargin.replace("\n", " ")),
    // the same 5 greedy rounds unrolled: per round the identical
    // (gain DESC, doc_id) argmax over not-yet-picked docs against the
    // accumulated covered set
    "x137_greedy_cover" -> {
      val tCte = s"t AS MATERIALIZED (SELECT doc_id, list_distinct($toks) AS ts " +
        s"FROM documents WHERE len($toks) > 0)"
      def notPicked(i: Int) =
        " WHERE t.doc_id NOT IN (" +
          (1 until i).map(j => s"SELECT doc_id FROM g$j").mkString(" UNION ALL ") + ")"
      def g(i: Int) =
        if (i == 1)
          "g1 AS MATERIALIZED (SELECT doc_id, CAST(len(ts) AS BIGINT) AS gain, ts " +
            "FROM t ORDER BY gain DESC, doc_id LIMIT 1)"
        else
          s"g$i AS MATERIALIZED (SELECT t.doc_id, CAST(len(list_filter(t.ts, " +
            s"x -> NOT list_contains(cv${i - 1}.cov, x))) AS BIGINT) AS gain, t.ts " +
            s"FROM t CROSS JOIN cv${i - 1}${notPicked(i)} " +
            "ORDER BY gain DESC, t.doc_id LIMIT 1)"
      def cv(i: Int) =
        if (i == 1) "cv1 AS MATERIALIZED (SELECT list_distinct(ts) AS cov FROM g1)"
        else s"cv$i AS MATERIALIZED (SELECT list_distinct(flatten(" +
          s"[cv${i - 1}.cov, g$i.ts])) AS cov FROM cv${i - 1} CROSS JOIN g$i)"
      val parts = (1 to 5).flatMap(i => Seq(g(i), cv(i)))
      val sel = (1 to 5).map(i =>
        s"SELECT CAST($i AS BIGINT) AS step, doc_id, gain, " +
          s"(SELECT CAST(len(cov) AS BIGINT) FROM cv$i) AS covered_total FROM g$i")
        .mkString(" UNION ALL ")
      "WITH " + (tCte +: parts).mkString(", ") + " " + sel + " ORDER BY step"
    },
    // two x10-shape rankings, FULL OUTER fusion, the same
    // 1/(60+rank) arithmetic with NULL→0 coalesce
    "x138_rrf_fusion" ->
      (s"""WITH qf AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
         |  FROM embeddings WHERE vec_id < 5),
         |itf AS (SELECT vec_id AS item_id, embedding::DOUBLE[] AS iv FROM embeddings),
         |rf AS (SELECT query_id, item_id, rank AS ra FROM (
         |  SELECT query_id, item_id, row_number() OVER (PARTITION BY query_id
         |      ORDER BY $cosSql DESC, item_id) AS rank
         |  FROM itf CROSS JOIN qf WHERE item_id != query_id) WHERE rank <= 10),
         |qt AS (SELECT query_id, qv[1:16] AS qv FROM qf),
         |itt AS (SELECT item_id, iv[1:16] AS iv FROM itf),
         |rt AS (SELECT query_id, item_id, rank AS rb FROM (
         |  SELECT query_id, item_id, row_number() OVER (PARTITION BY query_id
         |      ORDER BY $cosSql DESC, item_id) AS rank
         |  FROM itt CROSS JOIN qt WHERE item_id != query_id) WHERE rank <= 10),
         |u AS (SELECT query_id, item_id,
         |    coalesce(CAST(1.0 AS DOUBLE) / (CAST(60.0 AS DOUBLE) + ra), CAST(0.0 AS DOUBLE)) +
         |    coalesce(CAST(1.0 AS DOUBLE) / (CAST(60.0 AS DOUBLE) + rb), CAST(0.0 AS DOUBLE)) AS score
         |  FROM rf FULL OUTER JOIN rt USING (query_id, item_id))
         |SELECT query_id, rank, item_id, round(score, 6) AS score FROM (
         |  SELECT query_id, item_id, score, CAST(row_number() OVER (
         |    PARTITION BY query_id ORDER BY score DESC, item_id) AS BIGINT) AS rank
         |  FROM u) WHERE rank <= 10
         |ORDER BY query_id, rank""".stripMargin.replace("\n", " ")),
    // same blocking/rank/window as x91, same unit-cost levenshtein
    "x122_edit_pairs" ->
      ("""WITH k AS (SELECT doc_id AS id, lang AS blk, text,
         |    substr(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'), 1, 24) AS bk
         |  FROM documents),
         |r AS (SELECT *, row_number() OVER (PARTITION BY blk ORDER BY bk, id) AS rnk FROM k),
         |p AS (SELECT a.blk, a.id AS id_a, a.text AS ta, a.rnk + s.k AS tgt
         |  FROM r a CROSS JOIN (SELECT unnest(range(1, 6)) AS k) s),
         |c AS (SELECT p.id_a, b.id AS id_b,
         |    CAST(levenshtein(p.ta, b.text) AS BIGINT) AS dist
         |  FROM p JOIN r b ON b.blk = p.blk AND b.rnk = p.tgt)
         |SELECT least(id_a, id_b) AS id_a, greatest(id_a, id_b) AS id_b, dist
         |FROM c WHERE dist <= 60 ORDER BY id_a, id_b""".stripMargin.replace("\n", " ")),
    // x138's two ranking shapes, the SAME literal discount table and
    // graded relevance, rank-ordered fold ≡ list_reduce
    "x148_ndcg" ->
      (s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |qf AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
         |itf AS (SELECT vec_id AS item_id, v AS iv FROM e),
         |rf AS (SELECT query_id, item_id, CAST(11 - rank AS BIGINT) AS rel FROM (
         |  SELECT query_id, item_id, row_number() OVER (PARTITION BY query_id
         |      ORDER BY $cosSql DESC, item_id) AS rank
         |  FROM itf CROSS JOIN qf WHERE item_id != query_id) WHERE rank <= 10),
         |qt AS (SELECT query_id, qv[1:16] AS qv FROM qf),
         |itt AS (SELECT item_id, iv[1:16] AS iv FROM itf),
         |rt AS (SELECT query_id, item_id, CAST(rank AS BIGINT) AS rank FROM (
         |  SELECT query_id, item_id, row_number() OVER (PARTITION BY query_id
         |      ORDER BY $cosSql DESC, item_id) AS rank
         |  FROM itt CROSS JOIN qt WHERE item_id != query_id) WHERE rank <= 10),
         |j AS (SELECT rt.query_id, rt.rank,
         |    coalesce(rf.rel, CAST(0 AS BIGINT)) AS rel
         |  FROM rt LEFT JOIN rf USING (query_id, item_id)),
         |c AS (SELECT query_id, rank, ($NdcgContribSql) AS contrib FROM j),
         |f AS (SELECT query_id, list(contrib ORDER BY rank) AS cs FROM c GROUP BY 1)
         |SELECT query_id,
         |  round(list_reduce(list_prepend(0.0, cs), (x, y) -> x + y), 6) AS dcg,
         |  round(list_reduce(list_prepend(0.0, cs), (x, y) -> x + y) /
         |    CAST($IdcgVal AS DOUBLE), 6) AS ndcg
         |FROM f ORDER BY query_id""".stripMargin.replace("\n", " ")),
    // same global md5 keeper rule, same integer per-source sums
    "x164_dedup_impact" ->
      (s"""WITH d AS (SELECT doc_id, source, md5(text) AS h,
         |    CAST(len($toks) AS BIGINT) AS ntk FROM documents),
         |k AS (SELECT source, ntk, CASE WHEN row_number() OVER
         |    (PARTITION BY h ORDER BY doc_id) = 1 THEN 1 ELSE 0 END AS keep FROM d),
         |g AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(keep) AS BIGINT) AS n_kept, CAST(sum(ntk) AS BIGINT) AS tokens,
         |    CAST(sum(keep * ntk) AS BIGINT) AS tokens_kept FROM k GROUP BY 1)
         |SELECT source, n_docs, n_kept, tokens,
         |  CAST(tokens - tokens_kept AS BIGINT) AS tokens_removed,
         |  round(CAST(tokens - tokens_kept AS DOUBLE) / tokens, 6) AS pct_removed
         |FROM g ORDER BY source""".stripMargin.replace("\n", " ")),
    // the x06/x92 all-pairs truth CTE + x08's staged banded candidates,
    // integer count ratios
    "x161_simhash_eval" -> {
      val chunkRows = Dedup.simhashChunkSpec(10)
        .map { case (c, off, mask) => s"($c, $off, $mask)" }.mkString(", ")
      s"""WITH t AS (SELECT doc_id, $shingleSql AS sh
         |  FROM (SELECT doc_id, $toks AS s FROM documents)),
         |tr AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM t a JOIN t b ON a.doc_id < b.doc_id
         |  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
         |    / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.8),
         |s AS (SELECT id, sh FROM ${Stage.sqlRef("x161_simhash")}),
         |ch(c_idx, c_off, c_mask) AS (VALUES $chunkRows),
         |c AS (SELECT id, sh, c_idx, (sh >> c_off) & c_mask AS chunk_val
         |  FROM s CROSS JOIN ch),
         |pr AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b FROM c a
         |  JOIN c b ON a.c_idx = b.c_idx AND a.chunk_val = b.chunk_val
         |    AND a.id < b.id
         |  WHERE bit_count(xor(a.sh, b.sh)) <= 10),
         |tpc AS (SELECT CAST(count(*) AS BIGINT) AS tp FROM pr JOIN tr USING (id_a, id_b)),
         |cnt AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM tr) AS n_truth,
         |    (SELECT CAST(count(*) AS BIGINT) FROM pr) AS n_pred)
         |SELECT n_truth, n_pred, tp,
         |  round(CAST(tp AS DOUBLE) / n_pred, 6) AS precision,
         |  round(CAST(tp AS DOUBLE) / n_truth, 6) AS recall,
         |  round(CAST(2 * tp AS DOUBLE) / (n_pred + n_truth), 6) AS f1
         |FROM cnt CROSS JOIN tpc""".stripMargin.replace("\n", " ")
    },
    // source attribution + matrix aggregation re-derived from the
    // STAGED banded pair table (the x46 hand-off); same source
    // canonicalization and one broadcast-total division
    "x180_source_overlap" ->
      (s"""WITH pr AS (SELECT id_a, id_b FROM ${Stage.sqlRef("x180_pairs")}),
         |sp AS (SELECT a.source AS sa0, b.source AS sb0 FROM pr
         |  JOIN documents a ON a.doc_id = pr.id_a
         |  JOIN documents b ON b.doc_id = pr.id_b),
         |m AS (SELECT least(sa0, sb0) AS src_a, greatest(sa0, sb0) AS src_b,
         |    CAST(count(*) AS BIGINT) AS n_pairs FROM sp GROUP BY 1, 2),
         |t AS (SELECT CAST(sum(n_pairs) AS BIGINT) AS tt FROM m)
         |SELECT src_a, src_b, n_pairs,
         |  round(CAST(n_pairs AS DOUBLE) / tt, 6) AS pct
         |FROM m CROSS JOIN t ORDER BY src_a, src_b""".stripMargin.replace("\n", " ")),
    // components re-derived by recursive-CTE reachability from the
    // STAGED banded pair table (x14's closure over x46's hand-off);
    // singleton row from the same two scalar aggregates
    "x182_cluster_sizes" ->
      (s"""WITH RECURSIVE pr AS (SELECT id_a, id_b FROM ${Stage.sqlRef("x182_pairs")}),
         |edges AS (SELECT id_a AS src, id_b AS dst FROM pr
         |  UNION ALL SELECT id_b, id_a FROM pr),
         |nodes AS (SELECT DISTINCT src AS id FROM edges),
         |reach(id, r) AS (
         |  SELECT id, id FROM nodes
         |  UNION
         |  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id),
         |comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id),
         |sz AS (SELECT component, CAST(count(*) AS BIGINT) AS m FROM comp GROUP BY 1),
         |h AS (SELECT m AS cluster_size, CAST(count(*) AS BIGINT) AS n_clusters
         |  FROM sz GROUP BY 1),
         |d AS (SELECT CAST(count(*) AS BIGINT) AS dd FROM documents),
         |mt AS (SELECT CAST(coalesce(sum(m), 0) AS BIGINT) AS mm FROM sz),
         |u AS (SELECT * FROM h UNION ALL
         |  SELECT CAST(1 AS BIGINT), dd - mm FROM d CROSS JOIN mt WHERE dd - mm > 0)
         |SELECT cluster_size, CAST(sum(n_clusters) AS BIGINT) AS n_clusters,
         |  CAST(sum(cluster_size * n_clusters) AS BIGINT) AS n_docs
         |FROM u GROUP BY 1 ORDER BY cluster_size""".stripMargin.replace("\n", " ")),
    // full pipeline re-derivation: n = 256 + (len%256)·8 samples,
    // |s_j| = |ord(byte j%len) − 128| / 256 (exact dyadic — the float
    // and double paths agree bit-for-bit), 120 sequential band-energy
    // folds, bits vs the overall mean, two 60-bit MSB-first folds,
    // all-pairs summed hamming ≤ 20 (the banding is an engine
    // optimization; the pair SET is the contract — the x79 rule)
    "x187_audio_neardup" ->
      ("""WITH m AS (SELECT doc_id AS id, text, strlen(text) AS len,
         |    256 + (strlen(text) % 256) * 8 AS n
         |  FROM documents WHERE strlen(text) > 0),
         |bands AS (SELECT id,
         |    [[abs(ord(substr(text, CAST((j % len) AS INT) + 1, 1)) - 128) / 256.0
         |      for j in range(CAST((b * n) // 120 AS INT), CAST(((b + 1) * n) // 120 AS INT))]
         |      for b in range(120)] AS bl FROM m),
         |e AS (SELECT id,
         |    [CASE WHEN len(x) > 0
         |      THEN list_reduce(list_prepend(0.0, x), (a, v) -> a + v) / len(x)
         |      ELSE 0.0 END for x in bl] AS eb FROM bands),
         |mn AS (SELECT id, eb,
         |    list_reduce(list_prepend(0.0, eb), (a, v) -> a + v) / 120.0 AS mean FROM e),
         |h AS (SELECT id,
         |    list_reduce(list_prepend(CAST(0 AS BIGINT),
         |      [CASE WHEN eb[b + 1] > mean THEN 1 ELSE 0 END for b in range(60)]),
         |      (a, v) -> a * 2 + v) AS shi,
         |    list_reduce(list_prepend(CAST(0 AS BIGINT),
         |      [CASE WHEN eb[b + 1] > mean THEN 1 ELSE 0 END for b in range(60, 120)]),
         |      (a, v) -> a * 2 + v) AS slo FROM mn),
         |pr AS (SELECT a.id AS id_a, b.id AS id_b,
         |    CAST(bit_count(xor(a.shi, b.shi)) + bit_count(xor(a.slo, b.slo)) AS BIGINT) AS hamming
         |  FROM h a JOIN h b ON a.id < b.id)
         |SELECT id_a, id_b, hamming FROM pr WHERE hamming <= 20
         |ORDER BY id_a, id_b""".stripMargin.replace("\n", " ")),
    // same top-300 cut (count desc, term asc), same renormalized grid,
    // same per-term contribution string folded in sorted term order
    "x212_jsd_matrix" ->
      (s"""WITH per AS (SELECT source, t, CAST(count(*) AS BIGINT) AS c
         |  FROM (SELECT source, unnest($toks) AS t FROM documents)
         |  GROUP BY 1, 2),
         |top AS (SELECT t FROM (SELECT t, sum(c) AS g FROM per GROUP BY 1)
         |  ORDER BY g DESC, t ASC LIMIT 300),
         |sel AS (SELECT per.source, per.t, per.c FROM per
         |  JOIN top ON per.t = top.t),
         |tots AS (SELECT source, CAST(sum(c) AS BIGINT) AS tot
         |  FROM sel GROUP BY 1),
         |cells AS (SELECT g.source, g.t,
         |    CAST(coalesce(s.c, 0) AS BIGINT) AS c, g.tot
         |  FROM (SELECT tots.source, tots.tot, top.t
         |        FROM tots CROSS JOIN top) g
         |  LEFT JOIN sel s ON s.source = g.source AND s.t = g.t),
         |pr AS (SELECT a.source AS src_a, b.source AS src_b, a.t AS t,
         |    a.c AS ca, a.tot AS ta, b.c AS cb, b.tot AS tb
         |  FROM cells a JOIN cells b
         |  ON a.t = b.t AND a.source < b.source),
         |ct AS (SELECT src_a, src_b, t, $JsdTermSql AS contrib FROM pr),
         |g2 AS (SELECT src_a, src_b, list(contrib ORDER BY t) AS cs
         |  FROM ct GROUP BY 1, 2)
         |SELECT src_a, src_b,
         |  round(list_reduce(list_prepend(0.0, cs), (x, y) -> x + y), 6)
         |    AS jsd
         |FROM g2 ORDER BY 1, 2""".stripMargin.replace("\n", " ")),
    // same synthesized URL variants, same five-step canonical chain
    // (host-lower, fragment, mid-utm, tail-utm, slash collapse) with
    // the 'g' flag carrying RE2's global replace — no capture groups
    // anywhere, so the patterns are engine-portable verbatim
    "x222_url_canonical" ->
      ("""WITH u0 AS (SELECT doc_id, 'https://' ||
         |  (['Example.COM', 'news.example.com', 'Blog.Example.org',
         |    'cdn.example.net'])[(doc_id % 4 + 1)] ||
         |  '/p/' || CAST(doc_id % 97 AS VARCHAR) ||
         |  CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END ||
         |  CASE WHEN doc_id % 15 = 0
         |    THEN '?utm_source=feed&ref=home&utm_medium=rss'
         |    WHEN doc_id % 3 = 0 THEN '?utm_source=feed&utm_medium=rss'
         |    WHEN doc_id % 5 = 0 THEN '?ref=home' ELSE '' END ||
         |  CASE WHEN doc_id % 7 = 0 THEN '#sec2' ELSE '' END AS u
         |  FROM documents),
         |c0 AS (SELECT doc_id,
         |  lower(regexp_extract(u, '^[A-Za-z]+://[^/?#]+')) ||
         |  regexp_replace(u, '^[A-Za-z]+://[^/?#]+', '') AS v FROM u0),
         |c1 AS (SELECT doc_id, regexp_replace(regexp_replace(
         |  regexp_replace(regexp_replace(regexp_replace(v,
         |  '#.*', '', 'g'),
         |  'utm_[a-z]+=[^&#?]*&', '', 'g'),
         |  '[?&]utm_[a-z]+=[^&#?]*', '', 'g'),
         |  '/\?', '?', 'g'),
         |  '/$', '', 'g') AS curl FROM c0),
         |d AS (SELECT regexp_extract(curl, '^[a-z]+://([^/?#]+)', 1)
         |  AS domain, curl FROM c1)
         |SELECT domain, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(count(DISTINCT curl) AS BIGINT) AS n_canonical,
         |  CAST(count(*) - count(DISTINCT curl) AS BIGINT) AS n_dups,
         |  round(CAST(count(*) - count(DISTINCT curl) AS DOUBLE)
         |    / count(*), 6) AS dup_rate
         |FROM d GROUP BY 1 ORDER BY 1""".stripMargin.replace("\n", " ")),
    // components + BOTH split arithmetics re-derived from the staged
    // banded pairs (the x46 recursive-CC machinery); the group-split
    // straddle count must be 0 by construction in both engines
    "x202_split_leakage" ->
      (s"""WITH RECURSIVE pr AS (SELECT id_a, id_b
         |  FROM ${Stage.sqlRef("x202_pairs")}),
         |edges AS (SELECT id_a AS src, id_b AS dst FROM pr
         |  UNION ALL SELECT id_b, id_a FROM pr),
         |nodes AS (SELECT DISTINCT src AS id FROM edges),
         |reach(id, r) AS (
         |  SELECT id, id FROM nodes
         |  UNION
         |  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id),
         |comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id),
         |g AS (SELECT d.doc_id,
         |    coalesce(comp.component, d.doc_id) AS group_key
         |  FROM documents d LEFT JOIN comp ON d.doc_id = comp.id),
         |sp AS (SELECT doc_id, ${splitCaseOver("group_key")} AS gsplit,
         |    ${splitCaseOver("doc_id")} AS nsplit FROM g),
         |j AS (SELECT a.gsplit AS ga, b.gsplit AS gb, a.nsplit AS na,
         |    b.nsplit AS nb
         |  FROM pr p JOIN sp a ON a.doc_id = p.id_a
         |  JOIN sp b ON b.doc_id = p.id_b),
         |t AS (SELECT CAST(count(*) AS BIGINT) AS n_pairs,
         |    CAST(sum(CASE WHEN na <> nb THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_straddle_naive,
         |    CAST(sum(CASE WHEN ga <> gb THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_straddle_group FROM j)
         |SELECT n_pairs, n_straddle_naive, n_straddle_group,
         |  round($LeakRateSql, 6) AS leak_rate_naive
         |FROM t""".stripMargin.replace("\n", " ")),
    // identical positional 5-gram derivation (the x60 slices at k=5),
    // per-gram min-doc origin, same join-back
    "x257_gram_novelty" ->
      (s"""WITH m AS (SELECT doc_id, $toks AS s FROM documents
         |  WHERE len($toks) >= 5),
         |g AS (SELECT DISTINCT doc_id, gram FROM (SELECT doc_id,
         |    unnest([array_to_string(list_slice(s, i, i + 4), ' ')
         |      for i in range(1, len(s) - 3)]) AS gram FROM m)),
         |f AS (SELECT gram, min(doc_id) AS fd FROM g GROUP BY 1),
         |a AS (SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
         |    CAST(sum(CASE WHEN f.fd = g.doc_id THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_novel
         |  FROM g JOIN f USING (gram) GROUP BY 1)
         |SELECT doc_id, n_grams, n_novel,
         |  round(CAST(n_novel AS DOUBLE) / n_grams, 4) AS novel_frac
         |FROM a ORDER BY doc_id""".stripMargin.replace("\n", " ")),
  )
}
