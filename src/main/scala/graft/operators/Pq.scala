package graft.operators

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions.dot

/** Product quantization (Jégou et al., TPAMI 2011) — the memory-bounded
  * ANN path that complements [[Ivf]] (SURVEY.md §2.C): split the vector
  * space into `m` subspaces, k-means each subspace independently
  * (`ksub` centroids), and store every item as `m` small integer codes.
  * A 64-dim float vector (256 B) compresses to m=4 codes (4 B at
  * ksub ≤ 256) — the difference between an index that fits executor
  * memory at 10⁹ vectors and one that doesn't.
  *
  * Query scoring is ADC (asymmetric distance computation): per query,
  * precompute the (m × ksub) table of sub-distances query↔centroid —
  * tiny, broadcast — then an item's approximate distance is the sum of
  * m table lookups keyed by its codes. The item side streams through a
  * broadcast join + map-side-combining aggregation: no item shuffle
  * beyond one combined row per (query, item).
  *
  * FP determinism (oracle contract): every float reduction folds
  * SEQUENTIALLY in a defined order — sub-distances over dimension order
  * (`zip_with` + `aggregate`), item scores over subspace order
  * (sort_array + `aggregate`) — the same IEEE adds in the same sequence
  * DuckDB's `list_reduce` performs, so scores compare bit-exactly and
  * ranks cannot flip between engines.
  */
object Pq {

  /** Per-subspace codebooks: (sub, centroid_id, cvec). `dim` must divide
    * into `m` equal slices. Fit is m independent (distributed) k-means
    * runs — at scale, on a sample; the codebook is m·ksub rows, always
    * broadcastable.
    */
  def fit(items: DataFrame, vecCol: String, dim: Int, m: Int, ksub: Int,
      maxIter: Int = 10, seed: Long = 42L): DataFrame = {
    require(dim % m == 0, s"dim $dim must split into m=$m equal subspaces")
    val d = dim / m
    val spark = items.sparkSession
    import spark.implicits._
    // the m fits are independent — run them as CONCURRENT Spark jobs
    // (driver threads; the scheduler interleaves their stages) instead of
    // serially paying m × fit latency
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    val fits = (0 until m).map { sub => Future {
      val model = new KMeans().setK(ksub).setMaxIter(maxIter)
        .setSeed(seed + sub).setFeaturesCol("__features")
        .fit(items.select(array_to_vector(
          slice(col(vecCol), sub * d + 1, d).cast("array<double>"))
          .as("__features")))
      model.clusterCenters.zipWithIndex.toSeq
        .map { case (v, i) => (sub, i.toLong, v.toArray) }
        .toDF("sub", "centroid_id", "cvec")
    } }
    Await.result(Future.sequence(fits), Duration.Inf).reduce(_.unionByName(_))
  }

  /** Encode every item as its per-subspace nearest-centroid codes,
    * EXPLODED as (id, sub, code) — the stageable/partitionable layout; a
    * serving index would pivot to one code array per item. Argmin via
    * ||s−c||² ∝ ||c||² − 2 s·c (item sub-norm constant per (id, sub));
    * ties break on centroid_id. No item shuffle except the per-(id, sub)
    * argmin window's own key.
    */
  def encode(items: DataFrame, idCol: String, vecCol: String,
      codebooks: DataFrame, dim: Int, m: Int): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(items.sparkSession)
    val d = dim / m
    val sliced = Dedup.widen(items).select(col(idCol).as("id"),
      posexplode(array((0 until m).map(s =>
        slice(col(vecCol), s * d + 1, d).cast("array<double>")): _*))
        .as(Seq("sub", "svec")))
    val cb = codebooks.select(col("sub"), col("centroid_id"), col("cvec"),
      dot(col("cvec"), col("cvec")).as("cnorm2"))
    val w = Window.partitionBy(col("id"), col("sub"))
      .orderBy(col("d2").asc, col("centroid_id").asc)
    sliced.join(broadcast(cb), Seq("sub"))
      .withColumn("d2", col("cnorm2") - lit(2.0) * dot(col("svec"), col("cvec")))
      .withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
      .select(col("id"), col("sub"), col("centroid_id").as("code"))
  }

  /** Sequential squared-distance fold over one subspace pair — dimension
    * order, engine-portable.
    */
  private def subDist2(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0.0d), (acc, v) => acc + v)

  /** ADC top-k: approximate distance = Σ_sub table[(sub, code)], table =
    * per-query sub-distances to every centroid ((queries × m × ksub)
    * rows — broadcast). Output (query_id, rank, item_id, ad2); rank is a
    * total order (ad2 asc, item_id asc). `codes` is the exploded
    * [[encode]] output.
    */
  private def qpartsOf(codebooks: DataFrame, queries: DataFrame,
      queryId: String, queryVec: String, dim: Int, m: Int): DataFrame = {
    val d = dim / m
    Dedup.widen(queries)
      .select(col(queryId).as("query_id"), col(queryVec).as("qv"))
      .crossJoin(broadcast(codebooks))
      .select(col("query_id"), col("sub"), col("centroid_id"),
        subDist2(slice(col("qv"), col("sub") * d + 1, lit(d)).cast("array<double>"),
          col("cvec")).as("d2p"))
  }

  private def rankPairs(scored: DataFrame, k: Int): DataFrame = {
    val perPair = scored
      .groupBy(col("query_id"), col("id"))
      .agg(sort_array(collect_list(struct(col("sub"), col("d2p")))).as("ps"))
      .select(col("query_id"), col("id"),
        aggregate(transform(col("ps"), p => p("d2p")), lit(0.0d),
          (acc, v) => acc + v).as("ad2"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("ad2").asc, col("id").asc)
    perPair.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("id").as("item_id"), col("ad2"))
  }

  def topK(codes: DataFrame, codebooks: DataFrame,
      queries: DataFrame, queryId: String, queryVec: String,
      k: Int, dim: Int, m: Int): DataFrame = {
    val qparts = qpartsOf(codebooks, queries, queryId, queryVec, dim, m)
    val scored = codes.join(broadcast(qparts),
        codes("sub") === qparts("sub") &&
          codes("code") === qparts("centroid_id"))
      .select(col("query_id"), col("id"), codes("sub"), col("d2p"))
    rankPairs(scored, k)
  }

  /** IVF × PQ composition: ADC top-k restricted to each query's CANDIDATE
    * items (`cand`: one row per (query_id, id) — e.g. the items in the
    * query's probed [[Ivf]] buckets). At scale the candidate join is
    * partition pruning over a centroid-partitioned code layout: the scan
    * itself shrinks to the probed buckets, and PQ keeps what's scanned
    * memory-resident — the standard coarse+fine billion-vector index.
    */
  def topKWithin(cand: DataFrame, codes: DataFrame, codebooks: DataFrame,
      queries: DataFrame, queryId: String, queryVec: String,
      k: Int, dim: Int, m: Int): DataFrame = {
    val qparts = qpartsOf(codebooks, queries, queryId, queryVec, dim, m)
    val pairs = cand.select(col("query_id"), col("id")).join(codes, Seq("id"))
    val scored = pairs.join(broadcast(qparts),
        pairs("query_id") === qparts("query_id") &&
          pairs("sub") === qparts("sub") &&
          pairs("code") === qparts("centroid_id"))
      .select(pairs("query_id"), col("id"), pairs("sub"), col("d2p"))
    rankPairs(scored, k)
  }

  /** Exact re-rank of an ADC candidate ranking (the IVFADC+R refinement,
    * Jégou et al. TPAMI 2011 §V-D): compressed-domain distances order
    * candidates only as well as the reconstruction error allows, so the
    * shippable shape is ADC top-C (C = candMult·k, default 30·k — sized so the pool covers the true top-k even at the weak ADC-rank correlation near-random embeddings give) followed by exact
    * re-scoring of just those C candidates per query against the ORIGINAL
    * vectors. Extra cost is O(|Q|·C·dim) — independent of corpus size —
    * and the (query, candidate, query-vector) table broadcasts into the
    * item-vector scan, so the corpus side still never shuffles. `d2` is
    * the exact sequential-fold squared distance (dimension order, the
    * same IEEE adds DuckDB's list_reduce performs).
    */
  def rerank(adcTopC: DataFrame, items: DataFrame, itemId: String,
      itemVec: String, queries: DataFrame, queryId: String,
      queryVec: String, k: Int): DataFrame = {
    val qv = Dedup.widen(queries).select(col(queryId).as("query_id"),
      col(queryVec).cast("array<double>").as("qv"))
    val candQ = adcTopC.select(col("query_id"), col("item_id"))
      .join(qv, Seq("query_id"))
    val iv = Dedup.widen(items).select(col(itemId).as("item_id"),
      col(itemVec).cast("array<double>").as("iv"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("d2").asc, col("item_id").asc)
    iv.join(broadcast(candQ), Seq("item_id"))
      .withColumn("d2", subDist2(col("qv"), col("iv")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("item_id"), col("d2"))
  }

  /** [[topK]] + [[rerank]]: ADC recalls the candidate pool, exact
    * distances pick the final k.
    */
  def topKRerank(codes: DataFrame, codebooks: DataFrame,
      items: DataFrame, itemId: String, itemVec: String,
      queries: DataFrame, queryId: String, queryVec: String,
      k: Int, dim: Int, m: Int, candMult: Int = 30): DataFrame =
    rerank(topK(codes, codebooks, queries, queryId, queryVec,
        k * candMult, dim, m),
      items, itemId, itemVec, queries, queryId, queryVec, k)

  /** [[topKWithin]] + [[rerank]] — the full coarse(IVF) × fine(ADC) ×
    * exact(re-rank) pipeline.
    */
  def topKWithinRerank(cand: DataFrame, codes: DataFrame,
      codebooks: DataFrame, items: DataFrame, itemId: String,
      itemVec: String, queries: DataFrame, queryId: String,
      queryVec: String, k: Int, dim: Int, m: Int,
      candMult: Int = 30): DataFrame =
    rerank(topKWithin(cand, codes, codebooks, queries, queryId, queryVec,
        k * candMult, dim, m),
      items, itemId, itemVec, queries, queryId, queryVec, k)
}
