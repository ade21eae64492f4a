package graft.operators

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions.dot

/** IVF (inverted-file) approximate-nearest-neighbor index — the clustered
  * scale path for similarity search (SURVEY.md §2.C), complementing the
  * hyperplane-LSH variant in [[Similarity]]:
  *
  *  1. `fit`: k-means centroids over (a sample of) the corpus — Spark ML's
  *     distributed KMeans, deterministic under a fixed seed.
  *  2. `assign`: every item → its nearest centroid. A broadcast of the K
  *     centroids + one codegen'd argmin pass over the items; NO shuffle of
  *     the item side. At 100 TB you'd follow with
  *     `.write.partitionBy("centroid_id")` so probes prune partitions.
  *  3. `topK`: each query probes its `nProbe` nearest centroids and
  *     brute-forces only those buckets — candidates drop from n to
  *     ~n·nProbe/K while recall stays high (neighbors share centroids far
  *     more reliably than they share random hyperplane signs).
  *
  * Distance algebra: argmin ||x−c||² = argmin (||c||² − 2·x·c) — item norms
  * are constant per item and drop out; centroid norms are precomputed, so
  * the per-(item, centroid) work is one dot product via the native
  * `graft_dot` expression.
  */
object Ivf {

  /** K centroids of the vector column as (centroid_id, cvec) — small enough
    * to broadcast (K ≤ a few thousand). Fit on a sample at scale; passing
    * the full corpus is fine for ≤10⁷ rows (Spark ML KMeans is distributed).
    */
  def fit(items: DataFrame, vecCol: String, k: Int, maxIter: Int = 10,
      seed: Long = 42L): DataFrame = {
    val spark = items.sparkSession
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val model = new KMeans().setK(k).setMaxIter(maxIter).setSeed(seed)
      .setFeaturesCol("__features")
      .fit(items.select(array_to_vector(col(vecCol).cast("array<double>"))
        .as("__features")))
    import spark.implicits._
    model.clusterCenters.zipWithIndex.toSeq
      .map { case (v, i) => (i.toLong, v.toArray) }
      .toDF("centroid_id", "cvec")
  }

  /** (id, centroid_id): nearest centroid per row of `df`. One broadcast
    * nested-loop over K centroids + a window argmin per id — the item side
    * is never shuffled on data, only on its own id for the argmin (and at
    * K≤1000s the per-row cost is K codegen'd dot products).
    */
  def assign(df: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(df.sparkSession)
    val c = centroids.select(col("centroid_id"), col("cvec"),
      dot(col("cvec"), col("cvec")).as("cnorm2"))
    val scored = Dedup.widen(df).select(col(idCol).as("id"), col(vecCol).as("vec"))
      .crossJoin(broadcast(c))
      // ||c||² − 2 x·c  (item norm constant per item — dropped)
      .withColumn("d2", col("cnorm2") - lit(2.0) * dot(col("vec"), col("cvec")))
    val w = Window.partitionBy(col("id"))
      .orderBy(col("d2").asc, col("centroid_id").asc)
    scored.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
      .select(col("id"), col("centroid_id"))
  }

  /** Top-k neighbors per query, probing `nProbe` nearest centroid buckets.
    * `queries` must be small (broadcast); items of any size. Output schema
    * matches `Similarity.bruteForceTopK` (query_id, rank, item_id, cos) —
    * rank is a total order (cos desc, item_id asc).
    */
  def topK(items: DataFrame, itemId: String, itemVec: String,
      queries: DataFrame, queryId: String, queryVec: String, k: Int,
      centroids: DataFrame, nProbe: Int = 2): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(items.sparkSession)
    // item side: bucket assignment + norm, one pass
    val assigned = assign(items, itemId, itemVec, centroids)
    val it = Dedup.widen(items)
      .select(col(itemId).as("item_id"), col(itemVec).as("ivec"),
        sqrt(dot(col(itemVec), col(itemVec))).as("inorm"))
      .join(assigned, col("item_id") === col("id")).drop("id")
    // query side: nProbe nearest centroids each (tiny: |queries| × K)
    val qprobes = assignProbes(queries, queryId, queryVec, centroids, nProbe)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("item_id").asc)
    it.join(broadcast(qprobes), Seq("centroid_id"))
      .filter(col("item_id") =!= col("query_id"))
      .withColumn("cos", dot(col("ivec"), col("qvec")) / (col("inorm") * col("qnorm")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("item_id"), graft.functions.EngineMath.roundAway(col("cos"), 4).as("cos"))
  }

  /** (query_id, qvec, qnorm, centroid_id) × nProbe rows per query. Public:
    * the (query_id, centroid_id) projection is the staged hand-off the
    * candidate-generation oracle reads (centroids are the engine-specific
    * part; bucket probing + ranking after it is plain relational algebra).
    */
  def assignProbes(queries: DataFrame, queryId: String, queryVec: String,
      centroids: DataFrame, nProbe: Int): DataFrame = {
    val c = centroids.select(col("centroid_id"), col("cvec"),
      dot(col("cvec"), col("cvec")).as("cnorm2"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("d2").asc, col("centroid_id").asc)
    queries.select(col(queryId).as("query_id"), col(queryVec).as("qvec"),
        sqrt(dot(col(queryVec), col(queryVec))).as("qnorm"))
      .crossJoin(broadcast(c))
      .withColumn("d2", col("cnorm2") - lit(2.0) * dot(col("qvec"), col("cvec")))
      .withColumn("__rn", row_number().over(w)).filter(col("__rn") <= nProbe)
      .select(col("query_id"), col("qvec"), col("qnorm"), col("centroid_id"))
  }
}
