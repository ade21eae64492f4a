package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions.dot

/** SemDeDup-style SEMANTIC deduplication (Abbas et al., "SemDeDup: Data-
  * efficient learning at web-scale through semantic deduplication",
  * arXiv:2303.09540): embedding-space near-duplicates found by clustering
  * first and comparing pairs only WITHIN a cluster.
  *
  * The shape is the published algorithm's, re-expressed as a Spark plan:
  *
  *  1. k-means centroids over the embedding column ([[Ivf.fit]] — the same
  *     fit the IVF ANN index uses; one clustering can serve both).
  *  2. every vector → nearest centroid ([[Ivf.assign]]: broadcast centroids,
  *     codegen'd argmin, NO shuffle of the vector side).
  *  3. cosine over pairs that share a centroid — a self-join keyed on
  *     `centroid_id`, so the quadratic blow-up is per-cluster (~(N/K)² per
  *     bucket, K·(N/K)² = N²/K total) instead of corpus-wide N². K MUST
  *     scale with the corpus ([[scaledK]]; SemDeDup uses K≈10⁵ for web
  *     scale) — at fixed K the scan is quadratic in N regardless of data.
  *     The join shuffles both sides once on `centroid_id`, and a skewed
  *     (over-dense) cluster caps via [[cappedAssignments]] /
  *     `maxClusterSize` — dropped LOUDLY via `Dataset.observe`, never
  *     silently.
  *
  * Cross-cluster near-duplicates are invisible by design — the published
  * trade-off (recall loss measured small at k-means granularity) that makes
  * the cost sub-quadratic. The exact oracle shape for small data is
  * [[Dedup.embeddingPairs]] (all-pairs); this operator is the scale path.
  */
object SemDedup {

  /** SemDeDup runs K ∝ N (Abbas et al. use K≈10⁵ at web scale): with a
    * FIXED K, within-cluster pair work is N²/K — quadratic in the corpus
    * no matter how the clusters fall. Scaling K so the EXPECTED cluster
    * size stays constant makes the pair scan N·target/2, linear in N.
    * `minK` keeps tiny corpora clusterable; `maxK` bounds the broadcast
    * centroid table (64k × dim doubles ≈ 32 MB at dim=64 — still a
    * broadcast; beyond that shard the fit).
    */
  def scaledK(n: Long, targetClusterSize: Long = 64, minK: Int = 8,
      maxK: Int = 65536): Int =
    math.min(maxK.toLong,
      math.max(minK.toLong, (n + targetClusterSize - 1) / targetClusterSize))
      .toInt

  /** The skew backstop that pairs with [[scaledK]]: even at K ∝ N an
    * over-dense region can own one giant cluster whose pair fan-out is a
    * quadratic straggler. Default = 8× the [[scaledK]] target — never
    * bites on balanced clusterings, caps the pathological ones.
    */
  val defaultClusterCap: Long = 512L

  /** Drop members of clusters larger than `cap` — LOUDLY: the cluster
    * size is computed in the same centroid_id exchange the downstream
    * pair self-join reuses, and a named `Dataset.observe` +
    * once-per-session listener ([[BucketCapMetrics]]'s device)
    * WARNs whenever the cap actually dropped rows. Stage THIS frame (not
    * the raw assignment) when an external oracle re-derives pairs, so
    * the oracle sees exactly the clusters the engine scanned.
    */
  def cappedAssignments(assignments: DataFrame, cap: Long): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("centroid_id"))
    BucketCapMetrics.observed(
        assignments.withColumn("__bn", count(lit(1)).over(w)),
        if (cap > Int.MaxValue) Int.MaxValue else cap.toInt)
      .filter(col("__bn") <= cap).drop("__bn")
  }

  /** (id, centroid_id) nearest-centroid assignment — [[Ivf.assign]] re-export
    * so callers can stage the engine-specific half for an external oracle.
    */
  def assign(items: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame): DataFrame =
    Ivf.assign(items, idCol, vecCol, centroids)

  /** Semantic near-duplicate pairs: vectors sharing a centroid with cosine
    * ≥ `threshold`. Output: (centroid_id, id_a, id_b, cos), id_a < id_b,
    * cos rounded to 4 places (comparison happens on the unrounded value).
    *
    * `assignments` is the (id, centroid_id) frame from [[assign]] — taken
    * as an input rather than computed inline so the caller can persist or
    * stage it (it feeds both self-join sides; an unpersisted double
    * reference would re-run the argmin twice).
    *
    * `maxClusterSize`: clusters larger than the cap are EXCLUDED from the
    * pair scan (the over-dense-cluster skew guard — one giant cluster would
    * otherwise own a quadratic straggler task). Callers can count exclusions
    * via [[oversizedClusters]].
    */
  def semanticPairs(items: DataFrame, idCol: String, vecCol: String,
      assignments: DataFrame, threshold: Double,
      maxClusterSize: Option[Long] = None): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(items.sparkSession)
    val assigned = capped(assignments, maxClusterSize)
    // persisted: v (vector scan + norms + assignment join) feeds BOTH
    // self-join sides — unpersisted it would be computed twice (the
    // overlapPairs precedent; tracked in CacheScope, runner drains)
    val v = graft.engine.CacheScope.persistTracked(
      items.select(col(idCol).as("id"), col(vecCol).as("vec"),
        sqrt(dot(col(vecCol), col(vecCol))).as("norm"))
      .join(assigned, Seq("id")))
    val a = v.select(col("centroid_id"), col("id").as("id_a"),
      col("vec").as("va"), col("norm").as("na"))
    val b = v.select(col("centroid_id"), col("id").as("id_b"),
      col("vec").as("vb"), col("norm").as("nb"))
    a.join(b, Seq("centroid_id"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cos", dot(col("va"), col("vb")) / (col("na") * col("nb")))
      .filter(col("cos") >= threshold)
      .select(col("centroid_id"), col("id_a"), col("id_b"),
        graft.functions.EngineMath.roundAway(col("cos"), 4).as("cos"))
  }

  /** Clusters whose member count exceeds `cap` (the loud side of the
    * `maxClusterSize` guard): (centroid_id, n_members).
    */
  def oversizedClusters(assignments: DataFrame, cap: Long): DataFrame =
    assignments.groupBy(col("centroid_id"))
      .agg(count(lit(1)).as("n_members"))
      .filter(col("n_members") > cap)

  private def capped(assignments: DataFrame, maxClusterSize: Option[Long]): DataFrame =
    maxClusterSize match {
      case None => assignments
      case Some(cap) =>
        val ok = assignments.groupBy("centroid_id")
          .agg(count(lit(1)).as("__sz")).filter(col("__sz") <= cap)
          .select("centroid_id")
        assignments.join(ok, Seq("centroid_id"))
    }
}
