package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions.dot

/** Approximate-nearest-neighbor search over an embedding column
  * (SURVEY.md §2.C): brute-force cosine top-k as the exact baseline, and a
  * random-hyperplane LSH bucketed variant as the scale path.
  *
  * Scale story: brute force is O(|queries| × |items|) with the item side
  * streamed (queries broadcast) — right answer for ≤10⁴ queries over any
  * item count, since it's one scan, no shuffle, all codegen. The LSH
  * variant buckets items once (O(n) + one shuffle on the signature),
  * then probes only matching buckets — the candidate set per query drops
  * from n to n/2^bits on random data, at a recall cost governed by
  * `planes` and `probes` (multi-probe: also search buckets at Hamming
  * distance 1 from the query signature).
  */
object Similarity {

  def cosine(a: Column, b: Column): Column = Dedup.cosine(a, b)

  /** Exact top-k neighbors per query vector. `queries` must be small (it is
    * broadcast); items of any size. Ranking: cosine desc, then item id — a
    * total order, so pagination/repeats are deterministic.
    */
  def bruteForceTopK(items: DataFrame, itemId: String, itemVec: String,
      queries: DataFrame, queryId: String, queryVec: String, k: Int): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(items.sparkSession)
    // norms once per row; cos = dot/(norm_i*norm_q) — same double math as
    // dot/(sqrt(dot_ii)*sqrt(dot_qq)) at a third of the per-pair flops
    val q = queries.select(col(queryId).as("query_id"), col(queryVec).as("qvec"),
      sqrt(dot(col(queryVec), col(queryVec))).as("qnorm"))
    // widen: the cross join's parallelism is the streamed item side's
    // partition count (see Dedup.widen)
    val it = Dedup.widen(items).select(col(itemId).as("item_id"), col(itemVec).as("ivec"),
      sqrt(dot(col(itemVec), col(itemVec))).as("inorm"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("item_id").asc)
    it.crossJoin(broadcast(q))
      .filter(col("item_id") =!= col("query_id")) // a vector is not its own neighbor
      .withColumn("cos", dot(col("ivec"), col("qvec")) / (col("inorm") * col("qnorm")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("item_id"), graft.functions.EngineMath.roundAway(col("cos"), 4).as("cos"))
  }

  /** Symmetric int8 scalar quantization of a double-array vector column:
    * scale = max|x| / 127 per vector; q_i = floor(x_i/scale + 0.5) clamped
    * to [-127, 127] (floor-based rounding — identical double math in every
    * engine, unlike BigDecimal-based round()). At 100 TB this is the 4-8×
    * storage/bandwidth cut for the ANN index; the cosine error it
    * introduces is measurable via `dequantize`.
    * Zero vectors quantize to zeros with scale 0.
    */
  def quantizeScale(vec: Column): Column =
    array_max(transform(vec, x => abs(x))) / lit(127.0)

  def quantize(vec: Column, scale: Column): Column =
    when(scale > 0,
      transform(vec, x =>
        greatest(lit(-127.0), least(lit(127.0), floor(x / scale + 0.5)))
          .cast("tinyint")))
      .otherwise(transform(vec, _ => lit(0).cast("tinyint")))

  def dequantize(qvec: Column, scale: Column): Column =
    transform(qvec, q => q.cast("double") * scale)

  /** Deterministic pseudo-random hyperplanes: component d of plane p is a
    * fixed function of (seed, p, d) via a splitmix64-style integer mix — no
    * RNG state, reproducible across runs/engines, generated driver-side
    * once. Distinct seeds give independent LSH tables.
    */
  def hyperplanes(planes: Int, dims: Int, seed: Long = 0L): Array[Array[Double]] = {
    def mix(z0: Long): Double = {
      var z = z0 + 0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z = z ^ (z >>> 31)
      // map to (-1, 1)
      (z.toDouble / Long.MaxValue.toDouble)
    }
    Array.tabulate(planes, dims)((p, d) =>
      mix(seed * 0x9e3779b97f4a7c15L + p.toLong * 131071L + d))
  }

  /** Sign-of-projection LSH signature (one integer, bit p = sign of the dot
    * product with plane p). Planes are inlined as literal arrays and the
    * dot products use the native graft_dot expression — the whole signature
    * is one codegen'd expression over the vector column (callers must have
    * GraftFunctions registered).
    */
  def lshSignature(vec: Column, planes: Array[Array[Double]]): Column =
    planes.zipWithIndex.map { case (plane, p) =>
      when(dot(vec, array(plane.map(lit): _*)) >= 0,
        shiftleft(lit(1L), p)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Bucketed ANN with `numTables` independent LSH tables: items are signed
    * once per table (index size ×L — the classic LSH trade); each query
    * probes, per table, its own bucket plus all buckets at Hamming distance
    * 1 (multi-probe). A true neighbor is missed only if it misses in EVERY
    * table, so recall improves geometrically in L while the candidate set
    * grows only linearly. Candidates are deduped across tables before the
    * exact-cosine ranking. Same output shape as bruteForceTopK.
    */
  /** (t, sig) struct array over all tables — the shared signature builder
    * (single source of truth for lshTopK and the staged bucket exports).
    */
  private def tableSigs(vec: Column, numPlanes: Int, dims: Int,
      numTables: Int): Column = {
    val tables = (0 until numTables)
      .map(t => hyperplanes(numPlanes, dims, seed = t.toLong))
    array(tables.zipWithIndex.map {
      case (planes, t) => struct(lit(t).as("t"), lshSignature(vec, planes).as("sig"))
    }: _*)
  }

  /** Multi-probe flip set: the zero flip (own bucket), each single bit,
    * and — at `radius` 2 — every two-bit flip. Radius 2 multiplies the
    * probed buckets per table (1+8 → 1+8+28 at 8 planes) and exists for
    * SMALL corpora, where 2^planes buckets are sparsely occupied and the
    * radius-1 probe set catches too few candidates (measured recall@10 at
    * 500 items: 0.44 radius 1 vs sf0.1's 0.58 — the small-corpus lag
    * round-8 advice flagged). See [[adaptiveProbeRadius]].
    */
  private def probeFlips(numPlanes: Int, radius: Int): Column = {
    require(radius == 1 || radius == 2,
      s"probeRadius must be 1 or 2, got $radius")
    val one = 0L +: (0 until numPlanes).map(p => 1L << p)
    val flips = if (radius == 1) one
      else one ++ (for {
        p <- 0 until numPlanes; q <- p + 1 until numPlanes
      } yield (1L << p) | (1L << q))
    array(flips.map(lit): _*)
  }

  /** The probe-radius policy, shared by x11 and the recall spec: radius 2
    * below `smallCorpus` items, else 1. The threshold is an INDEX-side
    * property decided once at build time (items are counted anyway when
    * the index is written), not a per-query decision — at 100 TB the
    * item count is far past the threshold and this is always 1; the wide
    * radius exists so the same operator stays useful on the small
    * per-tenant/per-shard corpora where LSH tables run sparse.
    */
  def adaptiveProbeRadius(numItems: Long, smallCorpus: Long = 1000L): Int =
    if (numItems < smallCorpus) 2 else 1

  /** (id, t, sig): each item's LSH bucket per table — the write-once index
    * side at scale, and the staged hand-off the candidate-generation
    * oracle reads (the hyperplane signature is the engine-specific part;
    * the bucket join + ranking after it is plain relational algebra).
    */
  def lshItemBuckets(items: DataFrame, itemId: String, itemVec: String,
      numPlanes: Int = 8, dims: Int = 64, numTables: Int = 8): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(items.sparkSession)
    Dedup.widen(items).select(col(itemId).as("id"),
      explode(tableSigs(col(itemVec), numPlanes, dims, numTables)).as("ts"))
      .select(col("id"), col("ts.t").as("t"), col("ts.sig").as("sig"))
  }

  /** (id, t, sig): the buckets each query probes per table — own signature
    * plus all Hamming-distance-1 flips (multi-probe).
    */
  def lshProbeBuckets(queries: DataFrame, queryId: String, queryVec: String,
      numPlanes: Int = 8, dims: Int = 64, numTables: Int = 8,
      probeRadius: Int = 1): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(queries.sparkSession)
    queries.select(col(queryId).as("id"),
      explode(tableSigs(col(queryVec), numPlanes, dims, numTables)).as("ts"))
      .select(col("id"), col("ts.t").as("t"),
        explode(transform(probeFlips(numPlanes, probeRadius),
          f => col("ts.sig").bitwiseXOR(f))).as("sig"))
  }

  def lshTopK(items: DataFrame, itemId: String, itemVec: String,
      queries: DataFrame, queryId: String, queryVec: String, k: Int,
      numPlanes: Int = 8, dims: Int = 64, numTables: Int = 8,
      probeRadius: Int = 1): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(items.sparkSession)
    def sigs(vec: Column): Column = tableSigs(vec, numPlanes, dims, numTables)
    val it = Dedup.widen(items).select(col(itemId).as("item_id"), col(itemVec).as("ivec"),
      sqrt(dot(col(itemVec), col(itemVec))).as("inorm"),
      explode(sigs(col(itemVec))).as("ts"))
      .select(col("item_id"), col("ivec"), col("inorm"),
        col("ts.t").as("t"), col("ts.sig").as("sig"))
    // multi-probe: per table, the signature ± each single bit flip
    val q = queries.select(col(queryId).as("query_id"), col(queryVec).as("qvec"),
      sqrt(dot(col(queryVec), col(queryVec))).as("qnorm"),
      explode(sigs(col(queryVec))).as("ts"))
      .select(col("query_id"), col("qvec"), col("qnorm"), col("ts.t").as("t"),
        explode(transform(probeFlips(numPlanes, probeRadius),
          f => col("ts.sig").bitwiseXOR(f))).as("sig"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("item_id").asc)
    it.join(broadcast(q), Seq("t", "sig")) // shuffle-free: probe side broadcast
      .filter(col("item_id") =!= col("query_id"))
      .select(col("query_id"), col("item_id"),
        (dot(col("ivec"), col("qvec")) / (col("inorm") * col("qnorm"))).as("cos"))
      .distinct() // a pair found in several tables/probes ranks once
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("item_id"), graft.functions.EngineMath.roundAway(col("cos"), 4).as("cos"))
  }
}
