package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Recall-vs-latency frontier for every ANN family (SURVEY.md §2.C) —
  * the parameter sweep that makes the retrieval quality of each
  * speed/memory trade a MEASURED, committed artifact instead of a fixed
  * production point. Since r14 the recall-targeted parameters ARE the
  * production points the gated x11/x13/x51/x52 queries run (each ≥0.84
  * recall@10, AnnRecallSpec-floored at 0.8); the pre-r14 points stay in
  * the sweep as the cheaper low-recall references so the cost of the
  * recall is itself a committed number:
  *
  *  - LSH: more tables = more independent chances for a neighbor to
  *    share a bucket (recall 1−(1−p^planes)^tables); cost is linear in
  *    tables on BOTH index size and probe fan-out.
  *  - IVF: K scaled with the corpus ([[SemDedup.scaledK]], the x54
  *    device) and nProbe swept — cost is the probed fraction nProbe/K of
  *    the corpus per query.
  *  - PQ re-rank: the candidate pool C = k·candMult bounds recall (a
  *    true neighbor outside the ADC top-C is unrecoverable); C is
  *    independent of corpus size, so raising it is cheap at scale.
  *    Finer codebooks (m=8: 8 sub-quantizers over 64 dims) halve the
  *    compression to 8 bytes/vec and sharpen the ADC ordering itself.
  *
  * Timings here are steady-state (second run of each config) on the
  * calling session — comparable within a sweep, not across machines.
  */
object AnnFrontier {

  final case class Row(family: String, params: String, recall: Double,
      seconds: Double, targeted: Boolean)

  /** The sweep: measured recall@10 vs the exact brute-force top-10 plus
    * steady-state seconds per config. `targeted` marks the rows the
    * AnnRecallSpec floors at ≥0.8.
    */
  def sweep(spark: SparkSession, dir: String): Seq[Row] = {
    val e = graft.Tables.table(spark, dir, "embeddings")
      .withColumn("vec", transform(col("embedding"), x => x.cast("double")))
    val n = e.count()
    val q = e.filter(col("vec_id") < 5)
    def pairs(df: DataFrame): Set[(Long, Long)] =
      df.select(col("query_id").cast("long"), col("item_id").cast("long"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = pairs(Similarity.bruteForceTopK(
      e, "vec_id", "vec", q, "vec_id", "vec", k = 10))

    val kScaled = SemDedup.scaledK(n)
    val cent8 = Ivf.fit(e, "vec", k = 8, maxIter = 5)
    val centS = Ivf.fit(e, "vec", k = kScaled, maxIter = 5)
    val cb4 = Pq.fit(e, "vec", dim = 64, m = 4, ksub = 16, maxIter = 5)
    val cb8 = Pq.fit(e, "vec", dim = 64, m = 8, ksub = 16, maxIter = 5)
    val codes4 = graft.engine.CacheScope.persistTracked(
      Pq.encode(e, "vec_id", "vec", cb4, dim = 64, m = 4))
    val codes8 = graft.engine.CacheScope.persistTracked(
      Pq.encode(e, "vec_id", "vec", cb8, dim = 64, m = 8))
    def cand(centroids: DataFrame, nProbe: Int): DataFrame =
      Ivf.assign(e, "vec_id", "vec", centroids)
        .join(Ivf.assignProbes(q, "vec_id", "vec", centroids, nProbe)
          .select(col("query_id"), col("centroid_id")), Seq("centroid_id"))
        .select(col("query_id"), col("id"))

    val radius = Similarity.adaptiveProbeRadius(n)
    val configs: Seq[(String, String, Boolean, () => DataFrame)] = Seq(
      ("LSH", s"planes=8 tables=8 r=$radius (pre-r14 x11)", false, () =>
        Similarity.lshTopK(e, "vec_id", "vec", q, "vec_id", "vec", k = 10,
          probeRadius = radius)),
      ("LSH", s"planes=6 tables=16 r=$radius (x11 production)", true, () =>
        Similarity.lshTopK(e, "vec_id", "vec", q, "vec_id", "vec", k = 10,
          numPlanes = 6, numTables = 16, probeRadius = radius)),
      ("LSH", s"planes=6 tables=32 r=$radius", false, () =>
        Similarity.lshTopK(e, "vec_id", "vec", q, "vec_id", "vec", k = 10,
          numPlanes = 6, numTables = 32, probeRadius = radius)),
      ("IVF", "K=8 nProbe=3 (pre-r14 x13)", false, () =>
        Ivf.topK(e, "vec_id", "vec", q, "vec_id", "vec", k = 10,
          cent8, nProbe = 3)),
      ("IVF", s"K=$kScaled nProbe=${kScaled / 4}", false, () =>
        Ivf.topK(e, "vec_id", "vec", q, "vec_id", "vec", k = 10,
          centS, nProbe = math.max(2, kScaled / 4))),
      ("IVF", s"K=$kScaled nProbe=${kScaled / 2} (x13 production)", true,
        () =>
          Ivf.topK(e, "vec_id", "vec", q, "vec_id", "vec", k = 10,
            centS, nProbe = math.max(4, kScaled / 2))),
      ("PQ ADC-only", "m=4 (compressed domain)", false, () =>
        Pq.topK(codes4, cb4, q, "vec_id", "vec", k = 10, dim = 64, m = 4)),
      ("IVF×PQ ADC-only", "K=8 nProbe=3 m=4", false, () =>
        Pq.topKWithin(cand(cent8, 3), codes4, cb4, q, "vec_id", "vec",
          k = 10, dim = 64, m = 4)),
      ("PQ+rerank", "m=4 C=300 (pre-r14 x51)", false, () =>
        Pq.topKRerank(codes4, cb4, e, "vec_id", "vec", q, "vec_id", "vec",
          k = 10, dim = 64, m = 4)),
      ("PQ+rerank", "m=8 C=1000 (x51 production)", true, () =>
        Pq.topKRerank(codes8, cb8, e, "vec_id", "vec", q, "vec_id", "vec",
          k = 10, dim = 64, m = 8, candMult = 100)),
      ("IVF×PQ+rerank", "K=8 nProbe=3 m=4 C=300 (pre-r14 x52)", false, () =>
        Pq.topKWithinRerank(cand(cent8, 3), codes4, cb4, e, "vec_id", "vec",
          q, "vec_id", "vec", k = 10, dim = 64, m = 4)),
      ("IVF×PQ+rerank",
        s"K=$kScaled nProbe=${kScaled / 2} m=8 C=1000 (x52 production)",
        true, () =>
          Pq.topKWithinRerank(cand(centS, math.max(4, kScaled / 2)), codes8,
            cb8, e, "vec_id", "vec", q, "vec_id", "vec", k = 10, dim = 64,
            m = 8, candMult = 100)))

    val rows = configs.map { case (family, params, targeted, build) =>
      val r1 = pairs(build()) // cold: plan + codegen
      val t0 = System.nanoTime()
      val r2 = pairs(build())
      val sec = (System.nanoTime() - t0) / 1e9
      require(r1 == r2, s"$family $params nondeterministic")
      Row(family, params, (r2 & brute).size.toDouble / brute.size, sec,
        targeted)
    }
    graft.engine.CacheScope.drain()
    rows
  }

  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val spark = graft.engine.GraftSession()
    sweep(spark, dir).foreach(r =>
      println(f"${r.family}%-14s ${r.params}%-34s recall@10=${r.recall}%.2f " +
        f"${r.seconds}%.2fs${if (r.targeted) "  [targeted]" else ""}"))
    spark.stop()
  }
}
