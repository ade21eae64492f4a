package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Ivf, Pq, Similarity}

/** One-shot ANN recall measurement against an arbitrary corpus directory —
  * the AnnRecallSpec matrix for corpora outside the spec's fixed sf list
  * (e.g. a ScaleUp-generated sf1). Prints one line per method:
  * `recall <method> <recall@10>`.
  */
object RecallCli {

  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val spark = graft.engine.GraftSession()

    def topkSet(df: DataFrame): Set[(Long, Long)] =
      df.select(col("query_id").cast("long"), col("item_id").cast("long"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    val e = Tables.table(spark, dir, "embeddings")
      .withColumn("vec", transform(col("embedding"), x => x.cast("double")))
    val q = e.filter(col("vec_id") < 5)
    val brute = topkSet(Similarity.bruteForceTopK(
      e, "vec_id", "vec", q, "vec_id", "vec", k = 10))
    val centroids = Ivf.fit(e, "vec", k = 8, maxIter = 5)
    val cb = Pq.fit(e, "vec", dim = 64, m = 4, ksub = 16, maxIter = 5)
    val codes = graft.engine.CacheScope.persistTracked(
      Pq.encode(e, "vec_id", "vec", cb, dim = 64, m = 4))
    val cand = Ivf.assign(e, "vec_id", "vec", centroids)
      .join(Ivf.assignProbes(q, "vec_id", "vec", centroids, nProbe = 3)
        .select(col("query_id"), col("centroid_id")), Seq("centroid_id"))
      .select(col("query_id"), col("id"))
    def recallOf(approx: DataFrame): Double =
      (topkSet(approx) & brute).size.toDouble / brute.size
    val rows = Seq(
      "LSH (x11)" -> recallOf(
        Similarity.lshTopK(e, "vec_id", "vec", q, "vec_id", "vec", k = 10)),
      "IVF (x13)" -> recallOf(
        Ivf.topK(e, "vec_id", "vec", q, "vec_id", "vec", k = 10,
          centroids, nProbe = 3)),
      "PQ+rerank (x51)" -> recallOf(
        Pq.topKRerank(codes, cb, e, "vec_id", "vec", q, "vec_id", "vec",
          k = 10, dim = 64, m = 4)),
      "IVFxPQ+rerank (x52)" -> recallOf(
        Pq.topKWithinRerank(cand, codes, cb, e, "vec_id", "vec",
          q, "vec_id", "vec", k = 10, dim = 64, m = 4)))
    rows.foreach { case (m, r) =>
      println(f"recall $m%-20s $r%.2f")
    }
    graft.engine.CacheScope.drain()
    spark.stop()
  }
}
