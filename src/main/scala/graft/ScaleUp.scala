package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** sf-multiplier for the EMPIRICAL scale validation (BENCH_sf1): replicates
  * the driver's sf0.1 corpus `factor`× into a new directory, preserving the
  * join graph and data shapes so every query still makes sense:
  *
  *  - dims (region, nation, customer, supplier, part) copy through —
  *    lineitem/orders foreign keys into them stay valid, and at real scale
  *    dimension growth is sublinear anyway;
  *  - fact keys remap as key*factor+rep, applied to BOTH sides of every
  *    intra-fact join (l_orderkey ↔ o_orderkey), so join fan-outs scale
  *    linearly instead of quadratically;
  *  - document text gets a per-replica suffix token and embeddings a
  *    per-replica perturbation of one component, so dedup/ANN selectivity
  *    scales instead of collapsing into factor-sized duplicate groups
  *    (x05 would otherwise report every row a dup — a different workload);
  *  - events keep their timestamps (densification, the realistic growth
  *    mode for a fixed observation window).
  *
  * Two replica modes:
  *  - `neardup` (default): suffix-perturbed text / one-component-nudged
  *    embeddings — replicas REMAIN near-duplicates of their original, so
  *    duplicate density grows with the factor (a worst-case stress for
  *    the pair-producing dedup operators: true pair count grows
  *    quadratically in the factor);
  *  - `distinct`: rep>0 text is deterministically token-shuffled (same
  *    vocabulary/length stats, no shared n-grams) and rep>0 embeddings
  *    are fresh hash-derived vectors — duplicate density stays CONSTANT,
  *    the realistic growth mode, so operator cost growth is attributable
  *    to data volume alone;
  *  - `dense`: `distinct` plus DENSITY-preserving event replication —
  *    `distinct` replicates events verbatim (same user, same timestamp),
  *    so per-user and per-instant densities grow with the factor and any
  *    per-user/per-timestamp pair producer (attribution, sessionization,
  *    interval joins) measures corpus construction, not its plan. Here
  *    rep>0 events remap the user (users grow ×factor, events-per-user
  *    constant — how a real bigger product grows) and jitter the
  *    timestamp ±30 min (deterministic hash offset, clamped inside the
  *    observation span so day spines / window specs stay valid). Growth
  *    stamps for pair producers should be read off THIS mode.
  *
  * Usage: ScaleUp <srcSfDir> <dstDir> [factor=10] [neardup|distinct|dense].
  * The artifact consumer is `Bench` with SPARK_GRAFT_SF_DIR=<dstDir>.
  */
object ScaleUp {

  private def reps(spark: SparkSession, factor: Int) = {
    val col = explode(array((0 until factor).map(lit): _*)).as("rep")
    (df: DataFrame) => df.withColumn("rep", col)
  }

  def main(args: Array[String]): Unit = {
    val src = args(0)
    val dst = args(1)
    val factor = if (args.length > 2) args(2).toInt else 10
    val mode = if (args.length > 3) args(3) else "neardup"
    require(Seq("neardup", "distinct", "dense").contains(mode),
      s"unknown mode $mode")
    val distinct = mode != "neardup"
    val dense = mode == "dense"
    val spark = graft.engine.GraftSession()
    val rep = reps(spark, factor)
    def read(t: String) = spark.read.parquet(s"$src/$t.parquet")
    def write(df: DataFrame, t: String): Unit =
      df.write.mode("overwrite").parquet(s"$dst/$t.parquet")

    for (t <- Seq("region", "nation", "customer", "supplier", "part"))
      write(read(t), t)

    write(rep(read("orders"))
      .withColumn("o_orderkey", col("o_orderkey") * factor + col("rep"))
      .drop("rep"), "orders")
    write(rep(read("lineitem"))
      .withColumn("l_orderkey", col("l_orderkey") * factor + col("rep"))
      .drop("rep"), "lineitem")
    // dense mode: rep>0 events get a fresh user (per-user density
    // constant) and a ±30 min hash-jittered timestamp clamped inside the
    // observation span (per-instant density constant, day spine intact).
    // ts is normalized first (the source encoding varies by testdata
    // vintage — Tables.normalizeEventTs); loaders branch on the
    // observed type, so the rewritten TIMESTAMP column reads fine.
    if (!dense)
      write(rep(read("events"))
        .withColumn("event_id", col("event_id") * factor + col("rep"))
        .drop("rep"), "events")
    else {
      val ev0 = Tables.normalizeEventTs(read("events"))
      val spanBounds = ev0
        .agg(min(unix_micros(col("ts"))), max(unix_micros(col("ts"))))
        .collect().head
      val (tsLo, tsHi) = (spanBounds.getLong(0), spanBounds.getLong(1))
      val jittered = timestamp_micros(
        least(greatest(
          unix_micros(col("ts")) +
            (pmod(xxhash64(col("event_id"), col("rep"), lit("jit")),
              lit(3600000000L)) - 1800000000L),
          lit(tsLo)), lit(tsHi)))
      write(rep(ev0)
        .withColumn("event_id", col("event_id") * factor + col("rep"))
        // remap rep=0 too: a conditional remap would collide replica ids
        // with small original ids (u*factor+rep ≤ max original id),
        // merging those replicas into existing users and inflating their
        // density; the unconditional remap is a bijection per rep
        .withColumn("user_id", col("user_id") * factor + col("rep"))
        .withColumn("ts",
          when(col("rep") === 0, col("ts")).otherwise(jittered))
        .drop("rep"), "events")
    }
    // distinct mode: every token gets a replica-id suffix — the token
    // MULTISET changes (vocabulary scales with the factor, as a real
    // bigger crawl's does), so replicas share nothing with their
    // original under ANY fingerprint, including order-invariant
    // bag-of-words ones (simhash): a token SHUFFLE preserves the
    // multiset and therefore the exact simhash — measured: x08 stayed
    // 38× on a shuffled corpus because replicas still formed signature
    // cliques. Token counts, lengths, and per-doc structure carry over.
    val shuffledText = concat_ws(" ",
      transform(
        filter(split(col("text"), "\\s+"), t => length(t) > 0),
        t => concat(t, lit("r"), col("rep"))))
    write(rep(read("documents"))
      .withColumn("doc_id", col("doc_id") * factor + col("rep"))
      .withColumn("text",
        when(col("rep") === 0, col("text"))
          .otherwise(if (distinct) shuffledText
            else concat(col("text"), lit(" zrep"), col("rep"))))
      .withColumn("n_chars", length(col("text")))
      .drop("rep"), "documents")
    // distinct mode: rep>0 embeddings are fresh hash-derived vectors in
    // [-1, 1) — same distribution family as the synthetic corpus, zero
    // similarity to the original
    def hashComponent(i: org.apache.spark.sql.Column) =
      ((xxhash64(col("vec_id"), col("rep"), i) % 100000L).cast("double")
        / 50000.0).cast("float")
    write(rep(read("embeddings"))
      .withColumn("vec_id", col("vec_id") * factor + col("rep"))
      .withColumn("embedding",
        transform(col("embedding"), (x, i) =>
          when(col("rep") === 0, x)
            .otherwise(if (distinct) hashComponent(i)
              else when(i === 0, x + col("rep").cast("float") * lit(0.001f))
                .otherwise(x))))
      .drop("rep"), "embeddings")

    println(s"scaled $src -> $dst x$factor")
    spark.stop()
  }
}
