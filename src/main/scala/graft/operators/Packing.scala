package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sequence packing — assign variable-length documents to fixed
  * token-budget training sequences (beyond-reference extension). Training
  * pipelines pack short documents together so a 4k-token context window is
  * not wasted on a 200-token document.
  *
  * A global greedy packer is inherently sequential (each decision depends
  * on every previous one), so it cannot scale past one task. This packer
  * uses the layout real pipelines use: documents are hash-SHARDED, each
  * shard packs independently in deterministic id order, and a sequence is
  * (shard, seq_id). The per-shard running token total comes from a window
  * partitioned BY SHARD — S parallel prefix sums, no global bottleneck;
  * shard count scales with the cluster, not the corpus.
  *
  * Assignment rule (start-based first-fit): a document belongs to the
  * sequence its first token lands in; a document longer than the remaining
  * budget spills over the boundary (training-side chunking — see
  * [[Chunking]] — is expected to bound document length at or below the
  * budget first). All arithmetic is integer, so results are engine-exact.
  */
object Packing {

  /** Pack each row into (shard, seq_id, start_offset): the sequence index
    * within its shard and the token offset at which the row's tokens start
    * inside that sequence. Input columns PASS THROUGH (so compositions —
    * chunks into sequences — never need a self-join back to their source,
    * which would reference the same subtree twice in one plan and trip the
    * cache-substitution miss documented on Browser.rolledFrame).
    * Deterministic given (idCol order, shards, budget); all integer
    * arithmetic — results are engine-exact.
    *
    * `shardExpr` overrides the shard key (default: xxhash64 of the id for
    * uniform load; a modulo key keeps the assignment portable to engines
    * without xxhash64, e.g. for oracle checks).
    */
  def packSequences(df: DataFrame, idCol: String, tokenCountCol: String,
      budget: Int, shards: Int,
      shardExpr: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    require(shards > 0, s"shards must be positive, got $shards")
    val shard = shardExpr
      .getOrElse(pmod(xxhash64(col(idCol)), lit(shards.toLong)))
      .cast("long")
    val w = Window.partitionBy(col("shard")).orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("shard", shard)
      .withColumn("__n", col(tokenCountCol).cast("long"))
      .withColumn("__cum", sum(col("__n")).over(w))
      .withColumn("seq_id",
        floor((col("__cum") - col("__n")) / budget).cast("long"))
      .withColumn("start_offset",
        pmod(col("__cum") - col("__n"), lit(budget.toLong)))
      .drop("__n", "__cum")
  }
}
