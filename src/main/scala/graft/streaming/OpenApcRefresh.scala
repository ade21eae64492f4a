package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.etl.{CubeBuilder, OpenApcSchemas}

/** Incremental refresh of the SERVED openapc cube — the Structured-Streaming
  * replacement for the reference's full drop/recreate rebuild cycle
  * (update_olap.sh:12-16 reruns the whole `tables` job and re-inserts every
  * row, assets_generator.py:566-585): new apc CSV files dropped into a
  * watched directory are folded into the period-partitioned cube parquet,
  * touching ONLY the period partitions the new rows land in.
  *
  * Mechanics per micro-batch (`foreachBatch` over the file stream):
  *  1. strict-mode validation (unknown institutions abort the batch, the
  *     reference's assets_generator.py:487-492 contract);
  *  2. the batch runs the SAME enrichment lineage as the full build
  *     (CubeBuilder.openApcRows — B5/B6/B8), tagged with the batch id;
  *  3. ONLY the affected period partitions of the existing cube are read
  *     back (partition pruning — untouched history is never rewritten),
  *     merged, and dynamically overwritten.
  *
  * Steps 1–2 are this object's own; the stream runs on the shared
  * AvailableNow runner and step 3 is the shared replay-guarded merge
  * (StreamOps.runBatches / StreamOps.mergePartitions).
  *
  * At 100 TB this is the difference between an O(history) rebuild and an
  * O(new files + touched partitions) upsert: a monthly data drop touches
  * this year's partitions, not a decade of history.
  *
  * Exactly-once: the streaming checkpoint gives at-least-once foreachBatch
  * delivery; rows carry their `_batch_id`, and a replayed batch first drops
  * its own previous rows from the affected partitions before re-merging, so
  * a crash between the partition overwrite and the checkpoint commit cannot
  * double-count (same scheme as StreamOps.mergeCubeBatch, here at fact-row
  * granularity). Base-build rows (written without the column) read as
  * batch −1 and are always kept. The serving path strips `_batch_id`
  * (OpenApcMain.readCube), so the HTTP surface and e2e goldens see the
  * reference schema.
  */
object OpenApcRefresh {

  /** Replay-guard column stored in refreshed partitions (never served). */
  val batchCol = "_batch_id"

  /** One idempotent micro-batch merge. Public so the replay path is
    * directly testable: calling this twice with the same batchId must
    * leave the cube unchanged.
    */
  def mergeApcBatch(batch: DataFrame, batchId: Long, lookup: DataFrame,
      cubePath: String): Unit = {
    val unknown = CubeBuilder.unknownInstitutions(Seq(batch), lookup)
      .collect().map(_.getString(0))
    if (unknown.nonEmpty) throw new IllegalStateException(
      s"institutions missing from institutions.csv: ${unknown.mkString(", ")}")
    // explicit schema: pins the period partition directory values to
    // string (OpenApcMain.readCube semantics) and resolves _batch_id to
    // null for base-build files that predate the column — kept as −1
    StreamOps.mergePartitions(
      CubeBuilder.openApcRows(batch, lookup).withColumn(batchCol, lit(batchId)),
      batchId, cubePath, partCol = "period", batchCol = batchCol,
      schema = Some(StructType(OpenApcSchemas.apc.fields.toSeq :+
        StructField(batchCol, LongType)))) {
      _.withColumn(batchCol, coalesce(col(batchCol), lit(-1L)))
    }
  }

  /** Drain every unprocessed CSV in `dropDir` into the cube (one file per
    * micro-batch), then return. The checkpoint remembers processed files
    * across invocations, so this is safe to run from a cron-ish loop — the
    * reference's update cadence — or with a processing-time trigger for a
    * long-lived watcher. Callers re-serving the cube should follow with
    * OpenApcMain.reload.
    */
  def incrementalRefresh(spark: SparkSession, dropDir: String,
      institutions: DataFrame, cubePath: String, checkpointDir: String): Unit = {
    val lookup = CubeBuilder.institutionLookup(institutions)
    val stringSchema = StructType(OpenApcSchemas.apcCsv.map(f =>
      StructField(f.name, StringType, f.nullable)))
    StreamOps.runBatches(spark.readStream.schema(stringSchema)
        .option("header", true)
        .option("maxFilesPerTrigger", 1)
        .csv(dropDir),
      Some(checkpointDir)) { (b, id) => mergeApcBatch(b, id, lookup, cubePath) }
  }
}
