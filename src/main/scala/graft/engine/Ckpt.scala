package graft.engine

import org.apache.hadoop.fs.Path
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** The engine's eager materialization barrier (every operator that needs a
  * plan LEAF — multiply-referenced frames, per-round iteration state —
  * goes through here instead of calling `localCheckpoint()` directly).
  *
  * Two things the raw call sites could not give (r14 verdict items):
  *
  *  1. RELIABILITY SWITCH. `localCheckpoint` stores blocks only on
  *     executors: on a cluster with dynamic allocation or node churn,
  *     executor loss makes the job FAIL (the lineage is truncated, there
  *     is nothing to recompute from). That is the right trade in local
  *     mode and on static clusters — and the wrong one under churn.
  *     `SPARK_GRAFT_CKPT=reliable` switches every barrier to a RELIABLE
  *     `checkpoint()` into `SPARK_GRAFT_CKPT_DIR` (default
  *     <java.io.tmpdir>/graft-ckpt on a local filesystem; required, and
  *     pointed at HDFS/object storage, on a real cluster), which survives
  *     executor loss at the cost of a write+read through the checkpoint
  *     filesystem. Same plan shape
  *     (a leaf), same results, different durability.
  *
  *  2. LIFECYCLE. Checkpointed blocks are freed only when the driver GCs
  *     the Dataset and ContextCleaner notices — a 302-query runner
  *     accumulates every query's materialized frames in executor storage
  *     (MEMORY_AND_DISK eviction churn) with no deterministic release.
  *     Every barrier is therefore registered with [[CacheScope]]; the
  *     runner's per-query `drain()` releases the checkpoint RDDs (blocks,
  *     and a reliable checkpoint's files) like tracked persisted frames.
  *     Iterative loops additionally release each superseded round
  *     eagerly via [[free]].
  */
object Ckpt {

  /** True when SPARK_GRAFT_CKPT=reliable (or the `graft.ckpt` system
    * property, which specs can set): barriers become reliable checkpoints
    * that survive executor loss (cluster deployments).
    */
  def reliable: Boolean =
    sys.props.get("graft.ckpt").orElse(sys.env.get("SPARK_GRAFT_CKPT"))
      .exists(_.equalsIgnoreCase("reliable"))

  /** Point reliable checkpoints at `SPARK_GRAFT_CKPT_DIR`, else at
    * <java.io.tmpdir>/graft-ckpt — a fallback that is only durable on a
    * local default filesystem. On a cluster filesystem a node-local
    * tmpdir would defeat the point of reliable mode, so the barrier
    * refuses instead.
    */
  private def ensureCheckpointDir(df: DataFrame): Unit = {
    val sc = df.sparkSession.sparkContext
    val dir = sys.env.get("SPARK_GRAFT_CKPT_DIR")
    if (dir.isEmpty && !SessionTuning.defaultFsIsLocal(sc.hadoopConfiguration))
      throw new IllegalStateException(
        "SPARK_GRAFT_CKPT=reliable on a non-local default filesystem needs " +
          "SPARK_GRAFT_CKPT_DIR: a checkpoint directory every executor can " +
          "read (the java.io.tmpdir fallback is node-local)")
    if (sc.getCheckpointDir.isEmpty)
      sc.setCheckpointDir(dir.getOrElse(
        s"${System.getProperty("java.io.tmpdir")}/graft-ckpt"))
  }

  /** Eagerly materialize `df` as a plan leaf (the duplicate-reference
    * cache-trap fix) and register the result for the next
    * [[CacheScope.drain]].
    */
  def apply(df: DataFrame): DataFrame = {
    val out =
      if (reliable) { ensureCheckpointDir(df); df.checkpoint() }
      else df.localCheckpoint()
    internalRdd(out).foreach(CacheScope.trackRdd)
    out
  }

  /** Release a superseded barrier's blocks NOW (iterative loops: round
    * r−1 is dead the moment round r has materialized — without this every
    * round of a 5-iteration PageRank stays resident until drain). Only
    * call on frames nothing will read again: a local checkpoint's blocks
    * are its only copy.
    */
  def free(df: DataFrame): Unit = internalRdd(df).foreach(release)

  /** Release a barrier's storage: its blocks and, for a reliable
    * checkpoint, its `rdd-<id>` directory under the checkpoint dir (Spark
    * deletes those only on driver GC, and only with
    * `spark.cleaner.referenceTracking.cleanCheckpoints`). A local
    * checkpoint has no file, so this is the plain unpersist.
    */
  private[engine] def release(rdd: RDD[_]): Unit = {
    rdd.unpersist(blocking = false)
    rdd.getCheckpointFile.foreach { f =>
      val p = new Path(f)
      p.getFileSystem(rdd.sparkContext.hadoopConfiguration).delete(p, true)
    }
  }

  /** The checkpoint's backing RDD — the handle unpersist needs.
    * `Dataset.checkpoint`/`localCheckpoint` return a Dataset whose
    * logical plan is a [[LogicalRDD]] leaf over exactly that RDD.
    */
  private def internalRdd(df: DataFrame): Option[RDD[_]] =
    df.queryExecution.logical match {
      case l: LogicalRDD => Some(l.rdd)
      case _ => None
    }

  /** `df.ckpt()` syntax for call sites (reads like the localCheckpoint
    * chain it replaces).
    */
  implicit final class BarrierOps(private val df: DataFrame) extends AnyVal {
    def ckpt(): DataFrame = Ckpt(df)
  }
}
