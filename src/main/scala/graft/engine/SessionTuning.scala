package graft.engine

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.SparkSession

/** Session-level tuning applied by [[GraftSession]] to every runner main
  * and the test suite. Everything here is parameterized by env with defaults
  * justified in OPTIMIZATION_r14.md — nothing is tuned to the local core
  * count.
  */
object SessionTuning {

  /** Spark 4.1's FileSystem-based checkpoint manager (the one Spark itself
    * selects when FileContext is unavailable, e.g. s3a).
    */
  private[graft] val FsCkptManager =
    "org.apache.spark.sql.execution.streaming.checkpointing." +
      "FileSystemBasedCheckpointFileManager"

  /** Streaming-checkpoint file manager for LOCAL filesystems.
    *
    * The default FileContext-based manager passes an explicit permission on
    * every mkdir/create, and Hadoop's RawLocalFileSystem implements
    * setPermission by fork/exec of `chmod` (no hadoop native lib in this
    * environment); state-store provider inits then SERIALIZE those
    * subprocess waits under the StateStore registry lock — a thread dump
    * showed 28/32 executor threads parked on `StateStore.getStateStoreProvider`
    * while the lock holder sat in `Shell.runCommand` inside
    * `RawLocalFileSystem.setPermission`, i.e. seconds of blocked executor
    * time per streaming query that is neither compute nor I/O (r14,
    * measured: x84 9-14 s → 3.9 s, x20 2-7 s → 1.3 s, x123 2-3 s → 1.4 s,
    * paired runs). The FileSystem-based manager performs the same mkdirs
    * with NO permission argument (a plain File.mkdir — no chmod subprocess)
    * and commits via rename, which IS atomic on a local filesystem.
    *
    * SCHEME-GATED (r15, closing the r14 advice item): the override only
    * applies when the filesystem the checkpoints land on is a LOCAL one —
    * the chmod-subprocess pathology is RawLocalFileSystem's, and on
    * HDFS/object stores Spark's FileContext manager (atomic-rename
    * semantics) is the hardened default that a deployment should keep
    * without having to know this knob exists. "Local" is read from the
    * Hadoop default filesystem of the environment (core-site.xml's
    * fs.defaultFS, scheme `file`) — exactly the config that decides where
    * a relative/unqualified checkpoint path resolves.
    *
    * Still parameterized for deployments: SPARK_GRAFT_CKPT_FM=default
    * forces Spark's FileContext manager even on a local FS; any other
    * non-empty value is used as the manager class name regardless of
    * scheme (explicit operator intent). The override is applied only if
    * the class resolves, so a Spark upgrade that moves it degrades to the
    * default instead of failing every streaming query.
    */
  def apply(b: SparkSession.Builder): SparkSession.Builder = {
    val explicit = sys.env.get("SPARK_GRAFT_CKPT_FM")
    val fm = explicit.getOrElse {
      if (defaultFsIsLocal(new Configuration())) FsCkptManager else "default"
    }
    if (fm.isEmpty || fm == "default") b
    else
      try {
        Class.forName(fm)
        b.config("spark.sql.streaming.checkpointFileManagerClass", fm)
      } catch { case _: ClassNotFoundException => b }
  }

  /** Whether `conf`'s Hadoop default filesystem is local (scheme `file`):
    * where unqualified checkpoint paths resolve. Here it means
    * RawLocalFileSystem, where the FileContext manager's per-mkdir chmod
    * fork/exec is the measured bottleneck; [[Ckpt]] uses it to refuse a
    * node-local tmpdir for reliable checkpoints on a cluster filesystem.
    */
  private[engine] def defaultFsIsLocal(conf: Configuration): Boolean =
    try {
      val scheme = org.apache.hadoop.fs.FileSystem.getDefaultUri(conf).getScheme
      scheme == null || scheme == "file"
    } catch { case _: Throwable => false }
}
