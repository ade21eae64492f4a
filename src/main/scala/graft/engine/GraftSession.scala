package graft.engine

import org.apache.spark.sql.SparkSession

/** The one SparkSession factory: the runner mains (Bench, Verify,
  * PlanAudit, Profile, Explain, OpenApcMain, ScaleUp, RecallCli,
  * AnnFrontier) and the test suite all build their session here, so the
  * oracle, the bench, the server and the tests run one configuration:
  *
  *  - `local[$SPARK_GRAFT_CPUS]` (default 32) with as many shuffle
  *    partitions;
  *  - UTC session time zone;
  *  - `spark.sql.legacy.parquet.nanosAsLong`, so `TIMESTAMP(NANOS)`
  *    testdata columns load (`Tables.normalizeEventTs` branches on them);
  *  - no Spark UI;
  *  - [[SessionTuning]] (the local-FS streaming checkpoint manager).
  *
  * `master`/`partitions` are arguments only for callers that need a
  * different shape (the test suite's `local[4,4]`: task retries on).
  */
object GraftSession {

  /** Local thread count of a runner session: `SPARK_GRAFT_CPUS`, default 32. */
  private def cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt

  def apply(master: String = s"local[$cpus]", partitions: Int = cpus,
      logLevel: String = "WARN"): SparkSession = {
    val spark = SessionTuning(SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", partitions.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }
}
