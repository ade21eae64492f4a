package graft

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}

/** Optimization-round measurement harness (guide §1): per-QUERY stage-level
  * attribution of where wall-clock actually goes — executor run time,
  * shuffle bytes, input bytes per stage, with the stage's callsite — so
  * optimization targets are chosen empirically instead of by guessing from
  * the code. Reads the same env contract as [[Bench]] (SPARK_GRAFT_SF_DIR /
  * SPARK_GRAFT_CPUS); not part of the driver contract, purely a dev lens.
  *
  * Usage: runMain graft.Profile x87_triangles x86_pagerank
  * (prefix globs as in Bench: `x8*`).
  */
object Profile {

  private final case class StageRow(stageId: Int, name: String,
      wallMs: Long, runMs: Long, cpuMs: Long, inBytes: Long,
      shufReadB: Long, shufWriteB: Long, spillB: Long, tasks: Int)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.engine.GraftSession()

    val stages = mutable.ArrayBuffer.empty[StageRow]
    val jobs = mutable.ArrayBuffer.empty[(Int, String)]
    val listener = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        val m = si.taskMetrics
        val wall = (for {s <- si.submissionTime; c <- si.completionTime}
          yield c - s).getOrElse(-1L)
        stages.synchronized {
          stages += StageRow(si.stageId, si.name, wall,
            m.executorRunTime, m.executorCpuTime / 1000000L,
            m.inputMetrics.bytesRead,
            m.shuffleReadMetrics.totalBytesRead,
            m.shuffleWriteMetrics.bytesWritten,
            m.memoryBytesSpilled + m.diskBytesSpilled,
            si.numTasks)
        }
      }
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.synchronized { jobs += ((e.jobId, String.valueOf(e.properties
          .getProperty("spark.job.description")))) }
    }

    spark.sparkContext.addSparkListener(listener)

    val selected = SparkEntry.select(args.toSeq)

    // one untimed warmup so codegen/JIT lands outside the first profile
    try SparkEntry.queries("a03_summary")(spark, sfDir).count()
    catch { case _: Throwable => }

    selected.foreach { case (name, fn) =>
      // cold pass untimed-for-stages (plan+codegen), then profiled warm pass
      try { fn(spark, sfDir).count() } catch { case e: Throwable =>
        System.err.println(s"[profile] $name cold failed: $e") }
      graft.engine.CacheScope.drain()
      stages.synchronized(stages.clear()); jobs.synchronized(jobs.clear())
      val t0 = System.nanoTime()
      try { fn(spark, sfDir).count() } catch { case e: Throwable =>
        System.err.println(s"[profile] $name warm failed: $e") }
      val wallSec = (System.nanoTime() - t0) / 1e9
      graft.engine.CacheScope.drain()
      // give the async listener bus a moment to flush
      Thread.sleep(300)
      val rows = stages.synchronized(stages.toVector).sortBy(-_.runMs)
      val totRun = rows.map(_.runMs).sum
      println(f"\n=== $name: wall ${wallSec}%.2f s, ${rows.size} stages, " +
        f"sum(executorRun) ${totRun / 1000.0}%.1f s, " +
        f"jobs ${jobs.synchronized(jobs.size)} ===")
      rows.take(14).foreach { r =>
        println(f"  stage ${r.stageId}%4d wall ${r.wallMs}%6d ms run " +
          f"${r.runMs}%7d ms cpu ${r.cpuMs}%7d ms in ${r.inBytes / 1024}%8d KB " +
          f"sr ${r.shufReadB / 1024}%8d KB sw ${r.shufWriteB / 1024}%8d KB " +
          f"spill ${r.spillB / 1024}%6d KB t ${r.tasks}%3d  ${r.name.take(90)}")
      }
    }
    spark.stop()
  }
}
