package servebench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.storage.RDDBlockId

/** The benchmark's one SparkListener: jobs (with their job group and
  * stages), per-stage task metrics, and the bytes held by persisted RDD
  * blocks over time. Attach once per session; read after
  * [[org.apache.spark.BenchBus.drain]].
  */
final class Telemetry extends SparkListener {
  import Telemetry._

  private val jobs = mutable.ArrayBuffer.empty[Job]
  private val byId = mutable.Map.empty[Int, Job]
  private val stages = mutable.Map.empty[Int, Stage]
  private val blocks = mutable.Map.empty[String, Long]
  private var heldBytes = 0L
  private var lastChangeNs = System.nanoTime()
  private var areaByteNs = 0.0
  private var markNs = System.nanoTime()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    val j = Job(e.jobId, e.time, group, e.stageIds)
    jobs += j
    byId(e.jobId) = j
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    byId.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val m = i.taskMetrics
    stages(i.stageId) =
      if (m == null) Stage(i.numTasks, 0L, 0.0, 0L)
      else Stage(i.numTasks, m.executorRunTime, m.executorCpuTime / 1e6,
        m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten)
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    if (info.blockId.isInstanceOf[RDDBlockId]) {
      val now = System.nanoTime()
      areaByteNs += heldBytes.toDouble * (now - lastChangeNs)
      lastChangeNs = now
      val key = s"${info.blockManagerId}/${info.blockId}"
      val bytes = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
      heldBytes += bytes - blocks.getOrElse(key, 0L)
      if (bytes == 0L) blocks.remove(key) else blocks(key) = bytes
    }
  }

  /** Start a new window for [[meanHeldMb]]. */
  def markStorage(): Unit = synchronized {
    val now = System.nanoTime()
    areaByteNs = 0.0
    lastChangeNs = now
    markNs = now
  }

  /** Time-weighted mean MB held by persisted blocks since [[markStorage]]. */
  def meanHeldMb(): Double = synchronized {
    val now = System.nanoTime()
    val area = areaByteNs + heldBytes.toDouble * (now - lastChangeNs)
    area / math.max(1L, now - markNs) / 1e6
  }

  private def totals(js: Seq[Job]): Totals = {
    val st = js.flatMap(_.stages).distinct.flatMap(stages.get)
    Totals(js.size, st.size, st.map(_.tasks.toLong).sum,
      js.map(j => math.max(0L, j.endMs - j.startMs)).sum,
      st.map(_.runMs).sum, st.map(_.cpuMs).sum, st.map(_.shuffleBytes).sum)
  }

  def forGroup(group: String): Totals = synchronized(totals(jobs.filter(_.group == group).toSeq))

  /** Jobs without a job group (the server's own) started inside a
    * wall-clock window (ms since epoch, inclusive).
    */
  def inWindow(fromMs: Long, toMs: Long): Totals = synchronized(totals(jobs.filter(j =>
    j.group.isEmpty && j.startMs >= fromMs && j.startMs <= toMs).toSeq))
}

object Telemetry {
  final case class Job(id: Int, startMs: Long, group: String, stages: Seq[Int]) {
    @volatile var endMs: Long = -1L
  }
  final case class Stage(tasks: Int, runMs: Long, cpuMs: Double, shuffleBytes: Long)

  /** Totals over a set of jobs: jobs, stages, tasks, job wall ms, executor
    * run ms, executor cpu ms, shuffle bytes read and written.
    */
  final case class Totals(jobs: Int, stages: Int, tasks: Long, jobMs: Long,
      runMs: Long, cpuMs: Double, shuffleBytes: Long)
}

/** Host trust stamps, as graft.Bench takes them: other processes' CPU and
  * hypervisor steal, in cores, from /proc/stat and /proc/self/stat.
  */
object HostStamp {
  final case class Sample(busy: Long, self: Long, steal: Long, ns: Long)

  def sample(): Option[Sample] = try {
    val all = java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/stat"))
      .linesIterator.next().trim.split("\\s+").drop(1).map(_.toLong)
    val busy = all.zipWithIndex.collect { case (v, i) if i != 3 && i != 4 => v }.sum
    val selfStat = java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/self/stat"))
    val after = selfStat.substring(selfStat.lastIndexOf(')') + 2).trim.split("\\s+")
    Some(Sample(busy, after(11).toLong + after(12).toLong,
      if (all.length > 7) all(7) else 0L, System.nanoTime()))
  } catch { case _: Throwable => None }

  private lazy val probe: Array[Long] = Array.tabulate(8 << 20)(_.toLong)
  @volatile private var sink = 0L

  /** The DRAM-bandwidth canary graft.Bench brackets its timings with: ms
    * to stream-sum 64 MB, best of 3. A neighbour saturating memory
    * bandwidth slows this while ambient and steal read clean.
    */
  def canaryMs(): Double = (1 to 3).map { _ =>
    val t0 = System.nanoTime()
    var s = 0L
    var i = 0
    while (i < probe.length) { s += probe(i); i += 1 }
    sink = s
    (System.nanoTime() - t0) / 1e6
  }.min

  /** (ambient cores, steal cores) between two samples; USER_HZ = 100. */
  def between(a: Option[Sample], b: Option[Sample]): (Double, Double) =
    (for (x <- a; y <- b) yield {
      val sec = math.max(1e-3, (y.ns - x.ns) / 1e9)
      (math.max(0.0, ((y.busy - x.busy) - (y.self - x.self)) / 100.0 / sec),
        math.max(0.0, (y.steal - x.steal) / 100.0 / sec))
    }).getOrElse((-1.0, -1.0))
}
