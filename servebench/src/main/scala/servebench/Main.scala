package servebench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.util.chaining._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

/** The benchmark's JVM half: builds the seeded inputs, runs one workload
  * against the production code paths, and writes `result.json` into the
  * run directory for `run.py`, which checks the answers against DuckDB and
  * prints the result line.
  *
  *   servebench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --out <dir>
  *
  * Spark logs go to stderr; stdout stays empty. The JVM always ends with
  * an explicit halt once its output is flushed: `GraftServer.stop()`
  * leaves its pool threads running, so a normal return would hang.
  */
object Main {

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
      out: Path)

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", Paths.get(need("out")).toAbsolutePath)
  }

  def main(args: Array[String]): Unit = {
    val code = try {
      val o = parse(args)
      val run = new Run(o)
      val result = o.workload match {
        case "agg_compute" => Served.aggCompute(run)
        case "dashboard_reload" => Served.dashboardReload(run)
        case "batch_operators" => Batch.run(run)
        case w => throw new IllegalArgumentException(s"unknown workload '$w'")
      }
      run.finish(result)
      0
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        1
    }
    System.out.flush()
    System.err.flush()
    Runtime.getRuntime.halt(code)
  }
}

/** What a workload hands back: the end-to-end metrics the JVM can compute
  * alone, the per-layer metrics, operation counts and the answers to check.
  */
final case class Result(e2e: Map[String, Double], layers: Map[String, Double],
    attempted: Int, errors: Int, checks: Seq[java.util.Map[String, Any]],
    tables: Map[String, String], groups: Seq[java.util.Map[String, Any]],
    wallSec: Double)

/** Per-run context: options, the run directory, session factory, the
  * listener, spans and the trust stamps.
  */
final class Run(val o: Main.Opts) {
  val nproc: Int = Runtime.getRuntime.availableProcessors()
  val spans = new Spans
  /** The listener of the current session (each session gets a new one). */
  var telemetry = new Telemetry
  val stamps = mutable.LinkedHashMap.empty[String, Any]
  private val processStart = System.nanoTime()
  Files.createDirectories(o.out)

  def dir(name: String): Path = Files.createDirectories(o.out.resolve(name))

  /** A fresh local session configured as `style` configures it:
    * "server" = graft.OpenApcMain.main, "bench" = graft.Bench, with local
    * scratch space kept inside the run directory.
    */
  def session(style: String): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$nproc]")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", dir("spark-local").toString)
      .config("spark.sql.warehouse.dir", dir("warehouse").toString)
    val spark = (style match {
      case "server" => b
      case "bench" => b.config("spark.sql.legacy.parquet.nanosAsLong", "true")
          .pipe(graft.engine.SessionTuning.apply)
    }).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    telemetry = new Telemetry
    spark.sparkContext.addSparkListener(telemetry)
    stamps("session_style") = style
    stamps("session_conf") = spark.conf.getAll.filter { case (k, _) =>
      k.startsWith("spark.sql") || k == "spark.master" || k.startsWith("spark.checkpoint")
    }.toSeq.sortBy(_._1).toMap
    spark
  }

  /** Progress line on stderr, stamped with seconds since start. */
  def log(msg: String): Unit = System.err.println(f"[servebench] t=$sinceStart%.1fs $msg")

  /** Seconds since the JVM started this run. */
  def sinceStart: Double = (System.nanoTime() - processStart) / 1e9

  private var host0: Option[HostStamp.Sample] = None
  private var hostResult = (-1.0, -1.0)
  private var canary = 0.0
  def timedStart(): Unit = { canary = HostStamp.canaryMs(); host0 = HostStamp.sample() }
  def timedEnd(): Unit = {
    hostResult = HostStamp.between(host0, HostStamp.sample())
    canary = math.max(canary, HostStamp.canaryMs())
  }

  def finish(r: Result): Unit = {
    val mapper = new ObjectMapper()
    def jmap(m: Map[String, _]): java.util.Map[String, Any] = {
      val j = new java.util.LinkedHashMap[String, Any]()
      m.toSeq.sortBy(_._1).foreach { case (k, v) => j.put(k, v match {
        case mm: Map[_, _] => jmap(mm.asInstanceOf[Map[String, _]])
        case other => other
      }) }
      j
    }
    stamps("nproc") = nproc
    stamps("ambient_cores") = hostResult._1
    stamps("steal_cores") = hostResult._2
    stamps("canary_ms") = canary
    stamps("first_timed_op_s") = firstTimedOp
    val layers = r.layers ++ Map("host.nproc" -> nproc.toDouble,
      "host.ambient_cores" -> hostResult._1, "host.steal_cores" -> hostResult._2,
      "host.canary_ms" -> canary)
    val out = new java.util.LinkedHashMap[String, Any]()
    out.put("e2e", jmap(r.e2e))
    out.put("layers", jmap(layers))
    out.put("attempted", r.attempted)
    out.put("errors", r.errors)
    out.put("wall_s", r.wallSec)
    out.put("groups", java.util.Arrays.asList(r.groups: _*))
    out.put("tables", jmap(r.tables))
    out.put("checks", java.util.Arrays.asList(r.checks: _*))
    out.put("stamps", jmap(stamps.toMap))
    Files.write(o.out.resolve("result.json"),
      mapper.writeValueAsString(out).getBytes(StandardCharsets.UTF_8))
    if (o.trace) spans.write(o.out.resolve("spans.jsonl"))
  }

  private var firstTimedOp = -1.0
  def markFirstTimedOp(): Unit = if (firstTimedOp < 0) firstTimedOp = sinceStart
}
