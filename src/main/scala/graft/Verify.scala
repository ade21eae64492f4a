package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated query-name substrings to run
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    def selected(name: String): Boolean =
      only.forall(_.exists(name.contains))
    val spark = graft.engine.GraftSession()
    Stage.enable() // staged-intermediate dumps feed the DuckDB oracle
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.filter(q => selected(q._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      finally graft.engine.CacheScope.drain()
    }
    // JSON string escape (graft.util.Json): a tab or CR in
    // builder-authored SQL would otherwise make the driver's json.load
    // fail and silently zero the round's correctness.
    def q(s: String): String = graft.util.Json.str(s)
    // staged-intermediate oracles reference Stage.placeholder; resolve it
    // to THIS run's sf-keyed staging dir (only Verify knows the sf)
    val json = SparkEntry.oracleSql
      .map { case (k, v) =>
        s"${q(k)}: ${q(v.replace(Stage.placeholder, Stage.dir(sfDir)))}"
      }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
