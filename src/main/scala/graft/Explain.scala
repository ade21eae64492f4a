package graft

/** Plan dumper for the optimization rounds: writes `.explain("formatted")`
  * of each named SparkEntry query to `<outDir>/<query>_<tag>.txt` (the
  * judge-checkable plan artifacts under plans/r14/). Same session contract
  * as [[Bench]]. Usage:
  *
  *   runMain graft.Explain <outDir> <tag> <query...>   (globs as in Bench)
  */
object Explain {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: Explain <outDir> <tag> <query...>")
    val outDir = args(0); val tag = args(1); val names = args.drop(2)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.engine.GraftSession(logLevel = "ERROR")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    SparkEntry.select(names.toSeq)
      .foreach { case (name, fn) =>
        try {
          val df = fn(spark, sfDir)
          val txt = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          java.nio.file.Files.writeString(
            java.nio.file.Paths.get(s"$outDir/${name}_$tag.txt"), txt)
          println(s"wrote $outDir/${name}_$tag.txt")
        } catch { case e: Throwable =>
          System.err.println(s"[explain] $name failed: $e")
        } finally graft.engine.CacheScope.drain()
      }
    spark.stop()
  }
}
