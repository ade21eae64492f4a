package servebench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.OpenApcMain
import graft.etl.CubeBuilder

class CorpusSpec extends AnyFunSuite {

  private def files(dir: Path): Map[String, Seq[Byte]] =
    Files.list(dir).iterator().asScala.toSeq
      .map(p => p.getFileName.toString -> Files.readAllBytes(p).toSeq).toMap

  test("one seed writes byte-identical inputs; another seed or version differs") {
    val a = Corpus.write(Files.createTempDirectory("corpus-a"), seed = 7)
    val b = Corpus.write(Files.createTempDirectory("corpus-b"), seed = 7)
    val c = Corpus.write(Files.createTempDirectory("corpus-c"), seed = 8)
    val v1 = Corpus.write(Files.createTempDirectory("corpus-v1"), seed = 7, version = 1)
    assert(files(a).keySet == Set("institutions.csv", "apc_de.csv",
      "apc_de_additional_costs.csv", "transformative_agreements.csv",
      "deal_wiley_germany_opt_out.csv", "deal_springer_nature_germany_opt_out.csv",
      "bpc.csv", "coverage_stats.json", "article_pubdates.json", "journal_ids.json",
      "info.json"))
    assert(files(a) == files(b))
    assert(files(a)("apc_de.csv") != files(c)("apc_de.csv"))
    assert(files(v1)("apc_de.csv").size > files(a)("apc_de.csv").size)
  }

  test("the corpus passes OpenApcMain.launch's strict mode with no unknown institutions") {
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      val csv = Corpus.write(Files.createTempDirectory("corpus-launch"), seed = 3).toString
      val built = CubeBuilder.build(CubeBuilder.readInputs(spark, csv))
      assert(built.unknownInstitutions.count() == 0)
      val server = OpenApcMain.launch(spark, csv, Files.createTempDirectory("corpus-out").toString)
      try {
        val names = server.registry.names
        assert(names.contains("openapc") && names.contains("inst000"))
        assert(names.size > 100, s"only ${names.size} cubes registered")
      } finally server.stop()
    } finally spark.stop()
  }
}
