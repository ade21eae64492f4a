package servebench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.SplittableRandom

/** Seeded synthetic OpenAPC corpus: the ten inputs
  * `graft.etl.CubeBuilder.readInputs` reads, plus the `info.json` blob the
  * server serves at `/info`. The shapes follow FIXTURES.md §2. The default
  * sizes are a tenth of the real data set's (10⁴ APC rows; 100
  * institutions with Zipf-skewed volumes, so a few hundred institutional
  * cubes get registered), small enough that a benchmark run can launch the
  * server several times and rebuild it once.
  *
  * Every institution referenced by any input is listed in
  * `institutions.csv`, so the corpus passes `OpenApcMain.launch`'s strict
  * mode. The same (seed, version) writes byte-identical files. Version k
  * is the base corpus plus k seeded batches of new APC rows: the rebuild
  * input of the k-th reload.
  */
object Corpus {

  final case class Sizes(institutions: Int = 100, apc: Int = 10000,
      batch: Int = 500, ta: Int = 2000, bpc: Int = 400,
      optOut: Int = 80, additionalCosts: Int = 400, journals: Int = 300)

  val publishers: IndexedSeq[String] = IndexedSeq(
    "Elsevier BV", "Springer Nature", "Wiley-Blackwell", "MDPI AG",
    "Frontiers Media SA", "Public Library of Science (PLoS)",
    "Oxford University Press (OUP)", "Informa UK Limited", "EMBO",
    "SAGE Publications", "IOP Publishing", "BMJ", "Copernicus GmbH",
    "American Chemical Society (ACS)", "Cambridge University Press (CUP)",
    "Hindawi Limited", "De Gruyter", "American Geophysical Union (AGU)",
    "Royal Society of Chemistry (RSC)", "Zhejiang University Press",
    "The Econometric Society", "eLife Sciences Publications Ltd",
    "Walter de Gruyter GmbH", "American Physical Society (APS)",
    "Optica Publishing Group", "Thieme", "Karger", "JMIR Publications Inc.",
    "International Union of Crystallography (IUCr)", "F1000 Research Ltd")

  private val countries = IndexedSeq("DEU", "DEU", "DEU", "DEU", "AUT", "CHE",
    "SWE", "GBR", "USA", "NLD")
  private val agreements = IndexedSeq("DEAL Wiley Germany",
    "DEAL Springer Nature Germany", "Springer Compact", "Elsevier TA",
    "MDPI Institutional Membership")

  /** Zipf sampler over ranks 0 until n (exponent s) by inverse CDF. */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, s))
      val total = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / total)
    }
    def sample(r: SplittableRandom): Int = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  final case class Institution(id: String, fullName: String, cubesName: String,
      country: String)

  def institutions(seed: Long, sizes: Sizes): IndexedSeq[Institution] = {
    val r = new SplittableRandom(seed ^ 0x1157L)
    (0 until sizes.institutions).map { i =>
      // one institution in ten has no cubes name: listed, but no cubes
      val cubes = if (r.nextInt(10) == 0) "NA" else f"inst$i%03d"
      Institution(f"Inst $i%03d", f"Institution Number $i%03d", cubes,
        countries(r.nextInt(countries.size)))
    }
  }

  /** Journal i: (title, issn, publisher index). Titles keep a colon now
    * and then, which the ETL scrubs.
    */
  private def journal(i: Int, pubZipf: Zipf, seed: Long): (String, String, Int) = {
    val r = new SplittableRandom(seed * 31 + i)
    val title = if (i % 17 == 0) f"Journal $i%04d: Letters" else f"Journal of Topic $i%04d"
    (title, f"${1000 + i}%04d-${r.nextInt(10000)}%04d", pubZipf.sample(r))
  }

  private def csvLine(cells: Seq[String]): String = cells.map { c =>
    if (c.exists(ch => ch == ',' || ch == '"' || ch == '\n'))
      "\"" + c.replace("\"", "\"\"") + "\""
    else c
  }.mkString(",")

  private def write(dir: Path, name: String, header: String,
      rows: Iterator[Seq[String]]): Unit = {
    val sb = new StringBuilder(header).append('\n')
    rows.foreach(r => sb.append(csvLine(r)).append('\n'))
    Files.write(dir.resolve(name), sb.toString.getBytes(StandardCharsets.UTF_8)): Unit
  }

  private val apcHeader = "institution,period,euro,doi,is_hybrid,publisher," +
    "journal_full_title,issn,issn_print,issn_electronic,issn_l,license_ref," +
    "indexed_in_crossref,pmid,pmcid,ut,url,doaj"
  private val taHeader = apcHeader + ",agreement"

  private def euro(r: SplittableRandom, lo: Int, hi: Int): String = {
    val cents = lo * 100 + r.nextInt((hi - lo) * 100)
    f"${cents / 100}%d.${cents % 100}%02d"
  }

  /** Write corpus version `version` into `dir` (created if missing). */
  def write(dir: Path, seed: Long, version: Int = 0, sizes: Sizes = Sizes()): Path = {
    Files.createDirectories(dir)
    val insts = institutions(seed, sizes)
    val instZipf = new Zipf(insts.size, 1.0)
    val pubZipf = new Zipf(publishers.size, 1.1)
    val journals = (0 until sizes.journals).map(journal(_, pubZipf, seed))
    val journalZipf = new Zipf(journals.size, 0.9)
    def deu(r: SplittableRandom): Institution = {
      var i = insts(instZipf.sample(r))
      while (i.country != "DEU") i = insts(instZipf.sample(r))
      i
    }

    write(dir, "institutions.csv",
      "institution,institution_full_name,institution_cubes_name,continent,country,state,ror_id",
      insts.iterator.zipWithIndex.map { case (i, n) =>
        Seq(i.id, i.fullName, i.cubesName,
          if (i.country == "USA") "North America" else "Europe", i.country,
          if (n % 3 == 0) "NA" else f"S${n % 16}%02d",
          if (n % 7 == 0) "NA" else f"https://ror.org/0${n}%06dx")
      })

    // APC rows: the base corpus, then one seeded batch per version step
    def apcRows(stream: Long, n: Int, doiPrefix: String): Iterator[Seq[String]] = {
      val r = new SplittableRandom(seed * 1000003L + stream)
      Iterator.tabulate(n) { k =>
        val inst = insts(instZipf.sample(r))
        val (title, issn, p) = journals(journalZipf.sample(r))
        val hybrid = if (r.nextInt(3) == 0) "FALSE" else "TRUE"
        val noDoi = r.nextInt(50) == 0
        Seq(inst.id, (2010 + r.nextInt(15)).toString, euro(r, 300, 6000),
          if (noDoi) "NA" else s"10.$doiPrefix/a$k", hybrid, publishers(p), title,
          issn, "NA", "NA", "NA", "CC BY", "TRUE", "NA", "NA", "NA",
          if (noDoi) s"https://example.org/$doiPrefix/a$k" else "NA",
          if (hybrid == "FALSE") "TRUE" else "FALSE")
      }
    }
    write(dir, "apc_de.csv", apcHeader,
      apcRows(0, sizes.apc, "5000") ++ (1 to version).iterator.flatMap(v =>
        apcRows(v, sizes.batch, s"${5000 + v}")))

    write(dir, "apc_de_additional_costs.csv", "doi,colour charges,page charges", {
      val r = new SplittableRandom(seed ^ 0xacL)
      Iterator.tabulate(sizes.additionalCosts) { _ =>
        Seq(s"10.5000/a${r.nextInt(sizes.apc)}",
          if (r.nextInt(3) == 0) "NA" else euro(r, 50, 900),
          if (r.nextInt(2) == 0) "NA" else euro(r, 20, 400))
      }.distinctBy(_.head)
    })

    def taRows(stream: Long, n: Int, dealOnly: Option[String]): Iterator[Seq[String]] = {
      val r = new SplittableRandom(seed * 7919L + stream)
      Iterator.tabulate(n) { k =>
        val agreement = dealOnly.getOrElse(agreements(r.nextInt(agreements.size)))
        val publisher = agreement match {
          case "DEAL Wiley Germany" =>
            IndexedSeq("Wiley-Blackwell", "EMBO", "American Geophysical Union (AGU)")(r.nextInt(3))
          case "DEAL Springer Nature Germany" | "Springer Compact" =>
            if (r.nextInt(8) == 0) "Zhejiang University Press" else "Springer Nature"
          case "Elsevier TA" => "Elsevier BV"
          case _ => "MDPI AG"
        }
        val inst = if (agreement.startsWith("DEAL")) deu(r) else insts(instZipf.sample(r))
        val j = r.nextInt(40)
        val doi = if (publisher == "Springer Nature") f"10.1007/s${40000 + j}%05d-$stream-$k"
          else s"10.6000/t$stream-$k"
        Seq(inst.id, (2015 + r.nextInt(10)).toString,
          if (r.nextInt(4) == 0) "NA" else euro(r, 500, 4000), doi, "TRUE",
          publisher, f"TA Journal $j%02d", f"2${j}%03d-0000", "NA", "NA", "NA",
          "CC BY", "TRUE", "NA", "NA", "NA", "NA", "FALSE", agreement)
      }
    }
    write(dir, "transformative_agreements.csv", taHeader, taRows(1, sizes.ta, None))
    write(dir, "deal_wiley_germany_opt_out.csv", taHeader,
      taRows(2, sizes.optOut, Some("DEAL Wiley Germany")))
    write(dir, "deal_springer_nature_germany_opt_out.csv", taHeader,
      taRows(3, sizes.optOut, Some("DEAL Springer Nature Germany")))

    write(dir, "bpc.csv", "institution,period,euro,doi,backlist_oa,publisher," +
      "book_title,isbn,isbn_print,isbn_electronic,license_ref,indexed_in_crossref,doab", {
      val r = new SplittableRandom(seed ^ 0xb9cL)
      Iterator.tabulate(sizes.bpc) { k =>
        Seq(insts(instZipf.sample(r)).id, (2012 + r.nextInt(13)).toString,
          euro(r, 2000, 15000), s"10.7000/b$k",
          if (r.nextInt(5) == 0) "TRUE" else "FALSE",
          publishers(pubZipf.sample(r)), f"Book: Volume $k%05d",
          f"978-${k}%07d", "NA", "NA", "CC BY", "TRUE",
          if (r.nextInt(2) == 0) "TRUE" else "FALSE")
      }
    })

    // Springer caches: coverage for the TA journal ids, a few pub dates,
    // and issn → id for the cache-resolved (non-DOI) journals
    val covR = new SplittableRandom(seed ^ 0xc0fL)
    val coverage = (0 until 40).map { j =>
      val years = (2015 to 2024).map { y =>
        val total = 100 + covR.nextInt(900)
        s""""$y": {"num_journal_total_articles": $total, "num_journal_oa_articles": ${covR.nextInt(total)}}"""
      }.mkString(", ")
      f""""${40000 + j}%d": {"title": "TA Journal $j%02d", "years": {$years}}"""
    }.mkString("{", ",\n", "}\n")
    Files.write(dir.resolve("coverage_stats.json"), coverage.getBytes(StandardCharsets.UTF_8))
    val pubdates = (0 until 40).map { j =>
      f""""${40000 + j}%d": {"10.1007/s${40000 + j}%05d-1-0": "2019"}"""
    }.mkString("{", ",\n", "}\n")
    Files.write(dir.resolve("article_pubdates.json"), pubdates.getBytes(StandardCharsets.UTF_8))
    val ids = (0 until 40).map(j => f""""2${j}%03d-0000": "${40000 + j}%d"""")
      .mkString("{", ",\n", "}\n")
    Files.write(dir.resolve("journal_ids.json"), ids.getBytes(StandardCharsets.UTF_8))
    Files.write(dir.resolve("info.json"),
      s"""{"name": "servebench.openapc", "label": "Synthetic OpenAPC corpus (seed $seed, version $version)"}
         |""".stripMargin.getBytes(StandardCharsets.UTF_8))
    dir
  }
}
