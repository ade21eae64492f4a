package servebench

import java.util.SplittableRandom

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded stand-ins for the two TPC-H-ish tables the served lineitem cube
  * and the six batch operators read: `lineitem` and `documents`, with the
  * column names, types and value ranges of the repository's test tables
  * (TESTDATA.md) at sf0.01 (~60k lineitem rows, 500 documents).
  */
object Tables {

  val lineitemSchema: StructType = StructType(Seq(
    StructField("l_orderkey", LongType), StructField("l_partkey", LongType),
    StructField("l_suppkey", LongType), StructField("l_linenumber", IntegerType),
    StructField("l_quantity", DoubleType), StructField("l_extendedprice", DoubleType),
    StructField("l_discount", DoubleType), StructField("l_tax", DoubleType),
    StructField("l_returnflag", StringType), StructField("l_linestatus", StringType),
    StructField("l_shipdate", TimestampNTZType)))

  val documentsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  final case class Sizes(lineitems: Int = 60000, orders: Int = 15000,
      parts: Int = 2000, suppliers: Int = 100, documents: Int = 500)

  private val vocab = ("key agg row scan slow fast table value part hash merge " +
    "batch spark the line sort window data column join small customer query " +
    "big order group stream filter vector a").split(' ').toIndexedSeq

  def lineitemRows(seed: Long, s: Sizes): IndexedSeq[Row] = {
    val r = new SplittableRandom(seed ^ 0x11eL)
    val day0 = java.time.LocalDate.of(1995, 1, 2)
    (0 until s.lineitems).map { _ =>
      Row(r.nextLong(s.orders.toLong), r.nextLong(s.parts.toLong),
        r.nextLong(s.suppliers.toLong), 1 + r.nextInt(7),
        (1 + r.nextInt(50)).toDouble, (90000 + r.nextInt(10410000)) / 100.0,
        r.nextInt(11) / 100.0, r.nextInt(9) / 100.0,
        "ANR".charAt(r.nextInt(3)).toString, "FO".charAt(r.nextInt(2)).toString,
        day0.plusDays(r.nextInt(2498)).atStartOfDay())
    }
  }

  /** Random word texts plus planted near-duplicates (a copy with a few
    * words replaced), so the simhash evaluation has true pairs to find.
    */
  def documentRows(seed: Long, s: Sizes): IndexedSeq[Row] = {
    val r = new SplittableRandom(seed ^ 0xd0cL)
    val texts = scala.collection.mutable.ArrayBuffer.empty[IndexedSeq[String]]
    (0 until s.documents).map { id =>
      val words =
        if (texts.nonEmpty && r.nextInt(10) == 0) {
          val src = texts(r.nextInt(texts.size))
          src.map(w => if (r.nextInt(40) == 0) vocab(r.nextInt(vocab.size)) else w)
        } else IndexedSeq.fill(20 + r.nextInt(60))(vocab(r.nextInt(vocab.size)))
      texts += words
      val text = words.mkString(" ")
      Row(id.toLong, text, IndexedSeq("en", "en", "de", "fr", "es", "zh")(r.nextInt(6)),
        s"src${r.nextInt(20)}", text.length.toLong)
    }
  }

  /** Write the named tables as parquet under `dir` (the layout
    * `graft.Tables.table(spark, dir, name)` reads).
    */
  def write(spark: SparkSession, dir: String, seed: Long, tables: Seq[String],
      s: Sizes = Sizes()): Unit = tables.foreach { name =>
    val (rows, schema) = name match {
      case "lineitem" => (lineitemRows(seed, s), lineitemSchema)
      case "documents" => (documentRows(seed, s), documentsSchema)
    }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
  }
}
