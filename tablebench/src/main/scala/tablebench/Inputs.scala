package tablebench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Input tables, generated from the seed (or read from a fixture
  * directory of `<table>.parquet` files with the same schemas). */
object Inputs {
  /** Input rows per table; `lineitem` differs between the many-files
    * workload (a short calendar, so one small file per day) and the
    * merge-on-read workload. */
  final case class Sizes(manyFilesLineitem: Long, morLineitem: Long, orders: Long, documents: Int)
  val Full = Sizes(150000L, 200000L, 150000L, 5000)
  val Smoke = Sizes(3000L, 6000L, 1500L, 500)

  /** First day of the generated order calendar (1992-01-01). */
  val EpochDay0 = 8035
  /** Length of the order calendar (TPC-H's); ship dates run up to 151
    * days past its end. */
  val OrderDays = 2406
  val MicrosPerDay = 86400000000L

  /** Per-row checksum: xxhash64 over the given columns, folded to 32 bits
    * so a sum over millions of rows cannot overflow a long. */
  def rowHash(cols: Seq[String]): Column =
    xxhash64(cols.map(col): _*).bitwiseAND(lit(0xFFFFFFFFL))

  /** (count, checksum) of a frame: one pass over every named column. */
  def checksum(df: DataFrame, cols: Seq[String]): (Long, Long) = {
    val r = df.agg(count(lit(1)), coalesce(sum(rowHash(cols)), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  private def h(seed: Long, salt: Int, key: String = "id"): String =
    s"xxhash64($key, ${seed}L, $salt)"

  /** TPC-H-shaped lineitem: four lines per order, order dates rising with
    * the order key over `orderDays`, ship dates 1..121 days after the
    * order. */
  def lineitem(spark: SparkSession, seed: Long, rows: Long, orderDays: Int = OrderDays): DataFrame = {
    val orders = math.max(1L, rows / 4)
    spark.range(rows).selectExpr(
      "id div 4 + 1 AS l_orderkey",
      s"pmod(${h(seed, 1)}, 20000) + 1 AS l_partkey",
      s"pmod(${h(seed, 2)}, 1000) + 1 AS l_suppkey",
      "CAST(id % 4 + 1 AS INT) AS l_linenumber",
      s"CAST(pmod(${h(seed, 3)}, 50) + 1 AS DOUBLE) AS l_quantity",
      s"round((pmod(${h(seed, 3)}, 50) + 1) * (900 + pmod(${h(seed, 4)}, 100000) / 100.0), 2) AS l_extendedprice",
      s"pmod(${h(seed, 5)}, 11) / 100.0 AS l_discount",
      s"pmod(${h(seed, 6)}, 9) / 100.0 AS l_tax",
      s"element_at(array('A', 'N', 'R'), CAST(pmod(${h(seed, 7)}, 3) + 1 AS INT)) AS l_returnflag",
      s"element_at(array('F', 'O'), CAST(pmod(${h(seed, 8)}, 2) + 1 AS INT)) AS l_linestatus",
      s"timestamp_micros(($EpochDay0 + (id div 4) * $orderDays div $orders + " +
        s"pmod(${h(seed, 9, "id div 4")}, 30) + pmod(${h(seed, 10)}, 121) + 1) * ${MicrosPerDay}L) AS l_shipdate")
  }

  val OrderCols = Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
    "o_orderdate", "o_orderpriority")

  /** Orders rows for the given keys; `salt` varies every non-key column,
    * so the same keys with another salt are an update of every row. */
  def ordersFor(keys: DataFrame, seed: Long, salt: Long): DataFrame = {
    val s = seed * 1000003L + salt
    keys.selectExpr(
      "o_orderkey",
      s"pmod(${h(s, 11, "o_orderkey")}, 15000) + 1 AS o_custkey",
      s"element_at(array('F', 'O', 'P'), CAST(pmod(${h(s, 12, "o_orderkey")}, 3) + 1 AS INT)) AS o_orderstatus",
      s"round(1000 + pmod(${h(s, 13, "o_orderkey")}, 50000000) / 100.0, 2) AS o_totalprice",
      s"timestamp_micros(($EpochDay0 + pmod(${h(s, 14, "o_orderkey")}, $OrderDays)) * ${MicrosPerDay}L) AS o_orderdate",
      "element_at(array('1-URGENT', '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED', '5-LOW'), " +
        s"CAST(pmod(${h(s, 15, "o_orderkey")}, 5) + 1 AS INT)) AS o_orderpriority")
  }

  def orders(spark: SparkSession, seed: Long, rows: Long): DataFrame =
    ordersFor(spark.range(1, rows + 1).withColumnRenamed("id", "o_orderkey"), seed, 0L)

  /** Documents of 60-120 words over a 3000-word vocabulary. About one
    * document in ten is a planted near-duplicate of an earlier one with a
    * single word replaced (3-shingle Jaccard above 0.9); unrelated
    * documents share almost no shingles, so the exact pair set has a wide
    * margin on both sides of any threshold in between. */
  def documents(spark: SparkSession, seed: Long, n: Int): DataFrame = {
    val rnd = new scala.util.Random(seed)
    val vocab = Array.tabulate(3000)(i => "w" + Integer.toString(i * 7919 % 46656, 36))
    val langs = Array("en", "de", "es", "fr", "zh")
    val texts = new Array[Array[String]](n)
    val duplicated = mutable.BitSet()
    for (i <- 0 until n) {
      val src = if (i > 10 && rnd.nextDouble() < 0.1) {
        val j = rnd.nextInt(i)
        if (duplicated(j)) -1 else j
      } else -1
      texts(i) =
        if (src >= 0) {
          duplicated += src; duplicated += i
          val t = texts(src).clone()
          t(rnd.nextInt(t.length)) = vocab(rnd.nextInt(vocab.length))
          t
        } else Array.fill(60 + rnd.nextInt(61))(vocab(rnd.nextInt(vocab.length)))
    }
    import spark.implicits._
    texts.zipWithIndex.map { case (w, i) =>
      val text = w.mkString(" ")
      (i.toLong, text, langs(i % langs.length), s"src${i % 7}", text.length.toLong)
    }.toSeq.toDF("doc_id", "text", "lang", "source", "n_chars")
  }

  /** An input table: generated from the seed, or read from a fixture
    * directory's `<table>.parquet`; cached, so set-up and the reference
    * read the same rows from memory. */
  def load(spark: SparkSession, name: String, fixtures: Option[String])(
      generate: => DataFrame): DataFrame =
    fixtures.fold(generate)(dir => spark.read.parquet(s"$dir/$name.parquet")).cache()

  /** Rows and content checksum of an input, plus bytes and newest mtime
    * when it was read from a fixture file. */
  def fingerprint(df: DataFrame, fixtures: Option[String], name: String): Map[String, Long] = {
    val (rows, sum) = checksum(df, df.columns.toSeq)
    val file = fixtures.map(d => new File(s"$d/$name.parquet"))
    val files = file.toSeq.flatMap(f => if (f.isDirectory) f.listFiles().toSeq else Seq(f))
      .filter(_.getName.endsWith(".parquet"))
    Map("rows" -> rows, "checksum" -> sum) ++
      (if (files.isEmpty) Map.empty[String, Long]
       else Map("bytes" -> files.map(_.length).sum, "mtime_ms" -> files.map(_.lastModified).max))
  }
}
