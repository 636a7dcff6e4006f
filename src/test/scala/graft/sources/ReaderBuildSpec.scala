package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.FileSourceConstantMetadataStructField
import org.apache.spark.sql.execution.datasources.FileFormat
import org.apache.spark.sql.execution.datasources.parquet.{GraftParquetFileFormat, ParquetFileFormat}
import org.apache.spark.sql.sources.GreaterThan
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.HadoopCatalog
import graft.expr.AlwaysTrue
import graft.io.FileIO
import graft.spec.IcebergSchema
import graft.table.GraftTable

/** How scan readers are built: `GraftParquetFileFormat` sets the stock
  * parquet builder's conf entries itself and broadcasts the conf once,
  * and a `GraftBatchScan` plans with the session it was built under. */
class ReaderBuildSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.caseSensitive", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("s", StringType)))
  private val rowOpts = Map(FileFormat.OPTION_RETURNING_BATCH -> "false")

  private def entries(c: Configuration): Map[String, String] =
    c.iterator().asScala.map(e => e.getKey -> e.getValue).toMap

  /** Broadcasts created while running `body` (broadcast ids are
    * sequential per context). */
  private def broadcastsDuring(body: => Unit): Long = {
    val before = spark.sparkContext.broadcast(0)
    body
    val after = spark.sparkContext.broadcast(0)
    before.destroy()
    after.destroy()
    after.id - before.id - 1
  }

  test("the reader build sets the stock builder's conf entries and broadcasts once") {
    val base = graft.SessionConf.readConf(spark)
    val stock = new Configuration(base)
    val ours = new Configuration(base)
    new ParquetFileFormat().buildReaderWithPartitionValues(spark, schema,
      StructType(Nil), schema, Nil, rowOpts, stock)
    new GraftParquetFileFormat().buildReaderWithPartitionValues(spark, schema,
      StructType(Nil), schema, Nil, rowOpts, ours)
    assert(entries(stock) != entries(base), "the stock builder sets entries")
    val (s, o) = (entries(stock), entries(ours))
    (s.keySet ++ o.keySet).foreach(k => assert(o.get(k) === s.get(k), k))

    val fmt = new GraftParquetFileFormat()
    assert(broadcastsDuring(fmt.buildReaderWithPartitionValues(spark, schema,
      StructType(Nil), schema, Nil, rowOpts, new Configuration(base))) === 1)
    assert(broadcastsDuring(fmt.buildReaders(spark, StructType(Nil), schema,
      Seq(Seq(GreaterThan("id", 1L)), Nil), rowOpts, new Configuration(base))) === 1)
    assert(broadcastsDuring(new ParquetFileFormat().buildReaderWithPartitionValues(
      spark, schema, StructType(Nil), schema, Nil, rowOpts,
      new Configuration(base))) === 1, "the stock builder also broadcasts once")
  }

  test("formats declaring different constant fields are not equal") {
    val a = FileSourceConstantMetadataStructField("graft_a", IntegerType, false)
    val b = FileSourceConstantMetadataStructField("graft_b", IntegerType, false)
    assert(new GraftParquetFileFormat(Seq(a)) === new GraftParquetFileFormat(Seq(a)))
    assert(new GraftParquetFileFormat(Seq(a)).hashCode ===
      new GraftParquetFileFormat(Seq(a)).hashCode)
    assert(new GraftParquetFileFormat(Seq(a)) != new GraftParquetFileFormat(Seq(b)))
    assert(new GraftParquetFileFormat(Seq(a)) != new GraftParquetFileFormat())
    assert(new GraftParquetFileFormat() != new ParquetFileFormat())
    assert(new GraftParquetFileFormat(Seq(a)).metadataSchemaFields.last === a)
  }

  test("a scan plans its splits with the session it was built under") {
    val wh = java.nio.file.Files.createTempDirectory("graft-readerbuild").toString
    val catalog = new HadoopCatalog(wh, FileIO.fromSpark(spark))
    val data = spark.range(0, 80).selectExpr("id", "cast(id as string) as s").repartition(8)
    var t = GraftTable.create("bins", catalog, IcebergSchema.fromSpark(data.schema))
    t = t.append(data)
    assert(t.newScan().planFiles().size === 8)

    val a = spark
    val b = spark.newSession()
    b.conf.set("spark.sql.files.maxPartitionBytes", "1")
    def binsBuiltUnder(s: SparkSession): Int = {
      SparkSession.setActiveSession(s)
      try new GraftBatchScan(t, AlwaysTrue, Nil, None).planInputPartitions().length
      finally SparkSession.setActiveSession(a)
    }
    val underA = binsBuiltUnder(a)
    assert(underA < 8, "session A packs the small files")
    assert(binsBuiltUnder(b) === 8, "session B's 1-byte bins hold one file each")

    SparkSession.setActiveSession(a)
    val scan = new GraftBatchScan(t, AlwaysTrue, Nil, None)
    @volatile var planned = -1
    val th = new Thread(() => {
      SparkSession.setActiveSession(b)
      planned = scan.planInputPartitions().length
    })
    th.start()
    th.join()
    assert(planned === underA, "planning on a thread whose active session is B")
  }
}
