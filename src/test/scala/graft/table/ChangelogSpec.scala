package graft.table

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.HadoopCatalog
import graft.expr.Predicate
import graft.io.FileIO
import graft.spec._

/** Row-level CDC: inserts per append, deletes resolved against the
  * parent snapshot (MoR position/DV/equality + whole-file), CoW
  * carry-over cancellation, replay reconstruction. */
class ChangelogSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private var wh: String = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    wh = java.nio.file.Files.createTempDirectory("graft-cdc").toString
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def catalog = new HadoopCatalog(wh, FileIO.fromSpark(spark))

  private def rowsOf(df: org.apache.spark.sql.DataFrame): Seq[(Long, Double)] =
    df.select("id", "v").collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq.sorted

  test("appends emit inserts, MoR delete emits the dead rows, replace emits nothing") {
    val ss = spark
    import ss.implicits._
    val schema = IcebergSchema(0, Seq(
      NestedField(1, "id", IcebergType.LongT, required = false),
      NestedField(2, "v", IcebergType.DoubleT, required = false)))
    var t = GraftTable.create("cdc1", catalog, schema)
    t = t.append((1L to 40L).map(i => (i, i * 1.0)).toDF("id", "v"))
    t = t.append((41L to 60L).map(i => (i, i * 1.0)).toDF("id", "v"))
    t = t.deleteWhere(Predicate.gt("id", 50L), spark) // MoR
    t = t.rewriteDataFiles(spark) // replace: no logical change

    val ch = t.changesBetween(spark, -1L, t.metadata.currentSnapshotId.get)
    val byOrd = ch.groupBy("_change_ordinal", "_change_type").count()
      .collect().map(r => (r.getInt(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(byOrd === Map((0, "insert") -> 40L, (1, "insert") -> 20L,
      (2, "delete") -> 10L))
    // the deleted rows are exactly ids 51..60
    assert(rowsOf(ch.filter(col("_change_type") === "delete"))
      === (51L to 60L).map(i => (i, i * 1.0)))
    // replay: inserts minus deletes equals the live table
    val replay = ch.groupBy("id", "v")
      .agg(sum(when(col("_change_type") === "insert", 1).otherwise(-1)).as("n"))
      .filter(col("n") > 0)
    assert(rowsOf(replay) === rowsOf(t.newScan().toDF(spark)))
    // commit snapshot ids line up with the ancestry
    val snapByOrd = ch.select("_change_ordinal", "_commit_snapshot_id").distinct()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(snapByOrd.size === 3)
  }

  test("DV deletes and ranges emit correctly; already-dead rows never re-emit") {
    val ss = spark
    import ss.implicits._
    val schema = IcebergSchema(0, Seq(
      NestedField(1, "id", IcebergType.LongT, required = false),
      NestedField(2, "v", IcebergType.DoubleT, required = false)))
    var t = GraftTable.create("cdc2", catalog, schema)
    t = t.append((1L to 30L).map(i => (i, i * 1.0)).toDF("id", "v"))
    t = t.deleteWhereDV(Predicate.gt("id", 25L), spark) // DV path
    t = t.deleteWhereDV(Predicate.gt("id", 20L), spark) // supersedes: adds 21..25

    val from = t.metadata.snapshots.head.snapshotId
    val ch = t.changesBetween(spark, from, t.metadata.currentSnapshotId.get)
    // ordinal 0 (first DV commit): 26..30; ordinal 1: only 21..25 — the
    // superseding DV contains 21..30 but 26..30 were dead at the parent
    assert(rowsOf(ch.filter(col("_change_ordinal") === 0))
      === (26L to 30L).map(i => (i, i * 1.0)))
    assert(rowsOf(ch.filter(col("_change_ordinal") === 1))
      === (21L to 25L).map(i => (i, i * 1.0)))
    assert(ch.filter(col("_change_type") =!= "delete").count() === 0)
  }

  test("CoW update emits delete+insert pairs; netChanges cancels carry-overs") {
    val ss = spark
    import ss.implicits._
    val schema = IcebergSchema(0, Seq(
      NestedField(1, "id", IcebergType.LongT, required = false),
      NestedField(2, "v", IcebergType.DoubleT, required = false)))
    var t = GraftTable.create("cdc3", catalog, schema)
    t = t.append((1L to 10L).map(i => (i, i * 1.0)).toDF("id", "v"))
    // CoW update: v doubled where id > 8 (rewrites the whole file)
    t = t.updateWhere(Predicate.gt("id", 8L), Map("v" -> (col("v") * 2)), spark)

    val full = t.changesBetween(spark, -1L, t.metadata.currentSnapshotId.get)
    // raw: ordinal 1 rewrites only the file(s) holding matched rows —
    // every surviving row in them shows as a delete+insert pair
    val ord1raw = full.filter(col("_change_ordinal") === 1)
    val nDel = ord1raw.filter(col("_change_type") === "delete").count()
    val nIns = ord1raw.filter(col("_change_type") === "insert").count()
    assert(nDel === nIns && nDel >= 2, s"deletes=$nDel inserts=$nIns")
    val net = t.changesBetween(spark, -1L, t.metadata.currentSnapshotId.get,
      netChanges = true)
    val ord1 = net.filter(col("_change_ordinal") === 1)
    // carry-overs cancel: only the 2 updated rows remain, as ±pairs
    assert(rowsOf(ord1.filter(col("_change_type") === "delete"))
      === Seq((9L, 9.0), (10L, 10.0)))
    assert(rowsOf(ord1.filter(col("_change_type") === "insert"))
      === Seq((9L, 18.0), (10L, 20.0)))
  }

  test("an upsert emits exactly the replaced rows as deletes and its batch as inserts") {
    val ss = spark
    import ss.implicits._
    val schema = IcebergSchema(0, Seq(
      NestedField(1, "id", IcebergType.LongT, required = false),
      NestedField(2, "v", IcebergType.DoubleT, required = false)))
    var t = GraftTable.create("cdc4", catalog, schema)
    t = t.append((1L to 10L).map(i => (i, i * 1.0)).toDF("id", "v"))
    val before = t.metadata.currentSnapshotId.get
    val batch = Seq((3L, 30.0), (4L, 40.0), (11L, 110.0))
    t = t.upsert(batch.toDF("id", "v"), Seq("id")) // equality deletes + data
    assert(t.newScan().planDeletes().exists(_.file.content == graft.meta.FileContent.EqualityDeletes))

    val ch = t.changesBetween(spark, before, t.metadata.currentSnapshotId.get)
    assert(rowsOf(ch.filter(col("_change_type") === "delete")) === Seq((3L, 3.0), (4L, 4.0)))
    assert(rowsOf(ch.filter(col("_change_type") === "insert")) === batch)
  }

  test("the changelog of a position-delete, DV or equality-delete snapshot plans no join or exchange") {
    val ss = spark
    import ss.implicits._
    val schema = IcebergSchema(0, Seq(
      NestedField(1, "id", IcebergType.LongT, required = false),
      NestedField(2, "v", IcebergType.DoubleT, required = false)))
    var t = GraftTable.create("cdc5", catalog, schema,
      properties = Map("format-version" -> "3"))
    t = t.append((1L to 40L).map(i => (i, i * 1.0)).toDF("id", "v").coalesce(2))
    val deletes = Seq[(String, GraftTable => GraftTable, Seq[Long])](
      ("position deletes", _.deleteWhere(Predicate.gt("id", 35L), spark), 36L to 40L),
      ("deletion vector", _.deleteWhereDV(Predicate.lt("id", 4L), spark), 1L to 3L),
      ("equality deletes", _.equalityDelete(Seq(10L, 20L).toDF("id"), Seq("id")),
        Seq(10L, 20L)))
    deletes.foreach { case (kind, delete, gone) =>
      val parent = t.metadata.currentSnapshotId.get
      t = delete(t)
      val ch = t.changesBetween(spark, parent, t.metadata.currentSnapshotId.get)
      val optimized = ch.queryExecution.optimizedPlan
      assert(optimized.collect { case j: org.apache.spark.sql.catalyst.plans.logical.Join => j }
        .isEmpty, s"$kind: ${optimized.treeString}")
      val physical = ch.queryExecution.sparkPlan
      assert(physical.collect { case e: org.apache.spark.sql.execution.exchange.Exchange => e }
        .isEmpty, s"$kind: ${physical.treeString}")
      assert(rowsOf(ch) === gone.map(i => (i, i * 1.0)), kind)
      assert(ch.filter(col("_change_type") =!= "delete").count() === 0, kind)
    }
  }

  test("an added-files table serves its values to incremental scans and the changelog") {
    val ss = spark
    import ss.implicits._
    val dir = s"$wh/foreign_cdc6"
    (1L to 5L).map(i => (i, i * 1.0)).toDF("id", "v").coalesce(1).write.parquet(dir)
    val schema = IcebergSchema(0, Seq(
      NestedField(1, "id", IcebergType.LongT, required = false),
      NestedField(2, "v", IcebergType.DoubleT, required = false)))
    var t = GraftTable.create("cdc6", catalog, schema)
    t = t.addFiles(spark, t.io.listFiles(dir).map(_._1).filter(_.endsWith(".parquet")))
    val to = t.metadata.currentSnapshotId.get
    val expected = (1L to 5L).map(i => (i, i * 1.0))
    assert(rowsOf(t.newScan().toDF(spark)) === expected)
    assert(rowsOf(t.newScan().appendsBetween(-1L, to).toDF(spark)) === expected)
    assert(rowsOf(t.changesBetween(spark, -1L, to)) === expected)
  }
}
