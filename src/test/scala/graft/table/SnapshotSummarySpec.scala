package graft.table

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.catalog.HadoopCatalog
import graft.expr.Predicate
import graft.io.FileIO
import graft.spec._

/** Snapshot summaries carry the reference's full metric set
  * (spec/snapshot_summary.rs): added/removed/total properties, zero
  * values omitted, parent-incremented totals, and the partition rollups
  * behind write.summary.partition-limit. */
class SnapshotSummarySpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", 4)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .appName("snapshot-summary-spec")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def catalog = new HadoopCatalog(
    java.nio.file.Files.createTempDirectory("graft-sum").toString,
    FileIO.fromSpark(spark))

  test("append + delete: full metric set, totals increment, zeros omitted") {
    val ss = spark; import ss.implicits._
    val schema = IcebergSchema(0, Seq(
      NestedField(1, "id", IcebergType.LongT, required = false),
      NestedField(2, "v", IcebergType.DoubleT, required = false)))
    var t = GraftTable.create("sums", catalog, schema)
    t = t.append((1L to 100L).map(i => (i, i * 1.0)).toDF("id", "v"))

    val s1 = t.metadata.currentSnapshot.get.summary
    assert(s1("added-data-files").toLong >= 1)
    assert(s1("added-records") == "100")
    assert(s1("added-files-size").toLong > 0)
    assert(s1("total-records") == "100")
    assert(s1("total-data-files") == s1("added-data-files"))
    assert(s1("total-files-size") == s1("added-files-size"))
    // zero metrics are omitted (set_if_positive)
    assert(!s1.contains("deleted-records") && !s1.contains("added-delete-files"))

    // second append increments the running totals
    t = t.append((101L to 150L).map(i => (i, i * 1.0)).toDF("id", "v"))
    val s2 = t.metadata.currentSnapshot.get.summary
    assert(s2("added-records") == "50")
    assert(s2("total-records") == "150")
    assert(s2("total-files-size").toLong ==
      s1("total-files-size").toLong + s2("added-files-size").toLong)

    // MoR position delete: delete-file metrics + position-delete totals
    t = t.deleteWhere(Predicate.gt("v", 120.0), spark)
    val s3 = t.metadata.currentSnapshot.get.summary
    assert(s3("added-delete-files").toLong >= 1)
    assert(s3("added-position-delete-files") == s3("added-delete-files"))
    assert(s3("added-position-deletes") == "30")
    assert(s3("total-position-deletes") == "30")
    assert(s3("total-records") == "150", "MoR delete leaves physical rows")
    assert(s3("total-delete-files") == s3("added-delete-files"))

    // equality delete rolls into the equality metrics
    t = t.equalityDelete(Seq(1L).toDF("id"), Seq("id"))
    val s4 = t.metadata.currentSnapshot.get.summary
    assert(s4("added-equality-deletes") == "1")
    assert(s4("total-equality-deletes") == "1")
    assert(s4("total-position-deletes") == "30", "carried forward")
  }

  test("added-records and added-files-size match the committed files: append, upsert, delete, merge") {
    val ss = spark; import ss.implicits._
    val schema = IcebergSchema(0, Seq(
      NestedField(1, "id", IcebergType.LongT, required = false),
      NestedField(2, "v", IcebergType.DoubleT, required = false)))
    def rows(r: Range, scale: Double = 1.0) = r.map(i => (i.toLong, i * scale)).toDF("id", "v")
    def dataPaths(t: GraftTable) = t.newScan().planFiles().map(_.file.filePath).toSet
    def allPaths(t: GraftTable) =
      dataPaths(t) ++ t.newScan().planDeletes().map(_.file.filePath)
    /** The summary against the files the commit added, read off disk:
      * their bytes, and the rows of its new data files. */
    def check(before: GraftTable, after: GraftTable, what: String): Unit = {
      val s = after.metadata.currentSnapshot.get.summary
      val added = (allPaths(after) -- allPaths(before)).toSeq
      val data = added.filter(dataPaths(after))
      val records = if (data.isEmpty) 0L else spark.read.parquet(data: _*).count()
      assert(s.get("added-records").map(_.toLong).getOrElse(0L) === records, what)
      assert(s("added-files-size").toLong === added.map(after.io.size).sum, what)
    }

    val t0 = GraftTable.create("sumfiles", catalog, schema)
    val t1 = t0.append(rows(1 to 100))
    check(t0, t1, "append")
    assert(t1.metadata.currentSnapshot.get.summary("added-records") === "100")
    val t2 = t1.upsert(rows(95 to 104, 10.0), Seq("id"))
    check(t1, t2, "upsert")
    assert(t2.metadata.currentSnapshot.get.summary("added-records") === "10")
    // boundary delete: position-delete files only, no data rows added
    val t3 = t2.deleteWhere(Predicate.gt("id", 20L).and(Predicate.lt("id", 31L)), spark)
    check(t2, t3, "delete")
    assert(!t3.metadata.currentSnapshot.get.summary.contains("added-records"))
    val t4 = t3.mergeInto(rows(1 to 5, 2.0).unionByName(rows(200 to 201)), Seq("id"))
    check(t3, t4, "merge")
  }

  test("partition rollups appear under the configured limit only") {
    val ss = spark; import ss.implicits._
    val schema = IcebergSchema(0, Seq(
      NestedField(1, "id", IcebergType.LongT, required = false),
      NestedField(2, "part", IcebergType.StringT, required = false)))
    val spec = PartitionSpec(0, Seq(PartitionField(2, 1000, "part", Transform.Identity)))

    // default limit 0: changed-partition-count present, partitions.* not
    var t0 = GraftTable.create("sump0", catalog, schema, spec)
    t0 = t0.append(Seq((1L, "a"), (2L, "b")).toDF("id", "part"))
    val d0 = t0.metadata.currentSnapshot.get.summary
    assert(d0("changed-partition-count") == "2")
    assert(!d0.keys.exists(_.startsWith("partitions.")))

    // explicit limit: per-partition rollups render as k=v lists
    var t = GraftTable.create("sump", catalog, schema, spec,
      properties = Map(SnapshotSummary.PartitionLimitProp -> "10"))
    t = t.append(Seq((1L, "a"), (2L, "a"), (3L, "b")).toDF("id", "part"))
    val s = t.metadata.currentSnapshot.get.summary
    assert(s("changed-partition-count") == "2")
    val pa = s("partitions.part=a")
    assert(pa.contains("added-records=2") && pa.contains("added-data-files="))
    assert(s("partitions.part=b").contains("added-records=1"))

    // over the limit: rollups drop, count stays
    var t2 = GraftTable.create("sump2", catalog, schema, spec,
      properties = Map(SnapshotSummary.PartitionLimitProp -> "1"))
    t2 = t2.append(Seq((1L, "a"), (3L, "b")).toDF("id", "part"))
    val s2 = t2.metadata.currentSnapshot.get.summary
    assert(s2("changed-partition-count") == "2")
    assert(!s2.keys.exists(_.startsWith("partitions.")))
  }
}
