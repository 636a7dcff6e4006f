package graft.table

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.HadoopCatalog
import graft.io.FileIO
import graft.spec._

/** v3 row lineage on the NATIVE DSv2 path (metadata_columns.rs:63,66 —
  * reserved ids i32.MAX-107/-108): `_row_id` and
  * `_last_updated_sequence_number` must be SQL-queryable, equal the V1
  * scan path's values row-for-row, and survive compaction (the rewrite
  * materializes per-row lineage into its output files — first_row_id
  * inheritance cannot reconstruct ids across a shuffle).
  *
  * Lineage is a v3 feature: v1/v2 tables assign no row ids, write no
  * lineage columns and read `_row_id` as null. */
class RowLineageSpec extends AnyFunSuite with BeforeAndAfterAll {

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
    wh = java.nio.file.Files.createTempDirectory("graft-lineage").toString
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def catalog = new HadoopCatalog(wh, FileIO.fromSpark(spark))

  /** Row lineage is a v3 feature: the lineage tests create v3 tables. */
  private val V3 = Map("format-version" -> "3")

  private def nativeLineage(name: String) =
    spark.read.format("graft").option("warehouse", wh).option("table", name)
      .load()
      .select(col("o_orderkey"), col("_row_id"),
        col("_last_updated_sequence_number").as("_seq"))

  private def v1Lineage(t: GraftTable) =
    t.newScan().withMetadataColumns().toDF(spark)
      .select(col("o_orderkey"), col("_row_id"),
        col("_last_updated_sequence_number").as("_seq"))

  /** key → (row_id, seq) map. */
  private def byKey(df: org.apache.spark.sql.DataFrame): Map[Long, (Long, Long)] =
    df.collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap

  test("native path equals V1 path on a two-append table") {
    val src = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    val schema = IcebergSchema.fromSpark(src.schema)
    val t = GraftTable.create("orders_lin", catalog, schema, properties = V3)
      .append(src.filter(col("o_orderkey") % 2 === 0))
      .append(src.filter(col("o_orderkey") % 2 === 1))

    val native = byKey(nativeLineage("orders_lin"))
    val v1 = byKey(v1Lineage(t))
    val n = src.count()
    assert(native.size == n)
    assert(native == v1, "native DSv2 lineage must equal the V1 scan path")
    // dense 0..N-1 across the two contiguous first_row_id blocks
    assert(native.values.map(_._1).toSeq.sorted == (0L until n).toSeq)
    // per-row last-updated = the append commit's sequence number
    val bySeq = native.groupBy(_._2._2).view.mapValues(_.size).toMap
    assert(bySeq(1L) == src.filter(col("o_orderkey") % 2 === 0).count())
    assert(bySeq(2L) == src.filter(col("o_orderkey") % 2 === 1).count())
  }

  test("compaction preserves lineage (materialized columns win)") {
    val src = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    val schema = IcebergSchema.fromSpark(src.schema)
    val before = GraftTable.create("orders_lin_c", catalog, schema,
        properties = V3 + ("write.spark.max-records-per-file" -> "300"))
      .append(src.filter(col("o_orderkey") % 2 === 0))
      .append(src.filter(col("o_orderkey") % 2 === 1))
    val pre = byKey(v1Lineage(before))

    val after = before.rewriteDataFiles(spark)
    assert(after.metadata.currentSnapshot.exists(_.operation == "replace"))
    // rewritten files carry MATERIALIZED lineage, not inherited blocks
    assert(after.newScan().planFiles().forall(_.file.firstRowId.isEmpty))

    val postNative = byKey(nativeLineage("orders_lin_c"))
    val postV1 = byKey(v1Lineage(after))
    assert(postNative == pre,
      "per-row (row_id, last_updated_seq) must survive compaction unchanged")
    assert(postV1 == pre, "V1 path must read materialized lineage too")

    // appends after compaction continue the id space densely: the replace
    // consumed no row-id block, so next-row-id is still N
    val extra = src.filter(col("o_orderkey") % 1000 === 7)
      .withColumn("o_orderkey", col("o_orderkey") + 10000000L)
    val grown = after.append(extra)
    val ids = byKey(v1Lineage(grown)).values.map(_._1).toSeq.sorted
    assert(ids == (0L until (src.count() + extra.count())).toSeq)
  }

  test("CoW UPDATE retains _row_id, refreshes sequence; untouched rows keep both") {
    val src = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    val schema = IcebergSchema.fromSpark(src.schema)
    val before = GraftTable.create("orders_lin_u", catalog, schema,
        properties = V3 + ("write.spark.max-records-per-file" -> "400"))
      .append(src)
    val pre = byKey(v1Lineage(before))

    val after = before.updateWhere(
      graft.expr.Predicate.eqTo("o_orderstatus", "F"),
      Map("o_totalprice" -> (col("o_totalprice") * 0.5)), spark)
    val updSeq = after.metadata.currentSnapshot.get.sequenceNumber
    val post = byKey(v1Lineage(after))
    val postNative = byKey(nativeLineage("orders_lin_u"))
    assert(post == postNative)
    assert(post.keySet == pre.keySet)

    val fKeys = src.filter(col("o_orderstatus") === "F")
      .select("o_orderkey").collect().map(_.getLong(0)).toSet
    post.foreach { case (k, (id, seq)) =>
      assert(id == pre(k)._1, s"row id of $k must survive the CoW update")
      if (fKeys(k)) assert(seq == updSeq, s"updated row $k must carry the new seq")
      else assert(seq == pre(k)._2, s"untouched row $k must keep its seq")
    }
  }

  test("CoW MERGE: matched keys keep ids with new seq, inserts mint fresh ids") {
    val ss = spark; import ss.implicits._
    val src = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
      .select("o_orderkey", "o_custkey", "o_totalprice")
    val schema = IcebergSchema.fromSpark(src.schema)
    val before = GraftTable.create("orders_lin_m", catalog, schema,
        properties = V3 + ("write.spark.max-records-per-file" -> "400"))
      .append(src)
    val pre = byKey(v1Lineage(before))
    val nextId = before.metadata.nextRowId

    val matchedKeys = src.select("o_orderkey").limit(50)
      .collect().map(_.getLong(0)).toSet
    val updates = src.filter(col("o_orderkey").isInCollection(matchedKeys))
      .withColumn("o_totalprice", col("o_totalprice") * 2)
    val inserts = (1 to 7).map(x => (90000000L + x, 1L, 1.0))
      .toDF("o_orderkey", "o_custkey", "o_totalprice")
    val after = before.mergeInto(updates.unionByName(inserts), Seq("o_orderkey"))
    val mergeSeq = after.metadata.currentSnapshot.get.sequenceNumber
    val post = byKey(v1Lineage(after))
    assert(post == byKey(nativeLineage("orders_lin_m")))

    post.foreach { case (k, (id, seq)) =>
      if (k >= 90000000L) {
        assert(id >= nextId, s"inserted row $k must mint a fresh id")
        assert(seq == mergeSeq)
      } else {
        assert(id == pre(k)._1, s"row id of $k must survive the merge")
        if (matchedKeys(k)) assert(seq == mergeSeq, s"matched $k gets new seq")
        else assert(seq == pre(k)._2, s"unmatched $k keeps its seq")
      }
    }
    // ids stay globally unique
    assert(post.values.map(_._1).toSeq.distinct.size == post.size)
  }

  test("zorder rewrite preserves lineage") {
    val src = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
      .select("o_orderkey", "o_custkey", "o_totalprice")
    val schema = IcebergSchema.fromSpark(src.schema)
    val before = GraftTable.create("orders_lin_z", catalog, schema,
        properties = V3 + ("write.spark.max-records-per-file" -> "300"))
      .append(src)
    val pre = byKey(v1Lineage(before))
    val after = before.rewriteDataFilesZOrder(spark,
      Seq("o_custkey", "o_totalprice"))
    assert(byKey(v1Lineage(after)) == pre)
    assert(byKey(nativeLineage("orders_lin_z")) == pre)
  }

  /** 1500 orders-shaped rows, keys 1..1500. */
  private def orders3 = spark.range(1, 1501).select(col("id").as("o_orderkey"),
    (col("id") % 97).as("o_custkey"), (col("id") * 1.5).as("o_totalprice"))

  /** Top-level parquet field ids in a data file's footer. */
  private def parquetFieldIds(path: String): Set[Int] = {
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(path), spark.sessionState.newHadoopConf())
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try r.getFooter.getFileMetaData.getSchema.getFields.asScala
      .flatMap(f => Option(f.getId).map(_.intValue)).toSet
    finally r.close()
  }

  private def livePaths(t: GraftTable): Set[String] =
    t.newScan().planFiles().map(_.file.filePath).toSet

  test("v2 tables carry no lineage: no ids assigned, no lineage columns written, _row_id null") {
    val ss = spark; import ss.implicits._
    val src = orders3
    val schema = IcebergSchema.fromSpark(src.schema)
    val name = "orders_v2_nolin"
    var t = GraftTable.create(name, catalog, schema,
      properties = Map("format-version" -> "2", "write.spark.max-records-per-file" -> "400"))
      .append(src)
    t = t.upsert(src.filter(col("o_orderkey") % 10 === 1)
      .withColumn("o_totalprice", col("o_totalprice") + 1), Seq("o_orderkey"))
    t = t.deleteWhere(graft.expr.Predicate.lt("o_orderkey", 200L), spark)
    val inserts = (1 to 7).map(x => (90000000L + x, 1L, 1.0))
      .toDF("o_orderkey", "o_custkey", "o_totalprice")
    // every rewrite's output files: they must carry no lineage field ids
    var rewritten = Set.empty[String]
    def rewrite(op: GraftTable => GraftTable, what: String): Unit = {
      val before = livePaths(t)
      val snap = t.metadata.currentSnapshotId
      t = op(t)
      assert(t.metadata.currentSnapshotId !== snap, s"$what committed nothing")
      rewritten ++= livePaths(t) -- before
    }
    rewrite(_.mergeInto(src.filter(col("o_orderkey") % 10 === 2)
      .withColumn("o_totalprice", col("o_totalprice") * 2).unionByName(inserts),
      Seq("o_orderkey")), "mergeInto")
    rewrite(_.rewriteDataFiles(spark), "rewriteDataFiles")
    t = t.append((1 to 30).map(x => (80000000L + x, 2L, 2.0))
      .toDF("o_orderkey", "o_custkey", "o_totalprice").repartition(3))
    rewrite(Maintenance.rewriteSmallFiles(_, spark), "rewriteSmallFiles")

    assert(t.metadata.formatVersion === 2)
    assert(t.metadata.nextRowId === 0L)
    assert(TableMetadata.fromJsonString(t.metadata.toJsonString).nextRowId === 0L)
    assert(t.newScan().planFiles().forall(_.file.firstRowId.isEmpty))
    assert(t.metadata.snapshots.forall(s => s.firstRowId.isEmpty && s.addedRows.isEmpty))

    assert(rewritten.nonEmpty)
    rewritten.foreach { p =>
      val ids = parquetFieldIds(p)
      assert(ids.contains(schema.findField("o_orderkey").get.id), s"$p: $ids")
      assert(!ids.contains(RowLineage.RowIdFieldId) &&
        !ids.contains(RowLineage.LastUpdatedFieldId), s"$p carries lineage: $ids")
    }

    // the merge re-inserts its deleted keys (unmatched source rows)
    val expected = src.select("o_orderkey").collect().map(_.getLong(0))
      .filter(k => k >= 200L || k % 10 == 2).toSet ++
      (1 to 7).map(90000000L + _) ++ (1 to 30).map(80000000L + _)
    val v1 = t.newScan().withMetadataColumns().toDF(spark)
      .select(col("o_orderkey"), col(RowLineage.RowIdName)).collect()
    val native = spark.read.format("graft").option("warehouse", wh).option("table", name)
      .load().select(col("o_orderkey"), col(RowLineage.RowIdName)).collect()
    Seq("V1" -> v1, "DSv2" -> native).foreach { case (path, rows) =>
      assert(rows.map(_.getLong(0)).toSet === expected, path)
      assert(rows.length === expected.size, path)
      assert(rows.forall(_.isNullAt(1)), s"$path must read _row_id null on v2")
    }
  }

  test("a v2 merge reads its candidate files once and aggregates nothing") {
    val src = orders3
    val schema = IcebergSchema.fromSpark(src.schema)
    val cat = catalog
    val name = "orders_v2_merge_plan"
    GraftTable.create(name, cat, schema, properties = Map("format-version" -> "2"))
      .append(src)
    // a next-row-id left behind by a writer that still minted ids on v2
    // must not switch the lineage path back on
    val (md, version) = cat.loadTable(name)
    cat.commitTable(name, version, md.copy(nextRowId = 1500L))
    val t = GraftTable.load(name, cat)
    assert(t.metadata.nextRowId === 1500L)

    // a fresh session, so the write clone it makes carries the listener
    val session = spark.newSession()
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[LogicalPlan]()
    session.listenerManager.register(new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.optimizedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    })
    val source = session.createDataFrame(src.filter(col("o_orderkey") % 10 === 3)
      .withColumn("o_totalprice", col("o_totalprice") * 2).collect().toSeq.asJava, src.schema)
    val after = RowOps.mergeInto(t, source, Seq("o_orderkey"), session)
    org.apache.spark.GraftListenerBridge.flushListenerBus(spark.sparkContext)

    val writes = plans.asScala.filter(_.find(_.nodeName == "InsertIntoHadoopFsRelationCommand").isDefined)
    assert(writes.size === 1, plans.asScala.map(_.treeString).mkString("\n"))
    val write = writes.head
    assert(write.collect { case r: LogicalRelation => r }.size === 1,
      s"the candidate files must be scanned once:\n${write.treeString}")
    assert(write.collect { case a: Aggregate => a }.isEmpty, write.treeString)
    assert(after.newScan().toDF(spark).count() === src.count())
    assert(after.metadata.nextRowId === 1500L)
  }

  test("v2 -> v3 upgrade: rows written before read _row_id null, new appends are dense from 0") {
    val src = orders3
    val schema = IcebergSchema.fromSpark(src.schema)
    val name = "orders_v2_upgrade"
    val old = src.filter(col("o_orderkey") % 2 === 0)
    val fresh = src.filter(col("o_orderkey") % 2 === 1)
    val t = GraftTable.create(name, catalog, schema, properties = Map("format-version" -> "2"))
      .append(old)
      .upgradeFormatVersion(3)
      .append(fresh)
    assert(t.metadata.formatVersion === 3)
    assert(t.metadata.nextRowId === fresh.count())
    val oldKeys = old.select("o_orderkey").collect().map(_.getLong(0)).toSet
    val v1 = t.newScan().withMetadataColumns().toDF(spark)
      .select(col("o_orderkey"), col(RowLineage.RowIdName)).collect()
    val native = spark.read.format("graft").option("warehouse", wh).option("table", name)
      .load().select(col("o_orderkey"), col(RowLineage.RowIdName)).collect()
    Seq("V1" -> v1, "DSv2" -> native).foreach { case (path, rows) =>
      val (before, after) = rows.partition(r => oldKeys(r.getLong(0)))
      assert(before.length === oldKeys.size, path)
      assert(before.forall(_.isNullAt(1)), s"$path: pre-upgrade rows read _row_id null")
      assert(after.map(_.getLong(1)).sorted.toSeq === (0L until fresh.count()), path)
    }
  }
}
