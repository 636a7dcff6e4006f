package graft.table

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.HadoopCatalog
import graft.expr.Predicate
import graft.io.FileIO
import graft.spec._

/** MoR delete semantics, mirroring the reference's
  * read_positional_deletes.rs / delete_filter.rs test discipline:
  * delete → scan must equal the filtered source, time travel must still see
  * pre-delete rows, equality deletes respect sequence scoping and
  * null-keeps-row.
  */
class DeleteSpec extends AnyFunSuite with BeforeAndAfterAll {

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
    wh = java.nio.file.Files.createTempDirectory("graft-del").toString
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def catalog = new HadoopCatalog(wh, FileIO.fromSpark(spark))

  test("partition-scoped equality deletes apply only within their partition") {
    val s = spark
    import s.implicits._
    import graft.meta._
    // identity-partitioned on `part`; both partitions hold key name="b"
    val schema = IcebergSchema(0, Seq(
      NestedField(1, "id", IcebergType.LongT, required = false),
      NestedField(2, "part", IcebergType.StringT, required = false),
      NestedField(3, "name", IcebergType.StringT, required = false)))
    val spec = PartitionSpec(0, Seq(PartitionField(2, 1000, "part", Transform.Identity)))
    var t = GraftTable.create("eqscope", catalog, schema, spec)
    t = t.append(Seq(
      (1L, "p1", "a"), (2L, "p1", "b"),
      (3L, "p2", "a"), (4L, "p2", "b")).toDF("id", "part", "name"))

    // a FOREIGN-style eq delete: partition tuple ("p1"), key name="b" —
    // written by hand the way a partition-scoped writer would commit it
    val delDir = s"${t.location}/data/foreign-del"
    Seq("b").toDF("name").repartition(1).write.parquet(delDir)
    val (delPath, delLen) = t.io.listFiles(delDir)
      .filter(_._1.endsWith(".parquet")).head
    val delFile = DataFile(
      content = FileContent.EqualityDeletes,
      filePath = delPath,
      fileFormat = "PARQUET",
      partition = Seq("p1"),
      recordCount = 1L,
      fileSizeInBytes = delLen,
      equalityIds = Seq(3))
    val uuid = java.util.UUID.randomUUID().toString
    t = Commits.commitManifests(t, "delete", uuid) { (base, seq, snapshotId) =>
      val entry = ManifestEntry(ManifestStatus.Added, Some(snapshotId),
        Some(seq), Some(seq), delFile)
      Commits.writeManifest(t.io, base, s"$uuid-d0", Seq(entry),
        base.currentSchema, base.defaultSpec, ManifestContent.Deletes,
        snapshotId, seq) +: Commits.baseManifests(t.io, base)
    }

    // native DSv2 read: p1's "b" row is gone, p2's "b" row SURVIVES —
    // applying the delete globally would drop id=4 too
    val df = spark.read.format("graft")
      .option("warehouse", wh).option("table", "eqscope").load()
    assert(df.orderBy("id").collect().map(_.getLong(0)).toSeq === Seq(1L, 3L, 4L))
    val explained = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(explained.contains("BatchScan"), explained)
  }

  test("engine-global eq deletes commit under the unpartitioned spec") {
    val s = spark
    import s.implicits._
    import graft.meta._
    val schema = IcebergSchema(0, Seq(
      NestedField(1, "id", IcebergType.LongT, required = false),
      NestedField(2, "part", IcebergType.StringT, required = false),
      NestedField(3, "name", IcebergType.StringT, required = false)))
    val spec = PartitionSpec(0, Seq(PartitionField(2, 1000, "part", Transform.Identity)))
    var t = GraftTable.create("eqglobal", catalog, schema, spec)
    t = t.append(Seq(
      (1L, "p1", "a"), (2L, "p1", "b"),
      (3L, "p2", "a"), (4L, "p2", "b")).toDF("id", "part", "name"))
    t = t.equalityDelete(Seq("b").toDF("name"), Seq("name"))

    // the delete landed in BOTH partitions (global scope)
    val df = spark.read.format("graft")
      .option("warehouse", wh).option("table", "eqglobal").load()
    assert(df.orderBy("id").collect().map(_.getLong(0)).toSeq === Seq(1L, 3L))

    // and it is carried by a manifest whose spec is UNPARTITIONED — the
    // spec-compliant global marker (delete_file_index.rs:137-141); an
    // all-null tuple under the partitioned spec would be read by foreign
    // engines as "the null partition" and under-delete
    val unpartIds = t.metadata.partitionSpecs.filter(_.fields.isEmpty).map(_.specId)
    assert(unpartIds.nonEmpty, "commit must register an unpartitioned spec")
    val snap = t.metadata.currentSnapshot.get
    val partTypes = t.metadata.partitionSpecs
      .map(s => s.specId -> s.partitionType(t.metadata.currentSchema)).toMap
    val delMs = graft.meta.ManifestIO
      .readManifestList(t.io, snap.manifestList, partTypes)
      .filter(_.content == ManifestContent.Deletes)
    assert(delMs.nonEmpty && delMs.forall(m => unpartIds.contains(m.partitionSpecId)),
      s"delete manifests must use the unpartitioned spec, got ${delMs.map(_.partitionSpecId)}")
  }

  test("more equality-delete groups than the JVM cache holds: each delete file loads once per task") {
    val s = spark
    import s.implicits._
    val schema = IcebergSchema(0, Seq(
      NestedField(1, "id", IcebergType.LongT, required = false)))
    var t = GraftTable.create("eqmany", catalog, schema, PartitionSpec.unpartitioned)
    (0 until 4).foreach(f => t = t.append((f * 10L until f * 10L + 10).toDF("id")))
    // one group per commit (distinct sequence numbers), every group
    // applying to every data file — more groups than the JVM key-set cache
    val groups = 36
    (0 until groups).foreach(k => t = t.equalityDelete(Seq(k.toLong).toDF("id"), Seq("id")))
    val deleteFiles = t.newScan().planDeletes().size
    assert(deleteFiles >= groups)

    // every data file in ONE scan task, so the task moves file to file
    val one = spark.newSession()
    one.conf.set("spark.sql.files.maxPartitionBytes", (1L << 30).toString)
    one.conf.set("spark.sql.files.openCostInBytes", "1")
    one.conf.set("spark.sql.files.minPartitionNum", "1")
    val df = t.newScan().toDF(one)
    assert(df.rdd.getNumPartitions === 1)
    val before = DeleteFilter.eqFilesLoaded.get()
    assert(df.collect().map(_.getLong(0)).sorted.toSeq === (groups.toLong until 40L))
    assert(DeleteFilter.eqFilesLoaded.get() - before === deleteFiles,
      "the task must keep its key sets across its data files, not re-read " +
        "evicted groups from disk for every file")
  }

  test("all-null partition tuple under a partitioned spec scopes to the null partition") {
    val s = spark
    import s.implicits._
    import graft.meta._
    val schema = IcebergSchema(0, Seq(
      NestedField(1, "id", IcebergType.LongT, required = false),
      NestedField(2, "part", IcebergType.StringT, required = false),
      NestedField(3, "name", IcebergType.StringT, required = false)))
    val spec = PartitionSpec(0, Seq(PartitionField(2, 1000, "part", Transform.Identity)))
    var t = GraftTable.create("eqnullpart", catalog, schema, spec)
    t = t.append(Seq(
      (1L, null.asInstanceOf[String], "b"),
      (2L, "p1", "b"),
      (3L, "p2", "a")).toDF("id", "part", "name"))

    // a FOREIGN delete whose partition value is GENUINELY null: tuple
    // [null] under the PARTITIONED spec — scoped to the null partition,
    // NOT global (the old all-null-means-global rule would drop id=2 too)
    val delDir = s"${t.location}/data/foreign-nulldel"
    Seq("b").toDF("name").repartition(1).write.parquet(delDir)
    val (delPath, delLen) = t.io.listFiles(delDir)
      .filter(_._1.endsWith(".parquet")).head
    val delFile = DataFile(
      content = FileContent.EqualityDeletes,
      filePath = delPath,
      fileFormat = "PARQUET",
      partition = Seq(null),
      recordCount = 1L,
      fileSizeInBytes = delLen,
      equalityIds = Seq(3))
    val uuid = java.util.UUID.randomUUID().toString
    t = Commits.commitManifests(t, "delete", uuid) { (base, seq, snapshotId) =>
      val entry = ManifestEntry(ManifestStatus.Added, Some(snapshotId),
        Some(seq), Some(seq), delFile)
      Commits.writeManifest(t.io, base, s"$uuid-d0", Seq(entry),
        base.currentSchema, base.defaultSpec, ManifestContent.Deletes,
        snapshotId, seq) +: Commits.baseManifests(t.io, base)
    }

    val df = spark.read.format("graft")
      .option("warehouse", wh).option("table", "eqnullpart").load()
    assert(df.orderBy("id").collect().map(_.getLong(0)).toSeq === Seq(2L, 3L),
      "only the null-partition row may be deleted; p1's matching key survives")
  }

  test("upsert: eq-delete + append in ONE atomic snapshot, null keys insert") {
    val ss = spark; import ss.implicits._
    val src = Seq((1L, "a", 10), (2L, "b", 20), (3L, "c", 30)).toDF("id", "name", "v")
    var t = GraftTable.create("ups", catalog, IcebergSchema.fromSpark(src.schema))
    t = t.append(src)

    // key 2 replaced, key 4 inserted, null-key row is a plain insert
    val batch = Seq((2L, "b2", 21), (4L, "d", 40)).toDF("id", "name", "v")
      .union(Seq((null.asInstanceOf[java.lang.Long], "nk", 50))
        .toDF("id", "name", "v"))
    val before = t.metadata.snapshots.size
    t = t.upsert(batch, Seq("id"))

    assert(t.metadata.snapshots.size === before + 1, "exactly ONE commit")
    val snap = t.metadata.currentSnapshot.get
    assert(snap.operation === "overwrite")
    assert(snap.summary("added-delete-files").toInt >= 1)

    val got = t.newScan().toDF(spark)
      .collect().map(r => (Option(r.get(0)), r.getString(1), r.getInt(2))).toSet
    assert(got === Set(
      (Some(1L), "a", 10), (Some(2L), "b2", 21), (Some(3L), "c", 30),
      (Some(4L), "d", 40), (None, "nk", 50)))

    // a second upsert of the SAME key replaces the replacement (stacking
    // eq deletes scope strictly by sequence number)
    t = t.upsert(Seq((2L, "b3", 22)).toDF("id", "name", "v"), Seq("id"))
    val v2 = t.newScan().toDF(spark).filter("id = 2")
      .collect().map(r => (r.getString(1), r.getInt(2))).toSeq
    assert(v2 === Seq(("b3", 22)))

    // compaction folds the upsert deletes away; rows unchanged
    val pre = t.newScan().toDF(spark).collect().toSet
    t = t.rewriteDataFiles(spark)
    assert(t.newScan().planDeletes().isEmpty)
    assert(t.newScan().toDF(spark).collect().toSet === pre)
  }

  test("upsert: a failed data write reclaims the already-written delete keys") {
    val ss = spark; import ss.implicits._
    val src = Seq((1L, "a", 10), (2L, "b", 20)).toDF("id", "name", "v")
    val t = GraftTable.create("ups_fail", catalog, IcebergSchema.fromSpark(src.schema))
      .append(src)
    val keys = Seq((2L, "b2", 21)).toDF("id", "name", "v")
    // the key side writes from `keys`; the data side fails in its tasks
    val broken = keys.withColumn("name",
      org.apache.spark.sql.functions.expr("cast(raise_error('injected write failure') as string)"))
    val e = intercept[Exception] {
      DeleteWriter.upsert(t, broken, Seq("id"), spark, deleteKeys = Some(keys))
    }
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(c => String.valueOf(c.getMessage).contains("injected write failure")))
    val leaked = t.io.listFiles(s"${t.location}/data")
      .filter(_._1.contains("/deletes-"))
    assert(leaked.isEmpty, s"delete-key files leaked: $leaked")
    assert(t.refresh().metadata.currentSnapshotId === t.metadata.currentSnapshotId)
  }

  test("position deletes: DELETE WHERE then scan == filtered source") {
    val src = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    val schema = IcebergSchema.fromSpark(src.schema)
    var t = GraftTable.create("orders_posdel", catalog, schema)
    t = t.append(src)

    t = t.deleteWhere(Predicate.gt("o_totalprice", 200000.0), spark)
    assert(t.metadata.currentSnapshot.get.operation == "delete")

    val got = t.newScan().toDF(spark)
    val expected = src.filter("o_totalprice <= 200000.0")
    assert(got.count() == expected.count())
    assert(got.exceptAll(expected).isEmpty && expected.exceptAll(got).isEmpty)

    // time travel to the pre-delete snapshot still sees every row
    val first = t.metadata.snapshots.head.snapshotId
    assert(t.newScan().useSnapshot(first).toDF(spark).count() == src.count())

    // a second delete stacks on the first
    t = t.deleteWhere(Predicate.eqTo("o_orderstatus", "F"), spark)
    val expected2 = src.filter("o_totalprice <= 200000.0 AND o_orderstatus <> 'F'")
    val got2 = t.newScan().toDF(spark)
    assert(got2.count() == expected2.count())
    assert(got2.exceptAll(expected2).isEmpty)
  }

  test("position delete matching zero rows is a no-op commit") {
    val src = spark.read.parquet("/root/testdata/sf0.001/region.parquet")
    val schema = IcebergSchema.fromSpark(src.schema)
    var t = GraftTable.create("region_nodel", catalog, schema)
    t = t.append(src)
    val before = t.metadata.snapshots.size
    t = t.deleteWhere(Predicate.eqTo("r_name", "NO_SUCH_REGION"), spark)
    assert(t.metadata.snapshots.size == before, "empty delete must not commit")
  }

  test("equality deletes: sequence scoping and null-keeps-row") {
    val ss = spark; import ss.implicits._
    val src = Seq(
      (1L, "a"), (2L, "b"), (3L, "c"), (4L, null.asInstanceOf[String])
    ).toDF("id", "name")
    val schema = IcebergSchema.fromSpark(src.schema)
    var t = GraftTable.create("eqdel", catalog, schema)
    t = t.append(src)

    // delete rows with name in ('b', null): null must NOT match row 4
    val dels = Seq("b", null.asInstanceOf[String]).toDF("name")
    t = t.equalityDelete(dels, Seq("name"))

    val after = t.newScan().toDF(spark).orderBy("id").collect()
    assert(after.map(_.getLong(0)).toSeq == Seq(1L, 3L, 4L),
      s"expected rows 1,3,4 — null key must keep row 4; got ${after.mkString(",")}")

    // rows appended AFTER the delete (higher data seq) are not affected
    t = t.append(Seq((5L, "b")).toDF("id", "name"))
    val again = t.newScan().toDF(spark).orderBy("id").collect()
    assert(again.map(_.getLong(0)).toSeq == Seq(1L, 3L, 4L, 5L),
      "equality delete must only apply to data_seq < delete_seq")
  }

  test("position + equality deletes compose on a partitioned table") {
    val src = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    val schema = IcebergSchema.fromSpark(src.schema)
    val spec = PartitionSpec.build(schema, Seq("o_custkey" -> Transform.Bucket(4)))
    var t = GraftTable.create("orders_mixdel", catalog, schema, spec)
    t = t.append(src)

    t = t.deleteWhere(Predicate.lt("o_orderkey", 100L), spark)
    val ss = spark; import ss.implicits._
    t = t.equalityDelete(Seq("P").toDF("o_orderstatus"), Seq("o_orderstatus"))

    val got = t.newScan().toDF(spark)
    val expected = src.filter("o_orderkey >= 100 AND o_orderstatus <> 'P'")
    assert(got.count() == expected.count())
    assert(got.exceptAll(expected).isEmpty && expected.exceptAll(got).isEmpty)

    // filtered scan composes with delete application
    val filtered = t.newScan()
      .withFilter(Predicate.gt("o_totalprice", 100000.0)).toDF(spark)
    val expectedF = expected.filter("o_totalprice > 100000.0")
    assert(filtered.count() == expectedF.count())
  }

  /** `_deleted` metadata column (metadata_columns.rs:38,75): projecting it
    * serves EVERY physical row with a delete marker instead of filtering.
    * Covers parquet position deletes, deletion vectors and equality
    * deletes through the native DSv2 reader. */
  test("_deleted marker: position deletes serve all rows with the flag") {
    val src = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    val schema = IcebergSchema.fromSpark(src.schema)
    var t = GraftTable.create("orders_delmark", catalog, schema)
    t = t.append(src).deleteWhere(Predicate.gt("o_totalprice", 200000.0), spark)

    val df = spark.read.format("graft")
      .option("warehouse", wh).option("table", "orders_delmark").load()
    val marked = df.select("o_orderkey", "o_totalprice", "_deleted")
    // NOTE: the marker flips the reader only when `_deleted` SURVIVES to
    // the physical scan schema — a bare count() prunes every column and
    // the scan correctly reverts to filtering (Spark's pruning contract);
    // assertions therefore always reference the flag
    val byFlag = marked.groupBy("_deleted").count().collect()
      .map(r => r.getBoolean(0) -> r.getLong(1)).toMap
    assert(byFlag.values.sum == src.count(), "every physical row is served")
    assert(byFlag(true) == src.filter("o_totalprice > 200000.0").count())
    assert(byFlag(false) == src.filter("o_totalprice <= 200000.0").count())
    // the marker is exactly the delete predicate, row by row
    assert(marked.collect().forall(r =>
      r.getBoolean(2) == (r.getDouble(1) > 200000.0)))
    // WITHOUT the projection the same read filters as before
    assert(df.count() == src.filter("o_totalprice <= 200000.0").count())
  }

  test("_deleted marker on the V1 path: withDeletedColumn() serves and marks") {
    val ss = spark; import ss.implicits._
    val src = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    val schema = IcebergSchema.fromSpark(src.schema)
    var t = GraftTable.create("orders_v1mark", catalog, schema)
    t = t.append(src).deleteWhere(Predicate.gt("o_totalprice", 200000.0), spark)
    t = t.equalityDelete(Seq("P").toDF("o_orderstatus"), Seq("o_orderstatus"))

    val rows = t.newScan().withDeletedColumn().toDF(spark)
      .select("o_orderkey", "o_totalprice", "o_orderstatus", "_deleted")
      .collect()
    assert(rows.length == src.count(), "every physical row served")
    assert(rows.forall(r => r.getBoolean(3) ==
      (r.getDouble(1) > 200000.0 || r.getString(2) == "P")),
      "V1 marker must be the union of position and equality deletes")
    // plain withMetadataColumns() keeps the filtering semantics
    assert(t.newScan().withMetadataColumns().toDF(spark).count() ==
      src.filter("o_totalprice <= 200000.0 AND o_orderstatus <> 'P'").count())
  }

  test("_deleted marker: deletion vectors and equality deletes mark too") {
    val ss = spark; import ss.implicits._
    val src = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    val schema = IcebergSchema.fromSpark(src.schema)
    var t = GraftTable.create("orders_dvmark", catalog, schema,
      properties = Map("write.spark.max-records-per-file" -> "500"))
    t = t.append(src).deleteWhereDV(Predicate.gt("o_totalprice", 200000.0), spark)
    t = t.equalityDelete(Seq("P").toDF("o_orderstatus"), Seq("o_orderstatus"))

    val rows = spark.read.format("graft")
      .option("warehouse", wh).option("table", "orders_dvmark").load()
      .select("o_orderkey", "o_totalprice", "o_orderstatus", "_deleted")
      .collect()
    assert(rows.length == src.count())
    assert(rows.forall(r => r.getBoolean(3) ==
      (r.getDouble(1) > 200000.0 || r.getString(2) == "P")),
      "marker must be the union of DV and equality deletes")
  }
}
