package graft.table

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.HadoopCatalog
import graft.expr.Predicate
import graft.io.FileIO
import graft.meta.ManifestCache
import graft.spec._
import graft.spec.IcebergType._

/** The file-level snapshot producer behind [[Commits.commit]]: which base
  * manifests a commit opens, and which entries its tombstones hit. */
class SnapshotProducerSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", 4)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .appName("snapshot-producer-spec")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def catalog = new HadoopCatalog(
    java.nio.file.Files.createTempDirectory("graft-producer-").toString,
    FileIO.fromSpark(spark))

  private val schema = IcebergSchema(0, Seq(
    NestedField(1, "id", LongT, required = false),
    NestedField(2, "v", DoubleT, required = false)))

  private def df(r: Range) = {
    val ss = spark; import ss.implicits._
    r.map(i => (i.toLong, i * 1.0)).toDF("id", "v")
  }

  private def listed(t: GraftTable): Seq[String] =
    Commits.baseManifests(t.io, t.metadata).map(_.manifestPath)

  /** Runs `op` with every manifest now in `t`'s metadata directory moved
    * aside, so opening one fails; manifest lists stay readable. */
  private def withManifestsHidden[A](t: GraftTable)(op: => A): A = {
    val dir = s"${t.location}/metadata"
    val fs = t.io.fs(dir)
    val hidden = t.io.listFiles(dir).map(_._1)
      .filter(p => p.endsWith(".avro") && !new Path(p).getName.startsWith("snap-"))
    assert(hidden.nonEmpty)
    hidden.foreach(p => fs.rename(new Path(p), new Path(p + ".hidden")))
    try op finally hidden.foreach(p => fs.rename(new Path(p + ".hidden"), new Path(p)))
  }

  test("a commit that removes nothing opens no base manifest: append, upsert, boundary delete") {
    var t = GraftTable.create("noread", catalog, schema)
    t = t.append(df(1 to 100)).append(df(101 to 200))
    // a data file away from the upserted ids 1..5
    val target = t.newScan().withFilter(Predicate.bind(Predicate.eqTo("id", 150L), t.schema))
      .planFiles().head.file.filePath
    val before = listed(t)

    // no manifest cache: every manifest read opens its file
    val capacity = ManifestCache.capacity
    ManifestCache.configure(0)
    try t = withManifestsHidden(t) {
      val upserted = t.append(df(201 to 210))
        .upsert(df(1 to 5).withColumn("v", col("v") * 10), Seq("id"))
      // the commit of a delete that drops no whole file: position
      // deletes added, nothing removed
      val ss = spark; import ss.implicits._
      val uuid = java.util.UUID.randomUUID().toString
      val posDeletes = DeleteWriter.stageDeleteFiles(upserted,
        Seq((target, 0L), (target, 1L)).toDF("file_path", "pos"),
        graft.meta.FileContent.PositionDeletes, Nil, uuid)
      Commits.commit(upserted, "delete", uuid)(
        _ => Commits.FileChanges(addedDeletes = posDeletes))
    } finally ManifestCache.configure(capacity)
    val ops = t.metadata.snapshots.takeRight(3).map(_.operation)
    assert(ops === Seq("append", "overwrite", "delete"))
    // every base manifest rides into the new list as it was
    assert(before.forall(listed(t).contains))

    val rows = t.newScan().toDF(spark).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(rows.size === 208)
    assert((1 to 5).forall(i => rows(i.toLong) == i * 10.0))
  }

  test("superseding one deletion vector keeps the sibling blobs of its Puffin file") {
    var t = GraftTable.create("dvsiblings", catalog, schema)
    t = t.append(df(1 to 100)).append(df(101 to 200))
    // one shuffle partition: both files' vectors land in ONE Puffin file
    val prior = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "1")
    try t = t.deleteWhereDV(Predicate.in("id", 10L, 110L), spark)
    finally spark.conf.set("spark.sql.shuffle.partitions", prior)
    def dvs(tb: GraftTable) = tb.newScan().planDeletes().map(_.file)
      .filter(_.fileFormat == "PUFFIN")
    val shared = dvs(t)
    assert(shared.size === 2 && shared.map(_.filePath).distinct.size === 1,
      shared.map(_.filePath))

    // a new vector for the low file supersedes (and absorbs) its blob alone
    t = t.deleteWhereDV(Predicate.eqTo("id", 20L), spark)
    val (merged, kept) = dvs(t).partition(_.recordCount == 2)
    assert(merged.size === 1 && kept.size === 1, dvs(t))
    assert(merged.head.filePath !== shared.head.filePath)
    assert(shared.contains(kept.head), "the sibling blob's entry stays alive, unchanged")
    val ids = t.newScan().toDF(spark).collect().map(_.getLong(0)).toSet
    assert(ids === (1L to 200L).toSet -- Set(10L, 20L, 110L))
  }
}
