package graft.table

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.functions.col

import graft.catalog.HadoopCatalog
import graft.expr.{BinaryPred, Gt, LtEq}
import graft.io.FileIO
import graft.spec._
import graft.spec.IcebergType._

/** Commit-time conflict validation (serializable/snapshot isolation):
  * operations whose scan basis was invalidated by a concurrent commit
  * must ABORT, not silently resurrect or duplicate rows. Concurrency is
  * simulated with two table handles — one scans, the other commits in
  * between. */
class ConflictSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", 4)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .appName("conflict-spec")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def freshCatalog() = new HadoopCatalog(
    java.nio.file.Files.createTempDirectory("graft-conflict-").toString,
    FileIO.fromSpark(spark))

  private val schema = IcebergSchema(0, Seq(
    NestedField(1, "id", LongT, required = false),
    NestedField(2, "v", DoubleT, required = false)))

  private def df(r: Range) = {
    import spark.implicits._
    r.map(i => (i.toLong, i * 1.0)).toDF("id", "v")
  }

  test("CoW delete from a stale handle aborts after concurrent compaction") {
    val catalog = freshCatalog()
    var t = GraftTable.create("c1", catalog, schema)
    t = t.append(df(1 to 50)); t = t.append(df(51 to 100))

    val stale = GraftTable.load("c1", catalog) // scans at this snapshot
    Maintenance.rewriteDataFiles(GraftTable.load("c1", catalog), spark) // concurrent

    val err = intercept[Commits.ValidationException] {
      RowOps.overwriteWhere(stale, BinaryPred(Gt, "id", 90L), null, spark)
    }
    assert(err.getMessage.contains("removed/rewrote"))
    // and the table is intact: nothing half-committed
    assert(GraftTable.load("c1", catalog).newScan().toDF(spark).count() === 100)
  }

  test("MoR position delete from a stale handle aborts after concurrent compaction") {
    val catalog = freshCatalog()
    var t = GraftTable.create("c2", catalog, schema)
    t = t.append(df(1 to 50)); t = t.append(df(51 to 100))
    val stale = GraftTable.load("c2", catalog)
    Maintenance.rewriteDataFiles(GraftTable.load("c2", catalog), spark)
    intercept[Commits.ValidationException] {
      stale.deleteWhere(BinaryPred(LtEq, "id", 10L), spark)
    }
    assert(GraftTable.load("c2", catalog).newScan().toDF(spark).count() === 100)
  }

  test("serializable CoW delete aborts on concurrent matching append; snapshot isolation proceeds") {
    val catalog = freshCatalog()
    var t = GraftTable.create("c3", catalog, schema)
    t = t.append(df(1 to 100))

    val stale = GraftTable.load("c3", catalog)
    GraftTable.load("c3", catalog).append(df(101 to 110)) // concurrent append

    intercept[Commits.ValidationException] {
      RowOps.overwriteWhere(stale, BinaryPred(Gt, "id", 90L), null, spark)
    }

    // snapshot isolation: the same race is allowed — the delete applies
    // to the rows it scanned (1..110), the concurrent append's stay
    GraftTable.load("c3", catalog)
      .updateProperties(Map("write.delete.isolation-level" -> "snapshot"))
    val stale2 = GraftTable.load("c3", catalog) // sees 1..110
    GraftTable.load("c3", catalog).append(df(111 to 120))
    RowOps.overwriteWhere(stale2, BinaryPred(Gt, "id", 95L), null, spark)
    // 1..95 survive the delete, 111..120 survive the race
    assert(GraftTable.load("c3", catalog).newScan().toDF(spark).count() === 105)
  }

  Seq[(String, (GraftTable, graft.expr.Predicate) => GraftTable)](
    "position deletes" -> ((t, p) => t.deleteWhere(p, spark)),
    "deletion vectors" -> ((t, p) => t.deleteWhereDV(p, spark))
  ).zipWithIndex.foreach { case ((what, delete), i) =>
    test(s"serializable MoR delete ($what) of boundary files aborts on concurrent matching append; snapshot isolation proceeds") {
      val catalog = freshCatalog()
      val name = s"c7_$i"
      var t = GraftTable.create(name, catalog, schema)
      t = t.append(df(1 to 100).coalesce(1))

      // id > 50 matches part of the one data file: no whole-file drop —
      // the same isolation rule must hold
      val stale = GraftTable.load(name, catalog)
      GraftTable.load(name, catalog).append(df(101 to 110)) // concurrent append
      intercept[Commits.ValidationException] {
        delete(stale, BinaryPred(Gt, "id", 50L))
      }
      assert(GraftTable.load(name, catalog).newScan().toDF(spark).count() === 110)

      // snapshot isolation: the delete applies to the rows it scanned
      // (1..110), the concurrent append's 111..120 stay
      GraftTable.load(name, catalog)
        .updateProperties(Map("write.delete.isolation-level" -> "snapshot"))
      val stale2 = GraftTable.load(name, catalog)
      GraftTable.load(name, catalog).append(df(111 to 120))
      delete(stale2, BinaryPred(Gt, "id", 50L))
      assert(GraftTable.load(name, catalog).newScan().toDF(spark).count() === 60)
    }
  }

  test("a merge from a stale handle commits its files under the spec they were written with") {
    val catalog = freshCatalog()
    var t = GraftTable.create("c8", catalog, schema)
    t = t.append(df(1 to 100))

    val stale = GraftTable.load("c8", catalog) // unpartitioned
    GraftTable.load("c8", catalog).updateSpec(Seq("id" -> Transform.Bucket(4)))
    RowOps.mergeInto(stale, df(95 to 105).withColumn("v", col("v") * 10),
      Seq("id"), spark)

    val fresh = GraftTable.load("c8", catalog)
    assert(fresh.spec.specId !== stale.spec.specId)
    val snap = fresh.metadata.currentSnapshotId.get
    val added = Commits.baseManifests(fresh.io, fresh.metadata).filter(m =>
      m.content == graft.meta.ManifestContent.Data && m.addedSnapshotId == snap &&
        m.addedFilesCount > 0)
    assert(added.nonEmpty && added.forall(_.partitionSpecId == stale.spec.specId),
      added.map(_.partitionSpecId))
    assert(fresh.newScan().toDF(spark).count() === 105)
    val merged = fresh.newScan()
      .withFilter(graft.expr.Predicate.bind(BinaryPred(Gt, "id", 94L), fresh.schema))
      .toDF(spark).filter(col("id") > 94).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(merged === (95 to 105).map(i => i.toLong -> i * 10.0).toMap)
  }

  test("CoW rewrite aborts when a concurrent MoR delete targets its files") {
    val catalog = freshCatalog()
    var t = GraftTable.create("c6", catalog, schema)
    t = t.append(df(1 to 100))

    // stale handle scans pre-delete rows; a concurrent MoR position
    // delete then removes id<=10. The CoW rewrite adds NO data files and
    // removes none the delete tombstoned — only the Deletes-manifest
    // check can catch it (committing would resurrect ids 1..10).
    val stale = GraftTable.load("c6", catalog)
    GraftTable.load("c6", catalog)
      .deleteWhere(BinaryPred(LtEq, "id", 10L), spark) // concurrent MoR delete
    val err = intercept[Commits.ValidationException] {
      RowOps.updateWhere(stale, BinaryPred(Gt, "id", 0L),
        Map("v" -> (col("v") * 2)), spark)
    }
    assert(err.getMessage.contains("delete files"))
    assert(GraftTable.load("c6", catalog).newScan().toDF(spark).count() === 90)

    // file-PRECISE validation (PosDeleteIndex binding): a concurrent
    // delete whose referenced data file is DISJOINT from the rewritten
    // set does not abort — ids>95 live in the last 25-row file, the
    // rewrite folds only the id<=50 files. The rewrite commits and both
    // effects land exactly: 85 rows minus the 40 still-live ids<=50.
    GraftTable.load("c6", catalog)
      .updateProperties(Map("write.delete.isolation-level" -> "snapshot"))
    val stale2 = GraftTable.load("c6", catalog)
    GraftTable.load("c6", catalog).deleteWhere(BinaryPred(Gt, "id", 95L), spark)
    RowOps.overwriteWhere(stale2, BinaryPred(LtEq, "id", 50L), null, spark)
    assert(GraftTable.load("c6", catalog).newScan().toDF(spark).count() === 45)

    // snapshot isolation does NOT waive the check when the delete DOES
    // bind to a rewritten file: ids>=90 reference the same last file the
    // id>80 rewrite folds — committing would resurrect them
    val stale3 = GraftTable.load("c6", catalog)
    GraftTable.load("c6", catalog)
      .deleteWhere(BinaryPred(Gt, "id", 89L), spark)
    intercept[Commits.ValidationException] {
      RowOps.overwriteWhere(stale3, BinaryPred(Gt, "id", 80L), null, spark)
    }
    assert(GraftTable.load("c6", catalog).newScan().toDF(spark).count() === 39)
  }

  test("mixed concurrent appends + CoW deletes converge exactly (replan on abort)") {
    import scala.concurrent.{Await, Future, ExecutionContext}
    import scala.concurrent.duration._
    implicit val ec: ExecutionContext = ExecutionContext.global
    val catalog = freshCatalog()
    GraftTable.create("c5", catalog, schema)
    GraftTable.load("c5", catalog).append(df(1 to 100))

    // writers append disjoint ranges; deleters remove disjoint ranges,
    // replanning from fresh state whenever validation aborts them —
    // the client-side contract the ValidationException is designed for
    def retrying[A](op: => A): A = {
      var out: Option[A] = None
      var attempts = 0
      while (out.isEmpty) {
        attempts += 1
        require(attempts <= 50, "no convergence")
        try out = Some(op)
        catch { case _: Commits.ValidationException => Thread.sleep(10) }
      }
      out.get
    }
    val writers = (1 to 3).map { w =>
      Future {
        val lo = 1000 * w
        GraftTable.load("c5", catalog).append(df(lo to lo + 49))
      }
    }
    val deleters = Seq((1, 20), (41, 60)).map { case (lo, hi) =>
      Future {
        retrying {
          RowOps.overwriteWhere(GraftTable.load("c5", catalog),
            graft.expr.And(
              BinaryPred(graft.expr.GtEq, "id", lo.toLong),
              BinaryPred(LtEq, "id", hi.toLong)),
            null, spark)
        }
      }
    }
    Await.result(Future.sequence(writers ++ deleters), 120.seconds)

    // 100 base + 150 appended − 40 deleted, regardless of interleaving
    val fin = GraftTable.load("c5", catalog)
    assert(fin.newScan().toDF(spark).count() === 210)
    assert(fin.newScan().toDF(spark)
      .filter(col("id") >= 1 && col("id") <= 20).count() === 0)
  }

  test("compaction tolerates a concurrent append but aborts on concurrent deletes") {
    val catalog = freshCatalog()
    var t = GraftTable.create("c4", catalog, schema)
    t = t.append(df(1 to 50)); t = t.append(df(51 to 100))

    // append lands while compaction is underway: both survive
    val compactor = GraftTable.load("c4", catalog)
    GraftTable.load("c4", catalog).append(df(101 to 150))
    val compacted = Maintenance.rewriteDataFiles(compactor, spark)
    assert(GraftTable.load("c4", catalog).newScan().toDF(spark).count() === 150)

    // a delete file committed mid-compaction must abort the rewrite
    val compactor2 = GraftTable.load("c4", catalog)
    GraftTable.load("c4", catalog).deleteWhere(BinaryPred(LtEq, "id", 5L), spark)
    intercept[Commits.ValidationException] {
      Maintenance.rewriteDataFiles(compactor2, spark)
    }
    assert(GraftTable.load("c4", catalog).newScan().toDF(spark).count() === 145)
  }

  /** A catalog whose first swap loses a race: just before it, `concurrent`
    * commits through the inner catalog, so the swap conflicts and the
    * commit retries against the moved base. */
  private class LosesFirstSwap(inner: graft.catalog.Catalog,
      concurrent: () => Unit) extends graft.catalog.Catalog {
    @volatile var raced = false
    override def io = inner.io
    override def createTable(name: String, schema: IcebergSchema,
        spec: PartitionSpec, properties: Map[String, String]) =
      inner.createTable(name, schema, spec, properties)
    override def loadTable(name: String) = inner.loadTable(name)
    override def tableExists(name: String) = inner.tableExists(name)
    override def dropTable(name: String) = inner.dropTable(name)
    override def listTables() = inner.listTables()
    override def commitTable(name: String, baseVersion: Int,
        updated: TableMetadata): Int = {
      if (!raced) { raced = true; concurrent() }
      inner.commitTable(name, baseVersion, updated)
    }
    override protected def registerParsed(name: String,
        md: TableMetadata): Unit = ()
  }

  private def ids(t: GraftTable): Seq[Long] = {
    import spark.implicits._
    t.newScan().toDF(spark).select("id").as[Long].collect().toSeq.sorted
  }

  // The retry rewrites the same base manifests after a concurrent append
  // put a new one in front of them; each rewrite must land under a path
  // no earlier attempt wrote, or the manifest cache serves the failed
  // attempt's entries for it.
  test("a compaction retried after a concurrent append tombstones every source file") {
    val catalog = freshCatalog()
    var t = GraftTable.create("c9", catalog, schema)
    t = t.append(df(1 to 50).coalesce(1)); t = t.append(df(51 to 100).repartition(3))
    assert(t.newScan().planFiles().size === 4)

    val raced = new LosesFirstSwap(catalog,
      () => GraftTable.load("c9", catalog).append(df(101 to 110).coalesce(1)))
    Maintenance.rewriteDataFiles(GraftTable.load("c9", raced), spark)
    assert(raced.raced)
    val fresh = GraftTable.load("c9", catalog)
    assert(fresh.metadata.currentSnapshot.get.summary("deleted-data-files") === "4")
    assert(ids(fresh) === (1L to 110L))
    // the losing attempt's manifests are gone: every manifest on disk is
    // in some snapshot's list
    def name(p: String) = p.substring(p.lastIndexOf('/') + 1)
    val listed = fresh.metadata.snapshots.flatMap(s =>
      graft.meta.ManifestIO.readManifestList(fresh.io, s.manifestList, fresh.partTypes,
        None).map(m => name(m.manifestPath))).toSet
    val onDisk = fresh.io.listFiles(s"${fresh.location}/metadata").map(f => name(f._1))
      .filter(n => n.endsWith(".avro") && !n.startsWith("snap-"))
    assert(onDisk.nonEmpty && onDisk.filterNot(listed).isEmpty,
      s"unlisted manifests: ${onDisk.filterNot(listed)}")
  }

  /** A catalog whose every swap fails with `err()`. */
  private class FailsSwap(inner: graft.catalog.Catalog, err: () => Throwable)
      extends graft.catalog.Catalog {
    override def io = inner.io
    override def createTable(name: String, schema: IcebergSchema,
        spec: PartitionSpec, properties: Map[String, String]) =
      inner.createTable(name, schema, spec, properties)
    override def loadTable(name: String) = inner.loadTable(name)
    override def tableExists(name: String) = inner.tableExists(name)
    override def dropTable(name: String) = inner.dropTable(name)
    override def listTables() = inner.listTables()
    override def commitTable(name: String, baseVersion: Int,
        updated: TableMetadata): Int = throw err()
    override protected def registerParsed(name: String,
        md: TableMetadata): Unit = ()
  }

  test("a commit that finally conflicts deletes its manifests; an unknown swap error keeps them") {
    val catalog = freshCatalog()
    GraftTable.create("c11", catalog, schema, properties = Map(
      "commit.retry.num-retries" -> "1", "commit.retry.min-wait-ms" -> "1"))
    val t = GraftTable.load("c11", catalog).append(df(1 to 10).coalesce(1))
    def manifests() = t.io.listFiles(s"${t.location}/metadata").map(_._1)
      .filter(p => p.endsWith(".avro") && !p.contains("/snap-")).toSet
    val before = manifests()
    intercept[graft.catalog.CommitConflict] {
      GraftTable.load("c11", new FailsSwap(catalog,
        () => graft.catalog.CommitConflict("synthetic"))).append(df(11 to 20).coalesce(1))
    }
    assert(manifests() === before, "both attempts' manifests are deleted")
    // the swap may have landed behind an unknown error: nothing is deleted
    intercept[IllegalStateException] {
      GraftTable.load("c11", new FailsSwap(catalog,
        () => new IllegalStateException("no response"))).append(df(21 to 30).coalesce(1))
    }
    assert((manifests() -- before).size === 1)
  }

  test("a CoW delete retried after a concurrent append keeps the survivors of every manifest") {
    val catalog = freshCatalog()
    var t = GraftTable.create("c10", catalog, schema)
    t = t.append(df(1 to 50).repartitionByRange(2, col("id")))
    t = t.append(df(51 to 100).repartitionByRange(2, col("id")))

    val raced = new LosesFirstSwap(catalog,
      () => GraftTable.load("c10", catalog).append(df(101 to 110).coalesce(1)))
    RowOps.overwriteWhere(GraftTable.load("c10", raced),
      graft.expr.And(BinaryPred(Gt, "id", 40L), BinaryPred(LtEq, "id", 60L)), null, spark)
    assert(raced.raced)
    val fresh = GraftTable.load("c10", catalog)
    assert(fresh.metadata.currentSnapshot.get.summary("deleted-data-files") === "2")
    assert(ids(fresh) === (1L to 40L) ++ (61L to 110L))
  }

  test("commit.retry.* table properties tune the retry policy") {
    import graft.catalog.{Catalog => GCatalog, CommitConflict, CommitRetry}
    // wrapper backend: commitTable always conflicts, counting attempts
    class AlwaysConflict(inner: GCatalog) extends GCatalog {
      val attempts = new java.util.concurrent.atomic.AtomicInteger
      override def io = inner.io
      override def createTable(name: String, schema: IcebergSchema,
          spec: PartitionSpec, properties: Map[String, String]) =
        inner.createTable(name, schema, spec, properties)
      override def loadTable(name: String) = inner.loadTable(name)
      override def tableExists(name: String) = inner.tableExists(name)
      override def dropTable(name: String) = inner.dropTable(name)
      override def listTables() = inner.listTables()
      override def commitTable(name: String, baseVersion: Int,
          updated: TableMetadata): Int = {
        attempts.incrementAndGet()
        throw CommitConflict("synthetic")
      }
      override protected def registerParsed(name: String,
          md: TableMetadata): Unit = ()
    }
    val catalog = freshCatalog()
    // num-retries=0: exactly ONE attempt, no sleeps
    GraftTable.create("retry0", catalog, schema,
      properties = Map("commit.retry.num-retries" -> "0",
        "commit.retry.min-wait-ms" -> "1"))
    val c0 = new AlwaysConflict(catalog)
    intercept[CommitConflict] {
      CommitRetry.run(c0, "retry0") { (base, _) =>
        (base.copy(lastUpdatedMs = base.lastUpdatedMs + 1), (_: Int) => ())
      }
    }
    assert(c0.attempts.get() == 1, s"expected 1 attempt, saw ${c0.attempts.get()}")

    // num-retries=2 with ms-scale waits: exactly three attempts
    GraftTable.create("retry2", catalog, schema,
      properties = Map("commit.retry.num-retries" -> "2",
        "commit.retry.min-wait-ms" -> "1", "commit.retry.max-wait-ms" -> "2"))
    val c2 = new AlwaysConflict(catalog)
    intercept[CommitConflict] {
      CommitRetry.run(c2, "retry2") { (base, _) =>
        (base.copy(lastUpdatedMs = base.lastUpdatedMs + 1), (_: Int) => ())
      }
    }
    assert(c2.attempts.get() == 3, s"expected 3 attempts, saw ${c2.attempts.get()}")
  }
}
