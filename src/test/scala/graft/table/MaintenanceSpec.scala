package graft.table

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.HadoopCatalog
import graft.expr.Predicate
import graft.io.FileIO
import graft.meta.FileContent
import graft.spec._

class MaintenanceSpec extends AnyFunSuite with BeforeAndAfterAll {

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
    wh = java.nio.file.Files.createTempDirectory("graft-maint").toString
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def catalog = new HadoopCatalog(wh, FileIO.fromSpark(spark))

  test("cherrypick publishes a staged append after main advanced") {
    val ss = spark; import ss.implicits._
    val schema = IcebergSchema(0, Seq(
      NestedField(1, "id", IcebergType.LongT, required = false),
      NestedField(2, "v", IcebergType.StringT, required = false)))
    var t = GraftTable.create("cherry", catalog, schema)
    t = t.append(Seq((1L, "base")).toDF("id", "v"))

    // stage an audit append on a branch, then advance MAIN independently —
    // fast-forward is now impossible (diverged), cherry-pick is the publish
    t = t.createBranch("audit")
    t = t.appendToBranch(Seq((2L, "staged")).toDF("id", "v"), "audit")
    val staged = t.metadata.refs("audit").snapshotId
    t = t.append(Seq((3L, "mainline")).toDF("id", "v"))
    intercept[IllegalArgumentException](t.publish("audit"))

    t = t.cherrypick(staged)
    val got = t.newScan().toDF(spark).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got === Seq((1L, "base"), (2L, "staged"), (3L, "mainline")))
    val snap = t.metadata.currentSnapshot.get
    assert(snap.operation === "append")
    assert(snap.summary.get("source-snapshot-id").contains(staged.toString))

    // already an ancestor → no-op; non-append snapshots are refused
    assert(t.cherrypick(staged).metadata.currentSnapshotId ===
      t.metadata.currentSnapshotId)
    t = t.deleteWhere(Predicate.eqTo("id", 3L), spark)
    val delSnap = t.metadata.currentSnapshotId.get
    t = t.rollbackTo(snap.snapshotId)
    intercept[IllegalArgumentException](t.cherrypick(delSnap))
  }

  test("rewritePositionDeletes compacts delete files and drops dangling rows") {
    val src = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    val schema = IcebergSchema.fromSpark(src.schema)
    var t = GraftTable.create("orders_pdrw", catalog, schema)
    t = t.append(src.filter("o_orderkey % 2 = 0"))
    t = t.append(src.filter("o_orderkey % 2 = 1"))
    // three separate delete commits → three (or more) pos-delete files
    t = t.deleteWhere(Predicate.gt("o_totalprice", 250000.0), spark)
    t = t.deleteWhere(Predicate.eqTo("o_orderstatus", "F"), spark)
    t = t.deleteWhere(Predicate.lt("o_totalprice", 1000.0), spark)
    def posFiles(tb: GraftTable) = tb.newScan().planDeletes().filter(d =>
      d.file.content == FileContent.PositionDeletes && d.file.fileFormat != "PUFFIN")
    val before = posFiles(t)
    assert(before.size >= 3, s"expected ≥3 pos-delete files, got ${before.size}")
    val expected = t.newScan().toDF(spark).collect().toSeq

    // plant a DANGLING delete row: references a data file that is not
    // alive (foreign engines leave these behind after compactions)
    val ss = spark; import ss.implicits._
    t = {
      val rows = Seq((s"${t.location}/data/no-such-file.parquet", 0L))
        .toDF("file_path", "pos")
      val dir = s"${t.location}/data/dangling"
      rows.write.parquet(dir)
      val (p, len) = t.io.listFiles(dir).filter(_._1.endsWith(".parquet")).head
      val df = graft.meta.DataFile(content = FileContent.PositionDeletes,
        filePath = p, fileFormat = "PARQUET", partition = Nil,
        recordCount = 1L, fileSizeInBytes = len)
      val uuid = java.util.UUID.randomUUID().toString
      Commits.commit(t, "delete", uuid)(_ => Commits.FileChanges(addedDeletes = Seq(df)))
    }
    val totalRowsBefore = posFiles(t).map(_.file.recordCount).sum

    t = t.rewritePositionDeletes(spark)
    assert(t.metadata.currentSnapshot.get.operation === "replace")
    val after = posFiles(t)
    assert(after.size < before.size + 1,
      s"compaction must reduce delete-file count: ${before.size + 1} -> ${after.size}")
    // the planted dangling row is GONE from the compacted set
    assert(after.map(_.file.recordCount).sum === totalRowsBefore - 1,
      "dangling delete row must be dropped")
    // preserved data sequence: compacted deletes still apply to all data
    val got = t.newScan().toDF(spark).collect().toSeq
    assert(got.size === expected.size)
    assert(got.toSet === expected.toSet)
    // rows appended AFTER the rewrite are untouched by the old deletes
    t = t.append(src.filter("o_totalprice > 250000.0").limit(5))
    assert(t.newScan().toDF(spark).count() === expected.size + 5)
  }

  test("compaction folds deletes in, drops file count, preserves rows") {
    val src = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    val schema = IcebergSchema.fromSpark(src.schema)
    var t = GraftTable.create("orders_compact", catalog, schema)
    // many small files via multiple appends
    t = t.append(src.filter("o_orderkey % 3 = 0"))
    t = t.append(src.filter("o_orderkey % 3 = 1"))
    t = t.append(src.filter("o_orderkey % 3 = 2"))
    t = t.deleteWhere(Predicate.gt("o_totalprice", 250000.0), spark)

    val expected = src.filter("o_totalprice <= 250000.0")
    val filesBefore = t.newScan().planFiles().size
    assert(t.newScan().planDeletes().nonEmpty)

    t = t.rewriteDataFiles(spark)
    assert(t.metadata.currentSnapshot.get.operation == "replace")

    val filesAfter = t.newScan().planFiles().size
    assert(filesAfter < filesBefore,
      s"compaction must reduce file count: $filesBefore -> $filesAfter")
    assert(t.newScan().planDeletes().isEmpty, "delete manifests must drop out")

    val got = t.newScan().toDF(spark)
    assert(got.count() == expected.count())
    assert(got.exceptAll(expected).isEmpty && expected.exceptAll(got).isEmpty)

    // pre-compaction snapshots still readable (time travel)
    val first = t.metadata.snapshots.head.snapshotId
    assert(t.newScan().useSnapshot(first).toDF(spark).count() ==
      src.filter("o_orderkey % 3 = 0").count())
  }

  test("compaction on a partitioned table keeps partition pruning working") {
    val src = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    val schema = IcebergSchema.fromSpark(src.schema)
    val spec = PartitionSpec.build(schema, Seq("o_custkey" -> Transform.Bucket(4)))
    var t = GraftTable.create("orders_compact_part", catalog, schema, spec)
    t = t.append(src.filter("o_orderkey % 2 = 0"))
    t = t.append(src.filter("o_orderkey % 2 = 1"))

    t = t.rewriteDataFiles(spark)
    val someKey = src.select("o_custkey").head().getLong(0)
    val (planned, total) = t.newScan()
      .withFilter(Predicate.eqTo("o_custkey", someKey)).planSummary()
    assert(total >= 4 && planned <= total / 2,
      s"post-compaction bucket pruning broken: $planned of $total")
    assert(t.newScan().toDF(spark).count() == src.count())
  }

  test("binpack rewriteSmallFiles: fragmented partitions merge, others untouched") {
    val src = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    val schema = IcebergSchema.fromSpark(src.schema)
    val spec = PartitionSpec.build(schema, Seq("o_custkey" -> Transform.Bucket(4)))
    var t = GraftTable.create("orders_binpack", catalog, schema, spec)
    // base: one file per bucket; then two small appends fragment only
    // the buckets the appended keys hash into
    t = t.append(src.filter("o_orderkey % 5 != 0"))
    val k = src.select("o_custkey").head().getLong(0)
    t = t.append(src.filter(s"o_orderkey % 5 = 0 AND o_custkey = $k"))
    t = t.append(src.filter(s"o_orderkey % 5 = 0 AND o_custkey = $k")
      .withColumn("o_orderkey", org.apache.spark.sql.functions
        .col("o_orderkey") + 10000000L))
    val before = t.newScan().planFiles().map(_.file.filePath).toSet
    val fragmented = t.newScan().planFiles()
      .groupBy(f => f.file.partition).filter(_._2.map(_.file.filePath)
        .distinct.size >= 2).keys.toSet
    assert(fragmented.nonEmpty, "setup: at least one fragmented partition")
    val expected = t.newScan().toDF(spark)
      .orderBy("o_orderkey").collect().toSeq

    t = Maintenance.rewriteSmallFiles(t, spark)
    assert(t.metadata.currentSnapshot.get.operation == "replace")
    val after = t.newScan().planFiles()
    val afterPaths = after.map(_.file.filePath).toSet
    // untouched (single-file) partitions keep their exact files
    val keptOriginals = before.intersect(afterPaths)
    assert(keptOriginals.nonEmpty,
      "single-file partitions must keep their files (not a full rewrite)")
    // fragmented partitions merged to one file each
    fragmented.foreach { p =>
      val n = after.filter(_.file.partition == p).map(_.file.filePath)
        .distinct.size
      assert(n == 1, s"partition $p still has $n files after binpack")
    }
    // rows preserved exactly
    val got = t.newScan().toDF(spark).orderBy("o_orderkey").collect().toSeq
    assert(got === expected)
    // idempotent: nothing fragmented remains → no-op commit
    val snap = t.metadata.currentSnapshotId
    assert(Maintenance.rewriteSmallFiles(t, spark)
      .metadata.currentSnapshotId === snap)
  }

  test("binpack selection converges: non-reducible groups and near-target files skip") {
    // ADVICE r14 (medium): a bare `< target` bound with no lower ratio
    // reselected merged outputs forever — a group whose rewrite cannot
    // reduce its file count (two files summing past target) or whose
    // files already sit near target (>= 0.75x, BinPackStrategy's
    // MIN_FILE_SIZE ratio) must be a no-op, so the cadence reaches a
    // pass that plans nothing.
    val ss = spark; import ss.implicits._
    val schema = IcebergSchema(0, Seq(
      NestedField(1, "id", IcebergType.LongT, required = false),
      NestedField(2, "v", IcebergType.StringT, required = false)))
    var t = GraftTable.create("binpack_converge", catalog, schema)
    t = t.append((0L until 50L).map(i => (i, s"v$i")).toDF("id", "v").coalesce(1))
    t = t.append((50L until 100L).map(i => (i, s"v$i")).toDF("id", "v").coalesce(1))
    val sizes = t.newScan().planFiles()
      .groupBy(_.file.filePath).values.map(_.head.file.fileSizeInBytes).toSeq
    assert(sizes.size === 2)
    val snap = t.metadata.currentSnapshotId

    // (a) non-reducible: each file small (< 0.75T) but ceil(sum/T) = 2
    // — merging two under-target inputs into two under-target outputs
    // reduces nothing; pre-fix this rewrote the same bytes every pass
    val tNonReduce = ((sizes.sum * 9) / 10).max(sizes.max * 4 / 3 + 2)
    assert(sizes.max < (tNonReduce * 0.75).toLong && sizes.sum > tNonReduce,
      s"fixture drift: sizes=$sizes target=$tNonReduce no longer hits the case")
    assert(Maintenance.rewriteSmallFiles(t, spark, tNonReduce)
      .metadata.currentSnapshotId === snap, "non-reducible group rewrote")

    // (b) near-target: files >= 0.75T are not 'small' even when several
    // share a partition and would merge into one
    val tNear = sizes.min * 4 / 3 // every file >= 0.75T
    assert(sizes.min >= (tNear * 0.75).toLong)
    assert(Maintenance.rewriteSmallFiles(t, spark, tNear)
      .metadata.currentSnapshotId === snap, "near-target files rewrote")

    // (c) genuinely fragmented (both tiny vs target): one merge, then a
    // second pass is the no-op — the cadence converges
    val t2 = Maintenance.rewriteSmallFiles(t, spark, sizes.sum * 10)
    assert(t2.metadata.currentSnapshotId !== snap)
    assert(t2.newScan().planFiles().groupBy(_.file.filePath).size === 1)
    assert(Maintenance.rewriteSmallFiles(t2, spark, sizes.sum * 10)
      .metadata.currentSnapshotId === t2.metadata.currentSnapshotId)
    assert(t2.newScan().toDF(spark).count() === 100L)
  }

  test("binpack target defaults to the table's write.target-file-size-bytes") {
    // VERDICT r14 item 4 (reference table_properties.rs:351): a table
    // tuned to its own target must compact to THAT size with no
    // explicit argument; a positive argument still overrides.
    val ss = spark; import ss.implicits._
    val schema = IcebergSchema(0, Seq(
      NestedField(1, "id", IcebergType.LongT, required = false),
      NestedField(2, "v", IcebergType.StringT, required = false)))
    var t = GraftTable.create("binpack_prop", catalog, schema)
    t = t.append((0L until 50L).map(i => (i, s"v$i")).toDF("id", "v").coalesce(1))
    t = t.append((50L until 100L).map(i => (i, s"v$i")).toDF("id", "v").coalesce(1))
    val sizes = t.newScan().planFiles()
      .groupBy(_.file.filePath).values.map(_.head.file.fileSizeInBytes).toSeq
    // property pins the non-reducible target: under it the pass must
    // no-op; if the property were ignored (hardcoded 512 MB) both files
    // would be tiny and merge
    val tProp = ((sizes.sum * 9) / 10).max(sizes.max * 4 / 3 + 2)
    assert(sizes.max < (tProp * 0.75).toLong && sizes.sum > tProp)
    t = t.updateProperties(Map("write.target-file-size-bytes" -> tProp.toString))
    val snap = t.metadata.currentSnapshotId
    assert(Maintenance.rewriteSmallFiles(t, spark)
      .metadata.currentSnapshotId === snap,
      "default target must come from the table property, not 512 MB")
    // explicit argument overrides the property
    val t2 = Maintenance.rewriteSmallFiles(t, spark, sizes.sum * 10)
    assert(t2.metadata.currentSnapshotId !== snap)
    assert(t2.newScan().toDF(spark).count() === 100L)
    // a malformed property names itself instead of a bare
    // NumberFormatException from deep inside the pass
    val bad = t.updateProperties(
      Map("write.target-file-size-bytes" -> "512MB"))
    val err = intercept[IllegalArgumentException] {
      Maintenance.rewriteSmallFiles(bad, spark)
    }
    assert(err.getMessage.contains("write.target-file-size-bytes") &&
      err.getMessage.contains("512MB"))
  }

  test("binpack convergence property: a rewrite's own output is a fixed point") {
    // The ADVICE r14 convergence contract, proven over random layouts
    // instead of two hand-picked cases: whenever groupReducible selects
    // a set of small files, the layout the rewrite produces (the bytes
    // split across ceil(sum/target) outputs, remainder on the last) is
    // NOT selected again — one pass per fragmented partition, then the
    // cadence no-ops. Pure model of the selection core; the real-table
    // no-op and near-target cases are the tests above.
    import org.scalacheck.Gen
    val gen = for {
      target <- Gen.chooseNum(1000L, 1000000000L)
      n <- Gen.chooseNum(2, 64)
      sizes <- Gen.listOfN(n, Gen.chooseNum(1L, target * 2))
      minInput <- Gen.chooseNum(2, 4)
    } yield (target, sizes, minInput)
    val seed = org.scalacheck.rng.Seed(42L)
    Iterator.iterate(seed)(_.next).take(500).foreach { s =>
      val (target, sizes, minInput) = gen.pureApply(Gen.Parameters.default, s)
      val minSize = (target * Maintenance.MinFileSizeRatio).toLong
      val small = sizes.filter(_ < minSize)
      if (Maintenance.groupReducible(small, target, minInput)) {
        val outCount = math.max(1L,
          math.ceil(small.sum.toDouble / target).toLong).toInt
        assert(outCount < small.size) // the selection's own invariant
        val even = small.sum / outCount
        val outputs = Seq.fill(outCount - 1)(even) :+
          (small.sum - even * (outCount - 1))
        val keep = sizes.filterNot(_ < minSize)
        val next = (keep ++ outputs).filter(_ < minSize)
        assert(!Maintenance.groupReducible(next, target, minInput),
          s"reselected after rewrite: target=$target small=$small " +
            s"outputs=$outputs next=$next")
      }
    }
  }

  test("binpack folds deletes into rewritten files; kept delete manifests still apply") {
    val ss = spark; import ss.implicits._
    val schema = IcebergSchema(0, Seq(
      NestedField(1, "id", IcebergType.LongT, required = false),
      NestedField(2, "v", IcebergType.StringT, required = false)))
    var t = GraftTable.create("binpack_del", catalog, schema)
    // unpartitioned: all small files share one binpack group; 3 appends
    // fragment it
    val rows = (0L until 10L).map(i => (i, s"v$i"))
    t = t.append(rows.filter(_._1 < 4).toDF("id", "v").coalesce(1))
    t = t.append(rows.filter(r => r._1 >= 4 && r._1 < 7).toDF("id", "v")
      .coalesce(1))
    t = t.append(rows.filter(_._1 >= 7).toDF("id", "v").coalesce(1))
    // one-file appends → id=3 shares its file with 0..2, so this is a
    // genuine MoR position delete (a lone-row file would whole-file-drop)
    t = t.deleteWhere(Predicate.eqTo("id", 3L), spark)
    assert(t.newScan().planDeletes().nonEmpty)

    t = Maintenance.rewriteSmallFiles(t, spark)
    // the delete FOLDED into the rewritten rows; manifests may remain
    // (they still apply to any untouched file) but the row answer is
    // exact either way
    val got = t.newScan().toDF(spark).orderBy("id")
      .collect().map(_.getLong(0)).toSeq
    assert(got === (0L until 10L).filterNot(_ == 3L))
  }

  test("expire snapshots removes history but keeps current readable") {
    val src = spark.read.parquet("/root/testdata/sf0.001/nation.parquet")
    val schema = IcebergSchema.fromSpark(src.schema)
    var t = GraftTable.create("nation_expire", catalog, schema)
    t = t.append(src); t = t.append(src); t = t.append(src)
    assert(t.metadata.snapshots.size == 3)
    val oldManifestList = t.metadata.snapshots.head.manifestList

    t = t.expireSnapshots(olderThanMs = System.currentTimeMillis() + 1000, retainLast = 1)
    assert(t.metadata.snapshots.size == 1, "only the current snapshot retained")
    assert(!t.io.exists(oldManifestList), "expired manifest list deleted")
    assert(t.newScan().toDF(spark).count() == 3 * src.count())

    // expired snapshot no longer addressable
    intercept[IllegalArgumentException] {
      t.newScan().useSnapshot(123456789L).planFiles()
    }
  }

  test("expire snapshots: per-ref retention — branch ancestors kept, aged refs removed") {
    val src = spark.read.parquet("/root/testdata/sf0.001/nation.parquet")
    val schema = IcebergSchema.fromSpark(src.schema)
    var t = GraftTable.create("nation_refexpire", catalog, schema)
    t = t.append(src); t = t.append(src); t = t.append(src); t = t.append(src)
    val snaps = t.metadata.snapshots.map(_.snapshotId)
    assert(snaps.size === 4)

    // branch at snapshot 3 keeping 2 ancestors regardless of age; a tag
    // pinning snapshot 1; an aged-out tag on snapshot 2
    t = Transactions.setRef(t, "dev", snaps(2), "branch",
      minSnapshotsToKeep = Some(2))
    t = Transactions.setRef(t, "pin", snaps(0), "tag")
    t = Transactions.setRef(t, "stale", snaps(1), "tag",
      maxRefAgeMs = Some(1L)) // ages out immediately

    val now = System.currentTimeMillis() + 60000
    t = Maintenance.expireSnapshots(t, olderThanMs = now, retainLast = 1,
      nowMs = now)

    assert(!t.metadata.refs.contains("stale"), "aged ref removed")
    assert(t.metadata.refs.contains("dev") && t.metadata.refs.contains("pin"))
    val kept = t.metadata.snapshots.map(_.snapshotId).toSet
    // current (4th), dev branch head (3rd) + one more ancestor (2nd) via
    // min-snapshots-to-keep, tag target (1st) — everything survives here
    assert(kept === Set(snaps(0), snaps(1), snaps(2), snaps(3)))

    // retention serde round-trips through metadata.json
    val reloaded = GraftTable.load("nation_refexpire", catalog)
    assert(reloaded.metadata.refs("dev").minSnapshotsToKeep === Some(2))

    // drop the protective refs: with everything past cutoff, only the
    // current snapshot survives a re-run
    t = Transactions.removeRef(t, "dev")
    t = Transactions.removeRef(t, "pin")
    t = Maintenance.expireSnapshots(t, olderThanMs = now, retainLast = 1,
      nowMs = now)
    assert(t.metadata.snapshots.map(_.snapshotId) === Seq(snaps(3)))
    assert(t.newScan().toDF(spark).count() === 4 * src.count())
  }

  test("z-order rewrite: box pruning works on BOTH dimensions afterwards") {
    val sp = spark
    import sp.implicits._
    import graft.expr.{BinaryPred, LtEq}
    import graft.spec.IcebergType.LongT
    var t = GraftTable.create("zord", catalog, IcebergSchema(0, Seq(
      NestedField(1, "x", LongT, required = false),
      NestedField(2, "y", LongT, required = false))))
    // 8 appends, each an x-slab spanning ALL of y: a y-box can never
    // prune this layout
    for (x <- 0 until 8)
      t = t.append((0 until 8).map(y => (x.toLong, y.toLong))
        .toDF("x", "y").coalesce(1))
    val pre = t.newScan().planFiles().size
    val preY = t.newScan()
      .withFilter(Predicate.bind(BinaryPred(LtEq, "y", 1L), t.schema))
      .planFiles().size
    assert(pre === 8 && preY === 8, "y never prunes the x-slab layout")
    val before = t.newScan().toDF(spark).collect().map(_.toString).sorted

    t = t.rewriteDataFilesZOrder(spark, Seq("x", "y"), targetFileSizeBytes = 1000)
    assert(t.newScan().toDF(spark).collect().map(_.toString).sorted
      .sameElements(before), "rewrite preserves rows")
    val postFiles = t.newScan().planFiles().size
    val postY = t.newScan()
      .withFilter(Predicate.bind(BinaryPred(LtEq, "y", 1L), t.schema))
      .planFiles().size
    val postX = t.newScan()
      .withFilter(Predicate.bind(BinaryPred(LtEq, "x", 1L), t.schema))
      .planFiles().size
    assert(postFiles > 1, s"need multiple files to demonstrate pruning")
    assert(postY < postFiles, s"y-box must prune the z-ordered layout ($postY/$postFiles)")
    assert(postX < postFiles, s"x-box must still prune too ($postX/$postFiles)")
  }

  test("rewrite manifests: consolidates per spec, preserves rows, deletes, pruning") {
    val ss = spark
    import ss.implicits._
    val src = (1L to 120L).map(i => (i, s"g${i % 3}")).toDF("id", "grp")
    val schema = IcebergSchema.fromSpark(src.schema)
    var t = GraftTable.create("mrw", catalog, schema,
      PartitionSpec.build(schema, Seq("grp" -> Transform.Identity)))
    // 5 commits → 5 data manifests; one MoR delete on top
    for (k <- 0 until 5) t = t.append(src.filter($"id" % 5 === k))
    t = t.deleteWhere(Predicate.gt("id", 100L), spark)
    val dataManifestsBefore = t.newScan().planFiles().size // sanity anchor
    val listBefore = graft.meta.ManifestIO.readManifestList(
      t.io, t.metadata.currentSnapshot.get.manifestList, t.partTypes)
    assert(listBefore.count(_.content == graft.meta.ManifestContent.Data) === 5)

    t = t.rewriteManifests()
    val listAfter = graft.meta.ManifestIO.readManifestList(
      t.io, t.metadata.currentSnapshot.get.manifestList, t.partTypes)
    // one consolidated data manifest (single spec); delete manifests kept
    assert(listAfter.count(_.content == graft.meta.ManifestContent.Data) === 1)
    assert(listAfter.count(_.content == graft.meta.ManifestContent.Deletes)
      === listBefore.count(_.content == graft.meta.ManifestContent.Deletes))
    // rows unchanged, MoR deletes still apply, file set identical
    assert(t.newScan().toDF(ss).count() === 100)
    assert(t.newScan().planFiles().size === dataManifestsBefore)
    // partition pruning still works over the merged manifest
    val (files, metrics) = t.newScan()
      .withFilter(Predicate.eqTo("grp", "g1")).planWithMetrics()
    assert(files.nonEmpty && metrics.skippedByPartition > 0)
    // idempotent: a second run is a no-op commit-wise
    val snaps = t.metadata.snapshots.size
    assert(t.rewriteManifests().metadata.snapshots.size === snaps)
  }

  test("partition statistics: rollup file registered, replaced, survives GC") {
    val ss = spark
    import ss.implicits._
    val src = (1L to 90L).map(i => (i, s"g${i % 3}")).toDF("id", "grp")
    val schema = IcebergSchema.fromSpark(src.schema)
    var t = GraftTable.create("pstats", catalog, schema,
      PartitionSpec.build(schema, Seq("grp" -> Transform.Identity)))
    t = t.append(src)
    t = t.writePartitionStats(spark)

    val sid = t.metadata.currentSnapshotId.get
    assert(t.metadata.partitionStatisticsFor(sid).isDefined)
    // reload through the catalog: serde round-trips the registration
    val re = GraftTable.load("pstats", catalog)
    assert(re.metadata.partitionStatisticsFor(sid).get.fileSizeInBytes > 0)
    // stats content equals the manifest-derived rollup
    val stats = re.readPartitionStats(spark)
      .selectExpr("partition", "record_count", "cast(file_count as long) file_count")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    val live = re.partitionsDf(spark)
      .selectExpr("partition", "record_count", "cast(file_count as long) file_count")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(stats === live)
    assert(stats.map(_._2).sum === 90L)

    // append + rewrite: set for the new snapshot replaces nothing, adds
    t = re.append(src.filter($"id" <= 10))
    t = t.writePartitionStats(spark)
    assert(t.metadata.partitionStatistics.size === 2)
    // GC never touches the registered stats files (metadata/ subtree)
    assert(t.removeOrphanFiles(System.currentTimeMillis() + 60000, ss).isEmpty)
    assert(t.readPartitionStats(spark).count() === 3)
    // remove drops the registration
    t = t.updatePartitionStatistics(removeSnapshotIds = Set(sid))
    assert(t.metadata.partitionStatisticsFor(sid).isEmpty)

    // expire: stats registered for an expired snapshot drop with it and
    // the stats file itself is deleted
    val statsPath = t.metadata.partitionStatistics.head.statisticsPath
    t = t.expireSnapshots(System.currentTimeMillis() + 60000, retainLast = 1)
    assert(t.metadata.partitionStatistics.isEmpty ||
      t.metadata.partitionStatistics.forall(s =>
        t.metadata.snapshotById(s.snapshotId).isDefined))
    if (t.metadata.partitionStatistics.isEmpty)
      assert(!t.io.exists(statsPath))
  }

  test("object-storage layout: hashed entropy prefixes, reads + GC unaffected") {
    val ss = spark
    import ss.implicits._
    var t = GraftTable.create("oslayout", catalog, graft.spec.IcebergSchema(0, Seq(
      graft.spec.NestedField(1, "id", graft.spec.IcebergType.LongT, required = false))),
      properties = Map(Locations.ObjectStorageProp -> "true"))
    t = t.append((1L to 50L).toSeq.toDF("id"))
    t = t.append((51L to 80L).toSeq.toDF("id"))

    // files live under data/<4b>/<4b>/<4b>/<8b>/commit-*/ binary entropy dirs
    val paths = t.newScan().planFiles().map(_.file.filePath.stripPrefix("file:"))
    val entropyRe = (java.util.regex.Pattern.quote(s"${t.location}/data/") +
      "[01]{4}/[01]{4}/[01]{4}/[01]{8}/commit-.*").r
    assert(paths.forall(p => entropyRe.matches(p)), paths.mkString("\n"))
    // different commits land under different prefixes (entropy is per commit)
    assert(paths.map(_.split("/data/")(1).split("/commit-")(0)).distinct.size === 2)

    // reads are layout-independent (manifest-addressed)
    assert(t.newScan().toDF(ss).count() === 80)
    // deletes + orphan GC walk the hashed tree correctly
    t = t.deleteWhere(graft.expr.Predicate.gt("id", 70L), ss)
    assert(t.newScan().toDF(ss).count() === 70)
    assert(t.removeOrphanFiles(System.currentTimeMillis() + 60000, ss).isEmpty)
  }

  test("orphan sweep over a wide planted tree runs distributed and exact") {
    val ss = spark
    import ss.implicits._
    var t = GraftTable.create("gc_wide", catalog, graft.spec.IcebergSchema(0, Seq(
      graft.spec.NestedField(1, "id", graft.spec.IcebergType.LongT, required = false))))
    t = t.append((1L to 100L).toSeq.toDF("id"))

    // plant orphans across many failed-commit subtrees (executors list and
    // delete per subtree; the driver never holds the full path set)
    val io = t.io
    val planted = (0 until 40).flatMap { c =>
      (0 until 25).map { f =>
        val p = s"${t.location}/data/commit-dead$c/part-$f.parquet"
        io.writeBytes(p, Array[Byte](1))
        p
      }
    }
    val deleted = t.removeOrphanFiles(System.currentTimeMillis() + 60000, ss)
    assert(deleted.size === planted.size)
    assert(t.newScan().toDF(ss).count() === 100) // referenced files intact
    // idempotent second sweep
    assert(t.removeOrphanFiles(System.currentTimeMillis() + 60000, ss).isEmpty)
  }
}
