package graft.table

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, sum, when}
import org.scalacheck.Gen
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.HadoopCatalog
import graft.expr.{And, Predicate}
import graft.io.FileIO
import graft.meta._
import graft.spec._

/** The two merge-on-read readers must agree: the V1 relation path
  * (`toDF`, `readTasksLineage`, `withDeletedColumn`,
  * `withMetadataColumns`) and `format("graft")` apply deletes through one
  * [[DeleteFilter]] and serve the same metadata columns. Random tables
  * (v2/v3, partitioned or not, name-mapped or not) take random mixes of
  * appends, position deletes, deletion vectors, global and
  * partition-scoped equality deletes (null keys included), upserts,
  * compactions, partition-spec evolution and (v3) a column added with an
  * initial default, later used as an equality-delete and upsert key (its
  * default then matches every row of the files written before it); after
  * every step both readers are compared with each
  * other and with an in-memory model of the live rows. One step is one
  * case; at the end of each scenario the changelog from the first
  * snapshot, replayed, must equal the model too. */
class DeleteParitySpec extends AnyFunSuite with BeforeAndAfterAll {

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
    wh = java.nio.file.Files.createTempDirectory("graft-parity").toString
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def catalog = new HadoopCatalog(wh, FileIO.fromSpark(spark))

  /** (id, part, k, v): `id` is unique per written row, `k` the
    * equality-delete key (nullable). */
  private type Rec = (Long, String, Option[Long], String)

  private sealed trait Op
  private case class Append(rows: Int) extends Op
  private case class PosDelete(lo: Int, width: Int, dv: Boolean) extends Op
  private case class EqDelete(keys: Seq[Option[Long]]) extends Op
  private case class ScopedEqDelete(part: String, keys: Seq[Long]) extends Op
  private case class Upsert(keys: Seq[Option[Long]]) extends Op
  private case object Compact extends Op
  /** Move to the next spec of [[SpecCycle]]. */
  private case object Evolve extends Op
  /** Add `d` with initial default [[DefaultD]] (v3; once). */
  private case object AddDefault extends Op
  /** Equality delete keyed on `d`, or an upsert whose rows carry `keys` as
    * their `d` (after [[AddDefault]]). */
  private case class DKeyed(keys: Seq[Long], upsert: Boolean) extends Op

  private case class Scenario(v3: Boolean, partitioned: Boolean, mapped: Boolean,
      ops: Seq[Op])

  private val keyGen: Gen[Option[Long]] =
    Gen.frequency(4 -> Gen.choose(0L, 5L).map(Some(_)), 1 -> Gen.const(None))

  private def opGen(v3: Boolean, partitioned: Boolean): Gen[Op] = Gen.frequency(
    3 -> Gen.choose(1, 6).map(Append(_)),
    3 -> (for { lo <- Gen.choose(0, 30); w <- Gen.choose(1, 6)
      dv <- if (v3) Gen.oneOf(true, false) else Gen.const(false) }
      yield PosDelete(lo, w, dv)),
    3 -> Gen.choose(1, 3).flatMap(Gen.listOfN(_, keyGen)).map(EqDelete(_)),
    (if (partitioned) 2 else 0) -> (for { p <- Gen.oneOf("a", "b")
      n <- Gen.choose(1, 2); ks <- Gen.listOfN(n, Gen.choose(0L, 5L)) }
      yield ScopedEqDelete(p, ks)),
    2 -> Gen.choose(1, 3).flatMap(Gen.listOfN(_, keyGen)).map(Upsert(_)),
    1 -> Gen.const(Compact),
    1 -> Gen.const(Evolve),
    (if (v3) 2 else 0) -> Gen.const(AddDefault),
    (if (v3) 2 else 0) -> (for { n <- Gen.choose(1, 2)
      ks <- Gen.listOfN(n, Gen.frequency(1 -> Gen.const(DefaultD),
        2 -> Gen.choose(1L, 40L).map(dOf)))
      up <- Gen.oneOf(true, false) } yield DKeyed(ks, up)))

  private val scenarioGen: Gen[Scenario] = for {
    v3 <- Gen.oneOf(true, false)
    mapped <- Gen.frequency(1 -> true, 4 -> false)
    partitioned <- if (mapped) Gen.const(false) else Gen.oneOf(true, false)
    ops <- Gen.listOfN(8, opGen(v3, partitioned))
  } yield Scenario(v3, partitioned, mapped, ops)

  private val Scenarios = 25
  private val Cols = Seq("id", "part", "k", "v")
  private val MetaCols = Seq("id", "_spec_id", "_partition")

  /** Partition layouts an [[Evolve]] steps through, after the initial one. */
  private val SpecCycle: Seq[Seq[(String, Transform)]] = Seq(
    Seq("part" -> Transform.Identity),
    Seq("part" -> Transform.Identity, "id" -> Transform.Bucket(3)),
    Seq("id" -> Transform.Bucket(3)),
    Nil)

  private val DefaultD = 7L
  /** `d` as written by the rows appended after [[AddDefault]]. */
  private def dOf(id: Long): Long = id * 10

  /** The rows as a frame; with `d`, a column `d` of `d(id)`. */
  private def frame(rows: Seq[Rec], d: Option[Long => Long] = None): DataFrame = {
    val ss = spark; import ss.implicits._
    val df = rows.map { case (id, p, k, v) =>
      (id, p, k.map(Long.box).orNull, v, d.map(f => Long.box(f(id))).orNull)
    }.toDF("id", "part", "k", "v", "d")
    (if (d.isDefined) df else df.drop("d")).coalesce(1)
  }

  private def sorted(df: DataFrame, cols: Seq[String]): Seq[Row] =
    df.select(cols.map(col): _*).collect().toSeq.sortBy(_.getLong(0))

  private def recs(rows: Seq[Row]): Set[Rec] = rows.map(r =>
    (r.getLong(0), r.getString(1), Option(r.get(2)).map(_.asInstanceOf[Long]),
      r.getString(3))).toSet

  /** A partition-scoped equality delete on `k`, committed the way a
    * foreign partitioned writer would (delete file under the partitioned
    * spec with the partition's tuple). */
  private def scopedEqDelete(t: GraftTable, part: String, keys: Seq[Long]): GraftTable = {
    val ss = spark; import ss.implicits._
    val uuid = java.util.UUID.randomUUID().toString
    val dir = s"${t.location}/data/scoped-$uuid"
    keys.distinct.toDF("k").coalesce(1).write.parquet(dir)
    val (path, len) = t.io.listFiles(dir).filter(_._1.endsWith(".parquet")).head
    val file = DataFile(content = FileContent.EqualityDeletes, filePath = path,
      fileFormat = "PARQUET", partition = Seq(part), recordCount = keys.distinct.size.toLong,
      fileSizeInBytes = len, equalityIds = Seq(t.schema.findField("k").get.id))
    Commits.commitManifests(t, "delete", uuid) { (base, seq, snapshotId) =>
      val entry = ManifestEntry(ManifestStatus.Added, Some(snapshotId),
        Some(seq), Some(seq), file)
      Commits.writeManifest(t.io, base, s"$uuid-d0", Seq(entry),
        base.currentSchema, base.defaultSpec, ManifestContent.Deletes,
        snapshotId, seq) +: Commits.baseManifests(t.io, base)
    }
  }

  test(s"V1 and DSv2 readers agree on random delete mixes ($Scenarios scenarios x 8 steps)") {
    var seed = org.scalacheck.rng.Seed(20261018L)
    var cases = 0
    var evolvedCases = 0
    var defaultedCases = 0
    var defaultKeyedCases = 0
    (0 until Scenarios).foreach { si =>
      val sc = scenarioGen.pureApply(Gen.Parameters.default, seed)
      seed = seed.next
      val rng = new scala.util.Random(si)
      val name = s"parity_$si"
      var nextId = 0L
      def fresh(n: Int, keys: Seq[Option[Long]] = Nil): Seq[Rec] =
        (0 until n).map { i =>
          nextId += 1
          (nextId, if (rng.nextBoolean()) "a" else "b",
            if (i < keys.size) keys(i) else if (rng.nextInt(5) == 0) None
            else Some(rng.nextInt(6).toLong),
            s"v$nextId-${rng.nextInt(100)}")
        }
      val schema = IcebergSchema.fromSpark(frame(Nil).schema)
      val spec =
        if (sc.partitioned)
          PartitionSpec(0, Seq(PartitionField(schema.findField("part").get.id,
            1000, "part", Transform.Identity)))
        else PartitionSpec.unpartitioned
      var t = GraftTable.create(name, catalog, schema, spec,
        Map("format-version" -> (if (sc.v3) "3" else "2")))
      var model = Set.empty[Rec]
      // `d` of the ids written after it was added; all others read DefaultD
      var withD = false
      var dWritten = Map.empty[Long, Long]
      def dRead(r: Rec): Long = dWritten.getOrElse(r._1, DefaultD)
      def dNew: Option[Long => Long] = if (withD) Some(dOf) else None
      var specStep = if (sc.partitioned) 0 else SpecCycle.size - 1
      if (sc.mapped) {
        // id-less foreign parquet registered in place: name-mapped reads
        val rows = fresh(6)
        val dir = s"$wh/foreign_$si"
        frame(rows).write.parquet(dir)
        t = t.addFiles(spark, t.io.listFiles(dir).map(_._1).filter(_.endsWith(".parquet")))
        assert(t.metadata.properties.get("graft.read.use-name-mapping").contains("true"))
        model = rows.toSet
      } else {
        val rows = fresh(6)
        t = t.append(frame(rows))
        model = rows.toSet
      }

      sc.ops.zipWithIndex.foreach { case (op, step) =>
        val ctx = s"scenario $si ($sc) step $step: $op"
        op match {
          case Append(n) =>
            val rows = fresh(n)
            t = t.append(frame(rows, dNew))
            model ++= rows
            if (withD) dWritten ++= rows.map(r => r._1 -> dOf(r._1))
          case PosDelete(lo, w, dv) =>
            val p = And(Predicate.gtEq("id", lo.toLong), Predicate.lt("id", (lo + w).toLong))
            t = if (dv) t.deleteWhereDV(p, spark) else t.deleteWhere(p, spark)
            model = model.filterNot(r => r._1 >= lo && r._1 < lo + w)
          case EqDelete(keys) =>
            val ss = spark; import ss.implicits._
            t = t.equalityDelete(keys.map(_.map(Long.box).orNull).toDF("k"), Seq("k"))
            val gone = keys.flatten.toSet
            model = model.filterNot(r => r._3.exists(gone))
          case ScopedEqDelete(part, keys) =>
            // scoped to the identity(part) tuple: only under that layout
            if (t.spec.fields.map(_.name) == Seq("part")) {
              t = scopedEqDelete(t, part, keys)
              model = model.filterNot(r => r._2 == part && r._3.exists(keys.toSet))
            }
          case Upsert(keys) =>
            val rows = fresh(keys.size, keys)
            t = t.upsert(frame(rows, dNew), Seq("k"))
            val gone = keys.flatten.toSet
            model = model.filterNot(r => r._3.exists(gone)) ++ rows
            if (withD) dWritten ++= rows.map(r => r._1 -> dOf(r._1))
          case Compact =>
            t = t.rewriteDataFiles(spark)
          case Evolve =>
            specStep = (specStep + 1) % SpecCycle.size
            t = t.updateSpec(SpecCycle(specStep))
          case AddDefault =>
            if (!withD) {
              t = t.updateSchema().addColumnWithDefault("d", IcebergType.LongT, DefaultD)
                .commit()
              withD = true
            }
          case DKeyed(keys, upsert) =>
            if (withD) {
              if (keys.contains(DefaultD) && model.exists(r => !dWritten.contains(r._1)))
                defaultKeyedCases += 1
              val ss = spark; import ss.implicits._
              if (upsert) {
                val rows = fresh(keys.size)
                val ds = rows.map(_._1).zip(keys).toMap
                t = t.upsert(frame(rows, Some(ds)), Seq("d"))
                model = model.filterNot(r => keys.contains(dRead(r))) ++ rows
                dWritten ++= ds
              } else {
                t = t.equalityDelete(keys.toDF("d"), Seq("d"))
                model = model.filterNot(r => keys.contains(dRead(r)))
              }
            }
        }
        val cols = if (withD) Cols :+ "d" else Cols

        val dsv2 = spark.read.format("graft").option("warehouse", wh)
          .option("table", name).load()
        val v1 = sorted(t.newScan().toDF(spark), cols)
        assert(recs(v1) === model, s"V1 rows vs model — $ctx")
        if (withD)
          assert(v1.map(r => r.getLong(0) -> r.getLong(4)) === v1.map(r => r.getLong(0) ->
            dWritten.getOrElse(r.getLong(0), DefaultD)),
            s"V1 defaulted column vs model — $ctx")
        assert(v1 === sorted(dsv2, cols), s"V1 vs DSv2 rows — $ctx")

        val marked = t.newScan().withDeletedColumn().toDF(spark)
        val markCols = cols ++ Seq("_file", "_pos", "_deleted")
        val v1Marked = sorted(marked, markCols)
        assert(recs(v1Marked.filterNot(_.getBoolean(markCols.size - 1))) === model,
          s"V1 _deleted marker vs model — $ctx")
        val lineageCols = cols ++ Seq(RowLineage.RowIdName, RowLineage.LastUpdatedName)
        val v1Lineage = sorted(
          t.newScan().readTasksLineage(spark, t.newScan().planFiles()), lineageCols)
        assert(recs(v1Lineage) === model, s"V1 lineage rows vs model — $ctx")
        val v1Meta = sorted(t.newScan().withMetadataColumns().toDF(spark), MetaCols)
        assert(v1Meta.map(_.getLong(0)) === v1.map(_.getLong(0)),
          s"V1 metadata-column rows — $ctx")
        if (!sc.mapped) {
          // metadata columns are served natively only without name mapping
          assert(v1Marked === sorted(dsv2, markCols), s"V1 vs DSv2 _deleted — $ctx")
          assert(v1Lineage === sorted(dsv2, lineageCols), s"V1 vs DSv2 lineage — $ctx")
          assert(v1Meta === sorted(dsv2, MetaCols),
            s"V1 vs DSv2 _spec_id/_partition — $ctx")
        }
        cases += 1
        if (t.metadata.partitionSpecs.size > 1) evolvedCases += 1
        if (withD) defaultedCases += 1
      }

      // the full changelog replays to the model: inserts minus deletes,
      // as a multiset over the data columns
      val cols = if (withD) Cols :+ "d" else Cols
      val replay = t.changesBetween(spark, -1L, t.metadata.currentSnapshotId.get)
        .groupBy(cols.map(col): _*)
        .agg(sum(when(col("_change_type") === "insert", 1).otherwise(-1)).as("n"))
        .filter(col("n") =!= 0).collect()
        .map(r => (recs(Seq(r)).head, Option.when(withD)(r.getLong(4))) -> r.getLong(cols.size))
        .toMap
      assert(replay === model.map(r => (r, Option.when(withD)(dRead(r))) -> 1L).toMap,
        s"changelog replay vs model — scenario $si ($sc)")
    }
    assert(cases >= 200)
    assert(evolvedCases > 0 && defaultedCases > 0 && defaultKeyedCases > 0,
      s"$evolvedCases / $defaultedCases / $defaultKeyedCases")
  }

  /** Spark jobs started while running `body`. */
  private def jobsDuring(body: => Unit): Int = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try body finally {
      org.apache.spark.GraftListenerBridge.flushListenerBus(spark.sparkContext)
      spark.sparkContext.removeSparkListener(listener)
    }
    jobs.get
  }

  test("a V1 metadata-column or lineage read with no deletes plans no join and runs one job") {
    val ss = spark; import ss.implicits._
    val src = (1L to 40L).map(i => (i, if (i % 2 == 0) "a" else "b", i % 7, s"v$i"))
      .toDF("id", "part", "k", "v")
    val schema = IcebergSchema.fromSpark(src.schema)
    var t = GraftTable.create("parity_meta_plan", catalog, schema,
      PartitionSpec(0, Seq(PartitionField(schema.findField("part").get.id, 1000, "part",
        Transform.Identity))), Map("format-version" -> "3"))
    t = t.append(src.coalesce(2))
    assert(t.newScan().planDeletes().isEmpty)
    val reads = Seq(
      "withMetadataColumns" -> t.newScan().withMetadataColumns().toDF(spark),
      "readTasksLineage" -> t.newScan().readTasksLineage(spark, t.newScan().planFiles()))
    reads.foreach { case (name, df) =>
      val optimized = df.queryExecution.optimizedPlan
      assert(optimized.collect { case j: org.apache.spark.sql.catalyst.plans.logical.Join => j }
        .isEmpty, s"$name: ${optimized.treeString}")
      var rows: Array[Row] = null
      assert(jobsDuring { rows = df.collect() } === 1, name)
      assert(rows.length === 40, name)
    }
    val meta = reads.head._2.select("id", "_spec_id", "_partition", RowLineage.RowIdName)
      .collect().sortBy(_.getLong(0))
    assert(meta.map(r => (r.getInt(1), r.getStruct(2).getString(0))).toSeq ===
      (1L to 40L).map(i => (0, if (i % 2 == 0) "a" else "b")))
    assert(meta.map(_.getLong(3)).distinct.length === 40)
    // a plain read declares no per-file constants: its plan is the bare scan
    val plainMeta = t.newScan().toDF(spark).select("_metadata").schema.head.dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    assert(!plainMeta.fieldNames.exists(_.startsWith("graft_")), plainMeta.treeString)
  }

  test("a V1 scan with position and equality deletes plans no join, exchange or job for them") {
    val ss = spark; import ss.implicits._
    val src = (1L to 40L).map(i => (i, if (i % 2 == 0) "a" else "b", i % 7, s"v$i"))
      .toDF("id", "part", "k", "v")
    var t = GraftTable.create("parity_plan", catalog, IcebergSchema.fromSpark(src.schema))
    t = t.append(src.coalesce(2))
      .deleteWhere(Predicate.lt("id", 5L), spark)
      .equalityDelete(Seq(3L).toDF("k"), Seq("k"))
    val deletes = t.newScan().planDeletes()
    assert(deletes.exists(_.file.content == FileContent.PositionDeletes))
    assert(deletes.exists(_.file.content == FileContent.EqualityDeletes))

    var df: DataFrame = null
    assert(jobsDuring { df = t.newScan().toDF(spark) } === 0,
      "building the scan must not read delete files on the driver")
    val optimized = df.queryExecution.optimizedPlan
    assert(optimized.collect { case j: org.apache.spark.sql.catalyst.plans.logical.Join => j }
      .isEmpty, optimized.treeString)
    val physical = df.queryExecution.sparkPlan
    assert(physical.collect { case e: org.apache.spark.sql.execution.exchange.Exchange => e }
      .isEmpty, physical.treeString)
    assert(physical.toString.contains("mor_deleted"), physical.treeString)
    assert(df.count() === (1L to 40L).count(i => i >= 5 && i % 7 != 3))
  }
}
