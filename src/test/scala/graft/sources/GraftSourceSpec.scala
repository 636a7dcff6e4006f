package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.expr.{BinaryPred, Eq, Gt, Predicate, SparkFilters}
import graft.queries.IcebergFixtures
import graft.spec.IcebergSchema

/** DSv2 bridge: sources.Filter → Predicate translation, metadata pruning
  * from a plain df.filter, and end-to-end result parity. */
class GraftSourceSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val sfDir = "/root/testdata/sf0.001"
  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", 4)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.extensions", "graft.sources.GraftSparkExtensions")
    .config("spark.ui.enabled", "false")
    .appName("graft-source-spec")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("sources.Filter translation covers the pruning-relevant operators") {
    import org.apache.spark.sql.sources._
    val schema = IcebergSchema.fromSpark(graft.Tables.orders(spark, sfDir).schema)
    assert(SparkFilters.toPredicate(EqualTo("o_custkey", 7L), schema)
      === Some(BinaryPred(Eq, "o_custkey", 7L)))
    // int literal vs long field adapts width
    assert(SparkFilters.toPredicate(GreaterThan("o_custkey", 7), schema)
      === Some(BinaryPred(Gt, "o_custkey", 7L)))
    // date literal → epoch days
    val d = SparkFilters.toPredicate(
      LessThan("o_orderdate", java.sql.Timestamp.valueOf("1995-01-01 00:00:00")), schema)
    assert(d.isDefined)
    // partial AND keeps the translatable side; full OR or nothing
    val andP = SparkFilters.toPredicate(
      And(EqualTo("o_custkey", 7L), StringContains("o_comment", "x")), schema)
    assert(andP === Some(BinaryPred(Eq, "o_custkey", 7L)))
    val orP = SparkFilters.toPredicate(
      Or(EqualTo("o_custkey", 7L), StringContains("o_comment", "x")), schema)
    assert(orP === None)
    // unknown column refuses
    assert(SparkFilters.toPredicate(EqualTo("nope", 1), schema) === None)
    // Not over a PARTIALLY translatable And must refuse entirely:
    // ¬(l∧r) does not imply ¬l, so translating it as ¬l would prune files
    // whose rows match via ¬r
    val notPartial = SparkFilters.toPredicate(
      Not(And(EqualTo("o_custkey", 7L), StringContains("o_comment", "x"))), schema)
    assert(notPartial === None)
    // but Not over a fully translatable And still negates
    val notFull = SparkFilters.toPredicate(
      Not(And(EqualTo("o_custkey", 7L), GreaterThan("o_custkey", 3L))), schema)
    assert(notFull.isDefined)
  }

  test("format(graft) round-trip with pushdown prunes and matches") {
    val t = IcebergFixtures.ordersBucket(spark, sfDir)
    val warehouse = t.location.stripSuffix(s"/${t.name}")

    val df = spark.read.format("graft")
      .option("warehouse", warehouse).option("table", t.name).load()
      .filter(col("o_custkey") === 7L)
      .select("o_orderkey", "o_custkey", "o_totalprice")

    val expected = graft.Tables.orders(spark, sfDir)
      .filter(col("o_custkey") === 7L)
      .select("o_orderkey", "o_custkey", "o_totalprice")

    assert(df.collect().map(_.toString).sorted
      sameElements expected.collect().map(_.toString).sorted)

    // the same predicate provably prunes at plan time: only the matching
    // bucket's files survive
    val pred = Predicate.eqTo("o_custkey", 7L)
    val (planned, all) = t.newScan().withFilter(pred).planSummary()
    assert(planned < all, s"expected bucket pruning, planned=$planned all=$all")

    // and the plan is a native DSv2 BatchScan — rows stay InternalRow end
    // to end (no V1 `Scan ExistingRDD` fallback, no per-row Row conversion)
    val explained = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(explained.contains("BatchScan"), explained)
    assert(!explained.contains("ExistingRDD"), explained)
  }

  test("DSv2 BatchScan applies deletion vectors and position deletes in-reader") {
    import spark.implicits._
    val wh = java.nio.file.Files.createTempDirectory("graft-dsv2-dv").toString
    val catalog = new graft.catalog.HadoopCatalog(wh, graft.io.FileIO.fromSpark(spark))
    val schema = graft.spec.IcebergSchema(0, Seq(
      graft.spec.NestedField(1, "id", graft.spec.IcebergType.LongT, required = false),
      graft.spec.NestedField(2, "v", graft.spec.IcebergType.DoubleT, required = false)))
    var t = graft.table.GraftTable.create("dsv2dv", catalog, schema,
      properties = Map("write.spark.max-records-per-file" -> "40"))
    t = t.append((1L to 200L).map(i => (i, i * 0.5)).toDF("id", "v"))
    t = t.deleteWhereDV(graft.expr.Predicate.gt("v", 50.0), spark)
    // stack a parquet position delete on top of the DV
    t = t.deleteWhere(graft.expr.Predicate.ltEq("id", 5L), spark)

    val df = spark.read.format("graft")
      .option("warehouse", wh).option("table", "dsv2dv").load()
    val explained = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(explained.contains("BatchScan"), explained)
    assert(df.count() === 95) // 200 − 100 (DV) − 5 (pos)
    assert(df.agg(max("id")).head.getLong(0) === 100L)
    assert(df.agg(min("id")).head.getLong(0) === 6L)
    // filters still push and results stay correct under in-reader deletes
    assert(df.filter(col("id") <= 10).count() === 5)
  }

  test("equality deletes apply in the native BatchScan reader") {
    import spark.implicits._
    val wh = java.nio.file.Files.createTempDirectory("graft-dsv2-eq").toString
    val catalog = new graft.catalog.HadoopCatalog(wh, graft.io.FileIO.fromSpark(spark))
    val schema = graft.spec.IcebergSchema(0, Seq(
      graft.spec.NestedField(1, "id", graft.spec.IcebergType.LongT, required = false),
      graft.spec.NestedField(2, "name", graft.spec.IcebergType.StringT, required = false),
      graft.spec.NestedField(3, "v", graft.spec.IcebergType.DoubleT, required = false)))
    var t = graft.table.GraftTable.create("dsv2eq", catalog, schema)
    t = t.append(Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0),
      (4L, null.asInstanceOf[String], 4.0)).toDF("id", "name", "v"))
    // delete keys "b" and a null key (null never matches: row 4 survives)
    t = t.equalityDelete(Seq(Some("b"), Option.empty[String]).toDF("name"), Seq("name"))
    // re-insert "b" AFTER the delete: seq scoping keeps the new row
    t = t.append(Seq((5L, "b", 5.0)).toDF("id", "name", "v"))

    def read() = spark.read.format("graft")
      .option("warehouse", wh).option("table", "dsv2eq").load()
    val explained = read().queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(explained.contains("BatchScan"), explained)
    assert(!explained.contains("ExistingRDD"), explained)
    assert(read().orderBy("id").collect().map(_.getLong(0)).toSeq
      === Seq(1L, 3L, 4L, 5L))
    // projection WITHOUT the key column: reader reads the key internally
    // and projects it away (extended-schema path)
    assert(read().select("id").orderBy("id").collect().map(_.getLong(0)).toSeq
      === Seq(1L, 3L, 4L, 5L))
    assert(read().select("id").schema.fieldNames.toSeq === Seq("id"))
    // metadata columns stay available under equality deletes
    assert(read().select(col("id"), col("_file"), col("_pos"))
      .collect().length === 4)
  }

  test("v3 field defaults serve natively in BatchScan") {
    import spark.implicits._
    val wh = java.nio.file.Files.createTempDirectory("graft-dsv2-def").toString
    val catalog = new graft.catalog.HadoopCatalog(wh, graft.io.FileIO.fromSpark(spark))
    val schema = graft.spec.IcebergSchema(0, Seq(
      graft.spec.NestedField(1, "id", graft.spec.IcebergType.LongT, required = false),
      graft.spec.NestedField(2, "v", graft.spec.IcebergType.StringT, required = false)))
    var t = graft.table.GraftTable.create("dsv2def", catalog, schema)
    t = t.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    t = graft.table.Transactions.upgradeFormatVersion(t, 3)
    t = t.updateSchema()
      .addColumnWithDefault("score", graft.spec.IcebergType.DoubleT, 9.5).commit()
    t = t.append(Seq((3L, "c", 1.25)).toDF("id", "v", "score"))

    def read() = spark.read.format("graft")
      .option("warehouse", wh).option("table", "dsv2def").load()
    val explained = read().queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(explained.contains("BatchScan"), explained)
    assert(!explained.contains("ExistingRDD"), explained)
    // pre-evolution files serve the default, not the parquet null-fill
    assert(read().orderBy("id").collect().map(_.getDouble(2)).toSeq
      === Seq(9.5, 9.5, 1.25))
    // a filter over the defaulted column evaluates against the default
    // (pushed parquet filters are withheld from default-missing files)
    assert(read().filter(col("score") === 9.5).count() === 2)
    assert(read().filter(col("score") > 1.0).count() === 3)
    // projection of only the defaulted column
    assert(read().select("score").collect().map(_.getDouble(0)).sorted.toSeq
      === Seq(1.25, 9.5, 9.5))
  }

  test("storage-partitioned join: co-partitioned tables join with no exchange") {
    import spark.implicits._
    val wh = java.nio.file.Files.createTempDirectory("graft-spj").toString
    val catalog = new graft.catalog.HadoopCatalog(wh, graft.io.FileIO.fromSpark(spark))
    def mkTable(name: String, n: Long): Unit = {
      val src = (1L to n).map(i => (i, s"g${i % 4}")).toDF("id", "grp")
      val schema = graft.spec.IcebergSchema.fromSpark(src.schema)
      val spec = graft.spec.PartitionSpec.build(schema,
        Seq("grp" -> graft.spec.Transform.Identity))
      graft.table.GraftTable.create(name, catalog, schema, spec).append(src)
      ()
    }
    mkTable("spj_a", 40L)
    mkTable("spj_b", 20L)

    val saved = Seq("spark.sql.sources.v2.bucketing.enabled",
      "spark.sql.autoBroadcastJoinThreshold", "spark.sql.adaptive.enabled")
      .map(k => k -> spark.conf.getOption(k))
    try {
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      def read(name: String) = spark.read.format("graft")
        .option("warehouse", wh).option("table", name).load()
      val j = read("spj_a").join(read("spj_b").withColumnRenamed("id", "id2"), Seq("grp"))
      val plan = j.queryExecution.executedPlan.toString
      // SPJ: the join consumes KeyGroupedPartitioning from both scans —
      // no ShuffleExchange anywhere in the plan
      assert(!plan.contains("Exchange"), s"shuffle in SPJ plan:\n$plan")
      assert(j.count() === 4L * 10L * 5L) // per group: 10 × 5 rows
      // sanity: same join with bucketing off shuffles both sides
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "false")
      val j2 = read("spj_a").join(read("spj_b").withColumnRenamed("id", "id2"), Seq("grp"))
      assert(j2.queryExecution.executedPlan.toString.contains("Exchange"))
    } finally saved.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }

  test("runtime filtering (DPP): dim join keys prune fact files at runtime") {
    import spark.implicits._
    import org.apache.spark.sql.connector.expressions.Expressions
    import org.apache.spark.sql.connector.expressions.filter.{Predicate => V2Predicate}

    val wh = java.nio.file.Files.createTempDirectory("graft-dpp").toString
    val catalog = new graft.catalog.HadoopCatalog(wh, graft.io.FileIO.fromSpark(spark))
    val src = (1L to 80L).map(i => (i, s"g${i % 8}")).toDF("id", "grp")
    val schema = graft.spec.IcebergSchema.fromSpark(src.schema)
    val spec = graft.spec.PartitionSpec.build(schema,
      Seq("grp" -> graft.spec.Transform.Identity))
    graft.table.GraftTable.create("dpp_fact", catalog, schema, spec).append(src)
    val t = graft.table.GraftTable.load("dpp_fact", catalog)

    // mechanics: a runtime IN over the partition source column re-plans
    // the scan to exactly the statically-pruned file set
    val scan = new GraftBatchScan(t, graft.expr.AlwaysTrue, Nil, None)
    val before = scan.planInputPartitions().length
    val in = new V2Predicate("IN", Array(
      Expressions.column("grp"),
      Expressions.literal("g1"), Expressions.literal("g2")))
    assert(scan.filterAttributes().map(_.describe()).toSeq === Seq("grp"))
    scan.filter(Array(in))
    val after = scan.planInputPartitions().length
    val expected = new GraftBatchScan(t,
      graft.expr.SetPred(graft.expr.In, "grp", Set("g1", "g2")), Nil, None)
      .planInputPartitions().length
    assert(after === expected, "runtime IN must match static pruning")
    assert(after < before, s"runtime filter must narrow ($after vs $before)")

    // untranslatable predicates must never narrow
    val scan2 = new GraftBatchScan(t, graft.expr.AlwaysTrue, Nil, None)
    scan2.filter(Array(new V2Predicate("ALWAYS_UNKNOWN", Array.empty)))
    assert(scan2.planInputPartitions().length === before)

    // end-to-end: broadcast star join stays correct with DPP active
    def read() = spark.read.format("graft")
      .option("warehouse", wh).option("table", "dpp_fact").load()
    val dim = Seq(("g1", 1), ("g3", 3)).toDF("grp", "tag")
    val joined = read().join(broadcast(dim), Seq("grp"))
    assert(joined.count() === 20L) // two groups × 10 fact rows
  }

  test("reader options pin snapshots: snapshot-id, branch, as-of-timestamp") {
    val t = IcebergFixtures.ordersTwoSnapshots(spark, sfDir)
    val wh = new java.io.File(t.location).getParentFile.getPath
    val snaps = t.metadata.snapshots.sortBy(_.sequenceNumber)
    val first = snaps.head
    val t2 = t.createBranch("halfway", Some(first.snapshotId))

    def read(opts: (String, String)*) = {
      val r = spark.read.format("graft")
        .option("warehouse", wh).option("table", "orders_tt")
      opts.foldLeft(r) { case (b, (k, v)) => b.option(k, v) }.load()
    }
    val full = read().count()
    val atFirst = read("snapshot-id" -> first.snapshotId.toString).count()
    assert(atFirst < full && atFirst > 0)
    assert(read("branch" -> "halfway").count() === atFirst)
    assert(read("as-of-timestamp" ->
      (first.timestampMs + 1).toString).count() === atFirst)
    intercept[Exception] { read("branch" -> "nope").count() }
  }

  test("reported ordering: sorted co-partitioned tables merge-join with no sort, no exchange") {
    import spark.implicits._
    val wh = java.nio.file.Files.createTempDirectory("graft-ord").toString
    val catalog = new graft.catalog.HadoopCatalog(wh, graft.io.FileIO.fromSpark(spark))
    def mkTable(name: String, n: Long, sorted: Boolean): Unit = {
      val src = (1L to n).map(i => (i, s"g${i % 4}")).toDF("id", "grp")
      val schema = graft.spec.IcebergSchema.fromSpark(src.schema)
      val spec = graft.spec.PartitionSpec.build(schema,
        Seq("grp" -> graft.spec.Transform.Identity))
      var t = graft.table.GraftTable.create(name, catalog, schema, spec)
      if (sorted) t = t.replaceSortOrder(Seq(graft.spec.SortField(
        schema.findField("id").get.id, graft.spec.Transform.Identity,
        ascending = true, nullsFirst = true)))
      t.append(src)
      ()
    }
    mkTable("ord_a", 40L, sorted = true)
    mkTable("ord_b", 20L, sorted = true)
    mkTable("uns_a", 40L, sorted = false)
    mkTable("uns_b", 20L, sorted = false)

    val saved = Seq("spark.sql.sources.v2.bucketing.enabled",
      "spark.sql.autoBroadcastJoinThreshold", "spark.sql.adaptive.enabled",
      "spark.sql.requireAllClusterKeysForCoPartition")
      .map(k => k -> spark.conf.getOption(k))
    try {
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      // join keys (grp, id) ⊃ partition keys (grp): clustering by grp
      // already co-locates equal (grp, id) pairs
      spark.conf.set("spark.sql.requireAllClusterKeysForCoPartition", "false")
      def read(name: String) = spark.read.format("graft")
        .option("warehouse", wh).option("table", name).load()

      val j = read("ord_a").join(read("ord_b").withColumnRenamed("id", "id")
        .as("b"), Seq("grp", "id"))
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), s"expected SMJ:\n$plan")
      assert(!plan.contains("Exchange"), s"SPJ must elide the shuffle:\n$plan")
      assert(!plan.contains("Sort "), s"reported ordering must elide sorts:\n$plan")
      assert(j.count() === 20L)

      // control: same layout without a sort order still sorts
      val j2 = read("uns_a").join(read("uns_b"), Seq("grp", "id"))
      val plan2 = j2.queryExecution.executedPlan.toString
      assert(plan2.contains("Sort "), s"unsorted tables must sort:\n$plan2")
      assert(j2.count() === 20L)
    } finally saved.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }

  test("metadata aggregates: count/min/max answered without reading data") {
    import spark.implicits._
    val wh = java.nio.file.Files.createTempDirectory("graft-agg").toString
    val catalog = new graft.catalog.HadoopCatalog(wh, graft.io.FileIO.fromSpark(spark))
    val src = (1L to 60L).map(i => (i, s"v$i")).toDF("id", "s")
    var t = graft.table.GraftTable.create("agg_t", catalog,
      graft.spec.IcebergSchema.fromSpark(src.schema)).append(src)

    def read() = spark.read.format("graft")
      .option("warehouse", wh).option("table", "agg_t").load()
    val agg = read().agg(count(lit(1)).as("n"),
      min(col("id")).as("mn"), max(col("id")).as("mx"))
    val plan = agg.queryExecution.executedPlan.toString
    assert(plan.contains("LocalTableScan"), s"expected metadata answer:\n$plan")
    assert(!plan.contains("BatchScan"), s"no data scan expected:\n$plan")
    assert(agg.head() === org.apache.spark.sql.Row(60L, 1L, 60L))

    // a delete file in scope poisons exactness: falls back to a real scan
    t = t.deleteWhere(graft.expr.BinaryPred(graft.expr.LtEq, "id", 5L), spark)
    val agg2 = read().agg(count(lit(1)).as("n"))
    assert(agg2.queryExecution.executedPlan.toString.contains("BatchScan"))
    assert(agg2.head().getLong(0) === 55L)
  }

  test("scan reports planning metrics for the Spark UI") {
    val t = IcebergFixtures.lineitemMonth(spark, sfDir)
    val scan = new GraftBatchScan(t, graft.expr.AlwaysTrue, Nil, None)
    val names = scan.supportedCustomMetrics().map(_.name).toSet
    assert(names === GraftBatchScan.MetricNames.map(_._1).toSet)
    val reported = scan.reportDriverMetrics().map(m => m.name -> m.value).toMap
    assert(reported("plannedDataFiles") > 0)
    assert(reported("totalDataManifests") > 0)
    // a pruning filter shows up as skipped files
    val pruned = new GraftBatchScan(t, graft.expr.BinaryPred(graft.expr.Lt,
      "l_shipdate", 0L), Nil, None)
    val rp = pruned.reportDriverMetrics().map(m => m.name -> m.value).toMap
    assert(rp("plannedDataFiles") === 0)
  }

  test("scan statistics: post-pruning rows and size, NDV from registered sketches") {
    import spark.implicits._
    val wh = java.nio.file.Files.createTempDirectory("graft-stats").toString
    val catalog = new graft.catalog.HadoopCatalog(wh, graft.io.FileIO.fromSpark(spark))
    val src = (1L to 80L).map(i => (i, s"g${i % 8}")).toDF("id", "grp")
    val schema = graft.spec.IcebergSchema.fromSpark(src.schema)
    val spec = graft.spec.PartitionSpec.build(schema,
      Seq("grp" -> graft.spec.Transform.Identity))
    graft.table.GraftTable.create("stats_t", catalog, schema, spec).append(src)
    val t = graft.table.GraftTable.load("stats_t", catalog)

    val all = new GraftBatchScan(t, graft.expr.AlwaysTrue, Nil, None)
      .estimateStatistics()
    assert(all.numRows().getAsLong === 80)
    // static pruning must shrink BOTH reported stats (broadcast decisions
    // key off sizeInBytes of the pruned relation, not the whole table)
    val pruned = new GraftBatchScan(t,
      graft.expr.SetPred(graft.expr.In, "grp", Set("g1")), Nil, None)
      .estimateStatistics()
    assert(pruned.numRows().getAsLong === 10)
    assert(pruned.sizeInBytes().getAsLong < all.sizeInBytes().getAsLong)

    // NDV surfaces from the snapshot's registered KMV sketch; null counts
    // from the planned files' stats maps
    val (t2, _) = graft.puffin.Sketches.writeDistinctStats(t, spark, Seq("grp"))
    val cs = new GraftBatchScan(t2, graft.expr.AlwaysTrue, Nil, None)
      .estimateStatistics().columnStats()
    val grpStats = cs.entrySet().iterator()
    var found = false
    while (grpStats.hasNext) {
      val e = grpStats.next()
      if (e.getKey.describe() == "grp") {
        found = true
        assert(e.getValue.distinctCount().getAsLong === 8)
        assert(e.getValue.nullCount().getAsLong === 0)
      }
    }
    assert(found, "grp column statistics missing")
  }

  test("bucket SPJ: bucket-partitioned tables join shuffle-free via the function catalog") {
    import spark.implicits._
    val wh = java.nio.file.Files.createTempDirectory("graft-spjb").toString
    val catalog = new graft.catalog.HadoopCatalog(wh, graft.io.FileIO.fromSpark(spark))
    def mkTable(name: String, n: Long): Unit = {
      val src = (1L to n).map(i => (i, i * 0.5)).toDF("id", "v")
      val schema = graft.spec.IcebergSchema.fromSpark(src.schema)
      val spec = graft.spec.PartitionSpec.build(schema,
        Seq("id" -> graft.spec.Transform.Bucket(4)))
      graft.table.GraftTable.create(name, catalog, schema, spec).append(src)
      ()
    }
    mkTable("spjb_a", 50L)
    mkTable("spjb_b", 50L)

    val saved = Seq("spark.sql.sources.v2.bucketing.enabled",
      "spark.sql.autoBroadcastJoinThreshold", "spark.sql.adaptive.enabled")
      .map(k => k -> spark.conf.getOption(k))
    try {
      spark.conf.set("spark.sql.catalog.graftspj", "graft.sources.GraftCatalogPlugin")
      spark.conf.set("spark.sql.catalog.graftspj.warehouse", wh)
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val j = spark.sql(
        """SELECT a.id, a.v, b.v AS v2
          |FROM graftspj.spjb_a a JOIN graftspj.spjb_b b ON a.id = b.id""".stripMargin)
      val plan = j.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"shuffle in bucket-SPJ plan:\n$plan")
      assert(j.count() === 50L)
    } finally saved.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }

  test("SQL surface: spark.sql over the catalog plugin, with pushdown") {
    val t = IcebergFixtures.ordersBucket(spark, sfDir)
    val warehouse = t.location.stripSuffix(s"/${t.name}")
    spark.conf.set("spark.sql.catalog.graftsql", "graft.sources.GraftCatalogPlugin")
    spark.conf.set("spark.sql.catalog.graftsql.warehouse", warehouse)

    val viaSql = spark.sql(
      s"SELECT o_orderkey, o_totalprice FROM graftsql.${t.name} WHERE o_custkey = 7")
    val expected = graft.Tables.orders(spark, sfDir)
      .filter(col("o_custkey") === 7L)
      .select("o_orderkey", "o_totalprice")
    assert(viaSql.collect().map(_.toString).sorted
      sameElements expected.collect().map(_.toString).sorted)

    assert(spark.sql(s"SHOW TABLES IN graftsql").collect()
      .map(_.getString(1)).contains(t.name))

    // full SQL DDL + DML round-trip: CREATE, INSERT (DSv2 V1 write
    // fallback), SELECT, DROP
    spark.sql("CREATE TABLE graftsql.sql_made (a BIGINT, b STRING) USING graft")
    spark.sql("INSERT INTO graftsql.sql_made VALUES (1, 'x'), (2, 'y')")
    spark.sql("INSERT INTO graftsql.sql_made SELECT 3, 'z'")
    assert(spark.sql("SELECT count(*) FROM graftsql.sql_made").head.getLong(0) === 3)
    assert(spark.sql("SELECT b FROM graftsql.sql_made WHERE a = 3").head.getString(0) === "z")
    spark.sql("DROP TABLE graftsql.sql_made")
  }

  test("INSERT OVERWRITE replaces table contents as an overwrite commit") {
    import spark.implicits._
    val wh = java.nio.file.Files.createTempDirectory("graft-iow").toString
    val catalog = new graft.catalog.HadoopCatalog(wh, graft.io.FileIO.fromSpark(spark))
    val schema = graft.spec.IcebergSchema(0, Seq(
      graft.spec.NestedField(1, "id", graft.spec.IcebergType.LongT, required = false)))
    graft.table.GraftTable.create("iow", catalog, schema)
      .append((1L to 10L).toDF("id"))

    spark.conf.set("spark.sql.catalog.graftiow", "graft.sources.GraftCatalogPlugin")
    spark.conf.set("spark.sql.catalog.graftiow.warehouse", wh)
    spark.sql("INSERT OVERWRITE graftiow.iow SELECT id FROM range(100, 105)")
    val got = spark.sql("SELECT id FROM graftiow.iow ORDER BY id")
      .as[Long].collect()
    assert(got === Array(100L, 101L, 102L, 103L, 104L))
    val t = graft.table.GraftTable.load("iow", catalog)
    assert(t.metadata.currentSnapshot.get.operation === "overwrite")
    // the old rows are still reachable via time travel
    val first = t.metadata.snapshots.head.snapshotId
    assert(t.atSnapshot(first).newScan().toDF(spark).count() === 10)
  }

  test("SQL metadata tables: cat.table.snapshots/files/history resolve") {
    val t = IcebergFixtures.ordersBucket(spark, sfDir)
    val warehouse = t.location.stripSuffix(s"/${t.name}")
    spark.conf.set("spark.sql.catalog.graftmeta", "graft.sources.GraftCatalogPlugin")
    spark.conf.set("spark.sql.catalog.graftmeta.warehouse", warehouse)
    val snaps = spark.sql(
      s"SELECT snapshot_id, operation FROM graftmeta.${t.name}.snapshots")
    assert(snaps.count() >= 1)
    assert(snaps.columns.toSeq === Seq("snapshot_id", "operation"))
    assert(spark.sql(s"SELECT * FROM graftmeta.${t.name}.files").count()
      === t.newScan().planFiles().size)
    assert(spark.sql(
      s"SELECT * FROM graftmeta.${t.name}.history WHERE is_current_ancestor").count() >= 1)
    // a real table named like a metadata table still resolves normally
    assert(spark.sql(s"SELECT count(*) FROM graftmeta.${t.name}").head.getLong(0) > 0)
    // all_* variants cover every snapshot, so they are supersets
    val allFiles = spark.sql(s"SELECT * FROM graftmeta.${t.name}.all_files").count()
    assert(allFiles >= t.newScan().planFiles().size)
    assert(spark.sql(s"SELECT * FROM graftmeta.${t.name}.all_manifests").count() >= 1)
    assert(spark.sql(
      s"""SELECT * FROM graftmeta.${t.name}.all_entries
         |WHERE status = 1""".stripMargin).count() >= 1)
  }

  test("SQL time travel: VERSION AS OF id/ref and TIMESTAMP AS OF") {
    import spark.implicits._
    val wh = java.nio.file.Files.createTempDirectory("graft-tt").toString
    val catalog = new graft.catalog.HadoopCatalog(wh, graft.io.FileIO.fromSpark(spark))
    val schema = graft.spec.IcebergSchema(0, Seq(
      graft.spec.NestedField(1, "id", graft.spec.IcebergType.LongT, required = false)))
    var t = graft.table.GraftTable.create("tt", catalog, schema)
    t = t.append((1L to 10L).toDF("id"))
    val snap1 = t.metadata.currentSnapshotId.get
    t = t.createBranch("stage")
    Thread.sleep(5) // distinct snapshot-log timestamps
    val betweenMs = System.currentTimeMillis()
    Thread.sleep(5)
    t = t.append((11L to 30L).toDF("id"))

    spark.conf.set("spark.sql.catalog.grafttt", "graft.sources.GraftCatalogPlugin")
    spark.conf.set("spark.sql.catalog.grafttt.warehouse", wh)
    def one(sql: String): Long = spark.sql(sql).head.getLong(0)
    assert(one("SELECT count(*) FROM grafttt.tt") === 30L)
    assert(one(s"SELECT count(*) FROM grafttt.tt VERSION AS OF $snap1") === 10L)
    assert(one("SELECT count(*) FROM grafttt.tt VERSION AS OF 'stage'") === 10L)
    assert(one(s"SELECT count(*) FROM grafttt.tt TIMESTAMP AS OF " +
      s"'${new java.sql.Timestamp(betweenMs)}'") === 10L)
    intercept[Exception] {
      one("SELECT count(*) FROM grafttt.tt VERSION AS OF 'nope'")
    }
  }

  test("views: CREATE VIEW / SELECT / REPLACE / DROP via spark.sql round-trip") {
    val t = IcebergFixtures.ordersBucket(spark, sfDir)
    val warehouse = t.location.stripSuffix(s"/${t.name}")
    spark.conf.set("spark.sql.catalog.graftv", "graft.sources.GraftCatalogPlugin")
    spark.conf.set("spark.sql.catalog.graftv.warehouse", warehouse)

    spark.sql(s"""CREATE VIEW graftv.big_orders AS
      SELECT o_orderkey, o_totalprice FROM graftv.${t.name}
      WHERE o_totalprice > 100000.0""")
    val viaView = spark.sql("SELECT count(*) AS n FROM graftv.big_orders").head.getLong(0)
    val direct = spark.sql(
      s"SELECT count(*) AS n FROM graftv.${t.name} WHERE o_totalprice > 100000.0")
      .head.getLong(0)
    assert(viaView === direct && direct > 0)

    // view metadata is spec-shaped on disk: versioned v1 JSON with the
    // recorded result schema and a spark SQL representation
    val io = graft.io.FileIO.fromSpark(spark)
    val store = new graft.catalog.ViewStore(warehouse, io)
    val (md, v) = store.load("big_orders")
    assert(v === 1)
    assert(md.formatVersion === 1)
    assert(md.currentVersion.sqlFor("spark").get.contains("o_totalprice"))
    assert(md.schemaById(md.currentVersion.schemaId).get.fields.map(_.name)
      === Seq("o_orderkey", "o_totalprice"))

    // CREATE OR REPLACE swaps the definition atomically (new metadata version)
    spark.sql(s"""CREATE OR REPLACE VIEW graftv.big_orders AS
      SELECT o_orderkey FROM graftv.${t.name} WHERE o_totalprice > 200000.0""")
    assert(spark.sql("SELECT * FROM graftv.big_orders").schema.fieldNames.toSeq
      === Seq("o_orderkey"))

    // IF NOT EXISTS is a no-op on an existing view
    spark.sql(s"""CREATE VIEW IF NOT EXISTS graftv.big_orders AS
      SELECT 1 AS one""")
    assert(spark.sql("SELECT * FROM graftv.big_orders").schema.fieldNames.toSeq
      === Seq("o_orderkey"))

    spark.sql("DROP VIEW graftv.big_orders")
    assert(!store.exists("big_orders"))
    spark.sql("DROP VIEW IF EXISTS graftv.big_orders") // no-op, no throw
  }

  test("ALTER TABLE DDL: add/rename/widen/drop + properties, both generations read") {
    spark.conf.set("spark.sql.catalog.graftddl", "graft.sources.GraftCatalogPlugin")
    val warehouse = java.nio.file.Files.createTempDirectory("graft-ddl").toString
    spark.conf.set("spark.sql.catalog.graftddl.warehouse", warehouse)

    spark.sql("CREATE TABLE graftddl.evo (id INT, old_name STRING) USING graft")
    spark.sql("INSERT INTO graftddl.evo VALUES (1, 'a'), (2, 'b')")
    spark.sql("ALTER TABLE graftddl.evo ADD COLUMN score DOUBLE")
    spark.sql("ALTER TABLE graftddl.evo RENAME COLUMN old_name TO label")
    spark.sql("ALTER TABLE graftddl.evo ALTER COLUMN id TYPE BIGINT")
    spark.sql("INSERT INTO graftddl.evo VALUES (3, 'c', 0.5)")

    val rows = spark.sql(
      "SELECT id, label, score FROM graftddl.evo ORDER BY id").collect()
    assert(rows.map(_.getLong(0)).toSeq === Seq(1L, 2L, 3L))
    assert(rows.map(_.getString(1)).toSeq === Seq("a", "b", "c"))
    assert(rows.map(r => if (r.isNullAt(2)) null else r.getDouble(2)).toSeq
      === Seq(null, null, 0.5))

    spark.sql("ALTER TABLE graftddl.evo SET TBLPROPERTIES ('k' = 'v')")
    val cat = new graft.catalog.HadoopCatalog(warehouse, graft.io.FileIO.fromSpark(spark))
    assert(graft.table.GraftTable.load("evo", cat).metadata.properties("k") === "v")

    spark.sql("ALTER TABLE graftddl.evo DROP COLUMN score")
    assert(spark.sql("SELECT * FROM graftddl.evo").schema.fieldNames.toSeq
      === Seq("id", "label"))
    spark.sql("DROP TABLE graftddl.evo")
  }

  test("projection pruning narrows readSchema") {
    val t = IcebergFixtures.ordersBucket(spark, sfDir)
    val warehouse = t.location.stripSuffix(s"/${t.name}")
    val df = spark.read.format("graft")
      .option("warehouse", warehouse).option("table", t.name).load()
      .select("o_orderkey")
    assert(df.schema.fieldNames.toSeq === Seq("o_orderkey"))
    assert(df.count() === graft.Tables.orders(spark, sfDir).count())
  }

  test("pos-delete files bind per data file — untouched files keep splits") {
    import spark.implicits._
    val wh = java.nio.file.Files.createTempDirectory("graft-pdi").toString
    val catalog = new graft.catalog.HadoopCatalog(wh, graft.io.FileIO.fromSpark(spark))
    val schema = graft.spec.IcebergSchema.fromSpark(
      Seq((1L, "x")).toDF("id", "v").schema)
    var t = graft.table.GraftTable.create("pdi", catalog, schema)
    // two appends → (at least) two data files with disjoint id ranges
    t = t.append((1L to 100L).map(i => (i, s"a$i")).toDF("id", "v").coalesce(1))
    t = t.append((101L to 200L).map(i => (i, s"b$i")).toDF("id", "v").coalesce(1))
    // MoR delete matching rows only in the FIRST file
    t = t.deleteWhere(graft.expr.BinaryPred(graft.expr.LtEq, "id", 5L), spark)
    val delTasks = t.newScan().planDeletes()
    assert(delTasks.nonEmpty)
    assert(delTasks.forall(d =>
      d.file.lowerBounds.contains(graft.meta.ReservedFieldIds.FilePath)),
      "staged pos-delete files must carry file_path bounds")

    // flatten packed bins: the delete-binding assertions are per SPLIT
    val parts = new GraftBatchScan(t, graft.expr.AlwaysTrue, Nil, None)
      .planInputPartitions().flatMap {
        case p: GraftPackedInputPartition => p.parts
        case k: GraftKeyedPackedInputPartition => k.parts
        case k: GraftKeyedInputPartition => Seq(k.part)
        case g: GraftInputPartition => Seq(g)
      }
    val withDel = parts.filter(_.deletes.posFiles.nonEmpty)
    val without = parts.filter(_.deletes.posFiles.isEmpty)
    assert(withDel.map(_.path).distinct.length === 1,
      "only the deleted-from data file may carry pos-delete work")
    assert(without.nonEmpty)
    assert(without.forall(!_.needsRowIndex),
      "unbound files must keep split/row-group freedom")

    // correctness unchanged
    val df = spark.read.format("graft")
      .option("warehouse", wh).option("table", "pdi").load()
    assert(df.count() === 195)
    assert(df.filter($"id" <= 5).count() === 0)
  }

  test("incremental reader options: (start, end] appends only, refuses deletes in range") {
    import spark.implicits._
    val wh = java.nio.file.Files.createTempDirectory("graft-incopt-").toString
    val cat = new graft.catalog.HadoopCatalog(wh, graft.io.FileIO.fromSpark(spark))
    val schema = graft.spec.IcebergSchema.fromSpark(
      Seq((1L, "a")).toDF("id", "v").schema)
    var t = graft.table.GraftTable.create("inc", cat, schema)
    t = t.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    val s1 = t.metadata.currentSnapshotId.get
    t = t.append(Seq((3L, "c"), (4L, "d")).toDF("id", "v"))
    val s2 = t.metadata.currentSnapshotId.get
    t = t.append(Seq((5L, "e")).toDF("id", "v"))

    def read(opts: (String, String)*) = {
      val r = spark.read.format("graft")
        .option("warehouse", wh).option("table", "inc")
      opts.foreach { case (k, v) => r.option(k, v) }
      r.load()
    }
    // bounded window (s1, s2]
    assert(read("start-snapshot-id" -> s1.toString,
        "end-snapshot-id" -> s2.toString)
      .select("id").as[Long].collect().sorted.toSeq === Seq(3L, 4L))
    // open window (s1, current]
    assert(read("start-snapshot-id" -> s1.toString)
      .select("id").as[Long].collect().sorted.toSeq === Seq(3L, 4L, 5L))
    // pushed filters still prune within the window
    assert(read("start-snapshot-id" -> s1.toString)
      .filter($"id" === 5L).select("id").as[Long].collect().toSeq === Seq(5L))
    // a delete snapshot inside the window is refused (append-only contract)
    t = t.deleteWhere(graft.expr.BinaryPred(graft.expr.Eq, "id", 3L), spark)
    val e = intercept[Exception] {
      read("start-snapshot-id" -> s1.toString).collect()
    }
    assert(Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .take(8).exists(c => Option(c.getMessage).exists(_.contains("not append"))))
  }

  /** bytesRead scan metric (scan_metrics.rs:54-72): executor-side counter
    * over data split ranges AND MoR delete inputs. Driven at the reader
    * level: drain every partition reader, sum currentMetricsValues. */
  test("bytesRead metric counts data ranges and MoR delete files") {
    def readAllBytes(t: graft.table.GraftTable): Long = {
      val scan = new GraftScanBuilder(t).build()
      val batch = scan.toBatch
      val factory = batch.createReaderFactory()
      batch.planInputPartitions().map { p =>
        val r = factory.createReader(p)
        while (r.next()) { r.get() }
        val v = r.currentMetricsValues().find(_.name == "bytesRead")
          .map(_.value).getOrElse(0L)
        r.close(); v
      }.sum
    }

    val clean = IcebergFixtures.ordersBucket(spark, sfDir)
    val dataBytes = clean.newScan().planFiles().map(_.file.fileSizeInBytes).sum
    val got = readAllBytes(clean)
    assert(got > 0L)
    // whole-file split coverage: the sum of split ranges equals file sizes
    assert(got == dataBytes, s"clean scan bytes $got != planned $dataBytes")

    // MoR fixture: the counter must ALSO include the delete-side parquet
    val mor = IcebergFixtures.ordersPosDeleted(spark, sfDir)
    val morData = mor.newScan().planFiles().map(_.file.fileSizeInBytes).sum
    val delBytes = mor.newScan().planDeletes().map(_.file.fileSizeInBytes).sum
    assert(delBytes > 0L, "fixture must carry position-delete files")
    val gotMor = readAllBytes(mor)
    assert(gotMor > morData, s"MoR scan bytes $gotMor must exceed data-only $morData")
    // each task re-reads the delete files that reference its data file;
    // the fixture's delete file binds to every data file, so the total is
    // data + (bound delete bytes per task), at least data + one delete read
    assert(gotMor >= morData + delBytes)
  }

  /** Split packing (r16): task count ∝ bytes, not files — KB-scale files
    * pack into shared InputPartitions; SPJ bins never cross a partition
    * tuple; reads and metrics stay exact; a provably-sorted scan skips
    * packing so its ordering report stays valid. */
  test("split packing: bins by bytes, SPJ-safe, exact reads, order-preserving opt-out") {
    import spark.implicits._
    val wh = java.nio.file.Files.createTempDirectory("graft-pack-").toString
    val cat = new graft.catalog.HadoopCatalog(wh, graft.io.FileIO.fromSpark(spark))

    // unpartitioned, 12 one-row appends → 12 KB-scale files
    val schema = IcebergSchema.fromSpark(Seq((1L, "x")).toDF("id", "v").schema)
    var t = graft.table.GraftTable.create("packu", cat, schema)
    (1L to 12L).foreach(i => t = t.append(Seq((i, s"v$i")).toDF("id", "v")))
    val scan = new GraftBatchScan(t, graft.expr.AlwaysTrue, Nil, None)
    val parts = scan.planInputPartitions()
    assert(parts.length < 12,
      s"12 tiny files must pack into fewer partitions, got ${parts.length}")
    def splitsOf(p: org.apache.spark.sql.connector.read.InputPartition) =
      p match {
        case pp: GraftPackedInputPartition => pp.parts
        case kp: GraftKeyedPackedInputPartition => kp.parts
        case k: GraftKeyedInputPartition => Seq(k.part)
        case g: GraftInputPartition => Seq(g)
      }
    assert(parts.flatMap(splitsOf).map(_.path).distinct.length === 12,
      "packing must cover every planned file exactly once")
    // exact read through the packed bins (counts + values)
    val df = spark.read.format("graft")
      .option("warehouse", wh).option("table", "packu").load()
    assert(df.count() === 12L)
    assert(df.select("id").as[Long].collect().sorted.toSeq === (1L to 12L))
    // bytesRead still counts every split of a bin
    val factory = scan.createReaderFactory()
    val gotBytes = parts.map { p =>
      val r = factory.createReader(p)
      while (r.next()) { r.get() }
      val v = r.currentMetricsValues().find(_.name == "bytesRead")
        .map(_.value).getOrElse(0L)
      r.close(); v
    }.sum
    val planned = t.newScan().planFiles().map(_.file.fileSizeInBytes).sum
    assert(gotBytes === planned,
      s"packed bytesRead $gotBytes != planned file bytes $planned")

    // identity-partitioned: bins never cross a partition tuple
    val src = (1L to 40L).map(i => (i, s"g${i % 4}")).toDF("id", "grp")
    val pschema = IcebergSchema.fromSpark(src.schema)
    val pspec = graft.spec.PartitionSpec.build(pschema,
      Seq("grp" -> graft.spec.Transform.Identity))
    var pt = graft.table.GraftTable.create("packp", cat, pschema, pspec)
    (0 until 3).foreach(_ => pt = pt.append(src)) // 3 appends × 4 groups
    val pparts = new GraftBatchScan(pt, graft.expr.AlwaysTrue, Nil, None)
      .planInputPartitions()
    assert(pparts.nonEmpty)
    pparts.foreach { p =>
      assert(p.isInstanceOf[org.apache.spark.sql.connector.read.HasPartitionKey])
      // tuple identity = the Hive-style partition segment (commit dirs differ)
      val tuples = splitsOf(p)
        .map(_.path.replaceAll("/[^/]*$", "").replaceAll(".*/", "")).distinct
      assert(tuples.length === 1, s"a bin crossed partition tuples: $tuples")
    }
    assert(pparts.length === 4,
      s"3 appends × 4 identity groups must pack to 4 bins, got ${pparts.length}")

    // sorted table: files stamped with the sort order → no packing, the
    // ordering report survives
    var st = graft.table.GraftTable.create("packs", cat, schema)
    st = st.replaceSortOrder(Seq(graft.spec.SortField(
      schema.findField("id").get.id, graft.spec.Transform.Identity,
      ascending = true, nullsFirst = true)))
    (1L to 4L).foreach(i => st = st.append(Seq((i, s"v$i")).toDF("id", "v")))
    val sscan = new GraftBatchScan(st, graft.expr.AlwaysTrue, Nil, None)
    val sparts = sscan.planInputPartitions()
    assert(sscan.outputOrdering().nonEmpty,
      "sorted fixture must report its ordering")
    assert(sparts.length === 4,
      "an ordering-reporting scan must keep one split per partition")
  }
}
