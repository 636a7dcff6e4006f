package graft.queries

import org.apache.spark.sql.functions._

import graft.expr.Predicate

/** The table-format engine surface registered as driver-checked queries.
  *
  * Unlike RelationalQueries (Catalyst over raw parquet), every query here
  * routes through the Iceberg machinery: append commit → manifest/manifest-
  * list Avro → scan planning with metadata pruning → parquet read with
  * field-id projection. The DuckDB oracle reads the same raw parquet the
  * fixture table was built from, so equality holds iff the whole
  * write→plan→prune→read pipeline is lossless (scan/mod.rs:381-498,
  * table/mod.rs:153-240 semantics).
  *
  * Timestamps are emitted as DATE: the raw parquet stores ms-precision
  * timestamps, our table stores µs — value-identical here, but the dumped
  * parquet types must match for the driver's hash.
  */
object IcebergQueries {

  /** Full unfiltered scan of the month-partitioned lineitem table. */
  val i01 = Q.sql(
    "i01_iceberg_full_scan",
    """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice,
      |  l_returnflag, CAST(l_shipdate AS DATE) AS ship_date
      |FROM lineitem
      |ORDER BY l_orderkey, l_linenumber, l_quantity, l_extendedprice,
      |  l_returnflag, ship_date""".stripMargin,
    bench = true
  ) { (s, d) =>
    IcebergFixtures.lineitemMonth(s, d).newScan().toDF(s)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        col("l_extendedprice"), col("l_returnflag"),
        col("l_shipdate").cast("date").as("ship_date"))
      // (l_orderkey, l_linenumber) is not unique in the synthetic data:
      // order by every output column for a total order on both sides
      .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        col("l_extendedprice"), col("l_returnflag"), col("ship_date"))
  }

  /** Filtered scan: the predicate prunes month partitions at plan time
    * (InclusiveProjection → ManifestEvaluator → ExpressionEvaluator) and is
    * re-applied as the residual Catalyst filter. */
  val i02 = Q.sql(
    "i02_iceberg_pruned_scan",
    """SELECT l_orderkey, l_linenumber, CAST(l_shipdate AS DATE) AS ship_date,
      |  l_quantity
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      |  AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
      |ORDER BY l_orderkey, l_linenumber, ship_date, l_quantity""".stripMargin,
    bench = true
  ) { (s, d) =>
    IcebergFixtures.lineitemMonth(s, d).newScan()
      .withFilter(
        Predicate.gtEq("l_shipdate", Predicate.tsMicros("1997-01-01T00:00:00"))
          .and(Predicate.lt("l_shipdate", Predicate.tsMicros("1998-01-01T00:00:00"))))
      .toDF(s)
      .select(col("l_orderkey"), col("l_linenumber"),
        col("l_shipdate").cast("date").as("ship_date"), col("l_quantity"))
      .orderBy(col("l_orderkey"), col("l_linenumber"), col("ship_date"),
        col("l_quantity"))
  }

  /** Column projection through the scan (select() → parquet read mask). */
  val i03 = Q.sql(
    "i03_iceberg_projection",
    """SELECT l_orderkey, l_linenumber, l_quantity
      |FROM lineitem
      |WHERE l_quantity > 45
      |ORDER BY l_orderkey, l_linenumber, l_quantity""".stripMargin
  ) { (s, d) =>
    IcebergFixtures.lineitemMonth(s, d).newScan()
      .withFilter(Predicate.gt("l_quantity", 45.0))
      .select("l_orderkey", "l_linenumber", "l_quantity")
      .toDF(s)
      .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
  }

  /** Bucket-partition pruning: equality on the bucketed key plans only the
    * matching bucket's files (ExpressionEvaluator over bucket[8] values). */
  val i04 = Q.sql(
    "i04_iceberg_bucket_scan",
    """SELECT o_orderkey, o_custkey, o_totalprice,
      |  CAST(o_orderdate AS DATE) AS order_date
      |FROM orders
      |WHERE o_custkey = 7
      |ORDER BY o_orderkey""".stripMargin
  ) { (s, d) =>
    IcebergFixtures.ordersBucket(s, d).newScan()
      .withFilter(Predicate.eqTo("o_custkey", 7L))
      .toDF(s)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        col("o_orderdate").cast("date").as("order_date"))
      .orderBy(col("o_orderkey"))
  }

  /** Time travel: scan the first snapshot (even order keys only) of a
    * two-snapshot table (snapshot_id scoping, scan/mod.rs:133). */
  val i05 = Q.sql(
    "i05_iceberg_time_travel",
    """SELECT o_orderstatus, count(*) AS n,
      |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DECIMAL(15,4)) AS DOUBLE) AS total
      |FROM orders
      |WHERE o_orderkey % 2 = 0
      |GROUP BY o_orderstatus
      |ORDER BY o_orderstatus""".stripMargin
  ) { (s, d) =>
    val t = IcebergFixtures.ordersTwoSnapshots(s, d)
    val firstSnap = t.metadata.snapshots.head.snapshotId
    t.newScan().useSnapshot(firstSnap).toDF(s)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast("decimal(18,6)")).cast("decimal(15,4)").cast("double").as("total"))
      .orderBy(col("o_orderstatus"))
  }

  /** files metadata table: per-partition row counts from manifest entries
    * alone (no data read) must equal a raw GROUP BY over the data. */
  val i06 = Q.sql(
    "i06_iceberg_files_meta",
    """SELECT strftime(l_shipdate, '%Y-%m') AS part, count(*) AS n_rows
      |FROM lineitem
      |GROUP BY 1
      |ORDER BY part""".stripMargin
  ) { (s, d) =>
    import s.implicits._
    val t = IcebergFixtures.lineitemMonth(s, d)
    val spec = t.spec
    t.newScan().planFiles()
      .groupBy(task => spec.fields.head.transform.toHumanString(task.file.partition.head))
      .map { case (part, tasks) => (part, tasks.map(_.file.recordCount).sum) }
      .toSeq.sortBy(_._1)
      .toDF("part", "n_rows")
  }

  /** snapshots + history metadata tables (inspect/metadata_table.rs):
    * deterministic columns only (ids/timestamps are per-run) — the
    * two-append fixture always yields sequence numbers 1,2 with operation
    * 'append', so a VALUES oracle closes the gate. */
  val i07 = Q.sql(
    "i07_iceberg_snapshots_meta",
    """SELECT * FROM (VALUES (CAST(1 AS BIGINT), 'append'),
      |                      (CAST(2 AS BIGINT), 'append'))
      |  AS t(sequence_number, operation)
      |ORDER BY sequence_number""".stripMargin
  ) { (s, d) =>
    val t = IcebergFixtures.ordersTwoSnapshots(s, d)
    t.snapshotsDf(s)
      .select(col("sequence_number"), col("operation"))
      .orderBy(col("sequence_number"))
  }

  /** MoR position deletes: DELETE WHERE price > 200k, then scan — must
    * equal the complementary filter over the raw data
    * (positional_deletes.rs:35 semantics). */
  val i08 = Q.sql(
    "i08_iceberg_pos_delete_scan",
    """SELECT o_orderkey, o_custkey, o_totalprice
      |FROM orders
      |WHERE o_totalprice <= 200000.0
      |ORDER BY o_orderkey, o_totalprice""".stripMargin
  ) { (s, d) =>
    IcebergFixtures.ordersPosDeleted(s, d).newScan().toDF(s)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .orderBy(col("o_orderkey"), col("o_totalprice"))
  }

  /** MoR equality deletes: delete-by-key (segment=BUILDING), then scan +
    * aggregate (delete_filter.rs:190 semantics incl. seq scoping). */
  val i09 = Q.sql(
    "i09_iceberg_eq_delete_scan",
    """SELECT c_nationkey, count(*) AS n_customers
      |FROM customer
      |WHERE c_mktsegment <> 'BUILDING'
      |GROUP BY c_nationkey
      |ORDER BY c_nationkey""".stripMargin
  ) { (s, d) =>
    IcebergFixtures.customerEqDeleted(s, d).newScan().toDF(s)
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("n_customers"))
      .orderBy(col("c_nationkey"))
  }

  /** Compaction: multi-append + delete + rewrite-files replace commit —
    * the compacted scan must still match the logical table state (file
    * count reduction is asserted in MaintenanceSpec). */
  val i10 = Q.sql(
    "i10_iceberg_compaction",
    """SELECT o_orderstatus, count(*) AS n,
      |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DECIMAL(15,4)) AS DOUBLE) AS total
      |FROM orders
      |WHERE o_totalprice <= 250000.0
      |GROUP BY o_orderstatus
      |ORDER BY o_orderstatus""".stripMargin
  ) { (s, d) =>
    IcebergFixtures.ordersCompacted(s, d).newScan().toDF(s)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast("decimal(18,6)")).cast("decimal(15,4)").cast("double").as("total"))
      .orderBy(col("o_orderstatus"))
  }

  /** DSv2 SQL surface: spark.read.format("graft") with a plain Catalyst
    * filter — sources.Filter → Predicate translation must prune AND the
    * residual must produce exactly the raw-parquet answer
    * (expr_to_predicate.rs:45-300 reverse direction). */
  val i11 = Q.sql(
    "i11_dsv2_filter_pushdown",
    """SELECT o_orderkey, o_custkey, o_totalprice
      |FROM orders
      |WHERE o_custkey IN (7, 11, 13) AND o_totalprice > 50000.0
      |ORDER BY o_orderkey""".stripMargin,
    bench = true
  ) { (s, d) =>
    val t = IcebergFixtures.ordersBucket(s, d)
    val warehouse = t.location.stripSuffix(s"/${t.name}")
    s.read.format("graft")
      .option("warehouse", warehouse).option("table", t.name).load()
      .filter(col("o_custkey").isin(7L, 11L, 13L) && col("o_totalprice") > 50000.0)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .orderBy(col("o_orderkey"))
  }

  /** Schema evolution: rename + add column mid-table, then scan both
    * generations (update_schema.rs:116-147; read-side id resolution +
    * null fill). The multiplier 0.125 = 2⁻³ keeps the double exact. */
  val i12 = Q.sql(
    "i12_schema_evolution_scan",
    """SELECT c_custkey, c_acctbal AS balance,
      |  CASE WHEN c_custkey % 2 = 1 THEN c_acctbal * 0.125 END AS bonus
      |FROM customer
      |ORDER BY c_custkey""".stripMargin
  ) { (s, d) =>
    IcebergFixtures.customerEvolved(s, d).newScan().toDF(s)
      .select(col("c_custkey"), col("balance"), col("bonus"))
      .orderBy(col("c_custkey"))
  }

  /** Reserved metadata columns: group the data by the scan-synthesized
    * `_partition` tuple (month transform) — counts must equal a plain
    * GROUP BY over the raw data, proving `_partition`/`_spec_id` carry
    * correct per-file constants (metadata_columns.rs:33-90). */
  val i13 = Q.sql(
    "i13_metadata_columns",
    """SELECT (year(l_shipdate) - 1970) * 12 + month(l_shipdate) - 1 AS part_month,
      |  count(*) AS n_rows
      |FROM lineitem
      |GROUP BY 1 ORDER BY part_month""".stripMargin
  ) { (s, d) =>
    IcebergFixtures.lineitemMonth(s, d).newScan().withMetadataColumns().toDF(s)
      .filter(col("_spec_id") === 0 && col("_pos") >= 0 && col("_file").isNotNull)
      .groupBy(col("_partition.l_shipdate_month").cast("long").as("part_month"))
      .agg(count(lit(1)).as("n_rows"))
      .orderBy(col("part_month"))
  }

  /** v3 deletion vectors: DELETE via Puffin roaring-bitmap blobs, then
    * scan — executor-decoded DVs filter exactly like parquet position
    * deletes (delete_vector.rs:27, puffin writer/reader). */
  val i14 = Q.sql(
    "i14_deletion_vector_scan",
    """SELECT o_orderkey, o_custkey, o_totalprice
      |FROM orders
      |WHERE o_totalprice <= 200000.0
      |ORDER BY o_orderkey, o_totalprice""".stripMargin
  ) { (s, d) =>
    IcebergFixtures.ordersDvDeleted(s, d).newScan().toDF(s)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .orderBy(col("o_orderkey"), col("o_totalprice"))
  }

  /** KMV distinct sketches persisted as Puffin stats blobs (role of
    * apache-datasketches-theta-v1, puffin/blob.rs:23). The oracle replays
    * the same md5-based estimator in SQL — write path, blob round-trip and
    * estimator must all agree. */
  val i15 = Q.sql(
    "i15_distinct_sketch",
    """WITH h1 AS (SELECT DISTINCT ('0x'||substr(md5(c_mktsegment),1,15))::BIGINT AS x
      |            FROM customer WHERE c_mktsegment IS NOT NULL),
      |r1 AS (SELECT x FROM h1 ORDER BY x LIMIT 64),
      |e1 AS (SELECT count(*) AS n, max(x) AS hk FROM r1),
      |h2 AS (SELECT DISTINCT ('0x'||substr(md5(c_custkey::VARCHAR),1,15))::BIGINT AS x
      |       FROM customer WHERE c_custkey IS NOT NULL),
      |r2 AS (SELECT x FROM h2 ORDER BY x LIMIT 64),
      |e2 AS (SELECT count(*) AS n, max(x) AS hk FROM r2)
      |SELECT column_name, ndv FROM (
      |  SELECT 'c_mktsegment' AS column_name,
      |    CASE WHEN n < 64 THEN n
      |         ELSE CAST(floor(63 * pow(2.0, 60) / hk) AS BIGINT) END AS ndv
      |  FROM e1
      |  UNION ALL
      |  SELECT 'c_custkey' AS column_name,
      |    CASE WHEN n < 64 THEN n
      |         ELSE CAST(floor(63 * pow(2.0, 60) / hk) AS BIGINT) END AS ndv
      |  FROM e2)
      |ORDER BY column_name""".stripMargin
  ) { (s, d) =>
    import s.implicits._
    val base = IcebergFixtures.plainCustomer(s, d)
    val (withStats, _) = graft.puffin.Sketches.writeDistinctStats(
      base, s, Seq("c_mktsegment", "c_custkey"))
    // discovery goes through metadata.statistics — no hand-carried path
    graft.puffin.Sketches.readCurrentStats(withStats)
      .map(sk => (sk.column, sk.estimate))
      .toDF("column_name", "ndv")
      .orderBy(col("column_name"))
  }

  /** Branch/tag reads: a tag pinned at the even-keys snapshot keeps
    * serving that state after main advances (SnapshotRef + useRef). */
  val i16 = Q.sql(
    "i16_branch_scan",
    """SELECT o_orderstatus, count(*) AS n
      |FROM orders
      |WHERE o_orderkey % 2 = 0
      |GROUP BY o_orderstatus
      |ORDER BY o_orderstatus""".stripMargin
  ) { (s, d) =>
    val t = IcebergFixtures.ordersTagged(s, d)
    t.newScan().useRef("even-only").toDF(s)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("o_orderstatus"))
  }

  /** Copy-on-write UPDATE WHERE (Operation::Overwrite): matching rows
    * rewritten with the assignment, others byte-identical. */
  val i17 = Q.sql(
    "i17_cow_update_scan",
    """SELECT o_orderkey,
      |  CASE WHEN o_orderstatus = 'F' THEN o_totalprice * 0.5
      |       ELSE o_totalprice END AS o_totalprice,
      |  o_orderstatus
      |FROM orders
      |ORDER BY o_orderkey""".stripMargin
  ) { (s, d) =>
    IcebergFixtures.ordersUpdated(s, d).newScan().toDF(s)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
      .orderBy(col("o_orderkey"))
  }

  /** MERGE upsert: matched keys replaced, new keys inserted, one
    * overwrite snapshot. */
  val i18 = Q.sql(
    "i18_merge_scan",
    """WITH source AS (
      |  SELECT c_custkey, 'new' AS c_name, 0 AS c_nationkey,
      |         0.0 AS c_acctbal, 'NEW' AS c_mktsegment
      |  FROM (SELECT 900001 + x AS c_custkey FROM range(3) t(x))
      |  UNION ALL
      |  SELECT c_custkey, c_name, c_nationkey, c_acctbal * 2, c_mktsegment
      |  FROM customer WHERE c_nationkey = 1)
      |SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
      |FROM customer
      |WHERE c_custkey NOT IN (SELECT c_custkey FROM source)
      |UNION ALL
      |SELECT * FROM source
      |ORDER BY c_custkey""".stripMargin
  ) { (s, d) =>
    IcebergFixtures.customerMerged(s, d).newScan().toDF(s)
      .orderBy(col("c_custkey"))
  }

  /** Incremental append scan (CDC): rows added strictly AFTER the tagged
    * snapshot — the odd keys appended in the second commit. */
  val i19 = Q.sql(
    "i19_incremental_scan",
    """SELECT o_orderkey, o_custkey, o_totalprice
      |FROM orders
      |WHERE o_orderkey % 2 = 1
      |ORDER BY o_orderkey""".stripMargin
  ) { (s, d) =>
    val t = IcebergFixtures.ordersTagged(s, d)
    val from = t.metadata.refs("even-only").snapshotId
    val to = t.metadata.currentSnapshotId.get
    t.newScan().appendsBetween(from, to).toDF(s)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .orderBy(col("o_orderkey"))
  }

  /** SQL DDL+DML surface: table created and populated purely through
    * `spark.sql` (CREATE TABLE USING graft + INSERT INTO), then read
    * back via spark.sql over the catalog plugin. */
  val i20 = Q.sql(
    "i20_sql_insert_scan",
    """SELECT s_nationkey, count(*) AS n,
      |  CAST(CAST(SUM(CAST(s_acctbal AS DECIMAL(18,6))) AS DECIMAL(15,4)) AS DOUBLE) AS bal
      |FROM supplier
      |GROUP BY s_nationkey
      |ORDER BY s_nationkey""".stripMargin
  ) { (s, d) =>
    IcebergFixtures.supplierSqlInserted(s, d)
    s.sql("""SELECT s_nationkey, count(*) AS n,
      CAST(CAST(SUM(CAST(s_acctbal AS DECIMAL(18,6))) AS DECIMAL(15,4)) AS DOUBLE) AS bal
      FROM graftfix.supplier_sql GROUP BY s_nationkey ORDER BY s_nationkey""")
  }

  /** v3 row lineage: every append takes a contiguous first_row_id block
    * (table_metadata.rs:140 next_row_id), so `_row_id` = first_row_id +
    * position is dense 0..N-1 across the two-append fixture — distinct,
    * zero-based, gap-free (metadata_columns.rs _row_id inheritance). */
  val i21 = Q.sql(
    "i21_row_lineage",
    """SELECT count(*)::BIGINT AS n_rows, count(*)::BIGINT AS n_ids,
      |  CAST(0 AS BIGINT) AS min_id, (count(*) - 1)::BIGINT AS max_id
      |FROM orders""".stripMargin
  ) { (s, d) =>
    val t = IcebergFixtures.ordersTwoSnapshots(s, d)
    t.newScan().withMetadataColumns().toDF(s)
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col("_row_id")).as("n_ids"),
        min(col("_row_id")).as("min_id"),
        max(col("_row_id")).as("max_id"))
  }

  /** metadata_log_entries metadata table (table_metadata.rs metadata_log,
    * centralized append in CommitRetry): the create+2-append fixture has
    * exactly three generations — v1 from create (no snapshot yet) and one
    * per append — so generation ordinal and snapshot-presence are
    * deterministic even though paths/timestamps are per-run. */
  val i22 = Q.sql(
    "i22_metadata_log",
    """SELECT * FROM (VALUES (CAST(1 AS BIGINT), false),
      |                      (CAST(2 AS BIGINT), true),
      |                      (CAST(3 AS BIGINT), true))
      |  AS t(ordinal, has_snapshot)
      |ORDER BY ordinal""".stripMargin
  ) { (s, d) =>
    val t = IcebergFixtures.ordersTwoSnapshots(s, d)
    t.metadataLogEntriesDf(s)
      .select(regexp_extract(col("file"), "v(\\d+)\\.metadata\\.json$", 1)
        .cast("long").as("ordinal"),
        col("latest_snapshot_id").isNotNull.as("has_snapshot"))
      .orderBy(col("ordinal"))
  }

  /** Row-level changelog (CDC): the append+MoR-delete fixture yields an
    * insert ordinal covering every order and a delete ordinal covering
    * exactly the price>200k rows (graft.table.Changelog; Iceberg's
    * create_changelog_view semantics, _change_type per
    * metadata_columns.rs:53,90). */
  val i23 = Q.sql(
    "i23_changelog",
    """SELECT * FROM (
      |  SELECT CAST(0 AS INT) AS ord, 'insert' AS change_type,
      |         count(*)::BIGINT AS n FROM orders
      |  UNION ALL
      |  SELECT CAST(1 AS INT), 'delete', count(*)::BIGINT
      |  FROM orders WHERE o_totalprice > 200000.0)
      |ORDER BY ord""".stripMargin
  ) { (s, d) =>
    val t = IcebergFixtures.ordersPosDeleted(s, d)
    t.changesBetween(s, -1L, t.metadata.currentSnapshotId.get)
      .groupBy(col("_change_ordinal").as("ord"),
        col("_change_type").as("change_type"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("ord"))
  }

  /** SQL row-level operations end to end: a table mutated purely through
    * spark.sql — INSERT INTO, DELETE FROM (SupportsDelete metadata path),
    * UPDATE (group-based CoW rewrite), MERGE INTO — then scanned and
    * compared against the same mutation sequence replayed relationally in
    * DuckDB. */
  val i24 = Q.sql(
    "i24_sql_rowlevel_scan",
    """WITH base AS (SELECT c_custkey, c_mktsegment, c_acctbal FROM customer),
      |     src AS (SELECT c_custkey, CAST('MERGED' AS VARCHAR) AS seg, 0.0 AS bal
      |             FROM base WHERE c_custkey % 97 = 0),
      |     t1 AS (SELECT * FROM base WHERE c_mktsegment <> 'BUILDING'),
      |     t2 AS (SELECT c_custkey, c_mktsegment,
      |              CASE WHEN c_mktsegment = 'MACHINERY'
      |                   THEN c_acctbal + 100.0 ELSE c_acctbal END AS c_acctbal
      |            FROM t1)
      |SELECT c_custkey, c_mktsegment, c_acctbal FROM (
      |  SELECT t2.c_custkey, s.seg AS c_mktsegment, s.bal AS c_acctbal
      |  FROM t2 JOIN src s USING (c_custkey)
      |  UNION ALL
      |  SELECT * FROM t2 WHERE c_custkey NOT IN (SELECT c_custkey FROM src)
      |  UNION ALL
      |  SELECT s.c_custkey, s.seg, s.bal FROM src s
      |  WHERE s.c_custkey NOT IN (SELECT c_custkey FROM t2))
      |ORDER BY c_custkey""".stripMargin
  ) { (s, d) =>
    val t = IcebergFixtures.customerSqlRowLevel(s, d)
    t.newScan().toDF(s)
      .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
      .orderBy(col("c_custkey"))
  }


  /** Same mutation sequence as i24 but MERGE-ON-READ (SupportsDelta
    * position deltas, write.*.mode=merge-on-read): the driver hash-match
    * against the identical relational replay proves the delta path's
    * delete/insert coordinates reconstruct the same table. */
  val i25 = Q.sql(
    "i25_sql_mor_scan",
    """WITH base AS (SELECT c_custkey, c_mktsegment, c_acctbal FROM customer),
      |     src AS (SELECT c_custkey, CAST('MERGED' AS VARCHAR) AS seg, 0.0 AS bal
      |             FROM base WHERE c_custkey % 97 = 0),
      |     t1 AS (SELECT * FROM base WHERE c_mktsegment <> 'BUILDING'),
      |     t2 AS (SELECT c_custkey, c_mktsegment,
      |              CASE WHEN c_mktsegment = 'MACHINERY'
      |                   THEN c_acctbal + 100.0 ELSE c_acctbal END AS c_acctbal
      |            FROM t1)
      |SELECT c_custkey, c_mktsegment, c_acctbal FROM (
      |  SELECT t2.c_custkey, s.seg AS c_mktsegment, s.bal AS c_acctbal
      |  FROM t2 JOIN src s USING (c_custkey)
      |  UNION ALL
      |  SELECT * FROM t2 WHERE c_custkey NOT IN (SELECT c_custkey FROM src)
      |  UNION ALL
      |  SELECT s.c_custkey, s.seg, s.bal FROM src s
      |  WHERE s.c_custkey NOT IN (SELECT c_custkey FROM t2))
      |ORDER BY c_custkey""".stripMargin
  ) { (s, d) =>
    val t = IcebergFixtures.customerSqlMor(s, d)
    t.newScan().toDF(s)
      .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
      .orderBy(col("c_custkey"))
  }

  /** v3 field defaults end-to-end: files from before the column addition
    * serve the initial-default, an explicit append keeps its values, and
    * an append omitting the column materializes the (updated)
    * write-default — all three generations in one scan. */
  val i26 = Q.sql(
    "i26_field_defaults_scan",
    """SELECT s_suppkey,
      |  CAST(CASE WHEN s_suppkey % 3 = 0 THEN 42
      |            WHEN s_suppkey % 3 = 1 THEN s_suppkey % 5
      |            ELSE 7 END AS INT) AS rating
      |FROM supplier ORDER BY s_suppkey""".stripMargin
  ) { (s, d) =>
    IcebergFixtures.supplierDefaults(s, d).newScan().toDF(s)
      .select(col("s_suppkey"), col("rating"))
      .orderBy(col("s_suppkey"))
  }

  /** Incremental append scan: rows added by snapshots in (s1, s2] only —
    * the two-snapshot fixture's second (odd-key) append. The batch
    * counterpart of the streaming source's per-micro-batch planning. */
  val i27 = Q.sql(
    "i27_incremental_append_scan",
    """SELECT o_orderkey, o_custkey, o_totalprice
      |FROM orders WHERE o_orderkey % 2 = 1
      |ORDER BY o_orderkey""".stripMargin
  ) { (s, d) =>
    val t = IcebergFixtures.ordersTwoSnapshots(s, d)
    val snaps = t.metadata.snapshots.sortBy(_.sequenceNumber)
    t.newScan().appendsBetween(snaps.head.snapshotId, snaps.last.snapshotId).toDF(s)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .orderBy(col("o_orderkey"))
  }

  /** Z-order rewrite correctness + utility: a two-measure box over the
    * Morton-clustered table returns exactly the raw rows (the rewrite
    * moved rows between files, never changed them), while planFiles
    * prunes on both box dimensions (asserted in MaintenanceSpec). */
  val i28 = Q.sql(
    "i28_zorder_box_scan",
    """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
      |FROM lineitem
      |WHERE l_quantity <= 5 AND l_extendedprice <= 20000
      |ORDER BY 1, 2, 3, 4""".stripMargin
  ) { (s, d) =>
    import graft.expr.{And => PAnd, BinaryPred, LtEq}
    IcebergFixtures.lineitemZOrder(s, d).newScan()
      .withFilter(graft.expr.Predicate.bind(
        PAnd(BinaryPred(LtEq, "l_quantity", 5.0),
          BinaryPred(LtEq, "l_extendedprice", 20000.0)),
        IcebergFixtures.lineitemZOrder(s, d).schema))
      .toDF(s)
      .select(col("l_orderkey"), col("l_linenumber"),
        col("l_quantity"), col("l_extendedprice"))
      .orderBy(col("l_orderkey"), col("l_linenumber"),
        col("l_quantity"), col("l_extendedprice"))
  }

  /** Metadata-only aggregates: COUNT(*) / COUNT(col) / MIN / MAX pushed
    * into the scan and answered from manifest statistics with zero data
    * reads (GraftMetadataAggregates; the plan is a LocalTableScan —
    * asserted in GraftSourceSpec). The oracle recomputes from the raw
    * rows, so a green hash proves the statistics ARE the data's truth. */
  val i29 = Q.sql(
    "i29_metadata_aggregates",
    """SELECT count(*) AS n_rows, count(o_custkey) AS n_cust,
      |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key,
      |  min(o_orderdate) AS min_date, max(o_orderdate) AS max_date
      |FROM orders""".stripMargin
  ) { (s, d) =>
    val t = IcebergFixtures.ordersBucket(s, d)
    val warehouse = t.location.stripSuffix(s"/${t.name}")
    s.read.format("graft")
      .option("warehouse", warehouse).option("table", t.name).load()
      .agg(count(lit(1)).as("n_rows"), count(col("o_custkey")).as("n_cust"),
        min(col("o_orderkey")).as("min_key"), max(col("o_orderkey")).as("max_key"),
        min(col("o_orderdate")).as("min_date"), max(col("o_orderdate")).as("max_date"))
  }

  /** Fully encrypted table round trip: PME data files + AGS1 manifests
    * (write → MoR delete → plan → prune → read, every byte on disk
    * ciphertext — EncryptionSpec asserts the AGS1 magic and keyless-read
    * refusal; this query proves VALUES survive the crypto path, because
    * the oracle reads the raw plaintext parquet the fixture was built
    * from). Filter drives metrics pruning through encrypted footers. */
  val i30 = Q.sql(
    "i30_encrypted_table_scan",
    """SELECT c_custkey, c_name, c_acctbal, c_mktsegment
      |FROM customer
      |WHERE c_acctbal >= 0 AND c_mktsegment = 'BUILDING'
      |ORDER BY c_custkey""".stripMargin
  ) { (s, d) =>
    IcebergFixtures.customerEncrypted(s, d).newScan()
      .withFilter(Predicate.eqTo("c_mktsegment", "BUILDING"))
      .toDF(s)
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"), col("c_mktsegment"))
      .orderBy(col("c_custkey"))
  }

  /** Format-library → pipeline composition: MinHash-LSH near-dup
    * detection consuming the ICEBERG SCAN (MoR position deletes applied
    * in-reader) instead of raw parquet — a green hash proves a user can
    * point the pipeline pillar at a managed table and get exactly the
    * answer the raw data implies after deletes. The oracle recomputes
    * all-pairs Jaccard over the logically-surviving rows. */
  val i31 = Q.sql(
    "i31_pipeline_on_iceberg",
    """WITH sh AS (
      |  SELECT doc_id, list_distinct([w[i]||' '||w[i+1]||' '||w[i+2]
      |                 for i in range(1, len(w)-1)]) AS s
      |  FROM (SELECT doc_id, string_split(lower(text), ' ') AS w
      |        FROM documents WHERE lang <> 'zh')
      |  WHERE len(w) >= 3)
      |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |  len(list_intersect(a.s, b.s)) /
      |    (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) AS jaccard
      |FROM sh a, sh b
      |WHERE a.doc_id < b.doc_id
      |  AND len(list_intersect(a.s, b.s)) /
      |    (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.5
      |ORDER BY id_a, id_b""".stripMargin
  ) { (s, d) =>
    val scanned = IcebergFixtures.documentsMoR(s, d).newScan().toDF(s)
    graft.pipeline.Dedup.minhashNearDups(scanned, threshold = 0.5)
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Continuous-ingest composition: the delta-dedup gate fed ENTIRELY by
    * the format library — the standing index is the table at its first
    * snapshot (time travel), the fresh batch is the incremental append
    * scan between snapshots. The production shape: every new commit is
    * deduped against the corpus without rehashing it. Same oracle
    * contract as p53 (which derives the same split from raw parquet). */
  val i32 = Q.sql(
    "i32_incremental_dedup_on_iceberg",
    """WITH sh AS (
      |  SELECT doc_id,
      |    list_distinct([w[i]||' '||w[i+1]||' '||w[i+2]
      |                   for i in range(1, len(w)-1)]) AS s
      |  FROM (SELECT doc_id, string_split(lower(text), ' ') AS w
      |        FROM documents)
      |  WHERE len(w) >= 3),
      |m AS (
      |  SELECT n.doc_id AS new_id, count(*)::BIGINT AS n_dups,
      |    min(i.doc_id) AS first_match
      |  FROM sh n JOIN sh i
      |    ON n.doc_id % 10 = 7 AND i.doc_id % 10 <> 7
      |    AND len(list_intersect(n.s, i.s)) /
      |      (len(n.s) + len(i.s) - len(list_intersect(n.s, i.s))) >= 0.5
      |  GROUP BY n.doc_id)
      |SELECT d.doc_id AS new_id, coalesce(m.n_dups, 0)::BIGINT AS n_dups,
      |  m.first_match
      |FROM (SELECT doc_id FROM documents WHERE doc_id % 10 = 7) d
      |LEFT JOIN m ON d.doc_id = m.new_id
      |ORDER BY new_id""".stripMargin
  ) { (s, d) =>
    val t = IcebergFixtures.documentsTwoCommits(s, d)
    val snaps = t.metadata.snapshots.sortBy(_.sequenceNumber)
    val index = t.newScan().useSnapshot(snaps.head.snapshotId).toDF(s)
    val fresh = t.newScan()
      .appendsBetween(snaps.head.snapshotId, snaps.last.snapshotId).toDF(s)
    graft.pipeline.Dedup.incrementalDedup(index, fresh, threshold = 0.5)
      .orderBy(col("new_id"))
  }

  /** Ingest-drift monitoring off the format library: KL divergence of
    * each commit batch's unigram distribution from the whole-table
    * mixture — "did the latest ingest shift the corpus?", computed
    * entirely from time travel (base) + the incremental append scan
    * (delta). Third composition query: scan surfaces feed the analysis
    * pillar directly. */
  val i33 = Q.sql(
    "i33_commit_drift_kl",
    """WITH lab AS (
      |  SELECT CASE WHEN doc_id % 10 = 7 THEN 'delta' ELSE 'base' END
      |    AS source, text FROM documents),
      |toks AS (
      |  SELECT source, unnest(string_split(lower(text), ' ')) AS wd
      |  FROM lab),
      |sw AS (SELECT source, wd, count(*) AS c_sw
      |       FROM toks GROUP BY source, wd),
      |cw AS (SELECT wd, count(*) AS c_w FROM toks GROUP BY wd),
      |ts AS (SELECT source, count(*) AS n_s FROM toks GROUP BY source),
      |tot AS (SELECT count(*) AS n FROM toks)
      |SELECT sw.source, ts.n_s AS n_tokens,
      |  (sum(sw.c_sw * CAST(round(ln((sw.c_sw / ts.n_s) /
      |      (cw.c_w / (SELECT n FROM tot)::DOUBLE)) * 1000000) AS BIGINT))
      |    // ts.n_s)::BIGINT AS kl_micro
      |FROM sw JOIN cw ON sw.wd = cw.wd JOIN ts ON sw.source = ts.source
      |GROUP BY sw.source, ts.n_s ORDER BY sw.source""".stripMargin
  ) { (s, d) =>
    val t = IcebergFixtures.documentsTwoCommits(s, d)
    val snaps = t.metadata.snapshots.sortBy(_.sequenceNumber)
    val base = t.newScan().useSnapshot(snaps.head.snapshotId).toDF(s)
      .withColumn("source", lit("base"))
    val delta = t.newScan()
      .appendsBetween(snaps.head.snapshotId, snaps.last.snapshotId).toDF(s)
      .withColumn("source", lit("delta"))
    graft.pipeline.TextAnalysis.sourceKlDivergence(base.unionByName(delta))
      .orderBy(col("source"))
  }

  /** `_deleted` metadata column (metadata_columns.rs:38,75): projecting it
    * flips the native reader from filtering MoR-deleted rows to SERVING
    * them with a marker — the delete-audit surface. The fixture deletes
    * `o_totalprice > 200000` via parquet position deletes; the marker must
    * reproduce exactly that predicate over every physical row. */
  val i34 = Q.sql(
    "i34_deleted_marker_scan",
    """SELECT (o_totalprice > 200000.0) AS deleted, count(*) AS n,
      |  sum(o_orderkey)::BIGINT AS key_sum
      |FROM orders
      |GROUP BY 1 ORDER BY deleted""".stripMargin
  ) { (s, d) =>
    val t = IcebergFixtures.ordersPosDeleted(s, d)
    val warehouse = t.location.stripSuffix(s"/${t.name}")
    s.read.format("graft")
      .option("warehouse", warehouse).option("table", t.name).load()
      .select(col("o_orderkey"), col("_deleted").as("deleted"))
      .groupBy(col("deleted"))
      .agg(count(lit(1)).as("n"), sum(col("o_orderkey")).as("key_sum"))
      .orderBy(col("deleted"))
  }

  /** Native SQL row lineage THROUGH compaction (metadata_columns.rs:63,66
    * reserved ids i32.MAX-107/-108): `SELECT _row_id,
    * _last_updated_sequence_number FROM cat.t` on the DSv2 path, after a
    * replace commit rewrote every data file. Append 1 (even keys, seq 1)
    * took row-id block [0, E); append 2 (odd keys, seq 2) took [E, N); the
    * compaction must preserve BOTH per-row values exactly — so grouping by
    * the last-updated sequence number reproduces the append partition,
    * with each group's id block intact. */
  val i35 = Q.sql(
    "i35_native_row_lineage",
    """WITH e AS (SELECT count(*) AS n FROM orders WHERE o_orderkey % 2 = 0),
      |     o AS (SELECT count(*) AS n FROM orders WHERE o_orderkey % 2 = 1)
      |SELECT * FROM (
      |  SELECT 1::BIGINT AS seq, (SELECT n FROM e)::BIGINT AS n,
      |    0::BIGINT AS min_id, ((SELECT n FROM e) - 1)::BIGINT AS max_id
      |  UNION ALL
      |  SELECT 2::BIGINT, (SELECT n FROM o)::BIGINT,
      |    (SELECT n FROM e)::BIGINT,
      |    ((SELECT n FROM e) + (SELECT n FROM o) - 1)::BIGINT
      |) ORDER BY seq""".stripMargin
  ) { (s, d) =>
    IcebergFixtures.ordersLineageCompacted(s, d)
    s.sql("""SELECT _last_updated_sequence_number AS seq, count(*) AS n,
      min(_row_id) AS min_id, max(_row_id) AS max_id
      FROM graftfix.orders_lineage GROUP BY 1 ORDER BY seq""")
  }

  /** Write-audit-publish: stage an append on an audit branch (main stays
    * pinned), then publish fast-forwards main to the branch head. The
    * `staged` row reads main BETWEEN the branch append and the publish —
    * even rows only; the `published` row reads main after — all rows.
    * Both scans pin their loaded metadata, so the result is stable
    * regardless of evaluation order (snapshot isolation of the load). */
  val i36 = Q.sql(
    "i36_wap_publish",
    """SELECT 'published' AS stage, count(*)::BIGINT AS n,
      |  CAST(sum(c_custkey) AS BIGINT) AS keysum FROM customer
      |UNION ALL
      |SELECT 'staged', count(*)::BIGINT, CAST(sum(c_custkey) AS BIGINT)
      |FROM customer WHERE c_custkey % 2 = 0
      |ORDER BY stage""".stripMargin
  ) { (s, d) =>
    val wh = java.nio.file.Files.createTempDirectory("graft-wap-").toString
    val catalog = new graft.catalog.HadoopCatalog(wh, graft.io.FileIO.fromSpark(s))
    val src = graft.Tables.customer(s, d).select("c_custkey")
    var t = graft.table.GraftTable.create("wap", catalog,
      graft.spec.IcebergSchema.fromSpark(src.schema))
    t = t.append(src.filter(col("c_custkey") % 2 === 0).repartition(2))
    t = t.createBranch("audit")
    t = t.appendToBranch(src.filter(col("c_custkey") % 2 === 1).repartition(2),
      "audit")
    val mainStaged = graft.table.GraftTable.load("wap", catalog) // pre-publish pin
    t.publish("audit")
    val mainPublished = graft.table.GraftTable.load("wap", catalog)
    def agg(tt: graft.table.GraftTable, stage: String) = tt.newScan().toDF(s)
      .agg(count(lit(1)).as("n"), sum(col("c_custkey")).cast("long").as("keysum"))
      .withColumn("stage", lit(stage))
    agg(mainPublished, "published").unionAll(agg(mainStaged, "staged"))
      .select(col("stage"), col("n"), col("keysum"))
      .orderBy(col("stage"))
  }

  val all: Seq[Q] = Seq(i01, i02, i03, i04, i05, i06, i07, i08, i09, i10,
    i11, i12, i13, i14, i15, i16, i17, i18, i19, i20, i21, i22, i23, i24, i25,
    i26, i27, i28, i29, i30, i31, i32, i33, i34, i35, i36)
}
