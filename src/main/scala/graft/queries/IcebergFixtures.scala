package graft.queries

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.Tables
import graft.catalog.HadoopCatalog
import graft.io.FileIO
import graft.spec.{IcebergSchema, PartitionSpec, Transform}
import graft.table.GraftTable

/** Shared Iceberg-table fixtures for the registered engine queries.
  *
  * Each query that exercises the table format (scan planning, pruning,
  * time travel, metadata tables, deletes, compaction) needs a real Iceberg
  * table built from the driver's raw parquet. Building one is a full
  * append commit, so fixtures are built once per (sfDir) per JVM and
  * shared — Verify/Bench run all queries in one session.
  *
  * Partition choices are the ones a 100 TB deployment would make:
  * month(l_shipdate) for the fact table (day would mean ~2.5k partitions
  * of ~2 rows at these SFs — and file-per-day explosion at any SF), and
  * bucket(8) on the orders join key.
  */
object IcebergFixtures {

  private val warehouses = TrieMap[String, String]()

  private def warehouse(sfDir: String): String = synchronized {
    warehouses.getOrElseUpdate(sfDir,
      java.nio.file.Files.createTempDirectory("graft-wh-").toString)
  }

  private val tables = TrieMap[(String, String), GraftTable]()

  private def build(spark: SparkSession, sfDir: String, name: String)(
      mk: (HadoopCatalog) => GraftTable): GraftTable = synchronized {
    tables.getOrElseUpdate((sfDir, name), {
      val catalog = new HadoopCatalog(warehouse(sfDir), FileIO.fromSpark(spark))
      mk(catalog)
    })
  }

  /** lineitem partitioned by month(l_shipdate). */
  def lineitemMonth(spark: SparkSession, sfDir: String): GraftTable =
    build(spark, sfDir, "lineitem_month") { catalog =>
      val src = Tables.lineitem(spark, sfDir)
      val schema = IcebergSchema.fromSpark(src.schema)
      val spec = PartitionSpec.build(schema, Seq("l_shipdate" -> Transform.Month))
      GraftTable.create("lineitem_month", catalog, schema, spec).append(src)
    }

  /** orders partitioned by bucket(8) on o_custkey. */
  def ordersBucket(spark: SparkSession, sfDir: String): GraftTable =
    build(spark, sfDir, "orders_bucket") { catalog =>
      val src = Tables.orders(spark, sfDir)
      val schema = IcebergSchema.fromSpark(src.schema)
      val spec = PartitionSpec.build(schema, Seq("o_custkey" -> Transform.Bucket(8)))
      GraftTable.create("orders_bucket", catalog, schema, spec).append(src)
    }

  /** orders appended in two snapshots: even o_orderkey first, then odd —
    * snapshot 1 is a deterministic half for time-travel queries. A v3
    * table, so the appends also take row-id blocks (i21). */
  def ordersTwoSnapshots(spark: SparkSession, sfDir: String): GraftTable =
    build(spark, sfDir, "orders_tt") { catalog =>
      val src = Tables.orders(spark, sfDir)
      val schema = IcebergSchema.fromSpark(src.schema)
      val t = GraftTable.create("orders_tt", catalog, schema,
        properties = Map("format-version" -> "3"))
      t.append(src.filter(col("o_orderkey") % 2 === 0))
        .append(src.filter(col("o_orderkey") % 2 === 1))
    }

  /** orders with a MoR position-delete commit (DELETE WHERE price > 200k). */
  def ordersPosDeleted(spark: SparkSession, sfDir: String): GraftTable =
    build(spark, sfDir, "orders_posdel") { catalog =>
      val src = Tables.orders(spark, sfDir)
      val schema = IcebergSchema.fromSpark(src.schema)
      GraftTable.create("orders_posdel", catalog, schema).append(src)
        .deleteWhere(graft.expr.Predicate.gt("o_totalprice", 200000.0), spark)
    }

  /** orders appended in thirds, DELETE WHERE price > 250k, then compacted
    * (replace commit folds the deletes in). */
  def ordersCompacted(spark: SparkSession, sfDir: String): GraftTable =
    build(spark, sfDir, "orders_compact") { catalog =>
      val src = Tables.orders(spark, sfDir)
      val schema = IcebergSchema.fromSpark(src.schema)
      GraftTable.create("orders_compact", catalog, schema)
        .append(src.filter(col("o_orderkey") % 3 === 0))
        .append(src.filter(col("o_orderkey") % 3 === 1))
        .append(src.filter(col("o_orderkey") % 3 === 2))
        .deleteWhere(graft.expr.Predicate.gt("o_totalprice", 250000.0), spark)
        .rewriteDataFiles(spark)
    }

  /** customer with an equality-delete commit removing segment BUILDING. */
  def customerEqDeleted(spark: SparkSession, sfDir: String): GraftTable =
    build(spark, sfDir, "customer_eqdel") { catalog =>
      import spark.implicits._
      val src = Tables.customer(spark, sfDir)
      val schema = IcebergSchema.fromSpark(src.schema)
      GraftTable.create("customer_eqdel", catalog, schema).append(src)
        .equalityDelete(Seq("BUILDING").toDF("c_mktsegment"), Seq("c_mktsegment"))
    }

  /** documents registered as a Graft table with a MoR delete scattered
    * through every data file (lang = 'zh' rows position-deleted) — the
    * composition fixture: the PIPELINE operators consume the format
    * library's scan, deletes applied in-reader. */
  def documentsMoR(spark: SparkSession, sfDir: String): GraftTable =
    build(spark, sfDir, "documents_mor") { catalog =>
      val src = Tables.documents(spark, sfDir)
      val schema = IcebergSchema.fromSpark(src.schema)
      GraftTable.create("documents_mor", catalog, schema).append(src)
        .deleteWhere(graft.expr.Predicate.eqTo("lang", "zh"), spark)
    }

  /** documents committed in two appends — the standing corpus
    * (doc_id % 10 ≠ 7) then a fresh ingest batch (doc_id % 10 = 7) —
    * so incremental scans can replay the delta commit. */
  def documentsTwoCommits(spark: SparkSession, sfDir: String): GraftTable =
    build(spark, sfDir, "documents_2c") { catalog =>
      val src = Tables.documents(spark, sfDir)
      val schema = IcebergSchema.fromSpark(src.schema)
      GraftTable.create("documents_2c", catalog, schema)
        .append(src.filter(col("doc_id") % 10 =!= 7))
        .append(src.filter(col("doc_id") % 10 === 7))
    }

  /** orders with a tag pinned at the even-keys snapshot, then odd keys
    * appended to main. */
  def ordersTagged(spark: SparkSession, sfDir: String): GraftTable =
    build(spark, sfDir, "orders_tagged") { catalog =>
      val src = Tables.orders(spark, sfDir)
      val schema = IcebergSchema.fromSpark(src.schema)
      GraftTable.create("orders_tagged", catalog, schema)
        .append(src.filter(col("o_orderkey") % 2 === 0))
        .createTag("even-only")
        .append(src.filter(col("o_orderkey") % 2 === 1))
    }

  /** orders after a CoW UPDATE: halve o_totalprice where status 'F'
    * (0.5 = 2⁻¹ keeps doubles exact). */
  def ordersUpdated(spark: SparkSession, sfDir: String): GraftTable =
    build(spark, sfDir, "orders_updated") { catalog =>
      val src = Tables.orders(spark, sfDir)
      val schema = IcebergSchema.fromSpark(src.schema)
      GraftTable.create("orders_updated", catalog, schema,
          properties = Map("write.spark.max-records-per-file" -> "1000"))
        .append(src)
        .updateWhere(graft.expr.Predicate.eqTo("o_orderstatus", "F"),
          Map("o_totalprice" -> (col("o_totalprice") * 0.5)), spark)
    }

  /** customer after a MERGE: nation-1 balances doubled (exact ×2), three
    * synthetic customers inserted. */
  def customerMerged(spark: SparkSession, sfDir: String): GraftTable =
    build(spark, sfDir, "customer_merged") { catalog =>
      import spark.implicits._
      val src = Tables.customer(spark, sfDir)
      val schema = IcebergSchema.fromSpark(src.schema)
      val updates = src.filter(col("c_nationkey") === 1)
        .withColumn("c_acctbal", col("c_acctbal") * 2)
      val inserts = (0 until 3).map(x => (900001L + x, "new", 0, 0.0, "NEW"))
        .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
      GraftTable.create("customer_merged", catalog, schema,
          properties = Map("write.spark.max-records-per-file" -> "200"))
        .append(src)
        .mergeInto(updates.unionByName(inserts), Seq("c_custkey"))
    }

  /** supplier table built ENTIRELY through the SQL surface: CREATE TABLE
    * USING graft + INSERT INTO ... SELECT (DSv2 write path). */
  def supplierSqlInserted(spark: SparkSession, sfDir: String): GraftTable =
    build(spark, sfDir, "supplier_sql") { catalog =>
      val wh = warehouse(sfDir)
      spark.conf.set("spark.sql.catalog.graftfix", "graft.sources.GraftCatalogPlugin")
      spark.conf.set("spark.sql.catalog.graftfix.warehouse", wh)
      Tables.supplier(spark, sfDir).createOrReplaceTempView("raw_supplier")
      val cols = Tables.supplier(spark, sfDir).schema.fields
        .map(f => s"${f.name} ${f.dataType.sql}").mkString(", ")
      spark.sql(s"CREATE TABLE graftfix.supplier_sql ($cols) USING graft")
      spark.sql("INSERT INTO graftfix.supplier_sql SELECT * FROM raw_supplier")
      GraftTable.load("supplier_sql", catalog)
    }

  /** customer table driven ENTIRELY through SQL row-level operations:
    * INSERT INTO (native DSv2 write), DELETE FROM (metadata/MoR path),
    * UPDATE (group-based CoW rewrite), MERGE INTO (matched update +
    * not-matched re-insert of the deleted keys). */
  def customerSqlRowLevel(spark: SparkSession, sfDir: String): GraftTable =
    build(spark, sfDir, "customer_rowlevel") { catalog =>
      val wh = warehouse(sfDir)
      spark.conf.set("spark.sql.catalog.graftfix", "graft.sources.GraftCatalogPlugin")
      spark.conf.set("spark.sql.catalog.graftfix.warehouse", wh)
      val src = Tables.customer(spark, sfDir)
        .select("c_custkey", "c_mktsegment", "c_acctbal")
      src.createOrReplaceTempView("raw_customer_rl")
      val cols = src.schema.fields
        .map(f => s"${f.name} ${f.dataType.sql}").mkString(", ")
      spark.sql(s"CREATE TABLE graftfix.customer_rowlevel ($cols) USING graft")
      spark.sql("INSERT INTO graftfix.customer_rowlevel SELECT * FROM raw_customer_rl")
      spark.sql(
        "DELETE FROM graftfix.customer_rowlevel WHERE c_mktsegment = 'BUILDING'")
      spark.sql("""UPDATE graftfix.customer_rowlevel
        SET c_acctbal = c_acctbal + 100.0 WHERE c_mktsegment = 'MACHINERY'""")
      spark.sql("""MERGE INTO graftfix.customer_rowlevel t
        USING (SELECT c_custkey, 'MERGED' AS seg, 0.0 AS bal
               FROM raw_customer_rl WHERE c_custkey % 97 = 0) s
        ON t.c_custkey = s.c_custkey
        WHEN MATCHED THEN UPDATE SET c_mktsegment = s.seg, c_acctbal = s.bal
        WHEN NOT MATCHED THEN INSERT (c_custkey, c_mktsegment, c_acctbal)
          VALUES (s.c_custkey, s.seg, s.bal)""")
      GraftTable.load("customer_rowlevel", catalog)
    }

  /** same SQL row-level op sequence as customerSqlRowLevel but with
    * write.*.mode = merge-on-read: UPDATE/MERGE/non-translatable DELETE
    * run as position-delta commits (SupportsDelta) instead of CoW
    * rewrites — same final rows, zero data-file rewrites. */
  def customerSqlMor(spark: SparkSession, sfDir: String): GraftTable =
    build(spark, sfDir, "customer_mor") { catalog =>
      val wh = warehouse(sfDir)
      spark.conf.set("spark.sql.catalog.graftfix", "graft.sources.GraftCatalogPlugin")
      spark.conf.set("spark.sql.catalog.graftfix.warehouse", wh)
      val src = Tables.customer(spark, sfDir)
        .select("c_custkey", "c_mktsegment", "c_acctbal")
      src.createOrReplaceTempView("raw_customer_mor")
      val cols = src.schema.fields
        .map(f => s"${f.name} ${f.dataType.sql}").mkString(", ")
      spark.sql(s"""CREATE TABLE graftfix.customer_mor ($cols)
        TBLPROPERTIES ('write.delete.mode'='merge-on-read',
          'write.update.mode'='merge-on-read',
          'write.merge.mode'='merge-on-read')""")
      spark.sql("INSERT INTO graftfix.customer_mor SELECT * FROM raw_customer_mor")
      spark.sql(
        "DELETE FROM graftfix.customer_mor WHERE c_mktsegment = 'BUILDING'")
      spark.sql("""UPDATE graftfix.customer_mor
        SET c_acctbal = c_acctbal + 100.0 WHERE c_mktsegment = 'MACHINERY'""")
      spark.sql("""MERGE INTO graftfix.customer_mor t
        USING (SELECT c_custkey, 'MERGED' AS seg, 0.0 AS bal
               FROM raw_customer_mor WHERE c_custkey % 97 = 0) s
        ON t.c_custkey = s.c_custkey
        WHEN MATCHED THEN UPDATE SET c_mktsegment = s.seg, c_acctbal = s.bal
        WHEN NOT MATCHED THEN INSERT (c_custkey, c_mktsegment, c_acctbal)
          VALUES (s.c_custkey, s.seg, s.bal)""")
      GraftTable.load("customer_mor", catalog)
    }

  /** orders appended in two snapshots then COMPACTED — the v3 row-lineage
    * fixture (a v3 table): the replace commit must materialize per-row `_row_id` /
    * `_last_updated_sequence_number` into its rewritten files (inheritance
    * cannot survive the rewrite shuffle), and the native SQL surface reads
    * them back. Registered in the graftfix session catalog for SQL reads. */
  def ordersLineageCompacted(spark: SparkSession, sfDir: String): GraftTable =
    build(spark, sfDir, "orders_lineage") { catalog =>
      val wh = warehouse(sfDir)
      spark.conf.set("spark.sql.catalog.graftfix", "graft.sources.GraftCatalogPlugin")
      spark.conf.set("spark.sql.catalog.graftfix.warehouse", wh)
      val src = Tables.orders(spark, sfDir)
      val schema = IcebergSchema.fromSpark(src.schema)
      GraftTable.create("orders_lineage", catalog, schema,
          properties = Map("write.spark.max-records-per-file" -> "5000",
            "format-version" -> "3"))
        .append(src.filter(col("o_orderkey") % 2 === 0))
        .append(src.filter(col("o_orderkey") % 2 === 1))
        .rewriteDataFiles(spark)
    }

  /** plain (undeleted) customer table for stats/sketch queries. */
  def plainCustomer(spark: SparkSession, sfDir: String): GraftTable =
    build(spark, sfDir, "customer_plain") { catalog =>
      val src = Tables.customer(spark, sfDir)
      val schema = IcebergSchema.fromSpark(src.schema)
      GraftTable.create("customer_plain", catalog, schema).append(src)
    }

  /** orders with a v3 deletion-vector (Puffin roaring bitmap) delete. */
  def ordersDvDeleted(spark: SparkSession, sfDir: String): GraftTable =
    build(spark, sfDir, "orders_dv") { catalog =>
      val src = Tables.orders(spark, sfDir)
      val schema = IcebergSchema.fromSpark(src.schema)
      GraftTable.create("orders_dv", catalog, schema,
          properties = Map("write.spark.max-records-per-file" -> "500"))
        .append(src)
        .deleteWhereDV(graft.expr.Predicate.gt("o_totalprice", 200000.0), spark)
    }

  /** customer evolved mid-stream: even keys written under the original
    * schema, then rename c_acctbal→balance + add bonus, then odd keys
    * written with bonus populated. Old files serve the renamed column by
    * field id and null-fill the added one. */
  def customerEvolved(spark: SparkSession, sfDir: String): GraftTable =
    build(spark, sfDir, "customer_evolved") { catalog =>
      val src = Tables.customer(spark, sfDir)
      val schema = IcebergSchema.fromSpark(src.schema)
      val t = GraftTable.create("customer_evolved", catalog, schema)
        .append(src.filter(col("c_custkey") % 2 === 0))
        .updateSchema()
        .renameColumn("c_acctbal", "balance")
        .addColumn("bonus", graft.spec.IcebergType.DoubleT)
        .commit()
      t.append(src.filter(col("c_custkey") % 2 === 1)
        .withColumnRenamed("c_acctbal", "balance")
        .withColumn("bonus", col("balance") * 0.125))
    }

  /** lineitem z-ordered on (l_quantity, l_extendedprice): appended in
    * shuffled order, then rewritten along the Morton curve so box
    * queries over BOTH measures prune from file stats. */
  def lineitemZOrder(spark: SparkSession, sfDir: String): GraftTable =
    build(spark, sfDir, "lineitem_zorder") { catalog =>
      val src = Tables.lineitem(spark, sfDir)
      val schema = IcebergSchema.fromSpark(src.schema)
      val t = GraftTable.create("lineitem_zorder", catalog, schema).append(src)
      graft.table.Maintenance.rewriteDataFilesZOrder(t, spark,
        Seq("l_quantity", "l_extendedprice"), targetFileSizeBytes = 256 << 10)
    }

  /** supplier on a v3 table exercising every field-default path
    * (datatypes.rs:573-575): keys %3==0 written BEFORE the `rating`
    * column existed (read serves the initial-default), %3==1 written with
    * explicit values, %3==2 appended while OMITTING the column after a
    * write-default change (writer materializes the new write-default). */
  def supplierDefaults(spark: SparkSession, sfDir: String): GraftTable =
    build(spark, sfDir, "supplier_defaults") { catalog =>
      val src = Tables.supplier(spark, sfDir)
      var t = GraftTable
        .create("supplier_defaults", catalog, IcebergSchema.fromSpark(src.schema))
        .append(src.filter(col("s_suppkey") % 3 === 0))
      t = graft.table.Transactions.upgradeFormatVersion(t, 3)
      t = t.updateSchema()
        .addColumnWithDefault("rating", graft.spec.IcebergType.IntT, 42).commit()
      t = t.append(src.filter(col("s_suppkey") % 3 === 1)
        .withColumn("rating", (col("s_suppkey") % 5).cast("int")))
      t = t.updateSchema().updateColumnDefault("rating", 7).commit()
      t.append(src.filter(col("s_suppkey") % 3 === 2))
    }

  /** customer on a FULLY ENCRYPTED v3 table: PME (AES-GCM parquet
    * modular encryption) on the data files AND AGS1 stream encryption on
    * the manifest list + manifests (encryption/stream.rs format), with
    * the snapshot key wrapped by a KEK wrapped by the table master key.
    * Includes a MoR position-delete commit so the delete file and its
    * application also run under encryption. The deterministic test-only
    * master key lives in table properties via the local keyring seam —
    * a real deployment resolves it through a KMS. */
  def customerEncrypted(spark: SparkSession, sfDir: String): GraftTable =
    build(spark, sfDir, "customer_enc") { catalog =>
      val src = Tables.customer(spark, sfDir)
      val masterKey = java.util.Base64.getEncoder.encodeToString(
        Array.tabulate[Byte](32)(i => (i * 7 + 3).toByte))
      val props = Map(
        graft.crypto.Encryption.MasterKeysProp -> s"mk1:$masterKey",
        graft.crypto.MetadataEncryption.KeyIdProp -> "mk1",
        "format-version" -> "3")
      GraftTable.create("customer_enc", catalog,
          IcebergSchema.fromSpark(src.schema), properties = props)
        .append(src)
        .deleteWhere(graft.expr.Predicate.lt("c_acctbal", 0.0), spark)
    }
}
