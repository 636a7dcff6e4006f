package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SQLContext, SparkSession}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table => SparkTable, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns, V1Scan}
import org.apache.spark.sql.sources.{BaseRelation, DataSourceRegister, Filter, TableScan => V1TableScan}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.catalog.HadoopCatalog
import graft.expr.{AlwaysTrue, Predicate, SparkFilters}
import graft.io.FileIO
import graft.table.GraftTable

/** DSv2 read surface: `spark.read.format("graft")
  * .option("warehouse", dir).option("table", name).load()` — the SQL scan
  * bridge the reference exposes as a DataFusion `TableProvider`
  * (crates/integrations/datafusion/src/table/mod.rs:68-151).
  *
  * Filter pushdown: Spark lowers `df.filter(...)` to `sources.Filter`s;
  * `SparkFilters` lifts the translatable subset into the metadata AST so
  * `planFiles()` prunes manifests/files BEFORE any data is read. All
  * filters are also kept as residuals (inexact pushdown, exactly the
  * reference's `TableProviderFilterPushDown::Inexact` contract), so
  * correctness never depends on pruning precision.
  *
  * Execution delegates to `TableScan.toDF` through a `V1Scan` relation:
  * the actual reads stay Spark's vectorized parquet source (codegen,
  * row-group pruning, 100 TB split planning) rather than a bespoke
  * `PartitionReader` — the DSv2 layer contributes table resolution,
  * pushdown bookkeeping, and column pruning.
  */
final class GraftSource extends TableProvider with DataSourceRegister
    with org.apache.spark.sql.sources.StreamSourceProvider {

  override def shortName(): String = "graft"

  /** Catalog resolution, most-specific option first:
    *   - `catalog-ref`: a process-local [[graft.catalog.CatalogRegistry]]
    *     reference to a LIVE catalog instance — the credential-safe
    *     path (REST tokens / secrets never enter the option bag, so
    *     they never surface in plan strings or event logs);
    *   - `catalog-type`: reconstruct through CatalogLoader with the
    *     full option bag as its property map (`Catalog.loaderProps` is
    *     the producing side) — any property-describable backend
    *     (jdbc/hadoop/...);
    *   - neither: the original `warehouse` shorthand. */
  private def catalogOf(options: CaseInsensitiveStringMap): graft.catalog.Catalog =
    (Option(options.get("catalog-ref")), Option(options.get("catalog-type"))) match {
      case (Some(ref), _) =>
        graft.catalog.CatalogRegistry.lookup(ref).getOrElse(
          throw new IllegalArgumentException(
            s"catalog-ref '$ref' is not registered in this process — refs " +
              "are process-local live-instance handles (CatalogRegistry), " +
              "not serializable descriptions; for cross-process resolution " +
              "use catalog-type with a self-describing property bag. The " +
              "registry holds instances WEAKLY: if this ref was valid " +
              "earlier, its catalog may have been garbage-collected — the " +
              "registrant must hold the instance strongly until .load() " +
              "resolves the ref"))
      case (None, Some(tpe)) =>
        import scala.jdk.CollectionConverters._
        graft.catalog.CatalogLoader.load(tpe,
          options.asCaseSensitiveMap.asScala.toMap)
      case (None, None) =>
        val warehouse = Option(options.get("warehouse")).getOrElse(
          throw new IllegalArgumentException("option 'warehouse' is required"))
        new HadoopCatalog(warehouse, FileIO.local())
    }

  private def load(options: CaseInsensitiveStringMap): GraftTable = {
    val table = Option(options.get("table")).getOrElse(
      throw new IllegalArgumentException("option 'table' is required"))
    GraftTable.load(table, catalogOf(options))
  }

  private def isChangelog(options: CaseInsensitiveStringMap): Boolean =
    Option(options.get("read-changelog")).contains("true")

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    load(options).schema.toSpark

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): SparkTable = {
    val opts = new CaseInsensitiveStringMap(properties)
    // `read-changelog=true` drops the streaming capabilities so
    // DataStreamReader falls back to the V1 StreamSourceProvider path
    // below — changelog batches are computed DataFrames, not file splits
    new GraftSparkTable(load(opts),
      viaProvider = true, // no FunctionCatalog on this path
      changelogStream = isChangelog(opts))
  }

  // --- V1 streaming source: the changelog read (GraftChangelogSource) ---

  private def requireChangelog(params: Map[String, String]): Unit =
    require(params.get("read-changelog").contains("true"),
      "graft streaming resolves V1 only for read-changelog=true")

  /** Called EAGERLY by the analyzer for every graft stream (the v1
    * fallback relation is constructed alongside the v2 one), so it must
    * answer for both shapes; only `createSource` is changelog-gated. */
  override def sourceSchema(sqlContext: SQLContext,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): (String, StructType) = {
    val opts = new CaseInsensitiveStringMap(parameters.asJava)
    if (isChangelog(opts))
      ("graft-changelog", graft.table.Changelog.outputSchema(load(opts)))
    else ("graft", load(opts).schema.toSpark)
  }

  override def createSource(sqlContext: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String])
      : org.apache.spark.sql.execution.streaming.Source = {
    requireChangelog(parameters)
    val opts = new CaseInsensitiveStringMap(parameters.asJava)
    val table = Option(opts.get("table")).getOrElse(
      throw new IllegalArgumentException("option 'table' is required"))
    new graft.streaming.GraftChangelogSource(sqlContext.sparkSession, table,
      catalogOf(opts), parameters)
  }
}

final class GraftSparkTable(table: GraftTable, viaProvider: Boolean = false,
    changelogStream: Boolean = false)
    extends SparkTable
    with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDelete
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns {
  override def name(): String = table.name
  override def schema(): StructType = table.schema.toSpark

  /** Table properties surfaced to Spark: SHOW TBLPROPERTIES, DESCRIBE
    * EXTENDED (incl. the `comment` convention COMMENT ON writes). */
  override def properties(): util.Map[String, String] = {
    val m = new util.HashMap[String, String]()
    table.metadata.properties.foreach { case (k, v) => m.put(k, v) }
    m
  }

  /** Report the table's partition transforms so Catalyst treats the
    * PARTITION clause of static overwrites (and partition-aware planning
    * in general) against the real layout — without this Spark sees an
    * unpartitioned table and rejects `INSERT OVERWRITE ... PARTITION`. */
  override def partitioning(): Array[org.apache.spark.sql.connector.expressions.Transform] = {
    import org.apache.spark.sql.connector.expressions.Expressions
    import graft.spec.Transform
    table.spec.fields.flatMap { pf =>
      val src = table.schema.fieldNameById(pf.sourceId)
      src.flatMap { name =>
        pf.transform match {
          case Transform.Identity => Some(Expressions.identity(name))
          case Transform.Bucket(n) => Some(Expressions.bucket(n, name))
          case Transform.Truncate(w) => Some(Expressions.apply("truncate",
            Expressions.literal(w), Expressions.column(name)))
          case Transform.Year => Some(Expressions.years(name))
          case Transform.Month => Some(Expressions.months(name))
          case Transform.Day => Some(Expressions.days(name))
          case Transform.Hour => Some(Expressions.hours(name))
          case Transform.Void => None
        }
      }
    }.toArray
  }

  /** Reserved metadata columns (metadata_columns.rs:33-90), queryable via
    * SQL: `_file` / `_pos` (the row id of CoW/MoR row-level ops — Spark's
    * ReplaceData projections need a metadata attribute to strip the
    * internal operation column), `_spec_id`, and the typed `_partition`
    * tuple with the UNIFIED struct across evolved specs
    * (partitioning.rs). */
  override def metadataColumns()
      : Array[org.apache.spark.sql.connector.catalog.MetadataColumn] = {
    def col(n: String, dt: org.apache.spark.sql.types.DataType,
        nul: Boolean): org.apache.spark.sql.connector.catalog.MetadataColumn =
      new org.apache.spark.sql.connector.catalog.MetadataColumn {
        override def name(): String = n
        override def dataType(): org.apache.spark.sql.types.DataType = dt
        override def isNullable: Boolean = nul
      }
    val partSchema = graft.spec.PartitionSpec.unifiedPartitionSchema(
      table.metadata.partitionSpecs, table.schema)
    Array(
      col(GraftBatchScan.FileColumn, org.apache.spark.sql.types.StringType, false),
      col(GraftBatchScan.PosColumn, org.apache.spark.sql.types.LongType, false),
      col(GraftBatchScan.SpecIdColumn, org.apache.spark.sql.types.IntegerType, false),
      col(GraftBatchScan.PartitionColumn, partSchema, true),
      // _deleted (metadata_columns.rs:38,75, reserved id i32.MAX-3):
      // projecting it serves MoR-deleted rows with a marker instead of
      // filtering them — the delete-audit surface
      col(GraftBatchScan.DeletedColumn, org.apache.spark.sql.types.BooleanType, false),
      // v3 row lineage (metadata_columns.rs:63,66 — reserved ids
      // i32.MAX-107/-108): materialized column if the file carries one
      // (compaction persists lineage), else first_row_id + position /
      // the file's data sequence number
      col(GraftBatchScan.RowIdColumn, org.apache.spark.sql.types.LongType, true),
      col(GraftBatchScan.LastUpdatedColumn, org.apache.spark.sql.types.LongType, true))
  }
  override def capabilities(): util.Set[TableCapability] =
    if (changelogStream)
      // no MICRO_BATCH_READ: forces the V1 StreamSourceProvider fallback
      // (GraftChangelogSource) for read-changelog streams
      util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE)
    else util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_WRITE,
      TableCapability.STREAMING_WRITE,
      TableCapability.TRUNCATE,
      TableCapability.OVERWRITE_BY_FILTER,
      TableCapability.OVERWRITE_DYNAMIC,
      // MERGE WITH SCHEMA EVOLUTION: Spark adds the source's missing
      // columns via alterTable (our AddColumn schema evolution) first
      TableCapability.AUTOMATIC_SCHEMA_EVOLUTION)
  /** DataFrame-level time travel: `.option("snapshot-id"|"branch"|"tag"|
    * "ref"|"as-of-timestamp", ...)` pins this read's snapshot — the
    * reader-option mirror of SQL `VERSION AS OF` / `TIMESTAMP AS OF`.
    *
    * `.option("refresh-on-scan", "true")` re-loads the table's metadata
    * from the catalog at EVERY scan-builder construction instead of
    * serving the snapshot captured at relation-creation time. Planning
    * runs per query execution — and per MICRO-BATCH for the static side
    * of a stream-static join — so a long-lived DataFrame (or a running
    * stream probing this table) sees snapshots committed after it was
    * built. The reference analogue: its DataFusion TableProvider
    * re-loads fresh metadata per scan
    * (integrations/datafusion/src/table/mod.rs:120-143). */
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val base =
      if (Option(options.get("refresh-on-scan")).contains("true"))
        GraftTable.load(table.name, table.catalog)
      else table
    val pinned = Option(options.get("snapshot-id")).map(id => base.atSnapshot(id.toLong))
      .orElse(Option(options.get("end-snapshot-id"))
        .map(id => base.atSnapshot(id.toLong))) // incremental read window end
      .orElse(Seq("branch", "tag", "ref").flatMap(k => Option(options.get(k))).headOption
        .map { r =>
          val ref = base.metadata.refs.getOrElse(r,
            throw new IllegalArgumentException(s"no such ref: $r"))
          base.atSnapshot(ref.snapshotId)
        })
      .orElse(Option(options.get("as-of-timestamp"))
        .map(ts => base.asOfTimestamp(ts.toLong)))
      .getOrElse(base)
    new GraftScanBuilder(pinned, options.asCaseSensitiveMap.asScala.toMap)
  }

  /** INSERT INTO / INSERT OVERWRITE through the native DSv2 batch writer
    * (GraftBatchWrite): rows stay InternalRow into the executors' fanout
    * parquet writers, stats harvest is per-task, and the commit is the
    * append (or truncate-overwrite) snapshot path. */
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    new GraftWriteBuilder(table, info.schema(),
      queryId = Option(info.queryId()), viaProvider = viaProvider)

  /** `DELETE FROM t WHERE p`, metadata path: when every filter translates
    * EXACTLY (SparkFilters.exactConjunction — a weakened pruning
    * translation would over-delete), the existing MoR delete commit
    * removes precisely the matching rows: strict-proven whole files drop
    * at the manifest level, boundary files get position deletes. No data
    * rewrite. Untranslatable conditions fall to the row-level CoW path. */
  override def canDeleteWhere(filters: Array[org.apache.spark.sql.sources.Filter])
      : Boolean =
    SparkFilters.exactConjunction(filters.toSeq, table.schema).isDefined

  override def deleteWhere(filters: Array[org.apache.spark.sql.sources.Filter])
      : Unit = {
    val live = GraftTable.load(table.name, table.catalog)
    val pred = SparkFilters.exactConjunction(filters.toSeq, live.schema)
      .getOrElse(throw new IllegalStateException(
        s"deleteWhere called with untranslatable filters: ${filters.mkString(",")}"))
    live.deleteWhere(pred, SparkSession.active)
    ()
  }

  /** SQL UPDATE / MERGE INTO / non-translatable DELETE: group-based
    * copy-on-write rewrite (see GraftRowLevel). */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder =
    new GraftRowLevelOperationBuilder(table, info)
}

final class GraftScanBuilder(table: GraftTable, options: Map[String, String] = Map.empty)
    extends ScanBuilder with SupportsPushDownFilters with SupportsPushDownRequiredColumns
    with org.apache.spark.sql.connector.read.SupportsPushDownAggregates
    with org.apache.spark.sql.connector.read.SupportsPushDownLimit {

  private var pushed: Array[Filter] = Array.empty
  private var predicate: Predicate = AlwaysTrue
  private var required: Option[StructType] = None
  private var pushedLimit: Option[Int] = None
  private var aggResult: Option[(StructType, org.apache.spark.sql.catalyst.InternalRow)] = None

  /** Limit pushdown (the reference's `IcebergTableScan ... limit:[n]`,
    * basic_queries.slt:56): planning truncates to the first files whose
    * record counts cover `n` — always PARTIAL (Spark re-applies its
    * Limit), and the scan only honors it when every planned row
    * qualifies (no residual predicate, no deletes in scope) — the same
    * soundness rule as the V1 path's planWithLimit. */
  override def pushLimit(limit: Int): Boolean = { pushedLimit = Some(limit); true }
  override def isPartiallyPushed(): Boolean = true

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter(f => SparkFilters.toPredicate(f, table.schema).isDefined)
    predicate = SparkFilters.toPredicate(filters.toSeq, table.schema)
    filters // inexact: every filter is re-evaluated above the scan
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = Some(requiredSchema)

  /** Metadata-only aggregates: COUNT(*) / COUNT(col) / MIN / MAX answered
    * from manifest statistics without touching a single data file — at
    * 100 TB the difference between milliseconds of driver work and a
    * full-table scan. Mirrors the reference's statistics surface (manifest
    * record_count / value_counts / null_value_counts / bounds,
    * data_file.rs:36) and Iceberg Java's SparkScanBuilder.pushAggregation
    * gating: only when the answer is provably exact —
    *   - no residual filter (Spark only attempts the pushdown then),
    *   - no delete files in scope (counts/bounds ignore MoR deletes),
    *   - COUNT(col) needs value+null counts on every file,
    *   - MIN/MAX need bounds on every file and a type whose bound order
    *     is total (floats excluded: NaN never enters parquet bounds).
    * Anything else returns false and Spark aggregates above the scan. */
  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
    if (predicate != AlwaysTrue || pushed.nonEmpty) return false
    if (agg.groupByExpressions().nonEmpty) return false
    aggResult = GraftMetadataAggregates.evaluate(table, agg)
    aggResult.isDefined
  }

  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
    if (predicate != AlwaysTrue || pushed.nonEmpty) return false
    if (agg.groupByExpressions().nonEmpty) return false
    GraftMetadataAggregates.evaluate(table, agg).isDefined
  }

  /** Native DSv2 Batch for every shape except name mapping: position
    * deletes, DVs, equality deletes, and v3 initial-defaults all apply in
    * the partition reader. Name-mapping resolution (alias column names per
    * file) still routes through the V1 relation fallback. */
  override def build(): Scan = aggResult match {
    case Some((schema, row)) => new GraftAggScan(schema, row)
    case None =>
      val usesNameMapping =
        table.metadata.properties.get("graft.read.use-name-mapping").contains("true")
      if (usesNameMapping) new GraftV1Scan(table, predicate, required)
      else new GraftBatchScan(table, predicate, pushed.toSeq, required,
        options ++ pushedLimit.map(n => "pushed-limit" -> n.toString))
  }
}

final class GraftV1Scan(table: GraftTable, predicate: Predicate,
    required: Option[StructType]) extends V1Scan {

  private val projected: Seq[String] = required match {
    case Some(s) if s.fields.nonEmpty =>
      require(Seq(GraftBatchScan.FileColumn, GraftBatchScan.PosColumn,
          GraftBatchScan.SpecIdColumn, GraftBatchScan.PartitionColumn)
          .forall(!s.fieldNames.contains(_)),
        "metadata columns are not available on the V1 fallback path " +
          "(name mapping); drop the metadata column")
      s.fieldNames.toSeq
    case _ => table.schema.fields.map(_.name)
  }

  override def readSchema(): StructType = {
    val full = table.schema.toSpark
    StructType(projected.flatMap(n => full.fields.find(_.name == n)))
  }

  override def toV1TableScan[T <: BaseRelation with V1TableScan](
      context: SQLContext): T = {
    val relation = new BaseRelation with V1TableScan {
      override def sqlContext: SQLContext = context
      override def schema: StructType = readSchema()
      override def buildScan(): RDD[Row] = scanDf(context.sparkSession).rdd
    }
    relation.asInstanceOf[T]
  }

  /** Pruned scan DataFrame (shared with tests asserting plan pruning). */
  def scanDf(spark: SparkSession): DataFrame = {
    val s = table.newScan()
    val filtered = predicate match {
      case AlwaysTrue => s
      case p => s.withFilter(p)
    }
    filtered.select(projected: _*).toDF(spark)
  }
}
