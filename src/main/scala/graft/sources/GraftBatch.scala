package graft.sources

import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.expressions.Expressions
import org.apache.spark.sql.connector.read.{Batch, HasPartitionKey, InputPartition, PartitionReader, PartitionReaderFactory, Scan, SupportsReportPartitioning}
import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, Partitioning, UnknownPartitioning}
import org.apache.spark.sql.execution.datasources.{FileFormat, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.GraftParquetFileFormat
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType

import graft.expr.{AlwaysTrue, Predicate}
import graft.table.GraftTable

/** Native DSv2 Batch read path — the analogue of the reference's
  * `IcebergTableScan` physical plan (crates/integrations/datafusion/src/
  * physical_plan/scan.rs:41,139): `planInputPartitions` hands each
  * executor a byte-range slice of a planned `FileScanTask`, and the
  * partition reader decodes parquet through Spark's own vectorized
  * machinery (`ParquetFileFormat.buildReaderWithPartitionValues`) — rows
  * stay `InternalRow` end to end, so the per-row `Row` conversion and
  * codegen fence of the old `V1Scan` fallback are gone; `explain` shows a
  * real `BatchScan`, not `Scan ExistingRDD`.
  *
  * Merge-on-read position deletes and v3 deletion vectors are applied
  * IN THE READER, per file: the reader unions the file's DV bitmap (a
  * Puffin roaring blob) with any parquet position-delete rows that
  * reference the file, then skips those row indexes while streaming.
  * Files with position-type deletes read unsplit and unfiltered (parquet
  * row-group pruning would break row-index accounting); clean files are
  * split at row-group boundaries and get the pushed filters for
  * row-group/page pruning.
  *
  * Equality deletes are ALSO applied in the reader (the reference's
  * caching_delete_file_loader.rs shape): each task carries the delete
  * groups whose sequence number exceeds its own; the reader loads those
  * groups' key tuples into per-JVM-cached hash sets and drops matching
  * rows. Key columns absent from the projection are read additionally and
  * projected away afterwards. v3 initial-defaults likewise fill natively:
  * files written before a defaulted field existed (decided per file from
  * the harvested stats maps — metadata only) get a codegen literal in
  * place of the parquet null-fill. Only name-mapping tables still fall
  * back to the V1 relation path.
  */
class GraftBatchScan(table: GraftTable, predicate: Predicate,
    pushedFilters: Seq[Filter], required: Option[StructType],
    options: Map[String, String] = Map.empty,
    onPlanned: Seq[String] => Unit = _ => ())
    extends Scan with Batch with SupportsReportPartitioning
    with org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering
    with org.apache.spark.sql.connector.read.SupportsReportStatistics
    with org.apache.spark.sql.connector.read.SupportsReportOrdering {

  // the session the scan was built under: planning (split sizing,
  // distributed planning) and the reader build use ITS conf, never the
  // active session of whichever thread plans or executes the scan later
  private val session = SparkSession.active

  // `_file` / `_pos` / `_spec_id` / `_partition` metadata columns
  // (SupportsMetadataColumns, metadata_columns.rs:33-90): appended by the
  // reader — `_file`, `_spec_id` and the `_partition` tuple are constant
  // per split, `_pos` is the row's position in its data file (the Iceberg
  // position-delete coordinate). Row-level operations project their row
  // attrs through `_file`/`_pos` (Spark only strips the rewrite's
  // internal operation column when at least one metadata attribute is
  // present), and the delta (merge-on-read) write path uses (_file, _pos)
  // as the row id.
  private val MetaCols = Seq(GraftBatchScan.FileColumn, GraftBatchScan.PosColumn,
    GraftBatchScan.SpecIdColumn, GraftBatchScan.PartitionColumn,
    GraftBatchScan.DeletedColumn, GraftBatchScan.RowIdColumn,
    GraftBatchScan.LastUpdatedColumn)
  private val (projected: Seq[String], emitFile: Boolean, emitPos: Boolean,
      emitSpecId: Boolean, emitPartition: Boolean, emitDeleted: Boolean,
      emitRowId: Boolean, emitLastSeq: Boolean) =
    required match {
      case Some(s) if s.fields.nonEmpty =>
        (s.fieldNames.toSeq.filterNot(MetaCols.contains),
          s.fieldNames.contains(GraftBatchScan.FileColumn),
          s.fieldNames.contains(GraftBatchScan.PosColumn),
          s.fieldNames.contains(GraftBatchScan.SpecIdColumn),
          s.fieldNames.contains(GraftBatchScan.PartitionColumn),
          s.fieldNames.contains(GraftBatchScan.DeletedColumn),
          s.fieldNames.contains(GraftBatchScan.RowIdColumn),
          s.fieldNames.contains(GraftBatchScan.LastUpdatedColumn))
      case _ =>
        (table.schema.fields.map(_.name), false, false, false, false, false,
          false, false)
    }

  /** Unified `_partition` struct across evolved specs (partitioning.rs —
    * same type the V1 metadata-column path serves). */
  private lazy val unifiedPartType: graft.spec.IcebergType.StructT =
    graft.spec.PartitionSpec.unifiedPartitionType(
      table.metadata.partitionSpecs, table.schema)
  private lazy val unifiedPartSchema: StructType =
    graft.spec.PartitionSpec.unifiedPartitionSchema(
      table.metadata.partitionSpecs, table.schema)

  // projected schema rebuilt from the table schema so parquet.field.id
  // metadata survives whatever Spark passed through pruneColumns
  private def dataSchema(): StructType = {
    val full = table.schema.toSpark
    StructType(projected.flatMap(n => full.fields.find(_.name == n)))
  }

  /** Equality-delete groups (key set, sequence number, partition scope),
    * resolved once per scan from the (cached) delete manifests. */
  private lazy val eqInfo: Seq[graft.table.EqDeleteGroup] =
    graft.table.DeletePlan.eqGroupsOf(table, table.newScan().planDeletes())

  /** Equality-key columns the reader must materialize beyond the
    * projection (projected away again before rows leave the reader). */
  private lazy val extendedNames: Seq[String] =
    projected ++ eqInfo.flatMap(_.keyNames).distinct.filterNot(projected.contains)

  /** Lineage-requesting scans also read the MATERIALIZED reserved columns
    * (RowLineage): compaction persists per-row lineage into its rewritten
    * files; field-id projection null-fills files without the columns and
    * the reader coalesces with first_row_id + pos inheritance. */
  private def lineageRead: Boolean = emitRowId || emitLastSeq

  private def extendedSchema(): StructType = {
    val full = table.schema.toSpark
    StructType(extendedNames.flatMap(n => full.fields.find(_.name == n)) ++
      (if (lineageRead) graft.spec.RowLineage.sparkFields else Nil))
  }

  /** v3 initial-defaults the native reader serves for files written before
    * the field existed — per file by `DataFile.lacksColumn`, the rule the
    * V1 path shares. */
  private lazy val defaultedFields: Seq[graft.spec.NestedField] =
    table.schema.fields.filter(f =>
      f.initialDefault.isDefined && extendedNames.contains(f.name))

  private def missingDefaultNames(f: graft.meta.DataFile): Seq[String] =
    defaultedFields.filter(fd => f.lacksColumn(fd.id)).map(_.name)

  override def readSchema(): StructType = {
    val data = dataSchema().fields
    val metas =
      (if (emitFile) Seq(org.apache.spark.sql.types.StructField(
        GraftBatchScan.FileColumn, org.apache.spark.sql.types.StringType,
        nullable = false)) else Nil) ++
      (if (emitPos) Seq(org.apache.spark.sql.types.StructField(
        GraftBatchScan.PosColumn, org.apache.spark.sql.types.LongType,
        nullable = false)) else Nil) ++
      (if (emitSpecId) Seq(org.apache.spark.sql.types.StructField(
        GraftBatchScan.SpecIdColumn, org.apache.spark.sql.types.IntegerType,
        nullable = false)) else Nil) ++
      (if (emitPartition) Seq(org.apache.spark.sql.types.StructField(
        GraftBatchScan.PartitionColumn, unifiedPartSchema,
        nullable = true)) else Nil) ++
      (if (emitDeleted) Seq(org.apache.spark.sql.types.StructField(
        GraftBatchScan.DeletedColumn, org.apache.spark.sql.types.BooleanType,
        nullable = false)) else Nil) ++
      (if (emitRowId) Seq(org.apache.spark.sql.types.StructField(
        GraftBatchScan.RowIdColumn, org.apache.spark.sql.types.LongType,
        nullable = true)) else Nil) ++
      (if (emitLastSeq) Seq(org.apache.spark.sql.types.StructField(
        GraftBatchScan.LastUpdatedColumn, org.apache.spark.sql.types.LongType,
        nullable = true)) else Nil)
    StructType(data ++ metas)
  }

  override def toBatch: Batch = this

  override def description(): String =
    s"graft ${table.name}${if (predicate == AlwaysTrue) "" else s" filter=$predicate"}" +
      options.get("pushed-limit").map(n => s" limit=$n").getOrElse("")

  override def planInputPartitions(): Array[InputPartition] = planned

  /** Storage-partitioned joins (Spark SPJ, SPARK-37377): when every
    * planned file sits in the table's default spec and that spec is
    * identity-only, each split carries its partition tuple
    * (`HasPartitionKey`) and the scan reports `KeyGroupedPartitioning`
    * over the source columns. With `spark.sql.sources.v2.bucketing
    * .enabled` Spark then groups splits by partition value and joins two
    * co-partitioned graft tables WITHOUT any shuffle — at 100 TB the
    * exchange this elides is usually the whole cost of a fact-fact join.
    * Non-identity or mixed-spec layouts fall back to unknown partitioning
    * (correct, just shuffled). */
  override def outputPartitioning(): Partitioning =
    if (planned.nonEmpty && planned.forall(_.isInstanceOf[HasPartitionKey])) {
      val keys = table.spec.fields.map { f =>
        val name = table.schema.idToField(f.sourceId).name
        f.transform match {
          case graft.spec.Transform.Bucket(n) => Expressions.bucket(n, name)
          case _ => Expressions.identity(name)
        }
      }
      new KeyGroupedPartitioning(keys.toArray, distinctKeyCount)
    } else new UnknownPartitioning(planned.length)

  /** Runtime narrowing (SupportsRuntimeV2Filtering), set AFTER initial
    * planning, so the plan cache is keyed by it and re-computed —
    * `planInputPartitions` then serves the narrowed set and `onPlanned`
    * re-fires with the files that actually survive. Two forms:
    *   - a file-path set (the CoW subclass's `_file` group filter);
    *   - a metadata predicate (dynamic-partition-pruning joins: Spark
    *     evaluates the dim side and hands this scan `IN(part_col, keys)`,
    *     which re-plans through the partition/metrics evaluators — at
    *     100 TB this is what keeps a star join from scanning every fact
    *     file when the dim filter only touches a few partitions). */
  @volatile private var runtimeFileFilter: Option[Set[String]] = None
  @volatile private var runtimePredicate: Predicate = AlwaysTrue
  private type PlanKey = (Option[Set[String]], Predicate)
  @volatile private var planCache
      : Option[(PlanKey, (Array[InputPartition], Int))] = None

  protected def setRuntimeFileFilter(paths: Set[String]): Unit =
    runtimeFileFilter = Some(paths)

  /** Dynamic pruning hook: partition-spec source columns are the join
    * keys whose runtime values can prune files. The CoW subclass
    * overrides this with `_file` (group filtering). */
  override def filterAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    table.spec.fields
      .flatMap(f => table.schema.idToField.get(f.sourceId).map(_.name))
      .distinct
      .map(Expressions.column)
      .toArray

  override def filter(
      predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate])
      : Unit = {
    val translated =
      predicates.flatMap(p => graft.expr.V2Filters.toPredicate(p, table.schema))
    if (translated.nonEmpty) runtimePredicate = translated.reduce(_ and _)
  }

  private def plannedAndKeys: (Array[InputPartition], Int) = {
    val key: PlanKey = (runtimeFileFilter, runtimePredicate)
    planCache match {
      case Some((k, r)) if k == key => r
      case _ =>
        val r = buildPlan(key)
        planCache = Some((key, r))
        r
    }
  }

  private def planned: Array[InputPartition] = plannedAndKeys._1
  private def distinctKeyCount: Int = plannedAndKeys._2

  /** Post-pruning scan statistics (SupportsReportStatistics — the
    * reference reports the same through DataFusion's TableProvider
    * statistics). Spark's join planning consumes these: a fact table
    * whose static + runtime pruning leaves a handful of files reports a
    * correspondingly small size and gets broadcast, which at 100 TB is
    * the difference between a map-side join and a full shuffle. Sizes are
    * rowCount × Spark row width (parquet's compressed bytes understate
    * in-memory size); row counts are manifest record counts, an upper
    * bound under merge-on-read deletes. NDV comes from the snapshot's
    * registered KMV sketches (statistics files, i15), null counts from
    * the planned files' stats maps. */
  override def estimateStatistics(): org.apache.spark.sql.connector.read.Statistics = {
    plannedAndKeys // ensure lastPlannedTasks matches the current runtime key
    val tasks = lastPlannedTasks
    val rows = tasks.map(_.recordCount).sum
    val width = readSchema().defaultSize.toLong max 1L
    val ndv: Map[String, Long] =
      try graft.puffin.Sketches.readCurrentStats(table)
        .map(s => s.column -> s.estimate).toMap
      catch { case _: Throwable => Map.empty } // stats are advisory, never fail a plan
    val nulls: Map[String, Long] = table.schema.fields.flatMap { f =>
      val counts = tasks.map(_.nullCounts.get(f.id))
      if (counts.nonEmpty && counts.forall(_.isDefined))
        Some(f.name -> counts.flatten.sum)
      else None
    }.toMap
    val colStats = new java.util.HashMap[
      org.apache.spark.sql.connector.expressions.NamedReference,
      org.apache.spark.sql.connector.read.colstats.ColumnStatistics]()
    projected.foreach { name =>
      val d = ndv.get(name)
      val n = nulls.get(name)
      if (d.isDefined || n.isDefined)
        colStats.put(Expressions.column(name),
          new org.apache.spark.sql.connector.read.colstats.ColumnStatistics {
            override def distinctCount(): java.util.OptionalLong =
              d.fold(java.util.OptionalLong.empty())(java.util.OptionalLong.of)
            override def nullCount(): java.util.OptionalLong =
              n.fold(java.util.OptionalLong.empty())(java.util.OptionalLong.of)
          })
    }
    new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(rows * width)
      override def numRows(): java.util.OptionalLong =
        java.util.OptionalLong.of(rows)
      override def columnStats(): java.util.Map[
        org.apache.spark.sql.connector.expressions.NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = colStats
    }
  }

  @volatile private var lastPlannedTasks: Seq[graft.table.CompactFileTask] = Nil
  @volatile private var lastScanMetrics: Option[graft.table.ScanMetrics] = None

  /** Planning observability in the Spark UI (SQL tab metrics — the
    * reference's ScanMetrics reporter role, metrics.rs): how many
    * manifests the scan skipped and why files were pruned. Driver-side
    * metrics; the SQL node shows them next to the BatchScan. */
  override def supportedCustomMetrics()
      : Array[org.apache.spark.sql.connector.metric.CustomMetric] =
    Array(new TotalDataManifestsMetric, new SkippedDataManifestsMetric,
      new SkippedByPartitionMetric, new SkippedByColumnStatsMetric,
      new PlannedDataFilesMetric, new BytesReadMetric)

  override def reportDriverMetrics()
      : Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] = {
    plannedAndKeys
    lastScanMetrics.map { m =>
      Seq(
        "totalDataManifests" -> m.totalDataManifests.toLong,
        "skippedDataManifests" -> m.skippedManifests.toLong,
        "skippedByPartitionPruning" -> m.skippedByPartition,
        "skippedByColumnStats" -> m.skippedByMetrics,
        "plannedDataFiles" -> m.resultFiles.toLong
      ).map { case (n, v) =>
        new org.apache.spark.sql.connector.metric.CustomTaskMetric {
          override def name(): String = n
          override def value(): Long = v
        }: org.apache.spark.sql.connector.metric.CustomTaskMetric
      }.toArray
    }.getOrElse(Array.empty)
  }

  /** Report per-partition row ordering (SupportsReportOrdering) when it is
    * PROVABLE: the table's default sort order is identity-only, every
    * planned file is stamped with that order id (written sorted), and the
    * sort columns survive the projection. Identity partition source
    * columns lead the reported order — they are constant within a split
    * (fanout writes one partition per file), so a file sorted by the sort
    * order is also sorted by (partition cols, sort cols), which is
    * exactly the ordering a sort-merge join over a storage-partitioned
    * join requires. Spark then elides BOTH the exchange (SPJ) and the
    * sorts — at 100 TB the whole cost of a fact-fact merge join. Byte-
    * range splits preserve within-file order; in-reader deletes only
    * filter rows. */
  override def outputOrdering()
      : Array[org.apache.spark.sql.connector.expressions.SortOrder] = {
    plannedAndKeys
    orderingFor(lastPlannedTasks)
  }

  /** The provable ordering of `tasks` (empty array when unprovable) —
    * shared by [[outputOrdering]] and the split-packing decision in
    * [[buildPlan]]: a scan that reports an ordering must keep ONE split
    * per Spark partition (concatenating two sorted files is not sorted). */
  private def orderingFor(tasks: Seq[graft.table.CompactFileTask])
      : Array[org.apache.spark.sql.connector.expressions.SortOrder] = {
    import org.apache.spark.sql.connector.expressions.{NullOrdering, SortDirection}
    val md = table.metadata
    val order = md.sortOrders.find(_.orderId == md.defaultSortOrderId)
      .filter(_.fields.nonEmpty).getOrElse(return Array.empty)
    val identityOnly =
      order.fields.forall(_.transform == graft.spec.Transform.Identity) &&
        table.spec.fields.forall(_.transform == graft.spec.Transform.Identity)
    if (!identityOnly) return Array.empty
    if (tasks.isEmpty ||
        !tasks.forall(_.sortOrderId.contains(order.orderId)))
      return Array.empty
    val partCols = table.spec.fields
      .map(f => table.schema.idToField(f.sourceId).name)
    val orderCols = order.fields
      .map(f => (table.schema.idToField(f.sourceId).name, f))
    if (!(partCols ++ orderCols.map(_._1)).forall(projected.contains))
      return Array.empty
    val lead = partCols.map(n => Expressions.sort(Expressions.column(n),
      SortDirection.ASCENDING, NullOrdering.NULLS_FIRST))
    val rest = orderCols.map { case (n, f) =>
      Expressions.sort(Expressions.column(n),
        if (f.ascending) SortDirection.ASCENDING else SortDirection.DESCENDING,
        if (f.nullsFirst) NullOrdering.NULLS_FIRST else NullOrdering.NULLS_LAST)
    }
    (lead ++ rest).toArray
  }

  private def buildPlan(key: PlanKey): (Array[InputPartition], Int) = {
    val parts = doPlan(key)
    val spec = table.spec
    // identity resolves catalog-free; bucket needs the plugin's
    // FunctionCatalog (graft.functions.GraftBucketFunction) on the read
    // path — reported either way, Spark falls back to a shuffle when it
    // can't resolve the transform
    val spjSupported = spec.fields.nonEmpty && spec.fields.forall(f =>
      f.transform match {
        case graft.spec.Transform.Identity | graft.spec.Transform.Bucket(_) => true
        case _ => false
      })

    // FilePartition-style split packing (VERDICT r15 item 4): one
    // InputPartition per FILE is a scheduler scale-killer at 100 TB file
    // counts — pack splits into ~maxSplitBytes bins, each split charged
    // its length + an open cost, with the bin size derived from the SAME
    // session knobs as the V1 scan (maxPartitionBytes / openCostInBytes /
    // minPartitionNum) so it is scale-adaptive, not a local constant.
    // Contracts preserved:
    //   - SPJ: bins never cross a partition tuple (packed below,
    //     per-group), so HasPartitionKey stays exact;
    //   - ordering: a scan whose files PROVE the table sort order skips
    //     packing entirely — the per-partition sort report (and the
    //     sort-elision it buys) outweighs task-count savings there.
    val sqlConf = session.sessionState.conf
    val openCost = sqlConf.filesOpenCostInBytes
    val minPartitionNum = sqlConf.filesMinPartitionNum
      .getOrElse(session.sparkContext.defaultParallelism)
    val totalBytes = parts.map(_._2.length + openCost).sum
    val maxSplitBytes = math.min(sqlConf.filesMaxPartitionBytes,
      math.max(openCost, totalBytes / math.max(1, minPartitionNum)))
    val preserveOrder = orderingFor(parts.map(_._1).toSeq).nonEmpty

    def bins(group: Seq[GraftInputPartition]): Seq[Seq[GraftInputPartition]] =
      if (preserveOrder || group.lengthCompare(1) <= 0) group.map(Seq(_))
      else {
        val sorted = group.sortBy(-_.length) // Spark's largest-first fill
        val out = Seq.newBuilder[Seq[GraftInputPartition]]
        var cur = List.empty[GraftInputPartition]
        var size = 0L
        sorted.foreach { s =>
          if (cur.nonEmpty && size + s.length + openCost > maxSplitBytes) {
            out += cur.reverse
            cur = Nil
            size = 0L
          }
          cur ::= s
          size += s.length + openCost
        }
        if (cur.nonEmpty) out += cur.reverse
        out.result()
      }
    def unkeyed(ps: Array[(graft.table.CompactFileTask, GraftInputPartition)])
        : Array[InputPartition] =
      bins(ps.map(_._2).toSeq).map {
        case Seq(one) => one: InputPartition
        case many => GraftPackedInputPartition(many): InputPartition
      }.toArray

    if (!spjSupported) (unkeyed(parts), 0)
    else {
      val partType = spec.partitionType(table.schema)
      val converters = partType.fields.map(f =>
        CatalystTypeConverters.createToCatalystConverter(
          graft.spec.IcebergType.toSpark(f.fieldType)))
      def keyOf(t: graft.table.CompactFileTask): InternalRow =
        new GenericInternalRow(t.partition.zip(partType.fields)
          .zip(converters).map { case ((v, f), conv) =>
            conv(Predicate.sparkValue(f.fieldType, v))
          }.toArray)
      val allDefaultSpec = parts.forall(_._1.specId == spec.specId)
      if (!allDefaultSpec) (unkeyed(parts), 0)
      else {
        // group splits by partition tuple in first-seen order (stable
        // plans run to run), pack within each group only
        val groups = new scala.collection.mutable.LinkedHashMap[Seq[Any],
          scala.collection.mutable.ArrayBuffer[(graft.table.CompactFileTask,
            GraftInputPartition)]]()
        parts.foreach(p => groups.getOrElseUpdate(p._1.partition,
          scala.collection.mutable.ArrayBuffer.empty) += p)
        val keyed = groups.valuesIterator.flatMap { group =>
          val k = keyOf(group.head._1)
          bins(group.map(_._2).toSeq).map {
            case Seq(one) => GraftKeyedInputPartition(one, k): InputPartition
            case many => GraftKeyedPackedInputPartition(many, k): InputPartition
          }
        }.toArray
        (keyed, groups.size)
      }
    }
  }

  /** Planning-mode switch: `local` walks manifests on the driver (full
    * FileScanTasks, cheapest for small snapshots), `distributed` runs the
    * pruning as a Spark job collecting only compact descriptors, `auto`
    * (default) picks distributed once the manifest-list counters estimate
    * more live entries than `graft.plan.distributed-threshold` (default
    * 20k files — below that the job round-trip costs more than it saves). */
  private def planCompact(scan: graft.table.TableScan)
      : (Seq[graft.table.CompactFileTask], graft.table.ScanMetrics) = {
    val mode = options.getOrElse("plan-mode",
      table.metadata.properties.getOrElse("graft.plan.mode", "auto"))
    val threshold = table.metadata.properties
      .getOrElse("graft.plan.distributed-threshold", "20000").toLong
    val useDistributed = mode match {
      case "distributed" => true
      case "local" => false
      case _ => scan.estimatedDataEntries >= threshold
    }
    if (useDistributed)
      scan.planCompactDistributed(session, projectedFieldIds,
        defaultedFields.map(f => (f.id, f.name)))
    else {
      val (tasks, m) = scan.planWithMetrics()
      (tasks.map(toCompact), m)
    }
  }

  private lazy val projectedFieldIds: Set[Int] =
    table.schema.fields.filter(f => projected.contains(f.name)).map(_.id).toSet

  private def toCompact(t: graft.table.FileScanTask): graft.table.CompactFileTask =
    graft.table.CompactFileTask(t.file.filePath, t.file.fileSizeInBytes,
      t.file.recordCount, t.specId, t.sequenceNumber, t.file.partition,
      t.file.sortOrderId, missingDefaultNames(t.file),
      GraftTable.splitRanges(t.file.fileSizeInBytes, t.file.splitOffsets),
      t.file.nullValueCounts.filter(kv => projectedFieldIds(kv._1)),
      t.file.firstRowId)

  private def doPlan(key: PlanKey)
      : Array[(graft.table.CompactFileTask, GraftInputPartition)] = {
    val (fileFilter, runtimePred) = key
    val scan = predicate.and(runtimePred) match {
      case AlwaysTrue => table.newScan()
      case p => table.newScan().withFilter(p)
    }
    val (allPlanned0, planMetrics) = planCompact(scan)
    // DataFrame-level incremental append read: `.option("start-snapshot-id",
    // from)` [+ "end-snapshot-id"] restricts the planned set to files
    // COMMITTED in (from, to] — the reader-option mirror of
    // appendsBetween (i27/i32). Pruning, splits and delete binding are
    // inherited from the normal plan; non-append snapshots in range are
    // refused exactly as the API refuses them. The allowed-path set is
    // window-sized (one CDC increment), not corpus-sized.
    val allPlanned = options.get("start-snapshot-id") match {
      case None => allPlanned0
      case Some(from) =>
        val to = options.get("end-snapshot-id").map(_.toLong)
          .orElse(table.metadata.currentSnapshotId)
          .getOrElse(throw new IllegalArgumentException(
            "incremental read on a table with no snapshots"))
        val allowed = table.newScan().appendsBetween(from.toLong, to)
          .planFiles().map(t => table.io.qualify(t.file.filePath)).toSet
        allPlanned0.filter(t => allowed(table.io.qualify(t.filePath)))
    }
    lastScanMetrics = Some(planMetrics)
    val deletes = scan.planDeletes()

    val all = allPlanned
    val unlimited = fileFilter match {
      case Some(keep) => all.filter(t => keep.contains(table.io.qualify(t.filePath)))
      case None => all
    }
    // pushed limit (partial): truncate to the first files covering n rows
    // — sound only when every planned row qualifies (no residual
    // predicate, no runtime filter, no deletes in scope); Spark's own
    // Limit still applies above the scan
    val tasks = options.get("pushed-limit").map(_.toLong) match {
      case Some(n) if predicate == AlwaysTrue && runtimePred == AlwaysTrue &&
          deletes.isEmpty =>
        var acc = 0L
        unlimited.takeWhile { t =>
          val need = acc < n
          acc += t.recordCount
          need
        }
      case _ => unlimited
    }
    lastPlannedTasks = tasks // estimateStatistics reads the pruned set
    onPlanned(tasks.map(_.filePath)) // row-level ops record the replaced groups
    // each data file's deletes: pos-delete parquet bound through the
    // DeleteFileIndex analogue, DVs by referenced file, equality groups
    // sequenced after the file whose partition scope covers it
    val deletePlan = graft.table.DeletePlan.build(table, deletes,
      tasks.map(t => (table.io.qualify(t.filePath), t.sequenceNumber, t.specId, t.partition)),
      Some(eqInfo))
    tasks.flatMap { t =>
      val path = table.io.qualify(t.filePath)
      val size = t.fileSize
      val fileDeletes = deletePlan.forFile(path)
      val partVals: Seq[Any] =
        if (!emitPartition) Nil
        else graft.spec.PartitionSpec.unifiedPartitionValues(unifiedPartType,
          table.metadata.specById(t.specId).getOrElse(table.spec), t.partition)
      val splits =
        if (fileDeletes.hasPositions || emitPos || emitRowId)
          // whole file in one slice: row indexes must be exact (`_pos` and
          // inherited `_row_id` emission count rows, so splits and parquet
          // row-group filtering are both off)
          Seq(GraftInputPartition(path, 0L, size, size,
            needsRowIndex = true, fileDeletes, t.missingDefaults,
            t.specId, partVals, t.firstRowId, t.sequenceNumber))
        else t.splitRanges.map { case (start, len) =>
          GraftInputPartition(path, start, len, size, needsRowIndex = false,
            fileDeletes, t.missingDefaults, t.specId, partVals,
            t.firstRowId, t.sequenceNumber)
        }
      splits.map(s => (t, s))
    }.toArray
  }

  /** Streaming read over the same table: micro-batch offsets are snapshot
    * ids, each batch an incremental append scan (see GraftMicroBatchStream). */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    // the changelog stream resolves only on the format("graft") V1
    // fallback (GraftChangelogSource); the catalog-table path would
    // otherwise IGNORE the option and silently tail appends instead of
    // changes — refuse loudly
    if (options.get("read-changelog").contains("true"))
      throw new UnsupportedOperationException(
        "read-changelog streaming is served by spark.readStream" +
          ".format(\"graft\").option(\"warehouse\", ...).option(\"table\", ...)" +
          " — the catalog-table streaming path tails appends only")
    new graft.streaming.GraftMicroBatchStream(
      table.name, table.catalog, predicate, pushedFilters, projected, options)
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val ext = extendedSchema()
    // lineage physical columns ride at the END of the extended schema and
    // must be projected away (their values surface through the metadata
    // slots instead), so a lineage read always needs the output projection
    val outputOrdinals =
      if (extendedNames == projected && !lineageRead) None
      else Some(projected.map(extendedNames.indexOf))
    val defaults: Map[String, Any] = defaultedFields.map(f =>
      f.name -> graft.meta.SingleValue.toCatalystValue(
        f.fieldType, f.initialDefault.get)).toMap
    GraftReaderFactory.build(session, ext, pushedFilters,
      graft.crypto.Encryption.confFor(table.metadata.properties), emitFile, emitPos,
      eqKeySets = eqInfo.map(_.keyNames).distinct, outputOrdinals = outputOrdinals,
      defaults = defaults, emitSpecId = emitSpecId,
      partSchema = if (emitPartition) Some(unifiedPartSchema) else None,
      emitDeleted = emitDeleted, emitRowId = emitRowId,
      emitLastSeq = emitLastSeq)
  }
}

object GraftBatchScan {
  /** Metadata column: the data file path of each row. */
  val FileColumn = "_file"
  /** Metadata column: the row's position within its data file. */
  val PosColumn = "_pos"
  /** Metadata column: the partition spec id of the row's file. */
  val SpecIdColumn = "_spec_id"
  /** Metadata column: the file's typed partition tuple (unified across
    * evolved specs — partitioning.rs). */
  val PartitionColumn = "_partition"
  /** Metadata column: v3 row lineage id (metadata_columns.rs:63 — reserved
    * id i32.MAX-107): materialized column if the file carries one
    * (compaction persists lineage), else first_row_id + position. */
  val RowIdColumn = graft.spec.RowLineage.RowIdName
  /** Metadata column: sequence number of the commit that last updated the
    * row (metadata_columns.rs:66 — reserved id i32.MAX-108): materialized
    * if present, else the file's data sequence number. */
  val LastUpdatedColumn = graft.spec.RowLineage.LastUpdatedName
  /** Metadata column: whether the row is deleted under the scan snapshot's
    * MoR deletes (metadata_columns.rs:38,75 — reserved id i32.MAX-3).
    * Projecting it flips the reader from FILTERING deleted rows to
    * SERVING them with a marker — position deletes, deletion vectors and
    * equality deletes all mark instead of skip. */
  val DeletedColumn = "_deleted"
  /** Scan metrics surfaced in the Spark UI: driver planning counters plus
    * the executor-side bytesRead accumulator (BytesReadMetric). */
  val MetricNames: Seq[(String, String)] = Seq(
    "totalDataManifests" -> "total data manifests",
    "skippedDataManifests" -> "data manifests skipped by partition summaries",
    "skippedByPartitionPruning" -> "data files skipped by partition pruning",
    "skippedByColumnStats" -> "data files skipped by column stats",
    "plannedDataFiles" -> "data files planned",
    "bytesRead" -> "bytes read (data + delete files)")
}

// Spark re-instantiates CustomMetric classes reflectively on the driver UI
// path, so each metric is a top-level zero-arg class.
final class TotalDataManifestsMetric
    extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = "totalDataManifests"
  override def description(): String = "total data manifests"
}
final class SkippedDataManifestsMetric
    extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = "skippedDataManifests"
  override def description(): String = "data manifests skipped by partition summaries"
}
final class SkippedByPartitionMetric
    extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = "skippedByPartitionPruning"
  override def description(): String = "data files skipped by partition pruning"
}
final class SkippedByColumnStatsMetric
    extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = "skippedByColumnStats"
  override def description(): String = "data files skipped by column stats"
}
final class PlannedDataFilesMetric
    extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = "plannedDataFiles"
  override def description(): String = "data files planned"
}
/** Executor-side storage-read counter (scan_metrics.rs:54-72: "total bytes
  * read from storage during this scan, including data files and delete
  * files"): data split ranges + position-delete parquet + deletion-vector
  * puffin blobs + equality-delete parquet (counted on actual load — a
  * JVM-cache hit reads nothing). The one number an operator watches on a
  * 100 TB scan. */
final class BytesReadMetric
    extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = "bytesRead"
  override def description(): String = "bytes read (data + delete files)"
}

/** One byte-range slice of a data file plus its delete context.
  * `partitionValues` are Catalyst values aligned to the scan's unified
  * `_partition` schema (empty unless that column is projected). */
final case class GraftInputPartition(
    path: String,
    start: Long,
    length: Long,
    fileSize: Long,
    needsRowIndex: Boolean,
    deletes: graft.table.FileDeletes = graft.table.FileDeletes.none,
    missingDefaults: Seq[String] = Nil,
    specId: Int = -1,
    partitionValues: Seq[Any] = Nil,
    firstRowId: Option[Long] = None,
    sequenceNumber: Long = -1L) extends InputPartition

/** A split plus its partition tuple — lets Spark group splits by
  * partition value for storage-partitioned joins (HasPartitionKey). */
final case class GraftKeyedInputPartition(part: GraftInputPartition,
    key: InternalRow) extends InputPartition with HasPartitionKey {
  override def partitionKey(): InternalRow = key
}

/** Several splits served sequentially by ONE task (FilePartition-style
  * bin packing — task count ∝ bytes, not files). */
final case class GraftPackedInputPartition(parts: Seq[GraftInputPartition])
    extends InputPartition

/** A packed bin whose splits all share one partition tuple (SPJ packing
  * never crosses a tuple, so HasPartitionKey stays exact). */
final case class GraftKeyedPackedInputPartition(parts: Seq[GraftInputPartition],
    key: InternalRow) extends InputPartition with HasPartitionKey {
  override def partitionKey(): InternalRow = key
}

object GraftInputPartition {

  /** Split a delete-free data file at row-group boundaries into ~128 MB
    * read slices — the cluster distribution unit. */
  def cleanSplits(path: String, size: Long, offsets: Seq[Long]): Seq[GraftInputPartition] =
    GraftTable.splitRanges(size, offsets).map { case (start, len) =>
      GraftInputPartition(path, start, len, size, needsRowIndex = false)
    }
}

object GraftReaderFactory {

  /** Build the three serializable read closures on the driver, against the
    * scan-configured session CLONE (graft.SessionConf): field-id and
    * ns-as-long settings are baked into the broadcast hadoop conf and
    * captured closure state at build time, and the caller's session is
    * never mutated (the concurrent-scan hygiene contract). */
  def build(spark: SparkSession, readSchema: StructType, filters: Seq[Filter],
      encConf: Map[String, String] = Map.empty,
      emitFile: Boolean = false, emitPos: Boolean = false,
      eqKeySets: Seq[Seq[String]] = Nil,
      outputOrdinals: Option[Seq[Int]] = None,
      defaults: Map[String, Any] = Map.empty,
      emitSpecId: Boolean = false,
      partSchema: Option[StructType] = None,
      emitDeleted: Boolean = false,
      emitRowId: Boolean = false,
      emitLastSeq: Boolean = false): GraftReaderFactory = {
    val scanSpark = graft.SessionConf.scanSession(spark)
    // per-task-amortized reader function (one JobConf per task, filter
    // serialized once) — matters most for packed bins of small files
    val fmt = new GraftParquetFileFormat()
    def conf() = graft.SessionConf.readConf(scanSpark, encConf)
    val rowOpts = Map(FileFormat.OPTION_RETURNING_BATCH -> "false")
    // filtered and unfiltered readers over one conf broadcast
    val Seq(filteredRead, plainRead) = fmt.buildReaders(scanSpark, StructType(Nil),
      readSchema, Seq(filters, Nil), rowOpts, conf())
    new GraftReaderFactory(filteredRead, plainRead,
      graft.table.DeleteReaders.build(scanSpark, readSchema, eqKeySets, () => conf()),
      emitFile, emitPos, readSchema, outputOrdinals, defaults,
      emitSpecId, partSchema, emitDeleted, emitRowId, emitLastSeq)
  }
}

final class GraftReaderFactory(
    filteredRead: PartitionedFile => Iterator[InternalRow],
    plainRead: PartitionedFile => Iterator[InternalRow],
    deleteReaders: graft.table.DeleteReaders,
    emitFile: Boolean = false,
    emitPos: Boolean = false,
    readSchema: StructType = StructType(Nil),
    outputOrdinals: Option[Seq[Int]] = None,
    defaults: Map[String, Any] = Map.empty,
    emitSpecId: Boolean = false,
    partSchema: Option[StructType] = None,
    emitDeleted: Boolean = false,
    emitRowId: Boolean = false,
    emitLastSeq: Boolean = false)
    extends PartitionReaderFactory {

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    // one partition per task: the split readers of a packed bin share the
    // equality key sets the task has loaded
    val eqSets = new graft.table.DeleteFilter.TaskEqSets
    partition match {
      case pk: GraftPackedInputPartition => packed(pk.parts, eqSets)
      case kp: GraftKeyedPackedInputPartition => packed(kp.parts, eqSets)
      case k: GraftKeyedInputPartition => single(k.part, eqSets)
      case g: GraftInputPartition => single(g, eqSets)
    }
  }

  private def packed(parts: Seq[GraftInputPartition],
      eqSets: graft.table.DeleteFilter.TaskEqSets): PartitionReader[InternalRow] =
    if (parts.lengthCompare(1) == 0) single(parts.head, eqSets)
    else new GraftConcatPartitionReader(parts.map(p => () => single(p, eqSets)))

  private def single(p: GraftInputPartition,
      eqSets: graft.table.DeleteFilter.TaskEqSets): PartitionReader[InternalRow] = {
    // a file missing a defaulted column must not see pushed parquet
    // filters: a predicate on that column would evaluate against the
    // null-fill (possibly pruning whole row groups) instead of the default
    val read = if (p.needsRowIndex || p.missingDefaults.nonEmpty) plainRead
      else filteredRead
    new GraftPartitionReader(p, read, deleteReaders, eqSets, emitFile, emitPos,
      readSchema, outputOrdinals, defaults, emitSpecId, partSchema,
      emitDeleted, emitRowId, emitLastSeq)
  }
}

/** Sequential reader over a packed bin's splits: opens each sub-reader
  * lazily, closes it when drained, and SUMS task metrics across the
  * sub-readers (bytesRead must count every split of the bin, not just
  * the live one). */
final class GraftConcatPartitionReader(
    makers: Seq[() => PartitionReader[InternalRow]])
    extends PartitionReader[InternalRow] {
  private var idx = -1
  private var cur: PartitionReader[InternalRow] = _
  private val drained = scala.collection.mutable.LinkedHashMap[String, Long]()

  private def drainMetrics(r: PartitionReader[InternalRow]): Unit =
    r.currentMetricsValues().foreach(m =>
      drained(m.name) = drained.getOrElse(m.name, 0L) + m.value)

  override def next(): Boolean = {
    while (true) {
      if (cur != null) {
        if (cur.next()) return true
        drainMetrics(cur)
        cur.close()
        cur = null
      }
      idx += 1
      if (idx >= makers.size) return false
      cur = makers(idx)()
    }
    false
  }

  override def get(): InternalRow = cur.get()

  override def close(): Unit =
    if (cur != null) {
      cur.close()
      cur = null
    }

  override def currentMetricsValues()
      : Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] = {
    val live =
      if (cur == null) Map.empty[String, Long]
      else cur.currentMetricsValues().map(m => m.name -> m.value).toMap
    (drained.keySet ++ live.keySet).toSeq.map { n =>
      val v = drained.getOrElse(n, 0L) + live.getOrElse(n, 0L)
      new org.apache.spark.sql.connector.metric.CustomTaskMetric {
        override def name(): String = n
        override def value(): Long = v
      }: org.apache.spark.sql.connector.metric.CustomTaskMetric
    }.toArray
  }
}

/** Executor-side reader: streams InternalRows from the vectorized parquet
  * reader, skipping deleted row indexes for files under MoR deletes,
  * dropping equality-deleted rows against per-JVM-cached key sets, and
  * filling v3 defaults for files that predate the defaulted column. */
final class GraftPartitionReader(
    part: GraftInputPartition,
    read: PartitionedFile => Iterator[InternalRow],
    deleteReaders: graft.table.DeleteReaders,
    eqSets: graft.table.DeleteFilter.TaskEqSets,
    emitFile: Boolean = false,
    emitPos: Boolean = false,
    readSchema: StructType = StructType(Nil),
    outputOrdinals: Option[Seq[Int]] = None,
    defaults: Map[String, Any] = Map.empty,
    emitSpecId: Boolean = false,
    partSchema: Option[StructType] = None,
    emitDeleted: Boolean = false,
    emitRowId: Boolean = false,
    emitLastSeq: Boolean = false)
    extends PartitionReader[InternalRow] {

  import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, Literal, UnsafeProjection, UnsafeRow}

  private var current: InternalRow = _
  private var rowIndex: Long = -1L
  // executor-side storage-read counter (BytesReadMetric): incremented as
  // each input actually loads — data split range at reader open, delete
  // parquet / DV blob bytes when the delete side materializes, equality
  // delete files on JVM-cache MISS only (counted by the DeleteFilter)
  private var bytesRead: Long = 0L

  override def currentMetricsValues()
      : Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
    Array(new org.apache.spark.sql.connector.metric.CustomTaskMetric {
      override def name(): String = "bytesRead"
      override def value(): Long = bytesRead + deletes.bytesRead
    })

  // v3 default fill: identity BoundReferences except the file's missing
  // defaulted columns, which become codegen literals
  private lazy val fillProj: Option[UnsafeProjection] =
    if (part.missingDefaults.isEmpty) None
    else Some(UnsafeProjection.create(readSchema.fields.toSeq.zipWithIndex.map {
      case (f, i) =>
        if (part.missingDefaults.contains(f.name))
          Literal(defaults(f.name), f.dataType): Expression
        else BoundReference(i, f.dataType, f.nullable): Expression
    }))

  // equality-key columns read beyond the projection get dropped here
  private lazy val outProj: Option[UnsafeProjection] = outputOrdinals.map(ords =>
    UnsafeProjection.create(ords.map(i => BoundReference(i,
      readSchema(i).dataType, readSchema(i).nullable): Expression)))

  // position deletes, DVs and equality deletes of this file, loaded on
  // first use (equality key sets held by the task, cached per JVM)
  private lazy val deletes = new graft.table.DeleteFilter(part.path, part.deletes,
    readSchema, deleteReaders, eqSets)

  // `_file` / `_pos` / `_spec_id` / `_partition` appended as metadata
  // columns (JoinedRow: zero-copy wrapper; only the pos slot mutates per
  // row — file, spec id and the partition tuple are split constants)
  private def emitMeta =
    emitFile || emitPos || emitSpecId || partSchema.isDefined || emitDeleted ||
      emitRowId || emitLastSeq
  private lazy val partStruct: Any =
    partSchema.map(_ => new GenericInternalRow(part.partitionValues.toArray)).orNull
  private lazy val metaRow = new GenericInternalRow(
    (if (emitFile)
      Seq[Any](org.apache.spark.unsafe.types.UTF8String.fromString(part.path))
    else Seq.empty[Any]).toArray ++
      (if (emitPos) Array[Any](0L) else Array.empty[Any]) ++
      (if (emitSpecId) Array[Any](part.specId) else Array.empty[Any]) ++
      (if (partSchema.isDefined) Array[Any](partStruct) else Array.empty[Any]) ++
      (if (emitDeleted) Array[Any](false) else Array.empty[Any]) ++
      (if (emitRowId) Array[Any](null) else Array.empty[Any]) ++
      (if (emitLastSeq) Array[Any](null) else Array.empty[Any]))
  private val posOrdinal = if (emitFile) 1 else 0
  private val deletedOrdinal = (if (emitFile) 1 else 0) +
    (if (emitPos) 1 else 0) + (if (emitSpecId) 1 else 0) +
    (if (partSchema.isDefined) 1 else 0)
  private val rowIdOrdinal = deletedOrdinal + (if (emitDeleted) 1 else 0)
  private val lastSeqOrdinal = rowIdOrdinal + (if (emitRowId) 1 else 0)
  private var deletedFlag: Boolean = false
  // per-row lineage values (boxed: null = no lineage for this row)
  private var rowIdVal: Any = null
  private var lastSeqVal: Any = null
  // ordinals of the MATERIALIZED lineage columns in the extended read
  // schema (appended at the end by the scan when lineage is requested)
  private lazy val extRowIdIdx =
    readSchema.fieldIndex(graft.spec.RowLineage.RowIdName)
  private lazy val extLastSeqIdx =
    readSchema.fieldIndex(graft.spec.RowLineage.LastUpdatedName)

  /** Materialized-wins lineage resolution (RowLineage preference order). */
  private def captureLineage(filled: InternalRow): Unit = {
    if (emitRowId) {
      rowIdVal =
        if (!filled.isNullAt(extRowIdIdx)) filled.getLong(extRowIdIdx)
        else part.firstRowId.map(f => (f + rowIndex): java.lang.Long).orNull
    }
    if (emitLastSeq) {
      lastSeqVal =
        if (!filled.isNullAt(extLastSeqIdx)) filled.getLong(extLastSeqIdx)
        else if (part.sequenceNumber >= 0L) part.sequenceNumber
        else null
    }
  }
  private lazy val joined = new org.apache.spark.sql.catalyst.expressions.JoinedRow()

  private lazy val rows: Iterator[InternalRow] = {
    bytesRead += part.length
    val pf = PartitionedFile(InternalRow.empty, SparkPath.fromPathString(part.path),
      part.start, part.length, Array.empty, 0L, part.fileSize, Map.empty)
    read(pf)
  }

  override def next(): Boolean = {
    while (rows.hasNext) {
      val r = rows.next()
      rowIndex += 1
      val posDeleted = part.needsRowIndex && deletes.posDeleted(rowIndex)
      if (emitDeleted) {
        // mark-instead-of-skip (metadata_columns.rs:75): every physical
        // row is served; MoR delete status rides the `_deleted` marker
        val filled = fillProj match { case Some(p) => p(r); case None => r }
        deletedFlag = posDeleted || deletes.eqDeleted(filled)
        captureLineage(filled)
        current = outProj match { case Some(p) => p(filled); case None => filled }
        return true
      }
      if (!posDeleted) {
        val filled = fillProj match { case Some(p) => p(r); case None => r }
        if (!deletes.eqDeleted(filled)) {
          captureLineage(filled)
          current = outProj match { case Some(p) => p(filled); case None => filled }
          return true
        }
      }
    }
    false
  }

  override def get(): InternalRow =
    if (emitMeta) {
      if (emitPos) metaRow.update(posOrdinal, rowIndex)
      if (emitDeleted) metaRow.update(deletedOrdinal, deletedFlag)
      if (emitRowId) metaRow.update(rowIdOrdinal, rowIdVal)
      if (emitLastSeq) metaRow.update(lastSeqOrdinal, lastSeqVal)
      joined(current, metaRow)
    } else current

  override def close(): Unit = ()
}
