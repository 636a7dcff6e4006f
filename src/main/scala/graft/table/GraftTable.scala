package graft.table

import org.apache.spark.sql.{Column, DataFrame, SparkSession, functions}
import org.apache.spark.sql.functions.{coalesce, col, lit, struct, when}
import org.apache.spark.sql.types.{StructField, StructType}

import graft.catalog.{Catalog, CommitRetry}
import graft.expr.{AlwaysTrue, ExpressionEvaluator, InclusiveMetricsEvaluator, InclusiveProjection, ManifestEvaluator, Predicate}
import graft.io.FileIO
import graft.meta._
import graft.spec._

/** A loaded table handle — metadata tree + IO (reference table.rs).
  * Immutable; every commit produces a new handle via the catalog.
  */
final class GraftTable(
    val name: String,
    val metadata: TableMetadata,
    val version: Int,
    val catalog: Catalog) {

  def io: FileIO = catalog.io
  def schema: IcebergSchema = metadata.currentSchema
  def spec: PartitionSpec = metadata.defaultSpec
  def location: String = metadata.location

  def newScan(): TableScan = new TableScan(this)

  /** Multi-action transaction: stage several actions, land them in ONE
    * catalog swap (reference transaction/mod.rs). */
  def newTransaction: Transaction = new Transaction(this)

  /** A read-only view of this table pinned at `snapshotId` — scans and
    * metadata tables see that snapshot as current (time travel; writes
    * are unaffected because commits re-load the live base via CAS). */
  def atSnapshot(snapshotId: Long): GraftTable = {
    require(metadata.snapshotById(snapshotId).isDefined,
      s"snapshot $snapshotId not found")
    new GraftTable(name, metadata.copy(currentSnapshotId = Some(snapshotId)),
      version, catalog)
  }

  /** Pin at the snapshot that was current at `timestampMs` (snapshot-log
    * resolution — Iceberg's as-of-timestamp rule). */
  def asOfTimestamp(timestampMs: Long): GraftTable = {
    val id = metadata.snapshotLog.filter(_._2 <= timestampMs).lastOption
      .map(_._1).getOrElse(throw new IllegalArgumentException(
        s"no snapshot committed at or before $timestampMs"))
    atSnapshot(id)
  }

  def append(df: DataFrame): GraftTable = AppendWriter.append(this, df)

  /** Stage an append on a branch (write-audit-publish): the table's main
    * line is untouched until `publish` fast-forwards to the branch. */
  def appendToBranch(df: DataFrame, branch: String): GraftTable =
    AppendWriter.append(this, df, branch = Some(branch))

  /** Publish a staged branch: fast-forward main to its head (refused if
    * the branch has diverged from current). */
  def publish(branch: String): GraftTable = Transactions.fastForward(this, branch)

  /** Row-level DELETE WHERE as a MoR position-delete commit. */
  def deleteWhere(p: Predicate, spark: SparkSession): GraftTable =
    DeleteWriter.deleteWhere(this, p, spark)

  /** Row-level DELETE WHERE as v3 Puffin deletion vectors. */
  def deleteWhereDV(p: Predicate, spark: SparkSession): GraftTable =
    DeleteWriter.deleteWhereDV(this, p, spark)

  /** Equality-delete commit on the given key columns. */
  def equalityDelete(keys: DataFrame, keyCols: Seq[String]): GraftTable =
    DeleteWriter.equalityDelete(this, keys, keyCols, keys.sparkSession)

  /** Atomic upsert: equality delete on `keyCols` + append of `df` in ONE
    * snapshot (the Flink upsert-mode commit shape). */
  def upsert(df: DataFrame, keyCols: Seq[String]): GraftTable =
    DeleteWriter.upsert(this, df, keyCols, df.sparkSession)

  /** Atomic OVERWRITE WHERE: delete matching rows + insert replacement
    * in one snapshot (copy-on-write). */
  def overwriteWhere(p: Predicate, replacement: DataFrame,
      spark: SparkSession): GraftTable =
    RowOps.overwriteWhere(this, p, replacement, spark)

  /** UPDATE ... SET assignments WHERE p (copy-on-write). */
  def updateWhere(p: Predicate, assignments: Map[String, Column],
      spark: SparkSession): GraftTable =
    RowOps.updateWhere(this, p, assignments, spark)

  /** MERGE (upsert) `source` on `keyCols` (copy-on-write). */
  def mergeInto(source: DataFrame, keyCols: Seq[String]): GraftTable =
    RowOps.mergeInto(this, source, keyCols, source.sparkSession)

  /** Compaction: rewrite the current snapshot to ~target-size files,
    * folding MoR deletes in (replace commit). */
  def rewriteManifests(smallManifestBytes: Long = 8L << 20): GraftTable =
    Maintenance.rewriteManifests(this, smallManifestBytes)

  /** Z-order rewrite over `cols` (multi-dimensional clustering). */
  def rewriteDataFilesZOrder(spark: SparkSession, cols: Seq[String],
      targetFileSizeBytes: Long = 512L << 20): GraftTable =
    Maintenance.rewriteDataFilesZOrder(this, spark, cols, targetFileSizeBytes)

  def rewriteDataFiles(spark: SparkSession,
      targetFileSizeBytes: Long = 512L << 20): GraftTable =
    Maintenance.rewriteDataFiles(this, spark, targetFileSizeBytes)

  /** Expire snapshots older than the timestamp, retaining ancestors. */
  def expireSnapshots(olderThanMs: Long, retainLast: Int = 1): GraftTable =
    Maintenance.expireSnapshots(this, olderThanMs, retainLast)

  /** GC data files referenced by no snapshot (returns deleted paths);
    * listing, anti-join and deletion run as Spark jobs. */
  def removeOrphanFiles(olderThanMs: Long, spark: SparkSession): Seq[String] =
    Maintenance.removeOrphanFiles(this, olderThanMs, spark)

  /** Roll back to an earlier snapshot (metadata-only). */
  def rollbackTo(snapshotId: Long): GraftTable =
    Maintenance.rollbackTo(this, snapshotId)

  /** Re-commit an append snapshot's files onto the current head
    * (write-audit-publish when fast-forward is impossible). */
  def cherrypick(snapshotId: Long): GraftTable =
    Maintenance.cherrypickSnapshot(this, snapshotId)

  /** Compact position-delete files, dropping dangling rows. */
  def rewritePositionDeletes(spark: SparkSession): GraftTable =
    Maintenance.rewritePositionDeletes(this, spark)

  /** Schema-evolution builder (metadata-only commit;
    * transaction/update_schema.rs:116-147). */
  def updateSchema(): UpdateSchema = new UpdateSchema(this)

  def updateProperties(set: Map[String, String],
      remove: Set[String] = Set.empty): GraftTable =
    Transactions.updateProperties(this, set, remove)

  def replaceSortOrder(fields: Seq[graft.spec.SortField]): GraftTable =
    Transactions.replaceSortOrder(this, fields)

  def upgradeFormatVersion(to: Int): GraftTable =
    Transactions.upgradeFormatVersion(this, to)

  def updateLocation(newLocation: String): GraftTable =
    Transactions.updateLocation(this, newLocation)

  def updateStatistics(set: Seq[graft.spec.StatisticsFile] = Nil,
      removeSnapshotIds: Set[Long] = Set.empty): GraftTable =
    Transactions.updateStatistics(this, set, removeSnapshotIds)

  def updatePartitionStatistics(set: Seq[graft.spec.PartitionStatisticsFile] = Nil,
      removeSnapshotIds: Set[Long] = Set.empty): GraftTable =
    Transactions.updatePartitionStatistics(this, set, removeSnapshotIds)

  def writePartitionStats(spark: SparkSession): GraftTable =
    Maintenance.writePartitionStats(this, spark)

  /** Row-level CDC over (from, to]: see graft.table.Changelog. */
  def changesBetween(spark: SparkSession, fromSnapshotId: Long,
      toSnapshotId: Long, netChanges: Boolean = false): DataFrame =
    Changelog.changesBetween(this, spark, fromSnapshotId, toSnapshotId, netChanges)

  def readPartitionStats(spark: SparkSession,
      snapshotId: Option[Long] = None): DataFrame =
    Maintenance.readPartitionStats(this, spark, snapshotId)

  /** Register existing parquet files without rewriting (migration path;
    * name-mapping read resolution for id-less files). */
  def addFiles(spark: SparkSession, paths: Seq[String]): GraftTable =
    AddFiles.addFiles(this, spark, paths)

  /** Partition evolution: install a new default spec; old files keep
    * their layout, scans prune per spec. */
  def updateSpec(fields: Seq[(String, Transform)]): GraftTable =
    Transactions.updateSpec(this, fields)

  /** Create/move a branch to a snapshot (defaults to current). */
  def createBranch(name: String, snapshotId: Option[Long] = None): GraftTable =
    Transactions.setRef(this, name, snapshotId.orElse(metadata.currentSnapshotId)
      .getOrElse(throw new IllegalStateException("empty table has no snapshot")), "branch")

  /** Create/move a tag pinning a snapshot (defaults to current). */
  def createTag(name: String, snapshotId: Option[Long] = None): GraftTable =
    Transactions.setRef(this, name, snapshotId.orElse(metadata.currentSnapshotId)
      .getOrElse(throw new IllegalStateException("empty table has no snapshot")), "tag")

  def removeRef(name: String): GraftTable = Transactions.removeRef(this, name)

  def refsDf(spark: SparkSession): DataFrame = {
    import spark.implicits._
    metadata.refs.toSeq.sortBy(_._1)
      .map { case (n, r) => (n, r.refType, r.snapshotId) }
      .toDF("name", "type", "snapshot_id")
  }

  def refresh(): GraftTable = GraftTable.load(name, catalog)

  /** All manifests of the current snapshot ([] if table is empty). */
  def currentManifests: Seq[ManifestFile] =
    metadata.currentSnapshot.map { snap =>
      ManifestIO.readManifestList(io, snap.manifestList, partTypes,
        graft.crypto.MetadataEncryption.listKeyFor(metadata, snap))
    }.getOrElse(Nil)

  def partTypes: Map[Int, IcebergType.StructT] =
    metadata.partitionSpecs.map { s =>
      // partition types resolve against the schema current when the spec
      // was created; current schema suffices while we only add columns
      s.specId -> s.partitionType(schema)
    }.toMap

  // ---- metadata inspect tables (inspect/metadata_table.rs:28-92;
  //      column sets mirror inspect/{snapshots,manifests,history}.rs
  //      field-for-field, pinned by MetadataTablesParitySpec) ----

  /** snapshots (inspect/snapshots.rs:47-74): committed_at, snapshot_id,
    * parent_id, operation, manifest_list, summary — plus this engine's
    * `sequence_number` extension appended LAST (deterministic handle for
    * fixtures; reference columns stay a clean prefix). */
  def snapshotsDf(spark: SparkSession): DataFrame = {
    import spark.implicits._
    metadata.snapshots.map(s => (new java.sql.Timestamp(s.timestampMs),
      s.snapshotId, s.parentSnapshotId, s.operation, s.manifestList,
      s.summary, s.sequenceNumber))
      .toDF("committed_at", "snapshot_id", "parent_id", "operation",
        "manifest_list", "summary", "sequence_number")
  }

  /** manifests (inspect/manifests.rs:46-139): the reference fills the
    * data AND delete count columns with the manifest's one count triple
    * (manifests.rs:171-182) — mirrored as-is for interop; bounds in
    * partition_summaries render as strings. */
  def manifestsDf(spark: SparkSession): DataFrame = {
    import spark.implicits._
    currentManifests.map { m =>
      val spec = metadata.specById(m.partitionSpecId).getOrElse(this.spec)
      val summaries = m.partitions.zip(spec.fields).map { case (fs, _) =>
        GraftTable.PartitionSummaryRow(fs.containsNull, fs.containsNan,
          fs.lowerBound.map(String.valueOf), fs.upperBound.map(String.valueOf))
      }
      GraftTable.ManifestRow(m.content, m.manifestPath, m.manifestLength,
        m.partitionSpecId, m.addedSnapshotId,
        m.addedFilesCount, m.existingFilesCount, m.deletedFilesCount,
        m.addedFilesCount, m.existingFilesCount, m.deletedFilesCount,
        summaries)
    }.toDF()
  }

  /** history (inspect/history.rs:55-76): snapshot-log entries with the
    * parent id resolved per snapshot and live-lineage membership. */
  def historyDf(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val currentAncestors = ancestorIds.toSet
    metadata.snapshotLog.map { case (id, ts) =>
      (new java.sql.Timestamp(ts), id,
        metadata.snapshotById(id).flatMap(_.parentSnapshotId),
        currentAncestors.contains(id))
    }.toDF("made_current_at", "snapshot_id", "parent_id", "is_current_ancestor")
  }

  /** entries metadata table (inspect/metadata_table.rs): one row per
    * manifest entry of the current snapshot, tombstones included. */
  def entriesDf(spark: SparkSession): DataFrame = {
    import spark.implicits._
    currentManifests.flatMap { m =>
      val sp = metadata.specById(m.partitionSpecId).getOrElse(spec)
      ManifestIO.readManifest(io, m.manifestPath, schema, sp, m.keyMetadata).map { e =>
        (e.status, e.snapshotId, e.sequenceNumber.getOrElse(m.sequenceNumber),
          e.dataFile.content, e.dataFile.filePath, e.dataFile.recordCount,
          e.dataFile.fileSizeInBytes)
      }
    }.toDF("status", "snapshot_id", "sequence_number", "content",
      "file_path", "record_count", "file_size_in_bytes")
  }

  /** partitions metadata table: per-partition rollup from manifests only
    * (no data read). */
  def partitionsDf(spark: SparkSession): DataFrame = {
    import spark.implicits._
    newScan().planFiles()
      .groupBy(t => (t.specId, spec.partitionPath(t.file.partition)))
      .map { case ((specId, part), ts) =>
        (part, specId, ts.map(_.file.recordCount).sum, ts.size,
          ts.map(_.file.fileSizeInBytes).sum)
      }.toSeq.sortBy(t => (t._2, t._1))
      .toDF("partition", "spec_id", "record_count", "file_count",
        "total_size_in_bytes")
  }

  def filesDf(spark: SparkSession): DataFrame = {
    import spark.implicits._
    newScan().planFiles().map { t =>
      (t.file.filePath, t.file.content, t.file.recordCount, t.file.fileSizeInBytes,
        spec.partitionPath(t.file.partition))
    }.toDF("file_path", "content", "record_count", "file_size_in_bytes", "partition")
  }

  /** delete_files inspect table (Java's delete_files — `files` lists the
    * data side): one row per alive delete file in the current snapshot. */
  def deleteFilesDf(spark: SparkSession): DataFrame = {
    import spark.implicits._
    newScan().planDeletes().map { d =>
      (d.file.filePath, d.file.content, d.file.fileFormat,
        d.file.recordCount, d.file.fileSizeInBytes, d.specId,
        d.sequenceNumber, d.file.equalityIds)
    }.toDF("file_path", "content", "file_format", "record_count",
      "file_size_in_bytes", "spec_id", "sequence_number", "equality_ids")
  }

  /** position_deletes inspect table (Java's position_deletes): the actual
    * delete ROWS across formats — parquet pos-delete files are read
    * DISTRIBUTED; DV bitmaps decode on executors (same shape as the MoR
    * read path, no positions ever materialize on the driver). */
  def positionDeletesDf(spark: SparkSession): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, input_file_name, lit}
    val deletes = newScan().planDeletes()
      .filter(_.file.content == FileContent.PositionDeletes)
    val (dvs, parquets) = deletes.partition(_.file.fileFormat == "PUFFIN")
    val empty = Seq.empty[(String, Long, String)]
      .toDF("file_path", "pos", "delete_file_path")
    val enc = graft.crypto.Encryption.confFor(metadata.properties)
    val pdf =
      if (parquets.isEmpty) empty
      else spark.read.options(enc).parquet(parquets.map(_.file.filePath): _*)
        .select(col("file_path"), col("pos"),
          input_file_name().as("delete_file_path"))
    val ddf =
      if (dvs.isEmpty) empty
      else {
        val descriptors = dvs.flatMap(d => d.file.referencedDataFile.map(ref =>
          (d.file.filePath, d.file.contentOffset.getOrElse(0L),
            d.file.contentSizeInBytes.getOrElse(0L), ref)))
        spark.sparkContext
          .parallelize(descriptors, math.max(1, math.min(descriptors.size, 64)))
          .flatMap { case (puffin, offset, len, ref) =>
            val io = graft.io.FileIO.local()
            val meta = graft.puffin.Puffin.BlobMetadata(
              graft.puffin.Puffin.DeletionVectorV1, Nil, 0L, 0L, offset, len,
              Map.empty)
            graft.puffin.Puffin.dvDeserialize(
              graft.puffin.Puffin.readBlob(io, puffin, meta))
              .iterator.map(pos => (ref, pos, puffin))
          }.toDF("file_path", "pos", "delete_file_path")
      }
    pdf.union(ddf)
  }

  /** all_manifests: every manifest reachable from ANY snapshot (Iceberg's
    * all_manifests inspect table) — one row per (manifest, snapshot). */
  def allManifestsDf(spark: SparkSession): DataFrame = {
    import spark.implicits._
    metadata.snapshots.flatMap { s =>
      ManifestIO.readManifestList(io, s.manifestList, partTypes,
          graft.crypto.MetadataEncryption.listKeyFor(metadata, s))
        .map(m => (s.snapshotId, m.manifestPath, m.manifestLength, m.content,
          m.partitionSpecId, m.addedFilesCount, m.existingFilesCount,
          m.deletedFilesCount))
    }.toDF("reference_snapshot_id", "path", "length", "content",
      "partition_spec_id", "added_data_files_count",
      "existing_data_files_count", "deleted_data_files_count")
  }

  /** all_files: every data/delete file referenced by any snapshot,
    * deduplicated by path (all_files inspect table). */
  def allFilesDf(spark: SparkSession): DataFrame = {
    import spark.implicits._
    metadata.snapshots.flatMap { s =>
      ManifestIO.readManifestList(io, s.manifestList, partTypes,
          graft.crypto.MetadataEncryption.listKeyFor(metadata, s)).flatMap { m =>
        val sp = metadata.specById(m.partitionSpecId).getOrElse(spec)
        ManifestIO.readManifest(io, m.manifestPath, schema, sp, m.keyMetadata)
          .filter(_.isAlive)
          .map(e => (e.dataFile.filePath, e.dataFile.content,
            e.dataFile.recordCount, e.dataFile.fileSizeInBytes))
      }
    }.distinct
      .toDF("file_path", "content", "record_count", "file_size_in_bytes")
  }

  /** all_entries: manifest entries of every snapshot's manifest list,
    * tombstones included, tagged with the referencing snapshot. */
  def allEntriesDf(spark: SparkSession): DataFrame = {
    import spark.implicits._
    metadata.snapshots.flatMap { s =>
      ManifestIO.readManifestList(io, s.manifestList, partTypes,
          graft.crypto.MetadataEncryption.listKeyFor(metadata, s)).flatMap { m =>
        val sp = metadata.specById(m.partitionSpecId).getOrElse(spec)
        ManifestIO.readManifest(io, m.manifestPath, schema, sp, m.keyMetadata).map { e =>
          (s.snapshotId, e.status, e.snapshotId,
            e.sequenceNumber.getOrElse(m.sequenceNumber),
            e.dataFile.content, e.dataFile.filePath, e.dataFile.recordCount)
        }
      }
    }.toDF("reference_snapshot_id", "status", "snapshot_id",
      "sequence_number", "content", "file_path", "record_count")
  }

  /** metadata_log_entries metadata table (table_metadata.rs metadata_log):
    * every metadata.json generation plus the live one, with the snapshot
    * that was current when each was written. The log is O(commits) and
    * each file is KB-scale JSON, so the driver-side reads are bounded. */
  def metadataLogEntriesDf(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val current = s"$location/metadata/v$version.metadata.json"
    val entries = metadata.metadataLog :+ (current, metadata.lastUpdatedMs)
    entries.map { case (file, ts) =>
      val snapId =
        if (file == current) metadata.currentSnapshotId
        else scala.util.Try(
          TableMetadata.fromJsonString(io.readString(file)).currentSnapshotId)
          .toOption.flatten
      (new java.sql.Timestamp(ts), file, snapId)
    }.toDF("timestamp", "file", "latest_snapshot_id")
  }

  private def ancestorIds: Seq[Long] = {
    val byId = metadata.snapshots.map(s => s.snapshotId -> s).toMap
    Iterator.iterate(metadata.currentSnapshot)(s => s.flatMap(_.parentSnapshotId).flatMap(byId.get))
      .takeWhile(_.isDefined).flatten.map(_.snapshotId).toSeq
  }
}

object GraftTable {

  /** manifests-table row shapes (inspect/manifests.rs:46-139 column
    * names/types — field names ARE the column names via the encoder). */
  final case class PartitionSummaryRow(contains_null: Boolean,
      contains_nan: Option[Boolean], lower_bound: Option[String],
      upper_bound: Option[String])
  final case class ManifestRow(content: Int, path: String, length: Long,
      partition_spec_id: Int, added_snapshot_id: Long,
      added_data_files_count: Int, existing_data_files_count: Int,
      deleted_data_files_count: Int, added_delete_files_count: Int,
      existing_delete_files_count: Int, deleted_delete_files_count: Int,
      partition_summaries: Seq[PartitionSummaryRow])
  def load(name: String, catalog: Catalog): GraftTable = {
    val (md, v) = catalog.loadTable(name)
    new GraftTable(name, md, v, catalog)
  }

  def create(name: String, catalog: Catalog, schema: IcebergSchema,
      spec: PartitionSpec = PartitionSpec.unpartitioned,
      properties: Map[String, String] = Map.empty): GraftTable = {
    catalog.createTable(name, schema, spec, properties)
    load(name, catalog)
  }

  /** Greedy row-group packing into ~target-sized (start, length) read
    * ranges — the one split rule of local and distributed planning,
    * `planSplits` and the streaming reader, so all produce byte-identical
    * splits. */
  def splitRanges(size: Long, offsets: Seq[Long], target: Long = 128L << 20)
      : Seq[(Long, Long)] =
    if (offsets.size <= 1 || size <= target) Seq((0L, size))
    else {
      val bounds = offsets :+ size
      val ranges = Seq.newBuilder[(Long, Long)]
      var start = bounds.head
      var i = 1
      while (i < bounds.size) {
        if (bounds(i) - start >= target || i == bounds.size - 1) {
          ranges += ((start, bounds(i) - start))
          start = bounds(i)
        }
        i += 1
      }
      ranges.result()
    }
}

/** Unit of scan work (scan/task.rs:55-130). */
final case class FileScanTask(
    file: DataFile,
    specId: Int,
    sequenceNumber: Long)

object FileScanTask {
  /** The task for entry `e` of manifest `m` (sequence number inherited
    * from the manifest when the entry carries none). */
  def of(m: ManifestFile, e: ManifestEntry): FileScanTask =
    FileScanTask(e.dataFile, m.partitionSpecId, e.sequenceNumber.getOrElse(m.sequenceNumber))
}

/** Driver-compact planning result: exactly what execution needs, WITHOUT
  * the per-file stats maps (bounds/value-counts/column-sizes) that
  * dominate task size. At ~200k planned files the full `DataFile` stats
  * put GBs on the driver; this caps the footprint at ~100 bytes + the
  * partition tuple per file. Everything pruning-derived (missing-default
  * names, null counts for the projected columns, row-group split ranges)
  * is pre-reduced where the stats still exist — on the executor in
  * distributed planning, inline in local planning. */
final case class CompactFileTask(
    filePath: String,
    fileSize: Long,
    recordCount: Long,
    specId: Int,
    sequenceNumber: Long,
    partition: Seq[Any],
    sortOrderId: Option[Int],
    missingDefaults: Seq[String],
    splitRanges: Seq[(Long, Long)],
    nullCounts: Map[Int, Long],
    firstRowId: Option[Long] = None)

/** A delete file in scope for the scanned snapshot (DeleteFileIndex entry,
  * delete_file_index.rs:37). */
final case class DeleteTask(
    file: DataFile,
    sequenceNumber: Long,
    /** Partition spec the delete file was written under — scopes
      * equality deletes to their partition (delete_file_index.rs). */
    specId: Int = -1)

/** Append-only incremental scan over (from, to] — see
  * TableScan.appendsBetween. */
final class IncrementalScan private[table] (
    table: GraftTable, toSnapshotId: Long, rangeIds: Set[Long]) {

  private val scan = table.newScan()

  def planFiles(): Seq[FileScanTask] =
    scan.dataEntries(table.metadata.snapshotById(toSnapshotId).get).collect {
      case (m, e) if e.status == ManifestStatus.Added &&
          e.snapshotId.exists(rangeIds.contains) => FileScanTask.of(m, e)
    }

  /** The added rows as the table's reader serves them (field ids or name
    * mapping, v3 defaults); later deletes are not applied — the window
    * holds only appends. */
  def toDF(spark: SparkSession): DataFrame =
    scan.readTasks(spark, planFiles(), applyDeletes = false)
}

/** Byte-range slice of a FileScanTask (scan/task.rs:60-62 start/length):
  * the distribution unit a cluster scheduler hands to one reader. Splits
  * land on parquet row-group boundaries (split_offsets). */
final case class FileSplit(task: FileScanTask, start: Long, length: Long)

/** Per-stage planning counters (arrow/scan_metrics.rs:54-72). */
final case class ScanMetrics(
    totalDataManifests: Int,
    skippedManifests: Int,
    entriesConsidered: Long,
    skippedByPartition: Long,
    skippedByMetrics: Long,
    resultFiles: Int)

/** Process-global accumulator of planning counters (VERDICT r14 item 6):
  * every [[TableScan.planWithMetrics]] / [[TableScan
  * .planCompactDistributed]] call reports its [[ScanMetrics]] here, so a
  * harness that brackets a query (reset → run → snapshot) sees the file
  * counts its scans actually planned. This is what lets a PRUNE
  * regression self-attribute in bench telemetry: the r14 band-probe
  * defect (2512 of 4096 files planned instead of 248) moved no task-cpu
  * anomaly a human would flag, but a files_planned counter jumping 10×
  * at constant result rows is unmissable. Driver-side only (planning
  * never runs on executors except the distributed path, which carries
  * its counters back through accumulators before recording). */
object ScanMetricsSink {
  private val scans = new java.util.concurrent.atomic.AtomicLong
  private val manifestsTotal = new java.util.concurrent.atomic.AtomicLong
  private val manifestsSkipped = new java.util.concurrent.atomic.AtomicLong
  private val entries = new java.util.concurrent.atomic.AtomicLong
  private val byPartition = new java.util.concurrent.atomic.AtomicLong
  private val byMetrics = new java.util.concurrent.atomic.AtomicLong
  private val files = new java.util.concurrent.atomic.AtomicLong

  private[table] def record(m: ScanMetrics): Unit = {
    scans.incrementAndGet()
    manifestsTotal.addAndGet(m.totalDataManifests.toLong)
    manifestsSkipped.addAndGet(m.skippedManifests.toLong)
    entries.addAndGet(m.entriesConsidered)
    byPartition.addAndGet(m.skippedByPartition)
    byMetrics.addAndGet(m.skippedByMetrics)
    files.addAndGet(m.resultFiles.toLong)
  }

  def reset(): Unit = {
    scans.set(0); manifestsTotal.set(0); manifestsSkipped.set(0)
    entries.set(0); byPartition.set(0); byMetrics.set(0); files.set(0)
  }

  /** (scans, manifests total, manifests skipped, entries considered,
    * skipped by partition, skipped by metrics, files planned). */
  def snapshot(): (Long, Long, Long, Long, Long, Long, Long) =
    (scans.get(), manifestsTotal.get(), manifestsSkipped.get(),
      entries.get(), byPartition.get(), byMetrics.get(), files.get())
}

/** Snapshot-scoped scan with pruning pipeline (scan/mod.rs:381-498):
  * manifest list → [ManifestEvaluator on partition summaries] → entries →
  * [ExpressionEvaluator on exact partition values] →
  * [InclusiveMetricsEvaluator on column stats] → FileScanTasks →
  * `spark.read.parquet` + residual Catalyst filter.
  *
  * Planning walks metadata driver-side (manifests are KB-scale Avro);
  * the data itself never touches the driver — at 100 TB the executors do
  * all data IO, and file-level parallelism comes from the planned file
  * list feeding Spark's split generation.
  */
final class TableScan private[table] (
    table: GraftTable,
    filter: Predicate = AlwaysTrue,
    selected: Seq[String] = Nil,
    snapshotId: Option[Long] = None,
    limitRows: Option[Long] = None,
    metaCols: Boolean = false,
    deletedCol: Boolean = false) {

  private val DeletedCol = "_deleted"

  def withFilter(p: Predicate): TableScan =
    new TableScan(table, Predicate.bind(p, table.schema), selected, snapshotId, limitRows, metaCols, deletedCol)

  def select(cols: String*): TableScan =
    new TableScan(table, filter, cols.toSeq, snapshotId, limitRows, metaCols, deletedCol)

  def useSnapshot(id: Long): TableScan =
    new TableScan(table, filter, selected, Some(id), limitRows, metaCols, deletedCol)

  /** Scan a named branch/tag (ref-scoped read, scan/mod.rs ref support). */
  def useRef(name: String): TableScan = {
    val ref = table.metadata.refs.getOrElse(name,
      throw new IllegalArgumentException(s"no such ref: $name"))
    useSnapshot(ref.snapshotId)
  }

  /** Incremental append scan: only rows ADDED by snapshots in
    * (fromSnapshotId, toSnapshotId] (the reference's incremental scan /
    * CDC-append surface). Planning walks the ancestor chain and keeps
    * manifest entries whose committing snapshot falls in the range —
    * delete/replace snapshots in range are rejected (an append-only
    * changelog can't represent them). */
  def appendsBetween(fromSnapshotId: Long, toSnapshotId: Long): IncrementalScan =
    appendsBetween(fromSnapshotId, toSnapshotId, skipNonAppend = false)

  /** As above; `skipNonAppend = true` silently excludes delete/replace
    * snapshots in range instead of failing (the streaming-read
    * `streaming-skip-delete-snapshots` contract: their row-level changes
    * are not representable in an append-only changelog). */
  def appendsBetween(fromSnapshotId: Long, toSnapshotId: Long,
      skipNonAppend: Boolean): IncrementalScan = {
    val byId = table.metadata.snapshots.map(s => s.snapshotId -> s).toMap
    val to = byId.getOrElse(toSnapshotId,
      throw new IllegalArgumentException(s"snapshot $toSnapshotId not found"))
    // full ancestor chain to → root; the start snapshot must actually sit
    // on it — after a rollback or branch switch it does not, and silently
    // walking to the root would serve the FULL table as an "increment"
    val chain = Iterator.iterate(Option(to))(
        _.flatMap(_.parentSnapshotId).flatMap(byId.get))
      .takeWhile(_.isDefined).flatten.toSeq
    // -1 is the explicit "from the beginning" sentinel (streaming initial
    // offset); any real id must actually sit on the ancestor chain
    val fromIdx =
      if (fromSnapshotId == -1L) chain.length
      else chain.indexWhere(_.snapshotId == fromSnapshotId)
    if (fromIdx < 0)
      throw new IllegalArgumentException(
        s"snapshot $fromSnapshotId is not an ancestor of $toSnapshotId — " +
          "incremental scan window undefined (rollback or branch switch?)")
    val rangeIds = chain.take(fromIdx).flatMap { s =>
      if (s.operation == "append") Some(s.snapshotId)
      else if (skipNonAppend) None
      else throw new IllegalArgumentException(
        s"snapshot ${s.snapshotId} is '${s.operation}', not append — " +
          "incremental append scan undefined")
    }.toSet
    new IncrementalScan(table, toSnapshotId, rangeIds)
  }

  /** Limit pushdown (scan/mod.rs TableScanBuilder::with_limit): caps the
    * result AND, for unfiltered scans with no deletes, short-circuits
    * file planning once manifest record counts cover the limit. */
  def limit(n: Long): TableScan =
    new TableScan(table, filter, selected, snapshotId, Some(n), metaCols, deletedCol)

  /** Surface the reserved metadata columns (metadata_columns.rs:33-90):
    * `_file` (source file path), `_pos` (row position in file), `_spec_id`
    * (partition spec of the file), `_partition` (the file's partition
    * tuple in the struct unified across all of the table's specs —
    * partitioning.rs; null where the file's spec lacks a field) and the
    * v3 lineage pair `_row_id` / `_last_updated_sequence_number`. */
  def withMetadataColumns(): TableScan =
    new TableScan(table, filter, selected, snapshotId, limitRows, metaCols = true,
      deletedCol)

  /** The scan's rows with ONLY the v3 lineage pair appended
    * (materialized-wins resolution) — the frame a lineage-preserving
    * rewrite re-emits (Maintenance compaction, RowOps CoW). */
  def toLineageDF(spark: SparkSession): DataFrame =
    lineageSelect(withMetadataColumns().toDF(spark))

  private[table] def readTasksLineage(spark: SparkSession,
      tasks: Seq[FileScanTask]): DataFrame =
    lineageSelect(withMetadataColumns().readTasks(spark, tasks))

  private def lineageSelect(df: DataFrame): DataFrame =
    df.select(table.schema.fields.map(f => col(f.name)) ++ Seq(
      col(graft.spec.RowLineage.RowIdName),
      col(graft.spec.RowLineage.LastUpdatedName)): _*)

  /** Also serve `_deleted` (metadata_columns.rs:38,75 — reserved id
    * i32.MAX-3): the scan then SERVES MoR-deleted rows with a boolean
    * marker instead of filtering them — position deletes, deletion
    * vectors and equality deletes all mark. The V1-path twin of the
    * native reader's projected-`_deleted` behavior (explicit here
    * because this path cannot see the downstream projection). */
  def withDeletedColumn(): TableScan =
    new TableScan(table, filter, selected, snapshotId, limitRows, metaCols = true,
      deletedCol = true)

  private def snapshot: Option[Snapshot] =
    snapshotId.map(id => table.metadata.snapshotById(id).getOrElse(
      throw new IllegalArgumentException(s"snapshot $id not found")))
      .orElse(table.metadata.currentSnapshot)

  /** Per-spec partition-space filter (PartitionFilterCache, scan/cache.rs:31). */
  private lazy val partitionFilters: Map[Int, Predicate] =
    table.metadata.partitionSpecs.map { s =>
      s.specId -> InclusiveProjection.project(filter, table.schema, s)
    }.toMap

  private def cacheKey(path: String): String =
    s"$path#${table.schema.schemaId}"

  private def readListCached(snap: graft.spec.Snapshot): Seq[ManifestFile] =
    ManifestCache.manifestList(cacheKey(snap.manifestList)) {
      ManifestIO.readManifestList(table.io, snap.manifestList, table.partTypes,
        graft.crypto.MetadataEncryption.listKeyFor(table.metadata, snap))
    }

  private def readManifestCached(m: ManifestFile, spec: PartitionSpec): Seq[ManifestEntry] =
    ManifestCache.manifest(cacheKey(m.manifestPath)) {
      ManifestIO.readManifest(table.io, m.manifestPath, table.schema, spec,
        m.keyMetadata)
    }

  /** Every data-manifest entry of `snap`'s OWN manifest list, live or
    * not, with its manifest — read through the scan's caches. */
  private[table] def dataEntries(snap: Snapshot): Seq[(ManifestFile, ManifestEntry)] =
    readListCached(snap).filter(_.content == ManifestContent.Data).flatMap { m =>
      readManifestCached(m, table.metadata.specById(m.partitionSpecId).getOrElse(table.spec))
        .map(m -> _)
    }

  def planFiles(): Seq[FileScanTask] = planWithMetrics()._1

  /** planFiles + per-stage pruning counters (the reference's ScanMetrics,
    * arrow/scan_metrics.rs:54-72). */
  def planWithMetrics(): (Seq[FileScanTask], ScanMetrics) = {
    val snap = snapshot.getOrElse(return (Nil, ScanMetrics(0, 0, 0L, 0L, 0L, 0)))
    val manifests = readListCached(snap)

    val dataManifests = manifests.filter(_.content == ManifestContent.Data)
    val survivors = dataManifests.filter { m =>
      val spec = table.metadata.specById(m.partitionSpecId).getOrElse(table.spec)
      ManifestEvaluator.manifestMightMatch(
        partitionFilters(m.partitionSpecId), m.partitions, spec, table.schema)
    }
    val byPartition = new java.util.concurrent.atomic.AtomicLong()
    val byMetrics = new java.util.concurrent.atomic.AtomicLong()
    val entriesSeen = new java.util.concurrent.atomic.AtomicLong()

    // manifests are independent KB-scale Avro files: read them in
    // parallel (the reference pipelines this across io/cpu pools,
    // scan/mod.rs:381-498; a 100 TB snapshot has thousands of manifests
    // and a sequential driver loop would dominate planning latency)
    val tasks = parallelFlatMap(survivors) { m =>
      val spec = table.metadata.specById(m.partitionSpecId).getOrElse(table.spec)
      val partFilter = partitionFilters(m.partitionSpecId)
      readManifestCached(m, spec)
        .filter(_.isAlive)
        .filter { e =>
          entriesSeen.incrementAndGet()
          val ok = ExpressionEvaluator.partitionMatches(
            partFilter, e.dataFile.partition, spec, table.schema)
          if (!ok) byPartition.incrementAndGet()
          ok
        }
        .filter { e =>
          val ok = InclusiveMetricsEvaluator.fileMightMatch(filter, e.dataFile, table.schema)
          if (!ok) byMetrics.incrementAndGet()
          ok
        }
        .map(FileScanTask.of(m, _))
    }
    val metrics = ScanMetrics(
      totalDataManifests = dataManifests.size,
      skippedManifests = dataManifests.size - survivors.size,
      entriesConsidered = entriesSeen.get(),
      skippedByPartition = byPartition.get(),
      skippedByMetrics = byMetrics.get(),
      resultFiles = tasks.size)
    ScanMetricsSink.record(metrics)
    (tasks, metrics)
  }

  private def parallelFlatMap[A, B](items: Seq[A])(f: A => Seq[B]): Seq[B] =
    if (items.size <= 1) items.flatMap(f)
    else {
      import scala.concurrent.{Await, Future, ExecutionContext}
      import scala.concurrent.duration.Duration
      implicit val ec: ExecutionContext = ExecutionContext.global
      Await.result(Future.sequence(items.map(i => Future(f(i)))), Duration.Inf)
        .flatten
    }

  /** Upper bound on live data-file entries in this snapshot, from the
    * manifest-list counters alone (one cached KB-scale read) — the
    * auto-mode trigger for distributed planning. */
  def estimatedDataEntries: Long =
    snapshot.map { snap =>
      readListCached(snap)
        .filter(_.content == ManifestContent.Data)
        .map(m => m.addedFilesCount.toLong + m.existingFilesCount.toLong).sum
    }.getOrElse(0L)

  /** DISTRIBUTED planning: the same manifest → entry pruning pipeline as
    * `planWithMetrics`, run as a Spark job over the manifest files — the
    * reference streams tasks through bounded channels so planning memory
    * never scales with snapshot size (scan/mod.rs:381-498); here the
    * manifest fan-out IS the parallelism and the driver only collects
    * pre-reduced [[CompactFileTask]] descriptors (~100 bytes/file instead
    * of the multi-KB stats maps). At 200k files that is the difference
    * between ~20 MB and GBs of driver heap.
    *
    * The executors apply the IDENTICAL evaluator code
    * (ExpressionEvaluator / InclusiveMetricsEvaluator) per entry, so
    * pruning decisions are equal to the local planner by construction —
    * asserted by PlanningSpec. The manifest LIST is still read on the
    * driver (one small Avro file) because ManifestEvaluator pruning needs
    * it anyway to build the job's input.
    *
    * `projectedFieldIds` bounds the null-count stats carried back;
    * `defaulted` is (field id, name) of v3 initial-default columns so the
    * per-file missing-default set is decided where the stats still exist. */
  def planCompactDistributed(spark: org.apache.spark.sql.SparkSession,
      projectedFieldIds: Set[Int],
      defaulted: Seq[(Int, String)],
      targetSplitSize: Long = 128L << 20): (Seq[CompactFileTask], ScanMetrics) = {
    val snap = snapshot.getOrElse(return (Nil, ScanMetrics(0, 0, 0L, 0L, 0L, 0)))
    val manifests = readListCached(snap)
    val dataManifests = manifests.filter(_.content == ManifestContent.Data)
    val survivors = dataManifests.filter { m =>
      val spec = table.metadata.specById(m.partitionSpecId).getOrElse(table.spec)
      ManifestEvaluator.manifestMightMatch(
        partitionFilters(m.partitionSpecId), m.partitions, spec, table.schema)
    }
    val emptyMetrics = ScanMetrics(dataManifests.size,
      dataManifests.size - survivors.size, 0L, 0L, 0L, 0)
    if (survivors.isEmpty) return (Nil, emptyMetrics)

    // capture ONLY serializable locals (GraftTable holds a live hadoop
    // Configuration via FileIO; executors rebuild their own from the
    // broadcast conf — the AppendWriter footer-harvest pattern)
    val schema = table.schema
    val filter0 = filter
    val partFilters = partitionFilters
    val specById = table.metadata.partitionSpecs.map(s => s.specId -> s).toMap
    val defaultSpec = table.spec
    val conf = new org.apache.spark.util.SerializableConfiguration(table.io.conf)
    val entriesSeen = spark.sparkContext.longAccumulator("graft.plan.entries")
    val byPartition = spark.sparkContext.longAccumulator("graft.plan.skippedByPartition")
    val byMetrics = spark.sparkContext.longAccumulator("graft.plan.skippedByMetrics")

    val descs = survivors.map(m =>
      (m.manifestPath, m.partitionSpecId, m.sequenceNumber,
        m.keyMetadata.orNull))
    val parallelism = math.max(1,
      math.min(descs.size, spark.sparkContext.defaultParallelism * 2))
    val tasks = spark.sparkContext.parallelize(descs, parallelism)
      .flatMap { case (mpath, specId, mseq, keyMeta) =>
        val io = new graft.io.FileIO(conf.value)
        val spec = specById.getOrElse(specId, defaultSpec)
        val pf = partFilters.getOrElse(specId, filter0)
        ManifestIO.readManifest(io, mpath, schema, spec, Option(keyMeta))
          .filter(_.isAlive)
          .filter { e =>
            entriesSeen.add(1L)
            val ok = ExpressionEvaluator.partitionMatches(
              pf, e.dataFile.partition, spec, schema)
            if (!ok) byPartition.add(1L)
            ok
          }
          .filter { e =>
            val ok = InclusiveMetricsEvaluator.fileMightMatch(filter0, e.dataFile, schema)
            if (!ok) byMetrics.add(1L)
            ok
          }
          .map { e =>
            val f = e.dataFile
            CompactFileTask(f.filePath, f.fileSizeInBytes, f.recordCount,
              specId, e.sequenceNumber.getOrElse(mseq), f.partition,
              f.sortOrderId, defaulted.collect { case (id, n) if f.lacksColumn(id) => n },
              GraftTable.splitRanges(f.fileSizeInBytes, f.splitOffsets, targetSplitSize),
              f.nullValueCounts.filter(kv => projectedFieldIds(kv._1)),
              f.firstRowId)
          }
      }.collect().toSeq
    val metrics = emptyMetrics.copy(
      entriesConsidered = entriesSeen.value,
      skippedByPartition = byPartition.value,
      skippedByMetrics = byMetrics.value,
      resultFiles = tasks.size)
    ScanMetricsSink.record(metrics)
    (tasks, metrics)
  }

  /** Alive delete files in scope for this snapshot. At 100 TB the delete
    * manifests are read once per scan; the delete files themselves load
    * on the executors, inside the scan tasks ([[DeleteFilter]]), never on
    * the driver. */
  def planDeletes(): Seq[DeleteTask] = {
    val snap = snapshot.getOrElse(return Nil)
    val deleteManifests = readListCached(snap)
      .filter(_.content == ManifestContent.Deletes)
    parallelFlatMap(deleteManifests) { m =>
      val spec = table.metadata.specById(m.partitionSpecId).getOrElse(table.spec)
      readManifestCached(m, spec)
        .filter(_.isAlive)
        .map(e => DeleteTask(e.dataFile, e.sequenceNumber.getOrElse(m.sequenceNumber),
          m.partitionSpecId))
    }
  }

  /** Planned file count with vs without pruning — for tests/metrics. */
  def planSummary(): (Int, Int) = {
    val all = snapshot.map { snap =>
      readListCached(snap)
        .filter(_.content == ManifestContent.Data)
        .map(m => m.addedFilesCount + m.existingFilesCount).sum
    }.getOrElse(0)
    (planFiles().size, all)
  }

  /** Byte-range split planning over the pruned file set: each file is
    * sliced at row-group boundaries into ~targetSplitSize chunks. Spark's
    * own scan does equivalent splitting via files.maxPartitionBytes when
    * toDF delegates to the parquet source; this surface exists for
    * schedulers that consume FileScanTasks directly (scan/task.rs
    * semantics) and to verify split math against footer offsets. */
  def planSplits(targetSplitSize: Long = 128L << 20): Seq[FileSplit] =
    planFiles().flatMap { t =>
      GraftTable.splitRanges(t.file.fileSizeInBytes, t.file.splitOffsets, targetSplitSize)
        .map { case (start, len) => FileSplit(t, start, len) }
    }

  /** planFiles truncated to the first files covering `limitRows` —
    * sound only when every planned row qualifies (no filter; deletes
    * still applied downstream but would under-fill, so skip then). */
  private def planWithLimit(): Seq[FileScanTask] = {
    val tasks = planFiles()
    limitRows match {
      case Some(n) if filter == AlwaysTrue && planDeletes().isEmpty =>
        var acc = 0L
        tasks.takeWhile { t =>
          val need = acc < n
          acc += t.file.recordCount
          need
        }
      case _ => tasks
    }
  }

  /** Read a specific task subset with MoR deletes applied but no residual
    * filter/projection — the CoW rewrite path (RowOps) uses this to
    * re-emit surviving rows of only the touched files. With
    * `applyDeletes = false` the files' rows are served as written (the
    * incremental and changelog inserts: the rows a snapshot added). */
  private[table] def readTasks(spark: SparkSession, tasks: Seq[FileScanTask],
      applyDeletes: Boolean = true): DataFrame = dfForTasks(spark, tasks, applyDeletes)

  def toDF(spark: SparkSession): DataFrame = {
    val tasks = planWithLimit()
    val withMeta = dfForTasks(spark, tasks, applyDeletes = true)
    val filtered = filter match {
      case AlwaysTrue => withMeta
      case p => withMeta.filter(Predicate.toColumn(p, table.schema))
    }
    val projected =
      if (selected.isEmpty) filtered else filtered.select(selected.map(col): _*)
    limitRows.map(n => projected.limit(n.toInt)).getOrElse(projected)
  }

  /** Timestamp backing `_metadata.file_modification_time` for the
    * explicit-file relation (ADVICE r15): the scan's snapshot commit
    * time — a served file is at most as new as the snapshot that added
    * it. The fabricated epoch-0 this replaces was a silent wrong answer
    * for any user projecting that column. */
  private def scanMtimeMs: Long =
    table.metadata.currentSnapshot.map(_.timestampMs)
      .getOrElse(table.metadata.lastUpdatedMs)

  private def dfForTasks(spark: SparkSession, tasks: Seq[FileScanTask],
      applyDeletes: Boolean): DataFrame = {
    val sparkSchema = table.schema.toSpark
    if (tasks.isEmpty) {
      val empty = spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], sparkSchema)
      return if (deletedCol) empty.withColumn(DeletedCol, lit(false)) else empty
    }
    // id-based projection (pipeline.rs:160-168) via a conf-carrying session
    // clone — the caller's session conf is never mutated, so concurrent
    // queries can't observe scan settings (graft.SessionConf). Encrypted
    // tables add their PME decryption entries as per-relation options.
    val reader = graft.SessionConf.scanSession(spark)
    val encConf = graft.crypto.Encryption.confFor(table.metadata.properties)
    // name-mapping read path (spec/name_mapping): legacy files carry no
    // embedded field ids, so every field (nested included) is read under
    // its physical alias with field-id metadata stripped — with ids
    // present Spark NULL-FILLS id-less files (ignoreMissing) instead of
    // name-matching — and cast back to its canonical name (the cast
    // renames nested struct fields positionally)
    val physical =
      if (!table.metadata.properties.get("graft.read.use-name-mapping").contains("true")) None
      else NameMapping.fromTable(table.metadata).map(_.physicalSchema(table.schema))
    // lineage-requesting reads also ask for the MATERIALIZED reserved
    // columns (RowLineage): files written by compaction carry per-row
    // lineage; field-id projection null-fills files without them
    val lineageRead = metaCols && physical.isEmpty
    val readSchema = physical.getOrElse(
      if (lineageRead) StructType(sparkSchema.fields ++ RowLineage.sparkFields)
      else sparkSchema)
    // v3 initial-defaults: files written BEFORE a defaulted field existed
    // serve the default, not null (the per-file rule of
    // DataFile.lacksColumn)
    val missing = table.schema.fields.filter(f =>
      f.initialDefault.isDefined && tasks.exists(_.file.lacksColumn(f.id)))
    // explicit-file relation: paths AND sizes come from the manifests, so
    // the read skips InMemoryFileIndex's listing pass entirely (one stat
    // per file — a task-per-path Spark job at high file counts; r15-opt).
    // Paths FS-QUALIFIED (file:///…): `_metadata.file_path` renders the
    // status path verbatim and position deletes compare against it.
    // Distinct by path: one physical file may back several tasks.
    val files = tasks.distinctBy(_.file.filePath)
    val consts = new FileConstants(missing)
    val raw = org.apache.spark.sql.GraftFileRelationBridge.parquetOverFiles(reader,
      files.map(t => (table.io.qualify(t.file.filePath), t.file.fileSizeInBytes)),
      readSchema, encConf ++ graft.SessionConf.HadoopIoConf, scanMtimeMs,
      consts.fields, files.map(consts.valuesOf))
    // each data column as served: the physical alias cast back on
    // name-mapped reads, the initial default for files written without it
    val alias: Map[String, String] = table.schema.fields.map(_.name)
      .zip(readSchema.fieldNames).toMap
    val served: Map[String, Column] =
      table.schema.fields.zip(sparkSchema.fields).map { case (f, sf) =>
        val read =
          if (physical.isDefined) col(alias(f.name)).cast(sf.dataType) else col(f.name)
        f.name -> (if (missing.contains(f))
          when(consts.col(FileConstants.missingFlag(f)), defaultLiteral(f)).otherwise(read)
        else read)
      }.toMap
    // deletes read `_metadata` and the equality keys as served, so they
    // are evaluated on the relation itself
    val deleted =
      if (!applyDeletes) None
      else deletedRows(spark, tasks, planDeletes(), col("_metadata.file_path"),
        col("_metadata.row_index")).map(_(served))
    val kept = if (deletedCol) raw else deleted.fold(raw)(d => raw.filter(!d))
    if (!metaCols && physical.isEmpty && missing.isEmpty) return kept

    val dataCols = table.schema.fields.map(f =>
      if (physical.isDefined || missing.contains(f)) served(f.name).as(f.name)
      else served(f.name))
    // reserved metadata columns (metadata_columns.rs:33-90): `_file` and
    // `_pos` from Spark's parquet `_metadata` (the reference's virtual
    // RowNumber column, pipeline.rs:221-245); `_spec_id`, the unified
    // `_partition` tuple and the v3 lineage pair (materialized wins, else
    // first_row_id + position inheritance and the file's data sequence
    // number) from the per-file constants
    def lineage(name: String, inherited: Column): Column =
      (if (lineageRead) coalesce(col(name), inherited) else inherited).as(name)
    val metaColumns =
      if (!metaCols) Nil
      else Seq(
        lineage(RowLineage.RowIdName,
          consts.col(FileConstants.FirstRowId) + col("_metadata.row_index")),
        lineage(RowLineage.LastUpdatedName, consts.col(FileConstants.DataSeq))) ++
        (if (deletedCol) Seq(deleted.getOrElse(lit(false)).as(DeletedCol)) else Nil) ++
        Seq(col("_metadata.file_path").as("_file"),
          col("_metadata.row_index").as("_pos"),
          consts.col(FileConstants.SpecId).as("_spec_id"),
          struct(consts.unifiedPartition.fields.indices.map(i =>
            consts.col(FileConstants.part(i)).as(consts.unifiedPartition(i).name)): _*)
            .as("_partition"))
    kept.select(dataCols ++ metaColumns: _*)
  }

  /** Spark literal for a field's initial-default. */
  private def defaultLiteral(f: NestedField): Column =
    SingleValue.toSparkLiteral(f.fieldType, f.initialDefault.get)

  /** The per-file values a V1 read projects, served as file-constant
    * `_metadata` fields of the explicit-file relation — the reference adds
    * them per batch in RecordBatchTransformer. Declared only when the
    * read needs them, so a plain read's plan is unchanged: spec id,
    * first_row_id, data sequence number and the unified partition tuple
    * (one field per partition field: Spark refuses struct-typed
    * constants) when metadata columns are requested, plus one flag per
    * defaulted field in `missing`. Values are Catalyst-internal. */
  private final class FileConstants(missing: Seq[NestedField]) {
    import FileConstants._
    import org.apache.spark.sql.types.{BooleanType, IntegerType, LongType}

    lazy val unifiedPartition: StructType =
      PartitionSpec.unifiedPartitionSchema(table.metadata.partitionSpecs, table.schema)
    private lazy val unifiedType =
      PartitionSpec.unifiedPartitionType(table.metadata.partitionSpecs, table.schema)

    val fields: Seq[StructField] =
      (if (!metaCols) Nil
      else Seq(constant(SpecId, IntegerType, nullable = false),
        constant(FirstRowId, LongType, nullable = true),
        constant(DataSeq, LongType, nullable = false)) ++
        unifiedPartition.fields.indices.map(i =>
          constant(part(i), unifiedPartition(i).dataType, nullable = true))) ++
        missing.map(f => constant(missingFlag(f), BooleanType, nullable = false))

    def valuesOf(t: FileScanTask): Map[String, Any] =
      (if (!metaCols) Map.empty[String, Any]
      else Map[String, Any](SpecId -> t.specId,
        FirstRowId -> t.file.firstRowId.map(Long.box).orNull,
        DataSeq -> t.sequenceNumber) ++
        PartitionSpec.unifiedPartitionValues(unifiedType,
          table.metadata.specById(t.specId).getOrElse(table.spec), t.file.partition)
          .zipWithIndex.map { case (v, i) => part(i) -> v }) ++
        missing.map(f => missingFlag(f) -> t.file.lacksColumn(f.id))

    def col(name: String): Column = functions.col(s"_metadata.$name")
  }

  private object FileConstants {
    val SpecId = "graft_spec_id"
    val FirstRowId = "graft_first_row_id"
    val DataSeq = "graft_data_seq"
    def part(i: Int): String = s"graft_part_$i"
    def missingFlag(f: NestedField): String = s"graft_missing_${f.id}"
    def constant(name: String, dt: org.apache.spark.sql.types.DataType,
        nullable: Boolean): StructField =
      org.apache.spark.sql.catalyst.expressions.FileSourceConstantMetadataStructField(
        name, dt, nullable)
  }

  /** The test for rows of `tasks` that `deletes` remove, None when
    * `deletes` is empty: one deterministic
    * [[graft.functions.MorDeletedExpr]] over the rows' data-file path
    * (`_metadata.file_path` rendering) and position — `path`, `pos` — and
    * the equality-key columns, evaluated per row through the
    * [[DeleteFilter]] the DSv2 reader shares — position deletes and DVs as
    * a per-file row bitmap [positional_deletes.rs:35], equality deletes as
    * JVM-cached key sets scoped to data_seq < delete_seq and to the
    * delete's partition, a null key never matching [delete_filter.rs:190,
    * caching_delete_file_loader.rs:421-424]. Delete files load on the
    * executors; no join or exchange is planned. The returned function maps
    * each equality key to the column serving its value (default-filled
    * for files written without it, cast from the physical alias on
    * name-mapped reads). */
  private[table] def deletedRows(spark: SparkSession, tasks: Seq[FileScanTask],
      deletes: Seq[DeleteTask], path: Column,
      pos: Column): Option[(String => Column) => Column] = {
    if (deletes.isEmpty) return None
    val scanSpark = graft.SessionConf.scanSession(spark)
    val encConf = graft.crypto.Encryption.confFor(table.metadata.properties)
    val plan = DeletePlan.build(table, deletes,
      tasks.map(t => (table.io.qualify(t.file.filePath), t.sequenceNumber, t.specId,
        t.file.partition)))
    val keys = plan.keyNames
    val readers = DeleteReaders.build(scanSpark,
      org.apache.spark.sql.types.StructType(keys.map(table.schema.toSpark(_))),
      plan.eqGroups.map(_.keyNames).distinct,
      () => graft.SessionConf.readConf(scanSpark, encConf))
    val planBc = scanSpark.sparkContext.broadcast(plan)
    Some(keyColumn => graft.functions.MorDeletedExpr.column(path, pos,
      keys.map(k => k -> keyColumn(k)), planBc, readers))
  }
}
