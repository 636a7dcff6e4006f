package graft.meta

/** Data/delete file descriptor carried by manifest entries
  * (/root/reference/crates/iceberg/src/spec/manifest/data_file.rs:36).
  * Stats maps are keyed by field id; bounds hold Iceberg-internal scalars
  * (serialized via [[SingleValue]] in Avro).
  */
object FileContent {
  val Data = 0
  val PositionDeletes = 1
  val EqualityDeletes = 2
}

/** Reserved field ids of the position-delete file schema (spec Appendix;
  * metadata_columns.rs:84-87). Stats maps on pos-delete DataFiles key
  * their `file_path` bounds by these, letting planners bind a delete
  * file to the data files it can touch without opening it. */
object ReservedFieldIds {
  val FilePath: Int = Int.MaxValue - 101 // 2147483546, string
  val Pos: Int = Int.MaxValue - 102 // 2147483545, long
}

final case class DataFile(
    content: Int,
    filePath: String,
    fileFormat: String, // "PARQUET"
    /** partition tuple values (Iceberg-internal scalars), aligned with the
      * spec's partition fields */
    partition: Seq[Any],
    recordCount: Long,
    fileSizeInBytes: Long,
    columnSizes: Map[Int, Long] = Map.empty,
    valueCounts: Map[Int, Long] = Map.empty,
    nullValueCounts: Map[Int, Long] = Map.empty,
    nanValueCounts: Map[Int, Long] = Map.empty,
    lowerBounds: Map[Int, Any] = Map.empty,
    upperBounds: Map[Int, Any] = Map.empty,
    splitOffsets: Seq[Long] = Nil,
    equalityIds: Seq[Int] = Nil,
    sortOrderId: Option[Int] = None,
    /** v3 deletion-vector reference (data_file.rs referenced_data_file /
      * content_offset / content_size_in_bytes): the data file this Puffin
      * DV blob applies to, and the blob's byte range in the Puffin file. */
    referencedDataFile: Option[String] = None,
    contentOffset: Option[Long] = None,
    contentSizeInBytes: Option[Long] = None,
    /** v3 row lineage (data_file.rs:160 first_row_id), v3 tables only:
      * the id of this file's first row; row N carries first_row_id + N.
      * Assigned from TableMetadata.nextRowId at append commit; None = no
      * lineage (v1/v2 tables, delete files, appends made before a v3
      * upgrade, compaction rewrites). */
    firstRowId: Option[Long] = None) {

  /** Whether this file was written without column `fieldId` (the v3
    * initial-default rule, shared by every reader and planner): decided
    * from the harvested stats maps alone, no footer read. A stat-less
    * imported file counts as having every column, so it null-fills. */
  def lacksColumn(fieldId: Int): Boolean =
    (columnSizes.nonEmpty || valueCounts.nonEmpty) &&
      !columnSizes.contains(fieldId) && !valueCounts.contains(fieldId)
}

object ManifestStatus {
  val Existing = 0
  val Added = 1
  val Deleted = 2
}

/** Manifest entry (spec/manifest/entry.rs). Inherited sequence numbers are
  * resolved at read time per spec: a null sequence number on an Added entry
  * inherits the manifest's. */
final case class ManifestEntry(
    status: Int,
    snapshotId: Option[Long],
    sequenceNumber: Option[Long],
    fileSequenceNumber: Option[Long],
    dataFile: DataFile) {
  def isAlive: Boolean = status != ManifestStatus.Deleted
}

/** Per-partition-field summary used for manifest-level pruning
  * (spec/manifest_list/mod.rs FieldSummary). Bounds are Iceberg-internal
  * scalars of the partition field's result type. */
final case class FieldSummary(
    containsNull: Boolean,
    containsNan: Option[Boolean],
    lowerBound: Option[Any],
    upperBound: Option[Any])

object ManifestContent {
  val Data = 0
  val Deletes = 1
}

/** Manifest-list entry (spec/manifest_list/mod.rs ManifestFile). */
final case class ManifestFile(
    manifestPath: String,
    manifestLength: Long,
    partitionSpecId: Int,
    content: Int,
    sequenceNumber: Long,
    minSequenceNumber: Long,
    addedSnapshotId: Long,
    addedFilesCount: Int,
    existingFilesCount: Int,
    deletedFilesCount: Int,
    addedRowsCount: Long,
    existingRowsCount: Long,
    deletedRowsCount: Long,
    partitions: Seq[FieldSummary],
    /** Serialized [[graft.crypto.StandardKeyMetadata]] when the manifest
      * is AGS1-encrypted (manifest_list key_metadata, field 519). */
    keyMetadata: Option[Array[Byte]] = None)
