package graft.table

import graft.meta.{FileContent, ManifestContent, ManifestFile, ManifestIO, ManifestStatus}
import graft.spec.TableMetadata

/** Snapshot-summary metrics — the reference's SnapshotSummaryCollector +
  * update_snapshot_summaries (spec/snapshot_summary.rs:25-410): the full
  * added / removed / deleted / total property set, per-partition
  * `partitions.<path>` rollups behind `write.summary.partition-limit`
  * (0 = off, the Java default), and parent-incremented totals for the
  * metrics the manifest list does not carry.
  *
  * Cost model: only the manifests THIS snapshot added are entry-read
  * (KB-scale Avro the committer just wrote, via the shared
  * ManifestCache so the first scan reuses the parse); carried manifests
  * contribute through their manifest-list counters and the parent
  * summary. O(new manifests) per commit at any table size.
  */
object SnapshotSummary {

  val PartitionLimitProp = "write.summary.partition-limit"
  val ChangedPartitionPrefix = "partitions."

  private final class Metrics {
    var addedFileSize = 0L; var removedFileSize = 0L
    var addedDataFiles = 0L; var removedDataFiles = 0L
    var addedEqDeleteFiles = 0L; var removedEqDeleteFiles = 0L
    var addedPosDeleteFiles = 0L; var removedPosDeleteFiles = 0L
    var addedDeleteFiles = 0L; var removedDeleteFiles = 0L
    var addedRecords = 0L; var deletedRecords = 0L
    var addedPosDeletes = 0L; var removedPosDeletes = 0L
    var addedEqDeletes = 0L; var removedEqDeletes = 0L

    def addFile(f: graft.meta.DataFile): Unit = {
      addedFileSize += f.fileSizeInBytes
      f.content match {
        case FileContent.Data =>
          addedDataFiles += 1; addedRecords += f.recordCount
        case FileContent.PositionDeletes =>
          addedDeleteFiles += 1; addedPosDeleteFiles += 1
          addedPosDeletes += f.recordCount
        case FileContent.EqualityDeletes =>
          addedDeleteFiles += 1; addedEqDeleteFiles += 1
          addedEqDeletes += f.recordCount
        case _ =>
      }
    }

    def removeFile(f: graft.meta.DataFile): Unit = {
      removedFileSize += f.fileSizeInBytes
      f.content match {
        case FileContent.Data =>
          removedDataFiles += 1; deletedRecords += f.recordCount
        case FileContent.PositionDeletes =>
          removedDeleteFiles += 1; removedPosDeleteFiles += 1
          removedPosDeletes += f.recordCount
        case FileContent.EqualityDeletes =>
          removedDeleteFiles += 1; removedEqDeleteFiles += 1
          removedEqDeletes += f.recordCount
        case _ =>
      }
    }

    /** Property rendering: zero-valued metrics are OMITTED
      * (snapshot_summary.rs set_if_positive). */
    def toMap: Map[String, String] = Seq(
      "added-files-size" -> addedFileSize,
      "removed-files-size" -> removedFileSize,
      "added-data-files" -> addedDataFiles,
      "deleted-data-files" -> removedDataFiles,
      "added-equality-delete-files" -> addedEqDeleteFiles,
      "removed-equality-delete-files" -> removedEqDeleteFiles,
      "added-position-delete-files" -> addedPosDeleteFiles,
      "removed-position-delete-files" -> removedPosDeleteFiles,
      "added-delete-files" -> addedDeleteFiles,
      "removed-delete-files" -> removedDeleteFiles,
      "added-records" -> addedRecords,
      "deleted-records" -> deletedRecords,
      "added-position-deletes" -> addedPosDeletes,
      "removed-position-deletes" -> removedPosDeletes,
      "added-equality-deletes" -> addedEqDeletes,
      "removed-equality-deletes" -> removedEqDeletes
    ).collect { case (k, v) if v > 0 => k -> v.toString }.toMap
  }

  /** Build the summary for one commit: `all` is the snapshot's FULL
    * manifest list, `base` the metadata the commit builds against (its
    * current snapshot is the parent). */
  def build(io: graft.io.FileIO, base: TableMetadata,
      all: Seq[ManifestFile], snapshotId: Long): Map[String, String] = {
    val total = new Metrics
    val byPartition =
      scala.collection.mutable.LinkedHashMap.empty[String, Metrics]
    val added = all.filter(_.addedSnapshotId == snapshotId)
    added.foreach { m =>
      val spec = base.specById(m.partitionSpecId)
        .getOrElse(base.defaultSpec)
      val entries = ManifestCacheKeyed.read(io, base, m)
      entries.foreach { e =>
        val pm = byPartition.getOrElseUpdate(
          spec.partitionPath(e.dataFile.partition), new Metrics)
        e.status match {
          case ManifestStatus.Added =>
            total.addFile(e.dataFile); pm.addFile(e.dataFile)
          case ManifestStatus.Deleted =>
            total.removeFile(e.dataFile); pm.removeFile(e.dataFile)
          case _ => // Existing: carried rows, not a change
        }
      }
    }

    val props = scala.collection.mutable.LinkedHashMap.empty[String, String]
    props ++= total.toMap

    // exact totals straight off the manifest-list counters (no entry
    // reads, any table size)
    val dataMs = all.filter(_.content == ManifestContent.Data)
    val delMs = all.filter(_.content == ManifestContent.Deletes)
    props("total-data-files") =
      dataMs.map(m => (m.addedFilesCount + m.existingFilesCount).toLong).sum.toString
    props("total-delete-files") =
      delMs.map(m => (m.addedFilesCount + m.existingFilesCount).toLong).sum.toString
    props("total-records") =
      dataMs.map(m => m.addedRowsCount + m.existingRowsCount).sum.toString
    // parent-incremented totals for metrics the list does not carry
    // (update_totals, snapshot_summary.rs:358-405). Three guards:
    // unparseable parent values must NEVER fail a commit (toLongOption),
    // and when the parent EXISTS but lacks/garbles the total (older
    // writer, foreign metadata) the total is OMITTED rather than seeded
    // from 0 — an "exact" total equal to one commit's delta on a large
    // table would be a lie every descendant inherits.
    val parent = base.currentSnapshot
    def incTotal(totalKey: String, addedV: Long, removedV: Long): Unit = {
      val prevV: Option[Long] = parent match {
        case None => Some(0L) // first snapshot: the delta IS the total
        case Some(s) => s.summary.get(totalKey).flatMap(_.toLongOption)
      }
      prevV.foreach(p =>
        props(totalKey) = (p + addedV - removedV).max(0L).toString)
    }
    incTotal("total-files-size", total.addedFileSize, total.removedFileSize)
    incTotal("total-position-deletes", total.addedPosDeletes, total.removedPosDeletes)
    incTotal("total-equality-deletes", total.addedEqDeletes, total.removedEqDeletes)

    // per-partition rollups behind the Java-default-off limit
    if (byPartition.nonEmpty)
      props("changed-partition-count") = byPartition.size.toString
    val limit = base.properties.get(PartitionLimitProp)
      .flatMap(_.toLongOption).getOrElse(0L)
    if (byPartition.size <= limit) {
      byPartition.foreach { case (path, m) =>
        val rendered = m.toMap.toSeq.sortBy(_._1)
          .map { case (k, v) => s"$k=$v" }.mkString(",")
        if (rendered.nonEmpty) props(ChangedPartitionPrefix + path) = rendered
      }
    }
    props.toMap
  }
}

/** Entry reads for commits (summary building, the producer's
  * tombstones), through the SAME cache key the scan path uses — a
  * commit reuses what its planning parsed and pre-warms exactly what the
  * next plan parses. */
private object ManifestCacheKeyed {
  def read(io: graft.io.FileIO, base: TableMetadata,
      m: ManifestFile): Seq[graft.meta.ManifestEntry] = {
    val spec = base.specById(m.partitionSpecId).getOrElse(base.defaultSpec)
    graft.meta.ManifestCache.manifest(
      s"${m.manifestPath}#${base.currentSchema.schemaId}") {
      ManifestIO.readManifest(io, m.manifestPath, base.currentSchema, spec,
        m.keyMetadata)
    }
  }
}
