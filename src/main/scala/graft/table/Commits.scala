package graft.table

import java.util.UUID

import graft.meta._
import graft.spec.{IcebergSchema, PartitionSpec, Snapshot, TableMetadata}

/** Thrown by a commit's manifest closure when it VALIDATES that the
  * table has not moved past the snapshot the caller's read-modify-write
  * derivation was computed against (the census/merge in
  * [[graft.pipeline.Serving]] maintenance). A
  * [[Commits.ValidationException]] — the same "replan against fresh
  * state, never CAS-retry the stale result" contract validateReplace
  * uses — specialized so maintenance loops can catch exactly the
  * snapshot-moved case. */
final class StaleBaseSnapshot(message: String)
    extends Commits.ValidationException(message)

/** Shared snapshot-commit machinery used by append, row-delta (deletes) and
  * rewrite (compaction) actions — the role of the reference's Transaction +
  * snapshot producers (transaction/mod.rs:175-252: refresh base, re-apply,
  * optimistic CAS with backoff).
  */
object Commits {

  /** Read the base metadata's current manifest list ([] for empty tables). */
  def baseManifests(io: graft.io.FileIO, base: TableMetadata): Seq[ManifestFile] =
    base.currentSnapshot.map(s =>
      ManifestIO.readManifestList(io, s.manifestList, partTypes(base),
        graft.crypto.MetadataEncryption.listKeyFor(base, s))).getOrElse(Nil)

  def partTypes(base: TableMetadata): Map[Int, graft.spec.IcebergType.StructT] =
    base.partitionSpecs.map(s => s.specId -> s.partitionType(base.currentSchema)).toMap

  /** Write one manifest for `entries` and return its list descriptor. */
  def writeManifest(
      io: graft.io.FileIO,
      base: TableMetadata,
      fileName: String,
      entries: Seq[ManifestEntry],
      schema: IcebergSchema,
      spec: PartitionSpec,
      content: Int,
      snapshotId: Long,
      seq: Long): ManifestFile = {
    val path = s"${base.location}/metadata/$fileName.avro"
    // encrypted tables: fresh DEK per manifest; its key metadata (with
    // the encrypted length for truncation detection) rides the list entry
    val fileKey =
      if (graft.crypto.MetadataEncryption.enabled(base))
        Some(graft.crypto.MetadataEncryption.newFileKey(base))
      else None
    val (_, len) = ManifestIO.writeManifest(io, path, entries, schema, spec,
      base.properties.getOrElse("write.avro.compression-codec", "uncompressed"),
      encrypt = fileKey)
    val partType = spec.partitionType(schema)

    val alive = entries.filter(_.isAlive).map(_.dataFile)
    val summaries = partType.fields.zipWithIndex.map { case (pf, i) =>
      val vals = alive.map(_.partition(i))
      val nonNull = vals.filter(_ != null)
      FieldSummary(
        containsNull = vals.exists(_ == null),
        containsNan = Some(nonNull.exists(SingleValue.isNaN)),
        lowerBound = if (nonNull.isEmpty) None
          else Some(nonNull.reduce((a, b) => if (SingleValue.compare(pf.fieldType, a, b) <= 0) a else b)),
        upperBound = if (nonNull.isEmpty) None
          else Some(nonNull.reduce((a, b) => if (SingleValue.compare(pf.fieldType, a, b) >= 0) a else b)))
    }

    def count(st: Int) = entries.count(_.status == st)
    def rows(st: Int) = entries.filter(_.status == st).map(_.dataFile.recordCount).sum
    ManifestFile(
      manifestPath = path,
      manifestLength = len,
      partitionSpecId = spec.specId,
      content = content,
      sequenceNumber = seq,
      minSequenceNumber = entries.flatMap(_.sequenceNumber).minOption.getOrElse(seq),
      addedSnapshotId = snapshotId,
      addedFilesCount = count(ManifestStatus.Added),
      existingFilesCount = count(ManifestStatus.Existing),
      deletedFilesCount = count(ManifestStatus.Deleted),
      addedRowsCount = rows(ManifestStatus.Added),
      existingRowsCount = rows(ManifestStatus.Existing),
      deletedRowsCount = rows(ManifestStatus.Deleted),
      partitions = summaries,
      keyMetadata = fileKey.map(_.withFileLength(len).encode))
  }

  /** Thrown when a concurrent commit invalidated an operation's scan
    * basis. Deliberately NOT the catalog's retryable CommitConflict:
    * retrying would re-commit results derived from a stale scan — the
    * operation must replan against fresh state. */
  class ValidationException(msg: String) extends RuntimeException(msg)

  /** Replace/rewrite-commit validation against the REFRESHED base (the
    * role of Iceberg's validateDataFilesExist / validateAddedDataFiles,
    * run per optimistic-retry attempt):
    *   - every path in `mustBeAlive` (files this commit drops, folds, or
    *     position-references) must still be alive — a concurrent
    *     compaction or delete that removed one would make this commit
    *     silently resurrect or duplicate rows;
    *   - with `conflictFilter` set (serializable isolation), no snapshot
    *     committed after `scanSnapshotId` may have ADDED a data file that
    *     might match it — pass None for snapshot isolation;
    *   - with `failOnNewDeletes`, any delete file committed after the
    *     scan aborts (compaction folds the delete set it scanned; a
    *     newer delete targeting its sources would be lost);
    *   - with `failOnDeletesApplyingTo` (CoW delete/update/merge), a
    *     delete FILE committed after the scan that can apply to one of
    *     those data files aborts: the rewrite read pre-delete rows, so
    *     folding would RESURRECT the concurrently deleted rows (Iceberg's
    *     validateNoNewDeleteFiles — applies under snapshot isolation too,
    *     it is row correctness, not phantom protection).
    *
    * Cost: one manifest-list + targeted manifest read per attempt — the
    * same files the rewrite itself is about to read (and served by the
    * table's manifest cache at scale). */
  def validateReplace(io: graft.io.FileIO, base: TableMetadata,
      scanSnapshotId: Option[Long], mustBeAlive: Set[String],
      conflictFilter: Option[graft.expr.Predicate],
      schema: graft.spec.IcebergSchema,
      failOnNewDeletes: Boolean = false,
      failOnNewReplaceOps: Boolean = false,
      failOnDeletesApplyingTo: Set[String] = Set.empty): Unit = {
    if (base.currentSnapshotId == scanSnapshotId) return // no concurrent commit
    val byId = base.snapshots.map(s => s.snapshotId -> s).toMap
    val newIds = scala.collection.mutable.Set[Long]()
    var cur = base.currentSnapshotId.flatMap(byId.get)
    var reached = scanSnapshotId.isEmpty
    while (cur.isDefined && !reached) {
      if (scanSnapshotId.contains(cur.get.snapshotId)) reached = true
      else { newIds += cur.get.snapshotId; cur = cur.get.parentSnapshotId.flatMap(byId.get) }
    }
    if (!reached)
      throw new ValidationException(
        s"scan snapshot $scanSnapshotId is no longer an ancestor of " +
          s"current ${base.currentSnapshotId} (rollback or rewritten history)")
    if (failOnNewReplaceOps) {
      // row-id (position) deltas survive concurrent APPENDS but not any
      // commit that may have moved rows between files
      val bad = newIds.flatMap(byId.get).filter(_.operation != "append")
      if (bad.nonEmpty)
        throw new ValidationException(
          s"concurrent ${bad.head.operation} commit may have rewritten " +
            "rows this operation addresses by position")
    }
    val manifests = baseManifests(io, base)
    def entriesOf(m: ManifestFile) = {
      val spec = base.partitionSpecs.find(_.specId == m.partitionSpecId)
        .getOrElse(base.defaultSpec)
      ManifestIO.readManifest(io, m.manifestPath, base.currentSchema, spec,
        m.keyMetadata)
    }
    // scheme-insensitive compare: scan-side paths arrive qualified
    // (file:///…) while manifests store them as written
    def norm(p: String): String = {
      val i = p.indexOf(":/")
      if (i > 0 && p.substring(0, i).forall(_.isLetter))
        "/" + p.substring(i + 2).dropWhile(_ == '/')
      else p
    }
    if (mustBeAlive.nonEmpty) {
      val alive = manifests.filter(_.content == ManifestContent.Data)
        .iterator.flatMap(m => entriesOf(m).filter(_.isAlive).map(e => norm(e.dataFile.filePath)))
        .toSet
      val gone = mustBeAlive.map(norm) -- alive
      if (gone.nonEmpty)
        throw new ValidationException(
          s"concurrent commit removed/rewrote ${gone.size} file(s) this " +
            s"operation depends on, e.g. ${gone.head}")
    }
    conflictFilter.foreach { f =>
      val hit = manifests
        .filter(m => m.content == ManifestContent.Data && newIds(m.addedSnapshotId))
        .exists(m => entriesOf(m).exists(e =>
          e.status == ManifestStatus.Added && e.snapshotId.exists(newIds) &&
            graft.expr.InclusiveMetricsEvaluator.fileMightMatch(f, e.dataFile, schema)))
      if (hit)
        throw new ValidationException(
          "serializable isolation: a concurrent commit added data that may " +
            "match this operation's condition")
    }
    if (failOnNewDeletes) {
      val hit = manifests.exists(m =>
        m.content == ManifestContent.Deletes && newIds(m.addedSnapshotId))
      if (hit)
        throw new ValidationException(
          "a concurrent commit added delete files during this rewrite; " +
            "folding would lose them")
    }
    if (failOnDeletesApplyingTo.nonEmpty) {
      val dropped = failOnDeletesApplyingTo.map(norm)
      val conflict = manifests.iterator
        .filter(m => m.content == ManifestContent.Deletes && newIds(m.addedSnapshotId))
        .flatMap(entriesOf)
        .filter(e => e.isAlive && e.snapshotId.exists(newIds))
        .exists { e =>
          if (e.dataFile.content == FileContent.EqualityDeletes)
            true // keyed: applies to any lower-sequence row, incl. the scanned ones
          else e.dataFile.referencedDataFile match {
            case Some(ref) => dropped(norm(ref)) // DV / scoped position delete
            case None => true // unscoped parquet position delete: conservative
          }
        }
      if (conflict)
        throw new ValidationException(
          "a concurrent commit added delete files that may apply to data " +
            "files this operation rewrites; committing would resurrect the " +
            "concurrently deleted rows — replan against the fresh snapshot")
    }
  }

  /** Isolation level for a row-level operation from table properties
    * (write.<op>.isolation-level ∈ serializable|snapshot, Iceberg's
    * property names; default serializable). */
  def conflictFilterFor(base: TableMetadata, op: String,
      filter: graft.expr.Predicate): Option[graft.expr.Predicate] =
    base.properties.getOrElse(s"write.$op.isolation-level", "serializable") match {
      case "snapshot" => None
      case _ => Some(filter)
    }

  /** v3 row lineage, v3 tables only: contiguous first_row_id blocks for
    * a commit's added data files, from the refreshed base's next-row-id
    * (re-derived per retry; applyCommit bumps next-row-id by the same
    * added-row total). Rows WITH a materialized `_row_id` keep it —
    * inheritance only fills the null ones, so a CoW rewrite's carried
    * rows never re-id. Below v3 the files are returned untouched. */
  def assignFirstRowIds(base: TableMetadata, files: Seq[DataFile]): Seq[DataFile] =
    if (!base.rowLineage) files
    else files.zip(files.scanLeft(base.nextRowId)(_ + _.recordCount))
      .map { case (f, rid) => f.copy(firstRowId = Some(rid)) }

  /** Rewrite the base's data manifests dropping `dropPaths`: dropped files
    * become Deleted tombstones, survivors become Existing with resolved
    * sequence numbers; untouched manifests pass through. Delete manifests
    * are kept unless `dropDeleteManifests`. */
  def rewriteManifestsDropping(io: graft.io.FileIO, base: TableMetadata,
      dropPaths: Set[String], commitUuid: String, snapshotId: Long,
      seq: Long, dropDeleteManifests: Boolean = false): Seq[ManifestFile] =
    baseManifests(io, base).flatMap { m =>
      if (m.content != ManifestContent.Data)
        if (dropDeleteManifests) None else Some(m)
      else {
        val spec = base.partitionSpecs.find(_.specId == m.partitionSpecId)
          .getOrElse(base.defaultSpec)
        val entries = ManifestIO.readManifest(io, m.manifestPath,
          base.currentSchema, spec, m.keyMetadata)
        if (!entries.exists(e => e.isAlive && dropPaths(e.dataFile.filePath))) Some(m)
        else {
          val newEntries = entries.filter(_.isAlive).map { e =>
            val resolvedSeq = e.sequenceNumber.orElse(Some(m.sequenceNumber))
            if (dropPaths(e.dataFile.filePath))
              e.copy(status = ManifestStatus.Deleted,
                snapshotId = Some(snapshotId), sequenceNumber = resolvedSeq)
            else
              e.copy(status = ManifestStatus.Existing, sequenceNumber = resolvedSeq)
          }
          Some(writeManifest(io, base,
            s"$commitUuid-rw${m.manifestPath.hashCode.abs}", newEntries,
            base.currentSchema, spec, ManifestContent.Data, snapshotId, seq))
        }
      }
    }

  /** Spec id of an unpartitioned spec in `md`, registering one (fresh id)
    * when the table has none. Engine-global delete files are written under
    * it: the reference scopes equality deletes as global iff their spec has
    * no fields (delete_file_index.rs:137-141) — an all-null tuple under a
    * partitioned spec means the NULL partition, not "applies everywhere". */
  def ensureUnpartitionedSpec(md: TableMetadata): (TableMetadata, Int) =
    md.partitionSpecs.find(_.fields.isEmpty) match {
      case Some(s) => (md, s.specId)
      case None =>
        val id = md.partitionSpecs.map(_.specId).max + 1
        (md.copy(partitionSpecs = md.partitionSpecs :+ PartitionSpec(id, Nil)), id)
    }

  /** One snapshot commit with optimistic retry. `manifests` is re-invoked
    * per attempt against the refreshed base and must return the FULL new
    * manifest list.
    *
    * With `branch` set, the commit targets that ref instead of the main
    * line (write-audit-publish staging): the new snapshot's parent and
    * manifest base are the BRANCH head, the ref moves to the new
    * snapshot, and `current-snapshot-id` / `snapshot-log` are untouched —
    * readers of the table see nothing until a fast-forward publish. */
  def commit(table: GraftTable, operation: String, commitUuid: String,
      extraSummary: Map[String, String] = Map.empty,
      branch: Option[String] = None,
      prepare: TableMetadata => TableMetadata = identity)(
      manifests: (TableMetadata, Long, Long) => Seq[ManifestFile]): GraftTable = {
    val snapshotId = math.abs(UUID.randomUUID().getMostSignificantBits)
    graft.catalog.CommitRetry.run(table.catalog, table.name) { (base0raw, _) =>
      (applyCommit(table, base0raw, operation, commitUuid, snapshotId,
        extraSummary, branch, prepare)(manifests),
        (_: Int) => table.refresh())
    }
  }

  /** The body of one commit attempt: builds manifests + manifest list +
    * snapshot against `base0raw` and returns the updated metadata WITHOUT
    * touching the catalog. [[commit]] wraps it in the optimistic-retry
    * loop; [[Transaction]] chains several of these (plus metadata-only
    * actions) into one catalog swap. */
  private[table] def applyCommit(table: GraftTable, base0raw: TableMetadata,
      operation: String, commitUuid: String, snapshotId: Long,
      extraSummary: Map[String, String], branch: Option[String],
      prepare: TableMetadata => TableMetadata)(
      manifests: (TableMetadata, Long, Long) => Seq[ManifestFile]): TableMetadata = {
    val io = table.io
    locally {
      // metadata-shaping the commit needs in place before manifests are
      // written (e.g. registering the unpartitioned spec for global
      // deletes) — applied per attempt so it sees the refreshed base
      val base0 = prepare(base0raw)
      // manifest building and parentage resolve against the branch head;
      // ref/current bookkeeping below applies to the true base
      val base = branch match {
        case Some(b) =>
          val head = base0.refs.getOrElse(b, throw new IllegalArgumentException(
            s"unknown branch: $b")).snapshotId
          base0.copy(currentSnapshotId = Some(head))
        case None => base0
      }
      val seq = base.lastSequenceNumber + 1
      val all = manifests(base, seq, snapshotId)
      val listPath = s"${base.location}/metadata/snap-$snapshotId-$commitUuid.avro"
      // encrypted tables: the list gets its own DEK, KEK-wrapped into the
      // key registry; the snapshot records the wrapped entry id (key-id)
      val listKey =
        if (graft.crypto.MetadataEncryption.enabled(base))
          Some(graft.crypto.MetadataEncryption.newFileKey(base))
        else None
      val listLen = ManifestIO.writeManifestList(io, listPath, all, partTypes(base),
        base.properties.getOrElse("write.avro.compression-codec", "uncompressed"),
        encrypt = listKey)
      val wrappedListKey = listKey.map(k =>
        graft.crypto.MetadataEncryption.wrapListKey(base,
          k.withFileLength(listLen)))

      val now = System.currentTimeMillis()
      val dataMs = all.filter(_.content == ManifestContent.Data)
      val addedRecords = dataMs.filter(_.addedSnapshotId == snapshotId)
        .map(_.addedRowsCount).sum
      // full reference metric set (SnapshotSummaryCollector +
      // update_snapshot_summaries) — caller extras layer on top
      val summary = SnapshotSummary.build(io, base, all, snapshotId) ++ extraSummary

      // v3 row lineage: append commits consume a contiguous row-id block
      // equal to the rows they added (AppendWriter assigned the per-file
      // first_row_id from this same base.nextRowId). Only manifests THIS
      // snapshot added count — carried base manifests keep historical
      // added-row totals. The snapshot records its (first-row-id,
      // added-rows) range (snapshot.rs:76-81) so an update-action catalog
      // can re-derive next-row-id from `add-snapshot` alone.
      // append AND overwrite snapshots add rows (CoW rewrites, INSERT
      // OVERWRITE); replace (compaction) only rearranges — its files'
      // lineage rides materialized columns, no new block consumed.
      // Below v3 there is no lineage: no range, next-row-id stays put
      val addedRows =
        if (base.rowLineage && (operation == "append" || operation == "overwrite"))
          addedRecords
        else 0L

      val snap = Snapshot(
        snapshotId = snapshotId,
        parentSnapshotId = base.currentSnapshotId,
        sequenceNumber = seq,
        timestampMs = now,
        manifestList = listPath,
        operation = operation,
        summary = summary,
        schemaId = Some(base.currentSchema.schemaId),
        firstRowId = Option.when(base.rowLineage)(base.nextRowId),
        addedRows = Option.when(base.rowLineage)(addedRows),
        keyId = wrappedListKey.map(_._1))
      val keysAfter = wrappedListKey.map(_._2).getOrElse(base0.encryptionKeys)
      val updated = branch match {
        case None => base0.copy(
          encryptionKeys = keysAfter,
          lastSequenceNumber = seq,
          lastUpdatedMs = now,
          currentSnapshotId = Some(snapshotId),
          snapshots = base0.snapshots :+ snap,
          snapshotLog = base0.snapshotLog :+ (snapshotId, now),
          // metadataLog entry appended centrally by CommitRetry.run
          nextRowId = base0.nextRowId + addedRows)
        case Some(b) => base0.copy(
          encryptionKeys = keysAfter,
          lastSequenceNumber = seq,
          lastUpdatedMs = now,
          // current snapshot and snapshot-log untouched: the spec's
          // snapshot-log records the MAIN line's history only
          snapshots = base0.snapshots :+ snap,
          refs = base0.refs + (b -> base0.refs(b).copy(snapshotId = snapshotId)),
          nextRowId = base0.nextRowId + addedRows)
      }

      updated
    }
  }
}
