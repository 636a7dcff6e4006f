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

  private def manifestPath(location: String, fileName: String): String =
    s"$location/metadata/$fileName.avro"

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
    val path = manifestPath(base.location, fileName)
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
  private def assignFirstRowIds(base: TableMetadata, files: Seq[DataFile]): Seq[DataFile] =
    if (!base.rowLineage) files
    else files.zip(files.scanLeft(base.nextRowId)(_ + _.recordCount))
      .map { case (f, rid) => f.copy(firstRowId = Some(rid)) }

  /** Append and overwrite snapshots add rows (appends, CoW rewrites,
    * INSERT OVERWRITE) and consume a v3 row-id block; replace
    * (compaction) and delete only rearrange or hide rows. */
  private def addsRows(operation: String): Boolean =
    operation == "append" || operation == "overwrite"

  /** `md` with an unpartitioned spec, registering one (fresh id) when
    * the table has none. Engine-global delete files are written under
    * it: the reference scopes equality deletes as global iff their spec has
    * no fields (delete_file_index.rs:137-141) — an all-null tuple under a
    * partitioned spec means the NULL partition, not "applies everywhere". */
  private def ensureUnpartitionedSpec(md: TableMetadata): TableMetadata =
    if (md.partitionSpecs.exists(_.fields.isEmpty)) md
    else {
      val id = md.partitionSpecs.map(_.specId).max + 1
      md.copy(partitionSpecs = md.partitionSpecs :+ PartitionSpec(id, Nil))
    }

  /** What one commit changes at file level, derived per attempt against
    * the refreshed base (the caller validates there first):
    *   - `addedData`: new data files, grouped by the id of the partition
    *     spec they were WRITTEN under — not the base's default, which a
    *     concurrent spec change may have moved;
    *   - `addedDeletes`: engine-global delete files, committed under the
    *     unpartitioned spec; `deleteDataSeq` keeps a data sequence number
    *     other than the commit's (a compaction of deletes preserves the
    *     sources' scope);
    *   - `removedData`: paths of data files to tombstone;
    *   - `removedDeletes`: delete files to tombstone, by [[deleteKey]] —
    *     superseding one deletion-vector blob leaves the other blobs of
    *     its Puffin file alive;
    *   - `dropDeleteManifests`: leave every base delete manifest out (a
    *     full rewrite folded them all);
    *   - `assignRowIds`: v3 first-row-id blocks for the added data files
    *     of a row-adding commit; off where the files hold carried rows
    *     whose lineage could not be materialized. */
  final case class FileChanges(
      addedData: Seq[(Int, Seq[DataFile])] = Nil,
      addedDeletes: Seq[DataFile] = Nil,
      deleteDataSeq: Option[Long] = None,
      removedData: Set[String] = Set.empty,
      removedDeletes: Set[(String, Option[Long])] = Set.empty,
      dropDeleteManifests: Boolean = false,
      assignRowIds: Boolean = true)

  /** A delete file's identity: its path, plus the blob offset for a
    * deletion vector (one Puffin file holds many). */
  def deleteKey(f: DataFile): (String, Option[Long]) = (f.filePath, f.contentOffset)

  /** Manifest file names for one commit, `<commitUuid>-<kind><n>`: `n`
    * counts every manifest the commit writes across ALL its retry
    * attempts (Iceberg's SnapshotProducer manifest counter), so no two
    * attempts write the same path. The manifest cache holds a path's
    * parsed entries for good, and an attempt's entries differ from a
    * retry's once the base has moved (row-id blocks, which base manifests
    * get rewritten). Create one per commit, outside the retry loop. */
  final class ManifestNames(val commitUuid: String) {
    private val n = new java.util.concurrent.atomic.AtomicInteger
    private val issued = new java.util.concurrent.ConcurrentLinkedQueue[String]
    /** Manifest paths of the latest attempt's full list. */
    @volatile private[Commits] var listed: Set[String] = Set.empty

    def next(kind: String): String = {
      val name = s"$commitUuid-$kind${n.getAndIncrement()}"
      issued.add(name)
      name
    }

    /** Delete every manifest issued under `location` that `keep` does not
      * name: attempts that lost the swap wrote them, and no snapshot will
      * ever reference them. Best effort — a miss leaves an orphan. */
    private[Commits] def reclaim(io: graft.io.FileIO, location: String,
        keep: Set[String]): Unit =
      issued.forEach { name =>
        val path = manifestPath(location, name)
        if (!keep(path)) try io.delete(path) catch { case _: Exception => () }
      }
  }

  /** The snapshot producer: writes the manifests for `ch` and returns the
    * full new manifest list — one added data manifest per write spec, one
    * added delete manifest, then the base list with removed entries
    * tombstoned (their survivors become Existing with resolved sequence
    * numbers). A base manifest is read only when the commit removes
    * files of its content, so appends and pure delete additions read the
    * manifest list alone; the read goes through the scan's manifest
    * cache, which the commit's own planning has usually filled. */
  private def produce(io: graft.io.FileIO, base: TableMetadata, ch: FileChanges,
      rowIds: Boolean, names: ManifestNames, snapshotId: Long,
      seq: Long): Seq[ManifestFile] = {
    def specOf(id: Int) = base.specById(id).getOrElse(base.defaultSpec)
    def write(kind: String, entries: Seq[ManifestEntry], spec: PartitionSpec,
        content: Int) =
      writeManifest(io, base, names.next(kind), entries, base.currentSchema,
        spec, content, snapshotId, seq)
    def added(f: DataFile, dataSeq: Long) =
      ManifestEntry(ManifestStatus.Added, Some(snapshotId), Some(dataSeq), Some(seq), f)

    val tagged = ch.addedData.flatMap { case (id, fs) => fs.map(id -> _) }
    val files = tagged.map(_._2)
    val stamped = tagged.map(_._1).zip(if (rowIds) assignFirstRowIds(base, files) else files)
    val dataMs = stamped.groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (specId, fs) =>
        write("m", fs.map(f => added(f._2, seq)), specOf(specId), ManifestContent.Data)
      }
    val deleteMs =
      if (ch.addedDeletes.isEmpty) Nil
      else Seq(write("d", ch.addedDeletes.map(added(_, ch.deleteDataSeq.getOrElse(seq))),
        base.partitionSpecs.find(_.fields.isEmpty).get, ManifestContent.Deletes))

    val kept = baseManifests(io, base).flatMap { m =>
      val isData = m.content == ManifestContent.Data
      val removed: DataFile => Boolean =
        if (isData) f => ch.removedData(f.filePath)
        else f => ch.removedDeletes(deleteKey(f))
      if (!isData && ch.dropDeleteManifests) None
      else if (if (isData) ch.removedData.isEmpty else ch.removedDeletes.isEmpty) Some(m)
      else {
        val entries = ManifestCacheKeyed.read(io, base, m)
        if (!entries.exists(e => e.isAlive && removed(e.dataFile))) Some(m)
        else Some(write("rw", entries.filter(_.isAlive).map { e =>
          val resolvedSeq = e.sequenceNumber.orElse(Some(m.sequenceNumber))
          if (removed(e.dataFile))
            e.copy(status = ManifestStatus.Deleted,
              snapshotId = Some(snapshotId), sequenceNumber = resolvedSeq)
          else e.copy(status = ManifestStatus.Existing, sequenceNumber = resolvedSeq)
        }, specOf(m.partitionSpecId), m.content))
      }
    }
    dataMs ++ deleteMs ++ kept
  }

  /** One snapshot commit with optimistic retry: `changes` is re-invoked
    * per attempt against the refreshed base, and the producer writes its
    * manifests.
    *
    * With `branch` set, the commit targets that ref instead of the main
    * line (write-audit-publish staging): the new snapshot's parent and
    * manifest base are the BRANCH head, the ref moves to the new
    * snapshot, and `current-snapshot-id` / `snapshot-log` are untouched —
    * readers of the table see nothing until a fast-forward publish.
    *
    * Manifests written by attempts that lost the swap are deleted once
    * the commit lands (the winning list, already in hand, names what
    * stays), and all of them when it finally fails on a conflict or a
    * validation. After any other error the swap may have landed, so
    * nothing is deleted. */
  def commit(table: GraftTable, operation: String, commitUuid: String,
      extraSummary: Map[String, String] = Map.empty,
      branch: Option[String] = None)(
      changes: TableMetadata => FileChanges): GraftTable = {
    val names = new ManifestNames(commitUuid)
    val committed =
      try retrying(table)((base, snapshotId) => applyCommit(table, base, operation,
        names, snapshotId, extraSummary, branch)(changes))
      catch {
        case e @ (_: graft.catalog.CommitConflict | _: ValidationException) =>
          names.reclaim(table.io, table.location, Set.empty)
          throw e
      }
    names.reclaim(table.io, table.location, names.listed)
    committed
  }

  /** A commit that moves no files and writes its own manifests: `manifests`
    * returns the FULL new list per attempt (manifest consolidation). Name
    * them with one [[ManifestNames]] for the whole commit. */
  def commitManifests(table: GraftTable, operation: String, commitUuid: String,
      extraSummary: Map[String, String] = Map.empty)(
      manifests: (TableMetadata, Long, Long) => Seq[ManifestFile]): GraftTable =
    retrying(table)((base, snapshotId) => applySnapshot(table, base, operation,
      commitUuid, snapshotId, extraSummary, None)(manifests))

  private def retrying(table: GraftTable)(
      attempt: (TableMetadata, Long) => TableMetadata): GraftTable = {
    val snapshotId = math.abs(UUID.randomUUID().getMostSignificantBits)
    graft.catalog.CommitRetry.run(table.catalog, table.name) { (base, _) =>
      (attempt(base, snapshotId), (_: Int) => table.refresh())
    }
  }

  /** `md` as seen from `branch`: its head stands in as the current
    * snapshot (the parent and manifest base of a branch commit). */
  private def onBranch(md: TableMetadata, branch: Option[String]): TableMetadata =
    branch match {
      case Some(b) =>
        val head = md.refs.getOrElse(b, throw new IllegalArgumentException(
          s"unknown branch: $b")).snapshotId
        md.copy(currentSnapshotId = Some(head))
      case None => md
    }

  /** One file-level commit attempt against `base0`, WITHOUT touching the
    * catalog: [[commit]] wraps it in the optimistic-retry loop;
    * [[Transaction]] chains several of these (plus metadata-only actions)
    * into one catalog swap. A commit adding delete files registers the
    * unpartitioned spec first. */
  private[table] def applyCommit(table: GraftTable, base0: TableMetadata,
      operation: String, names: ManifestNames, snapshotId: Long,
      extraSummary: Map[String, String], branch: Option[String])(
      changes: TableMetadata => FileChanges): TableMetadata = {
    val ch = changes(onBranch(base0, branch))
    val prepared = if (ch.addedDeletes.isEmpty) base0 else ensureUnpartitionedSpec(base0)
    applySnapshot(table, prepared, operation, names.commitUuid, snapshotId,
      extraSummary, branch) { (base, seq, id) =>
      val all = produce(table.io, base, ch, ch.assignRowIds && addsRows(operation),
        names, id, seq)
      names.listed = all.map(_.manifestPath).toSet
      all
    }
  }

  /** The body of one commit attempt: the manifest list and snapshot for
    * the manifests `manifests` returns against `base0` (on `branch`). */
  private def applySnapshot(table: GraftTable, base0: TableMetadata,
      operation: String, commitUuid: String, snapshotId: Long,
      extraSummary: Map[String, String], branch: Option[String])(
      manifests: (TableMetadata, Long, Long) => Seq[ManifestFile]): TableMetadata = {
    val io = table.io
    locally {
      // manifest building and parentage resolve against the branch head;
      // ref/current bookkeeping below applies to the true base
      val base = onBranch(base0, branch)
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

      // v3 row lineage: a row-adding commit consumes a contiguous row-id
      // block equal to the rows it added (the producer assigned the
      // per-file first_row_id from this same base.nextRowId). Only
      // manifests THIS snapshot added count — carried base manifests keep
      // historical added-row totals. The snapshot records its
      // (first-row-id, added-rows) range (snapshot.rs:76-81) so an
      // update-action catalog can re-derive next-row-id from
      // `add-snapshot` alone. Below v3 there is no lineage: no range,
      // next-row-id stays put
      val addedRows =
        if (base.rowLineage && addsRows(operation)) addedRecords else 0L

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
