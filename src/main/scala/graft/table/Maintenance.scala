package graft.table

import java.util.UUID

import org.apache.spark.sql.SparkSession

import graft.catalog.CommitRetry
import graft.meta._
import graft.spec.TableMetadata

/** Table maintenance actions: rewrite-files compaction (the reference
  * integration surface's headline: DataFrame read/write + compaction) and
  * expire_snapshots (transaction/expire_snapshots.rs:54 semantics).
  */
object Maintenance {

  /** BinPack "small file" bound as a fraction of the target size
    * (Iceberg BinPackStrategy MIN_FILE_SIZE_DEFAULT_RATIO): only files
    * under 0.75× target are rewrite candidates, so a merged output that
    * lands anywhere near target is never reselected. */
  private[table] val MinFileSizeRatio = 0.75

  /** Rewrite target: the table's own `write.target-file-size-bytes`
    * property when set (reference default at table_properties.rs:351),
    * else 512 MB. */
  private[table] def targetFileSize(table: GraftTable): Long =
    table.metadata.properties.get("write.target-file-size-bytes")
      .map { v =>
        try v.toLong catch {
          case _: NumberFormatException => throw new IllegalArgumentException(
            s"table property write.target-file-size-bytes must be a byte " +
              s"count, got '$v' — fix or unset it (unset uses the 512 MB " +
              "spec default), or pass an explicit target to the rewrite")
        }
      }.filter(_ > 0).getOrElse(512L << 20)

  /** The convergence core of [[rewriteSmallFiles]], pure so the fixed-
    * point argument is property-testable: a partition's small files
    * (each under [[MinFileSizeRatio]] × target) are rewritten only when
    * merging REDUCES the file count. This makes any rewrite's own
    * output a fixed point in one step: the pass produces
    * ceil(bytes/target) files, and re-evaluating that layout yields
    * expectedOut == count (the under-0.75×-target outputs each carry
    * > target × (n-1)/n bytes), so the next pass no-ops — see
    * MaintenanceSpec's scalacheck property. */
  private[table] def groupReducible(smallSizes: Seq[Long], target: Long,
      minInputFiles: Int): Boolean = {
    val expectedOut = math.max(1L,
      math.ceil(smallSizes.sum.toDouble / target).toLong)
    smallSizes.size >= minInputFiles && expectedOut < smallSizes.size
  }

  /** Compact the current snapshot into ~targetFileSizeBytes files.
    *
    * Reads the snapshot MoR-applied (position/equality deletes folded in),
    * rewrites through the shared staged-write path, and commits a `replace`
    * snapshot whose manifest list contains only the rewritten files — so
    * delete manifests drop out and the MoR join disappears from subsequent
    * scans. All data movement is executor-side; the driver only handles
    * file descriptors.
    *
    * Concurrency: like the reference's replace commit, this validates that
    * no other snapshot landed between planning and commit and aborts
    * otherwise (rewrite is re-runnable).
    */
  def rewriteDataFiles(table: GraftTable, spark: SparkSession,
      targetFileSizeBytes: Long = 512L << 20): GraftTable = {
    val scan = table.newScan()
    val tasks = scan.planFiles()
    if (tasks.isEmpty) return table
    val baseSnapshotId = table.metadata.currentSnapshotId

    val totalBytes = tasks.map(_.file.fileSizeInBytes).sum
    val nOut = math.max(1, math.ceil(totalBytes.toDouble / targetFileSizeBytes).toInt)
    // v3 row lineage (v3 tables only): a rewrite shuffles rows across
    // files, so first_row_id inheritance cannot survive it — read each
    // row's lineage (inherited or already-materialized) and persist it as
    // real columns in the rewritten files (RowLineage preference order)
    val lineage = table.metadata.rowLineage
    val df0 = if (lineage) scan.toLineageDF(spark) else scan.toDF(spark)
    // unpartitioned: explicit file-count control; partitioned: the staged
    // write's per-partition fanout governs sizes (input splits are already
    // coalesced by files.maxPartitionBytes)
    val df = if (table.spec.isUnpartitioned) df0.repartition(nOut) else df0

    val commitUuid = UUID.randomUUID().toString
    val files = AppendWriter.writeDataFiles(table, df, commitUuid, lineage)

    val sourcePaths = tasks.map(_.file.filePath).toSet
    Commits.commit(table, "replace", commitUuid,
      Map("rewritten-data-files" -> tasks.size.toString)) { base =>
      // Concurrent APPENDS are fine — their manifests pass through the
      // rewrite untouched. What must abort: a concurrent commit that
      // removed one of our sources (rows would duplicate — the new files
      // re-add them) or added DELETE files (folded set becomes stale and
      // their rows would resurrect). Serializable-lite for compaction.
      Commits.validateReplace(table.io, base, baseSnapshotId, sourcePaths,
        None, table.schema, failOnNewDeletes = true)
      Commits.FileChanges(addedData = Seq(table.spec.specId -> files),
        removedData = sourcePaths,
        // the rewrite folded every delete in scope; validation above
        // guarantees no newer ones exist
        dropDeleteManifests = true)
    }
  }

  /** BINPACK compaction (Iceberg `rewrite_data_files` binpack
    * semantics): rewrite only FRAGMENTED partitions — those holding at
    * least `minInputFiles` files under `targetFileSizeBytes` — merging
    * their small files and leaving everything else (already-compacted
    * files, single-file partitions) in place. This is the production
    * steady-state compactor for continuous fold loops: each trigger
    * cuts O(batch-partitions) small files, and the cadence cost must
    * scale with the files the folds actually created — the full
    * [[rewriteDataFiles]] re-writes every byte of the artifact every
    * time, which at 100 TB is not a maintenance pass, it's a migration.
    *
    * Delete handling: the selective read is MoR-applied, so deletes
    * folding into rewritten rows disappear from them, and delete
    * manifests are KEPT (unlike the full rewrite) because they may
    * still apply to untouched files. Correctness holds on both sides:
    * position deletes reference the rewritten files' OLD paths (match
    * nothing — harmless) or still-live paths (keep applying), and
    * equality deletes apply only to OLDER sequences, while the
    * rewritten files commit at a newer one. Same serializable-lite
    * validation as the full rewrite: a concurrent commit that removed a
    * source or added new deletes aborts the pass (re-runnable).
    *
    * Selection converges to a no-op (ADVICE r14): "small" means under
    * [[MinFileSizeRatio]] × target (Iceberg BinPackStrategy's
    * MIN_FILE_SIZE default — a file at 0.8× target is close enough to
    * leave alone, where a bare `< target` bound reselected a merged
    * output forever), and a group is skipped when merging cannot reduce
    * its file count (ceil(bytes/target) ≥ files — e.g. two 400 MB files
    * at the 512 MB default would merge into two under-target outputs
    * and be reselected every pass). A steady-state cadence therefore
    * reaches a pass that plans nothing and returns `table` unchanged.
    *
    * `targetFileSizeBytes <= 0` (the default) reads the table's own
    * `write.target-file-size-bytes` property, falling back to the spec
    * default 512 MB (reference table_properties.rs:351) — a table tuned
    * to a different target compacts to ITS size without the caller
    * re-stating it; an explicit positive argument overrides.
    */
  def rewriteSmallFiles(table: GraftTable, spark: SparkSession,
      targetFileSizeBytes: Long = -1L,
      minInputFiles: Int = 2): GraftTable = {
    val target =
      if (targetFileSizeBytes > 0) targetFileSizeBytes
      else targetFileSize(table)
    val minSize = (target * MinFileSizeRatio).toLong
    val scan = table.newScan()
    val tasks = scan.planFiles()
    if (tasks.isEmpty) return table
    val baseSnapshotId = table.metadata.currentSnapshotId
    // one descriptor per physical file — planFiles may split a file
    // into row-group byte ranges
    val files = tasks.groupBy(_.file.filePath).values.map(_.head).toSeq
    val sourcePaths = files.groupBy(t => (t.specId, t.file.partition))
      .values.flatMap { group =>
        val small = group.filter(_.file.fileSizeInBytes < minSize)
        if (groupReducible(small.map(_.file.fileSizeInBytes), target,
            minInputFiles)) small
        else Nil
      }.map(_.file.filePath).toSet
    if (sourcePaths.isEmpty) return table
    val selected = tasks.filter(t => sourcePaths(t.file.filePath))

    val lineage = table.metadata.rowLineage
    val df0 = if (lineage) scan.readTasksLineage(spark, selected)
      else scan.readTasks(spark, selected)
    val df =
      if (table.spec.isUnpartitioned) {
        val totalBytes = files.filter(t => sourcePaths(t.file.filePath))
          .map(_.file.fileSizeInBytes).sum
        df0.repartition(math.max(1,
          math.ceil(totalBytes.toDouble / target).toInt))
      } else df0 // partitioned: the staged write's fanout governs sizes

    val commitUuid = UUID.randomUUID().toString
    val newFiles = AppendWriter.writeDataFiles(table, df, commitUuid, lineage)
    Commits.commit(table, "replace", commitUuid,
      Map("rewritten-data-files" -> sourcePaths.size.toString)) { base =>
      Commits.validateReplace(table.io, base, baseSnapshotId, sourcePaths,
        None, table.schema, failOnNewDeletes = true)
      Commits.FileChanges(addedData = Seq(table.spec.specId -> newFiles),
        removedData = sourcePaths)
    }
  }

  /** Z-ORDER rewrite: like rewriteDataFiles but the data is re-clustered
    * along a Morton curve over `cols` before writing, so per-file min/max
    * stats become selective on EVERY listed column — a box query over
    * (x, y) prunes files on both, where a linear sort serves only its
    * leading column. Column bounds come from the planned files' stats
    * (metadata-only, no extra data pass); the key itself is a native
    * codegen expression (functions.ZOrderExpr).
    *
    * Scale shape: one range shuffle on the z-key (+ the write). Same
    * conflict validation as plain compaction. */
  def rewriteDataFilesZOrder(table: GraftTable, spark: SparkSession,
      cols: Seq[String], targetFileSizeBytes: Long = 512L << 20): GraftTable = {
    require(cols.nonEmpty, "zorder needs at least one column")
    val scan = table.newScan()
    val tasks = scan.planFiles()
    if (tasks.isEmpty) return table
    val baseSnapshotId = table.metadata.currentSnapshotId

    val fields = cols.map(c => table.schema.findField(c).getOrElse(
      throw new IllegalArgumentException(s"unknown zorder column: $c")))
    def boundOf(id: Int,
        side: graft.meta.DataFile => Map[Int, Any]): Seq[Double] =
      tasks.flatMap(tk => side(tk.file).get(id)).map {
        case n: Number => n.doubleValue()
        case other => throw new IllegalArgumentException(
          s"zorder needs numeric bounds, got $other")
      }
    val mins = fields.map(f => boundOf(f.id, _.lowerBounds)
      .reduceOption(math.min(_, _)).getOrElse(0.0))
    val maxs = fields.map(f => boundOf(f.id, _.upperBounds)
      .reduceOption(math.max(_, _)).getOrElse(0.0))

    val totalBytes = tasks.map(_.file.fileSizeInBytes).sum
    val nOut = math.max(1, math.ceil(totalBytes.toDouble / targetFileSizeBytes).toInt)
    val zcol = graft.functions.ZOrderExpr.column(
      cols.map(org.apache.spark.sql.functions.col), mins, maxs)
    // lineage preservation: same contract as rewriteDataFiles
    val lineage = table.metadata.rowLineage
    val zdf0 = if (lineage) scan.toLineageDF(spark) else scan.toDF(spark)
    val df = zdf0
      .withColumn("__z", zcol)
      .repartitionByRange(nOut, org.apache.spark.sql.functions.col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")

    val commitUuid = UUID.randomUUID().toString
    val files = AppendWriter.writeDataFiles(table, df, commitUuid, lineage)
    val sourcePaths = tasks.map(_.file.filePath).toSet
    Commits.commit(table, "replace", commitUuid, Map(
      "rewritten-data-files" -> tasks.size.toString,
      "zorder-columns" -> cols.mkString(","))) { base =>
      Commits.validateReplace(table.io, base, baseSnapshotId, sourcePaths,
        None, table.schema, failOnNewDeletes = true)
      Commits.FileChanges(addedData = Seq(table.spec.specId -> files),
        removedData = sourcePaths, dropDeleteManifests = true)
    }
  }

  /** Expire snapshots older than `olderThanMs`, retaining at least
    * `retainLast` ancestors of the current snapshot (current is never
    * expired). Metadata-only commit; expired manifest lists are deleted,
    * unreachable data-file GC is a separate concern (remove_orphan_files).
    *
    * Ref-aware retention (expire_snapshots.rs:40-50 semantics):
    *   - refs older than their `max-ref-age-ms` (per-ref, falling back to
    *     `history.expire.max-ref-age-ms`) are removed first — main never;
    *   - each surviving BRANCH retains its latest `min-snapshots-to-keep`
    *     ancestors (per-ref, falling back to the
    *     `history.expire.min-snapshots-to-keep` property, then 1) plus
    *     every ancestor newer than the branch cutoff (`max-snapshot-age-
    *     ms` per-ref, else the global `olderThanMs`);
    *   - tags pin exactly their target snapshot.
    */
  def expireSnapshots(table: GraftTable, olderThanMs: Long,
      retainLast: Int = 1, nowMs: Long = System.currentTimeMillis()): GraftTable = {
    CommitRetry.run(table.catalog, table.name) { (base0, _) =>
      val (updated, toDelete) = expireTransform(base0, olderThanMs, retainLast, nowMs)
      (updated, (_: Int) => {
        toDelete.foreach(p => table.io.delete(p))
        table.refresh()
      })
    }
  }

  /** The metadata transform of [[expireSnapshots]] plus the file paths
    * (manifest lists, dangling statistics) to delete once the commit
    * lands — shared with [[Transaction.expireSnapshots]]. */
  private[table] def expireTransform(base0: graft.spec.TableMetadata,
      olderThanMs: Long, retainLast: Int,
      nowMs: Long): (graft.spec.TableMetadata, Seq[String]) = {
    // snapshot tables (gc.enabled=false) share manifest lists with their
    // source — expiry would delete files the source still reads
    require(!base0.properties.get("gc.enabled").contains("false"),
      "cannot expire snapshots: gc.enabled=false (files may be shared " +
        "with a snapshot source)")
    locally {
      // phase 1: age out refs (never main)
      val base = {
        val defaultRefAge = base0.properties.get("history.expire.max-ref-age-ms").map(_.toLong)
        val byId = base0.snapshots.map(s => s.snapshotId -> s).toMap
        val survivors = base0.refs.filter { case (name, r) =>
          name == "main" || {
            val age = r.maxRefAgeMs.orElse(defaultRefAge)
            val ts = byId.get(r.snapshotId).map(_.timestampMs)
            age.isEmpty || ts.isEmpty || nowMs - ts.get <= age.get
          }
        }
        base0.copy(refs = survivors)
      }
      // phase 2: per-branch ancestor retention
      val defaultKeep = base.properties
        .get("history.expire.min-snapshots-to-keep").map(_.toInt)
      val byId = base.snapshots.map(s => s.snapshotId -> s).toMap
      def ancestors(headId: Long): Iterator[graft.spec.Snapshot] =
        Iterator.iterate(byId.get(headId))(_.flatMap(_.parentSnapshotId).flatMap(byId.get))
          .takeWhile(_.isDefined).flatten
      val branchRetained = base.refs.flatMap {
        case (_, r) if r.refType == "branch" =>
          val keepCount = r.minSnapshotsToKeep.orElse(defaultKeep).getOrElse(1)
          val cutoff = r.maxSnapshotAgeMs.map(nowMs - _).getOrElse(olderThanMs)
          val chain = ancestors(r.snapshotId).toSeq
          (chain.take(math.max(1, keepCount)) ++
            chain.filter(_.timestampMs >= cutoff)).map(_.snapshotId)
        case (_, r) => Seq(r.snapshotId) // tag pins its target only
      }.toSet
      val retained = retainedIds(base, retainLast) ++ branchRetained
      val (keep, expired) = base.snapshots.partition(s =>
        retained.contains(s.snapshotId) || s.timestampMs >= olderThanMs)
      if (expired.isEmpty) (base, Nil)
      else {
        val expiredIds = expired.map(_.snapshotId).toSet
        // statistics registrations of expired snapshots are dangling —
        // drop them and delete their files alongside the manifest lists
        val droppedStats = base.statistics.filter(s => expiredIds(s.snapshotId))
        val droppedPartStats =
          base.partitionStatistics.filter(s => expiredIds(s.snapshotId))
        val updated = base.copy(
          snapshots = keep,
          snapshotLog = base.snapshotLog.filterNot { case (id, _) => expiredIds.contains(id) },
          statistics = base.statistics.filterNot(s => expiredIds(s.snapshotId)),
          partitionStatistics =
            base.partitionStatistics.filterNot(s => expiredIds(s.snapshotId)),
          lastUpdatedMs = System.currentTimeMillis())
        (updated,
          expired.map(_.manifestList) ++
            droppedStats.map(_.statisticsPath) ++
            droppedPartStats.map(_.statisticsPath))
      }
    }
  }

  /** Delete data files not referenced by ANY snapshot and older than
    * `olderThanMs` (remove_orphan_files). The rename-free write design
    * makes this the one required GC: failed jobs leave invisible files
    * under `data/commit-*`; age-gating keeps in-flight commits safe.
    *
    * Fully distributed: manifest entry reads, per-subtree recursive
    * listing, the referenced-vs-candidate anti-join, and the deletions all
    * run as Spark jobs — the driver holds only manifest descriptors and
    * the (small) orphan list it returns, never the O(files) path sets. */
  def removeOrphanFiles(table: GraftTable, olderThanMs: Long,
      spark: SparkSession): Seq[String] = {
    require(!table.metadata.properties.get("gc.enabled").contains("false"),
      s"cannot GC ${table.name}: gc.enabled=false (files may be shared " +
        "with a snapshot source)")
    val io = table.io
    val sc = spark.sparkContext
    val dataDir = s"${table.location}/data"
    if (!io.exists(dataDir)) return Nil

    // referenced paths: O(manifests) descriptors on the driver, entries
    // decoded on executors
    val specById = table.metadata.partitionSpecs.map(s => s.specId -> s).toMap
    val defaultSpec = table.metadata.defaultSpec
    val schema = table.metadata.currentSchema
    val manifests: Seq[(String, Int, Array[Byte])] = table.metadata.snapshots.flatMap { s =>
      ManifestIO.readManifestList(io, s.manifestList, Commits.partTypes(table.metadata),
        graft.crypto.MetadataEncryption.listKeyFor(table.metadata, s))
        .map(m => (m.manifestPath, m.partitionSpecId, m.keyMetadata.orNull))
    }.distinctBy(t => (t._1, t._2))
    val referenced = sc.parallelize(manifests,
        math.max(1, math.min(manifests.size, 64)))
      .flatMap { case (mp, specId, keyMeta) =>
        val exIo = graft.io.FileIO.local()
        ManifestIO.readManifest(exIo, mp, schema, specById.getOrElse(specId, defaultSpec),
            Option(keyMeta))
          .map(e => (normalize(e.dataFile.filePath), ()))
      }

    // candidates: one listing task per first-level subtree (data/commit-*)
    val fs = io.fs(dataDir)
    val top = fs.listStatus(new org.apache.hadoop.fs.Path(dataDir)).toSeq
    val topFiles = top.filter(_.isFile)
      .map(f => (f.getPath.toString, f.getModificationTime))
    val subtrees = top.filter(_.isDirectory).map(_.getPath.toString)
    val candidates = sc.parallelize(subtrees,
        math.max(1, math.min(subtrees.size, 64)))
      .flatMap { d =>
        val exIo = graft.io.FileIO.local()
        exIo.listFilesRecursive(d).map { case (p, _, mtime) => (p, mtime) }
      } ++ sc.parallelize(topFiles, math.max(1, math.min(topFiles.size, 8)))

    // anti-join + distributed delete; only the orphan list reaches the driver
    candidates
      .filter { case (p, mtime) => mtime < olderThanMs && !p.endsWith("_SUCCESS") }
      .map { case (p, _) => (normalize(p), p) }
      .subtractByKey(referenced)
      .mapPartitions { it =>
        val exIo = graft.io.FileIO.local()
        it.map { case (_, p) => exIo.delete(p); p }
      }
      .collect().toSeq.sorted
  }

  private def normalize(p: String): String =
    p.stripPrefix("file:").replaceAll("/+", "/")

  /** Roll the table back to an earlier snapshot (set-current-snapshot /
    * rollback action): metadata-only, the abandoned snapshots stay until
    * expire. */
  /** Cherry-pick an APPEND snapshot onto the current head (Java
    * ManageSnapshots.cherrypick; the write-audit-publish path when main
    * has advanced past the staged snapshot's parent so a fast-forward is
    * impossible). The source snapshot's added data files are re-committed
    * as a NEW append whose parent is the current snapshot — history is
    * not rewritten and the source snapshot stays in place. No-op when the
    * source is already an ancestor of the head. Non-append operations are
    * refused: replace/delete semantics depend on the exact base they were
    * staged against and cannot be replayed safely. */
  def cherrypickSnapshot(table: GraftTable, snapshotId: Long): GraftTable = {
    val md = table.metadata
    val src = md.snapshotById(snapshotId).getOrElse(
      throw new IllegalArgumentException(s"snapshot $snapshotId not found"))
    require(src.operation == "append",
      s"cherry-pick supports append snapshots only, not '${src.operation}'")
    val byId = md.snapshots.map(s => s.snapshotId -> s).toMap
    val ancestors = Iterator.iterate(md.currentSnapshotId.flatMap(byId.get))(
      _.flatMap(_.parentSnapshotId).flatMap(byId.get))
      .takeWhile(_.isDefined).flatten.toSeq
    // already published: either literally an ancestor, or an ancestor IS a
    // cherry-pick of it (the re-commit carries a fresh snapshot id, so raw
    // ancestry alone would re-publish the same files — Java's wap guard)
    val published = ancestors.exists(s => s.snapshotId == snapshotId ||
      s.summary.get("source-snapshot-id").contains(snapshotId.toString))
    if (published) return table

    // files ADDED by the source snapshot, grouped by their spec
    val srcManifests = ManifestIO
      .readManifestList(table.io, src.manifestList, Commits.partTypes(md),
        graft.crypto.MetadataEncryption.listKeyFor(md, src))
      .filter(m => m.content == ManifestContent.Data &&
        m.addedSnapshotId == snapshotId)
    val bySpec: Seq[(Int, Seq[DataFile])] = srcManifests.flatMap { m =>
      val spec = md.specById(m.partitionSpecId).getOrElse(md.defaultSpec)
      ManifestIO.readManifest(table.io, m.manifestPath, md.currentSchema, spec,
          m.keyMetadata)
        .filter(e => e.status == ManifestStatus.Added &&
          e.snapshotId.contains(snapshotId))
        .map(e => m.partitionSpecId -> e.dataFile)
    }.groupBy(_._1).view.mapValues(_.map(_._2)).toSeq.sortBy(_._1)
    require(bySpec.nonEmpty, s"snapshot $snapshotId added no data files")

    val commitUuid = UUID.randomUUID().toString
    val summary = Map("source-snapshot-id" -> snapshotId.toString) ++
      src.summary.get("wap.id").map("published-wap-id" -> _)
    // the files keep the first_row_ids they were staged with
    Commits.commit(table, "append", commitUuid, summary)(
      _ => Commits.FileChanges(addedData = bySpec, assignRowIds = false))
  }

  /** Compact position-delete parquet files and drop DANGLING delete rows
    * (Java's rewrite_position_delete_files + remove_dangling_deletes,
    * tracked as planned surface by the reference). Every alive parquet
    * pos-delete file is read DISTRIBUTED; rows whose referenced data file
    * is no longer alive in the current snapshot are discarded; survivors
    * are rewritten clustered and sorted by (file_path, pos) and committed
    * as a `replace` snapshot that tombstones all source delete files.
    * Deletion vectors (PUFFIN) are already one-per-data-file and supersede
    * on write; equality deletes bind by key, not path — both pass through
    * untouched. The compacted entries PRESERVE the sources' max data
    * sequence number so MoR scoping is unchanged.
    *
    * Scale shape: delete rows never touch the driver — a DataFrame read,
    * one broadcast semi-join against the alive-path list, one range
    * shuffle for the sorted write. A long-lived MoR table accretes one
    * delete file per commit; this folds them to ~target-sized files so
    * scans stop stacking reader-side delete loads. */
  def rewritePositionDeletes(table: GraftTable, spark: SparkSession,
      targetFileSizeBytes: Long = 64L << 20): GraftTable = {
    import org.apache.spark.sql.functions.{broadcast, col}
    val sources = table.newScan().planDeletes().filter(d =>
      d.file.content == FileContent.PositionDeletes &&
        d.file.fileFormat != "PUFFIN")
    if (sources.isEmpty) return table
    val baseSnapshotId = table.metadata.currentSnapshotId
    val encConf = graft.crypto.Encryption.confFor(table.metadata.properties)

    // alive data-file paths in BOTH forms delete rows may carry: as the
    // manifests record them AND filesystem-qualified (this engine's delta
    // writer stores the reader's qualified `_file`, e.g. file:/…)
    val alive0 = table.newScan().planFiles().map(_.file.filePath)
    val alive = (alive0 ++ alive0.map(table.io.qualify)).distinct
    val session = spark
    import session.implicits._
    val aliveDf = alive.toDF("file_path")

    val totalBytes = sources.map(_.file.fileSizeInBytes).sum
    val nOut = math.max(1, math.ceil(totalBytes.toDouble / targetFileSizeBytes).toInt)
    val survivors = spark.read.options(encConf)
      .parquet(sources.map(_.file.filePath): _*)
      .select("file_path", "pos")
      .join(broadcast(aliveDf), Seq("file_path"), "left_semi")
      .repartitionByRange(nOut, col("file_path"), col("pos"))
      .sortWithinPartitions("file_path", "pos")

    val commitUuid = UUID.randomUUID().toString
    val compacted = DeleteWriter.stageDeleteFiles(table, survivors,
      FileContent.PositionDeletes, Nil, commitUuid)
    val sourceKeys = sources.map(d => Commits.deleteKey(d.file)).toSet
    Commits.commit(table, "replace", commitUuid,
      Map("rewritten-delete-files" -> sources.size.toString)) { base =>
      // concurrent appends pass through; any concurrent replace/delete may
      // have moved rows our surviving positions address — abort and rerun
      Commits.validateReplace(table.io, base, baseSnapshotId, Set.empty,
        None, table.schema, failOnNewReplaceOps = true)
      // data sequence PRESERVED (max of sources): a fresh seq would
      // re-scope the deletes onto files written after the sources
      Commits.FileChanges(addedDeletes = compacted,
        deleteDataSeq = Some(sources.map(_.sequenceNumber).max),
        removedDeletes = sourceKeys)
    }
  }

  def rollbackTo(table: GraftTable, snapshotId: Long): GraftTable =
    CommitRetry.run(table.catalog, table.name) { (base, _) =>
      require(base.snapshotById(snapshotId).isDefined, s"snapshot $snapshotId not found")
      val updated = base.copy(
        currentSnapshotId = Some(snapshotId),
        snapshotLog = base.snapshotLog :+ (snapshotId, System.currentTimeMillis()),
        lastUpdatedMs = System.currentTimeMillis())
      (updated, (_: Int) => table.refresh())
    }

  /** Consolidate small data manifests (Iceberg's rewrite_manifests
    * action; the Java RewriteManifests precedent — iceberg-rust tracks it
    * as planned surface). A long-lived table accretes one manifest per
    * commit; at 100 TB that is thousands of KB-scale Avro files whose
    * open/read latency dominates scan PLANNING. This groups data
    * manifests smaller than `smallManifestBytes` per partition spec and
    * rewrites each group into consolidated manifests of Existing entries
    * (resolved sequence numbers), committed as a `replace` snapshot.
    * Metadata-only: no data files move, delete manifests and
    * already-large manifests pass through. */
  def rewriteManifests(table: GraftTable,
      smallManifestBytes: Long = 8L << 20): GraftTable = {
    val io = table.io
    val before = Commits.baseManifests(io, table.metadata)
      .filter(m => m.content == ManifestContent.Data &&
        m.manifestLength < smallManifestBytes)
    if (before.size <= 1) return table // nothing to consolidate
    val commitUuid = UUID.randomUUID().toString
    val names = new Commits.ManifestNames(commitUuid)
    Commits.commitManifests(table, "replace", commitUuid,
      Map("manifests-rewritten" -> before.size.toString)) { (base, seq, snapshotId) =>
      val manifests = Commits.baseManifests(io, base)
      val (data, rest) = manifests.partition(_.content == ManifestContent.Data)
      val (small, big) = data.partition(_.manifestLength < smallManifestBytes)
      if (small.size <= 1) manifests
      else {
        val merged = small.groupBy(_.partitionSpecId).toSeq.sortBy(_._1)
          .map { case (specId, group) =>
            val spec = base.partitionSpecs.find(_.specId == specId)
              .getOrElse(base.defaultSpec)
            val entries = group.flatMap { m =>
              ManifestIO.readManifest(io, m.manifestPath, base.currentSchema, spec,
                  m.keyMetadata)
                .filter(_.isAlive)
                .map(e => e.copy(status = ManifestStatus.Existing,
                  sequenceNumber = e.sequenceNumber.orElse(Some(m.sequenceNumber))))
            }
            Commits.writeManifest(io, base, names.next("mrw"), entries,
              base.currentSchema, spec, ManifestContent.Data, snapshotId, seq)
          }
        big ++ merged ++ rest
      }
    }
  }

  /** Compute and register the partition-statistics file for the current
    * snapshot (statistic_file.rs:60-71): the per-partition rollup
    * (records, files, bytes) that `partitionsDf` derives from manifests,
    * persisted as one parquet under metadata/ and registered in
    * `TableMetadata.partitionStatistics` — planners read the file
    * instead of re-walking manifests. Rollup derivation is manifest-only
    * (KB-scale Avro), no data IO. */
  def writePartitionStats(table: GraftTable,
      spark: org.apache.spark.sql.SparkSession): GraftTable = {
    val snapshotId = table.metadata.currentSnapshotId.getOrElse(0L)
    val dir = s"${table.location}/metadata/partition-stats-$snapshotId-" +
      java.util.UUID.randomUUID()
    table.partitionsDf(spark).coalesce(1).write.options(graft.SessionConf.WriteConf.toMap).parquet(dir)
    val path = table.io.listFiles(dir).map(_._1).find(_.endsWith(".parquet"))
      .getOrElse(throw new IllegalStateException(s"no stats parquet in $dir"))
    Transactions.updatePartitionStatistics(table,
      set = Seq(graft.spec.PartitionStatisticsFile(
        snapshotId, path, table.io.size(path))))
  }

  /** Read back the registered partition stats for a snapshot (current by
    * default). */
  def readPartitionStats(table: GraftTable,
      spark: org.apache.spark.sql.SparkSession,
      snapshotId: Option[Long] = None): org.apache.spark.sql.DataFrame = {
    val sid = snapshotId.orElse(table.metadata.currentSnapshotId).getOrElse(0L)
    val f = table.metadata.partitionStatisticsFor(sid).getOrElse(
      throw new IllegalArgumentException(s"no partition statistics for snapshot $sid"))
    spark.read.parquet(f.statisticsPath)
  }

  /** The last `retainLast` ancestors of the current snapshot (incl. it). */
  private def retainedIds(base: TableMetadata, retainLast: Int): Set[Long] = {
    val byId = base.snapshots.map(s => s.snapshotId -> s).toMap
    Iterator.iterate(base.currentSnapshot)(_.flatMap(_.parentSnapshotId).flatMap(byId.get))
      .takeWhile(_.isDefined).flatten.map(_.snapshotId)
      .take(math.max(1, retainLast)).toSet
  }

  /** Roll back to the snapshot that was CURRENT at `timestampMs`
    * (Iceberg's rollback_to_timestamp: snapshot-log resolution, same
    * rule as as-of-timestamp reads). */
  def rollbackToTimestamp(table: GraftTable, timestampMs: Long): GraftTable = {
    val id = table.metadata.snapshotLog.filter(_._2 <= timestampMs).lastOption
      .map(_._1).getOrElse(throw new IllegalArgumentException(
        s"no snapshot committed at or before $timestampMs"))
    rollbackTo(table, id)
  }

  /** Publish a staged WAP commit by its audit id (Iceberg's
    * publish_changes): resolve the snapshot whose summary carries
    * `wap.id = wapId`, then cherry-pick it onto the current head. */
  def publishChanges(table: GraftTable, wapId: String): GraftTable = {
    val matches = table.metadata.snapshots
      .filter(_.summary.get("wap.id").contains(wapId))
    require(matches.nonEmpty, s"no snapshot with wap.id = $wapId")
    require(matches.size == 1,
      s"wap.id $wapId is ambiguous: ${matches.map(_.snapshotId).mkString(", ")}")
    cherrypickSnapshot(table, matches.head.snapshotId)
  }

  /** Create an independent table at `dest` whose initial state IS the
    * source's current snapshot — no data is copied (Iceberg's `snapshot`
    * procedure): manifests address files absolutely, so the new table
    * reads the same files while its own future commits diverge freely
    * under a fresh location. The snapshot table gets `gc.enabled=false`
    * (again like Iceberg) so purge / orphan-GC on it can never delete
    * files the source still owns. */
  def snapshotTable(table: GraftTable, dest: String,
      destLocation: Option[String] = None): GraftTable = {
    val md = table.metadata
    val cur = md.currentSnapshot.getOrElse(
      throw new IllegalArgumentException(s"${table.name} has no current snapshot"))
    val now = System.currentTimeMillis()
    val snapMd = md.copy(
      tableUuid = java.util.UUID.randomUUID().toString,
      location = destLocation.getOrElse(s"${md.location}_snapshot_$dest"),
      snapshots = Seq(cur.copy(parentSnapshotId = None)),
      snapshotLog = Seq((cur.snapshotId, now)),
      metadataLog = Nil,
      refs = Map("main" -> graft.spec.SnapshotRef(cur.snapshotId, "branch")),
      statistics = md.statistics.filter(_.snapshotId == cur.snapshotId),
      partitionStatistics =
        md.partitionStatistics.filter(_.snapshotId == cur.snapshotId),
      properties = md.properties + ("gc.enabled" -> "false"),
      lastUpdatedMs = now)
    table.catalog.adoptTable(dest, snapMd)
    GraftTable.load(dest, table.catalog)
  }
}
