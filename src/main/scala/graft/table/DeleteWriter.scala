package graft.table

import java.util.UUID

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.expr.Predicate
import graft.meta._

/** Merge-on-read delete writers (reference: position deletes
  * arrow/reader/positional_deletes.rs:35, equality deletes
  * writer/base_writer/equality_delete_writer.rs:39 + delete semantics
  * arrow/delete_filter.rs:190, caching_delete_file_loader.rs:421-424).
  *
  * Position deletes are (file_path, pos) parquet rows — the scan turns
  * them into a per-file row bitmap over `_metadata.{file_path,row_index}`
  * ([[DeleteFilter]]). Equality deletes are projected key-column rows
  * with `equality_ids`; the scan drops rows whose key is in the delete
  * set, scoped to `data_sequence_number < delete_sequence_number`, and a
  * row whose key contains null is never deleted (null != null, spec
  * rule).
  */
object DeleteWriter {

  /** Reserved field ids of the position-delete file schema
    * (metadata_columns.rs:84-87). */
  val FilePathFieldId = Int.MaxValue - 101
  val PosFieldId = Int.MaxValue - 102

  /** Row-level `DELETE WHERE predicate` executed as a MoR commit with the
    * whole-file fast path: files whose stats PROVE every row matches
    * (StrictMetricsEvaluator) are dropped at the manifest level — no
    * delete rows written, no read-time delete cost — and only the
    * boundary files get (file_path, pos) position deletes. At 100 TB a
    * partition-aligned DELETE (the common retention case) becomes pure
    * metadata. Mirrors the reference delete planning's
    * strict/inclusive split. */
  def deleteWhere(table: GraftTable, predicate: Predicate,
      spark: SparkSession): GraftTable = {
    val bound = Predicate.bind(predicate, table.schema)
    val tasks = table.newScan().withFilter(bound).planFiles()
    if (tasks.isEmpty) return table

    val (whole, partial) = tasks.partition(t =>
      graft.expr.StrictMetricsEvaluator.fileMustMatch(bound, t.file, table.schema))

    // position deletes for the boundary files, staged pre-commit
    val commitUuid = UUID.randomUUID().toString
    val posFiles =
      if (partial.isEmpty) Nil
      else stageDeleteFiles(table, matchingPositions(table, partial, bound, spark)
        .sortWithinPartitions("file_path", "pos"), FileContent.PositionDeletes, Nil,
        commitUuid)
    if (whole.isEmpty && posFiles.isEmpty) return table

    val wholePaths = whole.map(_.file.filePath).toSet
    Commits.commit(table, "delete", commitUuid) { base =>
      // positions reference files by (path, row index): a concurrently
      // rewritten target would silently resurrect its rows
      Commits.validateReplace(table.io, base, table.metadata.currentSnapshotId,
        wholePaths ++ partial.map(_.file.filePath),
        Commits.conflictFilterFor(base, "delete", bound), table.schema)
      Commits.FileChanges(addedDeletes = posFiles, removedData = wholePaths)
    }
  }

  /** (file_path, pos) of the live rows of `tasks` matching `bound`, read
    * through the table's own scan: field-id resolution, or the name
    * mapping for registered id-less files (a plain parquet read with the
    * id-carrying schema refuses those files), with existing deletes
    * applied. The frame runs under the caller's session (its shuffle and
    * AQE settings); the relation keeps the scan conf. */
  private def matchingPositions(table: GraftTable, tasks: Seq[FileScanTask],
      bound: Predicate, spark: SparkSession): DataFrame =
    graft.SessionConf.bind(spark, table.newScan().withMetadataColumns()
      .readTasks(spark, tasks)
      .filter(Predicate.toColumn(bound, table.schema))
      .select(col("_file").as("file_path"), col("_pos").as("pos")))

  /** Write delete rows — (file_path, pos) for position deletes, the key
    * columns for equality deletes — as parquet under the commit's
    * deletes directory and return their descriptors from the footers (no
    * commit). Delete files are engine-global: an EMPTY partition tuple,
    * committed under the unpartitioned spec — the spec (and the
    * reference's DeleteFileIndex, delete_file_index.rs:137-141) read
    * "global" off the spec having no fields; an all-null tuple under a
    * partitioned spec would scope them to the null partition. Empty
    * files are skipped; when nothing is left the directory goes too. */
  private[table] def stageDeleteFiles(table: GraftTable, rows: DataFrame,
      content: Int, equalityIds: Seq[Int], commitUuid: String): Seq[DataFile] = {
    val encConf = graft.crypto.Encryption.confFor(table.metadata.properties)
    val outDir = Locations.commitDir(table, "deletes", commitUuid)
    rows.write.options(graft.SessionConf.WriteConf.toMap).options(encConf).option("compression", "zstd").parquet(outDir)
    val files = table.io.listFiles(outDir).filter(_._1.endsWith(".parquet"))
      .map { case (p, len) =>
        val (count, bounds) =
          if (content == FileContent.PositionDeletes) posDeleteStats(p, encConf)
          else (countRows(p, encConf), None)
        withPathBounds(DataFile(
          content = content,
          filePath = p,
          fileFormat = "PARQUET",
          partition = Nil,
          recordCount = count,
          fileSizeInBytes = len,
          equalityIds = equalityIds), bounds)
      }.filter(_.recordCount > 0)
    if (files.isEmpty) scala.util.Try(table.io.delete(outDir, recursive = true))
    files
  }

  /** Row-level `DELETE WHERE` committed as v3 deletion vectors: Puffin
    * files holding a roaring-bitmap blob per touched data file
    * (delete_vector.rs:27 + puffin writer). Bitmaps are built AND WRITTEN
    * ON THE EXECUTORS — one Puffin container per write task, so a
    * predicate delete touching 100k files with dense bitmaps never ships
    * a serialized blob through the driver; only (path, referenced file,
    * cardinality, offset, length) descriptors are collected. Blob-level
    * snapshot-id is written as -1 (unassigned) since the container is
    * sealed before the commit allocates ids — the manifest entries carry
    * the authoritative snapshot/sequence numbers. */
  def deleteWhereDV(table: GraftTable, predicate: Predicate,
      spark: SparkSession): GraftTable = {
    import graft.puffin.{Puffin, Roaring64}
    val bound = Predicate.bind(predicate, table.schema)
    val tasks = table.newScan().withFilter(bound).planFiles()
    if (tasks.isEmpty) return table

    val matches = matchingPositions(table, tasks, bound, spark)

    import spark.implicits._
    val commitUuid = UUID.randomUUID().toString
    val outDir = Locations.commitDir(table, "deletes", commitUuid)
    val conf = new org.apache.spark.util.SerializableConfiguration(table.io.conf)

    // (puffinPath, referencedFile, cardinality, blobOffset, blobLength)
    val descs: Seq[(String, String, Long, Long, Long)] = matches
      .as[(String, Long)]
      .groupByKey(_._1)
      .mapGroups { (file, rows) =>
        val bm = Roaring64.fromPositions(rows.map(_._2).toSeq)
        (file, Puffin.dvSerialize(bm), bm.cardinality)
      }
      .mapPartitions { it =>
        if (!it.hasNext) Iterator.empty
        else {
          val io = new graft.io.FileIO(conf.value)
          val blobs = it.toSeq
          val path = s"$outDir/dv-${UUID.randomUUID()}.puffin"
          val metas = Puffin.write(io, path, blobs.map { case (file, data, card) =>
            // snapshot-id AND sequence-number both -1 (unassigned, Java's
            // convention): the container is sealed before the commit — a
            // CAS retry can shift the committed sequence, so the manifest
            // entry alone carries the authoritative numbers
            Puffin.Blob(Puffin.DeletionVectorV1, Nil, -1L, -1L, data,
              Map("referenced-data-file" -> file, "cardinality" -> card.toString))
          })
          blobs.zip(metas).iterator.map { case ((file, _, card), meta) =>
            (path, file, card, meta.offset, meta.length)
          }
        }
      }
      .collect().toSeq.sortBy(_._2)
    if (descs.isEmpty) {
      scala.util.Try(table.io.delete(outDir, recursive = true))
      return table
    }

    Commits.commit(table, "delete", commitUuid) { base =>
      // v3 invariant: a data file carries at most ONE deletion vector, and a
      // new DV must supersede (contain) the old (delete_vector.rs semantics).
      // Fold any existing DV for a touched file into the new bitmap; the
      // producer tombstones the superseded entries. Runs per attempt so
      // optimistic retries merge against the refreshed base.
      val touched = descs.map(_._2).toSet
      // DV positions address the touched files: targets must still be alive
      Commits.validateReplace(table.io, base, table.metadata.currentSnapshotId,
        touched, Commits.conflictFilterFor(base, "delete", bound), table.schema)
      val superseded: Seq[DataFile] = Commits.baseManifests(table.io, base)
        .filter(_.content == ManifestContent.Deletes)
        .flatMap(ManifestCacheKeyed.read(table.io, base, _))
        .filter(e => e.isAlive && e.dataFile.fileFormat == "PUFFIN" &&
          e.dataFile.referencedDataFile.exists(touched))
        .map(_.dataFile)
      val oldDvs = superseded.map(f => f.referencedDataFile.get -> f).toMap

      // v3 invariant: the new DV must CONTAIN any DV it supersedes. Files
      // that already carry one get old ∪ new merged EXECUTOR-SIDE (a
      // small job over just those files, re-run per CAS attempt against
      // the refreshed base) into fresh per-task Puffin files; the common
      // no-prior-DV path keeps its already-written containers untouched.
      val needMerge = descs.filter(d => oldDvs.contains(d._2))
      val mergedDescs: Map[String, (String, Long, Long, Long)] =
        if (needMerge.isEmpty) Map.empty
        else {
          val inputs = needMerge.map { case (newPath, file, _, newOff, newLen) =>
            val old = oldDvs(file)
            (file, newPath, newOff, newLen, old.filePath,
              old.contentOffset.getOrElse(0L), old.contentSizeInBytes.getOrElse(0L))
          }
          spark.sparkContext
            .parallelize(inputs, math.max(1, math.min(inputs.size, 64)))
            .mapPartitions { it =>
              val items = it.toSeq
              if (items.isEmpty) Iterator.empty
              else {
                val io = new graft.io.FileIO(conf.value)
                def blob(p: String, off: Long, len: Long) =
                  Puffin.dvDeserialize(Puffin.readBlob(io, p, Puffin.BlobMetadata(
                    Puffin.DeletionVectorV1, Nil, 0L, 0L, off, len, Map.empty)))
                val merged = items.map { case (file, np, no, nl, op, oo, ol) =>
                  val bm = blob(np, no, nl).or(blob(op, oo, ol))
                  (file, Puffin.dvSerialize(bm), bm.cardinality)
                }
                val path = s"$outDir/dv-merge-${UUID.randomUUID()}.puffin"
                val metas = Puffin.write(io, path,
                  merged.map { case (file, data, card) =>
                    Puffin.Blob(Puffin.DeletionVectorV1, Nil, -1L, -1L, data,
                      Map("referenced-data-file" -> file,
                        "cardinality" -> card.toString))
                  })
                merged.zip(metas).iterator.map { case ((file, _, card), meta) =>
                  (file, (path, card, meta.offset, meta.length))
                }
              }
            }.collect().toMap
        }

      val sizeCache = scala.collection.mutable.HashMap[String, Long]()
      def puffinLen(p: String) = sizeCache.getOrElseUpdate(p, table.io.size(p))
      val files = descs.map { case (path0, file, card0, off0, len0) =>
        val (p, card, off, len) =
          mergedDescs.get(file).map(m => (m._1, m._2, m._3, m._4))
            .getOrElse((path0, card0, off0, len0))
        DataFile(
          content = FileContent.PositionDeletes,
          filePath = p,
          fileFormat = "PUFFIN",
          partition = Nil, // global: committed under the unpartitioned spec
          recordCount = card,
          fileSizeInBytes = puffinLen(p),
          referencedDataFile = Some(file),
          contentOffset = Some(off),
          contentSizeInBytes = Some(len))
      }
      Commits.FileChanges(addedDeletes = files,
        removedDeletes = superseded.map(Commits.deleteKey).toSet)
    }
  }

  /** Atomic UPSERT (the Flink/iceberg upsert-mode commit shape): ONE
    * `overwrite` snapshot carrying an equality delete on `keyCols` for
    * every incoming key AND the incoming rows as new data files, both at
    * the commit's sequence number. Old rows with matching keys sit at a
    * LOWER data sequence and fall to the delete; the new rows share the
    * delete's sequence and survive (eq deletes bind strictly to
    * seq < delete_seq); a reader can never observe the delete without
    * the insert. Rows with a NULL key are plain inserts (null never
    * matches an equality delete — spec rule), mirroring Flink.
    *
    * 100 TB shape: the data write is the fanout append path; the delete
    * side writes only the (distinct) key columns. No read of the
    * existing table at all — cheaper than MERGE for pure upserts since
    * no target files are scanned or rewritten; scans pay one eq-delete
    * load until compaction folds it. */
  /** `validateFromSnapshot`: when set, the commit VALIDATES the table
    * still sits at that snapshot and throws
    * [[graft.table.StaleBaseSnapshot]] otherwise — for callers whose
    * `df` was DERIVED from a read of the table (read-modify-write, e.g.
    * the inverted-index fold), where a CAS retry against a moved base
    * would silently lose the concurrent writer's rows. */
  /** `deleteKeys`: an OPTIONAL pre-computed frame whose key-column
    * values equal `df`'s exactly (e.g. the fold delta a merge was
    * derived from, already materialized) — the delete side then writes
    * from it instead of re-executing `df`'s whole plan (which for the
    * read-modify-write folds re-reads the pruned old-row scan a second
    * time per fold). Rows may repeat; extra columns are dropped. */
  def upsert(table: GraftTable, df: DataFrame, keyCols: Seq[String],
      spark: SparkSession,
      extraSummary: Map[String, String] = Map.empty,
      validateFromSnapshot: Option[Option[Long]] = None,
      deleteKeys: Option[DataFrame] = None): GraftTable = {
    val ids = keyCols.map(n => table.schema.findField(n).getOrElse(
      throw new IllegalArgumentException(s"unknown upsert key column: $n")).id)
    val commitUuid = UUID.randomUUID().toString
    // the data write and the delete-key write are INDEPENDENT Spark jobs
    // (both derive from the caller's frames; the commit below consumes
    // both) — overlap them so the fold's critical path pays one write
    // latency, not two (guide §2.6; actions were only sequential because
    // this code called them sequentially)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val dataF = Future(AppendWriter.writeDataFiles(table, df, commitUuid))
    val delFiles =
      try stageDeleteFiles(table, deleteKeys.getOrElse(df)
        .select(keyCols.map(col): _*).na.drop("any", keyCols).distinct(),
        FileContent.EqualityDeletes, ids, commitUuid)
      catch {
        case e: Throwable =>
          try Await.result(dataF, Duration.Inf).foreach(f =>
            try table.io.delete(f.filePath) catch { case _: Throwable => () })
          catch { case _: Throwable => () }
          throw e
      }
    def dropKeys(): Unit =
      try table.io.delete(Locations.commitDir(table, "deletes", commitUuid), recursive = true)
      catch { case _: Throwable => () }
    val dataFiles =
      try Await.result(dataF, Duration.Inf)
      catch {
        case e: Throwable =>
          // the key write already landed: reclaim it before rethrowing
          dropKeys()
          throw e
      }
    if (dataFiles.isEmpty) {
      // no-op fold: reclaim the (already written) delete keys
      dropKeys()
      return table
    }

    try Commits.commit(table, "overwrite", commitUuid, extraSummary) { base =>
      validateFromSnapshot.foreach { expected =>
        if (base.currentSnapshotId != expected)
          throw new StaleBaseSnapshot(
            s"table ${table.name}: base moved ${expected.orNull} -> " +
              s"${base.currentSnapshotId.orNull} since the caller's read — " +
              "re-derive and retry")
      }
      Commits.FileChanges(addedData = Seq(table.spec.specId -> dataFiles),
        addedDeletes = delFiles)
    } catch {
      case e: StaleBaseSnapshot =>
        // validation precedes every manifest write, so nothing landed:
        // reclaim this attempt's staged data + delete files (the caller
        // re-derives and stages a fresh set; orphan sweep is backstop)
        (dataFiles ++ delFiles).foreach(f =>
          try table.io.delete(f.filePath) catch { case _: Throwable => () })
        throw e
    }
  }

  /** Equality-delete commit: `keys` rows (columns = `keyCols`) mark any data
    * row with equal key values in earlier sequence numbers as deleted. */
  def equalityDelete(table: GraftTable, keys: DataFrame, keyCols: Seq[String],
      spark: SparkSession): GraftTable = {
    val ids = keyCols.map(n => table.schema.findField(n).getOrElse(
      throw new IllegalArgumentException(s"unknown equality column: $n")).id)
    val commitUuid = UUID.randomUUID().toString
    val files = stageDeleteFiles(table, keys.select(keyCols.map(col): _*).distinct(),
      FileContent.EqualityDeletes, ids, commitUuid)
    if (files.isEmpty) table
    else Commits.commit(table, "delete", commitUuid)(
      _ => Commits.FileChanges(addedDeletes = files))
  }

  /** Footer-only row count (delete commits write few files; driver-side).
    * HadoopReadOptions resolves decryption via the crypto factory when the
    * table is encrypted. */
  private[table] def countRows(path: String, encConf: Map[String, String] = Map.empty): Long = {
    val conf = graft.io.FileIO.readOnlyConf(encConf)
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(path), conf),
      org.apache.parquet.HadoopReadOptions.builder(conf, new Path(path)).build())
    try r.getRecordCount finally r.close()
  }

  /** Footer-only (row count, file_path min/max) for a staged position-
    * delete parquet file. The bounds key the DataFile's lower/upper maps
    * under the reserved file_path field id so planners can bind the
    * delete file to the data files it can touch without opening it
    * (the reference's DeleteFileIndex evaluates delete files against
    * data-file paths the same way). */
  private[table] def posDeleteStats(path: String,
      encConf: Map[String, String] = Map.empty): (Long, Option[(String, String)]) = {
    val conf = graft.io.FileIO.readOnlyConf(encConf)
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(path), conf),
      org.apache.parquet.HadoopReadOptions.builder(conf, new Path(path)).build())
    try {
      import scala.jdk.CollectionConverters._
      var lo: String = null
      var hi: String = null
      r.getFooter.getBlocks.asScala.foreach { block =>
        block.getColumns.asScala
          .filter(_.getPath.toDotString == "file_path")
          .foreach { c =>
            val s = c.getStatistics
            if (s != null && !s.isEmpty && s.hasNonNullValue) {
              val mn = new String(s.getMinBytes, java.nio.charset.StandardCharsets.UTF_8)
              val mx = new String(s.getMaxBytes, java.nio.charset.StandardCharsets.UTF_8)
              if (lo == null || mn < lo) lo = mn
              if (hi == null || mx > hi) hi = mx
            }
          }
      }
      (r.getRecordCount, Option(lo).zip(Option(hi)))
    } finally r.close()
  }

  /** Attach file_path bounds (+ referenced-data-file when the whole file
    * targets ONE data file) to a position-delete DataFile. */
  private[graft] def withPathBounds(f: DataFile,
      bounds: Option[(String, String)]): DataFile = bounds match {
    case Some((lo, hi)) => f.copy(
      lowerBounds = f.lowerBounds + (ReservedFieldIds.FilePath -> lo),
      upperBounds = f.upperBounds + (ReservedFieldIds.FilePath -> hi),
      referencedDataFile =
        f.referencedDataFile.orElse(if (lo == hi) Some(lo) else None))
    case None => f
  }
}
