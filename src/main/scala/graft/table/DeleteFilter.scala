package graft.table

import org.apache.hadoop.conf.Configuration
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.execution.datasources.{FileFormat, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.GraftParquetFileFormat
import org.apache.spark.sql.types.{LongType, Metadata, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

import graft.meta.FileContent
import graft.puffin.{Puffin, Roaring64}

/** The merge-on-read deletes bound to ONE data file: parquet position-
  * delete files (path, size) that may hold rows for it, its deletion
  * vectors (puffin path, blob offset, blob length), and the equality-
  * delete groups sequenced after it. */
final case class FileDeletes(
    posFiles: Seq[(String, Long)] = Nil,
    dvs: Seq[(String, Long, Long)] = Nil,
    eqGroups: Seq[EqDeleteGroup] = Nil) {
  def hasPositions: Boolean = posFiles.nonEmpty || dvs.nonEmpty
  def isEmpty: Boolean = !hasPositions && eqGroups.isEmpty
}

object FileDeletes {
  val none: FileDeletes = FileDeletes()
}

/** One equality-delete group per (key set, sequence number, partition
  * scope). Scope follows the reference's DeleteFileIndex
  * (delete_file_index.rs:137-141): a delete stored under an UNPARTITIONED
  * spec is GLOBAL (how this engine writes eq deletes); one under a
  * partitioned spec applies only to data files of the same spec and
  * tuple — even when the tuple is all-null (a foreign writer's genuine
  * null partition), where treating it as global would over-delete every
  * partition. */
final case class EqDeleteGroup(keyNames: Seq[String], seq: Long,
    scope: Option[(Int, Seq[Any])], files: Seq[(String, Long)]) {
  /** Spec rule: a delete applies to rows with data_seq < delete_seq. */
  def appliesTo(dataSeq: Long, specId: Int, partition: Seq[Any]): Boolean =
    seq > dataSeq && scope.forall { case (sid, tup) =>
      sid == specId && tup == partition
    }
}

/** Per-scan delete plan, built on the driver from the scan's delete
  * manifests and its data files: data file (qualified path) → (data
  * sequence number, spec id, partition tuple), plus the delete-file
  * descriptors bound to each file. Descriptors only, no delete rows: the
  * DSv2 scan resolves it per task at planning, the V1 scan broadcasts it
  * to its filter expression and the delete files load lazily on the
  * executor. */
final class DeletePlan private (
    files: Map[String, (Long, Int, Seq[Any])],
    posFiles: Map[String, Seq[(String, Long)]],
    dvs: Map[String, Seq[(String, Long, Long)]],
    val eqGroups: Seq[EqDeleteGroup]) extends Serializable {

  /** Distinct equality-key column names across every group. */
  def keyNames: Seq[String] = eqGroups.flatMap(_.keyNames).distinct

  /** The deletes bound to `path` (a qualified data-file path). A path the
    * plan does not know is a caller bug — answering "no deletes" would
    * silently resurrect deleted rows. */
  def forFile(path: String): FileDeletes = {
    val (seq, specId, partition) = files.getOrElse(path,
      throw new IllegalStateException(s"data file $path is not in the scan's delete plan"))
    FileDeletes(posFiles.getOrElse(path, Nil), dvs.getOrElse(path, Nil),
      eqGroups.filter(_.appliesTo(seq, specId, partition)))
  }
}

object DeletePlan {

  /** A scanned data file: qualified path, data sequence number, spec id
    * and partition tuple. */
  type DataFileRef = (String, Long, Int, Seq[Any])

  /** Past this many equality groups a scan warns: every group is a key
    * set each task holds and probes for every row, until compaction folds
    * the deletes into the data. */
  private val ManyEqGroups = 20

  /** Equality-delete groups of `deletes`, ordered deterministically so
    * every task sees the same group list. */
  def eqGroupsOf(table: GraftTable, deletes: Seq[DeleteTask]): Seq[EqDeleteGroup] = {
    val groups = eqGroupsIn(table, deletes)
    if (groups.size > ManyEqGroups)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"table ${table.name}: ${groups.size} equality-delete groups are loaded " +
          "and probed per row by every scan — run rewriteDataFiles to fold " +
          "them into the data")
    groups
  }

  private def eqGroupsIn(table: GraftTable, deletes: Seq[DeleteTask]): Seq[EqDeleteGroup] =
    deletes.filter(_.file.content == FileContent.EqualityDeletes)
      .groupBy(d => (d.file.equalityIds, d.sequenceNumber,
        if (table.metadata.specById(d.specId).forall(_.fields.isEmpty)) None
        else Some((d.specId, d.file.partition)))).toSeq
      .map { case ((ids, seq, scope), g) =>
        EqDeleteGroup(ids.map(id => table.schema.idToField(id).name), seq, scope,
          g.map(d => (d.file.filePath, d.file.fileSizeInBytes)).sortBy(_._1))
      }
      .sortBy(g => (g.seq, g.keyNames.mkString(","), g.files.headOption.map(_._1)))

  /** Bind `deletes` to `files`: parquet position deletes through the
    * [[PosDeleteIndex]] (referenced-data-file + file_path bounds), DVs by
    * their referenced data file; `eqGroups` defaults to
    * [[eqGroupsOf]]. */
  def build(table: GraftTable, deletes: Seq[DeleteTask], files: Seq[DataFileRef],
      eqGroups: Option[Seq[EqDeleteGroup]] = None): DeletePlan = {
    val qualify: String => String = table.io.qualify
    val (dvTasks, posTasks) = deletes
      .filter(_.file.content == FileContent.PositionDeletes)
      .partition(_.file.fileFormat == "PUFFIN")
    val posIndex = new PosDeleteIndex(posTasks, qualify)
    val dvByFile = dvTasks.flatMap(d => d.file.referencedDataFile.map(r =>
        qualify(r) -> ((d.file.filePath, d.file.contentOffset.getOrElse(0L),
          d.file.contentSizeInBytes.getOrElse(0L)))))
      .groupMap(_._1)(_._2)
    val paths = files.map(_._1).distinct
    new DeletePlan(
      files.map { case (p, seq, specId, part) => p -> ((seq, specId, part)) }.toMap,
      if (posIndex.isEmpty) Map.empty
      else paths.flatMap { p =>
        val c = posIndex.candidatesFor(p)
        if (c.isEmpty) None
        else Some(p -> c.map(d => (d.file.filePath, d.file.fileSizeInBytes)))
      }.toMap,
      paths.flatMap(p => dvByFile.get(p).map(p -> _)).toMap,
      eqGroups.getOrElse(eqGroupsOf(table, deletes)))
  }
}

/** Serializable delete-file readers, built once per scan on the driver:
  * the position-delete parquet reader, one key-column reader per distinct
  * equality key set (resolved BY NAME — delete files carry write-time
  * column names, no field ids), and the scan's reader conf that DV blobs
  * load with (IO, encryption and `spark.hadoop.*` entries included). */
final class DeleteReaders(
    posRead: PartitionedFile => Iterator[InternalRow],
    eqReads: Map[Seq[String], PartitionedFile => Iterator[InternalRow]],
    dvConf: Broadcast[SerializableConfiguration]) extends Serializable {

  private[table] def readPositions(file: PartitionedFile): Iterator[InternalRow] =
    posRead(file)

  private[table] def readKeys(keyNames: Seq[String],
      file: PartitionedFile): Iterator[InternalRow] = eqReads(keyNames)(file)

  private[table] def dvIo: graft.io.FileIO = new graft.io.FileIO(dvConf.value.value)

  override def toString: String = s"DeleteReaders(eq=${eqReads.size})"
}

object DeleteReaders {

  /** Position-delete file schema: (file_path string, pos long). */
  private val PosDeleteSchema = StructType(Seq(
    StructField("file_path", StringType, nullable = false),
    StructField("pos", LongType, nullable = false)))

  /** `keySchema` types every equality-key column named in `keySets`;
    * `conf` is the scan's reader conf (field-id, IO and decryption
    * entries); `scanSpark` the scan-configured session clone. */
  def build(scanSpark: SparkSession, keySchema: StructType,
      keySets: Seq[Seq[String]], conf: () => Configuration): DeleteReaders = {
    val fmt = new GraftParquetFileFormat()
    val rowOpts = Map(FileFormat.OPTION_RETURNING_BATCH -> "false")
    val empty = StructType(Nil)
    def reader(schema: StructType) =
      fmt.buildReaderWithPartitionValues(scanSpark, schema, empty, schema,
        Nil, rowOpts, conf())
    val eqReads = keySets.map { names =>
      names -> reader(StructType(names.map(n =>
        keySchema(n).copy(metadata = Metadata.empty))))
    }.toMap
    new DeleteReaders(reader(PosDeleteSchema), eqReads,
      scanSpark.sparkContext.broadcast(new SerializableConfiguration(conf())))
  }
}

/** Executor-side delete state for ONE data file, shared by both readers
  * (the reference's delete_filter.rs / caching_delete_file_loader.rs
  * shape): position deletes and DVs become one row bitmap, loaded on
  * first use; each equality group becomes a key set held by the task for
  * every file it reads (`taskSets`) and cached per JVM, so N tasks on one
  * executor load each delete group once.
  *
  * `rowSchema` types the rows handed to [[isDeleted]]/[[eqDeleted]]; it
  * must contain every key column of the file's groups. `path` is the
  * rendering the position-delete rows are compared against. */
final class DeleteFilter(path: String, deletes: FileDeletes,
    rowSchema: StructType, readers: DeleteReaders,
    taskSets: DeleteFilter.TaskEqSets) {

  /** Delete-file bytes actually loaded (equality groups on a JVM-cache
    * miss only). */
  var bytesRead: Long = 0L

  private lazy val positions: Roaring64 = {
    var bm = Roaring64.fromPositions(Nil)
    if (deletes.dvs.nonEmpty) {
      val io = readers.dvIo
      deletes.dvs.foreach { case (puffinPath, offset, len) =>
        bytesRead += len
        val meta = Puffin.BlobMetadata(Puffin.DeletionVectorV1, Nil, 0L, 0L,
          offset, len, Map.empty)
        bm = bm.or(Puffin.dvDeserialize(Puffin.readBlob(io, puffinPath, meta)))
      }
    }
    if (deletes.posFiles.nonEmpty) {
      val mine = scala.collection.mutable.ArrayBuffer[Long]()
      val target = UTF8String.fromString(path)
      deletes.posFiles.foreach { case (dp, dsize) =>
        bytesRead += dsize
        val it = readers.readPositions(DeleteFilter.wholeFile(dp, dsize))
        while (it.hasNext) {
          val r = it.next()
          if (r.getUTF8String(0) == target) mine += r.getLong(1)
        }
      }
      if (mine.nonEmpty) bm = bm.or(Roaring64.fromPositions(mine))
    }
    bm
  }

  /** Per equality group: (row key projection, key ordinals, deleted key
    * set). */
  private lazy val eqSets
      : Seq[(UnsafeProjection, Array[Int], java.util.HashSet[UnsafeRow])] =
    deletes.eqGroups.map { g =>
      val ords = g.keyNames.map(rowSchema.fieldIndex).toArray
      val keySchema = StructType(ords.toSeq.map(rowSchema(_)))
      val set = taskSets.get((g.keyNames, g.files)) {
        bytesRead += g.files.map(_._2).sum // loaded fresh, not from cache
        DeleteFilter.eqFilesLoaded.addAndGet(g.files.size)
        val s = new java.util.HashSet[UnsafeRow]()
        val proj = UnsafeProjection.create(keySchema)
        val delOrds = ords.indices.toArray
        g.files.foreach { case (dp, dsize) =>
          val it = readers.readKeys(g.keyNames, DeleteFilter.wholeFile(dp, dsize))
          while (it.hasNext) {
            val r = it.next()
            // a delete row with a null key never matches (SQL `=`
            // semantics — delete_filter.rs:190)
            if (!DeleteFilter.anyNull(r, delOrds)) s.add(proj(r).copy())
          }
        }
        s
      }
      val rowProj = UnsafeProjection.create(ords.toSeq.map(i =>
        BoundReference(i, rowSchema(i).dataType, rowSchema(i).nullable): Expression))
      (rowProj, ords, set)
    }

  def isEmpty: Boolean = deletes.isEmpty

  /** True when a position delete or DV covers row `rowIndex`. */
  def posDeleted(rowIndex: Long): Boolean =
    deletes.hasPositions && positions.contains(rowIndex)

  /** True when some applicable equality group holds this row's key tuple.
    * Rows with a null in a key column are never deleted. */
  def eqDeleted(row: InternalRow): Boolean = {
    if (deletes.eqGroups.isEmpty) return false
    var gi = 0
    while (gi < eqSets.length) {
      val (proj, ords, set) = eqSets(gi)
      if (!DeleteFilter.anyNull(row, ords) && set.contains(proj(row))) return true
      gi += 1
    }
    false
  }

  def isDeleted(rowIndex: Long, row: InternalRow): Boolean =
    posDeleted(rowIndex) || eqDeleted(row)
}

object DeleteFilter {

  private def wholeFile(path: String, size: Long): PartitionedFile =
    PartitionedFile(InternalRow.empty, SparkPath.fromPathString(path), 0L, size,
      Array.empty, 0L, size, Map.empty)

  private def anyNull(row: InternalRow, ords: Array[Int]): Boolean = {
    var i = 0
    while (i < ords.length) { if (row.isNullAt(ords(i))) return true; i += 1 }
    false
  }

  /** JVM-wide equality-delete key-set cache: keyed by (key names, delete
    * file list) — distinct snapshots/groups never collide because the file
    * list identifies the group's content. Entry count is LRU-capped so a
    * long-lived executor serving many snapshots cannot accrete stale key
    * sets, and two concurrent scans whose combined group count exceeds the
    * cap evict only the coldest entries rather than thrashing each
    * other's hot ones. */
  private val MaxCachedGroups = 32
  private type EqKey = (Seq[String], Seq[(String, Long)])
  private type EqSet = java.util.HashSet[UnsafeRow]
  private val cache = new java.util.LinkedHashMap[EqKey, EqSet](64, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[EqKey, EqSet]): Boolean =
      size() > MaxCachedGroups
  }

  /** Loads run OUTSIDE the map lock (a load reads delete parquet — holding
    * the lock would serialize distinct groups across tasks); a racing
    * duplicate load is idempotent and the first insert wins. */
  private def eqSetLoad(key: EqKey)(load: => EqSet): EqSet = {
    cache.synchronized {
      val hit = cache.get(key)
      if (hit != null) return hit
    }
    val loaded = load
    cache.synchronized {
      val prior = cache.get(key)
      if (prior != null) prior
      else { cache.put(key, loaded); loaded }
    }
  }

  /** Equality-delete files this JVM has read into key sets (diagnostics:
    * a scan should read each group's files at most once per task). */
  private[graft] val eqFilesLoaded = new java.util.concurrent.atomic.AtomicLong

  /** The key sets ONE task has resolved, by group, in front of the JVM
    * cache: moving to the task's next data file never goes back to the
    * LRU, which a scan with more groups than [[MaxCachedGroups]] would
    * otherwise thrash into re-reading every group for every file. Held
    * for the task's lifetime; single-threaded, like the task. */
  final class TaskEqSets {
    private val sets = new java.util.HashMap[EqKey, EqSet]()
    private[DeleteFilter] def get(key: EqKey)(load: => EqSet): EqSet = {
      var s = sets.get(key)
      if (s == null) { s = eqSetLoad(key)(load); sets.put(key, s) }
      s
    }
  }
}
