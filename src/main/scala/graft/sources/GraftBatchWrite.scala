package graft.sources

import java.util.UUID

import scala.collection.mutable

import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
import org.apache.spark.sql.connector.expressions.{Expressions, SortOrder => V2SortOrder}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RequiresDistributionAndOrdering, SupportsTruncate, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.execution.datasources.{OutputWriter, OutputWriterFactory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.SerializableConfiguration

import graft.meta.{DataFile, ManifestContent, ManifestIO}
import graft.spec.{IcebergType, Transform}
import graft.spec.IcebergType._
import graft.table.{AppendWriter, Commits, GraftTable, Locations}

/** Native DSv2 batch WRITE path — rows stay `InternalRow` from the query
  * straight into Spark's parquet `OutputWriter` on the executors (the
  * write-side twin of `GraftBatchScan`; reference IcebergWriteExec,
  * crates/integrations/datafusion/src/physical_plan/write.rs).
  *
  * Each task runs a FANOUT writer: the partition tuple is computed per
  * row with the spec's own transform evaluation (`Transform.applyValue`,
  * UTC semantics baked in — no session-timezone dependence), and rows are
  * routed to one open parquet file per partition value. Identity specs
  * additionally declare a clustered distribution
  * (`RequiresDistributionAndOrdering`), so Spark shuffles rows by
  * partition first and each task holds O(1) open files; other transforms
  * rely on fanout alone (correct for any row order).
  *
  * On task commit the writer harvests its own footers into `DataFile`
  * descriptors (`AppendWriter.harvestDataFile` — stats never hit the
  * driver until reduced), and the driver-side commit is the same
  * optimistic-CAS snapshot machinery as the DataFrame path:
  *   - append        → fast-append manifest (INSERT INTO)
  *   - truncate      → whole-table overwrite (INSERT OVERWRITE)
  *   - replace-files → drop the files the row-level operation's scan
  *     planned, add the rewritten ones (SQL DELETE/UPDATE/MERGE, CoW)
  */
final class GraftWriteBuilder(table: GraftTable, writeSchema: StructType,
    replaceOp: Option[GraftRowLevelOperation] = None,
    queryId: Option[String] = None,
    viaProvider: Boolean = false)
    extends WriteBuilder
    with org.apache.spark.sql.connector.write.SupportsOverwrite
    with org.apache.spark.sql.connector.write.SupportsDynamicOverwrite {

  private var truncateFirst = false
  private var overwritePred: Option[graft.expr.Predicate] = None
  private var dynamicOverwrite = false

  override def truncate(): WriteBuilder = { truncateFirst = true; this }

  /** Static `INSERT OVERWRITE ... PARTITION (p = v)` / overwrite-by-
    * filter: the filter must translate EXACTLY (a weakened translation
    * would drop extra rows). AlwaysTrue folds to the truncate path. */
  override def overwrite(filters: Array[org.apache.spark.sql.sources.Filter])
      : WriteBuilder = {
    val pred = graft.expr.SparkFilters.exactConjunction(filters.toSeq, table.schema)
      .getOrElse(throw new UnsupportedOperationException(
        s"overwrite filter not exactly translatable: ${filters.mkString(", ")}"))
    if (pred == graft.expr.AlwaysTrue) truncateFirst = true
    else overwritePred = Some(pred)
    this
  }

  override def overwriteDynamicPartitions(): WriteBuilder = {
    dynamicOverwrite = true; this
  }

  override def build(): Write = {
    val mode: GraftWriteMode = replaceOp match {
      case Some(op) => GraftWriteMode.ReplaceScanned(op)
      case None if dynamicOverwrite => GraftWriteMode.DynamicOverwrite
      case None if overwritePred.isDefined =>
        GraftWriteMode.OverwriteFilter(overwritePred.get)
      case None if truncateFirst => GraftWriteMode.Truncate
      case None => GraftWriteMode.Append
    }
    new GraftWrite(table, writeSchema, mode, queryId, viaProvider)
  }
}

private[sources] sealed trait GraftWriteMode
private[sources] object GraftWriteMode {
  case object Append extends GraftWriteMode
  case object Truncate extends GraftWriteMode
  /** Static overwrite: drop the files the filter PROVABLY fully covers;
    * refuse on partial-file matches (the Iceberg contract — a static
    * overwrite must align with whole files/partitions). */
  final case class OverwriteFilter(pred: graft.expr.Predicate) extends GraftWriteMode
  /** Dynamic overwrite: replace exactly the partitions the incoming
    * data touches. */
  case object DynamicOverwrite extends GraftWriteMode
  final case class ReplaceScanned(op: GraftRowLevelOperation) extends GraftWriteMode
}

final class GraftWrite(table: GraftTable, writeSchema: StructType,
    mode: GraftWriteMode, queryId: Option[String] = None,
    viaProvider: Boolean = false)
    extends Write with RequiresDistributionAndOrdering {

  /** Cluster the incoming rows toward the PARTITION layout (hash
    * distribution): one shuffle bounds the file count at
    * O(shuffle-tasks + partitions) instead of O(read-tasks × partitions)
    * — the small-file difference at 100 TB. Temporal transforms shuffle
    * on the transform itself (one task per day/month); bucket/truncate
    * shuffle on the SOURCE column — a strictly finer clustering with the
    * same file bound per task, chosen because `bucket` only resolves
    * through a FunctionCatalog, which the path-based `format("graft")`
    * write path doesn't have (Spark: "bucket(4, id) is not currently
    * supported" without one); on the provider path (no catalog at all)
    * temporal transforms don't resolve either AND identity-on-timestamp
    * would scatter each day across every task (a shuffle for nothing), so
    * temporal fields contribute no clustering there — an all-temporal
    * spec on the provider path stays unspecified, exactly the previous
    * behavior. Void fields distribute nothing. */
  override def requiredDistribution(): Distribution = {
    import org.apache.spark.sql.connector.expressions.Expression
    val spec = table.spec
    val exprs: Seq[Expression] = spec.fields.flatMap { f =>
      val name = table.schema.idToField(f.sourceId).name
      f.transform match {
        case Transform.Identity | Transform.Bucket(_) | Transform.Truncate(_) =>
          Some(Expressions.identity(name))
        case Transform.Year if !viaProvider => Some(Expressions.years(name))
        case Transform.Month if !viaProvider => Some(Expressions.months(name))
        case Transform.Day if !viaProvider => Some(Expressions.days(name))
        case Transform.Hour if !viaProvider => Some(Expressions.hours(name))
        case _ => None // provider-path temporal (unresolvable) and void
      }
    }
    if (exprs.isEmpty) Distributions.unspecified()
    else Distributions.clustered(exprs.toArray)
  }

  override def requiredOrdering(): Array[V2SortOrder] = Array.empty

  override def toBatch: BatchWrite = new GraftBatchWrite(table, writeSchema, mode)

  /** Native streaming sink (`df.writeStream.format("graft")` /
    * `.toTable`): each micro-batch is one atomic append commit whose
    * snapshot summary records (query-id, epoch-id); a checkpoint-rewind
    * replay of an already-committed epoch is skipped — the same
    * exactly-once contract as the foreachBatch path
    * (streaming/GraftStreamWriter), without leaving the DSv2 surface.
    * Only append mode: streaming truncate/CoW have no epoch semantics
    * here. */
  override def toStreaming: org.apache.spark.sql.connector.write.streaming.StreamingWrite = {
    require(mode == GraftWriteMode.Append,
      s"graft streaming sink supports append output mode only, got $mode")
    val qid = queryId.getOrElse(
      throw new IllegalStateException("streaming write without a query id"))
    new GraftStreamingWrite(table, writeSchema, qid)
  }

  override def description(): String = s"graft-write ${table.name} $mode"
}

/** Micro-batch streaming writes: tasks reuse the batch fanout writers
  * (epoch id folded into the task path for uniqueness), the driver
  * commits one append per epoch with exactly-once replay skip. */
final class GraftStreamingWrite(table: GraftTable, writeSchema: StructType,
    queryId: String)
    extends org.apache.spark.sql.connector.write.streaming.StreamingWrite {
  import org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory

  private val commitUuid = UUID.randomUUID().toString

  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): StreamingDataWriterFactory = {
    val batch = new GraftBatchWrite(table, writeSchema, GraftWriteMode.Append)
    val f = batch.createBatchWriterFactory(info)
    new StreamingDataWriterFactory {
      override def createWriter(partitionId: Int, taskId: Long,
          epochId: Long): DataWriter[org.apache.spark.sql.catalyst.InternalRow] =
        // fold the epoch into the task id so two epochs' files never collide
        f.createWriter(partitionId, taskId * 31L + epochId)
    }
  }

  override def commit(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit = {
    val files: Seq[graft.meta.DataFile] =
      messages.toSeq.collect { case m: GraftCommitMessage => m.files }.flatten
    val live = GraftTable.load(table.name, table.catalog)
    val replayed = live.metadata.snapshots.exists(s =>
      s.summary.get(graft.streaming.GraftStreamWriter.QueryIdKey).contains(queryId) &&
        s.summary.get(graft.streaming.GraftStreamWriter.BatchIdKey)
          .exists(_.toLong >= epochId))
    if (!replayed && files.nonEmpty) {
      graft.table.AppendWriter.commitAppend(table, files, s"$commitUuid-e$epochId",
        Map(graft.streaming.GraftStreamWriter.QueryIdKey -> queryId,
          graft.streaming.GraftStreamWriter.BatchIdKey -> epochId.toString))
      ()
    }
  }

  override def abort(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit = ()
    // staged files of an aborted epoch are unreferenced; the orphan sweep
    // (remove_orphan_files) reclaims them, same as failed batch writes
}

final class GraftBatchWrite(table: GraftTable, writeSchema: StructType,
    mode: GraftWriteMode) extends BatchWrite {

  private val commitUuid = UUID.randomUUID().toString
  private val staging = Locations.commitDir(table, "commit", commitUuid)

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    val spark = SparkSession.active
    val schema = table.schema
    val expected = schema.fields.map(_.name)
    require(writeSchema.fieldNames.sameElements(expected),
      s"write schema ${writeSchema.fieldNames.mkString(",")} does not match " +
        s"table schema ${expected.mkString(",")}")

    // the parquet factory captures WriteSupport config through the job
    // conf; field ids + µs timestamps are forced there directly so the
    // caller's session conf is never consulted or mutated
    val job = Job.getInstance(spark.sparkContext.hadoopConfiguration)
    val codec = table.metadata.properties
      .getOrElse("write.parquet.compression-codec", "zstd")
    val dataSchema = schema.toSpark // carries parquet.field.id metadata
    val factory = new ParquetFileFormat()
      .prepareWrite(spark, job, Map("compression" -> codec), dataSchema)
    val jc = job.getConfiguration
    jc.set("spark.sql.parquet.fieldId.write.enabled", "true")
    jc.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    val encConf = graft.crypto.Encryption.confFor(table.metadata.properties)
    encConf.foreach { case (k, v) => jc.set(k, v) }

    val partFields = table.spec.fields.map { pf =>
      val src = schema.idToField(pf.sourceId)
      GraftPartField(schema.fields.indexWhere(_.id == src.id), src.fieldType,
        pf.transform)
    }
    new GraftDataWriterFactory(
      factory, dataSchema, staging, new SerializableConfiguration(jc),
      partFields,
      schema.fields.map(f => f.name -> (f.id, f.fieldType)).toMap,
      table.spec.partitionType(schema).fields.map(_.fieldType),
      table.metadata.properties.get("write.spark.max-records-per-file")
        .map(_.toLong).getOrElse(Long.MaxValue),
      encConf)
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val files: Seq[DataFile] =
      messages.toSeq.collect { case m: GraftCommitMessage => m.files }.flatten
    val live = GraftTable.load(table.name, table.catalog)
    mode match {
      case GraftWriteMode.Append =>
        if (files.nonEmpty) AppendWriter.commitAppend(table, files, commitUuid)
      case GraftWriteMode.Truncate =>
        commitReplace(live, files, dropAllBase = true, Set.empty,
          assignRowIds = true) // truncate-overwrite: all rows are new
      case GraftWriteMode.OverwriteFilter(pred) =>
        val bound = graft.expr.Predicate.bind(pred, live.schema)
        val tasks = live.newScan().withFilter(bound).planFiles()
        val (whole, partial) = tasks.partition(t =>
          graft.expr.StrictMetricsEvaluator.fileMustMatch(bound, t.file, live.schema))
        if (partial.nonEmpty)
          throw new UnsupportedOperationException(
            "Cannot overwrite: filter matches some but not all rows of " +
              s"${partial.size} file(s) (first: ${partial.head.file.filePath}); " +
              "align the overwrite filter with partition boundaries or use " +
              "DELETE + INSERT")
        commitReplace(live, files, dropAllBase = false,
          whole.map(_.file.filePath).toSet, assignRowIds = true)
      case GraftWriteMode.DynamicOverwrite =>
        // replace exactly the (spec, partition-tuple) cells the incoming
        // files land in — unpartitioned tables degrade to truncate
        // semantics (all files share the empty tuple), matching Iceberg
        val currentSpecId = live.spec.specId
        def key(p: Seq[Any]): Seq[Any] = p.map {
          case b: Array[Byte] => b.toSeq
          case x => x
        }
        val written = files.map(f => key(f.partition)).toSet
        val drop = live.newScan().planFiles()
          .filter(t => t.specId == currentSpecId && written(key(t.file.partition)))
          .map(_.file.filePath).toSet
        commitReplace(live, files, dropAllBase = false, drop, assignRowIds = true)
      case GraftWriteMode.ReplaceScanned(op) =>
        // group-based CoW rewrite: files hold REWRITTEN rows without
        // materialized lineage — leave first_row_id unassigned (null
        // lineage: honest "unknown") rather than minting fresh ids for
        // carried rows; the API-path RowOps rewrites DO preserve.
        // Spark 4.1's ReplaceData pins the write schema to the table
        // columns (no DSv2 surface threads per-row metadata into the
        // writer yet), so preservation is not implementable here; the
        // commit still advances next-row-id for its added records —
        // an unused block, which the v3 spec explicitly permits
        if (op.scannedPaths.nonEmpty || files.nonEmpty)
          commitReplace(live, files, dropAllBase = false, op.scannedPaths)
    }
    ()
  }

  /** Overwrite commit: tombstone the dropped files, append the new ones.
    * For truncate the drop set is ALL base data files, re-derived inside
    * the retry closure so a concurrent append's files survive a CAS
    * retry untouched. */
  private def commitReplace(live: GraftTable, files: Seq[DataFile],
      dropAllBase: Boolean, fixedDrop: Set[String],
      assignRowIds: Boolean = false): Unit = {
    Commits.commit(live, "overwrite", commitUuid) { base =>
      // group-based CoW: the fixed drop set was scanned earlier — its
      // files must still be alive, and under serializable isolation no
      // concurrent data may have appeared (the command's row condition
      // is not recoverable here, so the filter is conservatively true).
      // The dropAllBase (truncate) path re-derives its set per retry and
      // needs no validation.
      if (!dropAllBase && fixedDrop.nonEmpty)
        Commits.validateReplace(live.io, base, table.metadata.currentSnapshotId,
          fixedDrop, Commits.conflictFilterFor(base, "update", graft.expr.AlwaysTrue),
          base.currentSchema, failOnDeletesApplyingTo = fixedDrop)
      val dropPaths =
        if (!dropAllBase) fixedDrop
        else Commits.baseManifests(live.io, base)
          .filter(_.content == ManifestContent.Data)
          .flatMap { m =>
            val spec = base.partitionSpecs.find(_.specId == m.partitionSpecId)
              .getOrElse(base.defaultSpec)
            ManifestIO.readManifest(live.io, m.manifestPath, base.currentSchema, spec,
                m.keyMetadata)
              .filter(_.isAlive).map(_.dataFile.filePath)
          }.toSet
      // the files were written under the spec of the handle the write
      // was planned on; insert-overwrites mint fresh row-id blocks (v3
      // lineage: overwritten-in rows are NEW rows)
      Commits.FileChanges(addedData = Seq(table.spec.specId -> files),
        removedData = dropPaths, dropDeleteManifests = dropAllBase,
        assignRowIds = assignRowIds)
    }
    ()
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    messages.toSeq.collect { case m: GraftCommitMessage => m.files }.flatten
      .foreach(f => scala.util.Try(table.io.delete(f.filePath)))
    scala.util.Try(table.io.delete(staging, recursive = true))
    ()
  }
}

/** Per-task result: the staged files' full descriptors (stats included —
  * harvested executor-side, so the driver only ever sees descriptors). */
final case class GraftCommitMessage(files: Seq[DataFile]) extends WriterCommitMessage

/** (row ordinal, source type, transform) of one partition field. */
final case class GraftPartField(ordinal: Int, srcType: IcebergType,
    transform: Transform) extends Serializable

final class GraftDataWriterFactory(
    factory: OutputWriterFactory,
    dataSchema: StructType,
    staging: String,
    conf: SerializableConfiguration,
    partFields: Seq[GraftPartField],
    fieldTypes: Map[String, (Int, IcebergType)],
    partFieldTypes: Seq[IcebergType],
    maxRecordsPerFile: Long,
    encConf: Map[String, String]) extends DataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new GraftDataWriter(factory, dataSchema, staging, conf, partFields,
      fieldTypes, partFieldTypes, maxRecordsPerFile, encConf, partitionId, taskId)
}

/** Executor-side fanout parquet writer: one open file per partition tuple
  * seen by this task, rolled at `write.spark.max-records-per-file`. */
final class GraftDataWriter(
    factory: OutputWriterFactory,
    dataSchema: StructType,
    staging: String,
    conf: SerializableConfiguration,
    partFields: Seq[GraftPartField],
    fieldTypes: Map[String, (Int, IcebergType)],
    partFieldTypes: Seq[IcebergType],
    maxRecordsPerFile: Long,
    encConf: Map[String, String],
    partitionId: Int,
    taskId: Long) extends DataWriter[InternalRow] {

  private val context = new TaskAttemptContextImpl(conf.value,
    new TaskAttemptID(new TaskID(new JobID("graft", partitionId), TaskType.MAP,
      partitionId), (taskId % Int.MaxValue).toInt))

  private final class Open(val writer: OutputWriter, val path: String,
    val partition: Seq[Any]) { var rows: Long = 0L }

  // key normalizes byte[] partition values to value-equality
  private val open = mutable.LinkedHashMap[Seq[Any], Open]()
  private val closed = mutable.ArrayBuffer[(String, Seq[Any])]()
  private var fileSeq = 0

  private def keyOf(tuple: Seq[Any]): Seq[Any] = tuple.map {
    case a: Array[Byte] => a.toSeq
    case x => x
  }

  private def newFile(partition: Seq[Any]): Open = {
    val path = f"$staging%s/p$partitionId%05d-t$taskId%d-$fileSeq%04d.parquet"
    fileSeq += 1
    new Open(factory.newInstance(path, dataSchema, context), path, partition)
  }

  private def extractVal(row: InternalRow, ord: Int, t: IcebergType): Any =
    if (row.isNullAt(ord)) null
    else t match {
      case IntT | DateT => row.getInt(ord)
      case LongT | TimeT | TimestampT | TimestamptzT | TimestampNsT |
          TimestamptzNsT => row.getLong(ord)
      case StringT => row.getUTF8String(ord).toString
      case BooleanT => row.getBoolean(ord)
      case FloatT => row.getFloat(ord)
      case DoubleT => row.getDouble(ord)
      case DecimalT(p, s) => row.getDecimal(ord, p, s).toJavaBigDecimal
      case BinaryT => row.getBinary(ord)
      case FixedT(_) => row.getBinary(ord)
      case other => throw new UnsupportedOperationException(
        s"partition source type $other in native writer")
    }

  override def write(row: InternalRow): Unit = {
    val tuple: Seq[Any] = partFields.map(pf =>
      pf.transform.applyValue(extractVal(row, pf.ordinal, pf.srcType), pf.srcType))
    val key = keyOf(tuple)
    var o = open.getOrElseUpdate(key, newFile(tuple))
    if (o.rows >= maxRecordsPerFile) {
      o.writer.close()
      closed += ((o.path, o.partition))
      o = newFile(tuple)
      open(key) = o
    }
    o.writer.write(row)
    o.rows += 1
  }

  override def commit(): WriterCommitMessage = {
    open.values.foreach { o =>
      o.writer.close()
      closed += ((o.path, o.partition))
    }
    open.clear()
    val files = closed.toSeq.map { case (path, partition) =>
      val p = new org.apache.hadoop.fs.Path(path)
      val len = p.getFileSystem(conf.value).getFileStatus(p).getLen
      AppendWriter.harvestDataFile(path, len, staging, fieldTypes, partFieldTypes,
        encConf, explicitPartition = Some(partition))
    }
    GraftCommitMessage(files)
  }

  override def abort(): Unit = {
    open.values.foreach(o => scala.util.Try(o.writer.close()))
    val fs = new org.apache.hadoop.fs.Path(staging).getFileSystem(conf.value)
    (open.values.map(_.path) ++ closed.map(_._1)).foreach(p =>
      scala.util.Try(fs.delete(new org.apache.hadoop.fs.Path(p), false)))
    open.clear()
  }

  override def close(): Unit = {
    open.values.foreach(o => scala.util.Try(o.writer.close()))
    open.clear()
  }
}
