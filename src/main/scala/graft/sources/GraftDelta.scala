package graft.sources

import java.util.UUID

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.connector.write.{DeltaBatchWrite, DeltaWrite, DeltaWriteBuilder, DeltaWriter, DeltaWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RowLevelOperation, SupportsDelta, WriterCommitMessage}
import org.apache.spark.sql.connector.write.RowLevelOperation.Command
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.expr.{AlwaysTrue, Predicate, SparkFilters}
import graft.meta.{DataFile, FileContent}
import graft.table.{Commits, GraftTable, Locations}

/** DELTA-based (merge-on-read) SQL row-level operations, selected by
  * `write.delete|update|merge.mode = merge-on-read`: instead of the
  * group-based rewrite, matched rows become POSITION DELETES keyed by the
  * `(_file, _pos)` row id and new/updated rows append — one row-delta
  * snapshot, no data-file rewrite (Iceberg's position-delta writer; the
  * repo's read side already applies these, i08).
  *
  * At 100 TB this is the sparse-DML shape: an UPDATE touching 0.1% of
  * rows writes ~0.1% of the bytes the CoW rewrite would, at the price of
  * read-time delete filtering until compaction folds the deletes away.
  *
  * Scale notes: the scan treats the command condition as inexact
  * pushdown (prunes files, Spark re-filters rows), `_pos` forces
  * whole-file read slices (positions must be physical), and each task
  * buffers only ITS delete coordinates (sorted (file, pos) before the
  * write — the spec's required order; Spark's delta plans additionally
  * cluster deltas). */
final class GraftDeltaOperation(table: GraftTable, cmd: Command)
    extends RowLevelOperation with SupportsDelta {

  override def command(): Command = cmd

  override def rowId(): Array[NamedReference] = Array(
    Expressions.column(GraftBatchScan.FileColumn),
    Expressions.column(GraftBatchScan.PosColumn))

  /** position deltas express UPDATE as delete + reinsert */
  override def representUpdateAsDeleteAndInsert(): Boolean = true

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftDeltaScanBuilder(table)

  override def newWriteBuilder(info: LogicalWriteInfo): DeltaWriteBuilder =
    new GraftDeltaWriteBuilder(table, info.schema())

  override def description(): String = s"graft-mor-$cmd ${table.name}"
}

/** Delta scan: normal inexact pushdown (prune files, Spark re-evaluates
  * rows), `_file`/`_pos` served by the batch reader. */
final class GraftDeltaScanBuilder(table: GraftTable) extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns {

  private var predicate: Predicate = AlwaysTrue
  private var required: Option[StructType] = None

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    predicate = SparkFilters.toPredicate(filters.toSeq, table.schema)
    filters
  }

  override def pushedFilters(): Array[Filter] = Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = Some(requiredSchema)

  override def build(): Scan =
    // MoR deletes (position, DV, equality) and v3 defaults apply in the
    // native reader, so condition evaluation sees live, defaulted rows;
    // `_pos` stays the physical row index (positions under equality
    // deletes still address the file's physical rows).
    new GraftBatchScan(table, predicate, Nil, required)
}

final class GraftDeltaWriteBuilder(table: GraftTable, writeSchema: StructType)
    extends DeltaWriteBuilder {
  override def build(): DeltaWrite = new GraftDeltaWrite(table, writeSchema)
}

final class GraftDeltaWrite(table: GraftTable, writeSchema: StructType)
    extends DeltaWrite {
  override def toBatch: DeltaBatchWrite = new GraftDeltaBatchWrite(table, writeSchema)
  override def description(): String = s"graft-delta-write ${table.name}"
}

final class GraftDeltaBatchWrite(table: GraftTable, writeSchema: StructType)
    extends DeltaBatchWrite {

  private val commitUuid = UUID.randomUUID().toString

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DeltaWriterFactory = {
    // reuse the native batch writer's factory for the INSERT side; insert
    // rows are always projected to full table rows (for a pure DELETE the
    // logical write schema is empty and insert() is never called)
    val dataFactory = new GraftBatchWrite(table, table.schema.toSpark,
      GraftWriteMode.Append).createBatchWriterFactory(info)
      .asInstanceOf[GraftDataWriterFactory]
    // a second parquet factory for the (file_path, pos) delete rows
    val spark = SparkSession.active
    val job = org.apache.hadoop.mapreduce.Job.getInstance(
      spark.sparkContext.hadoopConfiguration)
    val posSchema = GraftDeltaBatchWrite.PosDeleteSchema
    val posFactory = new org.apache.spark.sql.execution.datasources.parquet
      .ParquetFileFormat().prepareWrite(spark, job,
        Map("compression" -> "zstd"), posSchema)
    graft.crypto.Encryption.confFor(table.metadata.properties)
      .foreach { case (k, v) => job.getConfiguration.set(k, v) }
    new GraftDeltaWriterFactory(dataFactory, posFactory,
      new org.apache.spark.util.SerializableConfiguration(job.getConfiguration),
      Locations.commitDir(table, "deletes", commitUuid))
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val msgs = messages.toSeq.collect { case m: GraftDeltaCommitMessage => m }
    val dataFiles = msgs.flatMap(_.dataFiles)
    val deleteFiles = msgs.flatMap(_.deleteFiles)
    if (dataFiles.isEmpty && deleteFiles.isEmpty) return
    val live = GraftTable.load(table.name, table.catalog)
    val op = if (dataFiles.isEmpty) "delete" else "overwrite"
    Commits.commit(live, op, commitUuid) { base =>
      // the delta's position deletes address rows by (_file, _pos) read at
      // scan time — any concurrent non-append commit may have moved them
      Commits.validateReplace(live.io, base, table.metadata.currentSnapshotId,
        Set.empty, None, base.currentSchema, failOnNewReplaceOps = true)
      // inserted rows were written under the planning handle's spec; like
      // the group-based rewrite, updated rows carry no lineage here, so no
      // fresh row ids are minted for them
      Commits.FileChanges(addedData = Seq(table.spec.specId -> dataFiles),
        addedDeletes = deleteFiles, assignRowIds = false)
    }
    ()
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    messages.toSeq.collect { case m: GraftDeltaCommitMessage => m }
      .flatMap(m => m.dataFiles ++ m.deleteFiles)
      .foreach(f => scala.util.Try(table.io.delete(f.filePath)))
    ()
  }
}

object GraftDeltaBatchWrite {
  /** Position-delete file schema (spec reserved ids live in the manifest,
    * not the parquet footer — matches DeleteWriter's staged files). */
  val PosDeleteSchema: StructType = StructType(Seq(
    org.apache.spark.sql.types.StructField("file_path",
      org.apache.spark.sql.types.StringType, nullable = false),
    org.apache.spark.sql.types.StructField("pos",
      org.apache.spark.sql.types.LongType, nullable = false)))
}

final case class GraftDeltaCommitMessage(dataFiles: Seq[DataFile],
    deleteFiles: Seq[DataFile]) extends WriterCommitMessage

final class GraftDeltaWriterFactory(
    dataFactory: GraftDataWriterFactory,
    posFactory: org.apache.spark.sql.execution.datasources.OutputWriterFactory,
    conf: org.apache.spark.util.SerializableConfiguration,
    deleteDir: String) extends DeltaWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long): DeltaWriter[InternalRow] =
    new GraftDeltaWriter(
      dataFactory.createWriter(partitionId, taskId)
        .asInstanceOf[GraftDataWriter],
      posFactory, conf, deleteDir, partitionId, taskId)
}

/** Per-task delta writer: inserts go through the fanout data writer,
  * deletes buffer (file, pos) and land as ONE sorted position-delete
  * parquet per task. */
final class GraftDeltaWriter(
    dataWriter: GraftDataWriter,
    posFactory: org.apache.spark.sql.execution.datasources.OutputWriterFactory,
    conf: org.apache.spark.util.SerializableConfiguration,
    deleteDir: String,
    partitionId: Int,
    taskId: Long) extends DeltaWriter[InternalRow] {

  private val deletes = mutable.ArrayBuffer[(String, Long)]()

  override def delete(metadata: InternalRow, id: InternalRow): Unit =
    deletes += ((id.getUTF8String(0).toString, id.getLong(1)))

  override def update(metadata: InternalRow, id: InternalRow,
      row: InternalRow): Unit = {
    delete(metadata, id)
    insert(row)
  }

  override def insert(row: InternalRow): Unit = dataWriter.write(row)

  override def commit(): WriterCommitMessage = {
    val dataMsg = dataWriter.commit().asInstanceOf[GraftCommitMessage]
    val delFiles =
      if (deletes.isEmpty) Nil
      else {
        val path = f"$deleteDir%s/pd$partitionId%05d-t$taskId%d.parquet"
        val context = new org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl(
          conf.value, new org.apache.hadoop.mapreduce.TaskAttemptID(
            new org.apache.hadoop.mapreduce.TaskID(
              new org.apache.hadoop.mapreduce.JobID("graft-del", partitionId),
              org.apache.hadoop.mapreduce.TaskType.MAP, partitionId),
            (taskId % Int.MaxValue).toInt))
        val w = posFactory.newInstance(path,
          GraftDeltaBatchWrite.PosDeleteSchema, context)
        val sorted = deletes.distinct.sortBy(identity)
        val reuse = new GenericInternalRow(2)
        sorted.foreach { case (f, p) =>
          reuse.update(0, UTF8String.fromString(f))
          reuse.update(1, p)
          w.write(reuse)
        }
        w.close()
        val hp = new org.apache.hadoop.fs.Path(path)
        val len = hp.getFileSystem(conf.value).getFileStatus(hp).getLen
        // the in-memory sort already yields the file_path bounds — no
        // footer read; planners use them to bind this delete file to the
        // data files it can touch
        Seq(graft.table.DeleteWriter.withPathBounds(DataFile(
          content = FileContent.PositionDeletes,
          filePath = path,
          fileFormat = "PARQUET",
          partition = Nil, // global: committed under the unpartitioned spec
          recordCount = sorted.size.toLong,
          fileSizeInBytes = len),
          Some((sorted.head._1, sorted.last._1))))
      }
    GraftDeltaCommitMessage(dataMsg.files, delFiles)
  }

  override def abort(): Unit = dataWriter.abort()

  override def close(): Unit = dataWriter.close()
}
