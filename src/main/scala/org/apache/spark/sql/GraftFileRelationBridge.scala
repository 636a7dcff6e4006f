package org.apache.spark.sql

import org.apache.hadoop.fs.{FileStatus, Path}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.{FileIndex, FileStatusWithMetadata, HadoopFsRelation, LogicalRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.GraftParquetFileFormat
import org.apache.spark.sql.types.{StructField, StructType}

/** Build a parquet DataFrame over an EXPLICIT file list with KNOWN sizes.
  *
  * `spark.read.parquet(paths*)` resolves every path through
  * InMemoryFileIndex — a "Listing leaf files" pass that stats each path
  * (as a Spark job of ONE TASK PER PATH above the
  * parallelPartitionDiscovery threshold: measured 1.9 s of pure
  * scheduling for an 846-file scan, per query, at sf0.1 — and one
  * HEAD/stat per file on an object store at production scale). A graft
  * scan already knows every file's path and size from the manifests, so
  * this bridge hands Spark a pre-populated FileIndex and skips the
  * listing entirely. Everything downstream is the standard
  * FileSourceScanExec path: split packing by maxPartitionBytes,
  * filter/limit pushdown, vectorized parquet, `_metadata` columns.
  *
  * In-package because HadoopFsRelation/LogicalRelation/PartitionDirectory
  * are `private[sql]` in source (stable public bytecode, same contract as
  * the other Graft*Bridge accessors).
  */
object GraftFileRelationBridge {

  /** The pre-populated index. `rootPaths` is the planned FILE list —
    * the same contract InMemoryFileIndex exposes when built over
    * explicit leaf paths (plan-inspection tooling and specs count and
    * prefix-match scan paths through it). `mtimeMs` backs
    * `_metadata.file_modification_time` for user projections — the
    * caller passes the snapshot's commit timestamp (a file is at most
    * as new as the snapshot that added it); 0 would surface epoch-0.
    * `constants(i)` holds file i's values of the format's file-constant
    * `_metadata` fields, by field name (empty: none declared). */
  final class GraftManifestFileIndex(files: Seq[(String, Long)],
      mtimeMs: Long = 0L, constants: Seq[Map[String, Any]] = Nil)
      extends FileIndex {
    private val statuses = files
      .zip(if (constants.isEmpty) files.map(_ => Map.empty[String, Any]) else constants)
      .map { case ((p, len), c) => FileStatusWithMetadata(
        new FileStatus(len, false, 1, 128L << 20, mtimeMs, new Path(p)), c)
      }
    override def rootPaths: Seq[Path] = statuses.map(_.getPath)
    override def listFiles(
        partitionFilters: Seq[org.apache.spark.sql.catalyst.expressions.Expression],
        dataFilters: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
        : Seq[PartitionDirectory] =
      Seq(PartitionDirectory(InternalRow.empty, statuses))
    override def inputFiles: Array[String] = files.map(_._1).toArray
    override def refresh(): Unit = ()
    override val sizeInBytes: Long = files.map(_._2).sum
    override def partitionSchema: StructType = new StructType()
  }

  /** The relation over `files` (path, size). `constantFields` declares
    * extra file-constant `_metadata` fields (atomic Spark types) and
    * `constants` gives each file's values for them, Catalyst-internal and
    * aligned with `files`; a read then projects
    * `_metadata.<field>` with no join. */
  def parquetOverFiles(spark: SparkSession, files: Seq[(String, Long)],
      dataSchema: StructType, options: Map[String, String],
      mtimeMs: Long = 0L, constantFields: Seq[StructField] = Nil,
      constants: Seq[Map[String, Any]] = Nil): DataFrame = {
    val cs = spark.asInstanceOf[classic.SparkSession]
    // KB-scale artifact scans (maintenance censuses: thousands of
    // one-row files) cap the vectorized batch so each per-file reader
    // stops pre-allocating 4096-row column vectors it never fills —
    // measured GC churn at 32 concurrent census tasks (r16). Size-gated:
    // a relation with any normally-sized file keeps the session default.
    val tinyCap: Map[String, String] =
      if (files.nonEmpty && files.forall(_._2 < (4L << 20)))
        Map("graft.parquet.batch-capacity" -> "1024")
      else Map.empty
    // asNullable: the DataFrameReader.schema path this replaces treats a
    // user schema as nullable at the reader (DataSource.resolveRelation)
    // — a required field read through a non-nullable vector would turn
    // stored nulls into zeros
    // GraftParquetFileFormat: stock parquet semantics with the per-file
    // JobConf clone + filter re-serialization amortized per task — the
    // fixed cost that dominates KB-file census scans (r16)
    val relation = HadoopFsRelation(
      new GraftManifestFileIndex(files, mtimeMs, constants),
      new StructType(), dataSchema.asNullable,
      None, new GraftParquetFileFormat(constantFields), options ++ tinyCap)(cs)
    classic.Dataset.ofRows(cs, LogicalRelation(relation, isStreaming = false))
  }
}
