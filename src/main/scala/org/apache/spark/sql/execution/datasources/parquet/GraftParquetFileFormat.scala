package org.apache.spark.sql.execution.datasources.parquet

import java.util.concurrent.atomic.AtomicBoolean

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.mapred.{FileSplit, JobConf}
import org.apache.hadoop.mapreduce.{JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.parquet.filter2.predicate.{FilterApi, FilterPredicate}
import org.apache.parquet.hadoop.ParquetInputFormat

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.catalyst.util.RebaseDateTime.RebaseSpec
import org.apache.spark.sql.execution.datasources.{DataSourceUtils, PartitionedFile}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.{StructField, StructType}
import org.apache.spark.util.{SerializableConfiguration, Utils}

/** ParquetFileFormat whose per-file read function amortizes fixed costs
  * across the files of one task, and which can serve extra per-file
  * constants as `_metadata` fields.
  *
  * The stock reader function pays, for EVERY file it opens:
  *
  *   - `new TaskAttemptContextImpl(conf, id)` where `conf` is a plain
  *     Configuration — JobContextImpl then clones it into a JobConf, a
  *     full properties-hashtable copy (~1 ms and ~1 MB of garbage per
  *     file against a Spark session conf; the top executor stack of the
  *     census-scan bench lines, OPTIMIZATION_r16.md, and the allocation
  *     source behind their 32-core GC cliff);
  *   - a base64 java-serialization of the pushed FilterPredicate into
  *     that conf (`ParquetInputFormat.setFilterPredicate`) which the
  *     record reader immediately deserializes back out.
  *
  * A graft artifact scan plans thousands of KB-scale files packed ~32
  * per task, so the fixed cost dominates the actual reads. This subclass
  * keeps the driver-side setup the stock one — the same hadoopConf
  * entries (`setupConf`, checked entry by entry against the stock
  * builder by a spec), broadcast once — and in the per-file closure:
  *
  *   - builds ONE TaskAttemptContextImpl per task over a JobConf
  *     (JobContextImpl adopts a JobConf without copying) and reuses it
  *     for every file of the task;
  *   - re-serializes the pushed filter only when it CHANGES between
  *     files (same converted predicate for every file of a uniform-schema
  *     scan → serialized once per task), and unsets it when a file's
  *     schema yields no convertible predicate.
  *
  * Everything else (footer handling incl. the kept-open input stream,
  * rebase specs, filter conversion, vectorized/row-based construction) is
  * the stock per-file logic; the two private iterator builders are
  * invoked reflectively so their implementation stays Spark's own.
  *
  * Safe to reuse the context across a task's files because the task
  * binary is deserialized once per task — the closure instance, and so
  * the JobConf, is task-local (single-threaded).
  *
  * `constantFields` are extra file-constant `_metadata` fields
  * (`FileSourceConstantMetadataStructField`, atomic types only): Spark
  * takes each file's value by field name from the FileIndex's
  * `FileStatusWithMetadata` map and serves it as a constant column
  * vector, with no join and no extra job. The field list is part of the
  * format's identity, so relations declaring different fields never
  * compare equal.
  */
final class GraftParquetFileFormat(val constantFields: Seq[StructField] = Nil)
    extends ParquetFileFormat {

  override def metadataSchemaFields: Seq[StructField] =
    super.metadataSchemaFields ++ constantFields

  // ParquetFileFormat.equals holds for any two parquet formats
  override def equals(other: Any): Boolean = other match {
    case g: GraftParquetFileFormat => g.constantFields == constantFields
    case _ => false
  }

  override def hashCode(): Int =
    (classOf[GraftParquetFileFormat], constantFields).hashCode()

  override def buildReaderWithPartitionValues(
      sparkSession: SparkSession,
      dataSchema: StructType,
      partitionSchema: StructType,
      requiredSchema: StructType,
      filters: Seq[Filter],
      options: Map[String, String],
      hadoopConf: Configuration): PartitionedFile => Iterator[InternalRow] =
    buildReaders(sparkSession, partitionSchema, requiredSchema, Seq(filters),
      options, hadoopConf).head

  /** One reader function per entry of `filterSets`, all sharing ONE
    * broadcast of `hadoopConf` (the conf does not depend on the filters). */
  def buildReaders(
      sparkSession: SparkSession,
      partitionSchema: StructType,
      requiredSchema: StructType,
      filterSets: Seq[Seq[Filter]],
      options: Map[String, String],
      hadoopConf: Configuration): Seq[PartitionedFile => Iterator[InternalRow]] = {
    val sqlConf = sparkSession.sessionState.conf
    GraftParquetFileFormat.setupConf(hadoopConf, sqlConf, requiredSchema)
    val resultSchema = StructType(partitionSchema.fields ++ requiredSchema.fields)
    // the stock builder's validation of the returning-batch option
    val returningBatch = sqlConf.parquetVectorizedReaderEnabled &&
      options.getOrElse(org.apache.spark.sql.execution.datasources.FileFormat
        .OPTION_RETURNING_BATCH, throw new IllegalArgumentException(
          "OPTION_RETURNING_BATCH should always be set for ParquetFileFormat")) == "true"
    if (returningBatch) assert(supportBatch(sparkSession, resultSchema))
    val broadcastedHadoopConf =
      SerializableConfiguration.broadcast(sparkSession.sparkContext, hadoopConf)
    val parquetOptions = new ParquetOptions(options, sqlConf)
    // same derivations as the stock builder (verified against 4.1.2)
    filterSets.map(filters => new GraftParquetReaderFn(
      format = this,
      partitionSchema = partitionSchema,
      requiredSchema = requiredSchema,
      broadcastedHadoopConf = broadcastedHadoopConf,
      filters = filters,
      enableVectorizedReader =
        ParquetUtils.isBatchReadSupportedForSchema(sqlConf, resultSchema),
      datetimeRebaseModeInRead = parquetOptions.datetimeRebaseModeInRead,
      int96RebaseModeInRead = parquetOptions.int96RebaseModeInRead,
      enableParquetFilterPushDown = sqlConf.parquetFilterPushDown,
      pushDownDate = sqlConf.parquetFilterPushDownDate,
      pushDownTimestamp = sqlConf.parquetFilterPushDownTimestamp,
      pushDownDecimal = sqlConf.parquetFilterPushDownDecimal,
      pushDownStringPredicate = sqlConf.parquetFilterPushDownStringPredicate,
      pushDownInFilterThreshold = sqlConf.parquetFilterPushDownInFilterThreshold,
      isCaseSensitive = sqlConf.caseSensitiveAnalysis,
      timestampConversion = sqlConf.isParquetINT96TimestampConversion,
      enableOffHeapColumnVector = sqlConf.offHeapColumnVectorEnabled,
      returningBatch = returningBatch,
      // per-relation batch-capacity override: KB-file census relations
      // cap it so thousands of per-file readers stop pre-allocating
      // 4096-row vectors (GraftFileRelationBridge sets it size-gated)
      capacity = options.get("graft.parquet.batch-capacity").map(_.toInt)
        .getOrElse(sqlConf.parquetVectorizedReaderBatchSize),
      enableRecordFilter = sqlConf.parquetRecordFilterEnabled))
  }
}

object GraftParquetFileFormat {

  /** The stock builder's hadoopConf preamble (ParquetFileFormat's private
    * `setupHadoopConf`, Spark 4.1.2): read-support class, requested
    * schema JSON and the session flags the parquet converters read. */
  private[parquet] def setupConf(conf: Configuration, sqlConf: SQLConf,
      requiredSchema: StructType): Unit = {
    conf.set(ParquetInputFormat.READ_SUPPORT_CLASS, classOf[ParquetReadSupport].getName)
    conf.set(ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA, requiredSchema.json)
    conf.set(ParquetWriteSupport.SPARK_ROW_SCHEMA, requiredSchema.json)
    conf.set(SQLConf.SESSION_LOCAL_TIMEZONE.key, sqlConf.sessionLocalTimeZone)
    conf.setBoolean(SQLConf.NESTED_SCHEMA_PRUNING_ENABLED.key,
      sqlConf.nestedSchemaPruningEnabled)
    conf.setBoolean(SQLConf.CASE_SENSITIVE.key, sqlConf.caseSensitiveAnalysis)
    conf.setBoolean(SQLConf.PARQUET_BINARY_AS_STRING.key, sqlConf.isParquetBinaryAsString)
    conf.setBoolean(SQLConf.PARQUET_INT96_AS_TIMESTAMP.key,
      sqlConf.isParquetINT96AsTimestamp)
    conf.setBoolean(SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED.key,
      sqlConf.parquetInferTimestampNTZEnabled)
    conf.setBoolean(SQLConf.LEGACY_PARQUET_NANOS_AS_LONG.key,
      sqlConf.legacyParquetNanosAsLong)
    conf.setBoolean(SQLConf.PARQUET_READER_RESPECT_UNKNOWN_TYPE_ANNOTATION.key,
      sqlConf.parquetReaderRespectUnknownTypeAnnotation)
  }
}

private final class GraftParquetReaderFn(
    format: ParquetFileFormat,
    partitionSchema: StructType,
    requiredSchema: StructType,
    broadcastedHadoopConf: Broadcast[SerializableConfiguration],
    filters: Seq[Filter],
    enableVectorizedReader: Boolean,
    datetimeRebaseModeInRead: String,
    int96RebaseModeInRead: String,
    enableParquetFilterPushDown: Boolean,
    pushDownDate: Boolean,
    pushDownTimestamp: Boolean,
    pushDownDecimal: Boolean,
    pushDownStringPredicate: Boolean,
    pushDownInFilterThreshold: Int,
    isCaseSensitive: Boolean,
    timestampConversion: Boolean,
    enableOffHeapColumnVector: Boolean,
    returningBatch: Boolean,
    capacity: Int,
    enableRecordFilter: Boolean)
  extends (PartitionedFile => Iterator[InternalRow]) with Serializable {

  // Task-local reusables (the task binary is deserialized per task, so
  // these never cross threads). The JobConf clone of the broadcast conf
  // is paid once per task instead of once per file; lastPushed tracks
  // the filter currently serialized into it.
  @transient private var attemptContext: TaskAttemptContextImpl = _
  @transient private var lastPushed: FilterPredicate = _

  override def apply(file: PartitionedFile): Iterator[InternalRow] = {
    assert(file.partitionValues.numFields == partitionSchema.size)
    val split =
      new FileSplit(file.toPath, file.start, file.length, Array.empty[String])
    val sharedConf = broadcastedHadoopConf.value.value
    val opened = ParquetFooterReader.openFileAndReadFooter(
      sharedConf, file, enableVectorizedReader)
    assert(opened.inputStreamOpt.isPresent == enableVectorizedReader)
    // ownership flag, exactly the stock shape: the vectorized builder
    // clears it when the record reader adopts the opened stream
    val shouldCloseStream = new AtomicBoolean(opened.inputStreamOpt.isPresent)
    try {
      val footerFileMetaData = opened.footer.getFileMetaData
      val keyValueMeta = footerFileMetaData.getKeyValueMetaData
      val datetimeRebaseSpec = DataSourceUtils.datetimeRebaseSpec(
        keyValueMeta.get, datetimeRebaseModeInRead)
      val int96RebaseSpec = DataSourceUtils.int96RebaseSpec(
        keyValueMeta.get, int96RebaseModeInRead)
      val pushed: Option[FilterPredicate] =
        if (enableParquetFilterPushDown) {
          val parquetFilters = new ParquetFilters(footerFileMetaData.getSchema,
            pushDownDate, pushDownTimestamp, pushDownDecimal,
            pushDownStringPredicate, pushDownInFilterThreshold,
            isCaseSensitive, datetimeRebaseSpec)
          filters.flatMap(parquetFilters.createFilter).reduceOption(FilterApi.and)
        } else None
      val convertTz =
        if (timestampConversion &&
            !footerFileMetaData.getCreatedBy.startsWith("parquet-mr"))
          Some(DateTimeUtils.getZoneId(
            sharedConf.get(SQLConf.SESSION_LOCAL_TIMEZONE.key)))
        else None

      if (attemptContext == null) {
        val attemptId =
          new TaskAttemptID(new TaskID(new JobID(), TaskType.MAP, 0), 0)
        // JobConf input → JobContextImpl adopts it, no per-file copy
        attemptContext =
          new TaskAttemptContextImpl(new JobConf(sharedConf), attemptId)
      }
      val readerConf = attemptContext.getConfiguration
      pushed match {
        case Some(p) =>
          if (!p.equals(lastPushed)) {
            ParquetInputFormat.setFilterPredicate(readerConf, p)
            lastPushed = p
          }
        case None =>
          if (lastPushed != null) {
            readerConf.unset(ParquetInputFormat.FILTER_PREDICATE)
            readerConf.unset(ParquetInputFormat.FILTER_PREDICATE + ".human.readable")
            lastPushed = null
          }
      }

      try {
        if (enableVectorizedReader) {
          GraftParquetReaderFn.vectorizedBuilder.invoke(format, attemptContext,
            split, file.partitionValues, partitionSchema, convertTz,
            datetimeRebaseSpec, int96RebaseSpec,
            Boolean.box(enableOffHeapColumnVector), Boolean.box(returningBatch),
            Int.box(capacity), opened, shouldCloseStream)
            .asInstanceOf[Iterator[InternalRow]]
        } else {
          GraftParquetReaderFn.rowBasedBuilder.invoke(format, attemptContext,
            split, file.partitionValues, partitionSchema, convertTz,
            datetimeRebaseSpec, int96RebaseSpec, requiredSchema, pushed,
            Boolean.box(enableRecordFilter))
            .asInstanceOf[Iterator[InternalRow]]
        }
      } catch {
        // surface the builder's own failure, not the reflective wrapper
        case e: java.lang.reflect.InvocationTargetException =>
          throw Option(e.getCause).getOrElse(e)
      }
    } finally {
      // stock contract: close the footer-opened stream unless the
      // vectorized reader took ownership (it clears the flag), on both
      // the success and failure paths
      if (shouldCloseStream.get) {
        opened.inputStreamOpt.ifPresent(s => Utils.closeQuietly(s))
      }
    }
  }
}

private object GraftParquetReaderFn {
  private def builder(name: String, sig: Class[_]*)
      : java.lang.reflect.Method = {
    val m = classOf[ParquetFileFormat].getDeclaredMethod(name, sig: _*)
    m.setAccessible(true)
    m
  }
  // the stock private iterator builders — looked up once per JVM
  lazy val vectorizedBuilder: java.lang.reflect.Method = builder(
    "buildVectorizedIterator",
    classOf[TaskAttemptContextImpl], classOf[FileSplit], classOf[InternalRow],
    classOf[StructType], classOf[Option[_]], classOf[RebaseSpec],
    classOf[RebaseSpec], java.lang.Boolean.TYPE, java.lang.Boolean.TYPE,
    java.lang.Integer.TYPE, classOf[OpenedParquetFooter], classOf[AtomicBoolean])
  lazy val rowBasedBuilder: java.lang.reflect.Method = builder(
    "buildRowBasedIterator",
    classOf[TaskAttemptContextImpl], classOf[FileSplit], classOf[InternalRow],
    classOf[StructType], classOf[Option[_]], classOf[RebaseSpec],
    classOf[RebaseSpec], classOf[StructType], classOf[Option[_]],
    java.lang.Boolean.TYPE)
}
