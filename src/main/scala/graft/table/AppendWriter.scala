package graft.table

import java.util.UUID

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions.col

import graft.meta._
import graft.spec._
import graft.spec.IcebergType._

/** Append write path (reference insert_into plan, integrations/datafusion/
  * src/table/mod.rs:153-240 + IcebergWriteExec physical_plan/write.rs):
  *
  *   project `_p_*` partition columns (transform expressions, codegen'd)
  *   → distribute (hash repartition for identity/bucket specs, pass-through
  *     for temporal — repartition.rs:151-167 policy; Spark's parquet writer
  *     then locally sorts on partition columns = clustered writer)
  *   → `partitionBy(_p_*)` parquet write straight into the commit's final
  *     subtree `data/commit-<uuid>/...` (executors; zero driver renames —
  *     readers address files by manifest, not by directory layout)
  *   → distributed footer-stat harvest (a Spark job maps each written file
  *     to a DataFile with min/max/null counts — stats never hit the driver
  *     until reduced to descriptors, so 100k-file appends don't OOM)
  *   → manifest + manifest-list Avro, snapshot, optimistic-retry commit.
  */
object AppendWriter {

  def append(table: GraftTable, df: DataFrame,
      extraSummary: Map[String, String] = Map.empty,
      branch: Option[String] = None): GraftTable = {
    val commitUuid = UUID.randomUUID().toString
    val files = writeDataFiles(table, df, commitUuid)
    if (files.isEmpty) table
    else commitAppend(table, files, commitUuid, extraSummary, branch)
  }

  /** [[append]] whose commit VALIDATES that the table still sits at
    * `expectedSnapshot` (the snapshot the caller's derivation — e.g. the
    * band-index union census — was computed against). A commit attempt
    * against a moved base throws [[StaleBaseSnapshot]] instead of
    * letting the CAS retry re-apply the stale derivation; the caller
    * re-derives against the refreshed table and retries the whole
    * operation ([[graft.pipeline.Serving.indexBatch]]'s loop). */
  private[graft] def appendValidated(table: GraftTable, df: DataFrame,
      expectedSnapshot: Option[Long],
      extraSummary: Map[String, String] = Map.empty): GraftTable = {
    val commitUuid = UUID.randomUUID().toString
    val files = writeDataFiles(table, df, commitUuid)
    if (files.isEmpty) return table
    try Commits.commit(table, "append", commitUuid, extraSummary) { base =>
      if (base.currentSnapshotId != expectedSnapshot)
        throw new StaleBaseSnapshot(
          s"table ${table.name}: base moved ${expectedSnapshot.orNull} -> " +
            s"${base.currentSnapshotId.orNull} since the caller's read — " +
            "re-derive and retry")
      appendChanges(table, files)
    } catch {
      case e: StaleBaseSnapshot =>
        // the commit definitely did not land (validation precedes every
        // manifest write): reclaim this attempt's staged files so a
        // contended maintenance loop doesn't leak one file set per
        // re-derivation (an orphan-file sweep stays the backstop)
        files.foreach(f =>
          try table.io.delete(f.filePath) catch { case _: Throwable => () })
        throw e
    }
  }

  /** [[appendValidated]] whose commit atomically carries EXTRA metadata
    * derived from the new snapshot's id — e.g. registering a statistics
    * file that references the snapshot being created
    * ([[graft.pipeline.Membership.membershipIndexBatch]]: the appended
    * rows and the membership filter covering them must land in ONE
    * catalog swap, or a probe between two separate commits reads a filter
    * that misses rows the table already serves). `artifacts(snapshotId)`
    * runs ONCE, before the commit loop — the caller does its side IO
    * (writes the puffin file) there and returns the metadata transform
    * applied inside the same swap that adds the snapshot. On
    * [[StaleBaseSnapshot]] the staged data files are reclaimed here; the
    * caller reclaims its own artifacts (it knows their paths). */
  private[graft] def appendValidatedTransformed(table: GraftTable,
      df: DataFrame, expectedSnapshot: Option[Long],
      extraSummary: Map[String, String] = Map.empty)(
      artifacts: Long => TableMetadata => TableMetadata): GraftTable = {
    val commitUuid = UUID.randomUUID().toString
    val files = writeDataFiles(table, df, commitUuid)
    if (files.isEmpty) return table
    val snapshotId = math.abs(UUID.randomUUID().getMostSignificantBits)
    val post = artifacts(snapshotId)
    val names = new Commits.ManifestNames(commitUuid)
    try graft.catalog.CommitRetry.run(table.catalog, table.name) { (base, _) =>
      if (base.currentSnapshotId != expectedSnapshot)
        throw new StaleBaseSnapshot(
          s"table ${table.name}: base moved ${expectedSnapshot.orNull} -> " +
            s"${base.currentSnapshotId.orNull} since the caller's read — " +
            "re-derive and retry")
      (post(Commits.applyCommit(table, base, "append", names, snapshotId,
        extraSummary, None)(_ => appendChanges(table, files))),
        (_: Int) => table.refresh())
    } catch {
      case e: StaleBaseSnapshot =>
        files.foreach(f =>
          try table.io.delete(f.filePath) catch { case _: Throwable => () })
        throw e
    }
  }

  /** Stage, harvest and place data files for `df` under the table layout —
    * shared by append and rewrite (compaction). No commit. */
  def writeDataFiles(table: GraftTable, df: DataFrame,
      commitUuid: String): Seq[DataFile] =
    writeDataFiles(table, df, commitUuid, lineage = false)

  /** `lineage = true`: the input df carries `_row_id` /
    * `_last_updated_sequence_number` columns and they are MATERIALIZED
    * into the written parquet under the reserved field ids (RowLineage) —
    * the compaction path's lineage-preservation contract (a rewrite
    * shuffles rows across files, so first_row_id inheritance cannot
    * reconstruct ids; the spec requires rewriters to persist per-row
    * lineage instead). */
  def writeDataFiles(table: GraftTable, df: DataFrame,
      commitUuid: String, lineage: Boolean): Seq[DataFile] = {
    val spark = df.sparkSession
    val schema = table.schema

    // --- validate + canonicalize column order ---
    // v3 write-defaults: a missing column with a declared write-default is
    // filled rather than rejected (datatypes.rs:575 write_default)
    val withDefaults = schema.fields
      .filter(f => f.writeDefault.isDefined && !df.columns.contains(f.name))
      .foldLeft(df)((d, f) => d.withColumn(f.name,
        graft.meta.SingleValue.toSparkLiteral(f.fieldType, f.writeDefault.get)))
    val expected = schema.fields.map(_.name)
    val missing = expected.toSet -- withDefaults.columns.toSet
    require(missing.isEmpty, s"append is missing columns: ${missing.mkString(",")}")
    // Attach the Iceberg field ids as parquet.field.id column metadata so
    // Spark's parquet writer embeds them (fieldId.write.enabled) and the
    // scan's id-based projection resolves (arrow/reader/pipeline.rs:160-168:
    // "projection must be done using field ids").
    val sparkFields = schema.toSpark.fields ++
      (if (lineage) graft.spec.RowLineage.sparkFields else Nil)
    val input = withDefaults.select(sparkFields.map(f =>
      col(f.name).cast(f.dataType).as(f.name, f.metadata)): _*)
    // Temporal partition transforms and Hive path rendering of timestamp
    // values are session-timezone dependent; the spec computes them in UTC
    // (transform/temporal.rs). The write executes under a conf-carrying
    // session CLONE (graft.SessionConf.writeSession: UTC, field-id
    // embedding, fork-free local IO) — the caller's session is never
    // mutated, same hygiene as scans. Unpartitioned writes add size-based
    // AQE coalescing (task count = file count there); fanout writes keep
    // default parallelism so the per-file creates run wide
    // (SessionConf.FanoutWriteSessionConf).
    val wspark =
      if (table.spec.fields.nonEmpty) graft.SessionConf.fanoutWriteSession(spark)
      else graft.SessionConf.writeSession(spark)
    writeInUtc(table, graft.SessionConf.bind(wspark, input), wspark, commitUuid)
  }

  /** Footer-harvest crossover: at or below this many staged files the
    * driver reads the footers itself (sequential, ~3 ms each); above it
    * a Spark job distributes the reads. Local-KB and 100 TB writes both
    * land on the right side automatically. */
  private val DriverHarvestMaxFiles = 32

  private def writeInUtc(table: GraftTable, input: DataFrame,
      spark: org.apache.spark.sql.SparkSession,
      commitUuid: String): Seq[DataFile] = {
    val schema = table.schema
    val spec = table.spec
    val io = table.io

    // --- partition projection ---
    val partCols = spec.fields.map { pf =>
      val src = schema.idToField(pf.sourceId)
      pf.transform.toColumn(col(src.name), src.fieldType).as(s"_p_${pf.name}")
    }
    val partNames = spec.fields.map(pf => s"_p_${pf.name}")

    val projected = if (partCols.isEmpty) input else input.withColumns(
      partNames.zip(partCols).toMap)

    // --- distribution policy (repartition.rs:151-167 +
    // table_properties.rs write.distribution-mode) ---
    //   hash (default): one shuffle clustering rows by partition tuple —
    //     each partition's files come from few tasks (small file counts);
    //   range: range-exchange on (partition, sort order) — a global sort,
    //     so files carry DISJOINT sort-key ranges and min/max pruning on
    //     the sort column reaches its best selectivity (worth the
    //     pricier exchange for read-heavy 100 TB tables);
    //   none: no exchange — cheapest write, most files per partition.
    val hashable = spec.fields.nonEmpty && spec.fields.forall(_.transform match {
      case Transform.Identity | Transform.Bucket(_) => true
      case _ => false
    })
    val order = table.metadata.sortOrders
      .find(_.orderId == table.metadata.defaultSortOrderId)
      .getOrElse(graft.spec.SortOrder.unsorted)
    val orderCols = order.fields.map { f =>
      val src = schema.idToField(f.sourceId)
      val c = f.transform.toColumn(col(src.name), src.fieldType)
      (f.ascending, f.nullsFirst) match {
        case (true, true) => c.asc_nulls_first
        case (true, false) => c.asc_nulls_last
        case (false, true) => c.desc_nulls_first
        case (false, false) => c.desc_nulls_last
      }
    }
    val mode = table.metadata.properties.getOrElse("write.distribution-mode", "hash")
    val repartitioned = mode match {
      case "none" => projected
      case "hash" =>
        if (hashable) projected.repartition(partNames.map(col): _*) else projected
      case "range" =>
        val cols = partNames.map(col) ++ orderCols
        if (cols.isEmpty) projected else projected.repartitionByRange(cols: _*)
      case other => throw new IllegalArgumentException(
        s"write.distribution-mode must be none|hash|range, got '$other'")
    }

    // sort_by_partition clustered write (sort.rs + the reference writer's
    // clustered mode): local sort on (partition cols, table sort order) so
    // each written file covers a tight range of the sort keys — this is
    // what makes min/max metrics pruning on the sort columns effective at
    // 100 TB. Local (within-partition) sort only: no extra shuffle.
    val distributed =
      if (order.fields.isEmpty) repartitioned
      else repartitioned.sortWithinPartitions(partNames.map(col) ++ orderCols: _*)

    // --- write (executors land files in their FINAL location) ---
    // Files live under a per-commit subtree: readers address files by
    // manifest (never by directory listing), so no rename pass is needed
    // — at 100k files the old driver-side mkdirs+rename loop was minutes
    // of serial FS metadata ops inside the commit window and impossible
    // on object stores. A failed job leaves invisible orphans for
    // maintenance to sweep; the Hive-style partition dirs below the
    // commit root come free from partitionBy for debuggability.
    val staging = Locations.commitDir(table, "commit", commitUuid)
    val encConf = graft.crypto.Encryption.confFor(table.metadata.properties)
    val writer = distributed.write
      .mode(SaveMode.Append)
      .options(graft.SessionConf.WriteConf.toMap)
      .options(encConf)
      .option("compression",
        table.metadata.properties.getOrElse("write.parquet.compression-codec", "zstd"))
    // field-id embedding + µs timestamps ride in the write session's conf
    // (SessionConf.WriteSessionConf) — `spark` here IS that clone
    table.metadata.properties.get("write.spark.max-records-per-file")
      .foreach(v => writer.option("maxRecordsPerFile", v))
    // parquet encoding knobs (table_properties.rs:238-240 row-group/page
    // sizes + compression level; Iceberg's per-column bloom-filter
    // convention) pass through to parquet-mr via writer options — bloom
    // filters turn point-lookup residuals into row-group skips at read.
    Seq("write.parquet.row-group-size-bytes" -> "parquet.block.size",
      "write.parquet.page-size-bytes" -> "parquet.page.size",
      "write.parquet.dict-size-bytes" -> "parquet.dictionary.page.size",
      "write.parquet.compression-level" -> "parquet.compression.codec.zstd.level")
      .foreach { case (tp, po) =>
        table.metadata.properties.get(tp).foreach(writer.option(po, _))
      }
    val BloomPrefix = "write.parquet.bloom-filter-enabled.column."
    table.metadata.properties.foreach {
      case (k, v) if k.startsWith(BloomPrefix) =>
        writer.option(s"parquet.bloom.filter.enabled#${k.stripPrefix(BloomPrefix)}", v)
      case _ =>
    }
    // rolling-writer size target (write.target-file-size-bytes, reference
    // RollingFileWriter): Spark's writer rolls by record count, so convert
    // the byte target using the optimizer's row-width estimate. In-memory
    // width overestimates the encoded+compressed parquet width, which
    // errs toward smaller-than-target files — the safe side.
    if (!table.metadata.properties.contains("write.spark.max-records-per-file"))
      table.metadata.properties.get("write.target-file-size-bytes").foreach { t =>
        val stats = distributed.queryExecution.optimizedPlan.stats
        val rowWidth = math.max(1L, stats.sizeInBytes.toLong /
          math.max(1L, stats.rowCount.map(_.toLong).getOrElse(
            stats.sizeInBytes.toLong / 128)))
        writer.option("maxRecordsPerFile", math.max(1L, t.toLong / rowWidth))
      }
    (if (partNames.nonEmpty) writer.partitionBy(partNames: _*) else writer)
      .parquet(staging)

    // --- harvest DataFiles (distributed footer reads) ---
    val staged = io.listFiles(staging).filter(_._1.endsWith(".parquet"))
    if (staged.isEmpty) { io.delete(staging, recursive = true); return Nil }

    val partType = spec.partitionType(schema)
    val stagingPrefix = staging
    val fieldTypes = schema.fields.map(f => f.name -> (f.id, f.fieldType)).toMap
    val partFieldTypes = partType.fields.map(_.fieldType)
    // small writes harvest on the driver: a Spark job costs ~100–150 ms
    // of fixed scheduling for what is a handful of KB-scale footer reads
    // (r15-opt: every maintenance fold paid it); the footprint either
    // way is the same O(files) DataFile list on the driver. Large writes
    // keep the distributed read.
    val dataFiles: Seq[DataFile] =
      if (staged.size <= DriverHarvestMaxFiles)
        staged.map { case (p, len) =>
          AppendWriter.harvestDataFile(p, len, stagingPrefix, fieldTypes,
            partFieldTypes, encConf)
        }
      else spark.sparkContext
        .parallelize(staged, math.max(1, math.min(staged.size, 64)))
        .map { case (p, len) =>
          AppendWriter.harvestDataFile(p, len, stagingPrefix, fieldTypes, partFieldTypes,
            encConf)
        }.collect().toSeq

    // files written under the active sort order carry its id
    // (data_file.rs sort_order_id) — the scan reports ordering to Spark
    // only when every planned file is stamped with the current order
    val stamped =
      if (order.fields.isEmpty) dataFiles
      else dataFiles.map(_.copy(sortOrderId = Some(order.orderId)))
    withNanCounts(table, spark, staging, stamped)
  }

  /** NaN value counts (data_file.rs nan_value_counts): parquet footers
    * don't track NaN, so when enabled this runs ONE extra aggregation
    * over the freshly-written files (grouped by `_metadata.file_path`,
    * map-side combined — the data is page-cache-hot). Opt-in via
    * `write.collect-nan-counts` since it re-reads the float columns;
    * without it the evaluators keep their safe inclusive defaults. */
  private def withNanCounts(table: GraftTable,
      spark: org.apache.spark.sql.SparkSession, staging: String,
      dataFiles: Seq[DataFile]): Seq[DataFile] = {
    val floatFields = table.schema.fields.filter(f =>
      f.fieldType == FloatT || f.fieldType == DoubleT)
    if (floatFields.isEmpty ||
        !table.metadata.properties.get("write.collect-nan-counts").contains("true"))
      return dataFiles

    import org.apache.spark.sql.functions.{isnan, sum}
    val aggs = floatFields.map(f =>
      sum(isnan(col(f.name)).cast("long")).as(s"_nan_${f.id}"))
    val perFile = spark.read
      .options(graft.crypto.Encryption.confFor(table.metadata.properties))
      .parquet(dataFiles.map(_.filePath): _*)
      .groupBy(col("_metadata.file_path").as("_f"))
      .agg(aggs.head, aggs.tail: _*)
      .collect()
      .map(r => r.getString(0) ->
        floatFields.zipWithIndex.map { case (f, i) => f.id -> r.getLong(i + 1) }.toMap)
      .toMap
    dataFiles.map(d => perFile.get(table.io.qualify(d.filePath))
      .map(counts => d.copy(nanValueCounts = counts)).getOrElse(d))
  }

  /** Read one staged parquet footer → DataFile (runs on executors). */
  def harvestDataFile(
      path: String,
      fileLen: Long,
      stagingPrefix: String,
      fieldTypes: Map[String, (Int, IcebergType)],
      partFieldTypes: Seq[IcebergType],
      encConf: Map[String, String] = Map.empty,
      explicitPartition: Option[Seq[Any]] = None): DataFile = {
    // executor-local conf; staging paths use the same FS as the table.
    // Encrypted tables carry decryption entries for the footer read —
    // HadoopReadOptions resolves FileDecryptionProperties through the
    // crypto factory in the conf (raw open() would skip it). Read-only
    // template when unencrypted: the per-file property-clone here was
    // the top executor stack of the fold bench lines (r16).
    val conf = graft.io.FileIO.readOnlyConf(encConf)
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(path), conf),
      org.apache.parquet.HadoopReadOptions.builder(conf, new Path(path)).build())
    try {
      val footer = reader.getFooter
      val blocks = footer.getBlocks
      var recordCount = 0L
      var fileSize = 0L
      val colSizes = scala.collection.mutable.Map[Int, Long]()
      val valCounts = scala.collection.mutable.Map[Int, Long]()
      val nullCounts = scala.collection.mutable.Map[Int, Long]()
      val lower = scala.collection.mutable.Map[Int, Any]()
      val upper = scala.collection.mutable.Map[Int, Any]()
      val splits = Seq.newBuilder[Long]
      blocks.forEach { b =>
        recordCount += b.getRowCount
        splits += b.getStartingPos
        b.getColumns.forEach { c =>
          fileSize += c.getTotalSize
          val topName = c.getPath.toArray()(0)
          fieldTypes.get(topName).foreach { case (id, t) =>
            if (c.getPath.size() == 1) {
              colSizes(id) = colSizes.getOrElse(id, 0L) + c.getTotalSize
              valCounts(id) = valCounts.getOrElse(id, 0L) + c.getValueCount
              val st = c.getStatistics
              if (st != null && !st.isEmpty) {
                if (st.isNumNullsSet)
                  nullCounts(id) = nullCounts.getOrElse(id, 0L) + st.getNumNulls
                if (st.hasNonNullValue) {
                  val mn = statValue(t, st.genericGetMin().asInstanceOf[AnyRef])
                  val mx = statValue(t, st.genericGetMax().asInstanceOf[AnyRef])
                  if (mn != null)
                    lower(id) = lower.get(id).map(cur =>
                      if (SingleValue.compare(t, mn, cur) < 0) mn else cur).getOrElse(mn)
                  if (mx != null)
                    upper(id) = upper.get(id).map(cur =>
                      if (SingleValue.compare(t, mx, cur) > 0) mx else cur).getOrElse(mx)
                }
              }
            }
          }
        }
      }
      // the native DSv2 writer computes the tuple itself (fanout routing);
      // the DataFrame path parses it back out of the Hive-style dirs
      val partition = explicitPartition.getOrElse(
        parsePartition(path, stagingPrefix, partFieldTypes))
      DataFile(
        content = FileContent.Data,
        filePath = path,
        fileFormat = "PARQUET",
        partition = partition,
        recordCount = recordCount,
        fileSizeInBytes = fileLen,
        columnSizes = colSizes.toMap,
        valueCounts = valCounts.toMap,
        nullValueCounts = nullCounts.toMap,
        lowerBounds = lower.toMap,
        upperBounds = upper.toMap,
        splitOffsets = splits.result())
    } finally reader.close()
  }

  /** INT96 timestamp → µs since epoch (arrow/reader/int96.rs semantics:
    * 8-byte LE nanos-of-day + 4-byte LE julian day). Hive/Impala-written
    * files imported via addFiles carry timestamps in this layout. */
  private def int96Micros(b: org.apache.parquet.io.api.Binary): Long = {
    val bb = b.toByteBuffer.order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val nanosOfDay = bb.getLong(bb.position())
    val julianDay = bb.getInt(bb.position() + 8)
    (julianDay - 2440588L) * 86400000000L + nanosOfDay / 1000L
  }

  /** parquet Statistics generic value → Iceberg-internal scalar. */
  private def statValue(t: IcebergType, v: AnyRef): Any = t match {
    case IntT | DateT => v.asInstanceOf[Number].intValue()
    case TimestampT | TimestamptzT => v match {
      // INT96-physical timestamps (imported legacy files); parquet-mr
      // usually suppresses their stats entirely, but decode when present
      case b: org.apache.parquet.io.api.Binary if b.length == 12 => int96Micros(b)
      case n: Number => n.longValue()
    }
    case LongT | TimeT => v.asInstanceOf[Number].longValue()
    case FloatT => v.asInstanceOf[Number].floatValue()
    case DoubleT => v.asInstanceOf[Number].doubleValue()
    case BooleanT => v.asInstanceOf[java.lang.Boolean].booleanValue()
    case StringT => new String(v.asInstanceOf[org.apache.parquet.io.api.Binary].getBytes,
      java.nio.charset.StandardCharsets.UTF_8)
    case BinaryT | FixedT(_) => v.asInstanceOf[org.apache.parquet.io.api.Binary].getBytes
    case _ => null // decimals/uuid etc: skip bounds rather than risk a wrong bound
  }

  /** `.../_p_a=v1/_p_b=v2/part-x.parquet` → partition tuple values. */
  private def parsePartition(path: String, stagingPrefix: String,
      types: Seq[IcebergType]): Seq[Any] = {
    if (types.isEmpty) return Nil
    val rel = path.stripPrefix(stagingPrefix).stripPrefix("/")
    val segs = rel.split('/').dropRight(1).filter(_.contains("="))
    require(segs.length == types.length, s"expected ${types.length} partition dirs in $rel")
    segs.toSeq.zip(types).map { case (seg, t) =>
      val raw = seg.substring(seg.indexOf('=') + 1)
      if (raw == "__HIVE_DEFAULT_PARTITION__") null
      else {
        val s = unescapePath(raw)
        t match {
          case IntT => s.toInt
          case LongT => s.toLong
          case StringT => s
          case DateT => java.time.LocalDate.parse(s).toEpochDay.toInt
          case TimestampT | TimestamptzT =>
            // micros precision incl. fractional seconds (dirs are UTC-rendered)
            val i = java.time.LocalDateTime.parse(s.replace(' ', 'T'))
              .toInstant(java.time.ZoneOffset.UTC)
            i.getEpochSecond * 1000000L + i.getNano / 1000L
          case BooleanT => s.toBoolean
          case FloatT => s.toFloat
          case DoubleT => s.toDouble
          case DecimalT(_, sc) =>
            new java.math.BigDecimal(s).setScale(sc)
          case other => throw new IllegalArgumentException(
            s"cannot parse partition value of type $other from '$s'")
        }
      }
    }
  }

  /** Inverse of Spark's ExternalCatalogUtils.escapePathName (%xx escapes). */
  private def unescapePath(s: String): String = {
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 2 < s.length) {
        try {
          sb.append(Integer.parseInt(s.substring(i + 1, i + 3), 16).toChar)
          i += 3
        } catch { case _: NumberFormatException => sb.append(c); i += 1 }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** Fast-append commit with optimistic retry: one new manifest prepended
    * to the refreshed base's list. Shared with the native DSv2 batch
    * writer (GraftBatchWrite). */
  private[graft] def commitAppend(table: GraftTable, files: Seq[DataFile],
      commitUuid: String, extraSummary: Map[String, String] = Map.empty,
      branch: Option[String] = None): GraftTable =
    Commits.commit(table, "append", commitUuid, extraSummary, branch)(
      _ => appendChanges(table, files))

  /** `files`, written under the table handle's spec, as an append. Shared
    * by [[commitAppend]] and [[Transaction.fastAppend]]. */
  private[table] def appendChanges(table: GraftTable,
      files: Seq[DataFile]): Commits.FileChanges =
    Commits.FileChanges(addedData = Seq(table.spec.specId -> files))
}
