package graft.table

import java.util.UUID

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession

import graft.meta._
import graft.spec.NameMapping

/** Migrate-in-place: register existing parquet files as table data
  * WITHOUT rewriting them (the add_files/migrate path; the reference
  * covers this case through name mapping, spec/name_mapping/mod.rs +
  * arrow/reader/pipeline.rs:160-197 fallback resolution).
  *
  * Footer stats are harvested distributedly (same job shape as the append
  * writer). If the files carry no embedded parquet field ids — the normal
  * case for Hive/plain-Spark data — a default name mapping is recorded
  * and the scan switches to mapped-name resolution: the read schema keeps
  * the Iceberg field-id metadata (so native files still resolve by id)
  * but uses each field's mapped physical name (so legacy files resolve by
  * name), and columns are renamed to canonical names above the scan.
  *
  * v0: unpartitioned target spec (migrated Hive partitions would need
  * partition-value recovery from directory names).
  */
object AddFiles {

  def addFiles(table: GraftTable, spark: SparkSession, paths: Seq[String]): GraftTable = {
    require(table.spec.isUnpartitioned, "addFiles requires an unpartitioned spec (v0)")
    if (paths.isEmpty) return table
    val io = table.io
    val schema = table.schema

    // physical stats column names: canonical + mapping aliases
    val mapping = NameMapping.fromTable(table.metadata)
      .getOrElse(NameMapping.fromSchema(schema))
    val fieldTypes: Map[String, (Int, graft.spec.IcebergType)] =
      schema.fields.flatMap { f =>
        (f.name +: mapping.namesOf(f.id)).distinct.map(n => n -> (f.id, f.fieldType))
      }.toMap

    val withSizes = paths.map(p => p -> io.size(p))
    val dataFiles = spark.sparkContext
      .parallelize(withSizes, math.max(1, math.min(withSizes.size, 64)))
      .map { case (p, len) =>
        validateTimeUnits(p, fieldTypes)
        AppendWriter.harvestDataFile(p, len, stagingPrefix = "", fieldTypes, Seq.empty)
      }.collect().toSeq

    // do the files carry embedded field ids? (drives the read strategy)
    val hasIds = {
      val reader = ParquetFileReader.open(
        HadoopInputFile.fromPath(new Path(paths.head), graft.io.FileIO.readOnlyConf()))
      try reader.getFooter.getFileMetaData.getSchema.getFields.asScala
        .exists(_.getId != null)
      finally reader.close()
    }

    val prepared =
      if (hasIds) table
      else table.updateProperties(Map(
        NameMapping.PropertyKey -> mapping.toJsonString,
        "graft.read.use-name-mapping" -> "true"))

    val commitUuid = UUID.randomUUID().toString
    Commits.commit(prepared, "append", commitUuid)(
      _ => Commits.FileChanges(addedData = Seq(prepared.spec.specId -> dataFiles)))
  }

  /** Refuse files whose parquet timestamp unit contradicts the declared
    * Iceberg type. Without this gate a µs-annotated file registered under
    * `timestamp_ns` would be served as raw longs 1000× off (the reference
    * resolves by declared ids/types, arrow/reader/pipeline.rs:160-200 —
    * a unit mismatch there is a decode error, never a silent rescale). */
  private[table] def validateTimeUnits(
      path: String, fieldTypes: Map[String, (Int, graft.spec.IcebergType)]): Unit = {
    import graft.spec.IcebergType._
    import org.apache.parquet.schema.LogicalTypeAnnotation.{TimeUnit, TimestampLogicalTypeAnnotation}
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
    val declared = fieldTypes.collect {
      case (name, (_, t @ (TimestampT | TimestamptzT | TimestampNsT | TimestamptzNsT))) =>
        name -> t
    }
    if (declared.isEmpty) return
    val reader = ParquetFileReader.open(
      HadoopInputFile.fromPath(new Path(path), graft.io.FileIO.readOnlyConf()))
    try {
      reader.getFooter.getFileMetaData.getSchema.getFields.asScala.foreach { f =>
        declared.get(f.getName).foreach { t =>
          val prim = f.asPrimitiveType()
          val unit = prim.getLogicalTypeAnnotation match {
            case ts: TimestampLogicalTypeAnnotation => Some(ts.getUnit)
            case _ if prim.getPrimitiveTypeName == PrimitiveTypeName.INT96 => None // legacy
            case other => throw new IllegalArgumentException(
              s"addFiles: $path column '${f.getName}' is not a parquet timestamp " +
                s"(annotation $other) but the table declares $t")
          }
          val ok = t match {
            case TimestampNsT | TimestamptzNsT => unit.contains(TimeUnit.NANOS)
            case _ => unit.isEmpty || unit.contains(TimeUnit.MICROS)
          }
          if (!ok) throw new IllegalArgumentException(
            s"addFiles: $path column '${f.getName}' carries parquet time unit " +
              s"${unit.map(_.toString).getOrElse("INT96")} but the table declares $t; " +
              "registering it would mis-scale values — rewrite the file or fix the schema")
        }
      }
    } finally reader.close()
  }

  private implicit class JListOps[A](l: java.util.List[A]) {
    def asScala: Seq[A] = scala.jdk.CollectionConverters.ListHasAsScala(l).asScala.toSeq
  }
}
