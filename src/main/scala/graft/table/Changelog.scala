package graft.table

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.meta.{FileContent, ManifestContent, ManifestIO, ManifestStatus}
import graft.spec.Snapshot

/** Row-level changelog over a snapshot range — the CDC surface Iceberg
  * exposes as `create_changelog_view` and the reference sketches via the
  * `_change_type` reserved column (metadata_columns.rs:53,90).
  *
  * For each snapshot in `(from, to]`, oldest first:
  *   - `append`: rows of the data files it added → `insert`;
  *   - `delete`: rows it removed → `delete` — whole dropped files, new
  *     position-delete/DV positions, and equality-delete keys are all
  *     resolved against the PARENT-visible scan, so rows already dead
  *     before the snapshot never re-emit;
  *   - `overwrite` (CoW update/merge): its deletes AND its inserts —
  *     unchanged rows copied into rewritten files appear as same-ordinal
  *     delete+insert pairs ("carry-overs"); `netChanges = true` cancels
  *     them (Iceberg's remove-carryovers semantics);
  *   - `replace` (compaction): no logical change, contributes nothing.
  *
  * Scale shape: per snapshot the driver walks KB-scale manifest Avro of
  * THAT snapshot (cache-hit for ancestors shared with the live scan);
  * row work is executor joins — parent scan × (broadcast-sized delete
  * descriptors | decoded DV positions), the same join shapes as the MoR
  * read path. Output columns: table schema + `_change_type`,
  * `_change_ordinal`, `_commit_snapshot_id`.
  */
object Changelog {

  private val TypeCol = "_change_type"
  private val OrdCol = "_change_ordinal"
  private val SnapCol = "_commit_snapshot_id"

  def changesBetween(table: GraftTable, spark: SparkSession,
      fromSnapshotId: Long, toSnapshotId: Long,
      netChanges: Boolean = false): DataFrame = {
    val byId = table.metadata.snapshots.map(s => s.snapshotId -> s).toMap
    val to = byId.getOrElse(toSnapshotId,
      throw new IllegalArgumentException(s"snapshot $toSnapshotId not found"))
    var chain: List[Snapshot] = Nil
    var cur: Option[Snapshot] = Some(to)
    while (cur.isDefined && cur.get.snapshotId != fromSnapshotId) {
      chain = cur.get :: chain
      cur = cur.get.parentSnapshotId.flatMap(byId.get)
    }
    require(cur.isDefined || fromSnapshotId == -1L,
      s"snapshot $fromSnapshotId is not an ancestor of $toSnapshotId")

    val dataCols = table.schema.fields.map(_.name)
    val frames = chain.zipWithIndex.flatMap { case (s, ord) =>
      snapshotChanges(table, spark, s, ord, dataCols)
    }
    if (frames.isEmpty) empty(table, spark)
    else {
      val all = frames.reduce(_.unionAll(_))
      if (netChanges) cancelCarryOvers(all, dataCols) else all
    }
  }

  /** Same-ordinal identical-row delete+insert pairs (CoW copies of
    * untouched rows) cancel; surviving multiplicity re-expands. */
  private def cancelCarryOvers(all: DataFrame, dataCols: Seq[String]): DataFrame = {
    val keys = dataCols.map(col) :+ col(OrdCol) :+ col(SnapCol)
    all.groupBy(keys: _*)
      .agg(sum(when(col(TypeCol) === "insert", 1).otherwise(-1)).as("_net"))
      .filter(col("_net") =!= 0)
      .withColumn(TypeCol, when(col("_net") > 0, lit("insert")).otherwise(lit("delete")))
      .withColumn("_dup", explode(sequence(lit(1L), abs(col("_net")))))
      .drop("_net", "_dup")
      .select((dataCols :+ TypeCol :+ OrdCol :+ SnapCol).map(col): _*)
  }

  /** Output schema: the table columns plus `_change_type`,
    * `_change_ordinal`, `_commit_snapshot_id` — also the row shape of the
    * streaming changelog source (GraftChangelogSource). */
  def outputSchema(table: GraftTable): org.apache.spark.sql.types.StructType = {
    val base = table.schema.toSpark
    org.apache.spark.sql.types.StructType(base.fields ++ Seq(
      org.apache.spark.sql.types.StructField(TypeCol,
        org.apache.spark.sql.types.StringType, nullable = false),
      org.apache.spark.sql.types.StructField(OrdCol,
        org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField(SnapCol,
        org.apache.spark.sql.types.LongType, nullable = false)))
  }

  private def empty(table: GraftTable, spark: SparkSession): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      outputSchema(table))

  private def tag(df: DataFrame, tpe: String, ord: Int, snapId: Long,
      dataCols: Seq[String]): DataFrame =
    df.select(dataCols.map(col): _*)
      .withColumn(TypeCol, lit(tpe))
      .withColumn(OrdCol, lit(ord))
      .withColumn(SnapCol, lit(snapId))

  private def snapshotChanges(table: GraftTable, spark: SparkSession,
      s: Snapshot, ord: Int, dataCols: Seq[String]): Seq[DataFrame] = {
    val inserts = s.operation match {
      case "append" | "overwrite" =>
        addedRows(table, spark, s).map(tag(_, "insert", ord, s.snapshotId, dataCols))
      case _ => None
    }
    val deletes = s.operation match {
      case "delete" | "overwrite" =>
        deletedRows(table, spark, s).map(tag(_, "delete", ord, s.snapshotId, dataCols))
      case _ => None
    }
    deletes.toSeq ++ inserts.toSeq
  }

  /** Manifest entries of snapshot `s`'s OWN manifest list with the given
    * content, alive-or-dead filtered by caller. Reading s's list (not
    * `to`'s) keeps attribution correct even after later rewrites. */
  private def entriesOf(table: GraftTable, s: Snapshot, content: Int)
      : Seq[graft.meta.ManifestEntry] =
    ManifestIO.readManifestList(table.io, s.manifestList, table.partTypes,
        graft.crypto.MetadataEncryption.listKeyFor(table.metadata, s))
      .filter(_.content == content)
      .flatMap { m =>
        val spec = table.metadata.specById(m.partitionSpecId).getOrElse(table.spec)
        ManifestIO.readManifest(table.io, m.manifestPath, table.schema, spec,
          m.keyMetadata)
      }

  private def addedRows(table: GraftTable, spark: SparkSession,
      s: Snapshot): Option[DataFrame] = {
    val paths = entriesOf(table, s, ManifestContent.Data)
      .filter(e => e.status == ManifestStatus.Added &&
        e.snapshotId.contains(s.snapshotId))
      .map(_.dataFile.filePath)
    if (paths.isEmpty) None
    else {
      val encConf = graft.crypto.Encryption.confFor(table.metadata.properties)
      Some(graft.SessionConf.scanSession(spark).read.options(encConf)
        .schema(table.schema.toSpark).parquet(paths: _*))
    }
  }

  /** Rows snapshot `s` removed, resolved against the parent-visible scan:
    * whole removed files, new position/DV delete positions, and new
    * equality-delete keys (sequence-scoped). */
  private def deletedRows(table: GraftTable, spark: SparkSession,
      s: Snapshot): Option[DataFrame] = {
    val parentId = s.parentSnapshotId.getOrElse(return None)
    val parent = table.newScan().useSnapshot(parentId)
      .withMetadataColumns().toDF(spark)
    val encConf = graft.crypto.Encryption.confFor(table.metadata.properties)

    val removedPaths = entriesOf(table, s, ManifestContent.Data)
      .filter(e => e.status == ManifestStatus.Deleted &&
        e.snapshotId.contains(s.snapshotId))
      .map(e => table.io.qualify(e.dataFile.filePath))
    val newDeletes = entriesOf(table, s, ManifestContent.Deletes)
      .filter(e => e.status == ManifestStatus.Added &&
        e.snapshotId.contains(s.snapshotId))

    val parts = Seq.newBuilder[DataFrame]

    if (removedPaths.nonEmpty) {
      import spark.implicits._
      val rp = removedPaths.toDF("_gf_removed_file")
      parts += parent.join(broadcast(rp),
        parent("_file") === rp("_gf_removed_file"), "left_semi")
    }

    val posParquet = newDeletes.filter(e =>
      e.dataFile.content == FileContent.PositionDeletes &&
        e.dataFile.fileFormat != "PUFFIN")
    if (posParquet.nonEmpty) {
      val pd = spark.read.options(encConf)
        .parquet(posParquet.map(_.dataFile.filePath): _*)
      parts += parent.join(pd,
        parent("_file") === pd("file_path") && parent("_pos") === pd("pos"),
        "left_semi")
    }

    val dvs = newDeletes.filter(e =>
      e.dataFile.content == FileContent.PositionDeletes &&
        e.dataFile.fileFormat == "PUFFIN")
    if (dvs.nonEmpty) {
      import spark.implicits._
      val descriptors = dvs.flatMap(e => e.dataFile.referencedDataFile.map(ref =>
        (e.dataFile.filePath, e.dataFile.contentOffset.getOrElse(0L),
          e.dataFile.contentSizeInBytes.getOrElse(0L), table.io.qualify(ref))))
      val dvRows = spark.sparkContext
        .parallelize(descriptors, math.max(1, math.min(descriptors.size, 64)))
        .flatMap { case (puffin, offset, len, ref) =>
          val io = graft.io.FileIO.local()
          val meta = graft.puffin.Puffin.BlobMetadata(
            graft.puffin.Puffin.DeletionVectorV1, Nil, 0L, 0L, offset, len, Map.empty)
          graft.puffin.Puffin.dvDeserialize(
            graft.puffin.Puffin.readBlob(io, puffin, meta))
            .iterator.map(pos => (ref, pos))
        }.toDF("file_path", "pos")
      parts += parent.join(dvRows,
        parent("_file") === dvRows("file_path") && parent("_pos") === dvRows("pos"),
        "left_semi")
    }

    val eqDeletes = newDeletes.filter(_.dataFile.content == FileContent.EqualityDeletes)
    eqDeletes.groupBy(e => (e.dataFile.equalityIds,
        e.sequenceNumber.getOrElse(s.sequenceNumber))).foreach {
      case ((ids, delSeq), group) =>
        val keyNames = ids.map(id => table.schema.idToField(id).name)
        val dels = spark.read.options(encConf)
          .parquet(group.map(_.dataFile.filePath): _*)
          .select(keyNames.map(col): _*).distinct()
        val keyCond = keyNames.map(n => parent(n) === dels(n)).reduce(_ && _)
        parts += parent.join(dels,
          keyCond && parent("_last_updated_sequence_number") < lit(delSeq),
          "left_semi")
    }

    val built = parts.result()
    if (built.isEmpty) None
    // distinct on (_file, _pos): a row matched by several delete sources
    // emits once; identity is positional, so duplicate row VALUES survive
    else Some(built.reduce(_.unionAll(_)).dropDuplicates("_file", "_pos"))
  }
}
