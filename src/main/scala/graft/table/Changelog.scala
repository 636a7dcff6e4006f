package graft.table

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.meta.ManifestStatus
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
  * THAT snapshot through the scan's manifest cache. Rows are read by the
  * table's one reader (`TableScan.readTasks`: field ids or name mapping,
  * v3 defaults): inserts as their files hold them, deletes as ONE filter
  * over the parent scan — the same per-row [[DeleteFilter]] test the MoR
  * read applies, so each parent row is tested once and no join or
  * exchange is planned. Output columns: table schema + `_change_type`,
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
    // the data files s itself added or removed, from ITS OWN manifest
    // list (not `to`'s), so attribution survives later rewrites; a
    // compaction reads none
    lazy val mine = table.newScan().dataEntries(s)
      .filter(_._2.snapshotId.contains(s.snapshotId))
    def withStatus(status: Int) = mine.filter(_._2.status == status)
    val deletes = s.operation match {
      case "delete" | "overwrite" => deletedRows(table, spark, s,
        withStatus(ManifestStatus.Deleted).map(e => table.io.qualify(e._2.dataFile.filePath)))
      case _ => None
    }
    val inserts = s.operation match {
      case "append" | "overwrite" =>
        val added = withStatus(ManifestStatus.Added).map { case (m, e) => FileScanTask.of(m, e) }
        Option.when(added.nonEmpty)(
          table.newScan().readTasks(spark, added, applyDeletes = false))
      case _ => None
    }
    deletes.map(tag(_, "delete", ord, s.snapshotId, dataCols)).toSeq ++
      inserts.map(tag(_, "insert", ord, s.snapshotId, dataCols))
  }

  /** Rows snapshot `s` removed: the parent snapshot's live rows (its
    * deletes applied) that sit in a data file `s` removed, or that a
    * delete file `s` added marks — the [[DeletePlan]] of those deletes
    * over the parent's files, tested per row on `_file`, `_pos` and the
    * served key columns. A delete alive at the parent too only marks rows
    * the parent already dropped. */
  private def deletedRows(table: GraftTable, spark: SparkSession, s: Snapshot,
      removed: Seq[String]): Option[DataFrame] = {
    val parent = table.newScan().useSnapshot(s.parentSnapshotId.getOrElse(return None))
      .withMetadataColumns()
    val tasks = parent.planFiles()
    if (tasks.isEmpty) return None
    val older = parent.planDeletes().map(d => Commits.deleteKey(d.file)).toSet
    val added = table.newScan().useSnapshot(s.snapshotId).planDeletes()
      .filterNot(d => older(Commits.deleteKey(d.file)))
    val inRemoved = Option.when(removed.nonEmpty)(col("_file").isin(removed: _*))
    val marked = parent.deletedRows(spark, tasks, added, col("_file"), col("_pos"))
      .map(_(col))
    (inRemoved ++ marked).reduceOption(_ || _)
      .map(parent.readTasks(spark, tasks).filter(_))
  }
}
