package graft.table

import java.util.UUID

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}

import graft.expr.Predicate
import graft.meta._

/** Copy-on-write row-level operations: OVERWRITE WHERE and UPDATE WHERE
  * (reference Operation::Overwrite, snapshot.rs:40-60 — replace matching
  * rows in one atomic snapshot).
  *
  * Shape: candidate files come from pruned planning; files whose stats
  * prove a full match are simply dropped, boundary files are rewritten
  * keeping their non-matching rows; replacement rows append. All data
  * movement is executor-side (the rewrite is a filtered scan → staged
  * write over ONLY the touched files — at 100 TB an overwrite of one
  * partition never reads the other 99.9%).
  *
  * Row lineage, v3 tables only (`TableMetadata.rowLineage`): every CoW
  * rewrite path below PRESERVES lineage: carried rows keep their
  * materialized `(_row_id, _last_updated_sequence_number)`, updated rows
  * keep `_row_id` with a nulled sequence (the reader then serves the new
  * file's sequence number — "last updated here"), and inserted rows ride
  * null/null into first_row_id + position inheritance
  * (the commit's producer blocks the new files). On v1/v2 tables the
  * rewrites read and write the data columns alone.
  */
object RowOps {

  /** The rewrite's task read: on v3 tables it carries the row-lineage
    * pair alongside the data columns (materialized-or-inherited, the same
    * resolution every scan uses). */
  private def readForRewrite(table: GraftTable, spark: SparkSession,
      tasks: Seq[FileScanTask]): DataFrame =
    if (table.metadata.rowLineage) table.newScan().readTasksLineage(spark, tasks)
    else table.newScan().readTasks(spark, tasks)

  /** Null-fill the lineage pair on frames that lack it (external inserts:
    * fresh ids via inheritance). */
  private def withLineageCols(df: DataFrame): DataFrame =
    graft.spec.RowLineage.sparkFields.map(_.name).foldLeft(df)((d, c) =>
      if (d.columns.contains(c)) d else d.withColumn(c, lit(null).cast("long")))

  /** Atomically delete rows matching `predicate` and insert `replacement`.
    * CoW: touched files are dropped/rewritten in the same snapshot. */
  def overwriteWhere(table: GraftTable, predicate: Predicate,
      replacement: DataFrame, spark: SparkSession): GraftTable = {
    val bound = Predicate.bind(predicate, table.schema)
    val tasks = table.newScan().withFilter(bound).planFiles()
    val lineage = table.metadata.rowLineage

    val (whole, partial) = tasks.partition(t =>
      graft.expr.StrictMetricsEvaluator.fileMustMatch(bound, t.file, table.schema))

    // survivors of boundary files (rows NOT matching) must be rewritten —
    // read through the scan's task reader so existing MoR deletes are
    // folded in (a raw parquet read would resurrect deleted rows)
    val survivors =
      if (partial.isEmpty) None
      else Some(readForRewrite(table, spark, partial)
        .filter(!Predicate.toColumn(bound, table.schema)))

    val replacementL = Option(replacement)
      .map(r => if (lineage) withLineageCols(r) else r)
    val newData = (survivors, replacementL) match {
      case (Some(s), Some(r)) => Some(s.unionByName(r.select(s.columns.map(col): _*)))
      case (Some(s), None) => Some(s)
      case (None, Some(r)) => Some(r)
      case (None, None) =>
        if (whole.isEmpty) return table // nothing matched, nothing to insert
        None // pure whole-file drop: still commits the manifest rewrite
    }

    val commitUuid = UUID.randomUUID().toString
    val newFiles = newData
      .map(d => AppendWriter.writeDataFiles(table, d, commitUuid, lineage))
      .getOrElse(Nil)
    val dropPaths = (whole ++ partial).map(_.file.filePath).toSet

    Commits.commit(table, "overwrite", commitUuid) { base =>
      Commits.validateReplace(table.io, base, table.metadata.currentSnapshotId,
        dropPaths, Commits.conflictFilterFor(base, "delete", bound), table.schema,
        failOnDeletesApplyingTo = dropPaths)
      Commits.FileChanges(addedData = Seq(table.spec.specId -> newFiles),
        removedData = dropPaths)
    }
  }

  /** MERGE (upsert): table rows whose key matches a source row are
    * replaced by that source row; unmatched source rows are inserted —
    * one atomic overwrite snapshot.
    *
    * Planning: for a single small key set the candidate files come from
    * an IN-predicate over metadata pruning (clustered/bucketed tables
    * touch only matching files); otherwise every data file is a rewrite
    * candidate (the unavoidable CoW bound — MoR equality deletes are the
    * alternative for huge sparse merges, see equalityDelete). */
  def mergeInto(table: GraftTable, source: DataFrame, keyCols: Seq[String],
      spark: SparkSession): GraftTable = {
    require(keyCols.nonEmpty, "merge requires key columns")
    keyCols.foreach { c =>
      require(table.schema.findField(c).isDefined, s"unknown merge key: $c")
    }
    // duplicate keys change neither the anti- nor the semi-join below, so
    // only the planning collect needs them distinct
    val keys = source.select(keyCols.map(col): _*)

    val planPredicate: Predicate = keyCols match {
      case Seq(single) =>
        val vals = keys.distinct().limit(10001).collect().map(_.get(0))
        if (vals.length <= 10000)
          graft.expr.SetPred(graft.expr.In, single,
            vals.map(v => sparkToInternal(table, single, v)).toSet)
        else graft.expr.AlwaysTrue
      case _ => graft.expr.AlwaysTrue
    }
    val candidates = table.newScan()
      .withFilter(Predicate.bind(planPredicate, table.schema)).planFiles()

    val lineage = table.metadata.rowLineage
    val survivors =
      if (candidates.isEmpty) None
      else Some(readForRewrite(table, spark, candidates)
        .join(keys, keyCols, "left_anti"))
    val ordered0 = source.select(table.schema.fields.map(f => col(f.name)): _*)
    // lineage: a MATCHED source row is an UPDATE of the target row — it
    // RETAINS the target's _row_id (min over duplicate target keys for
    // determinism) with a nulled sequence (→ the new file's); an
    // unmatched source row inserts fresh (null → block inheritance)
    val ordered =
      if (!lineage) ordered0
      else if (candidates.isEmpty) withLineageCols(ordered0)
      else {
        // second pass over the candidates, but column pruning cuts the
        // parquet read to the key columns only, and the semi-join bounds
        // the aggregated map to the source's keys
        val idMap = table.newScan().readTasksLineage(spark, candidates)
          .select(keyCols.map(col) :+ col(graft.spec.RowLineage.RowIdName): _*)
          .join(keys, keyCols, "left_semi")
          .groupBy(keyCols.map(col): _*)
          .agg(org.apache.spark.sql.functions
            .min(col(graft.spec.RowLineage.RowIdName))
            .as(graft.spec.RowLineage.RowIdName))
        withLineageCols(ordered0.join(idMap, keyCols, "left"))
      }
    val newData = survivors.map(_.unionByName(ordered)).getOrElse(ordered)

    val commitUuid = UUID.randomUUID().toString
    val newFiles = AppendWriter.writeDataFiles(table, newData, commitUuid, lineage)
    val dropPaths = candidates.map(_.file.filePath).toSet

    Commits.commit(table, "overwrite", commitUuid,
      Map("merged-data-files" -> dropPaths.size.toString)) { base =>
      // merge has no static predicate bounding the conflict region: under
      // serializable isolation ANY concurrently-added data row may match
      // a source key, so the filter is AlwaysTrue (every new file trips)
      Commits.validateReplace(table.io, base, table.metadata.currentSnapshotId,
        dropPaths, Commits.conflictFilterFor(base, "merge", graft.expr.AlwaysTrue),
        table.schema, failOnDeletesApplyingTo = dropPaths)
      Commits.FileChanges(addedData = Seq(table.spec.specId -> newFiles),
        removedData = dropPaths)
    }
  }

  /** Spark external value → Iceberg-internal scalar for planning. */
  private def sparkToInternal(table: GraftTable, colName: String, v: Any): Any =
    graft.expr.SparkFilters.literal(table.schema, colName, v).getOrElse(v)

  /** UPDATE ... SET assignments WHERE predicate, as a CoW overwrite:
    * matching rows re-emitted with the assignments applied. */
  def updateWhere(table: GraftTable, predicate: Predicate,
      assignments: Map[String, Column], spark: SparkSession): GraftTable = {
    assignments.keys.foreach { c =>
      require(table.schema.findField(c).isDefined, s"unknown update column: $c")
    }
    val bound = Predicate.bind(predicate, table.schema)
    val tasks = table.newScan().withFilter(bound).planFiles()
    if (tasks.isEmpty) return table

    val updated0 = readForRewrite(table, spark, tasks)
      .filter(Predicate.toColumn(bound, table.schema))
      .withColumns(assignments)
    // updated rows RETAIN their _row_id; the nulled sequence makes the
    // reader serve the rewrite commit's sequence number (last update)
    val updated =
      if (!table.metadata.rowLineage) updated0
      else updated0.withColumn(graft.spec.RowLineage.LastUpdatedName, lit(null).cast("long"))
    overwriteWhere(table, predicate, updated, spark)
  }
}
