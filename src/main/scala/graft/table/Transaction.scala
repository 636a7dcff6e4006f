package graft.table

import scala.collection.mutable

import org.apache.spark.sql.DataFrame

import graft.spec.{SortField, SortOrder, TableMetadata}

/** Multi-action table transaction (reference `transaction/mod.rs:86-247`):
  * actions accumulate on the builder and land in ONE catalog swap — a
  * reader either sees none of the transaction or all of it, and the
  * metadata log grows by exactly one version.
  *
  * Commit semantics mirror `Transaction::do_commit` (`mod.rs:218-247`):
  * the base is loaded fresh at commit time, every action re-applies IN
  * DECLARATION ORDER against that refreshed base, and a CAS conflict
  * retries the whole chain with exponential backoff
  * (`CommitRetry.run`, the same loop every single-action commit uses).
  * An action failure (e.g. evolving an unknown column) aborts the whole
  * transaction — nothing reaches the catalog.
  *
  * Action set = the reference's (`mod.rs:134-172`): property updates,
  * format-version upgrade, location move, schema evolution, sort-order
  * replacement, statistics registration, snapshot expiry, fast-append.
  * `fastAppend` stages its data files eagerly at call time (the
  * reference's `FastAppendAction` likewise takes pre-built data files —
  * data IO happens once, outside the retry loop); only the manifest /
  * snapshot bookkeeping re-runs per attempt. Files are laid out with the
  * schema + partition spec current at staging time, so combine schema
  * evolution and appends of the NEW shape in separate transactions.
  */
final class Transaction private[table] (origin: GraftTable) {

  /** Each action maps the running metadata to (updated metadata, files to
    * delete once the commit lands). Deletions are deferred to commit
    * success so a retried/aborted transaction never removes live files. */
  private val actions =
    mutable.Buffer[TableMetadata => (TableMetadata, Seq[String])]()

  private def meta(f: TableMetadata => TableMetadata): this.type = {
    actions += (md => (f(md), Nil))
    this
  }

  /** Set/remove table properties (`update_properties.rs`). */
  def updateProperties(set: Map[String, String],
      remove: Set[String] = Set.empty): this.type = {
    require(set.keySet.intersect(remove).isEmpty,
      "cannot set and remove the same property")
    meta(base => base.copy(
      properties = base.properties -- remove ++ set,
      lastUpdatedMs = System.currentTimeMillis()))
  }

  /** Upgrade format version, 1→2→3; downgrade refused
    * (`upgrade_format_version.rs`). */
  def upgradeFormatVersion(to: Int): this.type = meta { base =>
    require(to >= base.formatVersion,
      s"cannot downgrade format version ${base.formatVersion} -> $to")
    require(to <= 3, s"unsupported format version $to")
    if (to == base.formatVersion) base
    else base.copy(formatVersion = to,
      lastUpdatedMs = System.currentTimeMillis())
  }

  /** Move the table's root location (`update_location.rs`); future
    * commits place data under the new root, existing absolute paths keep
    * serving reads. */
  def updateLocation(newLocation: String): this.type = {
    require(newLocation.nonEmpty && !newLocation.endsWith("/"),
      s"location must be a non-empty path without trailing slash: '$newLocation'")
    meta(base => base.copy(location = newLocation,
      lastUpdatedMs = System.currentTimeMillis()))
  }

  /** Replace the default sort order (`sort_order.rs`). */
  def replaceSortOrder(fields: Seq[SortField]): this.type = meta { base =>
    fields.foreach { f =>
      require(base.currentSchema.idToField.contains(f.sourceId),
        s"sort field references unknown column id ${f.sourceId}")
    }
    val newId =
      if (fields.isEmpty) 0
      else math.max(1, base.sortOrders.map(_.orderId).max + 1)
    base.copy(
      sortOrders =
        if (fields.isEmpty) base.sortOrders
        else base.sortOrders :+ SortOrder(newId, fields),
      defaultSortOrderId = newId,
      lastUpdatedMs = System.currentTimeMillis())
  }

  /** Register/replace/remove statistics files (`update_statistics.rs`):
    * at most one per snapshot, set replaces. */
  def updateStatistics(set: Seq[graft.spec.StatisticsFile] = Nil,
      removeSnapshotIds: Set[Long] = Set.empty): this.type = {
    require(set.map(_.snapshotId).distinct.size == set.size,
      "duplicate snapshot ids in statistics set")
    meta { base =>
      val dropped = removeSnapshotIds ++ set.map(_.snapshotId)
      base.copy(
        statistics = base.statistics.filterNot(s => dropped(s.snapshotId)) ++ set,
        lastUpdatedMs = System.currentTimeMillis())
    }
  }

  /** Schema evolution (`update_schema.rs`): configure the same builder
    * the standalone path uses; its changes re-validate and re-apply
    * against each attempt's refreshed schema. */
  def updateSchema(configure: UpdateSchema => UpdateSchema): this.type = {
    val us = configure(new UpdateSchema(origin))
    meta { base =>
      val (schema, lastCol) = us.applyTo(base)
      base.copy(
        schemas = base.schemas :+ schema,
        currentSchemaId = schema.schemaId,
        lastColumnId = lastCol,
        lastUpdatedMs = System.currentTimeMillis())
    }
  }

  /** Fast-append (`append.rs` FastAppendAction): data files are written
    * NOW (once); the snapshot/manifest-list bookkeeping re-runs per
    * commit attempt against the refreshed base, exactly like a
    * standalone append. Several fastAppends in one transaction each get
    * their own snapshot, all landing in the single catalog swap. */
  def fastAppend(df: DataFrame,
      extraSummary: Map[String, String] = Map.empty): this.type = {
    val commitUuid = java.util.UUID.randomUUID().toString
    val files = AppendWriter.writeDataFiles(origin, df, commitUuid)
    if (files.nonEmpty) {
      val snapshotId =
        math.abs(java.util.UUID.randomUUID().getMostSignificantBits)
      val names = new Commits.ManifestNames(commitUuid)
      meta(base => Commits.applyCommit(origin, base, "append", names,
        snapshotId, extraSummary, None)(_ => AppendWriter.appendChanges(origin, files)))
    }
    this
  }

  /** Expire snapshots (`expire_snapshots.rs`): the same ref-aging +
    * per-branch retention as [[Maintenance.expireSnapshots]]; expired
    * manifest lists and dangling statistics files are deleted only after
    * the whole transaction commits. */
  def expireSnapshots(olderThanMs: Long, retainLast: Int = 1,
      nowMs: Long = System.currentTimeMillis()): this.type = {
    actions += (base =>
      Maintenance.expireTransform(base, olderThanMs, retainLast, nowMs))
    this
  }

  /** One catalog swap for every staged action; empty transactions are
    * no-ops (`mod.rs:176-179`). Returns the refreshed table. */
  def commit(): GraftTable = {
    if (actions.isEmpty) return origin
    graft.catalog.CommitRetry.run(origin.catalog, origin.name) { (base, _) =>
      var toDelete = Vector.empty[String]
      val updated = actions.foldLeft(base) { (md, a) =>
        val (next, dels) = a(md)
        toDelete ++= dels
        next
      }
      (updated, (_: Int) => {
        toDelete.foreach(p => scala.util.Try(origin.io.delete(p)))
        origin.refresh()
      })
    }
  }
}
