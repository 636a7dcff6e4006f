package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType

import graft.catalog.Catalog
import graft.expr.{AlwaysTrue, InclusiveMetricsEvaluator, Predicate}
import graft.sources.{GraftInputPartition, GraftReaderFactory}
import graft.spec.{Json, Snapshot}
import graft.table.GraftTable

/** Streaming offset = the last snapshot id covered; `-1` means "before the
  * table's first snapshot". Snapshot ids are the natural exactly-once unit:
  * a commit either is or is not an ancestor of the current snapshot, and
  * the checkpointed offset replays to the identical file set. */
final case class GraftStreamOffset(snapshotId: Long) extends Offset {
  override def json(): String = Json.obj().put("snapshotId", snapshotId).toString
}

object GraftStreamOffset {
  def fromJson(s: String): GraftStreamOffset =
    GraftStreamOffset(Json.parse(s).get("snapshotId").asLong())
  def of(o: Offset): GraftStreamOffset = o match {
    case g: GraftStreamOffset => g
    case other => fromJson(other.json())
  }
}

/** Micro-batch streaming read of a graft table — `spark.readStream
  * .format("graft")` — the Spark-native analogue of the reference's
  * incremental scan surface (crates/iceberg/src/scan/mod.rs ancestor
  * walks; Iceberg's Spark source SparkMicroBatchStream is the public
  * precedent for snapshot-id offsets).
  *
  * Each micro-batch is an incremental append scan over `(start, end]`
  * snapshots: planning walks KB-scale manifest Avro on the driver, file
  * metrics prune against the pushed-down predicate, and executors read
  * the planned splits through the same vectorized `GraftReaderFactory`
  * as the batch path — no driver data IO, so a 1000-executor cluster
  * backfills a 100 TB table the same way it tails a fresh one.
  *
  * Options:
  *  - `stream-from=latest` — start at the current snapshot (tail mode)
  *    instead of replaying table history.
  *  - `streaming-skip-delete-snapshots=true` — skip delete/replace
  *    snapshots in range (their row-level changes are not representable
  *    in an append-only changelog) instead of failing the stream.
  *  - `max-snapshots-per-micro-batch=N` — admission control: cap how far
  *    the offset advances per batch, bounding batch size on backfill.
  *  - `max-rows-per-micro-batch=N` — row-based admission via snapshot
  *    `added-records` summaries (Spark `ReadLimit.maxRows` is honored
  *    the same way); always advances at least one snapshot.
  */
final class GraftMicroBatchStream(
    tableName: String,
    catalog: Catalog,
    predicate: Predicate,
    pushedFilters: Seq[Filter],
    projected: Seq[String],
    options: Map[String, String]) extends MicroBatchStream
    with SupportsAdmissionControl with SupportsTriggerAvailableNow {

  private def reload(): GraftTable = GraftTable.load(tableName, catalog)

  private val startFromLatest = options.get("stream-from").contains("latest")
  private val skipNonAppend =
    options.get("streaming-skip-delete-snapshots").contains("true")
  private val maxSnaps =
    GraftMicroBatchStream.positiveIntOption(options, "max-snapshots-per-micro-batch")
  private val maxRowsOpt = GraftMicroBatchStream.positiveLongOption(
    options, "max-rows-per-micro-batch")

  override def initialOffset(): Offset =
    if (startFromLatest)
      GraftStreamOffset(reload().metadata.currentSnapshotId.getOrElse(-1L))
    else GraftStreamOffset(-1L)

  // The options become the DEFAULT read limit, so the engine stays in
  // charge of when they apply: per-batch triggers and AvailableNow pass
  // this default back into latestOffset, while Trigger.Once overrides
  // with ReadLimit.allAvailable() expecting the whole backlog in one
  // batch — a source that self-capped regardless (the previous shape)
  // silently dropped the tail of the backlog under Once. FileStreamSource
  // models the same contract with maxFilesPerTrigger.
  override def getDefaultReadLimit: ReadLimit =
    GraftMicroBatchStream.defaultLimit(maxSnaps, maxRowsOpt)

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "admission-controlled source: latestOffset(start, limit)")

  // Trigger.AvailableNow: pin the target at query start; per-batch offsets
  // advance (admission-capped) until they reach it, then the query ends.
  private var availableNowTarget: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTarget = Some(reload().metadata.currentSnapshotId.getOrElse(-1L))

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val from = GraftStreamOffset.of(start).snapshotId
    var pending = ancestryAfter(reload(), from)
    availableNowTarget.foreach { tgt =>
      val i = pending.indexWhere(_.snapshotId == tgt)
      pending = if (i < 0) Nil else pending.take(i + 1)
    }
    GraftMicroBatchStream.admit(pending, limit,
        s => GraftMicroBatchStream.summaryLong(s, "added-records")) match {
      case Some(s) => GraftStreamOffset(s.snapshotId)
      case None => start
    }
  }

  override def reportLatestOffset(): Offset =
    GraftStreamOffset(reload().metadata.currentSnapshotId.getOrElse(-1L))

  private def ancestryAfter(t: GraftTable, from: Long): List[Snapshot] =
    GraftMicroBatchStream.ancestryAfter(t, from)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val from = GraftStreamOffset.of(start).snapshotId
    val to = GraftStreamOffset.of(end).snapshotId
    if (to == -1L || from == to) return Array.empty
    val t = reload()
    val bound = predicate match {
      case AlwaysTrue => AlwaysTrue
      case p => Predicate.bind(p, t.schema)
    }
    t.newScan().appendsBetween(from, to, skipNonAppend).planFiles()
      .filter(task => InclusiveMetricsEvaluator.fileMightMatch(bound, task.file, t.schema))
      .flatMap { task =>
        GraftInputPartition.cleanSplits(t.io.qualify(task.file.filePath),
          task.file.fileSizeInBytes, task.file.splitOffsets)
      }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val t = reload()
    val full = t.schema.toSpark
    val read =
      if (projected.isEmpty) full
      else StructType(projected.flatMap(n => full.fields.find(_.name == n)))
    GraftReaderFactory.build(SparkSession.active, read, pushedFilters,
      graft.crypto.Encryption.confFor(t.metadata.properties))
  }

  override def deserializeOffset(json: String): Offset = GraftStreamOffset.fromJson(json)

  override def commit(end: Offset): Unit = ()

  override def stop(): Unit = ()
}

/** Snapshot-count read limit — the admission unit native to a
  * snapshot-offset source (Spark ships maxRows/maxFiles/maxBytes;
  * snapshots are this source's atomic replay unit). */
final case class GraftReadMaxSnapshots(max: Int) extends ReadLimit

object GraftMicroBatchStream {

  /** Parse a positive-int option with a clear error at query START
    * (a bad value previously surfaced as an index error from inside the
    * trigger loop). */
  private[streaming] def positiveIntOption(options: Map[String, String],
      name: String): Int =
    options.get(name).map { v =>
      val n = try v.toInt catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"$name must be a positive integer, got '$v'")
      }
      require(n > 0, s"$name must be positive, got $n")
      n
    }.getOrElse(Int.MaxValue)

  /** Parse a positive-long option (row caps) with a clear error at query
    * start. */
  private[streaming] def positiveLongOption(options: Map[String, String],
      name: String): Long =
    options.get(name).map { v =>
      val n = try v.toLong catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"$name must be a positive integer, got '$v'")
      }
      require(n > 0, s"$name must be positive, got $n")
      n
    }.getOrElse(Long.MaxValue)

  /** A snapshot-summary counter as a Long (0 when absent or garbled —
    * admission degrades to snapshot-count capping, never fails a read). */
  private[streaming] def summaryLong(s: Snapshot, key: String): Long =
    s.summary.get(key).flatMap(v =>
      scala.util.Try(v.toLong).toOption).getOrElse(0L)

  /** Admission decision shared by the append and changelog sources: the
    * snapshot the next batch should advance to, given the pending
    * ancestry (oldest first) and the engine-passed limit. Row-based
    * admission accumulates `rowWeight` while under the row cap — always
    * at least one snapshot, snapshots being the atomic replay unit. */
  private[streaming] def admit(pending: List[Snapshot], limit: ReadLimit,
      rowWeight: Snapshot => Long): Option[Snapshot] = {
    if (pending.isEmpty) return None
    val (snapCap, rowCap) = caps(limit)
    var taken = 0
    var rows = 0L
    while (taken < pending.size && taken < snapCap &&
        (taken == 0 || rows + rowWeight(pending(taken)) <= rowCap)) {
      rows += rowWeight(pending(taken))
      taken += 1
    }
    Some(pending(taken - 1))
  }

  /** The source's default admission limit from its options; allAvailable
    * when no option caps anything. */
  private[streaming] def defaultLimit(maxSnaps: Int, maxRows: Long): ReadLimit = {
    val limits = Seq(
      if (maxSnaps != Int.MaxValue) Some(GraftReadMaxSnapshots(maxSnaps)) else None,
      if (maxRows != Long.MaxValue) Some(ReadLimit.maxRows(maxRows)) else None
    ).flatten
    limits match {
      case Seq() => ReadLimit.allAvailable()
      case Seq(one) => one
      case many => ReadLimit.compositeLimit(many.toArray)
    }
  }

  /** (snapshot cap, row cap) encoded by a ReadLimit; allAvailable or an
    * unknown limit kind means uncapped. */
  private[streaming] def caps(limit: ReadLimit): (Int, Long) = limit match {
    case GraftReadMaxSnapshots(n) => (n, Long.MaxValue)
    case m: org.apache.spark.sql.connector.read.streaming.ReadMaxRows =>
      (Int.MaxValue, m.maxRows())
    case c: org.apache.spark.sql.connector.read.streaming.CompositeReadLimit =>
      c.getReadLimits.map(caps).foldLeft((Int.MaxValue, Long.MaxValue)) {
        case ((s1, r1), (s2, r2)) => (math.min(s1, s2), math.min(r1, r2))
      }
    case _ => (Int.MaxValue, Long.MaxValue)
  }

  /** Snapshots strictly after `from` on the current ancestry, oldest
    * first. Fails loudly if `from` fell off the chain (expired or rolled
    * back) rather than silently re-reading history. */
  private[streaming] def ancestryAfter(t: GraftTable, from: Long): List[Snapshot] = {
    val byId = t.metadata.snapshots.map(s => s.snapshotId -> s).toMap
    var cur = t.metadata.currentSnapshot
    var acc: List[Snapshot] = Nil
    while (cur.isDefined && cur.get.snapshotId != from) {
      acc = cur.get :: acc
      cur = cur.get.parentSnapshotId.flatMap(byId.get)
    }
    if (cur.isEmpty && from != -1L)
      throw new IllegalStateException(
        s"stream offset snapshot $from is no longer in table ancestry " +
          "(expired or rolled back); restart the query from a fresh checkpoint")
    acc
  }
}
