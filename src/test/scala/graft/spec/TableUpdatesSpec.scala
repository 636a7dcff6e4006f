package graft.spec

import org.scalatest.funsuite.AnyFunSuite

import graft.spec.IcebergType._
import graft.spec.Json.NodeOps

/** Update-action commit model (catalog/mod.rs:440-700): serde golden shapes,
  * apply semantics (derived-field recomputation), and diff→apply fidelity. */
class TableUpdatesSpec extends AnyFunSuite {

  private val schema = IcebergSchema(0, Seq(
    NestedField(1, "id", LongT, required = true),
    NestedField(2, "ts", TimestampT, required = false)))

  // v3: the apply/diff tests re-derive next-row-id (row lineage)
  private def base = TableMetadata.newTable("/w/t", schema,
    PartitionSpec.unpartitioned, Map("k" -> "v", "format-version" -> "3"))

  private def snap(id: Long, seq: Long, parent: Option[Long], firstRow: Long,
      rows: Long) = Snapshot(id, parent, seq, 1000L * seq, s"/w/t/metadata/snap-$id.avro",
    "append", Map("added-records" -> rows.toString), Some(0),
    firstRowId = Some(firstRow), addedRows = Some(rows))

  test("every action and requirement round-trips through JSON") {
    val updates: Seq[TableUpdate] = Seq(
      TableUpdate.AssignUuid("u-1"),
      TableUpdate.UpgradeFormatVersion(3),
      TableUpdate.AddSchema(schema.copy(schemaId = 1)),
      TableUpdate.SetCurrentSchema(1),
      TableUpdate.AddSpec(PartitionSpec(1, Seq(PartitionField(1, 1000, "id", Transform.Identity)))),
      TableUpdate.SetDefaultSpec(1),
      TableUpdate.AddSortOrder(SortOrder(1, Seq(SortField(1, Transform.Identity, ascending = true, nullsFirst = true)))),
      TableUpdate.SetDefaultSortOrder(1),
      TableUpdate.AddSnapshot(snap(7L, 1L, None, 0L, 5L)),
      TableUpdate.SetSnapshotRef("main", SnapshotRef(7L, "branch")),
      TableUpdate.SetSnapshotRef("audit", SnapshotRef(7L, "tag")),
      TableUpdate.RemoveSnapshots(Seq(5L, 6L)),
      TableUpdate.RemoveSnapshotRef("audit"),
      TableUpdate.SetLocation("/w/t2"),
      TableUpdate.SetProperties(Map("a" -> "1")),
      TableUpdate.RemoveProperties(Seq("k")),
      TableUpdate.RemovePartitionSpecs(Seq(0)),
      TableUpdate.RemoveSchemas(Seq(0)),
      TableUpdate.SetStatistics(StatisticsFile(7L, "/w/t/stats.puffin", 10L, 9L,
        Seq(StatsBlobMetadata("apache-datasketches-theta-v1", 7L, 1L, Seq(1), Map.empty)))),
      TableUpdate.RemoveStatistics(7L),
      TableUpdate.SetPartitionStatistics(PartitionStatisticsFile(7L, "/w/t/pstats.parquet", 1)),
      TableUpdate.RemovePartitionStatistics(7L))
    updates.foreach { u =>
      val back = TableUpdate.fromJson(Json.parse(Json.write(u.toJson)))
      assert(back === u, s"round-trip failed for ${u.action}")
    }

    val reqs: Seq[TableRequirement] = Seq(
      TableRequirement.AssertTableUuid("u-1"),
      TableRequirement.AssertRefSnapshotId("main", Some(7L)),
      TableRequirement.AssertRefSnapshotId("gone", None),
      TableRequirement.AssertCurrentSchemaId(1),
      TableRequirement.AssertLastAssignedFieldId(2),
      TableRequirement.AssertDefaultSpecId(0),
      TableRequirement.AssertLastAssignedPartitionId(1000),
      TableRequirement.AssertDefaultSortOrderId(0))
    reqs.foreach { r =>
      val back = TableRequirement.fromJson(Json.parse(Json.write(r.toJson)))
      assert(back === r, s"round-trip failed for ${r.reqType}")
    }
  }

  test("JSON wire shape matches the spec's kebab-case discriminators") {
    val add = TableUpdate.AddSnapshot(snap(7L, 1L, None, 0L, 5L)).toJson
    assert(add("action").asText() === "add-snapshot")
    assert(add("snapshot")("first-row-id").asLong() === 0L)
    val ref = TableUpdate.SetSnapshotRef("main", SnapshotRef(7L, "branch")).toJson
    assert(ref("ref-name").asText() === "main")
    assert(ref("snapshot-id").asLong() === 7L) // flattened reference
    assert(ref("type").asText() === "branch")
    val req = TableRequirement.AssertRefSnapshotId("main", Some(7L)).toJson
    assert(req("type").asText() === "assert-ref-snapshot-id")
    assert(req("ref").asText() === "main")
  }

  test("apply recomputes derived fields: seq number, row lineage, snapshot log") {
    val m1 = TableUpdates.applyAll(base, Seq(
      TableUpdate.AddSnapshot(snap(7L, 1L, None, 0L, 5L)),
      TableUpdate.SetSnapshotRef("main", SnapshotRef(7L, "branch"))))
    assert(m1.lastSequenceNumber === 1L)
    assert(m1.nextRowId === 5L)
    assert(m1.currentSnapshotId === Some(7L))
    // added-this-commit snapshot: log entry carries the snapshot's own ts
    assert(m1.snapshotLog === Seq((7L, 1000L)))

    // a second snapshot whose first-row-id is behind next-row-id is rejected
    intercept[IllegalArgumentException] {
      TableUpdates.applyAll(m1, Seq(TableUpdate.AddSnapshot(snap(8L, 2L, Some(7L), 3L, 1L))))
    }
    // non-monotonic sequence number is rejected (v2+)
    intercept[IllegalArgumentException] {
      TableUpdates.applyAll(m1, Seq(TableUpdate.AddSnapshot(snap(8L, 1L, Some(7L), 5L, 1L))))
    }
  }

  test("diff then apply reconstructs the updated metadata") {
    // simulate a rich commit sequence entirely locally
    val b = base
    val s1 = snap(7L, 1L, None, 0L, 5L)
    val s2 = snap(8L, 2L, Some(7L), 5L, 3L)
    val newSchema = IcebergSchema(1, schema.fields :+ NestedField(3, "tag", StringT, required = false))
    val updated = b.copy(
      schemas = b.schemas :+ newSchema,
      currentSchemaId = 1,
      lastColumnId = 3,
      snapshots = Seq(s1, s2),
      currentSnapshotId = Some(8L),
      // one diffed commit = one pointer move: only the final state's log
      // entry is representable (intermediate pointer states are not)
      snapshotLog = Seq((8L, 2000L)),
      lastSequenceNumber = 2L,
      nextRowId = 8L,
      refs = Map("audit" -> SnapshotRef(7L, "tag")),
      properties = Map("k" -> "v2", "n" -> "1"),
      statistics = Seq(StatisticsFile(8L, "/w/t/s.puffin", 1L, 1L, Nil)))

    val updates = TableUpdates.diff(b, updated)
    val applied = TableUpdates.applyAll(b, updates)
    // everything except service-owned timestamps/logs must match exactly
    assert(applied.copy(lastUpdatedMs = 0, metadataLog = Nil) ===
      updated.copy(lastUpdatedMs = 0, metadataLog = Nil))

    // and requirements assert exactly the consumed base state
    val reqs = TableUpdates.requirements(b, updates)
    reqs.foreach(_.check(b)) // all hold on the true base
    assert(reqs.exists {
      case TableRequirement.AssertRefSnapshotId("main", None) => true
      case _ => false
    })
    // ...and the main assert fails once another writer moved the branch
    val moved = TableUpdates.applyAll(b, Seq(
      TableUpdate.AddSnapshot(snap(9L, 1L, None, 0L, 1L)),
      TableUpdate.SetSnapshotRef("main", SnapshotRef(9L, "branch"))))
    intercept[IllegalStateException] {
      reqs.foreach(_.check(moved))
    }
  }

  test("diff emits no actions for an unchanged table") {
    val b = base
    assert(TableUpdates.diff(b, b.copy(lastUpdatedMs = 999L,
      metadataLog = Seq(("/x", 1L)))) === Nil)
  }
}
