package graft.spec

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.ObjectNode
import Json._

/** Snapshot of the table at a commit (spec/snapshot.rs:87). */
final case class Snapshot(
    snapshotId: Long,
    parentSnapshotId: Option[Long],
    sequenceNumber: Long,
    timestampMs: Long,
    manifestList: String,
    operation: String, // append | replace | overwrite | delete (snapshot.rs:40-60)
    summary: Map[String, String],
    schemaId: Option[Int],
    /** v3 row-lineage range (snapshot.rs:76-81): first `_row_id` assigned to
      * this snapshot's new rows + how many it added. Lets a catalog applying
      * an `add-snapshot` update action re-derive `next-row-id` without
      * trusting the client's whole metadata document. */
    firstRowId: Option[Long] = None,
    addedRows: Option[Long] = None,
    /** v3 encrypted tables (snapshot.rs:112): id of the registry entry
      * holding this snapshot's KEK-wrapped manifest-list key metadata. */
    keyId: Option[String] = None) {

  def toJson: ObjectNode = {
    val o = obj()
    o.put("snapshot-id", snapshotId)
    parentSnapshotId.foreach(o.put("parent-snapshot-id", _))
    o.put("sequence-number", sequenceNumber)
    o.put("timestamp-ms", timestampMs)
    val s = obj()
    s.put("operation", operation)
    summary.toSeq.sortBy(_._1).foreach { case (k, v) => s.put(k, v) }
    o.set[ObjectNode]("summary", s)
    o.put("manifest-list", manifestList)
    schemaId.foreach(o.put("schema-id", _))
    firstRowId.foreach(o.put("first-row-id", _))
    addedRows.foreach(o.put("added-rows", _))
    keyId.foreach(o.put("key-id", _))
    o
  }
}

object Snapshot {
  def fromJson(n: JsonNode): Snapshot = {
    val summary = n.opt("summary").map(_.fieldsMap.map { case (k, v) => k -> v.asText() })
      .getOrElse(Map.empty)
    Snapshot(
      snapshotId = n("snapshot-id").asLong(),
      parentSnapshotId = n.opt("parent-snapshot-id").map(_.asLong()),
      sequenceNumber = n.opt("sequence-number").map(_.asLong()).getOrElse(0L),
      timestampMs = n("timestamp-ms").asLong(),
      manifestList = n("manifest-list").asText(),
      operation = summary.getOrElse("operation", "append"),
      summary = summary - "operation",
      schemaId = n.opt("schema-id").map(_.asInt()),
      firstRowId = n.opt("first-row-id").map(_.asLong()),
      addedRows = n.opt("added-rows").map(_.asLong()),
      keyId = n.opt("key-id").map(_.asText()))
  }
}

/** Named snapshot reference — branch or tag (spec/snapshot.rs
  * SnapshotReference; table_metadata.rs refs) with the spec's optional
  * per-ref retention policy (expire_snapshots.rs:40-50):
  *   - minSnapshotsToKeep / maxSnapshotAgeMs govern how many of a
  *     BRANCH's ancestors expiry retains (branch-only per the spec);
  *   - maxRefAgeMs ages out the ref itself (main never expires). */
final case class SnapshotRef(snapshotId: Long, refType: String,
    minSnapshotsToKeep: Option[Int] = None,
    maxSnapshotAgeMs: Option[Long] = None,
    maxRefAgeMs: Option[Long] = None) {
  require(refType == "branch" || refType == "tag", s"bad ref type $refType")
  require(refType == "branch" ||
    (minSnapshotsToKeep.isEmpty && maxSnapshotAgeMs.isEmpty),
    "min-snapshots-to-keep / max-snapshot-age-ms apply to branches only")
}

/** Statistics file registered in table metadata (spec/statistic_file.rs:27):
  * a Puffin file of sketch blobs, discoverable per snapshot — queries and
  * planners find ndv estimates without hand-carried paths. */
/** v3 table-encryption key registry entry (encrypted_key.rs:27-39):
  * wrapped (encrypted) key material addressed by `keyId`, with the
  * encrypting entity recorded for rotation audits. `encryptedKeyMetadata`
  * serializes base64 (encrypted_key.rs:84). */
final case class EncryptedKey(
    keyId: String,
    encryptedKeyMetadata: Array[Byte],
    encryptedById: Option[String] = None,
    properties: Map[String, String] = Map.empty) {

  def toJson: ObjectNode = {
    val o = obj()
    o.put("key-id", keyId)
    o.put("encrypted-key-metadata",
      java.util.Base64.getEncoder.encodeToString(encryptedKeyMetadata))
    encryptedById.foreach(o.put("encrypted-by-id", _))
    if (properties.nonEmpty) {
      val p = obj()
      properties.toSeq.sortBy(_._1).foreach { case (k, v) => p.put(k, v) }
      o.set[ObjectNode]("properties", p)
    }
    o
  }

  // Array[Byte] breaks case-class equality; compare by value
  override def equals(other: Any): Boolean = other match {
    case k: EncryptedKey => keyId == k.keyId &&
      java.util.Arrays.equals(encryptedKeyMetadata, k.encryptedKeyMetadata) &&
      encryptedById == k.encryptedById && properties == k.properties
    case _ => false
  }
  override def hashCode(): Int =
    (keyId, java.util.Arrays.hashCode(encryptedKeyMetadata), encryptedById,
      properties).hashCode()
}

object EncryptedKey {
  def fromJson(n: JsonNode): EncryptedKey = EncryptedKey(
    keyId = n("key-id").asText(),
    encryptedKeyMetadata =
      java.util.Base64.getDecoder.decode(n("encrypted-key-metadata").asText()),
    encryptedById = n.opt("encrypted-by-id").map(_.asText()),
    properties = n.opt("properties")
      .map(_.fieldsMap.map { case (k, v) => k -> v.asText() }).getOrElse(Map.empty))
}

final case class StatisticsFile(
    snapshotId: Long,
    statisticsPath: String,
    fileSizeInBytes: Long,
    fileFooterSizeInBytes: Long,
    blobMetadata: Seq[StatsBlobMetadata]) {

  def toJson: ObjectNode = {
    val o = obj()
    o.put("snapshot-id", snapshotId)
    o.put("statistics-path", statisticsPath)
    o.put("file-size-in-bytes", fileSizeInBytes)
    o.put("file-footer-size-in-bytes", fileFooterSizeInBytes)
    val ba = arr(); blobMetadata.foreach(b => ba.add(b.toJson))
    o.set[ObjectNode]("blob-metadata", ba)
    o
  }
}

/** Blob descriptor inside a registered statistics file
  * (statistic_file.rs:46). */
final case class StatsBlobMetadata(
    blobType: String,
    snapshotId: Long,
    sequenceNumber: Long,
    fields: Seq[Int],
    properties: Map[String, String]) {

  def toJson: ObjectNode = {
    val o = obj()
    o.put("type", blobType)
    o.put("snapshot-id", snapshotId)
    o.put("sequence-number", sequenceNumber)
    val fa = arr(); fields.foreach(fa.add); o.set[ObjectNode]("fields", fa)
    val p = obj(); properties.toSeq.sortBy(_._1).foreach { case (k, v) => p.put(k, v) }
    o.set[ObjectNode]("properties", p)
    o
  }
}

object StatisticsFile {
  def fromJson(n: JsonNode): StatisticsFile = StatisticsFile(
    snapshotId = n("snapshot-id").asLong(),
    statisticsPath = n("statistics-path").asText(),
    fileSizeInBytes = n("file-size-in-bytes").asLong(),
    fileFooterSizeInBytes = n.opt("file-footer-size-in-bytes").map(_.asLong()).getOrElse(0L),
    blobMetadata = n.opt("blob-metadata").map(_.elems.map(b => StatsBlobMetadata(
      blobType = b("type").asText(),
      snapshotId = b("snapshot-id").asLong(),
      sequenceNumber = b("sequence-number").asLong(),
      fields = b.opt("fields").map(_.elems.map(_.asInt())).getOrElse(Nil),
      properties = b.opt("properties").map(_.fieldsMap.map { case (k, v) => k -> v.asText() })
        .getOrElse(Map.empty)))).getOrElse(Nil))
}

/** Partition statistics file registered in table metadata
  * (statistic_file.rs:60-71): a per-partition rollup file (record counts,
  * file counts, sizes) discoverable per snapshot — planners read it
  * instead of walking manifests. */
final case class PartitionStatisticsFile(
    snapshotId: Long,
    statisticsPath: String,
    fileSizeInBytes: Long) {

  def toJson: ObjectNode = {
    val o = obj()
    o.put("snapshot-id", snapshotId)
    o.put("statistics-path", statisticsPath)
    o.put("file-size-in-bytes", fileSizeInBytes)
    o
  }
}

object PartitionStatisticsFile {
  def fromJson(n: JsonNode): PartitionStatisticsFile = PartitionStatisticsFile(
    snapshotId = n("snapshot-id").asLong(),
    statisticsPath = n("statistics-path").asText(),
    fileSizeInBytes = n("file-size-in-bytes").asLong())
}

/** The immutable table-metadata tree (spec/table_metadata.rs:69), format V2.
  *
  * Serialized as `<version>.metadata.json`; commit = atomic swap of the
  * current-version pointer (Hadoop catalog: version-hint.text + rename).
  */
final case class TableMetadata(
    formatVersion: Int,
    tableUuid: String,
    location: String,
    lastSequenceNumber: Long,
    lastUpdatedMs: Long,
    lastColumnId: Int,
    schemas: Seq[IcebergSchema],
    currentSchemaId: Int,
    partitionSpecs: Seq[PartitionSpec],
    defaultSpecId: Int,
    lastPartitionId: Int,
    sortOrders: Seq[SortOrder],
    defaultSortOrderId: Int,
    properties: Map[String, String],
    currentSnapshotId: Option[Long],
    snapshots: Seq[Snapshot],
    snapshotLog: Seq[(Long, Long)], // (snapshotId, timestampMs)
    metadataLog: Seq[(String, Long)], // (metadataFile, timestampMs)
    refs: Map[String, SnapshotRef] = Map.empty,
    statistics: Seq[StatisticsFile] = Nil,
    partitionStatistics: Seq[PartitionStatisticsFile] = Nil,
    /** v3 row lineage (table_metadata.rs:140,456): the next row id to
      * assign; append commits take a contiguous block for their files.
      * Not advanced below format version 3 (see [[rowLineage]]). */
    nextRowId: Long = 0L,
    /** v3 snapshot-level encryption-key registry (encrypted_key.rs):
      * wrapped key material addressable by id, the rotation surface —
      * a new key is registered, new writes reference it, retired keys
      * are removed once no live snapshot depends on them. */
    encryptionKeys: Seq[EncryptedKey] = Nil) {

  /** Row lineage is a v3 feature: only v3 tables assign row ids, bump
    * next-row-id and carry `_row_id` through rewrites; v1/v2 tables read
    * `_row_id` as null. */
  def rowLineage: Boolean = formatVersion >= 3

  def encryptionKeyById(id: String): Option[EncryptedKey] =
    encryptionKeys.find(_.keyId == id)

  def statisticsFor(snapshotId: Long): Option[StatisticsFile] =
    statistics.find(_.snapshotId == snapshotId)

  def partitionStatisticsFor(snapshotId: Long): Option[PartitionStatisticsFile] =
    partitionStatistics.find(_.snapshotId == snapshotId)

  def currentSchema: IcebergSchema =
    schemas.find(_.schemaId == currentSchemaId).getOrElse(
      throw new IllegalStateException(s"current schema $currentSchemaId not found"))

  def defaultSpec: PartitionSpec =
    partitionSpecs.find(_.specId == defaultSpecId).getOrElse(
      throw new IllegalStateException(s"default spec $defaultSpecId not found"))

  def currentSnapshot: Option[Snapshot] =
    currentSnapshotId.flatMap(id => snapshots.find(_.snapshotId == id))

  def snapshotById(id: Long): Option[Snapshot] = snapshots.find(_.snapshotId == id)

  def schemaById(id: Int): Option[IcebergSchema] = schemas.find(_.schemaId == id)

  def specById(id: Int): Option[PartitionSpec] = partitionSpecs.find(_.specId == id)

  def toJson: ObjectNode = {
    val o = obj()
    o.put("format-version", formatVersion)
    o.put("table-uuid", tableUuid)
    o.put("location", location)
    o.put("last-sequence-number", lastSequenceNumber)
    o.put("last-updated-ms", lastUpdatedMs)
    o.put("last-column-id", lastColumnId)
    o.put("current-schema-id", currentSchemaId)
    val sa = arr(); schemas.foreach(s => sa.add(s.toJson)); o.set[ObjectNode]("schemas", sa)
    o.put("default-spec-id", defaultSpecId)
    val pa = arr(); partitionSpecs.foreach(p => pa.add(p.toJson)); o.set[ObjectNode]("partition-specs", pa)
    o.put("last-partition-id", lastPartitionId)
    o.put("default-sort-order-id", defaultSortOrderId)
    val soa = arr(); sortOrders.foreach(s => soa.add(s.toJson)); o.set[ObjectNode]("sort-orders", soa)
    val props = obj(); properties.toSeq.sortBy(_._1).foreach { case (k, v) => props.put(k, v) }
    o.set[ObjectNode]("properties", props)
    currentSnapshotId.foreach(o.put("current-snapshot-id", _))
    val sna = arr(); snapshots.foreach(s => sna.add(s.toJson)); o.set[ObjectNode]("snapshots", sna)
    val sl = arr()
    snapshotLog.foreach { case (id, ts) =>
      val e = obj(); e.put("snapshot-id", id); e.put("timestamp-ms", ts); sl.add(e)
    }
    o.set[ObjectNode]("snapshot-log", sl)
    val ml = arr()
    metadataLog.foreach { case (f, ts) =>
      val e = obj(); e.put("metadata-file", f); e.put("timestamp-ms", ts); ml.add(e)
    }
    o.set[ObjectNode]("metadata-log", ml)
    if (refs.nonEmpty) {
      val ro = obj()
      refs.toSeq.sortBy(_._1).foreach { case (name, r) =>
        val e = obj()
        e.put("snapshot-id", r.snapshotId)
        e.put("type", r.refType)
        r.minSnapshotsToKeep.foreach(e.put("min-snapshots-to-keep", _))
        r.maxSnapshotAgeMs.foreach(e.put("max-snapshot-age-ms", _))
        r.maxRefAgeMs.foreach(e.put("max-ref-age-ms", _))
        ro.set[ObjectNode](name, e)
      }
      o.set[ObjectNode]("refs", ro)
    }
    if (statistics.nonEmpty) {
      val st = arr(); statistics.foreach(s => st.add(s.toJson))
      o.set[ObjectNode]("statistics", st)
    }
    if (partitionStatistics.nonEmpty) {
      val pst = arr(); partitionStatistics.foreach(s => pst.add(s.toJson))
      o.set[ObjectNode]("partition-statistics", pst)
    }
    if (nextRowId > 0L) o.put("next-row-id", nextRowId)
    if (encryptionKeys.nonEmpty) {
      val ek = arr(); encryptionKeys.foreach(k => ek.add(k.toJson))
      o.set[ObjectNode]("encryption-keys", ek)
    }
    o
  }

  def toJsonString: String = Json.writePretty(toJson)
}

object TableMetadata {
  def fromJsonString(s: String): TableMetadata = fromJson(Json.parse(s))

  def fromJson(n: JsonNode): TableMetadata = {
    val fv = n("format-version").asInt()
    require(fv >= 1 && fv <= 3, s"unsupported format-version $fv")

    // --- schema resolution (table_metadata.rs TableMetadataEnum): a
    // valid `schemas` + `current-schema-id` pair wins; v1 falls back to
    // the legacy singular `schema` when the pair is absent or broken; a
    // v2+ file with a broken pair is rejected with the id it named.
    val schemasOpt = n.opt("schemas").map(_.elems.map(IcebergSchema.schemaFromJson))
    val currentIdOpt = n.opt("current-schema-id").map(_.asInt())
    val (schemas, currentSchemaId) = (schemasOpt, currentIdOpt) match {
      case (Some(ss), Some(id)) if ss.exists(_.schemaId == id) => (ss, id)
      case _ if fv == 1 && n.opt("schema").isDefined =>
        val s = IcebergSchema.schemaFromJson(n("schema"))
        (Seq(s), s.schemaId)
      case (Some(_), Some(id)) => throw new IllegalArgumentException(
        s"No schema exists with the current schema id $id.")
      case _ => throw new IllegalArgumentException(
        "No valid schema configuration found in table metadata")
    }

    // --- partition-spec resolution: modern `partition-specs` +
    // `default-spec-id`; v1 may omit the default (→ the LARGEST spec id,
    // the reference's inference) or carry only the legacy singular
    // `partition-spec` field list (spec-id 0; field-ids assigned from
    // 1000 when absent); v2+ requires the modern pair.
    val specsOpt = n.opt("partition-specs").map(_.elems.map(PartitionSpec.fromJson))
    val (partitionSpecs, defaultSpecId) = (specsOpt, n.opt("default-spec-id")) match {
      case (Some(ss), Some(id)) => (ss, id.asInt())
      case (Some(ss), None) if fv == 1 && ss.nonEmpty =>
        (ss, ss.map(_.specId).max)
      case (None, _) if fv == 1 && n.opt("partition-spec").isDefined =>
        val fields = n("partition-spec").elems.zipWithIndex.map { case (f, i) =>
          PartitionField(
            sourceId = f("source-id").asInt(),
            fieldId = f.opt("field-id").map(_.asInt())
              .getOrElse(PartitionSpec.StartFieldId + i),
            name = f("name").asText(),
            transform = Transform.parse(f("transform").asText()))
        }
        (Seq(PartitionSpec(0, fields)), 0)
      case (None, _) if fv == 1 =>
        (Seq(PartitionSpec.unpartitioned), 0)
      case _ => throw new IllegalArgumentException(
        "table metadata requires partition-specs and default-spec-id")
    }

    // v2+ requires sort-orders and last-partition-id; v1 derives them
    if (fv >= 2 && n.opt("sort-orders").isEmpty)
      throw new IllegalArgumentException("v2+ table metadata requires sort-orders")
    if (fv >= 2 && n.opt("last-partition-id").isEmpty)
      throw new IllegalArgumentException("v2+ table metadata requires last-partition-id")

    TableMetadata(
      formatVersion = fv,
      tableUuid = n("table-uuid").asText(),
      location = n("location").asText(),
      lastSequenceNumber = n.opt("last-sequence-number").map(_.asLong()).getOrElse(0L),
      lastUpdatedMs = n("last-updated-ms").asLong(),
      lastColumnId = n("last-column-id").asInt(),
      schemas = schemas,
      currentSchemaId = currentSchemaId,
      partitionSpecs = partitionSpecs,
      defaultSpecId = defaultSpecId,
      lastPartitionId = n.opt("last-partition-id").map(_.asInt())
        .getOrElse(partitionSpecs.map(_.lastAssignedFieldId)
          .maxOption.getOrElse(PartitionSpec.StartFieldId - 1)),
      sortOrders = n.opt("sort-orders").map(_.elems.map(SortOrder.fromJson))
        .getOrElse(Seq(SortOrder.unsorted)),
      defaultSortOrderId = n.opt("default-sort-order-id").map(_.asInt()).getOrElse(0),
      properties = n.opt("properties").map(_.fieldsMap.map { case (k, v) => k -> v.asText() })
        .getOrElse(Map.empty),
      currentSnapshotId = n.opt("current-snapshot-id").map(_.asLong()).filter(_ != -1L),
      snapshots = n.opt("snapshots").map(_.elems.map(Snapshot.fromJson)).getOrElse(Nil),
      snapshotLog = n.opt("snapshot-log").map(_.elems.map(e =>
        (e("snapshot-id").asLong(), e("timestamp-ms").asLong()))).getOrElse(Nil),
      metadataLog = n.opt("metadata-log").map(_.elems.map(e =>
        (e("metadata-file").asText(), e("timestamp-ms").asLong()))).getOrElse(Nil),
      refs = n.opt("refs").map(_.fieldsMap.map { case (name, r) =>
        name -> SnapshotRef(r("snapshot-id").asLong(), r("type").asText(),
          minSnapshotsToKeep = r.opt("min-snapshots-to-keep").map(_.asInt()),
          maxSnapshotAgeMs = r.opt("max-snapshot-age-ms").map(_.asLong()),
          maxRefAgeMs = r.opt("max-ref-age-ms").map(_.asLong()))
      }).getOrElse(Map.empty),
      statistics = n.opt("statistics").map(_.elems.map(StatisticsFile.fromJson))
        .getOrElse(Nil),
      partitionStatistics = n.opt("partition-statistics")
        .map(_.elems.map(PartitionStatisticsFile.fromJson)).getOrElse(Nil),
      nextRowId = n.opt("next-row-id").map(_.asLong()).getOrElse(0L),
      encryptionKeys = n.opt("encryption-keys")
        .map(_.elems.map(EncryptedKey.fromJson)).getOrElse(Nil))
  }

  /** Fresh metadata for a new table — v2 unless the Iceberg
    * `format-version` table property asks otherwise at create time. */
  def newTable(
      location: String,
      schema: IcebergSchema,
      spec: PartitionSpec,
      properties: Map[String, String] = Map.empty): TableMetadata = {
    val fv = properties.get("format-version").map(_.toInt).getOrElse(2)
    require(fv >= 1 && fv <= 3, s"unsupported format-version $fv")
    TableMetadata(
      formatVersion = fv,
      tableUuid = java.util.UUID.randomUUID().toString,
      location = location,
      lastSequenceNumber = 0L,
      lastUpdatedMs = System.currentTimeMillis(),
      lastColumnId = schema.highestFieldId,
      schemas = Seq(schema),
      currentSchemaId = schema.schemaId,
      partitionSpecs = Seq(spec),
      defaultSpecId = spec.specId,
      lastPartitionId = spec.lastAssignedFieldId,
      sortOrders = Seq(SortOrder.unsorted),
      defaultSortOrderId = 0,
      properties = properties - "format-version",
      currentSnapshotId = None,
      snapshots = Nil,
      snapshotLog = Nil,
      metadataLog = Nil)
  }
}
