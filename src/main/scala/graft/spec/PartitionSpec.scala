package graft.spec

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.ObjectNode
import Json._
import IcebergType._

/** One partition field: source column (by id) + transform → named output
  * (spec/partition.rs). Field ids start at 1000 per the Iceberg spec.
  */
final case class PartitionField(
    sourceId: Int,
    fieldId: Int,
    name: String,
    transform: Transform)

final case class PartitionSpec(specId: Int, fields: Seq[PartitionField]) {

  def isUnpartitioned: Boolean = fields.isEmpty

  /** The partition tuple's struct type given the table schema. */
  def partitionType(schema: IcebergSchema): StructT =
    StructT(fields.map { pf =>
      val src = schema.idToField.getOrElse(pf.sourceId,
        throw new IllegalArgumentException(s"partition source id ${pf.sourceId} not in schema"))
      NestedField(pf.fieldId, pf.name, pf.transform.resultType(src.fieldType), required = false)
    })

  def lastAssignedFieldId: Int =
    if (fields.isEmpty) PartitionSpec.StartFieldId - 1 else fields.map(_.fieldId).max

  /** Hive-ish partition path: `name=humanValue/...` with URL escaping. */
  def partitionPath(values: Seq[Any]): String =
    fields.zip(values).map { case (pf, v) =>
      val hv = pf.transform.toHumanString(v)
      s"${esc(pf.name)}=${esc(hv)}"
    }.mkString("/")

  private def esc(s: String): String =
    java.net.URLEncoder.encode(s, "UTF-8").replace("+", "%20")

  def toJson: ObjectNode = {
    val o = obj()
    o.put("spec-id", specId)
    val a = arr()
    fields.foreach { f =>
      val fo = obj()
      fo.put("name", f.name)
      fo.put("transform", f.transform.name)
      fo.put("source-id", f.sourceId)
      fo.put("field-id", f.fieldId)
      a.add(fo)
    }
    o.set[ObjectNode]("fields", a)
    o
  }
}

object PartitionSpec {
  val StartFieldId = 1000

  val unpartitioned: PartitionSpec = PartitionSpec(0, Nil)

  /** Unified partition type across ALL of a table's specs — the struct
    * behind the `_partition` metadata column once the partition spec has
    * evolved (partitioning.rs:49-147, mirroring Java's
    * `Partitioning.partitionType`). Rules:
    *   - specs are scanned newest-first and fields dedupe by FIELD id —
    *     the newer spec's name wins;
    *   - fields whose source column has left the schema are skipped;
    *   - when the newest occurrence is void but an older spec had a real
    *     transform (v1 drop), the older REAL result type is kept under
    *     the newer name;
    *   - the same field id with a different source or incompatible
    *     transforms (equal, or either void) is an error;
    *   - output fields sort by field id, all optional. */
  def unifiedPartitionType(specs: Seq[PartitionSpec],
      schema: IcebergSchema): StructT = {
    val active: Set[Int] = specs.flatMap(_.fields)
      .filter(f => schema.idToField.contains(f.sourceId)).map(_.fieldId).toSet
    val fieldMap =
      scala.collection.mutable.Map[Int, (PartitionField, IcebergType, String)]()
    for (spec <- specs.sortBy(-_.specId); f <- spec.fields)
      if (active.contains(f.fieldId)) {
        schema.idToField.get(f.sourceId).foreach { src =>
          fieldMap.get(f.fieldId) match {
            case None =>
              fieldMap(f.fieldId) = (f, f.transform.resultType(src.fieldType), f.name)
            case Some((existing, _, keptName)) =>
              val compatible = f.sourceId == existing.sourceId &&
                (f.transform == existing.transform ||
                  f.transform == Transform.Void || existing.transform == Transform.Void)
              require(compatible,
                s"conflicting partition fields for field id ${f.fieldId}: " +
                  s"'${f.name}' and '${existing.name}'")
              if (existing.transform == Transform.Void && f.transform != Transform.Void)
                fieldMap(f.fieldId) = (f, f.transform.resultType(src.fieldType), keptName)
          }
        }
      }
    StructT(fieldMap.toSeq.sortBy(_._1).map { case (fid, (_, ty, name)) =>
      NestedField(fid, name, ty, required = false)
    })
  }

  /** [[unifiedPartitionType]] as the Spark struct of the `_partition`
    * metadata column, every field nullable — the one schema both readers
    * and the SQL metadata-column list serve. */
  def unifiedPartitionSchema(specs: Seq[PartitionSpec],
      schema: IcebergSchema): org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(
      unifiedPartitionType(specs, schema).fields.map(f =>
        org.apache.spark.sql.types.StructField(f.name,
          IcebergType.toSpark(f.fieldType), nullable = true)))

  /** A file's `partition` tuple (written under `spec`) projected into the
    * `unified` struct as Catalyst values: fields are addressed by field
    * id, so evolution reorders and drops never misalign, and a field the
    * file's spec lacks is null. */
  def unifiedPartitionValues(unified: StructT, spec: PartitionSpec,
      partition: Seq[Any]): Seq[Any] = {
    val idxById = spec.fields.zipWithIndex.map { case (f, i) => f.fieldId -> i }.toMap
    unified.fields.map { uf =>
      idxById.get(uf.id) match {
        case Some(i) if i < partition.length =>
          org.apache.spark.sql.catalyst.CatalystTypeConverters
            .createToCatalystConverter(IcebergType.toSpark(uf.fieldType))(
              graft.expr.Predicate.sparkValue(uf.fieldType, partition(i)))
        case _ => null
      }
    }
  }

  def fromJson(n: JsonNode): PartitionSpec =
    PartitionSpec(
      specId = n("spec-id").asInt(),
      fields = n("fields").elems.map { f =>
        PartitionField(
          sourceId = f("source-id").asInt(),
          fieldId = f("field-id").asInt(),
          name = f("name").asText(),
          transform = Transform.parse(f("transform").asText()))
      })

  /** Builder from (columnName, transform) pairs against a schema. */
  def build(schema: IcebergSchema, specs: Seq[(String, Transform)], specId: Int = 0): PartitionSpec = {
    var fid = StartFieldId - 1
    PartitionSpec(specId, specs.map { case (col, t) =>
      val f = schema.findField(col).getOrElse(
        throw new IllegalArgumentException(s"no such column: $col"))
      fid += 1
      val name = t match {
        case Transform.Identity => f.name
        case Transform.Bucket(n) => s"${f.name}_bucket"
        case Transform.Truncate(w) => s"${f.name}_trunc"
        case other => s"${f.name}_${other.name}"
      }
      PartitionField(f.id, fid, name, t)
    })
  }
}

/** Table sort order (spec/sort.rs:37-105). */
final case class SortField(
    sourceId: Int,
    transform: Transform,
    ascending: Boolean,
    nullsFirst: Boolean)

final case class SortOrder(orderId: Int, fields: Seq[SortField]) {
  def toJson: ObjectNode = {
    val o = obj()
    o.put("order-id", orderId)
    val a = arr()
    fields.foreach { f =>
      val fo = obj()
      fo.put("transform", f.transform.name)
      fo.put("source-id", f.sourceId)
      fo.put("direction", if (f.ascending) "asc" else "desc")
      fo.put("null-order", if (f.nullsFirst) "nulls-first" else "nulls-last")
      a.add(fo)
    }
    o.set[ObjectNode]("fields", a)
    o
  }
}

object SortOrder {
  val unsorted: SortOrder = SortOrder(0, Nil)

  def fromJson(n: JsonNode): SortOrder =
    SortOrder(
      orderId = n("order-id").asInt(),
      fields = n("fields").elems.map { f =>
        SortField(
          sourceId = f("source-id").asInt(),
          transform = Transform.parse(f("transform").asText()),
          ascending = f("direction").asText() == "asc",
          nullsFirst = f("null-order").asText() == "nulls-first")
      })
}
