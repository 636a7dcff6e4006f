package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{BooleanType, DataType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.table.{DeleteFilter, DeletePlan, DeleteReaders}

/** Merge-on-read delete test for the V1 scan and the changelog's deleted
  * rows: `mor_deleted(file_path, row_index, key1, …)` is true when the
  * row at `row_index` of data file `file_path` is removed by a position
  * delete, a deletion vector or an applicable equality delete on the key
  * columns.
  *
  * Why an expression and not joins: the scan's own stage applies the
  * deletes row by row through the same [[graft.table.DeleteFilter]] the
  * DSv2 reader uses (the reference's per-file delete_filter.rs shape) —
  * no delete-file schema inference, no broadcast or shuffle join, no
  * extra Spark job. The [[graft.table.DeletePlan]] (descriptors only)
  * rides a broadcast, deserialized once per executor however many files
  * it covers; delete files load lazily on the executor, position bitmaps
  * once per data file per task, equality key sets once per task (and
  * shared across the JVM while they stay in its cache).
  *
  * Deterministic for a fixed plan; null-tolerant on the key columns (a
  * row with a null key is never equality-deleted), so the optimizer
  * infers no `isnotnull` constraint from it. Per-file state lives on the
  * instance: the task binary is deserialized per task, so it never
  * crosses threads.
  */
case class MorDeletedExpr(
    children: Seq[Expression],
    keyNames: Seq[String],
    plan: Broadcast[DeletePlan],
    readers: DeleteReaders) extends Expression {

  require(children.length == keyNames.length + 2,
    s"mor_deleted takes (file_path, row_index, ${keyNames.mkString(", ")})")

  override def dataType: DataType = BooleanType
  override def nullable: Boolean = false
  override def prettyName: String = "mor_deleted"
  // plans print the columns only, not the broadcast or the readers
  override protected def flatArguments: Iterator[Any] = children.iterator

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): MorDeletedExpr =
    copy(children = newChildren)

  @transient private lazy val keySchema = StructType(
    keyNames.zip(children.drop(2)).map { case (n, e) =>
      StructField(n, e.dataType, e.nullable) })
  @transient private lazy val keyRow = new GenericInternalRow(keyNames.length)
  @transient private lazy val eqSets = new DeleteFilter.TaskEqSets
  @transient private var lastPath: UTF8String = _
  @transient private var filter: DeleteFilter = _

  /** `path` is the `_metadata.file_path` rendering (URL-encoded); the
    * plan is keyed by the qualified Hadoop path it decodes to. */
  def isDeleted(path: UTF8String, rowIndex: Long, keys: InternalRow): Boolean = {
    if (lastPath == null || !lastPath.equals(path)) {
      val rendered = path.toString
      filter = new DeleteFilter(rendered,
        plan.value.forFile(SparkPath.fromUrlString(rendered).toPath.toString),
        keySchema, readers, eqSets)
      lastPath = path.clone()
    }
    !filter.isEmpty && filter.isDeleted(rowIndex, keys)
  }

  override def eval(input: InternalRow): Any = {
    var i = 0
    while (i < keyNames.length) {
      keyRow.update(i, children(i + 2).eval(input))
      i += 1
    }
    isDeleted(children.head.eval(input).asInstanceOf[UTF8String],
      children(1).eval(input).asInstanceOf[Long], keyRow)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("morDeleted", this, classOf[MorDeletedExpr].getName)
    val rowClass = classOf[GenericInternalRow].getName
    val keys = ctx.addMutableState(rowClass, "morKeys",
      v => s"$v = new $rowClass(${keyNames.length});")
    val Seq(path, pos, keyCodes @ _*) = children.map(_.genCode(ctx))
    // keys ride a reused row, boxed (the key-set probe projects them)
    val fills = keyCodes.zip(children.drop(2)).zipWithIndex.map { case ((k, e), i) =>
      val boxed =
        if (CodeGenerator.isPrimitiveType(e.dataType))
          s"${CodeGenerator.boxedType(e.dataType)}.valueOf(${k.value})"
        else k.value.toString
      s"${k.code}\n$keys.update($i, ${k.isNull} ? null : $boxed);"
    }.mkString("\n")
    ev.copy(code = code"""
      ${path.code}
      ${pos.code}
      $fills
      boolean ${ev.value} = $ref.isDeleted(${path.value}, ${pos.value}, $keys);""",
      isNull = FalseLiteral)
  }
}

object MorDeletedExpr {
  /** `path`/`pos`: the frame's `_metadata.file_path`-rendered data-file
    * path and row position (`_metadata.*` on a V1 scan, `_file`/`_pos`
    * over one); `keyCols`: (equality-key name the plan's groups use, the
    * frame's column holding it). */
  def column(path: Column, pos: Column, keyCols: Seq[(String, Column)],
      plan: Broadcast[DeletePlan], readers: DeleteReaders): Column =
    GraftBridge.column(MorDeletedExpr(
      (Seq(path, pos) ++ keyCols.map(_._2)).map(GraftBridge.expression),
      keyCols.map(_._1), plan, readers))
}
