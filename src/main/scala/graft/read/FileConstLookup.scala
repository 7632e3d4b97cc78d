package graft.read

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, NonSQLExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.graft.GraftSqlShim
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** A driver-held per-file constant table: normalized file path → one value
  * (a `Long` or a `String`), as the scan planner already knows it from the
  * snapshot log. It rides inside the plan as a reference object, so a MoR
  * read stamps sequence numbers, first row ids and partition scopes onto its
  * rows without a broadcast join (and its job) per map — the
  * Iceberg-reader shape, where a file's sequence number travels with its
  * scan task.
  *
  * Plan operations must stay O(1) in the file count: equality and hashing
  * use a fixed id, never the entries, and `toString` prints only the size,
  * so plan strings, canonicalization and AQE re-optimization never walk a
  * million-entry table. Values are held in Catalyst's internal form
  * (`java.lang.Long` / `UTF8String`). */
final class FileConsts private (val dataType: DataType,
                                private[read] val table: java.util.HashMap[UTF8String, AnyRef])
    extends Serializable {
  private val id = FileConsts.nextId.incrementAndGet()

  /** `this[key]` as a column (null for a null or absent key). */
  def apply(key: Column): Column =
    GraftSqlShim.column(FileConstLookup(GraftSqlShim.expression(key), this))

  override def equals(o: Any): Boolean = o match {
    case t: FileConsts => t.id == id
    case _ => false
  }
  override def hashCode: Int = java.lang.Long.hashCode(id)
  override def toString: String = s"FileConsts[${table.size} files]"
}

object FileConsts {
  private val nextId = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Path → long table (a path left out reads back as null). */
  def longs(entries: Iterable[(String, Long)]): FileConsts =
    build(LongType, entries.map { case (k, v) => k -> java.lang.Long.valueOf(v) })

  /** Path → string table (a path left out reads back as null). */
  def strings(entries: Iterable[(String, String)]): FileConsts =
    build(StringType, entries.map { case (k, v) => k -> UTF8String.fromString(v) })

  private def build(dt: DataType, entries: Iterable[(String, AnyRef)]): FileConsts = {
    val m = new java.util.HashMap[UTF8String, AnyRef]()
    entries.foreach { case (k, v) => m.put(UTF8String.fromString(k), v) }
    new FileConsts(dt, m)
  }
}

/** Per-row lookup of `child` (a normalized file path) in a [[FileConsts]]
  * table. Rows arrive grouped by file, so generated code keeps the last key
  * and its value: a run of rows from one file pays one key comparison each
  * and one hash lookup per file. The interpreted path is a plain lookup. */
case class FileConstLookup(child: Expression, consts: FileConsts)
    extends UnaryExpression with NonSQLExpression {

  override def dataType: DataType = consts.dataType
  override def nullable: Boolean = true
  override def toString: String = s"file_const($child, $consts)"

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val key = child.eval(input)
    if (key == null) null else consts.table.get(key)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val tbl = ctx.addReferenceObj("fileConsts", consts.table, "java.util.HashMap")
    val lastKey = ctx.addMutableState("UTF8String", "fcLastKey")
    val lastVal = ctx.addMutableState("Object", "fcLastVal")
    val key = child.genCode(ctx)
    val javaType = CodeGenerator.javaType(dataType)
    val unbox =
      if (dataType == LongType) s"((java.lang.Long) $lastVal).longValue()"
      else s"(UTF8String) $lastVal"
    ev.copy(code =
      code"""
        |${key.code}
        |boolean ${ev.isNull} = true;
        |$javaType ${ev.value} = ${CodeGenerator.defaultValue(dataType)};
        |if (!${key.isNull}) {
        |  if (!${key.value}.equals($lastKey)) {
        |    $lastKey = ${key.value}.clone();
        |    $lastVal = $tbl.get($lastKey);
        |  }
        |  if ($lastVal != null) {
        |    ${ev.isNull} = false;
        |    ${ev.value} = $unbox;
        |  }
        |}
        |""".stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): FileConstLookup =
    copy(child = newChild)
}
