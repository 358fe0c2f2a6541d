package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BooleanType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Deleted row positions per part file: key `<segment>/<file name>` (the
  * last two components of the file's path), value the file's deleted
  * `row_index` values, sorted and distinct. Compared by reference, so a
  * plan that carries a large set never walks it during optimization. */
final class DeletedPositions(val byFile: Map[String, Array[Long]])
    extends Serializable {

  def isEmpty: Boolean = byFile.isEmpty

  def union(o: DeletedPositions): DeletedPositions =
    if (o.isEmpty) this
    else new DeletedPositions((byFile.keySet ++ o.byFile.keySet).iterator.map { k =>
      k -> (byFile.getOrElse(k, Array.emptyLongArray) ++
        o.byFile.getOrElse(k, Array.emptyLongArray)).distinct.sorted
    }.toMap)

  /** The positions of `this` that `older` does not hold. */
  def diff(older: DeletedPositions): DeletedPositions =
    new DeletedPositions(byFile.map { case (k, ps) =>
      k -> ps.filterNot(older.byFile.getOrElse(k, Array.emptyLongArray).toSet)
    })
}

object DeletedPositions {
  val empty = new DeletedPositions(Map.empty)

  /** `<segment>/<file name>` of a part file path. */
  def fileKey(path: String): String = {
    val i = path.lastIndexOf('/')
    path.substring(path.lastIndexOf('/', i - 1) + 1)
  }

  /** From `(file path, position)` pairs in any order. */
  def of(pairs: Iterator[(String, Long)]): DeletedPositions =
    new DeletedPositions(pairs.toSeq.groupMap(p => fileKey(p._1))(_._2)
      .map { case (k, ps) => k -> ps.distinct.sorted.toArray })
}

/** `dv_live(file_path, row_index)`: TRUE unless the row's position is in
  * `deleted` — deletion vectors applied as a row filter inside the scan,
  * the way Delta and Iceberg readers apply position deletes, instead of
  * a join against a positions frame.
  *
  * The sets ride as a constructor field, like [[BloomProbeExpr]]'s
  * sketch: they ship once per stage in the task binary and plan
  * processing never copies or compares them by value. Rows of one file
  * arrive together, so the last file's set is cached: the per-row cost
  * is one reference (or byte) compare of the path plus a binary search,
  * and only a change of file does the string work of the lookup. The
  * cache is one immutable holder swapped whole, so a shared instance
  * stays correct under concurrent use.
  */
case class LiveRowExpr(deleted: DeletedPositions, left: Expression,
    right: Expression) extends BinaryExpression {

  override def dataType: DataType = BooleanType
  override def prettyName: String = "dv_live"

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == StringType && right.dataType == LongType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"dv_live takes (string file path, bigint row index); got " +
        s"(${left.dataType}, ${right.dataType})")

  @transient @volatile private var last: LiveRowExpr.FileSet = _

  def isLive(path: UTF8String, pos: Long): Boolean = {
    var c = last
    if (c == null || ((path ne c.ref) && !path.equals(c.copy))) {
      c = new LiveRowExpr.FileSet(path, path.clone(),
        deleted.byFile.getOrElse(
          DeletedPositions.fileKey(path.toString), null))
      last = c
    }
    c.positions == null || java.util.Arrays.binarySearch(c.positions, pos) < 0
  }

  override def nullSafeEval(path: Any, pos: Any): Any =
    isLive(path.asInstanceOf[UTF8String], pos.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("dvLive", this, classOf[LiveRowExpr].getName)
    nullSafeCodeGen(ctx, ev, (p, i) => s"${ev.value} = $ref.isLive($p, $i);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): LiveRowExpr =
    copy(left = newLeft, right = newRight)
}

object LiveRowExpr {
  /** One file's cached lookup: the path object last seen (`ref`, for
    * the reference fast path), a private copy of its bytes, and the
    * file's sorted deleted positions (null when it has none). */
  private final class FileSet(val ref: UTF8String, val copy: UTF8String,
      val positions: Array[Long])
}
