package graft.spark

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.DeclarativeAggregate
import org.apache.spark.sql.types.{BooleanType, DataType}

/** `max_by_keys(value, k1, …, kn)`: the `value` of the row with the
  * lexicographically greatest `(k1, …, kn)` — `max_by(value, struct(k1, …,
  * kn))` with a buffer HashAggregate can hold.
  *
  * `max_by` over a struct buffers the struct, which UnsafeRow cannot update
  * in place, so every such aggregate plans SortAggregate behind a Sort of
  * its input. Here the buffer is one primitive slot per key, one for the
  * value and a `seen` flag, so value and keys must be fixed-width types
  * (numbers, booleans, dates, timestamps, decimals) and the aggregate plans
  * a code-generated HashAggregate.
  *
  * Semantics:
  *   - keys compare in order with each type's SQL ordering (`>` and `=`);
  *   - a row wins only with strictly greater keys, so a tie keeps the
  *     buffered row (in update and in merge), as `max_by` does in update;
  *   - a row with any null key is skipped; a null value of the winning row
  *     is returned as null;
  *   - a group with no row whose keys are all non-null returns null.
  * It equals `max_by(value, IF(k1 IS NULL OR … , NULL, struct(k1, …)))`
  * whenever the greatest key tuple of a group is unique.
  */
case class MaxByKeys(value: Expression, keys: Seq[Expression]) extends DeclarativeAggregate {

  override def children: Seq[Expression] = value +: keys
  override def nullable: Boolean = true
  override def dataType: DataType = value.dataType
  override def prettyName: String = "max_by_keys"

  override def checkInputDataTypes(): TypeCheckResult = {
    val unslotted = children.filterNot(c => UnsafeRow.isMutable(c.dataType))
    val unordered = keys.filterNot(k => RowOrdering.isOrderable(k.dataType))
    if (keys.isEmpty) TypeCheckResult.TypeCheckFailure("max_by_keys takes (value, k1, ..., kn), n >= 1")
    else if (unslotted.nonEmpty) TypeCheckResult.TypeCheckFailure(
      "max_by_keys needs fixed-width value and key types, got " +
        unslotted.map(_.dataType.sql).mkString(", "))
    else if (unordered.nonEmpty) TypeCheckResult.TypeCheckFailure(
      "max_by_keys keys must be orderable, got " + unordered.map(_.dataType.sql).mkString(", "))
    else TypeCheckResult.TypeCheckSuccess
  }

  private lazy val valueBuf = AttributeReference("value", value.dataType)()
  private lazy val keyBufs = keys.zipWithIndex.map { case (k, i) => AttributeReference(s"k$i", k.dataType)() }
  private lazy val seen = AttributeReference("seen", BooleanType, nullable = false)()

  override lazy val aggBufferAttributes: Seq[AttributeReference] = valueBuf +: keyBufs :+ seen

  override lazy val initialValues: Seq[Expression] =
    Literal.create(null, value.dataType) +: keys.map(k => Literal.create(null, k.dataType)) :+
      Literal(false)

  /** `a > b` lexicographically: a1 > b1, or a1 = b1 and the rest greater. */
  private def greater(a: Seq[Expression], b: Seq[Expression]): Expression = {
    val pairs = a.zip(b)
    pairs.init.foldRight(GreaterThan(pairs.last._1, pairs.last._2): Expression) {
      case ((x, y), rest) => Or(GreaterThan(x, y), And(EqualTo(x, y), rest))
    }
  }

  /** One buffer step: take `(v, ks)` when `has` and (the buffer is empty or
    * `ks` is strictly greater), else keep the buffer. */
  private def step(v: Expression, ks: Seq[Expression], has: Expression): Seq[Expression] = {
    val take = And(has, Or(Not(seen.left), greater(ks, keyBufs.map(_.left))))
    (If(take, v, valueBuf.left) +: ks.zip(keyBufs).map { case (k, b) => If(take, k, b.left) }) :+
      Or(seen.left, has)
  }

  override lazy val updateExpressions: Seq[Expression] =
    step(value, keys, keys.map(IsNotNull(_): Expression).reduce(And))

  override lazy val mergeExpressions: Seq[Expression] =
    step(valueBuf.right, keyBufs.map(_.right), seen.right)

  override lazy val evaluateExpression: Expression = valueBuf

  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): MaxByKeys =
    copy(value = newChildren.head, keys = newChildren.tail)
}

object MaxByKeys {
  val info: ExpressionInfo = new ExpressionInfo(
    classOf[MaxByKeys].getName, null, "max_by_keys",
    "_FUNC_(value, k1, ..., kn) - value of the row with the greatest (k1, ..., kn); " +
      "rows with a null key are skipped, ties keep the first row buffered.", "")
}
