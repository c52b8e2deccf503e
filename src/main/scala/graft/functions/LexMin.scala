package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, CreateNamedStruct, EqualTo, Expression, If, IsNotNull, IsNull, LessThan, Literal, Or}
import org.apache.spark.sql.catalyst.expressions.aggregate.DeclarativeAggregate
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{DataType, StructField, StructType}

/**
 * Lexicographic minimum of a `(key, id)` pair per group, returned as
 * `struct<keyName, idName>` (null when the group saw no pair). A pair
 * with a null key or id is skipped. The nearest grid join's k = 1
 * aggregate ([[graft.join.GridNearestJoin.nearest]]): key = distance,
 * id = a right-row id ranked by the tie-break order, so the minimum pair
 * names the winning right row.
 *
 * Declarative, with one buffer slot per field: for fixed-width fields
 * (double, long) Spark plans a codegen'd `HashAggregateExec`, which
 * updates each group in place and spills only under memory pressure.
 * `min(struct(...))` has a struct buffer and plans a `SortAggregateExec`;
 * an object aggregate plans `ObjectHashAggregateExec`, which turns
 * sort-based past 128 groups per task.
 */
case class LexMin(key: Expression, id: Expression, keyName: String, idName: String)
  extends DeclarativeAggregate with BinaryLike[Expression] {

  override def left: Expression = key
  override def right: Expression = id

  override def checkInputDataTypes(): TypeCheckResult = {
    val k = TypeUtils.checkForOrderingExpr(key.dataType, prettyName)
    if (k.isFailure) k else TypeUtils.checkForOrderingExpr(id.dataType, prettyName)
  }

  private lazy val bestKey = AttributeReference("best_key", key.dataType)()
  private lazy val bestId = AttributeReference("best_id", id.dataType)()

  override lazy val aggBufferAttributes: Seq[AttributeReference] = Seq(bestKey, bestId)

  override lazy val initialValues: Seq[Expression] =
    Seq(Literal.create(null, key.dataType), Literal.create(null, id.dataType))

  // never null: the buffer key and id are null together (set together)
  private def takes(k: Expression, i: Expression, bk: Expression, bi: Expression): Expression =
    And(And(IsNotNull(k), IsNotNull(i)),
      Or(IsNull(bk), Or(LessThan(k, bk), And(EqualTo(k, bk), LessThan(i, bi)))))

  override lazy val updateExpressions: Seq[Expression] = {
    val t = takes(key, id, bestKey, bestId)
    Seq(If(t, key, bestKey), If(t, id, bestId))
  }

  override lazy val mergeExpressions: Seq[Expression] = {
    val t = takes(bestKey.right, bestId.right, bestKey.left, bestId.left)
    Seq(If(t, bestKey.right, bestKey.left), If(t, bestId.right, bestId.left))
  }

  override lazy val evaluateExpression: Expression =
    If(IsNull(bestKey), Literal.create(null, dataType),
      CreateNamedStruct(Seq(Literal(keyName), bestKey, Literal(idName), bestId)))

  override def dataType: DataType = StructType(Seq(
    StructField(keyName, key.dataType), StructField(idName, id.dataType)))
  override def nullable: Boolean = true
  override def prettyName: String = "lex_min"
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): LexMin =
    copy(key = newLeft, id = newRight)
}

object LexMin {
  /** Aggregate column: `struct<keyName, idName>` of the smallest (key, id). */
  def lexMin(key: Column, id: Column, keyName: String, idName: String): Column =
    ColumnBridge.column(LexMin(ColumnBridge.expression(key), ColumnBridge.expression(id),
      keyName, idName).toAggregateExpression())
}
