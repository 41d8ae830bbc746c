package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Native codegen'd i<j pair expansion of an array — the basket-explosion
  * core of `int_market_basket` and `events_session_cooccurrence`. Replaces
  * the interpreted nested-HOF spelling
  *
  *   CASE WHEN size(xs) >= 2
  *     THEN flatten(transform(sequence(0, size(xs) - 2),
  *       i -> transform(sequence(i + 1, size(xs) - 1),
  *         j -> named_struct('a', xs[i], 'b', xs[j]))))
  *     ELSE array() END
  *
  * which pays two interpreted lambda layers, a sequence array and a struct
  * allocation walk per basket (HOFs are CodegenFallback). Output is the
  * identical array<struct<a,b>> — same order (row-major i<j), same values,
  * empty for size < 2, null for null input (zero rows either way under the
  * explode every call site applies). Quadratic per basket by design, exactly
  * as the composed form — callers bound basket size upstream.
  * Pinned byte-identical by OrderedPairsSpec. */
case class OrderedPairs(child: Expression) extends UnaryExpression {

  private lazy val elemType: DataType =
    child.dataType.asInstanceOf[ArrayType].elementType
  private lazy val elemNullable: Boolean =
    child.dataType.asInstanceOf[ArrayType].containsNull

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("a", elemType, elemNullable),
      StructField("b", elemType, elemNullable))),
    containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "ordered_pairs"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(_, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires an array argument, got " + other.catalogString)
  }

  override protected def nullSafeEval(in: Any): Any =
    OrderedPairs.compute(in.asInstanceOf[ArrayData], elemType)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val et = ctx.addReferenceObj("elemType", elemType, classOf[DataType].getName)
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.OrderedPairs$$.MODULE$$.compute($c, $et)")
  }

  override protected def withNewChildInternal(newChild: Expression): OrderedPairs =
    copy(child = newChild)
}

object OrderedPairs {

  def compute(arr: ArrayData, elemType: DataType): ArrayData = {
    val n = arr.numElements()
    if (n < 2) return new GenericArrayData(Array.empty[AnyRef])
    val xs = arr.toObjectArray(elemType)
    val out = new Array[AnyRef](n * (n - 1) / 2)
    var k = 0
    var i = 0
    while (i < n - 1) {
      var j = i + 1
      while (j < n) {
        out(k) = new GenericInternalRow(
          Array[Any](xs(i), xs(j))): InternalRow
        k += 1
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Register `ordered_pairs` for expr(...) use. Idempotent. */
  def register(spark: SparkSession): Unit =
    Natives.define(spark, "ordered_pairs")(exprs => OrderedPairs(exprs.head))
}
