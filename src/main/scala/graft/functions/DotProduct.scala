package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst expression: dot product of two float/double arrays —
  * the codegen'd replacement for the
  * `aggregate(zip_with(a, b, (x,y) -> cast(x as double) * y), 0D, +)`
  * higher-order-function form. HOFs are CodegenFallback (interpreted
  * per-row lambda dispatch + an intermediate array per row) — measured at
  * 2.6-3x the cost of the equivalent codegen'd loop on the ANN serving
  * path (PERF_NOTES_r11.md), and the PQ ENCODE pass
  * evaluates a dot per (vector, subspace, codeword) = n·subs·256 rows, the
  * single biggest term of the 2M-vector index build this expression was
  * added for (r11 verdict item 4).
  *
  * BIT-IDENTICAL to the HOF form: products accumulate in ascending index
  * order — the same sequential left fold — so swapping it into a plan
  * changes no result (DotProductSpec pins exact equality, incl. the
  * null/shape semantics: any null element or a length mismatch yields
  * null, exactly like zip_with's null padding through the fold). Unlike
  * [[CosineSim]] there is no division, so zero vectors yield 0.0. */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "dot_product"

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(e: Expression): Boolean = e.dataType match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    }
    if (ok(left) && ok(right)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<float>/array<double> arguments, got " +
        s"${left.dataType.catalogString} and ${right.dataType.catalogString}")
  }

  private def isFloat(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override protected def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    if (a.numElements() != b.numElements()) return null
    val n = a.numElements()
    val fa = isFloat(left)
    val fb = isFloat(right)
    var dot = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = if (fa) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (fb) b.getFloat(i).toDouble else b.getDouble(i)
      dot += x * y
      i += 1
    }
    dot
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val getA = if (isFloat(left)) s"(double) $a.getFloat($i)" else s"$a.getDouble($i)"
      val getB = if (isFloat(right)) s"(double) $b.getFloat($i)" else s"$b.getDouble($i)"
      s"""
         |if ($a.numElements() != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  int $n = $a.numElements();
         |  double $dot = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $dot += ($getA) * ($getB);
         |  }
         |  if (!${ev.isNull}) {
         |    ${ev.value} = $dot;
         |  }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

object DotProduct {
  /** Register `dot_product` for SQL text / expr(...). Idempotent. */
  def register(spark: SparkSession): Unit =
    Natives.define(spark, "dot_product")(exprs => DotProduct(exprs(0), exprs(1)))
}
