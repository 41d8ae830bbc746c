package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst expression: cosine similarity between two float/double
  * arrays — the codegen'd replacement for the
  * `aggregate(zip_with(a, b, (x,y) -> x*y), 0D, +)` higher-order-function
  * form, which Catalyst evaluates interpreted with per-element lambda
  * dispatch and a per-row intermediate array.
  *
  * BIT-IDENTICAL to the HOF form (and therefore to the DuckDB oracle's
  * list_dot_product fold): each of the three accumulators (a·b, a·a, b·b)
  * adds its products in ascending index order — exactly the sequential left
  * fold — and the final expression is dot / (sqrt(na) * sqrt(nb)) with the
  * same IEEE operation order. Verified by the oracle hash-match of all four
  * similarity queries and by CosineSimSpec's exact comparison.
  *
  * Null/shape semantics follow the HOF form: any null element or a length
  * mismatch (zip_with pads with nulls) yields null, and a zero-norm input
  * (all-zero vector) yields null — the HOF form divided with Spark's
  * `Divide`, which returns null on a 0 divisor, so raw IEEE NaN/Infinity
  * here would diverge from it (and from the DuckDB oracle).
  */
case class CosineSim(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "cosine_sim"

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
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = if (fa) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (fb) b.getFloat(i).toDouble else b.getDouble(i)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    if (na == 0.0 || nb == 0.0) null
    else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val getA = if (isFloat(left)) s"(double) $a.getFloat($i)" else s"$a.getDouble($i)"
      val getB = if (isFloat(right)) s"(double) $b.getFloat($i)" else s"$b.getDouble($i)"
      s"""
         |if ($a.numElements() != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  int $n = $a.numElements();
         |  double $dot = 0.0, $na = 0.0, $nb = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    double x = $getA;
         |    double y = $getB;
         |    $dot += x * y; $na += x * x; $nb += y * y;
         |  }
         |  if (!${ev.isNull}) {
         |    if ($na == 0.0 || $nb == 0.0) {
         |      ${ev.isNull} = true;
         |    } else {
         |      ${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
         |    }
         |  }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSim =
    copy(left = newLeft, right = newRight)
}

object CosineSim {
  /** Register `cosine_sim` for SQL text / expr(...). Idempotent. */
  def register(spark: SparkSession): Unit =
    Natives.define(spark, "cosine_sim")(exprs => CosineSim(exprs(0), exprs(1)))
}
