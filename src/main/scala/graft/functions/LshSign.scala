package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: the 8-bit deterministic-hyperplane LSH
  * signature over a float/double array — the codegen'd replacement for the
  * per-bit `aggregate(transform(sequence(...), i -> emb[i] * w(i,j)), 0D, +)`
  * higher-order-function stack, which Catalyst evaluates interpreted (eight
  * lambda-dispatched folds and eight intermediate arrays per row).
  *
  * BIT-IDENTICAL to the HOF form (and therefore to the DuckDB oracle's
  * bucket CTE): for each bit j the dot product with the fixed integer
  * weight grid w(i, j) = (i*31 + j*17) % 7 - 3 accumulates in ascending
  * index order — the same sequential left fold — and the bit is '1' iff the
  * sum >= 0 under the same primitive double comparison. Degenerate inputs
  * all land on the HOF form's '0' * bits: a null element (or an empty
  *  array's out-of-range indexing) nulls every per-j HOF sum, whose
  * `when(sum >= 0, ...)` falls through to '0', and a NULL array nulls the
  * lambda the same way — so this expression never returns NULL and maps
  * null/empty/null-element inputs to the all-'0' signature, keeping bucket
  * membership identical to the replaced form for every input.
  */
case class LshSign(child: Expression, bits: Int = 8, mod: Int = 7)
    extends UnaryExpression {

  require(mod % 2 == 1 && mod >= 3, "mod must be an odd prime-ish >= 3")
  private val half = mod / 2

  override def dataType: DataType = StringType
  override def nullable: Boolean = false
  override def prettyName: String = "lsh_sign"

  private lazy val zeroSig = UTF8String.fromString("0" * bits)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires an array<float>/array<double> argument, got " +
        other.catalogString)
  }

  private def isFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) zeroSig else nullSafeEval(v)
  }

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    var anyNull = n == 0 // empty array → all-'0', like the HOF form
    var i = 0
    while (i < n && !anyNull) {
      if (arr.isNullAt(i)) anyNull = true
      i += 1
    }
    val out = new Array[Char](bits)
    var j = 0
    while (j < bits) {
      if (anyNull) out(j) = '0'
      else {
        var s = 0.0
        var k = 0
        while (k < n) {
          val x = if (isFloat) arr.getFloat(k).toDouble else arr.getDouble(k)
          s += x * ((k * 31 + j * 17) % mod - half).toDouble
          k += 1
        }
        out(j) = if (s >= 0.0) '1' else '0'
      }
      j += 1
    }
    UTF8String.fromString(new String(out))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    import org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral
    val childGen = child.genCode(ctx)
    val a = childGen.value
    val n = ctx.freshName("n")
    val i = ctx.freshName("i")
    val j = ctx.freshName("j")
    val k = ctx.freshName("k")
    val s = ctx.freshName("s")
    val anyNull = ctx.freshName("anyNull")
    val chars = ctx.freshName("chars")
    val get = if (isFloat) s"(double) $a.getFloat($k)" else s"$a.getDouble($k)"
    val utf8 = "org.apache.spark.unsafe.types.UTF8String"
    val zeroLit = "\"" + ("0" * bits) + "\""
    // never-null: a NULL array takes the same all-'0' signature the loop
    // produces for empty/null-element arrays (see class doc)
    ev.copy(
      code = code"""
        ${childGen.code}
        ${utf8} ${ev.value};
        if (${childGen.isNull}) {
          ${ev.value} = ${utf8}.fromString($zeroLit);
        } else {
          final int $n = $a.numElements();
          boolean $anyNull = $n == 0;
          for (int $i = 0; $i < $n && !$anyNull; $i++) {
            if ($a.isNullAt($i)) $anyNull = true;
          }
          final char[] $chars = new char[$bits];
          for (int $j = 0; $j < $bits; $j++) {
            if ($anyNull) { $chars[$j] = '0'; continue; }
            double $s = 0.0;
            for (int $k = 0; $k < $n; $k++) {
              $s += ($get) * (double) (($k * 31 + $j * 17) % $mod - $half);
            }
            $chars[$j] = $s >= 0.0 ? '1' : '0';
          }
          ${ev.value} = ${utf8}.fromString(new String($chars));
        }""",
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): LshSign =
    copy(child = newChild)
}

object LshSign {
  /** Register `lsh_sign(arr[, bits[, mod]])` for SQL text / expr(...).
    * Idempotent. The default (8, 7) grid is the oracle-verified original;
    * wider signatures MUST also widen `mod` — the weight pattern
    * (i*31 + j*17) % mod repeats with period `mod` in j, so e.g. 16 bits
    * at mod 7 would add only duplicate hyperplanes (bit j == bit j+7).
    * Occupancy rule at scale: bits ~ log2(N / target bucket size), the
    * same fix the 64-bit SimHash widening applied to near-dup chunks. */
  def register(spark: SparkSession): Unit =
    Natives.define(spark, "lsh_sign")(exprs => {
      def lit(e: Expression, default: Int): Int = e match {
        case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
        case other => other.eval(null).toString.toInt
      }
      val bits = exprs.lift(1).map(lit(_, 8)).getOrElse(8)
      val mod = exprs.lift(2).map(lit(_, 7)).getOrElse(7)
      LshSign(exprs.head, bits, mod)
    })
}
