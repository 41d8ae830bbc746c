package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, IntegerType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: Hamming distance between two equal-length
  * ASCII bit-strings (as produced by the SimHash operator).
  *
  * Built-ins CAN express this (filter over a position sequence comparing
  * substrings) but that shape allocates a per-row array and black-boxes the
  * loop; this expression stays inside whole-stage codegen as a tight byte
  * loop — the preferred form for a hot inner-join predicate
  * (SURVEY §2.10: custom Expression > UDF). Mismatched lengths count the
  * length difference as distance.
  */
case class BitHamming(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = IntegerType
  override def prettyName: String = "bit_hamming"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val s1 = a.asInstanceOf[UTF8String]
    val s2 = b.asInstanceOf[UTF8String]
    val n1 = s1.numBytes()
    val n2 = s2.numBytes()
    val n = math.min(n1, n2)
    var d = math.abs(n1 - n2)
    var i = 0
    while (i < n) {
      if (s1.getByte(i) != s2.getByte(i)) d += 1
      i += 1
    }
    d
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val d = ctx.freshName("d")
      s"""
         |int $n = Math.min($a.numBytes(), $b.numBytes());
         |int $d = Math.abs($a.numBytes() - $b.numBytes());
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($a.getByte($i) != $b.getByte($i)) $d++;
         |}
         |${ev.value} = $d;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): BitHamming =
    copy(left = newLeft, right = newRight)
}

object BitHamming {
  /** Register `bit_hamming` in the session's function registry so it is
    * usable from SQL text and `expr(...)`. Idempotent. */
  def register(spark: SparkSession): Unit =
    Natives.define(spark, "bit_hamming")(exprs => BitHamming(exprs(0), exprs(1)))
}
