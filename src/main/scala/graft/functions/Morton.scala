package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType}

/** Native Catalyst expression: 64-bit Morton (Z-order) code of two
  * non-negative 32-bit dimension values — the multi-dimensional clustering
  * key behind Z-ordered table layouts (Delta/Iceberg OPTIMIZE ZORDER BY):
  * sorting by the interleaved code gives every file a tight min/max span in
  * BOTH dimensions, so parquet row-group/file skipping works for predicates
  * on either column, not just a leading sort key.
  *
  * Bit-interleave via the standard parallel bit-spread (each magic-mask
  * step doubles the gap between bits), branch-free, fully inside
  * whole-stage codegen — this is a per-row layout computation over the
  * entire table at write time, the hottest possible path.
  * Inputs are taken mod 2^32 (callers pass bucketed/ranked dims).
  */
case class MortonCode(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == LongType && right.dataType == LongType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"zorder2 requires (BIGINT, BIGINT), got (${left.dataType.sql}, ${right.dataType.sql})")
  override def dataType: DataType = LongType
  override def prettyName: String = "zorder2"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    MortonCode.interleave(a.asInstanceOf[Long], b.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      // same spread sequence as MortonCode.interleave, inlined for codegen
      def spread(v: String): String =
        s"""$v = ($v | ($v << 16)) & 0x0000FFFF0000FFFFL;
           |$v = ($v | ($v << 8))  & 0x00FF00FF00FF00FFL;
           |$v = ($v | ($v << 4))  & 0x0F0F0F0F0F0F0F0FL;
           |$v = ($v | ($v << 2))  & 0x3333333333333333L;
           |$v = ($v | ($v << 1))  & 0x5555555555555555L;""".stripMargin
      s"""
         |long $x = $a & 0xFFFFFFFFL;
         |long $y = $b & 0xFFFFFFFFL;
         |${spread(x)}
         |${spread(y)}
         |${ev.value} = $x | ($y << 1);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): MortonCode =
    copy(left = newLeft, right = newRight)
}

object MortonCode {
  /** Interpreted twin of the codegen path (and the spec's reference). */
  def interleave(a: Long, b: Long): Long = {
    def spread(v0: Long): Long = {
      var v = v0 & 0xFFFFFFFFL
      v = (v | (v << 16)) & 0x0000FFFF0000FFFFL
      v = (v | (v << 8)) & 0x00FF00FF00FF00FFL
      v = (v | (v << 4)) & 0x0F0F0F0F0F0F0F0FL
      v = (v | (v << 2)) & 0x3333333333333333L
      v = (v | (v << 1)) & 0x5555555555555555L
      v
    }
    spread(a) | (spread(b) << 1)
  }

  /** Register `zorder2(a, b)` for SQL text / expr(...). Idempotent. */
  def register(spark: SparkSession): Unit =
    Natives.define(spark, "zorder2")(exprs => MortonCode(exprs(0), exprs(1)))
}
