package graft.functions

import java.math.{BigDecimal => JBigDecimal, RoundingMode}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, QuaternaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DecimalType, DoubleType,
  FloatType, IntegerType, LongType}

/** `adc_slots(qe, mat, subs, codes)`: one query's ADC table (the PQ
  * asymmetric-distance lookup table) in one pass over a packed codebook.
  *
  * The codebook is one packed row in [[ArgmaxCosine]]'s convention: `mat`
  * is the codewords concatenated (codeword i at [i*d, (i+1)*d), d =
  * |mat| / |codes|), `subs(i)` its subspace and `codes(i)` its raw code.
  * The query splits into |qe| / d subspaces of d dims. The result is a
  * decimal(12,9) array of (|qe| / d) × width slots, width = max code + 1,
  * where slot `s * width + code` holds
  * `CAST(round(cosine_sim(qe[s*d ..], codeword), 9) AS DECIMAL(12,9))`:
  * the cosine in [[CosineSim]]'s IEEE op order, rounded as Spark's
  * `round` on a double rounds and cast as Spark casts a double. A slot no
  * codeword fills, and a null cosine (a zero-norm subvector or a null
  * element), holds 0. So the array carries its own width: a reader gets
  * it as `size(qarr) div nSubspaces`.
  *
  * It replaces the composed form (subvector explode, a join on the
  * subspace, a `map_from_entries` group per subspace and a `flatten`
  * group per query, AdcSlotsSpec's reference), which shuffled twice per
  * query batch. Null for an empty codebook, mismatched shapes, a negative
  * code or a null subspace or code; a codeword whose subspace is outside
  * the query's is skipped, as the composed form's join skipped it.
  */
case class AdcSlots(vec: Expression, mat: Expression, subs: Expression,
    codes: Expression) extends QuaternaryExpression {

  override def first: Expression = vec
  override def second: Expression = mat
  override def third: Expression = subs
  override def fourth: Expression = codes
  override def prettyName: String = "adc_slots"
  override def dataType: DataType = ArrayType(AdcSlots.Slot, containsNull = false)
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = children.map(_.dataType) match {
    case Seq(ArrayType(FloatType | DoubleType, _), ArrayType(FloatType | DoubleType, _),
        ArrayType(IntegerType, _), ArrayType(LongType, _)) => TypeCheckResult.TypeCheckSuccess
    case ts => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (array<float|double>, array<float|double>, " +
        s"array<int>, array<bigint>), got ${ts.map(_.catalogString).mkString(", ")}")
  }

  private def isFloat(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override protected def nullSafeEval(v: Any, m: Any, s: Any, c: Any): Any =
    AdcSlots.slots(v.asInstanceOf[ArrayData], isFloat(vec),
      m.asInstanceOf[ArrayData], isFloat(mat),
      s.asInstanceOf[ArrayData], c.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (v, m, s, c) =>
      s"""${ev.value} = graft.functions.AdcSlots$$.MODULE$$.slots(
         |  $v, ${isFloat(vec)}, $m, ${isFloat(mat)}, $s, $c);
         |${ev.isNull} = ${ev.value} == null;""".stripMargin)

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression, newFourth: Expression): AdcSlots =
    copy(vec = newFirst, mat = newSecond, subs = newThird, codes = newFourth)
}

object AdcSlots {
  val Slot: DecimalType = DecimalType(12, 9)

  /** Register `adc_slots` for SQL text / expr(...). Idempotent. */
  def register(spark: SparkSession): Unit =
    Natives.define(spark, "adc_slots")(e => AdcSlots(e(0), e(1), e(2), e(3)))

  private def get(a: ArrayData, float: Boolean, i: Int): Double =
    if (float) a.getFloat(i).toDouble else a.getDouble(i)

  /** The unscaled decimal(12,9) of `round(cos, 9)` cast to decimal(12,9):
    * both steps as Spark takes them, through the double's shortest
    * decimal representation, HALF_UP. */
  private def slot(cos: Double): Long =
    if (cos.isNaN || cos.isInfinite) 0L // round keeps it; the cast nulls it
    else {
      val r = JBigDecimal.valueOf(cos).setScale(Slot.scale, RoundingMode.HALF_UP).doubleValue
      JBigDecimal.valueOf(r).setScale(Slot.scale, RoundingMode.HALF_UP)
        .unscaledValue.longValueExact
    }

  /** The slot array; see [[AdcSlots]]. The result is an unsafe array of
    * unscaled longs, the layout of a decimal array of precision <= 18. */
  def slots(q: ArrayData, qFloat: Boolean, m: ArrayData, mFloat: Boolean,
      subs: ArrayData, codes: ArrayData): ArrayData = {
    val n = codes.numElements()
    if (n == 0 || subs.numElements() != n || m.numElements() % n != 0) return null
    val d = m.numElements() / n
    if (d == 0 || q.numElements() % d != 0) return null
    val nSub = q.numElements() / d
    var width = 0L
    var i = 0
    while (i < n) {
      if (codes.isNullAt(i) || subs.isNullAt(i) || codes.getLong(i) < 0) return null
      width = math.max(width, codes.getLong(i) + 1)
      i += 1
    }
    if (nSub * width > Int.MaxValue) return null
    val out = new Array[Long]((nSub * width).toInt)
    i = 0
    while (i < n) {
      val s = subs.getInt(i)
      if (s >= 0 && s < nSub) {
        var dot = 0.0; var nq = 0.0; var nc = 0.0
        var ok = true
        var k = 0
        while (ok && k < d) {
          val qi = s * d + k
          val ci = i * d + k
          if (q.isNullAt(qi) || m.isNullAt(ci)) ok = false
          else {
            val x = get(q, qFloat, qi)
            val y = get(m, mFloat, ci)
            dot += x * y; nq += x * x; nc += y * y
          }
          k += 1
        }
        if (ok && nq != 0.0 && nc != 0.0)
          out((s * width + codes.getLong(i)).toInt) =
            slot(dot / (math.sqrt(nq) * math.sqrt(nc)))
      }
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }
}
