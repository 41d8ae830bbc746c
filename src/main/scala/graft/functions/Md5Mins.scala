package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native codegen'd min-of-md5 signatures over a shingle array — the last
  * interpreted-HOF sites of the dedup layer (same CodegenFallback class the
  * [[TextGrams]] and [[MinHashSig16]] expressions removed: the lambda body
  * of `transform` is interpreted per element, so the md5 cost is dwarfed by
  * boxing + expression-tree walks, and the work sits on the map side of
  * every consumer's first shuffle — data-scaled at any corpus size).
  *
  * Byte-identical contracts (pinned by Md5MinsSpec against the composed
  * forms; the DuckDB oracle twins are unchanged):
  *
  *  - [[MinMd5]]       == array_min(transform(xs, x -> md5(x)))
  *  - [[BandMinMd5s]]  == array(
  *                          array_min(transform(xs, x -> md5(concat('0|', x)))),
  *                          ...,
  *                          array_min(transform(xs, x -> md5(concat('<n-1>|', x)))))
  *
  * Both track the running minima as raw 16-byte digests in one pass over
  * the array (hex-lexicographic order == unsigned digest-byte order, since
  * '0'..'9' < 'a'..'f' in ASCII and md5() emits lowercase hex) and only
  * hex-encode the winners. Null elements are skipped exactly as array_min
  * skips the nulls md5(null) injects; an input with no non-null elements
  * yields null ([[MinMd5]]) / an all-null slot array ([[BandMinMd5s]]),
  * matching the per-slot array_min-over-empty result. */
object Md5Mins {

  private val md5Local = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest = MessageDigest.getInstance("MD5")
  }

  private val hexChars = "0123456789abcdef".toCharArray

  /** Unsigned lexicographic less-than over full 16-byte digests. */
  private def less16(dg: Array[Byte], min: Array[Byte]): Boolean = {
    var k = 0
    while (k < 16) {
      val a = dg(k) & 0xff
      val b = min(k) & 0xff
      if (a != b) return a < b
      k += 1
    }
    false
  }

  private def hex32(dg: Array[Byte]): UTF8String = {
    val hex = new Array[Byte](32)
    var b = 0
    while (b < 16) {
      val v = dg(b) & 0xff
      hex(2 * b) = hexChars(v >>> 4).toByte
      hex(2 * b + 1) = hexChars(v & 0xf).toByte
      b += 1
    }
    UTF8String.fromBytes(hex)
  }

  def computeMin(arr: ArrayData): UTF8String = {
    val n = arr.numElements()
    val md = md5Local.get()
    val min = new Array[Byte](16)
    var any = false
    var i = 0
    while (i < n) {
      val s = arr.getUTF8String(i)
      if (s != null) {
        md.update(s.getBytes)
        val dg = md.digest() // 16 bytes; digest() also resets
        if (!any || less16(dg, min)) System.arraycopy(dg, 0, min, 0, 16)
        any = true
      }
      i += 1
    }
    if (!any) null else hex32(min)
  }

  def computeBands(arr: ArrayData, seeds: Array[Array[Byte]]): ArrayData = {
    val bands = seeds.length
    val n = arr.numElements()
    val md = md5Local.get()
    val mins = Array.ofDim[Byte](bands, 16)
    var any = false
    var i = 0
    while (i < n) {
      val s = arr.getUTF8String(i)
      if (s != null) {
        val sb = s.getBytes
        var j = 0
        while (j < bands) {
          md.update(seeds(j))
          md.update(sb)
          val dg = md.digest()
          if (!any || less16(dg, mins(j))) System.arraycopy(dg, 0, mins(j), 0, 16)
          j += 1
        }
        any = true
      }
      i += 1
    }
    val out = new Array[AnyRef](bands)
    if (any) {
      var j = 0
      while (j < bands) { out(j) = hex32(mins(j)); j += 1 }
    }
    new GenericArrayData(out)
  }

  private def intLit(e: Expression, fn: String, arg: String): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case other => throw new IllegalArgumentException(
      s"$fn: $arg must be an integer literal, got $other")
  }

  /** Register `min_md5`, `band_min_md5s` for expr(...) use. Idempotent. */
  def register(spark: SparkSession): Unit = {
    Natives.define(spark, "min_md5")(exprs => MinMd5(exprs.head))
    Natives.define(spark, "band_min_md5s")(exprs => BandMinMd5s(exprs.head,
        intLit(exprs(1), "band_min_md5s", "bands")))
  }
}

/** See [[Md5Mins]]. */
case class MinMd5(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def prettyName: String = "min_md5"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires an array<string> argument, got " +
        other.catalogString)
  }

  override protected def nullSafeEval(in: Any): Any =
    Md5Mins.computeMin(in.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      s"""
         |${ev.value} = graft.functions.Md5Mins$$.MODULE$$.computeMin($c);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): MinMd5 =
    copy(child = newChild)
}

/** See [[Md5Mins]]. `bands` is a literal; slot j's seed prefix is "j|". */
case class BandMinMd5s(child: Expression, bands: Int) extends UnaryExpression {
  require(bands > 0, s"band_min_md5s: bands must be positive, got $bands")

  // slots are null (not absent) when the input has no non-null elements,
  // matching the composed per-slot array_min-over-empty result
  override def dataType: DataType = ArrayType(StringType, containsNull = true)
  override def nullable: Boolean = true
  override def prettyName: String = "band_min_md5s"

  private lazy val seeds: Array[Array[Byte]] =
    (0 until bands).map(j => s"$j|".getBytes("UTF-8")).toArray

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires an array<string> argument, got " +
        other.catalogString)
  }

  override protected def nullSafeEval(in: Any): Any =
    Md5Mins.computeBands(in.asInstanceOf[ArrayData], seeds)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val seedsRef = ctx.addReferenceObj("seeds", seeds, "byte[][]")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.Md5Mins$$.MODULE$$.computeBands($c, $seedsRef)")
  }

  override protected def withNewChildInternal(newChild: Expression): BandMinMd5s =
    copy(child = newChild)
}
