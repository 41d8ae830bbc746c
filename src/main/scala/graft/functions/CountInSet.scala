package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native codegen'd membership count over a token array — replaces the
  * quality/language-ID layer's interpreted-HOF spelling
  *
  *   size(filter(toks, x -> array_contains(array('w1', ..., 'wk'), x)))
  *
  * which pays an interpreted lambda per token (HOFs are CodegenFallback)
  * and a linear array_contains scan of the word list per call — on the map
  * side of a corpus-wide scan, so the tax is data-scaled. Here the word
  * list is a hashed set built once per expression instance and the count
  * is one tight loop per row. Byte-identical to the composed form (pinned
  * by Md5MinsSpec): duplicates count once per occurrence (it is a count of
  * matching ELEMENTS, not distinct matches), null elements are skipped
  * exactly as filter drops array_contains' null verdicts, and a null
  * array yields null exactly as ANSI size(null) does.
  *
  * The word list is a comma-joined string LITERAL (`count_in_set(toks,
  * 'the,and,of')`) — the stopword sets are compile-time constants at every
  * call site, and a literal keeps the expression tree free of a 10-40
  * element array constructor. */
case class CountInSet(child: Expression, words: Seq[String])
    extends UnaryExpression {

  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true
  override def prettyName: String = "count_in_set"

  private lazy val set: java.util.HashSet[UTF8String] = {
    val s = new java.util.HashSet[UTF8String](words.size * 2)
    words.foreach(w => s.add(UTF8String.fromString(w)))
    s
  }

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires an array<string> argument, got " +
        other.catalogString)
  }

  override protected def nullSafeEval(in: Any): Any =
    CountInSet.compute(in.asInstanceOf[ArrayData], set)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val setRef = ctx.addReferenceObj("wordSet", set, "java.util.HashSet")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.CountInSet$$.MODULE$$.compute($c, $setRef)")
  }

  override protected def withNewChildInternal(newChild: Expression): CountInSet =
    copy(child = newChild)
}

object CountInSet {

  def compute(arr: ArrayData, set: java.util.HashSet[UTF8String]): Int = {
    val n = arr.numElements()
    var cnt = 0
    var i = 0
    while (i < n) {
      val s = arr.getUTF8String(i)
      if (s != null && set.contains(s)) cnt += 1
      i += 1
    }
    cnt
  }

  /** Register `count_in_set` for expr(...) use. Idempotent. */
  def register(spark: SparkSession): Unit =
    Natives.define(spark, "count_in_set")(exprs => {
      val words = exprs(1) match {
        case Literal(s: UTF8String, StringType) =>
          s.toString.split(",").toSeq
        case other => throw new IllegalArgumentException(
          "count_in_set: words must be a comma-joined string literal, got "
            + other)
      }
      CountInSet(exprs.head, words)
    })
}
