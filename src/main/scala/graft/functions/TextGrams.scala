package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Native codegen'd replacements for the text layer's higher-order-function
  * hot paths. Spark's array HOFs (`transform`, `filter`) are CodegenFallback:
  * the lambda body is interpreted per element, with per-element boxing and
  * expression-tree walks — measured at 3-6x the underlying byte work on the
  * corpus queries (same lesson as [[MinHashSig16]], whose composed form spent
  * ~3x the digest cost in 17 higher-order passes). Each expression here is
  * one whole-stage-codegen'd call into a tight loop over the token array.
  *
  * Byte-identical contracts (each pinned by TextGramsSpec against the exact
  * composed form it replaces — the oracle twins are unchanged):
  *
  *  - [[WsTokens]]  == filter(split(lower(text), '\s+'), x -> x != '')
  *    (same UTF8String.toLowerCase / UTF8String.split(regex, -1) calls the
  *    Lower and StringSplit expressions make, empties dropped)
  *  - [[Ngrams]]    == CASE WHEN size(toks) >= n THEN transform(
  *                       sequence(0, size(toks)-n, stride),
  *                       i -> array_join(slice(toks, i+1, n), ' '))
  *                     ELSE array() END
  *    (space-joined n-grams; == the concat(toks[i], ' ', toks[i+1], ...)
  *    spelling for non-null tokens, which whitespace tokens always are)
  *  - [[NgramMd5s]] == same windows, each element md5-hex'd — the digest is
  *    fed the gram's UTF8 bytes directly (token bytes + ' ' separators), so
  *    the 32-hex key never materializes the gram string at all.
  *  - [[NgramRepStats]] == per document with size(toks) > 0, the counts of
  *                     explode(g) -> groupBy(doc_id, g).agg(count as tf)
  *                       -> groupBy(doc_id).agg(sum(tf), ...)
  *                     for g = toks, ngrams(toks, 2, 1), ngrams(toks, 3, 1):
  *                     n_tokens = sum(tf), n_unique_tokens = count(*),
  *                     top_tok_tf = max(tf); n_bigrams = sum(tf),
  *                     top_bigram_tf = max(tf); n_trigrams = sum(tf),
  *                     dup_trigram_occ = sum(tf where tf > 1) — with 0, not
  *                     NULL, for an order the document is too short for.
  *    (n-grams are counted by token-id tuple, which equals counting the
  *    space-joined strings for whitespace tokens: they hold no space and
  *    are never null; pinned by RepStatsSpec)
  *  - [[Simhash64]] == per document with size(toks) > 0, the 64-character
  *                     signature of
  *                     explode(toks) -> groupBy(doc_id, md5(tok)).agg(count
  *                       as cnt) -> groupBy(doc_id).agg(v_j = sum(+cnt where
  *                       bit (j % 4) of md5 hex digit (j / 4) is set, else
  *                       -cnt)) -> char j = v_j >= 0 ? '1' : '0'
  *                     as a bigint whose bit 63 - j is character j, so
  *                     lpad(bin(sig), 64, '0') renders the string (the
  *                     composed form is kept as the reference in
  *                     SimhashSpec; the oracle twins render the string)
  *
  * Null semantics match the composed forms where they are consumed: a null
  * token array yields null (and only a null one, for simhash64, whose
  * nullability is its input's), and every array call site explodes the
  * result, where null and array() both produce zero rows (ngram_rep_stats'
  * and simhash64's call sites keep only size(toks) > 0).
  */
object TextGrams {

  private val wsPattern = UTF8String.fromString("\\s+")
  private val space = UTF8String.fromString(" ")

  private val md5Local = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest = MessageDigest.getInstance("MD5")
  }
  private val hexChars = "0123456789abcdef".getBytes("UTF-8")

  /** lower + \s+ split + drop empties, one pass, no intermediate arrays
    * beyond the split's own. Calls the same UTF8String methods the built-in
    * Lower / StringSplit expressions call, so the bytes cannot diverge. */
  def wsTokens(text: UTF8String): ArrayData = {
    val parts = text.toLowerCase.split(wsPattern, -1)
    var kept = 0
    var i = 0
    while (i < parts.length) {
      if (parts(i).numBytes() > 0) kept += 1
      i += 1
    }
    val out = new Array[AnyRef](kept)
    var j = 0
    i = 0
    while (i < parts.length) {
      if (parts(i).numBytes() > 0) { out(j) = parts(i); j += 1 }
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Space-joined n-grams at the given stride (stride == n gives the
    * non-overlapping chunk windows, stride == 1 the sliding windows). */
  def grams(arr: ArrayData, n: Int, stride: Int): ArrayData = {
    val m = arr.numElements()
    if (m < n) return new GenericArrayData(Array.empty[AnyRef])
    val cnt = (m - n) / stride + 1
    val out = new Array[AnyRef](cnt)
    val parts = new Array[UTF8String](n)
    var k = 0
    while (k < cnt) {
      val i = k * stride
      var j = 0
      while (j < n) { parts(j) = arr.getUTF8String(i + j); j += 1 }
      out(k) = UTF8String.concatWs(space, parts: _*)
      k += 1
    }
    new GenericArrayData(out)
  }

  /** md5 hex of each space-joined n-gram, digesting token bytes + separator
    * directly (null tokens skipped with their separator, exactly as
    * array_join skips them — whitespace tokens are never null anyway). */
  def gramMd5s(arr: ArrayData, n: Int, stride: Int): ArrayData = {
    val m = arr.numElements()
    if (m < n) return new GenericArrayData(Array.empty[AnyRef])
    val cnt = (m - n) / stride + 1
    val out = new Array[AnyRef](cnt)
    val md = md5Local.get()
    var k = 0
    while (k < cnt) {
      val i = k * stride
      var first = true
      var j = 0
      while (j < n) {
        val s = arr.getUTF8String(i + j)
        if (s != null) {
          if (!first) md.update(' '.toByte)
          md.update(s.getBytes)
          first = false
        }
        j += 1
      }
      val dg = md.digest() // resets for the next window
      val hex = new Array[Byte](32)
      var b = 0
      while (b < 16) {
        val v = dg(b) & 0xff
        hex(2 * b) = hexChars(v >>> 4)
        hex(2 * b + 1) = hexChars(v & 0xf)
        b += 1
      }
      out(k) = UTF8String.fromBytes(hex)
      k += 1
    }
    new GenericArrayData(out)
  }

  private def intLit(e: Expression, fn: String, arg: String): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case other => throw new IllegalArgumentException(
      s"$fn: $arg must be an integer literal, got $other")
  }

  /** The struct [[NgramRepStats]] returns: seven non-null counts. */
  val repStatsType: StructType = StructType(Seq(
    "n_tokens", "n_unique_tokens", "top_tok_tf", "n_bigrams", "top_bigram_tf",
    "n_trigrams", "dup_trigram_occ").map(StructField(_, LongType, nullable = false)))

  /** Token, bigram and trigram counts of one document in one loop over its
    * token array. Every counting map is exact: a token's identity is its
    * bytes (UTF8String equality, a null element is one more identity), each
    * token gets a dense id, a bigram is the pair of its token ids packed in
    * a long, and a trigram the pair (bigram id, third token id) packed the
    * same way — so no two distinct n-grams can share a count. */
  def repStats(arr: ArrayData): InternalRow = {
    val n = arr.numElements()
    val tokIds = new java.util.HashMap[UTF8String, Integer](n * 2)
    val tokTf = new Array[Int](n)
    val ids = new Array[Int](n)
    var topTok = 0
    var i = 0
    while (i < n) {
      val s = arr.getUTF8String(i)
      val known = tokIds.get(s)
      val id =
        if (known != null) known.intValue
        else { val k = tokIds.size; tokIds.put(s, k); k }
      ids(i) = id
      tokTf(id) += 1
      if (tokTf(id) > topTok) topTok = tokTf(id)
      i += 1
    }
    val bi = new LongCounts(n - 1)
    val biIds = new Array[Int](math.max(n - 1, 0))
    i = 0
    while (i < n - 1) {
      biIds(i) = bi.add((ids(i).toLong << 32) | ids(i + 1))
      i += 1
    }
    val tri = new LongCounts(n - 2)
    i = 0
    while (i < n - 2) {
      tri.add((biIds(i).toLong << 32) | ids(i + 2))
      i += 1
    }
    new GenericInternalRow(Array[Any](n.toLong, tokIds.size.toLong,
      topTok.toLong, math.max(n - 1, 0).toLong, bi.top.toLong,
      math.max(n - 2, 0).toLong, tri.repeatedOccurrences))
  }

  /** The 64-bit simhash of one document in one loop over its token array:
    * each distinct token (a null element is one more identity, whose md5
    * is NULL and so votes against every bit) is counted, then votes its
    * count into bit j — plus where bit (j % 4) of its md5 hex digit (j / 4)
    * is set, minus where it is not. Hex digit d is the high nibble of
    * digest byte d / 2 when d is even and the low nibble when odd, so bit
    * (j % 4) of digit (j / 4) is bit ((j % 8) ^ 4) of byte j / 8. A vote sum
    * >= 0 sets signature bit 63 - j; an empty array sets all 64. */
  def simhash64(arr: ArrayData): Long = {
    val n = arr.numElements()
    val tf = new java.util.HashMap[UTF8String, Array[Int]](n * 2)
    var i = 0
    while (i < n) {
      val s = arr.getUTF8String(i)
      val c = tf.get(s)
      if (c != null) c(0) += 1 else tf.put(s, Array(1))
      i += 1
    }
    val votes = new Array[Long](64)
    val md = md5Local.get()
    val it = tf.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val cnt = e.getValue()(0).toLong
      if (e.getKey == null) {
        var j = 0
        while (j < 64) { votes(j) -= cnt; j += 1 }
      } else {
        val dg = md.digest(e.getKey.getBytes)
        var j = 0
        while (j < 64) {
          if (((dg(j >>> 3) >>> ((j & 7) ^ 4)) & 1) != 0) votes(j) += cnt
          else votes(j) -= cnt
          j += 1
        }
      }
    }
    var sig = 0L
    var j = 0
    while (j < 64) {
      if (votes(j) >= 0) sig |= 1L << (63 - j)
      j += 1
    }
    sig
  }

  /** Register `ws_tokens`, `ngrams`, `ngram_md5s`, `ngram_rep_stats`,
    * `simhash64` for expr(...) use, once per session ([[Natives.define]]). */
  def register(spark: SparkSession): Unit = {
    Natives.define(spark, "ws_tokens")(exprs => WsTokens(exprs.head))
    Natives.define(spark, "ngrams")(exprs => Ngrams(exprs.head,
        intLit(exprs(1), "ngrams", "n"), intLit(exprs(2), "ngrams", "stride")))
    Natives.define(spark, "ngram_md5s")(exprs => NgramMd5s(exprs.head,
        intLit(exprs(1), "ngram_md5s", "n"),
        intLit(exprs(2), "ngram_md5s", "stride")))
    Natives.define(spark, "ngram_rep_stats")(exprs => NgramRepStats(exprs.head))
    Natives.define(spark, "simhash64")(exprs => Simhash64(exprs.head))
  }
}

/** Open-addressing map from a long key to a dense id (first seen, first
  * numbered) and that id's occurrence count: the per-row n-gram counter of
  * [[TextGrams.repStats]], sized for at most `max` adds. */
private[functions] final class LongCounts(max: Int) {
  private val cap = Integer.highestOneBit(math.max(max, 2) * 2 - 1) << 1
  private val mask = cap - 1
  private val keys = new Array[Long](cap)
  private val slots = new Array[Int](cap) // id + 1; 0 = empty
  private val counts = new Array[Int](math.max(max, 0))
  private var size = 0
  /** The largest count so far. */
  var top = 0

  /** Count one occurrence of `key`; returns its id. */
  def add(key: Long): Int = {
    var h = ((key * 0x9E3779B97F4A7C15L) >>> 32).toInt & mask
    while (slots(h) != 0 && keys(h) != key) h = (h + 1) & mask
    if (slots(h) == 0) { keys(h) = key; size += 1; slots(h) = size }
    val id = slots(h) - 1
    counts(id) += 1
    if (counts(id) > top) top = counts(id)
    id
  }

  /** Occurrences of the keys counted more than once. */
  def repeatedOccurrences: Long = {
    var sum = 0L
    var id = 0
    while (id < size) {
      if (counts(id) > 1) sum += counts(id)
      id += 1
    }
    sum
  }
}

/** See [[TextGrams.wsTokens]]. */
case class WsTokens(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "ws_tokens"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument, got " + other.catalogString)
  }

  override protected def nullSafeEval(in: Any): Any =
    TextGrams.wsTokens(in.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.TextGrams$$.MODULE$$.wsTokens($c)")

  override protected def withNewChildInternal(newChild: Expression): WsTokens =
    copy(child = newChild)
}

/** A function of one token array (array<string>). */
private[functions] trait TokenArrayFn extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires an array<string> argument, got " +
        other.catalogString)
  }
}

private[functions] trait GramLike extends TokenArrayFn {
  def n: Int
  def stride: Int
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult =
    if (n < 1 || stride < 1) TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires n >= 1 and stride >= 1, got n=$n stride=$stride")
    else super.checkInputDataTypes()
}

/** See [[TextGrams.grams]]. */
case class Ngrams(child: Expression, n: Int, stride: Int) extends GramLike {
  override def prettyName: String = "ngrams"

  override protected def nullSafeEval(in: Any): Any =
    TextGrams.grams(in.asInstanceOf[ArrayData], n, stride)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.TextGrams$$.MODULE$$.grams($c, $n, $stride)")

  override protected def withNewChildInternal(newChild: Expression): Ngrams =
    copy(child = newChild)
}

/** See [[TextGrams.gramMd5s]]. */
case class NgramMd5s(child: Expression, n: Int, stride: Int) extends GramLike {
  override def prettyName: String = "ngram_md5s"

  override protected def nullSafeEval(in: Any): Any =
    TextGrams.gramMd5s(in.asInstanceOf[ArrayData], n, stride)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.TextGrams$$.MODULE$$.gramMd5s($c, $n, $stride)")

  override protected def withNewChildInternal(newChild: Expression): NgramMd5s =
    copy(child = newChild)
}

/** See [[TextGrams.repStats]]. */
case class NgramRepStats(child: Expression) extends TokenArrayFn {
  override def dataType: DataType = TextGrams.repStatsType
  override def nullable: Boolean = true
  override def prettyName: String = "ngram_rep_stats"

  override protected def nullSafeEval(in: Any): Any =
    TextGrams.repStats(in.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.TextGrams$$.MODULE$$.repStats($c)")

  override protected def withNewChildInternal(newChild: Expression): NgramRepStats =
    copy(child = newChild)
}

/** See [[TextGrams.simhash64]]. */
case class Simhash64(child: Expression) extends TokenArrayFn {
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"

  override protected def nullSafeEval(in: Any): Any =
    TextGrams.simhash64(in.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.TextGrams$$.MODULE$$.simhash64($c)")

  override protected def withNewChildInternal(newChild: Expression): Simhash64 =
    copy(child = newChild)
}
