package graft

import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, Logger => CoreLogger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.{FunctionRegistry, SimpleFunctionRegistry}

/** The native expressions are registered once per session: building plans
  * again in the same session leaves the function registry alone, so it
  * logs no "replaced a previously registered function" warning. */
class NativesSpec extends SparkSpec {

  /** Every SQL name the graft.functions natives define. */
  private val names = Seq("ws_tokens", "ngrams", "ngram_md5s",
    "ngram_rep_stats", "simhash64", "min_md5", "band_min_md5s", "count_in_set",
    "cosine_sim", "lsh_sign", "argmax_dot", "argmax_cosine", "adc_slots",
    "dot_product", "hll_approx_count_distinct", "hourly_rollup", "kll_sketch",
    "freq_items", "minhash_sketch", "minhash16_sig", "ordered_pairs", "zorder2")

  private final class Capture extends AbstractAppender(
      "natives-capture", null, null, true, Property.EMPTY_ARRAY) {
    val messages = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    override def append(e: LogEvent): Unit =
      messages.add(e.getMessage.getFormattedMessage)
  }

  /** Messages the session function registry logs while `body` runs. */
  private def registryLog(body: => Unit): Seq[String] = {
    val logger = LogManager.getLogger(
      classOf[SimpleFunctionRegistry].getName).asInstanceOf[CoreLogger]
    val cap = new Capture
    cap.start()
    logger.addAppender(cap)
    try body
    finally { logger.removeAppender(cap); cap.stop() }
    cap.messages.toArray(Array.empty[String]).toSeq
  }

  test("text and cosine plans built twice in one session register each native once") {
    // a fresh session: its registry holds none of the natives yet
    val c = Ctx(spark.newSession(), ctx.dir)
    val log = registryLog {
      (1 to 2).foreach { _ =>
        extensions.Text.repetition(c)
        extensions.Text.dedupChunks(c)
        extensions.Similarity.annBruteForce(c)
      }
    }
    val replaced = log.filter(_.contains("replaced a previously registered function"))
    assert(replaced.isEmpty, replaced.mkString("\n"))
    val reg = c.spark.sessionState.functionRegistry
    Seq("ws_tokens", "ngram_rep_stats", "count_in_set", "cosine_sim")
      .foreach(n => assert(reg.functionExists(FunctionIdentifier(n)), n))
  }

  test("no native name shadows a Spark built-in") {
    // a name the registry already holds is left alone, so a built-in of the
    // same name would silently win over the native
    val clash = names.filter(n =>
      FunctionRegistry.builtin.functionExists(FunctionIdentifier(n)))
    assert(clash.isEmpty, clash)
    // and the list above is complete: every name in a fully registered
    // session that is not a built-in is one of them
    val s = spark.newSession()
    Seq[org.apache.spark.sql.SparkSession => Unit](
      functions.TextGrams.register, functions.Md5Mins.register,
      functions.CountInSet.register, functions.CosineSim.register,
      functions.LshSign.register, functions.ArgmaxDot.register,
      functions.AdcSlots.register, functions.DotProduct.register,
      functions.Hll.register, functions.HourlyRollup.register,
      functions.KllSketch.register,
      functions.FreqItemsSketch.register, functions.MinHash.register,
      functions.MinHashSig16.register, functions.OrderedPairs.register,
      functions.MortonCode.register).foreach(_(s))
    val defined = s.sessionState.functionRegistry.listFunction().map(_.funcName)
      .filterNot(n => FunctionRegistry.builtin.functionExists(FunctionIdentifier(n)))
    assert(defined.toSet == names.toSet)
  }
}
